"""DOCX office-tier pipeline, pinned against the synthetic flagship.

Same construction as the DOM-tier pin (test_extract_html): run the
flagship's per-page OCR locally to get every media page's blocks, then
re-encode each synthetic media as a DOCX — one ``<w:p>`` per block,
multi-line blocks as explicit ``<w:br/>`` runs, packed with the real
``[Content_Types].xml``/``_rels`` skeleton — and assert the pipeline
produces EXACTLY the flagship's spans. That covers the ``PK`` sniff,
the zip→docx probe refinement, CRC-verified member reads, the
WordprocessingML walk and the shared span assembly.
"""

from __future__ import annotations

import io
import zipfile

import pytest

from ocr_platform_spark import corpus, docxtext, multimodal, schemas
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_office_paged import text_pages
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks


def content_docx(payload: bytes) -> bytes:
    """Synthetic container -> a DOCX whose paragraphs are the flagship's
    OCR blocks in reading order."""
    _kind, rasters = _render_pages(payload)
    paras: list[str] = []
    for img in rasters:
        for _y1, _x1, text in page_ocr_blocks(img):
            paras.append(text)
    return docxtext.encode_docx(paras)


@pytest.fixture(scope="module")
def docx_corpus(spark):
    docs, media = corpus.generate(24, seed=2121, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    docx = spark.createDataFrame(
        [(ref, bytearray(content_docx(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, docx


def test_docx_pipeline_equals_flagship(docx_corpus):
    """EXACT span-sequence equality — every synthetic media (multi-page
    PDFs included) re-encoded as a DOCX extracts the identical
    interleaved span arrays through the office tier."""
    docs_df, synth, docx = docx_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, docx))
    assert got == flagship


def _corrupt_docx_fixtures() -> dict[str, bytes]:
    import struct

    good = docxtext.encode_docx(["hello world"])
    # flip a byte inside the deflate stream of word/document.xml
    # -> CRC-32 mismatch (or zlib error) at the CRC-verified read
    zf = zipfile.ZipFile(io.BytesIO(good))
    info = zf.getinfo("word/document.xml")
    nlen, elen = struct.unpack(
        "<HH", good[info.header_offset + 26:info.header_offset + 30])
    data_start = info.header_offset + 30 + nlen + elen
    crc_bad = bytearray(good)
    crc_bad[data_start + 5] ^= 0xFF
    # a zip that isn't a DOCX at all
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("data.csv", "a,b\n1,2\n")
    # malformed XML behind a VALID zip member
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as z:
        z.writestr("word/document.xml", "<w:document><unclosed")
    return {
        "m-trunc": good[: len(good) // 2],
        "m-crc": bytes(crc_bad),
        "m-notdocx": buf.getvalue(),
        "m-badxml": buf2.getvalue(),
    }


def test_corrupt_docx_quarantines_at_probe(spark):
    """Truncated zips, CRC-corrupt members, non-DOCX archives and
    malformed XML are probe-time quarantine rows (triage, not job
    failure), and the document still assembles its text spans."""
    fixtures = _corrupt_docx_fixtures()
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "text", "text": " keep me ", "media_ref": None,
             "offset": 0},
        ] + [
            {"kind": "docx", "text": None, "media_ref": ref,
             "offset": i + 1}
            for i, ref in enumerate(sorted(fixtures))
        ]}],
        schema=schemas.DOCUMENTS,
    )
    media = spark.createDataFrame(
        [(ref, bytearray(raw)) for ref, raw in fixtures.items()],
        "media_ref string, data binary",
    )
    buckets = extract_real.real_page_buckets(docs, media, bucket_pages=8)
    errs = {r["media_ref"]: r["error"]
            for r in extract_real.real_media_errors(buckets).collect()}
    assert set(errs) == set(fixtures)
    assert "not a readable zip" in errs["m-trunc"]
    assert "unreadable word/document.xml" in errs["m-crc"]
    assert "not a DOCX" in errs["m-notdocx"]
    assert "malformed WordprocessingML" in errs["m-badxml"]
    spans = _spans_by_doc(extract_real.extract_real_documents(docs, media))
    assert spans == {"d1": [("text", "keep me", None, 0)]}


def test_encrypted_member_quarantines():
    """A zip member with the encryption flag set fails the CRC-verified
    read as ValueError (quarantine), never a RuntimeError escaping the
    seam."""
    good = docxtext.encode_docx(["secret"])
    zf = zipfile.ZipFile(io.BytesIO(good))
    info = zf.getinfo("word/document.xml")
    enc = bytearray(good)
    # set bit 0 of the general-purpose flags in the local header
    # (offset 6) AND the central-directory record (offset 8) — zipfile
    # reads the flag from the central directory
    enc[info.header_offset + 6] |= 0x01
    cd = enc.find(b"PK\x01\x02")
    while cd != -1:
        name_len = int.from_bytes(enc[cd + 28:cd + 30], "little")
        if enc[cd + 46:cd + 46 + name_len] == b"word/document.xml":
            enc[cd + 8] |= 0x01
            break
        cd = enc.find(b"PK\x01\x02", cd + 4)
    assert cd != -1
    with pytest.raises(ValueError, match="unreadable word/document.xml"):
        multimodal.probe_real_media(bytes(enc), deep=True)


def test_wordprocessingml_walk_semantics():
    """w:t run concatenation, w:br/w:cr line breaks, w:tab as space,
    xml:space-preserved text, table-cell paragraphs in document order,
    and invisible text (w:delText tracked deletions, w:instrText field
    codes) never emitting."""
    w = docxtext.W_NS
    doc = (
        '<?xml version="1.0"?>'
        f'<w:document xmlns:w="{w}"><w:body>'
        "<w:p><w:r><w:t>run a</w:t></w:r><w:r><w:t xml:space=\"preserve\">"
        " + run b</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>line 1</w:t><w:br/><w:t>line 2</w:t><w:cr/>"
        "<w:t>line 3</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>col a</w:t><w:tab/><w:t>col b</w:t></w:r></w:p>"
        "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>cell 1</w:t></w:r></w:p></w:tc>"
        "<w:tc><w:p><w:r><w:t>cell 2</w:t></w:r></w:p></w:tc></w:tr></w:tbl>"
        "<w:p><w:r><w:delText>deleted</w:delText>"
        "<w:instrText>PAGEREF _Toc1</w:instrText><w:t>kept</w:t></w:r></w:p>"
        "<w:p><w:r><w:t>   </w:t></w:r></w:p>"  # whitespace-only: drops
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("word/document.xml", doc)
    blocks = text_pages([docxtext.document_parts(buf.getvalue())])[0]
    assert [b.text for b in blocks] == [
        "run a + run b", "line 1\nline 2\nline 3", "col a col b",
        "cell 1", "cell 2", "kept"]
    assert [b.pos for b in blocks] == sorted(b.pos for b in blocks)


def test_encode_decode_round_trip_with_xml_specials():
    """encode_docx's escaping survives the parse: &, <, > and quotes in
    span text round-trip exactly."""
    paras = ['a & b', 'if x < 3 > 1', '"quoted" \'tick\'',
             'multi\nline\npara', '&amp; double-escape']
    got = text_pages([docxtext.document_parts(docxtext.encode_docx(paras))])[0]
    assert [b.text for b in got] == paras


def test_real_media_metadata_docx(spark):
    """Header-only metadata pass reports DOCX as 1 reflowable page (a
    central-directory walk, no member inflated) — and a deep-only
    defect (CRC corruption) passes here but quarantines in the deep
    extraction probe (the probe_dims-vs-validate_hybrid split)."""
    fixtures = _corrupt_docx_fixtures()
    media = spark.createDataFrame(
        [("m-good", bytearray(docxtext.encode_docx(["hi"]))),
         ("m-crc", bytearray(fixtures["m-crc"]))],
        "media_ref string, data binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(media).collect()}
    assert (rows["m-good"]["kind"], rows["m-good"]["n_pages"],
            rows["m-good"]["width"], rows["m-good"]["height"]) == (
        "docx", 1, 0, 0)
    assert rows["m-crc"]["kind"] == "docx"  # shallow: directory walk only
    with pytest.raises(ValueError, match="unreadable word/document.xml"):
        multimodal.probe_real_media(fixtures["m-crc"], deep=True)
