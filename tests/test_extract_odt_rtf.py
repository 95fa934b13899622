"""ODT and RTF tiers, pinned against the synthetic flagship.

Same construction as the DOCX pin: the flagship's per-page OCR blocks
re-encode as one ODT paragraph / one RTF ``\\par`` paragraph each
(multi-line blocks as ``<text:line-break/>`` / ``\\line``), and the
pipeline must produce EXACTLY the flagship's spans. RTF additionally
pins the dispatch-priority rule: an RTF payload is pure printable
ASCII, so WITHOUT its magic it would sail through the plain-text
fallback and leak ``\\fonttbl`` source as content text — the ``{\\rtf``
sniff must win.
"""

from __future__ import annotations

import io
import zipfile

import pytest

from ocr_platform_spark import (corpus, formats, multimodal, odttext,
                                rtftext, schemas)
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_office_paged import text_pages
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks


def _flagship_paras(payload: bytes) -> list[str]:
    _kind, rasters = _render_pages(payload)
    return [text for img in rasters
            for _y1, _x1, text in page_ocr_blocks(img)]


def content_odt(payload: bytes) -> bytes:
    return odttext.encode_odt(_flagship_paras(payload))


def content_rtf(payload: bytes) -> bytes:
    return rtftext.encode_rtf(_flagship_paras(payload))


@pytest.fixture(scope="module")
def odt_rtf_corpus(spark):
    docs, media = corpus.generate(24, seed=6161, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    odt = spark.createDataFrame(
        [(ref, bytearray(content_odt(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    rtf = spark.createDataFrame(
        [(ref, bytearray(content_rtf(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, odt, rtf


def test_odt_pipeline_equals_flagship(odt_rtf_corpus):
    docs_df, synth, odt, _ = odt_rtf_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, odt))
    assert got == flagship


def test_rtf_pipeline_equals_flagship(odt_rtf_corpus):
    docs_df, synth, _, rtf = odt_rtf_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, rtf))
    assert got == flagship


def test_rtf_magic_preempts_plain_text():
    """An RTF document is printable ASCII — without its sniff entry the
    plain-text fallback would extract ``\\fonttbl`` source as content.
    The magic must dispatch it to the RTF tier."""
    raw = rtftext.encode_rtf(["real content"])
    assert formats.sniff_kind(raw) == "rtf"
    assert multimodal.probe_real_media(raw, deep=True) == ("rtf", 1, 0, 0)
    blocks = rtftext.extract_paragraphs(raw)
    assert [b.text for b in blocks] == ["real content"]
    assert "fonttbl" not in " ".join(b.text for b in blocks)


def test_rtf_token_semantics():
    r"""Hex escapes under \ansicpg1252, skipped destinations (\fonttbl,
    \info, \*\generator), \uc fallback windows, surrogate-pair \u,
    special control symbols and table cells."""
    wild = (b"{\\rtf1\\ansi\\ansicpg1252{\\fonttbl{\\f0 Arial;}}"
            b"{\\*\\generator Riched20 10.0}"
            b"{\\info{\\author Nobody}}"
            # the space after \ldblquote / \rdblquote is the control
            # word's DELIMITER (consumed), not text
            b"caf\\'e9 \\ldblquote q\\rdblquote  \\endash x\\par\n"
            b"\\uc2\\u233AB after\\par\n"
            b"\\uc1\\u-10179?\\u-8704? pair\\par\n"
            b"cell a\\cell cell b\\cell\\row}")
    texts = [b.text for b in rtftext.extract_paragraphs(wild)]
    assert texts == ["café “q” –x", "é after",
                     "\U0001f600 pair", "cell a cell b"]


def test_rtf_quarantine(spark):
    """Unbalanced groups, unsupported codepages, truncated hex escapes
    and lone surrogates quarantine at probe time with triage rows."""
    fixtures = {
        "m-unbalanced": b"{\\rtf1 {\\b bold but never closed\\par}",
        "m-codepage": b"{\\rtf1\\ansicpg932 \\'82\\'a0\\par}",
        "m-hex": b"{\\rtf1 \\'q9\\par}",
        "m-surrogate": b"{\\rtf1 \\u-10179? alone\\par}",
    }
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "text", "text": "keep me", "media_ref": None,
             "offset": 0},
        ] + [
            {"kind": "rtf", "text": None, "media_ref": ref,
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
    assert "unbalanced" in errs["m-unbalanced"]
    assert "codepage" in errs["m-codepage"]
    assert "escape" in errs["m-hex"]
    assert "surrogate" in errs["m-surrogate"]
    spans = _spans_by_doc(extract_real.extract_real_documents(docs, media))
    assert spans == {"d1": [("text", "keep me", None, 0)]}


def test_odt_semantics_and_note_drop():
    """text:tab/text:s/text:line-break expansion, heading blocks, and
    the footnote drop — a text:p INSIDE text:note must not surface as a
    flow block."""
    ns = odttext.TEXT_NS
    content = (
        '<office:document-content xmlns:office="urn:oasis:names:tc:'
        'opendocument:xmlns:office:1.0" '
        f'xmlns:text="{ns}"><office:body><office:text>'
        "<text:p>before<text:note><text:note-body><text:p>footnote "
        "body</text:p></text:note-body></text:note> after</text:p>"
        '<text:p>a<text:tab/>b<text:s text:c="3"/>c'
        "<text:line-break/>next</text:p>"
        "<text:h>heading</text:h>"
        "<text:list><text:list-item><text:p>item one</text:p>"
        "</text:list-item></text:list>"
        "</office:text></office:body></office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype",
                    "application/vnd.oasis.opendocument.text")
        zf.writestr("content.xml", content)
    texts = [b.text for b in
             text_pages([odttext.document_parts(buf.getvalue())])[0]]
    assert texts == ["before after", "a b   c\nnext", "heading",
                     "item one"]


def test_odt_refinement_requires_odf_marker(spark):
    """A generic zip holding an unrelated content.xml is NOT an ODT —
    the 512-byte head sniff keeps it quarantined."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("content.xml", "<inventory><item/></inventory>")
    with pytest.raises(ValueError, match="not a DOCX/PPTX/XLSX/EPUB/ODT"):
        multimodal.probe_real_media(buf.getvalue(), deep=True)
    # wrong mimetype value: also refused
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")  # lies
        zf.writestr("content.xml", "x")
    with pytest.raises(ValueError, match="not a DOCX"):
        multimodal.probe_real_media(buf2.getvalue(), deep=True)


def test_real_media_metadata_odt_rtf(spark):
    """Header-only metadata: ODT and RTF report one reflowable page;
    the RTF shallow probe is O(magic) (a deep-only structural defect
    passes shallow, quarantines deep)."""
    odt = odttext.encode_odt(["hi"])
    rtf_bad_deep = b"{\\rtf1 {\\b unclosed\\par}"
    media = spark.createDataFrame(
        [("m-o", bytearray(odt)), ("m-r", bytearray(rtf_bad_deep))],
        "media_ref string, data binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(media).collect()}
    assert (rows["m-o"]["kind"], rows["m-o"]["n_pages"]) == ("odt", 1)
    assert rows["m-r"]["kind"] == "rtf"  # shallow: magic only
    with pytest.raises(ValueError, match="unbalanced"):
        multimodal.probe_real_media(rtf_bad_deep, deep=True)
