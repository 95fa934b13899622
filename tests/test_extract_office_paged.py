"""PPTX/XLSX paged-office tiers, pinned against the synthetic flagship.

Unlike DOCX/HTML/plain text (one reflowable page), slides and sheets
are genuinely PAGED — so these pins re-encode every synthetic media as
a deck (one slide per source page) and as a workbook (one sheet per
source page), run the pipeline with ``bucket_pages=2`` so multi-page
payloads exercise the page-bucket shuffle of walked parts, and assert
EXACT span-sequence equality with the flagship.
"""

from __future__ import annotations

import io
import zipfile

import pandas as pd
import pytest

from ocr_platform_spark import (corpus, multimodal, plaintext, pptxtext,
                                schemas, tiers, xlsxtext)
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks


def text_pages(pages: list[list[tuple]]) -> list[list]:
    """A paged part walk's text parts as blocks (``.text``), per page."""
    return [[plaintext.TextParagraph(p[1], p[-1])
             for p in parts if p[0] == "text"] for parts in pages]


def bucket_frame(raw: bytes, bucket_pages: int | None) -> pd.DataFrame:
    """The probe stage's bucket rows for one payload, Spark-free."""
    [rows] = extract._bucket_batches_fn(bucket_pages)(iter([pd.DataFrame(
        {"doc_id": ["d1"], "offset": [0], "media_ref": ["m1"],
         "data": [raw]})]))
    return rows


def flow_bucket_parts(raw: bytes) -> None:
    """Decode every one-page bucket row's walked parts through
    ``tiers._flow``, as the OCR stage does, letting any exception out
    (``_bucket_pages`` would turn it into zero pages)."""
    rows = bucket_frame(raw, 1)
    for lo, hi, parts in zip(rows["page_lo"], rows["page_hi"],
                             rows["parts"]):
        if parts is not None:
            for page in extract._walked_pages(parts, hi - lo):
                tiers._flow(page)


def assert_walked_buckets(raw: bytes) -> pd.DataFrame:
    """A container payload's one-page bucket rows carry no payload and
    exactly their page's walked parts, pictures included
    (``walk(raw, [i])``), and extract the same blocks as the one
    ``bucket_pages=None`` row and as the whole payload decoded through
    the tier's raw-bytes ``pages``. Returns the one-page rows."""
    rows = bucket_frame(raw, 1)
    walk = tiers.TIERS[rows["media_kind"][0]].walk
    assert list(rows["page_lo"]) == list(range(len(walk(raw, None))))
    for lo, hi, sliced, data, parts in zip(
            *(rows[c] for c in ("page_lo", "page_hi", "sliced", "data",
                                "parts"))):
        assert (hi, sliced, data) == (lo + 1, True, None)
        [page] = walk(raw, [lo])
        assert extract._walked_pages(parts, 1) == [[
            (p[0], p[-1]) for p in page
            if p[0] == "text" or tiers.is_picture(p)]]
    whole = rows.iloc[:1].assign(page_hi=len(rows), sliced=False,
                                 data=[raw], parts=[None])

    def blocks(frame):
        return extract._ocr_real_frame(frame).values.tolist()

    assert blocks(rows) == blocks(bucket_frame(raw, None)) == blocks(whole)
    return rows


def content_pptx(payload: bytes) -> bytes:
    """Synthetic container -> a PPTX with one slide per source page,
    one <a:p> per OCR block."""
    _kind, rasters = _render_pages(payload)
    return pptxtext.encode_pptx([
        [text for _y1, _x1, text in page_ocr_blocks(img)]
        for img in rasters
    ])


def content_xlsx(payload: bytes) -> bytes:
    """Synthetic container -> an XLSX with one sheet per source page,
    one single-cell row per OCR block (multi-line blocks ride a shared
    string with embedded newlines — the layout Excel itself writes)."""
    _kind, rasters = _render_pages(payload)
    return xlsxtext.encode_xlsx([
        [[text] for _y1, _x1, text in page_ocr_blocks(img)]
        for img in rasters
    ])


@pytest.fixture(scope="module")
def office_corpus(spark):
    docs, media = corpus.generate(24, seed=3737, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    pptx = spark.createDataFrame(
        [(ref, bytearray(content_pptx(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    xlsx = spark.createDataFrame(
        [(ref, bytearray(content_xlsx(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, pptx, xlsx


def test_pptx_pipeline_equals_flagship(office_corpus):
    """bucket_pages=2 sends multi-slide decks through the bucket
    shuffle as two-slide rows of walked parts; spans must still equal
    the flagship's."""
    docs_df, synth, pptx, _ = office_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, pptx, bucket_pages=2)
    )
    assert got == flagship


def test_xlsx_pipeline_equals_flagship(office_corpus):
    docs_df, synth, _, xlsx = office_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, xlsx, bucket_pages=2)
    )
    assert got == flagship


def test_unsliced_path_equality(office_corpus):
    """One bucket per deck (``bucket_pages=None``: all its slides'
    parts in one row) is the same extraction, just a worse spread —
    pinned like the PDF path."""
    docs_df, synth, pptx, _ = office_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(
            docs_df, pptx, bucket_pages=None)
    )
    assert got == flagship


def test_slice_decode_parity():
    """One-page bucket rows of a deck and a workbook carry exactly their
    page's walked parts, and decode to the same blocks as the whole
    payload (:func:`assert_walked_buckets`)."""
    deck = pptxtext.encode_pptx(
        [[f"slide {i} block a", f"slide {i}\nblock b"] for i in range(5)])
    wb = xlsxtext.encode_xlsx(
        [[[f"sheet {i} r1"], [f"sheet {i} r2"]] for i in range(5)])
    for raw in (deck, wb):
        rows = assert_walked_buckets(raw)
        assert len(rows) == 5


def test_slide_numbering_is_numeric_not_lexicographic():
    """slide10.xml sorts after slide9.xml (numeric member order) — the
    lexicographic trap for decks past 9 slides."""
    deck = pptxtext.encode_pptx([[f"s{i}"] for i in range(1, 12)])
    texts = [p[0].text for p in text_pages(pptxtext.slide_parts(deck))]
    assert texts == [f"s{i}" for i in range(1, 12)]
    assert multimodal.probe_real_media(deck, deep=True) == ("pptx", 11, 0, 0)


def test_cell_type_semantics():
    """Numeric cells extract verbatim, booleans render TRUE/FALSE,
    cached formula strings and error literals pass through, empty cells
    drop, rich-text shared strings concatenate their runs."""
    s = xlsxtext.S_NS
    sheet = (
        '<?xml version="1.0"?>'
        f'<worksheet xmlns="{s}"><sheetData>'
        '<row r="1"><c r="A1"><v>42</v></c>'
        '<c r="B1" t="b"><v>1</v></c>'
        '<c r="C1" t="b"><v>0</v></c>'
        '<c r="D1" t="str"><v>=SUM cached</v></c>'
        '<c r="E1" t="e"><v>#DIV/0!</v></c>'
        '<c r="F1"/></row>'
        '<row r="2"><c r="A2" t="s"><v>0</v></c></row>'
        "</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0"?>'
        f'<sst xmlns="{s}"><si><r><t>rich </t></r><r><t>runs</t></r></si>'
        "</sst>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", f'<workbook xmlns="{s}"/>')
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
        zf.writestr("xl/sharedStrings.xml", sst)
    pages = text_pages(xlsxtext.sheet_parts(buf.getvalue()))
    assert [[b.text for b in p] for p in pages] == [
        ["42 TRUE FALSE =SUM cached #DIV/0!", "rich runs"]]


def test_office_paged_quarantine(spark):
    """No-slide decks, no-sheet workbooks, out-of-range shared-string
    references and malformed slide XML all quarantine at probe time;
    the document still assembles its text spans."""
    s = xlsxtext.S_NS
    # shared-string index past the table
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", f'<workbook xmlns="{s}"/>')
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{s}"><sheetData><row r="1">'
            '<c r="A1" t="s"><v>7</v></c></row></sheetData></worksheet>')
    bad_sref = buf.getvalue()
    # deck with a malformed slide
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as zf:
        zf.writestr("ppt/presentation.xml", "<p:presentation/>")
        zf.writestr("ppt/slides/slide1.xml", "<p:sld><unclosed")
    bad_slide = buf2.getvalue()
    # marker without any slides / sheets
    buf3 = io.BytesIO()
    with zipfile.ZipFile(buf3, "w") as zf:
        zf.writestr("ppt/presentation.xml", "<p:presentation/>")
    no_slides = buf3.getvalue()
    buf4 = io.BytesIO()
    with zipfile.ZipFile(buf4, "w") as zf:
        zf.writestr("xl/workbook.xml", f'<workbook xmlns="{s}"/>')
    no_sheets = buf4.getvalue()

    fixtures = {
        "m-sref": bad_sref, "m-slide": bad_slide,
        "m-noslides": no_slides, "m-nosheets": no_sheets,
    }
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "text", "text": "keep me", "media_ref": None,
             "offset": 0},
        ] + [
            {"kind": "pptx", "text": None, "media_ref": ref,
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
    assert "out of range" in errs["m-sref"]
    assert "malformed XML" in errs["m-slide"]
    assert "no ppt/slides" in errs["m-noslides"]
    assert "no xl/worksheets" in errs["m-nosheets"]
    spans = _spans_by_doc(extract_real.extract_real_documents(docs, media))
    assert spans == {"d1": [("text", "keep me", None, 0)]}


def test_real_media_metadata_paged_office(spark):
    """Header-only metadata pass reports slide/sheet counts from the
    central directory without inflating members."""
    deck = pptxtext.encode_pptx([["a"], ["b"], ["c"]])
    wb = xlsxtext.encode_xlsx([[["x"]], [["y"]]])
    media = spark.createDataFrame(
        [("m-p", bytearray(deck)), ("m-x", bytearray(wb))],
        "media_ref string, data binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(media).collect()}
    assert (rows["m-p"]["kind"], rows["m-p"]["n_pages"]) == ("pptx", 3)
    assert (rows["m-x"]["kind"], rows["m-x"]["n_pages"]) == ("xlsx", 2)


def corrupt_member_crc(raw: bytes, name: str) -> bytes:
    """``raw`` with the central-directory CRC-32 of member ``name``
    flipped: reading that member raises, the others read clean."""
    buf = bytearray(raw)
    enc = name.encode()
    at = buf.find(b"PK\x01\x02")
    while at >= 0:
        n = int.from_bytes(buf[at + 28:at + 30], "little")
        if bytes(buf[at + 46:at + 46 + n]) == enc:
            buf[at + 16] ^= 0xFF
            return bytes(buf)
        at = buf.find(b"PK\x01\x02", at + 4)
    raise KeyError(name)


def test_crc_damaged_member_outside_the_walk_ships_walked_parts(spark):
    """A PPTX whose [Content_Types].xml fails its CRC passes the deep
    probe (the part walk never reads that member), and its walked parts
    ship like the pristine deck's: three one-page rows with the same
    parts and the same spans."""
    deck = pptxtext.encode_pptx(
        [[f"slide {i} block a", f"slide {i} block b"] for i in range(3)])
    bad = corrupt_member_crc(deck, "[Content_Types].xml")
    with zipfile.ZipFile(io.BytesIO(bad)) as zf:
        with pytest.raises(zipfile.BadZipFile):
            zf.read("[Content_Types].xml")
    assert multimodal.probe_real_media(bad, deep=True)[:2] == ("pptx", 3)
    docs = spark.createDataFrame(
        [("d1", [("text", "intro", None, 0), ("media", "", "m1", 1)])],
        schema=schemas.DOCUMENTS)

    def run(payload):
        media = spark.createDataFrame([("m1", bytearray(payload))],
                                      "media_ref string, data binary")
        rows = extract.decode_pages(docs, media).collect()
        return ([(r["page_lo"], r["page_hi"], r["sliced"], r["data"],
                  r["parts"]) for r in rows],
                _spans_by_doc(extract.extract_documents(docs, media)))

    good_rows, good = run(deck)
    bad_rows, got = run(bad)
    assert [r[:4] for r in good_rows] == [
        (0, 1, True, None), (1, 2, True, None), (2, 3, True, None)]
    assert bad_rows == good_rows
    assert got == good
    assert len(good["d1"]) == 1 + 3 * 2
