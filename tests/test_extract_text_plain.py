"""Plain-text tier pipeline, pinned against the synthetic flagship.

Same construction as the DOM-tier pin (test_extract_html): run the
flagship's per-page OCR locally to get every media page's blocks, then
re-encode each synthetic media as a bare ``.txt`` document — one
paragraph per block (multi-line blocks as consecutive lines), blank
lines between paragraphs, with deliberately messy-but-legal formatting
(``\\r\\n`` endings, trailing spaces, runs of blank lines, a form feed)
— and assert the pipeline produces EXACTLY the flagship's spans. That
single assertion covers the no-magic probe fallback, the strict text
contract, paragraph splitting, line normalization and the shared span
assembly.
"""

from __future__ import annotations

import pytest

from ocr_platform_spark import corpus, multimodal, plaintext, schemas
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks


def content_txt(payload: bytes) -> bytes:
    """Synthetic container -> a plain-text document whose paragraphs are
    the flagship's OCR blocks in reading order, with realistic formatting
    noise the normalizer must absorb: CRLF endings on even paragraphs,
    trailing spaces, 2-3 blank-line separators, a leading blank line and
    a form feed between pages."""
    _kind, rasters = _render_pages(payload)
    chunks: list[str] = []
    for p, img in enumerate(rasters):
        for i, (_y1, _x1, text) in enumerate(page_ocr_blocks(img)):
            body = text + ("  " if i % 2 else "")
            if i % 2:
                body = body.replace("\n", "\r\n")
            chunks.append(body)
            chunks.append("\n\n" if i % 3 else "\n \n\n")
        if p < len(rasters) - 1 and p % 2:
            chunks.append("\f")
    return ("\n" + "".join(chunks)).encode()


@pytest.fixture(scope="module")
def txt_corpus(spark):
    docs, media = corpus.generate(24, seed=1313, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    txt = spark.createDataFrame(
        [(ref, bytearray(content_txt(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, txt


def test_txt_pipeline_equals_flagship(txt_corpus):
    """EXACT span-sequence equality — every synthetic media (multi-page
    PDFs included) re-encoded as a plain-text document extracts the
    identical interleaved span arrays through the text tier."""
    docs_df, synth, txt = txt_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, txt))
    assert got == flagship


def test_non_text_payloads_quarantine_at_probe(spark):
    """Invalid UTF-8, binary control bytes, TRUNCATED leading markup
    (well-formed XML now extracts via the xmltext tier instead) and
    empty/whitespace payloads are probe-time quarantine rows (triage,
    not job failure), and the document still assembles its text spans."""
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "text", "text": " keep me ", "media_ref": None,
             "offset": 0},
            {"kind": "txt", "text": None, "media_ref": "m-bad-1",
             "offset": 1},
            {"kind": "txt", "text": None, "media_ref": "m-bad-2",
             "offset": 2},
            {"kind": "txt", "text": None, "media_ref": "m-bad-3",
             "offset": 3},
            {"kind": "txt", "text": None, "media_ref": "m-bad-4",
             "offset": 4},
        ]}],
        schema=schemas.DOCUMENTS,
    )
    media = spark.createDataFrame(
        [("m-bad-1", bytearray(b"caf\xff latin-1 bytes")),
         ("m-bad-2", bytearray(b"text with \x00 a NUL")),
         ("m-bad-3", bytearray(b"  <svg><rect")),
         ("m-bad-4", bytearray(b"  \n\t \n "))],
        "media_ref string, data binary",
    )
    buckets = extract_real.real_page_buckets(docs, media, bucket_pages=8)
    errs = {r["media_ref"]: r["error"]
            for r in extract_real.real_media_errors(buckets).collect()}
    assert set(errs) == {"m-bad-1", "m-bad-2", "m-bad-3", "m-bad-4"}
    assert "not valid utf-8" in errs["m-bad-1"]
    assert "binary control byte" in errs["m-bad-2"]
    assert "not well-formed XML" in errs["m-bad-3"]
    assert "empty plain-text" in errs["m-bad-4"]
    spans = _spans_by_doc(extract_real.extract_real_documents(docs, media))
    assert spans == {"d1": [("text", "keep me", None, 0)]}


def test_paragraph_split_semantics():
    """Blank lines (including whitespace-only), CRLF/CR endings and form
    feeds separate; single newlines join lines within a paragraph; line
    strip drops indentation and trailing space; positions are monotone
    character offsets."""
    text = ("  first line \n  second line\r\n \t \nsecond para\f"
            "third para\r\rafter bare CRs")
    blocks = plaintext.paragraph_blocks(text)
    assert [b.text for b in blocks] == [
        "first line\nsecond line", "second para", "third para",
        "after bare CRs"]
    assert [b.x1 for b in blocks] == [0, 0, 0, 0]
    assert all(a.pos < b.pos for a, b in zip(blocks, blocks[1:]))
    assert blocks[0].x2 == len(blocks[0].text)
    assert blocks[0].y2 == blocks[0].pos + 1


def test_utf8_bom_and_allowed_controls():
    """A UTF-8 BOM strips; tab and form feed are legal text controls;
    the vertical-tab and ESC C0 bytes are not."""
    assert plaintext.decode_text(b"\xef\xbb\xbfhi") == "hi"
    assert plaintext.validate_text(b"col\ta\ncol\tb\fnext") == (1, 0, 0)
    with pytest.raises(ValueError, match="binary control"):
        plaintext.decode_text(b"a\x0bb")
    with pytest.raises(ValueError, match="binary control"):
        plaintext.decode_text(b"a\x1b[31mred")


def test_markup_refusal_is_first_nonspace_only():
    """'<' mid-text is ordinary content (inequalities, code snippets);
    only a LEADING '<' marks the payload as markup/truncated-HTML."""
    assert plaintext.decode_text(b"if a < b then") == "if a < b then"
    with pytest.raises(ValueError, match="markup"):
        plaintext.decode_text(b"<html><p>tail cut before doctype sniff")


def test_sniff_text_window_contract():
    """The shallow probe inspects only its window: a binary byte PAST
    the window is invisible there (the deep probe still quarantines),
    and a multi-byte char cut by the window boundary does not
    false-negative the sniff."""
    ok_head = b"a" * 4096 + b"\x00 binary tail"
    assert plaintext.sniff_text(ok_head) is True
    with pytest.raises(ValueError, match="binary control"):
        plaintext.validate_text(ok_head)
    # 4095 ASCII bytes then a 2-byte char straddling the boundary
    straddle = b"b" * 4095 + "é".encode("utf-8") + b" more text"
    assert plaintext.sniff_text(straddle) is True
    assert plaintext.sniff_text(b"\x00nope") is False


def test_real_media_metadata_txt(spark):
    """Header-only metadata pass reports plain text as 1 reflowable page
    with no raster geometry — and stays O(window), so a deep-only defect
    (binary byte past the window) is 'txt' here but quarantines in the
    deep extraction probe (the probe_dims-vs-validate_hybrid split)."""
    media = spark.createDataFrame(
        [("m-t", bytearray(b"just some words")),
         ("m-deep", bytearray(b"a" * 5000 + b"\x00"))],
        "media_ref string, data binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(media).collect()}
    assert (rows["m-t"]["kind"], rows["m-t"]["n_pages"],
            rows["m-t"]["width"], rows["m-t"]["height"]) == ("txt", 1, 0, 0)
    assert rows["m-deep"]["kind"] == "txt"
    with pytest.raises(ValueError, match="binary control"):
        multimodal.probe_real_media(bytes(b"a" * 5000 + b"\x00"), deep=True)
