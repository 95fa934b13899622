"""HTML DOM-tier pipeline, pinned against the synthetic flagship.

Construction: run the flagship's own per-page OCR locally to get every
media page's blocks, then re-encode each synthetic media as an HTML
document — one ``<p>`` per block (lines of a multi-line block joined
with ``<br/>``), per page inside ``<section>`` wrappers, in reading
order — surrounded by realistic boilerplate (nav / link-heavy sidebar /
footer, plus script+style subtrees). The pipeline must then produce
EXACTLY the flagship's spans: the ``<br/>`` -> ``\\n`` round trip keeps
multi-line blocks whole (unlike the PDF text-layer tier, which splits
them — see test_extract_text_layer), the boilerplate must vanish under
the link-density rule, and the block document order must survive the
global ``(page, y1, x1)`` span sort. That single assertion covers the
sniffer, the probe/quarantine contract, entity escaping, the block
walker, and the shared span assembly.
"""

from __future__ import annotations

import pytest

from ocr_platform_spark import corpus, htmltext, multimodal, schemas
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks

HEAD = ('<html><head><style>.menu { color: red }</style>'
        "<script>var t = 1 + 2; track(t);</script>"
        "<title>doc</title></head><body>")
NAV = ('<nav class="menu"><a href="/">home</a> <a href="/about">about</a> '
       '<a href="/contact">contact</a></nav>')
SIDEBAR = ('<div class="sidebar"><a href="/x">related</a> '
           '<a href="/y">more</a> links</div>')
FOOTER = ('<footer><a href="/terms">terms</a> '
          '<a href="/privacy">privacy</a> copyright site</footer>')


def content_html(payload: bytes) -> bytes:
    """Synthetic container -> an HTML document whose main content is the
    flagship's OCR blocks (one ``<p>`` per block, reading order, pages as
    ``<section>``s) inside the boilerplate shell."""
    _kind, rasters = _render_pages(payload)
    parts = [HEAD, NAV, SIDEBAR, '<div class="content">']
    for img in rasters:
        parts.append("<section>")
        for _y1, _x1, text in page_ocr_blocks(img):
            lines = "<br/>".join(
                htmltext.escape_text(line) for line in text.split("\n")
            )
            parts.append(f"<p>{lines}</p>")
        parts.append("</section>")
    parts.extend(["</div>", FOOTER, "</body></html>"])
    return "".join(parts).encode()


@pytest.fixture(scope="module")
def html_corpus(spark):
    docs, media = corpus.generate(24, seed=909, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    html = spark.createDataFrame(
        [(ref, bytearray(content_html(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, html


def test_html_pipeline_equals_flagship(html_corpus):
    """EXACT span-sequence equality — every synthetic media (multi-page
    PDFs included) re-encoded as an HTML document extracts the identical
    interleaved span arrays through the DOM tier."""
    docs_df, synth, html = html_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, html))
    assert got == flagship


def test_malformed_html_quarantines_at_probe(spark):
    """Truncation, invalid UTF-8 and unclosed script subtrees are
    probe-time quarantine rows (triage, not job failure), and the
    document still assembles its text spans."""
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "text", "text": " keep me ", "media_ref": None,
             "offset": 0},
            {"kind": "html", "text": None, "media_ref": "m-bad-1",
             "offset": 1},
            {"kind": "html", "text": None, "media_ref": "m-bad-2",
             "offset": 2},
            {"kind": "html", "text": None, "media_ref": "m-bad-3",
             "offset": 3},
            {"kind": "html", "text": None, "media_ref": "m-bad-4",
             "offset": 4},
        ]}],
        schema=schemas.DOCUMENTS,
    )
    media = spark.createDataFrame(
        [("m-bad-1", bytearray(b"<html><p>cut off")),
         ("m-bad-2", bytearray(b"<html>\xff\xfe</html>")),
         ("m-bad-3", bytearray(b"<html><script>x</html>")),
         ("m-bad-4", bytearray(b"<html><!-- x</html>"))],
        "media_ref string, data binary",
    )
    buckets = extract_real.real_page_buckets(docs, media, bucket_pages=8)
    errs = {r["media_ref"]: r["error"]
            for r in extract_real.real_media_errors(buckets).collect()}
    assert set(errs) == {"m-bad-1", "m-bad-2", "m-bad-3", "m-bad-4"}
    assert "truncated" in errs["m-bad-1"]
    assert "not valid utf-8" in errs["m-bad-2"]
    assert "unclosed <script>" in errs["m-bad-3"]
    assert "unterminated HTML comment" in errs["m-bad-4"]
    spans = _spans_by_doc(extract_real.extract_real_documents(docs, media))
    assert spans == {"d1": [("text", "keep me", None, 0)]}


def test_link_density_boundary():
    """Keep/drop is >= 1/3 anchor share, length-independent: a 2-char
    link-free block survives (the length-scored query tier would drop
    it — the reason the pipeline tier exists), an exactly-1/3 block
    drops."""
    html = ('<html><body>'
            "<p>ab</p>"                          # density 0: keep
            # visible "abcde abcdefghi" (15 chars, tag-strip space
            # included), link "abcde" (5): 5/15 = exactly 1/3 -> drop
            '<p><a href="/">abcde</a>abcdefghi</p>'
            # visible 16 chars, 5/16 < 1/3 -> keep
            '<p><a href="/">abcde</a>abcdefghij</p>'
            "</body></html>")
    kept = [b.text for b in htmltext.main_blocks(html)]
    assert kept == ["ab", "abcde abcdefghij"]


def test_br_variants_and_entities():
    """<br> spelling variants all newline; entity round trip is exact,
    doubly-escaped entities included."""
    html = ("<html><body><p>a<br>b<BR/>c<br />d</p>"
            "<p>&lt;tag&gt; &amp;amp; &quot;q&#39;</p></body></html>")
    blocks = htmltext.main_blocks(html)
    assert [b.text for b in blocks] == [
        "a\nb\nc\nd", "<tag> &amp; \"q'"]
    # escape_text is the exact inverse over arbitrary span text
    tricky = 'a & b <i> "quote" \'tick\' &amp;lt;'
    assert htmltext.unescape_entities(htmltext.escape_text(tricky)) == tricky


def test_meta_charset_declarations():
    """cp1252/latin-1 legacy pages decode via their declared charset;
    unknown charsets and charset-invalid bytes quarantine (mojibake is
    never an option)."""
    import pytest as _pytest

    cp1252 = ('<html><head><meta charset="windows-1252"></head>'
              "<body><p>caf\xe9 “quoted”</p></body></html>"
              ).encode("cp1252")
    assert [b.text for b in htmltext.main_blocks(
        htmltext.decode_html(cp1252))] == ["café “quoted”"]
    assert multimodal.probe_real_media(cp1252, deep=True)[1:] == (1, 0, 0)
    with _pytest.raises(ValueError, match="unsupported declared charset"):
        htmltext.decode_html(
            b'<html><meta charset="shift_jis"><p>x</p></html>')
    with _pytest.raises(ValueError, match="not valid"):
        htmltext.decode_html(
            b'<html><meta charset="utf-8"><p>\xff</p></html>')


def test_numeric_character_references():
    """&#NN; / &#xHH; decode (decimal, hex, astral); surrogate halves
    and out-of-range code points stay literal; the &amp;-last rule keeps
    "&amp;#65;" from double-decoding into "A"."""
    u = htmltext.unescape_entities
    assert u("&#65;&#x42;c") == "ABc"
    assert u("&#x1F600;") == "\U0001f600"
    assert u("&#xD800; &#1114112;") == "&#xD800; &#1114112;"
    assert u("&amp;#65;") == "&#65;"


def test_script_comment_subtrees_never_leak_and_content_tags_extract():
    """A <script> inside a content block must not leak code into span
    text (it can contain block-like tags in string literals), a
    commented-out block must not extract, and the common content tags
    (headings, list items, table cells) are first-class blocks."""
    html = ('<html><body>'
            '<div>real text<script>var fake = "<p>code</p>";</script></div>'
            "<!-- <p>commented out</p> -->"
            "<ul><li>item one</li><li>item two</li></ul>"
            "<h2>heading</h2>"
            "<table><tr><td>cell a</td><td>cell b</td></tr></table>"
            "</body></html>")
    assert [b.text for b in htmltext.main_blocks(html)] == [
        "real text", "item one", "item two", "heading", "cell a", "cell b"]


def test_source_newlines_are_whitespace():
    """Literal newlines in HTML SOURCE collapse to spaces (HTML
    rendering rules); only <br> produces a line break in block text."""
    html = "<html><body><p>a\nb\n<br>c</p></body></html>"
    assert [b.text for b in htmltext.main_blocks(html)] == ["a b\nc"]


def test_real_media_metadata_html(spark):
    """Header-only metadata pass reports HTML as 1 reflowable page with
    no raster geometry."""
    from ocr_platform_spark import multimodal

    media = spark.createDataFrame(
        [("m-h", bytearray(b"<html><body><p>x</p></body></html>"))],
        "media_ref string, data binary",
    )
    row = multimodal.real_media_metadata(media).collect()[0]
    assert (row["kind"], row["n_pages"], row["width"], row["height"]) == (
        "html", 1, 0, 0)


def test_named_entities_full_html5_table():
    """The legacy web writes &eacute;/&mdash;/&hellip; freely — passing
    them through as literal source text is silent wrong text. Unknown
    names stay literal, exactly what browsers render."""
    u = htmltext.unescape_entities
    assert u("caf&eacute; &mdash; men&uacute;") == "café — menú"
    assert u("&hellip;&rsquo;&nbsp;") == "…’ "
    assert u("&notarealentity; &amp;") == "&notarealentity; &"
    # &nbsp; collapses to a plain space in block text like before
    html = "<html><body><p>a&nbsp;b</p></body></html>"
    assert [b.text for b in htmltext.main_blocks(html)] == ["a b"]


def test_single_pass_decode_has_no_ordering_holes():
    """A multi-pass cascade double-decodes from one direction or the
    other; the single scan consumes each reference exactly once."""
    u = htmltext.unescape_entities
    assert u("&amp;lt;") == "&lt;"    # named-first hazard
    assert u("&#38;lt;") == "&lt;"    # numeric-first hazard
    assert u("&#38;amp;") == "&amp;"
    assert u("&amp;#65;") == "&#65;"


def test_numeric_reference_edge_spellings():
    """Uppercase &#X41; is legal HTML5; &#0; must never decode to NUL
    (it would collide with the <br> sentinel and fabricate a line
    break) — invalid references keep their literal source text."""
    u = htmltext.unescape_entities
    assert u("&#X41;&#x42;") == "AB"
    assert u("a&#0;b") == "a&#0;b"
    html = "<html><body><p>a&#0;b</p></body></html>"
    assert [b.text for b in htmltext.main_blocks(html)] == ["a&#0;b"]


def test_custom_elements_do_not_false_quarantine():
    """<style-guide>/<script-editor> are custom elements, and
    'a<script_count' is plain text — none of them is an unclosed
    script/style, and none of them drops as a code subtree."""
    doc = (b"<html><body><div><style-guide>styling advice</style-guide>"
           b"</div><p>if(a&lt;script_count) holds</p></body></html>")
    assert multimodal.probe_real_media(doc, deep=True)[1:] == (1, 0, 0)
    blocks = htmltext.main_blocks(htmltext.decode_html(doc))
    assert [b.text for b in blocks] == [
        "styling advice", "if(a<script_count) holds"]


def test_charset_must_be_a_declaration_not_content_text():
    """'charset=' inside a <meta name=description> CONTENT VALUE is not
    a charset declaration (attribute parsing, not substring search);
    the http-equiv content-type spelling IS one."""
    doc = (b'<html><head><meta name="description" '
           b'content="how to fix charset=shift_jis errors"></head>'
           b"<body><p>caf\xc3\xa9</p></body></html>")
    assert "café" in htmltext.decode_html(doc)  # stayed UTF-8
    http_equiv = (b'<html><head><meta http-equiv="Content-Type" '
                  b'content="text/html; charset=windows-1252"></head>'
                  b"<body><p>caf\xe9 \x93q\x94</p></body></html>")
    assert [b.text for b in htmltext.main_blocks(
        htmltext.decode_html(http_equiv))] == ["café “q”"]


def test_real_media_metadata_html_is_prescan_window_only(spark):
    """The metadata pass is a header walk for every kind: for HTML that
    means the 2048-byte pre-scan window ONLY — an unsupported DECLARED
    charset quarantines there, but whole-payload structural checks
    (truncation, unclosed subtrees) belong to the deep extraction probe
    (the probe_dims-vs-validate_hybrid split, HTML edition)."""
    from ocr_platform_spark import multimodal

    media = spark.createDataFrame(
        [("m-trunc", bytearray(b"<html><p>cut off, no closing tag")),
         ("m-charset", bytearray(b'<html><meta charset="shift_jis">x'))],
        "media_ref string, data binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(media).collect()}
    # shallow: truncation NOT detected here (O(window) contract) ...
    assert rows["m-trunc"]["kind"] == "html"
    assert rows["m-charset"]["kind"] == "error"
    # ... but the deep extraction probe still quarantines it
    import pytest as _pytest

    with _pytest.raises(ValueError, match="truncated"):
        multimodal.probe_real_media(
            bytes(b"<html><p>cut off, no closing tag"), deep=True)
