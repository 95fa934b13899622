"""Office embedded-media interleave (VERDICT r4 #2): a picture pasted
into a DOCX/ODT must OCR between its surrounding paragraphs — the
engine's own interleaved ``(kind, text, media_ref, order)`` contract
applied inside the office containers, exactly as the e-mail tier does
for attachments.

The part walk (``docxtext.document_parts`` / ``odttext.document_parts``)
is unit-pinned; the pipeline leg runs ``extract_real_documents`` over a
corpus whose docx media embeds glyph-rendered PNG/GIF payloads, so the
OCR'd words are closed-form."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_platform_spark import (docxtext, gifcodec, multimodal, odttext,
                                pngcodec, raster, schemas)
from ocr_platform_spark.formats import Band, PageDesc
from ocr_platform_spark.operators import extract
from ocr_platform_spark.operators.extract_real import extract_real_documents

from tests.test_extract_office_paged import assert_walked_buckets, \
    text_pages
from tests.test_extract_real import _spans_by_doc


def _word_page(word: str, width: int | None = None) -> PageDesc:
    from ocr_platform_spark.kernels import text_px_width

    return PageDesc(width=width or text_px_width(word) + 60, height=100,
                    bands=[Band(x=10, y=10, lines=[word], line_h=42, gap=8)])


def _word_gray(word: str, width: int | None = None) -> np.ndarray:
    return raster.render_page(_word_page(word, width), 1.0)


def _word_png(word: str) -> bytes:
    """One-band page rendering ``word`` -> real PNG; the deterministic
    OCR kernels read the word back exactly."""
    return pngcodec.encode_png(np.stack([_word_gray(word)] * 3, axis=-1))


# --- part walk units ---------------------------------------------------------


def test_docx_document_parts_order_and_inline_split():
    png = _word_png("page")
    docx = docxtext.encode_docx_with_media(
        ["first para", png, ("before inline", png, "after inline"),
         "last para"]
    )
    parts = docxtext.document_parts(docx)
    shape = [(p[0], p[2] if p[0] == "text" else p[1]) for p in parts]
    assert shape == [
        ("text", "first para"), ("media", "image/png"),
        ("text", "before inline"), ("media", "image/png"),
        ("text", "after inline"), ("text", "last para"),
    ]
    assert all(bytes(p[3]) == png for p in parts if p[0] == "media")
    # the deep probe validates the embedded rasters and stays green
    assert multimodal.probe_real_media(docx, deep=True)[1:] == (1, 0, 0)


def test_docx_text_only_parts_match_paragraph_blocks():
    docx = docxtext.encode_docx(["alpha", "multi\nline", "omega"])
    parts = docxtext.document_parts(docx)
    assert [(p[0], p[2]) for p in parts] == [
        ("text", "alpha"), ("text", "multi\nline"), ("text", "omega")
    ]
    assert [b.text for b in text_pages([docxtext.document_parts(docx)])[0]] == \
        [p[2] for p in parts]


def test_docx_dangling_rel_quarantines():
    png = _word_png("page")
    docx = docxtext.encode_docx_with_media(["a", png, "b"])
    # drop the rels part: the blip's rId no longer resolves
    import io
    import zipfile

    src = zipfile.ZipFile(io.BytesIO(docx))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            if info.filename != "word/_rels/document.xml.rels":
                dst.writestr(info, src.read(info.filename))
    with pytest.raises(ValueError, match="dangling picture relationship"):
        docxtext.document_parts(buf.getvalue())


def test_docx_missing_media_member_quarantines():
    png = _word_png("page")
    docx = docxtext.encode_docx_with_media(["a", png, "b"])
    import io
    import zipfile

    src = zipfile.ZipFile(io.BytesIO(docx))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            if not info.filename.startswith("word/media/"):
                dst.writestr(info, src.read(info.filename))
    with pytest.raises(ValueError, match="embedded media member missing"):
        docxtext.document_parts(buf.getvalue())


def test_docx_corrupt_embedded_png_quarantines_at_deep_probe():
    png = bytearray(_word_png("page"))
    png[60] ^= 0xFF  # flip a byte inside IDAT: chunk CRC breaks
    docx = docxtext.encode_docx_with_media(["a", bytes(png), "b"])
    # the walk itself succeeds (zip CRC of the member is consistent —
    # the corruption is INSIDE the png payload) ...
    parts = docxtext.document_parts(docx)
    assert [p[0] for p in parts] == ["text", "media", "text"]
    # ... but the deep probe front-runs the decode failure
    with pytest.raises(ValueError, match="corrupt embedded media"):
        multimodal.probe_real_media(docx, deep=True)


def test_docx_unsupported_embedded_format_is_skipped():
    """EMF/WMF-style unsupported payloads survive the walk as media
    parts (for source compositions) but are not validated and extract
    to nothing."""
    fake_emf = b"\x01\x00\x00\x00" + b"\x00" * 60
    docx = docxtext.encode_docx_with_media(["a", fake_emf, "b"])
    parts = docxtext.document_parts(docx)
    assert [p[0] for p in parts] == ["text", "media", "text"]
    assert parts[1][1] == "application/octet-stream"
    # not validated
    assert multimodal.probe_real_media(docx, deep=True)[1:] == (1, 0, 0)
    from ocr_platform_spark.tiers import _flow

    content = [("text",) if hasattr(p, "text") else ("raster",)
               for p in _flow(parts)]
    assert [c[0] for c in content] == ["text", "text"]


def test_odt_document_parts_order_and_inline_split():
    png = _word_png("scan")
    odt = odttext.encode_odt_with_media(
        ["first para", png, ("before inline", png, "after inline"),
         "last para"]
    )
    parts = odttext.document_parts(odt)
    shape = [(p[0], p[2] if p[0] == "text" else p[1]) for p in parts]
    assert shape == [
        ("text", "first para"), ("media", "image/png"),
        ("text", "before inline"), ("media", "image/png"),
        ("text", "after inline"), ("text", "last para"),
    ]
    assert multimodal.probe_real_media(odt, deep=True)[1:] == (1, 0, 0)


def test_odt_missing_media_member_quarantines():
    png = _word_png("scan")
    odt = odttext.encode_odt_with_media(["a", png])
    import io
    import zipfile

    src = zipfile.ZipFile(io.BytesIO(odt))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            if not info.filename.startswith("Pictures/"):
                dst.writestr(info, src.read(info.filename))
    with pytest.raises(ValueError, match="embedded media member missing"):
        odttext.document_parts(buf.getvalue())


def test_odt_href_resolves_by_path_not_character_strip():
    """Picture hrefs resolve like the DOCX/PPTX rels: a normalized path
    from the package root, never a character-class strip of leading
    dots and slashes."""
    import io
    import zipfile

    png = _word_png("scan")

    def with_href(href: str) -> bytes:
        src = zipfile.ZipFile(io.BytesIO(
            odttext.encode_odt_with_media(["para", png])))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as dst:
            for info in src.infolist():
                data = src.read(info.filename)
                if info.filename == "content.xml":
                    data = data.replace(b"Pictures/image1.png",
                                        href.encode())
                dst.writestr(info, data)
        return buf.getvalue()

    for href in ("./Pictures/sub/../image1.png", "/Pictures/image1.png"):
        parts = odttext.document_parts(with_href(href))
        assert [(p[0], p[2]) for p in parts] == [
            ("text", "para"), ("media", "Pictures/image1.png")], href
    # an href that leaves the package is not a package member
    with pytest.raises(ValueError, match="embedded media member missing"):
        odttext.document_parts(with_href("../Pictures/image1.png"))


# --- pipeline leg ------------------------------------------------------------


@pytest.fixture(scope="module")
def office_corpus(spark):
    """Three documents: a DOCX with PNG pictures (one standalone, one
    inline), an ODT sibling, and a DOCX embedding a TWO-frame GIF (each
    frame OCRs as its own interleave slot, in frame order)."""
    docx = docxtext.encode_docx_with_media(
        ["first para", _word_png("page"),
         ("before inline", _word_png("scan"), "after inline"),
         "last para"]
    )
    odt = odttext.encode_odt_with_media(
        ["odt start", _word_png("word"), "odt end"]
    )
    gif = gifcodec.encode_gif(
        [_word_gray("line", width=800), _word_gray("data", width=800)]
    )
    docx_gif = docxtext.encode_docx_with_media(["pre gif", gif, "post gif"])
    docs = [
        {"doc_id": "d-docx", "spans": [
            {"kind": "text", "text": "intro", "media_ref": None, "offset": 0},
            {"kind": "media", "text": None, "media_ref": "m-docx", "offset": 1},
            {"kind": "text", "text": "outro", "media_ref": None, "offset": 2},
        ]},
        {"doc_id": "d-odt", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-odt", "offset": 0},
        ]},
        {"doc_id": "d-gif", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-gif", "offset": 0},
        ]},
    ]
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-docx", bytearray(docx)), ("m-odt", bytearray(odt)),
         ("m-gif", bytearray(docx_gif))],
        "media_ref string, data binary",
    )
    return docs_df, media_df


def test_embedded_pictures_ocr_between_their_paragraphs(office_corpus):
    docs_df, media_df = office_corpus
    out = extract_real_documents(docs_df, media_df)
    spans = _spans_by_doc(out)
    assert spans["d-docx"] == [
        ("text", "intro", None, 0),
        ("text", "first para", "m-docx", 1),
        ("text", "page", "m-docx", 2),          # standalone picture OCR
        ("text", "before inline", "m-docx", 3),
        ("text", "scan", "m-docx", 4),          # inline picture OCR
        ("text", "after inline", "m-docx", 5),
        ("text", "last para", "m-docx", 6),
        ("text", "outro", None, 7),
    ]
    assert spans["d-odt"] == [
        ("text", "odt start", "m-odt", 0),
        ("text", "word", "m-odt", 1),
        ("text", "odt end", "m-odt", 2),
    ]
    assert spans["d-gif"] == [
        ("text", "pre gif", "m-gif", 0),
        ("text", "line", "m-gif", 1),   # frame 0
        ("text", "data", "m-gif", 2),   # frame 1
        ("text", "post gif", "m-gif", 3),
    ]


# --- PPTX: embedded pictures inside PAGED slides -----------------------------


def test_pptx_slide_parts_order():
    from ocr_platform_spark import pptxtext

    png = _word_png("page")
    pptx = pptxtext.encode_pptx([
        ["slide one text", png, "after pic"],
        ["slide two only text"],
    ])
    parts = pptxtext.slide_parts(pptx)
    assert [(p[0], p[2] if p[0] == "text" else p[2])
            for p in parts[0]] == [
        ("text", "slide one text"), ("media", "image/png"),
        ("text", "after pic"),
    ]
    # ordinals strictly increase in shape-tree order
    assert [p[1] for p in parts[0]] == [0, 1, 2]
    assert [(p[0], p[2]) for p in parts[1]] == [
        ("text", "slide two only text")
    ]
    # deep probe validates embedded rasters
    assert multimodal.probe_real_media(pptx, deep=True)[1:] == (2, 0, 0)


def test_pptx_slice_keeps_slide_media():
    from ocr_platform_spark import pptxtext

    png = _word_png("scan")
    pptx = pptxtext.encode_pptx([
        ["s1"], ["s2 before", png, "s2 after"], ["s3"],
    ])
    rows = assert_walked_buckets(pptx)
    # the picture's bytes ride the slide's own bucket row
    assert extract._walked_pages(rows["parts"][1], 1) == [[
        ("text", "s2 before"), ("media", png), ("text", "s2 after")]]


def test_pptx_dangling_slide_rel_quarantines():
    import io
    import zipfile

    from ocr_platform_spark import pptxtext

    png = _word_png("page")
    pptx = pptxtext.encode_pptx([["a", png]])
    src = zipfile.ZipFile(io.BytesIO(pptx))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            if "_rels/slide" not in info.filename:
                dst.writestr(info, src.read(info.filename))
    with pytest.raises(ValueError, match="dangling picture relationship"):
        pptxtext.slide_parts(buf.getvalue())


def test_pptx_embedded_pictures_ocr_in_slide_order(spark):
    """End-to-end through the PAGED bucket path at bucket_pages=1 (so
    each slide's walked parts, pictures included, ride their own
    bucket): each picture's OCR text lands between its slide's
    surrounding paragraphs, and slide order is global."""
    from ocr_platform_spark import pptxtext

    pptx = pptxtext.encode_pptx([
        ["s0 intro", _word_png("page"), "s0 outro"],
        ["s1 text"],
        [_word_png("scan"), "s2 tail"],
    ])
    docs_df = spark.createDataFrame(
        [{"doc_id": "d-pptx", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-pptx",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-pptx", bytearray(pptx))], "media_ref string, data binary")
    out = extract_real_documents(docs_df, media_df, bucket_pages=1)
    spans = _spans_by_doc(out)
    assert spans["d-pptx"] == [
        ("text", "s0 intro", "m-pptx", 0),
        ("text", "page", "m-pptx", 1),
        ("text", "s0 outro", "m-pptx", 2),
        ("text", "s1 text", "m-pptx", 3),
        ("text", "scan", "m-pptx", 4),
        ("text", "s2 tail", "m-pptx", 5),
    ]


# --- RTF: embedded \pict pictures --------------------------------------------


def test_rtf_document_parts_order_and_inline_split():
    from ocr_platform_spark import rtftext

    png = _word_png("page")
    rtf = rtftext.encode_rtf_with_media(
        ["first para", png, ("before inline", png, "after inline"),
         "last para"])
    parts = rtftext.document_parts(rtf)
    shape = [(p[0], p[2] if p[0] == "text" else p[1]) for p in parts]
    assert shape == [
        ("text", "first para"), ("media", "image/png"),
        ("text", "before inline"), ("media", "image/png"),
        ("text", "after inline"), ("text", "last para"),
    ]
    assert all(bytes(p[3]) == png for p in parts if p[0] == "media")
    assert multimodal.probe_real_media(rtf, deep=True)[1:] == (1, 0, 0)
    # text-only docs: parts walk and paragraph walk agree
    plain = rtftext.encode_rtf(["alpha", "b\nc"])
    assert [p[2] for p in rtftext.document_parts(plain)] == \
        [b.text for b in rtftext.extract_paragraphs(plain)]


def test_rtf_wmf_fallback_skipped_and_corrupt_pict_quarantines():
    import pytest as _pytest

    from ocr_platform_spark import rtftext

    # unsupported vector blip: contributes nothing, never double-counts
    wmf = b"{\\rtf1\\ansi {\\pict\\wmetafile8 0102}\\par hello\\par}"
    assert [(p[0], p[2]) for p in rtftext.document_parts(wmf)] == \
        [("text", "hello")]
    # corrupt embedded PNG quarantines at the deep probe
    png = bytearray(_word_png("page"))
    png[60] ^= 0xFF
    rtf = rtftext.encode_rtf_with_media(["a", bytes(png), "b"])
    with _pytest.raises(ValueError, match="corrupt embedded media"):
        multimodal.probe_real_media(rtf, deep=True)
    # odd-length / non-hex pict data quarantines at parse
    with _pytest.raises(ValueError, match="odd-length"):
        rtftext.document_parts(b"{\\rtf1{\\pict\\pngblip 0ab}\\par}")
    with _pytest.raises(ValueError, match="non-hex"):
        rtftext.document_parts(b"{\\rtf1{\\pict\\pngblip zz!!}\\par}")


def test_rtf_embedded_picture_ocrs_between_paragraphs(spark):
    from ocr_platform_spark import rtftext

    rtf = rtftext.encode_rtf_with_media(
        ["rtf intro", _word_png("scan"), "rtf outro"])
    docs_df = spark.createDataFrame(
        [{"doc_id": "d-rtf", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-rtf",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-rtf", bytearray(rtf))], "media_ref string, data binary")
    out = extract_real_documents(docs_df, media_df)
    assert _spans_by_doc(out)["d-rtf"] == [
        ("text", "rtf intro", "m-rtf", 0),
        ("text", "scan", "m-rtf", 1),
        ("text", "rtf outro", "m-rtf", 2),
    ]


# --- EPUB: embedded <img> pictures inside chapters ---------------------------


def _epub_with_images():
    from ocr_platform_spark import epubtext

    ch0 = epubtext.chapter_xhtml(["c0 alpha", "c0 beta"])
    # hand-built chapter with an image between two paragraphs
    ch1 = ("<html><head><title>t</title></head><body>"
           "<p>c1 before</p><img src=\"img/plate.png\"/>"
           "<p>c1 after</p></body></html>")
    return epubtext.encode_epub(
        [ch0, ch1], media=[("img/plate.png", _word_png("word"))])


def test_epub_chapter_parts_interleave_by_position():
    from ocr_platform_spark import epubtext

    epub = _epub_with_images()
    parts = epubtext.chapter_parts(epub)
    assert [(p[0], p[2]) for p in parts[0]] == [
        ("text", "c0 alpha"), ("text", "c0 beta")]
    assert [(p[0], p[2]) for p in parts[1]] == [
        ("text", "c1 before"), ("media", "image/png"),
        ("text", "c1 after")]
    assert bytes(parts[1][1][4]).startswith(b"\x89PNG")
    # deep probe validates the embedded raster and stays green
    assert multimodal.probe_real_media(epub, deep=True)[1:] == (2, 0, 0)


def test_epub_missing_image_member_quarantines():
    import io
    import zipfile

    from ocr_platform_spark import epubtext

    epub = _epub_with_images()
    src = zipfile.ZipFile(io.BytesIO(epub))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            if "img/plate" not in info.filename:
                dst.writestr(info, src.read(info.filename))
    with pytest.raises(ValueError, match="image member missing"):
        epubtext.chapter_parts(buf.getvalue())
    with pytest.raises(ValueError, match="image member missing"):
        multimodal.probe_real_media(buf.getvalue(), deep=True)


def test_epub_skips_scheme_and_protocol_relative_sources():
    """``data:``, protocol-relative ``//host`` and any scheme-prefixed
    source are not package members: they skip like ``https:`` links
    instead of quarantining the whole book."""
    from ocr_platform_spark import epubtext

    ch = ("<html><head><title>t</title></head><body>"
          "<p>before</p>"
          "<img src=\"data:image/gif;base64,R0lGODlhAQABAAAAACw=\"/>"
          "<img src=\"//cdn.invalid/x.png\"/>"
          "<img src=\"ftp://host.invalid/y.png\"/>"
          "<img src=\"img/plate.png\"/>"
          "<p>after</p></body></html>")
    epub = epubtext.encode_epub(
        [ch], media=[("img/plate.png", _word_png("word"))])
    parts = epubtext.chapter_parts(epub)
    assert [(p[0], p[2]) for p in parts[0]] == [
        ("text", "before"), ("media", "image/png"), ("text", "after")]
    assert multimodal.probe_real_media(epub, deep=True)[1:] == (1, 0, 0)


def test_epub_slice_keeps_chapter_images():
    rows = assert_walked_buckets(_epub_with_images())
    assert extract._walked_pages(rows["parts"][1], 1) == [[
        ("text", "c1 before"), ("media", _word_png("word")),
        ("text", "c1 after")]]


def test_epub_embedded_image_ocrs_between_paragraphs(spark):
    epub = _epub_with_images()
    docs_df = spark.createDataFrame(
        [{"doc_id": "d-epub", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-epub",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-epub", bytearray(epub))], "media_ref string, data binary")
    # bucket_pages=1: each chapter's images ride its own bucket row
    out = extract_real_documents(docs_df, media_df, bucket_pages=1)
    assert _spans_by_doc(out)["d-epub"] == [
        ("text", "c0 alpha", "m-epub", 0),
        ("text", "c0 beta", "m-epub", 1),
        ("text", "c1 before", "m-epub", 2),
        ("text", "word", "m-epub", 3),
        ("text", "c1 after", "m-epub", 4),
    ]


# --- HTML: embedded data-URI images ------------------------------------------


def test_html_data_uri_image_interleaves(spark):
    import base64

    from ocr_platform_spark import htmltext, multimodal

    b64 = base64.b64encode(_word_png("line")).decode()
    html = ("<!doctype html><html><body><p>html before</p>"
            f"<img src=\"data:image/png;base64,{b64}\"/>"
            "<p>html after</p>"
            "<img src=\"https://x.invalid/linked.png\"/>"
            "</body></html>").encode()
    parts = htmltext.html_parts(htmltext.decode_html(html))
    assert [(p[0],) for p in parts] == [("text",), ("media",), ("text",)]
    # deep probe validates the embedded raster; linked srcs are skipped
    assert multimodal.probe_real_media(html, deep=True)[0] == "html"

    docs_df = spark.createDataFrame(
        [{"doc_id": "d-html", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-html",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-html", bytearray(html))], "media_ref string, data binary")
    out = extract_real_documents(docs_df, media_df)
    assert _spans_by_doc(out)["d-html"] == [
        ("text", "html before", "m-html", 0),
        ("text", "line", "m-html", 1),
        ("text", "html after", "m-html", 2),
    ]


def test_html_malformed_data_uri_quarantines():
    import pytest as _pytest

    from ocr_platform_spark import htmltext

    html = ('<html><body><p>x</p>'
            '<img src="data:image/png;base64,!!!notb64"/></body></html>')
    with _pytest.raises(ValueError, match="base64|malformed"):
        htmltext.html_parts(html)
    # corrupt embedded raster quarantines at the deep probe
    import base64

    from ocr_platform_spark import multimodal

    png = bytearray(_word_png("page"))
    png[60] ^= 0xFF
    b64 = base64.b64encode(bytes(png)).decode()
    doc = (f'<!doctype html><html><body><p>y</p>'
           f'<img src="data:image/png;base64,{b64}"/>'
           '</body></html>').encode()
    with _pytest.raises(ValueError, match="corrupt embedded media"):
        multimodal.probe_real_media(doc, deep=True)


def test_html_non_base64_and_parameterized_data_uris():
    """RFC 2397 URIs that are not plain ``;base64`` — percent-encoded
    ``;utf8`` SVG, ``;charset=`` parameters — skip like linked images
    instead of quarantining the page; a parameterized ``;base64``
    picture still decodes."""
    import base64

    from ocr_platform_spark import htmltext, multimodal

    b64 = base64.b64encode(_word_png("line")).decode()
    html = ("<!doctype html><html><body><p>keep before</p>"
            '<img src="data:image/svg+xml;utf8,%3Csvg%3E%3C/svg%3E"/>'
            '<img src="data:image/svg+xml;charset=utf-8,%3Csvg/%3E"/>'
            f'<img src="data:image/png;name=a.png;base64,{b64}"/>'
            "<p>keep after</p></body></html>").encode()
    parts = htmltext.html_parts(htmltext.decode_html(html))
    assert [(p[0], p[2]) for p in parts] == [
        ("text", "keep before"), ("media", "image/png"),
        ("text", "keep after")]
    assert multimodal.probe_real_media(html, deep=True)[0] == "html"


# --- e-mail: raster attachments OCR in place ---------------------------------


def _mail_with_attachment():
    from ocr_platform_spark import emltext

    return emltext.encode_eml(
        [("From", "a@x"), ("Subject", "mail subj"),
         ("Message-ID", "<om@x>"), ("Date", "Thu, 01 Jan 2026"),
         ("MIME-Version", "1.0")],
        parts=[("text/plain", "body before"),
               ("image/png", _word_png("page")),
               ("text/plain", "body after"),
               ("application/octet-stream", b"\x00\x01 not raster")])


def test_eml_parts_and_probe_validation():
    from ocr_platform_spark import emltext

    raw = _mail_with_attachment()
    parts = emltext.eml_parts(raw.decode())
    assert [(p[0],) for p in parts] == [
        ("text",), ("text",), ("media",), ("text",), ("media",)]
    assert multimodal.probe_real_media(raw, deep=True)[1:] == (1, 0, 0)
    # corrupt raster attachment quarantines at the deep probe
    png = bytearray(_word_png("page"))
    png[60] ^= 0xFF
    bad = emltext.encode_eml(
        [("From", "a@x"), ("Subject", "s"), ("Message-ID", "<b@x>"),
         ("Date", "d"), ("MIME-Version", "1.0")],
        parts=[("text/plain", "x"), ("image/png", bytes(png))])
    with pytest.raises(ValueError, match="corrupt embedded media"):
        multimodal.probe_real_media(bad, deep=True)


def test_eml_attachment_ocrs_between_body_parts(spark):
    raw = _mail_with_attachment()
    docs_df = spark.createDataFrame(
        [{"doc_id": "d-eml", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-eml",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-eml", bytearray(raw))], "media_ref string, data binary")
    out = extract_real_documents(docs_df, media_df)
    assert _spans_by_doc(out)["d-eml"] == [
        ("text", "mail subj", "m-eml", 0),
        ("text", "body before", "m-eml", 1),
        ("text", "page", "m-eml", 2),     # the attachment, in place
        ("text", "body after", "m-eml", 3),
        # the octet-stream attachment contributes nothing
    ]


def test_mbox_attachments_ocr_per_message_page(spark):
    from ocr_platform_spark import emltext

    msgs = [
        _mail_with_attachment(),
        emltext.encode_eml(
            [("From", "b@x"), ("Subject", "second"), ("Received", "r"),
             ("Date", "d"), ("Message-ID", "<m2@x>")], body="plain two"),
    ]
    mb = emltext.encode_mbox(msgs)
    parts = emltext.mbox_page_parts(mb)
    assert [len(p) for p in parts] == [5, 2]
    docs_df = spark.createDataFrame(
        [{"doc_id": "d-mb", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-mb",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-mb", bytearray(mb))], "media_ref string, data binary")
    # bucket_pages=1: per-message buckets, the attachment riding its
    # message's bucket row
    out = extract_real_documents(docs_df, media_df, bucket_pages=1)
    assert _spans_by_doc(out)["d-mb"] == [
        ("text", "mail subj", "m-mb", 0),
        ("text", "body before", "m-mb", 1),
        ("text", "page", "m-mb", 2),
        ("text", "body after", "m-mb", 3),
        ("text", "second", "m-mb", 4),
        ("text", "plain two", "m-mb", 5),
    ]


# --- XLSX: anchored drawings -------------------------------------------------


def test_xlsx_sheet_parts_anchor_order_and_slice():
    from ocr_platform_spark import xlsxtext

    png = _word_png("word")
    x = xlsxtext.encode_xlsx(
        [[["alpha", "1"], ["beta"]], [["sheet two"]]],
        drawings=[[(0, png)], []])
    parts = xlsxtext.sheet_parts(x)
    # anchored at row 0: slots after row 0's text, before row 1's
    assert [(p[0], p[2] if p[0] == "text" else p[2]) for p in parts[0]] \
        == [("text", "alpha 1"), ("media", "image/png"),
            ("text", "beta")]
    assert [(p[0], p[2]) for p in parts[1]] == [("text", "sheet two")]
    assert multimodal.probe_real_media(x, deep=True)[1:] == (2, 0, 0)
    # the anchored picture rides its sheet's own bucket row
    rows = assert_walked_buckets(x)
    assert extract._walked_pages(rows["parts"][0], 1) == [[
        ("text", "alpha 1"), ("media", png), ("text", "beta")]]


def test_xlsx_dangling_drawing_rel_quarantines():
    import io
    import zipfile

    from ocr_platform_spark import xlsxtext

    png = _word_png("word")
    x = xlsxtext.encode_xlsx([[["a"]]], drawings=[[(0, png)]])
    src = zipfile.ZipFile(io.BytesIO(x))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            if "drawings/_rels" not in info.filename:
                dst.writestr(info, src.read(info.filename))
    with pytest.raises(ValueError, match="dangling picture relationship"):
        xlsxtext.sheet_parts(buf.getvalue())
    with pytest.raises(ValueError, match="dangling picture relationship"):
        multimodal.probe_real_media(buf.getvalue(), deep=True)


def test_xlsx_anchored_picture_ocrs_between_rows(spark):
    from ocr_platform_spark import xlsxtext

    png = _word_png("scan")
    x = xlsxtext.encode_xlsx(
        [[["row zero"], ["row one"]], [["second sheet"]]],
        drawings=[[(0, png)], []])
    docs_df = spark.createDataFrame(
        [{"doc_id": "d-xlsx", "spans": [
            {"kind": "media", "text": None, "media_ref": "m-xlsx",
             "offset": 0},
        ]}], schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m-xlsx", bytearray(x))], "media_ref string, data binary")
    out = extract_real_documents(docs_df, media_df, bucket_pages=1)
    assert _spans_by_doc(out)["d-xlsx"] == [
        ("text", "row zero", "m-xlsx", 0),
        ("text", "scan", "m-xlsx", 1),
        ("text", "row one", "m-xlsx", 2),
        ("text", "second sheet", "m-xlsx", 3),
    ]
