"""EPUB book-tier pipeline, pinned against the synthetic flagship.

Chapters are pages (the same genuinely-paged shape as PPTX slides), and
each chapter is a full XHTML document extracted by the DOM tier — so
this pin re-encodes every synthetic media as an EPUB with one chapter
per source page, wraps every chapter in the SAME nav/sidebar/footer
boilerplate shell the HTML-tier pin uses (the link-density drop must
hold inside books too), runs with ``bucket_pages=2`` so multi-chapter
books cross the bucket shuffle as their chapters' walked parts, and
asserts EXACT span-sequence equality with the flagship.
"""

from __future__ import annotations

import io
import zipfile

import pytest

from ocr_platform_spark import corpus, epubtext, htmltext, multimodal, schemas
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_html import FOOTER, HEAD, NAV, SIDEBAR
from tests.test_extract_office_paged import (assert_walked_buckets,
                                             bucket_frame, text_pages)
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks


def _chapter(blocks: list[str]) -> str:
    """One chapter XHTML: the flagship's blocks inside the HTML-tier
    boilerplate shell (nav/sidebar/footer must vanish under the
    link-density rule, chapter after chapter)."""
    paras = "".join(
        "<p>" + "<br/>".join(
            htmltext.escape_text(line) for line in text.split("\n")
        ) + "</p>"
        for text in blocks
    )
    return (HEAD + NAV + SIDEBAR + f'<div class="content">{paras}</div>'
            + FOOTER + "</body></html>")


def content_epub(payload: bytes) -> bytes:
    _kind, rasters = _render_pages(payload)
    return epubtext.encode_epub([
        _chapter([text for _y1, _x1, text in page_ocr_blocks(img)])
        for img in rasters
    ])


@pytest.fixture(scope="module")
def epub_corpus(spark):
    docs, media = corpus.generate(24, seed=5151, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    epub = spark.createDataFrame(
        [(ref, bytearray(content_epub(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, epub


def test_epub_pipeline_equals_flagship(epub_corpus):
    """bucket_pages=2 ships multi-chapter books as two-chapter bucket
    rows of walked parts; spans must equal the flagship's exactly,
    with every chapter's boilerplate shell dropped."""
    docs_df, synth, epub = epub_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, epub, bucket_pages=2)
    )
    assert got == flagship


def test_bucket_rows_carry_chapters_in_spine_order():
    """Every bucket row of a book carries exactly its chapters' walked
    parts, in spine order: one-page rows per
    :func:`assert_walked_buckets`, and each two-chapter row the walk of
    its spine range."""
    book = epubtext.encode_epub([
        epubtext.chapter_xhtml([f"chapter {i} text", f"more {i}"])
        for i in range(5)
    ])
    assert_walked_buckets(book)
    rows = bucket_frame(book, 2)
    assert list(zip(rows["page_lo"], rows["page_hi"])) == [
        (0, 2), (2, 4), (4, 5)]
    for lo, hi, parts in zip(rows["page_lo"], rows["page_hi"],
                             rows["parts"]):
        assert extract._walked_pages(parts, hi - lo) == [
            [(p[0], p[-1]) for p in page]
            for page in epubtext.chapter_parts(book, range(lo, hi))]
        assert [[b.text for b in p] for p in text_pages(
            epubtext.chapter_parts(book, range(lo, hi)))] == [
            [f"chapter {i} text", f"more {i}"] for i in range(lo, hi)]


def _tamper(build) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        build(zf)
    return buf.getvalue()


def test_epub_quarantine(spark):
    """Empty spines, dangling manifest/spine references, rootfile-less
    containers and truncated chapter documents all quarantine at probe
    time; the document still assembles its text spans."""
    cnt = ('<?xml version="1.0"?><container '
           'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
           '<rootfiles><rootfile full-path="content.opf" '
           'media-type="application/oebps-package+xml"/>'
           "</rootfiles></container>")
    opf_ns = "http://www.idpf.org/2007/opf"

    def opf(manifest: str, spine: str) -> str:
        return (f'<package xmlns="{opf_ns}"><manifest>{manifest}'
                f"</manifest><spine>{spine}</spine></package>")

    fixtures = {
        "m-empty-spine": _tamper(lambda zf: (
            zf.writestr("META-INF/container.xml", cnt),
            zf.writestr("content.opf", opf(
                '<item id="c0" href="c0.xhtml"/>', "")))),
        "m-dangling-idref": _tamper(lambda zf: (
            zf.writestr("META-INF/container.xml", cnt),
            zf.writestr("content.opf", opf(
                "", '<itemref idref="ghost"/>')))),
        "m-missing-member": _tamper(lambda zf: (
            zf.writestr("META-INF/container.xml", cnt),
            zf.writestr("content.opf", opf(
                '<item id="c0" href="c0.xhtml"/>',
                '<itemref idref="c0"/>')))),
        "m-no-rootfile": _tamper(lambda zf: (
            zf.writestr(
                "META-INF/container.xml",
                '<?xml version="1.0"?><container xmlns="urn:oasis:names'
                ':tc:opendocument:xmlns:container"><rootfiles/>'
                "</container>"),)),
        "m-truncated-chapter": _tamper(lambda zf: (
            zf.writestr("META-INF/container.xml", cnt),
            zf.writestr("content.opf", opf(
                '<item id="c0" href="c0.xhtml"/>',
                '<itemref idref="c0"/>')),
            zf.writestr("c0.xhtml", "<html><p>cut off, no close"))),
    }
    docs = spark.createDataFrame(
        [{"doc_id": "d1", "spans": [
            {"kind": "text", "text": "keep me", "media_ref": None,
             "offset": 0},
        ] + [
            {"kind": "epub", "text": None, "media_ref": ref,
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
    assert "empty spine" in errs["m-empty-spine"]
    assert "no manifest entry" in errs["m-dangling-idref"]
    assert "missing from the archive" in errs["m-missing-member"]
    assert "no rootfile" in errs["m-no-rootfile"]
    assert "truncated" in errs["m-truncated-chapter"]
    spans = _spans_by_doc(extract_real.extract_real_documents(docs, media))
    assert spans == {"d1": [("text", "keep me", None, 0)]}


def test_opf_relative_hrefs_resolve():
    """Manifest hrefs are relative to the OPF's own directory — the
    OEBPS/ layout every mainstream EPUB uses."""
    book = epubtext.encode_epub(
        [epubtext.chapter_xhtml(["nested layout"])], subdir="OEBPS/book")
    assert multimodal.probe_real_media(book, deep=True) == ("epub", 1, 0, 0)
    assert [[b.text for b in p]
            for p in text_pages(epubtext.chapter_parts(book))] \
        == [["nested layout"]]


def test_real_media_metadata_epub(spark):
    """Header-only metadata pass reports the spine chapter count from
    the container/OPF chain without inflating chapters — and a
    deep-only defect (truncated chapter) passes shallow but quarantines
    in the deep extraction probe."""
    good = epubtext.encode_epub(
        [epubtext.chapter_xhtml([f"c{i}"]) for i in range(4)])
    media = spark.createDataFrame(
        [("m-e", bytearray(good))], "media_ref string, data binary")
    row = multimodal.real_media_metadata(media).collect()[0]
    assert (row["kind"], row["n_pages"], row["width"],
            row["height"]) == ("epub", 4, 0, 0)
