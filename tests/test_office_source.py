"""Office ingestion source (``sources/office.py``): a dump of
.docx/.odt/.pptx files lands in the interleaved (documents, media)
corpus shape — embedded pictures as first-class media spans — and
extracts end-to-end through the real-codec pipeline."""

from __future__ import annotations

import pytest

from ocr_platform_spark import docxtext, odttext, pptxtext
from ocr_platform_spark.operators.extract_real import extract_real_documents
from ocr_platform_spark.sources import office as officesrc

from tests.test_extract_real import _spans_by_doc
from tests.test_office_media import _word_png


@pytest.fixture(scope="module")
def office_dump(tmp_path_factory):
    root = tmp_path_factory.mktemp("officedump")
    docx = docxtext.encode_docx_with_media(
        ["dx first", _word_png("page"), "dx last"])
    odt = odttext.encode_odt_with_media(
        [("od before", _word_png("scan"), "od after")])
    pptx = pptxtext.encode_pptx([["s0 text"], [_word_png("word"), "s1 tail"]])
    (root / "a.docx").write_bytes(docx)
    (root / "b.odt").write_bytes(odt)
    (root / "c.pptx").write_bytes(pptx)
    (root / "bad.docx").write_bytes(b"PK\x03\x04 garbage not a zip")
    (root / "ignored.txt").write_bytes(b"not office")
    return root


def test_read_office_parts_and_errors(spark, office_dump):
    parts = officesrc.read_office(spark, str(office_dump)).collect()
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in parts}
    # the glob filter skips non-office files entirely
    assert set(by_name) == {"a.docx", "b.odt", "c.pptx", "bad.docx"}
    assert by_name["bad.docx"]["error"] is not None
    assert list(by_name["a.docx"]["kinds"]) == ["text", "media", "text"]
    assert list(by_name["b.odt"]["kinds"]) == ["text", "media", "text"]
    assert list(by_name["c.pptx"]["kinds"]) == ["text", "media", "text"]
    # deterministic, collision-free doc ids
    assert by_name["a.docx"]["doc_id"].startswith("a.docx#")
    errs = officesrc.office_errors(
        officesrc.read_office(spark, str(office_dump))).collect()
    assert len(errs) == 1 and "quarantined" in errs[0]["error"]


def test_office_corpus_shape(spark, office_dump):
    parts = officesrc.read_office(spark, str(office_dump))
    docs, media = officesrc.office_to_corpus(parts)
    drows = {r["doc_id"]: r["spans"] for r in docs.collect()}
    mrows = {r["media_ref"]: r for r in media.collect()}
    assert len(drows) == 3
    did = next(d for d in drows if d.startswith("a.docx#"))
    spans = [(s["kind"], s["text"], s["media_ref"]) for s in drows[did]]
    assert spans == [
        ("text", "dx first", None),
        ("media", None, f"{did}#p1"),
        ("text", "dx last", None),
    ]
    m = mrows[f"{did}#p1"]
    assert m["content_type"] == "image/png"
    assert m["filename"] == "word/media/image1.png"
    assert bytes(m["data"]).startswith(b"\x89PNG")


def test_extract_office_end_to_end(spark, office_dump):
    out = officesrc.extract_office(spark, str(office_dump))
    spans = _spans_by_doc(out)
    by_prefix = {k.split("#")[0]: v for k, v in spans.items()}
    assert [(s[0], s[1]) for s in by_prefix["a.docx"]] == [
        ("text", "dx first"), ("text", "page"), ("text", "dx last")]
    # the OCR span carries the embedded picture's own media_ref
    assert by_prefix["a.docx"][1][2].endswith("#p1")
    assert [(s[0], s[1]) for s in by_prefix["b.odt"]] == [
        ("text", "od before"), ("text", "scan"), ("text", "od after")]
    assert [(s[0], s[1]) for s in by_prefix["c.pptx"]] == [
        ("text", "s0 text"), ("text", "word"), ("text", "s1 tail")]


def test_office_source_rtf_eml_xlsx(spark, tmp_path):
    """The source also ingests .rtf, maildir-style .eml and .xlsx
    files, pictures as media spans throughout."""
    from ocr_platform_spark import emltext, rtftext, xlsxtext

    (tmp_path / "d.rtf").write_bytes(rtftext.encode_rtf_with_media(
        ["rtf p1", _word_png("page"), "rtf p2"]))
    (tmp_path / "m.eml").write_bytes(emltext.encode_eml(
        [("From", "a@x"), ("Subject", "md subj"), ("Message-ID", "<s@x>"),
         ("Date", "d"), ("MIME-Version", "1.0")],
        parts=[("text/plain", "md body"), ("image/png", _word_png("scan"))]))
    (tmp_path / "t.xlsx").write_bytes(xlsxtext.encode_xlsx(
        [[["cell a"], ["cell b"]]], drawings=[[(0, _word_png("word"))]]))
    parts = officesrc.read_office(spark, str(tmp_path)).collect()
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in parts}
    assert set(by_name) == {"d.rtf", "m.eml", "t.xlsx"}
    assert list(by_name["d.rtf"]["kinds"]) == ["text", "media", "text"]
    assert list(by_name["m.eml"]["kinds"]) == \
        ["text", "text", "media"]  # subject, body, attachment
    assert list(by_name["t.xlsx"]["kinds"]) == ["text", "media", "text"]
    # end-to-end: pictures OCR via their media spans
    out = officesrc.extract_office(spark, str(tmp_path))
    spans = {k.split("#")[0]: [(s[0], s[1]) for s in v]
             for k, v in _spans_by_doc(out).items()}
    assert spans["d.rtf"] == [
        ("text", "rtf p1"), ("text", "page"), ("text", "rtf p2")]
    assert spans["m.eml"] == [
        ("text", "md subj"), ("text", "md body"), ("text", "scan")]
    assert spans["t.xlsx"] == [
        ("text", "cell a"), ("text", "word"), ("text", "cell b")]


def test_mislabelled_files_ingest_through_the_tier_table(spark, tmp_path):
    """The source dispatches on content, not the extension: EPUB bytes
    saved as ``.docx`` and an mbox saved as ``.eml`` take their own
    part walks and ingest with no error row."""
    from ocr_platform_spark import emltext, epubtext

    (tmp_path / "book.docx").write_bytes(epubtext.encode_epub(
        [epubtext.chapter_xhtml(["ch one"]),
         epubtext.chapter_xhtml(["ch two"])]))
    (tmp_path / "list.eml").write_bytes(emltext.encode_mbox([
        emltext.encode_eml(
            [("From", "a@x"), ("Subject", f"msg {i}"), ("Date", "d")],
            body=f"body {i}")
        for i in range(2)]))
    parts = officesrc.read_office(spark, str(tmp_path))
    assert officesrc.office_errors(parts).collect() == []
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in parts.collect()}
    assert list(by_name["book.docx"]["texts"]) == ["ch one", "ch two"]
    texts = list(by_name["list.eml"]["texts"])
    assert "body 0" in texts and "body 1" in texts
