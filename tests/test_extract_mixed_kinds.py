"""The grand mixed-kind corpus: every extraction tier in ONE job.

A realistic 100 TB crawl interleaves scanned PDFs, fax TIFFs,
wild-compression long-tail formats, born-digital PDFs, web HTML,
office DOCX/PPTX/XLSX/ODT, RTF, EPUB books, bare plain text,
Markdown, DSV tables, XML, JSONL, e-mail messages and mbox archives in
the same table. This pin
rotates the seeded corpus's media across ALL nineteen re-encoders and asserts
span equality with the synthetic flagship through one
`extract_real_documents` call — per-media dispatch (probe kinds,
bucket slicing and walked parts, raster OCR vs text-layer parse vs DOM walk vs
WordprocessingML walk vs paragraph split) all coexisting in the same
bucket shuffle and span assembly. Expectation is exact everywhere
except text-layer PDFs (their deterministic one-span-per-line delta,
shared with test_extract_text_layer).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ocr_platform_spark import (corpus, gifcodec, multimodal, pngcodec,
                                schemas, subtext)
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_docx import content_docx
from tests.test_extract_epub import content_epub
from tests.test_extract_html import content_html
from tests.test_extract_odt_rtf import content_odt, content_rtf
from tests.test_extract_office_paged import (assert_walked_buckets,
                                             bucket_frame, content_pptx,
                                             content_xlsx)
from tests.test_extract_real import (_render_pages, _spans_by_doc,
                                     reencode_real, reencode_tiff,
                                     reencode_wild)
from tests.test_extract_text_layer import reencode_text_layer, split_pdf_spans
from tests.test_extract_csv import content_dsv
from tests.test_extract_json import content_jsonl
from tests.test_extract_xml import content_xml
from tests.test_extract_latex import content_tex
from tests.test_extract_md import content_md
from tests.test_extract_text_plain import content_txt
from tests.test_extract_eml import content_eml, content_mbox


#: re-encoders by tier (2: wild compression and 3: text-layer PDF
#: take the media index / report a flag, see :func:`tier_payload`)
_CONTENT = {
    0: reencode_real, 1: reencode_tiff, 4: content_html, 5: content_docx,
    6: content_txt, 7: content_pptx, 8: content_xlsx, 9: content_epub,
    10: content_odt, 11: content_rtf, 12: content_md, 13: content_dsv,
    14: content_xml, 15: content_jsonl, 16: content_tex, 17: content_eml,
    18: content_mbox,
}


def tier_payload(i: int, payload: bytes) -> tuple[bytes, bool]:
    """Media ``i`` re-encoded through tier ``i % 19``, and whether it
    became a text-layer PDF."""
    tier = i % 19
    if tier == 2:
        return reencode_wild(payload, i), False
    if tier == 3:
        return reencode_text_layer(payload)
    return _CONTENT[tier](payload), False


def all_tiers_corpus(spark):
    """The seeded corpus with its media rotated through all nineteen
    tiers: ``(docs_df, synth, mixed, payloads, text_pdf_refs)``, the
    synthetic and the re-encoded media tables, the re-encoded payloads
    by ``media_ref`` and the refs that became text-layer PDFs."""
    docs, media = corpus.generate(30, seed=4242, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    payloads, text_pdf_refs = {}, set()
    for i, (ref, m) in enumerate(sorted(media.items())):
        payloads[ref], is_pdf = tier_payload(i, m["data"])
        if is_pdf:
            text_pdf_refs.add(ref)
    assert text_pdf_refs, "rotation must hit at least one text-layer PDF"
    mixed = spark.createDataFrame(
        [(ref, bytearray(d)) for ref, d in payloads.items()],
        "media_ref string, data binary")
    return docs_df, synth, mixed, payloads, text_pdf_refs


def test_all_tiers_in_one_job(spark):
    docs_df, synth, mixed, _payloads, text_pdf_refs = all_tiers_corpus(spark)

    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, mixed, bucket_pages=2)
    )
    assert set(got) == set(flagship)
    for doc_id in flagship:
        assert got[doc_id] == split_pdf_spans(
            flagship[doc_id], text_pdf_refs
        ), doc_id


def lone_raster_pages(payloads: dict[str, bytes]) -> dict[str, set]:
    """``media_ref`` -> the page indices whose decoded page is a lone
    raster, decoded locally through the probe stage and the one OCR
    stage's bucket decode."""
    frame = pd.DataFrame({"doc_id": list(payloads), "offset": 0,
                          "media_ref": list(payloads),
                          "data": list(payloads.values())})
    [buckets] = extract._bucket_batches_fn(1)(iter([frame]))
    out: dict[str, set] = {ref: set() for ref in payloads}
    for ref, kind, lo, hi, sliced, data, parts in zip(*(
            buckets[c] for c in ("media_ref", "media_kind", "page_lo",
                                 "page_hi", "sliced", "data", "parts"))):
        for pi, page, _w, _h in extract._bucket_pages(kind, lo, hi, sliced,
                                                      data, parts):
            if extract._lone_raster(page) is not None:
                out[ref].add(pi)
    return out


def test_every_ocr_semantics_runs_over_all_tiers(spark):
    """Fused, detect and two-phase run over the nineteen-tier corpus
    without a failure, through the one page emitter: two-phase with
    ``edited_boxes=None`` equals :func:`extract.extract_documents` on
    every span; fused equals it on every span of a media without a
    lone-raster page (text and mixed pages emit identically; only the
    lone-raster kernel differs); detect emits box rows for lone-raster
    pages only."""
    docs_df, _synth, mixed, payloads, _pdfs = all_tiers_corpus(spark)
    rasters = lone_raster_pages(payloads)
    with_raster = {ref for ref, pages in rasters.items() if pages}
    assert with_raster and set(payloads) - with_raster

    want = _spans_by_doc(extract.extract_documents(docs_df, mixed))
    assert _spans_by_doc(
        extract.extract_documents_two_phase(docs_df, mixed)) == want

    def without_rasters(spans):
        return [s[:3] for s in spans if s[2] not in with_raster]

    fused = _spans_by_doc(extract.extract_documents_fused(docs_df, mixed))
    assert set(fused) == set(want)
    for doc_id, spans in want.items():
        assert without_rasters(fused[doc_id]) == without_rasters(spans), \
            doc_id
    assert any(s[2] is not None and s[2] not in with_raster
               for spans in want.values() for s in spans)

    boxes = extract.detect_boxes_table(
        extract.decode_pages(docs_df, mixed)).select(
            "media_ref", "page_index").distinct().collect()
    assert boxes
    for ref, page_index in boxes:
        assert page_index in rasters[ref], (ref, page_index)


def test_tier_table_keys_are_the_probe_kinds():
    """Every kind the deep probe returns has exactly one tier-table
    entry and vice versa: the rotation above plus the codecs it does not
    reach (a GIF, a PNG image, a subtitle track) and the synthetic
    SPDF1/SIMG1 originals."""
    docs, media = corpus.generate(30, seed=4242, max_pages=6)
    payloads = [tier_payload(i, m["data"])[0]
                for i, (_ref, m) in enumerate(sorted(media.items()))]
    _kind, pages = _render_pages(next(iter(media.values()))["data"])
    payloads += [gifcodec.encode_gif([pages[0]]),
                 pngcodec.encode_png(np.stack([pages[0]] * 3, axis=-1)),
                 subtext.encode_vtt(["one cue"])]
    payloads += [m["data"] for m in media.values()]
    kinds = {multimodal.probe_real_media(p, deep=True)[0] for p in payloads}
    assert kinds == set(extract_real.TIERS)


def test_unregistered_kind_raises_instead_of_extracting_nothing():
    frame = pd.DataFrame({
        "doc_id": ["d1"], "offset": [0], "media_ref": ["m1"],
        "media_kind": ["no-such-tier"], "page_lo": [0], "page_hi": [1],
        "sliced": [False], "data": [b"payload"], "parts": [None],
    })
    with pytest.raises(KeyError, match="no-such-tier"):
        extract._ocr_real_frame(frame)


def test_raster_kernels_run_a_page_that_is_not_a_lone_raster():
    """The fused kernel runs on the same bucket rows as the one OCR
    stage through the one page emitter: a text-tier page emits the same
    blocks as in :func:`extract._ocr_real_frame`, instead of failing."""
    frame = pd.DataFrame({
        "doc_id": ["d1"], "offset": [0], "media_ref": ["m1"],
        "media_kind": ["txt"], "page_lo": [0], "page_hi": [1],
        "sliced": [False], "data": [b"alpha beta\n"], "parts": [None],
    })
    want = extract._ocr_real_frame(frame)
    assert want["text"].tolist() == ["alpha beta"]
    [got] = extract._ocr_batches_fused(iter([frame]))
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("bucket_pages", [4, None])
def test_recognize_decodes_only_its_own_page(monkeypatch, bucket_pages):
    """The two-phase recognize runs once per (bucket, page) row and must
    decode that page alone — a local index into a sliced bucket, the
    global index into a whole payload — not all K pages of the bucket
    for each of its K rows. The blocks equal those recognized from the
    whole-bucket decode."""
    from ocr_platform_spark import formats, tiers

    _docs, media = corpus.generate(20, seed=11, max_pages=6)
    data = next(m["data"] for m in media.values()
                if formats.decode_media(m["data"])[0] == "pdf"
                and len(formats.decode_media(m["data"])[1]) >= 4)
    n = len(formats.decode_media(data)[1])
    [buckets] = extract._bucket_batches_fn(bucket_pages)(iter([pd.DataFrame(
        {"doc_id": ["d1"], "offset": [0], "media_ref": ["m1"],
         "data": [data]})]))
    assert set(buckets["sliced"]) == {bucket_pages is not None}
    rows = [(*b, pi) for b in zip(*(buckets[c] for c in extract._BUCKET_COLS))
            for pi in range(b[4], b[5])]
    assert len(rows) == n
    box = [(2, 2, 40, 20)]
    frame = pd.DataFrame(
        [(*r, [x1 for x1, *_ in box], [b[1] for b in box],
          [b[2] for b in box], [b[3] for b in box], 0, 0) for r in rows],
        columns=[*extract._BUCKET_COLS, "page_index", "xs1", "ys1", "xs2",
                 "ys2", "width", "height"])
    want = {pi: extract._ocr_rows(extract._lone_raster(page), box)
            for pi, page, _w, _h in extract._bucket_pages(
                "spdf", 0, n, False, data, None)}

    decoded = []
    pages = tiers.TIERS["spdf"].pages

    def counting(raw, page_indices):
        out = pages(raw, page_indices)
        decoded.extend([None] * len(out))
        return out

    monkeypatch.setitem(tiers.TIERS, "spdf",
                        tiers.TIERS["spdf"]._replace(pages=counting))
    [got] = extract._recognize_batches(iter([frame]))
    assert len(decoded) == n  # one page decode per row, not K per row
    for pi in range(n):
        mine = got[got["page_index"] == pi]
        assert [tuple(r) for r in mine[["x1", "y1", "x2", "y2", "text"]]
                .itertuples(index=False)] == [
            (*r[:4], r[4].strip()) for r in want[pi]]


def test_raster_page_kinds_decode_only_lone_rasters(spark):
    """Every page of a :data:`tiers.RASTER_PAGE_KINDS` payload in the
    nineteen-tier corpus (plus the synthetic originals and a GIF) is a lone
    raster: two-phase recognize may skip such a page without boxes."""
    from ocr_platform_spark import tiers

    _docs_df, _synth, _mixed, payloads, _pdfs = all_tiers_corpus(spark)
    _docs, media = corpus.generate(4, seed=11, max_pages=3)
    payloads.update({f"synth-{ref}": m["data"] for ref, m in media.items()})
    _kind, pages = _render_pages(next(iter(media.values()))["data"])
    payloads["gif"] = gifcodec.encode_gif(pages[:2])
    rasters = lone_raster_pages(payloads)
    seen = set()
    for ref, raw in payloads.items():
        kind, n = multimodal.probe_real_media(raw, deep=True)[:2]
        if kind in tiers.RASTER_PAGE_KINDS:
            seen.add(kind)
            assert rasters[ref] == set(range(n)), (ref, kind)
    assert seen == tiers.RASTER_PAGE_KINDS


def test_recognize_decodes_no_boxless_lone_raster_page(spark, monkeypatch):
    """Two-phase recognize with no boxes: a 6-page SPDF1 (every page a
    lone raster, which emits nothing without boxes) reaches the decode
    0 times, while a text page still decodes and emits its block."""
    from ocr_platform_spark import formats, tiers

    _docs, media = corpus.generate(20, seed=11, max_pages=8)
    spdf = next(m["data"] for m in media.values()
                if formats.decode_media(m["data"])[0] == "pdf"
                and len(formats.decode_media(m["data"])[1]) >= 6)
    spdf = formats.encode_pdf(formats.decode_media(spdf)[1][:6])
    docs_df = spark.createDataFrame([("d1", [("pdf", None, "m1", 0),
                                             ("pdf", None, "m2", 1)])],
                                    schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [("m1", bytearray(spdf)), ("m2", bytearray(b"alpha beta\n"))],
        "media_ref string, data binary")
    pages = extract.decode_pages(docs_df, media_df)
    no_boxes = spark.createDataFrame([], ", ".join(
        f"{c} {'string' if c in ('doc_id', 'media_ref') else 'int'}"
        for c in extract._BOX_COLS))

    spread_rows = []
    monkeypatch.setattr(extract, "_spread",
                        lambda rows, *_args: spread_rows.append(rows))
    extract.recognize_with_boxes(pages, no_boxes)
    [rows] = spread_rows
    frame = rows.toPandas()

    decoded = []
    for kind in ("spdf", "txt"):
        def counting(raw, page_indices, _pages=tiers.TIERS[kind].pages,
                     _kind=kind):
            out = _pages(raw, page_indices)
            decoded.extend([_kind] * len(out))
            return out
        monkeypatch.setitem(tiers.TIERS, kind,
                            tiers.TIERS[kind]._replace(pages=counting))
    [got] = extract._recognize_batches(iter([frame]))
    assert decoded == ["txt"]
    assert got["text"].tolist() == ["alpha beta"]


@pytest.mark.parametrize("kind, module, parse", [
    ("tiff", "tiffcodec", "_read_ifds"),
    ("gif", "gifcodec", "_parse"),
    ("pptx", "pptxtext", "_slide_members"),
    ("xlsx", "xlsxtext", "_sheet_members"),
    ("epub", "epubtext", "_spine_members"),
    ("mbox", "emltext", "_split_mbox"),
])
def test_slicer_parses_each_document_once(monkeypatch, kind, module, parse):
    """Cutting an n-page document into n one-page buckets parses the
    container once, not once per bucket: the default bucket size is
    one page, so a per-cut parse would make the probe quadratic in the
    page count. A raster kind's slicer parses once and every slice
    holds exactly its own page; a container kind has no slicer, and its
    one deep-probe walk yields every one-page row's parts."""
    import importlib

    from ocr_platform_spark import tiers

    _docs, media = corpus.generate(20, seed=11, max_pages=6)
    data = max((m["data"] for m in media.values()),
               key=lambda d: len(_render_pages(d)[1]))
    pages = _render_pages(data)[1]
    raw = {"gif": lambda d: gifcodec.encode_gif([pages[0]] * len(pages)),
           "tiff": reencode_tiff, "pptx": content_pptx,
           "xlsx": content_xlsx, "epub": content_epub,
           "mbox": content_mbox}[kind](data)
    probed, n, _w, _h = multimodal.probe_real_media(raw, deep=True)
    assert (probed, n >= 4) == (kind, True)
    mod = importlib.import_module(f"ocr_platform_spark.{module}")
    calls = []
    real = getattr(mod, parse)

    def counting(*args, **kwargs):
        calls.append(parse)
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, parse, counting)
    slicer = tiers.TIERS[kind].slicer
    if slicer is None:
        assert len(bucket_frame(raw, 1)) == n
        assert len(calls) == 1
        monkeypatch.undo()
        assert_walked_buckets(raw)
        return
    cut = slicer(raw)
    slices = [cut(range(i, i + 1)) for i in range(n)]
    assert len(calls) == 1
    monkeypatch.undo()
    for s in slices:
        assert multimodal.probe_real_media(s, deep=True)[:2] == (kind, 1)
