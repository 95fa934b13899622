"""The grand mixed-kind corpus: every extraction tier in ONE job.

A realistic 100 TB crawl interleaves scanned PDFs, fax TIFFs,
wild-compression long-tail formats, born-digital PDFs, web HTML,
office DOCX/PPTX/XLSX/ODT, RTF, EPUB books, bare plain text,
Markdown, DSV tables, XML, JSONL, e-mail messages and mbox archives in
the same table. This pin
rotates the seeded corpus's media across ALL nineteen re-encoders and asserts
span equality with the synthetic flagship through one
`extract_real_documents` call — per-media dispatch (probe kinds,
bucket slicing, raster OCR vs text-layer parse vs DOM walk vs
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
from tests.test_extract_office_paged import content_pptx, content_xlsx
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


def test_all_tiers_in_one_job(spark):
    docs, media = corpus.generate(30, seed=4242, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    rows, text_pdf_refs = [], set()
    for i, (ref, m) in enumerate(sorted(media.items())):
        data, is_pdf = tier_payload(i, m["data"])
        if is_pdf:
            text_pdf_refs.add(ref)
        rows.append((ref, bytearray(data)))
    assert text_pdf_refs, "rotation must hit at least one text-layer PDF"
    mixed = spark.createDataFrame(rows, "media_ref string, data binary")

    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, mixed, bucket_pages=2)
    )
    assert set(got) == set(flagship)
    for doc_id in flagship:
        assert got[doc_id] == split_pdf_spans(
            flagship[doc_id], text_pdf_refs
        ), doc_id


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
        "sliced": [False], "data": [b"payload"],
    })
    with pytest.raises(KeyError, match="no-such-tier"):
        extract._ocr_real_frame(frame)


def test_raster_kernels_refuse_a_page_that_is_not_a_lone_raster():
    """The per-page raster kernels (fused, detect, recognize) run on the
    same bucket rows as the one OCR stage; a text-tier page raises,
    naming the kind, instead of extracting nothing."""
    frame = pd.DataFrame({
        "doc_id": ["d1"], "offset": [0], "media_ref": ["m1"],
        "media_kind": ["txt"], "page_lo": [0], "page_hi": [1],
        "sliced": [False], "data": [b"alpha beta\n"],
    })
    assert len(extract._ocr_real_frame(frame)) == 1
    with pytest.raises(ValueError, match="'txt' page 0 is not a lone raster"):
        list(extract._ocr_batches_fused(iter([frame])))
