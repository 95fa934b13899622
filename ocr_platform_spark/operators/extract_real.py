"""Distributed OCR over REAL-codec media (scanned PDF, multi-page G4
TIFF, PNG, baseline JPEG) — the end-to-end path a user of the reference
actually runs
(``apps/worker/app/tasks/ocr_tasks.py:34-55`` decodes uploaded
PDF/image bytes with fitz/PIL before detect+recognize).

The synthetic flagship (:func:`..operators.extract.extract_documents`)
exploits that SPDF1/SIMG1 pages are *parametric descriptors*: the page
explode ships ~200-byte JSON rows, so pixels never cross a shuffle.
Real media has no descriptor — the OCR task needs the payload bytes —
so this pipeline uses a different, explicitly skew-bounded shape:

1. **probe** (``mapInPandas`` over spans⋈payloads, the flagship's one
   join :func:`..operators.extract._join_payloads` with its
   missing-payload anti-join; the probe runs in the join's
   partitioning, no spread of its own): the deep
   :func:`..multimodal.probe_real_media` — header and structure walks
   for PDFs and rasters (xref walk + content-stream interpretation,
   image samples never inflated; images are 1 page), and for the
   container kinds the same part walk the OCR stage decodes
   (:mod:`..tiers`) — then explode into page *buckets* of
   ``bucket_pages`` pages. Each bucket row carries the payload once.
   Unsupported/corrupt payloads (vector PDFs, truncated files,
   synthetic containers) quarantine HERE as ``media_kind=error`` rows —
   before any payload is duplicated.
2. **repartition** on ``(doc_id, offset, bucket_index)`` — the flagship's
   one skew spread (:func:`..operators.extract._spread`), the skew fix:
   a 2,000-page scanned PDF becomes ⌈2000/K⌉ independent tasks instead
   of one straggler. Multi-bucket containers are *sliced* at probe time
   (``slice_payloads=True`` default): each bucket row carries a minimal
   sub-document holding only its own pages (for PDFs
   :class:`..pdfcodec._Slicer` keeps only the bucket's content/image
   streams), so the whole document's bytes cross the bucket shuffle
   ~once in total — the in-DataFrame analog of the byte-range reads a
   cloud-storage pipeline would issue. With ``slice_payloads=False``
   the full payload rides on every bucket row (amplification
   ⌈pages/K⌉). ``bucket_pages=None`` disables bucketing (one task per
   media, zero duplication) for corpora known to have bounded page
   counts.
3. **OCR** (``mapInPandas``): each bucket decodes ONLY its own pages
   through its kind's tier-table entry, and one emitter turns the pages into
   ``BLOCK`` rows. Rasters go through the *shared* OCR core
   (:func:`..operators.extract._ocr_rows` — detect, PrepView crops,
   strip recognition) and every row through the shared emitter and
   frame builder (:func:`..operators.extract._emit_blocks`, unicode
   strip; :func:`..operators.extract._block_frame`), so the real and
   synthetic paths cannot drift.
4. **assemble**: the same sentinel-based
   :func:`..operators.extract.assemble_spans` re-emits each document's
   interleaved span array.

**The tier table** (:data:`..tiers.TIERS`) maps each probe
``media_kind`` to ``(slicer | None, pages)``: the slicer cuts
multi-bucket payloads at probe time, ``pages`` decodes a bucket's
pages, each a ``(parts, width, height)`` triple of text blocks and
grayscale rasters (see :mod:`..tiers`).

**One page emitter** (:func:`_emit_page`), one coordinate rule: a page that
is a lone raster OCRs in its own pixel space. Anywhere else, the part
at ordinal ``i`` emits at ``y1 = i`` — a text part as
``(x1=0, y1=i)``, a picture as its OCR blocks at
``(x1=reading rank, y1=i)``. The assembler's per-page sort key
``(y1, x1, block_index)`` then lands a picture's text exactly between
its neighbours while keeping the picture's own reading order and
confidences; page ``page_lo + i`` numbering survives bucket slicing.

Equality contract (pinned in tests/test_extract_real.py): a corpus whose
synthetic media are re-encoded as real PNG files / scanned PDFs at
identity scale extracts EXACTLY the same spans through this pipeline as
the synthetic corpus does through ``extract_documents``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import multimodal, transport
from ..schemas import BLOCK
from ..tiers import TIERS
from .extract import (
    MEDIA_KIND_ERROR,
    _block_frame,
    _emit_blocks,
    _join_payloads,
    _ocr_rows,
    _spread,
    assemble_spans,
    shared_exploded_spans,
)

#: pages per OCR task. ⌈pages/K⌉ payload copies cross the bucket shuffle;
#: K pages of raster work bound each task's CPU time.
DEFAULT_BUCKET_PAGES = 8

REAL_BUCKET = (
    "doc_id string, offset int, media_ref string, media_kind string, "
    "bucket_index int, page_lo int, page_hi int, error string, "
    "sliced boolean, data binary"
)


def _bucket_batches_fn(bucket_pages: int | None,
                       slice_payloads: bool = True):
    """Stage-1 kernel. The probe is :func:`..multimodal.probe_real_media`
    with ``deep=True`` (hybrid per-page walk for PDFs; chunk-CRC /
    marker-bounds checks for PNG/JPEG; the tier's own part walk for the
    container kinds), so truncated/corrupt payloads
    quarantine HERE, with a triage row, instead of silently dropping at
    the OCR stage. Residual (undetectable-at-probe) corruption is
    entropy-level only: JPEG entropy bits carry no checksum, and a PDF
    image stream can hold a structurally-valid but broken body; those
    degrade to zero blocks at decode (see :func:`_ocr_real_frame`)."""
    def _bucket_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "offset", "media_ref", "media_kind",
                "bucket_index", "page_lo", "page_hi", "error",
                "sliced", "data"]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for doc_id, offset, ref, data in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["data"]
            ):
                raw = bytes(data)
                try:
                    # compressed transport wrappers (.html.gz /
                    # .txt.bz2 / .xml.xz) inflate ONCE here, before
                    # probe and slicing, so every downstream feature
                    # (per-page slices, hybrid dispatch, tier
                    # extraction) sees the inner document; corruption /
                    # bombs / over-nesting quarantine like any other
                    # probe failure (..transport module docstring)
                    raw = transport.maybe_unwrap(raw)
                    kind, n_pages, _w, _h = multimodal.probe_real_media(
                        raw, deep=True)
                except Exception as exc:
                    # quarantine BEFORE the payload is duplicated: one
                    # narrow error row, no data rides along
                    out["doc_id"].append(doc_id)
                    out["offset"].append(offset)
                    out["media_ref"].append(ref)
                    out["media_kind"].append(MEDIA_KIND_ERROR)
                    out["bucket_index"].append(-1)
                    out["page_lo"].append(-1)
                    out["page_hi"].append(-1)
                    out["error"].append(str(exc)[:200])
                    out["sliced"].append(False)
                    out["data"].append(None)
                    continue
                k = bucket_pages or max(1, n_pages)
                lows = range(0, max(1, n_pages), k)
                slicer, cut = TIERS[kind].slicer, None
                if slicer is not None and slice_payloads and len(lows) > 1:
                    # parse once per document; each bucket row then
                    # carries a minimal sub-document (only its own
                    # pages) instead of a full-payload copy — the whole
                    # document crosses the bucket shuffle ~once in
                    # total instead of ⌈pages/K⌉ times
                    try:
                        cut = slicer(raw)
                    except ValueError:
                        pass
                for b, lo in enumerate(lows):
                    hi = min(n_pages, lo + k)
                    payload, sliced = raw, False
                    if cut is not None:
                        try:
                            payload, sliced = cut(range(lo, hi)), True
                        except ValueError:
                            # probe already validated the doc, so this
                            # is near-dead defensive code: fall back to
                            # the full payload rather than quarantine
                            pass
                    out["doc_id"].append(doc_id)
                    out["offset"].append(offset)
                    out["media_ref"].append(ref)
                    out["media_kind"].append(kind)
                    out["bucket_index"].append(b)
                    out["page_lo"].append(lo)
                    out["page_hi"].append(hi)
                    out["error"].append(None)
                    out["sliced"].append(sliced)
                    out["data"].append(payload)
            res = pd.DataFrame(out)
            for c in ("offset", "bucket_index", "page_lo", "page_hi"):
                res[c] = res[c].astype("int32")
            yield res

    return _bucket_batches


def _emit_page(doc_id: str, offset: int, ref: str, page_index: int,
               parts: list, page_w: int, page_h: int,
               out: dict[str, list]) -> None:
    """One decoded page -> ``BLOCK`` rows under the module docstring's
    coordinate rule, through the shared emitter
    (:func:`..operators.extract._emit_blocks`). Text blocks emit at
    ``conf=1.0`` (the source text is authoritative — there is no
    recognition uncertainty to score); empty ones drop. A lone raster
    OCRs in its own pixel space; every other row carries the page's
    ``page_w x page_h``."""
    if len(parts) == 1 and isinstance(parts[0], np.ndarray):
        _emit_blocks(out, doc_id, offset, ref, page_index, _ocr_rows(parts[0]))
        return
    rows: list[tuple] = []
    for i, part in enumerate(parts):
        if isinstance(part, np.ndarray):
            ocr = _ocr_rows(part)
            order = sorted(range(len(ocr)),
                           key=lambda k: (ocr[k][1], ocr[k][0], k))
            rows.extend((rank, i, rank + 1, i + 1, ocr[k][4], ocr[k][5],
                         page_w, page_h) for rank, k in enumerate(order))
        elif part.text.strip():
            rows.append((part.x1, part.y1, part.x2, part.y2, part.text, 1.0,
                         page_w, page_h))
    _emit_blocks(out, doc_id, offset, ref, page_index, rows)


#: the bucket columns :func:`_ocr_bucket` takes, in order
_BUCKET_COLS = ("doc_id", "offset", "media_ref", "media_kind", "page_lo",
                "page_hi", "sliced", "data")


def _ocr_real_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    # a named module function: its __name__ is what .explain("formatted")
    # prints on the MapInPandas node
    for pdf in batches:
        yield _ocr_real_frame(pdf)


def _ocr_real_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    return _block_frame(pdf, _BUCKET_COLS, _ocr_bucket)


def _ocr_bucket(doc_id: str, offset: int, ref: str, kind: str, lo: int,
                hi: int, sliced: bool, data: bytes,
                out: dict[str, list]) -> None:
    if kind == MEDIA_KIND_ERROR:
        return
    # looked up OUTSIDE the try: a probe kind with no tier is a
    # programming error and must fail loudly, not extract nothing
    pages = TIERS[kind].pages
    # Decode inside the try (a decode failure drops the bucket
    # ATOMICALLY — no partial emission), emission outside it (an
    # OCR/kernel failure propagates LOUDLY; swallowing it after
    # some pages' rows were appended would leave a silently
    # part-extracted document). A sliced payload holds ONLY this
    # bucket's pages (local indices 0..hi-lo); global numbering
    # still comes from page_lo below.
    try:
        decoded = pages(bytes(data), None if sliced
                        else list(range(int(lo), int(hi))))
    except Exception:
        # residual corruption past the probe: entropy-level only
        # (JPEG entropy bits carry no checksum; a PDF image
        # stream body can be broken behind a valid structure).
        # Degrade to zero OCR blocks for this bucket — the
        # empty-page-passthrough contract — rather than failing
        # the job; everything structurally detectable already
        # quarantined with a triage row at probe time.
        return
    for i, (parts, page_w, page_h) in enumerate(decoded):
        _emit_page(doc_id, int(offset), ref, int(lo) + i, parts,
                   page_w, page_h, out)


def real_page_buckets(
    documents: DataFrame,
    media: DataFrame,
    bucket_pages: int | None = DEFAULT_BUCKET_PAGES,
    broadcast_spans: bool | None = None,
    spans: DataFrame | None = None,
    slice_payloads: bool = True,
) -> DataFrame:
    """Stage 1: spans ⋈ payloads -> validated page-bucket rows.

    The join is :func:`..operators.extract.decode_pages`' own
    (:func:`..operators.extract._join_payloads`: the narrow span-ref side
    broadcasts under the same leaf-stats auto mode; payload bytes never
    move for the join), and its missing-payload anti-join surfaces
    dangling ``media_ref``s as quarantine rows.

    ``spans``: optional pre-exploded frame (pass
    :func:`..operators.extract.shared_exploded_spans` output so the
    documents table is scanned once across this join, the anti-join, and
    span assembly — the flagship's round-3 single-scan shape).

    ``slice_payloads`` (default on): multi-bucket PDFs are re-cut at
    probe time into per-bucket sub-PDFs (:class:`..pdfcodec._Slicer` —
    only the bucket's own page/content/image objects, stream bytes
    verbatim), so the bucket shuffle moves ~size·K/pages bytes per row
    instead of ⌈pages/K⌉ full-payload copies. Decode equality with the
    unsliced path is test-pinned; False restores full-payload rows.
    """
    return _join_payloads(
        documents, media, spans, broadcast_spans,
        lambda media_spans: media_spans.mapInPandas(
            _bucket_batches_fn(bucket_pages, slice_payloads),
            schema=REAL_BUCKET,
        ),
        bucket_index=F.lit(-1).cast("int"),
        page_lo=F.lit(-1).cast("int"),
        page_hi=F.lit(-1).cast("int"),
        error=F.lit("missing media payload"),
        sliced=F.lit(False),
        data=F.lit(None).cast("binary"),
    )


def real_media_errors(buckets: DataFrame) -> DataFrame:
    """Quarantine table for the real-codec path (probe-time failures +
    missing payloads); same triage contract as ``media_errors``."""
    return buckets.filter(F.col("media_kind") == MEDIA_KIND_ERROR).select(
        "doc_id", "offset", "media_ref", "error"
    )


def ocr_real_blocks(
    buckets: DataFrame, num_partitions: int | None = None,
) -> DataFrame:
    """Stage 2: bucket rows -> OCR block rows, behind the explicit
    bucket-key repartition (see module docstring item 2). Each bucket
    decodes through its kind's :data:`..tiers.TIERS` entry."""
    return _spread(buckets, "bucket_index", num_partitions, _ocr_real_batches,
                   BLOCK)


def extract_real_documents(
    documents: DataFrame,
    media: DataFrame,
    bucket_pages: int | None = DEFAULT_BUCKET_PAGES,
    num_partitions: int | None = None,
    broadcast_spans: bool | None = None,
    share_spans: "bool | str" = True,
    slice_payloads: bool = True,
) -> DataFrame:
    """End-to-end OCR extraction over REAL-codec media payloads.

    Same input/output contract as ``extract_documents`` (documents with
    interleaved spans + a media table -> documents_out with the
    extracted span arrays in document-global reading order), but the
    media column holds real scanned-PDF/PNG/JPEG bytes instead of
    synthetic containers. See the module docstring for the plan shape
    and its scale trade-offs.

    ``share_spans`` mirrors the flagship's single-scan shape: one lazily
    ``localCheckpoint``-ed explode of the documents table serves the
    bucket join, the missing-payload anti-join, and span assembly
    (instead of three full scans). Same executor-loss caveat as
    :func:`..operators.extract.extract_documents` — pass False on
    clusters with preemptible executors to trade re-scans for plain
    lineage recompute, or ``"replicated"`` to keep the single-scan plan
    on a replicated, recomputable ``MEMORY_AND_DISK_2`` persist.
    """
    spans = (
        shared_exploded_spans(documents,
                              replicated=share_spans == "replicated")
        if share_spans else None
    )
    buckets = real_page_buckets(
        documents, media, bucket_pages, broadcast_spans, spans=spans,
        slice_payloads=slice_payloads,
    )
    blocks = ocr_real_blocks(buckets, num_partitions)
    return assemble_spans(documents, blocks, spans=spans)
