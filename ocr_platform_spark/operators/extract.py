"""The extraction pipeline as a Spark DataFrame job (SURVEY.md §3.4).

Replaces the reference's HTTP/Redis/Postgres/S3 process hops
(``apps/worker/app/tasks/ocr_tasks.py``) with Spark's own exchange points:

    documents ─ explode(spans) ─┬─ text spans ── unicode-trim passthrough ──┐
                                └─ media spans ⋈ media payloads             │
                                    │ mapInPandas PROBE (cheap):            │
                                    │   media_kind → K-page buckets, each   │
                                    │   its pages' walked parts or a        │
                                    │   sliced PDF/TIFF/GIF/SPDF1           │
                                    │ repartition(bucket key) ← skew spread │
                                    │ mapInPandas OCR (heavy):              │
                                    │   _flow(parts) | TIERS[kind].pages →  │
                                    │   one emitter:                        │
                                    │   text parts as blocks; rasters →     │
                                    │   detect → lazy preprocess crops →    │
                                    │   strips → recognize → trim → blocks  │
                                    └──────────────┬─────────────────────────┘
                                                   union (+1 sentinel/doc)
                                    groupBy(doc_id) → sort_array(collect_list)
                                    by (offset, page, y1, x1, block_index)
                                    drop sentinel tail (no re-join needed)

ONE pipeline for every media kind: the deep probe
(:func:`..multimodal.probe_real_media`) names each payload's
``media_kind`` and its row in the tier table (:data:`..tiers.TIERS`)
decides the rest — the synthetic SPDF1/SIMG1 containers included. Each
stage is one function: :func:`decode_pages`, :func:`ocr_blocks`,
:func:`media_errors` and :func:`extract_documents`, at
:data:`DEFAULT_BUCKET_PAGES` (one) page per bucket unless the caller
passes ``bucket_pages``. :mod:`.extract_real` re-exports them under
their real-codec names (the same function objects).

1. **probe** (``mapInPandas`` over spans⋈payloads, in the media
   scan's partitioning — see :func:`decode_pages`): transport
   wrappers inflate once, the deep probe validates the payload
   (quarantining what the OCR stage could not decode as one
   ``media_kind=error`` row, before any payload is duplicated), and
   the media explodes into page *buckets* of ``bucket_pages`` pages.
   A container kind (DOCX, ODT, RTF, HTML, EML, PPTX, EPUB, mbox,
   XLSX) was walked once by the deep probe: each bucket row carries
   its own pages' walked parts (``parts``: text parts and pictures'
   bytes, no payload), so the OCR stage never parses the container
   again. A multi-bucket PDF, TIFF, GIF or SPDF1 payload is cut by its
   tier's slicer, parsed once: each bucket row carries a minimal
   sub-document holding only its own pages. Either way the document
   crosses the bucket shuffle ~once in total (a one-page SPDF1 slice
   is ~200 bytes).
2. **repartition** on ``(doc_id, offset, bucket_index)``
   (:func:`_spread`), the skew fix: a 2,000-page PDF becomes ⌈2000/K⌉
   independent tasks instead of one straggler (SURVEY.md §4; AQE alone
   cannot split one huge row).
3. **OCR** (``mapInPandas``): each bucket decodes only its own pages
   — walked parts through :func:`..tiers._flow`, a payload through
   ``TIERS[kind].pages``; pixels exist only inside this UDF —
   and one emitter (:func:`_emit_page`) turns each page into ``BLOCK``
   rows: a lone raster (every synthetic and scanned page) OCRs in its
   own pixel space through the one detect + recognize kernel
   (:func:`_ocr_rows`). Anywhere else, the part at ordinal ``i`` emits
   at ``y1 = i`` — a text part as ``(x1=0, y1=i)``, a picture as its
   OCR blocks at ``(x1=reading rank, y1=i)`` — so the assembler's
   per-page sort key lands a picture's text exactly between its
   neighbours; page ``page_lo + i`` numbering survives slicing.
4. **assemble** (:func:`assemble_spans`): the sentinel-based re-emit of
   each document's interleaved span array.

Every OCR semantics runs over every kind of page through the one
per-bucket loop (:func:`_ocr_bucket`) and the one page emitter
(:func:`_emit_page`); the variants differ only in the kernel run on a
lone-raster page:

* :func:`extract_documents`: a text page emits its text blocks, a mixed
  page its text blocks and its pictures' OCR blocks, a lone-raster page
  detect + recognize (:func:`_ocr_rows`).
* :func:`extract_documents_fused`: text and mixed pages as
  :func:`extract_documents`; a lone raster runs the one-shot fused
  kernel (:func:`_ocr_rows_fused`).
* :func:`detect_boxes_table`: boxes for lone-raster pages only; a text
  or mixed page yields no row and no error.
* :func:`extract_documents_two_phase`: text and mixed pages as
  :func:`extract_documents` (boxes given for them are ignored); a lone
  raster is recognized from its boxes and emits nothing without any.
  With ``edited_boxes=None`` the output equals :func:`extract_documents`.

Scale rationale (100 TB / 10^12 docs):

* **Joins**: spans⋈media broadcasts the narrow span-ref side (see
  :func:`decode_pages`); assembly needs no doc_id re-join
  (sentinel rows).
* **All relational glue is stock Catalyst** (repartition, collect_list,
  union, joins) — predicate pushdown and column pruning reach the
  parquet scans.

Each decision has one home: :func:`decode_pages` (the span-ref ⋈
payload join and its missing-payload anti-join), :func:`_spread`
(error-row filter + the skew repartition in front of every heavy
stage), :func:`_bucket_pages` (a bucket row's decoded pages),
:func:`_ocr_rows` (the detect + recognize kernel, also run from given
boxes), :func:`_ocr_bucket` (the per-bucket loop), :func:`_emit_page`
(a decoded page -> blocks), :func:`_emit_blocks` (the one ``BLOCK``
emitter) and :func:`_block_frame` (the one ``BLOCK`` frame builder).

Per-row reference semantics are inherited from :mod:`ocr_platform_spark.oracle`
kernels — the heavy UDF is the fused detect+recognize of
``run_job`` (``ocr_tasks.py:108-118``) + ``run_ocr_with_boxes``
(``libs/ocr_core/ocr_core/pipeline/orchestrator.py:116-174``): batch mode has
no human box-editing step, so ``detect_result`` flows through unchanged and
fusing the two phases is semantics-preserving (the optional persisted
detect-boxes boundary is exposed separately via :func:`detect_boxes_table`).

Equality contract (tests/test_extract_real.py): a corpus whose synthetic
media are re-encoded as real PNG files / scanned PDFs at identity scale
extracts exactly the same spans as the synthetic corpus.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import formats, kernels, multimodal, raster, tiers, transport
from ..schemas import BLOCK, SPAN
from ..tiers import TIERS


# --- stage 1: probe (cheap page-bucket explode) ------------------------------

MEDIA_KIND_ERROR = formats.MEDIA_KIND_ERROR  # quarantined payloads (shared sentinel)

#: pages per bucket row (K) of :func:`decode_pages`. K pages of work
#: bound each OCR task; a sliced payload crosses the bucket shuffle about
#: once at any K, plus a per-slice overhead that grows as K shrinks. One
#: page per bucket measured within the runs' spread of eight on both
#: perfbench workloads (docs/SCALE.md "One page per bucket").
DEFAULT_BUCKET_PAGES = 1

#: the type of :data:`BUCKET`'s ``parts`` column: a container page's
#: walked parts, each a text part (``data`` null) or a picture's bytes,
#: ``page`` the page's ordinal within its bucket
PARTS = "array<struct<page:int,text:string,data:binary>>"

#: the probe stage's output: one row per page bucket, carrying either a
#: payload (``data``) or, for a container kind, its pages' ``parts``;
#: ``sliced`` means the row holds only its own pages (a slice or parts)
BUCKET = (
    "doc_id string, offset int, media_ref string, media_kind string, "
    "bucket_index int, page_lo int, page_hi int, error string, "
    f"sliced boolean, data binary, parts {PARTS}"
)

#: the :data:`BUCKET` columns, in order
_BUCKET_ROW = ("doc_id", "offset", "media_ref", "media_kind",
               "bucket_index", "page_lo", "page_hi", "error", "sliced",
               "data", "parts")


def _part_rows(pages: list[list[tuple]]) -> list[dict]:
    """Walked pages (:func:`..multimodal._probe_walk`) -> their bucket
    row's ``parts`` (:data:`PARTS`)."""
    return [{"page": i, "text": None if p[0] == "media" else p[-1],
             "data": p[-1] if p[0] == "media" else None}
            for i, parts in enumerate(pages) for p in parts]


def _bucket_batches_fn(bucket_pages: int | None):
    """Stage-1 kernel, the ``_raw_to_pages`` dispatch
    (``ocr_tasks.py:34-55``) without rasterizing. The probe is
    :func:`..multimodal.probe_real_media` with ``deep=True`` (the full
    parse for the synthetic containers; hybrid per-page walk for PDFs;
    chunk-CRC / marker-bounds checks for PNG/JPEG; the tier's own part
    walk for the container kinds), so truncated/corrupt payloads
    quarantine HERE, with a triage row, instead of silently dropping at
    the OCR stage. Residual (undetectable-at-probe) corruption is
    entropy-level only: JPEG entropy bits carry no checksum, and a PDF
    image stream can hold a structurally-valid but broken body; those
    degrade to zero blocks at decode (see :func:`_bucket_pages`)."""
    def _bucket_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, offset, ref, data in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["data"]
            ):
                try:
                    # compressed transport wrappers (.html.gz /
                    # .txt.bz2 / .xml.xz) inflate ONCE here, before
                    # probe and slicing, so every downstream feature
                    # (per-page slices, hybrid dispatch, tier
                    # extraction) sees the inner document; corruption /
                    # bombs / over-nesting quarantine like any other
                    # probe failure (..transport module docstring).
                    # bytes() sits inside the try so a NULL payload
                    # quarantines instead of failing the stage.
                    raw = transport.maybe_unwrap(bytes(data))
                    kind, n_pages, _w, _h, walked = multimodal._probe(
                        raw, True)
                except Exception as exc:
                    # At 10^12 docs a malformed blob must not fail the
                    # job (reference analog: per-job FAILED status +
                    # error column, ``ocr_tasks.py:125-128``): one
                    # narrow error row, before the payload is
                    # duplicated; the doc still re-emits its surviving
                    # spans.
                    rows.append((doc_id, offset, ref, MEDIA_KIND_ERROR,
                                 -1, -1, -1, str(exc)[:200], False, None,
                                 None))
                    continue
                k = bucket_pages or max(1, n_pages)
                lows = range(0, max(1, n_pages), k)
                payloads = None  # None: the full payload in every row
                slicer = TIERS[kind].slicer
                if slicer is not None and len(lows) > 1:
                    # the slicer parses the document once; each bucket
                    # row then carries a minimal sub-document (only its
                    # own pages) instead of a full-payload copy, so the
                    # document crosses the bucket shuffle ~once in total
                    # instead of ⌈pages/K⌉ times
                    try:
                        cut = slicer(raw)
                        payloads = [cut(range(lo, min(n_pages, lo + k)))
                                    for lo in lows]
                    except ValueError:
                        # error handling for outside input: none of the
                        # dispatch fuzz's 238 admitted multi-page mutants
                        # reaches it, as the probe reads every byte the
                        # TIFF and SPDF1 slicers do; a PDF or GIF slicer
                        # refusing what its probe admitted would. The
                        # document becomes ONE whole-payload bucket, the
                        # ``bucket_pages=None`` shape, so it ships once
                        # at any K
                        lows, k = [0], max(1, n_pages)
                for b, lo in enumerate(lows):
                    hi = min(n_pages, lo + k)
                    if walked is not None:
                        # a container kind ships its pages' walked
                        # parts: the OCR stage never parses it again
                        body, parts = None, _part_rows(walked[lo:hi])
                    else:
                        body = raw if payloads is None else payloads[b]
                        parts = None
                    rows.append((doc_id, offset, ref, kind, b, lo, hi,
                                 None, body is not raw, body, parts))
            res = pd.DataFrame(rows, columns=_BUCKET_ROW)
            for c in ("offset", "bucket_index", "page_lo", "page_hi"):
                res[c] = res[c].astype("int32")
            yield res

    return _bucket_batches


# --- stage 2: heavy OCR (decode -> detect -> recognize) ----------------------


#: the ``BLOCK`` columns, in the row order :func:`_emit_blocks` appends
_BLOCK_COLS = tuple(f.name for f in BLOCK.fields)

_INT_BLOCK_COLS = [
    "offset", "page_index", "block_index",
    "x1", "y1", "x2", "y2", "page_width", "page_height",
]

#: the bucket columns every per-bucket OCR kernel takes, in order
_BUCKET_COLS = ("doc_id", "offset", "media_ref", "media_kind", "page_lo",
                "page_hi", "sliced", "data", "parts")

#: the columns of :func:`detect_boxes_table`, in order
_BOX_COLS = ("doc_id", "offset", "media_ref", "page_index", "width", "height",
             "block_index", "x1", "y1", "x2", "y2")


def _walked_pages(parts, n: int) -> list[list[tuple]]:
    """A bucket row's ``parts`` (:data:`PARTS`) -> its ``n`` pages of
    walk parts, ``("text", text)`` or ``("media", payload)``: the input
    of :func:`..tiers._flow`."""
    pages: list[list[tuple]] = [[] for _ in range(n)]
    for p in parts:
        pages[p["page"]].append(("text", p["text"]) if p["data"] is None
                                else ("media", p["data"]))
    return pages


def _bucket_pages(kind: str, lo: int, hi: int, sliced: bool,
                  data: bytes | None, parts, only: int | None = None,
                  ) -> list[tuple]:
    """One bucket row -> its decoded ``(page_index, parts, width,
    height)`` pages: a container kind's walked ``parts`` through
    :func:`..tiers._flow`, a payload through ``TIERS[kind].pages`` (see
    :mod:`..tiers`); ``only`` (a global page index) decodes that one
    page alone.

    The tier lookup sits OUTSIDE the try: a probe kind with no tier is a
    programming error and must fail loudly, not extract nothing. The
    decode sits inside it: residual corruption past the probe
    (entropy-level only — JPEG entropy bits carry no checksum; a PDF
    image stream body can be broken behind a valid structure) drops the
    bucket ATOMICALLY to zero pages, the empty-page-passthrough
    contract, rather than failing the job; everything structurally
    detectable already quarantined with a triage row at probe time. A
    sliced row holds ONLY this bucket's pages (local indices
    0..hi-lo); global numbering still comes from ``page_lo``."""
    if kind == MEDIA_KIND_ERROR:
        return []
    pages = TIERS[kind].pages
    lo = int(lo)
    if only is None:
        first, indices = lo, None if sliced else list(range(lo, int(hi)))
    else:
        first = int(only)
        indices = [first - lo if sliced else first]
    try:
        if parts is None:
            decoded = pages(bytes(data), indices)
        else:
            walked = _walked_pages(parts, int(hi) - lo)
            decoded = [(tiers._flow(walked[i]), 0, 0)
                       for i in indices or range(len(walked))]
    except Exception:
        return []
    return [(first + i, page, w, h)
            for i, (page, w, h) in enumerate(decoded)]


def _lone_raster(parts: list) -> np.ndarray | None:
    """The page's raster when the page is exactly one raster, else None."""
    if len(parts) == 1 and isinstance(parts[0], np.ndarray):
        return parts[0]
    return None


def _ocr_rows(img: np.ndarray, boxes: list | None = None,
             size: tuple[int, int] = (0, 0)) -> list[tuple]:
    """Detect + recognize one already-rendered grayscale page raster ->
    ``(x1, y1, x2, y2, text, conf, page_width, page_height)`` rows in
    detector order, the input of :func:`_emit_blocks`.

    The OCR core shared by every stage that recognizes a raster: the
    one bucket OCR stage (lone-raster pages and embedded pictures) and
    the two-phase recognize from (possibly edited) ``boxes``, so they
    cannot drift: identical detect-on-raw-page, PrepView crop scaling,
    strip recognition, length-align truncation. ``boxes`` skips
    detection; ``size`` is the detect-time ``(width, height)`` the boxes
    are in, where 0 falls back to the raster's own dimension.
    """
    h_img, w_img = img.shape[:2]
    w_orig = int(size[0]) or w_img
    h_orig = int(size[1]) or h_img
    if boxes is None:
        # detect phase: on the raw rendered page (run_job does NOT
        # preprocess before detect — ocr_tasks.py:110-111)
        boxes = kernels.detect_text_boxes(img)
    if not boxes:
        return []  # empty-page passthrough: zero block rows (orchestrator.py:133-137)
    # recognize phase: run_ocr_with_boxes (orchestrator.py:139-172)
    prep = raster.PrepView(img)
    w_prep, h_prep = prep.size
    sx = w_prep / w_orig if w_orig else 1.0
    sy = h_prep / h_orig if h_orig else 1.0
    crops = [prep.crop((int(x1 * sx), int(y1 * sy), int(x2 * sx), int(y2 * sy)))
             for (x1, y1, x2, y2) in boxes]
    rec = kernels.predict_batch(
        crops, original_heights=[y2 - y1 for (_x1, y1, _x2, y2) in boxes])
    # ORIGINAL coords kept (orchestrator.py:163); zip length-aligns (:158)
    return [(*b, text, conf, w_orig, h_orig)
            for b, (text, conf) in zip(boxes, rec)]


def _emit_blocks(out: dict[str, list], doc_id: str, offset: int, ref: str,
                page_index: int, rows) -> None:
    """The one ``BLOCK`` emitter: appends ``(x1, y1, x2, y2, text, conf,
    page_width, page_height)`` rows to ``out`` with the row ordinal as
    ``block_index`` and the text unicode-stripped (``postprocess.py:4-6``)."""
    for bi, (x1, y1, x2, y2, text, conf, w, h) in enumerate(rows):
        for name, v in zip(_BLOCK_COLS, (doc_id, offset, ref, page_index, bi,
                                         x1, y1, x2, y2, text.strip(), conf,
                                         w, h)):
            out[name].append(v)


def _block_frame(pdf: pd.DataFrame, cols, page_fn) -> pd.DataFrame:
    """The one ``BLOCK`` frame builder: ``page_fn(*row, out)`` over the
    ``cols`` of each input row, then the schema's int32/float64 dtypes."""
    out: dict[str, list] = {name: [] for name in _BLOCK_COLS}
    for row in zip(*(pdf[c] for c in cols)):
        page_fn(*row, out)
    res = pd.DataFrame(out)
    for c in _INT_BLOCK_COLS:
        res[c] = res[c].astype("int32")
    res["conf"] = res["conf"].astype("float64")
    return res


def _emit_page(doc_id: str, offset: int, ref: str, page_index: int,
               parts: list, page_w: int, page_h: int,
               out: dict[str, list], kernel=_ocr_rows) -> None:
    """The one place a decoded page becomes ``BLOCK`` rows, under the
    module docstring's coordinate rule, through the shared emitter
    (:func:`_emit_blocks`). A lone raster emits ``kernel(raster)``'s rows
    in its own pixel space: the detect + recognize default
    (:func:`_ocr_rows`), the fused one-shot kernel
    (:func:`_ocr_rows_fused`) or a recognize from given boxes. Every
    other page emits the same way under every kernel: text blocks at
    ``conf=1.0`` (the source text is authoritative — there is no
    recognition uncertainty to score; empty ones drop) and interleaved
    pictures through :func:`_ocr_rows`, each row carrying the page's
    ``page_w x page_h``."""
    img = _lone_raster(parts)
    if img is not None:
        _emit_blocks(out, doc_id, offset, ref, page_index, kernel(img))
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


def _ocr_bucket(doc_id: str, offset: int, ref: str, kind: str, lo: int,
                hi: int, sliced: bool, data: bytes | None, parts,
                out: dict[str, list], kernel=_ocr_rows,
                only: int | None = None) -> None:
    """The one per-bucket loop of every OCR semantics: each decoded page
    of the bucket (or its page ``only``) through :func:`_emit_page`
    with the lone-raster ``kernel``."""
    # decode inside _bucket_pages' try, emission outside it: an
    # OCR/kernel failure propagates LOUDLY instead of leaving a
    # silently part-extracted document
    for page_index, page, page_w, page_h in _bucket_pages(
            kind, lo, hi, sliced, data, parts, only):
        _emit_page(doc_id, int(offset), ref, page_index, page, page_w,
                   page_h, out, kernel)


def _ocr_real_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    return _block_frame(pdf, _BUCKET_COLS, _ocr_bucket)


def _ocr_real_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """The one OCR UDF. Iterator-form mapInPandas: one-time per-worker
    init would live here (the ``lru_cache`` model-singleton analog,
    detect.py:68 / vietocr_engine.py:47 — our kernels are stateless
    numpy, so nothing to load; the hook is kept so real weights drop in
    without a plan change). A named module function: its ``__name__``
    is what ``.explain("formatted")`` prints on the MapInPandas node."""
    for pdf in batches:
        yield _ocr_real_frame(pdf)


# --- relational glue ----------------------------------------------------------


#: every character for which ``str.isspace()`` holds (Python 3.11): what
#: ``str.strip()`` strips (``postprocess.py:6``, SURVEY.md §2.3 M11), so
#: ``F.trim`` with this set keeps text spans on the JVM
STRIP_CHARS = ("\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
               + "".join(map(chr, range(0x2000, 0x200b)))
               + "\u2028\u2029\u202f\u205f\u3000")


def exploded_spans(documents: DataFrame) -> DataFrame:
    """posexplode-style span flatten; ``offset`` is carried by the data."""
    return documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).select("doc_id", "span.kind", "span.text", "span.media_ref", "span.offset")


def shared_exploded_spans(
    documents: DataFrame, replicated: bool = False
) -> DataFrame:
    """Explode once, lazily ``localCheckpoint`` the narrow exploded frame.

    The extraction pipeline has three consumers of the exploded spans —
    media-span refs, the missing-payload anti-join, and the text-span
    passthrough. Without sharing, each consumer re-scans the ``documents``
    table and re-explodes the ``spans`` column (the bulk of the table):
    4 full input scans per run, ~4x the input I/O at 100 TB. The lazy
    checkpoint materializes the exploded frame exactly once (on the first
    stage that touches it, inside the same job) and every consumer reads
    the executor-local blocks; the only other ``documents`` access left is
    the sentinel build, which column-prunes to ``doc_id`` alone.

    Storage trade-off at scale: the frame is the corpus' span content, so
    it lands in executor memory-and-disk. That is the price of replacing
    three full re-reads of the same bytes with one — on a real cluster
    with instance-local SSD this is strictly cheaper than 3x remote-store
    I/O; for lineage-durable restarts use the per-partition resume path in
    :mod:`ocr_platform_spark.lineage` instead of RDD lineage replay.

    ``replicated=True`` (the ``share_spans="replicated"`` middle path,
    VERDICT r4 #5): persist at ``MEMORY_AND_DISK_2`` instead of the lazy
    ``localCheckpoint``. The checkpoint TRUNCATES lineage with
    non-replicated executor-local blocks — losing one executor mid-job
    on a preemptible cluster makes the job fail unrecoverably — while
    the replicated persist keeps BOTH recovery paths: a lost block is
    first served from its replica (no recompute), and if both replicas
    die, plain RDD lineage recomputes just those partitions from the
    one documents scan. Cost: 2x the frame's storage footprint and one
    extra network copy at materialization; the single-scan plan shape
    is unchanged (every consumer still reads the cached frame). Spark
    cannot GC-clean an explicit persist when the DataFrame goes
    unreferenced (unlike the eager=False checkpoint), so long-lived
    drivers looping over many corpora should unpersist between runs.
    """
    if replicated:
        from pyspark import StorageLevel

        return exploded_spans(documents).persist(
            StorageLevel.MEMORY_AND_DISK_2
        )
    return exploded_spans(documents).localCheckpoint(eager=False)


#: Catalyst-stats cap (bytes of the *documents input relation*) above which
#: the auto mode of :func:`decode_pages` refuses the spans-side broadcast
#: pin. The broadcast side is only the 3 narrow ref columns (doc_id,
#: offset, media_ref — ~50 B/span vs the table's full span text),
#: so a 32 GiB input estimate keeps the build side
#: comfortably under Spark's 8 GB broadcast hard limit.
SPAN_BROADCAST_STATS_CAP = 32 << 30

def _span_refs_fit_broadcast(documents: DataFrame) -> bool:
    """Cheap pre-flight for the pinned spans-side broadcast (no job runs).

    The decision is made from the optimized plan's LEAF relations, not the
    root estimate: Catalyst's size-only stats arithmetic inflates a join
    root to the PRODUCT of its children and scales a projection by column
    widths, so the root number can read "huge" for a small input (or
    scale an unknown sentinel below any floor) — leaf stats are the only
    numbers that still mean bytes. Rules:

    * a leaf whose estimate is the ``spark.sql.defaultSizeInBytes``
      sentinel (RDD-backed / checkpointed scans) means UNKNOWN, i.e.
      driver-materialized and bounded by construction — it neither
      blocks nor grants the pin on its own (a genuinely 100 TB corpus
      arrives as a parquet/Iceberg scan whose leaf stats ARE known file
      bytes), so it is SKIPPED, not short-circuited: a known-huge leaf
      elsewhere in the same plan (e.g. an RDD-backed dim joined against
      a whole-corpus scan) must still refuse the pin regardless of leaf
      order;
    * pin iff the summed KNOWN leaf bytes fit
      :data:`SPAN_BROADCAST_STATS_CAP` (all-unknown plans sum to 0 and
      keep the pin);
    * any JVM/py4j failure refuses the pin (fail closed: the unhinted
      plan is at worst slower; a wrongly pinned multi-TB broadcast is a
      hard job failure)."""
    try:
        spark = documents.sparkSession
        sentinel = int(spark.conf.get(
            "spark.sql.defaultSizeInBytes", str((1 << 63) - 1)
        ))
        leaves = documents._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            size = int(str(leaves.apply(i).stats().sizeInBytes()))
            if size >= sentinel:
                continue  # unknown-stats leaf: bounded by construction
            total += size
    except Exception:
        return False
    return total <= SPAN_BROADCAST_STATS_CAP


def decode_pages(
    documents: DataFrame,
    media: DataFrame,
    *,
    bucket_pages: int | None = DEFAULT_BUCKET_PAGES,
    broadcast_spans: bool | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Stage 1: media spans ⋈ payloads -> validated page-bucket rows
    (:data:`BUCKET`).

    The spans side is 3 narrow columns and is pinned as the broadcast
    build side (``broadcast_spans=True``), so the payload bytes never
    move for the join itself: the probe runs in the media scan's own
    partitioning, and the payload crosses the wire once, as bucket rows
    in the skew spread (:func:`_spread`). The hint is pinned rather
    than left to size estimates because the spans side may arrive as a
    checkpointed RDD scan (see :func:`shared_exploded_spans`) whose
    statistics are unknown — an unhinted plan would degrade to sort-merge
    and re-introduce the payload sort. ``broadcast_spans=None`` (the
    default) resolves that tension with a pre-flight on the *documents*
    relation's Catalyst stats (:func:`_span_refs_fit_broadcast`): the pin
    is released only on a KNOWN estimate past
    :data:`SPAN_BROADCAST_STATS_CAP` — i.e. a whole-corpus parquet/Iceberg
    caller at the 10^12-doc posture degrades to AQE's runtime choice
    automatically instead of hard-failing on Spark's 8 GB broadcast limit
    — while unknown-stats inputs (in-memory, RDD-backed, checkpointed)
    keep the measured-best pinned plan. An alternative "pre-partition
    both sides on media_ref + shuffle-hash join" shape was measured WORSE
    (median 9.5s vs 6.2s at the 8k-doc bench corpus, with 2-4x straggler
    outliers): it trades the broadcast for a payload shuffle keyed on
    media_ref, whose heavy-tail key distribution leaves unbalanced
    partitions. At true 10^12 scale, where the spans side outgrows
    executor memory, pass ``broadcast_spans=False`` so the join strategy
    is AQE's to pick per stage from runtime sizes. Spans whose
    ``media_ref`` has no payload row surface through the join's
    anti-join as quarantine rows.

    No repartition sits in front of the probe: the probe is cheap per
    payload (a header walk or one container parse; the OCR work comes
    after the bucket spread), so a hash spread there costs a whole
    payload shuffle and a stage for little parallelism. Measured on both
    perfbench workloads (800 pages, ``local[4]``, one media file, so one
    probe task): a ``2 x defaultParallelism`` spread cost +0.5 s wall and
    +2 CPU-s per run (docs/SCALE.md). A large media table arrives as
    many scan splits, which spread the probe already.

    ``spans``: optional pre-exploded (doc_id, kind, text, media_ref,
    offset) frame — pass :func:`shared_exploded_spans` output to share
    one materialization across the pipeline's consumers.

    ``bucket_pages``: pages per bucket (default one; ``None``: one
    bucket per media, holding all its pages). A container kind's rows
    carry their pages' walked parts at every K. A multi-bucket PDF,
    TIFF, GIF or SPDF1 payload is re-cut by its tier's slicer into
    per-bucket sub-documents (for PDFs :class:`..pdfcodec._Slicer`
    keeps only the bucket's own page/content/image objects, stream
    bytes verbatim), so the bucket shuffle moves ~size·K/pages bytes
    per row instead of ⌈pages/K⌉ full-payload copies; a payload whose
    slicer raises falls back to ONE whole-payload bucket
    (``sliced=False``, the ``bucket_pages=None`` shape), so it crosses
    the shuffle once at any K. Decode equality with the whole-payload
    bucket is test-pinned.
    """
    if spans is None:
        spans = exploded_spans(documents)
    if broadcast_spans is None:
        broadcast_spans = _span_refs_fit_broadcast(documents)
    span_refs = (
        spans
        .filter(F.col("kind") != "text")
        .select("doc_id", "offset", "media_ref")
    )
    build = F.broadcast(span_refs) if broadcast_spans else span_refs
    media_spans = build.join(media.select("media_ref", "data"), "media_ref")
    # A span whose media_ref has NO payload row must surface as a
    # quarantine row, not vanish: the inner join above would silently drop
    # it (and a left join would force the payload onto the build side,
    # breaking the measured-best broadcast plan). The anti-join is narrow
    # — only (doc_id, offset, media_ref) keys move — and feeds the same
    # media_kind=error contract media_errors() reads.
    missing = span_refs.join(
        media.select("media_ref"), "media_ref", "left_anti"
    ).select(
        "doc_id",
        "offset",
        "media_ref",
        F.lit(MEDIA_KIND_ERROR).alias("media_kind"),
        F.lit(-1).cast("int").alias("bucket_index"),
        F.lit(-1).cast("int").alias("page_lo"),
        F.lit(-1).cast("int").alias("page_hi"),
        F.lit("missing media payload").alias("error"),
        F.lit(False).alias("sliced"),
        F.lit(None).cast("binary").alias("data"),
        F.lit(None).cast(PARTS).alias("parts"),
    )
    return media_spans.mapInPandas(
        _bucket_batches_fn(bucket_pages), schema=BUCKET
    ).unionByName(missing)


def _spread(rows: DataFrame, index: str, num_partitions: int | None,
            udf, schema) -> DataFrame:
    """The one skew spread in front of a heavy stage: drop the quarantine
    rows, hash-repartition on ``(doc_id, offset, index)`` into
    ``num_partitions`` (default 3x cluster parallelism), then run ``udf``.

    The count is explicit: partition cost here is per-*row* CPU, not
    bytes, and AQE's byte-based coalescing would otherwise squash a
    shuffle of small rows (~200-byte one-page sub-containers) into one
    partition and serialize the CPU-bound stage."""
    if num_partitions is None:
        num_partitions = 3 * rows.sparkSession.sparkContext.defaultParallelism
    rows = rows.filter(F.col("media_kind") != MEDIA_KIND_ERROR)
    rows = rows.repartition(num_partitions, "doc_id", "offset", index)
    return rows.mapInPandas(udf, schema=schema)


def ocr_blocks(
    buckets: DataFrame, num_partitions: int | None = None,
) -> DataFrame:
    """Stage 2: bucket rows -> OCR block rows, behind the explicit skew
    repartition on the bucket key (:func:`_spread`; SURVEY.md §4: AQE
    can't split one huge doc, hashing (doc_id, offset, bucket_index)
    can). Each bucket decodes through its kind's :data:`..tiers.TIERS`
    entry."""
    return _spread(buckets, "bucket_index", num_partitions,
                   _ocr_real_batches, BLOCK)


def media_errors(buckets: DataFrame) -> DataFrame:
    """Quarantine table: probe-time failures and missing payloads (the
    FAILED status + ``error`` column analog, ``apps/worker/app/tasks/
    ocr_tasks.py:125-128``); write alongside lineage for triage/re-run."""
    return buckets.filter(F.col("media_kind") == MEDIA_KIND_ERROR).select(
        "doc_id", "offset", "media_ref", "error"
    )


def reading_ordered_blocks(blocks: DataFrame) -> DataFrame:
    """Reading-order rank per page: ``y1`` asc, ``x1`` asc
    (``json-editor.component.ts:157-161``), emission index as total-order
    tie-break (SURVEY.md §7.3 item 2)."""
    w = Window.partitionBy("doc_id", "offset", "page_index").orderBy(
        "y1", "x1", "block_index"
    )
    return blocks.withColumn("rank", F.row_number().over(w))


def assemble_spans(
    documents: DataFrame, blocks: DataFrame, spans: DataFrame | None = None
) -> DataFrame:
    """Union text-span passthrough with OCR spans, assign the document-global
    emission order, re-aggregate to the input schema (O4/A5 in SURVEY.md §2).

    The per-page reading-order rank (y1, x1, emission index — O1) is fused
    into the single document-global window: within one page the sort key
    ``(offset, page_index, y1, x1, block_index)`` induces exactly the
    per-page rank order, so ranking separately first would only add a
    second full shuffle+sort of the block rows for the same total order
    (:func:`reading_ordered_blocks` stays available as the standalone
    operator / checkpoint boundary).

    ``spans``: optional pre-exploded frame (see
    :func:`shared_exploded_spans`); the sentinel build below stays on
    ``documents`` on purpose — it needs one row per *document* (empty-span
    docs included, which the exploded frame cannot supply without an
    outer explode + distinct shuffle) and column-prunes to ``doc_id``
    alone, so its scan reads a single string column.
    """
    if spans is None:
        spans = exploded_spans(documents)
    text_spans = (
        spans
        .filter(F.col("kind") == "text")
        .select(
            "doc_id",
            "offset",
            F.lit(-1).cast("int").alias("page_index"),
            F.lit(0).cast("int").alias("y1"),
            F.lit(0).cast("int").alias("x1"),
            F.lit(0).cast("int").alias("block_index"),
            F.coalesce(F.trim("text", F.lit(STRIP_CHARS)), F.lit(""))
            .alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
        )
    )
    ocr_spans = blocks.select(
        "doc_id", "offset", "page_index", "y1", "x1", "block_index",
        "text", "media_ref",
    )
    # One SENTINEL row per input document (offset = int32 max sorts
    # strictly after every real span) rides through the same window +
    # groupBy and is dropped from the tail of the assembled array. This
    # keeps media-only docs with zero blocks (and fully empty docs) in
    # the output WITHOUT a final documents⋈grouped join — the join cost
    # an extra exchange + sort of the documents side at every corpus
    # size, pure fixed overhead on the critical tail (doc_ids are unique
    # per the input contract, so one sentinel == one group member).
    _imax = 2**31 - 1
    sentinel = documents.select(
        "doc_id",
        F.lit(_imax).cast("int").alias("offset"),
        F.lit(_imax).cast("int").alias("page_index"),
        F.lit(_imax).cast("int").alias("y1"),
        F.lit(_imax).cast("int").alias("x1"),
        F.lit(_imax).cast("int").alias("block_index"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
    )
    all_spans = text_spans.unionByName(ocr_spans).unionByName(sentinel)
    # The document-global emission order is computed WITHOUT a window:
    # collect each doc's spans with their full sort key, sort_array once
    # (the key prefix (offset, page_index, y1, x1, block_index) is a
    # strict total order per doc, so the trailing text/media_ref fields
    # are never consulted), and let the indexed ``transform`` lambda
    # assign ord = array position. A row_number window would first sort
    # every shuffle partition whole (WindowExec, breaking whole-stage
    # codegen) and then sort_array would re-sort per doc anyway — one
    # full sort pass of pure fixed overhead on the critical tail.
    grouped = all_spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "offset", "page_index", "y1", "x1", "block_index",
                    "text", "media_ref",
                )
            )
        ).alias("spans_all")
    )
    spans = F.transform(
        F.expr("slice(spans_all, 1, size(spans_all) - 1)"),  # drop sentinel
        lambda s, i: F.struct(
            F.lit("text").alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return grouped.select(
        "doc_id",
        spans.cast(f"array<{SPAN.simpleString()}>").alias("spans"),
    )


def extract_documents(
    documents: DataFrame,
    media: DataFrame,
    *,
    bucket_pages: int | None = DEFAULT_BUCKET_PAGES,
    num_partitions: int | None = None,
    broadcast_spans: bool | None = None,
    share_spans: "bool | str" = True,
) -> DataFrame:
    """End-to-end: documents + media -> documents_out with extracted spans.

    The ``documents`` table is read ONCE for span content (shared lazy
    localCheckpoint of the exploded frame, :func:`shared_exploded_spans`)
    plus one doc_id-only pruned scan for the sentinel — down from 4 full
    scans (VERDICT r2 #1). ``broadcast_spans`` defaults to the stats-guarded
    auto mode: the spans-side broadcast hint in the payload join is
    released to AQE only when the input relation's Catalyst estimate is
    KNOWN to exceed :data:`SPAN_BROADCAST_STATS_CAP` (unknown stats keep
    the pin — see :func:`decode_pages`); pass True/False to force
    either plan. ``bucket_pages``: see :func:`decode_pages`.

    Executor-loss caveat (``share_spans``): the lazy ``localCheckpoint``
    truncates RDD lineage with NON-replicated executor-local blocks — on a
    cluster with preemptible/spot executors, losing one executor mid-job
    makes this one Spark job fail UNRECOVERABLY (no recompute path) instead
    of recomputing the lost partitions. Inside
    :func:`ocr_platform_spark.lineage.run_extract_job` that is absorbed by
    per-chunk resume; a direct caller without a resume wrapper on a
    preemptible cluster has two options: ``share_spans=False`` trades the
    single-scan plan for plain recomputable lineage (the pre-r3 4-scan
    shape), and ``share_spans="replicated"`` keeps the single-scan plan
    on a ``MEMORY_AND_DISK_2`` persist — replicated AND recomputable
    (see :func:`shared_exploded_spans`; docs/SCALE.md "share_spans
    modes" for when each wins)."""
    spans = (
        shared_exploded_spans(documents,
                              replicated=share_spans == "replicated")
        if share_spans else None
    )
    buckets = decode_pages(documents, media, bucket_pages=bucket_pages,
                           broadcast_spans=broadcast_spans, spans=spans)
    blocks = ocr_blocks(buckets, num_partitions)
    return assemble_spans(documents, blocks, spans=spans)


def _ocr_rows_fused(img: np.ndarray) -> list[tuple]:
    """One lone raster under the one-shot fused semantics
    (``orchestrator.py:34-113``, exact port pinned by
    :func:`ocr_platform_spark.oracle.run_ocr_fused`) -> the rows of
    :func:`_emit_blocks`: preprocess BEFORE detect, boxes emitted in
    preprocessed coords (no scale-back), recognize without original
    heights (strip split keys off crop height only). Detection scans the
    whole page, so the preprocessed raster is materialized eagerly — the
    lazy ``PrepView`` window trick only pays when downstream reads are
    sparse crops of an un-detected page."""
    img = raster.preprocess_image(img)
    h_prep, w_prep = img.shape[:2]
    boxes = kernels.detect_text_boxes(img)
    rec = kernels.predict_batch([raster.crop(img, b) for b in boxes])
    # PREPROCESSED coords, verbatim; zip length-aligns (orchestrator.py:75)
    return [(*b, text, conf, w_prep, h_prep)
            for b, (text, conf) in zip(boxes, rec)]


def _ocr_batches_fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield _block_frame(pdf, _BUCKET_COLS,
                           partial(_ocr_bucket, kernel=_ocr_rows_fused))


def ocr_blocks_fused(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Fused-semantics twin of :func:`ocr_blocks` over the same bucket rows
    (:func:`decode_pages`): same skew-spreading bucket repartition and
    per-bucket loop, a different lone-raster kernel (one-shot ``run_ocr``
    coordinate convention — VERDICT round 1 "What's missing" #4); text
    and mixed pages emit exactly as in :func:`ocr_blocks`."""
    return _spread(pages, "bucket_index", num_partitions, _ocr_batches_fused,
                   BLOCK)


def extract_documents_fused(
    documents: DataFrame,
    media: DataFrame,
    num_partitions: int | None = None,
    broadcast_spans: bool | None = None,
) -> DataFrame:
    """End-to-end extraction under the one-shot fused ``run_ocr`` semantics:
    blocks carry preprocessed-image coordinates and crop-height-keyed strip
    splits. The relational plan (probe explode, bucket repartition, sentinel
    assembly) is shared with :func:`extract_documents` — only the in-UDF
    per-page kernel differs, so every 100-TB posture argument (incl. the
    localCheckpoint executor-loss caveat documented there) carries over."""
    sp = shared_exploded_spans(documents)
    pages = decode_pages(documents, media, spans=sp, broadcast_spans=broadcast_spans)
    blocks = ocr_blocks_fused(pages, num_partitions=num_partitions)
    return assemble_spans(documents, blocks, spans=sp)


def detect_boxes_table(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """The persisted detect/recognize boundary (FIXTURES.md §3) — the
    ``detect_result`` column analog (``apps/worker/app/db/models.py:26``),
    for workflows that checkpoint detect output before recognition.
    ``pages``: bucket rows (:func:`decode_pages`). Only lone-raster pages
    have boxes: a text or mixed page yields no row (its recognize emits
    it as :func:`ocr_blocks` does, see :func:`recognize_with_boxes`)."""

    def _detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for (doc_id, offset, ref, kind, lo, hi, sliced, data,
                 parts) in zip(*(pdf[c] for c in _BUCKET_COLS)):
                for page_index, page, _w, _h in _bucket_pages(
                        kind, lo, hi, sliced, data, parts):
                    img = _lone_raster(page)
                    if img is None:
                        continue
                    h, w = img.shape[:2]
                    rows.extend(
                        (doc_id, offset, ref, page_index, w, h, i, *box)
                        for i, box in enumerate(kernels.detect_text_boxes(img))
                    )
            res = pd.DataFrame(rows, columns=_BOX_COLS)
            for c in ("offset", *_BOX_COLS[3:]):
                res[c] = res[c].astype("int32")
            yield res

    # same bucket-key skew spread as ocr_blocks: without it the stage
    # inherits the probe's (doc_id, offset) partitioning and one
    # heavy-tail PDF's render+detect serializes on a single task. offset
    # is part of the key: the same media_ref may be referenced by several
    # spans of one document; detect/recognize state is per span
    return _spread(pages, "bucket_index", num_partitions, _detect, schema=(
        "doc_id string, offset int, media_ref string, page_index int, "
        "width int, height int, block_index int, x1 int, y1 int, "
        "x2 int, y2 int"
    ))


# --- two-phase path: recognize from (possibly human-edited) boxes ------------


def _recognize_bucket(doc_id: str, offset: int, ref: str, kind: str,
                      lo: int, hi: int, sliced: bool, data: bytes | None,
                      parts, page_index: int, xs1, ys1, xs2, ys2,
                      width: int, height: int,
                      out: dict[str, list]) -> None:
    # a page the left join found no boxes for has null lists: as a lone
    # raster it emits nothing (the empty-page passthrough)
    boxes, size = [], (0, 0)
    if xs1 is not None:
        boxes = list(zip(map(int, xs1), map(int, ys1),
                         map(int, xs2), map(int, ys2)))
        size = (width, height)
    # decode the row's own page only, not the whole bucket
    _ocr_bucket(doc_id, offset, ref, kind, lo, hi, sliced, data, parts, out,
                kernel=lambda img: _ocr_rows(img, boxes, size),
                only=page_index)


def _recognize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """run_ocr_with_boxes semantics (``orchestrator.py:116-174``): boxes
    arrive in detect_result original-page coordinates; scale to the
    preprocessed raster for cropping, keep original coords + heights —
    the shared kernel :func:`_ocr_rows` run from the given boxes."""
    for pdf in batches:
        yield _block_frame(pdf, _BUCKET_COLS + ("page_index", "xs1", "ys1",
                                                "xs2", "ys2", "width",
                                                "height"),
                           _recognize_bucket)


def recognize_with_boxes(
    pages: DataFrame, boxes: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Recognition phase driven by a (possibly human-edited) boxes table —
    the ``run_ocr_job`` path (``ocr_tasks.py:192-254``): detect output is
    persisted/edited, recognition re-runs from it.

    ``pages``: bucket rows (:func:`decode_pages`); each page of a
    bucket's ``[page_lo, page_hi)`` range left-joins its boxes, and the
    task decodes that one page of the bucket and emits it through
    :func:`_emit_page`. ``boxes``: output shape of
    :func:`detect_boxes_table` (block_index gives the detector/editor
    emission order; ``width``/``height`` are the detect-time original
    page dims that the crop scaling must use; 0 falls back to the
    rendered page's own dimension). A lone-raster page is recognized
    from its boxes; without boxes it is the empty-page passthrough
    (orchestrator.py:133-137): no blocks, and a page of a
    :data:`..tiers.RASTER_PAGE_KINDS` kind is then not decoded at all.
    Any other page (text, mixed) emits as in :func:`ocr_blocks` and its
    boxes, if any, are ignored.
    """
    per_page = boxes.groupBy("doc_id", "offset", "media_ref", "page_index").agg(
        F.sort_array(
            F.collect_list(F.struct("block_index", "x1", "y1", "x2", "y2"))
        ).alias("bs"),
        F.first("width").alias("width"),
        F.first("height").alias("height"),
    ).select(
        "doc_id", "offset", "media_ref", "page_index", "width", "height",
        F.transform("bs", lambda b: b["x1"]).alias("xs1"),
        F.transform("bs", lambda b: b["y1"]).alias("ys1"),
        F.transform("bs", lambda b: b["x2"]).alias("xs2"),
        F.transform("bs", lambda b: b["y2"]).alias("ys2"),
    )
    page_rows = pages.filter(F.col("page_hi") > F.col("page_lo")).withColumn(
        "page_index", F.explode(F.sequence("page_lo", F.col("page_hi") - 1)))
    # inner join for the kinds whose pages are all lone rasters: such a
    # page without boxes would be decoded only to emit nothing
    joined = page_rows.join(
        per_page, ["doc_id", "offset", "media_ref", "page_index"], "left"
    ).filter(F.col("xs1").isNotNull()
             | ~F.col("media_kind").isin(*sorted(tiers.RASTER_PAGE_KINDS)))
    return _spread(joined, "page_index", num_partitions, _recognize_batches,
                   BLOCK)


def extract_documents_two_phase(
    documents: DataFrame,
    media: DataFrame,
    edited_boxes: DataFrame | None = None,
    num_partitions: int | None = None,
    broadcast_spans: bool | None = None,
) -> DataFrame:
    """The reference's two-phase workflow (detect → [human edit] →
    recognize), end-to-end: with ``edited_boxes=None`` the detect phase
    runs inline and the result equals :func:`extract_documents` exactly,
    on every kind of page; passing an edited boxes table replays
    recognition of the lone-raster pages from the edits.

    ``pages`` is lazily localCheckpoint-ed: the detect and recognize
    phases both consume it, and without the share each re-runs the full
    payload join + probe (same executor-loss caveat as
    :func:`extract_documents` — checkpoint blocks are not replicated, so
    on preemptible clusters wrap with the lineage resume path)."""
    sp = shared_exploded_spans(documents)
    pages = decode_pages(documents, media, spans=sp, broadcast_spans=broadcast_spans)
    if edited_boxes is None:
        pages = pages.localCheckpoint(eager=False)
        boxes = detect_boxes_table(pages, num_partitions=num_partitions)
    else:
        boxes = edited_boxes
    blocks = recognize_with_boxes(pages, boxes, num_partitions=num_partitions)
    return assemble_spans(documents, blocks, spans=sp)
