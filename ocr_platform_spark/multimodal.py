"""Multimodal (binary-column) plumbing: opaque payload bytes + typed
metadata, processed by Arrow-batched ``mapInPandas`` UDFs.

The pattern a 100 TB training-data pipeline needs for image/audio/video
columns: the payload is an opaque ``binary`` column riding next to typed
metadata; decode / feature-extract / resize / frame-sample are vectorized
pandas UDFs whose *plumbing* (schema, batch shape, partitioning) is real
and tested here, while the codec itself is swappable:

* the band-geometry operators here (:func:`media_metadata`,
  :func:`page_features`, :func:`frame_sample`) parse the engine's own
  SPDF1/SIMG1 containers (:mod:`ocr_platform_spark.formats`);
* for every media kind, :func:`probe_real_media` names the kind and
  the tier table (:data:`ocr_platform_spark.tiers.TIERS`) is the only
  decoder; the one extraction pipeline is
  :mod:`ocr_platform_spark.operators.extract`.

Scale notes: every operator is a narrow map over binary batches — no
shuffle; Arrow transfers the bytes zero-copy into pandas. Batch size is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
decoded payloads fits executor memory (SURVEY.md §7.3 item 5).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import formats

PAYLOAD_STATS_SCHEMA = "doc_id bigint, n_bytes bigint, digest string"
MEDIA_META_SCHEMA = (
    "media_ref string, kind string, n_pages int, width int, height int, "
    "n_bands int"
)
FEATURE_SCHEMA = (
    "media_ref string, page_index int, dim int, value_fxp6 bigint"
)
FRAME_SAMPLE_SCHEMA = (
    "media_ref string, frame_index int, width int, height int, n_bands int"
)

MEDIA_KIND_ERROR = formats.MEDIA_KIND_ERROR  # quarantined payloads (shared sentinel)


def _fxp6(v: float) -> int:
    """floor(v * 10^6 + 0.5) — the shared engine-neutral fixed-point
    rounding (functions/common.fxp), applied Python-side so feature values
    cross the Arrow boundary as hashable BIGINT scalars."""
    import math

    return int(math.floor(v * 1_000_000 + 0.5))


# --- payload stats (binary column round-trip, oracle-checkable) --------------


def payload_stats(docs_with_payload: DataFrame) -> DataFrame:
    """(doc_id, payload:binary) -> (doc_id, n_bytes, md5 digest).

    The minimal binary-column operator: proves bytes survive the Arrow
    boundary intact (the oracle recomputes both values from the source
    text with ``strlen``/``md5``).
    """

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "digest": pdf["payload"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        _stats, schema=PAYLOAD_STATS_SCHEMA
    )


def documents_payload_stats(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: documents.text → utf-8 binary → stats."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return payload_stats(docs)


DOCUMENTS_PAYLOAD_STATS_SQL = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS digest
FROM documents
"""


# --- container metadata (typed metadata from opaque bytes) -------------------


def media_metadata(media: DataFrame) -> DataFrame:
    """Parse container headers: kind, page count, page-1 dims, band count.

    The ``pypdf`` page-count-probe analog (``routes_jobs.py:68-73``) as a
    vectorized map over the binary column.
    """

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ["media_ref", "kind", "n_pages", "width", "height", "n_bands"]}
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                try:
                    kind, pages = formats.decode_media(bytes(raw))
                except Exception:
                    # malformed blob must not fail the job — same quarantine
                    # posture as the extraction probe: one error row,
                    # zeroed metadata
                    out["media_ref"].append(ref)
                    out["kind"].append(MEDIA_KIND_ERROR)
                    out["n_pages"].append(0)
                    out["width"].append(0)
                    out["height"].append(0)
                    out["n_bands"].append(0)
                    continue
                out["media_ref"].append(ref)
                out["kind"].append(kind)
                out["n_pages"].append(len(pages))
                out["width"].append(pages[0].width if pages else 0)
                out["height"].append(pages[0].height if pages else 0)
                out["n_bands"].append(sum(len(p.bands) for p in pages))
            res = pd.DataFrame(out)
            for c in ("n_pages", "width", "height", "n_bands"):
                res[c] = res[c].astype("int32")
            yield res

    return media.select("media_ref", "data").mapInPandas(
        _meta, schema=MEDIA_META_SCHEMA
    )


REAL_MEDIA_META_SCHEMA = (
    "media_ref string, kind string, n_pages int, width int, height int"
)


def probe_real_media(
    raw: bytes, deep: bool = False
) -> tuple[str, int, int, int]:
    """THE media dispatch ladder: ``(kind, n_pages, width, height)``
    from container structure only — PNG IHDR behind per-chunk CRC, JPEG
    SOF markers, PDF xref/page-tree walk with the 150-DPI canvas
    geometry — never inflating a sample byte. The synthetic SPDF1/SIMG1
    containers name ``spdf``/``simg`` with their page count. Raises
    ``ValueError`` for anything the OCR stage could not decode.

    ``deep=True`` is the extraction pre-flight, so unsupported/corrupt
    documents quarantine before any payload duplication. PDFs validate
    every page under the HYBRID contract the OCR stage decodes
    (:func:`pdftext.validate_hybrid`: pages with show operators as
    text-layer pages, fonts loaded and every string decoded; pages
    without under the scanned subset). The container kinds (DOCX, ODT,
    PPTX, XLSX, EPUB, RTF, HTML, e-mail, mbox) run the SAME part walk
    the OCR stage decodes (:data:`.tiers.TIERS`) and deep-probe every
    picture it would OCR (:func:`_probe_walk`), so probe/extract
    symmetry is structural. The metadata pass uses ``deep=False``
    (header walks only). Single source of truth for both consumers
    (:func:`real_media_metadata` here, the bucket probe in
    ``operators/extract.py``) so their quarantine semantics cannot
    drift."""
    return _probe(raw, deep)[:4]


def _probe(raw: bytes, deep: bool) -> tuple:
    """:func:`probe_real_media`'s ladder, plus a fifth element: the
    pages a container kind's deep probe walked (:func:`_probe_walk`),
    ``None`` for every other kind. The bucket probe in
    ``operators/extract.py`` ships those pages' parts instead of
    walking the payload again."""
    from . import jpegcodec, pdfcodec, pngcodec, transport

    twrap = transport.sniff_transport(raw)
    if twrap is not None:
        # compressed transport wrapper (.html.gz / .txt.bz2 / .xml.xz):
        # the DEEP probe inflates (bomb-capped, strict) and probes the
        # inner payload as if it had arrived bare; the SHALLOW metadata
        # probe reports the transport kind itself — inner geometry is
        # unknowable from a header walk, and paying full-inflate CPU in
        # a metadata pass is exactly what the probe_dims-vs-validate
        # split exists to avoid (..transport module docstring).
        if not deep:
            return twrap, 1, 0, 0, None
        return _probe(transport.maybe_unwrap(raw), deep=True)

    kind = formats.sniff_kind(raw)
    if kind in ("spdf", "simg"):
        # the synthetic containers carry no raster geometry in a header:
        # deep is the full parse the OCR stage decodes, shallow the
        # page-count probe
        n = (len(formats.decode_media(raw)[1]) if deep
             else formats.page_count(raw))
        return kind, n, 0, 0, None
    if kind == "pdf":
        if deep:
            from . import pdftext

            n, w, h = pdftext.validate_hybrid(raw)
        else:
            n, w, h = pdfcodec.probe_dims(raw)
        return "pdf", n, w, h, None
    if kind == "png":
        w, h = pngcodec.validate_png(raw)
        return "image", 1, w, h, None
    if kind == "jpeg":
        w, h = jpegcodec.validate_jpeg(raw)
        return "image", 1, w, h, None
    if kind == "bmp":
        from . import bmpcodec

        # header/palette/mask bounds + full size check (or an RLE
        # opcode walk) — BMP has no checksum, so this is decode-complete
        w, h = bmpcodec.validate_bmp(raw)
        return "image", 1, w, h, None
    if kind == "tiff":
        from . import tiffcodec

        # probe_tiff already validates every page's plan without
        # inflating samples, so deep and shallow coincide
        n, w, h = tiffcodec.probe_tiff(raw)
        return "tiff", n, w, h, None
    if kind == "gif":
        from . import gifcodec

        # block-structure walk (full-screen frames, palettes, sub-block
        # chains) without inflating LZW data — deep and shallow
        # coincide; entropy corruption degrades at the OCR stage like
        # JPEG entropy bits
        n, w, h = gifcodec.probe_gif(raw)
        return "gif", n, w, h, None
    if kind == "html":
        from . import htmltext

        # Width/height are 0: reflowable text carries no raster
        # geometry. The shallow/metadata probe stays O(pre-scan window)
        # like every other kind's header walk: it only refuses an
        # unsupported DECLARED charset (2048-byte scan).
        if deep:
            return _probe_walk("html", raw)
        name = htmltext._declared_charset(raw)
        if name is not None and name not in htmltext._CHARSET_CODECS:
            raise ValueError(f"unsupported declared charset {name!r}")
        return "html", 1, 0, 0, None
    if kind == "zip":
        from . import docxtext, epubtext, odttext, pptxtext, xlsxtext

        # refine by marker part: word/document.xml -> DOCX (one
        # reflowable page), ppt/presentation.xml -> PPTX (slides are
        # pages), xl/workbook.xml -> XLSX (sheets are pages),
        # META-INF/container.xml -> EPUB (spine chapters are pages), the
        # ODF mimetype -> ODT; any other archive quarantines rather than
        # dumping member text. The shallow probe walks the central
        # directory and the container/OPF chain only.
        with docxtext._open_docx(raw) as zf:
            names = set(zf.namelist())
            kind = ("docx" if "word/document.xml" in names
                    else "pptx" if pptxtext._MARKER in names
                    else "xlsx" if xlsxtext._MARKER in names
                    else "epub" if epubtext._MARKER in names
                    else "odt" if odttext.is_odt(zf) else None)
        if kind is None:
            raise ValueError(
                "zip container is not a DOCX/PPTX/XLSX/EPUB/ODT (no "
                "word/document.xml, ppt/presentation.xml, xl/workbook.xml, "
                "META-INF/container.xml or ODF mimetype/content.xml)"
            )
        if deep:
            return _probe_walk(kind, raw)
        probe = {"docx": docxtext.probe_docx, "pptx": pptxtext.probe_pptx,
                 "xlsx": xlsxtext.probe_xlsx, "epub": epubtext.probe_epub,
                 "odt": odttext.probe_odt}[kind]
        return (kind, *probe(raw), None)
    if kind == "rtf":
        # RTF has no checksums/length fields, so structural validation
        # IS the strict parse; the shallow/metadata probe stays
        # O(magic) like every other header walk
        if deep:
            return _probe_walk("rtf", raw)
        return "rtf", 1, 0, 0, None
    if kind == "wav":
        from . import audiocodec

        # audio is a first-class MULTIMODAL kind but has no text tier:
        # the deep probe (the OCR extraction pre-flight) refuses it so
        # extraction quarantines with a typed triage reason, while the
        # shallow metadata pass reports it — route audio payloads to
        # multimodal.audio_metadata / audio_features instead
        if deep:
            raise ValueError(
                "wav: audio payload has no text tier — route to "
                "multimodal.audio_features")
        audiocodec.probe_wav(raw)  # full header-walk validation
        return "wav", 1, 0, 0, None
    if kind == "avi":
        from . import avicodec

        # same split for video: frames are sampleable media
        # (multimodal.video_frame_features), never OCR text pages
        if deep:
            raise ValueError(
                "avi: video payload has no text tier — route to "
                "multimodal.video_frame_features")
        n, w, h = avicodec.probe_avi(raw, deep=False)
        return "avi", n, w, h, None
    # XML tier — leading markup that is not HTML (feeds, sitemaps,
    # SVG, data exports): the strict whole-document parse is the gate,
    # so truncated markup still quarantines exactly as it did when the
    # plain-text tier refused all leading '<'. The shallow probe is
    # the O(window) prolog/root-tag sniff.
    from . import xmltext

    if xmltext.sniff_xml(raw):
        if deep:
            n, w, h = xmltext.validate_xml(raw)
            return "xml", n, w, h, None
        return "xml", 1, 0, 0, None
    # FINAL tier — no magic matched: strict plain-text contract
    # (UTF-8, no binary controls, no leading markup). deep validates
    # the whole payload; shallow is the O(window) sniff, mirroring the
    # probe_dims-vs-validate_hybrid split.
    from . import plaintext

    if deep:
        try:
            # decode_text IS the validation (one decode, not
            # validate-then-decode twice over the same bytes); text
            # tiers are one reflowable page with no raster geometry
            text = plaintext.decode_text(raw)
        except ValueError as e:
            raise ValueError(
                f"unknown media magic {raw[:5]!r} and not plain text "
                f"({e})"
            ) from e
        kind = _text_kind(text)
        if kind in ("mbox", "eml"):
            # the mail walks decode their own copy: drop this one first
            # so a multi-GB archive holds one decoded copy at a time
            text = None
            return _probe_walk(kind, raw)
        return kind, 1, 0, 0, None
    if plaintext.sniff_text(raw):
        # shallow refinement over the sniff window only (a structural
        # signal past the window keeps the metadata kind "txt"; the
        # deep probe that drives extraction sees the whole payload).
        # The window may cut the final row/line, so line-shaped checks
        # drop the last (possibly partial) line first; a single JSON
        # document larger than the window cannot validate from a
        # prefix and stays "txt" here (JSONL still resolves).
        head = raw[:4096].decode("utf-8-sig", errors="ignore")
        if len(raw) > 4096:
            head = head[:head.rfind("\n") + 1] or head
        kind = _text_kind(head)
        if kind == "mbox":
            from . import emltext

            # page count from the envelope-line scan only (bytes-level
            # regex, no decode/parse) — the O(n)-but-cheap economy the
            # office tiers' central-directory walk also pays
            return "mbox", emltext.count_messages(raw), 0, 0, None
        return kind, 1, 0, 0, None
    raise ValueError(f"unknown media magic {raw[:5]!r}")


def _text_kind(text: str) -> str:
    """The text tier's structural refinement, one ordered ladder for the
    deep probe (whole decoded payload) and the shallow one (sniff
    window), strictest first: a whole-payload strict JSON/JSONL parse
    (jsontext) beats the mbox envelope + RFC-5322 header block
    (emltext.sniff_mbox, messages are pages) beats a bare e-mail header
    block (emltext.sniff_eml) beats the unambiguous LaTeX document
    signal (latextext.sniff_latex) beats the subtitle cue shape
    (subtext.sniff_subtitles, WEBVTT header or a structural timestamp
    line) beats a confident DSV rectangle (csvtext.sniff_tabular,
    row-wise like an XLSX sheet) beats a markdown signal
    (mdtext.sniff_markdown, rendered text); else literal ``txt``."""
    from . import csvtext, emltext, jsontext, latextext, mdtext, subtext

    for kind, sniff in (
        ("json", lambda t: jsontext.sniff_json(t) is not None),
        ("mbox", emltext.sniff_mbox),
        ("eml", emltext.sniff_eml),
        ("tex", latextext.sniff_latex),
        ("sub", subtext.sniff_subtitles),
        ("csv", lambda t: csvtext.sniff_tabular(t) is not None),
        ("md", mdtext.sniff_markdown),
    ):
        if sniff(text):
            return kind
    return "txt"


def _probe_walk(kind: str, raw: bytes) -> tuple:
    """Deep probe of a container kind: run its tier's part walk over
    every page (whatever the OCR stage would fail on quarantines here)
    and deep-probe each part the shared picture rule
    (:func:`.tiers.is_picture`) sends to OCR. The walked pages come
    back with every other media part dropped, as :func:`.tiers._flow`
    would drop it: exactly what the OCR stage decodes."""
    from . import tiers

    pages = [[p for p in parts if p[0] == "text" or tiers.is_picture(p)]
             for parts in tiers.TIERS[kind].walk(raw, None)]
    for parts in pages:
        for part in (p for p in parts if p[0] == "media"):
            try:
                probe_real_media(part[-1], deep=True)
            except Exception as e:
                raise ValueError(
                    f"corrupt embedded media {part[-2]!r}: {e}"
                ) from e
    return kind, len(pages), 0, 0, pages


def real_media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata for REAL-codec payloads — header walk ONLY.

    The scale-correct metadata probe: page counts and dimensions come
    from :func:`probe_real_media` WITHOUT ever inflating sample bytes —
    at 100 TB a metadata pass must not pay decode CPU. Same quarantine
    contract as :func:`media_metadata`: malformed/NULL payloads become
    one ``kind=error`` row with zeroed fields, never a job failure.
    """

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_ref", "kind", "n_pages", "width", "height"]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                try:
                    # bytes() INSIDE the try: a NULL data cell (None from
                    # an upstream left join) must quarantine, not fail
                    # the stage with a TypeError
                    kind, n, w, h = probe_real_media(bytes(raw))
                except Exception:
                    kind, n, w, h = MEDIA_KIND_ERROR, 0, 0, 0
                out["media_ref"].append(ref)
                out["kind"].append(kind)
                out["n_pages"].append(n)
                out["width"].append(w)
                out["height"].append(h)
            res = pd.DataFrame(out)
            for c in ("n_pages", "width", "height"):
                res[c] = res[c].astype("int32")
            yield res

    return media.select("media_ref", "data").mapInPandas(
        _meta, schema=REAL_MEDIA_META_SCHEMA
    )


# --- feature extraction (deterministic stand-in for an image embedder) -------


def page_features(media: DataFrame, dims: int = 8) -> DataFrame:
    """Per-page feature vector from the rendered band layout.

    Deterministic stand-in for a CNN feature extractor: a ``dims``-bin
    histogram of band-box geometry (x, y fractions), L2-normalized in
    float64 numpy. Real plumbing: binary in, one row per **component**
    out — ``(media_ref, page_index, dim, value_fxp6)`` — so every output
    column is a hashable scalar (array columns break value-hash compares
    at exchange boundaries; the fxp encoding is the shared cross-engine
    rounding from functions/common). Corrupt payloads are quarantined
    (skipped), matching the extraction pipeline's posture.
    """

    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, idxs, dim_idx, vals = [], [], [], []
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                try:
                    _, pages = formats.decode_media(bytes(raw))
                except Exception:
                    continue  # quarantined: no decodable pages
                for i, page in enumerate(pages):
                    h = np.zeros(dims, dtype=np.float64)
                    for b in page.bands:
                        h[int(dims * b.x / max(1, page.width)) % dims] += 1.0
                        h[int(dims * b.y / max(1, page.height)) % dims] += 0.5
                    n = np.linalg.norm(h)
                    feat = h / n if n > 0 else h
                    for d in range(dims):
                        refs.append(ref)
                        idxs.append(i)
                        dim_idx.append(d)
                        vals.append(_fxp6(float(feat[d])))
            yield pd.DataFrame(
                {"media_ref": refs,
                 "page_index": pd.Series(idxs, dtype="int32"),
                 "dim": pd.Series(dim_idx, dtype="int32"),
                 "value_fxp6": pd.Series(vals, dtype="int64")}
            )

    return media.select("media_ref", "data").mapInPandas(
        _feats, schema=FEATURE_SCHEMA
    )


# --- frame sampling (video-style every-k-th page) ----------------------------


def frame_sample(media: DataFrame, every: int = 4) -> DataFrame:
    """Sample every ``every``-th page of multi-page payloads — the
    video-frame-sampling pattern (a video is an opaque binary whose frames
    we subsample before feature extraction)."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ["media_ref", "frame_index", "width", "height", "n_bands"]}
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                try:
                    _, pages = formats.decode_media(bytes(raw))
                except Exception:
                    continue  # quarantined: no decodable frames
                for i in range(0, len(pages), every):
                    out["media_ref"].append(ref)
                    out["frame_index"].append(i)
                    out["width"].append(pages[i].width)
                    out["height"].append(pages[i].height)
                    out["n_bands"].append(len(pages[i].bands))
            res = pd.DataFrame(out)
            for c in ("frame_index", "width", "height", "n_bands"):
                res[c] = res[c].astype("int32")
            yield res

    return media.select("media_ref", "data").mapInPandas(
        _sample, schema=FRAME_SAMPLE_SCHEMA
    )


# --- audio (WAV) and video (AVI) operators -----------------------------------

AUDIO_META_SCHEMA = (
    "media_ref string, n_frames bigint, sample_rate int, channels int, "
    "bits int, duration_ms bigint"
)
AUDIO_FEATURE_SCHEMA = (
    "media_ref string, window_index int, n_samples int, rms_fxp6 bigint, "
    "peak_fxp6 bigint, n_zero_cross int"
)
VIDEO_FEATURE_SCHEMA = (
    "media_ref string, frame_index int, width int, height int, "
    "mean_luma_fxp6 bigint"
)


def audio_metadata(media: DataFrame) -> DataFrame:
    """Header-only typed metadata for WAV payloads: the audio analog of
    :func:`real_media_metadata` — full chunk-walk validation, zero
    sample bytes touched (``duration_ms = n_frames * 1000 // rate``,
    integer math both engines reproduce exactly). Non-WAV / malformed
    payloads are skipped (they already triage through
    ``real_media_metadata``'s kind/error row)."""
    from . import audiocodec

    def _meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["media_ref", "n_frames", "sample_rate", "channels",
                "bits", "duration_ms"]
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in cols}
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                try:
                    n, rate, ch, bits = audiocodec.probe_wav(bytes(raw))
                except Exception:
                    continue
                out["media_ref"].append(ref)
                out["n_frames"].append(n)
                out["sample_rate"].append(rate)
                out["channels"].append(ch)
                out["bits"].append(bits)
                out["duration_ms"].append(n * 1000 // rate)
            res = pd.DataFrame(out)
            for c in ("sample_rate", "channels", "bits"):
                res[c] = res[c].astype("int32")
            for c in ("n_frames", "duration_ms"):
                res[c] = res[c].astype("int64")
            yield res

    return media.select("media_ref", "data").mapInPandas(
        _meta, schema=AUDIO_META_SCHEMA
    )


def audio_features(media: DataFrame, window_frames: int = 400) -> DataFrame:
    """Windowed audio features over WAV payloads: per non-overlapping
    ``window_frames`` window of the mono mix (channel mean) — RMS,
    peak ``|x|``, and strict zero crossings (``x[i-1]*x[i] < 0``). The
    speech-corpus curation primitives (silence / clipping / activity
    detection) as one narrow ``mapInPandas`` — binary in, hashable
    scalars out, no shuffle. A trailing partial window is emitted with
    its actual ``n_samples``. Malformed payloads are skipped
    (quarantine posture of :func:`page_features`).

    Exactness note: RMS/peak of ``k/2^(bits-1)``-amplitude inputs are
    exact in float64 (integer-valued partial sums), which is what lets
    the DuckDB gate pin this operator with closed-form oracle SQL.
    """
    from . import audiocodec

    if window_frames < 1:
        raise ValueError("window_frames must be >= 1")

    def _payload_windows(mono: np.ndarray) -> dict[str, np.ndarray]:
        """Vectorized per-window features: full windows as one
        (n_full, W) reshape with axis-1 reductions (the hot path stays
        in numpy kernels, not the interpreter), trailing partial
        appended separately. Window semantics are unchanged: a
        crossing between samples j and j+1 counts for the window
        containing BOTH (never the boundary pair)."""
        n = len(mono)
        n_full, tail = divmod(n, window_frames)
        full = mono[:n_full * window_frames].reshape(
            n_full, window_frames)
        rms = np.sqrt(np.einsum("ij,ij->i", full, full)
                      / window_frames)
        peak = np.abs(full).max(axis=1, initial=0.0)
        j = np.nonzero(mono[:-1] * mono[1:] < 0)[0]
        j = j[(j % window_frames) != window_frames - 1]
        zc = np.bincount(j // window_frames,
                         minlength=n_full + (1 if tail else 0))
        n_samples = np.full(n_full + (1 if tail else 0), window_frames)
        if tail:
            w = mono[n_full * window_frames:]
            rms = np.append(rms, np.sqrt(np.dot(w, w) / tail))
            peak = np.append(peak, np.max(np.abs(w)))
            n_samples[-1] = tail
        return dict(rms=rms, peak=peak, zc=zc, n_samples=n_samples)

    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                c: [] for c in ("media_ref", "window_index", "n_samples",
                                "rms_fxp6", "peak_fxp6", "n_zero_cross")}
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                try:
                    _rate, samples = audiocodec.decode_wav(bytes(raw))
                except Exception:
                    continue
                f = _payload_windows(samples.mean(axis=1))
                n_win = len(f["n_samples"])
                out["media_ref"].extend([ref] * n_win)
                out["window_index"].extend(range(n_win))
                out["n_samples"].extend(int(x) for x in f["n_samples"])
                out["rms_fxp6"].extend(
                    _fxp6(float(x)) for x in f["rms"])
                out["peak_fxp6"].extend(
                    _fxp6(float(x)) for x in f["peak"])
                out["n_zero_cross"].extend(int(x) for x in f["zc"])
            res = pd.DataFrame(out)
            for c in ("window_index", "n_samples", "n_zero_cross"):
                res[c] = res[c].astype("int32")
            for c in ("rms_fxp6", "peak_fxp6"):
                res[c] = res[c].astype("int64")
            yield res

    return media.select("media_ref", "data").mapInPandas(
        _feats, schema=AUDIO_FEATURE_SCHEMA
    )


def video_frame_features(media: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling over AVI payloads: decode every ``every``-th
    frame (MJPEG via :mod:`.jpegcodec`, raw DIB directly) and emit its
    dimensions + mean luma (ITU-R BT.601 weights over the CHANNEL
    means — linearity makes that equal to per-pixel mean luma while
    keeping the float64 arithmetic exact for the oracle's closed
    forms). One container parse per payload
    (:func:`.avicodec.iter_frames`), one decoded frame in memory at a
    time. Malformed payloads are skipped ALL-OR-NOTHING: a payload
    whose shallow parse passes but whose Nth frame fails mid-decode
    contributes no rows at all (a half-represented video would be
    indistinguishable from a short one downstream)."""
    from . import avicodec

    if every < 1:
        raise ValueError("every must be >= 1")

    def _feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                c: [] for c in ("media_ref", "frame_index", "width",
                                "height", "mean_luma_fxp6")}
            for ref, raw in zip(pdf["media_ref"], pdf["data"]):
                rows: list[tuple[int, int, int, int]] = []
                try:
                    for i, frame in avicodec.iter_frames(bytes(raw),
                                                         every):
                        h, w, _ = frame.shape
                        mr = float(np.mean(frame[:, :, 0], dtype=np.float64))
                        mg = float(np.mean(frame[:, :, 1], dtype=np.float64))
                        mb = float(np.mean(frame[:, :, 2], dtype=np.float64))
                        luma = (0.299 * mr + 0.587 * mg + 0.114 * mb) / 255.0
                        rows.append((i, w, h, _fxp6(luma)))
                except Exception:
                    continue
                for i, w, h, luma_fxp in rows:
                    out["media_ref"].append(ref)
                    out["frame_index"].append(i)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_luma_fxp6"].append(luma_fxp)
            res = pd.DataFrame(out)
            for c in ("frame_index", "width", "height"):
                res[c] = res[c].astype("int32")
            res["mean_luma_fxp6"] = res["mean_luma_fxp6"].astype("int64")
            yield res

    return media.select("media_ref", "data").mapInPandas(
        _feats, schema=VIDEO_FEATURE_SCHEMA
    )


# --- audio/video driver-contract queries (closed-form oracle SQL) -------------
#
# The gate cannot decode WAV/AVI in DuckDB, so these queries SYNTHESIZE
# the payloads deterministically from documents-table scalars inside the
# Spark plan (a mapInPandas stage running the real encoders), run the
# real decode+feature operators over them, and pin the results against
# CLOSED-FORM oracle SQL: a square wave of amplitude k/2^15 has
# rms == peak == k/2^15 EXACTLY in float64 (integer-valued partial
# sums; see audio_features), and a solid-color frame's channel means
# are its color exactly — so the full encode -> decode -> window ->
# feature path is value-pinned end-to-end, not rows-only.

_AUDIO_Q_DOCS = 200
_AUDIO_Q_WINDOW = 400
_AUDIO_Q_RATE = 16000


def _audio_params(spark, sf_dir: str):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").orderBy("doc_id").limit(_AUDIO_Q_DOCS)
    )
    return docs.select(
        "doc_id",
        (F.lit(1000) + (F.col("doc_id") * 37) % 20000).alias("amp_int"),
        F.when(F.col("doc_id") % 3 == 0, 20)
         .when(F.col("doc_id") % 3 == 1, 40)
         .otherwise(80).alias("hp"),
        (F.lit(2) + F.col("doc_id") % 3).alias("n_win"),
    )


def _synth_wav_frame(params):
    """(doc_id, amp_int, hp, n_win) -> (media_ref, data) WAV payloads:
    16-bit mono square wave, amplitude amp_int/2^15, half-period hp,
    n_win * window frames at 16 kHz."""
    from . import audiocodec

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, payloads = [], []
            for doc_id, amp_int, hp, n_win in zip(
                pdf["doc_id"], pdf["amp_int"], pdf["hp"], pdf["n_win"]
            ):
                n = int(n_win) * _AUDIO_Q_WINDOW
                i = np.arange(n)
                sign = 1.0 - 2.0 * ((i // int(hp)) % 2)
                s = sign * (int(amp_int) / 32768.0)
                refs.append(str(int(doc_id)))
                payloads.append(audiocodec.encode_wav(
                    s, _AUDIO_Q_RATE, bits=16))
            yield pd.DataFrame({"media_ref": refs, "data": payloads})

    return params.mapInPandas(_synth, schema="media_ref string, data binary")


def audio_features_q(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: synthetic square-wave WAVs through the
    real encode -> decode -> windowed-feature path."""
    media = _synth_wav_frame(_audio_params(spark, sf_dir))
    feats = audio_features(media, window_frames=_AUDIO_Q_WINDOW)
    return feats.select(
        F.col("media_ref").cast("long").alias("doc_id"),
        "window_index", "n_samples", "rms_fxp6", "peak_fxp6",
        "n_zero_cross",
    )


AUDIO_FEATURES_SQL = f"""
WITH params AS (
  SELECT doc_id,
         1000 + (doc_id * 37) % 20000 AS amp_int,
         CASE doc_id % 3 WHEN 0 THEN 20 WHEN 1 THEN 40 ELSE 80 END AS hp,
         2 + (doc_id % 3) AS n_win
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_AUDIO_Q_DOCS})
), wins AS (SELECT unnest(range(4)) AS w)
SELECT p.doc_id,
       CAST(w.w AS INT) AS window_index,
       CAST({_AUDIO_Q_WINDOW} AS INT) AS n_samples,
       CAST(floor(CAST(p.amp_int AS DOUBLE) / 32768.0 * 1000000 + 0.5)
            AS BIGINT) AS rms_fxp6,
       CAST(floor(CAST(p.amp_int AS DOUBLE) / 32768.0 * 1000000 + 0.5)
            AS BIGINT) AS peak_fxp6,
       CAST({_AUDIO_Q_WINDOW} / p.hp - 1 AS INT) AS n_zero_cross
FROM params p JOIN wins w ON w.w < p.n_win
"""


def audio_metadata_q(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: header-only WAV metadata over the same
    synthetic payloads."""
    media = _synth_wav_frame(_audio_params(spark, sf_dir))
    return audio_metadata(media).select(
        F.col("media_ref").cast("long").alias("doc_id"),
        "n_frames", "sample_rate", "channels", "bits", "duration_ms",
    )


AUDIO_METADATA_SQL = f"""
SELECT doc_id,
       CAST((2 + doc_id % 3) * {_AUDIO_Q_WINDOW} AS BIGINT) AS n_frames,
       CAST({_AUDIO_Q_RATE} AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       CAST(16 AS INT) AS bits,
       CAST((2 + doc_id % 3) * {_AUDIO_Q_WINDOW} * 1000
            // {_AUDIO_Q_RATE} AS BIGINT) AS duration_ms
FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_AUDIO_Q_DOCS})
"""

_VIDEO_Q_DOCS = 120
_VIDEO_Q_W = 32
_VIDEO_Q_H = 24


def video_frame_luma_q(spark, sf_dir: str) -> DataFrame:
    """Driver-contract query: synthetic solid-color DIB AVIs through the
    real container parse + every-2nd-frame decode + mean-luma path."""
    from . import avicodec

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").orderBy("doc_id").limit(_VIDEO_Q_DOCS)
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                frames = []
                for i in range(2 + d % 3):
                    rgb = ((d * 13 + 29 * i) % 256,
                           (d * 7 + 17 * i) % 256,
                           (d * 3 + 11 * i) % 256)
                    f = np.empty((_VIDEO_Q_H, _VIDEO_Q_W, 3), np.uint8)
                    f[:, :] = rgb
                    frames.append(f)
                refs.append(str(d))
                payloads.append(avicodec.encode_avi(frames, codec="dib"))
            yield pd.DataFrame({"media_ref": refs, "data": payloads})

    media = docs.mapInPandas(_synth, schema="media_ref string, data binary")
    feats = video_frame_features(media, every=2)
    return feats.select(
        F.col("media_ref").cast("long").alias("doc_id"),
        "frame_index", "width", "height", "mean_luma_fxp6",
    )


VIDEO_FRAME_LUMA_SQL = f"""
WITH frames AS (
  SELECT doc_id, CAST(w.w AS INT) AS frame_index,
         (doc_id * 13 + 29 * w.w) % 256 AS r,
         (doc_id * 7 + 17 * w.w) % 256 AS g,
         (doc_id * 3 + 11 * w.w) % 256 AS b
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_VIDEO_Q_DOCS}),
       (SELECT unnest(range(4)) AS w) w
  WHERE w.w < 2 + (doc_id % 3) AND w.w % 2 = 0
)
SELECT doc_id, frame_index,
       CAST({_VIDEO_Q_W} AS INT) AS width,
       CAST({_VIDEO_Q_H} AS INT) AS height,
       CAST(floor((0.299::DOUBLE * r + 0.587::DOUBLE * g
                   + 0.114::DOUBLE * b) / 255.0 * 1000000 + 0.5)
            AS BIGINT) AS mean_luma_fxp6
FROM frames
"""
