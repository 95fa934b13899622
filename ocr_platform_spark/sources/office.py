"""Office-document ingestion source — enterprise document dumps land in
the corpus shape.

A SharePoint/file-share/e-discovery dump is a tree of ``.docx`` /
``.odt`` / ``.pptx`` / ``.xlsx`` / ``.rtf`` files, often alongside
maildir-style ``.eml`` message files. This source turns it into the engine's
interleaved ``documents`` + ``media`` input shape (BASELINE.json
``input_hint``) with TRUE interleaving via the part walks of the
real-codec tier table (:data:`ocr_platform_spark.tiers.TIERS`), picked
by the same shallow probe the metadata pass runs: each paragraph
becomes a ``kind="text"`` span and each embedded picture a
``kind="media"`` span IN DOCUMENT ORDER — a scanned page pasted between
two paragraphs is OCR-extracted between those paragraphs' spans by the
real-codec pipeline, exactly like an mbox attachment
(:mod:`ocr_platform_spark.sources.mbox`, whose composition shape this
reuses via :func:`.common.parts_columns` and
:func:`.common.parts_frame_to_corpus`).

Note the relationship to the EXTRACTION path: a docx that is itself a
media span of some document extracts in place through the same
tier-table entry. This SOURCE is for corpora where the office files
ARE the documents — it hoists the part walk to ingestion so the
embedded pictures become first-class media
spans (probe-able, quarantine-able, resumable per span) instead of
in-task decodes, and unsupported embedded formats (EMF/WMF) surface as
media spans that quarantine with triage rows downstream instead of
dropping silently.

Scale shape (mirrors the mbox/WARC sources): one file per task, the
shared listing (:func:`.common.list_files`) moves only path strings
(payload bytes never shuffle during ingestion); parse defects yield
error rows, never job failures; ``doc_id`` is deterministic (basename
+ sha of the full path) so re-ingesting a dump is idempotent for lineage/resume.
"""

from __future__ import annotations

import hashlib
import posixpath
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal import probe_real_media
from ..tiers import TIERS
from .common import list_files, parts_columns, parts_frame_to_corpus
from .warc import _open_path

__all__ = [
    "PARTS_SCHEMA", "read_office", "office_to_corpus", "extract_office",
    "office_errors",
]

#: same parallel-array shape as the mbox source's PARTS_SCHEMA, with the
#: file path as provenance
PARTS_SCHEMA = (
    "doc_id string, path string, error string, "
    "kinds array<string>, texts array<string>, ctypes array<string>, "
    "fnames array<string>, payloads array<binary>"
)

#: per-file size cap (same rationale as the tar/mbox member caps: one
#: bounded file per task, never an unbounded inflate)
MAX_FILE_BYTES = 1 << 30


def _doc_id(path: str) -> str:
    digest = hashlib.sha256(path.encode()).hexdigest()
    return f"{posixpath.basename(path)}#{digest[:12]}"


def _file_parts(raw: bytes) -> list[tuple]:
    """One file payload -> its parts in document order, through the
    same dispatch the extraction path uses: the shallow probe names the
    kind and the kind's part walk in the real-codec tier table
    (:data:`..tiers.TIERS`) parses it. Pages (PPTX slides, XLSX sheets,
    EPUB chapters, mbox messages) flatten in page order: at the source
    level the file is one document. A kind without a part walk raises
    ``ValueError`` (a quarantine row)."""
    kind = probe_real_media(raw, deep=False)[0]
    tier = TIERS.get(kind)
    if tier is None or tier.walk is None:
        raise ValueError(f"{kind!r} payload has no part walk")
    return [part for page in tier.walk(raw, None) for part in page]


def _office_batches(frames: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ["doc_id", "path", "error", "kinds", "texts", "ctypes",
            "fnames", "payloads"]
    for frame in frames:
        out: list[dict] = []
        for path in frame["path"]:
            row = {"doc_id": None, "path": path, "error": None,
                   "kinds": None, "texts": None, "ctypes": None,
                   "fnames": None, "payloads": None}
            try:
                with _open_path(path) as fobj:
                    raw = fobj.read(MAX_FILE_BYTES + 1)
                if len(raw) > MAX_FILE_BYTES:
                    raise ValueError(
                        f"file exceeds {MAX_FILE_BYTES}-byte cap"
                    )
                parts = _file_parts(raw)
            except (OSError, ValueError) as exc:
                row["error"] = f"quarantined: {exc}"
                out.append(row)
                continue
            row.update(doc_id=_doc_id(path), **parts_columns(parts))
            out.append(row)
        yield pd.DataFrame(out, columns=cols)


def read_office(spark: SparkSession, paths: str) -> DataFrame:
    """Office files (glob / dir / file) -> one parts row per document
    (:data:`PARTS_SCHEMA`), over the :func:`.common.list_files`
    listing (cf. ``read_mbox``)."""
    listing = list_files(spark, paths, "*.{docx,odt,pptx,xlsx,rtf,eml}")
    return listing.mapInPandas(_office_batches, schema=PARTS_SCHEMA)


def office_to_corpus(parts: DataFrame,
                     single_parse: bool = False
                     ) -> tuple[DataFrame, DataFrame]:
    """Parts rows -> ``(documents, media)`` in the interleaved input
    shape — the shared shuffle-free composition
    (:func:`.common.parts_frame_to_corpus`; ``single_parse`` caveat
    there)."""
    kept = parts.filter(
        F.col("error").isNull() & F.col("doc_id").isNotNull())
    return parts_frame_to_corpus(kept, single_parse=single_parse)


def office_errors(parts: DataFrame) -> DataFrame:
    """Triage rows: unreadable/over-cap/non-office/defective files."""
    return parts.filter(F.col("error").isNotNull()).select("path", "error")


def extract_office(spark: SparkSession, paths: str,
                   single_parse: bool = True, **extract_kw) -> DataFrame:
    """Office dumps in, reading-ordered span arrays out:
    :func:`read_office` -> :func:`office_to_corpus` -> the real-codec
    extraction pipeline (embedded pictures OCR as media spans)."""
    from ..operators.extract import extract_documents

    parts = read_office(spark, paths)
    documents, media = office_to_corpus(parts, single_parse=single_parse)
    return extract_documents(documents, media, **extract_kw)
