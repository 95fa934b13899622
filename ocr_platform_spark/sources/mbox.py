"""mbox ingestion source — mailing-list archives land in the corpus shape.

Mail archives (Enron, LKML, public-inbox/Usenet dumps) ship as mbox
files: ``From ``-envelope-separated concatenations of RFC-5322/MIME
messages. This source turns them into the engine's interleaved
``documents`` + ``media`` input shape (BASELINE.json ``input_hint``)
with TRUE interleaving: each message's Subject and rendered body blocks
become ``kind="text"`` spans and each attachment leaf becomes a
``kind="media"`` span IN PART ORDER, so a PDF attached between two
paragraphs is OCR-extracted between those paragraphs' spans by the
real-codec pipeline — the span walk is
:func:`ocr_platform_spark.emltext.message_spans`, the same strict MIME
walk the ``eml``/``mbox`` extraction tiers use (defect/charset/nesting
failures quarantine as error rows, never job failures).

Scale shape (mirrors ``sources/warc.py``):

- one archive per task (:func:`.common.list_files`); the reader
  streams LINE-BY-LINE (peak memory: one message + one Arrow batch,
  not the file), splitting on the envelope regex with mboxrd ``>From``
  unquoting;
- a preamble before the first envelope line yields one error row and
  parsing RESYNCS at the next envelope (warc's member-recovery
  semantics);
- :func:`mbox_to_corpus` is shuffle-FREE: the per-message MIME walk
  runs in one ``mapInPandas`` emitting parallel span arrays, and both
  output frames derive by column expressions (``transform`` for the
  spans array, ``posexplode`` for the media rows) — no groupBy is
  needed because a message's spans never leave their task;
- ``doc_id`` is deterministic AND collision-free: the cleaned
  Message-ID (kept for lineage readability) is suffixed with a sha of
  file + message index — real corpora routinely repeat Message-IDs
  (resends, cross-posts, spoofed spam), and a bare-Message-ID id would
  merge such messages into one garbled document downstream. Absent a
  Message-ID the sha alone is the id. Re-ingesting the same paths is
  idempotent; ``media_ref`` is ``doc_id#p<span_index>``.
- archives arriving gzip/bzip2/xz-compressed (``list.mbox.gz`` is the
  public-inbox/LKML distribution shape) decompress as STREAMS
  (``gzip.GzipFile``/``bz2``/``lzma`` file wrappers — peak memory one
  message, never the inflated archive); a corrupt compressed stream
  yields an error row for the unreadable remainder, keeping the rows
  already parsed.

The reference has no mail path (it OCRs uploaded PDFs/images only,
``apps/worker/app/tasks/ocr_tasks.py:36-39``); this source exists for
the corpus tier, like the WARC and tar-shard sources.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                               StructField, StructType)

from .. import emltext
from .common import list_files, parts_columns, parts_frame_to_corpus
from .warc import _open_path

__all__ = [
    "RECORD_SCHEMA", "PARTS_SCHEMA", "read_mbox", "mbox_to_corpus",
    "extract_mbox", "iter_mbox_messages",
]

RECORD_SCHEMA = StructType([
    StructField("mbox_file", StringType()),
    StructField("msg_index", IntegerType()),
    StructField("error", StringType()),
    StructField("raw", BinaryType()),
])

#: per-message span arrays (parallel, one slot per span in part order);
#: ``texts`` is null on media slots, ``ctypes``/``fnames``/``payloads``
#: are null on text slots
PARTS_SCHEMA = (
    "doc_id string, mbox_file string, msg_index int, error string, "
    "kinds array<string>, texts array<string>, ctypes array<string>, "
    "fnames array<string>, payloads array<binary>"
)


#: per-message size cap: a message past this yields an error row and
#: its remaining lines are read-and-discarded until the next envelope —
#: the streaming reader's peak memory stays one (bounded) message even
#: against a corrupt multi-GB archive with no envelope lines (the tar
#: source's per-member cap, same rationale)
MAX_MESSAGE_BYTES = 1 << 30


def iter_mbox_messages(fobj,
                       max_message_bytes: int = MAX_MESSAGE_BYTES,
                       ) -> Iterator[dict]:
    """Stream ``(msg_index, error, raw)`` rows from an mbox byte
    stream: envelope-line split, mboxrd unquoting, preamble resync,
    oversized messages capped (error row + skip to next envelope)."""
    index = 0
    cur: "list[bytes] | None" = None
    cur_bytes = 0
    preamble = False
    skipping = False
    for line in fobj:
        nline = line.replace(b"\r\n", b"\n")
        if emltext._ENVELOPE_BYTES_RE.match(nline):
            if cur is not None and not skipping:
                yield {"msg_index": index, "error": None,
                       "raw": b"".join(cur)}
            if skipping:
                yield {"msg_index": index,
                       "error": f"message exceeds {max_message_bytes}"
                                f"-byte cap (skipped)",
                       "raw": None}
            if cur is not None or skipping:
                index += 1
            cur, cur_bytes, skipping = [], 0, False
            continue
        if skipping:
            continue
        if cur is None:
            preamble = True
            continue
        if nline.startswith(b">") and \
                nline.lstrip(b">").startswith(b"From "):
            nline = nline[1:]
        cur_bytes += len(nline)
        if cur_bytes > max_message_bytes:
            cur, cur_bytes, skipping = None, 0, True
            continue
        cur.append(nline)
    if preamble:
        yield {"msg_index": -1,
               "error": "mbox preamble before the first envelope line",
               "raw": None}
    if skipping:
        yield {"msg_index": index,
               "error": f"message exceeds {max_message_bytes}-byte cap "
                        f"(skipped)",
               "raw": None}
    elif cur is not None:
        yield {"msg_index": index, "error": None, "raw": b"".join(cur)}
    elif not preamble:
        yield {"msg_index": -1, "error": "empty mbox (no envelope line)",
               "raw": None}


def _maybe_decompress(fobj):
    """Wrap a seekable byte stream in a STREAMING decompressor when it
    carries a gzip/bzip2/xz magic (the ``.mbox.gz`` distribution
    shape); plain streams pass through. Never inflates the archive
    into memory."""
    import bz2
    import gzip
    import lzma

    head = fobj.read(6)
    fobj.seek(0)
    if head[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=fobj)
    if head[:3] == b"BZh" and len(head) >= 4 and head[3:4].isdigit():
        return bz2.BZ2File(fobj)
    if head == b"\xfd7zXZ\x00":
        return lzma.LZMAFile(fobj)
    return fobj


def _mbox_batches(batch_rows: int):
    import lzma
    import zlib

    cols = [f.name for f in RECORD_SCHEMA.fields]

    def gen(frames: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in frames:
            for path in frame["path"]:
                try:
                    fobj = _open_path(path)
                except OSError as exc:
                    yield pd.DataFrame(
                        [{"mbox_file": path, "msg_index": -1,
                          "error": f"open: {exc}", "raw": None}],
                        columns=cols)
                    continue
                rows: list[dict] = []
                with fobj:
                    try:
                        for rec in iter_mbox_messages(
                                _maybe_decompress(fobj)):
                            rec["mbox_file"] = path
                            rows.append(rec)
                            if len(rows) >= batch_rows:
                                yield pd.DataFrame(rows, columns=cols)
                                rows = []
                    except (OSError, EOFError, lzma.LZMAError,
                            zlib.error) as exc:
                        # zlib.error: corrupt (non-truncated) gzip
                        # deflate data raises it directly, not OSError
                        # (cf. warc.py's member recovery)
                        # corrupt compressed stream mid-archive: the
                        # unreadable remainder becomes ONE error row,
                        # rows already parsed are kept (warc's member
                        # recovery semantics at file granularity)
                        rows.append({"mbox_file": path, "msg_index": -1,
                                     "error": f"decompress: {exc}",
                                     "raw": None})
                if rows:
                    yield pd.DataFrame(rows, columns=cols)
    return gen


def read_mbox(spark: SparkSession, paths: str,
              batch_rows: int = 256) -> DataFrame:
    """mbox archives (glob / dir / file) -> one row per message
    (:data:`RECORD_SCHEMA`), over the :func:`.common.list_files`
    listing (cf. ``read_warc``)."""
    listing = list_files(spark, paths, "*.mbox*")
    return listing.mapInPandas(_mbox_batches(batch_rows),
                               schema=RECORD_SCHEMA)


def _doc_id(mbox_file: str, msg_index: int, message_id: str) -> str:
    """Deterministic and COLLISION-FREE (module docstring): the
    file+index sha disambiguates repeated Message-IDs; the Message-ID
    prefix stays for lineage readability."""
    digest = hashlib.sha256(
        f"{mbox_file}#{msg_index}".encode()).hexdigest()
    if message_id:
        return f"{message_id}#{digest[:12]}"
    return f"mbox:sha:{digest}"


def _parts_batches(frames: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = ["doc_id", "mbox_file", "msg_index", "error",
            "kinds", "texts", "ctypes", "fnames", "payloads"]
    for frame in frames:
        out: list[dict] = []
        for file_, idx, err, raw in zip(
                frame["mbox_file"], frame["msg_index"],
                frame["error"], frame["raw"]):
            row = {"mbox_file": file_, "msg_index": idx, "error": err,
                   "doc_id": None, "kinds": None, "texts": None,
                   "ctypes": None, "fnames": None, "payloads": None}
            if err is None and raw is not None:
                try:
                    mid, parts = emltext.message_spans(bytes(raw))
                except ValueError as exc:
                    row["error"] = f"message quarantined: {exc}"
                else:
                    row.update(doc_id=_doc_id(file_, int(idx), mid),
                               **parts_columns(parts))
            out.append(row)
        yield pd.DataFrame(out, columns=cols)


def parse_mbox_records(records: DataFrame) -> DataFrame:
    """Message rows -> per-message span arrays (:data:`PARTS_SCHEMA`)
    via the strict MIME walk; quarantined messages carry ``error``."""
    return records.mapInPandas(_parts_batches, schema=PARTS_SCHEMA)


def mbox_to_corpus(records: DataFrame,
                   single_parse: bool = False) -> tuple[DataFrame, DataFrame]:
    """Parsed messages -> ``(documents, media)`` in the interleaved
    input shape — shuffle-free column expressions over
    :func:`parse_mbox_records` output (module docstring).

    ``single_parse=True`` persists the parsed parts frame
    (``MEMORY_AND_DISK``) so the two consumer legs (documents + media)
    materialize the archive split + MIME walk ONCE instead of once per
    leg — the default composition's 2x-parse footgun removed (VERDICT
    r4 #9). The cache is plan-keyed in Spark's CacheManager and is NOT
    GC-cleaned; drivers looping many corpora should
    ``spark.catalog.clearCache()`` between runs or keep the default."""
    parts = parse_mbox_records(records).filter(
        F.col("error").isNull() & F.col("doc_id").isNotNull())
    return parts_frame_to_corpus(parts, single_parse=single_parse)


def mbox_errors(records: DataFrame) -> DataFrame:
    """Triage rows: unreadable files, preambles, quarantined messages."""
    return parse_mbox_records(records).filter(
        F.col("error").isNotNull()
    ).select("mbox_file", "msg_index", "error")


def extract_mbox(spark: SparkSession, paths: str,
                 single_parse: bool = True, **extract_kw) -> DataFrame:
    """Archives in, reading-ordered span arrays out: :func:`read_mbox`
    -> :func:`mbox_to_corpus` -> the real-codec extraction pipeline.
    ``single_parse`` (default on) persists the parsed parts frame so
    the archive split + MIME walk runs once, not once per corpus leg
    (see :func:`mbox_to_corpus` for the cache-lifecycle caveat)."""
    from ..operators.extract import extract_documents

    records = read_mbox(spark, paths)
    documents, media = mbox_to_corpus(records, single_parse=single_parse)
    return extract_documents(documents, media, **extract_kw)
