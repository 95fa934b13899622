"""WARC ingestion source: web-archive files -> the interleaved corpus shape.

The reference platform ingests one uploaded object at a time through its
API (``apps/api/app/routers/jobs.py`` accepts a single file per job); a
web-scale extraction run instead starts from crawl archives — WARC/1.0
files (ISO 28500), the container Common Crawl and every Heritrix-style
crawler emit: a sequence of records (``request`` / ``response`` /
``resource`` / ``metadata`` ...), each framed by a header block and a
``Content-Length``-delimited body, usually stored as one gzip *member
per record* so readers can split work without decompressing the world.

This module turns WARC files into the engine's input tables with the
plan shape the rest of the repo uses:

* :func:`read_warc` — ``binaryFile``-listed paths (content column is
  PRUNED: only ``path`` is selected, so Spark never materializes whole
  archives into rows) fanned out through an iterator ``mapInPandas``
  UDF that STREAMS records off disk with bounded memory (one
  decompressed record + one Arrow batch, not the file). At crawl scale
  a WARC file is ~1 GiB and the natural parallel unit; the shared
  listing (:func:`.common.list_files`) repartitions the path list to
  one file per task, so 10^5 archives spread over every executor
  instead of riding the listing's few input splits.
* :func:`warc_to_corpus` — pure column expressions (no UDF) mapping kept
  records to ``documents(doc_id, spans)`` + ``media(media_ref, ...)``:
  each HTTP 2xx ``response`` (and each ``resource``/``conversion``)
  becomes one document with a single media span; the downstream
  probe/quarantine contract (:mod:`..operators.extract`) handles
  payload triage, so ingestion never decodes anything.
* :func:`extract_warc` — the end-to-end composition: archives in,
  reading-ordered span arrays out.

Parsing notes (all ISO 28500 / RFC 7230 public behavior):

* member-gzip archives are walked one gzip member at a time (raw
  ``zlib`` with window 31, never a whole-file ``gzip.open`` stream), so
  peak memory is one decompressed record and a corrupt member
  quarantines that RECORD: the raw stream is then scanned for the next
  gzip magic and parsing resumes — the recovery warcio performs. A
  single-stream gzip (or plain ``.warc``) still parses, but a framing
  error there loses the file's tail to one quarantine row (framing
  cannot be re-found without member boundaries), matching the probe
  tier's policy of never failing the job on bad bytes.
* ``response`` record blocks are HTTP messages; the payload is the body
  after the header terminator, de-chunked when ``Transfer-Encoding:
  chunked`` (crawlers that store verbatim wire bytes) — content codings
  like gzip/deflate Content-Encoding are NOT undone here (Common Crawl
  stores identity bodies; a coded body simply fails the downstream
  sniff and quarantines with its URI on record).

Local files only by construction: the UDF opens ``file:`` paths with
the OS. On a cluster the same code reads any fuse/NFS-mounted store; an
object-store deployment swaps :func:`_open_path` for the store's
streaming reader — one seam, noted here instead of hidden.
"""

from __future__ import annotations

import hashlib
import io
import zlib
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from .common import list_files

__all__ = [
    "RECORD_SCHEMA", "read_warc", "warc_to_corpus", "extract_warc",
    "iter_warc_records", "write_warc", "warc_record_bytes",
]

RECORD_SCHEMA = StructType([
    StructField("warc_file", StringType()),
    StructField("record_index", LongType()),
    StructField("record_id", StringType()),
    StructField("warc_type", StringType()),
    StructField("target_uri", StringType()),
    StructField("warc_date", StringType()),
    StructField("http_status", IntegerType()),
    StructField("content_type", StringType()),
    StructField("payload", BinaryType()),
    StructField("error", StringType()),
])

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_GZ_MAGIC = b"\x1f\x8b\x08"
# Upper bound on a sane header block; past this the framing is garbage.
_MAX_HEADER = 1 << 20


# ---------------------------------------------------------------------------
# byte sources
# ---------------------------------------------------------------------------

def _gzip_member_buffers(fobj, head: bytes,
                         chunk: int = 1 << 18) -> Iterator[tuple]:
    """Decompress a (possibly multi-member) gzip stream member by
    member, yielding ``(data, error)`` tuples — exactly one is not None.

    Peak memory is one decompressed member (= one record in the
    standard crawl layout; the whole file only for single-stream gzip).
    After a corrupt member the RAW stream is scanned for the next gzip
    magic so one bad record doesn't lose the archive's tail.
    """
    raw = bytearray(head)

    def fill() -> bool:
        data = fobj.read(chunk)
        if not data:
            return False
        raw.extend(data)
        return True

    while True:
        if not raw and not fill():
            return
        dec = zlib.decompressobj(31)
        out = bytearray()
        err = None
        while True:
            try:
                out.extend(dec.decompress(bytes(raw)))
            except zlib.error as exc:
                err = f"gzip member: {exc}"
                break
            if dec.eof:
                raw = bytearray(dec.unused_data)
                break
            raw.clear()
            if not fill():
                err = "gzip member: truncated"
                break
        if err is None:
            yield bytes(out), None
            continue
        yield None, err
        # resync: scan the raw stream for the next member's magic,
        # skipping the magic we already failed on when still buffered
        skip = 1 if raw[:3] == _GZ_MAGIC else 0
        while True:
            idx = raw.find(_GZ_MAGIC, skip)
            if idx >= 0:
                del raw[:idx]
                break
            # keep a short tail in case the magic straddles a chunk
            if len(raw) > 2:
                del raw[:-2]
            skip = 0
            if not fill():
                return


class _RecordReader:
    """Buffered reader with exact-length reads and header-terminator
    scanning; bytes come from the ``read_more`` callable (b'' = EOF)."""

    def __init__(self, read_more):
        self._read_more = read_more
        self._buf = bytearray()

    def _fill(self) -> bool:
        chunk = self._read_more()
        if not chunk:
            return False
        self._buf.extend(chunk)
        return True

    def read_until(self, marker: bytes, limit: int) -> "bytes | None":
        """Bytes through ``marker`` inclusive; None at clean EOF before
        any byte; ValueError past ``limit`` without a match."""
        while True:
            idx = self._buf.find(marker)
            if idx >= 0:
                end = idx + len(marker)
                out = bytes(self._buf[:end])
                del self._buf[:end]
                return out
            if len(self._buf) > limit:
                raise ValueError("header block exceeds limit")
            if not self._fill():
                if self._buf:
                    raise ValueError("truncated record header")
                return None

    def read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            if not self._fill():
                raise ValueError("truncated record body")
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def skip_blank(self) -> None:
        """Consume inter-record CRLFs (tolerates missing/extra)."""
        while True:
            while self._buf[:2] == _CRLF:
                del self._buf[:2]
            if self._buf == b"\r":  # CRLF split across fills
                if not self._fill():
                    return
                continue
            return


# ---------------------------------------------------------------------------
# record parsing
# ---------------------------------------------------------------------------

def _parse_headers(block: bytes) -> dict:
    """WARC (or HTTP) header block -> lowercase-key dict. Folded
    continuation lines (obs-fold) are joined with a space."""
    headers: dict[str, str] = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            headers[last] += " " + line.strip().decode("latin-1")
            continue
        key, sep, val = line.partition(b":")
        if not sep:
            continue
        last = key.strip().decode("latin-1").lower()
        headers[last] = val.strip().decode("latin-1")
    return headers


def _dechunk(body: bytes) -> bytes:
    """RFC 7230 chunked transfer decoding (trailer headers dropped)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(_CRLF, pos)
        if nl < 0:
            raise ValueError("chunked body: missing size line")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise ValueError("chunked body: bad size line") from None
        pos = nl + 2
        if size == 0:
            return bytes(out)
        if pos + size > len(body):
            raise ValueError("chunked body: truncated chunk")
        out += body[pos:pos + size]
        pos += size + 2  # trailing CRLF after each chunk


def _http_payload(block: bytes) -> tuple[int, "str | None", bytes]:
    """HTTP response block -> (status, content_type, payload bytes)."""
    end = block.find(_HDR_END)
    if end < 0:
        raise ValueError("http block: no header terminator")
    head, body = block[:end], block[end + 4:]
    status_line, _, hdr_block = head.partition(_CRLF)
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError("http block: bad status line")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError("http block: bad status code") from None
    headers = _parse_headers(hdr_block)
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    ctype = headers.get("content-type")
    if ctype is not None:
        ctype = ctype.split(";", 1)[0].strip().lower() or None
    return status, ctype, body


def _record_row(index: int, headers: dict, block: bytes) -> dict:
    wtype = headers.get("warc-type", "unknown").lower()
    ctype = headers.get("content-type", "")
    row = {
        "record_index": index,
        "record_id": headers.get("warc-record-id"),
        "warc_type": wtype,
        "target_uri": headers.get("warc-target-uri"),
        "warc_date": headers.get("warc-date"),
        "http_status": None,
        "content_type": ctype.split(";", 1)[0].strip().lower() or None,
        "payload": None,
        "error": None,
    }
    if wtype == "response" and "application/http" in ctype.lower():
        try:
            status, http_ct, payload = _http_payload(block)
            row["http_status"] = status
            row["content_type"] = http_ct
            row["payload"] = payload
        except ValueError as exc:
            row["error"] = str(exc)
    elif wtype in ("resource", "conversion"):
        row["payload"] = block
    # request/metadata/warcinfo/revisit: headers only, no payload
    return row


def _error_row(index: int, msg: str) -> dict:
    return {
        "record_index": index, "record_id": None, "warc_type": "invalid",
        "target_uri": None, "warc_date": None, "http_status": None,
        "content_type": None, "payload": None, "error": msg,
    }


def _records_from_reader(reader: _RecordReader,
                         start_index: int) -> Iterator[dict]:
    """Sequential records off one byte source. A framing error yields
    one error row and STOPS this source (the caller decides whether a
    next member boundary allows resuming)."""
    index = start_index
    while True:
        reader.skip_blank()
        try:
            head = reader.read_until(_HDR_END, _MAX_HEADER)
            if head is None:
                return
            version, _, hdr_block = head[:-4].partition(_CRLF)
            if not version.startswith(b"WARC/"):
                raise ValueError("missing WARC version line")
            headers = _parse_headers(hdr_block)
            length = int(headers["content-length"])
            if length < 0:
                raise ValueError("negative Content-Length")
            block = reader.read_exact(length)
        except (ValueError, KeyError) as exc:
            yield _error_row(index, f"warc framing: {exc}")
            return
        yield _record_row(index, headers, block)
        index += 1


def iter_warc_records(fobj) -> Iterator[dict]:
    """Stream records from a WARC byte stream (plain or gzip).

    Yields one dict per record in :data:`RECORD_SCHEMA`'s column order
    (minus ``warc_file``). Malformed records yield an ``error`` row; in
    member-gzip files parsing then resumes at the next member, in plain
    or single-stream-gzip files the remainder is lost to the error row.
    """
    head = fobj.read(3)
    index = 0
    if head[:3] == _GZ_MAGIC:
        for data, err in _gzip_member_buffers(fobj, head):
            if err is not None:
                yield _error_row(index, err)
                index += 1
                continue
            buf = [data]
            reader = _RecordReader(lambda b=buf: b.pop() if b else b"")
            for row in _records_from_reader(reader, index):
                yield row
                index += 1
    else:
        carry = [head]

        def read_more() -> bytes:
            if carry:
                return carry.pop()
            return fobj.read(1 << 18)

        yield from _records_from_reader(_RecordReader(read_more), 0)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def _open_path(path: str):
    """The one storage seam: ``file:`` / local paths via the OS. An
    object-store deployment replaces this with the store's streaming
    reader; everything above it only assumes ``read()``."""
    if path.startswith("file:"):
        path = path[5:]
        if path.startswith("//"):
            # file://host/p -> /p (empty host); file:///p -> /p
            path = path[2:]
            if not path.startswith("/"):
                path = "/" + path.split("/", 1)[1]
    return open(path, "rb")


def _warc_batches(batch_rows: int):
    cols = [f.name for f in RECORD_SCHEMA.fields]

    def gen(frames: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in frames:
            for path in frame["path"]:
                try:
                    fobj = _open_path(path)
                except OSError as exc:
                    row = _error_row(-1, f"open: {exc}")
                    row["warc_file"] = path
                    yield pd.DataFrame([row], columns=cols)
                    continue
                rows: list[dict] = []
                with fobj:
                    for rec in iter_warc_records(fobj):
                        rec["warc_file"] = path
                        rows.append(rec)
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)
    return gen


def read_warc(spark: SparkSession, paths: str,
              batch_rows: int = 256) -> DataFrame:
    """WARC archives (glob / dir / file, ``.warc`` or ``.warc.gz``) ->
    one row per record (:data:`RECORD_SCHEMA`).

    The path list comes from :func:`.common.list_files` (archive bytes
    never enter the scan; a crawl's ~1 GiB archives are the natural
    parallel unit, one file per task). The UDF streams each archive
    record-by-record: peak memory is one decompressed record plus one
    Arrow batch, not the file.
    """
    listing = list_files(spark, paths, "*.warc*")
    return listing.mapInPandas(_warc_batches(batch_rows),
                               schema=RECORD_SCHEMA)


def warc_to_corpus(records: DataFrame,
                   single_parse: bool = False) -> tuple[DataFrame, DataFrame]:
    """Kept records -> ``(documents, media)`` in the engine's interleaved
    input shape (BASELINE.json ``input_hint``). Pure column expressions.

    Keep rule: ``response`` records with HTTP 2xx and a payload, plus
    ``resource``/``conversion`` records — the records cc-style pipelines
    extract from. ``doc_id`` is deterministic (the record's own urn id
    when present, else a sha of file + record index) so re-ingesting a
    crawl is idempotent for lineage/resume purposes.

    ``single_parse=True`` persists the kept-records frame
    (``MEMORY_AND_DISK``) so the two consumer legs materialize the
    archive parse ONCE instead of once per leg (VERDICT r4 #9; same
    CacheManager-lifecycle caveat as ``mbox_to_corpus``).
    """
    rid = F.coalesce(
        F.regexp_replace("record_id", r"[<>]", ""),
        F.concat(F.lit("urn:sha:"),
                 F.sha2(F.concat_ws("#", "warc_file",
                                    F.col("record_index").cast("string")),
                        256)),
    )
    kept = (
        records
        .filter(F.col("error").isNull() & F.col("payload").isNotNull())
        .filter(
            F.col("warc_type").isin("resource", "conversion")
            | ((F.col("warc_type") == "response")
               & F.col("http_status").between(200, 299))
        )
        .select(
            rid.alias("doc_id"),
            F.col("target_uri"),
            F.col("content_type"),
            F.col("payload"),
        )
    )
    if single_parse:
        from pyspark import StorageLevel

        kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    documents = kept.select(
        "doc_id",
        F.array(F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.col("doc_id").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
    )
    media = kept.select(
        F.col("doc_id").alias("media_ref"),
        F.col("content_type"),
        F.coalesce(
            F.element_at(F.split("target_uri", "/"), -1), F.lit("")
        ).alias("filename"),
        F.col("payload").alias("data"),
        F.lit(None).cast("int").alias("page_count"),
    )
    return documents, media


def extract_warc(spark: SparkSession, paths: str,
                 single_parse: bool = True, **extract_kw) -> DataFrame:
    """Archives in, reading-ordered span arrays out: :func:`read_warc`
    -> :func:`warc_to_corpus` -> the real-codec extraction pipeline.

    The records frame is referenced by both legs of the downstream
    span⋈payload join; each leg prunes to different columns and only
    the media leg carries ``payload``, so archive bytes cross the wire
    once. ``single_parse`` (default on) persists the kept-records frame
    so the archive parse also runs once, not once per leg (see
    :func:`warc_to_corpus` for the cache-lifecycle caveat).
    """
    from ..operators.extract import extract_documents

    records = read_warc(spark, paths)
    documents, media = warc_to_corpus(records, single_parse=single_parse)
    return extract_documents(documents, media, **extract_kw)


# ---------------------------------------------------------------------------
# deterministic writer (tests / fixtures; wall-clock free)
# ---------------------------------------------------------------------------

def warc_record_bytes(target_uri: str, payload: bytes,
                      content_type: str = "text/html",
                      warc_type: str = "response",
                      http_status: int = 200,
                      warc_date: str = "2026-01-01T00:00:00Z",
                      record_id: "str | None" = None,
                      chunked: bool = False) -> bytes:
    """One serialized WARC/1.0 record. ``record_id`` defaults to a sha
    urn of (uri, payload) so fixtures are byte-stable."""
    if record_id is None:
        digest = hashlib.sha256(
            target_uri.encode() + b"\x00" + payload).hexdigest()[:32]
        record_id = f"<urn:sha256:{digest}>"
    if warc_type == "response":
        body = payload
        te = b""
        if chunked:
            te = b"Transfer-Encoding: chunked\r\n"
            body = ((b"%x\r\n" % len(payload)) + payload + b"\r\n"
                    b"0\r\n\r\n") if payload else b"0\r\n\r\n"
        block = (
            b"HTTP/1.1 %d OK\r\n" % http_status
            + b"Content-Type: %s\r\n" % content_type.encode()
            + te
            + b"Content-Length: %d\r\n\r\n" % len(body)
            + body
        )
        block_type = "application/http; msgtype=response"
    else:
        block = payload
        block_type = content_type
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Record-ID: {record_id}\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Target-URI: {target_uri}\r\n"
        f"Content-Type: {block_type}\r\n"
        f"Content-Length: {len(block)}\r\n\r\n"
    ).encode()
    return head + block + _HDR_END


def write_warc(path: str, records: Iterable[dict],
               gzip_members: bool = True) -> None:
    """Serialize records (kwargs dicts for :func:`warc_record_bytes`) to
    ``path``; ``gzip_members`` emits the standard one-member-per-record
    layout (raw zlib stream, mtime-free: byte-stable output)."""
    with open(path, "wb") as out:
        for rec in records:
            raw = warc_record_bytes(**rec)
            if gzip_members:
                comp = zlib.compressobj(9, zlib.DEFLATED, 31)
                buf = io.BytesIO()
                buf.write(comp.compress(raw))
                buf.write(comp.flush())
                out.write(buf.getvalue())
            else:
                out.write(raw)
