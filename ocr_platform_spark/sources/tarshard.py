"""Tar-shard (WebDataset-style) ingestion source.

The de-facto distribution format for large training corpora is the
sharded tar archive: each ``.tar`` (or ``.tar.gz/.tgz/.tar.bz2/
.tar.xz``) holds many SAMPLES, a sample being every member that shares
a basename key — ``000123.txt`` + ``000123.jpg`` + ``000123.json`` is
one document with a text part, an image part, and a metadata part
(the WebDataset convention). This module lands those shards in the
engine's interleaved input shape (BASELINE.json ``input_hint``):
``(doc_id, spans[])`` + ``(media_ref, data)``, where every member is a
media payload entering the probe's tier ladder — a ``.txt`` member
refines through txt/markdown/DSV/JSON exactly like a crawled payload,
an image member OCRs, a ``.pdf`` member takes the hybrid per-page
path. The SOURCE stays format-agnostic on purpose: content typing is
the probe's job (magic bytes + structural sniffs), never the file
extension's.

``.json`` members are the one exception: under the WebDataset
convention they carry labels/metadata, not content, so
:func:`tar_to_corpus` excludes them from spans by default
(``include_json=True`` restores them — a JSONL corpus shipped as
``.json`` members extracts through the JSON tier then).

Scale posture (the same shape as :mod:`.warc`): the shared
``binaryFile`` listing (:func:`.common.list_files`) moves only path
strings and runs one shard per task — shards are the natural parallel
unit (10^5 x ~1 GiB across the cluster). Each task STREAMS its shard
with ``tarfile``'s pipe mode
(``r|*`` — sequential reads, gzip/bzip2/xz transparently), so peak
memory is one member plus one Arrow batch, never the archive. Sample
assembly is a ``(shard, key)`` groupBy — the one shuffle, carrying
each member's bytes once, which any sample-assembly must pay unless
shards are pre-sorted (WebDataset writers keep samples contiguous, but
the groupBy is the correctness-first shape that also survives shards
that interleave).

Corruption contract: a truncated or corrupt archive yields ERROR rows
(triage) for the unreadable remainder, never an executor exception —
members already streamed stay valid, mirroring the WARC reader's
member-level recovery posture.

The reference ingests single uploads over HTTP
(``apps/api/app/routers/docs.py``); shard ingestion exists for the
same 100 TB reason the WARC source does.
"""

from __future__ import annotations

import tarfile
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .common import list_files
# the ONE storage seam, shared with the WARC source: an object-store
# deployment swaps warc._open_path and both ingestion paths follow
from .warc import _open_path

__all__ = ["MEMBER_SCHEMA", "read_tar_shards", "members_to_corpus",
           "tar_to_corpus", "extract_tar_shards", "tar_shard_bytes"]

MEMBER_SCHEMA = StructType([
    StructField("shard_file", StringType()),
    StructField("member_index", IntegerType()),
    StructField("key", StringType()),
    StructField("member_name", StringType()),
    StructField("ext", StringType()),
    StructField("size", LongType()),
    StructField("data", BinaryType()),
    StructField("error", StringType()),
])

#: per-member size cap — a single member larger than this is an error
#: row (the same guard class as the transport bomb cap)
MAX_MEMBER = 1 << 30


def _split_key(name: str) -> tuple[str, str]:
    """WebDataset key split: the key is the path up to the FIRST dot of
    the basename; the extension is everything after it (``a/b.seg.txt``
    -> key ``a/b``, ext ``seg.txt``) — the convention's rule, so
    multi-suffix members of one sample group together."""
    d, _, fname = name.rpartition("/")
    stem, sep, ext = fname.partition(".")
    key = f"{d}/{stem}" if d else stem
    return key, ext if sep else ""


def iter_tar_members(fobj) -> Iterator[dict]:
    """Stream one shard -> member dicts in :data:`MEMBER_SCHEMA` column
    order. Directories/links skip; a corrupt remainder yields one
    error row and stops (tar has no per-member resync magic — unlike
    gzip members, nothing downstream of a broken header is framable)."""
    idx = 0
    try:
        with tarfile.open(fileobj=fobj, mode="r|*") as tf:
            for info in tf:
                if not info.isfile():
                    continue
                if info.name.rpartition("/")[2].startswith("."):
                    # WebDataset's own key split rejects leading-dot
                    # basenames (hidden files, macOS ._AppleDouble
                    # sidecars): they are filesystem metadata, never
                    # samples — and their empty stem would otherwise
                    # collapse every such member into one bogus key
                    continue
                key, ext = _split_key(info.name)
                if info.size > MAX_MEMBER:
                    yield dict(shard_file=None, member_index=idx,
                               key=key, member_name=info.name, ext=ext,
                               size=int(info.size), data=None,
                               error=f"member exceeds {MAX_MEMBER}-byte "
                                     f"cap")
                    idx += 1
                    # r|* streams cannot seek past without reading;
                    # read-and-discard in chunks to keep memory flat
                    src = tf.extractfile(info)
                    while src is not None and src.read(1 << 20):
                        pass
                    continue
                src = tf.extractfile(info)
                data = src.read() if src is not None else b""
                yield dict(shard_file=None, member_index=idx, key=key,
                           member_name=info.name, ext=ext,
                           size=int(info.size), data=data, error=None)
                idx += 1
    except (tarfile.TarError, EOFError, OSError, ValueError) as exc:
        yield dict(shard_file=None, member_index=idx, key=None,
                   member_name=None, ext=None, size=None, data=None,
                   error=f"tar stream: {exc}")


def member_batches(batch_rows: int, iter_members=None):
    """The shard-reader ``mapInPandas`` body, shared by every archive
    container source: open each listed path through the storage seam,
    stream it with ``iter_members`` (``iter_tar_members`` here,
    ``iter_zip_members`` in :mod:`.zipshard`), batch the member dicts.
    An unopenable path is one ``open:`` error row."""
    cols = [f.name for f in MEMBER_SCHEMA.fields]
    if iter_members is None:
        iter_members = iter_tar_members

    def gen(frames: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for frame in frames:
            for path in frame["path"]:
                try:
                    fobj = _open_path(path)
                except OSError as exc:
                    yield pd.DataFrame(
                        [dict(shard_file=path, member_index=-1,
                              key=None, member_name=None, ext=None,
                              size=None, data=None,
                              error=f"open: {exc}")], columns=cols)
                    continue
                rows: list[dict] = []
                with fobj:
                    for rec in iter_members(fobj):
                        rec["shard_file"] = path
                        rows.append(rec)
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)
    return gen



def read_tar_shards(spark: SparkSession, paths: str,
                    batch_rows: int = 256) -> DataFrame:
    """Shard files (glob / dir / file) -> one row per member
    (:data:`MEMBER_SCHEMA`), over the :func:`.common.list_files`
    listing, members streamed (see module docstring)."""
    listing = list_files(spark, paths, "*.t*",
                         r"\.(tar|tar\.gz|tgz|tar\.bz2|tar\.xz)$")
    return listing.mapInPandas(member_batches(batch_rows),
                               schema=MEMBER_SCHEMA)


def members_to_corpus(members: DataFrame,
                      include_json: bool = False,
                      doc_prefix: str = "tar:",
                      media_prefix: str = "tarm:"
                      ) -> tuple[DataFrame, DataFrame]:
    """Member rows (:data:`MEMBER_SCHEMA`) -> ``(documents, media)`` in
    the engine's interleaved input shape — shared by every
    shard-container source (tar here, zip in :mod:`.zipshard`).

    One document per (shard, key); spans in member order (WebDataset
    writers emit a sample's members consecutively, so archive order IS
    the author's order); every member is a media span whose payload
    enters the probe's tier ladder. ``.json`` members are metadata
    under the convention and excluded unless ``include_json=True``.
    Deterministic ``doc_id``/``media_ref`` (sha of shard#key /
    shard#member#index), so re-ingesting a shard is idempotent for
    lineage/resume. A member name repeated within one shard (legal —
    ``tar --append``/``--update`` layering; later zip entries shadow
    earlier ones) resolves LAST-occurrence-wins, the same rule
    extraction tools apply; the superseded payload stays in ``media``
    unreferenced and drops out of the extraction span⋈payload join."""
    kept = members.filter(
        F.col("error").isNull() & F.col("data").isNotNull()
        & F.col("key").isNotNull()
    )
    if not include_json:
        kept = kept.filter(
            ~(F.col("ext") == "json")
            & ~F.col("ext").endswith(".json")
        )
    doc_id = F.concat(F.lit(doc_prefix), F.sha2(
        F.concat_ws("#", "shard_file", "key"), 256))
    # member_index is part of the ref so duplicate names hash to
    # DISTINCT refs — otherwise two payload versions would share one
    # ref and the downstream equi-join would cross-multiply them
    media_ref = F.concat(F.lit(media_prefix), F.sha2(
        F.concat_ws("#", "shard_file", "key", "member_name",
                    F.col("member_index").cast("string")), 256))
    kept = kept.select(
        doc_id.alias("doc_id"), media_ref.alias("media_ref"),
        "member_index", "member_name", "data",
    )
    # last-wins on duplicate member names: metadata-only rows shuffle
    # here (the bytes-carrying frame never re-partitions for this)
    parts_src = (
        kept.select("doc_id", "member_name", "member_index", "media_ref")
        .groupBy("doc_id", "member_name")
        .agg(F.max("member_index").alias("member_index"),
             F.max_by("media_ref", "member_index").alias("media_ref"))
    )
    documents = (
        parts_src.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct(
            "member_index", "media_ref"))).alias("parts"))
        .select(
            "doc_id",
            F.transform(
                "parts",
                lambda p, i: F.struct(
                    F.lit("media").alias("kind"),
                    F.lit(None).cast("string").alias("text"),
                    p["media_ref"].alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    media = kept.select(
        "media_ref",
        F.col("member_name").alias("filename"),
        F.col("data"),
        F.lit(None).cast("int").alias("page_count"),
    )
    return documents, media


def tar_to_corpus(members: DataFrame,
                  include_json: bool = False
                  ) -> tuple[DataFrame, DataFrame]:
    """Tar-shard member rows -> ``(documents, media)``; see
    :func:`members_to_corpus` for the full contract."""
    return members_to_corpus(members, include_json=include_json,
                             doc_prefix="tar:", media_prefix="tarm:")


def extract_tar_shards(spark: SparkSession, paths: str,
                       include_json: bool = False,
                       **extract_kw) -> DataFrame:
    """Shards in, reading-ordered span arrays out: :func:`read_tar_shards`
    -> :func:`tar_to_corpus` -> the real-codec extraction pipeline.
    Callers chaining many stages over the same shards should persist
    the members frame (the parse runs once per downstream leg)."""
    from ..operators.extract import extract_documents

    members = read_tar_shards(spark, paths)
    documents, media = tar_to_corpus(members, include_json=include_json)
    return extract_documents(documents, media, **extract_kw)


# ---------------------------------------------------------------------------
# deterministic writer (tests / fixtures; wall-clock free)
# ---------------------------------------------------------------------------

def tar_shard_bytes(samples: dict[str, dict[str, bytes]],
                    compress: str = "") -> bytes:
    """``{key: {ext: payload}}`` -> deterministic shard bytes (ustar,
    zeroed mtime/uid/gid, members in key order then ext order —
    contiguous samples, the WebDataset layout). ``compress`` in
    ``{"", "gz", "bz2", "xz"}``."""
    import bz2
    import gzip
    import io
    import lzma

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for key in sorted(samples):
            for ext in sorted(samples[key]):
                payload = samples[key][ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(payload))
    raw = buf.getvalue()
    if compress == "gz":
        # NOT tarfile w:gz — its gzip header embeds wall-clock mtime,
        # and fixtures must be byte-deterministic
        return gzip.compress(raw, mtime=0)
    if compress == "bz2":
        return bz2.compress(raw)
    if compress == "xz":
        return lzma.compress(raw)
    return raw
