"""Zip-shard ingestion source: zip archives as sample containers.

The second shard container in the wild after tar: dataset dumps,
scraped-site exports and competition data ship as ``.zip`` archives
whose members follow the same basename-key sample convention the tar
source handles (``000123.txt`` + ``000123.jpg`` is one document).
This module lands them in the engine's interleaved input shape by
reusing the tar source's member schema, key split, and
:func:`..sources.tarshard.members_to_corpus` corpus mapping — one
contract, two containers.

Zip vs tar, and what it changes here:

* zip is CENTRAL-DIRECTORY addressed (the authoritative listing lives
  at the END of the file), so the reader wants a seekable stream, not
  a pipe — ``zipfile.ZipFile`` over the storage seam's file object.
  That is the format's own access pattern: an object-store deployment
  ranges the tail + per-member spans rather than streaming the whole
  archive.
* per-member CRCs mean corruption is detected AND contained per
  member: a bad member yields one error row and the walk continues
  (tar must stop at a broken header; zip resyncs via the directory).
* duplicate names are legal (appended entries shadow earlier ones) —
  resolved last-occurrence-wins by the shared corpus mapping.

Per-member decompressed size is capped at :data:`tarshard.MAX_MEMBER`
(zip stores the declared size; the read enforces it), so a
zip-of-zeros bomb costs one error row, not an allocation.

The reference ingests single uploads over HTTP; shard ingestion exists
for the same 100 TB reason the WARC and tar sources do.
"""

from __future__ import annotations

import zipfile

from pyspark.sql import DataFrame, SparkSession

from . import tarshard
from .common import list_files
from .tarshard import MEMBER_SCHEMA, _split_key, member_batches, \
    members_to_corpus

__all__ = ["read_zip_shards", "zip_to_corpus", "extract_zip_shards",
           "zip_shard_bytes"]


def iter_zip_members(fobj):
    """One shard -> member dicts in :data:`tarshard.MEMBER_SCHEMA`
    column order. Directories and leading-dot basenames skip (the
    same WebDataset key rule as tar); a member failing its CRC or
    exceeding the size cap yields an error row and the walk CONTINUES
    (zip's central directory survives member corruption); an archive
    whose directory is unreadable yields one error row."""
    idx = 0
    try:
        zf = zipfile.ZipFile(fobj)
    except Exception as exc:
        yield dict(shard_file=None, member_index=0, key=None,
                   member_name=None, ext=None, size=None, data=None,
                   error=f"zip directory: {exc}")
        return
    with zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            if info.filename.rpartition("/")[2].startswith("."):
                continue
            key, ext = _split_key(info.filename)
            # by-reference (tarshard.MAX_MEMBER): one knob bounds both
            # archive sources' member allocations
            if info.file_size > tarshard.MAX_MEMBER:
                yield dict(shard_file=None, member_index=idx, key=key,
                           member_name=info.filename, ext=ext,
                           size=int(info.file_size), data=None,
                           error=f"member exceeds "
                                 f"{tarshard.MAX_MEMBER}-byte cap")
                idx += 1
                continue
            try:
                data = zf.read(info)
            except Exception as exc:
                yield dict(shard_file=None, member_index=idx, key=key,
                           member_name=info.filename, ext=ext,
                           size=int(info.file_size), data=None,
                           error=f"member: {exc}")
                idx += 1
                continue
            yield dict(shard_file=None, member_index=idx, key=key,
                       member_name=info.filename, ext=ext,
                       size=int(info.file_size), data=data, error=None)
            idx += 1


def read_zip_shards(spark: SparkSession, paths: str,
                    batch_rows: int = 256) -> DataFrame:
    """Shard files (glob / dir / file) -> one row per member
    (:data:`tarshard.MEMBER_SCHEMA`), over the
    :func:`.common.list_files` listing."""
    listing = list_files(spark, paths, "*.zip")
    return listing.mapInPandas(
        member_batches(batch_rows, iter_zip_members),
        schema=MEMBER_SCHEMA)


def zip_to_corpus(members: DataFrame,
                  include_json: bool = False
                  ) -> tuple[DataFrame, DataFrame]:
    """Zip-shard member rows -> ``(documents, media)``; see
    :func:`..sources.tarshard.members_to_corpus` for the contract."""
    return members_to_corpus(members, include_json=include_json,
                             doc_prefix="zip:", media_prefix="zipm:")


def extract_zip_shards(spark: SparkSession, paths: str,
                       include_json: bool = False,
                       **extract_kw) -> DataFrame:
    """Shards in, reading-ordered span arrays out — the zip analog of
    ``extract_tar_shards``."""
    from ..operators.extract import extract_documents

    members = read_zip_shards(spark, paths)
    documents, media = zip_to_corpus(members, include_json=include_json)
    return extract_documents(documents, media, **extract_kw)


# ---------------------------------------------------------------------------
# deterministic writer (tests / fixtures; wall-clock free)
# ---------------------------------------------------------------------------

def zip_shard_bytes(samples: dict[str, dict[str, bytes]],
                    compress: bool = True) -> bytes:
    """``{key: {ext: payload}}`` -> deterministic zip bytes (zeroed
    DOS timestamps, members in key order then ext order — contiguous
    samples). ``compress=False`` stores members uncompressed."""
    import io

    method = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", method) as zf:
        for key in sorted(samples):
            for ext in sorted(samples[key]):
                info = zipfile.ZipInfo(f"{key}.{ext}",
                                       date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = method
                info.external_attr = 0o600 << 16
                zf.writestr(info, samples[key][ext])
    return buf.getvalue()
