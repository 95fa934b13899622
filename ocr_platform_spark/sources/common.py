"""Shared source plumbing: the file listing every file-based source
starts from, and the composition of parallel per-document span arrays
into the engine's interleaved ``(documents, media)`` input tables.

Every part-walk ingestion source (mbox messages, office containers)
parses its documents into the same PARALLEL-ARRAY row shape — ``kinds``
/ ``texts`` / ``ctypes`` / ``fnames`` / ``payloads``, one slot per span
in part order — and the corpus composition over it is identical: a
``transform`` builds the spans array (text slots keep their text, media
slots get a ``doc_id#p<i>`` ref), a ``posexplode`` emits the media
table. Both are pure column expressions, so the composition is
shuffle-FREE: a document's spans never leave their task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["list_files", "parts_frame_to_corpus"]


def list_files(spark: SparkSession, paths: str, glob: str,
               path_regex: "str | None" = None) -> DataFrame:
    """Files under ``paths`` (glob / dir / file) matching ``glob`` (and
    ``path_regex`` on the full path, when given) -> one ``path`` row
    each, repartitioned to one file per task (a file is the parallel
    unit; a lost task recomputes one file). The ``binaryFile`` listing
    is pruned to ``path`` only — Spark's binary-file source builds
    per-column readers, so file bytes never enter the scan; only path
    strings move."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(paths)
        .select("path")
    )
    if path_regex is not None:
        listing = listing.filter(F.col("path").rlike(path_regex))
    return listing.repartition(max(listing.count(), 1))


def parts_frame_to_corpus(
    parts: DataFrame, single_parse: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Filtered parts rows (``doc_id`` + the parallel span arrays) ->
    ``(documents, media)`` in the interleaved input shape.

    ``single_parse=True`` persists the parts frame (``MEMORY_AND_DISK``)
    so the two consumer legs materialize the upstream parse ONCE instead
    of once per leg. The cache is plan-keyed in Spark's CacheManager and
    is NOT GC-cleaned; drivers looping many corpora should
    ``spark.catalog.clearCache()`` between runs or keep the default."""
    if single_parse:
        from pyspark import StorageLevel

        parts = parts.persist(StorageLevel.MEMORY_AND_DISK)
    spans = F.transform(
        "kinds",
        lambda kind, i: F.struct(
            kind.alias("kind"),
            F.element_at(F.col("texts"), i + 1).alias("text"),
            F.when(kind == "media",
                   F.concat(F.col("doc_id"), F.lit("#p"),
                            i.cast("string"))).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    documents = parts.select("doc_id", spans.alias("spans"))
    media = (
        parts
        .select("doc_id", F.posexplode(
            F.arrays_zip("kinds", "ctypes", "fnames", "payloads")
        ).alias("pos", "z"))
        .filter(F.col("z.kinds") == "media")
        .select(
            F.concat("doc_id", F.lit("#p"),
                     F.col("pos").cast("string")).alias("media_ref"),
            F.col("z.ctypes").alias("content_type"),
            F.col("z.fnames").alias("filename"),
            F.col("z.payloads").alias("data"),
            F.lit(None).cast("int").alias("page_count"),
        )
    )
    return documents, media
