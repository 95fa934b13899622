"""Per-partition checkpoint/lineage + resumable runner (north_rule).

Replaces the reference's job status machine
(QUEUED→RUNNING→DETECT_DONE→DONE/FAILED, ``apps/worker/app/tasks/ocr_tasks.py:87,123,238-246``)
and its idempotent short-circuits (``ocr_tasks.py:73-80``) with the batch-native
equivalent (SURVEY.md §2.9, J3):

* every document is assigned a stable logical partition
  ``partition_id = pmod(xxhash64(doc_id), num_buckets)``;
* work proceeds in chunks of buckets; each chunk's output is written with
  *dynamic partition overwrite* (idempotent: a re-run of a half-written chunk
  replaces exactly its own partitions), then a lineage row per bucket —
  ``(run_id, partition_id, doc_count, span_checksum, wall_time_s,
  completed_at)`` — is appended (FIXTURES.md §4);
* resume = **left anti join** of the input against completed lineage buckets:
  a killed run re-does only buckets whose lineage row never committed;
* each chunk runs the one extraction entry point
  (:func:`.operators.extract.extract_documents`) for every media kind.

The checksum is order-insensitive across documents within a bucket (task
order must not matter) but order-exact within each document's span sequence:
sha256 over the sorted list of per-document sha256s of the canonicalized span
sequence (``F.sha2`` ≙ the upload checksum, ``routes_jobs.py:66``).

Scale posture: buckets are a *logical* unit (10^12 docs → e.g. 4096 buckets,
chunks of 256); chunk granularity trades resume granularity against scheduling
overhead — each chunk is one Spark job over a filtered scan, and bucket
filtering prunes on the hash without reading payloads.
"""

from __future__ import annotations

import logging
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_documents

DEFAULT_BUCKETS = 64

_LOG = logging.getLogger(__name__)

_CANON_FIELD_SEP = ""
_CANON_SPAN_SEP = ""


def with_partition_id(documents: DataFrame, num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Stable doc→bucket assignment (pure function of doc_id)."""
    return documents.withColumn(
        "partition_id",
        F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int"),
    )


def span_checksum_per_doc(out: DataFrame) -> DataFrame:
    """sha256 of the canonicalized span sequence of each document."""
    canon = F.concat_ws(
        _CANON_SPAN_SEP,
        F.transform(
            "spans",
            lambda s: F.concat_ws(
                _CANON_FIELD_SEP,
                s["kind"],
                F.coalesce(s["text"], F.lit("\x00")),
                F.coalesce(s["media_ref"], F.lit("\x00")),
                s["offset"].cast("string"),
            ),
        ),
    )
    return out.withColumn("doc_hash", F.sha2(canon, 256))


def bucket_lineage(
    out_with_pid: DataFrame,
    run_id: str,
    wall_time_s: float,
    all_buckets: list[int] | None = None,
) -> DataFrame:
    """One lineage row per bucket from a chunk's output.

    ``all_buckets``: the chunk's full bucket list. Buckets with zero output
    documents still get a (doc_count=0) lineage row — without it an empty
    bucket never commits, ``completed_buckets`` never includes it, and
    every re-run of a finished job re-executes full chunks for it forever
    (resume would not converge on any corpus sparser than its bucket
    count). The empty checksum is sha256 of the empty string — exactly what
    the aggregate would produce for an empty sorted doc-hash list."""
    hashed = span_checksum_per_doc(out_with_pid)
    agg = hashed.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sha2(
            F.concat_ws(
                _CANON_SPAN_SEP,
                F.sort_array(
                    F.collect_list(F.concat_ws(":", "doc_id", "doc_hash"))
                ),
            ),
            256,
        ).alias("span_checksum"),
    )
    if all_buckets is not None:
        base = out_with_pid.sparkSession.createDataFrame(
            [(int(b),) for b in all_buckets], "partition_id int"
        )
        agg = base.join(agg, "partition_id", "left").select(
            "partition_id",
            F.coalesce("doc_count", F.lit(0).cast("long")).alias("doc_count"),
            F.coalesce("span_checksum", F.sha2(F.lit(""), 256)).alias(
                "span_checksum"
            ),
        )
    return agg.select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "doc_count",
        "span_checksum",
        F.lit(float(wall_time_s)).alias("wall_time_s"),
        F.current_timestamp().alias("completed_at"),
    )


def completed_buckets(spark: SparkSession, lineage_dir: str, run_id: str) -> set[int]:
    if not os.path.isdir(lineage_dir) or not any(
        f.endswith(".parquet") for _, _, fs in os.walk(lineage_dir) for f in fs
    ):
        return set()
    rows = (
        spark.read.parquet(lineage_dir)
        .filter(F.col("run_id") == run_id)
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r["partition_id"] for r in rows}


def run_extract_job(
    spark: SparkSession,
    documents: DataFrame,
    media: DataFrame,
    out_dir: str,
    run_id: str,
    num_buckets: int = DEFAULT_BUCKETS,
    chunk_buckets: int = 16,
    max_chunks: int | None = None,
    num_partitions: int | None = None,
    sink=None,
    broadcast_spans: bool = True,
) -> int:
    """Resumable extraction run. Returns the number of chunks executed.

    Each chunk runs the one extraction entry point,
    :func:`extract_documents`, for every media kind (synthetic and
    real-codec alike); the empty-bucket derivation below relies on the
    sentinel contract its assembly step provides (one output row per
    input document).

    ``broadcast_spans`` is forwarded to :func:`extract_documents`; the
    chunked path defaults it to True (not the stats-guarded auto mode)
    because a chunk's media-span key set is bounded by construction —
    ``chunk_buckets``/``num_buckets`` of the corpus — so size the chunks
    rather than dropping the hint; set False if a single chunk's key set
    still outgrows executor memory.

    ``max_chunks`` is the kill-injection hook for the resume test: stop after
    N chunks as if the driver died; a later call with the same ``out_dir`` +
    ``run_id`` resumes from lineage.

    ``sink`` is the Iceberg seam (:class:`ocr_platform_spark.iceberg.
    IcebergSink`): when set, each chunk commits via
    ``writeTo(table).overwritePartitions()`` (atomic partition REPLACE
    under snapshot isolation) instead of the parquet dynamic-overwrite
    fallback; lineage rows still land in ``out_dir``/lineage.
    """
    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "lineage")
    docs_pid = with_partition_id(documents, num_buckets)

    done = completed_buckets(spark, lineage_dir, run_id)
    remaining = [b for b in range(num_buckets) if b not in done]
    chunks = [
        remaining[i : i + chunk_buckets]
        for i in range(0, len(remaining), chunk_buckets)
    ]
    # Buckets that will land ZERO rows this run: extraction emits exactly
    # one output row per input document (sentinel contract,
    # assemble_spans), so empty-output buckets == buckets with no input
    # docs. Bucket membership is chunk-independent, so ONE doc_id-pruned
    # scan before the loop covers every chunk (per-chunk distinct scans
    # would re-read the input table once per chunk — 16 extra full scans
    # at the 4096-bucket/256-chunk posture). Stale partitions of empty
    # buckets (prior run_id on a reused target) must be dropped
    # explicitly, because both commit paths (dynamic overwrite / Iceberg
    # overwritePartitions) only replace partitions that receive new rows.
    have_docs = {
        r["partition_id"]
        for r in docs_pid.select("partition_id").distinct().collect()
    }
    executed = 0
    for chunk in chunks:
        if max_chunks is not None and executed >= max_chunks:
            break
        t0 = time.perf_counter()
        empty = [b for b in chunk if b not in have_docs]
        subset = docs_pid.filter(F.col("partition_id").isin(chunk)).drop(
            "partition_id"
        )
        out = extract_documents(
            subset, media, num_partitions=num_partitions,
            broadcast_spans=broadcast_spans,
        )
        out_pid = with_partition_id(out, num_buckets)
        # idempotent data commit: dynamic overwrite replaces exactly the
        # chunk's own partitions, so a crashed half-written chunk heals on
        # re-run (reference analog: rerun/requeue, routes_jobs.py:119-175)
        if sink is not None:
            # persist across the two actions: without it the lineage
            # aggregate below would re-execute the whole decode+OCR DAG a
            # second time per chunk
            out_pid = out_pid.persist()
            sink.write_chunk(out_pid)
            delete_fn = getattr(sink, "delete_partitions", None)
            if empty and delete_fn is not None:
                # same stale-partition rule as the parquet branch:
                # overwritePartitions leaves partitions that receive no
                # new rows untouched, so a reused table keeps prior-run
                # rows in this run's empty buckets unless deleted.
                # Optional on the seam (getattr): a write_chunk-only sink
                # still commits correctly on fresh targets — it just
                # cannot be reused across run_ids with sparser corpora.
                delete_fn(spark, empty)
            elif empty and delete_fn is None:
                # lineage will record doc_count=0 for these buckets while
                # the table may still hold a prior run's rows in them —
                # surface the divergence instead of leaving it silent.
                _LOG.warning(
                    "sink %s has no delete_partitions; %d empty bucket(s) "
                    "%s keep any prior-run rows (lineage records 0 docs "
                    "for them)", type(sink).__name__, len(empty), empty,
                )
            lineage_src = out_pid
        else:
            (
                out_pid.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(data_dir)
            )
            # clear ONLY the zero-row buckets' partition dirs: dynamic
            # overwrite replaces every bucket that receives rows with its
            # usual commit-time atomicity (old files stay visible until
            # the job commits), but a bucket landing ZERO rows this run
            # keeps a stale dir from a prior run_id on a reused out_dir —
            # the read-back below would checksum the stale rows into this
            # run's lineage. Restricting the rmtree to `empty` keeps the
            # non-empty buckets' crash window unchanged, and running it
            # AFTER the chunk's data commit keeps the destructive step as
            # close to the lineage commit point as possible: a crash
            # between write and rmtree resumes cleanly (no lineage row ->
            # chunk re-runs, rmtree re-fires). Reader-visible window: a
            # concurrent reader of data_dir between this rmtree and the
            # lineage append sees the empty bucket's rows already gone
            # while lineage still lists the prior run's row for it.
            for b in empty:
                stale = f"{data_dir}/partition_id={b}"
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
            # lineage from the data READ BACK, not from the lazy plan: the
            # read is output-sized (partition-pruned to the chunk's own
            # dirs) where re-evaluating out_pid would re-run the heavy OCR
            # DAG a second time — and the checksum then covers what
            # actually landed on disk, not what the plan would recompute
            landed = [
                f"{data_dir}/partition_id={b}"
                for b in chunk
                if os.path.isdir(f"{data_dir}/partition_id={b}")
            ]
            lineage_src = (
                spark.read.schema(out_pid.schema)
                .option("basePath", data_dir)
                .parquet(*landed)
                if landed
                else out_pid  # whole chunk produced zero docs
            )
        wall = time.perf_counter() - t0
        # lineage commit AFTER the data commit — the commit point of the chunk
        bucket_lineage(lineage_src, run_id, wall, all_buckets=chunk).write.mode(
            "append"
        ).parquet(lineage_dir)
        if sink is not None:
            out_pid.unpersist()
        executed += 1
    return executed


def read_result(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data")).drop("partition_id")
