"""Structured Streaming ingestion for the extraction pipeline.

The reference has no streaming surface (SURVEY.md §2.9) — its Celery
queue is a backpressure buffer in front of batch workers. The Spark-native
analog of "documents keep arriving, workers drain the queue" is a file/
table stream: ``readStream`` over the documents table's landing directory,
micro-batches drained through the *same* batch entry point
(:func:`.operators.extract.extract_documents`, every media kind) via
``foreachBatch`` (the extraction plan needs windows + groupBy over the
whole micro-batch, which is exactly what foreachBatch provides), with the
sink append + per-batch lineage rows giving the same resumability story as
:mod:`ocr_platform_spark.lineage` — plus Spark's own streaming checkpoint
(WAL of processed files) for exactly-once file pickup.

Scale posture: at 10^12 docs the landing zone is an Iceberg table and this
becomes ``spark.readStream.format("iceberg")``; the micro-batch body is
unchanged. Trigger ``availableNow`` drains a backlog as a sequence of
bounded batches (the Celery-queue-drain analog); a processing-time trigger
runs continuous ingestion.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_documents
from .schemas import DOCUMENTS


def windowed_event_counts(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Event-time tumbling-window counts with a late-data watermark — the
    canonical Structured Streaming aggregation shape (readStream →
    withWatermark → window groupBy). Returns an unstarted streaming
    DataFrame; callers attach a sink (tests drain with availableNow and
    compare against the equivalent batch aggregation).

    At scale this is the ingest-monitoring leg of the pipeline (docs/sec
    per source with bounded state: the watermark expires window state
    older than the lateness budget).
    """
    stream = spark.readStream.schema(schema).parquet(landing_dir)
    # watermarks require TIMESTAMP (with tz); parquet often carries NTZ
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
        )
    )


def sessionize_events(
    spark: SparkSession,
    landing_dir: str,
    schema: str,
    gap_minutes: int = 30,
):
    """Gap-based sessionization — the custom stateful streaming operator
    (``applyInPandasWithState`` with event-time timeout).

    Per user: consecutive events closer than ``gap_minutes`` belong to one
    session. Sessions closed *within* a batch (a later event arrives past
    the gap) emit immediately; the trailing open session is kept in state
    and emitted when the event-time watermark passes ``last + gap``
    (bounded state: one open session per active user). Returns the
    unstarted streaming DataFrame of closed sessions
    ``(user_id, session_start, session_end, n_events)``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000
    out_type = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events int"
    )
    state_type = "start long, last long, n int"

    def _emit(rows: list[tuple[int, int, int, int]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": pd.to_datetime([r[1] for r in rows], unit="ms"),
                "session_end": pd.to_datetime([r[2] for r in rows], unit="ms"),
                "n_events": pd.Series([r[3] for r in rows], dtype="int32"),
            }
        )

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            s0, l0, n0 = state.get
            state.remove()
            yield _emit([(user_id, s0, l0, n0)])
            return
        parts = [pdf["ts"] for pdf in pdfs]
        ts = pd.concat(parts).sort_values()
        if getattr(ts.dtype, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        # unit-robust epoch-ms (arrow may deliver ns or us resolution)
        ms = ts.astype("datetime64[ms]").astype("int64").tolist()
        s0 = l0 = n0 = None
        if state.exists:
            s0, l0, n0 = state.get
        closed: list[tuple[int, int, int, int]] = []
        for t in ms:
            if s0 is None:
                s0, l0, n0 = t, t, 1
            elif t - l0 > gap_ms:
                closed.append((user_id, s0, l0, n0))
                s0, l0, n0 = t, t, 1
            else:
                l0 = max(l0, t)
                n0 += 1
        state.update((s0, l0, n0))
        state.setTimeoutTimestamp(l0 + gap_ms)
        if closed:
            yield _emit(closed)

    stream = spark.readStream.schema(schema).parquet(landing_dir)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_type,
            stateStructType=state_type,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup_docs(
    spark: SparkSession,
    landing_dir: str,
    schema: str = "doc_id long, text string",
):
    """Streaming exact-dedup: emit each distinct document fingerprint the
    FIRST time it is seen across the whole stream, suppress every later
    arrival — the online twin of :func:`functions.dedup.dedup_exact`
    (same md5-of-normalized-text fingerprint, same min-doc_id survivor
    within a batch).

    Custom stateful operator (``applyInPandasWithState`` keyed by the
    fingerprint): state is one row per distinct fp ever seen. State is
    keyed and partitioned by fp, so at 10^12 docs it shards across
    executors with the shuffle and lives in the state store (RocksDB in
    production config); a TTL timeout can bound it when the dedup window
    is finite. Returns the unstarted streaming DataFrame of surviving
    ``(doc_id, fp)`` rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .functions.common import tokens

    def fn(key, pdfs, state: GroupState):
        (fp,) = key
        if state.exists:
            return  # fp already emitted in an earlier batch: suppress
        doc_ids = [int(d) for pdf in pdfs for d in pdf["doc_id"]]
        if not doc_ids:
            return
        state.update((1,))
        yield pd.DataFrame({"doc_id": [min(doc_ids)], "fp": [fp]})

    stream = spark.readStream.schema(schema).parquet(landing_dir)
    with_fp = stream.select(
        "doc_id", F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp")
    )
    return with_fp.groupBy("fp").applyInPandasWithState(
        fn,
        outputStructType="doc_id long, fp string",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def process_extract_batch(
    batch_df: DataFrame,
    batch_id: int,
    media: DataFrame,
    data_dir: str,
    lineage_dir: str,
    num_partitions: int | None = None,
    on_batch: Callable[[int, int], None] | None = None,
    broadcast_spans: bool = True,
) -> None:
    """One micro-batch through the extraction pipeline — the foreachBatch
    body, module-level so the retry semantics are directly testable.

    foreachBatch is AT-LEAST-ONCE: if the driver dies after the data write
    but before the streaming checkpoint commits, the batch re-runs on
    restart. Both writes are therefore keyed on ``batch_id`` with dynamic
    partition overwrite — a retry replaces exactly its own partition
    instead of appending duplicates (the same idempotent-commit shape as
    ``lineage.run_extract_job``'s chunks).

    The body runs the one extraction entry point
    (:func:`extract_documents`), so synthetic, real-media and web
    corpora stream through the same call."""
    t0 = time.perf_counter()
    # count once on the raw source batch (column-pruned parquet scan),
    # recorded in lineage AND handed to the callback — on_batch must
    # not trigger a second pass over the micro-batch
    n_docs = batch_df.count()
    # micro-batches are bounded, so the pinned spans broadcast is safe by
    # construction here; the flag is still threaded for contract parity
    out = extract_documents(
        batch_df, media, num_partitions=num_partitions,
        broadcast_spans=broadcast_spans,
    )
    (
        out.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(data_dir)
    )
    wall = time.perf_counter() - t0
    lineage = batch_df.sparkSession.createDataFrame(
        [(int(n_docs), float(wall))],
        "doc_count long, wall_time_s double",
    ).select(
        F.lit(int(batch_id)).alias("batch_id"),
        "doc_count",
        "wall_time_s",
        F.current_timestamp().alias("completed_at"),
    )
    (
        lineage.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(lineage_dir)
    )
    if on_batch is not None:
        on_batch(batch_id, n_docs)


def stream_extract(
    spark: SparkSession,
    landing_dir: str,
    media: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    num_partitions: int | None = None,
    on_batch: Callable[[int, int], None] | None = None,
    broadcast_spans: bool = True,
):
    """Stream documents parquet from ``landing_dir`` through the extraction
    pipeline into ``out_dir`` (append), micro-batch lineage into
    ``out_dir``/lineage.

    Returns the started ``StreamingQuery``; with ``available_now`` the
    caller should ``awaitTermination()`` to drain the backlog.
    Every media kind, real-media/HTML corpora included, goes through
    the one extraction entry point (see :func:`process_extract_batch`).
    """
    reader = (
        spark.readStream.schema(DOCUMENTS)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(landing_dir)

    data_dir = os.path.join(out_dir, "data")
    lineage_dir = os.path.join(out_dir, "lineage")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_extract_batch(
            batch_df, batch_id, media, data_dir, lineage_dir,
            num_partitions=num_partitions, on_batch=on_batch,
            broadcast_spans=broadcast_spans,
        )

    writer = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
