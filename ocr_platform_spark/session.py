"""SparkSession factory with the engine's scale-tuned defaults.

Local-mode values mirror what a 1000-executor deployment would set cluster-wide
(SURVEY.md §4): AQE on (post-shuffle coalesce + skew-join splitting), Arrow
batches sized so one batch of page buckets ≈ one in-UDF inference batch,
shuffle partitions sized to cores (overridden per-job at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the engine conf every session gets, local or spark-submit (the
#: :mod:`.cli` job): Catalyst/AQE do the physical planning — runtime
#: coalesce of small post-shuffle partitions + skew-join splitting
#: (SURVEY.md §4); Arrow transfer for all pandas UDF stages, where a
#: batch of page buckets is the in-UDF inference batch (ref
#: model-batching analog, vietocr_engine.py:130-141) — small enough that
#: a batch of *rendered* pages fits comfortably in executor memory
#: (SURVEY.md §7.3 item 5)
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
}


def get_spark(
    app_name: str = "ocr-platform-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .config(map=ENGINE_CONF)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # bucket rows are tiny; parquet splits stay balanced at scale
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
