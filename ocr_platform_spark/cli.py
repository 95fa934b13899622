"""spark-submit entrypoint for the extraction job.

The north-rule deployment shape: the package ships as a ``--py-files``
zip (``tools/package.py`` builds it) and this module is the job script —

    spark-submit --py-files dist/ocr_platform_spark.zip \
        dist/run_extract.py \
        --documents s3://.../documents --media s3://.../media \
        --out s3://.../out --run-id nightly-01 \
        --buckets 4096 --chunk-buckets 256

On a cluster the session comes from spark-submit's conf (master,
executors, memory) plus the engine conf it shares with
:func:`.session.get_spark` (:data:`.session.ENGINE_CONF`), so the same
script runs unchanged in both worlds. The job is
:func:`.lineage.run_extract_job`: every media kind, synthetic or real
codec, runs through the one extraction entry point at one page per
bucket. Kernel "weights" (the glyph lookup tables) are plain module
constants inside the zip — materialized on executor-local disk by the
``--py-files`` distribution itself, loaded once per worker process
(the ``lru_cache`` model-singleton analog, SURVEY.md §2.3 M4).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from .lineage import run_extract_job
from .session import ENGINE_CONF


def build_session(app_name: str = "ocr-extract") -> SparkSession:
    """Session from spark-submit conf plus the engine's
    :data:`..session.ENGINE_CONF`; sensible local defaults otherwise."""
    return SparkSession.builder.appName(app_name).config(
        map=ENGINE_CONF).getOrCreate()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="resumable OCR extraction job")
    ap.add_argument("--documents", required=True, help="documents table path")
    ap.add_argument("--media", required=True, help="media payload table path")
    ap.add_argument("--out", required=True, help="output dir (data/ + lineage/)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--chunk-buckets", type=int, default=16)
    ap.add_argument("--max-chunks", type=int, default=None,
                    help="stop after N chunks (kill-injection / smoke)")
    ap.add_argument("--num-partitions", type=int, default=None,
                    help="heavy-stage partition count (default 3x parallelism)")
    args = ap.parse_args(argv)

    spark = build_session()
    docs = spark.read.parquet(args.documents)
    media = spark.read.parquet(args.media)
    executed = run_extract_job(
        spark,
        docs,
        media,
        out_dir=args.out,
        run_id=args.run_id,
        num_buckets=args.buckets,
        chunk_buckets=args.chunk_buckets,
        max_chunks=args.max_chunks,
        num_partitions=args.num_partitions,
    )
    print(f"chunks executed: {executed}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
