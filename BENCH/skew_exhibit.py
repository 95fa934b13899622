"""Heavy-tail skew exhibit (VERDICT r3 next-round #4): measure the
task-time distribution of the OCR stage WITH and WITHOUT the page-key
repartition (operators/extract.py ocr_blocks), on a corpus holding one
~2,000-page PDF next to ordinary documents.

Claim under test (README/SCALE.md): AQE cannot split one huge document —
partitioning the heavy stage by (doc_id, offset) strands every page of
the monster PDF in ONE task, making stage wall time the single-task
decode time; hashing (doc_id, offset, bucket_index) spreads pages across
all tasks, so wall time tracks total-work/parallelism instead of the
largest document.

Method: the one-page bucket frame is built once (decode_pages) and
lazily checkpointed so both arms consume identical input; each arm runs
the REAL per-page OCR kernel inside a wrapper that emits one row per
task — (partition_id, pages, seconds) — and the stage is consumed by a
noop write. Per-task timing includes everything the task does (kernel +
Arrow + scheduling), i.e. exactly what a straggler is made of.

Usage: python BENCH/skew_exhibit.py [--docs 384] [--heavy-pages 2000]
Prints one JSON line with both distributions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ocr_platform_spark import corpus as corpus_mod  # noqa: E402
from ocr_platform_spark import formats, schemas  # noqa: E402
from ocr_platform_spark.corpus import _make_page  # noqa: E402
from ocr_platform_spark.operators import extract  # noqa: E402
from ocr_platform_spark.session import get_spark  # noqa: E402

TIMING_SCHEMA = "pid int, pages long, sec double"


def _timed_ocr(batches):
    """Run the real OCR kernel over the task's batches; emit one timing row."""
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    t0 = time.perf_counter()
    pages = 0

    def counting():
        nonlocal pages
        for pdf in batches:
            pages += len(pdf)
            yield pdf

    for _blocks in extract._ocr_real_batches(counting()):
        pass  # consume: the kernel work is the payload being measured
    yield pd.DataFrame(
        {"pid": [pid], "pages": [pages], "sec": [time.perf_counter() - t0]}
    )


def _distribution(rows):
    secs = sorted(r["sec"] for r in rows)
    pages = [r["pages"] for r in rows]
    n = len(secs)
    return {
        "tasks": n,
        "tasks_with_pages": sum(1 for p in pages if p),
        "max_task_pages": max(pages),
        "task_sec_p50": round(secs[n // 2], 3),
        "task_sec_p90": round(secs[int(n * 0.9)], 3),
        "task_sec_max": round(secs[-1], 3),
        # a straggler shows as max >> p90; balanced shows max ~ p90
        "straggler_ratio_max_over_p50": round(secs[-1] / max(secs[n // 2], 1e-9), 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=384)
    ap.add_argument("--heavy-pages", type=int, default=2000)
    args = ap.parse_args()

    docs, media = corpus_mod.generate(args.docs, max_pages=8)
    # the monster document: one PDF holding heavy_pages small pages
    rng = np.random.default_rng(991)
    heavy_pages = [_make_page(rng, 400, 500, formats.RENDER_DPI / formats.PDF_POINT_DPI)
                   for _ in range(args.heavy_pages)]
    ref = "m-heavy-00"
    media[ref] = {
        "content_type": "application/pdf",
        "filename": f"{ref}.pdf",
        "data": formats.encode_pdf(heavy_pages),
        "page_count": args.heavy_pages,
    }
    docs.append({
        "doc_id": "doc-heavy",
        "spans": [{"kind": "pdf", "text": None, "media_ref": ref, "offset": 0}],
    })

    spark = get_spark("skew_exhibit")
    sc = spark.sparkContext
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [{"media_ref": k, **v} for k, v in sorted(media.items())],
        schema=schemas.MEDIA,
    )
    n_parts = 3 * sc.defaultParallelism
    pages = (
        extract.decode_pages(docs_df, media_df)
        .filter(F.col("media_kind") != extract.MEDIA_KIND_ERROR)
        .localCheckpoint(eager=True)  # both arms read identical blocks
    )
    total_pages = pages.count()

    def run_arm(keys):
        df = pages.repartition(n_parts, *keys).mapInPandas(
            _timed_ocr, schema=TIMING_SCHEMA
        )
        t0 = time.time()
        rows = [r.asDict() for r in df.collect()]
        wall = time.time() - t0
        return {"stage_wall_sec": round(wall, 2), **_distribution(rows)}

    # warm both shapes once (codegen + worker spin-up), excluded
    run_arm(["doc_id", "offset"])
    run_arm(["doc_id", "offset", "bucket_index"])

    doc_key = run_arm(["doc_id", "offset"])
    page_key = run_arm(["doc_id", "offset", "bucket_index"])

    cpus = sc.defaultParallelism
    spark.stop()
    print(json.dumps({
        "docs": args.docs + 1,
        "heavy_pages": args.heavy_pages,
        "total_pages": total_pages,
        "partitions": n_parts,
        "cpus": cpus,
        "doc_key_arm": doc_key,
        "page_key_arm": page_key,
    }))


if __name__ == "__main__":
    main()
