"""Heavy-tail skew exhibit for the REAL-codec pipeline: task-time
distribution of the bucket-OCR stage with and without the page-bucket
explode, on a corpus holding one ~2,000-page scanned PDF next to
ordinary documents.

Claim under test (operators/extract_real.py, docs/SCALE.md): with
``bucket_pages=None`` every page of the monster PDF lands in ONE task
(real media cannot page-explode without the payload, so the unbucketed
arm is the doc-key analog); ``bucket_pages=8`` turns it into ~250
independent tasks, so stage wall tracks total-work/parallelism instead
of the largest document. This is the controlled measurement behind the
incidental 29.5s-vs-13.2s observation recorded in BENCH/REAL_CODEC.json
run 1.

Method mirrors BENCH/skew_exhibit.py: each arm's bucket frame is built
by the real probe stage and eagerly checkpointed (probe/join cost
excluded), then the REAL bucket-OCR kernel runs inside a wrapper that
emits one (partition_id, pages, seconds) row per task.

Usage: python BENCH/skew_real_exhibit.py [--docs 192] [--heavy-pages 2000]
Prints one JSON line; appends to BENCH/SKEW_REAL_R4.json.
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
sys.path.insert(0, os.path.join(REPO, "tests"))

import pandas as pd  # noqa: E402

from ocr_platform_spark import corpus as corpus_mod  # noqa: E402
from ocr_platform_spark import formats, raster, schemas  # noqa: E402
from ocr_platform_spark.corpus import _make_page  # noqa: E402
from ocr_platform_spark.operators import extract, extract_real  # noqa: E402
from ocr_platform_spark.session import get_spark  # noqa: E402

TIMING_SCHEMA = "pid int, pages long, sec double"


def _timed_ocr(batches):
    from pyspark import TaskContext

    pid = TaskContext.get().partitionId()
    t0 = time.perf_counter()
    pages = 0

    def counting():
        nonlocal pages
        for pdf in batches:
            pages += int((pdf["page_hi"] - pdf["page_lo"]).sum())
            yield pdf

    for _blocks in extract._ocr_real_batches(counting()):
        pass
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
        "straggler_ratio_max_over_p50": round(secs[-1] / max(secs[n // 2], 1e-9), 1),
    }


def main() -> None:
    from test_extract_real import gray_scanned_pdf, reencode_real

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=192)
    ap.add_argument("--heavy-pages", type=int, default=2000)
    args = ap.parse_args()

    docs, media = corpus_mod.generate(args.docs, max_pages=8)
    real_rows = [(ref, bytearray(reencode_real(m["data"])))
                 for ref, m in sorted(media.items())]
    # the monster document: one REAL scanned PDF of heavy_pages pages
    rng = np.random.default_rng(991)
    scale = formats.RENDER_DPI / formats.PDF_POINT_DPI
    t0 = time.time()
    heavy_rasters = [
        raster.render_page(_make_page(rng, 300, 380, scale), scale)
        for _ in range(args.heavy_pages)
    ]
    heavy_pdf = gray_scanned_pdf(heavy_rasters)
    build_sec = time.time() - t0
    print(f"heavy PDF: {args.heavy_pages} pages, "
          f"{len(heavy_pdf)//1024//1024} MiB, built in {build_sec:.1f}s",
          file=sys.stderr)
    ref = "m-heavy-00"
    real_rows.append((ref, bytearray(heavy_pdf)))
    docs.append({
        "doc_id": "doc-heavy",
        "spans": [{"kind": "pdf", "text": None, "media_ref": ref, "offset": 0}],
    })

    spark = get_spark("skew_real_exhibit")
    sc = spark.sparkContext
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    real_df = spark.createDataFrame(real_rows, "media_ref string, data binary")
    n_parts = 3 * sc.defaultParallelism

    from pyspark.sql import functions as F

    def run_arm(bucket_pages, slice_payloads=True):
        buckets = extract_real.real_page_buckets(
            docs_df, real_df, bucket_pages=bucket_pages,
            slice_payloads=slice_payloads,
        ).filter("media_kind != 'error'").localCheckpoint(eager=True)
        payload_mb = buckets.agg(
            F.sum(F.length("data"))).collect()[0][0] / 1e6
        df = buckets.repartition(
            n_parts, "doc_id", "offset", "bucket_index"
        ).mapInPandas(_timed_ocr, schema=TIMING_SCHEMA)
        t0 = time.time()
        rows = [r.asDict() for r in df.collect()]
        wall = time.time() - t0
        return {"stage_wall_sec": round(wall, 2),
                "shuffled_payload_mb": round(payload_mb, 1),
                **_distribution(rows)}

    # warm both shapes once (codegen + worker spin-up), excluded
    run_arm(None)
    run_arm(8)

    unbucketed = run_arm(None)
    bucket8_full = run_arm(8, slice_payloads=False)
    bucket8 = run_arm(8)

    out = {
        "docs": args.docs + 1,
        "heavy_pages": args.heavy_pages,
        "partitions": n_parts,
        "cpus": sc.defaultParallelism,
        "unbucketed_arm": unbucketed,
        "bucket8_full_payload_arm": bucket8_full,
        "bucket8_arm": bucket8,
    }
    spark.stop()
    print(json.dumps(out))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "SKEW_REAL_R4.json")
    hist = json.load(open(path)) if os.path.exists(path) else []
    hist.append(out)
    json.dump(hist, open(path, "w"), indent=1)


if __name__ == "__main__":
    main()
