"""Heavy-tail skew exhibit for the REAL-codec pipeline: task-time
distribution of the bucket-OCR stage with and without the page-bucket
explode, on a corpus holding one ~2,000-page scanned PDF (or, with
``--heavy-kind tiff``, a multi-page CCITT G4 fax TIFF) next to ordinary
documents.

Claim under test (operators/extract.py, docs/SCALE.md): with
``bucket_pages=None`` every page of the monster PDF lands in ONE task
(real media cannot page-explode without the payload, so the unbucketed
arm is the doc-key analog); the default ``bucket_pages=1`` turns it
into 2,000 independent one-page tasks and ``bucket_pages=8`` into 250,
so stage wall tracks total-work/parallelism instead of the largest
document. The K=1 and K=8 arms alternate ``--reps`` times, so each
arm's spread is measured in the same run. This is the controlled
measurement behind the incidental 29.5s-vs-13.2s observation recorded
in BENCH/REAL_CODEC.json run 1.

Method mirrors BENCH/skew_exhibit.py: each arm's bucket frame is built
by the real probe stage and eagerly checkpointed (probe/join cost
excluded), then the REAL bucket-OCR kernel runs inside a wrapper that
emits one (partition_id, pages, seconds) row per task.

Usage: python BENCH/skew_real_exhibit.py [--docs 192] [--heavy-pages 2000]
                                        [--reps 3] [--heavy-kind pdf|tiff]
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
from ocr_platform_spark import (  # noqa: E402
    formats, raster, schemas, tiffcodec)
from ocr_platform_spark.corpus import _make_page  # noqa: E402
from ocr_platform_spark.operators import extract  # noqa: E402
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
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--heavy-kind", choices=("pdf", "tiff"), default="pdf")
    args = ap.parse_args()

    docs, media = corpus_mod.generate(args.docs, max_pages=8)
    real_rows = [(ref, bytearray(reencode_real(m["data"])))
                 for ref, m in sorted(media.items())]
    # the monster document: one REAL scanned PDF (or G4 TIFF) of
    # heavy_pages pages
    rng = np.random.default_rng(991)
    scale = formats.RENDER_DPI / formats.PDF_POINT_DPI
    t0 = time.time()
    heavy_rasters = [
        raster.render_page(_make_page(rng, 300, 380, scale), scale)
        for _ in range(args.heavy_pages)
    ]
    if args.heavy_kind == "tiff":
        heavy = tiffcodec.encode_g4_tiff(
            [(r < 128).astype(np.uint8) for r in heavy_rasters])
    else:
        heavy = gray_scanned_pdf(heavy_rasters)
    build_sec = time.time() - t0
    print(f"heavy {args.heavy_kind}: {args.heavy_pages} pages, "
          f"{len(heavy)//1024//1024} MiB, built in {build_sec:.1f}s",
          file=sys.stderr)
    ref = "m-heavy-00"
    real_rows.append((ref, bytearray(heavy)))
    docs.append({
        "doc_id": "doc-heavy",
        "spans": [{"kind": "pdf" if args.heavy_kind == "pdf" else "image",
                   "text": None, "media_ref": ref, "offset": 0}],
    })

    spark = get_spark("skew_real_exhibit")
    sc = spark.sparkContext
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    real_df = spark.createDataFrame(real_rows, "media_ref string, data binary")
    n_parts = 3 * sc.defaultParallelism

    from pyspark.sql import functions as F

    def run_arm(bucket_pages):
        t0 = time.time()
        buckets = extract.decode_pages(
            docs_df, real_df, bucket_pages=bucket_pages,
        ).filter("media_kind != 'error'").localCheckpoint(eager=True)
        probe = time.time() - t0
        payload_mb = buckets.agg(
            F.sum(F.length("data"))).collect()[0][0] / 1e6
        df = buckets.repartition(
            n_parts, "doc_id", "offset", "bucket_index"
        ).mapInPandas(_timed_ocr, schema=TIMING_SCHEMA)
        t0 = time.time()
        rows = [r.asDict() for r in df.collect()]
        wall = time.time() - t0
        return {"stage_wall_sec": round(wall, 2),
                "probe_sec": round(probe, 2),
                "shuffled_payload_mb": round(payload_mb, 1),
                **_distribution(rows)}

    # warm every shape once (codegen + worker spin-up), excluded
    for k in (None, 1, 8):
        run_arm(k)

    unbucketed = run_arm(None)
    runs: dict[int, list] = {1: [], 8: []}
    for rep in range(args.reps):
        for k in ((1, 8) if rep % 2 == 0 else (8, 1)):
            runs[k].append(run_arm(k))

    def arm(k):
        walls = sorted(r["stage_wall_sec"] for r in runs[k])
        return {"stage_wall_sec_runs": [r["stage_wall_sec"] for r in runs[k]],
                "probe_sec_runs": [r["probe_sec"] for r in runs[k]],
                "stage_wall_sec_min_max": [walls[0], walls[-1]],
                "last_run": runs[k][-1]}

    out = {
        "docs": args.docs + 1,
        "heavy_pages": args.heavy_pages,
        "heavy_kind": args.heavy_kind,
        "partitions": n_parts,
        "cpus": sc.defaultParallelism,
        "unbucketed_arm": unbucketed,
        "bucket1_arm": arm(1),
        "bucket8_arm": arm(8),
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
