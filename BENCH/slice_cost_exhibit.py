"""Probe-stage cost per paged tier, at one and eight pages per bucket,
with no Spark: the bucket explode (``operators/extract.py``
``_bucket_batches_fn``) over one payload, as the probe stage runs it —
the deep probe, then the slicer's cuts (PDF, TIFF, GIF, SPDF1) or the
walked parts a container kind's probe already produced (PPTX, EPUB,
mbox, XLSX).

A slicer that re-parses its container on every cut costs O(pages²) at
K=1 and eight times less at K=8; one that parses once costs about the
same at both. Also printed: the bytes the bucket rows carry over the
payload's size (the bucket shuffle's amplification): a slice's bytes,
or a walked row's text parts in UTF-8 plus its pictures' bytes.

Usage: python BENCH/slice_cost_exhibit.py [--pages 500] [--root DIR]
(``--root`` points at another checkout to measure its probe stage.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd


def row_bytes(data, parts) -> int:
    """The payload bytes one bucket row carries."""
    if parts is None:
        return len(data)
    return sum(len(p["data"]) if p["data"] is not None
               else len(p["text"].encode()) for p in parts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=500)
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    from ocr_platform_spark import (emltext, epubtext, gifcodec, pptxtext,
                                    tiffcodec, xlsxtext)
    from ocr_platform_spark.operators import extract

    n = args.pages
    rng = np.random.default_rng(0)
    bitmaps = [(rng.random((64, 96)) < 0.05).astype(np.uint8)
               for _ in range(n)]
    payloads = {
        "tiff": tiffcodec.encode_g4_tiff(bitmaps),
        "gif": gifcodec.encode_gif([b * 255 for b in bitmaps]),
        "pptx": pptxtext.encode_pptx([[f"slide {i}"] for i in range(n)]),
        "epub": epubtext.encode_epub(
            [f"<html><body><p>chapter {i}</p></body></html>"
             for i in range(n)]),
        "mbox": b"".join(
            b"From a@b Thu Jan  1 00:00:00 2026\n"
            + emltext.encode_eml([("From", "a@b"), ("Subject", f"m{i}")],
                                 body=f"body {i}").replace(b"\r\n", b"\n")
            for i in range(n)),
        "xlsx": xlsxtext.encode_xlsx([[[f"row {i}"]] for i in range(n)]),
    }
    out = {"pages": n}
    for kind, raw in payloads.items():
        row = {}
        for k in (1, 8):
            frame = pd.DataFrame({"doc_id": ["d"], "offset": [0],
                                  "media_ref": ["m"], "data": [raw]})
            t0 = time.perf_counter()
            [rows] = extract._bucket_batches_fn(k)(iter([frame]))
            row[f"k{k}_sec"] = round(time.perf_counter() - t0, 3)
            assert (set(rows["media_kind"]), len(rows)) == (
                {kind}, -(-n // k)), (kind, rows["error"].tolist()[:1])
            parts = rows["parts"] if "parts" in rows else [None] * len(rows)
            shipped = sum(map(row_bytes, rows["data"], parts))
            row[f"k{k}_amplification"] = round(shipped / len(raw), 2)
        out[kind] = row
    print(json.dumps(out))


if __name__ == "__main__":
    main()
