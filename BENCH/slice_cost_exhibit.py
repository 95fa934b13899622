"""Probe-time slicing cost per paged tier, at one and eight pages per
bucket, with no Spark: ``TIERS[kind].slicer(raw)`` once, then every
bucket's cut, as the probe stage runs them (operators/extract.py).

A slicer that re-parses its container on every cut costs O(pages²) at
K=1 and eight times less at K=8; one that parses once costs about the
same at both. Also printed: the bytes of all slices over the payload's
size (the bucket shuffle's amplification).

Usage: python BENCH/slice_cost_exhibit.py [--pages 500] [--root DIR]
(``--root`` points at another checkout to measure its slicers.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=500)
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    from ocr_platform_spark import (emltext, epubtext, gifcodec, multimodal,
                                    pptxtext, tiffcodec, xlsxtext)
    from ocr_platform_spark.tiers import TIERS

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
        probed, pages, _w, _h = multimodal.probe_real_media(raw, deep=False)
        assert (probed, pages) == (kind, n), (kind, probed, pages)
        row = {}
        for k in (1, 8):
            t0 = time.perf_counter()
            cut = TIERS[kind].slicer(raw)
            shipped = sum(len(cut(range(lo, min(n, lo + k))))
                          for lo in range(0, n, k))
            row[f"k{k}_sec"] = round(time.perf_counter() - t0, 3)
            row[f"k{k}_amplification"] = round(shipped / len(raw), 2)
        out[kind] = row
    print(json.dumps(out))


if __name__ == "__main__":
    main()
