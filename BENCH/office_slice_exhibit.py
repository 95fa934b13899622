"""Office sub-zip slicing exhibit: bytes crossing the bucket shuffle.

The claim (docs/SCALE.md "office tiers"): a multi-slide deck cut by its
slicer crosses the bucket shuffle ~once in total at any bucket size K,
instead of ⌈pages/K⌉ full-payload copies. This measures it directly —
the bucket stage's ``data`` column is exactly what the (doc_id, offset,
bucket_index) repartition moves, so ``sum(length(data))`` over the
bucket frame IS the shuffled payload volume. Arms: the default one page
per bucket and eight pages per bucket; the full-copy figure each is
compared with is its bucket-row count times the payload size (what the
slicer-failure fallback ships). Extraction at K=1 must equal the
whole-payload bucket (``bucket_pages=None``).

Run: python BENCH/office_slice_exhibit.py
Prints one JSON line; appends to BENCH/OFFICE_SLICE.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ocr_platform_spark import epubtext, pptxtext, schemas
from ocr_platform_spark.operators import extract
from ocr_platform_spark.session import get_spark

N_SLIDES = 300


def main() -> None:
    spark = get_spark("office-slice-exhibit")
    # one 300-slide deck + one 300-chapter book, realistic block text
    deck = pptxtext.encode_pptx([
        [f"slide {i} title line", f"slide {i} body text block\n"
         f"with a second line of content for weight {i}"]
        for i in range(N_SLIDES)
    ])
    book = epubtext.encode_epub([
        epubtext.chapter_xhtml(
            [f"chapter {i} paragraph one", f"chapter {i} paragraph two"])
        for i in range(N_SLIDES)
    ])
    docs = spark.createDataFrame(
        [{"doc_id": "d-deck", "spans": [
            {"kind": "pptx", "text": None, "media_ref": "m-deck",
             "offset": 0}]},
         {"doc_id": "d-book", "spans": [
            {"kind": "epub", "text": None, "media_ref": "m-book",
             "offset": 0}]}],
        schema=schemas.DOCUMENTS,
    )
    media = spark.createDataFrame(
        [("m-deck", bytearray(deck)), ("m-book", bytearray(book))],
        "media_ref string, data binary",
    )
    out: dict = {
        "n_pages": N_SLIDES,
        "payload_bytes": {"pptx": len(deck), "epub": len(book)},
    }
    for k in (1, 8):
        buckets = extract.decode_pages(
            docs, media, bucket_pages=k,
        ).filter(F.col("media_kind") != "error")
        rows = (
            buckets.groupBy("media_kind")
            .agg(F.sum(F.length("data")).alias("bytes"),
                 F.count("*").alias("bucket_rows"))
            .collect()
        )
        out[f"bucket{k}"] = {r["media_kind"]: {
            "shuffled_bytes": int(r["bytes"]),
            "bucket_rows": int(r["bucket_rows"]),
            "amplification_sliced": round(
                r["bytes"] / out["payload_bytes"][r["media_kind"]], 2),
            "amplification_full_copy": int(r["bucket_rows"]),
        } for r in rows}
    # equality of extraction, sliced one-page buckets vs the
    # whole-payload bucket (the exhibit must not trade correctness)
    a = extract.extract_documents(docs, media)
    b = extract.extract_documents(docs, media, bucket_pages=None)
    sa = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in a.collect()}
    sb = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in b.collect()}
    out["extraction_equal"] = sa == sb
    print(json.dumps(out))
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "OFFICE_SLICE.json")
    hist = []
    if os.path.exists(path):
        hist = json.load(open(path))
    hist.append(out)
    json.dump(hist, open(path, "w"), indent=1)


if __name__ == "__main__":
    main()
