"""Office bucket exhibit: bytes crossing the bucket shuffle.

The claim (docs/SCALE.md "Walk once"): a multi-page deck, book,
workbook or mail archive crosses the bucket shuffle ~once in total at
any bucket size K, instead of ⌈pages/K⌉ full-payload copies. Each
bucket row carries its own pages' walked parts, which the deep probe
produced: text parts and pictures' bytes, no payload. This measures
the payload volume the (doc_id, offset, bucket_index) repartition
moves: per bucket row, ``length(data)`` (a slice or a whole payload)
plus its parts' text in UTF-8 and picture bytes. Arms: the default one
page per bucket and eight pages per bucket; the full-copy figure each
is compared with is its bucket-row count times the payload size.
Extraction at K=1 must equal the one bucket of ``bucket_pages=None``.

Run: python BENCH/office_slice_exhibit.py
Prints one JSON line; appends to BENCH/OFFICE_SLICE.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ocr_platform_spark import emltext, epubtext, pptxtext, schemas, xlsxtext
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
    workbook = xlsxtext.encode_xlsx([
        [[f"sheet {i} row one", f"{i}.5"], [f"sheet {i} row two"]]
        for i in range(N_SLIDES)
    ])
    archive = emltext.encode_mbox([
        emltext.encode_eml([("From", "a@b"), ("Subject", f"message {i}"),
                            ("Received", "relay"), ("Date", "d")],
                           body=f"message {i} body\n\nsecond paragraph")
        for i in range(N_SLIDES)
    ])
    payloads = {"pptx": deck, "epub": book, "xlsx": workbook,
                "mbox": archive}
    docs = spark.createDataFrame(
        [{"doc_id": f"d-{kind}", "spans": [
            {"kind": kind, "text": None, "media_ref": f"m-{kind}",
             "offset": 0}]} for kind in payloads],
        schema=schemas.DOCUMENTS,
    )
    media = spark.createDataFrame(
        [(f"m-{kind}", bytearray(raw)) for kind, raw in payloads.items()],
        "media_ref string, data binary",
    )
    out: dict = {
        "n_pages": N_SLIDES,
        "payload_bytes": {kind: len(raw) for kind, raw in payloads.items()},
    }
    row_bytes = F.expr(
        "coalesce(length(data), 0) + coalesce(aggregate(parts, 0L, "
        "(acc, p) -> acc + coalesce(octet_length(p.text), 0) "
        "+ coalesce(length(p.data), 0)), 0)")
    for k in (1, 8):
        buckets = extract.decode_pages(
            docs, media, bucket_pages=k,
        ).filter(F.col("media_kind") != "error")
        rows = (
            buckets.groupBy("media_kind")
            .agg(F.sum(row_bytes).alias("bytes"),
                 F.count("*").alias("bucket_rows"))
            .collect()
        )
        out[f"bucket{k}"] = {r["media_kind"]: {
            "shuffled_bytes": int(r["bytes"]),
            "bucket_rows": int(r["bucket_rows"]),
            "amplification": round(
                r["bytes"] / out["payload_bytes"][r["media_kind"]], 2),
            "amplification_full_copy": int(r["bucket_rows"]),
        } for r in rows}
    # equality of extraction, one-page buckets vs the one bucket of
    # bucket_pages=None (the exhibit must not trade correctness)
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
