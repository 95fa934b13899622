"""The benchmark workloads over one generated input directory.

Each workload runs one repetition of its own path as a warm-up and then
one closed-loop repetition at a time. A repetition returns its wall time and
the number of documents whose output span sequence is missing or differs
from the reference (``oracle.json`` for synthetic media,
``reference.json`` for crawl media); every repetition is checked.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark.operators import extract, extract_real

from perfbench.gen import FIELD_SEP, SPAN_SEP


def doc_digests(out: DataFrame) -> DataFrame:
    """``(doc_id, digest)``: sha256 of the span sequence in the canonical
    form of :func:`perfbench.gen.canonical`."""
    canon = F.concat_ws(SPAN_SEP, F.transform("spans", lambda s: F.concat_ws(
        FIELD_SEP, s["kind"], F.coalesce(s["text"], F.lit("\x00")),
        F.coalesce(s["media_ref"], F.lit("\x00")),
        s["offset"].cast("string"))))
    return out.select("doc_id", F.sha2(canon, 256).alias("digest"))


def count_failed(rows, reference: dict[str, str]) -> int:
    """Reference documents whose digest is missing, wrong or duplicated,
    plus output documents that are not in the reference."""
    seen: dict[str, list[str]] = {}
    for r in rows:
        seen.setdefault(r["doc_id"], []).append(r["digest"])
    bad = sum(1 for doc, want in reference.items()
              if seen.get(doc) != [want])
    return bad + sum(1 for doc in seen if doc not in reference)


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, inputs: str, work: str):
        self.spark = spark
        self.work = work
        with open(os.path.join(inputs, self.reference_file)) as f:
            self.reference = json.load(f)
        self.docs = spark.read.parquet(os.path.join(inputs, "documents.parquet"))
        self.media = spark.read.parquet(os.path.join(inputs, self.media_table))

    media_table = "media.parquet"
    reference_file = "oracle.json"

    def extract(self) -> DataFrame:
        raise NotImplementedError

    def rep(self) -> tuple[float, int]:
        t0 = time.perf_counter()
        rows = doc_digests(self.extract()).collect()
        wall = time.perf_counter() - t0
        return wall, count_failed(rows, self.reference)


class SynthFlagship(Workload):
    name = "synth_flagship"

    def extract(self) -> DataFrame:
        return extract.extract_documents(self.docs, self.media)


class CrawlMix(Workload):
    name = "crawl_mix"
    media_table = "media_crawl.parquet"
    reference_file = "reference.json"

    def extract(self) -> DataFrame:
        return extract_real.extract_real_documents(self.docs, self.media)


WORKLOADS = {w.name: w for w in (SynthFlagship, CrawlMix)}
