"""Per-layer ledger for a traced benchmark run.

Every layer is measured from outside the program: the ledger calls each
layer's public function on its materialized input, tags the Spark jobs it
starts with the local property ``perfbench.layer``, and afterwards reads
bytes, spill, task skew and the Python-worker SQL metrics from the
uncompressed Spark event log. Spark's ``executorCpuTime`` counts JVM
threads only, so Python-side cost comes from the "time to run Python
workers" SQL metric and from wall time, never from stage CPU time.

Layers (public functions timed):

* ``extract.*`` -- ``shared_exploded_spans``, ``decode_pages``,
  ``ocr_blocks`` and ``assemble_spans`` on the synthetic tables;
* ``extract_real.*`` and ``tier.<kind>.*`` -- ``real_page_buckets`` and
  ``ocr_real_blocks`` on the crawl tables, then ``ocr_real_blocks`` once
  per probed media kind;
* ``lineage.*`` -- ``run_extract_job`` killed after one of two chunks and
  resumed, ``completed_buckets`` and ``bucket_lineage``;
* ``kernels.*`` -- ``formats``/``raster``/``kernels`` single-process on a
  fixed sample of the seed's pages;
* ``exchange.*`` -- the traced repetitions of the workload itself.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_platform_spark import formats, kernels, lineage, raster
from ocr_platform_spark.operators import extract, extract_real
from ocr_platform_spark.schemas import BLOCK

from perfbench.workloads import count_failed, doc_digests

LAYER = "perfbench.layer"
#: media kinds the crawl_mix probe emits; each gets tier.<kind>.* metrics
TIER_KINDS = ("csv", "docx", "eml", "epub", "html", "image", "json", "mbox",
              "md", "odt", "pdf", "pptx", "rtf", "tex", "tiff", "txt",
              "xlsx", "xml")
#: the resumed run: 16 buckets in chunks of 8, killed after 1 chunk
NUM_BUCKETS, CHUNK_BUCKETS, KILL_AFTER = 16, 8, 1
#: pages in the single-process kernel sample, and passes over it
KERNEL_PAGES, KERNEL_PASSES = 64, 3

_INT_COLS = [f.name for f in BLOCK.fields if f.dataType.typeName() == "integer"]
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _init_probe(batches):
    """Trivial Python UDF that imports the extraction operators, as the
    first batch of a real OCR task does."""
    import ocr_platform_spark.operators.extract_real  # noqa: F401

    for b in batches:
        yield b


class Ledger:
    """Runs the layer steps in a session that writes an event log, then
    turns the log and the timings into ``name -> (value, unit)``."""

    def __init__(self, spark: SparkSession, work: str, inputs: str):
        """``inputs``: a ``crawl_mix`` input directory, which holds the
        synthetic and the crawl media of the same documents."""
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.inputs = inputs
        self.metrics: dict[str, tuple[float, str]] = {}
        self.failed = self.attempted = 0
        self.tier_pages: dict[str, int] = {}
        self.tier_raster: dict[str, int] = {}

    def layer(self, name: str | None) -> None:
        self.sc.setLocalProperty(LAYER, name)

    def _timed(self, name: str, fn):
        self.layer(name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            self.layer(None)
        return out, time.perf_counter() - t0

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def _read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.inputs, table))

    def _check(self, rows: list, name: str) -> None:
        """Counts failed documents against ``oracle.json`` (synthetic
        media) or ``reference.json`` (crawl media)."""
        with open(os.path.join(self.inputs, name)) as f:
            reference = json.load(f)
        self.failed += count_failed(rows, reference)
        self.attempted += len(reference)

    # -- session ----------------------------------------------------------

    def worker_init(self, cpus: int) -> None:
        """First vs second run of a trivial Python job in a fresh
        SparkContext: the difference is worker start plus imports."""
        df = self.spark.range(0, cpus, numPartitions=cpus)
        schema = df.schema
        walls = [self._timed("udf_init", lambda: df.mapInPandas(
            _init_probe, schema).collect())[1] for _ in range(2)]
        self.put("udf.worker_init_ms", (walls[0] - walls[1]) * 1000, "ms")

    # -- layer steps ------------------------------------------------------

    def run(self) -> dict[str, float]:
        """Runs every layer step; returns each step's wall time."""
        steps = {}
        for step in (self.flagship, self.real, self.resume, self.kernels):
            t0 = time.perf_counter()
            step()
            steps[step.__name__] = round(time.perf_counter() - t0, 2)
        return steps

    def flagship(self) -> None:
        docs = self._read("documents.parquet")
        media = self._read("media.parquet")
        sp = extract.shared_exploded_spans(docs)
        _, t = self._timed("extract.spans", sp.count)
        self.put("extract.spans_s", t, "s")
        pages = extract.decode_pages(docs, media, spans=sp).persist()
        n, t = self._timed("extract.decode", pages.count)
        self.put("extract.decode_s", t, "s")
        self.put("extract.decode_pages_out", n, "count")
        blocks = extract.ocr_blocks(pages).persist()
        n, t = self._timed("extract.ocr", blocks.count)
        self.put("extract.ocr_s", t, "s")
        self.put("extract.ocr_blocks_out", n, "count")
        out = extract.assemble_spans(docs, blocks, spans=sp)
        rows, t = self._timed("extract.assemble",
                              lambda: doc_digests(out).collect())
        self.put("extract.assemble_s", t, "s")
        self._check(rows, "oracle.json")
        blocks.unpersist()
        pages.unpersist()
        rows, self.flagship_wall = self._timed("flagship", lambda: doc_digests(
            extract.extract_documents(docs, media)).collect())
        self._check(rows, "oracle.json")

    def real(self) -> None:
        docs = self._read("documents.parquet")
        media = self._read("media_crawl.parquet")
        sp = extract.shared_exploded_spans(docs)
        buckets = extract_real.real_page_buckets(docs, media,
                                                 spans=sp).persist()
        _, t = self._timed("extract_real.probe", buckets.count)
        self.put("extract_real.probe_s", t, "s")
        ok = F.col("media_kind") != extract.MEDIA_KIND_ERROR
        stats = buckets.groupBy(ok.alias("ok")).agg(
            F.count("*").alias("rows"),
            F.sum(F.col("sliced").cast("int")).alias("sliced")).collect()
        by_ok = {r["ok"]: r for r in stats}
        good = by_ok[True]["rows"] if True in by_ok else 0
        self.put("extract_real.buckets_out", good, "count")
        self.put("extract_real.quarantined",
                 by_ok[False]["rows"] if False in by_ok else 0, "count")
        self.put("extract_real.sliced_frac",
                 (by_ok[True]["sliced"] or 0) / good if good else 0.0,
                 "fraction")
        self.payload_bytes = media.select(
            F.sum(F.length("data"))).collect()[0][0]
        blocks = extract_real.ocr_real_blocks(buckets).persist()
        n, t = self._timed("extract_real.ocr", blocks.count)
        self.put("extract_real.ocr_s", t, "s")
        self.put("extract_real.blocks_out", n, "count")
        self._check(doc_digests(extract.assemble_spans(
            docs, blocks, spans=sp)).collect(), "reference.json")
        blocks.unpersist()
        pages = {r["media_kind"]: r["pages"] for r in buckets.filter(ok)
                 .groupBy("media_kind")
                 .agg(F.sum(F.col("page_hi") - F.col("page_lo")).alias("pages"))
                 .collect()}
        for kind in TIER_KINDS:
            if kind not in pages:
                continue
            # one task per kind, so per-task start-up cost is paid once
            tier = extract_real.ocr_real_blocks(
                buckets.filter(F.col("media_kind") == kind), num_partitions=1)
            rows, _ = self._timed(f"tier.{kind}", lambda: tier.select(
                "doc_id", "offset", "page_index", "conf").collect())
            self.tier_pages[kind] = pages[kind]
            # OCR confidences are below 1.0; text-layer blocks carry 1.0
            self.tier_raster[kind] = len({
                (r["doc_id"], r["offset"], r["page_index"])
                for r in rows if r["conf"] < 1.0})
        buckets.unpersist()

    def resume(self) -> None:
        docs = self._read("documents.parquet")
        media = self._read("media.parquet")
        out = os.path.join(self.work, "ledger-resume")
        lineage_dir = os.path.join(out, "lineage")
        run_id = "ledger"
        shutil.rmtree(out, ignore_errors=True)

        def job(**kw) -> int:
            return lineage.run_extract_job(
                self.spark, docs, media, out, run_id, num_buckets=NUM_BUCKETS,
                chunk_buckets=CHUNK_BUCKETS, **kw)

        chunks, t_kill = self._timed("lineage", lambda: job(
            max_chunks=KILL_AFTER))
        _, t = self._timed("lineage.resume_scan", lambda: (
            lineage.completed_buckets(self.spark, lineage_dir, run_id)))
        self.put("lineage.resume_scan_s", t, "s")
        more, t_resume = self._timed("lineage", job)
        self.put("lineage.chunks", chunks + more, "count")
        self.put("lineage.overhead_ratio",
                 (t_kill + t_resume) / self.flagship_wall, "ratio")
        rows = self.spark.read.parquet(lineage_dir).filter(
            F.col("run_id") == run_id)
        walls = [r[0] for r in rows.select("wall_time_s").distinct().collect()]
        self.put("lineage.chunk_s", statistics.median(walls), "s")
        self.put("lineage.rows", rows.count(), "count")
        # the lineage table is one more checked output: exactly one row
        # per bucket for the run
        per_bucket = rows.groupBy("partition_id").count().collect()
        self.attempted += 1
        self.failed += sorted((r[0], r[1]) for r in per_bucket) != [
            (b, 1) for b in range(NUM_BUCKETS)]
        result = lineage.with_partition_id(
            lineage.read_result(self.spark, out), NUM_BUCKETS).persist()
        self._check(doc_digests(result).collect(), "oracle.json")
        _, t = self._timed("lineage.checksum", lambda: lineage.bucket_lineage(
            result, run_id, 0.0).collect())
        self.put("lineage.checksum_s", t, "s")
        _, t = self._timed("lineage.write", lambda: (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(os.path.join(self.work, "ledger-write"))))
        self.put("lineage.write_s", t, "s")
        result.unpersist()
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "ledger-write"),
                      ignore_errors=True)

    def kernels(self) -> None:
        """Single-process OCR core on the first pages of the seed's
        synthetic media, median of :data:`KERNEL_PASSES` passes."""
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.inputs, "media.parquet"),
                              columns=["media_ref", "data"]).to_pylist()
        sample, payloads = [], []
        for row in sorted(table, key=lambda r: r["media_ref"]):
            kind, pages = formats.decode_media(row["data"])
            payloads.append((row["data"], len(pages)))
            scale = raster.PDF_UNIT_SCALE if kind == "pdf" else 1.0
            sample.extend((row["media_ref"], p, scale) for p in pages)
            if len(sample) >= KERNEL_PAGES:
                break
        sample = sample[:KERNEL_PAGES]
        steps = ("decode", "render", "detect", "crop", "recognize", "emit")
        passes: dict[str, list[float]] = {s: [] for s in steps}
        n_blocks = 0
        for _ in range(KERNEL_PASSES):
            acc = dict.fromkeys(steps, 0.0)
            t0 = time.perf_counter()
            for data, _n in payloads:
                formats.decode_media(data)
            n_decoded = sum(n for _d, n in payloads)
            acc["decode"] = (time.perf_counter() - t0) / n_decoded
            out: dict[str, list] = {f.name: [] for f in BLOCK.fields}
            for i, (ref, page, scale) in enumerate(sample):
                t0 = time.perf_counter()
                img = raster.render_page(page, scale)
                t1 = time.perf_counter()
                boxes = kernels.detect_text_boxes(img)
                t2 = time.perf_counter()
                acc["render"] += t1 - t0
                acc["detect"] += t2 - t1
                if not boxes:
                    continue
                prep = raster.PrepView(img)
                (w_prep, h_prep), (h0, w0) = prep.size, img.shape[:2]
                sx, sy = w_prep / w0, h_prep / h0
                crops = [prep.crop((int(x1 * sx), int(y1 * sy),
                                    int(x2 * sx), int(y2 * sy)))
                         for x1, y1, x2, y2 in boxes]
                t3 = time.perf_counter()
                rec = kernels.predict_batch(
                    crops, original_heights=[y2 - y1 for _, y1, _, y2 in boxes])
                t4 = time.perf_counter()
                acc["crop"] += t3 - t2
                acc["recognize"] += t4 - t3
                for j, ((x1, y1, x2, y2), (text, conf)) in enumerate(
                        zip(boxes, rec)):
                    for col, v in zip(
                            ("doc_id", "offset", "media_ref", "page_index",
                             "block_index", "x1", "y1", "x2", "y2", "text",
                             "conf", "page_width", "page_height"),
                            (ref, 0, ref, i, j, x1, y1, x2, y2, text.strip(),
                             conf, w0, h0)):
                        out[col].append(v)
            for step in ("render", "detect", "crop", "recognize"):
                acc[step] /= len(sample)
            n_blocks = len(out["text"])
            t0 = time.perf_counter()
            res = pd.DataFrame(out)
            for c in _INT_COLS:
                res[c] = res[c].astype("int32")
            pa.Table.from_pandas(res, preserve_index=False)
            acc["emit"] = (time.perf_counter() - t0) / max(1, n_blocks) * 1000
            for s in steps:
                passes[s].append(acc[s])
        for s in steps[:-1]:
            self.put(f"kernels.{s}_ms_per_page",
                     statistics.median(passes[s]) * 1000, "ms")
        self.put("kernels.emit_ms_per_kblock",
                 statistics.median(passes["emit"]) * 1000, "ms")

    # -- event log --------------------------------------------------------

    def finish(self, events_dir: str, reps: int) -> dict:
        """Reads the event log of the stopped session."""
        log = EventLog(events_dir)
        for name, key in (("extract.decode_shuffle_bytes", "extract.decode"),
                          ("extract.assemble_shuffle_bytes",
                           "extract.assemble")):
            self.put(name, log.total(key, "shuffle_write"), "bytes")
        ocr = log.heaviest_stage("extract.ocr")
        self.put("extract.ocr_py_run_ms", log.sql(ocr, _PY_RUN), "ms")
        self.put("extract.ocr_arrow_bytes_in", log.sql(ocr, _PY_SENT), "bytes")
        self.put("extract.ocr_arrow_bytes_out", log.sql(ocr, _PY_RECV),
                 "bytes")
        self.put("extract.ocr_task_max_over_median", log.skew(ocr), "ratio")
        shuffle = log.total("extract_real.ocr", "shuffle_write")
        self.put("extract_real.bucket_shuffle_bytes", shuffle, "bytes")
        self.put("extract_real.bucket_amplification",
                 shuffle / self.payload_bytes, "ratio")
        self.put("extract_real.ocr_task_max_over_median",
                 log.skew(log.heaviest_stage("extract_real.ocr")), "ratio")
        for kind in TIER_KINDS:
            pages = self.tier_pages.get(kind, 0)
            run_ms = (log.sql(log.heaviest_stage(f"tier.{kind}"), _PY_RUN)
                      if pages else 0.0)
            self.put(f"tier.{kind}.ms_per_page",
                     run_ms / pages if pages else 0.0, "ms")
            self.put(f"tier.{kind}.raster_pages",
                     self.tier_raster.get(kind, 0), "count")
        self.put("lineage.jobs", log.jobs("lineage"), "count")
        for name, key, unit in (("shuffle_write_bytes", "shuffle_write",
                                 "bytes"),
                                ("spill_bytes", "spill", "bytes"),
                                ("stages", "stages", "count"),
                                ("tasks", "tasks", "count")):
            self.put(f"exchange.{name}", log.total("rep", key) / reps, unit)
        return self.metrics


class EventLog:
    """Per-layer totals from one uncompressed Spark event log."""

    def __init__(self, events_dir: str):
        paths = glob.glob(os.path.join(events_dir, "*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {events_dir}, "
                               f"found {paths}")
        self.stage_layer: dict[int, str] = {}
        self.job_layer: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[float]] = {}
        with open(paths[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    layer = (ev.get("Properties") or {}).get(LAYER)
                    if layer:
                        self.job_layer[ev["Job ID"]] = layer
                        for sid in ev["Stage IDs"]:
                            self.stage_layer.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    run = (ev.get("Task Metrics") or {}).get(
                        "Executor Run Time", 0)
                    self.tasks.setdefault(ev["Stage ID"], []).append(run)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = {
                        a["Name"]: a.get("Value")
                        for a in info.get("Accumulables", [])
                    } | {"_tasks": info["Number of Tasks"]}

    def _stages(self, layer: str) -> list[int]:
        return [s for s, lay in self.stage_layer.items()
                if lay == layer and s in self.stages]

    def _value(self, sid: int, key: str) -> float:
        acc = self.stages[sid]
        num = lambda name: float(acc.get(name) or 0)  # noqa: E731
        if key == "shuffle_write":
            return num("internal.metrics.shuffle.write.bytesWritten")
        if key == "spill":
            return (num("internal.metrics.memoryBytesSpilled")
                    + num("internal.metrics.diskBytesSpilled"))
        if key == "run_ms":
            return num("internal.metrics.executorRunTime")
        if key == "stages":
            return 1
        if key == "tasks":
            return acc["_tasks"]
        raise KeyError(key)

    def total(self, layer: str, key: str) -> float:
        return sum(self._value(s, key) for s in self._stages(layer))

    def jobs(self, layer: str) -> int:
        return sum(1 for lay in self.job_layer.values() if lay == layer)

    def heaviest_stage(self, layer: str) -> int:
        """The layer's stage with the most executor run time: the stage
        that runs its Python UDF."""
        return max(self._stages(layer),
                   key=lambda s: self._value(s, "run_ms"))

    def sql(self, sid: int, name: str) -> float:
        return float(self.stages[sid].get(name) or 0)

    def skew(self, sid: int) -> float:
        runs = sorted(self.tasks.get(sid, []))
        med = statistics.median(runs) if runs else 0
        return runs[-1] / med if med else 0.0

