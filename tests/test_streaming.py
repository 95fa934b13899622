"""Streaming ingestion: the file-stream drain must produce exactly the
batch pipeline's output (same span sequences), across multiple
micro-batches, with one lineage row per batch."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_platform_spark import corpus, streaming
from ocr_platform_spark.corpus import DOCUMENTS_SCHEMA, MEDIA_SCHEMA
from ocr_platform_spark.operators.extract import extract_documents


def _spans_by_doc(df):
    rows = df.collect()
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in rows
    }


def test_stream_drain_equals_batch(spark, tmp_path):
    docs, media = corpus.generate(20, seed=11, max_pages=6)
    landing = tmp_path / "landing"
    landing.mkdir()
    # three landing files -> with maxFilesPerTrigger=1, three micro-batches
    for i in range(3):
        chunk = docs[i * 7 : (i + 1) * 7]
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=DOCUMENTS_SCHEMA),
                str(landing / f"part-{i}.parquet"),
            )
    media_rows = [{"media_ref": k, **v} for k, v in sorted(media.items())]
    media_path = tmp_path / "media.parquet"
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=MEDIA_SCHEMA), str(media_path)
    )
    media_df = spark.read.parquet(str(media_path))

    out_dir = str(tmp_path / "out")
    batches: list[tuple[int, int]] = []
    q = streaming.stream_extract(
        spark,
        str(landing),
        media_df,
        out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        on_batch=lambda bid, n: batches.append((bid, n)),
    )
    q.awaitTermination()

    assert len(batches) == 3
    assert sum(n for _, n in batches) == len(docs)

    streamed = spark.read.parquet(os.path.join(out_dir, "data"))
    docs_df = spark.read.parquet(str(landing))
    expected = extract_documents(docs_df, media_df)
    assert _spans_by_doc(streamed) == _spans_by_doc(expected)

    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    assert lineage.count() == 3
    assert lineage.select("batch_id").distinct().count() == 3


def test_stream_resume_no_duplicates(spark, tmp_path):
    """A restarted stream (same checkpoint) must not reprocess drained
    files; newly landed files are picked up exactly once."""
    docs, media = corpus.generate(10, seed=13, max_pages=4)
    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(
        pa.Table.from_pylist(docs[:5], schema=DOCUMENTS_SCHEMA),
        str(landing / "part-0.parquet"),
    )
    media_rows = [{"media_ref": k, **v} for k, v in sorted(media.items())]
    media_path = tmp_path / "media.parquet"
    pq.write_table(
        pa.Table.from_pylist(media_rows, schema=MEDIA_SCHEMA), str(media_path)
    )
    media_df = spark.read.parquet(str(media_path))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = streaming.stream_extract(
        spark, str(landing), media_df, out_dir, checkpoint_dir=ckpt
    )
    q.awaitTermination()
    first = spark.read.parquet(os.path.join(out_dir, "data")).count()
    assert first == 5

    # land more files, "restart" the stream with the same checkpoint
    pq.write_table(
        pa.Table.from_pylist(docs[5:], schema=DOCUMENTS_SCHEMA),
        str(landing / "part-1.parquet"),
    )
    q2 = streaming.stream_extract(
        spark, str(landing), media_df, out_dir, checkpoint_dir=ckpt
    )
    q2.awaitTermination()
    out = spark.read.parquet(os.path.join(out_dir, "data"))
    assert out.count() == 10
    assert out.select("doc_id").distinct().count() == 10


def _to_ms(s):
    import pandas as pd

    s = pd.to_datetime(s)
    if getattr(s.dtype, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[ms]").astype("int64")


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    """Watermarked tumbling-window streaming agg == batch window agg."""
    import shutil

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001/events.parquet"
    landing = tmp_path / "ev"
    landing.mkdir()
    shutil.copy(src, str(landing / "part-0.parquet"))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.read.parquet(src).schema.fields
    )
    from ocr_platform_spark.streaming import windowed_event_counts

    agg = windowed_event_counts(spark, str(landing), schema)
    q = (
        agg.writeStream.format("memory").queryName("winagg_t")
        .outputMode("complete").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck")).start()
    )
    q.awaitTermination()
    got = {
        (r["win_start"], r["event_type"], r["n"])
        for r in spark.sql("select * from winagg_t").collect()
    }
    batch = {
        (r["w"]["start"], r["event_type"], r["n"])
        for r in (
            spark.read.parquet(src)
            .groupBy(
                F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"),
                "event_type",
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert got == batch


def test_sessionize_events_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: every emitted session is an
    oracle session, and every oracle session closed by later data is
    emitted (open per-user tails may stay in state at availableNow end)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ocr_platform_spark.streaming import sessionize_events

    src = "/root/testdata/sf0.001/events.parquet"
    landing = tmp_path / "ev"
    landing.mkdir()
    tbl = pq.read_table(src).sort_by("ts")
    mid = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, mid), str(landing / "part-0.parquet"))
    pq.write_table(tbl.slice(mid), str(landing / "part-1.parquet"))
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.read.parquet(src).schema.fields
    )
    sess = sessionize_events(spark, str(landing), schema, gap_minutes=30)
    q = (
        sess.writeStream.format("memory").queryName("sess_t")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", 1).start()
    )
    q.awaitTermination()
    got = spark.sql("select * from sess_t").toPandas()

    pdf = tbl.to_pandas()
    pdf["ms"] = _to_ms(pdf["ts"])
    sessions = []
    for uid, g in pdf.sort_values(["user_id", "ms"]).groupby("user_id"):
        s = last = None
        cnt = 0
        for t in g["ms"]:
            if s is None:
                s, last, cnt = t, t, 1
            elif t - last > 30 * 60 * 1000:
                sessions.append((uid, s, last, cnt))
                s, last, cnt = t, t, 1
            else:
                last, cnt = t, cnt + 1
        sessions.append((uid, s, last, cnt))
    gotset = set(
        zip(
            got.user_id,
            _to_ms(got.session_start),
            _to_ms(got.session_end),
            got.n_events,
        )
    )
    oset = set(sessions)
    tails = {}
    for s in sessions:
        if s[0] not in tails or s[2] > tails[s[0]][2]:
            tails[s[0]] = s
    assert gotset <= oset
    assert (oset - set(tails.values())) <= gotset
    assert len(gotset) > 0


def test_stream_dedup_first_occurrence_wins(spark, tmp_path):
    """Exact-dedup over the stream: within-batch dups resolve to the min
    doc_id; repeats arriving in a LATER drain are suppressed by the
    checkpointed state (the state store survives query restarts);
    output matches the batch dedup_exact semantics."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    landing = tmp_path / "dedup_landing"
    landing.mkdir()
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    sink = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")

    def drain():
        q = (
            streaming.stream_dedup_docs(spark, str(landing))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r.doc_id for r in spark.read.parquet(sink).collect()}

    # drain 1: docs 0..4; 0 and 1 share normalized text ("Alpha,  BETA"
    # tokenizes to "alpha beta"); 2 and 4 share "gamma"
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"doc_id": 0, "text": "alpha beta"},
                {"doc_id": 1, "text": "Alpha,  BETA"},
                {"doc_id": 2, "text": "gamma"},
                {"doc_id": 3, "text": "delta"},
                {"doc_id": 4, "text": "gamma"},
            ],
            schema=schema,
        ),
        str(landing / "part-0.parquet"),
    )
    assert drain() == {0, 2, 3}

    # drain 2 (same checkpoint): repeats must be suppressed by state,
    # only the genuinely new text survives
    pq.write_table(
        pa.Table.from_pylist(
            [
                {"doc_id": 5, "text": "alpha beta"},
                {"doc_id": 6, "text": "epsilon"},
                {"doc_id": 7, "text": "delta"},
            ],
            schema=schema,
        ),
        str(landing / "part-1.parquet"),
    )
    assert drain() == {0, 2, 3, 6}


def test_batch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-processing the same micro-batch
    (same batch_id) must replace its own output, not duplicate it."""
    from ocr_platform_spark import corpus, schemas, streaming

    docs, media = corpus.generate(12, seed=7, max_pages=4)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [{"media_ref": k, **v} for k, v in sorted(media.items())],
        schema=schemas.MEDIA,
    )
    data_dir = str(tmp_path / "data")
    lineage_dir = str(tmp_path / "lineage")
    for _ in range(2):  # second call = the crash-retry of batch 0
        streaming.process_extract_batch(
            docs_df, 0, media_df, data_dir, lineage_dir
        )
    out = spark.read.parquet(data_dir)
    assert out.count() == len(docs)
    assert out.select("doc_id").distinct().count() == len(docs)
    lin = spark.read.parquet(lineage_dir)
    assert lin.count() == 1  # one lineage row per batch, not per attempt
    assert lin.first()["doc_count"] == len(docs)


def test_stream_drain_real_media_pipeline(spark, tmp_path):
    """The one entry point: a landing stream of web/real media (HTML +
    PNG re-encodings) drains through extract_documents and matches the
    batch pipeline exactly."""
    from ocr_platform_spark.operators.extract import extract_documents
    from tests.test_extract_html import content_html
    from tests.test_extract_real import reencode_real

    docs, media = corpus.generate(14, seed=77, max_pages=4)
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(2):
        chunk = docs[i * 7 : (i + 1) * 7]
        pq.write_table(
            pa.Table.from_pylist(chunk, schema=DOCUMENTS_SCHEMA),
            str(landing / f"part-{i}.parquet"),
        )
    real_rows = [
        (ref, content_html(m["data"]) if i % 2 else reencode_real(m["data"]))
        for i, (ref, m) in enumerate(sorted(media.items()))
    ]
    media_df = spark.createDataFrame(
        [(r, bytearray(d)) for r, d in real_rows],
        "media_ref string, data binary",
    )

    out_dir = str(tmp_path / "out")
    q = streaming.stream_extract(
        spark,
        str(landing),
        media_df,
        out_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    streamed = spark.read.parquet(os.path.join(out_dir, "data"))
    expected = extract_documents(
        spark.read.parquet(str(landing)), media_df
    )
    assert _spans_by_doc(streamed) == _spans_by_doc(expected)
