"""End-to-end equality gate (SURVEY.md §5 item 2 / BASELINE.json north_rule):
the Spark pipeline's per-document span sequence ``(kind, text, media_ref,
order)`` equals the single-node oracle on the deterministic corpus."""

import pytest

from ocr_platform_spark import corpus, oracle


@pytest.fixture(scope="module")
def spark_result(spark, corpus_dir):
    from ocr_platform_spark.operators.extract import extract_documents

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    out = extract_documents(docs, media).collect()
    return {r["doc_id"]: r["spans"] for r in out}


@pytest.fixture(scope="module")
def oracle_result():
    docs, media = corpus.generate(60, seed=42, max_pages=30)
    mb = {k: v["data"] for k, v in media.items()}
    return {
        d["doc_id"]: oracle.extract_document(d["spans"], mb) for d in docs
    }


def test_all_documents_present(spark_result, oracle_result):
    assert set(spark_result) == set(oracle_result)


def test_span_sequence_equality(spark_result, oracle_result):
    """The BASELINE.json invariant, every doc, every span."""
    mismatches = []
    for doc_id, want in oracle_result.items():
        got = spark_result[doc_id]
        got_tuples = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got]
        want_tuples = [(s.kind, s.text, s.media_ref, s.order) for s in want]
        if got_tuples != want_tuples:
            mismatches.append((doc_id, want_tuples[:5], got_tuples[:5]))
    assert not mismatches, f"{len(mismatches)} docs mismatch; first: {mismatches[0]}"


def test_output_schema_matches_input(spark, corpus_dir):
    from ocr_platform_spark.operators.extract import extract_documents

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    out = extract_documents(docs, media)
    in_fields = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    out_fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert in_fields == out_fields


def test_detect_boxes_table(spark, corpus_dir):
    """The persisted detect boundary matches the oracle's detect phase."""
    from ocr_platform_spark.operators.extract import decode_pages, detect_boxes_table

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    rows = detect_boxes_table(decode_pages(docs, media)).collect()
    got = {}
    for r in rows:
        got.setdefault((r["media_ref"], r["page_index"]), []).append(
            (r["block_index"], r["x1"], r["y1"], r["x2"], r["y2"], r["width"], r["height"])
        )
    _, media_payloads = corpus.generate(60, seed=42, max_pages=30)
    checked = 0
    for ref, m in list(media_payloads.items())[:20]:
        for p in oracle.detect_document(m["data"]):
            key = (ref, p["page_index"])
            want = [
                (i, b["x1"], b["y1"], b["x2"], b["y2"], p["width"], p["height"])
                for i, b in enumerate(p["boxes"])
            ]
            if want:
                assert sorted(got.get(key, [])) == sorted(want), key
                checked += 1
            else:
                assert key not in got
    assert checked > 10


def test_reading_ordered_blocks_matches_fused_sort_key(spark, corpus_dir):
    """VERDICT r3 #7: :func:`assemble_spans` fuses the per-page reading-order
    rank into the document-global sort key (offset, page_index, y1, x1,
    block_index). Pin the equivalence directly: within every page, ordering
    blocks by the fused key reproduces reading_ordered_blocks' window rank
    1..n exactly, so the standalone operator and the fused flagship path
    induce the same order."""
    from ocr_platform_spark.operators.extract import (
        decode_pages,
        ocr_blocks,
        reading_ordered_blocks,
    )

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    ranked = reading_ordered_blocks(ocr_blocks(decode_pages(docs, media))).collect()
    pages = {}
    for r in ranked:
        pages.setdefault((r.doc_id, r.offset, r.page_index), []).append(r)
    assert len(pages) > 20
    for key, rows in pages.items():
        by_fused_key = sorted(
            rows, key=lambda r: (r.offset, r.page_index, r.y1, r.x1, r.block_index)
        )
        assert [r.rank for r in by_fused_key] == list(range(1, len(rows) + 1)), key


def _plan_of(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_broadcast_auto_pins_bounded_input(spark, corpus_dir):
    """ADVICE r3 #1: the default (auto) mode releases the spans-side
    broadcast pin only on a KNOWN Catalyst estimate past the cap. At
    fixture scale the estimate is tiny -> the hint is pinned and the
    payload join plans as a broadcast join."""
    from ocr_platform_spark.operators import extract

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    assert extract._span_refs_fit_broadcast(docs) is True
    plan = _plan_of(extract.decode_pages(docs, media))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_broadcast_auto_keeps_pin_for_unknown_stats(spark):
    """Unknown Catalyst stats (createDataFrame/RDD-backed inputs report the
    defaultSizeInBytes sentinel) mean bounded-by-construction, not huge —
    the pin must survive, preserving the measured-best plan (r4 review
    finding: the first auto heuristic dropped it here, and the flagship
    exhibit regressed to a payload-shuffling SortMergeJoin)."""
    from ocr_platform_spark import corpus as corpus_mod
    from ocr_platform_spark import schemas
    from ocr_platform_spark.operators import extract

    docs, _media = corpus_mod.generate(6, max_pages=2)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    assert extract._span_refs_fit_broadcast(docs_df) is True
    # the decision reads LEAF stats, so Catalyst's derived arithmetic
    # can't fool it: a projection over an RDD-backed frame scales the
    # ROOT sentinel below any magnitude floor (still unknown -> pin),
    # and checkpointed frames report the sentinel directly
    rdd_backed = spark.createDataFrame(docs_df.rdd, schema=schemas.DOCUMENTS)
    assert extract._span_refs_fit_broadcast(rdd_backed) is True
    assert extract._span_refs_fit_broadcast(
        rdd_backed.select("doc_id", "spans")
    ) is True
    assert extract._span_refs_fit_broadcast(
        docs_df.localCheckpoint(eager=False)
    ) is True


def test_broadcast_auto_unknown_leaf_does_not_mask_known_large(
        spark, corpus_dir, monkeypatch):
    """A sentinel-stats leaf must be SKIPPED, not short-circuit the walk:
    an RDD-backed dim joined against a known-large scan still refuses the
    pin, whichever leaf collectLeaves() yields first."""
    from ocr_platform_spark import corpus as corpus_mod, schemas
    from ocr_platform_spark.operators import extract

    docs, _media = corpus_mod.generate(4, max_pages=2)
    rdd_backed = spark.createDataFrame(
        spark.createDataFrame(docs, schema=schemas.DOCUMENTS).rdd,
        schema=schemas.DOCUMENTS,
    )
    parquet = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    monkeypatch.setattr(extract, "SPAN_BROADCAST_STATS_CAP", 0)
    assert extract._span_refs_fit_broadcast(
        rdd_backed.join(parquet.select("doc_id"), "doc_id")) is False
    assert extract._span_refs_fit_broadcast(
        parquet.join(rdd_backed.select("doc_id"), "doc_id")) is False


def test_broadcast_auto_join_root_not_product_inflated(spark, corpus_dir, monkeypatch):
    """Catalyst estimates a join root as the PRODUCT of its children —
    astronomically large for tiny inputs. The leaf-walk must classify a
    small parquet self-join as known-small (pin), and still refuse a
    known-large leaf sum under a tiny cap."""
    from ocr_platform_spark.operators import extract

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert extract._span_refs_fit_broadcast(joined) is True
    monkeypatch.setattr(extract, "SPAN_BROADCAST_STATS_CAP", 0)
    assert extract._span_refs_fit_broadcast(joined) is False


def test_broadcast_auto_refuses_known_large_input(spark, corpus_dir, monkeypatch):
    """On a KNOWN estimate past the stats cap the auto mode must NOT pin
    the hint — the join strategy is left to AQE's runtime sizes instead of
    hard-failing on the 8 GB broadcast limit at corpus scale. Contract
    checked at the hint level (AQE may still legitimately broadcast the
    small *media* side at fixture scale, so plan shape alone can't
    distinguish the two)."""
    from pyspark.sql import functions as F

    from ocr_platform_spark.operators import extract

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    saved_cap = extract.SPAN_BROADCAST_STATS_CAP

    monkeypatch.setattr(extract, "SPAN_BROADCAST_STATS_CAP", 0)
    assert extract._span_refs_fit_broadcast(docs) is False

    hints = []
    real_broadcast = F.broadcast

    def recording_broadcast(df):
        hints.append(df)
        return real_broadcast(df)

    monkeypatch.setattr(extract.F, "broadcast", recording_broadcast)
    extract.decode_pages(docs, media)
    assert hints == []
    monkeypatch.setattr(extract, "SPAN_BROADCAST_STATS_CAP", saved_cap)
    extract.decode_pages(docs, media)
    assert len(hints) == 1


def test_broadcast_spans_off_identical(spark, corpus_dir, spark_result):
    """The broadcast_spans=False escape hatch (spans-side join strategy
    delegated to AQE instead of the pinned hint) is a pure execution-shape
    change: end-to-end output must be identical."""
    from ocr_platform_spark.operators.extract import extract_documents

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    out = extract_documents(docs, media, broadcast_spans=False).collect()
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out}
    want = {k: [tuple(s) for s in v] for k, v in spark_result.items()}
    assert got == want


def test_share_spans_replicated_identical_and_plan(spark, corpus_dir, spark_result):
    """share_spans="replicated" (VERDICT r4 #5): same single-scan shape on
    a MEMORY_AND_DISK_2 persist — output identical to the checkpoint mode,
    storage level replicated (2 copies), recomputable lineage (an
    InMemoryRelation, not an RDD-scan lineage truncation)."""
    from pyspark import StorageLevel

    from ocr_platform_spark.operators.extract import (
        extract_documents, shared_exploded_spans)

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")

    sp = shared_exploded_spans(docs, replicated=True)
    assert sp.storageLevel == StorageLevel.MEMORY_AND_DISK_2
    # recomputable: the cached plan is an in-memory relation over the real
    # scan, not a truncated checkpoint RDD scan
    plan = sp._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan
    sp.unpersist()

    out = extract_documents(docs, media, share_spans="replicated")
    collected = out.collect()
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in collected}
    want = {k: [tuple(s) for s in v] for k, v in spark_result.items()}
    assert got == want

    # the checkpoint mode's plan DOES truncate to an RDD scan — the
    # contrast that makes the replicated mode the preemptible middle path
    ck = shared_exploded_spans(docs)
    ck.count()  # materialize the lazy checkpoint
    ck_plan = ck._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in ck_plan


def _node_below(plan: str, udf: str) -> str:
    """Name and details of the plan node directly below the MapInPandas
    that runs ``udf``."""
    import re

    tree = plan.split("\n\n")[0].splitlines()[1:]
    ids = [re.search(r"\((\d+)\)\s*$", line).group(1) for line in tree]
    nodes = dict(re.findall(r"^\((\d+)\) (.*?)(?=\n\n|\Z)", plan, re.M | re.S))
    [mid] = [i for i, body in nodes.items()
             if body.startswith("MapInPandas") and f"Arguments: {udf}(" in body]
    return nodes[ids[ids.index(mid) + 1]]


def test_heavy_stages_sit_on_the_skew_spread(spark, corpus_dir):
    """Every heavy stage's MapInPandas runs directly on the explicit hash
    repartition on (doc_id, offset, page or bucket index), 3x
    defaultParallelism partitions by default, num_partitions when given.
    The one probe stage, for the synthetic and the real-codec entry
    alike, runs directly on the payload join: a spread in front of it
    cost more than it parallelized (docs/SCALE.md)."""
    import re

    from ocr_platform_spark.operators import extract, extract_real

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    pages = extract.decode_pages(docs, media)
    boxes = extract.detect_boxes_table(pages)
    buckets = extract_real.real_page_buckets(docs, media)
    stages = [
        (lambda n: extract.ocr_blocks(pages, n), "_ocr_real_batches",
         "bucket_index"),
        (lambda n: extract.ocr_blocks_fused(pages, n), "_ocr_batches_fused",
         "bucket_index"),
        (lambda n: extract.detect_boxes_table(pages, n), "_detect",
         "bucket_index"),
        (lambda n: extract.recognize_with_boxes(pages, boxes, n),
         "_recognize_batches", "page_index"),
        (lambda n: extract_real.ocr_real_blocks(buckets, n),
         "_ocr_real_batches", "bucket_index"),
    ]
    default = 3 * spark.sparkContext.defaultParallelism
    for stage, udf, index in stages:
        for n, want in ((None, default), (5, 5)):
            below = _node_below(_plan_of(stage(n)), udf)
            assert below.startswith("Exchange"), (udf, below)
            assert re.search(
                rf"Arguments: hashpartitioning\(doc_id#\d+, offset#\d+, "
                rf"{index}#\d+, {want}\), REPARTITION_BY_NUM", below
            ), (udf, n, below)
    assert extract.ocr_blocks(pages, 5).rdd.getNumPartitions() == 5
    for rows in (pages, buckets):
        below = _node_below(_plan_of(rows), "_bucket_batches")
        assert below.startswith(("Project", "BroadcastHashJoin")), below


def test_entry_plans_keep_their_exchange_counts(spark, corpus_dir):
    """The Exchange nodes (shuffle and broadcast) of each entry plan's
    formatted physical plan, pinned: a change to the glue (such as the
    two-phase recognize join) must not add one."""
    import collections
    import re

    from ocr_platform_spark.operators import extract

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    media = spark.read.parquet(f"{corpus_dir}/media.parquet")
    plans = {
        "extract_documents": extract.extract_documents(docs, media),
        "decode_pages": extract.decode_pages(docs, media),
        "extract_documents_two_phase":
            extract.extract_documents_two_phase(docs, media),
        "extract_documents_fused": extract.extract_documents_fused(docs, media),
    }
    got = {name: collections.Counter(re.findall(
               r"^\(\d+\) (\w*Exchange)$", _plan_of(df), re.M))
           for name, df in plans.items()}
    assert got == {
        "extract_documents": {"BroadcastExchange": 1, "Exchange": 2},
        "decode_pages": {"BroadcastExchange": 2},
        "extract_documents_two_phase": {"Exchange": 5},
        "extract_documents_fused": {"BroadcastExchange": 1, "Exchange": 2},
    }


def _text_only_assembled(spark, texts):
    """``assemble_spans`` over one document per text (one text span
    each) and no OCR blocks."""
    from ocr_platform_spark import schemas
    from ocr_platform_spark.operators.extract import assemble_spans

    docs = spark.createDataFrame(
        [(f"d{i:03d}", [("text", t, None, 0)]) for i, t in enumerate(texts)],
        schema=schemas.DOCUMENTS)
    return assemble_spans(docs, spark.createDataFrame([], schemas.BLOCK))


def test_text_spans_strip_exactly_like_str_strip(spark):
    """The JVM trim strips what ``str.strip()`` strips (M11): every
    ``isspace`` code point, leading and trailing but not inner; the
    look-alikes ``str.strip()`` keeps stay; a null text becomes ""."""
    import sys

    from ocr_platform_spark.operators.extract import STRIP_CHARS

    spaces = [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]
    assert STRIP_CHARS == "".join(spaces) and len(spaces) == 29
    texts = [None]
    for c in spaces + ["\u200b", "\u180e", "\ufeff"]:
        texts += [c + "a", "a" + c, "a" + c + "b", c + c + "é b" + c + c]
    got = {r.doc_id: r.spans[0].text
           for r in _text_only_assembled(spark, texts).collect()}
    assert got == {f"d{i:03d}": (t or "").strip() for i, t in enumerate(texts)}


def test_text_branch_has_no_python_stage(spark):
    plan = _plan_of(_text_only_assembled(spark, ["  a  "]))
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan
