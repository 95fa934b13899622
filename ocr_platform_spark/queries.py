"""Query registry: every operator exposed through the driver contract.

``REGISTRY`` maps query name → ``(spark_builder, oracle_sql | None)``.
Spark builders take ``(spark, sf_dir)`` and return a DataFrame; oracle SQL
is ANSI SQL DuckDB runs on the same parquet tables (views pre-registered
with the bare table names). Builders with ``None`` oracles are the
non-SQL-expressible pipelines (OCR extraction itself) — the driver records
a rows-only check and pytest pins them against the single-node oracle.

Relational queries here cover the reference's operator surface
(SURVEY.md §2): top-k (O5), group aggregates (A1–A4), broadcast joins
(J1), anti-join resume (J3), reading-order window (O1), ordered span
assembly (A5/O4), range join (J5), sha256 checksum (M13), JSON
extraction (M14).

Determinism rules for the value-hash compare: no raw doubles cross the
boundary — money/value sums go through DECIMAL (exact, order-insensitive),
ratios through the shared fxp fixed-point rounding; timestamps never
appear in output columns.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import corpus as corpus_mod
from . import multimodal, schemas
from .functions import curation, dedup, html_extract, pretrain, similarity, textstats
from .functions.common import fxp
from .operators import extract, source_map


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- O5: top-k (TakeOrderedAndProject) ---------------------------------------


def topk_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-50 orders (``jobs_service.py:73-83`` analog)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(50)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("total_cents"),
        )
    )


TOPK_RECENT_ORDERS_SQL = """
SELECT o_orderkey, o_custkey,
  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents
FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 50
"""


# --- A1–A4: grouped aggregation (TPC-H Q1 shape) -----------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over lineitem: exact decimal sums + fxp averages."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(qty) * 100).cast("long").alias("sum_qty_c"),
        (F.sum(price) * 100).cast("long").alias("sum_price_c"),
        (F.sum((price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("decimal(28,4)")) * 10000)
        .cast("long")
        .alias("sum_disc_price_c"),
        F.count("*").alias("n_rows"),
    )
    avg_qty = F.col("sum_qty_c").cast("double") / 100.0 / F.col("n_rows")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty_c",
        "sum_price_c",
        "sum_disc_price_c",
        "n_rows",
        fxp(avg_qty).alias("avg_qty_fxp4"),
    )


PRICING_SUMMARY_SQL = """
WITH a AS (
  SELECT l_returnflag, l_linestatus,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT) AS sum_qty_c,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      AS sum_price_c,
    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        AS DECIMAL(28,4))) * 10000 AS BIGINT) AS sum_disc_price_c,
    count(*) AS n_rows
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, sum_qty_c, sum_price_c, sum_disc_price_c,
  n_rows,
  CAST(floor((CAST(sum_qty_c AS DOUBLE) / 100.0 / n_rows) * 10000 + 0.5)
       AS BIGINT) AS avg_qty_fxp4
FROM a
"""


# --- J1: multi-way broadcast join + aggregate --------------------------------


def orders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation: dims broadcast, fact never shuffled
    for the join (only for the final small-key aggregation)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
        )
    )


ORDERS_PER_NATION_SQL = """
SELECT n_name, count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def nation_parttype_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9-style profit rollup: lineitem ⋈ supplier ⋈ part ⋈ nation, PROMO
    parts only, by supplier nation and ship year. The fact table joins
    three broadcast dims and shuffles once, for the final aggregation;
    decimal-exact profit sums (no float accumulation order dependence).
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    profit = (price * (F.lit(1).cast("decimal(18,2)") - disc)).cast(
        "decimal(28,4)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("l_shipdate").alias("ship_year"))
        .agg(
            (F.sum(profit) * 10000).cast("long").alias("profit_c"),
            F.count("*").alias("n_lines"),
        )
    )


NATION_PARTTYPE_PROFIT_SQL = """
SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      AS DECIMAL(28,4))) * 10000 AS BIGINT) AS profit_c,
  count(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY 1, 2
"""


# --- J3: anti-join (resume semantics) ----------------------------------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti — the resume pattern (skip completed work, P7/J3).

    Filter on the right side keeps the result non-trivial: customers with
    no order above 300k (every customer has *some* order in the testdata).
    """
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey")
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


# --- O1: reading-order window ------------------------------------------------


def reading_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per user ordered by (ts, event_id) — the y-then-x
    reading-order sort shape (``json-editor.component.ts:157-161``)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", F.row_number().over(w).alias("rn")
    )


READING_ORDER_EVENTS_SQL = """
SELECT user_id, event_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
    AS rn
FROM events WHERE user_id < 50
"""


# --- A5/O4: ordered span assembly (collect_list) -----------------------------


def session_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event sequence re-emitted as one canonical string —
    the span-array assembly shape (``orchestrator.py:173-174``)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: F.concat(s["event_type"], F.lit("#"), s["event_id"].cast("string")),
    )
    return ev.groupBy("user_id").agg(
        F.array_join(ordered, ",").alias("span_seq"),
        F.count("*").alias("n_events"),
    )


SESSION_SPANS_SQL = """
SELECT user_id,
  array_to_string(
    array_agg(event_type || '#' || CAST(event_id AS VARCHAR)
              ORDER BY ts, event_id), ',') AS span_seq,
  count(*) AS n_events
FROM events WHERE user_id < 50
GROUP BY user_id
"""


# --- J5: range join ----------------------------------------------------------

_BINS = [(0, 25), (25, 50), (50, 75), (75, 101)]


def value_range_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ literal bin table on lo <= value < hi (the only range-join
    shape in the reference, J5); broadcast the tiny bin side."""
    ev = _t(spark, sf_dir, "events")
    bins = spark.createDataFrame(
        [(i, float(lo), float(hi)) for i, (lo, hi) in enumerate(_BINS)],
        "bin_id int, lo double, hi double",
    )
    joined = ev.join(
        F.broadcast(bins),
        (ev.value >= bins.lo) & (ev.value < bins.hi),
    )
    return joined.groupBy("bin_id").agg(
        F.count("*").alias("n_events"),
        (F.sum(F.col("value").cast("decimal(28,6)")) * 1000000)
        .cast("long")
        .alias("sum_value_micros"),
    )


_BINS_SQL = ", ".join(f"({i}, {float(lo)}, {float(hi)})" for i, (lo, hi) in enumerate(_BINS))
VALUE_RANGE_BINS_SQL = f"""
WITH bins(bin_id, lo, hi) AS (VALUES {_BINS_SQL})
SELECT bin_id, count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
    AS sum_value_micros
FROM events JOIN bins ON value >= lo AND value < hi
GROUP BY bin_id
"""


# --- M15: coordinate-space conversion (150-dpi px ↔ PDF points) --------------


def coord_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """px→pt→px over a pixel-valued column with the FE's exact constants
    and Math.round semantics (functions/coords.py; M15). The round trip
    must be the identity — the oracle recomputes all three columns."""
    from .functions import coords

    ev = _t(spark, sf_dir, "events")
    px = F.pmod(F.col("event_id"), F.lit(3000)).cast("long")
    pt = coords.px_to_pt(px)
    return ev.select(
        "event_id",
        px.alias("px"),
        fxp(pt, 6).alias("pt_fxp6"),
        coords.pt_to_px(pt).alias("px_roundtrip"),
    )


def _coord_convert_sql() -> str:
    from .functions import coords

    px = "(event_id % 3000)"
    pt = coords.sql_px_to_pt(px)
    from .functions.common import sql_fxp

    return f"""
SELECT event_id, CAST({px} AS BIGINT) AS px,
  {sql_fxp(pt, 6)} AS pt_fxp6,
  {coords.sql_pt_to_px(pt)} AS px_roundtrip
FROM events
"""


COORD_CONVERT_SQL = _coord_convert_sql()


# --- aggregate extensions (beyond the reference's surface) -------------------


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (nation, order-priority): subtotal + grand-total rows —
    grouping-sets support the reference lacks entirely."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    return (
        base.rollup("n_name", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("total_cents"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_cents",
        )
    )


ORDERS_ROLLUP_SQL = """
SELECT coalesce(n_name, 'ALL') AS n_name,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS total_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_orderpriority)
"""


def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT + exact interpolated percentiles per event type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        fxp(F.expr("percentile(value, 0.5)")).alias("p50_fxp4"),
        fxp(F.expr("percentile(value, 0.9)")).alias("p90_fxp4"),
    )


EVENT_TYPE_STATS_SQL = """
SELECT event_type,
  count(DISTINCT user_id) AS n_users,
  count(*) AS n_events,
  CAST(floor(quantile_cont(value, 0.5) * 10000 + 0.5) AS BIGINT) AS p50_fxp4,
  CAST(floor(quantile_cont(value, 0.9) * 10000 + 0.5) AS BIGINT) AS p90_fxp4
FROM events GROUP BY event_type
"""


# --- M14: JSON extraction ----------------------------------------------------


def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + aggregate (``from_json`` analog, M14)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


EVENT_PROPS_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
FROM events GROUP BY 1
"""


# --- S10/M14: JSON sink (to_json of a nested struct) -------------------------


def session_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user summary serialized to a JSON string — the detect_result /
    result JSON sink shape (``ocr_tasks.py:119-123``, ``:235-246``)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sort_array(F.collect_list("event_id")).alias("ids"),
    )
    return agg.select(
        "user_id",
        F.to_json(
            F.struct("user_id", "n", F.slice("ids", 1, 5).alias("first_ids"))
        ).alias("doc"),
    )


SESSION_JSON_SQL = """
WITH agg AS (
  SELECT user_id, count(*) AS n,
         array_agg(event_id ORDER BY event_id) AS ids
  FROM events WHERE user_id < 50 GROUP BY user_id
)
SELECT user_id,
  CAST(json_object('user_id', user_id, 'n', n, 'first_ids', ids[1:5])
       AS VARCHAR) AS doc
FROM agg
"""


# --- P4/J4: positional zip + length-align truncation -------------------------


def zip_align_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``arrays_zip`` + truncate-to-min-length — the box↔text positional
    alignment guard (``orchestrator.py:75-80``): two per-user sequences of
    different lengths, zipped to ``n = min(len(a), len(b))`` pairs."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    a_src = F.sort_array(F.collect_list(F.struct("ts", "event_id")))
    b_src = F.sort_array(
        F.collect_list(
            F.when(F.col("value") > 50, F.struct(-F.col("value"), F.col("event_id")))
        )
    )
    agg = ev.groupBy("user_id").agg(
        F.transform(a_src, lambda s: s["event_id"]).alias("a"),
        F.transform(b_src, lambda s: s["event_id"]).alias("b"),
    )
    n = F.least(F.size("a"), F.size("b"))
    pairs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            F.element_at("a", i).cast("string"),
            F.lit(":"),
            F.element_at("b", i).cast("string"),
        ),
    )
    return agg.select(
        "user_id",
        F.when(n > 0, F.array_join(pairs, ",")).otherwise(F.lit("")).alias(
            "aligned"
        ),
        n.cast("int").alias("n_pairs"),
    )


ZIP_ALIGN_EVENTS_SQL = """
WITH agg AS (
  SELECT user_id,
    array_agg(event_id ORDER BY ts, event_id) AS a,
    coalesce(array_agg(event_id ORDER BY value DESC, event_id)
             FILTER (value > 50), []) AS b
  FROM events WHERE user_id < 50 GROUP BY user_id
)
SELECT user_id,
  CASE WHEN least(len(a), len(b)) > 0 THEN
    array_to_string(
      list_transform(range(1, least(len(a), len(b)) + 1),
                     i -> CAST(a[i] AS VARCHAR) || ':' || CAST(b[i] AS VARCHAR)),
      ',')
  ELSE '' END AS aligned,
  CAST(least(len(a), len(b)) AS INT) AS n_pairs
FROM agg
"""


# --- extraction pipeline (rows-only: pytest pins these against the oracle) ---

_CORPUS_DOCS = 32
_CORPUS_MAX_PAGES = 12


def _corpus_dfs(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """Deterministic interleaved corpus in the BASELINE input_hint shape."""
    docs, media = corpus_mod.generate(_CORPUS_DOCS, max_pages=_CORPUS_MAX_PAGES)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_rows = [{"media_ref": k, **v} for k, v in sorted(media.items())]
    media_df = spark.createDataFrame(media_rows, schema=schemas.MEDIA)
    return docs_df, media_df


def _flatten_spans(out: DataFrame) -> DataFrame:
    """Flatten ``(doc_id, spans)`` for the driver's stable-schema check
    (arrays of structs stay engine-internal). Single definition — the
    driver's flatten contract must not drift between the gate queries."""
    return out.select(
        "doc_id", F.posexplode("spans").alias("pos", "span")
    ).select(
        "doc_id",
        "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship OCR extraction end-to-end (non-SQL; oracle = pytest
    single-node pipeline equality)."""
    docs_df, media_df = _corpus_dfs(spark)
    return _flatten_spans(extract.extract_documents(docs_df, media_df))


def extract_detect_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted detect/recognize boundary (detect_result analog)."""
    docs_df, media_df = _corpus_dfs(spark)
    pages = extract.decode_pages(docs_df, media_df)
    return extract.detect_boxes_table(pages)


def extract_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detect → [editable boxes] → recognize, the reference's primary
    workflow; output equals the fused pipeline (tests/test_two_phase.py
    also pins the edited-boxes replay against the oracle)."""
    docs_df, media_df = _corpus_dfs(spark)
    return _flatten_spans(
        extract.extract_documents_two_phase(docs_df, media_df)
    )


def extract_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot fused ``run_ocr`` semantics (``orchestrator.py:34-113``):
    preprocess before detect, blocks in preprocessed coordinates, strip
    split keyed on crop height only — the reference's alternative
    coordinate convention, exposed alongside the production two-phase flow
    (tests/test_fused.py pins it against the fused oracle)."""
    docs_df, media_df = _corpus_dfs(spark)
    return _flatten_spans(extract.extract_documents_fused(docs_df, media_df))


def media_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-payload quarantine path: two payloads deterministically
    corrupted, while extraction of the rest proceeds
    (tests/test_quarantine.py pins the full invariant). The errors table
    holds one row: the truncated container. ``b"XXXXXgarbage"`` has no
    magic but is clean UTF-8, so the probe names it the plain-text tier
    and it extracts as one text span instead of quarantining."""
    docs, media = corpus_mod.generate(_CORPUS_DOCS, max_pages=_CORPUS_MAX_PAGES)
    refs = sorted(media)
    media[refs[0]]["data"] = b"XXXXXgarbage"
    media[refs[1]]["data"] = media[refs[1]]["data"][:8]
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [{"media_ref": k, **v} for k, v in sorted(media.items())],
        schema=schemas.MEDIA,
    )
    return extract.media_errors(extract.decode_pages(docs_df, media_df))


def media_metadata_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, media_df = _corpus_dfs(spark)
    return multimodal.media_metadata(media_df)


def page_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, media_df = _corpus_dfs(spark)
    return multimodal.page_features(media_df)


def frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, media_df = _corpus_dfs(spark)
    return multimodal.frame_sample(media_df)


# --- e-mail tier driver-contract queries (closed-form oracles) ---------------

_EML_Q_DOCS = 120
_MBOX_Q_DOCS = 80


def _synth_eml_media(ids: DataFrame, build) -> DataFrame:
    """doc_id frame -> (media_ref, data) with ``build(d) -> bytes``
    running inside a mapInPandas stage (payloads synthesized in-plan,
    never on the driver)."""
    import pandas as pd

    def _synth(batches):
        for pdf in batches:
            refs, payloads = [], []
            for doc_id in pdf["doc_id"]:
                refs.append(str(int(doc_id)))
                payloads.append(build(int(doc_id)))
            yield pd.DataFrame({"media_ref": refs, "data": payloads})

    return ids.mapInPandas(_synth, schema="media_ref string, data binary")


def _eml_docs_frame(media: DataFrame) -> DataFrame:
    return media.select(
        F.col("media_ref").alias("doc_id"),
        F.array(F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.col("media_ref").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
    )


def _flatten_text_spans(out: DataFrame) -> DataFrame:
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode("spans").alias("span_order_l", "s"),
    ).select(
        "doc_id",
        F.col("span_order_l").cast("int").alias("span_order"),
        F.col("s.text").alias("span_text"),
    )


def _build_eml_payload(d: int) -> bytes:
    from . import emltext

    hdrs = [("From", "gate@example.org"), ("Subject", f"subject {d}"),
            ("Message-ID", f"<g{d}@example.org>"),
            ("Date", "Thu, 01 Jan 2026 00:00:00 +0000")]
    k = 1 + d % 3
    paras = [f"para {d} {i}" for i in range(k)]
    if d % 2 == 0:
        return emltext.encode_eml(hdrs, body="\n\n".join(paras))
    html = ("<html><body>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + "</body></html>")
    return emltext.encode_eml(
        hdrs, subtype="alternative",
        parts=[("text/plain", "decoy alternative -- must not extract"),
               ("text/html", html)])


def eml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: deterministic EML payloads synthesized
    in-plan from documents-table ids through the REAL dispatch
    (probe -> text-ladder promotion -> strict MIME walk -> span
    assembly). Even ids are single-part plain messages; odd ids are
    multipart/alternative whose LAST supported alternative is an HTML
    document — so the RFC 2046 preference rule and the DOM-tier leg
    are value-pinned, not just pytest-pinned."""

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id").orderBy("doc_id").limit(_EML_Q_DOCS)
    )
    media = _synth_eml_media(ids, _build_eml_payload)
    out = extract.extract_documents(_eml_docs_frame(media), media)
    return _flatten_text_spans(out)


EML_EXTRACT_SQL = f"""
WITH params AS (
  SELECT doc_id, 1 + doc_id % 3 AS k
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_EML_Q_DOCS})
), seq AS (SELECT unnest(range(4)) AS i)
SELECT p.doc_id,
       CAST(s.i AS INT) AS span_order,
       CASE WHEN s.i = 0 THEN 'subject ' || p.doc_id
            ELSE 'para ' || p.doc_id || ' ' || (s.i - 1) END AS span_text
FROM params p JOIN seq s ON s.i <= p.k
"""


def _build_mbox_payload(d: int) -> bytes:
    from . import emltext

    msgs = []
    for j in range(1 + d % 3):
        msgs.append(emltext.encode_eml(
            [("From", "gate@example.org"), ("Subject", f"m {d} {j}"),
             ("Message-ID", f"<g{d}-{j}@example.org>"),
             ("Date", "Thu, 01 Jan 2026 00:00:00 +0000")],
            body=f"page {d} {j}"))
    return emltext.encode_mbox(msgs)


def mbox_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query: mbox archives (one message per PAGE)
    through the paged-tier path at ``bucket_pages=2`` — envelope
    split, two-message buckets of walked parts, per-page MIME render and
    global page ordering are all value-pinned by the closed-form
    oracle."""

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id").orderBy("doc_id").limit(_MBOX_Q_DOCS)
    )
    media = _synth_eml_media(ids, _build_mbox_payload)
    out = extract.extract_documents(_eml_docs_frame(media), media,
                                    bucket_pages=2)
    return _flatten_text_spans(out)


MBOX_PAGES_SQL = f"""
WITH params AS (
  SELECT doc_id, 1 + doc_id % 3 AS m
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_MBOX_Q_DOCS})
), seq AS (SELECT unnest(range(6)) AS i)
SELECT p.doc_id,
       CAST(s.i AS INT) AS span_order,
       CASE WHEN s.i % 2 = 0 THEN 'm ' || p.doc_id || ' ' || (s.i // 2)
            ELSE 'page ' || p.doc_id || ' ' || (s.i // 2) END AS span_text
FROM params p JOIN seq s ON s.i < 2 * p.m
"""


# --- office embedded-media driver-contract query (closed-form oracle) --------

_DOCX_Q_DOCS = 100
_DOCX_Q_WORDS = ["page", "scan", "word", "line"]


def _build_docx_payload(d: int) -> bytes:
    from . import docxtext

    png = _word_png_bytes(_DOCX_Q_WORDS[d % 4])
    return docxtext.encode_docx_with_media(
        [f"docx {d} a", (f"docx {d} b", png, f"docx {d} c")]
    )


def docx_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query for the office embedded-media interleave
    (VERDICT r4 #2): deterministic DOCX payloads synthesized in-plan,
    each embedding a glyph-rendered PNG INLINE between two text runs of
    its second paragraph, through the REAL dispatch (zip refinement ->
    part walk -> real PNG decode -> OCR -> span assembly). The OCR'd
    word is closed-form (``_DOCX_Q_WORDS[d % 4]``), so the picture's
    position BETWEEN its surrounding paragraphs is value-pinned by the
    DuckDB oracle."""

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id").orderBy("doc_id").limit(_DOCX_Q_DOCS)
    )
    media = _synth_eml_media(ids, _build_docx_payload)
    out = extract.extract_documents(_eml_docs_frame(media), media)
    return _flatten_text_spans(out)


DOCX_EMBEDDED_SQL = f"""
WITH params AS (
  SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_DOCX_Q_DOCS}
), seq AS (SELECT unnest(range(4)) AS i)
SELECT p.doc_id,
       CAST(s.i AS INT) AS span_order,
       CASE s.i
         WHEN 0 THEN 'docx ' || p.doc_id || ' a'
         WHEN 1 THEN 'docx ' || p.doc_id || ' b'
         WHEN 2 THEN CASE p.doc_id % 4 WHEN 0 THEN 'page'
                                       WHEN 1 THEN 'scan'
                                       WHEN 2 THEN 'word'
                                       ELSE 'line' END
         ELSE 'docx ' || p.doc_id || ' c'
       END AS span_text
FROM params p CROSS JOIN seq s
"""


_MBOX_ATT_DOCS = 60
_XLSX_Q_DOCS = 60


def _word_png_bytes(word: str) -> bytes:
    import numpy as np

    from . import pngcodec, raster
    from .formats import Band, PageDesc
    from .kernels import text_px_width

    page = PageDesc(
        width=text_px_width(word) + 60, height=100,
        bands=[Band(x=10, y=10, lines=[word], line_h=42, gap=8)],
    )
    return pngcodec.encode_png(
        np.stack([raster.render_page(page, 1.0)] * 3, axis=-1)
    )


def _build_mbox_attach_payload(d: int) -> bytes:
    from . import emltext

    word = _DOCX_Q_WORDS[d % 4]
    msgs = [
        emltext.encode_eml(
            [("From", "gate@example.org"), ("Subject", f"am {d} 0"),
             ("Message-ID", f"<a{d}-0@example.org>"),
             ("Date", "Thu, 01 Jan 2026 00:00:00 +0000")],
            parts=[("text/plain", f"ab {d} 0"),
                   ("image/png", _word_png_bytes(word))]),
        emltext.encode_eml(
            [("From", "gate@example.org"), ("Subject", f"am {d} 1"),
             ("Message-ID", f"<a{d}-1@example.org>"),
             ("Date", "Thu, 01 Jan 2026 00:00:00 +0000")],
            body=f"ab {d} 1"),
    ]
    return emltext.encode_mbox(msgs)


def mbox_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query for the in-place mail-attachment OCR
    (round 5): mbox archives where message 0 carries a glyph-rendered
    PNG attachment between no other parts, run at one page per bucket
    so the attachment must ride its message's bucket row. The OCR'd word is
    closed-form — the attachment's position AFTER its message's body
    and BEFORE the next message is value-pinned."""

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id").orderBy("doc_id").limit(_MBOX_ATT_DOCS)
    )
    media = _synth_eml_media(ids, _build_mbox_attach_payload)
    out = extract.extract_documents(_eml_docs_frame(media), media)
    return _flatten_text_spans(out)


MBOX_ATTACH_SQL = f"""
WITH params AS (
  SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_MBOX_ATT_DOCS}
), seq AS (SELECT unnest(range(5)) AS i)
SELECT p.doc_id,
       CAST(s.i AS INT) AS span_order,
       CASE s.i
         WHEN 0 THEN 'am ' || p.doc_id || ' 0'
         WHEN 1 THEN 'ab ' || p.doc_id || ' 0'
         WHEN 2 THEN CASE p.doc_id % 4 WHEN 0 THEN 'page'
                                       WHEN 1 THEN 'scan'
                                       WHEN 2 THEN 'word'
                                       ELSE 'line' END
         WHEN 3 THEN 'am ' || p.doc_id || ' 1'
         ELSE 'ab ' || p.doc_id || ' 1'
       END AS span_text
FROM params p CROSS JOIN seq s
"""


def _build_xlsx_embedded_payload(d: int) -> bytes:
    from . import xlsxtext

    word = _DOCX_Q_WORDS[d % 4]
    return xlsxtext.encode_xlsx(
        [[[f"xr {d} a"], [f"xr {d} b"]]],
        drawings=[[(0, _word_png_bytes(word))]],
    )


def xlsx_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract query for XLSX anchored drawings (round 5): each
    workbook anchors a glyph-rendered PNG at row 0, so the OCR'd word
    must land between row 0's and row 1's text — the two-level rels
    resolution, anchor-row interleave and the per-sheet bucket parts are
    value-pinned by the closed-form oracle."""

    ids = (
        _t(spark, sf_dir, "documents")
        .select("doc_id").orderBy("doc_id").limit(_XLSX_Q_DOCS)
    )
    media = _synth_eml_media(ids, _build_xlsx_embedded_payload)
    out = extract.extract_documents(_eml_docs_frame(media), media)
    return _flatten_text_spans(out)


XLSX_EMBEDDED_SQL = f"""
WITH params AS (
  SELECT doc_id FROM documents ORDER BY doc_id LIMIT {_XLSX_Q_DOCS}
), seq AS (SELECT unnest(range(3)) AS i)
SELECT p.doc_id,
       CAST(s.i AS INT) AS span_order,
       CASE s.i
         WHEN 0 THEN 'xr ' || p.doc_id || ' a'
         WHEN 1 THEN CASE p.doc_id % 4 WHEN 0 THEN 'page'
                                       WHEN 1 THEN 'scan'
                                       WHEN 2 THEN 'word'
                                       ELSE 'line' END
         ELSE 'xr ' || p.doc_id || ' b'
       END AS span_text
FROM params p CROSS JOIN seq s
"""


# --- streaming: watermarked window agg, drained and oracle-checked -----------


def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window counts over the events table,
    drained with availableNow — the result is deterministic and equals
    the batch aggregation, so it gets a full DuckDB oracle. Emits the
    window start as epoch seconds (session tz pinned to UTC for the
    NTZ→timestamp cast)."""
    import shutil
    import tempfile

    from . import streaming as streaming_mod

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tmp = tempfile.mkdtemp(prefix="stream_win_")
    try:
        landing = os.path.join(tmp, "ev")
        os.makedirs(landing)
        shutil.copy(
            f"{sf_dir}/events.parquet", os.path.join(landing, "part-0.parquet")
        )
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(f"{sf_dir}/events.parquet").schema.fields
        )
        agg = streaming_mod.windowed_event_counts(spark, landing, schema)
        name = "stream_win_counts_q"
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode("complete").trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ck")).start()
        )
        q.awaitTermination()
        return spark.table(name).select(
            F.col("win_start").cast("long").alias("win_start_epoch"),
            "event_type",
            "n",
        )
    finally:
        # the memory sink holds the drained result on the driver, so the
        # landing copy + checkpoint are dead weight once the query stops;
        # without this every invocation leaks a full events.parquet copy
        shutil.rmtree(tmp, ignore_errors=True)
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


STREAM_WINDOW_COUNTS_SQL = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_epoch,
       event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


# --- registry ----------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]
# oracle slot: a SQL string, a zero-arg callable returning one (for
# oracles that are expensive to derive — built lazily, e.g. the
# source-map oracle which runs the single-node OCR oracle), or None
# (rows-only pipelines pinned by pytest instead)
OracleSql = "str | Callable[[], str] | None"

REGISTRY: dict[str, tuple[QueryFn, object]] = {
    # ---- driver-gated first 50 (pinned in tests/test_registry.py) ----
    # Round-5 rotation (VERDICT r4 #3): the 9 SQL-backed queries that
    # had never earned a driver-grade row (four rounds of past-cap
    # history) swap INTO the gate, plus the new docx_embedded office
    # interleave query; 10 long-green siblings (each a derivative of a
    # still-gated family member, each pytest-pinned, all still verified
    # at HEAD by tools/check_oracle.py) rotate out.
    # relational operator surface (SURVEY.md §2)
    "topk_recent_orders": (topk_recent_orders, TOPK_RECENT_ORDERS_SQL),
    "pricing_summary": (pricing_summary, PRICING_SUMMARY_SQL),
    "orders_per_nation": (orders_per_nation, ORDERS_PER_NATION_SQL),
    "nation_parttype_profit": (
        nation_parttype_profit,
        NATION_PARTTYPE_PROFIT_SQL,
    ),
    "event_type_stats": (event_type_stats, EVENT_TYPE_STATS_SQL),
    "customers_without_orders": (
        customers_without_orders,
        CUSTOMERS_WITHOUT_ORDERS_SQL,
    ),
    "reading_order_events": (reading_order_events, READING_ORDER_EVENTS_SQL),
    "session_spans": (session_spans, SESSION_SPANS_SQL),
    "value_range_bins": (value_range_bins, VALUE_RANGE_BINS_SQL),
    "session_json": (session_json, SESSION_JSON_SQL),
    "stream_window_counts": (stream_window_counts, STREAM_WINDOW_COUNTS_SQL),
    "zip_align_events": (zip_align_events, ZIP_ALIGN_EVENTS_SQL),
    "coord_convert": (coord_convert, COORD_CONVERT_SQL),
    # text analysis
    "token_stats": (textstats.token_stats, textstats.TOKEN_STATS_SQL),
    "quality_scores": (textstats.quality_scores, textstats.QUALITY_SCORES_SQL),
    "lang_id": (textstats.lang_id, textstats.LANG_ID_SQL),
    "doc_fingerprints": (
        textstats.doc_fingerprints,
        textstats.DOC_FINGERPRINTS_SQL,
    ),
    "tfidf_top_terms": (
        textstats.tfidf_top_terms,
        textstats.TFIDF_TOP_TERMS_SQL,
    ),
    # dedup
    "dedup_exact": (dedup.dedup_exact, dedup.DEDUP_EXACT_SQL),
    "minhash_signatures": (
        dedup.minhash_signatures,
        dedup.MINHASH_SIGNATURES_SQL,
    ),
    "minhash_lsh_pairs": (dedup.minhash_lsh_pairs, dedup.MINHASH_LSH_PAIRS_SQL),
    "simhash": (dedup.simhash, dedup.SIMHASH_SQL),
    "simhash_pairs": (dedup.simhash_pairs, dedup.SIMHASH_PAIRS_SQL),
    "embedding_near_dup": (
        dedup.embedding_near_dup,
        dedup.EMBEDDING_NEAR_DUP_SQL,
    ),
    # similarity search
    "ann_bruteforce_topk": (
        similarity.ann_bruteforce_topk,
        similarity.ANN_BRUTEFORCE_SQL,
    ),
    "ann_ivf_topk": (similarity.ann_ivf_topk, similarity.ANN_IVF_SQL),
    "ann_recall": (similarity.ann_recall, similarity.ANN_RECALL_SQL),
    "embedding_near_dup_lsh": (
        similarity.embedding_near_dup_lsh,
        similarity._finalize_sql(),
    ),
    # corpus-curation tier: group resolution, repetition, PII scrub,
    # deterministic sampling, the composite filter, packing
    "dedup_groups": (curation.dedup_groups, curation.DEDUP_GROUPS_SQL),
    "repetition_scores": (
        curation.repetition_scores,
        curation.REPETITION_SCORES_SQL,
    ),
    "pii_scrub": (curation.pii_scrub, curation.PII_SCRUB_SQL),
    "stratified_sample": (
        curation.stratified_sample,
        curation.STRATIFIED_SAMPLE_SQL,
    ),
    "curated_corpus": (curation.curated_corpus, curation.CURATED_CORPUS_SQL),
    "pack_sequences": (curation.pack_sequences, curation.PACK_SEQUENCES_SQL),
    "source_mix_weights": (
        curation.source_mix_weights,
        curation.SOURCE_MIX_WEIGHTS_SQL,
    ),
    # pretraining-corpus analysis tier
    "contamination_check": (
        pretrain.contamination_check,
        pretrain.CONTAMINATION_CHECK_SQL,
    ),
    "chunk_dedup": (pretrain.chunk_dedup, pretrain.CHUNK_DEDUP_SQL),
    "length_histogram": (
        pretrain.length_histogram,
        pretrain.LENGTH_HISTOGRAM_SQL,
    ),
    "semdedup_clusters": (
        pretrain.semdedup_clusters,
        pretrain.SEMDEDUP_CLUSTERS_SQL,
    ),
    "bpe_pair_counts": (
        pretrain.bpe_pair_counts,
        pretrain.BPE_PAIR_COUNTS_SQL,
    ),
    # HTML main-content extraction (north_rule: boilerplate strip + DOM
    # heuristics) — html_main_blocks is the pipeline DOM tier's keep rule
    "html_main_content": (html_extract.main_content, html_extract.MAIN_CONTENT_SQL),
    "html_main_blocks": (
        html_extract.html_main_blocks,
        html_extract.HTML_MAIN_BLOCKS_SQL,
    ),
    # multimodal binary plumbing + audio/video tier (closed-form oracles
    # over the real encode->decode->feature path)
    "payload_stats": (
        multimodal.documents_payload_stats,
        multimodal.DOCUMENTS_PAYLOAD_STATS_SQL,
    ),
    "audio_metadata": (
        multimodal.audio_metadata_q, multimodal.AUDIO_METADATA_SQL,
    ),
    "audio_features": (
        multimodal.audio_features_q, multimodal.AUDIO_FEATURES_SQL,
    ),
    "video_frame_luma": (
        multimodal.video_frame_luma_q, multimodal.VIDEO_FRAME_LUMA_SQL,
    ),
    # e-mail tier: closed-form pins of the probe->ladder->MIME-walk->
    # assembly path (incl. the alternative/DOM leg and the mbox paged
    # buckets at bucket_pages=2)
    "eml_extract": (eml_extract, EML_EXTRACT_SQL),
    "mbox_pages": (mbox_pages, MBOX_PAGES_SQL),
    # office embedded-media interleave (round 5): a PNG inline in a DOCX
    # paragraph OCRs between its surrounding paragraphs
    "docx_embedded": (docx_embedded, DOCX_EMBEDDED_SQL),
    # true J5: structure-node source map — blocks from the REAL Spark
    # detect+recognize pipeline range-joined to node anchors; the oracle
    # recomputes the blocks independently via the single-node Python
    # oracle, so this gate cross-checks the whole extraction stack
    "source_map_blocks": (
        source_map.source_map_blocks_query,
        source_map.source_map_blocks_oracle_sql,
    ),
    # --- entries below this line sit OUTSIDE the driver gate's 50-entry
    # cap (CORRECTNESS_rNN records the first 50 queries() items). The
    # round-5 rotation demoted these 10 long-green queries — each is a
    # derivative of an in-cap gated family member AND carries its own
    # pytest pin, and every one remains fully oracle-backed:
    # tools/check_oracle.py verifies them at HEAD each round
    # (CORRECTNESS_LOCAL_rNN.json).
    "orders_rollup": (orders_rollup, ORDERS_ROLLUP_SQL),
    "event_props_json": (event_props_json, EVENT_PROPS_JSON_SQL),
    "doc_checksums": (textstats.doc_checksums, textstats.DOC_CHECKSUMS_SQL),
    "bpe_token_count": (
        textstats.bpe_token_count,
        textstats.BPE_TOKEN_COUNT_SQL,
    ),
    "ngram_jaccard_pairs": (dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_SQL),
    "lsh_buckets": (similarity.lsh_buckets, similarity.LSH_BUCKETS_SQL),
    "vocab_topk": (curation.vocab_topk, curation.VOCAB_TOPK_SQL),
    "semdedup_prune": (pretrain.semdedup_prune, pretrain.SEMDEDUP_PRUNE_SQL),
    "unigram_scores": (pretrain.unigram_scores, pretrain.UNIGRAM_SCORES_SQL),
    "html_text": (html_extract.html_text, html_extract.HTML_TEXT_SQL),
    # round-5 interleave tiers past-cap (gate full): closed-form
    # oracles for the in-place mail-attachment OCR (incl. one message
    # per bucket) and XLSX anchored drawings; verified by
    # tools/check_oracle.py + CORRECTNESS_LOCAL, pytest-pinned in
    # test_office_media.py
    "mbox_attach": (mbox_attach, MBOX_ATTACH_SQL),
    "xlsx_embedded": (xlsx_embedded, XLSX_EMBEDDED_SQL),
    # rows-only extraction/multimodal pipelines (non-SQL-expressible;
    # exact span-sequence equality pinned by tests/test_extract_spark.py)
    "extract_spans": (extract_spans, None),
    "extract_detect_boxes": (extract_detect_boxes, None),
    "extract_two_phase": (extract_two_phase, None),
    "extract_fused": (extract_fused, None),
    "media_quarantine": (media_quarantine, None),
    "media_metadata": (media_metadata_q, None),
    "page_features": (page_features_q, None),
    "frame_sample": (frame_sample_q, None),
}
