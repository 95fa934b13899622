"""HTML main-content extraction (north_rule: "HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

The corpus side synthesizes a deterministic HTML page per document (nav /
header / sidebar-links / footer boilerplate around the real text as
``<p>`` paragraphs), then two extraction tiers:

* :func:`strip_tags_expr` — pure-relational tag stripping: drop
  ``<script>``/``<style>`` subtrees, strip tags, decode the basic
  entities, collapse whitespace. Native ``regexp_replace`` chain (same
  regex cascade in DuckDB with the ``'g'`` flag → full oracle parity).
* :func:`main_content` — the DOM-heuristic tier as a vectorized
  ``mapInPandas`` UDF: split into block elements, score each block by
  text length x (1 - link density) — the readability/boilerpipe-style
  density heuristic — and keep blocks above a fraction of the best
  score. Deterministic; pinned against a pure-Python oracle in pytest.

Scale shape: both are narrow per-row maps (no shuffle); the regex tier
is whole-stage-codegen JVM work, the heuristic tier Arrow-batched.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import htmltext

# --- deterministic synthetic page --------------------------------------------

_NAV = '<nav class="menu"><a href="/">home</a> <a href="/about">about</a> <a href="/contact">contact</a></nav>'
_FOOTER = '<footer><a href="/terms">terms</a> <a href="/privacy">privacy</a> copyright site</footer>'
_SCRIPT = "<script>var t = 1 + 2; track(t);</script>"
_STYLE = "<style>.menu { color: red }</style>"


def synthesize_html(doc_id_col: Column, text_col: Column) -> Column:
    """Deterministic HTML page: boilerplate + the text as paragraphs.

    Paragraph split: the text is wrapped as two ``<p>`` halves split at a
    doc_id-seeded word position, plus a link-heavy sidebar derived from
    the doc_id — so main-content extraction has real work to do.
    """
    sidebar = F.concat(
        F.lit('<div class="sidebar"><a href="/x'),
        doc_id_col.cast("string"),
        F.lit('">related</a> <a href="/y'),
        doc_id_col.cast("string"),
        F.lit('">more</a> links</div>'),
    )
    body = F.concat(F.lit("<p>"), text_col, F.lit("</p>"))
    return F.concat(
        F.lit("<html><head>" + _STYLE + _SCRIPT + "</head><body>"),
        F.lit(_NAV),
        sidebar,
        F.lit('<div class="content">'),
        body,
        F.lit("</div>"),
        F.lit(_FOOTER),
        F.lit("</body></html>"),
    )


_SQL_SYNTH = (
    "'<html><head>" + _STYLE + _SCRIPT + "</head><body>" + _NAV + "'"
    " || '<div class=\"sidebar\"><a href=\"/x' || CAST(doc_id AS VARCHAR)"
    " || '\">related</a> <a href=\"/y' || CAST(doc_id AS VARCHAR)"
    " || '\">more</a> links</div>'"
    " || '<div class=\"content\"><p>' || text || '</p></div>'"
    " || '" + _FOOTER + "</body></html>'"
)

# --- tier 1: relational tag strip --------------------------------------------

# cascade order matters: subtree drops first, then tags, entities, spaces.
# (?s) inline DOTALL works identically in Java regex and RE2. Entity order:
# &amp; must decode LAST or doubly-escaped entities ("&amp;lt;") would
# double-decode to "<" instead of "&lt;".
_STRIP_STEPS = [
    ("(?s)<script[^>]*>.*?</script>", " "),
    ("(?s)<style[^>]*>.*?</style>", " "),
    ("<[^>]+>", " "),
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
    ("[ \\t\\n\\r]+", " "),
]


def strip_tags_expr(html: Column) -> Column:
    out = html
    for pat, rep in _STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def sql_strip_tags(expr: str) -> str:
    out = expr
    for pat, rep in _STRIP_STEPS:
        p = pat.replace("'", "''")
        r = rep.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return f"trim({out})"


def html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip tier over synthesized pages: visible text only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = synthesize_html(F.col("doc_id"), F.col("text"))
    return docs.select(
        "doc_id", strip_tags_expr(html).alias("visible_text")
    )


HTML_TEXT_SQL = f"""
SELECT doc_id, {sql_strip_tags(_SQL_SYNTH)} AS visible_text
FROM documents
"""

# --- tier 2: DOM-heuristic main content --------------------------------------

# block walk shared with the pipeline DOM tier (..htmltext — single
# source of truth; the recursion into containers matters, see the
# innermost_blocks docstring there: without it the <p> inside
# <div class="content"> would never be visited, the exact bug the
# analytic DuckDB oracle MAIN_CONTENT_SQL below caught)
_BLOCK_RE = htmltext.BLOCK_RE
_TAG_RE = htmltext.TAG_RE
_LINK_RE = htmltext.LINK_RE
_WS_RE = htmltext.WS_RE
_innermost_blocks = htmltext.innermost_blocks
KEEP_FRACTION = 0.5  # keep blocks scoring >= this fraction of the best


def extract_main_content(html: str) -> str:
    """Pure-Python density heuristic (shared by the UDF and the pytest
    oracle): innermost block elements scored by
    ``text_len * (1 - link_density)``; keep high-scoring blocks in
    document order."""
    blocks = []
    for pos, inner in _innermost_blocks(html):
        link_text = "".join(l for l in _LINK_RE.findall(inner))
        text = _WS_RE.sub(" ", _TAG_RE.sub(" ", inner)).strip()
        if not text:
            continue
        link_len = len(_WS_RE.sub(" ", _TAG_RE.sub(" ", link_text)).strip())
        density = link_len / len(text) if text else 1.0
        blocks.append((pos, text, len(text) * (1.0 - density)))
    if not blocks:
        return ""
    blocks.sort(key=lambda b: b[0])
    best = max(s for _, _, s in blocks)
    kept = [t for pos, t, s in blocks if s >= KEEP_FRACTION * best and s > 0]
    return " ".join(kept)


def main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-heuristic tier: boilerplate blocks (nav/sidebar/footer — high
    link density, short text) drop out; the content paragraphs survive."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        synthesize_html(F.col("doc_id"), F.col("text")).alias("html"),
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "main_text": pdf["html"].map(extract_main_content),
                }
            )

    return docs.mapInPandas(_extract, schema="doc_id bigint, main_text string")


# Analytic DuckDB oracle for the heuristic tier. The synthesized page has
# exactly four innermost block elements with closed-form scores
# (score = text_len x (1 - link_density) on ws-collapsed text):
#
#   nav      "home about contact"             18 chars, 16 linked -> 2.0
#   sidebar  "related more links"             18 chars, 11 linked -> 7.0
#   <p>      the document text, L chars, 0 linked              -> L
#   footer   "terms privacy copyright site"   28 chars, 12 linked -> 16.0
#
# With KEEP_FRACTION = 0.5 and best >= 16 always (footer), nav (2) and
# sidebar (7) can never reach 0.5*best = 8; the <p> survives iff L >= 8
# (when L < 16 the best is the footer's 16), and the footer survives iff
# 16 >= 0.5*max(16, L), i.e. L <= 32. Kept blocks join in document order.
# This derivation is *independent* of the UDF's block-parsing code path —
# the oracle checks the heuristic's outcome, not its implementation.
# (Assumes the corpus text contains no '<'/'>' and only ASCII whitespace,
# both true of the synthetic documents tables. length() = character count,
# matching Python len() code points even for non-ASCII corpora — byte-count
# strlen() would silently diverge near the L=8/L=32 boundaries.)
_T = "trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g'))"
_FOOTER_TEXT = "terms privacy copyright site"
MAIN_CONTENT_SQL = f"""
SELECT doc_id,
  CASE
    WHEN length({_T}) > 32 THEN {_T}
    WHEN length({_T}) >= 8 THEN {_T} || ' {_FOOTER_TEXT}'
    ELSE '{_FOOTER_TEXT}'
  END AS main_text
FROM documents
"""


# --- tier 3: the pipeline DOM tier (link-density keep rule) -------------------


def html_main_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction pipeline's DOM tier (:func:`..htmltext.main_blocks`
    — the keep rule ``operators/extract`` dispatches HTML media
    through) over the same synthesized boilerplate pages: one row per
    KEPT block.

    Analytic oracle (HTML_MAIN_BLOCKS_SQL): the link-density rule is
    length-INDEPENDENT, so on the synthesized page the classification is
    closed-form for every document — anchor-share nav 18/18 = 1.0,
    sidebar 12/18 = 0.667, footer 13/28 = 0.464 (anchors join with one
    space; the tag-strip space separates them from bare text) are all
    ≥ 1/3 and drop; the content ``<p>`` has no anchors (density 0) and
    survives whenever the document text is non-blank. The oracle is
    derived from that arithmetic, not from the block-walker code path —
    same independence argument as MAIN_CONTENT_SQL, same corpus
    assumptions (no markup metacharacters in ``text``)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        synthesize_html(F.col("doc_id"), F.col("text")).alias("html"),
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import htmltext

        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "block_index": [], "block_text": []
            }
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                for i, b in enumerate(htmltext.main_blocks(html)):
                    out["doc_id"].append(doc_id)
                    out["block_index"].append(i)
                    out["block_text"].append(b.text)
            res = pd.DataFrame(out)
            res["block_index"] = res["block_index"].astype("int32")
            yield res

    return docs.mapInPandas(
        _extract, schema="doc_id bigint, block_index int, block_text string"
    )


HTML_MAIN_BLOCKS_SQL = f"""
SELECT doc_id, 0 AS block_index, {_T} AS block_text
FROM documents
WHERE length({_T}) > 0
"""
