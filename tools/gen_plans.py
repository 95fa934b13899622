import sys, io, contextlib
sys.path.insert(0, "/root/repo")
from ocr_platform_spark.session import get_spark
from ocr_platform_spark.queries import REGISTRY
from ocr_platform_spark.operators import extract

spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
sf = "/root/testdata/sf0.01"

def plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

sections = []

# 1. pushdown + pruning: filter over lineitem
from pyspark.sql import functions as F
li = spark.read.parquet(f"{sf}/lineitem.parquet")
q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_returnflag", "l_quantity")
sections.append(("Predicate pushdown + column pruning (lineitem filter/project)",
  "A filter + 2-column projection must reach the parquet scan: `PushedFilters`"
  " carries the shipdate predicate and `ReadSchema` lists only the 3 referenced"
  " columns — Catalyst does this for every operator in the registry.",
  plan_of(q)))

# 2. broadcast join
fn, _ = REGISTRY["orders_per_nation"]
sections.append(("Broadcast joins (orders_per_nation)",
  "Both dimension sides (customer, nation) broadcast; the orders fact is never"
  " shuffled for the join — only the final 25-key aggregate exchanges.",
  plan_of(fn(spark, sf))))

# 3. anti join
fn, _ = REGISTRY["customers_without_orders"]
sections.append(("Broadcast anti-join (resume pattern)",
  "The left-anti join plans as BroadcastHashJoin LeftAnti — the completed-work"
  " list stays on every executor; this is the lineage-resume join shape.",
  plan_of(fn(spark, sf))))

# 4. window + topk
fn, _ = REGISTRY["topk_recent_orders"]
sections.append(("Top-k (TakeOrderedAndProject)",
  "orderBy+limit compiles to TakeOrderedAndProject — no global sort.",
  plan_of(fn(spark, sf))))

# 4b. pretraining tier: broadcast decontamination + single-shuffle chunk dedup
fn, _ = REGISTRY["contamination_check"]
sections.append(("Decontamination (contamination_check)",
  "The benchmark shingle set (small by construction) broadcasts; the corpus"
  " side's only exchange is the per-doc partial/final aggregate — at 10^12"
  " docs the big side never shuffles for the overlap join itself.",
  plan_of(fn(spark, sf))))

fn, _ = REGISTRY["chunk_dedup"]
sections.append(("Chunk-level exact dedup (chunk_dedup)",
  "One exchange keyed on the 60-bit chunk hash feeds the ownership window;"
  " the per-doc rollup joins back broadcast. No pair explosion anywhere.",
  plan_of(fn(spark, sf))))

fn, _ = REGISTRY["semdedup_clusters"]
sections.append(("Relational k-means (semdedup_clusters)",
  "Each Lloyd iteration = broadcast-centroid assignment (the vectors side"
  " never shuffles for the join) + a tiny (cluster, dim)-cell aggregate;"
  " the fixed-point int64 centroid sums keep the reduction order-independent.",
  plan_of(fn(spark, sf))))

# 5. extraction pipeline
from ocr_platform_spark import corpus as cm, schemas
docs, media = cm.generate(8, max_pages=4)
docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
media_df = spark.createDataFrame([{"media_ref": k, **v} for k, v in sorted(media.items())], schema=schemas.MEDIA)
sections.append(("Extraction pipeline (end-to-end)",
  "Two MapInPandas stages with explicit repartitions between them; a single"
  " window + partial/final aggregate tail; whole-stage codegen spans the"
  " relational glue. No raster bytes appear in any exchange. Round 3: the"
  " documents table is scanned ONCE for span content (shared lazy"
  " localCheckpoint of the exploded frame) plus one doc_id-only pruned"
  " scan for the sentinel — the Scan ExistingRDD nodes below are the"
  " checkpointed exploded spans.",
  plan_of(extract.extract_documents(docs_df, media_df))))

# 5b. real-codec extraction: the page-bucket shape
sys.path.insert(0, "/root/repo/tests")
from test_pdfcodec import build_pdf  # noqa: F401 (import path for helper)
from test_extract_real import reencode_real
real_df = spark.createDataFrame(
    [(k, bytearray(reencode_real(v["data"]))) for k, v in sorted(media.items())],
    "media_ref string, data binary")
sections.append(("Real-codec extraction (extract_documents)",
  "The page-BUCKET shape over real-codec media, the same entry point as"
  " the flagship (operators/extract.py, docs/SCALE.md): broadcast span-ref join"
  " over the SHARED lazily-checkpointed explode (the flagship's"
  " single-scan shape — the Scan ExistingRDD leaves below),"
  " probe+bucket-explode MapInPandas (multi-bucket PDFs and multi-page"
  " G4 TIFFs are SLICED at probe time into per-bucket sub-documents —"
  " pdfcodec._Slicer / tiffcodec.page_slicer, each parsing the"
  " document once — so the document's bytes cross the one Exchange"
  " ~once in total instead of"
  " ceil(pages/K) full copies; a slicer failure falls back to"
  " one whole-payload row), hash repartition on (doc_id, offset, bucket_index) so a"
  " 2,000-page scanned PDF is 2,000 one-page tasks instead of one straggler, bucket"
  " OCR decoding only its own page streams, then the same sentinel"
  " assemble tail as the flagship. The round-4 OCR-bypass tiers (PDF"
  " text layers via pdftext.py, HTML DOM blocks via htmltext.py) are"
  " invisible at plan level BY DESIGN: dispatch happens per page inside"
  " the bucket MapInPandas, so the identical plan below serves scanned,"
  " born-digital and web media — bypass pages only make bucket tasks"
  " cheaper (BENCH/REAL_CODEC.json: html arm 2.53x the scanned arm).",
  plan_of(extract.extract_documents(docs_df, real_df))))

from ocr_platform_spark import multimodal as _mm
sections.append(("Audio features (audio_features over WAV payloads)",
  "The audio/video multimodal tier's plan shape: ONE scan feeding one"
  " MapInPandas (synth stage here, since the gate query synthesizes its"
  " payloads) chained into the decode+window-feature MapInPandas — NO"
  " Exchange anywhere; features of a shard never leave the task that"
  " read it. video_frame_features compiles to the identical shape."
  " The narrow-map posture claimed in docs/COVERAGE.md, visible in the"
  " plan.",
  plan_of(_mm.audio_features_q(spark, sf))))

# static (non-regenerated) evidence sections, preserved across regens
STATIC_TAIL = """
## Round 3: extract_documents single-scan rewrite (A/B evidence)

VERDICT r2 #1: the flagship scanned the `documents` table 4 times (media-span
refs, missing-payload anti-join, text passthrough, sentinel), each re-reading
and re-exploding the `spans` column. Round 3 explodes once and lazily
`localCheckpoint`s the narrow exploded frame (`shared_exploded_spans`,
`operators/extract.py`); the three span consumers read the checkpointed
blocks, and the only remaining `documents` file scan is the sentinel build,
column-pruned to `doc_id`:

```
NEW plan: documents FileScan count = 1
  FileScan parquet [doc_id#0]  ReadSchema: struct<doc_id:string>   <- sentinel only
OLD plan: documents FileScan count = 4 (3 reading the full spans column)
```

The spans-side broadcast in `decode_pages` is now pinned with `F.broadcast`
(ADVICE r2 #3): the checkpointed RDD has no size statistics, so an unhinted
plan would estimate-degrade to sort-merge and re-introduce the payload sort.
`broadcast_spans=False` hands the decision back to AQE at scales where the
spans side outgrows executor memory.

Interleaved same-JVM A/B (`BENCH/ab_extract_r3.py`, 8000 docs / 48120 pages,
local[32], ABBA ordering, bare-kernel ceiling probes before/after). Both
arms carry the pinned broadcast hint, so the measured delta attributes to
the scan-sharing change alone (the pinning is an estimate-robustness fix,
not a claimed speedup):

```
run 1:
old_sec [6.45, 27.68, 7.72]  median 7.72  best 6.45   (27.68 = host stall)
new_sec [7.24,  6.59, 8.59]  median 7.24  best 6.59
speedup_median 1.067x; ceiling probe 5598 -> 5142 pages/s (mildly degraded window)
run 2 (separate window):
old_sec [8.07, 7.70, 6.58]   median 7.70  best 6.58
new_sec [8.45, 14.19, 6.38]  median 8.45  best 6.38   (14.19 = host stall)
speedup_median 0.911x; ceiling probe 4615 -> 5203 pages/s
pooled: each arm caught exactly one stall; stall-free draws are
old {6.45, 7.72, 8.07, 7.70, 6.58} vs new {7.24, 6.59, 8.59, 8.45, 6.38}
— statistical parity at sf0.1.
```

Parity-to-better at sf0.1 where the corpus is small enough that re-scans were
cheap; the win is structural — at 100 TB the old plan re-reads ~3x the input
bytes from remote storage, the new plan reads them once and serves the two
re-uses from executor-local storage. `extract_documents_two_phase` gets the
same treatment plus a shared `pages` checkpoint (detect and recognize both
consume the decode output; previously each re-ran the payload join + decode).

## Round 4: broadcast hint guarded by Catalyst stats (ADVICE r3 #1)

The pinned spans-side broadcast above is now the bounded-input branch of an
auto mode: `decode_pages(broadcast_spans=None)` decides from the optimized
plan's LEAF relations (the only Catalyst estimates that still mean bytes —
the root estimate inflates a join to the product of its children and scales
through projections). A leaf reporting the `spark.sql.defaultSizeInBytes`
sentinel (RDD-backed / `localCheckpoint`-ed scans) means UNKNOWN, i.e.
driver-materialized and bounded by construction — the pin is kept, because
the flagship path's checkpointed exploded frame carries no stats while a
genuinely 100 TB corpus arrives as a parquet/Iceberg scan whose leaf stats
ARE known file bytes. Otherwise the hint is pinned iff the summed known
leaf bytes fit `SPAN_BROADCAST_STATS_CAP` (32 GiB of *input file* bytes —
the build side is just the 3 narrow ref columns, far below Spark's 8 GB
broadcast hard limit); past the cap, or on any JVM/py4j failure, the hint
is refused and AQE picks the strategy from runtime sizes, so a whole-corpus
run at the 10^12-doc posture degrades gracefully instead of hard-failing in
the driver. The pre-flight reads Catalyst statistics only (no job). Contract
pinned by `test_broadcast_auto_pins_bounded_input` /
`test_broadcast_auto_keeps_pin_for_unknown_stats` /
`test_broadcast_auto_join_root_not_product_inflated` /
`test_broadcast_auto_refuses_known_large_input`.

## Round 4: the four r2->r3 bench regressions adjudicated (VERDICT r3 #1)

BENCH_r03 showed four queries slower than BENCH_r02 under best-of-2
(minhash_signatures 1.26->1.77s, semdedup_clusters 1.20->1.73s,
tfidf_top_terms 1.19->1.55s, repetition_scores 0.91->1.23s), with the
bench's own ceiling probe collapsing 5095->3471 pages/s across the run —
the documented degraded-host signature. Two of the four had round-3 plan
changes, so `BENCH/ab_r4.py` ran the interleaved same-JVM A/B (ABBA, 6
reps, ceiling probes; raw JSON in `BENCH/AB_R4.json`):

```
tfidf_top_terms   OLD (r2 driver count() N)        median 0.929s
                  NEW (r3 in-plan broadcast agg)   median 0.943s  -> parity (0.985x)
semdedup_prune    OLD (r2 persist())               median 2.173s
                  NEW (r3 localCheckpoint lazy)    median 1.478s  -> NEW 1.47x FASTER
unchanged-plan queries, same window (vs BENCH_r02 / BENCH_r03):
minhash_signatures   median 1.155s   (r2 1.264 / r3 1.769)
semdedup_clusters    median 1.155s   (r2 1.204 / r3 1.730)
repetition_scores    median 0.895s   (r2 0.909 / r3 1.233)
```

Verdict: all four r3 draws were host noise — at round-4 HEAD every one of
them times at or below its round-2 number, and the two round-3 plan
changes are respectively perf-neutral (tfidf: and strictly better at
scale, one fewer full input scan) and a measured improvement
(semdedup_prune: the lazy checkpoint materializes the Lloyd assignment
once where persist()'s first action re-ran the DAG while populating the
cache, and its blocks are GC-cleanable rather than pinned forever).

## Round 4: reading_ordered_blocks vs the fused flagship key (VERDICT r3 #7)

`reading_ordered_blocks` (operators/extract.py) is the standalone per-page
reading-order operator — window rank over (y1, x1, block_index) per
(doc_id, offset, page_index). The flagship no longer calls it: assemble_spans
fuses the rank into the single document-global sort key
`(offset, page_index, y1, x1, block_index)`, whose restriction to one page
(offset and page_index fixed) is exactly the window's orderBy — so ranking
separately first would only add a second full shuffle+sort of the block rows
for the same total order. The operator stays available as a checkpoint
boundary / standalone query. Equivalence is pinned two ways:
`test_reading_ordered_blocks_matches_fused_sort_key` (sorting each page's
blocks by the fused key reproduces the window rank 1..n exactly) and the
end-to-end span-sequence equality gate (test_extract_spark, oracle order).
"""

with open("/root/repo/docs/PLANS.md", "w") as f:
    f.write("# Physical plan evidence (`.explain(\"formatted\")`)\n\n")
    f.write("Captured at sf0.01 on local mode; regenerate with "
            "`python tools/gen_plans.py`.\n")
    for title, note, plan in sections:
        f.write(f"\n## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    f.write(STATIC_TAIL)
print("written")
spark.stop()
