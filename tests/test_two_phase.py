"""Two-phase (detect → edit → recognize) workflow parity:

* unedited: two-phase output == fused single-pass output, span for span;
* edited boxes: recognition replays from the edited detect table and the
  result matches the single-node oracle given the same edits (the
  ``run_ocr_job`` human-in-the-loop path, ``ocr_tasks.py:192-254``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_platform_spark import corpus, oracle, schemas
from ocr_platform_spark.operators import extract


def _dfs(spark, n=14, seed=41, max_pages=4):
    docs, media = corpus.generate(n, seed=seed, max_pages=max_pages)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(
        [{"media_ref": k, **v} for k, v in sorted(media.items())],
        schema=schemas.MEDIA,
    )
    return docs, media, docs_df, media_df


def _spans(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in df.collect()
    }


def test_two_phase_equals_fused(spark):
    _docs, _media, docs_df, media_df = _dfs(spark)
    fused = _spans(extract.extract_documents(docs_df, media_df))
    two = _spans(extract.extract_documents_two_phase(docs_df, media_df))
    assert two == fused


def test_two_phase_repeated_media_ref(spark):
    """Regression: one document referencing the SAME media_ref at two
    offsets must not duplicate blocks in the two-phase path (boxes are
    keyed per span offset, not just per media_ref)."""
    _docs, media, _df, media_df = _dfs(spark, n=4, seed=43, max_pages=3)
    ref = sorted(media)[0]
    rows = [
        {
            "doc_id": "dup-doc",
            "spans": [
                {"kind": "text", "text": "head", "media_ref": None, "offset": 0},
                {"kind": "pdf", "text": None, "media_ref": ref, "offset": 1},
                {"kind": "pdf", "text": None, "media_ref": ref, "offset": 2},
            ],
        }
    ]
    docs_df = spark.createDataFrame(rows, schema=schemas.DOCUMENTS)
    fused = _spans(extract.extract_documents(docs_df, media_df))
    two = _spans(extract.extract_documents_two_phase(docs_df, media_df))
    assert two == fused
    # both media occurrences contribute once each: identical block texts
    per_offsetish = [s for s in fused["dup-doc"] if s[2] == ref]
    assert len(per_offsetish) % 2 == 0 and len(per_offsetish) > 0


def test_recognize_from_edited_boxes_matches_oracle(spark):
    docs, media, docs_df, media_df = _dfs(spark)
    pages = extract.decode_pages(docs_df, media_df)
    boxes = extract.detect_boxes_table(pages)

    # "human edit": nudge every box on page 0 of one media 4px right/down
    # and delete the last block of each such page (splice analog)
    target_ref = sorted(media)[0]
    max_idx = (
        boxes.filter(
            (F.col("media_ref") == target_ref) & (F.col("page_index") == 0)
        )
        .agg(F.max("block_index"))
        .collect()[0][0]
    )
    assert max_idx is not None, "fixture page has no boxes; pick another seed"
    is_target = (F.col("media_ref") == target_ref) & (F.col("page_index") == 0)
    edited = (
        boxes.filter(~(is_target & (F.col("block_index") == max_idx)))
        .withColumn("x1", F.when(is_target, F.col("x1") + 4).otherwise(F.col("x1")))
        .withColumn("x2", F.when(is_target, F.col("x2") + 4).otherwise(F.col("x2")))
        .withColumn("y1", F.when(is_target, F.col("y1") + 4).otherwise(F.col("y1")))
        .withColumn("y2", F.when(is_target, F.col("y2") + 4).otherwise(F.col("y2")))
    )
    blocks = extract.recognize_with_boxes(
        extract.decode_pages(docs_df, media_df), edited
    )
    got = [
        (r["page_index"], r["block_index"], r["x1"], r["y1"], r["x2"],
         r["y2"], r["text"], r["conf"])
        for r in blocks.filter(F.col("media_ref") == target_ref)
        .orderBy("page_index", "block_index")
        .collect()
    ]

    # oracle: same edits applied to the detect payload
    raw = media[target_ref]["data"]
    detect_pages = oracle.detect_document(raw)
    for p in detect_pages:
        if p["page_index"] == 0:
            p["boxes"] = [
                {k: v + 4 for k, v in b.items()}
                for b in p["boxes"][:-1]
            ]
    ocr_pages = oracle.run_ocr_with_boxes(
        "t", oracle.raw_to_pages(raw), detect_pages
    )
    want = []
    for p in ocr_pages:
        for i, b in enumerate(p.blocks):
            want.append(
                (p.page_index, i, b.box[0], b.box[1], b.box[2], b.box[3],
                 b.text, b.conf)
            )
    assert got == want
    # the nudge must actually change page-0 coordinates vs the unedited run
    orig_page0 = (
        boxes.filter(is_target).orderBy("block_index").collect()
    )
    assert got[0][2] == orig_page0[0]["x1"] + 4


def test_zero_page_size_falls_back_to_the_rendered_raster(spark):
    """A boxes table whose width/height are 0 (an editor that does not
    record the detect-time page size) recognizes exactly like the
    unedited table: the crop scaling falls back to the rendered page's
    own dimensions, and the blocks report them as the page size."""
    _docs, _media, docs_df, media_df = _dfs(spark, n=6, seed=41, max_pages=3)
    pages = extract.decode_pages(docs_df, media_df).localCheckpoint()
    boxes = extract.detect_boxes_table(pages).localCheckpoint()
    zeroed = boxes.withColumn("width", F.lit(0)).withColumn("height", F.lit(0))
    order = ["doc_id", "offset", "page_index", "block_index"]

    def blocks(table):
        return extract.recognize_with_boxes(pages, table).orderBy(order).collect()

    want = blocks(boxes)
    assert want, "fixture has no boxes; pick another seed"
    assert blocks(zeroed) == want
