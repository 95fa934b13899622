"""Corrupt media must not fail the job: the payload is quarantined, the
document still re-emits its surviving spans (reference analog: per-job
FAILED status + error column, not a crashed worker)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_platform_spark import corpus, schemas
from ocr_platform_spark.operators import extract


def _dfs(spark, docs, media):
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    media_rows = [{"media_ref": k, **v} for k, v in sorted(media.items())]
    media_df = spark.createDataFrame(media_rows, schema=schemas.MEDIA)
    return docs_df, media_df


def test_corrupt_media_quarantined_not_fatal(spark):
    docs, media = corpus.generate(12, seed=21, max_pages=4)
    # corrupt three payloads: no magic but clean UTF-8 (the probe names
    # the plain-text tier, so it extracts as text), no magic and not
    # UTF-8, and a truncated container body (the last two quarantine)
    refs = sorted(media)
    media[refs[0]]["data"] = b"XXXXXgarbage"
    media[refs[1]]["data"] = media[refs[1]]["data"][:8]
    media[refs[2]]["data"] = b"XXXXX\xffgarbage"
    bad = {refs[1], refs[2]}
    docs_df, media_df = _dfs(spark, docs, media)

    pages = extract.decode_pages(docs_df, media_df)
    errors = {e["media_ref"]: e["error"]
              for e in extract.media_errors(pages).collect()}
    assert set(errors) == bad
    assert all(errors.values())
    assert "not valid utf-8 text" in errors[refs[2]]

    out = extract.extract_documents(docs_df, media_df)
    # every input document still present
    assert out.count() == len(docs)
    # docs that referenced the corrupt media keep their other spans
    bad_doc_ids = {
        d["doc_id"]
        for d in docs
        if any(s["media_ref"] in bad for s in d["spans"])
    }
    assert bad_doc_ids
    rows = {r["doc_id"]: r["spans"] for r in out.collect()}
    for doc_id in bad_doc_ids:
        src = next(d for d in docs if d["doc_id"] == doc_id)
        n_text = sum(1 for s in src["spans"] if s["kind"] == "text")
        kept = [s for s in rows[doc_id] if s["media_ref"] is None]
        assert len(kept) == n_text
    # no span text from the quarantined refs
    spans = out.select(F.explode("spans").alias("s"))
    assert spans.filter(F.col("s.media_ref").isin(*bad)).count() == 0
    # the text-tier payload extracts as one text span per referencing span
    n_refs = sum(s["media_ref"] == refs[0] for d in docs for s in d["spans"])
    assert n_refs
    assert [r["text"] for r in spans.filter(
        F.col("s.media_ref") == refs[0]).select("s.text").collect()] == [
        "XXXXXgarbage"] * n_refs


def test_clean_corpus_has_no_errors(spark):
    docs, media = corpus.generate(8, seed=22, max_pages=3)
    docs_df, media_df = _dfs(spark, docs, media)
    assert extract.media_errors(extract.decode_pages(docs_df, media_df)).count() == 0


def test_missing_media_ref_quarantined_not_dropped(spark):
    """A span whose media_ref has no payload row must surface in the
    errors table (media_kind=error quarantine row), not silently vanish
    through the decode join."""
    docs, media = corpus.generate(10, seed=23, max_pages=3)
    # delete one payload outright: the ref is still in the span list
    gone = sorted(media)[0]
    del media[gone]
    docs_df, media_df = _dfs(spark, docs, media)

    pages = extract.decode_pages(docs_df, media_df)
    errors = extract.media_errors(pages).collect()
    assert {e["media_ref"] for e in errors} == {gone}
    assert all("missing" in e["error"] for e in errors)

    # extraction still succeeds for every document; the missing span's
    # doc keeps its other spans and emits nothing for the missing ref
    out = extract.extract_documents(docs_df, media_df)
    assert out.count() == len(docs)
    leaked = out.select(F.explode("spans").alias("s")).filter(
        F.col("s.media_ref") == gone
    )
    assert leaked.count() == 0
