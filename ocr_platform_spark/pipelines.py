"""End-to-end pipeline compositions: crawl archives in, curated
training corpus out.

Every stage already exists as a first-class operator — ingestion
sources (:mod:`.sources.warc`, :mod:`.sources.tarshard`), the tier
extraction pipeline (:mod:`.operators.extract`), and the
column-expression stats/curation family (:mod:`.functions`). This
module is the thin composition layer that chains them over EXTRACTED
output instead of the benchmark's ``documents`` parquet table, reusing
the same column expressions (``functions.common.tokens``, the quality
formula, the language-marker heuristic, the exact-dedup fingerprint
keep rule) so the two paths cannot drift semantically.

The whole chain is ONE declarative plan per call: ingestion and
extraction are the only ``mapInPandas`` stages; everything after
``spans_to_documents`` is column expressions + two narrow-key shuffles
(the dedup groupBy and nothing else — quality/lang/token stats are
per-row). Catalyst fuses the stat maps; at 100 TB the plan's cost is
the extraction UDF plus one (fingerprint) shuffle of ~100-byte rows.

Typical use::

    curated = crawl_to_training_corpus(spark, "/crawl/*.warc.gz")
    curated.write.parquet(...)

or from WebDataset shards::

    curated = crawl_to_training_corpus(spark, "/shards", source="tar")

The reference serves per-upload OCR over HTTP; this composition is the
batch shape its corpus-scale users actually need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.common import fxp, tokens
from .functions.curation import (CURATE_LANGS, CURATE_MAX_TOKENS,
                                 CURATE_MIN_QUALITY_FXP4,
                                 CURATE_MIN_TOKENS)
from .functions.textstats import _LANG_ORDER, LANG_MARKERS, STOPWORDS

__all__ = ["spans_to_documents", "annotate_documents",
           "dedup_exact_text", "curate_documents",
           "crawl_to_training_corpus", "federated_training_corpus",
           "speech_corpus"]


def spans_to_documents(extracted: DataFrame) -> DataFrame:
    """Extraction output ``(doc_id, spans[])`` -> ``(doc_id, text,
    n_spans)``: the document's full reading-order text, spans joined
    with blank lines (the inverse of the plain-text tier's paragraph
    split, so a round trip through that tier is the identity)."""
    txt = F.filter("spans", lambda s: s["text"].isNotNull())
    return extracted.select(
        "doc_id",
        F.array_join(
            F.transform(txt, lambda s: s["text"]), "\n\n"
        ).alias("text"),
        F.size("spans").cast("int").alias("n_spans"),
    )


def annotate_documents(docs_text: DataFrame) -> DataFrame:
    """Add the curation stats to any ``(doc_id, text, ...)`` frame —
    the SAME expressions as the table-bound operators
    (``functions.textstats.quality_scores`` / ``token_stats`` /
    ``lang_id``), over an arbitrary frame: ``n_tokens``,
    ``quality_fxp4``, ``pred_lang``. Pure column work, no shuffle."""
    # collision-proof internal name: the caller's frame may carry any
    # columns (the advertised contract), including one literally named
    # like our scratch token column — suffix until free
    tcol = "__ann_tokens"
    while tcol in docs_text.columns:
        tcol += "_"
    df = docs_text.withColumn(tcol, tokens(F.col("text")))
    n_chars = F.length("text").cast("double")
    n_alpha = F.length(
        F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
    n_tok = F.size(tcol)
    n_stop = F.size(F.filter(tcol, lambda x: x.isin(*STOPWORDS)))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars) \
        .otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok) \
        .otherwise(F.lit(0.0))
    score = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.4) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(F.lit(1.0),
                               n_tok.cast("double") / F.lit(100.0))
    )
    def _marker_hits(words):
        # a closure, NOT a default-arg lambda: pyspark's higher-order
        # helper reads the lambda's arity, and a second (defaulted)
        # parameter selects the (element, index) form — binding the
        # index Column over the default
        return F.size(F.filter(tcol, lambda x: x.isin(*words)))

    scores = {lang: _marker_hits(words)
              for lang, words in LANG_MARKERS.items()}
    mx = F.greatest(*scores.values())
    pred = F.when(mx == 0, F.lit("und"))
    for lang in _LANG_ORDER:
        pred = pred.when(scores[lang] == mx, F.lit(lang))
    return df.select(
        *docs_text.columns,
        n_tok.cast("long").alias("n_tokens"),
        fxp(score).alias("quality_fxp4"),
        pred.alias("pred_lang"),
    )


def dedup_exact_text(df: DataFrame) -> DataFrame:
    """Exact dedup over the text column — the same fingerprint rule as
    ``functions.dedup.dedup_exact`` (md5 over the token-normalized
    text, smallest ``doc_id`` survives), so case/punctuation/whitespace
    variants of one document collapse on both paths: one narrow shuffle
    of (fingerprint, doc_id) rows, then a semi join."""
    fp = df.select(
        "doc_id",
        F.md5(F.array_join(tokens(F.col("text")), " ")).alias("fp"))
    winners = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")) \
        .select("doc_id")
    return df.join(winners, "doc_id", "semi")


def curate_documents(docs_text: DataFrame,
                     min_quality_fxp4: int = CURATE_MIN_QUALITY_FXP4,
                     langs: tuple = CURATE_LANGS,
                     min_tokens: int = CURATE_MIN_TOKENS,
                     max_tokens: int = CURATE_MAX_TOKENS) -> DataFrame:
    """The curation keep-rule over an arbitrary ``(doc_id, text)``
    frame: exact-dedup survivors ∧ quality threshold ∧ predicted
    language set ∧ token band — the same rule (same default constants)
    as ``functions.curation.curated_corpus``, with ``pred_lang``
    standing in for the benchmark table's stored ``lang`` column."""
    ann = annotate_documents(docs_text)
    kept = ann.filter(
        (F.col("quality_fxp4") >= min_quality_fxp4)
        & F.col("pred_lang").isin(*langs)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    return dedup_exact_text(kept)


def crawl_to_training_corpus(spark: SparkSession, paths: str,
                             source: str = "warc",
                             curate: bool = True,
                             **kwargs) -> DataFrame:
    """Archives in, curated training documents out.

    ``source``: ``"warc"`` (crawl archives), ``"tar"`` (WebDataset
    shards), ``"zip"`` (zip-archived dataset dumps), ``"mbox"``
    (mailing-list archives — messages land with body text spans and
    attachment media spans interleaved, so attachments OCR-extract in
    place), ``"office"`` (enterprise document dumps — .docx/.odt/
    .pptx/.xlsx/.rtf files and maildir-style .eml, embedded pictures
    as interleaved media spans) or
    ``"jsonl"`` (line-delimited JSON corpora — already text,
    so extraction is skipped and lines go straight to curation;
    ``text_field`` / ``id_field`` kwargs pass through). Curation kwargs
    (``min_quality_fxp4`` / ``langs`` /
    ``min_tokens`` / ``max_tokens``) pass through
    :func:`curate_documents`; every other kwarg passes through to the
    extraction pipeline (``bucket_pages``, ``num_partitions``, ...).
    ``curate=False`` stops after :func:`spans_to_documents` — the raw
    extracted-text frame for callers running their own filters.
    """
    curate_kw = {k: kwargs.pop(k) for k in
                 ("min_quality_fxp4", "langs", "min_tokens",
                  "max_tokens") if k in kwargs}
    if source == "warc":
        from .sources.warc import extract_warc

        extracted = extract_warc(spark, paths, **kwargs)
    elif source == "tar":
        from .sources.tarshard import extract_tar_shards

        extracted = extract_tar_shards(spark, paths, **kwargs)
    elif source == "zip":
        from .sources.zipshard import extract_zip_shards

        extracted = extract_zip_shards(spark, paths, **kwargs)
    elif source == "mbox":
        from .sources.mbox import extract_mbox

        extracted = extract_mbox(spark, paths, **kwargs)
    elif source == "office":
        from .sources.office import extract_office

        # enterprise document dumps (.docx/.odt/.pptx/.xlsx/.rtf +
        # maildir .eml): paragraphs as text spans, embedded pictures
        # as media spans that OCR-extract in place (round 5)
        extracted = extract_office(spark, paths, **kwargs)
    elif source == "jsonl":
        from .sources.jsonl import jsonl_corpus

        docs, _quarantine = jsonl_corpus(spark, paths, **kwargs)
        docs_text = docs.select(
            "doc_id", "text", F.lit(1).cast("int").alias("n_spans"))
        if not curate:
            return docs_text
        return curate_documents(docs_text, **curate_kw)
    else:
        raise ValueError(f"unknown source {source!r} (expected 'warc', "
                         f"'tar', 'zip', 'mbox', 'office' or 'jsonl')")
    docs_text = spans_to_documents(extracted)
    if not curate:
        return docs_text
    return curate_documents(docs_text, **curate_kw)


def federated_training_corpus(spark: SparkSession,
                              sources: dict[str, str],
                              **curate_kw) -> DataFrame:
    """One curated corpus from a whole data estate.

    ``sources`` maps source kind -> paths, e.g. ``{"warc": "/crawl",
    "tar": "/shards", "jsonl": "/dumps"}``. Each source lands through
    its own ingestion/extraction leg (``curate=False``), the raw
    frames union, and curation runs ONCE over the union — which is the
    point: exact-dedup sees every source at once, so the same document
    arriving as a crawled page, a shard member and a JSONL line
    collapses to ONE survivor (smallest ``doc_id``; the per-source id
    prefixes keep ids collision-free across legs). Curating per-source
    and unioning afterwards would keep one copy per source.

    Plan shape: the union is a zero-shuffle plan merge; the one
    cross-source shuffle is the dedup fingerprint groupBy that any
    cross-source dedup must pay.
    """
    if not sources:
        raise ValueError("sources must name at least one source")
    frames = [
        crawl_to_training_corpus(spark, paths, source=kind,
                                 curate=False)
        for kind, paths in sorted(sources.items())
    ]
    docs = frames[0]
    for f in frames[1:]:
        docs = docs.unionByName(f)
    return curate_documents(docs, **curate_kw)


def speech_corpus(spark: SparkSession, paths: str,
                  **extract_kw) -> DataFrame:
    """WebDataset speech shards -> the ASR-training corpus shape.

    The canonical speech shard pairs an audio member with its
    transcript (``000001.wav`` + ``000001.txt``). This composition
    lands both sides of the pair in one declarative plan:

    * transcripts flow through the tier-extraction pipeline (text
      members extract; the audio members quarantine there by design —
      the probe's typed no-text-tier refusal) and fold to per-sample
      reading-order text via :func:`spans_to_documents`;
    * the SAME media frame feeds :func:`..multimodal.audio_metadata`
      (header-only — no sample bytes inflate for the metadata pass),
      aggregated per sample for pairs shipping audio in several parts.

    Output: ``(doc_id, text, n_spans, duration_ms, sample_rate,
    channels)`` — transcript plus the duration/rate facts an ASR
    training budget needs. Samples with no decodable audio keep NULL
    audio columns (left join), so transcript-only members still
    surface for triage instead of vanishing.

    Plan shape: ingestion + extraction are the mapInPandas stages; the
    pair join is a narrow (doc_id)-keyed join of metadata-sized rows.
    """
    from .multimodal import audio_metadata
    from .sources.tarshard import read_tar_shards, tar_to_corpus

    members = read_tar_shards(spark, paths)
    documents, media = tar_to_corpus(members)
    from .operators.extract import extract_documents

    extracted = extract_documents(documents, media, **extract_kw)
    docs_text = spans_to_documents(extracted)
    ref_to_doc = documents.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    audio = (
        audio_metadata(media)
        .join(ref_to_doc, "media_ref")
        .groupBy("doc_id")
        .agg(F.sum("duration_ms").alias("duration_ms"),
             F.max("sample_rate").alias("sample_rate"),
             F.max("channels").alias("channels"))
    )
    return docs_text.join(audio, "doc_id", "left")
