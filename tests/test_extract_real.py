"""extract_real_documents: distributed OCR over REAL-codec media, pinned
by SPAN-SEQUENCE EQUALITY against the synthetic flagship.

The construction: take the seeded synthetic corpus, render every media
page to pixels exactly as the synthetic OCR stage would
(``raster.render_page`` at the container's unit scale), and re-encode
those pixels as real files — SIMG1 -> real PNG, SPDF1 -> a scanned PDF
whose pages are gray Flate image XObjects at identity scale (MediaBox =
px * 72/150, so the 150-DPI render returns the pixels bit-exactly).
Running ``extract_real_documents`` over the re-encoded corpus must then
produce EXACTLY the spans ``extract_documents`` produces over the
original — same detect boxes, same recognized text, same reading order,
same interleaving with the text spans. That single assertion covers the
whole real path: pdfcodec/pngcodec decode, RGB->L luma, bucket explode,
and the shared OCR core.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_platform_spark import (
    corpus,
    formats,
    jpegcodec,
    pngcodec,
    raster,
    schemas,
)
from ocr_platform_spark.operators import extract, extract_real
from tests.test_pdfcodec import build_pdf, stream_obj

import zlib


def _render_pages(payload: bytes) -> tuple[str, list[np.ndarray]]:
    kind, pages = formats.decode_media(payload)
    scale = raster.PDF_UNIT_SCALE if kind == "pdf" else 1.0
    return kind, [raster.render_page(p, scale) for p in pages]


def gray_scanned_objs(pages_gray: list[np.ndarray]) -> dict[int, bytes]:
    """Object set for a scanned PDF whose page images are the given gray
    rasters at identity scale for a 150-DPI render (object dict form, so
    test_pdfcrypt can wrap the same pages in an encrypted container)."""
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids, nxt = [], 3
    for img in pages_gray:
        h, w = img.shape[:2]
        mw, mh = w * 72 / 150, h * 72 / 150
        pg, ct, im = nxt, nxt + 1, nxt + 2
        nxt += 3
        kids.append(f"{pg} 0 R")
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {mw:.8f} {mh:.8f}] "
            f"/Resources << /XObject << /Im0 {im} 0 R >> >> "
            f"/Contents {ct} 0 R >>"
        ).encode()
        objs[ct] = stream_obj(
            "", f"q {mw:.8f} 0 0 {mh:.8f} 0 0 cm /Im0 Do Q".encode()
        )
        objs[im] = stream_obj(
            f"/Subtype /Image /Width {w} /Height {h} /ColorSpace /DeviceGray "
            f"/BitsPerComponent 8 /Filter /FlateDecode",
            zlib.compress(img.tobytes()),
        )
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] "
               f"/Count {len(kids)} >>").encode()
    return objs


def gray_scanned_pdf(pages_gray: list[np.ndarray]) -> bytes:
    """Real classic-xref PDF whose page images are the given gray rasters
    at identity scale for a 150-DPI render."""
    return build_pdf(gray_scanned_objs(pages_gray))


def reencode_real(payload: bytes) -> bytes:
    """Synthetic container bytes -> equivalent real-codec bytes."""
    kind, pages = _render_pages(payload)
    if kind == "image":
        return pngcodec.encode_png(np.stack([pages[0]] * 3, axis=-1))
    return gray_scanned_pdf(pages)


@pytest.fixture(scope="module")
def real_corpus(spark):
    docs, media = corpus.generate(24, seed=909, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    real = spark.createDataFrame(
        [(ref, bytearray(reencode_real(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, synth, real


def _spans_by_doc(df):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in df.collect()
    }


def test_real_pipeline_equals_synthetic_flagship(real_corpus):
    docs_df, synth, real = real_corpus
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, real, bucket_pages=2)
    )
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], doc_id


def reencode_tiff(payload: bytes) -> bytes:
    """Synthetic container bytes -> a multi-page CCITT G4 TIFF.

    The synthetic rasters are strictly bitonal (INK=0/WHITE=255), so the
    1-bit G4 re-encoding is lossless and span-sequence equality with the
    flagship is exact — the same contract the PNG/PDF re-encodings pin."""
    kind, pages = _render_pages(payload)
    from ocr_platform_spark import tiffcodec

    bitmaps = []
    for p in pages:
        assert set(np.unique(p)) <= {0, 255}, "corpus raster not bitonal"
        bitmaps.append((p < 128).astype(np.uint8))
    return tiffcodec.encode_g4_tiff(bitmaps)


@pytest.fixture(scope="module")
def tiff_corpus(spark):
    docs, media = corpus.generate(24, seed=909, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    tiff = spark.createDataFrame(
        [(ref, bytearray(reencode_tiff(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, tiff


def test_tiff_pipeline_equals_synthetic_flagship(real_corpus, tiff_corpus):
    """Same span-sequence equality over multi-page G4 TIFF media —
    covering tiffcodec decode, the TIFF bucket/slice path and the shared
    OCR core in one assertion."""
    docs_df, synth, _real = real_corpus
    tdocs_df, tiff = tiff_corpus
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(tdocs_df, tiff, bucket_pages=2)
    )
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], doc_id


def test_tiff_bucket_rows_slice_and_quarantine(tiff_corpus, spark):
    """Multi-page TIFFs slice per bucket (sliced=True, payload smaller
    than the original), and a corrupt TIFF quarantines at probe time."""
    docs_df, tiff = tiff_corpus
    rows = extract_real.real_page_buckets(
        docs_df, tiff, bucket_pages=2
    ).collect()
    multi = [r for r in rows if r["sliced"]]
    assert multi, "corpus should contain a multi-bucket TIFF"
    from ocr_platform_spark import tiffcodec

    by_ref: dict = {}
    for r in tiff.collect():
        by_ref[r["media_ref"]] = bytes(r["data"])
    for r in multi[:4]:
        full = by_ref[r["media_ref"]]
        assert len(bytes(r["data"])) < len(full)
        pages = tiffcodec.decode_tiff(bytes(r["data"]), mode="L")
        assert len(pages) == r["page_hi"] - r["page_lo"]
    # corrupt payload -> error row, no crash
    bad = spark.createDataFrame(
        [("m-bad", bytearray(b"II\x2a\x00" + b"\xff" * 40))],
        "media_ref string, data binary",
    )
    one_doc = docs_df.limit(1)
    errs = extract_real.real_page_buckets(
        one_doc.withColumn("spans", F.expr(
            "array(named_struct('kind', 'media', 'text', '', "
            "'media_ref', 'm-bad', 'offset', 0))")),
        bad, bucket_pages=2,
    ).filter(F.col("media_kind") == extract_real.MEDIA_KIND_ERROR)
    assert errs.count() == 1


def test_bucket_size_invariance(real_corpus):
    """The bucket explode is pure parallelism: K must never change output."""
    docs_df, _synth, real = real_corpus
    a = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, real, bucket_pages=None)
    )
    b = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, real, bucket_pages=1)
    )
    assert a == b


def test_bucket_rows_shape(real_corpus, spark):
    docs_df, _synth, real = real_corpus
    rows = extract_real.real_page_buckets(
        docs_df, real, bucket_pages=2
    ).collect()
    ok = [r for r in rows if r["media_kind"] != "error"]
    assert ok and all(r["page_hi"] - r["page_lo"] <= 2 for r in ok)
    # multi-page PDFs split into multiple buckets covering [0, n) disjointly
    by_media = {}
    for r in ok:
        by_media.setdefault((r["doc_id"], r["offset"]), []).append(
            (r["page_lo"], r["page_hi"]))
    multi = [sorted(v) for v in by_media.values() if len(v) > 1]
    assert multi, "corpus should contain a >2-page PDF"
    for spans_ in multi:
        assert spans_[0][0] == 0
        assert all(a[1] == b[0] for a, b in zip(spans_, spans_[1:]))


def test_payload_slicing_equal_output_and_smaller_shuffle(real_corpus):
    """Payload slicing must change BYTES, never output: one-page sliced
    buckets and the whole-payload bucket (``bucket_pages=None``)
    extract identical spans, multi-bucket PDFs actually carry sliced
    sub-PDFs, and the total payload bytes crossing the bucket shuffle
    shrink to ~the original corpus size instead of one full copy per
    bucket."""
    docs_df, _synth, real = real_corpus
    sliced_out = _spans_by_doc(extract_real.extract_real_documents(
        docs_df, real, bucket_pages=1))
    full_out = _spans_by_doc(extract_real.extract_real_documents(
        docs_df, real, bucket_pages=None))
    assert sliced_out == full_out
    size = F.sum(F.length("data")).alias("bytes")
    rows_sliced = (
        extract_real.real_page_buckets(docs_df, real, bucket_pages=1)
        .filter("media_kind != 'error'")
        .groupBy("sliced").agg(size, F.count("*").alias("n")).collect()
    )
    by_flag = {r["sliced"]: r for r in rows_sliced}
    # multi-bucket PDFs sliced; single-bucket media (images, 1-page
    # PDFs) ride whole — slicing them would only add overhead
    assert by_flag[True]["n"] > 0
    # the full-copy baseline: every bucket carrying its whole payload
    unsliced_bytes = (
        extract_real.real_page_buckets(docs_df, real, bucket_pages=1)
        .filter("media_kind != 'error'")
        .groupBy("media_ref").count()
        .join(real.select("media_ref", F.length("data").alias("len")),
              "media_ref")
        .agg(F.sum(F.col("count") * F.col("len")).alias("bytes"))
        .collect()[0]["bytes"]
    )
    corpus_bytes = real.agg(size).collect()[0]["bytes"]
    sliced_total = sum(r["bytes"] for r in rows_sliced)
    assert sliced_total < unsliced_bytes / 2
    assert sliced_total < corpus_bytes * 1.5  # ~once in total, not x pages


def test_one_entry_point_per_stage():
    """Each stage is one function object under both of its names, every
    option after ``media`` is keyword-only (so an old positional order
    cannot bind to the wrong option), the default is one page per
    bucket, and no caller-side switch picks a pipeline."""
    import inspect

    from ocr_platform_spark import lineage, streaming

    assert extract_real.extract_real_documents is extract.extract_documents
    assert extract_real.real_page_buckets is extract.decode_pages
    assert extract_real.ocr_real_blocks is extract.ocr_blocks
    assert extract_real.real_media_errors is extract.media_errors
    assert extract.DEFAULT_BUCKET_PAGES == 1
    for fn in (extract.extract_documents, extract.decode_pages):
        params = list(inspect.signature(fn).parameters.values())
        assert [p.name for p in params[:2]] == ["documents", "media"]
        assert all(p.kind is p.KEYWORD_ONLY for p in params[2:]), fn
        assert "slice_payloads" not in {p.name for p in params}
    for fn in (lineage.run_extract_job, streaming.process_extract_batch,
               streaming.stream_extract):
        assert "pipeline" not in inspect.signature(fn).parameters, fn


def test_mixed_synthetic_and_real_media_extract_identically(real_corpus):
    """One dispatch for every media kind: a media table holding the
    SPDF1/SIMG1 payloads next to their PNG/scanned-PDF re-encodings
    (each referenced by a twin document) extracts through both entry
    names with zero error rows, identical span arrays, and every twin
    equal to its synthetic original."""
    docs_df, synth, real = real_corpus
    media = synth.unionByName(real.withColumn(
        "media_ref", F.concat("media_ref", F.lit("-real"))))
    twins = docs_df.select(
        F.concat("doc_id", F.lit("-real")).alias("doc_id"),
        F.transform("spans", lambda s: s.withField(
            "media_ref", F.concat(s["media_ref"], F.lit("-real")))
        ).alias("spans"))
    docs = docs_df.unionByName(twins)
    assert extract.media_errors(extract.decode_pages(docs, media)).count() == 0
    assert extract_real.real_media_errors(
        extract_real.real_page_buckets(docs, media)).count() == 0
    flagship = _spans_by_doc(extract.extract_documents(docs, media))
    assert _spans_by_doc(
        extract_real.extract_real_documents(docs, media)) == flagship
    originals = [d for d in flagship if not d.endswith("-real")]
    assert len(flagship) == 2 * len(originals)
    for doc_id in originals:
        assert flagship[f"{doc_id}-real"] == [
            (k, t, m and f"{m}-real", o) for k, t, m, o in flagship[doc_id]
        ], doc_id


def test_probe_quarantines_structurally_corrupt_images():
    """Truncated/corrupt PNG and JPEG payloads must fail the deep probe
    (and so produce a quarantine row with a triage message) rather than
    passing on magic bytes alone and silently dropping at the OCR
    stage."""
    from ocr_platform_spark import multimodal

    def probe(raw):
        return multimodal.probe_real_media(raw, deep=True)[:2]

    png = pngcodec.encode_png(np.zeros((8, 8, 3), np.uint8))
    jpg = jpegcodec.encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    assert probe(png) == ("image", 1)
    assert probe(jpg) == ("image", 1)
    with pytest.raises(ValueError):
        probe(png[: len(png) // 2])           # truncated PNG
    mutated = bytearray(png)
    mutated[40] ^= 0xFF                       # IDAT corruption -> CRC
    with pytest.raises(ValueError):
        probe(bytes(mutated))
    with pytest.raises(ValueError):
        probe(jpg[:-2])                       # missing EOI
    relabeled = bytearray(jpg)
    i = relabeled.find(b"\xff\xc0")
    relabeled[i + 1] = 0xC2  # SOF2 is now a supported frame type, so the
    # structural probe accepts the relabeled stream; the illegal scan
    # header (full-band progressive DC scan) quarantines at decode
    assert probe(bytes(relabeled)) == ("image", 1)
    with pytest.raises(ValueError, match="Se=0"):
        jpegcodec.decode_jpeg(bytes(relabeled))
    arith = bytearray(jpg)
    arith[i + 1] = 0xC9  # arithmetic coding: still unsupported up front
    with pytest.raises(ValueError):
        probe(bytes(arith))


def test_real_media_metadata_header_only_matches_decode(real_corpus, spark):
    """The metadata probe's (n_pages, dims) must agree with what a full
    decode produces — while never inflating a sample byte itself."""
    from ocr_platform_spark import multimodal, pdfcodec

    _docs, _synth, real = real_corpus
    meta = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(real).collect()}
    payloads = {r["media_ref"]: bytes(r["data"]) for r in real.collect()}
    assert meta and all(r["kind"] != "error" for r in meta.values())
    checked_pdf = checked_img = 0
    for ref, r in meta.items():
        raw = payloads[ref]
        if r["kind"] == "pdf" and checked_pdf < 3:
            pages = pdfcodec.decode_pdf(raw, mode="L")
            assert r["n_pages"] == len(pages)
            assert (r["height"], r["width"]) == pages[0].shape
            checked_pdf += 1
        elif r["kind"] == "image" and checked_img < 3:
            from ocr_platform_spark import pngcodec

            img = pngcodec.decode_png(raw)
            assert (r["n_pages"], r["height"], r["width"]) == (
                1, img.shape[0], img.shape[1])
            checked_img += 1
    assert checked_pdf and checked_img
    # JPEG branch: dims must come out (w, h)-correct from the SOF walk
    jpg = jpegcodec.encode_jpeg(
        np.zeros((30, 70, 3), np.uint8), subsampling="420")
    extra = spark.createDataFrame(
        [("m-jpg", bytearray(jpg)),
         # quarantine: synthetic, NULL and junk payloads zero out,
         # never raise (bytes(None) must not escape the probe try)
         ("m-synth", bytearray(b"SIMG1 synthetic container bytes")),
         ("m-null", None),
         ("m-junk", bytearray(b"\x00" * 32))],
        "media_ref string, data binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.real_media_metadata(extra).collect()}
    assert (rows["m-jpg"]["kind"], rows["m-jpg"]["n_pages"],
            rows["m-jpg"]["width"], rows["m-jpg"]["height"]) == (
        "image", 1, 70, 30)
    for ref in ("m-synth", "m-null", "m-junk"):
        assert rows[ref]["kind"] == "error" and rows[ref]["n_pages"] == 0


def test_missing_payload_quarantines(real_corpus, spark):
    docs_df, _synth, real = real_corpus
    half = real.limit(real.count() // 2)
    buckets = extract_real.real_page_buckets(docs_df, half)
    errs = extract_real.real_media_errors(buckets).collect()
    assert any(r["error"] == "missing media payload" for r in errs)


def test_null_payload_quarantines_and_keeps_text(spark):
    """A media row whose nullable ``data`` is NULL quarantines at the
    probe like any other unreadable payload: one error row, and the
    document still re-emits its text span."""
    docs_df = spark.createDataFrame([{
        "doc_id": "d-null",
        "spans": [{"kind": "text", "text": " kept ", "media_ref": None,
                   "offset": 0},
                  {"kind": "image", "text": None, "media_ref": "m-null",
                   "offset": 1}],
    }], schema=schemas.DOCUMENTS)
    media = spark.createDataFrame([("m-null", None)],
                                  "media_ref string, data binary")
    buckets = extract_real.real_page_buckets(docs_df, media)
    errs = extract_real.real_media_errors(buckets).collect()
    assert [r["media_ref"] for r in errs] == ["m-null"]
    out = _spans_by_doc(extract_real.extract_real_documents(docs_df, media))
    assert out == {"d-null": [("text", "kept", None, 0)]}


def test_real_pipeline_resumable_through_lineage(real_corpus, spark,
                                                 tmp_path_factory):
    """run_extract_job over real-codec media: kill after 1 of 4 chunks,
    resume, converge to the direct pipeline's exact output — the one
    entry point carries the whole lineage/resume machinery."""
    from ocr_platform_spark import lineage

    docs_df, _synth, real = real_corpus
    expected = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, real)
    )
    out_dir = str(tmp_path_factory.mktemp("real_resume"))
    n1 = lineage.run_extract_job(
        spark, docs_df, real, out_dir, "run-real",
        num_buckets=8, chunk_buckets=2, max_chunks=1,
    )
    assert n1 == 1
    n2 = lineage.run_extract_job(
        spark, docs_df, real, out_dir, "run-real",
        num_buckets=8, chunk_buckets=2,
    )
    assert n2 == 3
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in r["spans"]
        ]
        for r in lineage.read_result(spark, out_dir).collect()
    }
    assert got == expected


def test_jpeg_media_roundtrip_smoke(spark):
    """A JPEG-encoded page goes through the real pipeline end-to-end.

    DCT is lossy, so this pins structure (the doc re-emits with OCR
    spans carrying the media_ref) and — with the near-lossless all-ones
    quantizer — the recognized text itself."""
    docs, media = corpus.generate(12, seed=31, max_pages=3)
    doc = next(
        d for d in docs
        if any(s["kind"] == "image" for s in d["spans"])
    )
    refs = {s["media_ref"] for s in doc["spans"] if s["media_ref"]}
    docs_df = spark.createDataFrame([doc], schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(media[ref]["data"])) for ref in refs],
        "media_ref string, data binary",
    )
    jpeg_rows = []
    for ref in refs:
        kind, pages = _render_pages(media[ref]["data"])
        if kind == "image":
            payload = jpegcodec.encode_jpeg(
                np.stack([pages[0]] * 3, axis=-1), subsampling="444"
            )
        else:
            payload = gray_scanned_pdf(pages)
        jpeg_rows.append((ref, bytearray(payload)))
    real = spark.createDataFrame(jpeg_rows, "media_ref string, data binary")
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, real))
    assert got == expected


def g3_scanned_pdf(pages_gray: list[np.ndarray]) -> bytes:
    """Scanned PDF with /CCITTFaxDecode K>0 (G3 mixed-2D) page images and
    an LZW-compressed content stream — the pre-2000 producer profile."""
    from ocr_platform_spark import ccittcodec, compression

    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids, nxt = [], 3
    for img in pages_gray:
        h, w = img.shape[:2]
        mw, mh = w * 72 / 150, h * 72 / 150
        pg, ct, im = nxt, nxt + 1, nxt + 2
        nxt += 3
        kids.append(f"{pg} 0 R")
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {mw:.8f} {mh:.8f}] "
            f"/Resources << /XObject << /Im0 {im} 0 R >> >> "
            f"/Contents {ct} 0 R >>"
        ).encode()
        objs[ct] = stream_obj(
            "/Filter /LZWDecode",
            compression.encode_lzw(
                f"q {mw:.8f} 0 0 {mh:.8f} 0 0 cm /Im0 Do Q".encode()),
        )
        bm = (img < 128).astype(np.uint8)
        objs[im] = stream_obj(
            f"/Subtype /Image /Width {w} /Height {h} /ColorSpace /DeviceGray "
            f"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
            f"/DecodeParms << /K 2 /Columns {w} /Rows {h} >>",
            ccittcodec.encode_g3(bm, k=2),
        )
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] "
               f"/Count {len(kids)} >>").encode()
    return build_pdf(objs)


def reencode_wild(payload: bytes, i: int) -> bytes:
    """Synthetic container bytes -> a rotating wild-compression format:
    G3-2D TIFF, LZW TIFF, PackBits TIFF, MH-RLE TIFF, or a G3+LZW PDF.
    All lossless over the bitonal corpus rasters, so span-sequence
    equality with the flagship stays exact."""
    from ocr_platform_spark import tiffcodec

    kind, pages = _render_pages(payload)
    if i % 5 == 4:
        return g3_scanned_pdf(pages)
    comp = (3, 5, 32773, 2)[i % 5 if i % 5 < 4 else 0]
    bitmaps = []
    for p in pages:
        assert set(np.unique(p)) <= {0, 255}, "corpus raster not bitonal"
        bitmaps.append((p < 128).astype(np.uint8))
    return tiffcodec.encode_bilevel_tiff(bitmaps, compression=comp)


def test_wild_compression_pipeline_equals_synthetic_flagship(real_corpus,
                                                             spark):
    """Span-sequence equality over a MIXED wild-compression corpus:
    every media payload re-encoded as G3-2D / LZW / PackBits / MH-RLE
    TIFF or a CCITT-G3 + LZW-content PDF, rotating per payload — the
    distributed probe/bucket/slice/OCR path must produce exactly the
    flagship's spans for all of them."""
    from ocr_platform_spark import corpus as corpus_mod

    docs_df, synth, _real = real_corpus
    docs, media = corpus_mod.generate(24, seed=909, max_pages=6)
    wild = spark.createDataFrame(
        [(ref, bytearray(reencode_wild(m["data"], i)))
         for i, (ref, m) in enumerate(sorted(media.items()))],
        "media_ref string, data binary",
    )
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, wild, bucket_pages=2)
    )
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], doc_id


def test_hybrid_bucket_drops_atomically_on_mid_doc_decode_failure():
    """A hybrid PDF whose page 0 text layer is valid but whose page 1
    image stream is corrupt PAST the probe (entropy-level: the dict
    validates, the Flate body doesn't inflate) must emit ZERO rows for
    the bucket — not page 0's rows with page 1 silently missing."""
    import pandas as pd

    from tests.test_pdfcodec import build_pdf, stream_obj

    raw = build_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 200 100] "
           b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        4: stream_obj("", b"BT /F1 10 Tf 10 50 Td (pageone) Tj ET"),
        5: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"),
        6: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 48 24] "
           b"/Resources << /XObject << /Im0 8 0 R >> >> /Contents 7 0 R >>",
        7: stream_obj("", b"q 48 0 0 24 0 0 cm /Im0 Do Q"),
        8: stream_obj(
            "/Subtype /Image /Width 10 /Height 10 /ColorSpace /DeviceGray "
            "/BitsPerComponent 8 /Filter /FlateDecode",
            b"this is not zlib data",
        ),
    })
    # the structural probe accepts it (dict-level checks only) ...
    from ocr_platform_spark import multimodal

    assert multimodal.probe_real_media(raw, deep=True)[0] == "pdf"
    # ... and the OCR stage drops the whole bucket, atomically
    frame = pd.DataFrame({
        "doc_id": ["d1"], "offset": [0], "media_ref": ["m1"],
        "media_kind": ["pdf"], "page_lo": [0], "page_hi": [2],
        "sliced": [False], "data": [raw], "parts": [None],
    })
    res = extract._ocr_real_frame(frame)
    assert len(res) == 0


def reencode_gif_mixed(payload: bytes) -> bytes:
    """Synthetic container bytes -> a multi-frame GIF when every page
    shares one size (GIF frames must all match the logical screen) and
    the media is short — web GIFs are images and short documents, not
    200-page scans — else the real-PDF re-encoding. The mix exercises
    GIF and PDF dispatch in ONE corpus the way a web crawl interleaves
    them."""
    from ocr_platform_spark import gifcodec

    _kind, pages = _render_pages(payload)
    if len(pages) <= 16 and len({p.shape for p in pages}) == 1:
        return gifcodec.encode_gif(list(pages))
    return reencode_real(payload)


@pytest.fixture(scope="module")
def gif_corpus(spark):
    docs, media = corpus.generate(24, seed=909, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    gif = spark.createDataFrame(
        [(ref, bytearray(reencode_gif_mixed(m["data"])))
         for ref, m in media.items()],
        "media_ref string, data binary",
    )
    return docs_df, gif


def test_gif_pipeline_equals_synthetic_flagship(real_corpus, gif_corpus):
    """Span-sequence equality over multi-frame GIF media (mixed with
    real PDFs where page sizes vary) — covering gifcodec decode, the
    GIF bucket/slice path and the shared OCR core in one assertion."""
    from ocr_platform_spark import formats

    docs_df, synth, _real = real_corpus
    gdocs_df, gif = gif_corpus
    # the mix is real: some payloads ARE GIFs
    kinds = {formats.sniff_kind(bytes(r["data"]))
             for r in gif.collect()}
    assert "gif" in kinds
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(gdocs_df, gif, bucket_pages=2)
    )
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], doc_id


def test_gif_bucket_rows_slice(spark):
    """Multi-frame GIFs slice per bucket: sliced=True rows whose payload
    is smaller than the original multi-frame stream (the corpus rarely
    emits same-size multi-page media, so the 5-frame GIF is built
    directly)."""
    from ocr_platform_spark import formats, gifcodec

    rng = np.random.default_rng(21)
    frames = [rng.integers(0, 256, (40, 60), dtype=np.uint8)
              for _ in range(5)]
    raw = gifcodec.encode_gif(frames)
    docs_df = spark.createDataFrame(
        [{"doc_id": "g1", "spans": [
            {"kind": "gif", "text": None, "media_ref": "m-g",
             "offset": 0}]}],
        schema=schemas.DOCUMENTS,
    )
    media = spark.createDataFrame([("m-g", bytearray(raw))],
                                  "media_ref string, data binary")
    rows = extract_real.real_page_buckets(
        docs_df, media, bucket_pages=2
    ).collect()
    buckets = sorted(r["bucket_index"] for r in rows)
    assert buckets == [0, 1, 2]
    for r in rows:
        assert r["media_kind"] == "gif" and r["sliced"]
        payload = bytes(r["data"])
        assert formats.sniff_kind(payload) == "gif"
        assert len(payload) < len(raw)
        lo, hi = r["page_lo"], r["page_hi"]
        got = gifcodec.decode_gif(payload, mode="L")
        assert len(got) == hi - lo
        for i, page in enumerate(got):
            assert np.array_equal(page, frames[lo + i])
