"""Hybrid text-layer pipeline, pinned against the synthetic flagship.

Construction: run the flagship's own per-page OCR locally to get every
media page's blocks, then re-encode each synthetic PDF as a BORN-DIGITAL
PDF — one ``Tj`` per block LINE, positioned so the text-layer extractor
recovers exactly the block's detected ``(x1, y1)`` (lines of a
multi-line block stack 1 px apart, preserving global reading order).
Synthetic images stay PNGs (they exercise the OCR path in the same
corpus). The hybrid pipeline must then produce EXACTLY the flagship's
spans, with one deterministic delta: a multi-line OCR block is one span
with ``\\n`` in it, while a text layer yields one span per line — so the
expectation is the flagship output with PDF-media spans split on
``\\n``. That single assertion covers the text interpreter, font decode,
the geometry round-trip, per-page hybrid dispatch, bucket slicing of
text pages, and the shared span assembly.
"""

from __future__ import annotations

import numpy as np
import pytest

from ocr_platform_spark import corpus, formats, pngcodec, schemas
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_pdfcodec import build_pdf, stream_obj

SCALE = 150.0 / 72.0
FONT_PTS = 2.0  # tiny em: advance-estimated widths stay far from neighbors
ASCENT = 0.8    # pdftext.DEFAULT_ASCENT (Helvetica carries no descriptor)


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def page_ocr_blocks(img: np.ndarray) -> list[tuple[int, int, str]]:
    """The flagship's own blocks for one rendered page: (y1, x1, text),
    reading-ordered exactly as the span assembly sorts them."""
    out: dict[str, list] = {f.name: [] for f in schemas.BLOCK.fields}
    extract._emit_page("d", 0, "r", 0, [img], 0, 0, out)
    rows = sorted(zip(out["y1"], out["x1"], out["block_index"], out["text"]))
    return [(y1, x1, text) for y1, x1, _bi, text in rows]


def _cid_font_objs() -> dict[int, bytes]:
    """Identity-H composite font over the 32-char corpus alphabet:
    CID = alphabet index + 1, ToUnicode bfchar per glyph."""
    from ocr_platform_spark import kernels

    pairs = b" ".join(
        f"<{i + 1:04X}> <{ord(ch):04X}>".encode()
        for i, ch in enumerate(kernels.ALPHABET)
    )
    cmap = (b"%d beginbfchar " % len(kernels.ALPHABET)) + pairs \
        + b" endbfchar"
    return {
        3: (b"<< /Type /Font /Subtype /Type0 /BaseFont /Emb "
            b"/Encoding /Identity-H /DescendantFonts [9001 0 R] "
            b"/ToUnicode 9002 0 R >>"),
        9001: (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Emb "
             b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
             b"/Supplement 0 >> /DW 500 >>"),
        9002: stream_obj("", cmap),
    }


def _cid_hex(line: str) -> bytes:
    from ocr_platform_spark import kernels

    idx = {ch: i + 1 for i, ch in enumerate(kernels.ALPHABET)}
    return b"<" + b"".join(b"%04X" % idx[ch] for ch in line) + b">"


def text_layer_pdf(rasters: list[np.ndarray], cid: bool = False) -> bytes:
    """Born-digital PDF whose text layer reproduces each page's OCR
    blocks: line ``i`` of a block is a ``Tj`` targeted at pixel
    ``(x1, y1 + i)`` (the 1 px stack keeps a block's lines contiguous
    under the global ``(y, x)`` sort — corpus bands are >= 28 px apart).
    ``cid=True`` writes the SAME layer through an Identity-H composite
    font (2-byte codes) instead of 1-byte WinAnsi Helvetica."""
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    font_num = 3
    if cid:
        objs.update(_cid_font_objs())
    else:
        objs[font_num] = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"
        )
    kids, nxt = [], 4
    for img in rasters:
        h_px, w_px = img.shape[:2]
        mw, mh = w_px * 72 / 150, h_px * 72 / 150
        parts = [f"BT /F1 {FONT_PTS} Tf".encode()]
        for y1, x1, text in page_ocr_blocks(img):
            for i, line in enumerate(text.split("\n")):
                assert line, "corpus blocks never contain empty lines"
                baseline_px = (y1 + i) + ASCENT * FONT_PTS * SCALE
                tx = x1 / SCALE
                ty = (h_px - baseline_px) / SCALE
                shown = (_cid_hex(line) if cid
                         else f"({_pdf_escape(line)})".encode())
                parts.append(
                    f"1 0 0 1 {tx:.10f} {ty:.10f} Tm ".encode()
                    + shown + b" Tj"
                )
        parts.append(b"ET")
        if len(parts) == 2:
            # empty page: no text object at all — a show-less BT/ET would
            # classify the page as scanned and quarantine on BT; a blank
            # content stream renders white and OCRs to zero blocks, the
            # flagship's empty-page passthrough
            parts = []
        pg, ct = nxt, nxt + 1
        nxt += 2
        kids.append(f"{pg} 0 R")
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {mw:.8f} "
            f"{mh:.8f}] /Resources << /Font << /F1 {font_num} 0 R >> >> "
            f"/Contents {ct} 0 R >>"
        ).encode()
        objs[ct] = stream_obj("", b" ".join(parts))
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] "
               f"/Count {len(kids)} >>").encode()
    return build_pdf(objs)


def reencode_text_layer(payload: bytes) -> tuple[bytes, bool]:
    """Synthetic container -> (real bytes, is_text_pdf)."""
    kind, rasters = _render_pages(payload)
    if kind == "image":
        return pngcodec.encode_png(np.stack([rasters[0]] * 3, axis=-1)), False
    return text_layer_pdf(rasters), True


def split_pdf_spans(spans, pdf_refs: set) -> list[tuple]:
    """Flagship spans -> text-layer expectation: spans from text-layer
    PDFs split on the OCR strip separator, offsets re-enumerated."""
    out = []
    for kind, text, ref, _off in spans:
        if ref in pdf_refs and "\n" in text:
            out.extend((kind, line, ref) for line in text.split("\n"))
        else:
            out.append((kind, text, ref))
    return [(k, t, r, i) for i, (k, t, r) in enumerate(out)]


@pytest.fixture(scope="module")
def text_corpus(spark):
    docs, media = corpus.generate(24, seed=909, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    reenc = {ref: reencode_text_layer(m["data"]) for ref, m in media.items()}
    real = spark.createDataFrame(
        [(ref, bytearray(data)) for ref, (data, _) in reenc.items()],
        "media_ref string, data binary",
    )
    pdf_refs = {ref for ref, (_, is_pdf) in reenc.items() if is_pdf}
    # the SAME corpus re-encoded through Identity-H composite fonts —
    # built here so the CID test can never drift onto different
    # generation parameters than the docs_df it compares against
    cid_rows = []
    for ref, m in media.items():
        kind, rasters = _render_pages(m["data"])
        if kind == "image":
            cid_rows.append((ref, bytearray(pngcodec.encode_png(
                np.stack([rasters[0]] * 3, axis=-1)))))
        else:
            cid_rows.append((ref, bytearray(text_layer_pdf(rasters,
                                                           cid=True))))
    cid = spark.createDataFrame(cid_rows,
                                "media_ref string, data binary")
    return docs_df, synth, real, pdf_refs, cid


def test_text_layer_pipeline_equals_flagship_modulo_line_split(text_corpus):
    docs_df, synth, real, pdf_refs, _cid = text_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, real, bucket_pages=2)
    )
    assert set(got) == set(flagship)
    for doc_id in flagship:
        assert got[doc_id] == split_pdf_spans(flagship[doc_id], pdf_refs), (
            doc_id
        )


def test_identity_h_text_layer_pipeline_equals_flagship(text_corpus):
    """The SAME text layer written through Identity-H composite fonts
    (2-byte codes + ToUnicode, the dominant born-digital class) must
    extract identically to the 1-byte variant — span-sequence equality
    with the flagship, modulo the line split."""
    docs_df, synth, _real, pdf_refs, cid_media = text_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, cid_media,
                                            bucket_pages=2)
    )
    assert set(got) == set(flagship)
    for doc_id in flagship:
        assert got[doc_id] == split_pdf_spans(flagship[doc_id], pdf_refs), (
            doc_id
        )


def test_mixed_scanned_and_text_pages_one_document(spark):
    """One PDF, page 0 scanned (image XObject -> raster+OCR), page 1
    born-digital (text layer): per-page dispatch assembles both into a
    single reading-ordered span array."""
    import zlib

    docs, media = corpus.generate(40, seed=321, max_pages=4)
    # find a 2+ page synthetic PDF
    ref = next(
        r for r, m in media.items()
        if formats.sniff_kind(m["data"]) == "spdf"
        and formats.decode_media(m["data"])[1].__len__() >= 2
    )
    doc = next(d for d in docs
               if any(s["media_ref"] == ref for s in d["spans"]))
    _kind, rasters = _render_pages(media[ref]["data"])

    # hand-build: even pages as gray image XObjects, odd pages as text
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>",
            3: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/Encoding /WinAnsiEncoding >>")}
    kids, nxt = [], 4
    for pi, img in enumerate(rasters):
        h_px, w_px = img.shape[:2]
        mw, mh = w_px * 72 / 150, h_px * 72 / 150
        pg = nxt
        if pi % 2 == 0:
            ct, im = nxt + 1, nxt + 2
            nxt += 3
            objs[pg] = (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {mw:.8f} "
                f"{mh:.8f}] /Resources << /XObject << /Im0 {im} 0 R >> >> "
                f"/Contents {ct} 0 R >>"
            ).encode()
            objs[ct] = stream_obj(
                "", f"q {mw:.8f} 0 0 {mh:.8f} 0 0 cm /Im0 Do Q".encode()
            )
            objs[im] = stream_obj(
                f"/Subtype /Image /Width {w_px} /Height {h_px} "
                f"/ColorSpace /DeviceGray /BitsPerComponent 8 "
                f"/Filter /FlateDecode",
                zlib.compress(img.tobytes()),
            )
        else:
            ct = nxt + 1
            nxt += 2
            parts = [f"BT /F1 {FONT_PTS} Tf".encode()]
            for y1, x1, text in page_ocr_blocks(img):
                for i, line in enumerate(text.split("\n")):
                    baseline_px = (y1 + i) + ASCENT * FONT_PTS * SCALE
                    parts.append(
                        f"1 0 0 1 {x1 / SCALE:.10f} "
                        f"{(h_px - baseline_px) / SCALE:.10f} Tm "
                        f"({_pdf_escape(line)}) Tj".encode()
                    )
            parts.append(b"ET")
            if len(parts) == 2:
                parts = []  # empty page: see text_layer_pdf
            objs[pg] = (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {mw:.8f} "
                f"{mh:.8f}] /Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {ct} 0 R >>"
            ).encode()
            objs[ct] = stream_obj("", b" ".join(parts))
        kids.append(f"{pg} 0 R")
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] "
               f"/Count {len(kids)} >>").encode()
    mixed_pdf = build_pdf(objs)

    # expectation for this media: per-page local blocks in page order —
    # scanned pages keep multi-line blocks whole, text pages split lines
    exp_ref = []
    for pi, img in enumerate(rasters):
        for _y1, _x1, text in page_ocr_blocks(img):
            if pi % 2 == 1:
                exp_ref.extend(text.split("\n"))
            else:
                exp_ref.append(text)

    one_doc = spark.createDataFrame(
        [doc], schema=schemas.DOCUMENTS
    ).filter(f"doc_id = '{doc['doc_id']}'")
    media_df = spark.createDataFrame(
        [(r, bytearray(
            mixed_pdf if r == ref
            else reencode_text_layer(media[r]["data"])[0]
        )) for r in {s["media_ref"] for s in doc["spans"]
                     if s["media_ref"]}],
        "media_ref string, data binary",
    )
    got = _spans_by_doc(
        extract_real.extract_real_documents(one_doc, media_df,
                                            bucket_pages=1)
    )[doc["doc_id"]]
    got_ref = [t for _k, t, r, _o in got if r == ref]
    assert got_ref == exp_ref
    # the doc's interleaved text spans are untouched by the media tier
    assert [t for k, t, r, _o in got if r is None] == [
        s["text"].strip() for s in doc["spans"] if s["kind"] == "text"
    ]