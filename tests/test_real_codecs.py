"""Real codecs: the magic-byte dispatch, the probe and the pure-stdlib
codecs the tier table decodes through run everywhere; only the
PIL-parity legs are import-gated and SKIPPED (not stubbed) where PIL is
absent.
"""

from __future__ import annotations

import pytest

from ocr_platform_spark import formats, multimodal


def test_sniff_kind_magic_dispatch():
    assert formats.sniff_kind(b"%PDF-1.7 ...") == "pdf"
    assert formats.sniff_kind(b"\x89PNG\r\n\x1a\nrest") == "png"
    assert formats.sniff_kind(b"\xff\xd8\xff\xe0JFIF") == "jpeg"
    assert formats.sniff_kind(formats.encode_image(
        formats.PageDesc(width=10, height=10))) == "simg"
    assert formats.sniff_kind(formats.encode_pdf([])) == "spdf"
    assert formats.sniff_kind(b"<html><body>x</body></html>") == "html"
    assert formats.sniff_kind(b"\xef\xbb\xbf \n<!DOCTYPE html><html>") == "html"
    assert formats.sniff_kind(b"PK\x03\x04zipdata") == "zip"
    # no magic: sniff stays "unknown" — the PROBE refines clean text
    # payloads into the plain-text tier and quarantines markup/binary
    assert formats.sniff_kind(b"garbage") == "unknown"
    assert formats.sniff_kind(b"<xml>not html</xml>") == "unknown"


def test_decode_media_names_the_real_codec_seam():
    with pytest.raises(ValueError, match=r"\(pdf\).*extract_real_documents"):
        formats.decode_media(b"%PDF-1.4\n...")
    with pytest.raises(ValueError, match="unknown media magic"):
        formats.decode_media(b"nonsense-bytes")


def test_probe_rejects_synthetic_containers():
    raw = formats.encode_image(formats.PageDesc(width=4, height=4))
    with pytest.raises(ValueError, match="synthetic container"):
        multimodal.probe_real_media(raw, deep=True)


def test_real_png_decode():
    """Runs EVERYWHERE: a genuine (non-synthetic) PNG payload through the
    stdlib zlib/struct decoder (ocr_platform_spark.pngcodec)."""
    import numpy as np

    from ocr_platform_spark import pngcodec

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    raw = pngcodec.encode_png(arr)
    kind = multimodal.probe_real_media(raw)[0]
    pages = [pngcodec.decode_png(raw)]
    assert kind == "image"
    assert len(pages) == 1
    assert pages[0].shape == (5, 7, 3)
    assert (pages[0] == arr).all()


def _forward_filter(arr, ftype):
    """Reference forward filter (spec §6) for crafting test scanlines."""
    import numpy as np

    h, stride = arr.shape
    bpp = 3
    out = bytearray()
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        row = arr[y].astype(np.int32)
        a = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
        b = prev
        c = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if ftype == 0:
            f = row
        elif ftype == 1:
            f = row - a
        elif ftype == 2:
            f = row - b
        elif ftype == 3:
            f = row - (a + b) // 2
        elif ftype == 4:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            f = row - pr
        out += bytes([ftype]) + (f % 256).astype(np.uint8).tobytes()
        prev = row
    return bytes(out)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_scanline_filters(ftype):
    """Hand-filtered IDAT for each of the five filter types decodes back
    to the source pixels (the filters are where PNG decoders go wrong)."""
    import struct
    import zlib

    import numpy as np

    from ocr_platform_spark import pngcodec

    rng = np.random.default_rng(11 + ftype)
    arr = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    flat = arr.reshape(6, 12)
    ihdr = struct.pack(">IIBBBBB", 4, 6, 8, 2, 0, 0, 0)
    raw = (
        pngcodec.SIGNATURE
        + pngcodec._chunk(b"IHDR", ihdr)
        + pngcodec._chunk(b"IDAT", zlib.compress(_forward_filter(flat, ftype)))
        + pngcodec._chunk(b"IEND", b"")
    )
    assert (pngcodec.decode_png(raw) == arr).all()


def test_png_color_types_convert_to_rgb():
    """Gray/palette/alpha color types land as RGB with convert("RGB")
    semantics: gray replicated, alpha dropped (not composited)."""
    import struct
    import zlib

    import numpy as np

    from ocr_platform_spark import pngcodec

    def build(w, h, ctype, pixel_bytes, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
        scan = b"".join(
            b"\x00" + pixel_bytes[y * w * ch:(y + 1) * w * ch] for y in range(h)
        )
        chunks = pngcodec._chunk(b"IHDR", ihdr)
        if plte is not None:
            chunks += pngcodec._chunk(b"PLTE", plte)
        chunks += pngcodec._chunk(b"IDAT", zlib.compress(scan))
        chunks += pngcodec._chunk(b"IEND", b"")
        return pngcodec.SIGNATURE + chunks

    # gray (ctype 0): value replicated to 3 bands
    g = pngcodec.decode_png(build(2, 1, 0, bytes([9, 200])))
    assert (g == np.array([[[9] * 3, [200] * 3]], np.uint8)).all()
    # gray+alpha (ctype 4): alpha dropped
    ga = pngcodec.decode_png(build(1, 1, 4, bytes([77, 5])))
    assert (ga == np.full((1, 1, 3), 77, np.uint8)).all()
    # RGBA (ctype 6): alpha dropped, never composited
    rgba = pngcodec.decode_png(build(1, 1, 6, bytes([1, 2, 3, 0])))
    assert (rgba == np.array([[[1, 2, 3]]], np.uint8)).all()
    # palette (ctype 3)
    plte = bytes([10, 20, 30, 40, 50, 60])
    pal = pngcodec.decode_png(build(2, 1, 3, bytes([1, 0]), plte))
    assert (pal == np.array([[[40, 50, 60], [10, 20, 30]]], np.uint8)).all()


def test_png_matches_pil_when_available():
    PIL = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from ocr_platform_spark import pngcodec

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    raw = pngcodec.encode_png(arr)
    pil = np.asarray(PIL.open(io.BytesIO(raw)).convert("RGB"))
    assert (pngcodec.decode_png(raw) == pil).all()


def test_real_jpeg_decode():
    """Runs EVERYWHERE (VERDICT r3 #2): a genuine baseline JPEG payload
    through the stdlib/numpy decoder (ocr_platform_spark.jpegcodec).
    With all-ones quantization the only loss is FDCT/IDCT + YCbCr float
    rounding."""
    import numpy as np

    from ocr_platform_spark import jpegcodec

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(17, 13, 3), dtype=np.uint8)
    raw = jpegcodec.encode_jpeg(arr)
    kind = multimodal.probe_real_media(raw)[0]
    pages = [jpegcodec.decode_jpeg(raw)]
    assert kind == "image"
    assert len(pages) == 1
    assert pages[0].shape == (17, 13, 3)
    assert np.abs(pages[0].astype(int) - arr.astype(int)).max() <= 2


def test_jpeg_hand_computed_dct_block():
    """The decoder's dequantize + inverse-zigzag + IDCT + level-shift path,
    pinned against the textbook cosine sum computed independently in the
    test (explicit loops, no shared code with the module's matrix IDCT).
    Grayscale single-block frame with a 16-bit (Pq=1) quantization table,
    so the wide-DQT branch is covered too."""
    import math
    import struct

    import numpy as np

    from ocr_platform_spark import jpegcodec

    # distinctive 16-bit quant table + a sparse coefficient set
    q = np.ones(64, np.int64)
    q[0], q[1], q[4], q[9] = 300, 11, 40, 7
    coef = np.zeros(64, np.int64)  # zigzag order
    coef[0], coef[1], coef[4], coef[9] = 2, -3, 1, 5

    dc = jpegcodec._encode_codes(*jpegcodec._STD_DC_LUMA)
    ac = jpegcodec._encode_codes(*jpegcodec._STD_AC_LUMA)
    wtr = jpegcodec._BitWriter()
    jpegcodec._encode_block(wtr, coef, 0, dc, ac)
    wtr.pad()

    dqt_body = b"\x10" + b"".join(struct.pack(">H", int(v)) for v in q)
    sof_body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    sos_body = bytes([1, 1, 0x00, 0, 63, 0])
    raw = (
        b"\xff\xd8"
        + b"\xff\xdb" + struct.pack(">H", len(dqt_body) + 2) + dqt_body
        + b"\xff\xc0" + struct.pack(">H", len(sof_body) + 2) + sof_body
        + jpegcodec._dht_segment(0, 0, jpegcodec._STD_DC_LUMA)
        + jpegcodec._dht_segment(1, 0, jpegcodec._STD_AC_LUMA)
        + b"\xff\xda" + struct.pack(">H", len(sos_body) + 2) + sos_body
        + bytes(wtr.out)
        + b"\xff\xd9"
    )

    # independent expectation: F in raster order via the zigzag map, then
    # the T.81 A.3.3 inverse transform term by term
    F = np.zeros((8, 8))
    for k in range(64):
        F[jpegcodec.ZIGZAG[k] // 8, jpegcodec.ZIGZAG[k] % 8] = coef[k] * q[k]
    a = lambda u: math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8)
    want = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    s += (
                        a(u) * a(v) * F[u, v]
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                    )
            want[y, x] = s + 128.0
    want8 = np.clip(np.rint(want), 0, 255).astype(np.uint8)

    got = jpegcodec.decode_jpeg(raw)
    assert got.shape == (8, 8, 3)
    assert (got == np.repeat(want8[:, :, None], 3, axis=2)).all()


def test_jpeg_420_constant_color_exact():
    """4:2:0 exercises multi-block MCUs + chroma upsampling; a constant
    image is invariant under any subsampler/upsampler, so the round-trip
    must be EXACT (pins MCU interleave order and plane placement)."""
    import numpy as np

    from ocr_platform_spark import jpegcodec

    arr = np.zeros((20, 26, 3), np.uint8)
    arr[:] = (200, 30, 90)
    assert (jpegcodec.decode_jpeg(
        jpegcodec.encode_jpeg(arr, subsampling="420")) == arr).all()


def test_jpeg_restart_markers_do_not_change_pixels():
    import numpy as np

    from ocr_platform_spark import jpegcodec

    rng = np.random.default_rng(23)
    arr = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    plain = jpegcodec.decode_jpeg(jpegcodec.encode_jpeg(arr))
    with_rst = jpegcodec.encode_jpeg(arr, restart_interval=2)
    assert b"\xff\xdd" in with_rst and b"\xff\xd0" in with_rst
    assert (jpegcodec.decode_jpeg(with_rst) == plain).all()


def test_jpeg_rejects_malformed_and_unsupported_frames():
    import numpy as np
    import pytest as _pytest

    from ocr_platform_spark import jpegcodec

    raw = jpegcodec.encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    # a baseline stream relabeled SOF2 is malformed: its single scan
    # declares the full 0..63 band, illegal for a progressive DC scan
    mislabeled = raw.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="Se=0"):
        jpegcodec.decode_jpeg(mislabeled)
    # genuinely unsupported frame types still raise up front
    arith = raw.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with _pytest.raises(ValueError, match="frame type"):
        jpegcodec.decode_jpeg(arith)
    with _pytest.raises(ValueError):
        jpegcodec.decode_jpeg(raw[: len(raw) // 2])
    # the ValueError contract must hold for arbitrary malformation, never
    # leaking struct.error/IndexError (r4 review finding): zero-length
    # segment, lying segment length, truncated SOF body
    with _pytest.raises(ValueError, match="out of bounds"):
        jpegcodec.decode_jpeg(b"\xff\xd8\xff\xdb\x00\x00\xff\xd9")
    with _pytest.raises(ValueError, match="out of bounds"):
        jpegcodec.decode_jpeg(b"\xff\xd8\xff\xdb\xff\xff\x00")
    with _pytest.raises(ValueError, match="JPEG"):
        jpegcodec.decode_jpeg(b"\xff\xd8\xff\xc0\x00\x11\x08")


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: any marker may be preceded by any number of 0xFF fill
    bytes — real encoders emit them; the decoder must skip the run (r4
    review finding: the first parser consumed the marker id as a length
    byte and lost the stream)."""
    import numpy as np

    from ocr_platform_spark import jpegcodec

    rng = np.random.default_rng(31)
    arr = rng.integers(0, 256, size=(10, 11, 3), dtype=np.uint8)
    raw = jpegcodec.encode_jpeg(arr)
    plain = jpegcodec.decode_jpeg(raw)
    # insert fill bytes before the SOF0 and SOS markers
    padded = raw.replace(b"\xff\xc0", b"\xff\xff\xff\xc0", 1)
    padded = padded.replace(b"\xff\xda", b"\xff\xff\xda", 1)
    assert (jpegcodec.decode_jpeg(padded) == plain).all()


def test_jpeg_noninterleaved_grayscale_with_22_sampling():
    """A single-component scan is NON-interleaved (T.81 A.2.2): one data
    unit per MCU in raster order over the component's own block grid,
    sampling factors notwithstanding. Some encoders keep the color-default
    2x2 luma factors on grayscale files; libjpeg decodes them fine, so
    must we (r4 review finding). Built by re-tagging a 1x1-sampled
    grayscale stream — for a single-component frame the entropy stream is
    identical under either declaration."""
    import struct

    import numpy as np

    from ocr_platform_spark import jpegcodec

    # hand-build a 16x24 grayscale JPEG (6 blocks), 1x1 declared
    rng = np.random.default_rng(17)
    y_plane = rng.integers(0, 256, size=(16, 24), dtype=np.uint8)
    q = np.ones(64, np.int64)
    blocks = jpegcodec._fdct_quant(y_plane.astype(np.float64), q)
    dc = jpegcodec._encode_codes(*jpegcodec._STD_DC_LUMA)
    ac = jpegcodec._encode_codes(*jpegcodec._STD_AC_LUMA)
    wtr = jpegcodec._BitWriter()
    pred = 0
    for by in range(blocks.shape[0]):
        for bx in range(blocks.shape[1]):
            pred = jpegcodec._encode_block(wtr, blocks[by, bx], pred, dc, ac)
    wtr.pad()

    def build(hv):
        dqt = b"\x00" + bytes(int(v) for v in q)
        sof = struct.pack(">BHHB", 8, 16, 24, 1) + bytes([1, hv, 0])
        sos = bytes([1, 1, 0x00, 0, 63, 0])
        return (
            b"\xff\xd8"
            + b"\xff\xdb" + struct.pack(">H", len(dqt) + 2) + dqt
            + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
            + jpegcodec._dht_segment(0, 0, jpegcodec._STD_DC_LUMA)
            + jpegcodec._dht_segment(1, 0, jpegcodec._STD_AC_LUMA)
            + b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
            + bytes(wtr.out)
            + b"\xff\xd9"
        )

    out_11 = jpegcodec.decode_jpeg(build(0x11))
    out_22 = jpegcodec.decode_jpeg(build(0x22))
    assert out_11.shape == out_22.shape == (16, 24, 3)
    # both declarations decode the same raster-ordered block stream
    assert (out_11 == out_22).all()
    # and match the source within FDCT/IDCT rounding
    assert np.abs(out_11[:, :, 0].astype(int) - y_plane.astype(int)).max() <= 2


def test_jpeg_rejects_nondivisor_sampling():
    import struct

    import numpy as np
    import pytest as _pytest

    from ocr_platform_spark import jpegcodec

    raw = jpegcodec.encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    # re-declare luma 3x1 against chroma 2x1: 3 % 2 != 0
    sof_at = raw.index(b"\xff\xc0")
    body = bytearray(raw)
    # SOF body: marker(2) len(2) prec(1) h(2) w(2) nc(1) then comp triples
    body[sof_at + 11] = 0x31  # comp 1 sampling 3x1
    body[sof_at + 14] = 0x21  # comp 2 sampling 2x1
    body[sof_at + 17] = 0x21  # comp 3 sampling 2x1
    with _pytest.raises(ValueError, match="sampling ratio"):
        jpegcodec.decode_jpeg(bytes(body))


def test_jpeg_matches_pil_when_available():
    """libjpeg's islow IDCT is an integer approximation of the float
    transform here, so parity is +-2 levels on a 4:4:4 stream (no chroma
    upsampling in play), not bit-equality like the lossless PNG case."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from ocr_platform_spark import jpegcodec

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    raw = jpegcodec.encode_jpeg(arr)
    pil = np.asarray(PIL.open(io.BytesIO(raw)).convert("RGB")).astype(int)
    ours = jpegcodec.decode_jpeg(raw).astype(int)
    assert np.abs(pil - ours).max() <= 2


_SPARK_SAMPLE_JPEGS = (
    "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin/kittens"
)


def test_jpeg_matches_java_imageio_on_real_photos(spark):
    """Third-party interop pin that RUNS in-sandbox: real-world baseline
    4:2:0 JPEGs (from the Spark distribution's sample data — photos
    produced by a foreign encoder, not our own) decoded by jpegcodec vs
    Java ImageIO through Spark's `image` source. The two decoders differ
    only in chroma upsampling at edges (ours nearest, ImageIO's smooth),
    so the pin is a tight statistical envelope, not bit-equality."""
    import glob
    import os

    import numpy as np

    from ocr_platform_spark import jpegcodec

    if not os.path.isdir(_SPARK_SAMPLE_JPEGS):
        pytest.skip("spark sample images not present")
    rows = (
        spark.read.format("image")
        .load(f"{_SPARK_SAMPLE_JPEGS}/*.jpg")
        .select("image.origin", "image.height", "image.width",
                "image.nChannels", "image.data")
        .collect()
    )
    assert len(rows) >= 3
    for r in rows:
        java = np.frombuffer(bytes(r.data), np.uint8).reshape(
            r.height, r.width, r.nChannels
        )[:, :, ::-1]  # ImageIO hands Spark BGR; flip to RGB
        path = r.origin.replace("file:", "")
        ours = jpegcodec.decode_jpeg(open(path, "rb").read())
        assert ours.shape == java.shape
        d = np.abs(ours.astype(int) - java.astype(int))
        assert d.mean() <= 1.0, path
        assert (d <= 2).mean() >= 0.98, path


def _g4_tiff(bm) -> bytes:
    """Minimal single-strip little-endian TIFF wrapping our own Group 4
    encoding of ``bm`` (1 = black): Compression=4 (T.6),
    PhotometricInterpretation=0 (WhiteIsZero — sample 1 renders black,
    matching ccittcodec's bit convention directly)."""
    import struct

    from ocr_platform_spark import ccittcodec

    h, w = bm.shape
    data = ccittcodec.encode_g4(bm)
    SHORT, LONG = 3, 4
    entries = [
        (256, LONG, 1, w),            # ImageWidth
        (257, LONG, 1, h),            # ImageLength
        (258, SHORT, 1, 1),           # BitsPerSample
        (259, SHORT, 1, 4),           # Compression: CCITT T.6
        (262, SHORT, 1, 0),           # Photometric: WhiteIsZero
        (273, LONG, 1, 0),            # StripOffsets (patched below)
        (277, SHORT, 1, 1),           # SamplesPerPixel
        (278, LONG, 1, h),            # RowsPerStrip
        (279, LONG, 1, len(data)),    # StripByteCounts
    ]
    data_off = 8 + 2 + len(entries) * 12 + 4
    out = struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", len(entries))
    for tag, typ, cnt, val in entries:
        if tag == 273:
            val = data_off
        if typ == SHORT:
            out += struct.pack("<HHIHH", tag, typ, cnt, val, 0)
        else:
            out += struct.pack("<HHII", tag, typ, cnt, val)
    out += struct.pack("<I", 0)  # no next IFD
    return out + data


def test_g4_matches_java_imageio_tiff_reader(spark, tmp_path):
    """Third-party interop pin that RUNS in-sandbox: bitmaps compressed
    with ccittcodec.encode_g4, wrapped in a minimal TIFF, decoded by
    Java ImageIO's TIFF reader (JDK 9+ ships CCITT T.6) through Spark's
    `image` source. G4 is lossless, so the pin is BIT-EXACT equality —
    round-trip through a foreign decoder rules out a self-consistent but
    wrong code table (the failure round-trip tests cannot see)."""
    import numpy as np

    rng = np.random.default_rng(17)
    cases = {
        "sparse": (rng.random((40, 120)) < 0.07).astype(np.uint8),
        "dense": (rng.random((33, 65)) < 0.6).astype(np.uint8),
        "strokes": np.zeros((48, 180), np.uint8),
    }
    cases["strokes"][10:13, 8:170] = 1
    cases["strokes"][30:44, 60:63] = 1
    for name, bm in cases.items():
        (tmp_path / f"{name}.tiff").write_bytes(_g4_tiff(bm))
    rows = (
        spark.read.format("image")
        .load(str(tmp_path / "*.tiff"))
        .select("image.origin", "image.height", "image.width",
                "image.nChannels", "image.mode", "image.data")
        .collect()
    )
    assert len(rows) == len(cases)
    for r in rows:
        name = r.origin.rsplit("/", 1)[1].split(".")[0]
        bm = cases[name]
        assert r.mode != -1, f"ImageIO could not decode {name}"
        java = np.frombuffer(bytes(r.data), np.uint8).reshape(
            r.height, r.width, r.nChannels)[:, :, 0]
        # (gray-as-BGR hands back equal channels; channel 0 suffices)
        # WhiteIsZero: black sample (1) -> luminance 0
        np.testing.assert_array_equal(java, (1 - bm) * 255, err_msg=name)


def test_decode_tiff_multipage_g4_runs_in_sandbox():
    """Multi-page G4 TIFF decodes through the stdlib tiffcodec:
    dispatch, page count, pixel values and the header-only probe."""
    import numpy as np

    from ocr_platform_spark import tiffcodec

    rng = np.random.default_rng(23)
    pages = [(rng.random((18, 33)) < 0.3).astype(np.uint8)
             for _ in range(3)]
    raw = tiffcodec.encode_g4_tiff(pages)
    assert formats.sniff_kind(raw) == "tiff"
    kind = multimodal.probe_real_media(raw)[0]
    rasters = tiffcodec.decode_tiff(raw)
    assert kind == "tiff" and len(rasters) == 3
    for r, p in zip(rasters, pages):
        assert r.shape == (p.shape[0], p.shape[1], 3)
        np.testing.assert_array_equal(r[:, :, 0], (1 - p) * 255)
    # header-only probe agrees and never inflates
    assert multimodal.probe_real_media(raw) == ("tiff", 3, 33, 18)
    assert multimodal.probe_real_media(raw, deep=True) == ("tiff", 3, 33, 18)
    with pytest.raises(ValueError):
        multimodal.probe_real_media(b"II\x2a\x00" + b"\xff" * 16)


def test_png_palette_index_out_of_range_raises_valueerror():
    import struct
    import zlib

    from ocr_platform_spark import pngcodec

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
    raw = (
        pngcodec.SIGNATURE
        + pngcodec._chunk(b"IHDR", ihdr)
        + pngcodec._chunk(b"PLTE", bytes([10, 20, 30]))  # 1 entry
        + pngcodec._chunk(b"IDAT", zlib.compress(b"\x00\x05"))  # index 5
        + pngcodec._chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        pngcodec.decode_png(raw)


# --- progressive JPEG (SOF2) ----------------------------------------------

import numpy as np  # noqa: E402  (progressive section is module-wide)

from ocr_platform_spark import jpegcodec  # noqa: E402


def _write_pnm(path, arr):
    if arr.ndim == 2:
        path.write_bytes(b"P5\n%d %d\n255\n" % (arr.shape[1], arr.shape[0])
                         + arr.tobytes())
    else:
        path.write_bytes(b"P6\n%d %d\n255\n" % (arr.shape[1], arr.shape[0])
                         + arr.tobytes())


def _read_pnm_file(path):
    raw = path.read_bytes()
    meta, px = raw.split(b"255\n", 1)
    magic, dims = meta.split(b"\n")[:2]
    w, h = map(int, dims.split())
    if magic == b"P6":
        return np.frombuffer(px, np.uint8).reshape(h, w, 3)
    return np.frombuffer(px, np.uint8).reshape(h, w)


def _textured_rgb(h, w, seed=7):
    rng = np.random.default_rng(seed)
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    img = np.stack([
        128 + 100 * np.sin(x / 23) + 20 * rng.standard_normal((h, w)),
        128 + 90 * np.cos(y / 17) + 15 * rng.standard_normal((h, w)),
        ((x + y) % 256).astype(float),
    ], axis=-1)
    return np.clip(img, 0, 255).astype(np.uint8)


def test_progressive_decode_equals_baseline_decode(tifftool, tmp_path):
    """Progressive transmission only REORDERS coefficients; the same
    encoder (Java ImageIO) in baseline vs progressive mode must decode
    BIT-IDENTICALLY through jpegcodec — a coefficient mis-accumulated by
    any of the four scan kinds breaks equality. Gray and color, odd
    (non-MCU-multiple) sizes."""
    cases = {
        "color": _textured_rgb(120, 200),
        "color_odd": _textured_rgb(53, 77, seed=11),
        "gray": _textured_rgb(53, 77, seed=13)[:, :, 0].copy(),
    }
    for name, arr in cases.items():
        src = tmp_path / f"{name}.pnm"
        _write_pnm(src, arr)
        outs = {}
        for mode in ("baseline", "progressive"):
            jp = tmp_path / f"{name}_{mode}.jpg"
            tifftool("encodejpeg", src, jp, mode)
            outs[mode] = jpegcodec.decode_jpeg(jp.read_bytes())
        marker = b"\xff\xc2"
        assert marker in (tmp_path / f"{name}_progressive.jpg").read_bytes()
        np.testing.assert_array_equal(outs["baseline"], outs["progressive"],
                                      err_msg=name)


def test_progressive_gray_matches_imageio_within_rounding(tifftool,
                                                          tmp_path):
    """No chroma, no upsampling: gray progressive parity vs Java ImageIO
    is IDCT rounding only (+-1)."""
    arr = _textured_rgb(53, 77, seed=13)[:, :, 0].copy()
    _write_pnm(tmp_path / "g.pgm", arr)
    tifftool("encodejpeg", tmp_path / "g.pgm", tmp_path / "g.jpg",
             "progressive")
    ours = jpegcodec.decode_jpeg((tmp_path / "g.jpg").read_bytes())
    tifftool("decodejpeg", tmp_path / "g.jpg", tmp_path / "g_dec.pgm")
    java = _read_pnm_file(tmp_path / "g_dec.pgm")
    assert np.abs(ours[:, :, 0].astype(int) - java.astype(int)).max() <= 1


def test_progressive_matches_imageio_on_real_photos(tifftool, tmp_path):
    """Real kitten photos (Spark sample data) re-encoded progressive by
    Java ImageIO: jpegcodec vs ImageIO's own decode — same statistical
    envelope as the baseline real-photo pin (chroma upsampling differs:
    ours nearest, ImageIO smooth), PLUS ours-baseline == ours-progressive
    bit-equality per photo."""
    import glob
    import os

    if not os.path.isdir(_SPARK_SAMPLE_JPEGS):
        pytest.skip("spark sample images not present")
    jpgs = sorted(glob.glob(f"{_SPARK_SAMPLE_JPEGS}/*.jpg"))
    assert len(jpgs) >= 3
    for p in jpgs:
        tifftool("decodejpeg", p, tmp_path / "k.ppm")
        tifftool("encodejpeg", tmp_path / "k.ppm", tmp_path / "kp.jpg",
                 "progressive")
        tifftool("encodejpeg", tmp_path / "k.ppm", tmp_path / "kb.jpg",
                 "baseline")
        ours_p = jpegcodec.decode_jpeg((tmp_path / "kp.jpg").read_bytes())
        ours_b = jpegcodec.decode_jpeg((tmp_path / "kb.jpg").read_bytes())
        np.testing.assert_array_equal(ours_p, ours_b, err_msg=p)
        tifftool("decodejpeg", tmp_path / "kp.jpg", tmp_path / "kd.ppm")
        java = _read_pnm_file(tmp_path / "kd.ppm")
        d = np.abs(ours_p.astype(int) - java.astype(int))
        assert d.mean() <= 1.0 and (d <= 2).mean() >= 0.98, p


def _seg(marker, payload):
    import struct as _s

    return bytes([0xFF, marker]) + _s.pack(">H", len(payload) + 2) + payload


def _bits(s):
    s += "1" * (-len(s) % 8)  # pad to byte with 1s (spec padding)
    return int(s, 2).to_bytes(len(s) // 8, "big")


def test_progressive_hand_assembled_dc_scans_with_restart():
    """A DC-only progressive stream built bit-by-bit: DC-first scan at
    Al=1 with DRI=1 (restart + predictor reset between the two blocks),
    then a DC-refinement scan adding the low bit. Pins the successive-
    approximation arithmetic and restart handling against hand-computed
    values: final DCs 4 and 7 -> flat blocks 128.5 and 128.875 ->
    rint 128 / 129."""
    import struct as _s

    dqt = _seg(0xDB, bytes([0x00]) + b"\x01" * 64)
    sof = _seg(0xC2, bytes([8]) + _s.pack(">HH", 8, 16)
               + bytes([1, 1, 0x11, 0]))
    # DC table: symbols 0,1,2 at code length 2 -> codes 00,01,10
    dht = _seg(0xC4, bytes([0x00, 0, 3] + [0] * 14 + [0, 1, 2]))
    dri1 = _seg(0xDD, _s.pack(">H", 1))
    sos1 = _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
    #   block1: cat-2 code "10" + bits "10" (diff 2 -> DC 2<<1 = 4)
    ent1 = _bits("10" + "10") + b"\xff\xd0" + _bits("10" + "11")
    dri0 = _seg(0xDD, _s.pack(">H", 0))
    sos2 = _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
    ent2 = _bits("0" + "1")  # refine bits: 4 stays 4, 6 -> 7
    raw = (b"\xff\xd8" + dqt + sof + dht + dri1 + sos1 + ent1
           + dri0 + sos2 + ent2 + b"\xff\xd9")
    img = jpegcodec.decode_jpeg(raw)
    assert img.shape == (8, 16, 3)
    np.testing.assert_array_equal(img[:, :8], np.full((8, 8, 3), 128))
    np.testing.assert_array_equal(img[:, 8:], np.full((8, 8, 3), 129))


def test_progressive_error_contract_under_mutation(tifftool, tmp_path):
    """Flip/truncate bytes all over a progressive stream: every outcome
    is a clean image or ValueError — never a crash or silent garbage
    type."""
    arr = _textured_rgb(40, 56, seed=23)
    _write_pnm(tmp_path / "m.ppm", arr)
    tifftool("encodejpeg", tmp_path / "m.ppm", tmp_path / "m.jpg",
             "progressive")
    raw = bytearray((tmp_path / "m.jpg").read_bytes())
    rng = np.random.default_rng(41)
    for _ in range(120):
        mutated = bytearray(raw)
        what = rng.integers(0, 3)
        if what == 0:
            mutated[int(rng.integers(2, len(raw)))] ^= int(
                1 << rng.integers(0, 8))
        elif what == 1:
            mutated = mutated[: int(rng.integers(2, len(raw)))]
        else:
            i = int(rng.integers(2, len(raw) - 4))
            del mutated[i: i + int(rng.integers(1, 4))]
        try:
            out = jpegcodec.decode_jpeg(bytes(mutated))
            assert out.dtype == np.uint8 and out.ndim == 3
        except ValueError:
            pass


def test_validate_jpeg_accepts_progressive(tifftool, tmp_path):
    arr = _textured_rgb(30, 44, seed=29)
    _write_pnm(tmp_path / "v.ppm", arr)
    tifftool("encodejpeg", tmp_path / "v.ppm", tmp_path / "v.jpg",
             "progressive")
    assert jpegcodec.validate_jpeg(
        (tmp_path / "v.jpg").read_bytes()) == (44, 30)


def test_rgb_coded_jpeg_not_silently_ycbcr_converted():
    """Rare RGB-coded JPEGs (Adobe APP14 transform 0, or component IDs
    'R','G','B') must skip the YCbCr transform — decoding them through
    the JFIF default would emit silently wrong colors. Transform 1 is a
    no-op, 2 (YCCK) on 3 components quarantines."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
    enc = jpegcodec.encode_jpeg(img)
    ref = jpegcodec.decode_jpeg(enc)

    def insert_adobe(raw, transform):
        seg = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform])
        app14 = b"\xff\xee" + (len(seg) + 2).to_bytes(2, "big") + seg
        return raw[:2] + app14 + raw[2:]

    np.testing.assert_array_equal(
        jpegcodec.decode_jpeg(insert_adobe(enc, 1)), ref)
    d0 = jpegcodec.decode_jpeg(insert_adobe(enc, 0))
    assert not np.array_equal(d0, ref)
    # reinterpreting the raw planes as YCbCr recovers the JFIF decode
    # (up to the double rounding of materializing the planes as uint8)
    back = jpegcodec._ycbcr_to_rgb(d0[:, :, 0].astype(float),
                                   d0[:, :, 1].astype(float),
                                   d0[:, :, 2].astype(float))
    assert np.abs(back.astype(int) - ref.astype(int)).max() <= 2
    # component IDs 'R','G','B' without an Adobe marker: same path
    patched = bytearray(enc)
    i = enc.find(b"\xff\xc0")
    for c, cid in enumerate(b"RGB"):
        patched[i + 9 + 1 + 3 * c] = cid
    j = enc.find(b"\xff\xda")
    for c, cid in enumerate(b"RGB"):
        patched[j + 5 + 2 * c] = cid
    np.testing.assert_array_equal(jpegcodec.decode_jpeg(bytes(patched)),
                                  d0)
    with pytest.raises(ValueError, match="transform 2"):
        jpegcodec.decode_jpeg(insert_adobe(enc, 2))


# --- PNG: Adam7 interlace + sub-byte depths ------------------------------------


#: Adam7 pass layout transcribed HERE from PNG spec §8.2 — deliberately
#: NOT imported from pngcodec, so a wrong entry in the codec's table
#: fails the round-trip instead of cancelling out
_ADAM7_SPEC = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
               (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _adam7_png(arr, depth=8, ctype=0, palette=None):
    """Test-side Adam7 encoder (filter 0 per scanline, passes in spec
    order) — the inverse construction of the decoder's scatter."""
    import struct
    import zlib

    import numpy as np

    from ocr_platform_spark import pngcodec

    h, w = arr.shape[:2]
    ch = arr.shape[2] if arr.ndim == 3 else 1
    parts = []
    for x0, y0, dx, dy in _ADAM7_SPEC:
        sub = arr[y0::dy, x0::dx]
        hp, wp = sub.shape[:2]
        if hp == 0 or wp == 0:
            continue
        for y in range(hp):
            row = sub[y].reshape(wp * ch) if ch > 1 else sub[y].reshape(wp)
            if depth == 8:
                rb = row.astype(np.uint8).tobytes()
            else:
                bits = np.unpackbits(
                    row.astype(np.uint8)[:, None], axis=1
                )[:, 8 - depth:]
                rb = np.packbits(bits.reshape(-1)).tobytes()
            parts.append(b"\x00" + rb)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1)
    chunks = pngcodec.SIGNATURE + pngcodec._chunk(b"IHDR", ihdr)
    if palette is not None:
        chunks += pngcodec._chunk(b"PLTE", palette.tobytes())
    return (chunks
            + pngcodec._chunk(b"IDAT", zlib.compress(b"".join(parts)))
            + pngcodec._chunk(b"IEND", b""))


def test_png_adam7_interlace_decodes_exactly():
    import numpy as np

    from ocr_platform_spark import pngcodec

    rng = np.random.default_rng(5)
    for h, w in ((1, 1), (3, 5), (8, 8), (13, 21)):
        gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
        raw = _adam7_png(gray, depth=8, ctype=0)
        assert np.array_equal(pngcodec.decode_png(raw),
                              np.repeat(gray[:, :, None], 3, axis=2)), (h, w)
        rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        raw = _adam7_png(rgb, depth=8, ctype=2)
        assert np.array_equal(pngcodec.decode_png(raw), rgb), (h, w)


def test_png_subbyte_gray_and_palette():
    import numpy as np

    from ocr_platform_spark import pngcodec

    rng = np.random.default_rng(7)
    for depth, scale in ((1, 255), (2, 85), (4, 17)):
        vals = rng.integers(0, 1 << depth, (9, 13), dtype=np.uint8)
        raw = _adam7_png(vals, depth=depth, ctype=0)
        expect = (vals * scale).astype(np.uint8)
        got = pngcodec.decode_png(raw)
        assert np.array_equal(got, np.repeat(expect[:, :, None], 3, -1)), (
            depth)
        assert pngcodec.validate_png(raw) == (13, 9)
    # sub-byte palette indices look up WITHOUT scaling
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (7, 11), dtype=np.uint8)
    raw = _adam7_png(idx, depth=4, ctype=3, palette=pal)
    assert np.array_equal(pngcodec.decode_png(raw), pal[idx])
    # 16-bit still refuses
    import struct
    import zlib

    bad = (pngcodec.SIGNATURE
           + pngcodec._chunk(b"IHDR",
                             struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0))
           + pngcodec._chunk(b"IDAT", zlib.compress(b"\x00" * 10))
           + pngcodec._chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="bit depth 16"):
        pngcodec.decode_png(bad)


def test_png_imageio_interop_interlace_and_subbyte(tifftool, tmp_path):
    """Java ImageIO writes the wild-web PNG shapes (Adam7 progressive,
    1-bit bilevel, 4-bit palette); the stdlib decoder must reproduce
    every one bit-exactly (PNG is lossless in all modes)."""
    import numpy as np

    from ocr_platform_spark import pngcodec

    f = _textured_rgb(60, 80)[:, :, 0]  # structured gray
    _write_pnm(tmp_path / "in.pgm", f)
    cases = {
        "plain": np.repeat(f[:, :, None], 3, -1),
        "progressive": np.repeat(f[:, :, None], 3, -1),
        "gray1": np.repeat(np.where(f >= 128, 255, 0)
                           .astype(np.uint8)[:, :, None], 3, -1),
        "gray1progressive": np.repeat(np.where(f >= 128, 255, 0)
                                      .astype(np.uint8)[:, :, None], 3, -1),
        "pal4": np.repeat(((f >> 4) * 17)
                          .astype(np.uint8)[:, :, None], 3, -1),
        "pal4progressive": np.repeat(((f >> 4) * 17)
                                     .astype(np.uint8)[:, :, None], 3, -1),
    }
    for mode, expect in cases.items():
        out = tmp_path / f"{mode}.png"
        tifftool("encodepng", tmp_path / "in.pgm", out, mode)
        got = pngcodec.decode_png(out.read_bytes())
        assert np.array_equal(got, expect), mode
        # and validate_png accepts the same shapes header-only
        assert pngcodec.validate_png(out.read_bytes()) == (80, 60), mode
