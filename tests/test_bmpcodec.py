"""bmpcodec: the uncompressed-desktop long-tail format, pinned by
hand-assembled fixtures (every header family, depth, and RLE opcode),
round trips through our own encoder, Java ImageIO in BOTH directions
(lossless format -> bit-exact), and the distributed extraction pipeline.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ocr_platform_spark import bmpcodec, formats, multimodal


def _rng(seed=7):
    return np.random.default_rng(seed)


def _info_bmp(w: int, h: int, bpp: int, comp: int, pixels: bytes,
              pal: bytes = b"", masks: bytes = b"") -> bytes:
    """Hand-assembled BITMAPINFOHEADER BMP (h may be negative)."""
    data_off = 14 + 40 + len(masks) + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, comp,
                       len(pixels), 0, 0, len(pal) // 4, 0)
    head = struct.pack("<2sIHHI", b"BM", data_off + len(pixels), 0, 0,
                       data_off)
    return head + info + masks + pal + pixels


def _gray_pal(n: int, entry: int = 4) -> bytes:
    """Identity palette: index i maps to RGB (i, i, i)."""
    return bytes(b for v in range(n)
                 for b in ((v, v, v, 0) if entry == 4 else (v, v, v)))


# --------------------------------------------------------------------------
# round trips through our encoder
# --------------------------------------------------------------------------


def test_rgb24_roundtrip_both_orientations():
    arr = _rng(3).integers(0, 256, (13, 21, 3), dtype=np.uint8)
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp(bmpcodec.encode_bmp(arr)), arr)
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp(bmpcodec.encode_bmp(arr, topdown=True)), arr)
    assert bmpcodec.validate_bmp(bmpcodec.encode_bmp(arr)) == (21, 13)


def test_gray8_and_rle8_roundtrip():
    g = _rng(5).integers(0, 256, (9, 14), dtype=np.uint8)
    want = np.stack([g] * 3, axis=-1)
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp(bmpcodec.encode_bmp(g)), want)
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp(bmpcodec.encode_bmp(g, rle=True)), want)


# --------------------------------------------------------------------------
# hand-assembled fixtures: depths, headers, bitfields
# --------------------------------------------------------------------------


def test_16bit_555_default_and_565_bitfields():
    # one pixel r=7 g=31 b=1 in X555 (BI_RGB default masks)
    px = struct.pack("<H", (7 << 10) | (31 << 5) | 1) + b"\x00\x00"
    out = bmpcodec.decode_bmp(_info_bmp(1, 1, 16, 0, px))

    def rep(v, n):
        x = v << (8 - n)
        return x | (x >> n)

    np.testing.assert_array_equal(out[0, 0], [rep(7, 5), 255, rep(1, 5)])
    # same channels through explicit 565 masks
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    px = struct.pack("<H", (7 << 11) | (31 << 5) | 1) + b"\x00\x00"
    out = bmpcodec.decode_bmp(_info_bmp(1, 1, 16, 3, px, masks=masks))
    np.testing.assert_array_equal(out[0, 0],
                                  [rep(7, 5), rep(31, 6), rep(1, 5)])


def test_32bit_bgrx_and_8888_bitfields_agree():
    arr = _rng(9).integers(0, 256, (5, 7, 3), dtype=np.uint8)
    rows = np.zeros((5, 7, 4), np.uint8)
    rows[:, :, :3] = arr[::-1, :, ::-1]  # bottom-up BGRX
    raw = _info_bmp(7, 5, 32, 0, rows.tobytes())
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw), arr)
    masks = struct.pack("<III", 0x00FF0000, 0x0000FF00, 0x000000FF)
    raw = _info_bmp(7, 5, 32, 3, rows.tobytes(), masks=masks)
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw), arr)


def test_1bit_and_4bit_palettized():
    # 1-bit, w=10: rows byte-packed MSB-first, 4-byte aligned
    bits = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1, 1],
                     [0, 1, 0, 0, 1, 1, 0, 1, 0, 0]], np.uint8)
    packed = np.packbits(bits, axis=1)
    rows = np.zeros((2, 4), np.uint8)
    rows[:, :2] = packed
    raw = _info_bmp(10, 2, 1, 0, rows[::-1].tobytes(),
                    pal=bytes((0, 0, 0, 0, 255, 255, 255, 0)))
    want = np.stack([bits * 255] * 3, axis=-1)
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw), want)
    # 4-bit, w=3: nibbles hi-first, row = 2 bytes data + pad to 4
    idx = np.array([[1, 2, 3], [4, 5, 6]], np.uint8)
    rows = bytes((0x12, 0x30, 0, 0, 0x45, 0x60, 0, 0))  # bottom-up
    raw = _info_bmp(3, 2, 4, 0, rows[4:] + rows[:4], pal=_gray_pal(16))
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw),
                                  np.stack([idx] * 3, axis=-1))


def test_core_header_24bit():
    arr = _rng(11).integers(0, 256, (2, 2, 3), dtype=np.uint8)
    rows = np.zeros((2, 8), np.uint8)
    rows[:, :6] = arr[::-1, :, ::-1].reshape(2, 6)
    core = struct.pack("<IHHHH", 12, 2, 2, 1, 24)
    head = struct.pack("<2sIHHI", b"BM", 14 + 12 + 16, 0, 0, 14 + 12)
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp(head + core + rows.tobytes()), arr)


def test_top_down_equals_flipped_bottom_up():
    arr = _rng(13).integers(0, 256, (4, 6, 3), dtype=np.uint8)
    rows = np.zeros((4, 6 * 3 + 2), np.uint8)
    rows[:, :18] = arr[:, :, ::-1].reshape(4, 18)
    td = _info_bmp(6, -4, 24, 0, rows.tobytes())
    bu = _info_bmp(6, 4, 24, 0, rows[::-1].tobytes())
    np.testing.assert_array_equal(bmpcodec.decode_bmp(td), arr)
    np.testing.assert_array_equal(bmpcodec.decode_bmp(td),
                                  bmpcodec.decode_bmp(bu))


# --------------------------------------------------------------------------
# RLE opcodes, hand-expanded
# --------------------------------------------------------------------------


def test_rle8_all_escape_opcodes():
    # w=6 h=3, bottom-up: run, delta (skipped pixels = index 0),
    # run after delta, EOL, run, EOB
    data = bytes((
        0x02, 0x07,              # x0..1 = 7            (bottom row)
        0x00, 0x02, 0x03, 0x01,  # delta dx=3 dy=1 -> x=5, y=1
        0x01, 0x09,              # x5 = 9               (middle row)
        0x00, 0x00,              # EOL -> y=2
        0x03, 0x04,              # x0..2 = 4            (top row)
        0x00, 0x01,              # EOB
    ))
    raw = _info_bmp(6, 3, 8, 1, data, pal=_gray_pal(16))
    want = np.array([[4, 4, 4, 0, 0, 0],
                     [0, 0, 0, 0, 0, 9],
                     [7, 7, 0, 0, 0, 0]], np.uint8)
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw),
                                  np.stack([want] * 3, axis=-1))
    assert bmpcodec.validate_bmp(raw) == (6, 3)


def test_rle4_runs_and_absolute_mode():
    # w=7 h=2: bottom row = alternating run + 2-run; top row = absolute
    # 4 pixels (word-aligned) + 3-run
    data = bytes((
        0x05, 0x23,              # 2,3,2,3,2
        0x02, 0x40,              # 4,0
        0x00, 0x00,              # EOL
        0x00, 0x04, 0x12, 0x34,  # absolute: 1,2,3,4 (2 bytes, even)
        0x03, 0x50,              # 5,0,5
        0x00, 0x01,              # EOB
    ))
    raw = _info_bmp(7, 2, 4, 2, data, pal=_gray_pal(16))
    want = np.array([[1, 2, 3, 4, 5, 0, 5],
                     [2, 3, 2, 3, 2, 4, 0]], np.uint8)
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw),
                                  np.stack([want] * 3, axis=-1))


def test_rle8_absolute_mode_odd_count_pads():
    data = bytes((
        0x00, 0x03, 0x05, 0x06, 0x07, 0x00,  # absolute 3 px + pad byte
        0x00, 0x01,
    ))
    raw = _info_bmp(3, 1, 8, 1, data, pal=_gray_pal(16))
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp(raw)[0, :, 0], [5, 6, 7])


# --------------------------------------------------------------------------
# ValueError contract
# --------------------------------------------------------------------------


def test_malformed_inputs_raise():
    good = bmpcodec.encode_bmp(np.zeros((4, 4, 3), np.uint8))
    cases = [
        b"BN" + good[2:],                      # bad magic
        good[:-5],                             # truncated pixels
        good[:20],                             # truncated header
        _info_bmp(4, 4, 8, 1, bytes((0xFF, 0x01, 0x00, 0x01)),
                  pal=_gray_pal(4)),           # RLE run overflows width
        _info_bmp(2, 2, 8, 1, bytes((0x01, 0x00,)),
                  pal=_gray_pal(4)),           # RLE without EOB
        _info_bmp(1, -1, 8, 1, b"\x00\x01",
                  pal=_gray_pal(4)),           # top-down RLE
        _info_bmp(1, 1, 16, 3, b"\x00\x00\x00\x00",
                  masks=struct.pack("<III", 0x5000, 0x3E0, 0x1F)),
                                               # non-contiguous mask
        _info_bmp(1, 1, 64, 0, b"\x00" * 8),   # unsupported depth
    ]
    for i, raw in enumerate(cases):
        with pytest.raises(ValueError):
            bmpcodec.decode_bmp(raw)
        with pytest.raises(ValueError):
            bmpcodec.validate_bmp(raw)
    # a sample exceeding the palette is pixel-level, so it passes the
    # structural probe (like JPEG entropy corruption) and the decode
    # raises — the pipeline degrades that bucket to zero blocks
    bad_px = _info_bmp(1, 1, 8, 0, b"\x05\x00\x00\x00", pal=_gray_pal(4))
    assert bmpcodec.validate_bmp(bad_px) == (1, 1)
    with pytest.raises(ValueError, match="palette"):
        bmpcodec.decode_bmp(bad_px)


# --------------------------------------------------------------------------
# dispatch integration
# --------------------------------------------------------------------------


def test_sniff_probe_and_real_media_dispatch():
    arr = _rng(17).integers(0, 256, (6, 8, 3), dtype=np.uint8)
    raw = bmpcodec.encode_bmp(arr)
    assert formats.sniff_kind(raw) == "bmp"
    # 2-byte "BM" alone must NOT sniff as bmp (ASCII false positive)
    assert formats.sniff_kind(b"BMW dealers near me: " + b"x" * 40) \
        == "unknown"
    assert multimodal.probe_real_media(raw, deep=True) == ("image", 1, 8, 6)
    np.testing.assert_array_equal(bmpcodec.decode_bmp(raw), arr)


def test_bmp_media_through_distributed_pipeline(spark):
    from ocr_platform_spark import corpus, schemas
    from ocr_platform_spark.operators import extract, extract_real
    from tests.test_extract_real import (_render_pages, _spans_by_doc,
                                         gray_scanned_pdf)

    docs, media = corpus.generate(12, seed=23, max_pages=3)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    rows = []
    for i, (ref, m) in enumerate(sorted(media.items())):
        kind, pages = _render_pages(m["data"])
        if kind == "image":
            # alternate RLE8-gray and 24-bit encodings — both lossless,
            # so span equality with the flagship is exact
            if i % 2:
                payload = bmpcodec.encode_bmp(pages[0], rle=True)
            else:
                payload = bmpcodec.encode_bmp(
                    np.stack([pages[0]] * 3, axis=-1))
        else:
            payload = gray_scanned_pdf(pages)
        rows.append((ref, bytearray(payload)))
    real = spark.createDataFrame(rows, "media_ref string, data binary")
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, real))
    assert got == expected


# --------------------------------------------------------------------------
# Java ImageIO: foreign-codec ground truth (lossless -> bit-exact)
# --------------------------------------------------------------------------


def _write_pnm(path, arr):
    with open(path, "wb") as f:
        if arr.ndim == 2:
            f.write(b"P5\n%d %d\n255\n" % (arr.shape[1], arr.shape[0]))
        else:
            f.write(b"P6\n%d %d\n255\n" % (arr.shape[1], arr.shape[0]))
        f.write(arr.tobytes())


def _read_pnm(path):
    with open(path, "rb") as f:
        magic = f.readline().strip()
        w, h = map(int, f.readline().split())
        assert f.readline().strip() == b"255"
        data = np.frombuffer(f.read(), np.uint8)
    if magic == b"P6":
        return data.reshape(h, w, 3)
    return data.reshape(h, w)


def test_imageio_bmp_interop_bit_exact(tifftool, tmp_path):
    rgb = _rng(29).integers(0, 256, (21, 33, 3), dtype=np.uint8)
    gray = _rng(31).integers(0, 8, (18, 25), dtype=np.uint8) * 32

    # ImageIO encodes -> we decode
    _write_pnm(tmp_path / "c.ppm", rgb)
    tifftool("encodebmp", tmp_path / "c.ppm", tmp_path / "c.bmp", "BI_RGB")
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp((tmp_path / "c.bmp").read_bytes()), rgb)
    _write_pnm(tmp_path / "g.pgm", gray)
    tifftool("encodebmp", tmp_path / "g.pgm", tmp_path / "g.bmp", "BI_RLE8")
    np.testing.assert_array_equal(
        bmpcodec.decode_bmp((tmp_path / "g.bmp").read_bytes()),
        np.stack([gray] * 3, axis=-1))

    # we encode -> ImageIO decodes
    (tmp_path / "o.bmp").write_bytes(bmpcodec.encode_bmp(rgb))
    tifftool("decodebmp", tmp_path / "o.bmp", tmp_path / "o.ppm")
    np.testing.assert_array_equal(_read_pnm(tmp_path / "o.ppm"), rgb)
    # Java models the identity gray palette as TYPE_BYTE_GRAY: raw
    # raster samples come back as a P5 (see TiffTool decodeBmp note)
    (tmp_path / "r.bmp").write_bytes(bmpcodec.encode_bmp(gray, rle=True))
    tifftool("decodebmp", tmp_path / "r.bmp", tmp_path / "r.ppm")
    np.testing.assert_array_equal(_read_pnm(tmp_path / "r.ppm"), gray)
