"""Minimal pure-stdlib/numpy baseline JPEG codec (ITU-T T.81 subset).

Exists so the real-codec tier table (:data:`ocr_platform_spark.tiers.
TIERS`) can decode a GENUINE JPEG payload in environments
without PIL (VERDICT r3 next-round #2), the way :mod:`pngcodec` already
does for PNG. Coverage:

* **decoder**: baseline sequential DCT (SOF0; SOF1 accepted — same
  entropy coding) AND progressive DCT (SOF2: spectral selection +
  successive approximation, DC/AC first and refinement scans, EOB runs
  — T.81 G.2), 8-bit precision, grayscale (1 component) and YCbCr
  (3 components) with arbitrary sampling factors (4:4:4 / 4:2:2 / 4:2:0),
  restart markers (DRI/RSTn), 8- and 16-bit quantization tables.
  Arithmetic-coded, hierarchical and lossless frames raise
  ``ValueError``.
* **encoder**: baseline 4:4:4 or 4:2:0 with the spec Annex K standard
  Huffman tables; quantization defaults to all-ones tables so round-trips
  are tight (error is FDCT/IDCT float rounding only) — exists for
  round-trip tests and deterministic fixture payloads.

Output semantics match the reference decode path
(``apps/worker/app/tasks/ocr_tasks.py:54-55`` — ``PIL.Image.open(...)
.convert("RGB")``): grayscale is replicated across 3 bands; 3-component
scans are JFIF YCbCr -> RGB (ITU-R BT.601 full-range, the JFIF formula).
Exact-parity caveat vs libjpeg: the IDCT here is float64 (bit-exact
against the textbook cosine sum — pinned by a hand-computed-block test in
tests/test_real_codecs.py), while libjpeg's default "islow" IDCT and
fancy chroma upsampling are integer approximations, so PIL parity is
asserted to +-2 levels, not bit-equality (chroma upsampling here is
nearest/block replication).

This is a correctness codec, not a throughput path: Huffman decode
runs bit-at-a-time Python (same posture as :mod:`pngcodec`).
"""

from __future__ import annotations

import math
import struct

import numpy as np

# zigzag position k -> raster index within the 8x8 block (spec Figure A.6)
ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8-point DCT-II matrix: A[u, x] = a(u) cos((2x+1) u pi / 16)
_A = np.array([
    [
        (math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8))
        * math.cos((2 * x + 1) * u * math.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])

# standard Huffman tables, spec Annex K.3: (bits[1..16], symbol values)
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Spec C.2 canonical code assignment: {(length, code): symbol}."""
    if sum(bits) != len(vals):
        raise ValueError("Huffman table bits/values length mismatch")
    table = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


def _encode_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Inverse mapping for the encoder: {symbol: (length, code)}."""
    return {sym: (ln, code) for (ln, code), sym in _canonical_codes(bits, vals).items()}


def _extend(v: int, s: int) -> int:
    """Sign-extend an s-bit magnitude (spec F.2.2.1 EXTEND)."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 byte unstuffing."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy data truncated")
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed literal 0xFF
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                    if nxt is not None else "JPEG entropy data truncated"
                )
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if not self.nbits:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker (spec F.2.1.3.1);
        0xFF fill bytes before the marker are legal and skipped."""
        self.nbits = 0  # discard pad bits to the byte boundary
        pos = self.pos
        if pos >= len(self.data) or self.data[pos] != 0xFF:
            raise ValueError("expected JPEG restart marker")
        while pos < len(self.data) and self.data[pos] == 0xFF:
            pos += 1
        if pos >= len(self.data):
            raise ValueError("expected JPEG restart marker")
        got = self.data[pos]
        if got != 0xD0 + (n & 7):
            raise ValueError(f"restart marker out of sequence: 0xFF{got:02X}")
        self.pos = pos + 1


def _idct_block(coef: np.ndarray) -> np.ndarray:
    """Dequantized raster-order 8x8 frequency block -> spatial samples."""
    return _A.T @ coef @ _A


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    """JFIF / BT.601 full-range conversion, float64 then round+clip."""
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def cmyk_to_rgb(c: np.ndarray, m: np.ndarray, y: np.ndarray,
                k: np.ndarray) -> np.ndarray:
    """CMYK ink planes (uint8, 0 = no ink) -> HxWx3 uint8 RGB with PIL
    ``convert("RGB")`` integer parity (Convert.c ``cmyk2rgb``): per
    channel ``out = nk - MULDIV255(ink, nk)`` where ``nk = 255 - K`` and
    ``MULDIV255(a, b) = ((t >> 8) + t) >> 8 with t = a*b + 128`` (the
    +128 makes the /255 round-to-nearest). Shared by the JPEG
    4-component assembly and the PDF raw-``DeviceCMYK`` image path."""
    nk = 255 - k.astype(np.int32)

    def _mix(ink):
        t = ink.astype(np.int32) * nk + 128
        return nk - ((t + (t >> 8)) >> 8)

    out = np.stack([_mix(c), _mix(m), _mix(y)], axis=-1)
    return np.clip(out, 0, 255).astype(np.uint8)


def decode_jpeg(raw: bytes, tables: bytes | None = None) -> np.ndarray:
    """JPEG bytes -> HxWx3 uint8 RGB (PIL ``convert("RGB")`` parity).

    ``tables``: an abbreviated tables-only stream (SOI + DQT/DHT/DRI +
    EOI) pre-seeding the decoder — the TIFF compression-7 ``JPEGTables``
    convention, where strips share one table set and carry abbreviated
    image streams.

    Contract: every malformed/truncated/unsupported input raises
    ``ValueError`` (the quarantine path keys on it), never a low-level
    ``struct.error``/``IndexError``."""
    try:
        return _decode_jpeg(raw, tables)
    except (struct.error, IndexError, ArithmeticError) as e:
        # ArithmeticError: belt-and-braces for division by adversarial
        # header fields (sampling factors are range-checked at SOF parse,
        # but the contract must hold even if a path is missed)
        raise ValueError(f"truncated or malformed JPEG: {e}") from e


def _parse_dqt(seg: bytes, qt: dict) -> None:
    i = 0
    while i < len(seg):
        pq, tq = seg[i] >> 4, seg[i] & 15
        i += 1
        if pq:
            vals = np.frombuffer(seg[i:i + 128], ">u2").astype(np.int64)
            i += 128
        else:
            vals = np.frombuffer(seg[i:i + 64], np.uint8).astype(np.int64)
            i += 64
        qt[tq] = vals  # zigzag order


def _parse_dht(seg: bytes, huff: dict) -> None:
    i = 0
    while i < len(seg):
        tc, th = seg[i] >> 4, seg[i] & 15
        bits = list(seg[i + 1:i + 17])
        n = sum(bits)
        vals = list(seg[i + 17:i + 17 + n])
        huff[(tc, th)] = _canonical_codes(bits, vals)
        i += 17 + n


def _parse_tables(raw: bytes):
    """Abbreviated tables-only stream (TIFF ``JPEGTables``): SOI +
    DQT/DHT/DRI segments + EOI -> ``(qt, huff, restart_interval)``.
    Frame or scan markers here are malformed."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("JPEGTables: bad SOI")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    dri = 0
    pos = 2
    while pos + 2 <= len(raw):
        while pos < len(raw) and raw[pos] == 0xFF:
            pos += 1
        if pos >= len(raw):
            break
        marker = raw[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            return qt, huff, dri
        if pos + 2 > len(raw):
            break
        (seglen,) = struct.unpack(">H", raw[pos:pos + 2])
        if seglen < 2 or pos + seglen > len(raw):
            raise ValueError("JPEGTables segment length out of bounds")
        seg = raw[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:
            _parse_dqt(seg, qt)
        elif marker == 0xC4:
            _parse_dht(seg, huff)
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", seg[:2])
        else:
            raise ValueError(
                f"JPEGTables stream carries marker 0xFF{marker:02X}"
            )
    raise ValueError("JPEGTables stream missing EOI")


def _decode_jpeg(raw: bytes, tables: bytes | None = None) -> np.ndarray:
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    restart_interval = 0
    if tables is not None:
        qt, huff, restart_interval = _parse_tables(tables)
    frame = None  # (h, w, [(comp_id, hs, vs, tq)])
    adobe = None  # APP14 color-transform byte, when present
    progressive = False
    coefs: dict[int, np.ndarray] = {}  # cid -> (by, bx, 64) zigzag coefs
    scans = 0
    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"bad marker byte at {pos}")
        # T.81 B.1.1.2: any marker may be preceded by any number of 0xFF
        # fill bytes — the marker id is the first non-FF byte of the run.
        while pos < len(raw) and raw[pos] == 0xFF:
            pos += 1
        if pos >= len(raw):
            break
        marker = raw[pos]
        pos += 1
        if marker == 0x00:
            raise ValueError("invalid JPEG marker 0xFF00 outside entropy data")
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        if marker == 0xD9:  # EOI
            if progressive and scans:
                return _finish_progressive(frame, coefs, qt, adobe)
            break
        if pos + 2 > len(raw):
            break
        (seglen,) = struct.unpack(">H", raw[pos:pos + 2])
        if seglen < 2 or pos + seglen > len(raw):
            raise ValueError(
                f"JPEG segment 0xFF{marker:02X} length {seglen} out of bounds"
            )
        seg = raw[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qt)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog.
            if frame is not None:
                raise ValueError("multiple JPEG frame headers")
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for c in range(nc):
                cid, hv, tqi = seg[6 + 3 * c:9 + 3 * c]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 4 and 1 <= vs <= 4):  # T.81 B.2.2
                    raise ValueError(
                        f"JPEG sampling factor {hs}x{vs} outside 1..4"
                    )
                comps.append((cid, hs, vs, tqi))
            frame = (h, w, comps)
            if marker == 0xC2:
                progressive = True
                # coefficients accumulate across scans on the padded
                # frame MCU grid (interleaved-DC indexing needs the pad)
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcux = (w + 8 * hmax - 1) // (8 * hmax)
                mcuy = (h + 8 * vmax - 1) // (8 * vmax)
                if mcux * mcuy * 64 * sum(
                        c[1] * c[2] for c in comps) > (1 << 28):
                    raise ValueError("JPEG coefficient store exceeds cap")
                for cid, hs, vs, _tqi in comps:
                    coefs[cid] = np.zeros(
                        (mcuy * vs, mcux * hs, 64), np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC8,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type 0xFF{marker:02X} "
                "(baseline sequential and progressive Huffman only)"
            )
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, huff)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            adobe = seg[11]  # 0=RGB/unknown, 1=YCbCr, 2=YCCK
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not progressive:
                return _decode_scan(raw, pos, seg, frame, qt, huff,
                                    restart_interval, adobe)
            pos = _decode_progressive_scan(raw, pos, seg, frame, coefs,
                                           huff, restart_interval)
            scans += 1
        # APPn / COM / others: skipped
    raise ValueError("JPEG has no SOS scan" if not scans
                     else "progressive JPEG missing EOI")


def _decode_scan(raw, pos, seg, frame, qt, huff, restart_interval,
                 adobe=None):
    h, w, comps = frame
    ns = seg[0]
    scan_tables = {}
    for i in range(ns):
        cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
        scan_tables[cid] = (tt >> 4, tt & 15)
    if {cid for cid, *_ in comps} != set(scan_tables):
        raise ValueError("JPEG scan does not cover the frame components "
                         "(multi-scan files unsupported by the stdlib seam)")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = {}
    for cid, hs, vs, tqi in comps:
        if hmax % hs or vmax % vs:
            raise ValueError(
                f"unsupported JPEG sampling ratio {hs}x{vs} "
                f"vs max {hmax}x{vmax} (non-divisor upsampling)"
            )
        planes[cid] = np.zeros((mcuy * 8 * vs, mcux * 8 * hs))
        if tqi not in qt:
            raise ValueError(f"JPEG missing quantization table {tqi}")
    reader = _BitReader(raw, pos)
    pred = {cid: 0 for cid, *_ in comps}

    def read_block(cid: int, tqi: int, y0: int, x0: int) -> None:
        dc_t = huff.get((0, scan_tables[cid][0]))
        ac_t = huff.get((1, scan_tables[cid][1]))
        if dc_t is None or ac_t is None:
            raise ValueError("JPEG missing Huffman table for scan")
        coef = np.zeros(64, np.int64)
        t = reader.decode_huff(dc_t)
        pred[cid] += _extend(reader.receive(t), t)
        coef[0] = pred[cid]
        k = 1
        while k < 64:
            rs = reader.decode_huff(ac_t)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            coef[k] = _extend(reader.receive(s), s)
            k += 1
        block = np.zeros(64)
        block[ZIGZAG] = coef * qt[tqi]
        planes[cid][y0:y0 + 8, x0:x0 + 8] = (
            _idct_block(block.reshape(8, 8)) + 128.0
        )

    def maybe_restart(unit_count: int) -> None:
        if restart_interval and unit_count and unit_count % restart_interval == 0:
            reader.sync_restart(unit_count // restart_interval - 1)
            for c in pred:
                pred[c] = 0

    if ns == 1:
        # Non-interleaved scan (T.81 A.2.2): one 8x8 data unit per MCU,
        # raster order over the COMPONENT's own block grid; the declared
        # sampling factors set the component's dimensions relative to the
        # frame but do NOT interleave blocks (fixes grayscale files that
        # keep color-default 2x2 luma factors).
        cid = seg[1]
        hs, vs, tqi = next(
            (h_, v_, t_) for c, h_, v_, t_ in comps if c == cid
        )
        comp_w = -(-w * hs // hmax)
        comp_h = -(-h * vs // vmax)
        bx_n = -(-comp_w // 8)
        by_n = -(-comp_h // 8)
        for bi in range(by_n * bx_n):
            maybe_restart(bi)
            by, bx = divmod(bi, bx_n)
            read_block(cid, tqi, by * 8, bx * 8)
    else:
        mcu_count = 0
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart(mcu_count)
                for cid, hs, vs, tqi in comps:
                    for by in range(vs):
                        for bx in range(hs):
                            read_block(
                                cid, tqi,
                                (my * vs + by) * 8, (mx * hs + bx) * 8,
                            )
                mcu_count += 1
    return _assemble(comps, planes, hmax, vmax, h, w, adobe)


def _is_rgb_coded(comps, adobe) -> bool:
    """Whether a 3-component scan stores RGB directly (no YCbCr
    transform): Adobe APP14 transform byte wins when present (0 = RGB,
    1 = YCbCr; libjpeg convention, what PIL honors); without it,
    component IDs 'R','G','B' mark RGB-coded files, anything else is
    YCbCr (the JFIF default). Keeps rare RGB-coded JPEGs from silently
    decoding with swapped colors."""
    if adobe is not None:
        if adobe == 1:
            return False
        if adobe == 0:
            return True
        raise ValueError(
            f"Adobe APP14 transform {adobe} unsupported for "
            "3-component scans"
        )
    return [c[0] for c in comps] == [0x52, 0x47, 0x42]  # 'R','G','B'


def _assemble(comps, planes, hmax, vmax, h, w, adobe=None) -> np.ndarray:
    """Component planes -> HxWx3 RGB: upsample to full resolution
    (block replication), crop to (h, w), color-convert."""
    full = []
    for cid, hs, vs, _tqi in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:  # grayscale -> replicate (convert("RGB") semantics)
        g = np.clip(np.rint(full[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(full) == 3:
        if _is_rgb_coded(comps, adobe):
            out = np.stack(full, axis=-1)
            return np.clip(np.rint(out), 0, 255).astype(np.uint8)
        return _ycbcr_to_rgb(*full)
    if len(full) == 4:
        # 4-component CMYK family (print-origin JPEGs). Adobe APP14
        # transform byte: 2 = YCCK (YCbCr-coded inverted CMY + inverted
        # K — what Photoshop/Distiller emit), 0 = CMYK stored directly.
        # Adobe writers store INVERTED ink values; PIL undoes that via
        # the "CMYK;I" rawmode, which JpegImagePlugin sets
        # UNCONDITIONALLY for 4-layer frames ("assume adobe
        # conventions") — so a marker-free 4-component file inverts
        # exactly like an APP14 transform-0 file, and this decoder must
        # match or it renders color negatives of what PIL shows.
        # libjpeg's YCCK->CMYK (jdcolor.c) clamps the YCC conversion
        # BEFORE the inversion, which _ycbcr_to_rgb's round+clip
        # mirrors.
        if adobe == 2:
            rgbish = _ycbcr_to_rgb(full[0], full[1], full[2])
            c, m, y = rgbish[..., 0], rgbish[..., 1], rgbish[..., 2]
            k = 255 - np.clip(np.rint(full[3]), 0, 255).astype(np.uint8)
        elif adobe in (None, 0):
            c, m, y, k = [
                255 - np.clip(np.rint(p), 0, 255).astype(np.uint8)
                for p in full
            ]
        else:
            raise ValueError(
                f"Adobe APP14 transform {adobe} unsupported for "
                "4-component scans"
            )
        return cmyk_to_rgb(c, m, y, k)
    raise ValueError(f"unsupported JPEG component count {len(full)}")


def _decode_progressive_scan(raw, pos, seg, frame, coefs, huff,
                             restart_interval) -> int:
    """One progressive SOS (T.81 G.2): mutates the per-component zigzag
    coefficient store and returns the stream position after the scan's
    entropy data (the next marker's 0xFF). Four scan kinds: DC first /
    DC refinement (interleaved or single-component), AC first / AC
    refinement (single-component only, per spec). EOB-run and
    successive-approximation semantics follow T.81 section G.1.2 (the
    same control flow libjpeg's jdphuff.c implements)."""
    h, w, comps = frame
    cmap = {c[0]: c for c in comps}
    ns = seg[0]
    if len(seg) < 4 + 2 * ns:
        raise ValueError("JPEG SOS header truncated")
    scan_comps = []
    for i in range(ns):
        cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
        if cid not in cmap:
            raise ValueError(f"JPEG scan references unknown component {cid}")
        scan_comps.append((cid, tt >> 4, tt & 15))
    ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    if ss > se or se > 63 or al > 13 or ah > 14:
        raise ValueError(f"JPEG bad spectral selection {ss}..{se}/{ah}.{al}")
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    reader = _BitReader(raw, pos)
    pred = {cid: 0 for cid, _td, _ta in scan_comps}
    eobrun = 0
    restarts = 0

    def table(tc, th):
        t = huff.get((tc, th))
        if t is None:
            raise ValueError("JPEG missing Huffman table for scan")
        return t

    def dc_first(cid, td, blk):
        t = reader.decode_huff(table(0, td))
        pred[cid] += _extend(reader.receive(t), t)
        blk[0] = pred[cid] << al

    def dc_refine(blk):
        if reader.read_bit():
            blk[0] |= 1 << al

    def ac_first(ta, blk):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        t = table(1, ta)
        k = ss
        while k <= se:
            rs = reader.decode_huff(t)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += r
            if k > se:
                raise ValueError("JPEG AC run past band end")
            blk[k] = _extend(reader.receive(s), s) << al
            k += 1

    def ac_refine(ta, blk):
        nonlocal eobrun
        p1 = 1 << al
        m1 = -p1
        k = ss
        if eobrun == 0:
            t = table(1, ta)
            while k <= se:
                rs = reader.decode_huff(t)
                r, s = rs >> 4, rs & 15
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError(
                            "invalid JPEG AC refinement magnitude"
                        )
                    newval = p1 if reader.read_bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # advance over the band: nonzero-history coefficients
                # take correction bits; r zero-history ones are skipped
                while k <= se:
                    c = blk[k]
                    if c:
                        if reader.read_bit() and not (c & p1):
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    blk[k] = newval
                k += 1
        if eobrun:
            # end-of-band: the rest of this block still carries
            # correction bits for nonzero-history coefficients
            while k <= se:
                c = blk[k]
                if c and reader.read_bit() and not (c & p1):
                    blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1

    def decode_block(cid, td, ta, by, bx):
        blk = coefs[cid][by, bx]
        if ss == 0:
            if ah == 0:
                dc_first(cid, td, blk)
            else:
                dc_refine(blk)
        else:
            if ah == 0:
                ac_first(ta, blk)
            else:
                ac_refine(ta, blk)

    def maybe_restart(unit):
        nonlocal eobrun, restarts
        if restart_interval and unit and unit % restart_interval == 0:
            reader.sync_restart(restarts & 7)
            restarts += 1
            eobrun = 0
            for c in pred:
                pred[c] = 0

    if ns == 1:
        # non-interleaved: raster order over the component's OWN grid
        cid, td, ta = scan_comps[0]
        _c, hs, vs, _tqi = cmap[cid]
        bx_n = -(-(-(-w * hs // hmax)) // 8)
        by_n = -(-(-(-h * vs // vmax)) // 8)
        for bi in range(by_n * bx_n):
            maybe_restart(bi)
            by, bx = divmod(bi, bx_n)
            decode_block(cid, td, ta, by, bx)
    else:
        for mcu in range(mcuy * mcux):
            maybe_restart(mcu)
            my, mx = divmod(mcu, mcux)
            for cid, td, ta in scan_comps:
                _c, hs, vs, _tqi = cmap[cid]
                for by in range(vs):
                    for bx in range(hs):
                        decode_block(cid, td, ta,
                                     my * vs + by, mx * hs + bx)
    reader.nbits = 0  # drop pad bits; next marker follows
    return reader.pos


def _finish_progressive(frame, coefs, qt, adobe=None) -> np.ndarray:
    """Accumulated zigzag coefficients -> dequantize + IDCT (vectorized
    over all blocks) -> planes -> RGB via the shared assembly."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = {}
    for cid, hs, vs, tqi in comps:
        if tqi not in qt:
            raise ValueError(f"JPEG missing quantization table {tqi}")
        grid = coefs[cid]
        by_n, bx_n, _ = grid.shape
        deq = grid.reshape(-1, 64).astype(np.float64) * qt[tqi]
        nat = np.zeros_like(deq)
        nat[:, ZIGZAG] = deq
        blocks = nat.reshape(-1, 8, 8)
        spatial = np.einsum("ij,njk,kl->nil", _A.T, blocks, _A) + 128.0
        planes[cid] = (
            spatial.reshape(by_n, bx_n, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by_n * 8, bx_n * 8)
        )
    return _assemble(comps, planes, hmax, vmax, h, w, adobe)


# --------------------------------------------------------------------------
# encoder (baseline, standard Annex K Huffman tables)
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.buf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.buf = (self.buf << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.buf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.buf &= (1 << self.nbits) - 1

    def pad(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _csize(v: int) -> int:
    """Magnitude category (bit length of |v|)."""
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(wtr, coef, pred, dc_codes, ac_codes):
    """One quantized zigzag-order block; returns the new DC predictor."""
    diff = int(coef[0]) - pred
    s = _csize(diff)
    ln, code = dc_codes[s]
    wtr.write(code, ln)
    if s:
        wtr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(coef[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_codes[0xF0]  # ZRL
            wtr.write(code, ln)
            run -= 16
        s = _csize(v)
        ln, code = ac_codes[(run << 4) | s]
        wtr.write(code, ln)
        wtr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        ln, code = ac_codes[0x00]  # EOB
        wtr.write(code, ln)
    return int(coef[0])


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Pad-to-8 (edge replicate), FDCT, quantize; returns blocks
    [by, bx, 64] in zigzag order."""
    h, w = plane.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge").astype(np.float64) - 128.0
    by, bx = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
    freq = np.einsum("ux,byxz,vz->byuv", _A, blocks, _A)
    zz = freq.reshape(by, bx, 64)[:, :, ZIGZAG]
    return np.rint(zz / q).astype(np.int64)


def _dht_segment(tc: int, th: int, table) -> bytes:
    bits, vals = table
    body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _rgb_to_ycc(r, g, b):
    """Forward JFIF / BT.601 full-range transform, float64 planes."""
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def encode_jpeg(
    arr: np.ndarray,
    luma_quant: np.ndarray | None = None,
    chroma_quant: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
    cmyk_transform: int = 2,
) -> bytes:
    """HxWx3 uint8 RGB -> baseline JFIF JPEG bytes, or HxWx4 uint8 CMYK
    (ink convention, 0 = no ink — PIL ``mode="CMYK"``) -> baseline Adobe
    CMYK JPEG bytes.

    Quantization tables are zigzag-order length-64 int arrays; the default
    (all ones) makes round-trips exact up to FDCT/IDCT float rounding.
    ``subsampling``: "444" (every component full-res) or "420" (chroma box
    2x2-averaged — exercises the decoder's multi-block MCU path).

    ``cmyk_transform`` (4-channel input only): 2 writes YCCK (inverted
    CMY through the YCbCr transform + inverted K, the Photoshop/Distiller
    shape; Cb/Cr subsample, K rides full-res like Y), 0 writes the four
    inverted ink planes directly (4:4:4 only). Both emit the Adobe APP14
    marker, so third-party decoders (libjpeg readers, Java ImageIO
    ``readRaster``) see a conventional print-origin stream."""
    if arr.ndim != 3 or arr.shape[2] not in (3, 4) or arr.dtype != np.uint8:
        raise ValueError("encode_jpeg expects HxWx3 RGB or HxWx4 CMYK uint8")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    is_cmyk = arr.shape[2] == 4
    if is_cmyk and cmyk_transform not in (0, 2):
        raise ValueError(
            f"cmyk_transform must be 0 (CMYK) or 2 (YCCK), got {cmyk_transform}"
        )
    if is_cmyk and cmyk_transform == 0 and subsampling != "444":
        raise ValueError("CMYK transform 0 supports 4:4:4 only")
    ql = np.ones(64, np.int64) if luma_quant is None else np.asarray(luma_quant, np.int64)
    qc = np.ones(64, np.int64) if chroma_quant is None else np.asarray(chroma_quant, np.int64)
    h, w = arr.shape[:2]
    sub = 2 if subsampling == "420" else 1
    ph, pw = -h % 2, -w % 2

    def _half(p):
        p = np.pad(p, ((0, ph), (0, pw)), mode="edge")
        return (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0

    dc_l, ac_l = _encode_codes(*_STD_DC_LUMA), _encode_codes(*_STD_AC_LUMA)
    dc_c, ac_c = _encode_codes(*_STD_DC_CHROMA), _encode_codes(*_STD_AC_CHROMA)
    px = arr.astype(np.float64)

    # component spec: (cid, hs, vs, tq, plane, dc_codes, ac_codes)
    if not is_cmyk:
        y, cb, cr = _rgb_to_ycc(px[:, :, 0], px[:, :, 1], px[:, :, 2])
        if sub == 2:
            cb, cr = _half(cb), _half(cr)
        spec = [(1, sub, sub, 0, y, dc_l, ac_l),
                (2, 1, 1, 1, cb, dc_c, ac_c),
                (3, 1, 1, 1, cr, dc_c, ac_c)]
    elif cmyk_transform == 2:
        # stored YCCK: the decoder's inverse is cmy = ycc2rgb(stored),
        # k = 255 - stored K — so the forward path feeds the ink CMY
        # planes straight through the RGB->YCC matrix
        y, cb, cr = _rgb_to_ycc(px[:, :, 0], px[:, :, 1], px[:, :, 2])
        kst = 255.0 - px[:, :, 3]
        if sub == 2:
            cb, cr = _half(cb), _half(cr)
        spec = [(1, sub, sub, 0, y, dc_l, ac_l),
                (2, 1, 1, 1, cb, dc_c, ac_c),
                (3, 1, 1, 1, cr, dc_c, ac_c),
                (4, sub, sub, 0, kst, dc_l, ac_l)]
    else:  # transform 0: the four inverted ink planes, stored directly
        spec = [(cid, 1, 1, 0, 255.0 - px[:, :, cid - 1], dc_l, ac_l)
                for cid in (1, 2, 3, 4)]

    hmax = max(s[1] for s in spec)
    vmax = max(s[2] for s in spec)
    blocks = {s[0]: _fdct_quant(s[4], ql if s[3] == 0 else qc) for s in spec}
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    wtr = _BitWriter()
    pred = {s[0]: 0 for s in spec}
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.pad()
                wtr.out += bytes([0xFF, 0xD0 + (rst & 7)])
                rst += 1
                pred = {s[0]: 0 for s in spec}
            for cid, hs, vs, _tq, _p, dc, ac in spec:
                bl = blocks[cid]
                for by in range(vs):
                    for bx in range(hs):
                        blk_y, blk_x = my * vs + by, mx * hs + bx
                        if blk_y < bl.shape[0] and blk_x < bl.shape[1]:
                            blk = bl[blk_y, blk_x]
                        else:  # MCU padding beyond the padded plane
                            blk = np.zeros(64, np.int64)
                            blk[0] = pred[cid]
                        pred[cid] = _encode_block(wtr, blk, pred[cid], dc, ac)
            mcu_count += 1
    wtr.pad()

    def _dqt(tq, q):
        if (q < 1).any() or (q > 255).any():
            raise ValueError("8-bit DQT values must be in 1..255")
        body = bytes([tq]) + bytes(int(v) for v in q)
        return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body

    sof_body = struct.pack(">BHHB", 8, h, w, len(spec)) + b"".join(
        bytes([cid, (hs << 4) | vs, tq]) for cid, hs, vs, tq, *_ in spec
    )
    sos_body = bytes([len(spec)]) + b"".join(
        bytes([cid, 0x00 if tq == 0 else 0x11]) for cid, _hs, _vs, tq, *_ in spec
    ) + bytes([0, 63, 0])
    out = bytearray(b"\xff\xd8")
    if is_cmyk:
        # JFIF APP0 is defined for 1/3-component streams only; CMYK files
        # carry the Adobe APP14 marker instead (tag + version 100 +
        # flags0/flags1 zero + the color-transform byte)
        out += (b"\xff\xee" + struct.pack(">H", 14) + b"Adobe"
                + struct.pack(">HHHB", 100, 0, 0, cmyk_transform))
    else:
        out += (b"\xff\xe0" + struct.pack(">H", 16)
                + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _dqt(0, ql) + _dqt(1, qc)
    out += b"\xff\xc0" + struct.pack(">H", len(sof_body) + 2) + sof_body
    out += _dht_segment(0, 0, _STD_DC_LUMA) + _dht_segment(1, 0, _STD_AC_LUMA)
    out += _dht_segment(0, 1, _STD_DC_CHROMA) + _dht_segment(1, 1, _STD_AC_CHROMA)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", len(sos_body) + 2) + sos_body
    out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


def validate_jpeg(raw: bytes) -> tuple[int, int]:
    """Structural pre-flight WITHOUT Huffman decoding: marker/segment
    bounds, baseline SOF presence with in-range dimensions and sampling
    factors, SOS presence, trailing EOI. Returns ``(w, h)``.

    The distributed-OCR probe calls this so truncated or structurally
    broken JPEGs quarantine at probe time; corruption confined to the
    entropy-coded bits can still pass here (there is no stored checksum
    in JFIF) and surfaces at decode instead."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    dims = None
    saw_sos = False
    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError(f"bad marker byte at {pos}")
        while pos < len(raw) and raw[pos] == 0xFF:
            pos += 1
        if pos >= len(raw):
            break
        marker = raw[pos]
        pos += 1
        if marker == 0x00:
            raise ValueError("invalid JPEG marker 0xFF00 outside entropy data")
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        if marker == 0xD9:
            break
        if pos + 2 > len(raw):
            raise ValueError("JPEG truncated inside a marker segment")
        (seglen,) = struct.unpack(">H", raw[pos:pos + 2])
        if seglen < 2 or pos + seglen > len(raw):
            raise ValueError(
                f"JPEG segment 0xFF{marker:02X} length {seglen} out of bounds"
            )
        seg = raw[pos + 2:pos + seglen]
        pos += seglen
        if marker in (0xC0, 0xC1, 0xC2):
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                raise ValueError(
                    "JPEG SOF segment shorter than its component table")
            prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            if w <= 0 or h <= 0 or w * h > (1 << 28):
                raise ValueError(f"JPEG dimensions {w}x{h} out of range")
            for c in range(nc):
                hv = seg[7 + 3 * c]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 15 <= 4):
                    raise ValueError("JPEG sampling factor outside 1..4")
            dims = (w, h)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC8,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type 0xFF{marker:02X} "
                "(baseline sequential and progressive Huffman only)"
            )
        elif marker == 0xDA:
            saw_sos = True
            break  # entropy-coded data follows; checked via trailing EOI
    if dims is None:
        raise ValueError("JPEG missing baseline SOF before SOS")
    if not saw_sos:
        raise ValueError("JPEG missing SOS")
    if raw.rstrip(b"\x00")[-2:] != b"\xff\xd9":
        raise ValueError("JPEG missing trailing EOI (truncated)")
    return dims
