"""Pure-stdlib GIF codec for web-corpus media payloads.

GIF is the third most common legacy raster format on the interleaved
web (after JPEG/PNG) — scanned forms, diagrams, and one-frame "images
of text" all ship as palettized GIFs. The reference decodes them
through PIL's ``Image.open`` like any other image
(``apps/worker/app/tasks/ocr_tasks.py:54-55``); this module gives
:data:`tiers.TIERS` a dependency-free GIF branch with
the same ValueError quarantine contract as :mod:`pngcodec` /
:mod:`jpegcodec` / :mod:`tiffcodec`.

GIF's LZW is the LSB-first cousin of the TIFF/PDF variant in
:mod:`compression` (variable root size from the palette depth, codes
packed little-endian-bitwise into 255-byte sub-blocks, width bump at
table size ``2^width`` with NO early change, and "deferred clear":
a full 4096-entry table keeps emitting existing codes until the
encoder bothers to reset). Both directions live here because neither
the bit order nor the alphabet parameterization is shared with the
MSB codec.

Supported subset (document imagery; anything else raises — never a
silent wrong raster):

* GIF87a and GIF89a, global or per-frame local palettes, interlaced
  and sequential frames;
* multi-frame streams ONLY when every frame covers the full logical
  screen — each frame then decodes as an independent page, exactly the
  multi-page TIFF model. Transparency is honored on the FIRST frame
  (its transparent pixels composite over the spec-defined initial
  canvas, the background color); animated GIFs with partial-frame
  composition or transparency on later frames require the
  previous-canvas state, and refusing them loudly beats compositing
  them wrong (the OCR kernels would read ghosted text);
* Plain Text / Application / Comment extensions are skipped by the
  sub-block grammar; a missing trailer or a broken sub-block chain
  quarantines (truncated payload).

:func:`probe_gif` walks the block structure WITHOUT inflating any LZW
data (the metadata-probe analog of ``pdfcodec.probe_dims``); entropy
corruption past the probe degrades at the OCR stage like every other
codec. :func:`encode_gif` is the fixture-grade encoder so round-trip
tests and the Java-ImageIO interop pins need no external library, and
:func:`slice_pages` copies selected frames' blocks VERBATIM for the
distributed page-bucket explode.
"""

from __future__ import annotations

import numpy as np

from .pdfcodec import MAX_PIXELS, rgb_to_gray

_MAX_FRAMES = 10_000


def _strict_valueerror(fn):
    """Adversarial bytes must surface as ValueError (quarantine), never
    an IndexError/struct.error/OverflowError leaking from the parser."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ValueError:
            raise
        except MemoryError:
            raise
        except Exception as e:
            raise ValueError(f"malformed GIF: {type(e).__name__}: {e}") from e

    return wrapper


# --------------------------------------------------------------------------
# GIF-flavor LZW (LSB-first, palette-depth roots, deferred clear)
# --------------------------------------------------------------------------


def lzw_decode_gif(data: bytes, mcs: int, expected: int) -> bytes:
    """LZW-decode one frame's concatenated sub-block payload into
    exactly ``expected`` palette indices.

    ``mcs`` is the stream's "LZW minimum code size" (2..8): roots are
    ``0 .. 2^mcs - 1``, Clear is ``2^mcs``, End is ``2^mcs + 1``, and
    the first code width is ``mcs + 1``. Codes pack LSB-first (the
    first code occupies the LOW bits of byte 0 — the opposite of
    TIFF/PDF LZW). Width bumps when the table reaches ``2^width``
    (capped at 12); at 4096 entries the table freezes and existing
    codes remain decodable until a Clear ("deferred clear").
    """
    if not 2 <= mcs <= 8:
        raise ValueError(f"GIF LZW minimum code size {mcs} outside 2..8")
    clear = 1 << mcs
    end = clear + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    width = mcs + 1
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = 0
    pos, n = 0, len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("GIF LZW stream ended before End code")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(roots)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                raise ValueError(
                    f"GIF LZW first code {code} is not a root literal"
                )
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError(
                    f"GIF LZW code {code} past table size {len(table)}"
                )
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out += entry
        if len(out) > expected:
            raise ValueError(
                f"GIF LZW output exceeds frame size {expected}"
            )
        prev = entry
    if len(out) != expected:
        raise ValueError(
            f"GIF LZW decoded {len(out)} indices, frame needs {expected}"
        )
    return bytes(out)


def lzw_encode_gif(indices: bytes, mcs: int) -> bytes:
    """Fixture-grade GIF-LZW encoder (greedy longest-match, Clear at
    table capacity), byte-exact decodable by :func:`lzw_decode_gif` and
    Java ImageIO's GIF plugin. Same decoder-lockstep width schedule as
    ``compression.encode_lzw``: the decoder learns each entry one code
    later, so the bump tests ``nxt - 1``."""
    if not 2 <= mcs <= 8:
        raise ValueError(f"GIF LZW minimum code size {mcs} outside 2..8")
    clear = 1 << mcs
    end = clear + 1
    bits: list[tuple[int, int]] = []
    width = mcs + 1
    bits.append((clear, width))

    def _reset() -> tuple[dict[bytes, int], int]:
        return {bytes([i]): i for i in range(clear)}, clear + 2

    table, nxt = _reset()
    w = b""
    for i in range(len(indices)):
        c = indices[i:i + 1]
        if c[0] >= clear:
            raise ValueError(
                f"palette index {c[0]} outside LZW root range {clear}"
            )
        if w + c in table:
            w += c
            continue
        bits.append((table[w], width))
        table[w + c] = nxt
        nxt += 1
        if nxt - 1 == (1 << width):
            if width < 12:
                width += 1
            else:
                bits.append((clear, width))
                table, nxt = _reset()
                width = mcs + 1
        w = c
    if w:
        bits.append((table[w], width))
        nxt += 1
        if nxt - 1 == (1 << width) and width < 12:
            width += 1
    bits.append((end, width))
    out = bytearray()
    acc = nbits = 0
    for code, cw in bits:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# --------------------------------------------------------------------------
# container parsing
# --------------------------------------------------------------------------


def _u16(raw: bytes, pos: int) -> int:
    return raw[pos] | (raw[pos + 1] << 8)


def _skip_subblocks(raw: bytes, pos: int) -> int:
    """Advance past a sub-block chain (terminated by a 0 length byte)."""
    n = len(raw)
    while True:
        if pos >= n:
            raise ValueError("GIF sub-block chain truncated")
        ln = raw[pos]
        pos += 1
        if ln == 0:
            return pos
        if pos + ln > n:
            raise ValueError("GIF sub-block runs past end of payload")
        pos += ln


def _parse(raw: bytes, want_data: bool) -> tuple[int, int, list[dict]]:
    """Walk the whole block grammar: ``(W, H, frames)``.

    Each frame dict carries the descriptor fields plus (when
    ``want_data``) the concatenated LZW payload; the structural
    contract (full-screen frames, no transparency, valid palettes,
    trailer present) is enforced here so probe and decode agree."""
    if raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad signature")
    if len(raw) < 13:
        raise ValueError("GIF truncated inside logical screen descriptor")
    width, height = _u16(raw, 6), _u16(raw, 8)
    packed = raw[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n_ent = 2 << (packed & 0x07)
        if pos + 3 * n_ent > len(raw):
            raise ValueError("GIF truncated inside global color table")
        gct = raw[pos:pos + 3 * n_ent]
        pos += 3 * n_ent
    if width == 0 or height == 0:
        raise ValueError("GIF logical screen has zero dimension")
    if width * height > MAX_PIXELS:
        raise ValueError(
            f"GIF {width}x{height} exceeds pixel cap {MAX_PIXELS}"
        )
    frames: list[dict] = []
    transparent_idx: "int | None" = None
    n = len(raw)
    while True:
        if pos >= n:
            raise ValueError("GIF truncated: no trailer")
        block = raw[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= n:
                raise ValueError("GIF extension truncated")
            label = raw[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                if pos + 6 > n or raw[pos] != 4:
                    raise ValueError("malformed GIF graphic control block")
                transparent_idx = (raw[pos + 4]
                                   if raw[pos + 1] & 0x01 else None)
                pos = _skip_subblocks(raw, pos)
            else:
                pos = _skip_subblocks(raw, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{block:02x}")
        introducer = pos - 1
        if pos + 9 > n:
            raise ValueError("GIF image descriptor truncated")
        left, top = _u16(raw, pos), _u16(raw, pos + 2)
        fw, fh = _u16(raw, pos + 4), _u16(raw, pos + 6)
        fpacked = raw[pos + 8]
        pos += 9
        lct = None
        if fpacked & 0x80:
            n_ent = 2 << (fpacked & 0x07)
            if pos + 3 * n_ent > n:
                raise ValueError("GIF truncated inside local color table")
            lct = raw[pos:pos + 3 * n_ent]
            pos += 3 * n_ent
        if (left, top, fw, fh) != (0, 0, width, height):
            raise ValueError(
                "partial-frame GIF composition unsupported (frame "
                f"{fw}x{fh}@{left},{top} vs screen {width}x{height})"
            )
        if transparent_idx is not None and frames:
            # frame 0's transparent pixels composite over the spec-
            # defined initial canvas (the background color) — decodable
            # standalone; LATER frames composite over prior frames per
            # their disposal method, which needs previous-canvas state
            raise ValueError(
                "transparent GIF frames after the first unsupported "
                "(compositing requires previous-canvas state)"
            )
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF frame has neither local nor global "
                             "color table")
        if pos >= n:
            raise ValueError("GIF truncated before LZW minimum code size")
        mcs = raw[pos]
        pos += 1
        # structural header field, checked HERE so probe and decode
        # agree — an out-of-range mcs must quarantine at probe time,
        # not degrade to zero blocks at the OCR stage
        if not 2 <= mcs <= 8:
            raise ValueError(
                f"GIF LZW minimum code size {mcs} outside 2..8"
            )
        data_start = pos
        pos = _skip_subblocks(raw, pos)
        frame = {
            "interlace": bool(fpacked & 0x40),
            "palette": palette,
            "mcs": mcs,
            "transparent": transparent_idx,
            # verbatim byte span of the whole image block (0x2C
            # introducer through the sub-block terminator) for slicing
            "span": (introducer, pos),
        }
        if want_data:
            # concatenate the sub-block payloads for the LZW decoder
            buf = bytearray()
            p = data_start
            while raw[p] != 0:
                ln = raw[p]
                buf += raw[p + 1:p + 1 + ln]
                p += 1 + ln
            frame["data"] = bytes(buf)
        frames.append(frame)
        transparent_idx = None  # a GCE governs only the NEXT image
        if len(frames) > _MAX_FRAMES:
            raise ValueError(f"GIF exceeds frame cap {_MAX_FRAMES}")
    if not frames:
        raise ValueError("GIF contains no image frames")
    return width, height, frames


#: interlace pass strides per the GIF89a spec, appendix E
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(img: np.ndarray) -> np.ndarray:
    h = img.shape[0]
    order = np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    )
    out = np.empty_like(img)
    out[order] = img
    return out


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------


@_strict_valueerror
def probe_gif(raw: bytes) -> tuple[int, int, int]:
    """``(n_pages, width, height)`` from the block structure only — the
    sub-block chain is walked but NO LZW data is inflated (header-walk
    contract of the metadata pass)."""
    width, height, frames = _parse(raw, want_data=False)
    return len(frames), width, height


@_strict_valueerror
def decode_gif(
    raw: bytes,
    mode: str = "RGB",
    page_indices: "list[int] | None" = None,
) -> list[np.ndarray]:
    """GIF bytes -> list of uint8 frame rasters at native size
    (``mode="RGB"``: HxWx3; ``mode="L"``: HxW luma via the PIL-exact
    integer weights applied to the PALETTE — pointwise, so bit-equal to
    ``rgb_to_gray`` of the expanded RGB raster, without expanding it).

    ``page_indices`` decodes only the selected 0-based frames (in the
    given order) — the distributed-OCR bucket path decodes a frame
    range per task; only the selected frames' LZW data inflates."""
    if mode not in ("RGB", "L"):
        raise ValueError(f"mode must be 'RGB' or 'L', got {mode!r}")
    width, height, frames = _parse(raw, want_data=True)
    if page_indices is not None:
        try:
            frames = [frames[i] for i in page_indices]
        except IndexError as e:
            raise ValueError(
                f"frame index out of range (GIF has {len(frames)})"
            ) from e
    # frame-0 transparent pixels composite over the spec-defined initial
    # canvas: the background color (GCT[bg index]), white when absent
    bg = (255, 255, 255)
    if raw[10] & 0x80 and raw[11] < (2 << (raw[10] & 0x07)):
        off = 13 + 3 * raw[11]
        bg = tuple(raw[off:off + 3])
    out = []
    for fr in frames:
        idx = np.frombuffer(
            lzw_decode_gif(fr["data"], fr["mcs"], width * height),
            dtype=np.uint8,
        ).reshape(height, width)
        pal = np.frombuffer(fr["palette"], dtype=np.uint8).reshape(-1, 3)
        if fr["transparent"] is not None and fr["transparent"] < len(pal):
            pal = pal.copy()
            pal[fr["transparent"]] = bg
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError(
                f"GIF pixel index {int(idx.max())} outside "
                f"{pal.shape[0]}-entry palette"
            )
        if fr["interlace"]:
            idx = _deinterlace(idx)
        if mode == "L":
            luma = rgb_to_gray(pal.reshape(1, -1, 3)).reshape(-1)
            out.append(luma[idx])
        else:
            out.append(pal[idx])
    return out


@_strict_valueerror
def slice_pages(raw: bytes, page_indices) -> bytes:
    """Minimal standalone GIF holding only ``page_indices`` (0-based,
    in the given order): header, logical screen descriptor and global
    color table copied verbatim, then each selected frame's descriptor
    + local palette + LZW sub-blocks byte-for-byte (never inflated) —
    the GIF analog of ``tiffcodec.slice_pages`` for the distributed-OCR
    bucket explode."""
    width, height, frames = _parse(raw, want_data=False)
    try:
        picked = [frames[i] for i in page_indices]
    except IndexError as e:
        raise ValueError(
            f"frame index out of range (GIF has {len(frames)})"
        ) from e
    if not picked:
        raise ValueError("GIF slice needs at least one frame")
    # header + LSD (+ GCT): everything before the first block introducer
    gct_end = 13
    if raw[10] & 0x80:
        gct_end += 3 * (2 << (raw[10] & 0x07))
    out = bytearray(raw[:gct_end])
    for fr in picked:
        if fr["transparent"] is not None:
            # the GCE lives OUTSIDE the frame's verbatim span; dropping
            # it would silently repaint transparent pixels with their
            # palette color — re-emit a minimal equivalent GCE
            out += (b"\x21\xf9\x04\x01\x00\x00"
                    + bytes([fr["transparent"]]) + b"\x00")
        start, end = fr["span"]
        out += raw[start:end]
    out.append(0x3B)
    return bytes(out)


@_strict_valueerror
def encode_gif(
    frames: "list[np.ndarray]", interlace: bool = False
) -> bytes:
    """Fixture-grade GIF89a encoder: uint8 gray (HxW) or RGB (HxWx3)
    frames, one shared global palette built from the distinct colors
    across all frames (≤256 or raises), optional interlacing. Output is
    decodable by :func:`decode_gif`, PIL, and Java ImageIO."""
    if not frames:
        raise ValueError("encode_gif needs at least one frame")
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    all_gray = all(a.ndim == 2 for a in arrs)
    rgb = []
    for a in arrs:
        if a.ndim == 2:
            a = np.stack([a, a, a], axis=-1)
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError("frames must be HxW gray or HxWx3 RGB")
        rgb.append(a)
    h, w = rgb[0].shape[:2]
    if any(f.shape[:2] != (h, w) for f in rgb):
        raise ValueError("all frames must share one size")
    if not (1 <= w <= 0xFFFF and 1 <= h <= 0xFFFF):
        raise ValueError(
            f"frame size {w}x{h} outside GIF's 1..65535 u16 range"
        )
    if all_gray:
        # gray fast path: the 256-entry ramp palette makes every pixel
        # its own index — no color collection, no per-pixel lookup
        bits = 8
        pal = np.repeat(np.arange(256, dtype=np.uint8), 3).reshape(256, 3)
        keys = None
    else:
        flat = np.concatenate([f.reshape(-1, 3) for f in rgb])
        colors = np.unique(flat, axis=0)
        if colors.shape[0] > 256:
            raise ValueError(f"{colors.shape[0]} distinct colors exceed "
                             "the 256-entry GIF palette")
        # palette size: power of two >= count, min 4 (mcs floor is 2)
        bits = max(2, int(np.ceil(np.log2(max(2, colors.shape[0])))))
        pal = np.zeros((1 << bits, 3), dtype=np.uint8)
        pal[:colors.shape[0]] = colors
        # color -> index: np.unique(axis=0) sorts rows lexicographically,
        # so the packed keys are sorted and searchsorted is exact (and
        # C-speed — a per-pixel Python dict lookup was the encode
        # bottleneck at corpus scale)
        keys = (colors[:, 0].astype(np.uint32) << 16) \
            | (colors[:, 1].astype(np.uint32) << 8) | colors[:, 2]
    out = bytearray(b"GIF89a")
    out += bytes((w & 0xFF, w >> 8, h & 0xFF, h >> 8))
    out.append(0x80 | ((bits - 1) & 0x07) << 4 | (bits - 1))  # GCT flag
    out += b"\x00\x00"  # bg index, aspect
    out += pal.tobytes()
    for a, f in zip(arrs, rgb):
        if keys is None:
            idx = a  # gray ramp: pixel value IS the palette index
        else:
            key = (f[:, :, 0].astype(np.uint32) << 16) \
                | (f[:, :, 1].astype(np.uint32) << 8) | f[:, :, 2]
            idx = np.searchsorted(keys, key).astype(np.uint8)
        if interlace:
            order = np.concatenate([
                np.arange(start, h, step)
                for start, step in _INTERLACE_PASSES
            ])
            idx = idx[order]
        out.append(0x2C)
        out += bytes((0, 0, 0, 0, w & 0xFF, w >> 8, h & 0xFF, h >> 8))
        out.append(0x40 if interlace else 0x00)  # no LCT
        mcs = max(2, bits)
        out.append(mcs)
        payload = lzw_encode_gif(idx.tobytes(), mcs)
        for off in range(0, len(payload), 255):
            chunk = payload[off:off + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)
