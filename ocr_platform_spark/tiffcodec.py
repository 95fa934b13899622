"""Pure-stdlib TIFF container codec for scanned documents.

TIFF with CCITT Group 4 compression is the classic OCR input format —
fax archives, book scans, records digitization all ship multi-page
bitonal G4 TIFFs (the reference decodes them through PIL's ``Image.open``
like any other image, ``apps/worker/app/tasks/ocr_tasks.py:54-55``).
This module gives the real-codec tier table (:data:`tiers.TIERS`) a
dependency-free TIFF branch the way :mod:`pngcodec` / :mod:`jpegcodec` / :mod:`pdfcodec`
cover their formats, with the same ValueError quarantine contract.

Supported subset (scanner output; anything else raises — never a silent
wrong raster):

* classic TIFF, both byte orders (``II``/``MM``); BigTIFF raises;
* multi-page via the IFD chain (cycle-guarded);
* Compression 1 (uncompressed), 5 (LZW), 8/32946 (Deflate) and 32773
  (PackBits) for 1/4/8/16-bit gray and 8-bit RGB (chunky);
  Compressions 2 (MH RLE), 3 (CCITT T.4, ``T4Options`` 2D bit) and 4
  (CCITT T.6) through :mod:`ccittcodec` for 1-bit bilevel — strips
  decode independently per the TIFF spec; Compression 7 (new-style
  JPEG strips, shared ``JPEGTables``) through :mod:`jpegcodec`;
  Predictor 2 (horizontal differencing) with the LZW/Deflate family on
  8-bit samples. All pinned bit-exact against Java ImageIO's TIFF
  plugin in BOTH directions where lossless (tests/test_compression.py,
  tests/test_tiffcodec.py);
* PhotometricInterpretation 0 (WhiteIsZero) / 1 (BlackIsZero) / 2
  (RGB) / 6 (YCbCr, compression-7 only);
* multi-strip images (``RowsPerStrip``), TILED layouts (``TileWidth``/
  ``TileLength``/``TileOffsets``/``TileByteCounts`` — the GIS /
  large-scan producer shape; edge tiles are full-size and cropped into
  place), planar-separate RGB (``PlanarConfiguration`` 2, plane-major
  strips, per-band Predictor 2), FillOrder 1 and 2 (LSB-first fax
  packing, bilevel), default orientation; CCITT uncompressed-mode
  option bits raise.

:func:`probe_tiff` walks only the IFD headers (page count + first-page
dims, no sample inflation) — the metadata-probe analog of
``pdfcodec.probe_dims``. :func:`encode_g4_tiff` writes minimal G4 files
so fixtures and the Java-ImageIO interop test need no external library.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import ccittcodec, compression
from .pdfcodec import MAX_PIXELS

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8}
_INT_TYPES = {1, 3, 4}  # BYTE, SHORT, LONG

#: byte -> bit-reversed byte (FillOrder 2 normalization)
_BITREV = np.array(
    [int(f"{b:08b}"[::-1], 2) for b in range(256)], dtype=np.uint8
)
_MAX_PAGES = 10_000


def _strict_valueerror(fn):
    """Same public-API contract as the other codecs: adversarial bytes
    raise ``ValueError``, never a struct/index/key leak."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (AttributeError, IndexError, KeyError, TypeError,
                struct.error, ArithmeticError) as e:
            raise ValueError(
                f"malformed TIFF ({type(e).__name__}: {e})"
            ) from e

    return wrapper


def _read_ifds(raw: bytes) -> tuple[str, list[dict[int, list[int]]]]:
    """Parse the IFD chain -> (endian char, [{tag: [int values]}, ...]).

    Only integer-typed tags are materialized (the tags this subset
    needs); others are skipped structurally."""
    if len(raw) < 8:
        raise ValueError("TIFF too short for a header")
    if raw[:2] == b"II":
        e = "<"
    elif raw[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic, off = struct.unpack(e + "HI", raw[2:8])
    if magic == 43:
        raise ValueError("BigTIFF unsupported")
    if magic != 42:
        raise ValueError(f"not a TIFF: magic {magic}")
    ifds: list[dict[int, list[int]]] = []
    seen = set()
    while off:
        if off in seen or len(ifds) >= _MAX_PAGES:
            raise ValueError("TIFF IFD chain cycles or is too long")
        seen.add(off)
        if off + 2 > len(raw):
            raise ValueError("TIFF IFD offset past end of file")
        (n,) = struct.unpack_from(e + "H", raw, off)
        end = off + 2 + n * 12
        if end + 4 > len(raw):
            raise ValueError("truncated TIFF IFD")
        tags: dict[int, list[int]] = {}
        for i in range(n):
            tag, typ, cnt = struct.unpack_from(e + "HHI", raw, off + 2 + i * 12)
            vpos = off + 2 + i * 12 + 8
            if typ not in _TYPE_SIZE or \
                    (typ not in _INT_TYPES and typ != 7):
                continue  # skip other non-integer tags structurally
            size = _TYPE_SIZE[typ] * cnt
            if cnt > 1 << 20:
                raise ValueError("TIFF tag count implausibly large")
            if size > 4:
                (vpos,) = struct.unpack_from(e + "I", raw, vpos)
                if vpos + size > len(raw):
                    raise ValueError("TIFF tag value past end of file")
            if typ == 7:  # UNDEFINED: opaque bytes (e.g. JPEGTables)
                tags[tag] = raw[vpos:vpos + cnt]
                continue
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(struct.unpack_from(e + fmt * cnt, raw, vpos))
        (off,) = struct.unpack_from(e + "I", raw, end)
        ifds.append(tags)
    if not ifds:
        raise ValueError("TIFF has no IFD")
    return e, ifds


def _tag1(tags: dict, tag: int, default=None) -> int:
    v = tags.get(tag)
    if v is None:
        if default is None:
            raise ValueError(f"TIFF missing required tag {tag}")
        return default
    return v[0]


def _page_plan(tags: dict,
               size: int) -> tuple[int, int, int, int, int, int]:
    """Validate one IFD of a ``size``-byte file against the subset
    WITHOUT touching samples, every strip or tile inside the file.
    Returns ``(w, h, compression, photometric, bps, spp)``."""
    w = _tag1(tags, 256)
    h = _tag1(tags, 257)
    if w <= 0 or h <= 0:
        raise ValueError("TIFF page with non-positive dimensions")
    if w * h > MAX_PIXELS:
        raise ValueError(f"TIFF page {w}x{h} exceeds MAX_PIXELS")
    comp = _tag1(tags, 259, 1)
    pi = _tag1(tags, 262)
    spp = _tag1(tags, 277, 1)
    bps_list = tags.get(258, [1])
    if len(set(bps_list)) != 1 or len(bps_list) not in (1, spp):
        raise ValueError(f"unsupported TIFF BitsPerSample {bps_list}")
    bps = bps_list[0]
    fo = _tag1(tags, 266, 1)
    if fo == 2:
        # LSB-first bit packing: a fax-modem convention, seen with
        # bit-level (bilevel) data; byte-level layouts never need it
        if bps != 1:
            raise ValueError("TIFF FillOrder 2 only supported for 1-bit")
    elif fo != 1:
        raise ValueError(f"TIFF FillOrder {fo} unsupported")
    planar = _tag1(tags, 284, 1)
    if planar == 2:
        # planar-separate: supported for 8-bit RGB under the byte-stream
        # codecs (scanner output); bit-level and JPEG layouts interleave
        # in ways no wild producer emits — refuse those
        if not (spp == 3 and bps == 8 and pi == 2
                and comp in (1, 5, 8, 32946, 32773)):
            raise ValueError(
                "planar TIFF supported for 8-bit RGB byte codecs only"
            )
    elif planar != 1:
        raise ValueError(f"TIFF PlanarConfiguration {planar} unsupported")
    if _tag1(tags, 274, 1) != 1:
        raise ValueError("rotated/mirrored TIFF orientation unsupported")
    pred = _tag1(tags, 317, 1)
    if pred == 2:
        # horizontal differencing: defined for the LZW/Deflate family
        # on 8-bit samples in this subset
        if comp not in (5, 8, 32946) or bps != 8:
            raise ValueError(
                "TIFF Predictor 2 only supported with LZW/Deflate 8-bit"
            )
    elif pred != 1:
        raise ValueError(f"TIFF Predictor {pred} unsupported")
    if comp in (2, 3, 4):
        if not (bps == 1 and spp == 1 and pi in (0, 1)):
            raise ValueError(
                "TIFF CCITT must be 1-bit single-sample bilevel"
            )
        if comp == 4 and _tag1(tags, 293, 0) & 0b10:
            raise ValueError("T6Options uncompressed mode unsupported")
        if comp == 3 and _tag1(tags, 292, 0) & 0b10:
            raise ValueError("T4Options uncompressed mode unsupported")
    elif comp in (1, 5, 8, 32773, 32946):
        # uncompressed / LZW / Deflate (8=Adobe, 32946=classic) /
        # PackBits, all over the same three pixel layouts
        ok = (spp == 1 and bps in (1, 4, 8, 16) and pi in (0, 1)) or \
             (spp == 3 and bps == 8 and pi == 2)
        if not ok:
            raise ValueError(
                f"unsupported TIFF pi/bps/spp {pi}/{bps}/{spp} "
                f"for compression {comp}"
            )
    elif comp == 7:
        # new-style JPEG: strips are (abbreviated) JPEG streams, shared
        # tables in the JPEGTables tag; PI 6 = YCbCr (what every writer
        # emits for color), PI 0/1 = gray. PI 2 would mean RGB-coded
        # JPEG components — rare and ambiguous, refuse.
        ok = (spp == 3 and bps == 8 and pi == 6) or \
             (spp == 1 and bps == 8 and pi in (0, 1))
        if not ok:
            raise ValueError(
                f"unsupported TIFF JPEG pi/bps/spp {pi}/{bps}/{spp}"
            )
        if 530 in tags and tags[530] not in ([1, 1], [2, 1], [2, 2]):
            raise ValueError(
                f"TIFF YCbCrSubSampling {tags[530]} unsupported"
            )
    else:
        raise ValueError(
            f"TIFF compression {comp} unsupported (none=1, G3=2/3, G4=4, "
            "LZW=5, JPEG=7, Deflate=8/32946, PackBits=32773)"
        )
    if any(t in tags for t in (322, 323, 324, 325)):
        if not all(t in tags for t in (322, 323, 324, 325)):
            raise ValueError("TIFF tile tags incomplete")
        tw, tl = _tag1(tags, 322), _tag1(tags, 323)
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise ValueError(
                f"TIFF tile size {tw}x{tl} must be a positive multiple "
                "of 16"
            )
        # The w*h cap alone does not bound tile rasters: a 16x16 image may
        # declare one 2^20 x 2^20 tile (count check passes at 1 tile) and an
        # all-white G4 row costs ~1 bit, so decode would attempt a
        # terabyte-scale allocation.  Cap the tile-covered canvas — the
        # padded area every tile decode materialises — by the same pixel
        # budget as the image itself.
        canvas = (((w + tw - 1) // tw) * tw) * (((h + tl - 1) // tl) * tl)
        if canvas > MAX_PIXELS:
            raise ValueError(
                f"TIFF tile canvas {tw}x{tl} tiles over {w}x{h} exceeds "
                "MAX_PIXELS"
            )
        if len(tags[324]) != len(tags[325]):
            raise ValueError("TIFF tile offset/count arrays disagree")
        if len(tags[324]) != ((w + tw - 1) // tw) * ((h + tl - 1) // tl):
            raise ValueError("TIFF tile count does not cover the image")
        if planar == 2:
            raise ValueError("planar tiled TIFF unsupported")
    elif 273 not in tags or 279 not in tags:
        raise ValueError("TIFF missing strip offsets/byte counts")
    elif len(tags[273]) != len(tags[279]):
        raise ValueError("TIFF strip offset/count arrays disagree")
    chunk, ko, kc = (("tile", 324, 325) if 322 in tags
                     else ("strip", 273, 279))
    if any(o + c > size for o, c in zip(tags[ko], tags[kc])):
        raise ValueError(f"TIFF {chunk} past end of file")
    return w, h, comp, pi, bps, spp


@_strict_valueerror
def probe_tiff(raw: bytes) -> tuple[int, int, int]:
    """``(n_pages, first-page W, H)`` — IFD walk only, every page
    validated against the subset, no sample bytes touched."""
    _e, ifds = _read_ifds(raw)
    w0 = h0 = 0
    for i, tags in enumerate(ifds):
        w, h, *_ = _page_plan(tags, len(raw))
        if i == 0:
            w0, h0 = w, h
    return len(ifds), w0, h0


def _decode_chunk(data: bytes, tags: dict, comp: int, pi: int, bps: int,
                  spp: int, rows: int, width: int, endian: str,
                  fo2: bool) -> np.ndarray:
    """One compressed chunk (a strip, a full tile, or one plane's strip)
    -> uint8 raster: ``(rows, width)`` gray or ``(rows, width, 3)``."""
    if fo2 and comp in (1, 2, 3, 4):
        # FillOrder 2 (LSB-first): CCITT data is a bit stream, so the
        # reversal applies to the COMPRESSED bytes (fax modems store the
        # entropy bits LSB-first); uncompressed data is its own pixel
        # bytes. Byte-stream codecs reverse AFTER decompression instead
        # (libtiff semantics) — see below.
        data = _BITREV[np.frombuffer(data, np.uint8)].tobytes()
    if comp == 7:
        from . import jpegcodec

        img = jpegcodec.decode_jpeg(bytes(data), tables=tags.get(347))
        if img.shape[0] < rows or img.shape[1] < width:
            raise ValueError("TIFF JPEG strip smaller than declared")
        img = img[:rows, :width]
        if spp == 1:
            g = img[:, :, 0]  # decode_jpeg replicates gray to RGB
            return 255 - g if pi == 0 else g.copy()
        return img.copy()
    if comp in (2, 3, 4):
        # ccittcodec gives ink=1; PI=0 (WhiteIsZero, standard for
        # fax) renders that as luminance 0, PI=1 inverts
        if comp == 4:
            bits = ccittcodec.decode_g4(data, width, rows)
        elif comp == 2:
            # Modified Huffman RLE: 1D rows, each byte-aligned
            bits = ccittcodec.decode_g3(data, width, rows,
                                        byte_align=True)
        else:
            # T.4: T4Options bit 0 selects 2D (EOL+tag rows)
            k = 2 if _tag1(tags, 292, 0) & 0b1 else 0
            bits = ccittcodec.decode_g3(data, width, rows, k=k)
        g = (1 - bits) * 255 if pi == 0 else bits * 255
        return g.astype(np.uint8)
    rowbytes = (width * spp * bps + 7) // 8
    if comp == 5:
        data = compression.decode_lzw(data)
    elif comp in (8, 32946):
        try:
            data = zlib.decompress(data)
        except zlib.error as e:
            raise ValueError(f"bad TIFF Deflate strip: {e}") from e
    elif comp == 32773:
        data = compression.decode_packbits(
            data, expected=rowbytes * rows
        )
    if fo2 and comp != 1:
        # byte-stream codecs: FillOrder describes the PIXEL bytes,
        # so the reversal applies to the decompressed data
        data = _BITREV[np.frombuffer(data, np.uint8)].tobytes()
    if _tag1(tags, 317, 1) == 2:
        if len(data) < rowbytes * rows:
            raise ValueError("truncated TIFF strip under Predictor 2")
        arr = np.frombuffer(
            data[:rowbytes * rows], np.uint8
        ).reshape(rows, width, spp)
        # undo horizontal differencing: modular prefix-sum per band
        data = np.cumsum(arr, axis=1, dtype=np.uint8).tobytes()
    if bps == 1:
        stride = (width + 7) // 8
        if len(data) < stride * rows:
            raise ValueError("truncated TIFF bilevel strip")
        bits = np.unpackbits(
            np.frombuffer(data[:stride * rows], np.uint8)
            .reshape(rows, stride), axis=1)[:, :width]
        g = (1 - bits) * 255 if pi == 0 else bits * 255
        return g.astype(np.uint8)
    if bps == 4:  # 4-bit gray: exact expansion (255/15 = 17)
        v = compression.unpack_subbyte_rows(data, width, rows, 4,
                                            "TIFF 4-bit gray strip")
        g = (v * 17).astype(np.uint8)
        return 255 - g if pi == 0 else g
    if bps == 16:  # 16-bit gray (film scans): high byte
        need = width * rows * 2
        if len(data) < need:
            raise ValueError("truncated TIFF 16-bit gray strip")
        v = np.frombuffer(data[:need], np.dtype(endian + "u2"))
        g = (v >> 8).astype(np.uint8).reshape(rows, width)
        return 255 - g if pi == 0 else g
    if spp == 1:  # 8-bit gray
        if len(data) < width * rows:
            raise ValueError("truncated TIFF gray strip")
        g = np.frombuffer(data[:width * rows], np.uint8).reshape(rows, width)
        return 255 - g if pi == 0 else g.copy()
    # 8-bit RGB chunky
    need = width * rows * 3
    if len(data) < need:
        raise ValueError("truncated TIFF RGB strip")
    return np.frombuffer(data[:need], np.uint8).reshape(rows, width, 3).copy()


def _decode_page(raw: bytes, tags: dict, gray: bool,
                 endian: str = "<") -> np.ndarray:
    w, h, comp, pi, bps, spp = _page_plan(tags, len(raw))
    fo2 = _tag1(tags, 266, 1) == 2
    if 322 in tags:
        # tiled layout (GIS / large-scan producers): tiles are FULL
        # TileWidth x TileLength rasters, edge tiles padded — decode
        # each independently and crop into the page canvas
        tw, tl = _tag1(tags, 322), _tag1(tags, 323)
        offs, cnts = tags[324], tags[325]
        ta = (w + tw - 1) // tw
        td = (h + tl - 1) // tl
        if len(offs) != ta * td:
            raise ValueError("TIFF tile count does not cover the image")
        page = np.zeros((h, w, 3) if spp == 3 else (h, w), np.uint8)
        for ti, (o, c) in enumerate(zip(offs, cnts)):
            tile = _decode_chunk(raw[o:o + c], tags, comp, pi, bps, spp,
                                 tl, tw, endian, fo2)
            ty, tx = divmod(ti, ta)
            y0, x0 = ty * tl, tx * tw
            page[y0:y0 + tl, x0:x0 + tw] = tile[:h - y0, :w - x0]
    elif _tag1(tags, 284, 1) == 2:
        # planar-separate RGB: strips are plane-major (all of band 0,
        # then band 1, ...), each strip one band's rows; Predictor 2
        # differencing applies within a band, which the spp=1 chunk
        # decode reproduces
        rps = _tag1(tags, 278, h)
        if rps <= 0:
            raise ValueError("TIFF RowsPerStrip must be positive")
        offs, cnts = tags[273], tags[279]
        per = (h + rps - 1) // rps
        if len(offs) != per * spp:
            raise ValueError("TIFF planar strip count does not cover "
                             "the image")
        planes = []
        for p in range(spp):
            chunks = []
            for si in range(per):
                o, c = offs[p * per + si], cnts[p * per + si]
                rows = min(rps, h - si * rps)
                chunks.append(_decode_chunk(raw[o:o + c], tags, comp,
                                            pi, bps, 1, rows, w,
                                            endian, fo2))
            planes.append(np.concatenate(chunks, axis=0)
                          if len(chunks) > 1 else chunks[0])
        page = np.stack(planes, axis=-1)
    else:
        rps = _tag1(tags, 278, h)
        if rps <= 0:
            raise ValueError("TIFF RowsPerStrip must be positive")
        offs, cnts = tags[273], tags[279]
        if len(offs) != (h + rps - 1) // rps:
            raise ValueError("TIFF strip count does not cover the image")
        strips = []
        for si, (o, c) in enumerate(zip(offs, cnts)):
            rows = min(rps, h - si * rps)
            strips.append(_decode_chunk(raw[o:o + c], tags, comp, pi,
                                        bps, spp, rows, w, endian, fo2))
        page = np.concatenate(strips, axis=0) if len(strips) > 1 \
            else strips[0]
    if page.ndim == 3:
        if gray:
            from .pdfcodec import rgb_to_gray

            return rgb_to_gray(page)
        return page
    return page if gray else np.stack([page] * 3, axis=-1)


@_strict_valueerror
def decode_tiff(
    raw: bytes,
    mode: str = "RGB",
    page_indices: "list[int] | None" = None,
) -> list[np.ndarray]:
    """TIFF bytes -> list of uint8 page rasters at native size
    (``mode="RGB"``: HxWx3; ``mode="L"``: HxW luma — native for bilevel
    and gray pages; RGB pages reduce via the PIL-exact integer luma,
    matching ``pdfcodec.decode_pdf``'s resample-then-luma convention
    trivially since TIFF never resamples).

    ``page_indices`` decodes only the selected 0-based pages (in the
    given order) — the distributed-OCR bucket path decodes a page range
    per task; the IFD chain means only the selected pages' strips are
    ever inflated."""
    if mode not in ("RGB", "L"):
        raise ValueError(f"mode must be 'RGB' or 'L', got {mode!r}")
    _e, ifds = _read_ifds(raw)
    if page_indices is not None:
        try:
            ifds = [ifds[i] for i in page_indices]
        except IndexError as e:
            raise ValueError(
                f"page index out of range (TIFF has {len(ifds)})"
            ) from e
    return [_decode_page(raw, tags, gray=mode == "L", endian=_e)
            for tags in ifds]


#: serialization types for the tags the subset understands (for slicing)
_TAG_TYPE = {256: 4, 257: 4, 258: 3, 259: 3, 262: 3, 266: 3, 273: 4,
             274: 3, 277: 3, 278: 4, 279: 4, 284: 3, 292: 4, 293: 4,
             317: 3, 322: 4, 323: 4, 324: 4, 325: 4, 347: 7, 530: 3}


def slice_pages(raw: bytes, page_indices) -> bytes:
    """Minimal standalone TIFF holding only ``page_indices`` (0-based,
    in the given order): strip bytes copied VERBATIM (never inflated),
    IFDs rebuilt from the validated subset tags. The TIFF analog of
    ``pdfcodec.slice_pages`` for the distributed-OCR bucket explode —
    each bucket row carries only its own pages' strips, so the whole
    document crosses the bucket shuffle ~once in total.

    ``decode_tiff(slice_pages(raw, idx))`` is pixel-identical to
    ``decode_tiff(raw, page_indices=idx)`` (test-pinned)."""
    return page_slicer(raw)(page_indices)


@_strict_valueerror
def page_slicer(raw: bytes):
    """Parse the IFD chain ONCE and return :func:`slice_pages`' cut,
    ``page_indices -> bytes``: cutting a P-page file into P one-page
    buckets then reads its IFDs once, not P times."""
    e, ifds = _read_ifds(raw)

    @_strict_valueerror
    def cut(page_indices) -> bytes:
        try:
            sel = [ifds[i] for i in page_indices]
        except IndexError as err:
            raise ValueError(
                f"page index out of range (TIFF has {len(ifds)})"
            ) from err
        if not sel:
            raise ValueError("cannot slice zero pages")
        bom = b"II" if e == "<" else b"MM"
        out = bytearray(struct.pack(e + "2sHI", bom, 42, 8))
        fmt = {3: "H", 4: "I"}
        pending = 4  # patch position of the previous "next IFD" word
        for tags in sel:
            _page_plan(tags, len(raw))  # only validated pages re-emit
            # tiled pages carry their chunks in 324/325; strips in 273/279
            ko, kc = (324, 325) if 322 in tags else (273, 279)
            strips = [raw[o:o + c] for o, c in zip(tags[ko], tags[kc])]
            entries = []
            for tag in sorted(_TAG_TYPE):
                if tag == ko:
                    vals = [0] * len(strips)  # assigned below
                elif tag == kc:
                    vals = [len(s) for s in strips]
                elif tag in (273, 279, 324, 325):
                    continue  # the inactive layout's tags never re-emit
                elif tag in tags:
                    vals = tags[tag]
                else:
                    continue
                entries.append((tag, _TAG_TYPE[tag], vals))
            ifd_off = len(out)
            struct.pack_into(e + "I", out, pending, ifd_off)
            overflow_off = ifd_off + 2 + len(entries) * 12 + 4

            def esize(typ: int, vals: list) -> int:
                return _TYPE_SIZE[typ] * len(vals)

            data_start = overflow_off + sum(
                esize(t, v) for _, t, v in entries if esize(t, v) > 4
            )
            so, pos = [], data_start
            for s in strips:
                so.append(pos)
                pos += len(s)
            entries = [(t, ty, so if t == ko else v) for t, ty, v in entries]
            out += struct.pack(e + "H", len(entries))
            overflow = bytearray()
            ov_pos = overflow_off
            for tag, typ, vals in entries:
                packed = bytes(vals) if typ == 7 else \
                    struct.pack(e + fmt[typ] * len(vals), *vals)
                if len(packed) <= 4:
                    out += struct.pack(e + "HHI", tag, typ, len(vals))
                    out += packed + b"\x00" * (4 - len(packed))
                else:
                    out += struct.pack(e + "HHII", tag, typ, len(vals), ov_pos)
                    overflow += packed
                    ov_pos += len(packed)
            pending = len(out)
            out += struct.pack(e + "I", 0)
            out += overflow
            for s in strips:
                out += s
        return bytes(out)

    return cut


def encode_bilevel_tiff(bitmaps: "list[np.ndarray]", compression: int = 4,
                        endian: str = "<") -> bytes:
    """Minimal multi-page bilevel TIFF (one strip per page, chunky,
    PhotometricInterpretation=0 so a 1 bit renders black — matching the
    CCITT coders' convention directly). Fixture writer for tests and
    the ImageIO interop pin; not a general encoder.

    ``compression``: 4 (G4), 3 (G3 2D, ``T4Options=1``), 2 (MH RLE,
    byte-aligned rows), 5 (LZW over packed bit rows), 32773 (PackBits),
    1 (uncompressed)."""
    if endian not in ("<", ">"):
        raise ValueError("endian must be '<' or '>'")
    if not bitmaps:
        raise ValueError("encode_bilevel_tiff needs at least one page")
    if compression not in (1, 2, 3, 4, 5, 32773):
        raise ValueError(f"unsupported fixture compression {compression}")
    from . import compression as compression_mod  # param shadows module
    bom = b"II" if endian == "<" else b"MM"
    out = bytearray(struct.pack(endian + "2sHI", bom, 42, 8))
    SHORT, LONG = 3, 4
    pending_next: int | None = 4  # patch position of the "next IFD" word
    for bm in bitmaps:
        bm = (np.asarray(bm) != 0).astype(np.uint8)
        h, w = bm.shape
        if compression == 4:
            data = ccittcodec.encode_g4(bm)
        elif compression == 3:
            data = ccittcodec.encode_g3(bm, k=4)
        elif compression == 2:
            data = ccittcodec.encode_g3(bm, byte_align=True)
        else:
            packed = np.packbits(bm, axis=1).tobytes()
            if compression == 5:
                data = compression_mod.encode_lzw(packed)
            elif compression == 32773:
                data = compression_mod.encode_packbits(packed)
            else:
                data = packed
        ifd_off = len(out)
        struct.pack_into(endian + "I", out, pending_next, ifd_off)
        entries = [
            (256, LONG, w), (257, LONG, h), (258, SHORT, 1),
            (259, SHORT, compression), (262, SHORT, 0), (273, LONG, 0),
            (277, SHORT, 1), (278, LONG, h), (279, LONG, len(data)),
        ]
        if compression == 3:
            entries.append((292, LONG, 1))  # 2D coding
        entries.sort()
        data_off = ifd_off + 2 + len(entries) * 12 + 4
        out += struct.pack(endian + "H", len(entries))
        for tag, typ, val in entries:
            if tag == 273:
                val = data_off
            if typ == SHORT:
                out += struct.pack(endian + "HHIHH", tag, typ, 1, val, 0)
            else:
                out += struct.pack(endian + "HHII", tag, typ, 1, val)
        pending_next = len(out)
        out += struct.pack(endian + "I", 0)
        out += data
    return bytes(out)


def encode_g4_tiff(bitmaps: "list[np.ndarray]", endian: str = "<") -> bytes:
    """G4 alias of :func:`encode_bilevel_tiff` (the original fixture
    writer's name, kept for its many call sites)."""
    return encode_bilevel_tiff(bitmaps, compression=4, endian=endian)
