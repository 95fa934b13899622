"""Pure-stdlib scanned-PDF rasterizer: PDF bytes -> 150-DPI RGB page rasters.

Closes the last real-codec gap of the tier table
(:data:`ocr_platform_spark.tiers.TIERS`) for the reference's dominant
input class — *scanned* documents, i.e. PDFs whose pages are full-page
raster images (the reference renders every PDF page to a 150-DPI pixmap
with PyMuPDF, ``apps/worker/app/tasks/ocr_tasks.py:39-52``). Like
:mod:`pngcodec` / :mod:`jpegcodec`, this decoder is dependency-free
(``zlib`` + ``struct`` + numpy), so it runs and is tested everywhere.

Supported subset — chosen to cover what scanners/printers actually emit,
with a hard ``ValueError`` on everything else (never a silent blank or
wrong raster; the quarantine path keys on ``ValueError``):

* classic cross-reference tables AND PDF 1.5+ cross-reference streams
  (``/Type /XRef``, any ``/W`` widths, ``/Index`` subsections, PNG
  predictors), object streams (``/Type /ObjStm``), incremental updates
  via ``/Prev`` chains (mixed classic/stream), hybrid-reference files
  (``/XRefStm``), free-entry lists.
* encrypted documents with an EMPTY user password (the wild
  "permissions-only" class readers open silently) via the standard
  security handler (:mod:`ocr_platform_spark.pdfcrypt`): RC4 (R2/R3,
  ``/V 4`` ``/CFM /V2``), AES-128 (``/AESV2``) and AES-256 (R6,
  ``/AESV3``). Password-protected documents (non-empty user password)
  raise — they are unreadable, not blank.
* byte-stream filters for both content and image streams:
  ``/FlateDecode`` (zlib) and ``/LZWDecode`` (:mod:`compression`, both
  ``/EarlyChange`` variants), each optionally with PNG predictors
  (``/DecodeParms /Predictor >= 10`` — reuses :func:`pngcodec._unfilter`);
  ``/RunLengthDecode``; ``/ASCIIHexDecode`` / ``/ASCII85Decode`` armor
  (legal anywhere in a chain, and as the only filters allowed BEFORE a
  terminal image filter). ``/DCTDecode`` image streams decode through
  :func:`jpegcodec.decode_jpeg`; ``/CCITTFaxDecode`` for every ``/K``:
  ``K < 0`` (Group 4 — the standard encoding for scanned bitonal pages)
  through :func:`ccittcodec.decode_g4`, ``K = 0`` (G3 1D / Modified
  Huffman) and ``K > 0`` (G3 mixed 2D) through
  :func:`ccittcodec.decode_g3`, with ``BlackIs1`` and
  ``EncodedByteAlign`` honoured. JBIG2/JPX raise.
* page content limited to the scanned-page operator set: graphics-state
  stack (``q``/``Q``), matrix concat (``cm``), image XObject paint
  (``Do``), inline images (``BI``/``ID``/``EI`` with the Table 91-93
  abbreviations — the fax-to-PDF producer shape — through the same
  image plan/decode path), plus inert state/clipping operators.
  Text-showing and
  path-painting operators raise — a vector page MUST NOT silently render
  as a blank canvas and feed empty text downstream.
* image XObjects: 8-bit ``DeviceRGB``/``DeviceGray``/``DeviceCMYK``
  (raw CMYK inks and Adobe CMYK/YCCK DCT streams), 1/2/4-bit gray
  (``/Decode [1 0]`` inversion honoured), ``/ICCBased`` (N=4/3/1) and
  ``/Indexed`` palettes, and ``/ImageMask`` stencils (black-ink
  min-compositing — unmarked samples stay transparent); axis-aligned
  placement (CTM shear terms must be 0; negative scales = flips are
  fine); right-angle page ``/Rotate`` with clockwise display
  semantics.

Rendering contract (mirrors the reference's ``get_pixmap(dpi=150)``
geometry): the page canvas is ``round(MediaBox * dpi/72)`` pixels of
white; each image is resampled to its device rectangle with the engine's
deterministic area kernel (:func:`raster.area_resize`) and pasted with
clipping. Exact-parity tests pin the identity-scale case (canvas ==
embedded image, byte-equal) so the geometry math cannot drift.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

from . import ccittcodec, compression, jpegcodec, pngcodec, raster

#: image filters whose output is samples (must be last in a chain)
_TERMINAL_FILTERS = ("DCTDecode", "CCITTFaxDecode")
#: ASCII armor filters — the only ones allowed BEFORE a terminal filter
_ARMOR_FILTERS = ("ASCIIHexDecode", "ASCII85Decode")
#: general byte-stream filters usable in any content/sample-image chain
_BYTE_FILTERS = ("FlateDecode", "LZWDecode", "RunLengthDecode") + \
    _ARMOR_FILTERS

RENDER_DPI = 150  # reference: ocr_tasks.py:47 get_pixmap(dpi=150)
_POINT_DPI = 72.0

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"


class _Name(str):
    """A PDF name token (``/Foo``) — distinct from a string literal."""


class _Ref(tuple):
    """Indirect reference ``(num, gen)``."""


# --------------------------------------------------------------------------
# object-level tokenizer / parser
# --------------------------------------------------------------------------


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WHITESPACE:
            pos += 1
        elif c == 0x25:  # '%' comment to end of line
            while pos < n and data[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


def _parse_name(data: bytes, pos: int) -> tuple[_Name, int]:
    pos += 1  # '/'
    start = pos
    n = len(data)
    while pos < n and data[pos] not in _WHITESPACE and data[pos] not in _DELIMS:
        pos += 1
    tok = data[start:pos]
    # #xx hex escapes inside names (spec 7.3.5)
    if b"#" in tok:
        out = bytearray()
        i = 0
        while i < len(tok):
            if tok[i] == 0x23 and i + 2 < len(tok):
                out.append(int(tok[i + 1:i + 3], 16))
                i += 3
            else:
                out.append(tok[i])
                i += 1
        tok = bytes(out)
    return _Name(tok.decode("latin-1")), pos


def _parse_string(data: bytes, pos: int) -> tuple[bytes, int]:
    pos += 1  # '('
    depth = 1
    out = bytearray()
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C and pos + 1 < n:  # backslash escape
            nxt = data[pos + 1]
            esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
                   0x28: 40, 0x29: 41, 0x5C: 92}
            if nxt in esc:
                out.append(esc[nxt])
                pos += 2
            elif 0x30 <= nxt <= 0x37:  # octal
                oct_digits = bytes(data[pos + 1:pos + 4])
                k = 1
                while k < 3 and k < len(oct_digits) and 0x30 <= oct_digits[k] <= 0x37:
                    k += 1
                out.append(int(oct_digits[:k], 8) & 0xFF)
                pos += 1 + k
            else:  # line continuation / unknown escape: drop backslash
                pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        else:
            out.append(c)
            pos += 1
    raise ValueError("unterminated PDF string literal")


_NUM_RE = re.compile(rb"[+-]?(\d+\.?\d*|\.\d+)")


def parse_object(data: bytes, pos: int):
    """Parse one PDF object at ``pos``; returns ``(value, end_pos)``.

    Indirect references parse as :class:`_Ref`, names as :class:`_Name`,
    dictionaries as ``dict``, arrays as ``list``; numbers as int/float.
    """
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise ValueError("unexpected end of PDF data")
    c = data[pos]
    if data.startswith(b"<<", pos):
        pos += 2
        d = {}
        while True:
            pos = _skip_ws(data, pos)
            if data.startswith(b">>", pos):
                return d, pos + 2
            if data[pos] != 0x2F:
                raise ValueError("PDF dict key must be a name")
            key, pos = _parse_name(data, pos)
            val, pos = parse_object(data, pos)
            d[str(key)] = val
        # unreachable
    if c == 0x5B:  # '['
        pos += 1
        arr = []
        while True:
            pos = _skip_ws(data, pos)
            if pos < len(data) and data[pos] == 0x5D:
                return arr, pos + 1
            val, pos = parse_object(data, pos)
            arr.append(val)
    if c == 0x2F:  # '/'
        return _parse_name(data, pos)
    if c == 0x28:  # '('
        return _parse_string(data, pos)
    if c == 0x3C:  # '<hex>'
        end = data.index(b">", pos)
        hexs = re.sub(rb"\s", b"", data[pos + 1:end])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii")), end + 1
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:
        tok = m.group(0)
        end = m.end()
        # lookahead for "<num> <gen> R" indirect reference
        if b"." not in tok:
            ref_m = re.match(rb"\s+(\d+)\s+R(?![A-Za-z0-9])", data[end:end + 32])
            if ref_m:
                return _Ref((int(tok), int(ref_m.group(1)))), end + ref_m.end()
            return int(tok), end
        return float(tok), end
    raise ValueError(f"unparseable PDF token at offset {pos}: {data[pos:pos+10]!r}")


# --------------------------------------------------------------------------
# document: xref, objects, streams
# --------------------------------------------------------------------------


class _Document:
    def __init__(self, raw: bytes):
        self.raw = raw
        self.xref: dict[int, int] = {}  # obj num -> byte offset
        #: obj num -> (object-stream num, index within it) — type-2 entries
        self.compressed: dict[int, tuple[int, int]] = {}
        self.trailer: dict = {}
        self._cache: dict[int, tuple] = {}
        #: standard-security-handler decryptor, set up after the xref so
        #: the /Encrypt dict can be an indirect reference. Order is safe:
        #: xref streams are parsed directly in _load_xref_stream and are
        #: never encrypted (spec 7.5.8.2).
        self.encryption = None
        self._load_xref()
        enc = self.trailer.get("Encrypt")
        if enc is not None:
            from . import pdfcrypt

            ids = self.get(self.trailer.get("ID"))
            id0 = ids[0] if isinstance(ids, list) and ids and \
                isinstance(ids[0], bytes) else b""
            self.encryption = pdfcrypt.StandardSecurityHandler(
                self.get(enc), id0, self.get
            )

    def _claim(self, num: int, offset_or_stm: int, idx: int = -1) -> None:
        """Record an in-use xref entry; first-seen (newest section in the
        /Prev chain) wins, across BOTH the classic and compressed maps —
        an update can move an object between a plain slot and an object
        stream, and the stale location must not shadow the new one."""
        if num in self.xref or num in self.compressed:
            return
        if idx < 0:
            self.xref[num] = offset_or_stm
        else:
            self.compressed[num] = (offset_or_stm, idx)

    def _load_xref(self) -> None:
        raw = self.raw
        tail = raw[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("PDF has no startxref")
        offset = int(m.group(1))
        seen = set()
        while offset and offset not in seen:
            seen.add(offset)
            pos = _skip_ws(raw, offset)
            if raw.startswith(b"xref", pos):
                offset = self._load_classic_section(pos + 4)
            else:
                offset = self._load_xref_stream(pos)

    def _load_classic_section(self, pos: int) -> int:
        """Classic ``xref`` table at ``pos``; returns the /Prev offset."""
        raw = self.raw
        while True:
            pos = _skip_ws(raw, pos)
            if raw.startswith(b"trailer", pos):
                pos += 7
                trailer, pos = parse_object(raw, pos)
                # earlier trailers in a /Prev chain must not override
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)
                # hybrid-reference file (spec 7.5.8.4): the companion
                # xref STREAM carries the compressed-object entries this
                # classic section omits; read it before following /Prev
                # (this section's own entries were claimed first, so
                # they still win within the level).
                xstm = trailer.get("XRefStm")
                if isinstance(xstm, int) and xstm > 0:
                    self._load_xref_stream(_skip_ws(raw, xstm))
                return trailer.get("Prev", 0)
            m2 = re.match(rb"(\d+)\s+(\d+)", raw[pos:pos + 64])
            if not m2:
                raise ValueError("malformed xref subsection header")
            first, count = int(m2.group(1)), int(m2.group(2))
            pos = _skip_ws(raw, pos + m2.end())
            for i in range(count):
                entry = raw[pos:pos + 20]
                if len(entry) < 18:
                    raise ValueError("truncated xref entry")
                off, _gen, kind = entry[:10], entry[11:16], entry[17:18]
                if kind == b"n":
                    # newest (first-seen) entry wins across /Prev chain
                    self._claim(first + i, int(off))
                pos += 20

    def _load_xref_stream(self, pos: int) -> int:
        """PDF 1.5 cross-reference stream (spec 7.5.8) at ``pos``;
        returns the /Prev offset. The stream object is read directly
        (its own offset came from ``startxref``/``/Prev`` — the xref map
        does not exist yet), so ``/Length`` must be a direct integer."""
        raw = self.raw
        m = re.match(rb"(\d+)\s+(\d+)\s+obj", raw[pos:pos + 64])
        if not m:
            raise ValueError(
                "startxref/Prev target is neither a classic xref table "
                "nor an indirect object"
            )
        d, pos = parse_object(raw, pos + m.end())
        if not isinstance(d, dict) or str(self.get(d.get("Type", ""))) != "XRef":
            raise ValueError("xref stream object missing /Type /XRef")
        pos = _skip_ws(raw, pos)
        if not raw.startswith(b"stream", pos):
            raise ValueError("xref stream object has no stream")
        pos += 6
        if raw.startswith(b"\r\n", pos):
            pos += 2
        elif raw.startswith(b"\n", pos):
            pos += 1
        length = d.get("Length")
        if not isinstance(length, int):
            raise ValueError("xref stream /Length must be a direct integer")
        data = self._decode_stream(d, raw[pos:pos + length])
        size = d.get("Size")
        w = d.get("W")
        if not isinstance(size, int) or not isinstance(w, list) or \
                len(w) != 3 or not all(isinstance(x, int) and 0 <= x <= 8
                                       for x in w):
            raise ValueError("xref stream needs integer /Size and 3-int /W")
        index = d.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2 or \
                not all(isinstance(x, int) and x >= 0 for x in index):
            raise ValueError("malformed xref stream /Index")
        w1, w2, w3 = w
        ew = w1 + w2 + w3
        if ew == 0:
            raise ValueError("xref stream /W is all zeros")
        p = 0
        for s in range(0, len(index), 2):
            first, count = index[s], index[s + 1]
            for i in range(count):
                entry = data[p:p + ew]
                if len(entry) < ew:
                    raise ValueError("truncated xref stream data")
                p += ew
                # field 1 defaults to type 1 when /W[0] == 0 (spec table 17)
                typ = int.from_bytes(entry[:w1], "big") if w1 else 1
                f2 = int.from_bytes(entry[w1:w1 + w2], "big")
                f3 = int.from_bytes(entry[w1 + w2:], "big")
                if typ == 1:
                    self._claim(first + i, f2)
                elif typ == 2:
                    self._claim(first + i, f2, f3)
                # type 0 (free) skipped as in the classic loader; unknown
                # types are "null object" per spec — also skipped
        for k, v in d.items():
            if k not in ("Type", "Size", "W", "Index", "Filter",
                         "DecodeParms", "Length", "Prev"):
                self.trailer.setdefault(k, v)
        self.trailer.setdefault("Size", size)
        prev = d.get("Prev", 0)
        return prev if isinstance(prev, int) else 0

    def get(self, ref):
        """Resolve an indirect reference (or pass through a direct value)."""
        if not isinstance(ref, _Ref):
            return ref
        num = ref[0]
        if num in self._cache:
            return self._cache[num][0]
        val, _ = self._get_with_stream(num)
        return val

    def get_stream(self, ref, decode: bool = True) -> tuple[dict, bytes]:
        """Resolve a reference to ``(dict, stream bytes)``.

        ``decode=False`` returns the raw (still-filtered) bytes — image
        XObjects own their filter chain (DCTDecode ends in the JPEG
        decoder, Flate+predictor in :func:`_decode_image`)."""
        if isinstance(ref, _Ref):
            d, rawstream = self._get_with_stream(ref[0])
        else:
            raise ValueError("stream object must be an indirect reference")
        if rawstream is None:
            raise ValueError(f"object {ref[0]} is not a stream")
        return d, self._decode_stream(d, rawstream) if decode else rawstream

    def _get_with_stream(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if num not in self.xref:
            if num in self.compressed:
                return self._get_compressed(num)
            raise ValueError(f"PDF object {num} not in xref")
        raw = self.raw
        pos = self.xref[num]
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", raw[pos:pos + 64])
        if not m or int(m.group(1)) != num:
            raise ValueError(f"xref offset for object {num} does not point at it")
        val, pos = parse_object(raw, pos + m.end())
        rawstream = None
        pos = _skip_ws(raw, pos)
        if raw.startswith(b"stream", pos):
            pos += 6
            if raw.startswith(b"\r\n", pos):
                pos += 2
            elif raw.startswith(b"\n", pos):
                pos += 1
            length = self.get(val.get("Length"))
            if not isinstance(length, int):
                raise ValueError("stream /Length must resolve to an integer")
            rawstream = raw[pos:pos + length]
            if len(rawstream) < length:
                raise ValueError("truncated PDF stream")
            if self.encryption is not None and \
                    str(val.get("Type", "")) != "XRef":
                # encryption sits OUTSIDE /Filter: decrypt before caching
                # so every consumer (incl. the verbatim-bytes slicer, whose
                # output carries no /Encrypt) sees plaintext-filtered bytes
                rawstream = self.encryption.decrypt_stream(
                    num, int(m.group(2)), rawstream
                )
        self._cache[num] = (val, rawstream)
        return val, rawstream

    def _get_compressed(self, num: int):
        """Resolve a type-2 entry: parse the object out of its
        ``/Type /ObjStm`` container (spec 7.5.7). Objects in an object
        stream are always direct (never streams themselves)."""
        stm_num, idx = self.compressed[num]
        if stm_num in self.compressed:
            raise ValueError("object stream inside an object stream")
        d, data = self.get_stream(_Ref((stm_num, 0)))
        if str(self.get(d.get("Type", ""))) != "ObjStm":
            raise ValueError(
                f"compressed object {num} points at a non-/ObjStm stream"
            )
        n = self.get(d.get("N"))
        first = self.get(d.get("First"))
        if not isinstance(n, int) or not isinstance(first, int) or \
                not 0 <= first <= len(data):
            raise ValueError("object stream needs integer /N and /First")
        # header: N pairs of "objnum offset" integers before /First —
        # plain split, NOT parse_object (its `<num> <gen> R` lookahead
        # could swallow the first object's bytes past the header edge)
        toks = data[:first].split()
        if len(toks) < 2 * n or idx >= n:
            raise ValueError("object stream header shorter than /N pairs")
        try:
            onum, ooff = int(toks[2 * idx]), int(toks[2 * idx + 1])
        except Exception as e:
            raise ValueError(f"malformed object stream header: {e}") from e
        if onum != num:
            raise ValueError(
                f"object stream index {idx} holds object {onum}, "
                f"xref claims {num}"
            )
        val, _end = parse_object(data, first + ooff)
        self._cache[num] = (val, None)
        return val, None

    def _decode_stream(self, d: dict, data: bytes) -> bytes:
        filters = self.get(d.get("Filter"))
        if filters is None:
            return data
        if not isinstance(filters, list):
            filters = [filters]
        parms = self.get(d.get("DecodeParms"))
        if not isinstance(parms, list):
            parms = [parms] * len(filters)
        elif len(parms) < len(filters):
            # a short list must not silently drop trailing filter passes
            parms = parms + [None] * (len(filters) - len(parms))
        for filt, parm in zip(filters, parms):
            filt = str(self.get(filt))
            if filt in _TERMINAL_FILTERS:
                # terminal image filters: handled by the image decoder
                raise ValueError(f"{filt} outside an image XObject")
            data = self._apply_byte_filter(filt, self.get(parm), data)
        return data

    def _apply_byte_filter(self, filt: str, parm, data: bytes) -> bytes:
        """One non-terminal stream filter pass (PDF 7.4): Flate and LZW
        honour ``/DecodeParms`` predictors (and LZW ``/EarlyChange``);
        the ASCII armor and run-length filters are parameterless."""
        if filt == "FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as e:
                raise ValueError(f"bad FlateDecode stream: {e}") from e
            return self._unpredict(parm, data)
        if filt == "LZWDecode":
            ec = self.get(parm.get("EarlyChange", 1)) if isinstance(
                parm, dict) else 1
            if ec not in (0, 1):
                raise ValueError(f"LZW /EarlyChange must be 0 or 1, got {ec}")
            return self._unpredict(parm, compression.decode_lzw(data, ec))
        if filt == "RunLengthDecode":
            return compression.decode_rle_pdf(data)
        if filt == "ASCIIHexDecode":
            return compression.decode_ascii_hex(data)
        if filt == "ASCII85Decode":
            return compression.decode_ascii85(data)
        raise ValueError(f"unsupported PDF stream filter /{filt}")

    def _unpredict(self, parm, data: bytes) -> bytes:
        if not parm:
            return data
        pred = self.get(parm.get("Predictor", 1))
        if pred == 1:
            return data
        if pred < 10:
            raise ValueError(f"TIFF predictor {pred} unsupported")
        colors = self.get(parm.get("Colors", 1))
        bpc = self.get(parm.get("BitsPerComponent", 8))
        columns = self.get(parm.get("Columns", 1))
        bpp = max(1, colors * bpc // 8)
        stride = (columns * colors * bpc + 7) // 8
        if len(data) % (stride + 1):
            raise ValueError("predictor data not a whole number of rows")
        h = len(data) // (stride + 1)
        # PNG predictors use the exact PNG per-row filter layout
        return bytes(pngcodec._unfilter(data, h, stride, bpp))


# --------------------------------------------------------------------------
# page tree
# --------------------------------------------------------------------------

_INHERITABLE = ("MediaBox", "Resources", "Rotate")


def _walk_pages(doc: _Document, node_ref, inherited: dict, out: list,
                depth: int = 0) -> None:
    if depth > 64:
        raise ValueError("page tree too deep (cycle?)")
    node = doc.get(node_ref)
    if not isinstance(node, dict):
        raise ValueError("page tree node is not a dictionary")
    attrs = dict(inherited)
    for k in _INHERITABLE:
        if k in node:
            attrs[k] = node[k]
    typ = str(doc.get(node.get("Type", "")))
    if typ == "Pages" or "Kids" in node:
        for kid in doc.get(node.get("Kids", [])):
            _walk_pages(doc, kid, attrs, out, depth + 1)
    else:
        out.append((node, attrs))


def _pages(doc: _Document) -> list[tuple[dict, dict]]:
    root = doc.get(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("PDF trailer has no /Root catalog")
    out: list[tuple[dict, dict]] = []
    _walk_pages(doc, root.get("Pages"), {}, out)
    return out


# --------------------------------------------------------------------------
# content stream interpreter (scanned-page operator subset)
# --------------------------------------------------------------------------

#: operators that may appear on a scanned page and change nothing we render
_INERT_OPS = {
    "w", "J", "j", "M", "d", "ri", "i", "gs",          # graphics state
    "W", "W*", "n", "re", "m", "l", "c", "v", "y", "h",  # clip path building
    "g", "G", "rg", "RG", "k", "K", "cs", "CS", "sc", "scn", "SC", "SCN",
    "BMC", "BDC", "EMC", "MP", "DP",                   # marked content
}
_FORBIDDEN_OPS = {
    # text showing — rendering these as blank would silently drop content
    "Tj", "TJ", "'", '"',
    # path painting — vector graphics we do not rasterize
    "S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "sh",
}
_TEXT_STATE_OPS = {"BT", "ET", "Tf", "Td", "TD", "Tm", "T*", "Tc", "Tw",
                   "Tz", "TL", "Ts", "Tr"}

_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*']*")

#: inline-image key abbreviations (PDF Table 91)
_INLINE_KEYS = {"W": "Width", "H": "Height", "BPC": "BitsPerComponent",
                "CS": "ColorSpace", "D": "Decode", "DP": "DecodeParms",
                "F": "Filter", "IM": "ImageMask", "I": "Interpolate",
                "L": "Length"}
#: inline-image value abbreviations (colorspaces + filters, Table 92/93)
_INLINE_VALS = {"G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK",
                "I": "Indexed", "AHx": "ASCIIHexDecode",
                "A85": "ASCII85Decode", "LZW": "LZWDecode",
                "Fl": "FlateDecode", "RL": "RunLengthDecode",
                "CCF": "CCITTFaxDecode", "DCT": "DCTDecode"}
_PDF_WS = b"\x00\t\n\x0c\r "


def _expand_inline_val(v):
    if isinstance(v, str):
        return _Name(_INLINE_VALS.get(str(v), str(v)))
    if isinstance(v, list):
        return [_expand_inline_val(x) for x in v]
    return v


def _expand_inline_dict(operands: list) -> dict:
    """BI key/value tokens -> an image-XObject-shaped dict (full key
    names, expanded colorspace/filter abbreviations) so the shared
    ``_image_plan`` / ``_decode_image`` path applies unchanged."""
    if len(operands) % 2:
        raise ValueError("inline image dictionary has an odd token count")
    d = {}
    for i in range(0, len(operands), 2):
        k = operands[i]
        if not isinstance(k, str):
            raise ValueError(f"inline image key {k!r} is not a name")
        key = _INLINE_KEYS.get(str(k), str(k))
        v = operands[i + 1]
        if key in ("ColorSpace", "Filter"):
            v = _expand_inline_val(v)
        d[key] = v
    d["Subtype"] = _Name("Image")
    return d


def _inline_image_data(content: bytes, pos: int, d: dict):
    """Extract the raw bytes between ID and EI -> ``(data, end_pos)``.

    Unfiltered data has computable length; filtered data scans for the
    first whitespace-delimited EI (every supported filter either carries
    its own EOD or decodes a known row count, so a rare embedded
    "<ws>EI<ws>" in entropy bytes surfaces as a decode ValueError, never
    as silent wrong pixels)."""
    n = len(content)
    if d.get("Filter") is None:
        w = d.get("Width", 0)
        h = d.get("Height", 0)
        is_mask = bool(d.get("ImageMask", False))
        bpc = d.get("BitsPerComponent", 1 if is_mask else 8)
        cs = d.get("ColorSpace")
        ncomp = 3 if not is_mask and str(cs) == "DeviceRGB" else 1
        if not all(isinstance(v, int) for v in (w, h, bpc)) or w <= 0 \
                or h <= 0:
            raise ValueError("inline image with malformed dimensions")
        if w * h > MAX_PIXELS:
            raise ValueError("inline image exceeds MAX_PIXELS")
        length = h * ((w * bpc * ncomp + 7) // 8)
        data = content[pos:pos + length]
        if len(data) < length:
            raise ValueError("inline image data truncated")
        end = _skip_ws(content, pos + length)
        if content[end:end + 2] != b"EI":
            raise ValueError("inline image missing EI after raw data")
        return data, end + 2
    i = pos
    while True:
        j = content.find(b"EI", i)
        if j < 0:
            raise ValueError("inline image missing EI")
        before = j > pos and content[j - 1] in _PDF_WS
        after = j + 2 >= n or content[j + 2] in _PDF_WS \
            or content[j + 2] in b"/[<(%"
        if before and after:
            data = content[pos:j]
            # the delimiter whitespace before EI is not image data
            if data and data[-1:] in (b"\n", b"\r", b"\t", b" "):
                data = data[:-1]
            return data, j + 2
        i = j + 2


def _content_images(doc: _Document, content: bytes, resources: dict):
    """Yield ``(ctm, image_dict, image_bytes)`` for each image paint.

    CTM is the 6-tuple (a, b, c, d, e, f); the stack math follows PDF
    spec 8.3.4. Raises on operators outside the scanned-page subset.
    """
    xobjects = doc.get(resources.get("XObject", {})) if resources else {}
    ctm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    stack: list[tuple] = []
    operands: list = []
    pos = 0
    n = len(content)
    while pos < n:
        pos = _skip_ws(content, pos)
        if pos >= n:
            break
        c = content[pos]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or \
                c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:
            val, pos = parse_object(content, pos)
            operands.append(val)
            continue
        m = _OP_RE.match(content, pos)
        if not m:
            raise ValueError(
                f"unparseable content stream at offset {pos}: "
                f"{content[pos:pos+10]!r}"
            )
        op = m.group(0).decode("latin-1")
        pos = m.end()
        if op == "q":
            stack.append(ctm)
        elif op == "Q":
            ctm = stack.pop() if stack else (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        elif op == "cm":
            a, b, cc, d, e, f = (float(v) for v in operands[-6:])
            A, B, C, D, E, Fv = ctm
            ctm = (a * A + b * C, a * B + b * D,
                   cc * A + d * C, cc * B + d * D,
                   e * A + f * C + E, e * B + f * D + Fv)
        elif op == "Do":
            name = operands[-1]
            xo = xobjects.get(str(name))
            if xo is None:
                raise ValueError(f"content references unknown XObject {name}")
            xd, xbytes = doc.get_stream(xo, decode=False)
            subtype = str(doc.get(xd.get("Subtype", "")))
            if subtype == "Image":
                yield ctm, xd, xbytes
            elif subtype == "Form":
                raise ValueError("Form XObjects unsupported (scanned subset)")
            else:
                raise ValueError(f"unsupported XObject subtype {subtype}")
        elif op == "BI":
            # inline image (PDF 8.9.7): /key value pairs to ID, one
            # whitespace byte, raw entropy data, then EI. Fax-to-PDF
            # producers embed whole CCITT pages this way.
            operands = []
            while True:
                pos = _skip_ws(content, pos)
                if pos >= n:
                    raise ValueError("inline image truncated before ID")
                c2 = content[pos]
                if c2 == 0x2F or c2 == 0x28 or c2 == 0x3C or c2 == 0x5B \
                        or c2 == 0x2B or c2 == 0x2D or c2 == 0x2E \
                        or 0x30 <= c2 <= 0x39 \
                        or content.startswith(b"true", pos) \
                        or content.startswith(b"false", pos) \
                        or content.startswith(b"null", pos):
                    val, pos = parse_object(content, pos)
                    operands.append(val)
                    continue
                m = _OP_RE.match(content, pos)
                if not m or m.group(0) != b"ID":
                    raise ValueError("malformed inline image dictionary")
                pos = m.end()
                break
            d = _expand_inline_dict(operands)
            pos += 1  # the single whitespace byte after ID
            data, pos = _inline_image_data(content, pos, d)
            yield ctm, d, data
        elif op in _FORBIDDEN_OPS or op in _TEXT_STATE_OPS:
            raise ValueError(
                f"vector/text content operator {op!r} unsupported "
                "(scanned-page subset: images only)"
            )
        elif op in _INERT_OPS:
            pass
        else:
            raise ValueError(f"unknown content operator {op!r}")
        operands = []


# --------------------------------------------------------------------------
# image XObject decode
# --------------------------------------------------------------------------


def _resolve_colorspace(doc: _Document, cs) -> tuple[str, object]:
    """Color space object -> ``(name, palette)`` where ``name`` is
    ``DeviceRGB`` / ``DeviceGray`` / ``Indexed`` and ``palette`` is the
    ``(hival+1, 3)`` uint8 RGB lookup for Indexed (else ``None``).

    ``/ICCBased`` profiles map by component count (the profile itself
    carries no extra decode semantics for the scanned subset: N=4 ->
    CMYK, N=3 -> RGB, N=1 -> gray — what Distiller-era scanners wrap
    their samples in); ``/Indexed`` resolves its base recursively and
    materializes the lookup as RGB rows. Lab/Separation raise."""
    cs = doc.get(cs)
    if isinstance(cs, str):
        if cs in ("DeviceRGB", "DeviceGray", "DeviceCMYK"):
            return str(cs), None
        raise ValueError(f"unsupported image colorspace /{cs}")
    if isinstance(cs, list) and cs:
        family = str(doc.get(cs[0]))
        if family == "ICCBased" and len(cs) == 2:
            sd = doc.get(cs[1])
            n = doc.get(sd.get("N")) if isinstance(sd, dict) else None
            if n == 4:
                return "DeviceCMYK", None
            if n == 3:
                return "DeviceRGB", None
            if n == 1:
                return "DeviceGray", None
            raise ValueError(f"ICCBased colorspace N={n!r} unsupported")
        if family == "Indexed" and len(cs) == 4:
            base_name, base_pal = _resolve_colorspace(doc, cs[1])
            if base_pal is not None:
                raise ValueError("nested Indexed colorspace")
            if base_name == "DeviceCMYK":
                raise ValueError("Indexed over DeviceCMYK unsupported")
            ncomp = 3 if base_name == "DeviceRGB" else 1
            hival = doc.get(cs[2])
            if not isinstance(hival, int) or not 0 <= hival <= 255:
                raise ValueError(f"Indexed hival {hival!r} out of range")
            table = doc.get(cs[3])
            if isinstance(table, dict):  # lookup held in a stream
                _sd, table = doc.get_stream(cs[3])
            if not isinstance(table, bytes):
                raise ValueError("Indexed lookup is not byte data")
            need = (hival + 1) * ncomp
            if len(table) < need:
                raise ValueError("Indexed lookup table too short")
            pal = np.frombuffer(table[:need], np.uint8).reshape(-1, ncomp)
            if ncomp == 1:
                pal = np.repeat(pal, 3, axis=1)
            return "Indexed", pal.copy()
    raise ValueError(f"unsupported image colorspace {cs!r}")


def _image_plan(doc: _Document, d: dict) -> tuple[list, str, int, object]:
    """Validate an image XObject dictionary WITHOUT touching sample bytes
    (the Indexed palette is header-scale, not sample-scale).

    Returns ``(filters, colorspace, bits, decode)`` — colorspace is the
    RESOLVED family name (``_decode_image`` re-resolves the palette);
    raises ``ValueError`` for anything outside the scanned subset —
    shared by the renderer and :func:`.pdftext.validate_hybrid` (the
    cheap pre-flight the distributed-OCR probe stage runs, so
    vector/unsupported documents quarantine *before* any payload
    crosses the page-bucket shuffle)."""
    w = int(doc.get(d.get("Width", 0)))
    h = int(doc.get(d.get("Height", 0)))
    if w <= 0 or h <= 0:
        raise ValueError("image XObject with non-positive dimensions")
    if w * h > MAX_PIXELS:
        raise ValueError(f"image XObject {w}x{h} exceeds MAX_PIXELS")
    filters = doc.get(d.get("Filter"))
    if not isinstance(filters, list):
        filters = [filters] if filters is not None else []
    filters = [str(doc.get(f)) for f in filters]
    decode = doc.get(d.get("Decode"))
    bpc = int(doc.get(d.get("BitsPerComponent", 1 if doc.get(
        d.get("ImageMask", False)) else 8)))
    if doc.get(d.get("ImageMask", False)):
        # stencil mask (PDF 8.9.6.2): 1-bit, paints the current fill
        # color — the scanned subset renders it as black ink with
        # min-compositing (transparent samples leave the canvas alone)
        if bpc != 1:
            raise ValueError("ImageMask must be 1 bit per component")
        if decode not in (None, [0, 1], [1, 0]):
            raise ValueError("ImageMask /Decode must be [0 1] or [1 0]")
        if "DCTDecode" in filters:
            raise ValueError("DCTDecode cannot encode a stencil mask")
        if "CCITTFaxDecode" in filters:
            if filters[-1] != "CCITTFaxDecode" or \
                    any(f not in _ARMOR_FILTERS for f in filters[:-1]):
                raise ValueError(
                    "CCITTFaxDecode must be the last mask filter"
                )
            _ccitt_parms(doc, d, w, h)
        elif any(f not in _BYTE_FILTERS for f in filters):
            raise ValueError(f"unsupported mask filter chain {filters}")
        return filters, "ImageMask", 1, decode
    cs, _pal = _resolve_colorspace(doc, d.get("ColorSpace"))
    if any(f in _TERMINAL_FILTERS for f in filters):
        if filters[-1] not in _TERMINAL_FILTERS or \
                any(f not in _ARMOR_FILTERS for f in filters[:-1]):
            raise ValueError(
                f"{'/'.join(_TERMINAL_FILTERS)} must be the last image "
                f"filter, preceded only by ASCII armor; got {filters}"
            )
        if filters[-1] == "DCTDecode":
            if cs == "Indexed":
                raise ValueError("DCTDecode with Indexed colorspace")
            if cs == "DeviceCMYK" and decode not in (
                    None, [0, 1, 0, 1, 0, 1, 0, 1]):
                # Acrobat-written CMYK JPEGs signal inversion via the
                # Adobe APP14 marker, which decode_jpeg honors; an
                # explicit non-default /Decode would double-invert, and
                # which convention the producer meant is ambiguous in
                # the wild — quarantine instead of guessing
                raise ValueError(
                    f"DCTDecode DeviceCMYK with explicit /Decode {decode}"
                )
            return filters, cs, bpc, decode
        if not (cs == "DeviceGray" and bpc == 1) or \
                decode not in (None, [0, 1], [1, 0]):
            raise ValueError(
                "CCITT image must be DeviceGray 1-bit with default Decode"
            )
        _ccitt_parms(doc, d, w, h)  # raises on anything outside G3/G4
        return filters, cs, bpc, decode
    if any(f not in _BYTE_FILTERS for f in filters):
        raise ValueError(f"unsupported image filter chain {filters}")
    supported = (
        (cs == "DeviceRGB" and bpc == 8 and
         decode in (None, [0, 1, 0, 1, 0, 1])) or
        (cs == "DeviceCMYK" and bpc == 8 and
         decode in (None, [0, 1, 0, 1, 0, 1, 0, 1])) or
        (cs == "DeviceGray" and bpc == 8 and decode in (None, [0, 1])) or
        (cs == "DeviceGray" and bpc in (2, 4) and decode is None) or
        (cs == "DeviceGray" and bpc == 1 and
         decode in (None, [0, 1], [1, 0])) or
        (cs == "Indexed" and bpc in (1, 2, 4, 8) and decode is None)
    )
    if not supported:
        raise ValueError(
            f"unsupported image colorspace/depth/decode {cs}/{bpc}/{decode} "
            "(DeviceRGB-8, DeviceCMYK-8, DeviceGray-8, DeviceGray-1, "
            "Indexed-1/2/4/8 only)"
        )
    return filters, cs, bpc, decode


def _ccitt_parms(doc: _Document, d: dict, w: int, h: int) -> bool:
    """Validate ``/CCITTFaxDecode`` ``/DecodeParms`` against the G4
    subset; returns ``BlackIs1``. Shared by :func:`_image_plan` (probe)
    and :func:`_decode_image` so the pre-flight enforces exactly what
    decoding enforces."""
    parms = doc.get(d.get("DecodeParms"))
    if isinstance(parms, list):
        # position-matched to /Filter: take the CCITT filter's slot
        # (armor filters may precede it in the chain)
        filters = doc.get(d.get("Filter"))
        if not isinstance(filters, list):
            filters = [filters]
        idx = [str(doc.get(f)) for f in filters].index("CCITTFaxDecode")
        parms = doc.get(parms[idx]) if idx < len(parms) else None
    if parms is None:
        parms = {}
    if not isinstance(parms, dict):
        raise ValueError("CCITT /DecodeParms is not a dictionary")
    k = doc.get(parms.get("K", 0))
    if not isinstance(k, int):
        raise ValueError(f"CCITT /K must be an integer, got {k!r}")
    columns = doc.get(parms.get("Columns", 1728))
    if columns != w:
        raise ValueError(
            f"CCITT /Columns {columns} != image /Width {w}"
        )
    rows = doc.get(parms.get("Rows", h))
    if rows != h:
        raise ValueError(f"CCITT /Rows {rows} != image /Height {h}")
    byte_align = bool(doc.get(parms.get("EncodedByteAlign", False)))
    if byte_align and k < 0:
        # T.6 data is never byte-aligned per row; a producer setting
        # both is malformed and would silently mis-decode
        raise ValueError("CCITT EncodedByteAlign with K < 0 unsupported")
    return k, bool(doc.get(parms.get("BlackIs1", False))), byte_align


def rgb_to_gray(rgb: np.ndarray) -> np.ndarray:
    """PIL ``convert("L")`` exact integer luma (ImagingConvert.c L24:
    ``(R*19595 + G*38470 + B*7471) >> 16``), with an equal-channel fast
    path: scanned-document content is overwhelmingly gray riding in RGB
    containers, where a byte-compare + channel copy is ~5x cheaper than
    three uint32 multiplies per pixel (and exact, since the weights sum
    to 65536)."""
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    if np.array_equal(r, g) and np.array_equal(g, b):
        return np.ascontiguousarray(r)
    return ((r.astype(np.uint32) * 19595 + g.astype(np.uint32) * 38470
             + b.astype(np.uint32) * 7471) >> 16).astype(np.uint8)


def _decode_image(doc: _Document, d: dict, data: bytes,
                  gray: bool = False) -> np.ndarray:
    """Image XObject -> HxWx3 uint8 RGB (or HxW luma when ``gray``).

    ``gray=True`` lets NATIVE-gray sources stay 2-D end-to-end — no
    gray->RGB stack followed by an RGB->luma reduction (measured
    ~25 ms/page of pure waste at scan resolution). Color sources still
    return RGB: the caller converts AFTER resampling, so ``mode="L"`` is
    bit-exactly ``rgb_to_gray`` of the RGB render (resample-then-luma on
    both paths — luma-then-resample would round differently)."""
    filters, cs, bpc, decode = _image_plan(doc, d)
    w = int(doc.get(d.get("Width", 0)))
    h = int(doc.get(d.get("Height", 0)))
    term = filters[-1] if filters and filters[-1] in _TERMINAL_FILTERS \
        else None
    parms = doc.get(d.get("DecodeParms"))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):
        # a short /DecodeParms list must not silently drop filter passes
        parms = parms + [None] * (len(filters) - len(parms))
    # run every non-terminal filter (ASCII armor before DCT/CCITT, or the
    # whole chain for raw-sample images) through the shared filter pass
    pre = filters[:-1] if term else filters
    for f, p in zip(pre, parms):
        data = doc._apply_byte_filter(f, doc.get(p), data)
    if cs == "ImageMask":
        if term == "CCITTFaxDecode":
            k, black_is1, byte_align = _ccitt_parms(doc, d, w, h)
            ink = ccittcodec.decode_g4(data, w, h) if k < 0 else \
                ccittcodec.decode_g3(data, w, h, k=k,
                                     byte_align=byte_align)
            if black_is1:
                ink = 1 - ink
        else:
            stride = (w + 7) // 8
            need = stride * h
            if len(data) < need:
                raise ValueError("truncated stencil mask samples")
            bits = np.unpackbits(
                np.frombuffer(data[:need], np.uint8).reshape(h, stride),
                axis=1)[:, :w]
            ink = 1 - bits  # default /Decode [0 1]: sample 0 paints
        if decode == [1, 0]:
            ink = 1 - ink
        g = ((1 - ink) * 255).astype(np.uint8)  # ink -> 0 luminance
        return g if gray else np.stack([g] * 3, axis=-1)
    if term == "DCTDecode":
        return jpegcodec.decode_jpeg(data)  # convert("RGB") parity inside
    if term == "CCITTFaxDecode":
        k, black_is1, byte_align = _ccitt_parms(doc, d, w, h)
        if k < 0:
            black = ccittcodec.decode_g4(data, w, h)
        else:
            black = ccittcodec.decode_g3(data, w, h, k=k,
                                         byte_align=byte_align)
        # filter-output samples: 0 = black unless BlackIs1 (PDF 7.4.6)
        bits = black if black_is1 else 1 - black
        if decode == [1, 0]:
            bits = 1 - bits
        g = (bits * 255).astype(np.uint8)
        return g if gray else np.stack([g] * 3, axis=-1)
    if cs == "Indexed":
        _name, pal = _resolve_colorspace(doc, d.get("ColorSpace"))
        if bpc == 8:
            if len(data) < w * h:
                raise ValueError("truncated indexed image samples")
            idx = np.frombuffer(data[:w * h], np.uint8).reshape(h, w)
        else:
            idx = compression.unpack_subbyte_rows(data, w, h, bpc,
                                                  "indexed image")
        if idx.size and int(idx.max()) >= len(pal):
            raise ValueError("Indexed sample exceeds the palette hival")
        # palette output is a color source: return RGB; callers convert
        # to luma AFTER resampling like any other color image
        return pal[idx]
    if cs == "DeviceRGB" and bpc == 8:
        need = w * h * 3
        if len(data) < need:
            raise ValueError("truncated RGB image samples")
        return np.frombuffer(data[:need], np.uint8).reshape(h, w, 3).copy()
    if cs == "DeviceCMYK" and bpc == 8:
        # raw DeviceCMYK samples are ink values directly (PDF 8.6.4.4:
        # 0 = no ink) — no Adobe-JPEG inversion applies outside DCT
        need = w * h * 4
        if len(data) < need:
            raise ValueError("truncated CMYK image samples")
        s = np.frombuffer(data[:need], np.uint8).reshape(h, w, 4)
        return jpegcodec.cmyk_to_rgb(s[..., 0], s[..., 1],
                                     s[..., 2], s[..., 3])
    if cs == "DeviceGray" and bpc == 8:
        need = w * h
        if len(data) < need:
            raise ValueError("truncated gray image samples")
        g = np.frombuffer(data[:need], np.uint8).reshape(h, w)
        return g.copy() if gray else np.stack([g] * 3, axis=-1)
    if cs == "DeviceGray" and bpc in (2, 4):
        v = compression.unpack_subbyte_rows(data, w, h, bpc,
                                            "sub-byte gray image")
        # exact expansion: 255 / (2^bpc - 1) is integral for bpc 2 and 4
        g = (v * (255 // ((1 << bpc) - 1))).astype(np.uint8)
        return g if gray else np.stack([g] * 3, axis=-1)
    if cs == "DeviceGray" and bpc == 1:
        stride = (w + 7) // 8
        need = stride * h
        if len(data) < need:
            raise ValueError("truncated 1-bit image samples")
        bits = np.unpackbits(
            np.frombuffer(data[:need], np.uint8).reshape(h, stride), axis=1
        )[:, :w]
        if decode == [1, 0]:  # scanned bitonal: 1 = black
            bits = 1 - bits
        g = (bits * 255).astype(np.uint8)
        return g if gray else np.stack([g] * 3, axis=-1)
    raise ValueError(  # unreachable: _image_plan validated (defense)
        f"unsupported image colorspace/depth {cs}/{bpc}"
    )


def _resize_img(img: np.ndarray, tw: int, th: int) -> np.ndarray:
    """Deterministic area resize for 2-D luma or HxWx3 RGB."""
    if img.shape[1] == tw and img.shape[0] == th:
        return img
    if img.ndim == 2:
        return raster.area_resize(img, tw, th)
    return np.stack(
        [raster.area_resize(img[:, :, ch], tw, th) for ch in range(3)],
        axis=-1,
    )


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------


def _strict_valueerror(fn):
    """Public-API contract (same as ``jpegcodec.decode_jpeg``): malformed
    or adversarial input raises ``ValueError`` — the quarantine path keys
    on it — never a low-level parser leak (a mutated byte can make the
    object graph the wrong *shape*: a dict where a list was expected, a
    deep [[[[… nest, a dangling key). ``MemoryError`` is deliberately NOT
    converted — resource exhaustion must surface as itself; lying
    dimension fields are bounded by explicit pixel caps instead."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (AttributeError, IndexError, KeyError, TypeError,
                RecursionError, ArithmeticError) as e:
            raise ValueError(
                f"malformed PDF ({type(e).__name__}: {e})"
            ) from e

    return wrapper


#: canvas / image-dimension hard cap: 2^28 px (~268 MP, 800 MB RGB) — far
#: above any 150-DPI scan, far below an allocation that stalls an executor
#: on a lying /Width//Height/MediaBox.
MAX_PIXELS = 1 << 28


@_strict_valueerror
def page_count(raw: bytes) -> int:
    """Number of pages (no rendering — xref + page-tree walk only)."""
    return len(_pages(_Document(raw)))


@_strict_valueerror
def probe_dims(raw: bytes) -> tuple[int, int, int]:
    """``(n_pages, first-page canvas W, H)`` at ``RENDER_DPI`` — header
    walk only, no stream inflation (the metadata-probe analog of
    :func:`page_count` that also surfaces render geometry)."""
    if not raw.startswith(b"%PDF-"):
        raise ValueError("not a PDF: bad header")
    doc = _Document(raw)
    pages = _pages(doc)
    if not pages:
        return 0, 0, 0
    node, attrs = pages[0]
    _x0, _y0, W, H, rot = _canvas_dims(doc, node, attrs,
                                       RENDER_DPI / _POINT_DPI)
    if rot in (90, 270):
        W, H = H, W
    return len(pages), W, H


def _canvas_dims(doc: _Document, node: dict, attrs: dict,
                 scale: float) -> tuple[float, float, int, int, int]:
    """Validated ``(x0, y0, W, H, rotate)`` for a page at ``scale`` —
    shared by the renderer and :func:`.pdftext.validate_hybrid` so the probe
    enforces EXACTLY what rendering enforces (numeric 4-entry MediaBox,
    right-angle /Rotate only, canvas under :data:`MAX_PIXELS`); a probe
    that passes what the renderer refuses would turn a quarantine into a
    silent drop. ``W``/``H`` are PRE-rotation; a 90/270 display swaps
    them (the callers' job, mirroring ``get_pixmap``'s rotated
    output)."""
    mb_raw = doc.get(attrs.get("MediaBox", None) or
                     node.get("MediaBox", None) or [])
    if not isinstance(mb_raw, list) or len(mb_raw) != 4:
        raise ValueError("page has no usable /MediaBox")
    x0, y0, x1, y1 = (float(doc.get(v)) for v in mb_raw)
    rot_raw = doc.get(attrs.get("Rotate", 0)) or 0
    if not isinstance(rot_raw, int) or rot_raw % 90:
        raise ValueError(f"page /Rotate {rot_raw!r} is not a right angle")
    rot = rot_raw % 360
    W = max(1, int(round((x1 - x0) * scale)))
    H = max(1, int(round((y1 - y0) * scale)))
    if W * H > MAX_PIXELS:
        raise ValueError(f"page canvas {W}x{H} exceeds MAX_PIXELS")
    return x0, y0, W, H, rot


def _page_content(doc: _Document, node: dict) -> bytes:
    contents = node.get("Contents")
    resolved = doc.get(contents) if isinstance(contents, _Ref) else contents
    if contents is None:
        return b""
    if isinstance(resolved, list):
        # /Contents may be an array (or a ref to one) of stream refs
        return b"\n".join(doc.get_stream(r)[1] for r in resolved)
    return doc.get_stream(contents)[1]


# --------------------------------------------------------------------------
# page slicing: minimal sub-PDF extraction
# --------------------------------------------------------------------------


def _escape_name(name: str) -> bytes:
    """Serialize a PDF name with #xx escapes (spec 7.3.5)."""
    out = bytearray(b"/")
    for b in name.encode("latin-1"):
        if (b in _WHITESPACE or b in _DELIMS or b == 0x23
                or b < 0x21 or b > 0x7E):
            out += f"#{b:02X}".encode()
        else:
            out.append(b)
    return bytes(out)


def _serialize(val, renum: dict) -> bytes:
    """Serialize a parsed PDF value back to bytes, renumbering every
    indirect reference through ``renum`` (old obj num -> new obj num) —
    the write half of :func:`parse_object`; covers exactly the types the
    parser produces."""
    if isinstance(val, _Ref):
        return f"{renum[val[0]]} 0 R".encode()
    if isinstance(val, _Name):
        return _escape_name(str(val))
    if isinstance(val, bool):
        return b"true" if val else b"false"
    if val is None:
        return b"null"
    if isinstance(val, int):
        return str(val).encode()
    if isinstance(val, float):
        s = repr(val)
        if "e" in s or "E" in s:  # PDF numbers cannot carry exponents
            s = f"{val:.20f}"
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return (s or "0").encode()
    if isinstance(val, bytes):
        return b"<" + val.hex().encode() + b">"
    if isinstance(val, dict):
        parts = [b"<<"]
        for k, v in val.items():
            parts.append(_escape_name(k))
            parts.append(_serialize(v, renum))
        parts.append(b">>")
        return b" ".join(parts)
    if isinstance(val, list):
        return b"[ " + b" ".join(_serialize(v, renum) for v in val) + b" ]"
    raise ValueError(f"unserializable PDF value {type(val).__name__}")


def _xobject_names(content: bytes) -> set[str]:
    """Names painted by ``Do`` operators in a content stream — the keys
    the slicer keeps from the page's (possibly shared) /XObject resource
    dict, so a Pages-level resource dict listing every page's image does
    not defeat the per-bucket size win. Lenient on operators (the
    pipeline validates content separately via
    :func:`.pdftext.validate_hybrid`);
    strict on tokenization."""
    names: set[str] = set()
    operands: list = []
    pos, n = 0, len(content)
    while pos < n:
        pos = _skip_ws(content, pos)
        if pos >= n:
            break
        c = content[pos]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or \
                c == 0x2B or c == 0x2D or c == 0x2E or 0x30 <= c <= 0x39:
            val, pos = parse_object(content, pos)
            operands.append(val)
            continue
        m = _OP_RE.match(content, pos)
        if not m:
            raise ValueError(
                f"unparseable content stream at offset {pos}: "
                f"{content[pos:pos+10]!r}"
            )
        if m.group(0) == b"Do" and operands:
            names.add(str(operands[-1]))
        pos = m.end()
        operands = []
    return names


def _collect_refs(doc: _Document, val, needed: dict) -> None:
    """Transitive closure of indirect references reachable from ``val``
    (insertion-ordered dict-as-set, so output is deterministic)."""
    if isinstance(val, _Ref):
        num = val[0]
        if num in needed:
            return
        needed[num] = None
        obj, _stream = doc._get_with_stream(num)
        _collect_refs(doc, obj, needed)
    elif isinstance(val, dict):
        for v in val.values():
            _collect_refs(doc, v, needed)
    elif isinstance(val, list):
        for v in val:
            _collect_refs(doc, v, needed)


#: sentinel "old" object number for the slice's synthesized /Pages node
#: (real object numbers are non-negative, so negatives cannot collide)
_PAGES_SENTINEL = -1


class _Slicer:
    """Parse a PDF once; emit minimal sub-PDFs for page subsets.

    ``slice(indices)`` builds a standalone classic-xref PDF holding ONLY
    the selected pages: a fresh Catalog/Pages pair, one synthesized page
    object per selected page (inherited MediaBox/Resources materialized,
    /XObject pruned to the names its content actually paints), and the
    transitive closure of objects those pages reference — content and
    image stream bytes copied VERBATIM (still filtered; never inflated).
    Everything else (other pages' streams, annots, metadata) is dropped.

    This is the shuffle-amplification fix for the distributed OCR
    bucket explode (operators/extract_real.py): instead of ⌈pages/K⌉
    full-payload copies crossing the bucket shuffle, each bucket row
    carries ~size·K/pages bytes — the whole document's bytes cross the
    wire ~once in total, like the byte-range reads a cloud-storage
    pipeline would issue.
    """

    @_strict_valueerror
    def __init__(self, raw: bytes):
        if not raw.startswith(b"%PDF-"):
            raise ValueError("not a PDF: bad header")
        self._doc = _Document(raw)
        self._pages = _pages(self._doc)

    @property
    def n_pages(self) -> int:
        return len(self._pages)

    @_strict_valueerror
    def slice(self, page_indices) -> bytes:
        doc = self._doc
        try:
            sel = [self._pages[i] for i in page_indices]
        except IndexError as e:
            raise ValueError(
                f"page index out of range (document has {len(self._pages)})"
            ) from e
        if not sel:
            raise ValueError("cannot slice zero pages")
        page_dicts: list[dict] = []
        needed: dict[int, None] = {}
        for node, attrs in sel:
            mb_raw = doc.get(attrs.get("MediaBox", None)
                             or node.get("MediaBox", None) or [])
            if not isinstance(mb_raw, list) or len(mb_raw) != 4:
                raise ValueError("page has no usable /MediaBox")
            mb = [doc.get(v) for v in mb_raw]
            if not all(isinstance(v, (int, float)) for v in mb):
                raise ValueError("page has no usable /MediaBox")
            rot_raw = doc.get(attrs.get("Rotate", 0)) or 0
            if not isinstance(rot_raw, int) or rot_raw % 90:
                raise ValueError(
                    f"page /Rotate {rot_raw!r} is not a right angle"
                )
            resources = doc.get(attrs.get("Resources")
                                or node.get("Resources") or {})
            if not isinstance(resources, dict):
                raise ValueError("page /Resources is not a dictionary")
            used = _xobject_names(_page_content(doc, node))
            new_res: dict = {}
            for cat, val in resources.items():
                if cat == "XObject":
                    xo = doc.get(val)
                    if not isinstance(xo, dict):
                        raise ValueError("/XObject is not a dictionary")
                    val = {n: r for n, r in xo.items() if n in used}
                    missing = used - set(val)
                    if missing:
                        raise ValueError(
                            f"content references unknown XObject {sorted(missing)}"
                        )
                new_res[cat] = val
            pd: dict = {
                "Type": _Name("Page"),
                "Parent": _Ref((_PAGES_SENTINEL, 0)),
                "MediaBox": mb,
                "Resources": new_res,
            }
            if rot_raw % 360:
                pd["Rotate"] = rot_raw % 360
            contents = node.get("Contents")
            if contents is not None:
                pd["Contents"] = contents
            page_dicts.append(pd)
            _collect_refs(doc, new_res, needed)
            _collect_refs(doc, contents, needed)
        # numbering: 1 catalog, 2 pages, 3..2+n page objects, then the
        # closure in first-reachable order
        renum: dict[int, int] = {_PAGES_SENTINEL: 2}
        for i in range(len(sel)):
            renum[-(2 + i)] = 3 + i
        base = 3 + len(sel)
        for j, old in enumerate(needed):
            renum[old] = base + j
        catalog = {"Type": _Name("Catalog"),
                   "Pages": _Ref((_PAGES_SENTINEL, 0))}
        pages_node = {
            "Type": _Name("Pages"),
            "Kids": [_Ref((-(2 + i), 0)) for i in range(len(sel))],
            "Count": len(sel),
        }
        out = bytearray(b"%PDF-1.4\n")
        offsets: dict[int, int] = {}

        def emit(num: int, body: bytes) -> None:
            offsets[num] = len(out)
            out.extend(f"{num} 0 obj\n".encode())
            out.extend(body)
            out.extend(b"\nendobj\n")

        emit(1, _serialize(catalog, renum))
        emit(2, _serialize(pages_node, renum))
        for i, pd in enumerate(page_dicts):
            emit(3 + i, _serialize(pd, renum))
        for old in needed:
            obj, rawstream = doc._get_with_stream(old)
            if rawstream is not None:
                d = dict(obj)
                d["Length"] = len(rawstream)  # resolve indirect /Length
                body = (_serialize(d, renum) + b"\nstream\n" + rawstream
                        + b"\nendstream")
            else:
                body = _serialize(obj, renum)
            emit(renum[old], body)
        n = base + len(needed)
        xref_pos = len(out)
        out.extend(f"xref\n0 {n}\n".encode())
        out.extend(b"0000000000 65535 f \n")
        for num in range(1, n):
            out.extend(f"{offsets[num]:010d} 00000 n \n".encode())
        out.extend(
            f"trailer\n<< /Size {n} /Root 1 0 R >>\n"
            f"startxref\n{xref_pos}\n%%EOF".encode()
        )
        return bytes(out)


@_strict_valueerror
def slice_pages(raw: bytes, page_indices) -> bytes:
    """Minimal standalone sub-PDF holding only ``page_indices`` (0-based;
    the slice's pages are in the given order). ``decode_pdf(slice_pages(
    raw, idx))`` is pixel-identical to ``decode_pdf(raw, page_indices=
    idx)`` (test-pinned). For repeated slices of one document, build a
    :class:`_Slicer` once instead."""
    return _Slicer(raw).slice(page_indices)


@_strict_valueerror
def decode_pdf(
    raw: bytes,
    dpi: int = RENDER_DPI,
    page_indices: "list[int] | None" = None,
    mode: str = "RGB",
) -> list[np.ndarray]:
    """Scanned-PDF bytes -> list of uint8 page rasters at ``dpi``
    (``mode="RGB"``: HxWx3; ``mode="L"``: HxW PIL-``convert("L")`` luma).

    Geometry parity with the reference's ``page.get_pixmap(dpi=150)``
    (``ocr_tasks.py:47``): canvas = ``round(MediaBox * dpi/72)``, white
    background, images resampled into their placement rectangles with the
    engine's deterministic area kernel. Unsupported constructs raise
    ``ValueError`` (see module docstring for the exact subset).

    ``page_indices`` renders only the selected 0-based pages (in the given
    order) — the distributed-OCR bucket path decodes a page *range* per
    task without rasterizing the whole document (xref means only the
    selected pages' streams are ever inflated).

    ``mode="L"`` is not post-hoc: gray samples stay 2-D through decode,
    resample and paste (no gray->RGB stack, no RGB canvas, no luma
    reduction afterwards — ~25 ms/page saved at scan resolution), and is
    exactly ``rgb_to_gray`` of the RGB render (test-pinned).
    """
    if mode not in ("RGB", "L"):
        raise ValueError(f"mode must be 'RGB' or 'L', got {mode!r}")
    gray = mode == "L"
    if not raw.startswith(b"%PDF-"):
        raise ValueError("not a PDF: bad header")
    doc = _Document(raw)
    scale = dpi / _POINT_DPI
    page_nodes = _pages(doc)
    if page_indices is not None:
        try:
            page_nodes = [page_nodes[i] for i in page_indices]
        except IndexError as e:
            raise ValueError(
                f"page index out of range (document has {len(page_nodes)})"
            ) from e
    return [_render_page_node(doc, node, attrs, scale, gray)
            for node, attrs in page_nodes]


def _render_page_node(doc: _Document, node: dict, attrs: dict,
                      scale: float, gray: bool) -> np.ndarray:
    """Rasterize ONE page-tree node at ``scale`` — the per-page body of
    :func:`decode_pdf`, factored out so the hybrid text-layer path
    (:mod:`.pdftext`) can render the scanned pages of a mixed document
    through the identical code."""
    x0, y0, W, H, rot = _canvas_dims(doc, node, attrs, scale)
    canvas = np.full((H, W) if gray else (H, W, 3), 255, np.uint8)
    resources = doc.get(attrs.get("Resources") or node.get("Resources") or {})
    content = _page_content(doc, node)
    for ctm, xd, xbytes in _content_images(doc, content, resources):
        a, b, c, dctm, e, f = ctm
        if abs(b) > 1e-9 or abs(c) > 1e-9:
            raise ValueError(
                "rotated/sheared image placement unsupported "
                "(axis-aligned scanned pages only)"
            )
        img = _decode_image(doc, xd, xbytes, gray=gray)
        # unit square -> device rect (PDF y-up, raster y-down)
        dx0 = (min(e, e + a) - x0) * scale
        dx1 = (max(e, e + a) - x0) * scale
        dy_top = H - (max(f, f + dctm) - y0) * scale
        dy_bot = H - (min(f, f + dctm) - y0) * scale
        px0, px1 = int(round(dx0)), int(round(dx1))
        py0, py1 = int(round(dy_top)), int(round(dy_bot))
        tw, th = px1 - px0, py1 - py0
        if tw <= 0 or th <= 0:
            continue  # degenerate placement: nothing visible
        img = _resize_img(img, tw, th)
        if gray and img.ndim == 3:
            # color source on the luma canvas: convert AFTER the
            # resample so mode="L" == rgb_to_gray(mode="RGB") exactly
            img = rgb_to_gray(img)
        if a < 0:
            img = img[:, ::-1]
        if dctm < 0:
            img = img[::-1]
        # clip to canvas
        sx0, sy0 = max(0, -px0), max(0, -py0)
        cx0, cy0 = max(0, px0), max(0, py0)
        cx1, cy1 = min(W, px1), min(H, py1)
        if cx1 <= cx0 or cy1 <= cy0:
            continue
        src = img[sy0:sy0 + (cy1 - cy0), sx0:sx0 + (cx1 - cx0)]
        if doc.get(xd.get("ImageMask", False)):
            # stencil: unmarked samples are TRANSPARENT — composite
            # black ink with min(), never overwrite with white
            np.minimum(canvas[cy0:cy1, cx0:cx1], src,
                       out=canvas[cy0:cy1, cx0:cx1])
        else:
            canvas[cy0:cy1, cx0:cx1] = src
    if rot:
        # /Rotate is CLOCKWISE display rotation (PDF 7.7.3.3);
        # np.rot90 is counterclockwise, hence the negative turns
        canvas = np.ascontiguousarray(np.rot90(canvas, k=-rot // 90))
    return canvas
