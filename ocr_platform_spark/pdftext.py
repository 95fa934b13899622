"""Born-digital PDF text-layer extraction — the OCR *bypass* tier.

The reference OCRs every uploaded PDF unconditionally
(``apps/worker/app/tasks/ocr_tasks.py:34-55`` rasterizes with fitz and
runs detect+recognize on the pixels). At 100 TB that is the single
largest avoidable cost in the pipeline: a large fraction of real-world
PDFs are born-digital (or OCR'd upstream) and already carry their text
in content-stream show operators. This module parses that text layer
directly — no rasterization, no detect, no recognize — and emits the
same ``BLOCK``-shaped rows as the OCR path, so
:func:`..operators.extract.extract_documents` dispatches PER
PAGE: pages with a text layer are parsed (~10-100x cheaper than OCR),
scanned pages fall through to the raster+OCR path, and both kinds of
page assemble into one document span array through the shared
:func:`..operators.extract.assemble_spans`.

Supported subset (everything outside it raises ``ValueError`` at the
probe, so unsupported documents quarantine with a triage row instead of
extracting silently-wrong text):

* simple 1-byte fonts (``/Type1``, ``/TrueType``, ``/MMType1``) and
  composite ``/Type0`` with ``/Encoding /Identity-H`` + ``/ToUnicode``
  — the dominant born-digital class (every embedded-TrueType producer
  emits one): 2-byte big-endian codes, code == CID, widths from the
  descendant CIDFont's ``/W``+``/DW``. Type0 WITHOUT ``/ToUnicode``
  (opaque glyph ids), non-Identity CMaps, Identity-V (vertical
  layout) and ``/Type3`` (procedure glyph) fonts are refused — mapping
  them without the font program risks silent mojibake, the one failure
  mode this engine never allows.
* character decode precedence: ``/ToUnicode`` CMap if present, else
  ``/Encoding`` (``WinAnsiEncoding`` / ``MacRomanEncoding``
  / ``StandardEncoding`` by name, or a dictionary with ``/BaseEncoding``
  + ``/Differences`` over an Adobe-glyph-list subset), else the font
  default ``StandardEncoding``. An unmapped code raises — never ``?``.
* axis-aligned text (text-space * CTM with no rotation/shear term);
  page-level ``/Rotate`` right angles are honored by transforming the
  emitted boxes exactly as the raster path rotates its canvas.
* text state: the full positioning set (``BT ET Td TD Tm T* TL``),
  spacing (``Tc Tw Tz Ts``), fonts (``Tf``), all four show operators
  (``Tj TJ ' "``). Render mode ``Tr 3`` (invisible) is EXTRACTED on
  purpose: that is precisely how upstream OCR engines embed their text
  layer over the scan image.
* images and vector paths on a *text* page are inert for extraction
  (they are not text); a page with NO show operators at all is a
  *scanned* page and takes the raster+OCR path, where the strict
  scanned-subset validation applies unchanged. A page carrying a text
  OBJECT but no show operator (``BT … ET`` that never shows) is NOT
  claimed by the text tier — it falls to the scanned contract, which
  refuses ``BT``: quarantining a degenerate producer beats guessing
  whether its empty text object was meant to carry the page's content.

Line/block assembly: show-op runs are merged on a shared baseline
(|dy| <= ``BASELINE_TOL_PX``) — a gap under ``JOIN_GAP_EM`` em
concatenates (TJ kerning splits), a gap under ``SPACE_GAP_EM`` em joins
with a single space (word gaps written as pen moves), anything wider
stays a separate block (columns). Blocks then carry detection-shaped
boxes (x1 = run start, y1 = baseline - ascent) in the SAME 150-DPI
device pixel space the raster path renders into, so reading order
(y, x) is directly comparable between text-layer and OCR blocks of the
same document.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import pdfcodec
from .pdfcodec import (
    _OP_RE,
    _Document,
    _Name,
    _POINT_DPI,
    _canvas_dims,
    _content_images,
    _expand_inline_dict,
    _image_plan,
    _inline_image_data,
    _page_content,
    _pages,
    _render_page_node,
    _skip_ws,
    _strict_valueerror,
    parse_object,
)

RENDER_DPI = pdfcodec.RENDER_DPI

#: runs on the same baseline merge when |dy| is under this (device px)
BASELINE_TOL_PX = 0.5
#: pen gap <= this many em: same word split by kerning — concatenate
JOIN_GAP_EM = 0.15
#: pen gap <= this many em: word gap — join with one space
SPACE_GAP_EM = 1.2
#: box ascent/descent when the font has no /FontDescriptor metrics
DEFAULT_ASCENT = 0.8
DEFAULT_DESCENT = 0.2
#: glyph width (per-mille em) when /Widths is absent or out of range
DEFAULT_WIDTH = 500.0


# --------------------------------------------------------------------------
# encodings and the Adobe-glyph-list subset
# --------------------------------------------------------------------------

def _codec_table(codec: str) -> dict[int, str]:
    table: dict[int, str] = {}
    for c in range(32, 256):
        try:
            table[c] = bytes([c]).decode(codec)
        except UnicodeDecodeError:
            pass
    return table


WIN_ANSI = _codec_table("cp1252")
MAC_ROMAN = _codec_table("mac_roman")

#: Adobe StandardEncoding: ASCII with the two typographic quotes, plus
#: the defined upper region (PDF spec Appendix D.2, StandardEncoding
#: column). Codes absent here are undefined in the encoding.
STANDARD = {c: chr(c) for c in range(32, 127)}
STANDARD[39] = "’"  # quoteright
STANDARD[96] = "‘"  # quoteleft
STANDARD.update({
    161: "¡", 162: "¢", 163: "£", 164: "⁄",
    165: "¥", 166: "ƒ", 167: "§", 168: "¤",
    169: "'", 170: "“", 171: "«", 172: "‹",
    173: "›", 174: "ﬁ", 175: "ﬂ", 177: "–",
    178: "†", 179: "‡", 180: "·", 182: "¶",
    183: "•", 184: "‚", 185: "„", 186: "”",
    187: "»", 188: "…", 189: "‰", 191: "¿",
    193: "`", 194: "´", 195: "ˆ", 196: "˜",
    197: "¯", 198: "˘", 199: "˙", 200: "¨",
    202: "˚", 203: "¸", 205: "˝", 206: "˛",
    207: "ˇ", 208: "—", 225: "Æ", 227: "ª",
    232: "Ł", 233: "Ø", 234: "Œ", 235: "º",
    241: "æ", 245: "ı", 248: "ł", 249: "ø",
    250: "œ", 251: "ß",
})

_BASE_ENCODINGS = {
    "WinAnsiEncoding": WIN_ANSI,
    "MacRomanEncoding": MAC_ROMAN,
    "StandardEncoding": STANDARD,
}

#: Adobe-glyph-list subset for /Differences: every name the three base
#: encodings above can produce, inverted, plus uniXXXX forms. ASCII
#: names first so e.g. "quotesingle" wins over the StandardEncoding
#: aliasing of code 169.
_ASCII_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "fi": "ﬁ", "fl": "ﬂ", "ellipsis": "…",
    "dagger": "†", "daggerdbl": "‡", "section": "§",
    "paragraph": "¶", "periodcentered": "·",
    "germandbls": "ß", "nbspace": " ",
}
_LATIN1_NAMES = {
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "dieresis": "¨", "copyright": "©", "ordfeminine": "ª",
    "guillemotleft": "«", "logicalnot": "¬",
    "registered": "®", "macron": "¯", "degree": "°",
    "plusminus": "±", "acute": "´", "mu": "µ",
    "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "questiondown": "¿", "multiply": "×", "divide": "÷",
}
def _build_glyph_table() -> dict[str, str]:
    """AGL subset: ASCII letters/digits by literal name, the punctuation
    and typographic names above, accented Latin-1 composites derived via
    NFD (``eacute`` = e + acute, the AGL naming rule for this range),
    and the non-composite Latin-1 letters by their AGL names."""
    import unicodedata

    table: dict[str, str] = {}
    for ch in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
        table[ch] = ch
    table.update(_ASCII_NAMES)
    table.update(_LATIN1_NAMES)
    accents = {"̀": "grave", "́": "acute",
               "̂": "circumflex", "̃": "tilde",
               "̈": "dieresis", "̊": "ring",
               "̧": "cedilla"}
    for c in range(0xC0, 0x100):
        base = unicodedata.normalize("NFD", chr(c))
        if len(base) == 2 and base[1] in accents:
            table[base[0] + accents[base[1]]] = chr(c)
    table.update({"AE": "Æ", "ae": "æ", "Eth": "Ð", "eth": "ð",
                  "Thorn": "Þ", "thorn": "þ", "Oslash": "Ø",
                  "oslash": "ø", "OE": "Œ", "oe": "œ", "Lslash": "Ł",
                  "lslash": "ł", "dotlessi": "ı", "florin": "ƒ"})
    return table


GLYPH_TO_UNI = _build_glyph_table()

_UNI_NAME_RE = re.compile(r"^uni([0-9A-Fa-f]{4})$|^u([0-9A-Fa-f]{4,6})$")


def _glyph_to_unicode(name: str) -> str:
    got = GLYPH_TO_UNI.get(name)
    if got is not None:
        return got
    m = _UNI_NAME_RE.match(name)
    if m:
        return chr(int(m.group(1) or m.group(2), 16))
    raise ValueError(f"glyph name /{name} outside the supported AGL subset")


# --------------------------------------------------------------------------
# ToUnicode CMap (1-byte codespace)
# --------------------------------------------------------------------------

_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)


def _hex_code(tok: bytes, code_bytes: int = 1) -> int:
    v = int(tok, 16)
    if len(tok) > 2 * max(code_bytes, 2) or v > (1 << 8 * code_bytes) - 1:
        raise ValueError(
            f"ToUnicode source code {tok!r} wider than the font's "
            f"{code_bytes}-byte codespace"
        )
    return v


def _hex_text(tok: bytes) -> str:
    if len(tok) % 4:
        raise ValueError(f"odd UTF-16BE hex run in ToUnicode: {tok!r}")
    return bytes.fromhex(tok.decode("ascii")).decode("utf-16-be")


def parse_tounicode(data: bytes, code_bytes: int = 1) -> dict[int, str]:
    """``/ToUnicode`` CMap -> {code: text}. bfchar and bfrange sections
    only (the subset real producers emit). ``code_bytes`` is the font's
    codespace width: 1 for simple fonts, 2 for Identity-H composite
    fonts (where the code IS the CID); sources wider than the declared
    codespace raise."""
    table: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(data):
        toks = _HEX_RE.findall(m.group(1))
        if len(toks) % 2:
            raise ValueError("unpaired bfchar entry in ToUnicode CMap")
        for src, dst in zip(toks[::2], toks[1::2]):
            table[_hex_code(src, code_bytes)] = _hex_text(dst)
    for m in _BFRANGE_RE.finditer(data):
        body = m.group(1)
        pos = 0
        while True:
            mm = _HEX_RE.search(body, pos)
            if not mm:
                break
            lo = _hex_code(mm.group(1), code_bytes)
            m2 = _HEX_RE.search(body, mm.end())
            if not m2:
                raise ValueError("truncated bfrange in ToUnicode CMap")
            hi = _hex_code(m2.group(1), code_bytes)
            pos = m2.end()
            nxt = _skip_ws(body, pos)
            if nxt < len(body) and body[nxt] == 0x5B:  # [ dst dst ... ]
                end = body.index(b"]", nxt)
                dsts = [_hex_text(t) for t in
                        _HEX_RE.findall(body[nxt:end])]
                if len(dsts) != hi - lo + 1:
                    raise ValueError("bfrange array length mismatch")
                for i, d in enumerate(dsts):
                    table[lo + i] = d
                pos = end + 1
            else:
                m3 = _HEX_RE.search(body, pos)
                if not m3:
                    raise ValueError("truncated bfrange in ToUnicode CMap")
                base = m3.group(1)
                first = _hex_text(base)
                if len(first) != 1:
                    raise ValueError(
                        "bfrange base mapping to a multi-char string"
                    )
                for i in range(hi - lo + 1):
                    table[lo + i] = chr(ord(first) + i)
                pos = m3.end()
    return table


# --------------------------------------------------------------------------
# font model
# --------------------------------------------------------------------------

@dataclass
class _Font:
    decode_map: dict[int, str]
    widths: list[float] | None
    first_char: int
    missing_width: float
    ascent: float    # fraction of em
    descent: float   # fraction of em (positive)
    #: string-code width: 1 (simple fonts) or 2 (Identity-H CID fonts,
    #: big-endian codes; the code IS the CID)
    code_bytes: int = 1
    #: CID -> width (composite fonts' /W); missing_width is then /DW
    width_map: "dict[int, float] | None" = None

    def decode_char(self, code: int) -> str:
        got = self.decode_map.get(code)
        if got is None:
            raise ValueError(
                f"char code {code} unmapped by the font's encoding"
            )
        return got

    def width(self, code: int) -> float:
        if self.width_map is not None:
            return self.width_map.get(code, self.missing_width)
        if self.widths is not None:
            i = code - self.first_char
            if 0 <= i < len(self.widths):
                return self.widths[i]
        return self.missing_width

    def codes(self, s: bytes) -> "list[int] | bytes":
        """Split a show-operator string into character codes per the
        font's codespace width."""
        if self.code_bytes == 1:
            return s
        if len(s) % 2:
            raise ValueError(
                "odd-length show string for a 2-byte CID font"
            )
        return [(s[i] << 8) | s[i + 1] for i in range(0, len(s), 2)]


_SIMPLE_SUBTYPES = {"Type1", "TrueType", "MMType1"}


def _parse_cid_widths(doc: _Document, w) -> dict[int, float]:
    """CIDFont ``/W`` array -> {cid: width}. Two entry forms per PDF
    9.7.4.3: ``c [w1 w2 ...]`` and ``c_first c_last w``."""
    if w is None:
        return {}
    if not isinstance(w, list):
        raise ValueError("CIDFont /W is not an array")
    out: dict[int, float] = {}
    i = 0
    while i < len(w):
        if i + 1 >= len(w):
            raise ValueError("truncated CIDFont /W array")
        c = int(doc.get(w[i]))
        nxt = doc.get(w[i + 1])
        if isinstance(nxt, list):
            if not (0 <= c and c + len(nxt) - 1 <= 0xFFFF):
                raise ValueError(
                    f"CIDFont /W list entry at CID {c} ({len(nxt)} "
                    "widths) leaves the 16-bit CID range"
                )
            for j, ww in enumerate(nxt):
                out[c + j] = float(doc.get(ww))
            i += 2
        else:
            if i + 2 >= len(w):
                raise ValueError("truncated CIDFont /W range entry")
            c2 = int(nxt)
            if not 0 <= c <= c2 <= 0xFFFF:
                raise ValueError(f"CIDFont /W range {c}..{c2} invalid")
            ww = float(doc.get(w[i + 2]))
            for cid in range(c, c2 + 1):
                out[cid] = ww
            i += 3
    return out


def _load_type0_font(doc: _Document, fdict: dict) -> _Font:
    """Composite ``/Type0`` font, the dominant born-digital class
    (every embedded-TrueType producer emits one). Supported subset:
    ``/Encoding /Identity-H`` (2-byte big-endian codes, code == CID)
    WITH a ``/ToUnicode`` CMap — without one the CIDs are opaque glyph
    ids and extracting them would be mojibake, so it quarantines.
    Vertical writing (Identity-V) and embedded CMap streams raise."""
    enc = doc.get(fdict.get("Encoding", None))
    if not isinstance(enc, (str, _Name)) or str(enc) != "Identity-H":
        raise ValueError(
            f"Type0 /Encoding /{doc.get(enc)!s} unsupported "
            "(Identity-H only: other CMaps need code->CID tables, "
            "Identity-V needs vertical layout)"
        )
    tu = fdict.get("ToUnicode")
    if tu is None:
        raise ValueError(
            "Type0 font without /ToUnicode: CIDs are opaque glyph ids "
            "and extracting them would be silent mojibake"
        )
    _d, data = doc.get_stream(tu)
    decode_map = parse_tounicode(data, code_bytes=2)
    desc = doc.get(fdict.get("DescendantFonts", None))
    if isinstance(desc, list) and len(desc) == 1:
        df = doc.get(desc[0])
    else:
        df = None
    if not isinstance(df, dict):
        raise ValueError("Type0 /DescendantFonts is not a 1-element array")
    dw_val = doc.get(df.get("DW", None))
    # /DW 0 is legal (zero-width default glyphs) — only ABSENCE defaults
    dw = 1000.0 if dw_val is None else float(dw_val)
    width_map = _parse_cid_widths(doc, doc.get(df.get("W", None)))
    ascent, descent = _descriptor_metrics(
        doc, doc.get(df.get("FontDescriptor", None)))
    return _Font(decode_map, None, 0, dw, ascent, descent,
                 code_bytes=2, width_map=width_map)


def _descriptor_metrics(doc: _Document, fd) -> tuple[float, float]:
    """``/FontDescriptor`` -> (ascent, descent) em fractions, shared by
    the simple and composite loaders so box heights cannot diverge."""
    ascent, descent = DEFAULT_ASCENT, DEFAULT_DESCENT
    if isinstance(fd, dict):
        asc = doc.get(fd.get("Ascent", None))
        if asc:
            ascent = float(asc) / 1000.0
        dsc = doc.get(fd.get("Descent", None))
        if dsc:
            descent = abs(float(dsc)) / 1000.0
    return ascent, descent


def _load_font(doc: _Document, fdict: dict) -> _Font:
    subtype = str(doc.get(fdict.get("Subtype", "")))
    if subtype == "Type0":
        return _load_type0_font(doc, fdict)
    if subtype not in _SIMPLE_SUBTYPES:
        raise ValueError(
            f"font subtype /{subtype} unsupported (simple 1-byte and "
            "Identity-H composite fonts only: Type3/other text risks "
            "silent mojibake)"
        )
    # decode precedence: ToUnicode, else /Encoding (+Differences)
    decode_map: dict[int, str]
    tu = fdict.get("ToUnicode")
    if tu is not None:
        _d, data = doc.get_stream(tu)
        decode_map = parse_tounicode(data)
    else:
        enc = doc.get(fdict.get("Encoding", None))
        if enc is None:
            decode_map = dict(STANDARD)
        elif isinstance(enc, (str, _Name)):
            table = _BASE_ENCODINGS.get(str(enc))
            if table is None:
                raise ValueError(f"unknown base encoding /{enc}")
            decode_map = dict(table)
        elif isinstance(enc, dict):
            base = enc.get("BaseEncoding")
            if base is not None and str(doc.get(base)) not in _BASE_ENCODINGS:
                raise ValueError(
                    f"unknown base encoding /{doc.get(base)}"
                )
            decode_map = dict(
                _BASE_ENCODINGS[str(doc.get(base))] if base is not None
                else STANDARD
            )
            diffs = doc.get(enc.get("Differences", []))
            if not isinstance(diffs, list):
                raise ValueError("/Differences is not an array")
            code = 0
            for item in diffs:
                item = doc.get(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, (str, _Name)):
                    if not 0 <= code <= 255:
                        raise ValueError(
                            f"/Differences code {code} out of byte range"
                        )
                    decode_map[code] = _glyph_to_unicode(str(item))
                    code += 1
                else:
                    raise ValueError(
                        "unexpected /Differences entry "
                        f"{type(item).__name__}"
                    )
        else:
            raise ValueError("/Encoding is neither a name nor a dictionary")
    widths = None
    first_char = int(doc.get(fdict.get("FirstChar", 0)) or 0)
    w = doc.get(fdict.get("Widths", None))
    if w is not None:
        if not isinstance(w, list):
            raise ValueError("/Widths is not an array")
        widths = [float(doc.get(v)) for v in w]
    missing = DEFAULT_WIDTH
    fd = doc.get(fdict.get("FontDescriptor", None))
    if isinstance(fd, dict):
        mw = doc.get(fd.get("MissingWidth", None))
        if mw is not None:
            missing = float(mw)
    ascent, descent = _descriptor_metrics(doc, fd)
    return _Font(decode_map, widths, first_char, missing, ascent, descent)


# --------------------------------------------------------------------------
# content-stream text interpreter
# --------------------------------------------------------------------------

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mul(m1, m2):
    """Compose: apply ``m1`` then ``m2`` (PDF 8.3.4 row-vector order)."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


@dataclass
class _Run:
    """One shown string in page device space (PDF points, y-up)."""
    x: float          # pen x at the start of the run
    baseline: float   # baseline y (text rise included)
    width: float      # pen advance over the run
    size: float       # font size in device units
    ascent: float
    descent: float
    text: str


class _TextState:
    __slots__ = ("font", "size", "char_spacing", "word_spacing",
                 "h_scale", "leading", "rise", "tm", "tlm")

    def __init__(self):
        self.font: _Font | None = None
        self.size = 0.0
        self.char_spacing = 0.0
        self.word_spacing = 0.0
        self.h_scale = 1.0
        self.leading = 0.0
        self.rise = 0.0
        self.tm = _ID
        self.tlm = _ID


def _page_text_runs(
    doc: _Document, content: bytes, resources: dict
) -> tuple[list[_Run], bool]:
    """Interpret one content stream for text: ``(runs, has_images)``.

    Mirrors :func:`..pdfcodec._content_images`' tokenizer (same
    ``parse_object`` primitives, same inline-image skip) but with the
    text-operator set LIVE and the image/path operators inert — the
    text page's contract is the inverse of the scanned page's.
    """
    fonts_res = doc.get(resources.get("Font", {})) if resources else {}
    if not isinstance(fonts_res, dict):
        raise ValueError("page /Font resource is not a dictionary")
    font_cache: dict[str, _Font] = {}
    ctm = _ID
    stack: list[tuple] = []
    ts = _TextState()
    in_text = False
    runs: list[_Run] = []
    has_images = False
    operands: list = []
    pos, n = 0, len(content)

    def _font_for(name: str) -> _Font:
        f = font_cache.get(name)
        if f is None:
            ref = fonts_res.get(name)
            fd = doc.get(ref)
            if not isinstance(fd, dict):
                raise ValueError(f"content references unknown font /{name}")
            # document-level cache keyed by the indirect reference: every
            # page of a 2,000-page document shares its fonts, and a
            # composite font's load re-parses the ToUnicode CMap and
            # expands /W ranges (up to 65536 entries) — per DOCUMENT,
            # not per page. Inline (non-Ref) font dicts stay per-page.
            doc_cache = getattr(doc, "_pdftext_font_cache", None)
            if doc_cache is None:
                doc_cache = {}
                doc._pdftext_font_cache = doc_cache
            key = ref if isinstance(ref, pdfcodec._Ref) else None
            f = doc_cache.get(key) if key is not None else None
            if f is None:
                f = _load_font(doc, fd)
                if key is not None:
                    doc_cache[key] = f
            font_cache[name] = f
        return f

    def _show(s: bytes) -> None:
        if not in_text:
            raise ValueError("show operator outside BT/ET")
        if ts.font is None:
            raise ValueError("show operator before Tf set a font")
        trm = _mul(ts.tm, ctm)
        a, b, c, d = trm[0], trm[1], trm[2], trm[3]
        if abs(b) > 1e-9 or abs(c) > 1e-9:
            raise ValueError(
                "rotated/sheared text unsupported (axis-aligned text only)"
            )
        if a <= 0 or d <= 0:
            raise ValueError("mirrored text placement unsupported")
        # run start: text-space (0, rise) through Tm x CTM
        x0 = trm[4]
        y0 = ts.rise * d + trm[5]
        size_dev = ts.size * d
        chars = []
        adv = 0.0  # text-space x advance
        for code in ts.font.codes(s):
            chars.append(ts.font.decode_char(code))
            w = ts.font.width(code) / 1000.0 * ts.size + ts.char_spacing
            # PDF 9.3.3: word spacing applies to byte 32 of SINGLE-byte
            # codes only — a 2-byte CID 32 never takes Tw
            if code == 32 and ts.font.code_bytes == 1:
                w += ts.word_spacing
            adv += w * ts.h_scale
        runs.append(_Run(
            x=x0, baseline=y0, width=adv * a, size=size_dev,
            ascent=ts.font.ascent, descent=ts.font.descent,
            text="".join(chars),
        ))
        ts.tm = _mul((1.0, 0.0, 0.0, 1.0, adv, 0.0), ts.tm)

    def _newline(tx: float, ty: float) -> None:
        ts.tlm = _mul((1.0, 0.0, 0.0, 1.0, tx, ty), ts.tlm)
        ts.tm = ts.tlm

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
            # the PDF graphics state includes the text-state parameters
            # (PDF 32000-1 §8.4.2: Tc/Tw/Tz/TL/Tf/Ts all listed) — only
            # Tm/Tlm live outside it (BT resets those); restoring the
            # CTM alone would leave e.g. a Tc set inside q..Q inflating
            # every later advance, splitting blocks at wrong gaps
            stack.append((ctm, ts.font, ts.size, ts.char_spacing,
                          ts.word_spacing, ts.h_scale, ts.leading,
                          ts.rise))
        elif op == "Q":
            if stack:
                (ctm, ts.font, ts.size, ts.char_spacing, ts.word_spacing,
                 ts.h_scale, ts.leading, ts.rise) = stack.pop()
            else:
                ctm = _ID
        elif op == "cm":
            ctm = _mul(tuple(float(v) for v in operands[-6:]), ctm)
        elif op == "BT":
            in_text = True
            ts.tm = ts.tlm = _ID
        elif op == "ET":
            in_text = False
        elif op == "Tf":
            ts.font = _font_for(str(operands[-2]))
            ts.size = float(operands[-1])
        elif op == "Td":
            _newline(float(operands[-2]), float(operands[-1]))
        elif op == "TD":
            ts.leading = -float(operands[-1])
            _newline(float(operands[-2]), float(operands[-1]))
        elif op == "Tm":
            ts.tlm = tuple(float(v) for v in operands[-6:])
            ts.tm = ts.tlm
        elif op == "T*":
            _newline(0.0, -ts.leading)
        elif op == "TL":
            ts.leading = float(operands[-1])
        elif op == "Tc":
            ts.char_spacing = float(operands[-1])
        elif op == "Tw":
            ts.word_spacing = float(operands[-1])
        elif op == "Tz":
            ts.h_scale = float(operands[-1]) / 100.0
        elif op == "Ts":
            ts.rise = float(operands[-1])
        elif op == "Tr":
            pass  # ALL render modes extract, invisible (3) included
        elif op == "Tj":
            _show(bytes(operands[-1]))
        elif op == "'":
            _newline(0.0, -ts.leading)
            _show(bytes(operands[-1]))
        elif op == '"':
            ts.word_spacing = float(operands[-3])
            ts.char_spacing = float(operands[-2])
            _newline(0.0, -ts.leading)
            _show(bytes(operands[-1]))
        elif op == "TJ":
            arr = operands[-1]
            if not isinstance(arr, list):
                raise ValueError("TJ operand is not an array")
            for item in arr:
                if isinstance(item, (bytes, bytearray)):
                    _show(bytes(item))
                elif isinstance(item, (int, float)):
                    # shift pen left by v/1000 em (PDF 9.4.3)
                    shift = -float(item) / 1000.0 * ts.size * ts.h_scale
                    ts.tm = _mul((1.0, 0.0, 0.0, 1.0, shift, 0.0), ts.tm)
                else:
                    raise ValueError(
                        f"TJ array holds a {type(item).__name__}"
                    )
        elif op == "Do":
            has_images = True  # inert: images on a text page are not text
        elif op == "BI":
            has_images = True
            # consume the inline image so its raw data never reaches the
            # tokenizer — identical skip logic to _content_images
            bi_operands: list = []
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
                    bi_operands.append(val)
                    continue
                mm = _OP_RE.match(content, pos)
                if not mm or mm.group(0) != b"ID":
                    raise ValueError("malformed inline image dictionary")
                pos = mm.end()
                break
            d = _expand_inline_dict(bi_operands)
            pos += 1
            _data, pos = _inline_image_data(content, pos, d)
        elif op in pdfcodec._INERT_OPS or op in _TEXT_PAGE_INERT_OPS:
            pass
        else:
            raise ValueError(f"unknown content operator {op!r}")
        operands = []
    return runs, has_images


#: path painting is inert on a TEXT page (vector strokes are not text);
#: on a scanned page the raster path still refuses them — same bytes,
#: different contract, chosen per page by the presence of show ops.
_TEXT_PAGE_INERT_OPS = {
    "S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "sh",
}


# --------------------------------------------------------------------------
# run -> block assembly (device pixel space)
# --------------------------------------------------------------------------

@dataclass
class TextBlock:
    x1: int
    y1: int
    x2: int
    y2: int
    text: str


def _rotate_box(x1, y1, x2, y2, rot, w_px, h_px):
    """Map a pre-rotation pixel box into the displayed canvas, matching
    ``np.rot90(canvas, k=-rot//90)`` (clockwise display rotation)."""
    if rot == 90:
        return h_px - y2, x1, h_px - y1, x2
    if rot == 180:
        return w_px - x2, h_px - y2, w_px - x1, h_px - y1
    if rot == 270:
        return y1, w_px - x2, y2, w_px - x1
    return x1, y1, x2, y2


def runs_to_blocks(
    runs: list[_Run], x0: float, y0: float, w_px: int, h_px: int,
    rot: int, scale: float,
) -> list[TextBlock]:
    """Merge baseline-sharing runs into line blocks; emit boxes in the
    displayed (post-/Rotate) pixel canvas, reading order (y, x)."""
    conv = []
    for r in runs:
        if not r.text.strip():
            continue  # nothing visible: pure-whitespace show op
        conv.append((
            (h_px / scale + y0 - r.baseline) * scale,  # baseline, y-down px
            (r.x - x0) * scale,
            r.width * scale,
            r.size * scale,
            r,
        ))
    conv.sort(key=lambda t: (t[0], t[1]))
    blocks: list[TextBlock] = []
    i = 0
    while i < len(conv):
        by, bx, bw, bsize, r0 = conv[i]
        text = r0.text
        x_end = bx + bw
        size = bsize
        j = i + 1
        while j < len(conv):
            ny, nx, nw, nsize, rn = conv[j]
            if abs(ny - by) > BASELINE_TOL_PX:
                break
            em = max(size, nsize) or 1.0
            gap = nx - x_end
            if gap > SPACE_GAP_EM * em:
                break
            if gap > JOIN_GAP_EM * em:
                text += " " + rn.text
            else:
                text += rn.text
            x_end = max(x_end, nx + nw)
            size = max(size, nsize)
            j += 1
        x1 = int(round(bx))
        x2 = max(x1 + 1, int(round(x_end)))
        y1 = int(round(by - r0.ascent * size))
        y2 = max(y1 + 1, int(round(by + r0.descent * size)))
        rx1, ry1, rx2, ry2 = _rotate_box(x1, y1, x2, y2, rot, w_px, h_px)
        blocks.append(TextBlock(rx1, ry1, rx2, ry2, text))
        i = j
    # displayed-canvas reading order — also what the downstream span
    # assembly sorts on, so block_index never fights the (y1, x1) key
    blocks.sort(key=lambda b: (b.y1, b.x1))
    return blocks


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

def _page_blocks(doc: _Document, node: dict, attrs: dict,
                 scale: float) -> list[TextBlock] | None:
    """``None`` if the page shows no text (scanned page), else its
    text-layer blocks in displayed pixel space."""
    x0, y0, w_px, h_px, rot = _canvas_dims(doc, node, attrs, scale)
    resources = doc.get(attrs.get("Resources") or node.get("Resources")
                        or {})
    if not isinstance(resources, dict):
        raise ValueError("page /Resources is not a dictionary")
    runs, has_images = _page_text_runs(
        doc, _page_content(doc, node), resources
    )
    if not any(r.text.strip() for r in runs):
        # nothing VISIBLE in the text layer. With images present this is
        # a scanned page wearing a whitespace-only (e.g. bad upstream
        # OCR) invisible layer — dispatch to the raster path, where the
        # scanned interpreter refuses the stray show ops LOUDLY
        # (quarantine) rather than this tier silently emitting zero
        # blocks and never OCR'ing the scan. With no images the page is
        # genuinely blank: empty-page passthrough, no raster needed.
        return None if has_images else []
    return runs_to_blocks(runs, x0, y0, w_px, h_px, rot, scale)


@_strict_valueerror
def extract_hybrid_pages(
    raw: bytes,
    page_indices: "list[int] | None" = None,
    dpi: int = RENDER_DPI,
    mode: str = "L",
) -> list[tuple[str, object, int, int]]:
    """Per-page text-layer/raster dispatch over one PDF.

    Returns one ``(kind, payload, page_w_px, page_h_px)`` per selected
    page (dims in the DISPLAYED orientation, /Rotate applied):

    * ``("text", list[TextBlock], w, h)`` — the page has a text layer;
      blocks are line-level, reading-ordered, in the same ``dpi`` pixel
      space a raster render would use. No pixels were produced.
    * ``("image", ndarray, w, h)`` — no show operators: a scanned page,
      rasterized through the exact :func:`..pdfcodec.decode_pdf` per-page
      path (``mode`` semantics included) for the OCR kernels.
    """
    if not raw.startswith(b"%PDF-"):
        raise ValueError("not a PDF: bad header")
    if mode not in ("RGB", "L"):
        raise ValueError(f"mode must be 'RGB' or 'L', got {mode!r}")
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
    out: list[tuple[str, object, int, int]] = []
    for node, attrs in page_nodes:
        _x, _y, w_px, h_px, rot = _canvas_dims(doc, node, attrs, scale)
        if rot in (90, 270):
            w_px, h_px = h_px, w_px
        blocks = _page_blocks(doc, node, attrs, scale)
        if blocks is None:
            img = _render_page_node(doc, node, attrs, scale,
                                    gray=mode == "L")
            out.append(("image", img, w_px, h_px))
        else:
            out.append(("text", blocks, w_px, h_px))
    return out


@_strict_valueerror
def validate_hybrid(raw: bytes) -> tuple[int, int, int]:
    """Probe-time pre-flight for the HYBRID path: ``(n_pages, W0, H0)``.

    Text pages are validated by full text-layer interpretation — fonts
    loaded, every string decoded (text streams are tiny; this costs
    microseconds, not the image-decode CPU the scanned probe avoids) —
    so an unmapped glyph or composite font quarantines at probe time.
    Pages WITHOUT a text layer get the scanned-subset validation
    (what the scanned renderer enforces: every image plan checked,
    vector paint refused). Image samples are never
    inflated on either kind of page.
    """
    if not raw.startswith(b"%PDF-"):
        raise ValueError("not a PDF: bad header")
    doc = _Document(raw)
    pages = _pages(doc)
    scale = RENDER_DPI / _POINT_DPI
    w0 = h0 = 0
    for i, (node, attrs) in enumerate(pages):
        _x, _y, W, H, rot = _canvas_dims(doc, node, attrs, scale)
        if rot in (90, 270):
            W, H = H, W
        if i == 0:
            w0, h0 = W, H
        resources = doc.get(attrs.get("Resources")
                            or node.get("Resources") or {})
        if not isinstance(resources, dict):
            raise ValueError("page /Resources is not a dictionary")
        content = _page_content(doc, node)
        runs, has_images = _page_text_runs(doc, content, resources)
        if any(r.text.strip() for r in runs):
            continue  # text page: interpretation above IS the validation
        if runs:
            # whitespace-only text layer: extract dispatches this to the
            # raster path (see _page_blocks), where the scanned
            # interpreter refuses the show ops — surface that quarantine
            # HERE, at probe time, unless the page is a genuine blank
            # (no images → empty-page passthrough, nothing to validate)
            if has_images:
                raise ValueError(
                    "page shows only whitespace text over images: the "
                    "text layer is empty and the raster path refuses "
                    "show operators"
                )
            continue
        for ctm, xd, _xbytes in _content_images(doc, content, resources):
            if abs(ctm[1]) > 1e-9 or abs(ctm[2]) > 1e-9:
                raise ValueError(
                    "rotated/sheared image placement unsupported "
                    "(axis-aligned scanned pages only)"
                )
            _image_plan(doc, xd)
    return len(pages), w0, h0
