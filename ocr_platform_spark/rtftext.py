"""RTF extraction — the legacy desktop/email long tail.

RTF has a real magic (``{\\rtf``), so :func:`..formats.sniff_kind`
names it directly. The format is a token stream: groups in ``{}``,
control words (``\\par``, ``\\u1234``), control symbols (``\\'e9``),
and plain text. This module is a strict single-pass tokenizer with a
destination-group skip list — the fidelity-critical subset for text
extraction, with every ambiguous construct refused loudly (the
quarantine posture every other tier follows):

* **Destinations skipped whole**: font/color/style tables, ``\\info``,
  pictures/objects, headers/footers/footnotes, and ANY group opening
  with ``\\*`` (the RTF spec's own "ignore if unknown destination"
  marker — exactly what conforming readers do).
* **Characters**: ``\\'hh`` bytes decode via the declared
  ``\\ansicpg`` (cp1252/ascii family only — any other declared
  codepage quarantines rather than guessing, the same no-mojibake rule
  as the HTML tier); ``\\uN`` emits the code point and skips the
  following ``\\ucN`` fallback characters; ``\\~`` is a space,
  ``\\_`` a hyphen, ``\\-`` empty; ``\\\\ \\{ \\}`` are literals.
* **Structure**: ``\\par``/``\\sect``/``\\page`` end a paragraph,
  ``\\line`` breaks a line inside one, ``\\tab``/``\\cell`` become
  spaces and ``\\row`` ends the row's paragraph. ``\\binN`` payloads
  are skipped by byte count (raw bytes, not RTF tokens).
* **Quarantine**: not starting with ``{\\rtf``, unbalanced groups,
  truncated ``\\'`` escapes, non-cp1252 codepages, undecodable bytes.

Block model: paragraphs on one reflowable page, the shared
strip-lines-join-``\\n`` normalization (``\\line`` maps 1:1 onto a
multi-line OCR block's internal breaks, like ``<br>``/``w:br``).
"""

from __future__ import annotations

import re

from .plaintext import TextParagraph

MAGIC_RTF = b"{\\rtf"

#: destination control words whose whole group is non-flow content
_SKIP_DESTINATIONS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "footnote", "annotation", "xe", "tc",
    "field",  # field INSTRUCTIONS; the result destination is unmarked
    "themedata", "colorschememapping", "datastore", "latentstyles",
    "listtable", "listoverridetable", "revtbl", "rsidtbl", "generator",
}
#: declared codepages this tier will decode (the no-mojibake rule:
#: everything else quarantines)
_CODEPAGES = {0: "cp1252", 1252: "cp1252", 20127: "ascii", 65001: "utf-8"}

_CW_RE = re.compile(rb"([a-zA-Z]{1,32})(-?[0-9]{1,10})? ?")


def _decode_hex(raw: bytes, i: int, codec: str) -> tuple[str, int]:
    if i + 2 > len(raw):
        raise ValueError("truncated \\' hex escape")
    try:
        return bytes([int(raw[i:i + 2], 16)]).decode(codec), i + 2
    except (UnicodeDecodeError, ValueError) as e:
        raise ValueError(f"bad \\' escape at byte {i}: {e}") from e


#: picture wrapper destinations the parts walk looks inside (Word wraps
#: every picture as ``{\*\shppict{\pict ...}}``; the ``\nonshppict``
#: WMF fallback stays skipped so shapes never double-count)
_PICT_WRAPPERS = {"shppict"}

#: ``\pict`` type control word -> sniffable payload content type; every
#: other blip type (wmetafile/emfblip/...) is the unsupported-vector
#: subset, skipped exactly like EMF inside DOCX
_PICT_TYPES = {"pngblip": "image/png", "jpegblip": "image/jpeg"}

_HEX_RUN_RE = re.compile(rb"[0-9a-fA-F\s]*\Z")


def extract_paragraphs(
    raw: bytes, _parts: "list | None" = None
) -> list[TextParagraph]:
    """RTF bytes -> paragraph blocks (strict; ``ValueError`` on every
    malformed construct — the probe/quarantine contract).

    ``_parts`` (internal, :func:`document_parts`): collect the e-mail
    tier's part shape instead — embedded ``\\pict`` groups whose type is
    PNG/JPEG become ``("media", ctype, name, payload)`` entries that
    SPLIT the surrounding paragraph, exactly like the DOCX walk."""
    if not raw.startswith(MAGIC_RTF):
        raise ValueError("not an RTF payload (no {\\rtf magic)")
    codec = "cp1252"  # RTF default target for \ansi documents
    out: list[TextParagraph] = []
    parts: list[str] = []  # current paragraph accumulator
    n_para = 0

    def _flush() -> None:
        nonlocal n_para
        body = "".join(parts)
        parts.clear()
        text = "\n".join(
            line.strip() for line in body.split("\n") if line.strip()
        )
        if text:
            out.append(TextParagraph(n_para, text))
            if _parts is not None:
                _parts.append(("text", n_para, text))
        n_para += 1

    # active \pict capture: {"depth": group depth of the pict group,
    # "ctype": declared blip type, "hex": hex fragments, "bin": raw
    # bytes from \binN, "skip": nested-subgroup depth to ignore}
    pict: "dict | None" = None

    def _finish_pict() -> None:
        nonlocal pict, n_para
        assert pict is not None
        ctype = pict["ctype"]
        payload = pict["bin"]
        if payload is None:
            hexdata = b"".join(pict["hex"])
            hexdata = re.sub(rb"\s+", b"", hexdata)
            if len(hexdata) % 2:
                raise ValueError("odd-length \\pict hex data")
            payload = bytes.fromhex(hexdata.decode("ascii"))
        pict = None
        if ctype is None or not payload:
            return  # unsupported blip type (vector subset) or empty
        _flush()
        assert _parts is not None
        _parts.append(("media", ctype, f"pict{n_para}", payload))
        n_para += 1

    i, n = 0, len(raw)
    depth = 0
    skip_until_depth = None  # inside a skipped destination group
    uc_counts = [1]  # \ucN per group (inherited on push)
    pending_uc_skip = 0  # fallback chars to swallow after \uN
    pending_high = None  # high surrogate awaiting its \uN low half
    just_opened = False  # at a group start: \* marks a destination

    def _emit_u(cp: int) -> None:
        # RTF \uN is UTF-16: astral chars arrive as surrogate pairs
        nonlocal pending_high
        if 0xD800 <= cp <= 0xDBFF:
            if pending_high is not None:
                raise ValueError("two consecutive high surrogates in \\u")
            pending_high = cp
            return
        if 0xDC00 <= cp <= 0xDFFF:
            if pending_high is None:
                raise ValueError("lone low surrogate in \\u")
            parts.append(chr(0x10000 + ((pending_high - 0xD800) << 10)
                             + (cp - 0xDC00)))
            pending_high = None
            return
        if pending_high is not None:
            raise ValueError("high surrogate not followed by low in \\u")
        parts.append(chr(cp))

    while i < n:
        c = raw[i:i + 1]
        if c == b"{":
            depth += 1
            uc_counts.append(uc_counts[-1])
            just_opened = True
            i += 1
            continue
        if c == b"}":
            depth -= 1
            if depth < 0:
                raise ValueError("unbalanced RTF groups: stray '}'")
            uc_counts.pop()
            if skip_until_depth is not None and depth < skip_until_depth:
                skip_until_depth = None
            if pict is not None and depth < pict["depth"]:
                _finish_pict()
            just_opened = False
            i += 1
            continue
        if c == b"\\":
            i += 1
            if i >= n:
                raise ValueError("truncated control at end of input")
            sym = raw[i:i + 1]
            if sym == b"*" and just_opened:
                if _parts is not None and skip_until_depth is None \
                        and raw[i + 1:i + 2] == b"\\":
                    m = _CW_RE.match(raw, i + 2)
                    if m is not None and m.group(1).decode("ascii") \
                            in _PICT_WRAPPERS:
                        # picture wrapper: look inside instead of the
                        # usual unknown-destination skip
                        i += 1
                        just_opened = False
                        continue
                # unknown-destination marker: skip this whole group
                if skip_until_depth is None:
                    skip_until_depth = depth
                i += 1
                just_opened = False
                continue
            just_opened = False
            if sym == b"'":
                ch, i = _decode_hex(raw, i + 1, codec)
                if skip_until_depth is None and pict is None:
                    if pending_uc_skip:
                        pending_uc_skip -= 1
                    else:
                        parts.append(ch)
                continue
            if not sym.isalpha():
                # control symbol
                i += 1
                if skip_until_depth is not None or pict is not None:
                    continue
                if pending_uc_skip and sym not in b"{}\\":
                    continue
                if sym in (b"\\", b"{", b"}"):
                    if pending_uc_skip:
                        pending_uc_skip -= 1
                    else:
                        parts.append(sym.decode("ascii"))
                elif sym == b"~":
                    parts.append(" ")
                elif sym == b"_":
                    parts.append("-")
                # \- (optional hyphen) and others: no visible text
                continue
            m = _CW_RE.match(raw, i)
            if m is None:
                raise ValueError(f"malformed control word at byte {i}")
            word = m.group(1).decode("ascii")
            param = int(m.group(2)) if m.group(2) is not None else None
            i = m.end()
            if pict is not None:
                # inside a captured \pict group: the type word and the
                # optional \binN payload matter, formatting words don't
                if word == "bin":
                    nbytes = max(0, param or 0)
                    pict["bin"] = raw[i:i + nbytes]
                    i += nbytes
                elif word in _PICT_TYPES and depth == pict["depth"]:
                    pict["ctype"] = _PICT_TYPES[word]
                continue
            if word == "bin":
                i += max(0, param or 0)  # raw bytes, not RTF tokens
                continue
            if word == "ansicpg":
                codec = _CODEPAGES.get(param)
                if codec is None:
                    raise ValueError(
                        f"unsupported RTF codepage {param} — refusing "
                        "to guess (mojibake)"
                    )
                continue
            if skip_until_depth is not None:
                continue
            if word in _SKIP_DESTINATIONS:
                if word == "pict" and _parts is not None:
                    # parts mode: capture the picture instead of
                    # skipping its group
                    pict = {"depth": depth, "ctype": None,
                            "hex": [], "bin": None}
                    continue
                # destination group: ignore everything to its close
                skip_until_depth = depth
                continue
            if word == "uc":
                uc_counts[-1] = max(0, param or 0)
            elif word == "u":
                cp = param if param is not None else 0
                if cp < 0:
                    cp += 65536
                _emit_u(cp)
                # a new \u starts its own fallback window (fallbacks
                # are plain-text/\'hh chars, never another \u)
                pending_uc_skip = uc_counts[-1]
            elif word in ("par", "sect", "page", "row"):
                _flush()
            elif word == "line":
                parts.append("\n")
            elif word in ("tab", "cell", "emspace", "enspace"):
                parts.append(" ")
            elif word in ("emdash",):
                parts.append("—")
            elif word in ("endash",):
                parts.append("–")
            elif word in ("lquote",):
                parts.append("\u2018")
            elif word in ("rquote",):
                parts.append("\u2019")
            elif word in ("ldblquote",):
                parts.append("\u201c")
            elif word in ("rdblquote",):
                parts.append("\u201d")
            elif word in ("bullet",):
                parts.append("\u2022")
            # every other control word is formatting: no visible text
            continue
        # plain text run (up to the next control/group byte); literal
        # CR/LF in RTF source are NOT text (only \par/\line are)
        j = i
        while j < n and raw[j:j + 1] not in (b"\\", b"{", b"}"):
            j += 1
        if pict is not None:
            if depth == pict["depth"]:
                chunk = raw[i:j]
                if not _HEX_RUN_RE.match(chunk):
                    raise ValueError("non-hex data in \\pict group")
                pict["hex"].append(chunk)
            # nested subgroup content (\*\picprop etc.) carries no
            # picture bytes: ignored
        elif skip_until_depth is None:
            try:
                run = raw[i:j].replace(b"\r", b"").replace(b"\n", b"") \
                    .decode(codec)
            except UnicodeDecodeError as e:
                raise ValueError(f"undecodable text run: {e}") from e
            if pending_uc_skip:
                drop = min(pending_uc_skip, len(run))
                run = run[drop:]
                pending_uc_skip -= drop
            if run:
                parts.append(run)
        just_opened = False
        i = j

    if depth != 0:
        raise ValueError(f"unbalanced RTF groups: {depth} unclosed")
    if pending_high is not None:
        raise ValueError("high surrogate not followed by low in \\u")
    _flush()
    return out


def document_parts(raw: bytes) -> list[tuple]:
    """RTF bytes -> ordered span-shaped parts (the office part shape,
    cf. :func:`..docxtext.document_parts`): ``("text", pos, text)`` per
    paragraph run and ``("media", content_type, name, payload)`` per
    embedded PNG/JPEG ``\\pict`` (hex or ``\\binN`` data; Word's
    ``{\\*\\shppict{\\pict ...}}`` wrapper is looked inside, the
    ``\\nonshppict`` WMF fallback stays skipped so shapes never
    double-count). An inline picture splits its paragraph's text around
    itself. Unsupported blip types (WMF/EMF vectors) contribute
    nothing — the same documented subset as the DOCX walk."""
    parts: list = []
    extract_paragraphs(raw, _parts=parts)
    return parts


# --- minimal writer (tests / fixtures) ---------------------------------------


def _encode_text(text: str) -> str:
    enc: list[str] = []
    for ch in text:
        if ch == "\n":
            enc.append("\\line ")
        elif ch in "\\{}":
            enc.append("\\" + ch)
        elif ord(ch) < 128:
            enc.append(ch)
        elif ord(ch) > 0xFFFF:
            # UTF-16 surrogate pair, one \uN per half
            cp = ord(ch) - 0x10000
            hi = 0xD800 + (cp >> 10) - 65536
            lo = 0xDC00 + (cp & 0x3FF) - 65536
            enc.append(f"\\u{hi}?\\u{lo}?")
        else:
            cp = ord(ch)
            if cp > 0x7FFF:
                cp -= 65536
            enc.append(f"\\u{cp}?")
    return "".join(enc)


def encode_rtf(paragraphs: list[str]) -> bytes:
    r"""Minimal valid RTF: one ``\par``-terminated paragraph per entry,
    internal ``\n``s as ``\line``, non-ASCII as ``\uN`` with a ``?``
    fallback (the most interoperable spelling)."""
    body = [_encode_text(t) + "\\par\n" for t in paragraphs]
    doc = ("{\\rtf1\\ansi\\ansicpg1252\\deff0"
           "{\\fonttbl{\\f0 Times New Roman;}}\n"
           + "".join(body) + "}")
    return doc.encode("ascii")


def encode_rtf_with_media(items: list) -> bytes:
    r"""":func:`encode_rtf` plus embedded pictures, mirroring the DOCX
    writer: ``str`` entries are paragraphs, ``bytes`` entries a
    paragraph holding one Word-shaped ``{\*\shppict{\pict\pngblip
    <hex>}}`` picture (type from the payload's sniffed codec), and
    ``(before, payload, after)`` an inline picture between two text
    runs of one paragraph."""
    from . import formats

    def _pict(payload: bytes) -> str:
        blip = {"png": "pngblip", "jpeg": "jpegblip"}.get(
            formats.sniff_kind(bytes(payload)), "pngblip")
        hexdata = bytes(payload).hex()
        wrapped = "\n".join(hexdata[i:i + 120]
                            for i in range(0, len(hexdata), 120))
        return "{\\*\\shppict{\\pict\\" + blip + " " + wrapped + "}}"

    body: list[str] = []
    for item in items:
        if isinstance(item, (bytes, bytearray)):
            body.append(_pict(bytes(item)) + "\\par\n")
        elif isinstance(item, tuple):
            before, payload, after = item
            body.append(_encode_text(before) + _pict(bytes(payload))
                        + _encode_text(after) + "\\par\n")
        else:
            body.append(_encode_text(item) + "\\par\n")
    doc = ("{\\rtf1\\ansi\\ansicpg1252\\deff0"
           "{\\fonttbl{\\f0 Times New Roman;}}\n"
           + "".join(body) + "}")
    return doc.encode("ascii")
