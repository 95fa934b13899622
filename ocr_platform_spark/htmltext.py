"""HTML main-content extraction for the distributed pipeline — the DOM
tier of the north rule's main-content triad ("HTML boilerplate strip,
PDF/layout parse, DOM heuristics").

A media payload that sniffs as HTML (:func:`..formats.sniff_kind` →
``"html"``) is a single reflowable "page" whose content blocks extract
by DOM heuristics instead of raster + OCR — the third dispatch arm of
:func:`..operators.extract.extract_documents`, next to the
scanned raster+OCR path and the born-digital PDF text layer
(:mod:`..pdftext`). The reference has no HTML path at all (it OCRs
uploaded PDFs/images only, ``apps/worker/app/tasks/ocr_tasks.py:36-39``);
this tier exists because a 100 TB interleaved corpus is dominated by web
documents, and parsing them costs microseconds of string work per page
against ~10 ms of raster+detect+recognize.

Block model (shared with :mod:`..functions.html_extract`, which keeps
the readability-style *scored* heuristic for the query surface): every
INNERMOST block element (``p/div/nav/footer/header/article/section``)
in document order. Boilerplate classification here is by **link density
alone** (the boilerpipe-style primary feature): a block whose
anchor-text share is ≥ :data:`LINK_DENSITY_MAX` is navigation/footer
chrome and drops; low-link blocks survive *regardless of length*. The
length × (1 − density) score that ``main_content`` uses for whole-page
summarization would misclassify short content blocks — an OCR-shaped
span can be two characters — so the pipeline tier deliberately does not
weight by length. Deterministic either way; both tiers are pinned
(this one by span-sequence equality with the synthetic flagship in
tests/test_extract_html.py, the scored one by the analytic DuckDB
oracle MAIN_CONTENT_SQL).

Text normalization per block: ``<br>`` becomes a newline (so a block
maps 1:1 onto a multi-line OCR block whose strip texts join with
``\\n``), every other tag becomes a space, character references decode
in ONE pass (numeric + the full HTML5 named table; single-pass, so
doubly-escaped text like ``&amp;lt;`` survives both ways), whitespace collapses
per line — literal source newlines included, which are inter-word
whitespace under HTML rendering rules — and empty lines drop. Geometry: HTML has
none, so blocks carry document character offsets as detection-shaped
boxes (``y1`` = block position, ``x1`` = 0) — monotone in document
order, which is exactly what the downstream ``(page, y1, x1)`` span
sort needs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: innermost-block walk shared with functions/html_extract (single
#: source of truth — the scored query tier imports these back).
#: Tag set: containers + the common content blocks (headings, list
#: items, table cells, quotes, preformatted)
BLOCK_RE = re.compile(
    r"<(p|div|nav|footer|header|article|section"
    r"|h[1-6]|li|blockquote|pre|td|th|dt|dd)\b[^>]*>(.*?)</\1>",
    re.S | re.I,
)
#: subtrees whose CONTENT is never visible text — dropped before the
#: block walk (a <script> inside a content <div> must not leak code
#: into span text, and a commented-out <p> must not extract; both can
#: contain block-like tags inside string literals, so the drop has to
#: happen before any block parsing)
#: the (?=[\s/>]) boundary keeps custom elements (``<script-editor>``,
#: ``<style-guide>``) out of the drop — they are ordinary content tags
DROP_RE = re.compile(
    r"(?s)<script(?=[\s/>])[^>]*>.*?</script>"
    r"|<style(?=[\s/>])[^>]*>.*?</style>|<!--.*?-->",
    re.I,
)
TAG_RE = re.compile(r"<[^>]+>")
LINK_RE = re.compile(r"<a\b[^>]*>(.*?)</a>", re.S | re.I)
WS_RE = re.compile(r"\s+")
_BR_RE = re.compile(r"<br\s*/?\s*>", re.I)
#: <br> placeholder that survives the whitespace collapse (literal
#: newlines in HTML SOURCE are inter-word whitespace, only <br> breaks
#: a line); NUL can't appear in legal HTML text
_BR_SENTINEL = "\x00"

#: a block with ≥ this anchor-text share is boilerplate (nav/footer
#: chrome); the synthetic fixtures sit at nav 0.89 / sidebar 0.61 /
#: footer 0.43 vs content 0.0, all safely away from the boundary
LINK_DENSITY_MAX = 1.0 / 3.0

#: full HTML5 named-entity table (stdlib), semicolon-terminated forms
#: only — legacy semicolonless references ("&amp" bare) stay literal,
#: matching the strict posture everywhere else in this module. Unknown
#: names also stay literal: that is exactly what browsers render.
from html.entities import html5 as _HTML5_ENTITIES

_NAMED_ENTITIES = {
    name[:-1]: expansion
    for name, expansion in _HTML5_ENTITIES.items()
    if name.endswith(";")
}

#: ONE pass over every reference spelling at once. A multi-pass cascade
#: cannot be ordered safely: numeric-first double-decodes "&#38;lt;"
#: (correct rendering: the 4-char "&lt;") and named-first double-decodes
#: "&amp;#65;" — a single scan consumes each "&...;" exactly once, so
#: neither ordering hole exists. The relational tier
#: (functions/html_extract._STRIP_STEPS) keeps its SQL-expressible
#: basic-six cascade; on that subset the two decoders agree.
_ENTITY_RE = re.compile(
    r"&(?:#(?:[xX]([0-9a-fA-F]{1,6})|([0-9]{1,7}))"
    r"|([a-zA-Z][a-zA-Z0-9]*));"
)


def _entity(m: re.Match) -> str:
    if m.group(3) is not None:
        return _NAMED_ENTITIES.get(m.group(3), m.group(0))
    cp = int(m.group(1), 16) if m.group(1) is not None else int(m.group(2))
    # NUL (would collide with the <br> sentinel — HTML5 calls &#0; a
    # parse error), surrogate halves, and beyond-Unicode: keep the
    # literal source text rather than guessing
    if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return m.group(0)
    return chr(cp)


def unescape_entities(s: str) -> str:
    if "&" not in s:
        return s
    return _ENTITY_RE.sub(_entity, s)


def escape_text(s: str) -> str:
    """Inverse of :func:`unescape_entities` (``&`` FIRST going in)."""
    s = s.replace("&", "&amp;")
    for rep, pat in (("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'")):
        s = s.replace(pat, rep)
    return s


def innermost_blocks(html: str, base: int = 0):
    """Yield ``(document_position, inner_html)`` for every INNERMOST
    block element, recursing into containers. Recursion matters:
    ``finditer`` consumes a container match whole, so without descending
    the blocks nested inside (e.g. the ``<p>`` inside
    ``<div class="content">``) would never be visited at all."""
    for m in BLOCK_RE.finditer(html):
        inner = m.group(2)
        if BLOCK_RE.search(inner):
            yield from innermost_blocks(inner, base + m.start(2))
        else:
            yield base + m.start(), inner


@dataclass
class ContentBlock:
    """One visible block: character position + normalized text + the
    anchor-text share its keep/drop classification used."""

    pos: int
    text: str
    link_density: float

    # detection-shaped box for the extraction emitter: document
    # character offsets stand in for pixel geometry — y1 = pos keeps
    # the global (page, y1, x1) span sort in document order
    @property
    def x1(self) -> int:
        return 0

    @property
    def y1(self) -> int:
        return self.pos

    @property
    def x2(self) -> int:
        return max(1, len(self.text))

    @property
    def y2(self) -> int:
        return self.pos + 1


def _visible_text(fragment: str) -> str:
    """Tag-stripped, entity-decoded, whitespace-collapsed text; lines
    come ONLY from ``<br>`` (literal source newlines are inter-word
    whitespace, per HTML rendering rules), empty lines drop."""
    body = unescape_entities(
        TAG_RE.sub(" ", _BR_RE.sub(_BR_SENTINEL, fragment))
    )
    lines = [WS_RE.sub(" ", line).strip()
             for line in body.split(_BR_SENTINEL)]
    return "\n".join(line for line in lines if line)


def content_blocks(html: str) -> list[ContentBlock]:
    """Every innermost block with visible text, in document order
    (positions refer to the script/style/comment-stripped document —
    still monotone, which is all the downstream sort needs)."""
    html = DROP_RE.sub(" ", html)
    out: list[ContentBlock] = []
    for pos, inner in innermost_blocks(html):
        text = _visible_text(inner)
        if not text:
            continue
        link_text = _visible_text(" ".join(LINK_RE.findall(inner)))
        link_len = len(link_text.replace("\n", " "))
        density = link_len / len(text) if text else 1.0
        out.append(ContentBlock(pos, text, density))
    out.sort(key=lambda b: b.pos)
    return out


def main_blocks(html: str) -> list[ContentBlock]:
    """The pipeline keep-rule: link-density boilerplate drop."""
    return [b for b in content_blocks(html)
            if b.link_density < LINK_DENSITY_MAX]


_IMG_TAG_RE = re.compile(r"<img(?=[\s/>])[^>]*>", re.I)
_SRC_RE = re.compile(
    r"""src\s*=\s*("[^"]*"|'[^']*'|[^\s"'>]+)""", re.I)


def image_refs(html: str) -> list[tuple[int, str]]:
    """``(document_position, src)`` for every ``<img>`` carrying a
    ``src``, in the SAME stripped-document coordinate space as
    :func:`content_blocks` — so images and text blocks interleave by
    position (the EPUB tier's picture slot rule). An image nested
    inside a text-bearing block sorts after that block (its position
    falls inside the block's span and the block anchors at its open
    tag) — the block is never split, the documented approximation."""
    html = DROP_RE.sub(" ", html)
    out: list[tuple[int, str]] = []
    for m in _IMG_TAG_RE.finditer(html):
        sm = _SRC_RE.search(m.group(0))
        if not sm:
            continue
        src = sm.group(1)
        if src[:1] in ('"', "'"):
            src = src[1:-1]
        src = unescape_entities(src).strip()
        if src:
            out.append((m.start(), src))
    return out


def html_parts(html: str) -> list[tuple]:
    """Bare-HTML mixed part walk: the main-content blocks plus every
    ``data:`` URI image (the saved-page / SingleFile shape — a bare
    document has no package to resolve relative sources against, so
    external and relative ``src`` values are skipped), interleaved by
    document position. Part shape matches the office walks:
    ``("text", pos, text)`` / ``("media", pos, ctype, name, payload)``.
    Only ``image/*`` URIs whose parameters end in ``;base64`` are
    pictures (RFC 2397: ``;charset=`` and other parameters may come
    first); percent-encoded payloads (``;utf8`` SVG) are skipped like
    linked sources. A ``;base64`` payload that does not decode
    quarantines (``ValueError``) — the image was explicitly embedded,
    so dropping it silently would be a content loss."""
    import base64
    import binascii

    parts: list[tuple] = [
        ("text", b.pos, b.text) for b in main_blocks(html)
    ]
    n_img = 0
    for pos, src in image_refs(html):
        header, _, data = src.partition(",")
        params = header.lower().split(";")
        if not params[0].startswith("data:image/") or params[-1] != "base64":
            continue  # linked, non-image or not base64: no picture slot
        try:
            payload = base64.b64decode(re.sub(r"\s+", "", data),
                                       validate=True)
        except (binascii.Error, ValueError) as e:
            raise ValueError(f"undecodable data-URI base64: {e}") from e
        n_img += 1
        parts.append(("media", pos, params[0][5:], f"data{n_img}", payload))
    parts.sort(key=lambda p: p[1])
    return parts


_META_TAG_RE = re.compile(rb"<meta(?=[\s/>])([^>]*)>", re.I)
#: attribute tokenizer for the pre-scan: quoted or bare values. Real
#: attribute parsing (not a flat "charset=" substring search) is what
#: keeps '<meta name="description" content="... charset=shift_jis ...">'
#: from being read as a declaration — ``charset`` must be an attribute
#: NAME, or live inside an http-equiv=content-type content value.
_ATTR_RE = re.compile(rb"([a-zA-Z][-\w]*)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s\"'>]+)")
_CONTENT_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([-\w]+)", re.I)


def _declared_charset(raw: bytes) -> "str | None":
    """The charset a conforming pre-scan of the first 2048 bytes finds:
    ``<meta charset=X>`` or ``<meta http-equiv=content-type
    content="...; charset=X">``; ``None`` when neither is declared."""
    for mt in _META_TAG_RE.finditer(raw[:2048]):
        attrs: dict[bytes, bytes] = {}
        for am in _ATTR_RE.finditer(mt.group(1)):
            v = am.group(2)
            if v[:1] in (b'"', b"'"):
                v = v[1:-1]
            attrs.setdefault(am.group(1).lower(), v)
        if b"charset" in attrs:
            return attrs[b"charset"].strip().lower().decode(
                "ascii", "replace")
        if attrs.get(b"http-equiv", b"").lower() == b"content-type":
            m = _CONTENT_CHARSET_RE.search(attrs.get(b"content", b""))
            if m:
                return m.group(1).lower().decode("ascii", "replace")
    return None
#: declared-charset allowlist — the legacy web's big three plus UTF-8
#: spellings. Anything else quarantines: decoding with a guessed codec
#: is exactly the silent-mojibake failure mode this engine refuses.
_CHARSET_CODECS = {
    "utf-8": "utf-8-sig", "utf8": "utf-8-sig",
    "us-ascii": "ascii", "ascii": "ascii",
    "iso-8859-1": "latin-1", "latin-1": "latin-1", "latin1": "latin-1",
    "windows-1252": "cp1252", "cp1252": "cp1252",
}


def decode_html(raw: bytes) -> str:
    """Payload bytes -> text, honoring a ``<meta charset=...>``
    declaration in the first 2048 bytes (HTML5's pre-scan window);
    default is UTF-8, the HTML5 default. Unknown charsets and bytes
    invalid under the declared one raise ``ValueError`` (probe-time
    quarantine — never mojibake)."""
    codec = "utf-8-sig"
    name = _declared_charset(raw)
    if name is not None:
        codec = _CHARSET_CODECS.get(name)
        if codec is None:
            raise ValueError(f"unsupported declared charset {name!r}")
    try:
        return raw.decode(codec)
    except UnicodeDecodeError as e:
        raise ValueError(
            f"HTML payload is not valid {codec}: {e}"
        ) from e


def validate_html(raw: bytes) -> str:
    """Strict decode: :func:`decode_html` plus the structural checks,
    returning the decoded document (the HTML and EPUB part walks parse
    exactly what was checked).

    Quarantine conditions (each is a real silent-corruption risk, not
    pedantry): bytes invalid under the (declared or default) charset
    (mojibake would flow into span text), a missing ``</html>``
    (truncated payload — the tail of the content is gone), and an
    unclosed ``<script>``/``<style>``/comment (subtree-drop semantics
    would swallow the rest of the document as code)."""
    html = decode_html(raw)
    low = html.lower()
    if "</html>" not in low:
        raise ValueError("truncated HTML: no closing </html>")
    for tag in ("script", "style"):
        # tag-boundary match, NOT a raw substring count: '<style-guide>'
        # is a custom element and 'a<script_count' is plain text — both
        # must not trip the quarantine (mirrors DROP_RE's boundary)
        n_open = len(re.findall(rf"<{tag}(?=[\s/>])", low))
        if n_open != low.count(f"</{tag}>"):
            raise ValueError(
                f"unclosed <{tag}> element: subtree drop would swallow "
                "the rest of the document"
            )
    if low.count("<!--") != low.count("-->"):
        raise ValueError(
            "unterminated HTML comment: subtree drop would swallow "
            "the rest of the document"
        )
    return html
