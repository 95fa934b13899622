"""Plain-text extraction for the distributed pipeline — the simplest
OCR-bypass tier.

A real web-scale corpus carries millions of bare ``.txt`` payloads
(READMEs, logs-turned-documents, plain-text mirrors of articles,
gutenberg-style books). They have **no magic number**, so
:func:`..formats.sniff_kind` cannot name them; instead
:func:`..multimodal.probe_real_media` runs this module's strict
validator as the FINAL dispatch tier, after every byte-magic format has
declined. A payload is plain text iff

* it decodes as strict UTF-8 (optional BOM honored; any other encoding
  quarantines — guessing a legacy codec is the silent-mojibake failure
  mode this engine refuses, same posture as
  :data:`..htmltext._CHARSET_CODECS`),
* it contains no control characters beyond ``\\t \\n \\r \\f`` (NUL or
  other C0 bytes mean binary data masquerading as text — extracting it
  would emit garbage spans with full confidence), and
* its first non-whitespace character is not ``<`` (leading markup means
  an XML/SVG/HTML document or a *truncated* one whose doctype was cut —
  the DOM tier owns well-formed HTML, and a truncated-markup payload
  must quarantine, not extract raw tags as content text).

Block model: paragraphs. A paragraph is a maximal run of non-blank
lines (a blank line — empty or whitespace-only — separates paragraphs;
``\\f`` form feeds, the classic paginated-text page break, separate
paragraphs too). Within a paragraph each line is stripped and the lines
join with ``\\n`` — so a paragraph maps 1:1 onto a multi-line OCR block
whose strip texts join with ``\\n``, exactly like the DOM tier's
``<br>`` rule (:func:`..htmltext._visible_text`). Geometry: none, so
blocks carry character offsets as detection-shaped boxes (``y1`` =
paragraph position, ``x1`` = 0), monotone in document order — what the
downstream ``(page, y1, x1)`` span sort needs.

The reference has no plain-text path at all (it OCRs uploaded
PDFs/images only, ``apps/worker/app/tasks/ocr_tasks.py:36-39``); this
tier exists for the same reason the HTML tier does — at 100 TB, text
payloads extract for microseconds of string work, and rasterizing them
is not even possible.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: C0 control characters that legitimately appear in text files.
#: Everything else (NUL, SOH, ..., ESC) marks the payload as binary.
_TEXT_CONTROLS = {"\t", "\n", "\r", "\f"}
_BINARY_CONTROL_RE = re.compile(
    "[" + "".join(
        re.escape(chr(c)) for c in range(0x20)
        if chr(c) not in _TEXT_CONTROLS
    ) + "\x7f]"
)

#: paragraph separator: one-or-more blank (empty / whitespace-only)
#: lines, or a form feed. ``\r\n`` normalizes first, so only ``\n``
#: needs handling here.
_PARA_SEP_RE = re.compile(r"\n[ \t]*(?:\n[ \t]*)+|\f")


def decode_text(raw: bytes) -> str:
    """Payload bytes -> text under the strict plain-text contract.

    Raises ``ValueError`` (probe-time quarantine) for non-UTF-8 bytes,
    binary control characters, leading markup, or an all-whitespace
    payload — each is a real silent-corruption risk, not pedantry (see
    module docstring)."""
    try:
        text = raw.decode("utf-8-sig")
    except UnicodeDecodeError as e:
        raise ValueError(f"payload is not valid utf-8 text: {e}") from e
    m = _BINARY_CONTROL_RE.search(text)
    if m:
        raise ValueError(
            f"binary control byte 0x{ord(m.group(0)):02x} at char "
            f"{m.start()}: not a plain-text payload"
        )
    stripped = text.lstrip()
    if stripped.startswith("<"):
        raise ValueError(
            "payload opens with markup ('<'): an XML/SVG document or a "
            "truncated HTML one — refusing to extract raw tags as text"
        )
    if not stripped:
        raise ValueError("empty plain-text payload")
    return text


@dataclass
class TextParagraph:
    """One paragraph: character position + normalized text (same
    detection-shaped duck type as :class:`..htmltext.ContentBlock`)."""

    pos: int
    text: str

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


def paragraph_blocks(text: str) -> list[TextParagraph]:
    """Blank-line/form-feed paragraph split; per paragraph, lines strip
    and join with ``\\n`` (empty results drop). Positions are character
    offsets into the ``\\r\\n``-normalized document — monotone, which is
    all the downstream sort needs."""
    norm = text.replace("\r\n", "\n").replace("\r", "\n")
    out: list[TextParagraph] = []
    start = 0
    for m in list(_PARA_SEP_RE.finditer(norm)) + [None]:
        end = m.start() if m is not None else len(norm)
        chunk = norm[start:end]
        body = "\n".join(
            line.strip() for line in chunk.split("\n") if line.strip()
        )
        if body:
            out.append(TextParagraph(start, body))
        if m is not None:
            start = m.end()
    return out


def validate_text(raw: bytes) -> tuple[int, int, int]:
    """Probe-time pre-flight: ``(n_pages=1, width=0, height=0)`` —
    plain text is one reflowable page with no raster geometry, like the
    DOM tier. Raises ``ValueError``
    on every non-text payload (the quarantine contract)."""
    decode_text(raw)
    return 1, 0, 0


def sniff_text(raw: bytes, window: int = 4096) -> bool:
    """O(window) text sniff for the header-walk metadata probe (the
    ``probe_dims``-vs-``validate_hybrid`` split, plain-text edition):
    run the full contract on the first ``window`` bytes only, trimming
    a multi-byte UTF-8 sequence the window may have cut."""
    head = raw[:window]
    if len(raw) > window:
        # drop a trailing incomplete UTF-8 sequence (up to 3 bytes of
        # continuation + 1 lead byte cut by the window boundary)
        for _ in range(4):
            if not head:
                break
            last = head[-1]
            if last < 0x80:
                break
            head = head[:-1]
            if last >= 0xC0:  # the lead byte itself — done trimming
                break
    try:
        decode_text(head)
    except ValueError:
        return False
    return True
