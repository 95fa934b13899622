"""E-mail extraction tier — RFC-5322/MIME messages (EML) and mbox archives.

Mailing-list archives are a classic training-corpus source (Enron, LKML,
public-inbox dumps), and a MIME message is the interleaved text+media
document shape in miniature: an ordered tree of body parts where
``text/plain`` and ``text/html`` leaves carry prose and attachment
leaves carry media payloads. Through the plain-text fallback an ``.eml``
payload would extract with header lines, MIME boundaries and base64
blobs VERBATIM — pure boilerplate plus noise. This tier extracts the
DISPLAYED message: the decoded Subject, then each supported body part's
text in part order.

Two kinds, two shapes:

``eml``
    One message, one reflowable page (like the DOM/txt tiers). Sniffed
    as a REFINEMENT of the probe's plain-text tier on the structural
    RFC-5322 header block: every line up to the first blank line must be
    header-shaped (``Name: value`` with an RFC-5322 field name, or a
    whitespace continuation), with at least three distinct CANONICAL
    e-mail header names, one of which must be a strong signal
    (``Message-ID``/``Received``/``Return-Path``/``MIME-Version``/
    ``Delivered-To``/``In-Reply-To``/``List-ID``) — a two-line
    "From:/To:" shopping note stays txt.

``mbox``
    Many messages, and messages are PAGES — the paged-tier shape
    (PPTX slides / XLSX sheets / EPUB chapters), so a multi-gigabyte
    archive buckets like a long PDF (``operators/extract.py`` page
    buckets), each bucket row carrying its messages' walked parts. Sniffed on the
    leading ``From `` envelope line (the mbox magic) followed by an
    EML-shaped header block. ``>From`` body-line quoting is reversed
    per mboxrd (one leading ``>`` stripped from ``>+From `` lines).

Deterministic SUBSET, documented here:

- Transport is the 7-bit family (base64 / quoted-printable / 7bit /
  8bit-as-UTF-8): payloads reach this tier through the plain-text
  decode, so a message whose raw bytes are not valid UTF-8 quarantines
  at the text tier like every other text refinement. (The mbox SOURCE
  — ``sources/mbox.py`` — parses raw bytes per message and has no such
  restriction.)
- Part walk is depth-first in part order. ``multipart/alternative``
  renders its LAST supported alternative (RFC 2046 §5.1.4: alternatives
  appear in increasing order of preference); every other multipart
  subtype renders all children in order. ``message/rfc822`` recurses
  (Subject + body) to a fixed depth cap; deeper nesting quarantines.
- ``text/plain`` parts render through the blank-line paragraph split
  (:func:`..plaintext.paragraph_blocks`); ``text/html`` parts through
  the DOM tier's main-content walk (:func:`..htmltext.main_blocks`) —
  boilerplate drop included, same as a bare HTML payload. Other text
  subtypes render as plain. An alternative group with NO supported
  alternative contributes nothing.
- MAIL BOILERPLATE DROP (the e-mail analog of the DOM tier's
  link-density rule, and the reason a mail corpus dedups at the
  message level instead of keeping N quoted copies of every thread
  message): in ``text/plain`` parts, quoted-reply lines (leading
  ``>``, after mboxrd unquoting has already run) and the signature
  block (the RFC 3676 ``"-- "`` delimiter line and everything after
  it) drop before the paragraph split. Attribution lines ("On ...,
  X wrote:") are KEPT — dropping them is a heuristic with real
  false positives, quote markers are structural. HTML parts keep
  their ``<blockquote>`` content (the DOM walk has no mail
  semantics); the plain alternative is usually the one rendered.
- Attachments (any non-text, non-message leaf, or an explicit
  ``Content-Disposition: attachment``): the BLOCK API
  (:func:`eml_blocks`) drops them; the PART walks (:func:`eml_parts` /
  :func:`mbox_page_parts` / :func:`message_spans`) keep them, and
  since round 5 the extraction pipeline OCRs raster attachments
  (PNG/JPEG/GIF/BMP/TIFF) IN PLACE between the body parts around them
  — the office-interleave rule applied to mail. Non-raster
  attachments (PDFs, archives, arbitrary binaries) still extract to
  nothing in-pipeline; the mbox ingestion source remains the path
  that surfaces EVERY attachment as its own media span (with page
  bucketing — the right shape for a 2,000-page PDF attachment).
- STRICT quarantine: any parser defect on any part (truncated
  boundary, invalid base64, missing header separator, ... — leaf
  payloads are force-decoded at validation time because the stdlib
  records transfer-encoding defects lazily), a text part whose bytes
  do not strictly decode under its DECLARED charset (the stdlib's
  silent U+FFFD replacement is a corruption signal here), an unknown
  charset, or over-deep ``message/rfc822`` nesting raises
  ``ValueError`` — the probe turns that into a triage row, the same
  contract as every other tier.

The reference has no e-mail path (it OCRs uploaded PDFs/images only,
``apps/worker/app/tasks/ocr_tasks.py:36-39``); this tier exists for the
same 100 TB corpus reason the WARC source and Markdown tier do.
"""

from __future__ import annotations

import re
from email import headerregistry, policy
from email.message import EmailMessage
from email.parser import BytesParser

from .plaintext import TextParagraph, decode_text, paragraph_blocks

__all__ = [
    "sniff_eml", "sniff_mbox", "eml_blocks", "eml_parts",
    "count_messages", "mbox_page_parts",
    "encode_eml", "encode_mbox",
]

#: Canonical header names that identify an e-mail header block (lowercase).
_CANONICAL = frozenset((
    "from", "to", "cc", "bcc", "subject", "date", "sender", "reply-to",
    "message-id", "in-reply-to", "references", "received", "return-path",
    "delivered-to", "mime-version", "content-type",
    "content-transfer-encoding", "list-id", "user-agent", "x-mailer",
))

#: Strong signals: headers only mail software writes. A casual
#: "From:/To:/Subject:" note contains none of these.
_STRONG = frozenset((
    "message-id", "received", "return-path", "mime-version",
    "delivered-to", "in-reply-to", "list-id",
))

# RFC 5322 field name: printable ASCII except SP and ':'
_HEADER_RE = re.compile(r"^([\x21-\x39\x3b-\x7e]+):")
# mbox envelope: "From sender@host Thu Jan  1 00:00:00 2026" — an
# address-ish token then a date-ish remainder containing a digit
_ENVELOPE_RE = re.compile(r"^From \S+ .+\d")

#: message/rfc822 recursion cap (adversarially deep nesting quarantines)
_MAX_DEPTH = 5

_PARSER = BytesParser(policy=policy.default)


def _header_block_shape(lines: list[str]) -> bool:
    """True when ``lines`` (up to but excluding the first blank line)
    form an e-mail header block per the module rule."""
    if not lines:
        return False
    names: set[str] = set()
    seen_any = False
    for ln in lines:
        if ln[:1] in (" ", "\t"):
            if not seen_any:  # continuation before any header
                return False
            continue
        m = _HEADER_RE.match(ln)
        if m is None:
            return False
        seen_any = True
        names.add(m.group(1).lower())
    return len(names & _CANONICAL) >= 3 and bool(names & _STRONG)


def _leading_lines(text: str) -> list[str]:
    """Lines up to the first blank line (or a short cap — header blocks
    are small; the shallow sniff window may cut the block and the shape
    test still applies to what is visible)."""
    norm = text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n")
    lines: list[str] = []
    for ln in norm.split("\n"):
        if ln == "":
            break
        lines.append(ln)
        if len(lines) > 200:
            break
    return lines


def sniff_eml(text: str) -> bool:
    """Structural RFC-5322 header block at payload start (module rule)."""
    return _header_block_shape(_leading_lines(text))


def sniff_mbox(text: str) -> bool:
    """Leading mbox ``From `` envelope line followed by an EML-shaped
    header block."""
    norm = text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n")
    first, _, rest = norm.partition("\n")
    if not _ENVELOPE_RE.match(first):
        return False
    return sniff_eml(rest)


# ---------------------------------------------------------------------------
# message walk
# ---------------------------------------------------------------------------

#: validation-walk depth cap: bounds BOTH multipart and rfc822 nesting
#: so adversarially deep trees quarantine as ValueError long before
#: Python's recursion limit could escape as RecursionError (the render
#: walk's _MAX_DEPTH only counts rfc822 hops and only runs AFTER
#: validation has traversed the full tree)
_MAX_TREE_DEPTH = 50


def _types(part: EmailMessage) -> tuple[str, str, str]:
    """``part``'s content type, main type and subtype from ONE
    ``get_content_type`` call: under ``policy.default`` every call
    re-parses the header, and the stdlib's ``get_content_maintype`` /
    ``get_content_subtype`` split this same string."""
    ctype = part.get_content_type()
    maintype, _, subtype = ctype.partition("/")
    return ctype, maintype, subtype


def _walk_leaves(msg: EmailMessage, depth: int = 0):
    """Preorder ``(part, content type)`` over the whole MIME tree."""
    if depth > _MAX_TREE_DEPTH:
        raise ValueError("MIME tree exceeds validation depth cap")
    ctype, maintype, _sub = _types(msg)
    yield msg, ctype
    if maintype == "multipart":
        for p in msg.iter_parts():
            yield from _walk_leaves(p, depth + 1)
    elif ctype == "message/rfc822":
        # iter_parts() only descends multipart/*; an embedded message's
        # subtree must still be defect-checked
        inner = msg.get_payload()
        for p in (inner if isinstance(inner, list) else [inner]):
            if isinstance(p, EmailMessage):
                yield from _walk_leaves(p, depth + 1)


def _validate_parts(msg: EmailMessage) -> None:
    """One preorder walk: force-decode each leaf payload, then check
    the node's defects — the stdlib registers transfer-encoding
    defects (invalid base64, ...) lazily at payload-decode time, so a
    parse-time-only defect check would under-report. Preorder is
    sufficient: decoding a leaf only ever adds defects to that leaf,
    and ancestors' parse-time defects exist before their children are
    visited."""
    for part, ctype in _walk_leaves(msg):
        if not part.is_multipart() and ctype != "message/rfc822":
            part.get_payload(decode=True)
        if part.defects:
            names = sorted({type(d).__name__ for d in part.defects})
            raise ValueError(f"message defects: {', '.join(names)}")


def _renderable(part: EmailMessage, depth: int) -> bool:
    """Can this part (or any descendant) contribute text?"""
    ctype, maintype, _sub = _types(part)
    if ctype == "message/rfc822":
        return depth < _MAX_DEPTH
    if maintype == "multipart":
        return any(_renderable(p, depth) for p in part.iter_parts())
    return (maintype == "text"
            and part.get_content_disposition() != "attachment")


def _part_text(part: EmailMessage) -> str:
    """Decoded text content of a text/* leaf under the STRICT charset
    contract: bytes must decode exactly under the declared charset
    (default us-ascii); failures quarantine rather than silently
    replacing with U+FFFD the way ``get_content`` would."""
    payload = part.get_payload(decode=True)
    if payload is None:
        raise ValueError("text part without a decodable payload")
    charset = part.get_content_charset() or "us-ascii"
    try:
        return payload.decode(charset, errors="strict")
    except (LookupError, UnicodeDecodeError, ValueError) as e:
        raise ValueError(
            f"text part does not decode as declared charset "
            f"{charset!r}: {e}") from e


def _attachment(part: EmailMessage, ctype: str, index: int) -> tuple:
    payload = part.get_payload(decode=True)
    if payload is None:
        raise ValueError("attachment part without a decodable payload")
    return ("media", ctype,
            part.get_filename() or f"part{index}", bytes(payload))


def _walk(part: EmailMessage, depth: int, base: int, out: list,
          keep_attachments: bool = False) -> int:
    """Append ``part``'s span-shaped entries — ``("text", pos, text)``
    and (source mode only) ``("media", ctype, filename, bytes)`` — at
    monotone positions from ``base``; return the next free position.
    Depth-first, part order."""
    if depth > _MAX_DEPTH:
        raise ValueError("message/rfc822 nesting exceeds depth cap")
    ctype, maintype, subtype = _types(part)
    if ctype == "message/rfc822":
        inner = part.get_payload()
        inner = inner[0] if isinstance(inner, list) and inner else inner
        if not isinstance(inner, EmailMessage):
            raise ValueError("message/rfc822 part without a message body")
        return _message_walk(inner, depth + 1, base, out, keep_attachments)
    if maintype == "multipart":
        children = list(part.iter_parts())
        if subtype == "alternative":
            # RFC 2046 §5.1.4: last supported alternative wins
            for child in reversed(children):
                if _renderable(child, depth):
                    return _walk(child, depth, base, out, keep_attachments)
            return base
        for child in children:
            base = _walk(child, depth, base, out, keep_attachments)
        return base
    is_attachment = (maintype != "text"
                     or part.get_content_disposition() == "attachment")
    if is_attachment:
        # tier mode: dropped, like DOCX embedded images (docstring);
        # source mode: surfaced as a media part entering the probe
        # ladder downstream
        if keep_attachments:
            out.append(_attachment(part, ctype, len(out)))
        return base
    text = _part_text(part)
    if subtype == "html":
        from . import htmltext

        for b in htmltext.main_blocks(text):
            out.append(("text", base + b.y1, b.text))
        return base + len(text) + 1
    for b in paragraph_blocks(_strip_mail_boilerplate(text)):
        out.append(("text", base + b.pos, b.text))
    return base + len(text) + 1


def _strip_mail_boilerplate(text: str) -> str:
    """Quoted-reply lines and the RFC 3676 signature block drop from
    plain body parts (module docstring rule). The signature delimiter
    is the exact line ``"-- "`` (trailing space significant; a
    stripped ``--`` stays content)."""
    out: list[str] = []
    for ln in text.replace("\r\n", "\n").replace("\r", "\n").split("\n"):
        if ln == "-- ":
            break
        if ln.lstrip().startswith(">"):
            continue
        out.append(ln)
    return "\n".join(out)


def _check_subject(raw: str) -> None:
    """The rendered Subject must carry no U+FFFD the stdlib inserted.
    The header path decodes each RFC 2047 encoded-word under its
    charset (an unknown charset as ASCII), keeps every byte it cannot
    decode — and every raw 8-bit header byte — surrogate-escaped, then
    renders those runs as UTF-8 with ``errors="replace"``. A run that is
    not valid UTF-8 therefore renders as U+FFFD mojibake, the corruption
    signal the body-charset rule quarantines on (module docstring). This
    re-runs the same parse and decodes those runs strictly: a U+FFFD
    the sender really wrote passes, and so does a run that renders
    clean (UTF-8 bytes inside a word labelled ``us-ascii``)."""
    unfolded = raw.replace("\r", "").replace("\n", "")
    decoded = str(headerregistry.UnstructuredHeader.value_parser(unfolded))
    try:
        decoded.encode("utf-8", "surrogateescape").decode("utf-8")
    except UnicodeError as e:
        raise ValueError(
            f"Subject has an undecodable encoded-word or raw byte: {e}"
        ) from e


def _message_walk(msg: EmailMessage, depth: int, base: int, out: list,
                  keep_attachments: bool = False) -> int:
    raw = next((v for k, v in msg.raw_items() if k.lower() == "subject"),
               "")
    _check_subject(raw)
    subject = str(msg.get("Subject", "")).strip()
    if subject:
        out.append(("text", base, subject))
        base += len(subject) + 1
    return _walk(msg, depth, base, out, keep_attachments)


def parse_message(raw: bytes) -> EmailMessage:
    """Strict parse: full MIME tree with every leaf payload
    force-decoded and zero defects (else ``ValueError``). A
    RecursionError from pathological nesting inside the stdlib parser
    itself also surfaces as ``ValueError`` — the quarantine contract
    admits no other exception type."""
    try:
        msg = _PARSER.parsebytes(raw)
        _validate_parts(msg)
    except RecursionError as e:
        raise ValueError(f"pathologically nested message: {e}") from e
    return msg


def eml_blocks(text: str) -> list[TextParagraph]:
    """One RFC-5322/MIME message -> displayed-text blocks in part
    order: decoded Subject first, then each supported body part.
    Strict: parser defects, undecodable charsets and over-deep
    embedding raise ``ValueError`` (quarantine)."""
    msg = parse_message(text.lstrip("﻿").encode("utf-8"))
    out: list = []
    _message_walk(msg, 0, 0, out)
    return [TextParagraph(pos, text_) for _k, pos, text_ in out]


def message_spans(raw: bytes) -> tuple[str, list[tuple]]:
    """SOURCE-mode walk over one raw message: strict parse, then the
    ordered span-shaped parts — ``("text", pos, text)`` entries exactly
    as :func:`eml_blocks` renders them, plus
    ``("media", content_type, filename, payload)`` entries for every
    attachment leaf IN PART ORDER. Returns ``(message_id, parts)``;
    ``message_id`` is the cleaned Message-ID header or ``""``."""
    msg = parse_message(raw)
    out: list = []
    _message_walk(msg, 0, 0, out, keep_attachments=True)
    try:
        # policy=default parses structured headers lazily AT ACCESS: a
        # truncated/malformed Message-ID raises from deep inside the
        # stdlib header parser (IndexError/HeaderParseError observed
        # under fuzz) — that is a quarantine, not a job failure
        mid = re.sub(r"[<>\s]", "", str(msg.get("Message-ID", "")))
    except Exception as e:
        raise ValueError(f"malformed Message-ID header: {e}") from e
    return mid, out


def eml_parts(text: str) -> list[tuple]:
    """One message -> the ordered part shape (``("text", pos, text)``
    / ``("media", content_type, filename, payload)``) — the
    :func:`message_spans` walk over already-decoded text, for the
    extraction pipeline's in-place attachment interleave (round 5): a
    raster attachment OCRs between the body parts around it, exactly
    like a DOCX picture. Same strict contract as :func:`eml_blocks`."""
    msg = parse_message(text.lstrip("﻿").encode("utf-8"))
    out: list = []
    _message_walk(msg, 0, 0, out, keep_attachments=True)
    return out


# ---------------------------------------------------------------------------
# mbox: messages are pages
# ---------------------------------------------------------------------------

def _split_mbox(text: str) -> list[str]:
    """Message texts (headers+body, envelope line dropped, mboxrd
    ``>From`` quoting reversed) in archive order. Strict: the payload
    must start with an envelope line."""
    norm = text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n")
    if not _ENVELOPE_RE.match(norm.partition("\n")[0]):
        raise ValueError("mbox payload does not start with an envelope line")
    msgs: list[list[str]] = []
    for ln in norm.split("\n"):
        if _ENVELOPE_RE.match(ln):
            msgs.append([])
            continue
        # mboxrd unquoting: one '>' strips from '>From ' / '>>From ' ...
        if ln.startswith(">") and ln.lstrip(">").startswith("From "):
            ln = ln[1:]
        msgs[-1].append(ln)
    return ["\n".join(m) for m in msgs]


_ENVELOPE_BYTES_RE = re.compile(rb"(?m)^From \S+ .+\d")


def count_messages(raw: bytes) -> int:
    """Envelope-line count straight off the bytes — the SHALLOW page
    count (no decode, no MIME parse; one regex scan). Strips a UTF-8
    BOM first so the first envelope still sits at a line start and the
    shallow count agrees with the deep probe's. Normalizes CRLF *and*
    bare-CR line endings, mirroring ``_split_mbox``, so classic-Mac
    archives report the same shallow and deep counts."""
    if raw.startswith(b"\xef\xbb\xbf"):
        raw = raw[3:]
    normalized = raw.replace(b"\r\n", b"\n").replace(b"\r", b"\n")
    return len(_ENVELOPE_BYTES_RE.findall(normalized))


def mbox_page_parts(
    raw: bytes, page_indices: "list[int] | range | None" = None
) -> list[list[tuple]]:
    """Per-message MIXED part lists (messages are pages): each message
    walks with attachments kept and parts re-keyed to running ordinals
    — the ``pptxtext.slide_parts`` shape, so raster attachments OCR in
    place between their message's body parts through the paged bucket
    path. ``page_indices`` selects messages by their position in ``raw``
    (``None`` for all); the deep probe walks every message once and the
    bucket rows carry the parts (:mod:`.tiers`). A member without an
    e-mail header block quarantines."""
    msgs = _split_mbox(decode_text(raw))
    if page_indices is not None:
        msgs = [msgs[i] for i in page_indices]
    pages: list[list[tuple]] = []
    for m in msgs:
        if not sniff_eml(m):
            raise ValueError("mbox member without an e-mail header block")
        items: list[tuple] = []
        for i, p in enumerate(eml_parts(m)):
            if p[0] == "text":
                items.append(("text", i, p[2]))
            else:  # ("media", ctype, filename, payload)
                items.append(("media", i, p[1], p[2], p[3]))
        pages.append(items)
    return pages


# ---------------------------------------------------------------------------
# deterministic writers (tests / fixtures; wall-clock free)
# ---------------------------------------------------------------------------

def encode_eml(
    headers: "list[tuple[str, str]]",
    parts: "list[tuple[str, bytes | str]] | None" = None,
    body: str | None = None,
    boundary: str = "=-=-fixture-boundary-=-=",
    subtype: str = "mixed",
) -> bytes:
    """Byte-deterministic MIME assembly (no stdlib generator — its
    boundary strings are random). ``parts`` entries are
    ``(content_type_header_value, payload)``: str payloads emit as
    8bit/UTF-8 text parts, bytes payloads emit base64 with
    ``Content-Disposition: attachment``. ``body`` alone emits a
    single-part text/plain message. ``subtype`` picks the multipart
    subtype (``mixed`` / ``alternative`` / ...)."""
    import base64

    lines = [f"{k}: {v}" for k, v in headers]
    if parts is None:
        lines += ["MIME-Version: 1.0",
                  "Content-Type: text/plain; charset=utf-8",
                  "", body or ""]
        return ("\r\n".join(lines) + "\r\n").encode("utf-8")
    lines += ["MIME-Version: 1.0",
              f'Content-Type: multipart/{subtype}; boundary="{boundary}"',
              ""]
    for i, (ctype, payload) in enumerate(parts):
        lines.append(f"--{boundary}")
        if isinstance(payload, str):
            if ctype.startswith("text/") and "charset" not in ctype:
                ctype += "; charset=utf-8"
            lines += [f"Content-Type: {ctype}", "", payload]
        else:
            b64 = base64.b64encode(payload).decode("ascii")
            wrapped = "\r\n".join(b64[j:j + 72]
                                  for j in range(0, len(b64), 72))
            lines += [f"Content-Type: {ctype}",
                      f'Content-Disposition: attachment; filename="part{i}"',
                      "Content-Transfer-Encoding: base64", "", wrapped]
    lines.append(f"--{boundary}--")
    return ("\r\n".join(lines) + "\r\n").encode("utf-8")


def encode_mbox(messages: "list[bytes]") -> bytes:
    """mbox archive from raw message bytes: fixed-date envelope lines,
    mboxrd ``>From`` quoting applied to body lines."""
    out: list[bytes] = []
    for raw in messages:
        out.append(b"From fixture@local Thu Jan  1 00:00:00 2026\n")
        for ln in raw.replace(b"\r\n", b"\n").split(b"\n"):
            if ln.lstrip(b">").startswith(b"From "):
                ln = b">" + ln
            out.append(ln + b"\n")
    return b"".join(out)
