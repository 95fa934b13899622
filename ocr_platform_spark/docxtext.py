"""DOCX (WordprocessingML) main-text extraction — the office-document
OCR-bypass tier.

A web-scale crawl's office long tail is dominated by ``.docx``: a ZIP
container (``PK\\x03\\x04``) holding ``word/document.xml``, whose body
is a flat run of ``<w:p>`` paragraphs (table cells nest their own
``<w:p>``s). Everything needed to extract it is stdlib: ``zipfile`` +
``xml.etree``. The reference has no office path at all (it OCRs
uploaded PDFs/images only, ``apps/worker/app/tasks/ocr_tasks.py:36-39``).

Dispatch: :func:`..formats.sniff_kind` names any ``PK\\x03\\x04``
payload ``"zip"``; :func:`..multimodal.probe_real_media` then refines
it — a zip whose namelist carries ``word/document.xml`` is a DOCX, and
a zip no office tier claims quarantines (extracting an arbitrary
archive's members as document text would be silent garbage).

Block model: one text part per non-empty ``<w:p>``, in document
order (``iter()`` is document-order for nested table paragraphs too;
``w:p`` never nests inside ``w:p``). Within a paragraph, ``<w:t>`` run
text concatenates, ``<w:br/>`` and ``<w:cr/>`` become line breaks and
``<w:tab/>`` a space; lines then strip and join with ``\\n`` — the same
multi-line-block normalization as the DOM and plain-text tiers, so a
paragraph maps 1:1 onto a multi-line OCR block. Tracked-change deletions
(``w:delText``) and field instruction text (``w:instrText``) are NOT
visible document text and never emit. Headers/footers/footnotes live in
other zip members (``word/header*.xml``) which this tier deliberately
does not read — the office analog of the DOM tier's boilerplate drop.

Geometry: none (reflowable), so blocks carry their paragraph ordinal as
detection-shaped boxes (``y1`` = ordinal, ``x1`` = 0) — monotone in
document order for the global ``(page, y1, x1)`` span sort.

Quarantine contract (every path raises ``ValueError``, the pipeline's
probe-time triage): truncated/corrupt zip structure, a zip that is not
a DOCX, encrypted members, CRC mismatch on the document part (zipfile
verifies CRC-32 during read — DOCX is the one media kind here whose
container checksums its payload), and malformed XML.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from xml.etree import ElementTree

#: WordprocessingML main namespace (ECMA-376 / ISO 29500 transitional —
#: what Word itself writes)
W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_DOC_PART = "word/document.xml"
_DOC_RELS = "word/_rels/document.xml.rels"

_W_P = f"{{{W_NS}}}p"
_W_T = f"{{{W_NS}}}t"
_W_BR = f"{{{W_NS}}}br"
_W_CR = f"{{{W_NS}}}cr"
_W_TAB = f"{{{W_NS}}}tab"

#: DrawingML picture reference: <a:blip r:embed="rIdN"/> inside
#: <w:drawing> (both wp:inline and wp:anchor shapes carry it)
A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
R_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_A_BLIP = f"{{{A_NS}}}blip"
_R_EMBED = f"{{{R_NS}}}embed"
_R_ID = f"{{{R_NS}}}id"
#: legacy VML fallback (<w:pict><v:imagedata r:id="rIdN"/></w:pict>) —
#: what pre-2007 converters and the mc:Fallback branch write
V_NS = "urn:schemas-microsoft-com:vml"
_V_IMAGEDATA = f"{{{V_NS}}}imagedata"
#: markup-compatibility: a shape usually appears TWICE, once as DrawingML
#: under <mc:Choice> and once as VML under <mc:Fallback>; the walk skips
#: Fallback subtrees so each picture counts once
MC_NS = "http://schemas.openxmlformats.org/markup-compatibility/2006"
_MC_FALLBACK = f"{{{MC_NS}}}Fallback"

#: OPC package relationships namespace (the .rels parts)
PR_NS = "http://schemas.openxmlformats.org/package/2006/relationships"

#: embedded-media content type by member extension (the Content_Types
#: Default mapping Word writes for these extensions)
_CT_BY_EXT = {
    ".png": "image/png", ".jpeg": "image/jpeg", ".jpg": "image/jpeg",
    ".gif": "image/gif", ".bmp": "image/bmp", ".tif": "image/tiff",
    ".tiff": "image/tiff", ".emf": "image/x-emf", ".wmf": "image/x-wmf",
}


def media_content_type(member: str) -> str:
    ext = posixpath.splitext(member)[1].lower()
    return _CT_BY_EXT.get(ext, "application/octet-stream")


def _open_docx(raw: bytes) -> zipfile.ZipFile:
    try:
        zf = zipfile.ZipFile(io.BytesIO(raw))
    except Exception as e:  # BadZipFile, struct.error on truncation
        raise ValueError(f"not a readable zip container: {e}") from e
    return zf


def probe_docx(raw: bytes) -> tuple[int, int, int]:
    """Shallow pre-flight (the header-walk metadata probe):
    ``(n_pages=1, width=0, height=0)`` — DOCX is reflowable (page
    breaks are a render-time artifact of fonts/margins; there is no
    raster geometry to report). Central-directory read +
    ``word/document.xml`` presence — O(directory), no member inflated.
    The deep probe runs :func:`document_parts`, the walk extraction
    decodes (:mod:`.tiers`)."""
    with _open_docx(raw) as zf:
        if _DOC_PART not in zf.namelist():
            raise ValueError(
                "zip container is not a DOCX (no word/document.xml)"
            )
    return 1, 0, 0


def _parse_document(zf: zipfile.ZipFile) -> ElementTree.Element:
    try:
        data = zf.read(_DOC_PART)  # CRC-32 verified by zipfile here
    except Exception as e:  # BadZipFile (CRC), RuntimeError (encrypted),
        raise ValueError(  # zlib.error (corrupt deflate stream)
            f"unreadable word/document.xml: {e}"
        ) from e
    try:
        return ElementTree.fromstring(data)
    except ElementTree.ParseError as e:
        raise ValueError(f"malformed WordprocessingML: {e}") from e


# --- embedded media (the interleaved-span part walk) -------------------------

def _load_rels(zf: zipfile.ZipFile) -> tuple[dict[str, str], set[str]]:
    """``word/_rels/document.xml.rels`` -> ``(rId -> zip member path,
    external rIds)``.

    Targets resolve relative to ``word/`` (``media/image1.png`` ->
    ``word/media/image1.png``); package-absolute targets (leading ``/``)
    strip the slash. ``TargetMode="External"`` relationships (linked,
    not embedded, pictures) carry no package payload and are returned
    separately so the part walk can SKIP them (the documented subset)
    while still quarantining genuinely dangling rIds."""
    if _DOC_RELS not in zf.namelist():
        return {}, set()
    try:
        root = ElementTree.fromstring(zf.read(_DOC_RELS))
    except Exception as e:
        raise ValueError(f"malformed document rels: {e}") from e
    rels: dict[str, str] = {}
    external: set[str] = set()
    for rel in root.iter(f"{{{PR_NS}}}Relationship"):
        rid, target = rel.get("Id"), rel.get("Target")
        if not rid or not target:
            continue
        if rel.get("TargetMode", "Internal") == "External":
            external.add(rid)
            continue
        if target.startswith("/"):
            member = target[1:]
        else:
            member = posixpath.normpath(posixpath.join("word", target))
        rels[rid] = member
    return rels, external


def _paragraph_segments(p: ElementTree.Element) -> list[tuple[str, str]]:
    """Run-ordered events of one ``<w:p>``: ``("t", fragment)`` for
    visible text (``w:t`` runs; ``w:br``/``w:cr`` as line breaks,
    ``w:tab`` as a space) and
    ``("m", rId)`` for each embedded picture reference —
    DrawingML ``a:blip r:embed`` and VML ``v:imagedata r:id``, with
    ``mc:Fallback`` subtrees skipped so AlternateContent shapes count
    once."""
    segs: list[tuple[str, str]] = []

    def _walk(el: ElementTree.Element) -> None:
        for child in el:
            tag = child.tag
            if tag == _MC_FALLBACK:
                continue
            if tag == _W_T:
                segs.append(("t", child.text or ""))
            elif tag in (_W_BR, _W_CR):
                segs.append(("t", "\n"))
            elif tag == _W_TAB:
                segs.append(("t", " "))
            elif tag == _A_BLIP:
                rid = child.get(_R_EMBED)
                if rid:  # r:link-only blips are linked, not embedded
                    segs.append(("m", rid))
            elif tag == _V_IMAGEDATA:
                rid = child.get(_R_ID)
                if rid:
                    segs.append(("m", rid))
            else:
                _walk(child)

    _walk(p)
    return segs


def _normalize_lines(fragments: list[str]) -> str:
    return "\n".join(
        line.strip() for line in "".join(fragments).split("\n")
        if line.strip()
    )


def document_parts(raw: bytes) -> list[tuple]:
    """DOCX bytes -> ordered span-shaped parts, the e-mail tier's part
    shape (:func:`..emltext.message_spans`): ``("text", pos, text)`` for
    each paragraph text run and ``("media", content_type, member,
    payload)`` for each embedded picture IN DOCUMENT ORDER — an inline
    image splits its paragraph's text around itself, exactly where it
    renders. ``pos`` is the running part ordinal (media parts advance
    it too).

    Strict tier contract: a picture reference whose relationship is
    missing, or whose zip member is absent/unreadable (CRC, encryption,
    truncation), raises ``ValueError`` — the probe turns that into a
    quarantine row. Linked (External-target) images are skipped, like
    tracked-change deletions: they have no payload in the package."""
    with _open_docx(raw) as zf:
        root = _parse_document(zf)
        rels, external = _load_rels(zf)
        members = set(zf.namelist())
        parts: list[tuple] = []
        pos = 0
        for p in root.iter(_W_P):
            buf: list[str] = []
            for kind, val in _paragraph_segments(p):
                if kind == "t":
                    buf.append(val)
                    continue
                if val in external:
                    continue  # linked image: no payload in the package
                member = rels.get(val)
                if member is None:
                    raise ValueError(
                        f"dangling picture relationship {val!r}"
                    )
                text = _normalize_lines(buf)
                buf = []
                if text:
                    parts.append(("text", pos, text))
                    pos += 1
                if member not in members:
                    raise ValueError(
                        f"embedded media member missing: {member!r}"
                    )
                try:
                    payload = zf.read(member)  # CRC-verified inflate
                except Exception as e:
                    raise ValueError(
                        f"unreadable embedded media {member!r}: {e}"
                    ) from e
                parts.append(
                    ("media", media_content_type(member), member, payload)
                )
                pos += 1
            text = _normalize_lines(buf)
            if text:
                parts.append(("text", pos, text))
                pos += 1
    return parts


# --- minimal writer (tests / fixtures; also a usable result sink) -----------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    '+xml"/></Types>'
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships"><Relationship Id="rId1" Type="http://schemas.'
    'openxmlformats.org/officeDocument/2006/relationships/'
    'officeDocument" Target="word/document.xml"/></Relationships>'
)

_XML_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")]


def _xml_escape(s: str) -> str:
    for pat, rep in _XML_ESCAPES:
        s = s.replace(pat, rep)
    return s


_WP_NS = "http://schemas.openxmlformats.org/drawingml/2006/wordprocessingDrawing"
_PIC_NS = "http://schemas.openxmlformats.org/drawingml/2006/picture"

_EXT_BY_KIND = {"png": ".png", "jpeg": ".jpg", "gif": ".gif",
                "bmp": ".bmp", "tiff": ".tif"}


def _runs_xml(text: str) -> str:
    return '<w:r><w:br/></w:r>'.join(
        f'<w:r><w:t xml:space="preserve">{_xml_escape(line)}</w:t></w:r>'
        for line in text.split("\n")
    )


def encode_docx_with_media(items: list) -> bytes:
    """Minimal structurally-valid DOCX with embedded pictures (the
    fixture writer for the interleave contract). ``items`` entries:

    * ``str`` — one paragraph (``\\n`` -> ``<w:br/>``),
    * ``bytes`` — one paragraph holding only an embedded picture
      (DrawingML ``wp:inline``/``a:blip``; the member extension comes
      from the payload's sniffed codec),
    * ``(before, payload, after)`` — one paragraph where the picture
      sits INLINE between two text runs (the splits-its-paragraph
      case)."""
    from . import formats

    body: list[str] = []
    media: list[tuple[str, bytes]] = []  # (member, payload)
    exts: set[str] = set()

    def _drawing(payload: bytes) -> str:
        n = len(media) + 1
        ext = _EXT_BY_KIND.get(formats.sniff_kind(payload), ".bin")
        member = f"word/media/image{n}{ext}"
        media.append((member, payload))
        exts.add(ext.lstrip("."))
        return (
            '<w:r><w:drawing><wp:inline><a:graphic><a:graphicData '
            f'uri="{_PIC_NS}"><pic:pic><pic:blipFill>'
            f'<a:blip r:embed="rIdImg{n}"/>'
            "</pic:blipFill></pic:pic></a:graphicData></a:graphic>"
            "</wp:inline></w:drawing></w:r>"
        )

    for item in items:
        if isinstance(item, (bytes, bytearray)):
            body.append(f"<w:p>{_drawing(bytes(item))}</w:p>")
        elif isinstance(item, tuple):
            before, payload, after = item
            body.append(
                "<w:p>" + _runs_xml(before) + _drawing(bytes(payload))
                + _runs_xml(after) + "</w:p>"
            )
        else:
            body.append(f"<w:p>{_runs_xml(item)}</w:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W_NS}" xmlns:a="{A_NS}" xmlns:r="{R_NS}" '
        f'xmlns:wp="{_WP_NS}" xmlns:pic="{_PIC_NS}"><w:body>'
        + "".join(body)
        + "</w:body></w:document>"
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{PR_NS}">'
        + "".join(
            f'<Relationship Id="rIdImg{i + 1}" Type="http://schemas.'
            'openxmlformats.org/officeDocument/2006/relationships/image" '
            f'Target="{member[len("word/"):]}"/>'
            for i, (member, _data) in enumerate(media)
        )
        + "</Relationships>"
    )
    ctypes = _CONTENT_TYPES.replace(
        "</Types>",
        "".join(
            f'<Default Extension="{ext}" ContentType='
            f'"{media_content_type("x." + ext)}"/>'
            for ext in sorted(exts)
        ) + "</Types>",
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ctypes)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr(_DOC_PART, doc)
        zf.writestr(_DOC_RELS, rels)
        for member, payload in media:
            zf.writestr(member, payload)
    return buf.getvalue()


def encode_docx(paragraphs: list[str]) -> bytes:
    """Minimal structurally-valid DOCX: one ``<w:p>`` per entry, a
    paragraph's internal ``\\n``s as explicit ``<w:br/>``s (the inverse
    of :func:`_normalize_lines`'s line rule). ``xml:space="preserve"``
    keeps run text verbatim through conforming XML parsers."""
    body: list[str] = []
    for text in paragraphs:
        runs = '<w:r><w:br/></w:r>'.join(
            f'<w:r><w:t xml:space="preserve">{_xml_escape(line)}</w:t>'
            "</w:r>"
            for line in text.split("\n")
        )
        body.append(f"<w:p>{runs}</w:p>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{W_NS}"><w:body>'
        + "".join(body)
        + "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _RELS)
        zf.writestr(_DOC_PART, doc)
    return buf.getvalue()
