"""PPTX (PresentationML) slide-text extraction — the office tier's
multi-PAGE member.

A ``.pptx`` is a ZIP whose slides live one-per-member at
``ppt/slides/slideN.xml``; :func:`..multimodal.probe_real_media`
refines a ``PK``-magic payload into ``pptx`` when
``ppt/presentation.xml`` is present (after ``word/document.xml`` has
declined — see the zip refinement ladder there). Unlike DOCX/HTML/plain
text, a deck is genuinely PAGED: each slide is one page, so the
pipeline's page-bucket shuffle (skew fix for 300-slide decks) applies
— a bucket row carries its own slides' walked parts (text and picture
bytes), which the deep probe's one walk of the deck produced.

Slide order: numeric ``N`` in the member name. (Strictly, order is
defined by ``ppt/_rels/presentation.xml.rels`` indirection; PowerPoint
and every mainstream writer number members in presentation order, and
the pragmatic rule keeps the probe a directory walk. Documented
trade-off.)

Block model per slide: one block per DrawingML paragraph (``<a:p>``),
in document order across the slide's shapes; ``<a:t>`` run text
concatenates, ``<a:br/>`` becomes a line break, lines strip and join
with ``\\n`` — the shared multi-line-block rule. Speaker notes
(``ppt/notesSlides/``) and slide masters/layouts are presentation
chrome, deliberately unread — the deck analog of the DOM tier's
boilerplate drop.

Quarantine: truncated/corrupt zip, CRC mismatch on a slide member,
encrypted members, malformed XML, a deck with no slides.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree

import posixpath

from .docxtext import _open_docx as _open_zip

#: DrawingML main namespace (text runs live here, not in the
#: PresentationML ``p:`` namespace)
A_NS = "http://schemas.openxmlformats.org/drawingml/2006/main"
#: PresentationML namespace (shape tree, pictures)
P_NS = "http://schemas.openxmlformats.org/presentationml/2006/main"
_MARKER = "ppt/presentation.xml"
_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")

_A_P = f"{{{A_NS}}}p"
_A_T = f"{{{A_NS}}}t"
_A_BR = f"{{{A_NS}}}br"
_P_PIC = f"{{{P_NS}}}pic"
_A_BLIP = f"{{{A_NS}}}blip"


def _slide_members(zf: zipfile.ZipFile) -> list[str]:
    """Slide member names in presentation (numeric) order; a deck with
    no slides quarantines."""
    slides: list[tuple[int, str]] = []
    for name in zf.namelist():
        m = _SLIDE_RE.match(name)
        if m:
            slides.append((int(m.group(1)), name))
    if not slides:
        raise ValueError("PPTX with no ppt/slides/slideN.xml members")
    slides.sort()
    return [name for _n, name in slides]


def probe_pptx(raw: bytes) -> tuple[int, int, int]:
    """Shallow pre-flight: ``(n_slides, width=0, height=0)`` — slides
    are reflowable pages with no raster geometry; a central-directory
    walk, no member inflated. The deep probe runs :func:`slide_parts`,
    the walk extraction decodes."""
    with _open_zip(raw) as zf:
        return len(_slide_members(zf)), 0, 0


def _parse_member(zf: zipfile.ZipFile, name: str) -> ElementTree.Element:
    try:
        data = zf.read(name)  # CRC-32 verified by zipfile here
    except Exception as e:
        raise ValueError(f"unreadable {name}: {e}") from e
    try:
        return ElementTree.fromstring(data)
    except ElementTree.ParseError as e:
        raise ValueError(f"malformed XML in {name}: {e}") from e


def _slide_rels(zf: zipfile.ZipFile, slide: str) -> "tuple[dict, set]":
    """Per-slide relationships (``ppt/slides/_rels/slideN.xml.rels``):
    ``(rId -> member path, external rIds)``. Targets resolve relative
    to ``ppt/slides/`` (``../media/image1.png`` -> ``ppt/media/
    image1.png``)."""
    from .docxtext import PR_NS

    rels_name = (
        posixpath.dirname(slide) + "/_rels/" + posixpath.basename(slide)
        + ".rels"
    )
    if rels_name not in zf.namelist():
        return {}, set()
    try:
        root = ElementTree.fromstring(zf.read(rels_name))
    except Exception as e:
        raise ValueError(f"malformed {rels_name}: {e}") from e
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
            member = posixpath.normpath(
                posixpath.join(posixpath.dirname(slide), target)
            )
        rels[rid] = member
    return rels, external


def _slide_parts(zf: zipfile.ZipFile, slide: str) -> list[tuple]:
    """One slide -> ordered parts: ``("text", ordinal, text)`` per
    DrawingML paragraph and ``("media", ordinal, content_type, member,
    payload)`` per ``p:pic`` picture, in shape-tree document order —
    the slide-level analog of :func:`..docxtext.document_parts`. The
    ordinal advances for every ``a:p`` (empty ones included) and every
    picture."""
    from .docxtext import _R_EMBED, media_content_type

    root = _parse_member(zf, slide)
    rels, external = _slide_rels(zf, slide)
    members = set(zf.namelist())
    parts: list[tuple] = []
    i = 0
    for el in root.iter():
        if el.tag == _A_P:
            text_parts: list[str] = []
            for sub in el.iter():
                if sub.tag == _A_T:
                    text_parts.append(sub.text or "")
                elif sub.tag == _A_BR:
                    text_parts.append("\n")
            text = "\n".join(
                line.strip() for line in "".join(text_parts).split("\n")
                if line.strip()
            )
            if text:
                parts.append(("text", i, text))
            i += 1
        elif el.tag == _P_PIC:
            for blip in el.iter(_A_BLIP):
                rid = blip.get(_R_EMBED)
                if not rid or rid in external:
                    continue  # linked picture: no package payload
                member = rels.get(rid)
                if member is None:
                    raise ValueError(
                        f"dangling picture relationship {rid!r} in {slide}"
                    )
                if member not in members:
                    raise ValueError(
                        f"embedded media member missing: {member!r}"
                    )
                try:
                    payload = zf.read(member)
                except Exception as e:
                    raise ValueError(
                        f"unreadable embedded media {member!r}: {e}"
                    ) from e
                parts.append(
                    ("media", i, media_content_type(member), member,
                     payload)
                )
                i += 1
    return parts


def slide_parts(
    raw: bytes, page_indices: "list[int] | range | None" = None
) -> list[list[tuple]]:
    """PPTX bytes -> per-slide MIXED part lists (text paragraphs +
    embedded pictures, shape-tree order), in presentation order.
    ``page_indices`` selects slides by their position in ``raw``
    (``None`` for all). The deep probe walks every slide once and the
    bucket rows carry the parts (:mod:`.tiers`)."""
    with _open_zip(raw) as zf:
        names = _slide_members(zf)
        if page_indices is not None:
            names = [names[i] for i in page_indices]
        return [_slide_parts(zf, n) for n in names]


# --- minimal writer (tests / fixtures) ---------------------------------------

_PPTX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types"><Default Extension="xml" ContentType="application/'
    'xml"/><Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/></Types>'
)
_PRESENTATION = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<p:presentation xmlns:p="http://schemas.openxmlformats.org/'
    'presentationml/2006/main"/>'
)

from .docxtext import _xml_escape  # noqa: E402  (shared escaping rule)


def encode_pptx(slides: "list[list]") -> bytes:
    """Minimal structurally-valid PPTX: one ``slideN.xml`` per entry,
    one ``<a:p>`` per ``str`` block (internal ``\\n``s as ``<a:br/>``
    runs); a ``bytes`` block becomes an embedded ``p:pic`` picture
    (member under ``ppt/media/``, per-slide rels part, extension from
    the payload's sniffed codec)."""
    from . import formats
    from .docxtext import _EXT_BY_KIND, R_NS, media_content_type

    media: list[tuple[str, bytes]] = []
    exts: set[str] = set()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(_MARKER, _PRESENTATION)
        for n, blocks in enumerate(slides, start=1):
            shapes: list[str] = []  # spTree children: p:sp / p:pic
            paras: list[str] = []
            slide_rels: list[tuple[str, str]] = []  # (rId, target)

            def _flush_sp() -> None:
                if paras:
                    shapes.append(
                        "<p:sp><p:txBody>" + "".join(paras)
                        + "</p:txBody></p:sp>"
                    )
                    paras.clear()

            for item in blocks:
                if isinstance(item, (bytes, bytearray)):
                    _flush_sp()
                    m = len(media) + 1
                    ext = _EXT_BY_KIND.get(
                        formats.sniff_kind(bytes(item)), ".bin")
                    member = f"ppt/media/image{m}{ext}"
                    media.append((member, bytes(item)))
                    exts.add(ext.lstrip("."))
                    rid = f"rIdImg{m}"
                    slide_rels.append((rid, f"../media/image{m}{ext}"))
                    shapes.append(
                        "<p:pic><p:blipFill>"
                        f'<a:blip r:embed="{rid}"/>'
                        "</p:blipFill></p:pic>"
                    )
                    continue
                runs = "<a:br/>".join(
                    f"<a:r><a:t>{_xml_escape(line)}</a:t></a:r>"
                    for line in item.split("\n")
                )
                paras.append(f"<a:p>{runs}</a:p>")
            _flush_sp()
            slide = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<p:sld xmlns:p="{P_NS}" '
                f'xmlns:a="{A_NS}" xmlns:r="{R_NS}">'
                "<p:cSld><p:spTree>"
                + "".join(shapes)
                + "</p:spTree></p:cSld></p:sld>"
            )
            zf.writestr(f"ppt/slides/slide{n}.xml", slide)
            if slide_rels:
                from .docxtext import PR_NS

                rels = (
                    '<?xml version="1.0" encoding="UTF-8" '
                    'standalone="yes"?>'
                    f'<Relationships xmlns="{PR_NS}">'
                    + "".join(
                        f'<Relationship Id="{rid}" Type="http://schemas.'
                        "openxmlformats.org/officeDocument/2006/"
                        'relationships/image" '
                        f'Target="{target}"/>'
                        for rid, target in slide_rels
                    )
                    + "</Relationships>"
                )
                zf.writestr(
                    f"ppt/slides/_rels/slide{n}.xml.rels", rels
                )
        ctypes = _PPTX_CONTENT_TYPES.replace(
            "</Types>",
            "".join(
                f'<Default Extension="{ext}" ContentType='
                f'"{media_content_type("x." + ext)}"/>'
                for ext in sorted(exts)
            ) + "</Types>",
        )
        zf.writestr("[Content_Types].xml", ctypes)
        for member, payload in media:
            zf.writestr(member, payload)
    return buf.getvalue()
