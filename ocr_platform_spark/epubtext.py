"""EPUB chapter-text extraction — the book tier.

An ``.epub`` is a ZIP whose marker is ``META-INF/container.xml``; that
part names the OPF package document, whose ``<manifest>`` maps ids to
member hrefs and whose ``<spine>`` lists the reading order of XHTML
content documents. Books are the classic long-form corpus family
(Gutenberg-style public-domain scans re-published digitally, technical
manuals), and everything needed is stdlib: ``zipfile`` + ``xml.etree``
+ the existing HTML DOM tier.

Model: one PAGE per spine document (chapters are the natural page unit
— the same genuinely-paged shape as PPTX slides), each extracted by the
DOM tier's block walk (:func:`..htmltext.main_blocks` — innermost
blocks, entity decode, link-density boilerplate drop, which also
handles an EPUB's tables-of-contents and footer chrome). The deep
probe walks the book once and each bucket row ships only its own
chapters' walked parts, so a 400-chapter book crosses the bucket
shuffle ~once.

Quarantine: corrupt/truncated zip, missing/malformed container or OPF,
spine idrefs without manifest entries, manifest hrefs missing from the
archive, CRC mismatch on a chapter member, chapter content failing the
DOM tier's structural pre-flight (truncation, bad charset, unclosed
script/style subtrees).
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile

from . import htmltext
from .docxtext import _open_docx as _open_zip, _xml_escape
from .pptxtext import _parse_member

_MARKER = "META-INF/container.xml"
_CNT_NS = "urn:oasis:names:tc:opendocument:xmlns:container"
_OPF_NS = "http://www.idpf.org/2007/opf"

_ROOTFILE = f"{{{_CNT_NS}}}rootfile"
_MANIFEST_ITEM = f"{{{_OPF_NS}}}manifest/{{{_OPF_NS}}}item"
_SPINE_ITEMREF = f"{{{_OPF_NS}}}spine/{{{_OPF_NS}}}itemref"


def _opf_path(zf: zipfile.ZipFile) -> str:
    root = _parse_member(zf, _MARKER)
    for rf in root.iter(_ROOTFILE):
        path = rf.get("full-path")
        if path:
            return path
    raise ValueError("EPUB container.xml names no rootfile full-path")


def _spine_members(zf: zipfile.ZipFile) -> list[str]:
    """Spine content-document member names in reading order."""
    opf_path = _opf_path(zf)
    opf = _parse_member(zf, opf_path)
    base = posixpath.dirname(opf_path)
    hrefs: dict[str, str] = {}
    for item in opf.iterfind(_MANIFEST_ITEM):
        iid, href = item.get("id"), item.get("href")
        if iid and href:
            hrefs[iid] = posixpath.normpath(posixpath.join(base, href))
    names = set(zf.namelist())
    members: list[str] = []
    for ref in opf.iterfind(_SPINE_ITEMREF):
        idref = ref.get("idref")
        if idref not in hrefs:
            raise ValueError(
                f"spine idref {idref!r} has no manifest entry"
            )
        member = hrefs[idref]
        if member not in names:
            raise ValueError(
                f"manifest href {member!r} missing from the archive"
            )
        members.append(member)
    if not members:
        raise ValueError("EPUB with an empty spine")
    return members


def probe_epub(raw: bytes) -> tuple[int, int, int]:
    """Shallow pre-flight: ``(n_chapters, width=0, height=0)``, resolving
    the container → OPF → spine chain (three small XML parses, no
    chapter inflated). The deep probe runs :func:`chapter_parts`, the
    walk extraction decodes."""
    with _open_zip(raw) as zf:
        return len(_spine_members(zf)), 0, 0


def _read_member(zf: zipfile.ZipFile, name: str) -> bytes:
    try:
        return zf.read(name)  # CRC-32 verified here
    except Exception as e:
        raise ValueError(f"unreadable {name}: {e}") from e


def _chapter_html(zf: zipfile.ZipFile, name: str) -> str:
    """A chapter's decoded XHTML behind the DOM tier's structural
    pre-flight (CRC-verified read + truncation / charset /
    unclosed-subtree checks, :func:`..htmltext.validate_html`)."""
    try:
        return htmltext.validate_html(_read_member(zf, name))
    except ValueError as e:
        raise ValueError(f"chapter {name}: {e}") from e


#: RFC 3986 scheme prefix: such a source is not a package member
_SCHEME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9+.-]*:")


def _chapter_images(zf: zipfile.ZipFile, member: str,
                    html: str) -> list[tuple[int, str]]:
    """Resolved ``(position, zip member)`` for a chapter's ``<img>``
    references: hrefs resolve relative to the chapter's own directory;
    sources with a scheme (``https:``, ``data:``, ...) or a
    protocol-relative ``//host`` prefix are skipped (not package
    members); a package-relative source whose member is absent
    quarantines."""
    members = set(zf.namelist())
    base = posixpath.dirname(member)
    out: list[tuple[int, str]] = []
    for pos, src in htmltext.image_refs(html):
        if src.startswith("//") or _SCHEME_RE.match(src):
            continue
        target = posixpath.normpath(posixpath.join(base, src))
        if target not in members:
            raise ValueError(
                f"chapter {member}: image member missing: {target!r}"
            )
        out.append((pos, target))
    return out


def chapter_parts(
    raw: bytes, page_indices: "list[int] | range | None" = None
) -> list[list[tuple]]:
    """EPUB bytes -> per-chapter MIXED part lists: DOM text blocks and
    embedded images interleaved by document position (the
    :func:`..pptxtext.slide_parts` shape — ``("text", pos, text)`` /
    ``("media", pos, ctype, member, payload)``), so a scanned plate
    between two paragraphs OCRs between their spans. Text parts are the
    DOM tier's :func:`..htmltext.main_blocks`. ``page_indices`` selects
    chapters by their spine position in ``raw`` (``None`` for all). The
    deep probe walks every chapter once and the bucket rows carry the
    parts (:mod:`.tiers`)."""
    from .docxtext import media_content_type

    with _open_zip(raw) as zf:
        members = _spine_members(zf)
        if page_indices is not None:
            members = [members[i] for i in page_indices]
        chapters: list[list[tuple]] = []
        for name in members:
            html = _chapter_html(zf, name)
            items: list[tuple] = [
                ("text", b.pos, b.text)
                for b in htmltext.main_blocks(html)
            ]
            for pos, target in _chapter_images(zf, name, html):
                items.append((
                    "media", pos, media_content_type(target), target,
                    _read_member(zf, target),
                ))
            items.sort(key=lambda p: p[1])
            chapters.append(items)
    return chapters


# --- minimal writer (tests / fixtures) ---------------------------------------


def encode_epub(chapters: list[str], subdir: str = "OEBPS",
                media: "list[tuple[str, bytes]] | None" = None) -> bytes:
    """Minimal structurally-valid EPUB: ``chapters`` are ready-made
    XHTML document strings, one spine entry each, manifest/spine in the
    standard container → OPF layout. ``media`` entries are
    ``(relative_href, payload)`` members written under ``subdir`` (and
    manifest-listed), for chapters embedding ``<img src="...">``."""
    from .docxtext import media_content_type

    media = media or []
    opf_items = "".join(
        f'<item id="c{i}" href="chap{i}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for i in range(len(chapters))
    ) + "".join(
        f'<item id="m{i}" href="{href}" '
        f'media-type="{media_content_type(href)}"/>'
        for i, (href, _data) in enumerate(media)
    )
    opf_spine = "".join(
        f'<itemref idref="c{i}"/>' for i in range(len(chapters))
    )
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<package xmlns="{_OPF_NS}" version="3.0">'
        f"<manifest>{opf_items}</manifest>"
        f"<spine>{opf_spine}</spine></package>"
    )
    container = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<container xmlns="{_CNT_NS}" version="1.0"><rootfiles>'
        f'<rootfile full-path="{subdir}/content.opf" '
        'media-type="application/oebps-package+xml"/>'
        "</rootfiles></container>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr(_MARKER, container)
        zf.writestr(f"{subdir}/content.opf", opf)
        for i, xhtml in enumerate(chapters):
            zf.writestr(f"{subdir}/chap{i}.xhtml", xhtml)
        for href, data in media:
            zf.writestr(f"{subdir}/{href}", data)
    return buf.getvalue()


def chapter_xhtml(blocks: list[str], title: str = "ch") -> str:
    """Fixture helper: blocks -> a chapter XHTML document (one ``<p>``
    per block, lines as ``<br/>``, shared escaping)."""
    body = "".join(
        "<p>" + "<br/>".join(
            _xml_escape(line) for line in text.split("\n")) + "</p>"
        for text in blocks
    )
    return (
        "<!DOCTYPE html>"
        f"<html><head><title>{_xml_escape(title)}</title></head>"
        f"<body>{body}</body></html>"
    )
