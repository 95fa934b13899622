"""ODT (OpenDocument Text) extraction — the LibreOffice/OpenOffice
member of the office tier.

An ``.odt`` is a ZIP whose first member is conventionally ``mimetype``
(``application/vnd.oasis.opendocument.text``) and whose document body
lives in ``content.xml`` under the ODF text namespace. The zip
refinement ladder (:func:`..multimodal.probe_real_media`) recognizes it
by the ``mimetype`` member's value, falling back to ``content.xml``
presence with an ODF namespace — after the OOXML/EPUB markers have
declined.

Block model: one reflowable page (like DOCX); one block per non-empty
``<text:p>`` or ``<text:h>`` in document order (list items and table
cells nest their own paragraphs, which ``iter()`` visits in document
order; ``text:p`` never nests inside ``text:p``). Within a paragraph,
``<text:line-break/>`` becomes a line break, ``<text:tab/>`` and
``<text:s/>`` become spaces (``text:s text:c="N"`` expands to N),
``<text:span>`` formatting is transparent, and note bodies
(``<text:note>`` — footnotes/endnotes render outside the text flow)
are dropped, the ODF analog of the DOCX tier's invisible-text rule.
Lines then strip and join with ``\\n`` — the shared multi-line-block
rule.

Quarantine: corrupt/truncated zip, CRC mismatch, encrypted members,
missing ``content.xml``, malformed XML.
"""

from __future__ import annotations

import posixpath
import zipfile
from xml.etree import ElementTree

from .docxtext import _open_docx as _open_zip
from .pptxtext import _parse_member

TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_MIMETYPE = b"application/vnd.oasis.opendocument.text"
_CONTENT = "content.xml"

_T_P = f"{{{TEXT_NS}}}p"
_T_H = f"{{{TEXT_NS}}}h"
_T_TAB = f"{{{TEXT_NS}}}tab"
_T_BREAK = f"{{{TEXT_NS}}}line-break"
_T_S = f"{{{TEXT_NS}}}s"
_T_NOTE = f"{{{TEXT_NS}}}note"

#: embedded pictures: <draw:image xlink:href="Pictures/..."/> (inside a
#: draw:frame anchored in the text flow)
DRAW_NS = "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"
XLINK_NS = "http://www.w3.org/1999/xlink"
_D_IMAGE = f"{{{DRAW_NS}}}image"
_X_HREF = f"{{{XLINK_NS}}}href"


def is_odt(zf: zipfile.ZipFile) -> bool:
    names = set(zf.namelist())
    if "mimetype" in names:
        try:
            return zf.read("mimetype").strip() == _MIMETYPE
        except Exception:
            return False
    # mimetype-less writers: content.xml whose head carries an ODF
    # namespace (a streaming 512-byte partial inflate — generic zips
    # that happen to hold a content.xml stay quarantined)
    if _CONTENT not in names:
        return False
    try:
        with zf.open(_CONTENT) as fh:
            return b"opendocument" in fh.read(512)
    except Exception:
        return False


def probe_odt(raw: bytes) -> tuple[int, int, int]:
    """Shallow pre-flight: ``(n_pages=1, width=0, height=0)`` — ODT is
    reflowable like DOCX; checks ``content.xml`` presence. The deep
    probe runs :func:`document_parts`, the walk extraction decodes."""
    with _open_zip(raw) as zf:
        if _CONTENT not in zf.namelist():
            raise ValueError("ODT container has no content.xml")
    return 1, 0, 0


# --- embedded media (the interleaved-span part walk) -------------------------

def _paragraph_segments(p: ElementTree.Element) -> list:
    """Run-ordered events of one ``text:p``/``text:h``: ``("t",
    fragment)`` for visible text (``text:line-break`` as a line
    break, ``text:tab`` and ``text:s`` as spaces) and ``("m", href)``
    for each embedded ``draw:image`` — note subtrees dropped (footnote
    and endnote bodies are not flow text)."""
    segs: list = []

    def _walk(el: ElementTree.Element) -> None:
        if el.text:
            segs.append(("t", el.text))
        for child in el:
            if child.tag == _T_NOTE:
                pass
            elif child.tag == _T_BREAK:
                segs.append(("t", "\n"))
            elif child.tag == _T_TAB:
                segs.append(("t", " "))
            elif child.tag == _T_S:
                segs.append(
                    ("t", " " * int(child.get(f"{{{TEXT_NS}}}c", "1")))
                )
            elif child.tag == _D_IMAGE:
                href = child.get(_X_HREF)
                if href:
                    segs.append(("m", href))
            else:
                _walk(child)
            if child.tail:
                segs.append(("t", child.tail))

    _walk(p)
    return segs


def document_parts(raw: bytes) -> list[tuple]:
    """ODT bytes -> ordered span-shaped parts, mirroring
    :func:`..docxtext.document_parts`: ``("text", pos, text)`` per
    paragraph text run and ``("media", content_type, member, payload)``
    per embedded picture in document order (an inline image splits its
    paragraph). External hrefs (``://`` URLs — linked, not embedded)
    are skipped; a package-relative href whose member is absent or
    unreadable raises ``ValueError`` (strict tier contract)."""
    from .docxtext import _normalize_lines, media_content_type

    with _open_zip(raw) as zf:
        root = _parse_member(zf, _CONTENT)
        members = set(zf.namelist())
        parts: list[tuple] = []
        pos = 0

        def _flush(buf: list[str]) -> None:
            nonlocal pos
            text = _normalize_lines(buf)
            if text:
                parts.append(("text", pos, text))
                pos += 1

        def _media(href: str) -> None:
            nonlocal pos
            if "://" in href:
                return  # linked image, no package payload
            # package-root relative, resolved like the DOCX/PPTX rels
            member = (href[1:] if href.startswith("/")
                      else posixpath.normpath(href))
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
            parts.append((
                "media", media_content_type(member), member, payload,
            ))
            pos += 1

        def _walk(el: ElementTree.Element) -> None:
            for child in el:
                if child.tag == _T_NOTE:
                    continue
                if child.tag in (_T_P, _T_H):
                    buf: list[str] = []
                    for kind, val in _paragraph_segments(child):
                        if kind == "t":
                            buf.append(val)
                            continue
                        if "://" in val:
                            continue  # linked: must not split the para
                        _flush(buf)
                        buf = []
                        _media(val)
                    _flush(buf)
                elif child.tag == _D_IMAGE:
                    # page-anchored frame outside any paragraph
                    href = child.get(_X_HREF)
                    if href:
                        _media(href)
                else:
                    _walk(child)

        _walk(root)
    return parts


# --- minimal writer (tests / fixtures) ---------------------------------------

import io  # noqa: E402

from .docxtext import _xml_escape  # noqa: E402


def encode_odt(paragraphs: list[str]) -> bytes:
    """Minimal structurally-valid ODT: stored (uncompressed) first
    ``mimetype`` member per the ODF packaging convention, one
    ``<text:p>`` per entry, internal ``\\n``s as
    ``<text:line-break/>``."""
    return encode_odt_with_media(list(paragraphs))


def encode_odt_with_media(items: list) -> bytes:
    """:func:`encode_odt` plus embedded pictures, mirroring
    :func:`..docxtext.encode_docx_with_media`: ``str`` entries are
    paragraphs, ``bytes`` entries a paragraph holding one
    ``draw:frame``/``draw:image`` (member under ``Pictures/``), and
    ``(before, payload, after)`` an inline picture between two text
    runs of one paragraph."""
    from .docxtext import _EXT_BY_KIND

    body: list[str] = []
    media: list[tuple[str, bytes]] = []

    def _image(payload: bytes) -> str:
        from . import formats

        n = len(media) + 1
        ext = _EXT_BY_KIND.get(formats.sniff_kind(payload), ".bin")
        member = f"Pictures/image{n}{ext}"
        media.append((member, payload))
        return (
            '<draw:frame text:anchor-type="as-char">'
            f'<draw:image xlink:href="{member}"/></draw:frame>'
        )

    def _runs(text: str) -> str:
        return "<text:line-break/>".join(
            _xml_escape(line) for line in text.split("\n")
        )

    for item in items:
        if isinstance(item, (bytes, bytearray)):
            body.append(f"<text:p>{_image(bytes(item))}</text:p>")
        elif isinstance(item, tuple):
            before, payload, after = item
            body.append(
                f"<text:p>{_runs(before)}{_image(bytes(payload))}"
                f"{_runs(after)}</text:p>"
            )
        else:
            body.append(f"<text:p>{_runs(item)}</text:p>")
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<office:document-content xmlns:office="urn:oasis:names:tc:'
        'opendocument:xmlns:office:1.0" '
        f'xmlns:text="{TEXT_NS}" xmlns:draw="{DRAW_NS}" '
        f'xmlns:xlink="{XLINK_NS}"><office:body><office:text>'
        + "".join(body)
        + "</office:text></office:body></office:document-content>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            zipfile.ZipInfo("mimetype"), _MIMETYPE,
            compress_type=zipfile.ZIP_STORED,
        )
        zf.writestr("content.xml", content)
        for member, payload in media:
            zf.writestr(member, payload)
    return buf.getvalue()
