"""XLSX (SpreadsheetML) cell-text extraction — the office tier's
tabular member.

A ``.xlsx`` is a ZIP whose marker part is ``xl/workbook.xml``;
worksheets live one-per-member at ``xl/worksheets/sheetN.xml`` and
string-typed cells indirect through the ``xl/sharedStrings.xml`` table.
Like PPTX, a workbook is genuinely PAGED — each sheet is one page — so
the page-bucket shuffle applies: a bucket row carries only its own
sheets' walked parts (row text with shared strings resolved, and
anchored pictures), from the deep probe's one walk of the workbook.

Sheet order: numeric ``N`` in the member name (the same pragmatic rule
as :mod:`..pptxtext`'s slides; strict order is workbook.xml rels
indirection, which mainstream writers keep aligned with numbering).

Block model per sheet: one block per non-empty row, cells in document
order joined with a single space — the tabular analog of the DOM tier's
table-cell walk (``td``/``th`` blocks). Cell values: shared strings
(``t="s"``, rich runs concatenated), inline strings
(``t="inlineStr"``), cached formula strings (``t="str"``), booleans
rendered ``TRUE``/``FALSE``, and raw numeric text verbatim (rendering a
float through a number FORMAT is presentation, not content — the raw
value is the honest extraction). Multi-line cell text folds under the
shared strip-lines-join rule.

Quarantine: truncated/corrupt zip, CRC mismatch, encrypted members,
malformed XML, a shared-string index out of table range, a workbook
with no sheets.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree

from .docxtext import _open_docx as _open_zip, _xml_escape
from .pptxtext import _parse_member

#: SpreadsheetML main namespace
S_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_MARKER = "xl/workbook.xml"
_SHARED = "xl/sharedStrings.xml"
_SHEET_RE = re.compile(r"^xl/worksheets/sheet(\d+)\.xml$")

_S_ROW = f"{{{S_NS}}}row"
_S_C = f"{{{S_NS}}}c"
_S_V = f"{{{S_NS}}}v"
_S_IS = f"{{{S_NS}}}is"
_S_T = f"{{{S_NS}}}t"
_S_SI = f"{{{S_NS}}}si"

#: anchored drawings: <drawing r:id="..."/> in the sheet resolves via
#: the sheet rels to xl/drawings/drawingN.xml, whose SpreadsheetDrawing
#: anchors carry <xdr:pic><xdr:blipFill><a:blip r:embed> resolving via
#: the DRAWING's rels to xl/media/* — two rels levels deep
XDR_NS = "http://schemas.openxmlformats.org/drawingml/2006/spreadsheetDrawing"
_S_DRAWING = f"{{{S_NS}}}drawing"
_X_FROM = f"{{{XDR_NS}}}from"
_X_ROW = f"{{{XDR_NS}}}row"


def _sheet_members(zf: zipfile.ZipFile) -> list[str]:
    """Sheet member names in workbook (numeric) order; a workbook with
    no sheets quarantines."""
    sheets: list[tuple[int, str]] = []
    for name in zf.namelist():
        m = _SHEET_RE.match(name)
        if m:
            sheets.append((int(m.group(1)), name))
    if not sheets:
        raise ValueError("XLSX with no xl/worksheets/sheetN.xml members")
    sheets.sort()
    return [name for _n, name in sheets]


def probe_xlsx(raw: bytes) -> tuple[int, int, int]:
    """Shallow pre-flight: ``(n_sheets, width=0, height=0)``, a
    central-directory walk. The deep probe runs :func:`sheet_parts`,
    the walk extraction decodes (shared-string bounds, drawing chains,
    CRC-verified inflates)."""
    with _open_zip(raw) as zf:
        return len(_sheet_members(zf)), 0, 0


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    if _SHARED not in zf.namelist():
        return []
    root = _parse_member(zf, _SHARED)
    out: list[str] = []
    for si in root.iter(_S_SI):
        # rich-text runs: concatenate every <t> descendant
        out.append("".join(t.text or "" for t in si.iter(_S_T)))
    return out


def _cell_text(c: ElementTree.Element, shared: list[str],
               member: str) -> str:
    ctype = c.get("t", "n")
    if ctype == "inlineStr":
        is_el = c.find(_S_IS)
        if is_el is None:
            return ""
        return "".join(t.text or "" for t in is_el.iter(_S_T))
    v = c.find(_S_V)
    if v is None or v.text is None:
        return ""
    if ctype == "s":
        try:
            return shared[int(v.text)]
        except (ValueError, IndexError) as e:
            raise ValueError(
                f"shared-string reference {v.text!r} out of range in "
                f"{member}"
            ) from e
    if ctype == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    # "str" (cached formula string), "e" (error literal), "n"/default
    # (raw numeric text, verbatim — number formats are presentation)
    return v.text


def _sheet_drawings(zf: zipfile.ZipFile,
                    sheet: str) -> list[tuple[int, str, bytes]]:
    """One sheet's anchored pictures: ``(anchor_row, media_member,
    payload)`` in drawing order. Resolution is two rels levels deep
    (sheet rels -> drawing part; drawing rels -> media member); a
    dangling reference at either level quarantines, External targets
    skip."""
    from .docxtext import _R_EMBED, _R_ID
    from .pptxtext import _A_BLIP
    from .pptxtext import _slide_rels as _member_rels

    root = _parse_member(zf, sheet)
    srels, sext = _member_rels(zf, sheet)
    members = set(zf.namelist())
    out: list[tuple[int, str, bytes]] = []
    for dr in root.iter(_S_DRAWING):
        rid = dr.get(_R_ID)
        if not rid or rid in sext:
            continue
        drawing = srels.get(rid)
        if drawing is None:
            raise ValueError(
                f"dangling drawing relationship {rid!r} in {sheet}"
            )
        if drawing not in members:
            raise ValueError(f"drawing part missing: {drawing!r}")
        droot = _parse_member(zf, drawing)
        drels, dext = _member_rels(zf, drawing)
        # anchors in document order; each carries its from-row and any
        # number of pictures
        for anchor in droot:
            row_el = anchor.find(f"{_X_FROM}/{_X_ROW}")
            anchor_row = int(row_el.text) if row_el is not None \
                and row_el.text else 0
            for blip in anchor.iter(_A_BLIP):
                erid = blip.get(_R_EMBED)
                if not erid or erid in dext:
                    continue
                media = drels.get(erid)
                if media is None:
                    raise ValueError(
                        f"dangling picture relationship {erid!r} "
                        f"in {drawing}"
                    )
                if media not in members:
                    raise ValueError(
                        f"embedded media member missing: {media!r}"
                    )
                try:
                    payload = zf.read(media)
                except Exception as e:
                    raise ValueError(
                        f"unreadable embedded media {media!r}: {e}"
                    ) from e
                out.append((anchor_row, media, payload))
    return out


def sheet_parts(
    raw: bytes, page_indices: "list[int] | range | None" = None
) -> list[list[tuple]]:
    """XLSX bytes -> per-sheet MIXED part lists: row blocks and
    anchored pictures interleaved by sheet row (a picture anchored at
    row R slots after row R's text — it renders over that row), the
    ``pptxtext.slide_parts`` shape, in workbook order. ``page_indices``
    selects sheets by their position in ``raw`` (``None`` for all); the
    deep probe walks every sheet once and the bucket rows carry the
    parts (:mod:`.tiers`). Each non-empty row is one text part, its
    cells in document order joined with a single space."""
    from .docxtext import media_content_type

    with _open_zip(raw) as zf:
        names = _sheet_members(zf)
        if page_indices is not None:
            names = [names[i] for i in page_indices]
        shared = _shared_strings(zf)
        sheets: list[list[tuple]] = []
        for n in names:
            root = _parse_member(zf, n)
            keyed: list[tuple] = []
            for i, row in enumerate(root.iter(_S_ROW)):
                sheet_row = int(row.get("r", i + 1)) - 1
                cells = [
                    _cell_text(c, shared, n) for c in row.iter(_S_C)
                ]
                body = " ".join(c for c in cells if c.strip())
                text = "\n".join(
                    line.strip() for line in body.split("\n")
                    if line.strip()
                )
                if text:
                    keyed.append(((sheet_row, 0, 0), "text", text))
            for j, (anchor_row, media, payload) in enumerate(
                    _sheet_drawings(zf, n)):
                keyed.append((
                    (anchor_row, 1, j), "media",
                    (media_content_type(media), media, payload),
                ))
            keyed.sort(key=lambda k: k[0])
            items: list[tuple] = []
            for ordinal, (_key, kind, val) in enumerate(keyed):
                if kind == "text":
                    items.append(("text", ordinal, val))
                else:
                    ctype, media, payload = val
                    items.append(
                        ("media", ordinal, ctype, media, payload))
            sheets.append(items)
    return sheets


# --- minimal writer (tests / fixtures) ---------------------------------------

_XLSX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types"><Default Extension="xml" ContentType="application/'
    'xml"/></Types>'
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{S_NS}"/>'
)


def encode_xlsx(sheets: list[list[list[str]]],
                use_shared: bool = True,
                drawings: "list[list[tuple[int, bytes]]] | None" = None,
                ) -> bytes:
    """Minimal structurally-valid XLSX: ``sheets`` is per-sheet lists of
    rows, each row a list of cell strings. ``use_shared=True`` routes
    strings through a real ``sharedStrings.xml`` table (the layout
    Excel itself writes); ``False`` writes inline strings.
    ``drawings`` (optional, per sheet): ``(anchor_row_0based, payload)``
    pictures written through the real two-level rels chain
    (sheet rels -> xl/drawings/drawingN.xml -> drawing rels ->
    xl/media/*)."""
    from .docxtext import _EXT_BY_KIND, PR_NS, R_NS
    from .pptxtext import A_NS

    drawings = drawings or []
    table: list[str] = []
    index: dict[str, int] = {}

    def _sref(s: str) -> int:
        if s not in index:
            index[s] = len(table)
            table.append(s)
        return index[s]

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        zf.writestr(_MARKER, _WORKBOOK)
        sheet_xml: list[str] = []
        n_media = 0
        from . import formats as _formats

        for si, rows in enumerate(sheets):
            body = []
            for r, cells in enumerate(rows, start=1):
                cs = []
                for k, cell in enumerate(cells):
                    ref = f"{chr(ord('A') + k)}{r}"
                    if use_shared:
                        cs.append(
                            f'<c r="{ref}" t="s"><v>{_sref(cell)}</v></c>'
                        )
                    else:
                        cs.append(
                            f'<c r="{ref}" t="inlineStr"><is>'
                            f'<t xml:space="preserve">{_xml_escape(cell)}'
                            "</t></is></c>"
                        )
                body.append(f'<row r="{r}">{"".join(cs)}</row>')
            drawing_ref = ""
            sheet_drawings = drawings[si] if si < len(drawings) else []
            if sheet_drawings:
                dn = si + 1
                drawing_ref = f'<drawing r:id="rIdDr{dn}"/>'
                anchors, drels = [], []
                for anchor_row, payload in sheet_drawings:
                    n_media += 1
                    ext = _EXT_BY_KIND.get(
                        _formats.sniff_kind(bytes(payload)), ".bin")
                    media = f"xl/media/image{n_media}{ext}"
                    zf.writestr(media, bytes(payload))
                    rid = f"rIdImg{n_media}"
                    drels.append(
                        f'<Relationship Id="{rid}" Type="http://'
                        "schemas.openxmlformats.org/officeDocument/"
                        '2006/relationships/image" '
                        f'Target="../media/image{n_media}{ext}"/>'
                    )
                    anchors.append(
                        "<xdr:oneCellAnchor><xdr:from>"
                        f"<xdr:row>{anchor_row}</xdr:row>"
                        "</xdr:from><xdr:pic><xdr:blipFill>"
                        f'<a:blip r:embed="{rid}"/>'
                        "</xdr:blipFill></xdr:pic></xdr:oneCellAnchor>"
                    )
                zf.writestr(
                    f"xl/drawings/drawing{dn}.xml",
                    '<?xml version="1.0" encoding="UTF-8" '
                    'standalone="yes"?>'
                    f'<xdr:wsDr xmlns:xdr="{XDR_NS}" xmlns:a="{A_NS}" '
                    f'xmlns:r="{R_NS}">' + "".join(anchors)
                    + "</xdr:wsDr>",
                )
                zf.writestr(
                    f"xl/drawings/_rels/drawing{dn}.xml.rels",
                    '<?xml version="1.0" encoding="UTF-8" '
                    'standalone="yes"?>'
                    f'<Relationships xmlns="{PR_NS}">'
                    + "".join(drels) + "</Relationships>",
                )
                zf.writestr(
                    f"xl/worksheets/_rels/sheet{si + 1}.xml.rels",
                    '<?xml version="1.0" encoding="UTF-8" '
                    'standalone="yes"?>'
                    f'<Relationships xmlns="{PR_NS}">'
                    f'<Relationship Id="rIdDr{dn}" Type="http://schemas.'
                    "openxmlformats.org/officeDocument/2006/"
                    'relationships/drawing" '
                    f'Target="../drawings/drawing{dn}.xml"/>'
                    "</Relationships>",
                )
            sheet_xml.append(
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<worksheet xmlns="{S_NS}" xmlns:r="{R_NS}">'
                "<sheetData>"
                + "".join(body) + f"</sheetData>{drawing_ref}</worksheet>"
            )
        for n, xml in enumerate(sheet_xml, start=1):
            zf.writestr(f"xl/worksheets/sheet{n}.xml", xml)
        if use_shared and table:
            sst = "".join(
                f'<si><t xml:space="preserve">{_xml_escape(s)}</t></si>'
                for s in table
            )
            zf.writestr(
                _SHARED,
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                f'<sst xmlns="{S_NS}">{sst}</sst>',
            )
    return buf.getvalue()
