"""The tier table: which media kinds exist and how each one is
decoded. Spark-free; both the deep probe
(:func:`.multimodal.probe_real_media`) and the one OCR stage
(:mod:`.operators.extract`) read it.

:data:`TIERS` has one :class:`Tier` per probe ``media_kind``:
``(slicer | None, pages, walk | None)``. ``pages(raw, page_indices)``
returns the decoded pages, each a ``(parts, width, height)`` triple:
``parts`` is an ordered list, and ``width x height`` is the pixel space
of the text parts' coordinates (``0 x 0`` where they are synthetic
ordinals). A part is either a text block (duck-typed on
``x1/y1/x2/y2/text``) or a grayscale raster (a 2-D ``uint8`` array).
Only the PDF, TIFF, GIF and SPDF1 tiers have a ``slicer(raw)``: it
parses a multi-page container once and returns the ``page_indices ->
sub-document`` cut used at probe time, so cutting a P-page document
into P one-page buckets costs one parse, not P. A slice holds exactly
its bucket's pages, renumbered from 0 in order. So ``page_indices``
into a sliced payload is local (``None`` for all of them), and into an
unsliced payload global (the bucket's page range, or one page of it).
The walked kinds have no slicer and never ship a payload to the OCR
stage: their bucket rows carry the deep probe's walked parts (see
:mod:`.operators.extract`), and their ``pages`` is the raw-bytes
reference decode of the same walk. The entries fall into five groups:

- **Synthetic containers** (SPDF1/SIMG1, :mod:`.formats`): each page
  renders through :func:`_render` to one raster. The slicer parses the
  container once and re-encodes the bucket's pages as a minimal SPDF1,
  so a one-page bucket row carries a ~200-byte sub-container.
- **PDF**: always the per-page hybrid
  :func:`.pdftext.extract_hybrid_pages`. A born-digital page parses its
  text layer; a scanned page rasterizes through the exact
  ``decode_pdf`` path. The deep probe validates every page under the
  same hybrid contract (:func:`.pdftext.validate_hybrid`).
- **Rasters**: PNG/JPEG/BMP images, TIFF and GIF frames — one raster
  per page.
- **Reflowable text** (plain text, Markdown, LaTeX, subtitles, DSV,
  XML, JSON): one page of text blocks positioned at character offsets.
- **Containers with embedded pictures** (DOCX, ODT, RTF, HTML
  ``data:`` images and e-mail attachments as one page; PPTX slides,
  EPUB chapters, mbox messages and XLSX sheets as pages): the entry is
  defined by ONE part walk, ``walk(raw, page_indices) -> [[part]]``
  (``("text", ..., text)`` / ``("media", ..., name, payload)``; a
  one-page kind returns one page; ``page_indices`` are global). The
  deep probe runs ``walk(raw, None)`` once, deep-probes every part
  :func:`is_picture` admits and keeps the text parts and pictures; the
  OCR stage runs each page of those parts through :func:`_flow`, which
  decodes by the same picture rule, so the probe accepts exactly what
  extraction decodes. ``pages`` flows ``walk(raw, page_indices)`` the
  same way. Unsupported formats (EMF/WMF vectors, nested containers)
  contribute nothing.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np

from . import (bmpcodec, csvtext, docxtext, emltext, epubtext, formats,
               gifcodec, htmltext, jpegcodec, jsontext, latextext, mdtext,
               odttext, pdfcodec, pdftext, plaintext, pngcodec, pptxtext,
               raster, rtftext, subtext, tiffcodec, xlsxtext, xmltext)

#: raster codecs an embedded picture decodes through (the OCR
#: interleave subset; anything else — EMF/WMF vectors, nested
#: containers — contributes no blocks and is skipped)
EMBED_RASTER_KINDS = frozenset(("png", "jpeg", "gif", "bmp", "tiff"))


def is_picture(part: tuple) -> bool:
    """The picture rule: a media part (payload in the LAST slot of
    every walk's tuple) whose bytes sniff as a supported raster
    codec."""
    return (part[0] == "media"
            and formats.sniff_kind(part[-1]) in EMBED_RASTER_KINDS)


def _rasters(raw: bytes, page_indices=None) -> list[np.ndarray]:
    """Raster payload -> grayscale pages via the magic dispatch: one
    per PNG/BMP/JPEG image, one per selected TIFF/GIF frame. ``mode="L"``
    keeps native-gray pages 2-D end-to-end; color content converts with
    PIL's exact ``convert("L")`` luma (:func:`.pdfcodec.rgb_to_gray`)."""
    kind = formats.sniff_kind(raw)
    if kind == "tiff":
        return tiffcodec.decode_tiff(raw, mode="L", page_indices=page_indices)
    if kind == "gif":
        return gifcodec.decode_gif(raw, mode="L", page_indices=page_indices)
    decode = {"png": pngcodec.decode_png,
              "bmp": bmpcodec.decode_bmp}.get(kind, jpegcodec.decode_jpeg)
    return [pdfcodec.rgb_to_gray(decode(raw))]


def _flow(parts: list[tuple]) -> list:
    """One walked page -> its parts: each text part becomes a block at
    ``y1`` = its ordinal in the page, each picture (:func:`is_picture`)
    decodes to its rasters (a multi-frame TIFF/GIF one per frame, in
    frame order), and other media drop. Decoding here keeps picture
    failures inside the OCR stage's atomic decode."""
    page: list = []
    for part in parts:
        if part[0] == "text":
            page.append(plaintext.TextParagraph(len(page), part[-1]))
        elif is_picture(part):
            page.extend(_rasters(part[-1]))
    return page


class Tier(NamedTuple):
    slicer: Callable | None
    pages: Callable
    #: the container kinds' part walk (``pages`` flows it)
    walk: Callable | None = None


def _render(kind: str, page: formats.PageDesc) -> np.ndarray:
    """Render one synthetic page to its grayscale raster (``kind`` from
    :func:`.formats.decode_media`: PDF pages are in PDF units, image
    pages in pixels)."""
    unit_scale = raster.PDF_UNIT_SCALE if kind == "pdf" else 1.0
    return raster.render_page(page, unit_scale)


def _synthetic_pages(raw: bytes, page_indices) -> list:
    kind, pages = formats.decode_media(raw)
    if page_indices is not None:
        pages = [pages[i] for i in page_indices]
    rasters = [_render(kind, p) for p in pages]
    return [([r], r.shape[1], r.shape[0]) for r in rasters]


def _synthetic_slicer(raw: bytes):
    _kind, pages = formats.decode_media(raw)
    return lambda page_indices: formats.encode_pdf(
        [pages[i] for i in page_indices])


def _pdf_pages(raw: bytes, page_indices) -> list:
    return [
        (body if kind == "text" else [body], w, h)
        for kind, body, w, h in pdftext.extract_hybrid_pages(
            raw, page_indices=page_indices, mode="L")
    ]


def _raster_pages(raw: bytes, page_indices) -> list:
    return [([r], r.shape[1], r.shape[0])
            for r in _rasters(raw, page_indices)]


def _text(blocks) -> Tier:
    """Single-page tier over strict UTF-8 text (the probe's refinements
    of the plain-text tier), at synthetic ordinal coordinates."""
    return Tier(None, lambda raw, _page_indices: [
        (blocks(plaintext.decode_text(raw)), 0, 0)])


def _walked(walk) -> Tier:
    """Container tier defined by its part walk."""
    return Tier(None, lambda raw, page_indices: [
        (_flow(parts), 0, 0) for parts in walk(raw, page_indices)
    ], walk)


def _one_page(parts):
    """``parts(raw)`` as a one-page walk."""
    return lambda raw, _page_indices: [parts(raw)]


#: the kinds whose every decoded page is one lone raster
RASTER_PAGE_KINDS = frozenset(("spdf", "simg", "image", "tiff", "gif"))

#: probe ``media_kind`` -> :class:`Tier`; see the module docstring. A
#: kind the probe can return but this table lacks raises at the OCR
#: stage instead of silently extracting nothing.
TIERS = {
    "spdf": Tier(_synthetic_slicer, _synthetic_pages),
    "simg": Tier(None, _synthetic_pages),
    "pdf": Tier(lambda raw: pdfcodec._Slicer(raw).slice, _pdf_pages),
    "image": Tier(None, _raster_pages),
    "tiff": Tier(tiffcodec.page_slicer, _raster_pages),
    "gif": Tier(gifcodec.page_slicer, _raster_pages),
    "html": _walked(_one_page(
        lambda raw: htmltext.html_parts(htmltext.validate_html(raw)))),
    "docx": _walked(_one_page(docxtext.document_parts)),
    "odt": _walked(_one_page(odttext.document_parts)),
    "rtf": _walked(_one_page(rtftext.document_parts)),
    "eml": _walked(_one_page(
        lambda raw: emltext.eml_parts(plaintext.decode_text(raw)))),
    "txt": _text(plaintext.paragraph_blocks),
    "md": _text(mdtext.markdown_blocks),
    "tex": _text(latextext.latex_blocks),
    "sub": _text(subtext.subtitle_blocks),
    "csv": _text(csvtext.tabular_blocks),
    "json": _text(jsontext.json_blocks),
    "xml": Tier(None, lambda raw, _page_indices: [
        (xmltext.xml_blocks(raw), 0, 0)]),
    "pptx": _walked(pptxtext.slide_parts),
    "epub": _walked(epubtext.chapter_parts),
    "mbox": _walked(emltext.mbox_page_parts),
    "xlsx": _walked(xlsxtext.sheet_parts),
}
