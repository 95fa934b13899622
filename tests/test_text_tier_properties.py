"""Property-based round trips for the text-tier encoders, pure
single-node — no Spark session needed.

Every OCR-bypass tier shares one normalization contract: a block's text
is its stripped non-empty lines joined with ``\\n``. For any list of
texts already in that NORMAL FORM, encoding into the tier's container
and extracting back must be the identity — across the whole printable
Unicode range (RTF's \\uN surrogate pairs, XML escaping, shared-string
tables, spine rewrites all under test at once). A failure here is a
silent-corruption bug by construction.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_platform_spark import (docxtext, epubtext, htmltext, odttext,
                                plaintext, pptxtext, rtftext, xlsxtext)
from tests.test_extract_office_paged import text_pages

# characters the tiers must carry verbatim: printable, no C0/C1 (the
# plain-text contract refuses binary controls; XML cannot carry most
# C0 at all), no Unicode line separators beyond \n (block-internal
# structure), and NFC-agnostic (no normalization anywhere).
_char = st.characters(
    codec="utf-8",
    categories=("L", "N", "P", "S", "Zs"),
)
# one normalized LINE: stripped, non-empty (strip-stable by filtering)
_line = st.text(_char, min_size=1, max_size=40).map(str.strip).filter(
    lambda s: s and "\n" not in s)
# one BLOCK: 1-4 lines joined with \n (the shared normal form)
_block = st.lists(_line, min_size=1, max_size=4).map("\n".join)
_blocks = st.lists(_block, min_size=1, max_size=6)


@given(_blocks)
@settings(max_examples=150, deadline=None)
def test_docx_round_trip(paras):
    got = text_pages([docxtext.document_parts(docxtext.encode_docx(paras))])[0]
    assert [b.text for b in got] == paras


@given(_blocks)
@settings(max_examples=150, deadline=None)
def test_odt_round_trip(paras):
    got = text_pages([odttext.document_parts(odttext.encode_odt(paras))])[0]
    assert [b.text for b in got] == paras


@given(_blocks)
@settings(max_examples=150, deadline=None)
def test_rtf_round_trip(paras):
    got = rtftext.extract_paragraphs(rtftext.encode_rtf(paras))
    assert [b.text for b in got] == paras


@given(st.lists(_blocks, min_size=1, max_size=3))
@settings(max_examples=100, deadline=None)
def test_pptx_round_trip(slides):
    got = text_pages(pptxtext.slide_parts(pptxtext.encode_pptx(slides)))
    assert [[b.text for b in p] for p in got] == slides


@given(st.lists(_blocks, min_size=1, max_size=3), st.booleans())
@settings(max_examples=100, deadline=None)
def test_xlsx_round_trip(sheets, use_shared):
    rows = [[[cell] for cell in sheet] for sheet in sheets]
    got = text_pages(xlsxtext.sheet_parts(
        xlsxtext.encode_xlsx(rows, use_shared=use_shared)))
    assert [[b.text for b in p] for p in got] == sheets


# the EPUB tier extracts through the DOM walk, which applies HTML
# whitespace RULES: all Unicode whitespace (nbsp, em-space, runs)
# collapses to single ASCII spaces. Its normal form is therefore
# HTML-whitespace-normal lines — encode that in the strategy (the
# hypothesis run that found \xa0 -> ' ' was reporting the documented
# rendering rule, not a bug).
import re as _re

_html_line = _line.map(
    lambda s: _re.sub(r"\s+", " ", s).strip()).filter(bool)
_html_block = st.lists(_html_line, min_size=1, max_size=4).map("\n".join)


@given(st.lists(st.lists(_html_block, min_size=1, max_size=6),
                min_size=1, max_size=3))
@settings(max_examples=60, deadline=None)
def test_epub_round_trip(chapters):
    book = epubtext.encode_epub(
        [epubtext.chapter_xhtml(ch) for ch in chapters])
    got = text_pages(epubtext.chapter_parts(book))
    assert [[b.text for b in p] for p in got] == chapters


# plain text: the normal form must also survive its own container rules
# (a block may not CONTAIN a blank line or form feed — those are the
# paragraph separators). Spaces collapse is NOT applied by this tier,
# so internal runs survive; only line strips apply.
_pt_line = _line.filter(lambda s: "\f" not in s)
_pt_block = st.lists(_pt_line, min_size=1, max_size=4).map("\n".join)


@given(st.lists(_pt_block, min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_plaintext_round_trip(paras):
    raw = "\n\n".join(paras).encode()
    try:
        text = plaintext.decode_text(raw)
    except ValueError:
        # the strict contract refuses leading '<' — legal for random
        # unicode blocks; the refusal IS the contract, not a failure
        assert paras[0].lstrip().startswith("<")
        return
    got = plaintext.paragraph_blocks(text)
    assert [b.text for b in got] == paras


@given(st.lists(_pt_block, min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_markdown_round_trip(paras):
    """encode_markdown rotates blocks through the whole construct set
    (falling back to verbatim fences); rendering must be the identity,
    and every encoded document must carry a structural sniff signal so
    the probe promotes it off the txt tier."""
    from ocr_platform_spark import mdtext

    src = mdtext.encode_markdown(paras).decode()
    got = mdtext.markdown_blocks(src)
    assert [b.text for b in got] == paras
    assert [b.pos for b in got] == sorted(b.pos for b in got)
    assert mdtext.sniff_markdown(src)


@given(st.lists(_pt_block, min_size=2, max_size=8))
@settings(max_examples=150, deadline=None)
def test_dsv_round_trip(paras):
    """encode_dsv -> tabular_blocks identity over arbitrary normal-form
    blocks, plus the promotion guarantee (the rectangle always sniffs,
    and sniffs as TABULAR, not markdown -- the probe checks csv first
    but the encoder must not depend on md losing a race)."""
    from ocr_platform_spark import csvtext

    raw = csvtext.encode_dsv(paras)
    text = raw.decode()
    assert csvtext.sniff_tabular(text) == "\t"
    got = csvtext.tabular_blocks(text)
    assert [b.text for b in got] == paras
    assert [b.pos for b in got] == sorted(b.pos for b in got)


@given(st.lists(_pt_block, min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_xml_round_trip(paras):
    """encode_xml -> xml_blocks identity over arbitrary normal-form
    blocks (XML escaping + the leaf strip-lines-join rule)."""
    from ocr_platform_spark import xmltext

    got = xmltext.xml_blocks(xmltext.encode_xml(paras))
    assert [b.text for b in got] == paras
    assert [b.pos for b in got] == sorted(b.pos for b in got)


@given(st.lists(_pt_block, min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_jsonl_round_trip(paras):
    """encode_jsonl -> json_blocks identity over arbitrary normal-form
    blocks (JSON string escaping + values-only walk + the numeric-id
    field that must never emit)."""
    from ocr_platform_spark import jsontext

    text = jsontext.encode_jsonl(paras).decode()
    assert jsontext.sniff_json(text) is not None
    got = jsontext.json_blocks(text)
    assert [b.text for b in got] == paras
    assert [b.pos for b in got] == sorted(b.pos for b in got)


@given(_blocks)
@settings(max_examples=100, deadline=None)
def test_html_escape_round_trip(paras):
    """escape_text/unescape_entities identity over arbitrary block
    text, and through a full <p> block walk."""
    for text in paras:
        assert htmltext.unescape_entities(
            htmltext.escape_text(text)) == text


# the e-mail tier's normal form additionally excludes its documented
# boilerplate drops: a line starting '>' is reply quoting and a line
# equal to '-- ' is the signature delimiter (unreachable here anyway —
# normal-form lines are stripped). Encoding that in the strategy
# mirrors the EPUB whitespace note above: the drop is the documented
# rendering rule, not corruption.
_mail_line = _line.filter(lambda s: not s.startswith(">"))
_mail_block = st.lists(_mail_line, min_size=1, max_size=4).map("\n".join)
_mail_blocks = st.lists(_mail_block, min_size=1, max_size=6)

_EML_HDRS = [("From", "p@example.org"), ("Message-ID", "<p@x>"),
             ("Received", "relay"), ("Date", "Thu, 01 Jan 2026")]


@given(_mail_blocks)
@settings(max_examples=150, deadline=None)
def test_eml_round_trip(paras):
    from ocr_platform_spark import emltext

    raw = emltext.encode_eml(_EML_HDRS, body="\n\n".join(paras))
    assert emltext.sniff_eml(raw.decode("utf-8"))  # guaranteed sniff
    got = emltext.eml_blocks(raw.decode("utf-8"))
    assert [b.text for b in got] == paras


@given(st.lists(_mail_blocks, min_size=1, max_size=3))
@settings(max_examples=100, deadline=None)
def test_mbox_round_trip(pages):
    from ocr_platform_spark import emltext

    msgs = [emltext.encode_eml(_EML_HDRS, body="\n\n".join(p))
            for p in pages]
    mb = emltext.encode_mbox(msgs)
    assert emltext.sniff_mbox(mb.decode("utf-8"))  # guaranteed sniff
    assert emltext.count_messages(mb) == len(pages)
    got = text_pages(emltext.mbox_page_parts(mb))
    assert [[b.text for b in p] for p in got] == pages
