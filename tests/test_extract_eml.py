"""E-mail tier (EML/mbox) — MIME walk semantics pinned against the
flagship, plus unit pins for every documented rule
(``ocr_platform_spark/emltext.py``).
"""

from __future__ import annotations

import pytest

from ocr_platform_spark import corpus, emltext, multimodal, schemas
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_html import content_html
from tests.test_extract_office_paged import (assert_walked_buckets,
                                             text_pages)
from tests.test_extract_real import _render_pages, _spans_by_doc
from tests.test_extract_text_layer import page_ocr_blocks

HDRS = [("From", "Fixture <f@example.org>"),
        ("To", "corpus@example.org"),
        ("Message-ID", "<fixture@example.org>"),
        ("Date", "Thu, 01 Jan 2026 00:00:00 +0000")]


def _page_block_texts(payload: bytes) -> list[list[str]]:
    _kind, rasters = _render_pages(payload)
    return [[t for _y1, _x1, t in page_ocr_blocks(img)] for img in rasters]


def _body_from_blocks(blocks: list[str]) -> str:
    """Blank-line-joined body that paragraph-splits back to ``blocks``
    exactly (fixture self-check)."""
    body = "\n\n".join(blocks)
    from ocr_platform_spark.plaintext import paragraph_blocks

    assert [b.text for b in paragraph_blocks(body)] == blocks
    return body


def _eml_for(payload: bytes, variant: int) -> tuple[bytes, bool]:
    """Flagship blocks re-encoded as an e-mail; returns (raw, used_subject).

    variant 0: single-part plain body, first block as Subject when it
    is single-line; variant 1: multipart/mixed with a plain body part
    and a binary attachment (dropped by the tier); variant 2:
    multipart/alternative with a decoy plain part and the DOM-tier
    HTML document LAST (the preferred alternative).
    """
    blocks = [t for pg in _page_block_texts(payload) for t in pg]
    if variant == 2:
        return emltext.encode_eml(
            HDRS, subtype="alternative",
            parts=[("text/plain", "decoy plain alternative -- must not "
                                  "appear in the extraction"),
                   ("text/html", content_html(payload).decode())],
        ), False
    used_subject = bool(blocks) and "\n" not in blocks[0]
    subject = blocks[0] if used_subject else None
    rest = blocks[1:] if used_subject else blocks
    hdrs = HDRS + ([("Subject", subject)] if subject else [])
    if variant == 1:
        return emltext.encode_eml(
            hdrs,
            parts=[("text/plain", _body_from_blocks(rest)),
                   ("application/octet-stream", b"\x00\x01binary attach")],
        ), used_subject
    return emltext.encode_eml(hdrs, body=_body_from_blocks(rest)), \
        used_subject


def content_eml(payload: bytes) -> bytes:
    """Synthetic container -> an EML whose extraction equals the
    flagship blocks exactly (mixed-kind rotation hook)."""
    raw, _used_subject = _eml_for(payload, 0)
    return raw


def content_mbox(payload: bytes) -> bytes:
    """Synthetic container -> an mbox with ONE MESSAGE PER PAGE whose
    extraction equals the flagship blocks exactly."""
    msgs = [emltext.encode_eml(HDRS, body=_body_from_blocks(pg))
            for pg in _page_block_texts(payload)]
    return emltext.encode_mbox(msgs)


@pytest.fixture(scope="module")
def eml_corpus(spark):
    docs, media = corpus.generate(18, seed=6161, max_pages=5)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    rows, any_subject = [], False
    for i, (ref, m) in enumerate(sorted(media.items())):
        raw, used_subject = _eml_for(m["data"], i % 3)
        any_subject |= used_subject
        rows.append((ref, bytearray(raw)))
    assert any_subject  # the Subject leg genuinely runs end-to-end
    eml = spark.createDataFrame(rows, "media_ref string, data binary")
    return docs_df, synth, eml


@pytest.fixture(scope="module")
def mbox_corpus(spark):
    """One mbox per media payload, ONE MESSAGE PER PAGE — messages are
    pages, so bucketing/slicing must reproduce flagship page order."""
    docs, media = corpus.generate(14, seed=6262, max_pages=6)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    rows = []
    for ref, m in sorted(media.items()):
        msgs = [
            emltext.encode_eml(HDRS, body=_body_from_blocks(pg))
            for pg in _page_block_texts(m["data"])
        ]
        rows.append((ref, bytearray(emltext.encode_mbox(msgs))))
    mbox = spark.createDataFrame(rows, "media_ref string, data binary")
    return docs_df, synth, mbox


def test_eml_pipeline_equals_flagship(eml_corpus):
    """Span-sequence equality through the probe-promoted eml tier:
    plain body, mixed-with-attachment, and alternative-preferring-HTML
    variants all reproduce the flagship spans exactly."""
    docs_df, synth, eml = eml_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, eml))
    assert got == flagship


def test_eml_probe_promotes(eml_corpus):
    _docs, _synth, eml = eml_corpus
    for r in eml.collect():
        kind, n, _w, _h = multimodal.probe_real_media(
            bytes(r["data"]), deep=True)
        assert (kind, n) == ("eml", 1)
        kind, n, _w, _h = multimodal.probe_real_media(bytes(r["data"]))
        assert (kind, n) == ("eml", 1)


def test_mbox_pipeline_equals_flagship(mbox_corpus):
    docs_df, synth, mbox = mbox_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(extract_real.extract_real_documents(docs_df, mbox))
    assert got == flagship


def test_mbox_pipeline_sliced_buckets(mbox_corpus):
    """bucket_pages=2 ships multi-message archives as two-message
    bucket rows of walked parts; they must reproduce the same spans
    (global page numbering intact), and every archive's one-page rows
    carry exactly their message's parts."""
    docs_df, synth, mbox = mbox_corpus
    flagship = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, mbox, bucket_pages=2))
    assert got == flagship
    for r in mbox.collect():
        assert_walked_buckets(bytes(r["data"]))


def test_mbox_probe_counts_pages(mbox_corpus):
    _docs, synth, mbox = mbox_corpus
    pages = {r["media_ref"]: len(_page_block_texts(bytes(r["data"])))
             for r in synth.collect()}
    for r in mbox.collect():
        kind, n, _w, _h = multimodal.probe_real_media(
            bytes(r["data"]), deep=True)
        assert (kind, n) == ("mbox", pages[r["media_ref"]])
        kind, n, _w, _h = multimodal.probe_real_media(bytes(r["data"]))
        assert (kind, n) == ("mbox", pages[r["media_ref"]])


# ---------------------------------------------------------------------------
# unit pins: documented rules
# ---------------------------------------------------------------------------

def _simple(body: str = "Hello.", subject: str = "Subj") -> bytes:
    return emltext.encode_eml(HDRS + [("Subject", subject)], body=body)


def test_sniff_requires_strong_header():
    """A From:/To:/Subject: shopping note is NOT an e-mail."""
    assert not emltext.sniff_eml("From: mom\nTo: me\nSubject: list\n\nmilk\n")
    assert emltext.sniff_eml(_simple().decode())


def test_sniff_rejects_non_header_lines_and_http():
    assert not emltext.sniff_eml(
        "From: a@x\nnot a header\nMessage-ID: <i@x>\n\nbody\n")
    assert not emltext.sniff_eml(
        "HTTP/1.1 200 OK\nContent-Type: text/html\nDate: now\n\nbody\n")


def test_sniff_continuation_lines_fold():
    raw = ("From: a@x\nTo: b@y\nMessage-ID: <i@x>\nSubject: one\n"
           " folded continuation\nDate: d\n\nbody\n")
    assert emltext.sniff_eml(raw)
    assert not emltext.sniff_eml(" leading continuation\nFrom: a@x\n\nb\n")


def test_subject_decodes_rfc2047():
    raw = emltext.encode_eml(
        HDRS + [("Subject", "=?utf-8?q?Caf=C3=A9_report?=")], body="b.")
    assert [b.text for b in emltext.eml_blocks(raw.decode())] == \
        ["Café report", "b."]


def test_positions_monotone_across_parts():
    raw = emltext.encode_eml(
        HDRS + [("Subject", "s")],
        parts=[("text/plain", "one\n\ntwo"), ("text/plain", "three")])
    blocks = emltext.eml_blocks(raw.decode())
    assert [b.text for b in blocks] == ["s", "one", "two", "three"]
    assert [b.pos for b in blocks] == sorted(b.pos for b in blocks)
    assert len({b.pos for b in blocks}) == len(blocks)


def test_alternative_prefers_last_supported():
    raw = emltext.encode_eml(
        HDRS, subtype="alternative",
        parts=[("text/plain", "plain version"),
               ("application/x-unsupported", "xx"),
               ])
    # unsupported last alternative: falls back to the plain one
    assert [b.text for b in emltext.eml_blocks(raw.decode())] == \
        ["plain version"]


def test_attachments_drop_even_text_disposition():
    raw = emltext.encode_eml(
        HDRS + [("Subject", "s")],
        parts=[("text/plain", "kept body"),
               ("application/pdf", b"%PDF-fake")])
    assert [b.text for b in emltext.eml_blocks(raw.decode())] == \
        ["s", "kept body"]


def test_embedded_rfc822_recurses_with_subject():
    inner = emltext.encode_eml(
        [("From", "c@z"), ("Subject", "inner subj")], body="inner body")
    raw = ("From: a@x\r\nMessage-ID: <i@x>\r\nReceived: r\r\n"
           "Subject: outer\r\nMIME-Version: 1.0\r\n"
           "Content-Type: message/rfc822\r\n\r\n").encode() + inner
    assert [b.text for b in emltext.eml_blocks(raw.decode())] == \
        ["outer", "inner subj", "inner body"]


def test_depth_cap_quarantines():
    raw = emltext.encode_eml([("From", "a@x"), ("Subject", "deep")],
                             body="leaf")
    for _ in range(emltext._MAX_DEPTH + 1):
        raw = ("From: a@x\r\nMIME-Version: 1.0\r\n"
               "Content-Type: message/rfc822\r\n\r\n").encode() + raw
    with pytest.raises(ValueError, match="depth cap"):
        emltext.eml_blocks(raw.decode())


@pytest.mark.parametrize("levels", [200, 5000])
def test_pathological_nesting_stays_valueerror(levels):
    """Adversarially deep rfc822 nesting must quarantine as ValueError
    — never let RecursionError escape the contract (it would fail the
    whole Spark task instead of yielding a triage row)."""
    hdr = ("From: a@x\r\nMIME-Version: 1.0\r\n"
           "Content-Type: message/rfc822\r\n\r\n").encode()
    raw = hdr * levels + b"From: z@x\r\n\r\nleaf\r\n"
    with pytest.raises(ValueError):
        emltext.parse_message(raw)
    with pytest.raises(ValueError):
        emltext.message_spans(raw)


def test_bom_mbox_shallow_deep_page_counts_agree():
    msgs = [_simple(subject=f"s{i}") for i in range(3)]
    mb = b"\xef\xbb\xbf" + emltext.encode_mbox(msgs)
    assert emltext.count_messages(mb) == 3
    assert multimodal.probe_real_media(mb)[:2] == ("mbox", 3)
    assert multimodal.probe_real_media(mb, deep=True)[:2] == ("mbox", 3)


def test_defects_quarantine():
    mixed = emltext.encode_eml(
        HDRS, parts=[("text/plain", "x"), ("application/pdf", b"%PDF-1")])
    with pytest.raises(ValueError, match="defects"):
        emltext.eml_blocks(mixed[:-14].decode())  # truncated boundary
    bad64 = mixed.replace(b"JVBERi0x", b"!!!!////")
    with pytest.raises(ValueError, match="defects"):
        emltext.eml_blocks(bad64.decode())


def test_declared_charset_is_strict():
    """UTF-8 bytes under a declared us-ascii charset quarantine instead
    of silently becoming U+FFFD (the stdlib default)."""
    raw = ("From: a@x\r\nMessage-ID: <i@x>\r\nReceived: r\r\n"
           "Content-Type: text/plain; charset=us-ascii\r\n\r\n"
           "café\r\n").encode("utf-8")
    with pytest.raises(ValueError, match="charset"):
        emltext.eml_blocks(raw.decode("utf-8"))
    with pytest.raises(ValueError):
        multimodal.probe_real_media(raw, deep=True)


def test_quoted_printable_decodes():
    raw = ("From: a@x\r\nMessage-ID: <i@x>\r\nReceived: r\r\n"
           "Content-Type: text/plain; charset=utf-8\r\n"
           "Content-Transfer-Encoding: quoted-printable\r\n\r\n"
           "caf=C3=A9 body=\r\n joined\r\n").encode()
    assert [b.text for b in emltext.eml_blocks(raw.decode())] == \
        ["café body joined"]


def test_mbox_round_trip_and_mboxrd_quoting():
    """Writer quotes 'From ' body lines, reader unquotes exactly one
    level: an unquoted 'From ' line survives as content while a
    genuinely quoted '>From' line is reply boilerplate and drops."""
    msgs = [_simple("From the start\n\n>From quoted", subject=f"m{i}")
            for i in range(3)]
    mb = emltext.encode_mbox(msgs)
    assert b"\n>From the start\n" in mb      # quoted on write
    assert b"\n>>From quoted\n" in mb        # double-quoted on write
    pages = text_pages(emltext.mbox_page_parts(mb))
    assert [[b.text for b in p] for p in pages] == [
        [f"m{i}", "From the start"] for i in range(3)]
    assert emltext.count_messages(mb) == 3
    assert multimodal.probe_real_media(mb, deep=True)[1:] == (3, 0, 0)


def test_mail_boilerplate_drop_rules():
    """Quote lines and the exact RFC 3676 '-- ' signature block drop;
    a stripped '--' line and attribution lines stay content."""
    body = ("On Thu, someone wrote:\n> quoted one\n>> nested quote\n"
            "my reply\n\n--\n\nnot a signature\n\n-- \nsig line one\n"
            "sig line two")
    raw = _simple(body, subject="s")
    assert [b.text for b in emltext.eml_blocks(raw.decode())] == \
        ["s", "On Thu, someone wrote:\nmy reply", "--", "not a signature"]


def test_mbox_slice_preserves_messages():
    """Each message's bucket row carries its own parts, mboxrd-quoted
    body lines unquoted."""
    msgs = [_simple(f"body {i}\n\nFrom line {i}", subject=f"s{i}")
            for i in range(5)]
    rows = assert_walked_buckets(emltext.encode_mbox(msgs))
    assert [[p[-1] for p in extract._walked_pages(rows["parts"][i], 1)[0]]
            for i in (1, 3)] == [["s1", "body 1", "From line 1"],
                                 ["s3", "body 3", "From line 3"]]


def test_mbox_member_corruption():
    """First-message corruption is a sniff miss (degrades to a plainer
    text tier); mid-archive corruption quarantines at the deep probe."""
    msgs = [_simple(subject="a"), _simple(subject="b")]
    mb = emltext.encode_mbox(msgs)
    bad_first = mb.replace(b"Message-ID: <fixture@example.org>",
                           b"corrupt line with spaces", 1)
    kind, _n, _w, _h = multimodal.probe_real_media(bad_first, deep=True)
    assert kind not in ("mbox", "eml")
    head, sep, tail = mb.rpartition(b"Message-ID:")
    bad_mid = head + b"corrupt line with spaces X" + tail[len(" <f>"):]
    assert multimodal.probe_real_media(bad_mid)[0] == "mbox"  # shallow
    with pytest.raises(ValueError):
        multimodal.probe_real_media(bad_mid, deep=True)


def test_empty_body_message_extracts_zero_blocks():
    raw = emltext.encode_eml(HDRS, body="")
    assert emltext.eml_blocks(raw.decode()) == []
    assert multimodal.probe_real_media(raw, deep=True)[1:] == (1, 0, 0)
