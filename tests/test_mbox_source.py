"""mbox ingestion source — streaming reader, interleaved corpus shape,
and the end-to-end pin against the directly constructed pipeline
(``ocr_platform_spark/sources/mbox.py``).
"""

from __future__ import annotations

import io

import numpy as np
import pytest

from ocr_platform_spark import corpus, emltext, multimodal, pngcodec, schemas
from ocr_platform_spark.operators import extract_real
from ocr_platform_spark.sources import mbox as mboxsrc
from tests.test_extract_eml import HDRS, _body_from_blocks
from tests.test_extract_real import _render_pages, _spans_by_doc


def _eml(i: int, body: str, attach: bytes | None = None,
         with_id: bool = True) -> bytes:
    hdrs = [("From", f"u{i}@example.org"), ("Subject", f"msg {i}"),
            ("Received", "from relay"), ("Date", "Thu, 01 Jan 2026")]
    if with_id:
        hdrs.append(("Message-ID", f"<m{i}@example.org>"))
    if attach is None:
        return emltext.encode_eml(hdrs, body=body)
    return emltext.encode_eml(
        hdrs, parts=[("text/plain", body), ("image/png", attach)])


def test_iter_mbox_messages_stream_semantics():
    msgs = [_eml(0, "a"), _eml(1, "From the body\n\n>From quoted")]
    mb = emltext.encode_mbox(msgs)
    rows = list(mboxsrc.iter_mbox_messages(io.BytesIO(mb)))
    assert [(r["msg_index"], r["error"]) for r in rows] == \
        [(0, None), (1, None)]
    # mboxrd unquoting happened in the reader: the raw message
    # round-trips byte-exactly (one '>' level stripped), and the
    # genuinely quoted line then drops as reply boilerplate
    assert b"\nFrom the body\n" in rows[1]["raw"]
    assert b"\n>From quoted\n" in rows[1]["raw"]
    _mid, parts = emltext.message_spans(rows[1]["raw"])
    assert [p[2] for p in parts] == ["msg 1", "From the body"]
    # preamble resyncs with one error row; empty file errors
    rows = list(mboxsrc.iter_mbox_messages(io.BytesIO(b"junk\n" + mb)))
    assert sum(r["error"] is not None for r in rows) == 1
    assert sum(r["error"] is None for r in rows) == 2
    rows = list(mboxsrc.iter_mbox_messages(io.BytesIO(b"")))
    assert rows[0]["error"] is not None


def test_message_size_cap_skips_not_oom():
    """An oversized message yields an error row with read-and-discard
    skip (bounded memory); neighbors still parse. A capped TRAILING
    message errors too (no silent loss at EOF)."""
    msgs = [_eml(0, "small one"), _eml(1, "x" * 4096), _eml(2, "small two")]
    mb = emltext.encode_mbox(msgs)
    rows = list(mboxsrc.iter_mbox_messages(io.BytesIO(mb),
                                           max_message_bytes=1024))
    assert [(r["msg_index"], r["error"] is None) for r in rows] == \
        [(0, True), (1, False), (2, True)]
    assert b"small two" in rows[2]["raw"]
    rows = list(mboxsrc.iter_mbox_messages(
        io.BytesIO(emltext.encode_mbox([_eml(0, "ok"), _eml(1, "y" * 4096)])),
        max_message_bytes=1024))
    assert [(r["msg_index"], r["error"] is None) for r in rows] == \
        [(0, True), (1, False)]


def test_doc_id_deterministic_and_collision_free():
    a = mboxsrc._doc_id("f", 3, "mid@x")
    assert a == mboxsrc._doc_id("f", 3, "mid@x")
    assert a.startswith("mid@x#")
    # repeated Message-IDs (resends, spoofed spam) must NOT collide
    assert a != mboxsrc._doc_id("f", 4, "mid@x")
    assert a != mboxsrc._doc_id("g", 3, "mid@x")
    b = mboxsrc._doc_id("f", 3, "")
    assert b == mboxsrc._doc_id("f", 3, "") and b.startswith("mbox:sha:")
    assert b != mboxsrc._doc_id("f", 4, "")


def test_duplicate_message_ids_stay_distinct_documents(spark, tmp_path):
    """Two different messages sharing a Message-ID land as two
    documents (no garbled merge through the media_ref equijoin)."""
    m1 = _eml(0, "first body", with_id=False)
    m2 = _eml(1, "second body", with_id=False)
    dup = b"Message-ID: <dup@x>\r\n"
    with open(tmp_path / "d.mbox", "wb") as f:
        f.write(emltext.encode_mbox([dup + m1, dup + m2]))
    docs, _media = mboxsrc.mbox_to_corpus(
        mboxsrc.read_mbox(spark, str(tmp_path)))
    rows = docs.collect()
    assert len(rows) == 2
    assert len({r["doc_id"] for r in rows}) == 2
    assert all(r["doc_id"].startswith("dup@x#") for r in rows)


def test_compressed_mbox_streams(spark, tmp_path):
    """list.mbox.gz (the public-inbox distribution shape) parses via
    streaming decompression; a corrupt gzip yields an error row for
    the remainder, not a job failure."""
    import gzip

    mb = emltext.encode_mbox([_eml(0, "gz body one"), _eml(1, "gz two")])
    with open(tmp_path / "l.mbox.gz", "wb") as f:
        f.write(gzip.compress(mb))
    with open(tmp_path / "c.mbox.gz", "wb") as f:
        f.write(gzip.compress(mb * 40)[:60])  # truncated stream
    recs = mboxsrc.read_mbox(spark, str(tmp_path)).collect()
    by_file = {}
    for r in recs:
        by_file.setdefault(r["mbox_file"].rsplit("/", 1)[-1],
                           []).append(r)
    good = by_file["l.mbox.gz"]
    assert [(r["msg_index"], r["error"]) for r in good] == \
        [(0, None), (1, None)]
    assert b"gz body one" in bytes(good[0]["raw"])
    assert any(r["error"] and "decompress" in r["error"]
               for r in by_file["c.mbox.gz"])


def test_bitflipped_gzip_mbox_error_row(spark, tmp_path):
    """Corrupt (non-truncated) gzip — a bit flip in the deflate stream —
    raises zlib.error from GzipFile.read, which must quarantine as an
    error row exactly like a truncated stream (ADVICE r4)."""
    import gzip

    mb = emltext.encode_mbox(
        [_eml(i, f"flip body {i}") for i in range(20)])
    gz = bytearray(gzip.compress(mb))
    gz[len(gz) // 2] ^= 0xFF  # flip a byte mid-deflate-stream
    with open(tmp_path / "flip.mbox.gz", "wb") as f:
        f.write(bytes(gz))
    recs = mboxsrc.read_mbox(spark, str(tmp_path)).collect()
    assert any(r["error"] and "decompress" in r["error"] for r in recs)


def test_count_messages_bare_cr_endings():
    """count_messages (shallow) must agree with the deep probe on
    classic-Mac bare-CR archives (ADVICE r4)."""
    mb = emltext.encode_mbox([_eml(0, "cr one"), _eml(1, "cr two")])
    bare_cr = mb.replace(b"\r\n", b"\n").replace(b"\n", b"\r")
    assert emltext.count_messages(bare_cr) == 2
    _, n, _, _ = multimodal.probe_real_media(bare_cr, deep=True)
    assert n == 2


@pytest.fixture(scope="module")
def mbox_tree(spark, tmp_path_factory):
    """Two mbox files whose messages interleave body paragraphs with a
    real-PNG attachment derived from the synthetic corpus, plus the
    directly constructed (documents, media) equivalent."""
    root = tmp_path_factory.mktemp("mboxsrc")
    _docs, media = corpus.generate(10, seed=7272, max_pages=3)
    refs = sorted(media)
    half = len(refs) // 2
    msgs, direct_docs, direct_media = [], [], []
    for i, ref in enumerate(refs):
        kind, rasters = _render_pages(media[ref]["data"])
        png = pngcodec.encode_png(np.stack([rasters[0]] * 3, axis=-1))
        body = f"intro paragraph {i}\n\nclosing paragraph {i}"
        msgs.append(_eml(i, body, attach=png, with_id=(i % 2 == 0)))
        part = 0 if i < half else 1
        idx_in_file = i if i < half else i - half
        did = mboxsrc._doc_id(
            f"file:{root}/part-{part}.mbox", idx_in_file,
            f"m{i}@example.org" if i % 2 == 0 else "")
        direct_docs.append((did, [
            ("text", f"msg {i}", None, 0),
            ("text", f"intro paragraph {i}", None, 1),
            ("text", f"closing paragraph {i}", None, 2),
            ("media", None, f"{did}#p3", 3),
        ]))
        direct_media.append((f"{did}#p3", bytearray(png)))
    with open(root / "part-0.mbox", "wb") as f:
        f.write(emltext.encode_mbox(msgs[:half]))
    with open(root / "part-1.mbox", "wb") as f:
        f.write(emltext.encode_mbox(msgs[half:]))
    docs_df = spark.createDataFrame(direct_docs, schema=schemas.DOCUMENTS)
    media_df = spark.createDataFrame(direct_media,
                                     "media_ref string, data binary")
    return str(root), docs_df, media_df


def test_corpus_shape_interleaves(spark, mbox_tree):
    root, docs_df, _media_df = mbox_tree
    docs, media = mboxsrc.mbox_to_corpus(mboxsrc.read_mbox(spark, root))
    got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                          s["offset"]) for s in r["spans"]]
           for r in docs.collect()}
    expected = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"],
                               s["offset"]) for s in r["spans"]]
                for r in docs_df.collect()}
    assert got == expected
    med = {r["media_ref"]: r for r in media.collect()}
    assert all(r["content_type"] == "image/png" for r in med.values())
    assert sorted(med) == sorted(expected[d][3][2] for d in expected)


def test_extract_mbox_equals_direct_pipeline(spark, mbox_tree):
    """Archives -> spans == the real-codec pipeline over the directly
    constructed corpus: text spans pass through at their offsets and
    the PNG attachment's OCR blocks interleave at the media span's
    slot — TRUE interleaving through the source."""
    root, docs_df, media_df = mbox_tree
    direct = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, media_df))
    got = _spans_by_doc(mboxsrc.extract_mbox(spark, root))
    assert got == direct
    assert len(got) == docs_df.count()
    # the attachment leg genuinely extracted OCR text between the
    # intro/closing text spans
    sample = direct[sorted(direct)[0]]
    assert any(s[1] and "paragraph" not in s[1] and s[0] == "text"
               for s in sample[3:])


def test_quarantined_message_is_triage_row_not_job_failure(
        spark, tmp_path):
    good = _eml(0, "fine body")
    bad = _eml(1, "x").replace(b"Message-ID", b"Message-ID: <dup@x>\r\n"
                               b"Content-Type: text/plain; "
                               b"charset=x-weird\r\nX-Junk", 1)
    with open(tmp_path / "q.mbox", "wb") as f:
        f.write(emltext.encode_mbox([good, bad]))
    recs = mboxsrc.read_mbox(spark, str(tmp_path))
    errs = mboxsrc.mbox_errors(recs).collect()
    assert len(errs) == 1 and "quarantined" in errs[0]["error"]
    docs, _media = mboxsrc.mbox_to_corpus(recs)
    assert docs.count() == 1  # the good message still lands


def _counting_tap(log_path: str, schema):
    """Pass-through mapInPandas stage that appends one line per row it
    sees — counts how many times the UPSTREAM (archive split) actually
    executes across downstream actions (the closure is pickled to the
    python workers; the log file is on the shared local fs)."""
    def gen(frames):
        for pdf in frames:
            if len(pdf):
                with open(log_path, "a") as f:
                    f.write("x\n" * len(pdf))
            yield pdf
    return gen


def test_single_parse_runs_archive_split_once(spark, tmp_path):
    """mbox_to_corpus(single_parse=True) (VERDICT r4 #9): both corpus
    legs together materialize the archive parse ONCE; the default still
    parses once per leg (the documented two-leg shape)."""
    n_msgs = 6
    mb = emltext.encode_mbox([_eml(i, f"sp body {i}") for i in range(n_msgs)])
    with open(tmp_path / "sp.mbox", "wb") as f:
        f.write(mb)

    def run(single_parse: bool, tag: str) -> int:
        log = str(tmp_path / f"tap_{tag}.log")
        records = mboxsrc.read_mbox(spark, str(tmp_path))
        tapped = records.mapInPandas(
            _counting_tap(log, records.schema), schema=records.schema)
        docs, media = mboxsrc.mbox_to_corpus(tapped,
                                             single_parse=single_parse)
        docs.write.format("noop").mode("overwrite").save()
        media.write.format("noop").mode("overwrite").save()
        n = sum(1 for _ in open(log))
        spark.catalog.clearCache()
        return n

    assert run(False, "dflt") == 2 * n_msgs  # one parse per leg
    assert run(True, "single") == n_msgs     # ONE parse total
