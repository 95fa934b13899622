"""Cross-format mutation fuzz at THE dispatch seam.

Every wild payload enters the real-codec path through
``formats.sniff_kind`` -> ``multimodal.probe_real_media`` -> its tier
in ``tiers.TIERS``, the only real-codec decoder.  The distributed pipeline
(``operators/extract_real.py``) quarantines on ``ValueError`` — any
other exception escaping the seam fails executors instead of
quarantining the document, and at corpus scale a single such payload
kills the job.  The per-codec suites fuzz their own containers
(test_pdfcodec / test_tiffcodec / test_gifcodec / test_pdftext /
test_real_codecs); this file fuzzes the seam itself, one valid fixture
per media kind, mutated by byte writes, bit flips, truncations,
zero-fill spans and garbage extension, asserting the contract at the
exact call sites the pipeline uses:

* ``sniff_kind`` never raises (it returns ``"unknown"`` at worst);
* ``probe_real_media(deep=True)`` and the tier table's slicer either
  succeed or raise ``ValueError`` — never any other exception type;
* probe/extract symmetry: a mutant the deep probe admits decodes
  through its tier's ``pages`` (full payload and sliced bucket)
  without raising, and a container kind's walked parts, as its
  one-page bucket rows ship them, decode through ``tiers._flow``
  without raising. A raster kind (PDF, image, TIFF, GIF) may instead
  raise ``ValueError``, never another type: entropy-level corruption
  (JPEG/LZW/Flate sample bits) carries no checksum a structural probe
  could verify.

Mutants are deterministic (seeded rng), so a contract break replays.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import zlib

import numpy as np
import pytest

from ocr_platform_spark import audiocodec, avicodec, bmpcodec, \
    docxtext, emltext, epubtext, formats, gifcodec, jpegcodec, \
    multimodal, odttext, pngcodec, pptxtext, rtftext, tiers, tiffcodec, \
    transport, xlsxtext
from tests.test_extract_office_paged import bucket_frame, flow_bucket_parts
from tests.test_pdfcodec import build_pdf, scanned_objs
from tests.test_pdfcrypt import encrypt_pdf


def _rng(seed):
    return np.random.default_rng(seed)


def _img(seed, h=24, w=32):
    return _rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


#: small valid PNG payload for the picture-bearing fixtures (random
#: noise — the contract under fuzz is structural, not OCR content)
_PNG_FIXTURE = pngcodec.encode_png(
    np.random.default_rng(11).integers(0, 256, (20, 28, 3),
                                       dtype=np.uint8))


def _fixtures() -> dict[str, bytes]:
    objs = scanned_objs([_img(3, 30, 40)], ["0 0 19.2 14.4"])
    bl = (_rng(9).integers(0, 2, (32, 48)) > 0)
    return {
        "png": pngcodec.encode_png(_img(1)),
        "jpeg": jpegcodec.encode_jpeg(_img(2)),
        "pdf": build_pdf(objs),
        "pdf-encrypted": encrypt_pdf(objs, "v4-aes"),
        "tiff": tiffcodec.encode_bilevel_tiff([bl, ~bl], compression=4),
        "gif": gifcodec.encode_gif(
            [_rng(5).integers(0, 256, (24, 32), dtype=np.uint8)]),
        "bmp": bmpcodec.encode_bmp(_img(6)),
        # the synthetic containers are tiers too: zlib's adler32 guards
        # the body, so a corrupt one refuses with ValueError at the probe
        "spdf": formats.encode_pdf([
            formats.PageDesc(60, 40, [formats.Band(4, 4, ["abc", "de"])]),
            formats.PageDesc(50, 30)]),
        "simg": formats.encode_image(
            formats.PageDesc(48, 32, [formats.Band(2, 2, ["xyz"])])),
        "html": (b"<!doctype html><html><head><title>t</title></head>"
                 b"<body><p>alpha beta</p><p>gamma</p></body></html>"),
        "docx": docxtext.encode_docx(
            ["alpha beta\ngamma", "delta & <epsilon>"]),
        "pptx": pptxtext.encode_pptx(
            [["slide one\ntitle"], ["slide two body", "more"]]),
        "xlsx": xlsxtext.encode_xlsx(
            [[["alpha", "1.25"], ["beta"]], [["sheet two"]]]),
        "epub": epubtext.encode_epub(
            [epubtext.chapter_xhtml(["alpha beta", "gamma\ndelta"]),
             epubtext.chapter_xhtml(["chapter two"])]),
        "odt": odttext.encode_odt(["alpha beta\ngamma", "delta"]),
        "rtf": rtftext.encode_rtf(["alpha beta\ngamma", "café — delta"]),
        "txt": (b"alpha beta\ngamma delta\n\nsecond paragraph\n\f"
                b"third one"),
        "md": (b"# Title\n\npara with [a link](https://x.invalid)\n\n"
               b"- item one\n- item two\n\n```\ncode block\n```\n\n"
               b"> quoted\n\nSetext\n------\n"),
        "csv": (b"name\tvalue\tnote\nalpha\t1.5\tfirst row\n"
                b"beta\t2.5\t\"quoted\nnewline\"\n"),
        "xml": (b'<?xml version="1.0"?><rss version="2.0"><channel>'
                b"<title>Feed</title><item><title>One</title>"
                b"<description>&lt;p&gt;body&lt;/p&gt;</description>"
                b"</item></channel></rss>"),
        "json": (b'{"id": 1, "text": "alpha beta", "tags": ["x"]}\n'
                 b'{"id": 2, "text": "gamma\\ndelta"}\n'),
        "tex": (b"\\documentclass{article} % arXiv shape\n"
                b"\\title{A Title}\n"
                b"\\begin{document}\n\\maketitle\n"
                b"\\section{Intro}\nalpha $x$ beta \\cite{k}.\n\n"
                b"\\begin{itemize}\n\\item one\n\\item two\n"
                b"\\end{itemize}\n\\end{document}\n"),
        "sub": (b"WEBVTT\n\nNOTE fixture\n\n"
                b"cue-1\n00:00.000 --> 00:01.900 align:start\n"
                b"<v Bob>alpha beta\n\n"
                b"00:02.000 --> 00:03.900\ngamma <i>delta</i>\n"),
        "eml": emltext.encode_eml(
            [("From", "a@x.test"), ("Subject", "fuzz fixture"),
             ("Message-ID", "<f@x.test>"), ("Date", "Thu, 01 Jan 2026")],
            parts=[("text/plain", "alpha beta\n\ngamma"),
                   ("application/octet-stream", b"\x00\x01\x02\x03")]),
        "mbox": emltext.encode_mbox([
            emltext.encode_eml(
                [("From", "a@x.test"), ("Subject", f"msg {i}"),
                 ("Received", "relay"), ("Date", "d")],
                body=f"body {i}\n\nFrom the field")
            for i in range(2)]),
        # RIFF multimodal kinds: valid payloads REFUSE the deep probe
        # (typed no-text-tier quarantine) — mutants must hold the same
        # ValueError contract through sniff/probe/decode
        "wav": audiocodec.encode_wav(
            _rng(7).integers(-128, 128, 300) / 128.0, 16000),
        "avi": avicodec.encode_avi([_img(8, 16, 16), _img(9, 16, 16)],
                                   codec="mjpeg"),
        # picture-bearing office/book/mail variants (round 5): the
        # embedded-media part walks — rels resolution, data URIs,
        # \pict hex, two-level xlsx drawing chains — must hold the
        # same ValueError contract under mutation
        "docx-media": docxtext.encode_docx_with_media(
            ["before pic", _PNG_FIXTURE, "after pic"]),
        "pptx-media": pptxtext.encode_pptx(
            [["slide text", _PNG_FIXTURE], ["plain slide"]]),
        "xlsx-media": xlsxtext.encode_xlsx(
            [[["row a"], ["row b"]]], drawings=[[(0, _PNG_FIXTURE)]]),
        "epub-media": epubtext.encode_epub(
            ["<html><head><title>t</title></head><body><p>c</p>"
             '<img src="img/p.png"/></body></html>'],
            media=[("img/p.png", _PNG_FIXTURE)]),
        "rtf-media": __import__(
            "ocr_platform_spark.rtftext", fromlist=["x"]
        ).encode_rtf_with_media(["para one", _PNG_FIXTURE, "para two"]),
        "eml-media": emltext.encode_eml(
            [("From", "a@x.test"), ("Subject", "media fixture"),
             ("Message-ID", "<fm@x.test>"), ("Date", "Thu, 01 Jan 2026")],
            parts=[("text/plain", "body"),
                   ("image/png", _PNG_FIXTURE)]),
        "html-media": (
            b"<!doctype html><html><head><title>t</title></head><body>"
            b"<p>alpha</p><img src=\"data:image/png;base64,"
            + __import__("base64").b64encode(_PNG_FIXTURE)
            + b"\"/><p>beta</p></body></html>"),
        # compressed transport wrappers: the seam must unwrap these
        # transparently, and mutants (corrupt members, truncations,
        # nested bombs) must hold the ValueError contract
        "txt-gz": gzip.compress(b"alpha beta\ngamma delta\n\n"
                                b"second paragraph\n"),
        "html-xz": lzma.compress(
            b"<!doctype html><html><head><title>t</title></head>"
            b"<body><p>alpha beta</p><p>gamma</p></body></html>"),
        "txt-bz2": bz2.compress(b"alpha beta\ngamma delta\n\n"
                                b"second paragraph\n"),
    }


def _mutants(raw: bytes, seed: int):
    """Deterministic mutation stream: (label, mutated bytes)."""
    rng = _rng(seed)
    n = len(raw)
    for i in rng.integers(0, n, 48):
        m = bytearray(raw)
        m[i] ^= 1 << int(rng.integers(0, 8))
        yield f"bitflip@{i}", bytes(m)
    for i in rng.integers(0, n, 32):
        m = bytearray(raw)
        m[i] = int(rng.integers(0, 256))
        yield f"byte@{i}", bytes(m)
    for i in sorted(rng.integers(1, n, 16)):
        yield f"trunc@{i}", raw[:i]
    yield "trunc@1", raw[:1]
    yield "trunc@half", raw[: n // 2]
    for i in rng.integers(0, max(1, n - 4), 12):
        m = bytearray(raw)
        m[i:i + 4] = b"\x00\x00\x00\x00"
        yield f"zero4@{i}", bytes(m)
    yield "extend", raw + bytes(rng.integers(0, 256, 16, dtype=np.uint8))


@pytest.mark.parametrize("kind", sorted(_fixtures()))
def test_dispatch_seam_mutation_fuzz(kind):
    raw = _fixtures()[kind]
    base = kind.split("-")[0]
    # sniff is magic-bytes only: DOCX sniffs as its zip container and
    # plain text (no magic) as unknown — the probe refines both
    sniff = {"docx": "zip", "pptx": "zip", "xlsx": "zip",
             "epub": "zip", "odt": "zip", "txt": "unknown",
             "md": "unknown", "csv": "unknown", "tex": "unknown",
             "sub": "unknown", "eml": "unknown", "mbox": "unknown",
             "xml": "unknown", "json": "unknown"}.get(base, base)
    if kind.split("-")[-1] in ("gz", "bz2", "xz"):
        # transport-wrapped fixtures: the magic ladder sees only the
        # wrapper bytes (no media magic), the deep probe unwraps
        sniff = "unknown"
    # the probe ladder reports single-raster formats as "image"
    probe_kind = {"png": "image", "jpeg": "image", "bmp": "image"}.get(
        base, base)
    # the pristine fixture must pass the whole seam
    assert formats.sniff_kind(raw) == sniff
    if base in ("wav", "avi"):
        # audio/video: shallow probe reports, deep probe refuses with
        # the typed quarantine reason — that IS the seam contract
        shallow = multimodal.probe_real_media(raw, deep=False)
        assert shallow[0] == base and shallow[1] >= 1
        with pytest.raises(ValueError, match="no text tier"):
            multimodal.probe_real_media(raw, deep=True)
    else:
        probed = multimodal.probe_real_media(raw, deep=True)
        assert probed[0] == probe_kind and probed[1] >= 1
        pages = tiers.TIERS[probe_kind].pages(
            transport.maybe_unwrap(raw), list(range(probed[1])))
        assert len(pages) == probed[1], probe_kind

    # zlib.crc32 is a stable seed; hash() is salted per-process and
    # would make mutants unreproducible
    for label, mut in _mutants(raw, seed=zlib.crc32(kind.encode())):
        sniffed = formats.sniff_kind(mut)  # must never raise
        assert isinstance(sniffed, str), (kind, label)
        probe_ok, probed_kind = False, None
        try:
            pr = multimodal.probe_real_media(mut, deep=True)
            probe_ok, probed_kind = pr[1] >= 1, pr[0]
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001 - the contract under test
            pytest.fail(f"{kind} {label}: probe raised {type(e).__name__}: "
                        f"{e}")
        if not probe_ok:
            continue
        # past the probe, the distributed call sites go through the
        # tier table on the unwrapped payload: the bucket-explode slicer
        # (when the kind has one) cuts a bucket, and the OCR stage
        # decodes the full payload or the cut
        tier = tiers.TIERS[probed_kind]
        if tier.walk is not None:
            try:
                flow_bucket_parts(mut)
            except Exception as e:  # noqa: BLE001 - contract under test
                pytest.fail(f"{kind} {label}: walked parts raised "
                            f"{type(e).__name__}: {e}")
        mut = transport.maybe_unwrap(mut)
        decodes = [(mut, list(range(pr[1])))]
        if tier.slicer is not None:
            try:
                decodes.append((tier.slicer(mut)([0]), None))
            except ValueError:
                pass
            except Exception as e:  # noqa: BLE001 - contract under test
                pytest.fail(f"{kind} {label}: slice raised "
                            f"{type(e).__name__}: {e}")
        for payload, page_indices in decodes:
            try:
                tier.pages(payload, page_indices)
            except Exception as e:  # noqa: BLE001 - contract under test
                # raster kinds may refuse entropy-level corruption, but
                # only as ValueError; every other kind must decode
                if not (isinstance(e, ValueError) and probed_kind in
                        ("pdf", "image", "tiff", "gif")):
                    pytest.fail(f"{kind} {label}: admitted by the deep "
                                f"probe, decode raised "
                                f"{type(e).__name__}: {e}")


def test_tiff_strips_past_the_end_quarantine_at_the_probe():
    """Every TIFF mutant of the stream whose strips run past the end of
    the file quarantines with a probe error row: the probe checks the
    strip bounds, so it admits no TIFF whose decode would fail on them
    and leave no row."""
    raw = _fixtures()["tiff"]
    past = []
    for _label, mut in _mutants(raw, seed=zlib.crc32(b"tiff")):
        try:
            _e, ifds = tiffcodec._read_ifds(mut)
        except ValueError:
            continue
        chunks = [(tags.get(273, []), tags.get(279, [])) for tags in ifds]
        if all(len(o) == len(c) for o, c in chunks) and any(
                o + c > len(mut) for offs, cnts in chunks
                for o, c in zip(offs, cnts)):
            past.append(mut)
    assert len(past) == 9
    for mut in past:
        rows = bucket_frame(mut, 1)
        assert list(rows["media_kind"]) == ["error"]
        assert rows["error"][0] == "TIFF strip past end of file"
