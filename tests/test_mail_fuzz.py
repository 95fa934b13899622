"""Wild-mail hardening (VERDICT r4 #8): adversarial RFC-5322/MIME
payloads through the e-mail tier and the dispatch seam —
quarantine-never-crash as the invariant (``ValueError`` or success,
no other exception type), plus value pins for the defect classes the
round's probe surfaced.

Structured corpus: RFC 2047 encoded-word headers (valid B/Q,
malformed, unknown charset), nested ``message/rfc822`` at and past the
depth cap, malformed base64 transfer encoding, charset soup (declared
charset the bytes don't decode under, unknown charsets), boundary
defects, bare-CR endings, header-shaped edge cases. Then the
test_dispatch_fuzz mutation stream over a rich multi-part fixture at
all three distributed call sites (message walk, deep probe, and the
OCR stage's decode of an mbox's walked bucket parts)."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from ocr_platform_spark import emltext, multimodal
from tests.test_extract_office_paged import flow_bucket_parts

H = [("From", "a@x.test"), ("Message-ID", "<f@x.test>"),
     ("Date", "Thu, 01 Jan 2026"), ("MIME-Version", "1.0")]


def _hdr(pairs) -> bytes:
    return ("\r\n".join(f"{k}: {v}" for k, v in pairs)).encode()


def _nested(depth: int) -> bytes:
    raw = emltext.encode_eml(
        H + [("Subject", "innermost")], body="deep body")
    for i in range(depth):
        raw = (_hdr(H + [("Subject", f"level {i}")])
               + b"\r\nContent-Type: message/rfc822\r\n\r\n" + raw)
    return raw


# (name, payload, expectation): "ok" = renders, "quarantine" = ValueError
ADVERSARIAL = [
    ("b64-encoded-word",
     emltext.encode_eml(H + [("Subject", "=?utf-8?B?VMOpc3Q=?=")],
                        body="body"),
     "ok"),
    ("q-encoded-word",
     emltext.encode_eml(H + [("Subject", "=?iso-8859-1?Q?caf=E9_x?=")],
                        body="body"),
     "ok"),
    ("malformed-encoded-word",
     emltext.encode_eml(H + [("Subject", "=?utf-8?B?%%%notb64%%%?=")],
                        body="body"),
     "quarantine"),  # U+FFFD mojibake must not top the rendered message
    ("unknown-ew-charset-decodes-raw",
     emltext.encode_eml(H + [("Subject", "=?x-fantasy?B?Zm9v?=")],
                        body="body"),
     "ok"),  # stdlib falls back to the raw bytes; 'foo' is clean ASCII
    ("subject-writes-replacement-char",
     emltext.encode_eml(H + [("Subject", "a \ufffd b")], body="body"),
     "ok"),  # a U+FFFD the sender wrote is content, not corruption
    ("ew-encodes-replacement-char",
     emltext.encode_eml(H + [("Subject", "=?utf-8?B?YSDvv70gYg==?=")],
                        body="body"),
     "ok"),
    ("ew-bytes-not-in-charset",
     emltext.encode_eml(H + [("Subject", "=?utf-8?B?/w==?=")],
                        body="body"),
     "quarantine"),
    ("raw-8bit-subject-not-utf8",
     _hdr(H) + b"\r\nSubject: caf\xe9\r\n\r\nbody",
     "quarantine"),  # the stdlib renders the Latin-1 byte as U+FFFD
    ("unknown-ew-charset-8bit",
     emltext.encode_eml(H + [("Subject", "=?x-fantasy?B?/w==?=")],
                        body="body"),
     "quarantine"),  # decoded as ASCII; the 0xFF byte renders U+FFFD
    ("us-ascii-ew-carries-utf8",
     emltext.encode_eml(H + [("Subject", "=?us-ascii?B?w6k=?=")],
                        body="body"),
     "ok"),  # the stdlib renders the escaped UTF-8 bytes as a clean é
    ("nested-rfc822-at-cap", _nested(emltext._MAX_DEPTH - 1), "ok"),
    ("nested-rfc822-past-cap", _nested(emltext._MAX_DEPTH + 2),
     "quarantine"),
    ("malformed-base64-body",
     _hdr(H) + b"\r\nContent-Type: text/plain\r\n"
     b"Content-Transfer-Encoding: base64\r\n\r\n!!!not*base64!!!\r\n",
     "quarantine"),
    ("declared-utf8-broken-bytes",
     _hdr(H) + b"\r\nContent-Type: text/plain; charset=utf-8\r\n"
     b"Content-Transfer-Encoding: base64\r\n\r\n/w==\r\n",
     "quarantine"),
    ("unknown-body-charset",
     _hdr(H) + b"\r\nContent-Type: text/plain; charset=klingon\r\n"
     b"\r\nbody",
     "quarantine"),
    ("unclosed-boundary",
     _hdr(H) + b"\r\nContent-Type: multipart/mixed; boundary=BB\r\n"
     b"\r\n--BB\r\nContent-Type: text/plain\r\n\r\npart one\r\n",
     "quarantine"),
    ("empty-boundary",
     _hdr(H) + b'\r\nContent-Type: multipart/mixed; boundary=""\r\n'
     b"\r\n--\r\n\r\nx\r\n",
     "quarantine"),
]


@pytest.mark.parametrize("name,raw,want", ADVERSARIAL,
                         ids=[c[0] for c in ADVERSARIAL])
def test_adversarial_mail_quarantines_or_renders(name, raw, want):
    if want == "ok":
        _mid, parts = emltext.message_spans(raw)
        assert parts, name
    else:
        with pytest.raises(ValueError):
            emltext.message_spans(raw)
    # the probe ladder holds the same contract (eml rides the text tier)
    try:
        multimodal.probe_real_media(raw, deep=True)
    except ValueError:
        pass


def test_subject_mojibake_quarantines_not_renders():
    """The malformed-encoded-word rule is a VALUE pin: stdlib decodes
    the broken word to U+FFFD garbage, and emitting that as the first
    span of every message is corpus poison — the tier quarantines at
    the encoded-word decode, the strict-charset rule of the body."""
    raw = emltext.encode_eml(
        H + [("Subject", "=?utf-8?B?%%%notb64%%%?=")], body="body")
    with pytest.raises(ValueError, match="undecodable encoded-word"):
        emltext.message_spans(raw)


def _rich_fixture() -> bytes:
    import numpy as np

    from ocr_platform_spark import pngcodec

    inner = emltext.encode_eml(H + [("Subject", "inner")],
                               body="inner body")
    png = pngcodec.encode_png(
        np.full((8, 8, 3), 255, dtype=np.uint8))  # valid, blank
    return emltext.encode_eml(
        [("From", "a@x.test"), ("Subject", "=?utf-8?B?VMOpc3Q=?="),
         ("Message-ID", "<r@x>"), ("Date", "Thu, 01 Jan 2026")],
        parts=[("text/plain", "alpha\n\n> quoted\n-- \nsig"),
               ("text/html", "<html><body><p>html part</p></body></html>"),
               ("message/rfc822", inner.decode("ascii")),
               ("image/png", png),
               ("application/octet-stream", b"\x00\x01")])


def _mutants(raw: bytes, seed: int):
    rng = np.random.default_rng(seed)
    n = len(raw)
    for i in rng.integers(0, n, 60):
        m = bytearray(raw)
        m[i] ^= 1 << int(rng.integers(0, 8))
        yield f"bitflip@{i}", bytes(m)
    for i in sorted(rng.integers(1, n, 20)):
        yield f"trunc@{i}", raw[:i]
    for i in rng.integers(0, max(1, n - 4), 12):
        m = bytearray(raw)
        m[i:i + 4] = b"\x00\x00\x00\x00"
        yield f"zero4@{i}", bytes(m)
    yield "extend", raw + bytes(rng.integers(0, 256, 16, dtype=np.uint8))


@pytest.mark.parametrize("tag", ["eml", "mbox"])
def test_mail_mutation_fuzz_contract(tag):
    rich = _rich_fixture()
    fixture = rich if tag == "eml" else emltext.encode_mbox(
        [rich, emltext.encode_eml(
            [("From", "b@x"), ("Subject", "two"), ("Received", "r"),
             ("Date", "d"), ("Message-ID", "<m2@x>")], body="b2")])
    # pristine renders through the source walk
    if tag == "eml":
        _mid, parts = emltext.message_spans(fixture)
        kinds = [p[0] for p in parts]
        assert kinds.count("media") == 2  # png + octet-stream leaves
        assert parts[0][2] == "Tést"      # decoded encoded-word subject
    else:
        assert multimodal.probe_real_media(fixture, deep=True)[1] == 2
    for label, mut in _mutants(fixture, zlib.crc32(tag.encode())):
        try:
            emltext.message_spans(mut)
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001 - the contract under test
            pytest.fail(f"{tag} {label}: message_spans raised "
                        f"{type(e).__name__}: {e}")
        try:
            multimodal.probe_real_media(mut, deep=True)
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001 - the contract under test
            pytest.fail(f"{tag} {label}: probe raised "
                        f"{type(e).__name__}: {e}")
        if tag == "mbox":
            try:
                flow_bucket_parts(mut)
            except Exception as e:  # noqa: BLE001 - contract under test
                pytest.fail(f"{tag} {label}: walked parts raised "
                            f"{type(e).__name__}: {e}")
