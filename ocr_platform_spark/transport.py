"""Compressed transport wrappers — gzip / bzip2 / xz around any media.

Web-scale corpora ship payloads compressed at the OBJECT level, not
just the archive level: ``.html.gz`` mirrors, ``.txt.bz2`` dumps
(Wikipedia's canonical format), ``.xml.xz`` exports, gzip'd JSON
sidecars. The WARC source (:mod:`.sources.warc`) already inflates
*file-level* members, but a compressed payload landing in the media
column — the Content-Encoding the WARC reader deliberately does NOT
undo (``sources/warc.py`` module docstring) — previously quarantined
as ``unknown media magic``.

This module is the transparent unwrap seam: a payload whose magic
names a stdlib-decodable compression format inflates (bomb-capped,
strict) and the INNER bytes re-enter the probe ladder as if they had
arrived bare. The unwrap happens once per payload at the two seam
call sites (:func:`..multimodal.probe_real_media` with ``deep=True``
and the bucket-explode stage in :mod:`..operators.extract`), so
every downstream feature —
per-page buckets, text-layer hybrid dispatch, tier extraction,
quarantine triage — works identically on wrapped and bare payloads.

Scale posture: inflation is executor-local CPU inside the iterator UDF
(no extra shuffle); the bucket stage unwraps BEFORE it buckets, so a
multi-page document inside a gzip still ships per-bucket slices or
walked parts, not whole-payload copies. The costs that cannot be dodged are stated, not
hidden: (a) a compressed payload's inner geometry is unknowable from a
header walk, so the SHALLOW metadata probe reports the transport kind
itself (``gzip``/``bzip2``/``xz``, one opaque page) rather than paying
full-inflate CPU — the probe_dims-vs-validate split, transport
edition; (b) inflated bytes, not compressed ones, cross the bucket
shuffle: a PDF/TIFF/GIF/SPDF1 slice is cut from parsed bytes, and a
container kind ships its walked parts (decoded text and picture
bytes), never a compressed payload.

Safety: decompression is streamed with an ABSOLUTE output cap
(:data:`MAX_INFLATED` default 1 GiB, the same guard class as the PDF
pixel caps) — a zip-bomb quarantines with a triage row instead of
OOM-killing an executor. Truncated streams, trailing garbage, and
corrupt members all raise ``ValueError`` (the seam's quarantine
contract, fuzz-pinned in tests/test_dispatch_fuzz.py). Nesting is
bounded at :data:`MAX_NEST` (a ``.tar.gz.gz`` chain is almost always a
mistake or an attack, never a corpus).

The reference accepts only bare uploads (``ocr_tasks.py:36-39``); this
seam exists for the same 100 TB reason the WARC source does.
"""

from __future__ import annotations

import bz2
import lzma
import zlib

#: absolute inflated-size cap per payload (bomb guard)
MAX_INFLATED = 1 << 30
#: maximum transport-wrapper nesting the unwrap follows
MAX_NEST = 3

_GZIP_MAGIC = b"\x1f\x8b"
_XZ_MAGIC = b"\xfd7zXZ\x00"
_CHUNK = 1 << 16


def sniff_transport(raw: bytes) -> str | None:
    """``gzip`` / ``bzip2`` / ``xz`` on a magic match, else ``None``.

    bzip2's printable 3-byte magic (``BZh``) is weak on its own —
    require the block-size digit and the compressed-block signature
    (pi digits) that every real stream carries, so text beginning
    "BZh..." never misdispatches (the same hardening as BMP's DIB
    check in :func:`..formats.sniff_kind`)."""
    if raw.startswith(_GZIP_MAGIC):
        return "gzip"
    if raw.startswith(_XZ_MAGIC):
        return "xz"
    if len(raw) >= 10 and raw[:3] == b"BZh" and 0x31 <= raw[3] <= 0x39 \
            and raw[4:10] in (b"\x31\x41\x59\x26\x53\x59",
                              b"\x17\x72\x45\x38\x50\x90"):
        return "bzip2"
    return None


def _inflate_one(dec, data: bytes, out: bytearray, max_out: int,
                 kind: str) -> bytes:
    """Run one member's decompressor to stream end under the output
    cap; returns the unused bytes after the member. Handles both
    streaming APIs: zlib's ``unconsumed_tail`` and bz2/lzma's
    ``needs_input``."""
    zlib_style = not hasattr(dec, "needs_input")
    while not dec.eof:
        budget = max_out + 1 - len(out)
        try:
            if zlib_style:
                chunk = dec.decompress(data, budget)
                data = dec.unconsumed_tail
            elif dec.needs_input:
                if not data:
                    break  # input exhausted mid-member -> truncated
                chunk = dec.decompress(data, budget)
                data = b""
            else:
                chunk = dec.decompress(b"", budget)
        except Exception as exc:
            raise ValueError(
                f"{kind} payload: corrupt stream ({exc})") from exc
        out.extend(chunk)
        if len(out) > max_out:
            raise ValueError(
                f"{kind} payload inflates past the {max_out}-byte cap "
                f"(decompression-bomb guard)"
            )
        if zlib_style and not dec.eof and not data:
            break  # input exhausted mid-member -> truncated
    if not dec.eof:
        raise ValueError(f"{kind} payload: truncated stream")
    return dec.unused_data + data


def _inflate_members(raw: bytes, fresh, max_out: int, kind: str) -> bytes:
    """Decompress a (possibly multi-member) stream under the output
    cap. ``fresh()`` returns a new decompressor at a member boundary;
    members concatenate (the gzip/pbzip2/xz multi-stream standard).
    Non-member trailing bytes raise (strict: silent garbage after a
    valid stream is how truncation hides)."""
    out = bytearray()
    data = raw
    while data:
        data = _inflate_one(fresh(), data, out, max_out, kind)
        if data and sniff_transport(data) != kind:
            if not data.strip(b"\x00"):
                # NUL-only tail: xz Stream Padding (spec-legal,
                # 4-byte multiples) and the zero padding block-mode
                # writers append to gzip members — valid, not garbage
                break
            raise ValueError(
                f"{kind} payload: {len(data)} bytes of trailing "
                f"garbage after the final member"
            )
    return bytes(out)


def decompress_transport(raw: bytes, max_out: int = MAX_INFLATED) -> bytes:
    """One unwrap step: inflate the whole payload, strict + capped."""
    kind = sniff_transport(raw)
    if kind == "gzip":
        return _inflate_members(
            raw, lambda: zlib.decompressobj(31), max_out, kind)
    if kind == "bzip2":
        return _inflate_members(raw, bz2.BZ2Decompressor, max_out, kind)
    if kind == "xz":
        return _inflate_members(
            raw, lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ),
            max_out, kind)
    raise ValueError(f"not a transport-compressed payload: {raw[:6]!r}")


def maybe_unwrap(raw: bytes, max_out: int = MAX_INFLATED) -> bytes:
    """Transparent seam entry: inflate transport wrappers (nested up to
    :data:`MAX_NEST`), return non-wrapped payloads unchanged. Raises
    ``ValueError`` (quarantine) on corruption, bombs, an EMPTY inner
    payload, or over-nesting."""
    for _ in range(MAX_NEST):
        if sniff_transport(raw) is None:
            return raw
        raw = decompress_transport(raw, max_out=max_out)
        if not raw:
            raise ValueError("transport wrapper around an empty payload")
    if sniff_transport(raw) is not None:
        raise ValueError(
            f"transport wrappers nested deeper than {MAX_NEST}"
        )
    return raw
