"""Encrypted-PDF pins: the standard security handler with an empty user
password, end to end.

The fixture ENCRYPTOR below is an independent transcription of the PDF
32000 algorithms (pad constant, Algorithms 2/3/4/5, the R6 2.A/2.B hash,
per-object keys with explicit little-endian byte construction) — the
``pngcodec``/Adam7 test-encoder precedent: a derivation slip on either
side breaks the round-trip pin instead of cancelling out. The cipher
primitives themselves are shared with :mod:`ocr_platform_spark.crypto`
and are pinned separately against FIPS/NIST vectors and JCE
(tests/test_crypto.py).

Pins:

* every supported variant (RC4-40 R2, RC4-128 R3, V4 RC4 + AESV2 R4,
  Identity StmF, AES-256 R6) decodes pixel-identical to its plaintext
  twin, and probe/page_count/validate_hybrid agree;
* ``slice_pages`` of an encrypted document is BYTE-identical to the
  slice of the plaintext twin (the slicer emits decrypted bytes and no
  ``/Encrypt``);
* object streams inside an encrypted PDF are encrypted while the xref
  stream is not (spec 7.5.8.2);
* non-empty user passwords, tampered ``/U``, unsupported V/R/CFM and
  malformed AES streams all raise ``ValueError`` (quarantine, never a
  blank page);
* the distributed extraction path over an all-encrypted corpus emits
  span sequences EQUAL to the synthetic flagship's.
"""

import hashlib
import re
import struct
import sys
import zlib

import numpy as np
import pytest

from ocr_platform_spark import corpus, pdfcodec, pdfcrypt, pdftext, schemas
from ocr_platform_spark.crypto import aes_cbc_encrypt, pkcs7_pad, rc4
from ocr_platform_spark.operators import extract, extract_real
from tests.test_extract_real import (_render_pages, _spans_by_doc,
                                     gray_scanned_objs)
from tests.test_pdfcodec import build_pdf, build_pdf_xrefstream, scanned_objs

# --------------------------------------------------------------------------
# independent transcription of the spec algorithms (fixture side)
# --------------------------------------------------------------------------

#: PDF 32000-1 Table 21 note: the 32-byte password pad
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _md5(b: bytes) -> bytes:
    return hashlib.md5(b).digest()


def _padpwd(pwd: bytes) -> bytes:
    return (pwd + _PAD)[:32]


def _alg3_o(owner: bytes, user: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O string (50× MD5 of the FULL digest here,
    unlike Algorithm 2's first-n-bytes iteration)."""
    key = _md5(_padpwd(owner or user))
    if r >= 3:
        for _ in range(50):
            key = _md5(key)
    rc4key = key[:n]
    o = rc4(rc4key, _padpwd(user))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4key), o)
    return o


def _alg2_key(user: bytes, o: bytes, p: int, id0: bytes, r: int, n: int,
              em: bool = True) -> bytes:
    # /P enters the hash as its 32-bit two's-complement bit pattern —
    # wild files carry values outside [-2^31, 2^31), hence the mask
    h = hashlib.md5(_padpwd(user) + o + struct.pack("<I", p & 0xFFFFFFFF)
                    + id0)
    if r >= 4 and not em:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = _md5(key[:n])
    return key[:n]


def _alg45_u(key: bytes, id0: bytes, r: int) -> bytes:
    if r == 2:
        return rc4(key, _PAD)
    x = rc4(key, _md5(_PAD + id0))
    for i in range(1, 20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x + bytes(16)  # 16-byte tail is arbitrary padding per spec


def _objkey(key: bytes, num: int, aes: bool) -> bytes:
    """Algorithm 1 per-object key, gen 0, bytes spelled out explicitly."""
    ext = bytes([num & 0xFF, (num >> 8) & 0xFF, (num >> 16) & 0xFF, 0, 0])
    h = _md5(key + ext + (b"sAlT" if aes else b""))
    return h[:min(len(key) + 5, 16)]


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6 iterated hash)."""
    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = {0: hashlib.sha256, 1: hashlib.sha384,
             2: hashlib.sha512}[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


# --------------------------------------------------------------------------
# fixture writer
# --------------------------------------------------------------------------


def _rng(seed=17):
    return np.random.default_rng(seed)


def _rand(rng, n) -> bytes:
    return bytes(rng.integers(0, 256, n, dtype=np.uint8))


def _encrypt_objects(objects: dict[int, bytes], cipher) -> dict[int, bytes]:
    """Apply ``cipher(num, data)`` to every stream object's data and fix
    its /Length (encryption sits OUTSIDE the /Filter chain)."""
    out = {}
    for num, body in objects.items():
        idx = body.find(b"\nstream\n")
        if idx < 0:
            out[num] = body
            continue
        assert body.endswith(b"\nendstream")
        data = cipher(num, body[idx + 8:-len(b"\nendstream")])
        head = re.sub(rb"/Length \d+", b"/Length %d" % len(data),
                      body[:idx])
        out[num] = head + b"\nstream\n" + data + b"\nendstream"
    return out


_P = -3904  # a typical permissions mask (print allowed, modify denied)

_VARIANTS = ["rc4-40", "rc4-128", "v4-rc4", "v4-aes", "v4-identity", "r6"]


def make_encryption(variant: str, seed: int = 17, user_pwd: bytes = b"",
                    em: bool = True, tamper_u: bool = False):
    """-> (enc_dict_body, id0, cipher) for the given variant."""
    rng = _rng(seed)
    id0 = _rand(rng, 16)
    hx = lambda b: b"<" + b.hex().encode() + b">"  # noqa: E731
    if variant == "r6":
        filekey = _rand(rng, 32)
        vsalt, ksalt = _rand(rng, 8), _rand(rng, 8)
        u = _hash_2b(user_pwd, vsalt) + vsalt + ksalt
        ue = aes_cbc_encrypt(_hash_2b(user_pwd, ksalt), bytes(16), filekey)
        ovs, oks = _rand(rng, 8), _rand(rng, 8)
        o = _hash_2b(b"own", ovs, u) + ovs + oks
        oe = aes_cbc_encrypt(_hash_2b(b"own", oks, u), bytes(16), filekey)
        if tamper_u:
            u = bytes([u[0] ^ 1]) + u[1:]
        body = (b"<< /Filter /Standard /V 5 /R 6 /Length 256"
                b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
                b" /StmF /StdCF /StrF /StdCF"
                b" /O " + hx(o) + b" /U " + hx(u)
                + b" /OE " + hx(oe) + b" /UE " + hx(ue)
                + b" /Perms " + hx(_rand(rng, 16))
                + b" /P %d >>" % _P)

        def cipher(num, data):
            iv = _rand(rng, 16)
            return iv + aes_cbc_encrypt(filekey, iv, pkcs7_pad(data))

        return body, id0, cipher
    v, r, n, cfm = {
        "rc4-40": (1, 2, 5, "rc4"),
        "rc4-128": (2, 3, 16, "rc4"),
        "v4-rc4": (4, 4, 16, "rc4"),
        "v4-aes": (4, 4, 16, "aes"),
        "v4-identity": (4, 4, 16, None),
    }[variant]
    o = _alg3_o(b"own", user_pwd, r, n)
    key = _alg2_key(user_pwd, o, _P, id0, r, n, em)
    u = _alg45_u(key, id0, r)
    if tamper_u:
        u = bytes([u[0] ^ 1]) + u[1:]
    body = b"<< /Filter /Standard /V %d /R %d" % (v, r)
    if v == 2:
        body += b" /Length %d" % (n * 8)
    if v == 4:
        stmf = b"/Identity" if cfm is None else b"/StdCF"
        # /Length 16 in the CF dict = the common producer BYTES form for
        # rc4; the AESV2 arm uses the spec BITS form — both must parse
        cfl = b"/Length 16" if cfm == "rc4" else b"/Length 128"
        cfm_name = b"/V2" if cfm == "rc4" else b"/AESV2"
        body += (b" /Length 128 /CF << /StdCF << /CFM " + cfm_name
                 + b" /AuthEvent /DocOpen " + cfl + b" >> >> /StmF "
                 + stmf + b" /StrF " + stmf)
        if not em:
            body += b" /EncryptMetadata false"
    body += b" /O " + hx(o) + b" /U " + hx(u) + b" /P %d >>" % _P

    if cfm is None:
        cipher = lambda num, data: data  # noqa: E731
    elif cfm == "rc4":
        cipher = lambda num, data: rc4(_objkey(key, num, False),  # noqa
                                       data)
    else:
        def cipher(num, data):
            iv = _rand(rng, 16)
            return iv + aes_cbc_encrypt(_objkey(key, num, True), iv,
                                        pkcs7_pad(data))
    return body, id0, cipher


def _assemble(objects: dict[int, bytes], trailer_extra: bytes) -> bytes:
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_pos = len(out)
    n = max(objects) + 1
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        out += f"{offsets.get(num, 0):010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size %d /Root 1 0 R " % n + trailer_extra
            + b" >>\nstartxref\n%d\n%%%%EOF" % xref_pos)
    return bytes(out)


def encrypt_pdf(objects: dict[int, bytes], variant: str, seed: int = 17,
                user_pwd: bytes = b"", em: bool = True,
                tamper_u: bool = False, corrupt=None) -> bytes:
    """Classic-xref encrypted PDF over the given (plaintext) objects."""
    body, id0, cipher = make_encryption(variant, seed, user_pwd, em,
                                        tamper_u)
    if corrupt == "pad":
        inner = cipher
        cipher = lambda num, data: inner(num, data)[:-1] + b"\x00"  # noqa
    elif corrupt == "short":
        inner = cipher
        cipher = lambda num, data: inner(num, data)[:24]  # noqa: E731
    objs = _encrypt_objects(objects, cipher)
    enc_num = max(objs) + 1
    objs[enc_num] = body
    idh = b"<" + id0.hex().encode() + b">"
    return _assemble(
        objs, b"/Encrypt %d 0 R /ID [%s %s]" % (enc_num, idh, idh)
    )


# --------------------------------------------------------------------------
# decode-parity pins
# --------------------------------------------------------------------------


def _two_page_objs():
    rng = _rng(23)
    imgs = [rng.integers(0, 256, (30, 40, 3), dtype=np.uint8),
            rng.integers(0, 256, (25, 50, 3), dtype=np.uint8)]
    return scanned_objs(imgs, ["0 0 19.2 14.4", "0 0 24 12"])


@pytest.mark.parametrize("variant", _VARIANTS)
def test_encrypted_decodes_identical_to_plaintext_twin(variant):
    objs = _two_page_objs()
    plain = build_pdf(objs)
    enc = encrypt_pdf(objs, variant)
    assert enc != plain
    want = pdfcodec.decode_pdf(plain)
    got = pdfcodec.decode_pdf(enc)
    assert len(got) == len(want) == 2
    for w, g in zip(want, got):
        np.testing.assert_array_equal(g, w)
    assert pdfcodec.page_count(enc) == 2
    assert pdfcodec.probe_dims(enc) == pdfcodec.probe_dims(plain)
    assert pdftext.validate_hybrid(enc) == pdftext.validate_hybrid(plain)


def test_encrypt_metadata_false_changes_the_key_and_still_decodes():
    objs = _two_page_objs()
    plain = build_pdf(objs)
    enc_t = encrypt_pdf(objs, "v4-aes", em=True)
    enc_f = encrypt_pdf(objs, "v4-aes", em=False)
    # same seed, different file key -> different ciphertext bytes
    assert enc_t != enc_f
    for enc in (enc_t, enc_f):
        for w, g in zip(pdfcodec.decode_pdf(plain), pdfcodec.decode_pdf(enc)):
            np.testing.assert_array_equal(g, w)


@pytest.mark.parametrize("variant", ["rc4-128", "v4-aes", "r6"])
def test_slice_of_encrypted_is_byte_identical_to_slice_of_plain(variant):
    objs = _two_page_objs()
    plain = build_pdf(objs)
    enc = encrypt_pdf(objs, variant)
    for idx in ([0], [1], [1, 0]):
        assert pdfcodec.slice_pages(enc, idx) == \
            pdfcodec.slice_pages(plain, idx), (variant, idx)


def test_objstm_is_encrypted_but_xref_stream_is_not():
    """PDF 1.5 container: page/catalog dicts live in an AES-encrypted
    /ObjStm while the xref STREAM stays plaintext (spec 7.5.8.2)."""
    objs = _two_page_objs()
    body, id0, cipher = make_encryption("v4-aes")
    enc_objs = _encrypt_objects(objs, cipher)
    enc_num = max(objs) + 1
    enc_objs[enc_num] = body
    idh = f"<{id0.hex()}>"
    raw = build_pdf_xrefstream(
        enc_objs, compressed={1, 2, 3, 6},  # catalog, pages, 2 page dicts
        objstm_cipher=cipher,
        trailer_extra=f"/Encrypt {enc_num} 0 R /ID [{idh} {idh}] ",
    )
    want = pdfcodec.decode_pdf(build_pdf(objs))
    got = pdfcodec.decode_pdf(raw)
    for w, g in zip(want, got):
        np.testing.assert_array_equal(g, w)
    # and the same container with a PLAINTEXT ObjStm must fail loudly:
    # the handler decrypts it to garbage, never silently half-reads
    raw_plain_objstm = build_pdf_xrefstream(
        enc_objs, compressed={1, 2, 3, 6},
        trailer_extra=f"/Encrypt {enc_num} 0 R /ID [{idh} {idh}] ",
    )
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(raw_plain_objstm)


# --------------------------------------------------------------------------
# quarantine contracts
# --------------------------------------------------------------------------


@pytest.mark.parametrize("variant", ["rc4-40", "rc4-128", "v4-aes",
                                     "v4-identity", "r6"])
def test_nonempty_user_password_raises(variant):
    enc = encrypt_pdf(_two_page_objs(), variant, user_pwd=b"secret")
    with pytest.raises(ValueError, match="password-protected"):
        pdfcodec.page_count(enc)


@pytest.mark.parametrize("p_wild", [-3_000_000_000, 6_442_450_944])
def test_out_of_range_p_wraps_as_32_bits(p_wild, monkeypatch):
    # /P outside [-2^31, 2^31) appears in the wild; the handler must key
    # off its 32-bit two's-complement bit pattern — struct.error leaking
    # through the ValueError codec contract was the failure (review
    # finding)
    monkeypatch.setattr(sys.modules[__name__], "_P", p_wild)
    objs = _two_page_objs()
    enc = encrypt_pdf(objs, "rc4-128")
    want = pdfcodec.decode_pdf(build_pdf(objs))
    for w, g in zip(want, pdfcodec.decode_pdf(enc)):
        np.testing.assert_array_equal(g, w)


@pytest.mark.parametrize("variant", ["rc4-128", "r6"])
def test_tampered_u_raises(variant):
    enc = encrypt_pdf(_two_page_objs(), variant, tamper_u=True)
    with pytest.raises(ValueError, match="password-protected"):
        pdfcodec.page_count(enc)


def test_unsupported_encrypt_variants_raise():
    objs = _two_page_objs()
    o32, u48 = bytes(32).hex(), bytes(48).hex()
    bad = [
        # non-Standard handler
        b"<< /Filter /PubSec /V 4 /R 4 /O <%s> /U <%s> /P -44 >>"
        % (o32.encode(), o32.encode()),
        # V3 (undocumented) and V5 R5 (the withdrawn interim scheme)
        b"<< /Filter /Standard /V 3 /R 3 /O <%s> /U <%s> /P -44 >>"
        % (o32.encode(), o32.encode()),
        b"<< /Filter /Standard /V 5 /R 5 /O <%s> /U <%s> /OE <%s> "
        b"/UE <%s> /P -44 >>"
        % (u48.encode(), u48.encode(), o32.encode(), o32.encode()),
        # unknown crypt filter method
        b"<< /Filter /Standard /V 4 /R 4 /CF << /StdCF << /CFM /AESV9 >> "
        b">> /StmF /StdCF /O <%s> /U <%s> /P -44 >>"
        % (o32.encode(), o32.encode()),
        # V4 routed to a crypt filter that does not exist
        b"<< /Filter /Standard /V 4 /R 4 /CF << >> /StmF /OtherCF "
        b"/O <%s> /U <%s> /P -44 >>" % (o32.encode(), o32.encode()),
    ]
    for body in bad:
        objs2 = dict(objs)
        enc_num = max(objs2) + 1
        objs2[enc_num] = body
        raw = _assemble(objs2, b"/Encrypt %d 0 R" % enc_num)
        with pytest.raises(ValueError):
            pdfcodec.page_count(raw)


@pytest.mark.parametrize("corrupt", ["pad", "short"])
def test_malformed_aes_streams_raise(corrupt):
    enc = encrypt_pdf(_two_page_objs(), "v4-aes", corrupt=corrupt)
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(enc)


# --------------------------------------------------------------------------
# distributed path: encrypted corpus == synthetic flagship
# --------------------------------------------------------------------------


def reencode_encrypted(payload: bytes, variant: str, seed: int) -> bytes:
    """Synthetic container bytes -> an ENCRYPTED real scanned PDF (or a
    PNG for image media — images have no encrypted container)."""
    from ocr_platform_spark import pngcodec

    kind, pages = _render_pages(payload)
    if kind == "image":
        return pngcodec.encode_png(np.stack([pages[0]] * 3, axis=-1))
    return encrypt_pdf(gray_scanned_objs(pages), variant, seed=seed)


def test_encrypted_corpus_equals_synthetic_flagship(spark):
    docs, media = corpus.generate(12, seed=2026, max_pages=5)
    docs_df = spark.createDataFrame(docs, schema=schemas.DOCUMENTS)
    synth = spark.createDataFrame(
        [(ref, bytearray(m["data"])) for ref, m in media.items()],
        "media_ref string, data binary",
    )
    variants = ["rc4-128", "v4-aes", "r6"]
    enc = spark.createDataFrame(
        [(ref, bytearray(reencode_encrypted(m["data"],
                                            variants[i % len(variants)],
                                            seed=100 + i)))
         for i, (ref, m) in enumerate(sorted(media.items()))],
        "media_ref string, data binary",
    )
    expected = _spans_by_doc(extract.extract_documents(docs_df, synth))
    got = _spans_by_doc(
        extract_real.extract_real_documents(docs_df, enc, bucket_pages=2)
    )
    assert set(got) == set(expected)
    for doc_id in expected:
        assert got[doc_id] == expected[doc_id], doc_id
