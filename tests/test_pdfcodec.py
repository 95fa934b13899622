"""pdfcodec: pure-stdlib scanned-PDF rasterizer, pinned against hand-built
PDFs (classic xref assembled byte-by-byte here — no PDF library exists in
this sandbox, which is exactly why the codec does).

The load-bearing pins:

* identity-scale geometry — a page whose MediaBox is ``dims * 72/150``
  renders at dpi=150 to a canvas exactly the embedded image's size, so
  the decoded canvas must be BYTE-EQUAL to the source samples (Flate) or
  to ``jpegcodec.decode_jpeg`` of the identical bytes (DCT);
* PDF y-up vs raster y-down placement, sub-rect margins, negative-scale
  flips;
* the ValueError contract on everything outside the scanned subset
  (vector text, path painting, CCITT, Form XObjects) — a vector page
  must never silently render blank;
* PDF 1.5 xref streams / object streams decode identically to the
  classic-xref encoding of the same objects (all four encoding
  variants), with their own adversarial-mutation contract.
"""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from ocr_platform_spark import jpegcodec, pdfcodec, pdftext
from ocr_platform_spark.raster import area_resize


def _rng(seed=7):
    return np.random.default_rng(seed)


def build_pdf(objects: dict[int, bytes], root: int = 1,
              header: bytes = b"%PDF-1.4\n") -> bytes:
    """Assemble a classic-xref PDF from ``{obj_num: body_bytes}``."""
    out = bytearray(header)
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
    out += (f"trailer\n<< /Size {n} /Root {root} 0 R >>\n"
            f"startxref\n{xref_pos}\n%%EOF").encode()
    return bytes(out)


def stream_obj(dict_body: str, data: bytes) -> bytes:
    return (f"<< {dict_body} /Length {len(data)} >>\nstream\n".encode()
            + data + b"\nendstream")


def rgb_image_obj(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    return stream_obj(
        f"/Subtype /Image /Width {w} /Height {h} /ColorSpace /DeviceRGB "
        f"/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(arr.tobytes()),
    )


def scanned_objs(images: list[np.ndarray], mediaboxes: list[str],
                 cms: list[str] | None = None) -> dict[int, bytes]:
    """Object set for a scanned PDF: one page per image, content =
    q <cm> /Im0 Do Q. Objects 1/2/page-dicts are plain dictionaries
    (object-stream compressible); content/image objects are streams."""
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids, next_num = [], 3
    for i, (img, mb) in enumerate(zip(images, mediaboxes)):
        pg, ct, im = next_num, next_num + 1, next_num + 2
        next_num += 3
        kids.append(f"{pg} 0 R")
        cm = (cms[i] if cms else None) or _fill_cm(mb)
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [{mb}] "
            f"/Resources << /XObject << /Im0 {im} 0 R >> >> "
            f"/Contents {ct} 0 R >>"
        ).encode()
        objs[ct] = stream_obj("", f"q {cm} cm /Im0 Do Q".encode())
        objs[im] = rgb_image_obj(img)
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] "
               f"/Count {len(kids)} >>").encode()
    return objs


def scanned_pdf(images: list[np.ndarray], mediaboxes: list[str],
                cms: list[str] | None = None) -> bytes:
    return build_pdf(scanned_objs(images, mediaboxes, cms))


def _png_up_predict(rows: list[bytes]) -> bytes:
    out = bytearray()
    prev = bytes(len(rows[0]))
    for r in rows:
        out.append(2)  # PNG "Up" filter
        out += bytes((c - p) & 0xFF for c, p in zip(r, prev))
        prev = r
    return bytes(out)


def build_pdf_xrefstream(objects: dict[int, bytes], root: int = 1,
                         compressed=frozenset(), predictor: bool = False,
                         split_index: bool = False,
                         tamper_rows: dict[int, tuple] | None = None,
                         objstm_cipher=None,
                         trailer_extra: str = "") -> bytes:
    """Assemble a PDF 1.5 file: ``compressed`` object numbers (plain
    dictionaries only) packed into one /ObjStm, everything referenced by
    an xref STREAM (/W [1 4 2], optional PNG Up predictor, optional
    one-subsection-per-object /Index). ``tamper_rows`` overrides packed
    (type, f2, f3) rows by object number — for error-contract tests.
    ``objstm_cipher(num, payload)`` post-processes the /ObjStm payload
    (encryption fixtures: the container stream is encrypted, the xref
    stream NEVER is); ``trailer_extra`` injects entries (e.g.
    ``/Encrypt``/``/ID``) into the xref stream dict, which doubles as
    the trailer."""
    comp = sorted(set(compressed))
    objstm_num = max(objects) + 1
    xref_num = objstm_num + 1 if comp else objstm_num
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        if num in comp:
            continue
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    if comp:
        hdr_parts, data = [], bytearray()
        for num in comp:
            hdr_parts.append(f"{num} {len(data)}")
            data += objects[num] + b" "
        hdr = (" ".join(hdr_parts) + " ").encode()
        payload = zlib.compress(hdr + bytes(data))
        if objstm_cipher is not None:
            payload = objstm_cipher(objstm_num, payload)
        offsets[objstm_num] = len(out)
        out += (f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(comp)} "
                f"/First {len(hdr)} /Filter /FlateDecode "
                f"/Length {len(payload)} >>\nstream\n").encode()
        out += payload + b"\nendstream\nendobj\n"
    xref_pos = len(out)
    size = xref_num + 1
    rows = []
    for num in range(size):
        if tamper_rows and num in tamper_rows:
            rows.append(tamper_rows[num])
        elif num in offsets:
            rows.append((1, offsets[num], 0))
        elif num in comp:
            rows.append((2, objstm_num, comp.index(num)))
        elif num == xref_num:
            rows.append((1, xref_pos, 0))
        else:
            rows.append((0, 0, 65535 if num == 0 else 0))
    packed = [bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
              for t, f2, f3 in rows]
    index = ""
    if split_index:
        index = ("/Index [ " +
                 " ".join(f"{n} 1" for n in range(size)) + " ] ")
    if predictor:
        body = zlib.compress(_png_up_predict(packed))
        parms = "/DecodeParms << /Predictor 12 /Columns 7 >> "
    else:
        body = zlib.compress(b"".join(packed))
        parms = ""
    out += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
            f"{index}/Root {root} 0 R {trailer_extra}/Filter /FlateDecode {parms}"
            f"/Length {len(body)} >>\nstream\n").encode()
    out += body + b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_pos}\n%%EOF".encode()
    return bytes(out)


def _fill_cm(mb: str) -> str:
    x0, y0, x1, y1 = (float(v) for v in mb.split())
    return f"{x1 - x0} 0 0 {y1 - y0} {x0} {y0}"


# --- geometry / sample-exactness -------------------------------------------


def test_single_page_flate_rgb_byte_exact():
    # MediaBox 48x24 pt at 150 dpi -> 100x50 px == image dims: no resample
    src = _rng().integers(0, 256, (50, 100, 3), dtype=np.uint8)
    pages = pdfcodec.decode_pdf(scanned_pdf([src], ["0 0 48 24"]))
    assert len(pages) == 1
    np.testing.assert_array_equal(pages[0], src)


def test_dct_page_matches_jpeg_decoder_byte_exact():
    src = _rng(11).integers(0, 256, (48, 96, 3), dtype=np.uint8)
    jpg = jpegcodec.encode_jpeg(src, subsampling="420")
    img_obj = stream_obj(
        "/Subtype /Image /Width 96 /Height 48 /ColorSpace /DeviceRGB "
        "/BitsPerComponent 8 /Filter /DCTDecode", jpg)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
           b"/MediaBox [0 0 46.08 23.04] >>",  # inherited: 96x48 @150dpi
        3: b"<< /Type /Page /Parent 2 0 R /Resources "
           b"<< /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>",
        4: stream_obj("", b"q 46.08 0 0 23.04 0 0 cm /Im0 Do Q"),
        5: img_obj,
    }
    pages = pdfcodec.decode_pdf(build_pdf(objs))
    np.testing.assert_array_equal(pages[0], jpegcodec.decode_jpeg(jpg))


def test_multipage_sizes_resample_and_page_count():
    imgs = [_rng(1).integers(0, 256, (30, 40, 3), dtype=np.uint8),
            _rng(2).integers(0, 256, (20, 20, 3), dtype=np.uint8)]
    raw = scanned_pdf(imgs, ["0 0 100 200", "0 0 50 50"])
    assert pdfcodec.page_count(raw) == 2
    pages = pdfcodec.decode_pdf(raw)
    # canvas = round(mediabox * 150/72); image area-resampled to fill it
    assert pages[0].shape == (417, 208, 3)
    assert pages[1].shape == (104, 104, 3)
    expect0 = np.stack([area_resize(imgs[0][:, :, c], 208, 417)
                        for c in range(3)], axis=-1)
    np.testing.assert_array_equal(pages[0], expect0)


def test_subrect_placement_margins_and_y_flip():
    # 100x100 canvas; image at PDF bottom-left -> raster BOTTOM-left
    src = np.full((25, 25, 3), 7, np.uint8)
    raw = scanned_pdf([src], ["0 0 48 48"], cms=["12 0 0 12 4.8 4.8"])
    page = pdfcodec.decode_pdf(raw)[0]
    assert page.shape == (100, 100, 3)
    np.testing.assert_array_equal(page[65:90, 10:35], src)
    assert (page[:65] == 255).all() and (page[90:] == 255).all()
    assert (page[:, :10] == 255).all() and (page[:, 35:] == 255).all()


def test_negative_scales_flip():
    src = np.zeros((10, 10, 3), np.uint8)
    src[0, :, 0] = 200   # top row red-ish
    src[:, 0, 1] = 100   # left col green-ish
    mb = "0 0 4.8 4.8"   # 10x10 canvas
    up = pdfcodec.decode_pdf(scanned_pdf([src], [mb]))[0]
    np.testing.assert_array_equal(up, src)
    # d < 0 with f at top edge: vertical flip
    vflip = pdfcodec.decode_pdf(
        scanned_pdf([src], [mb], cms=["4.8 0 0 -4.8 0 4.8"]))[0]
    np.testing.assert_array_equal(vflip, src[::-1])
    # a < 0 with e at right edge: horizontal flip
    hflip = pdfcodec.decode_pdf(
        scanned_pdf([src], [mb], cms=["-4.8 0 0 4.8 4.8 0"]))[0]
    np.testing.assert_array_equal(hflip, src[:, ::-1])


def test_gray8_and_bitonal_decode_inversion():
    g = _rng(3).integers(0, 256, (50, 100), dtype=np.uint8)
    gray_obj = stream_obj(
        "/Subtype /Image /Width 100 /Height 50 /ColorSpace /DeviceGray "
        "/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(g.tobytes()))
    bits = _rng(4).integers(0, 2, (50, 100), dtype=np.uint8)
    packed = np.packbits(bits, axis=1).tobytes()
    bit_obj = stream_obj(
        "/Subtype /Image /Width 100 /Height 50 /ColorSpace /DeviceGray "
        "/BitsPerComponent 1 /Decode [1 0] /Filter /FlateDecode",
        zlib.compress(packed))
    for obj, expect in [
        (gray_obj, np.stack([g] * 3, axis=-1)),
        (bit_obj, np.stack([(1 - bits) * 255] * 3, axis=-1).astype(np.uint8)),
    ]:
        objs = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 48 24] "
               b"/Resources << /XObject << /Im0 5 0 R >> >> "
               b"/Contents 4 0 R >>",
            4: stream_obj("", b"q 48 0 0 24 0 0 cm /Im0 Do Q"),
            5: obj,
        }
        np.testing.assert_array_equal(
            pdfcodec.decode_pdf(build_pdf(objs))[0], expect)


def test_flate_png_predictor_up():
    src = _rng(5).integers(0, 256, (20, 30, 3), dtype=np.uint8)
    # PNG predictor stream: each row prefixed by filter byte 2 (Up)
    filtered = bytearray()
    prev = np.zeros((30, 3), np.uint16)
    for y in range(20):
        filtered.append(2)
        filtered += ((src[y].astype(np.uint16) - prev) % 256).astype(
            np.uint8).tobytes()
        prev = src[y].astype(np.uint16)
    img_obj = stream_obj(
        "/Subtype /Image /Width 30 /Height 20 /ColorSpace /DeviceRGB "
        "/BitsPerComponent 8 /Filter /FlateDecode "
        "/DecodeParms << /Predictor 12 /Colors 3 /Columns 30 >>",
        zlib.compress(bytes(filtered)))
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 14.4 9.6] "
           b"/Resources << /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>",
        4: stream_obj("", b"q 14.4 0 0 9.6 0 0 cm /Im0 Do Q"),
        5: img_obj,
    }
    np.testing.assert_array_equal(pdfcodec.decode_pdf(build_pdf(objs))[0], src)


def test_incremental_update_prev_chain_newest_wins():
    old = np.full((50, 100, 3), 10, np.uint8)
    new = np.full((50, 100, 3), 200, np.uint8)
    base = scanned_pdf([old], ["0 0 48 24"])
    # image object is the highest-numbered one in scanned_pdf's layout
    img_num = 5
    m = __import__("re").search(rb"startxref\s+(\d+)", base[-64:])
    prev_xref = int(m.group(1))
    upd = bytearray(base)
    new_off = len(upd)
    upd += f"{img_num} 0 obj\n".encode() + rgb_image_obj(new) + b"\nendobj\n"
    xref_pos = len(upd)
    upd += (f"xref\n{img_num} 1\n{new_off:010d} 00001 n \n"
            f"trailer\n<< /Size 6 /Root 1 0 R /Prev {prev_xref} >>\n"
            f"startxref\n{xref_pos}\n%%EOF").encode()
    np.testing.assert_array_equal(
        pdfcodec.decode_pdf(bytes(upd))[0], new)
    # the un-updated base still decodes to the old image
    np.testing.assert_array_equal(pdfcodec.decode_pdf(base)[0], old)


def test_mode_L_exactly_rgb_to_gray_of_RGB_render():
    """mode="L" must be bit-exactly rgb_to_gray(mode="RGB") on every
    content class — native gray (2-D fast path), true-color RGB that gets
    RESAMPLED (conversion must happen after the resize on both paths),
    1-bit bitonal, and DCT."""
    rng = _rng(21)
    color = rng.integers(0, 256, (30, 40, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, (25, 50), dtype=np.uint8)
    bits = rng.integers(0, 2, (20, 20), dtype=np.uint8)
    jpg = jpegcodec.encode_jpeg(
        rng.integers(0, 256, (16, 16, 3), dtype=np.uint8))
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    mk = []
    imgdefs = [
        ("/DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode",
         zlib.compress(color.tobytes()), 40, 30),
        ("/DeviceGray /BitsPerComponent 8 /Filter /FlateDecode",
         zlib.compress(gray.tobytes()), 50, 25),
        ("/DeviceGray /BitsPerComponent 1 /Decode [1 0] /Filter /FlateDecode",
         zlib.compress(np.packbits(bits, axis=1).tobytes()), 20, 20),
        ("/DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode", jpg, 16, 16),
    ]
    nxt = 3
    for cs, data, w, h in imgdefs:
        pg, ct, im = nxt, nxt + 1, nxt + 2
        nxt += 3
        mk.append(f"{pg} 0 R")
        # MediaBox 100x60 pt -> 208x125 canvas: every image RESAMPLES
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 60] "
            f"/Resources << /XObject << /Im0 {im} 0 R >> >> "
            f"/Contents {ct} 0 R >>").encode()
        objs[ct] = stream_obj("", b"q 100 0 0 60 0 0 cm /Im0 Do Q")
        objs[im] = stream_obj(
            f"/Subtype /Image /Width {w} /Height {h} /ColorSpace {cs}", data)
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(mk)}] "
               f"/Count {len(mk)} >>").encode()
    raw = build_pdf(objs)
    rgb_pages = pdfcodec.decode_pdf(raw)
    l_pages = pdfcodec.decode_pdf(raw, mode="L")
    assert all(p.ndim == 2 for p in l_pages)
    for rgb, lum in zip(rgb_pages, l_pages):
        np.testing.assert_array_equal(lum, pdfcodec.rgb_to_gray(rgb))


def test_rgb_to_gray_pil_parity_formula():
    rng = _rng(22)
    rgb = rng.integers(0, 256, (17, 13, 3), dtype=np.uint8)
    r, g, b = (rgb[:, :, i].astype(np.uint32) for i in range(3))
    expect = ((r * 19595 + g * 38470 + b * 7471) >> 16).astype(np.uint8)
    np.testing.assert_array_equal(pdfcodec.rgb_to_gray(rgb), expect)
    # equal-channel fast path is exact (weights sum to 65536)
    gray = rng.integers(0, 256, (9, 9), dtype=np.uint8)
    np.testing.assert_array_equal(
        pdfcodec.rgb_to_gray(np.stack([gray] * 3, axis=-1)), gray)


# --- the ValueError contract ------------------------------------------------


def _one_page(content: bytes, extra_objs: dict[int, bytes] | None = None,
              resources: bytes = b"<< >>") -> bytes:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 48 24] "
           b"/Resources " + resources + b" /Contents 4 0 R >>",
        4: stream_obj("", content),
    }
    objs.update(extra_objs or {})
    return build_pdf(objs)


def test_vector_text_page_raises_not_blank():
    raw = _one_page(b"BT /F1 12 Tf 10 10 Td (hello) Tj ET")
    with pytest.raises(ValueError, match="unsupported"):
        pdfcodec.decode_pdf(raw)


def test_path_painting_raises():
    raw = _one_page(b"0 0 10 10 re f")
    with pytest.raises(ValueError, match="unsupported"):
        pdfcodec.decode_pdf(raw)


def _ccitt_img_obj(bm: np.ndarray, parms: str = "",
                   extra: str = "", k: int = -1) -> bytes:
    """Image XObject carrying our own G4 (``k<0``) or G3 (``k>=0``)
    encoding of ``bm`` (1 = black)."""
    from ocr_platform_spark import ccittcodec

    h, w = bm.shape
    if k < 0:
        data = ccittcodec.encode_g4(bm)
    else:
        data = ccittcodec.encode_g3(
            bm, k=k, byte_align="EncodedByteAlign true" in parms)
    return stream_obj(
        f"/Subtype /Image /Width {w} /Height {h} /ColorSpace /DeviceGray "
        f"/BitsPerComponent 1 /Filter /CCITTFaxDecode "
        f"/DecodeParms << /K {k} /Columns {w} /Rows {h} {parms} >>{extra}",
        data,
    )


def _ccitt_page(bm: np.ndarray, parms: str = "", extra: str = "",
                k: int = -1) -> bytes:
    h, w = bm.shape
    # identity scale: MediaBox = dims * 72/150 -> no resample
    mb = f"0 0 {w * 72 / 150} {h * 72 / 150}"
    return _one_page(
        f"q {w * 72 / 150} 0 0 {h * 72 / 150} 0 0 cm /Im0 Do Q".encode(),
        {5: _ccitt_img_obj(bm, parms, extra, k=k),
         3: (f"<< /Type /Page /Parent 2 0 R /MediaBox [{mb}] /Resources "
             f"<< /XObject << /Im0 5 0 R >> >> /Contents 4 0 R >>").encode()},
    )


def test_ccitt_g4_page_decodes_bit_exact():
    """A G4 scanned page renders byte-exactly: black bits -> 0, white ->
    255 (default BlackIs1=false, default Decode)."""
    bm = (_rng(31).random((24, 40)) < 0.2).astype(np.uint8)
    raw = _ccitt_page(bm)
    assert pdftext.validate_hybrid(raw) == (1, 40, 24)  # no inflation
    pages = pdfcodec.decode_pdf(raw)
    want = np.stack([(1 - bm) * 255] * 3, axis=-1).astype(np.uint8)
    np.testing.assert_array_equal(pages[0], want)
    # mode="L" native-gray path agrees with rgb_to_gray of the RGB render
    gray = pdfcodec.decode_pdf(raw, mode="L")[0]
    np.testing.assert_array_equal(gray, pdfcodec.rgb_to_gray(pages[0]))


def test_ccitt_blackis1_and_decode_inversion():
    """PDF 7.4.6 semantics: BlackIs1=false (default) emits 0-samples for
    black, so DeviceGray renders ink dark; BlackIs1=true emits 1-samples
    — spec-literally that renders ink WHITE under the default /Decode,
    which is why real scanners pair it with /Decode [1 0]. Both axes and
    their composition are pinned."""
    bm = (_rng(32).random((10, 16)) < 0.4).astype(np.uint8)
    p0 = pdfcodec.decode_pdf(_ccitt_page(bm))[0]
    np.testing.assert_array_equal(
        p0, np.stack([(1 - bm) * 255] * 3, axis=-1))
    p1 = pdfcodec.decode_pdf(_ccitt_page(bm, parms="/BlackIs1 true"))[0]
    np.testing.assert_array_equal(p1, 255 - p0)
    both = pdfcodec.decode_pdf(_ccitt_page(
        bm, parms="/BlackIs1 true", extra=" /Decode [ 1 0 ]"))[0]
    np.testing.assert_array_equal(both, p0)
    inv = pdfcodec.decode_pdf(_ccitt_page(bm, extra=" /Decode [ 1 0 ]"))[0]
    np.testing.assert_array_equal(inv, 255 - p0)


def test_ccitt_g3_pages_decode_bit_exact():
    """/K 0 (MH 1D), /K 0 + /EncodedByteAlign, and /K > 0 (mixed 2D)
    all render identically to the G4 page of the same bitmap; the probe
    accepts them without inflating samples."""
    bm = (_rng(33).random((24, 40)) < 0.25).astype(np.uint8)
    want = pdfcodec.decode_pdf(_ccitt_page(bm))[0]
    for kwargs in ({"k": 0}, {"k": 0, "parms": "/EncodedByteAlign true"},
                   {"k": 4}):
        raw = _ccitt_page(bm, **kwargs)
        assert pdftext.validate_hybrid(raw) == (1, 40, 24), kwargs
        np.testing.assert_array_equal(
            pdfcodec.decode_pdf(raw)[0], want, err_msg=str(kwargs))


def test_ccitt_unsupported_variants_raise():
    bm = np.zeros((8, 8), np.uint8)
    with pytest.raises(ValueError, match="Columns"):
        pdfcodec.decode_pdf(_ccitt_page(bm, parms="/Columns 16"))
    with pytest.raises(ValueError, match="EncodedByteAlign"):
        # byte alignment is a G3 layout; pairing it with G4 data is
        # malformed and would silently mis-decode
        pdfcodec.decode_pdf(_ccitt_page(bm, parms="/EncodedByteAlign true"))
    with pytest.raises(ValueError, match="integer"):
        pdfcodec.decode_pdf(_ccitt_page(bm, parms="/K (zero)"))
    with pytest.raises(ValueError, match="DeviceGray 1-bit"):
        # 8-bit gray with a CCITT filter is malformed
        raw = _one_page(
            b"q 3.84 0 0 3.84 0 0 cm /Im0 Do Q",
            {5: stream_obj(
                "/Subtype /Image /Width 8 /Height 8 /ColorSpace /DeviceGray "
                "/BitsPerComponent 8 /Filter /CCITTFaxDecode "
                "/DecodeParms << /K -1 /Columns 8 >>", b"\x00" * 8)},
            b"<< /XObject << /Im0 5 0 R >> >>")
        pdfcodec.decode_pdf(raw)
    # garbage G3 payloads quarantine, never render wrong pixels
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(_one_page(
            b"q 3.84 0 0 3.84 0 0 cm /Im0 Do Q",
            {5: stream_obj(
                "/Subtype /Image /Width 8 /Height 8 /ColorSpace /DeviceGray "
                "/BitsPerComponent 1 /Filter /CCITTFaxDecode "
                "/DecodeParms << /K 0 /Columns 8 >>", b"\xff" * 8)},
            b"<< /XObject << /Im0 5 0 R >> >>"))


def test_form_xobject_raises():
    form = stream_obj("/Subtype /Form /BBox [0 0 1 1]", b"")
    raw = _one_page(b"/Fm0 Do", {5: form},
                    b"<< /XObject << /Fm0 5 0 R >> >>")
    with pytest.raises(ValueError, match="Form"):
        pdfcodec.decode_pdf(raw)


def test_malformed_xref_stream_raises():
    # /Type /XRef but no /Length — must be a direct integer
    body = (b"%PDF-1.5\n1 0 obj\n<< /Type /XRef >>\nstream\nendstream\n"
            b"endobj\nstartxref\n9\n%%EOF")
    with pytest.raises(ValueError, match="xref stream"):
        pdfcodec.decode_pdf(body)
    # startxref at an object that is not /Type /XRef
    body = (b"%PDF-1.5\n1 0 obj\n<< /Type /Catalog >>\n"
            b"endobj\nstartxref\n9\n%%EOF")
    with pytest.raises(ValueError, match="/Type /XRef"):
        pdfcodec.decode_pdf(body)
    # startxref at something that is not even an object
    with pytest.raises(ValueError, match="neither"):
        pdfcodec.decode_pdf(b"%PDF-1.5\njunk\nstartxref\n9\n%%EOF")


# --- PDF 1.5 xref streams + object streams ------------------------------------


def _xrefstream_variants(objs):
    """The same document in every 1.5 encoding the codec supports."""
    nonstream = {n for n, b in objs.items() if not b.startswith(b"<<") or
                 b"stream" not in b}
    # compress exactly the plain dictionaries (catalog/pages/page dicts)
    comp = {n for n in objs
            if b"endstream" not in objs[n] and b"\nstream\n" not in objs[n]}
    assert nonstream  # sanity: helper used on real object sets
    return [
        build_pdf_xrefstream(objs),
        build_pdf_xrefstream(objs, predictor=True),
        build_pdf_xrefstream(objs, compressed=comp),
        build_pdf_xrefstream(objs, compressed=comp, predictor=True,
                             split_index=True),
    ]


def test_xref_stream_objstm_decode_equality():
    """Every 1.5 encoding (xref stream, +predictor, +ObjStm, +split
    /Index) renders pixel-identically to the classic-xref build, and the
    whole probe/validate/slice surface works on it."""
    imgs = [_rng(21).integers(0, 256, (30, 40, 3), dtype=np.uint8),
            _rng(22).integers(0, 256, (20, 20, 3), dtype=np.uint8)]
    objs = scanned_objs(imgs, ["0 0 100 200", "0 0 50 50"])
    classic_pages = pdfcodec.decode_pdf(build_pdf(objs))
    for raw in _xrefstream_variants(objs):
        assert pdfcodec.page_count(raw) == 2
        assert pdftext.validate_hybrid(raw) == (2, 208, 417)
        pages = pdfcodec.decode_pdf(raw)
        for got, want in zip(pages, classic_pages):
            np.testing.assert_array_equal(got, want)
        # slicing re-emits classic xref; page 1 of the slice == page 1 here
        sliced = pdfcodec.decode_pdf(pdfcodec.slice_pages(raw, [1]))
        np.testing.assert_array_equal(sliced[0], classic_pages[1])


def test_xref_stream_update_over_classic_base_newest_wins():
    """Mixed /Prev chain: an xref-STREAM incremental update on a classic
    base replaces the image object; the newest (stream) entry must win."""
    old = np.full((10, 10, 3), 9, np.uint8)
    new = np.full((10, 10, 3), 200, np.uint8)
    base = scanned_pdf([old], ["0 0 4.8 4.8"])
    img_num = 5  # scanned_objs: page=3, content=4, image=5
    m = __import__("re").search(rb"startxref\s+(\d+)", base[-64:])
    prev_xref = int(m.group(1))
    upd = bytearray(base)
    new_off = len(upd)
    upd += f"{img_num} 0 obj\n".encode() + rgb_image_obj(new) + b"\nendobj\n"
    xref_pos = len(upd)
    # xref stream covering ONLY the replaced object (/Index [5 1]) + itself
    xref_num = 6
    rows = [(1, new_off, 0), (1, xref_pos, 0)]
    packed = b"".join(bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
                      for t, f2, f3 in rows)
    body = zlib.compress(packed)
    upd += (f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
            f"/W [1 4 2] /Index [ {img_num} 1 {xref_num} 1 ] "
            f"/Root 1 0 R /Prev {prev_xref} /Filter /FlateDecode "
            f"/Length {len(body)} >>\nstream\n").encode()
    upd += body + b"\nendstream\nendobj\n"
    upd += f"startxref\n{xref_pos}\n%%EOF".encode()
    pages = pdfcodec.decode_pdf(bytes(upd))
    np.testing.assert_array_equal(pages[0], new)
    # the slicer resolves through the same chain
    sliced = pdfcodec.decode_pdf(pdfcodec.slice_pages(bytes(upd), [0]))
    np.testing.assert_array_equal(sliced[0], new)


def test_objstm_error_contract():
    imgs = [np.full((8, 8, 3), 77, np.uint8)]
    objs = scanned_objs(imgs, ["0 0 3.84 3.84"])
    comp = {1, 2, 3}
    # type-2 entry pointing at a non-ObjStm stream (the image object)
    raw = build_pdf_xrefstream(objs, compressed=comp,
                               tamper_rows={1: (2, 5, 0)})
    with pytest.raises(ValueError, match="ObjStm|object stream|holds"):
        pdfcodec.decode_pdf(raw)
    # index mismatch: entry claims index 2 holds object 1
    raw = build_pdf_xrefstream(objs, compressed=comp,
                               tamper_rows={1: (2, 6, 2)})
    with pytest.raises(ValueError, match="holds object"):
        pdfcodec.decode_pdf(raw)
    # the object stream marked as itself stored in an object stream
    raw = build_pdf_xrefstream(objs, compressed=comp,
                               tamper_rows={6: (2, 6, 0)})
    with pytest.raises(ValueError, match="inside an object stream"):
        pdfcodec.decode_pdf(raw)
    # index past the /N pairs
    raw = build_pdf_xrefstream(objs, compressed=comp,
                               tamper_rows={1: (2, 6, 99)})
    with pytest.raises(ValueError, match="header|holds"):
        pdfcodec.decode_pdf(raw)


def test_xref_stream_fuzz_mutations_raise_only_valueerror():
    """Same adversarial contract as the classic fuzz, over the densest
    1.5 encoding (ObjStm + predictor): mutations in the xref stream,
    predictor rows, object-stream header and payload must surface as
    ValueError, never a parser leak."""
    src = _rng(55).integers(0, 256, (12, 16, 3), dtype=np.uint8)
    objs = scanned_objs([src, src], ["0 0 7.68 5.76", "0 0 7.68 5.76"])
    base = bytearray(build_pdf_xrefstream(
        objs, compressed={1, 2, 3, 6}, predictor=True))
    rng = np.random.default_rng(4321)
    decoded = errored = 0
    for _ in range(400):
        raw = bytearray(base)
        raw[int(rng.integers(0, len(raw)))] = int(rng.integers(0, 256))
        try:
            pages = pdfcodec.decode_pdf(bytes(raw))
            assert all(p.ndim == 3 for p in pages)
            decoded += 1
        except ValueError:
            errored += 1
    assert errored > 50
    for cut in range(1, len(base), max(1, len(base) // 60)):
        try:
            pdfcodec.decode_pdf(bytes(base[:cut]))
        except ValueError:
            pass


def test_rotated_placement_raises():
    src = np.zeros((4, 4, 3), np.uint8)
    raw = scanned_pdf([src], ["0 0 48 24"], cms=["0 12 -12 0 24 0"])
    with pytest.raises(ValueError, match="axis-aligned"):
        pdfcodec.decode_pdf(raw)


def test_fuzz_mutations_raise_only_valueerror():
    """The public-API exception contract under adversarial bytes: every
    single-byte mutation / truncation of a valid scanned PDF either still
    decodes or raises ValueError — never IndexError/KeyError/TypeError/
    AttributeError/RecursionError leaking from the parser (the quarantine
    path keys on ValueError; anything else would fail the Spark job)."""
    src = _rng(99).integers(0, 256, (20, 25, 3), dtype=np.uint8)
    base = bytearray(scanned_pdf([src, src], ["0 0 12 9.6", "0 0 12 9.6"]))
    rng = np.random.default_rng(1234)
    decoded = errored = 0
    for _ in range(400):
        raw = bytearray(base)
        pos = int(rng.integers(0, len(raw)))
        raw[pos] = int(rng.integers(0, 256))
        try:
            pages = pdfcodec.decode_pdf(bytes(raw))
            assert all(p.ndim == 3 for p in pages)
            decoded += 1
        except ValueError:
            errored += 1
    for cut in range(1, len(base), max(1, len(base) // 60)):
        try:
            pdfcodec.decode_pdf(bytes(base[:cut]))
        except ValueError:
            pass
    assert errored > 50  # mutations really do hit load-bearing bytes
    # same contract with a DCT image XObject: mutations can land inside
    # the embedded JPEG, whose own wrapper must hold (ValueError, never
    # ZeroDivisionError/struct.error through the PDF layer)
    jpg = jpegcodec.encode_jpeg(
        _rng(98).integers(0, 256, (16, 24, 3), dtype=np.uint8))
    dct_base = bytearray(_one_page(
        b"q 11.52 0 0 7.68 0 0 cm /Im0 Do Q",
        {5: stream_obj(
            "/Subtype /Image /Width 24 /Height 16 /ColorSpace /DeviceRGB "
            "/BitsPerComponent 8 /Filter /DCTDecode", jpg)},
        b"<< /XObject << /Im0 5 0 R >> >>"))
    # fixture sanity so the loop can't pass vacuously: the unmutated PDF
    # must decode and actually paint the JPEG (not render blank)
    base_page = pdfcodec.decode_pdf(bytes(dct_base))[0]
    # image at PDF origin = raster BOTTOM-left of the 100x50 canvas
    np.testing.assert_array_equal(
        base_page[34:50, :24], jpegcodec.decode_jpeg(jpg))
    for _ in range(200):
        raw = bytearray(dct_base)
        raw[int(rng.integers(0, len(raw)))] = int(rng.integers(0, 256))
        try:
            pdfcodec.decode_pdf(bytes(raw))
        except ValueError:
            pass
    # deep nesting must not leak RecursionError
    bomb = b"%PDF-1.4\n1 0 obj\n" + b"[" * 50000
    with pytest.raises(ValueError):
        pdfcodec.page_count(bomb + b"\nstartxref\n9\n%%EOF")
    # lying dimensions must refuse, not allocate
    huge = _one_page(
        b"q 48 0 0 24 0 0 cm /Im0 Do Q",
        {5: stream_obj(
            "/Subtype /Image /Width 999999 /Height 999999 "
            "/ColorSpace /DeviceGray /BitsPerComponent 8", b"")},
        b"<< /XObject << /Im0 5 0 R >> >>")
    with pytest.raises(ValueError, match="MAX_PIXELS"):
        pdfcodec.decode_pdf(huge)


def test_not_a_pdf_and_truncation():
    with pytest.raises(ValueError, match="header"):
        pdfcodec.decode_pdf(b"GIF89a...")
    good = scanned_pdf(
        [np.zeros((5, 5, 3), np.uint8)], ["0 0 2.4 2.4"])
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(good[: len(good) // 2])


# --- page slicing -------------------------------------------------------------


def _mixed_pdf(n_rgb: int = 2) -> bytes:
    """Multi-page PDF mixing every supported image class (RGB-Flate,
    gray-8, bitonal /Decode [1 0], DCT) so slice tests cover each
    stream-copy path."""
    rng = _rng(77)
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    kids, nxt = [], 3
    pages_payloads = [
        ("/DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode",
         zlib.compress(rng.integers(0, 256, (30, 40, 3), np.uint8).tobytes()),
         40, 30)
        for _ in range(n_rgb)
    ] + [
        ("/DeviceGray /BitsPerComponent 8 /Filter /FlateDecode",
         zlib.compress(rng.integers(0, 256, (25, 50), np.uint8).tobytes()),
         50, 25),
        ("/DeviceGray /BitsPerComponent 1 /Decode [1 0] /Filter /FlateDecode",
         zlib.compress(np.packbits(
             rng.integers(0, 2, (20, 20), np.uint8), axis=1).tobytes()),
         20, 20),
        ("/DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode",
         jpegcodec.encode_jpeg(
             rng.integers(0, 256, (16, 16, 3), np.uint8)), 16, 16),
    ]
    for cs, data, w, h in pages_payloads:
        pg, ct, im = nxt, nxt + 1, nxt + 2
        nxt += 3
        kids.append(f"{pg} 0 R")
        objs[pg] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 100 60] "
            f"/Resources << /XObject << /Im0 {im} 0 R >> >> "
            f"/Contents {ct} 0 R >>").encode()
        objs[ct] = stream_obj("", b"q 100 0 0 60 0 0 cm /Im0 Do Q")
        objs[im] = stream_obj(
            f"/Subtype /Image /Width {w} /Height {h} /ColorSpace {cs}", data)
    objs[2] = (f"<< /Type /Pages /Kids [{' '.join(kids)}] "
               f"/Count {len(kids)} >>").encode()
    return build_pdf(objs)


def test_slice_pages_decode_equality_all_image_classes():
    """decode_pdf(slice_pages(raw, idx)) == decode_pdf(raw, idx) pixel-
    exactly, for every image class, both modes, arbitrary index order."""
    raw = _mixed_pdf()
    n = pdfcodec.page_count(raw)
    assert n == 5
    for idx in ([0], [2, 3], [4], list(range(n)), [3, 1, 0]):
        for mode in ("RGB", "L"):
            a = pdfcodec.decode_pdf(
                pdfcodec.slice_pages(raw, idx), mode=mode)
            b = pdfcodec.decode_pdf(raw, page_indices=idx, mode=mode)
            assert len(a) == len(b) == len(idx)
            for x, y in zip(a, b):
                np.testing.assert_array_equal(x, y)
    # a slice is itself a valid scanned PDF: probe + re-slice both work
    sl = pdfcodec.slice_pages(raw, [1, 4])
    assert pdftext.validate_hybrid(sl)[0] == 2
    np.testing.assert_array_equal(
        pdfcodec.decode_pdf(pdfcodec.slice_pages(sl, [1]))[0],
        pdfcodec.decode_pdf(raw, page_indices=[4])[0])


def test_slice_pages_size_proportional():
    """The point of slicing: a one-bucket slice of an N-page document
    carries ~1/N of the bytes, not a full-payload copy."""
    rng = _rng(55)
    pages = [rng.integers(0, 256, (80, 60), np.uint8) for _ in range(12)]
    from tests.test_extract_real import gray_scanned_pdf

    raw = gray_scanned_pdf(pages)
    one = pdfcodec.slice_pages(raw, [7])
    assert len(one) < len(raw) / 6  # 1/12 of payload + fixed overhead
    # and the union of disjoint slices stays ~the original total
    total = sum(
        len(pdfcodec.slice_pages(raw, range(lo, min(12, lo + 4))))
        for lo in range(0, 12, 4)
    )
    assert total < len(raw) * 1.2


def test_slice_prunes_pages_level_shared_resources():
    """A Pages-level /Resources dict naming EVERY page's image must not
    defeat the size win: the slicer keeps only the XObject names the
    selected pages' content streams actually paint."""
    rng = _rng(56)
    imgs = [rng.integers(0, 256, (50, 40), np.uint8) for _ in range(3)]
    objs = {1: b"<< /Type /Catalog /Pages 2 0 R >>"}
    xod = " ".join(f"/Im{i} {10 + i} 0 R" for i in range(3))
    objs[2] = (f"<< /Type /Pages /Kids [3 0 R 4 0 R 5 0 R] /Count 3 "
               f"/MediaBox [0 0 19.2 24] "
               f"/Resources << /XObject << {xod} >> >> >>").encode()
    payloads = [zlib.compress(img.tobytes()) for img in imgs]
    for i in range(3):
        objs[3 + i] = (f"<< /Type /Page /Parent 2 0 R "
                       f"/Contents {6 + i} 0 R >>").encode()
        objs[6 + i] = stream_obj(
            "", f"q 19.2 0 0 24 0 0 cm /Im{i} Do Q".encode())
        objs[10 + i] = stream_obj(
            f"/Subtype /Image /Width 40 /Height 50 /ColorSpace /DeviceGray "
            f"/BitsPerComponent 8 /Filter /FlateDecode", payloads[i])
    raw = build_pdf(objs)
    sl = pdfcodec.slice_pages(raw, [1])
    np.testing.assert_array_equal(
        pdfcodec.decode_pdf(sl, mode="L")[0],
        pdfcodec.decode_pdf(raw, page_indices=[1], mode="L")[0])
    assert payloads[1] in sl
    assert payloads[0] not in sl and payloads[2] not in sl
    # inherited MediaBox materialized into the sliced page
    assert pdftext.validate_hybrid(sl) == (1, 40, 50)


def test_slice_of_incremental_update_takes_newest_object():
    """Slicing resolves through the /Prev chain: the slice of an
    incrementally-updated document carries the NEWEST object bytes."""
    old = np.full((50, 100, 3), 10, np.uint8)
    new = np.full((50, 100, 3), 200, np.uint8)
    base = scanned_pdf([old], ["0 0 48 24"])
    img_num = 5
    m = __import__("re").search(rb"startxref\s+(\d+)", base[-64:])
    upd = bytearray(base)
    new_off = len(upd)
    upd += f"{img_num} 0 obj\n".encode() + rgb_image_obj(new) + b"\nendobj\n"
    xref_pos = len(upd)
    upd += (f"xref\n{img_num} 1\n{new_off:010d} 00001 n \n"
            f"trailer\n<< /Size 6 /Root 1 0 R /Prev {int(m.group(1))} >>\n"
            f"startxref\n{xref_pos}\n%%EOF").encode()
    sl = pdfcodec.slice_pages(bytes(upd), [0])
    np.testing.assert_array_equal(pdfcodec.decode_pdf(sl)[0], new)


def test_slice_pages_error_contract():
    raw = _mixed_pdf(n_rgb=1)
    with pytest.raises(ValueError, match="out of range"):
        pdfcodec.slice_pages(raw, [99])
    with pytest.raises(ValueError, match="zero pages"):
        pdfcodec.slice_pages(raw, [])
    with pytest.raises(ValueError, match="header"):
        pdfcodec.slice_pages(b"GIF89a...", [0])
    # adversarial bytes: same ValueError-only contract as decode_pdf
    rng = np.random.default_rng(4321)
    base = bytearray(raw)
    errored = 0
    for _ in range(250):
        mut = bytearray(base)
        mut[int(rng.integers(0, len(mut)))] = int(rng.integers(0, 256))
        try:
            sl = pdfcodec.slice_pages(bytes(mut), [0, 1])
            # a successful slice must itself decode or raise ValueError
            try:
                pdfcodec.decode_pdf(sl)
            except ValueError:
                pass
        except ValueError:
            errored += 1
    # lower bar than the decode fuzz: slicing copies stream bytes
    # VERBATIM (never inflates them), so only structural bytes are
    # load-bearing — but those must still fail as ValueError only
    assert errored > 20


# --- the seam ----------------------------------------------------------------


def test_decode_real_media_pdf_fallback_runs_in_sandbox():
    from ocr_platform_spark import multimodal

    if multimodal._pdfium is not None:
        pytest.skip("pypdfium2 present: fast path covers this")
    src = _rng(9).integers(0, 256, (50, 100, 3), dtype=np.uint8)
    kind, pages = multimodal.decode_real_media(
        scanned_pdf([src], ["0 0 48 24"]))
    assert kind == "pdf"
    assert len(pages) == 1
    np.testing.assert_array_equal(pages[0], src)


# --- ICCBased / Indexed color spaces -------------------------------------------


def _cs_page(img_obj_body: bytes, extra_objs: dict | None = None) -> bytes:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 38.4 28.8] "
            b"/Resources << /XObject << /Im0 5 0 R >> >> "
            b"/Contents 4 0 R >>"),
        4: stream_obj("", b"q 38.4 0 0 28.8 0 0 cm /Im0 Do Q"),
        5: img_obj_body,
    }
    objs.update(extra_objs or {})
    return build_pdf(objs)


def test_iccbased_rgb_and_gray_decode_like_device():
    """Distiller-era scanners wrap plain samples in /ICCBased profiles;
    N=3 renders exactly like DeviceRGB, N=1 like DeviceGray (the
    profile payload itself is irrelevant to the scanned subset)."""
    rng = _rng(61)
    img = rng.integers(0, 256, (60, 80, 3), dtype=np.uint8)
    want = pdfcodec.decode_pdf(scanned_pdf([img], ["0 0 38.4 28.8"]))[0]
    icc = _cs_page(
        stream_obj(
            "/Subtype /Image /Width 80 /Height 60 "
            "/ColorSpace [/ICCBased 6 0 R] /BitsPerComponent 8 "
            "/Filter /FlateDecode", zlib.compress(img.tobytes())),
        {6: stream_obj("/N 3", b"not-a-real-profile")})
    np.testing.assert_array_equal(pdfcodec.decode_pdf(icc)[0], want)
    # gray: ICCBased N=1 == DeviceGray
    g = rng.integers(0, 256, (60, 80), dtype=np.uint8)
    dev = _cs_page(stream_obj(
        "/Subtype /Image /Width 80 /Height 60 /ColorSpace /DeviceGray "
        "/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(g.tobytes())))
    icc_g = _cs_page(
        stream_obj(
            "/Subtype /Image /Width 80 /Height 60 "
            "/ColorSpace [/ICCBased 6 0 R] /BitsPerComponent 8 "
            "/Filter /FlateDecode", zlib.compress(g.tobytes())),
        {6: stream_obj("/N 1", b"junk")})
    np.testing.assert_array_equal(pdfcodec.decode_pdf(icc_g)[0],
                                  pdfcodec.decode_pdf(dev)[0])
    # out-of-family component counts refuse (N=4 now maps to CMYK —
    # pinned in test_jpeg_cmyk — so the refusal pin uses N=2)
    bad = _cs_page(
        stream_obj(
            "/Subtype /Image /Width 80 /Height 60 "
            "/ColorSpace [/ICCBased 6 0 R] /BitsPerComponent 8 "
            "/Filter /FlateDecode", zlib.compress(img.tobytes())),
        {6: stream_obj("/N 2", b"junk")})
    with pytest.raises(ValueError, match="ICCBased"):
        pdfcodec.decode_pdf(bad)


def test_indexed_palette_images():
    """8-bit and 4-bit palette images (screenshot-class content embedded
    in PDFs): samples are palette indices; the render must equal the
    equivalent DeviceRGB image of palette[i]."""
    rng = _rng(67)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (60, 80), dtype=np.uint8)
    want = pdfcodec.decode_pdf(
        scanned_pdf([pal[idx]], ["0 0 38.4 28.8"]))[0]
    pal_hex = pal.tobytes().hex()
    # 8-bit indices
    p8 = _cs_page(stream_obj(
        "/Subtype /Image /Width 80 /Height 60 "
        f"/ColorSpace [/Indexed /DeviceRGB 15 <{pal_hex}>] "
        "/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(idx.tobytes())))
    np.testing.assert_array_equal(pdfcodec.decode_pdf(p8)[0], want)
    # 4-bit packed indices (two per byte, high nibble first)
    packed = (idx[:, 0::2] << 4) | idx[:, 1::2]
    p4 = _cs_page(stream_obj(
        "/Subtype /Image /Width 80 /Height 60 "
        f"/ColorSpace [/Indexed /DeviceRGB 15 <{pal_hex}>] "
        "/BitsPerComponent 4 /Filter /FlateDecode",
        zlib.compress(packed.astype(np.uint8).tobytes())))
    np.testing.assert_array_equal(pdfcodec.decode_pdf(p4)[0], want)
    # palette in a stream object + gray base
    gpal = np.arange(0, 256, 16, dtype=np.uint8)  # 16 gray levels
    pg = _cs_page(
        stream_obj(
            "/Subtype /Image /Width 80 /Height 60 "
            "/ColorSpace [/Indexed /DeviceGray 15 6 0 R] "
            "/BitsPerComponent 8 /Filter /FlateDecode",
            zlib.compress(idx.tobytes())),
        {6: stream_obj("", gpal.tobytes())})
    want_g = pdfcodec.decode_pdf(scanned_pdf(
        [np.repeat(gpal[idx][:, :, None], 3, axis=2)],
        ["0 0 38.4 28.8"]))[0]
    np.testing.assert_array_equal(pdfcodec.decode_pdf(pg)[0], want_g)


def test_indexed_malformed_quarantines():
    rng = _rng(71)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    idx = np.full((10, 10), 7, np.uint8)  # exceeds hival 3
    raw = _cs_page(stream_obj(
        "/Subtype /Image /Width 10 /Height 10 "
        f"/ColorSpace [/Indexed /DeviceRGB 3 <{pal.tobytes().hex()}>] "
        "/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(idx.tobytes())))
    with pytest.raises(ValueError, match="hival"):
        pdfcodec.decode_pdf(raw)
    # short lookup table
    raw = _cs_page(stream_obj(
        "/Subtype /Image /Width 10 /Height 10 "
        f"/ColorSpace [/Indexed /DeviceRGB 3 <aabb>] "
        "/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(idx.tobytes())))
    with pytest.raises(ValueError, match="lookup"):
        pdfcodec.decode_pdf(raw)
    # unsupported colorspace family still names itself in the error
    raw = _cs_page(stream_obj(
        "/Subtype /Image /Width 10 /Height 10 "
        "/ColorSpace /Lab /BitsPerComponent 8 "
        "/Filter /FlateDecode", zlib.compress(idx.tobytes())))
    with pytest.raises(ValueError, match="Lab"):
        pdfcodec.decode_pdf(raw)


# --- inline images (BI/ID/EI) ---------------------------------------------------


def _inline_page(content: bytes) -> bytes:
    return build_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 48 24] "
            b"/Contents 4 0 R >>"),
        4: stream_obj("", content),
    })


def test_inline_images_match_xobject_equivalents():
    """BI/ID/EI with abbreviated keys (Table 91-93): raw, Flate, armored
    and CCITT inline images render byte-identically to the XObject
    forms — the fax-to-PDF producer shape."""
    from ocr_platform_spark import ccittcodec
    from ocr_platform_spark import compression as C

    rng = _rng(5)
    img = rng.integers(0, 256, (50, 100, 3), dtype=np.uint8)
    ref = pdfcodec.decode_pdf(scanned_pdf([img], ["0 0 48 24"]))[0]
    raw = img.tobytes()
    cases = {
        "raw": b"BI /W 100 /H 50 /CS /RGB /BPC 8 ID " + raw + b" EI",
        "flate": (b"BI /W 100 /H 50 /CS /RGB /BPC 8 /F /Fl ID "
                  + zlib.compress(raw) + b"\nEI"),
        "armored": (b"BI /W 100 /H 50 /CS /RGB /BPC 8 /F [/AHx /Fl] ID "
                    + C.encode_ascii_hex(zlib.compress(raw)) + b"\nEI"),
    }
    for name, bi in cases.items():
        got = pdfcodec.decode_pdf(_inline_page(
            b"q 48 0 0 24 0 0 cm " + bi + b" Q"))[0]
        np.testing.assert_array_equal(got, ref, err_msg=name)
    # CCITT G4 and G3 inline
    bm = (rng.random((50, 100)) < 0.2).astype(np.uint8)
    want = np.stack([(1 - bm) * 255] * 3, axis=-1).astype(np.uint8)
    for dp, data in [
        (b"/DP << /K -1 /Columns 100 /Rows 50 >>", ccittcodec.encode_g4(bm)),
        (b"/DP << /K 2 /Columns 100 /Rows 50 >>",
         ccittcodec.encode_g3(bm, k=2)),
    ]:
        content = (b"q 48 0 0 24 0 0 cm BI /W 100 /H 50 /CS /G /BPC 1 "
                   b"/F /CCF " + dp + b" ID " + data + b"\nEI Q")
        raw_pdf = _inline_page(content)
        got = pdfcodec.decode_pdf(raw_pdf)[0]
        np.testing.assert_array_equal(got, want)
        # the distributed probe accepts inline pages without inflation
        assert pdftext.validate_hybrid(raw_pdf) == (1, 100, 50)


def test_inline_image_malformed_quarantines():
    base = b"q 48 0 0 24 0 0 cm "
    # garbage entropy data
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(_inline_page(
            base + b"BI /W 100 /H 50 /CS /G /BPC 1 /F /CCF "
            b"/DP << /K -1 /Columns 100 /Rows 50 >> ID \xff\xff\nEI Q"))
    # missing EI
    with pytest.raises(ValueError, match="EI"):
        pdfcodec.decode_pdf(_inline_page(
            base + b"BI /W 4 /H 4 /CS /G /BPC 8 ID " + b"\x00" * 15 + b" Q"))
    # odd key/value tokens
    with pytest.raises(ValueError, match="odd"):
        pdfcodec.decode_pdf(_inline_page(
            base + b"BI /W 4 /H 4 /CS ID " + b"\x00" * 16 + b" EI Q"))
    # truncated before ID
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(_inline_page(base + b"BI /W 4 /H 4"))
    # stray EI outside an inline image is an unknown operator
    with pytest.raises(ValueError):
        pdfcodec.decode_pdf(_inline_page(base + b"EI Q"))


# --- page rotation (/Rotate) ----------------------------------------------------


def _rotated_pdf(img, rot):
    objs = scanned_objs([img], ["0 0 48 24"])
    objs[3] = objs[3].replace(b"/MediaBox", b"/Rotate %d /MediaBox" % rot)
    return build_pdf(objs)


def test_page_rotate_clockwise_display():
    """/Rotate is CLOCKWISE display rotation (PDF 7.7.3.3): the raster
    equals np.rot90(base, -rot/90); 90/270 swap the probed dims; 360 and
    -90 normalize; slicing preserves the attribute; mode='L' parity
    holds through the rotation."""
    img = _rng(5).integers(0, 256, (50, 100, 3), dtype=np.uint8)
    base = pdfcodec.decode_pdf(scanned_pdf([img], ["0 0 48 24"]))[0]
    for rot in (90, 180, 270, 360, -90):
        raw = _rotated_pdf(img, rot)
        got = pdfcodec.decode_pdf(raw)[0]
        eff = rot % 360
        want = np.ascontiguousarray(np.rot90(base, k=-eff // 90)) \
            if eff else base
        np.testing.assert_array_equal(got, want, err_msg=str(rot))
        n, w, h = pdftext.validate_hybrid(raw)
        assert (n, w, h) == (1, got.shape[1], got.shape[0]), rot
        assert pdfcodec.probe_dims(raw) == (1, got.shape[1], got.shape[0])
        gl = pdfcodec.decode_pdf(raw, mode="L")[0]
        np.testing.assert_array_equal(gl, pdfcodec.rgb_to_gray(got))
    sliced = pdfcodec.slice_pages(_rotated_pdf(img, 90), [0])
    np.testing.assert_array_equal(
        pdfcodec.decode_pdf(sliced)[0],
        pdfcodec.decode_pdf(_rotated_pdf(img, 90))[0])


def test_page_rotate_non_right_angle_quarantines():
    img = _rng(5).integers(0, 256, (10, 10, 3), dtype=np.uint8)
    for bad in (45, 91):
        with pytest.raises(ValueError, match="right angle"):
            pdfcodec.decode_pdf(_rotated_pdf(img, bad))
        with pytest.raises(ValueError, match="right angle"):
            pdftext.validate_hybrid(_rotated_pdf(img, bad))


def test_pdf_sub_byte_gray_images():
    """2- and 4-bit DeviceGray samples (older scan profiles): exact
    255/(2^bpc-1) expansion through the identity-scale render."""
    rng = _rng(5)
    for bpc in (2, 4):
        m = (1 << bpc) - 1
        v = rng.integers(0, m + 1, (50, 100), dtype=np.uint8)
        g = (v * (255 // m)).astype(np.uint8)
        packed = bytearray()
        for row in v:
            acc, nb = 0, 0
            for x in row:
                acc = (acc << bpc) | int(x)
                nb += bpc
                if nb == 8:
                    packed.append(acc)
                    acc, nb = 0, 0
            if nb:
                packed.append(acc << (8 - nb))
        objs = scanned_objs([np.stack([g] * 3, -1)], ["0 0 48 24"])
        objs[5] = stream_obj(
            f"/Subtype /Image /Width 100 /Height 50 "
            f"/ColorSpace /DeviceGray /BitsPerComponent {bpc} "
            f"/Filter /FlateDecode", zlib.compress(bytes(packed)))
        got = pdfcodec.decode_pdf(build_pdf(objs))[0]
        np.testing.assert_array_equal(got, np.stack([g] * 3, -1),
                                      err_msg=str(bpc))
        # mode='L' native path agrees
        gl = pdfcodec.decode_pdf(build_pdf(objs), mode="L")[0]
        np.testing.assert_array_equal(gl, g)


# --- stencil masks (/ImageMask) -------------------------------------------------


def _mask_objs(img_obj, content=b"q 48 0 0 24 0 0 cm /Im0 Do Q"):
    return {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 48 24] "
            b"/Resources << /XObject << /Im0 5 0 R >> >> "
            b"/Contents 4 0 R >>"),
        4: stream_obj("", content),
        5: img_obj,
    }


def test_imagemask_stencils_paint_black_ink():
    """PDF 8.9.6.2 stencil masks (the fax-to-PDF overlay pattern):
    default /Decode [0 1] paints where the sample is 0, [1 0] inverts,
    CCITT-coded masks paint their black bits; the probe accepts them."""
    from ocr_platform_spark import ccittcodec

    bm = (_rng(5).random((50, 100)) < 0.2).astype(np.uint8)  # 1 = ink
    want = np.stack([(1 - bm) * 255] * 3, -1).astype(np.uint8)
    cases = {
        "raw_default": stream_obj(
            "/Subtype /Image /Width 100 /Height 50 /ImageMask true "
            "/BitsPerComponent 1 /Filter /FlateDecode",
            zlib.compress(np.packbits(1 - bm, axis=1).tobytes())),
        "raw_decode10": stream_obj(
            "/Subtype /Image /Width 100 /Height 50 /ImageMask true "
            "/BitsPerComponent 1 /Decode [1 0] /Filter /FlateDecode",
            zlib.compress(np.packbits(bm, axis=1).tobytes())),
        "ccitt_g4": stream_obj(
            "/Subtype /Image /Width 100 /Height 50 /ImageMask true "
            "/BitsPerComponent 1 /Filter /CCITTFaxDecode "
            "/DecodeParms << /K -1 /Columns 100 /Rows 50 >>",
            ccittcodec.encode_g4(bm)),
    }
    for name, obj in cases.items():
        raw = build_pdf(_mask_objs(obj))
        np.testing.assert_array_equal(pdfcodec.decode_pdf(raw)[0], want,
                                      err_msg=name)
        assert pdftext.validate_hybrid(raw) == (1, 100, 50), name


def test_imagemask_transparent_over_underlying_image():
    """Unmarked mask samples are TRANSPARENT: a stencil painted over a
    gray image must keep the image where the mask has no ink (the
    overwrite-with-white failure mode this pins against)."""
    bm = (_rng(7).random((50, 100)) < 0.2).astype(np.uint8)
    gray_img = np.full((50, 100), 200, np.uint8)
    objs = _mask_objs(
        stream_obj(
            "/Subtype /Image /Width 100 /Height 50 /ImageMask true "
            "/BitsPerComponent 1 /Filter /FlateDecode",
            zlib.compress(np.packbits(1 - bm, axis=1).tobytes())),
        content=(b"q 48 0 0 24 0 0 cm /Im1 Do Q "
                 b"q 48 0 0 24 0 0 cm /Im0 Do Q"))
    objs[3] = objs[3].replace(b"/Im0 5 0 R", b"/Im0 5 0 R /Im1 6 0 R")
    objs[6] = stream_obj(
        "/Subtype /Image /Width 100 /Height 50 /ColorSpace /DeviceGray "
        "/BitsPerComponent 8 /Filter /FlateDecode",
        zlib.compress(gray_img.tobytes()))
    got = pdfcodec.decode_pdf(build_pdf(objs))[0]
    exp = np.where(np.stack([bm] * 3, -1) == 1, 0, 200).astype(np.uint8)
    np.testing.assert_array_equal(got, exp)


def test_imagemask_malformed_quarantines():
    for dict_body, data in [
        # 8-bit mask is malformed
        ("/Subtype /Image /Width 8 /Height 8 /ImageMask true "
         "/BitsPerComponent 8", b"\x00" * 64),
        # DCT-coded mask is malformed
        ("/Subtype /Image /Width 8 /Height 8 /ImageMask true "
         "/BitsPerComponent 1 /Filter /DCTDecode", b"\x00" * 8),
        # bad decode array
        ("/Subtype /Image /Width 8 /Height 8 /ImageMask true "
         "/BitsPerComponent 1 /Decode [0 255]", b"\x00" * 8),
    ]:
        with pytest.raises(ValueError):
            pdfcodec.decode_pdf(build_pdf(_mask_objs(
                stream_obj(dict_body, data))))


def test_short_decodeparms_list_does_not_drop_filters():
    """Regression (review finding): /DecodeParms [null] with a
    two-filter chain must still run BOTH filters — zip-truncation
    rendered raw zlib bytes as pixels."""
    rng = _rng(5)
    img = rng.integers(0, 256, (50, 100, 3), dtype=np.uint8)
    ref = pdfcodec.decode_pdf(scanned_pdf([img], ["0 0 48 24"]))[0]
    from ocr_platform_spark import compression as C

    objs = scanned_objs([img], ["0 0 48 24"])
    objs[5] = stream_obj(
        "/Subtype /Image /Width 100 /Height 50 /ColorSpace /DeviceRGB "
        "/BitsPerComponent 8 /Filter [/ASCIIHexDecode /FlateDecode] "
        "/DecodeParms [null]",
        C.encode_ascii_hex(zlib.compress(img.tobytes())))
    np.testing.assert_array_equal(pdfcodec.decode_pdf(build_pdf(objs))[0],
                                  ref)
    # content streams too
    objs = scanned_objs([img], ["0 0 48 24"])
    objs[4] = stream_obj(
        "/Filter [/ASCIIHexDecode /FlateDecode] /DecodeParms [null]",
        C.encode_ascii_hex(zlib.compress(b"q 48 0 0 24 0 0 cm /Im0 Do Q")))
    np.testing.assert_array_equal(pdfcodec.decode_pdf(build_pdf(objs))[0],
                                  ref)


def test_inline_image_boolean_values_and_mask():
    """Regression (review finding): inline dictionaries carry booleans
    (/IM true — the inline CCITT fax shape) and null values; the
    unfiltered inline mask defaults /BPC to 1."""
    from ocr_platform_spark import ccittcodec

    bm = (_rng(5).random((50, 100)) < 0.2).astype(np.uint8)
    want = np.stack([(1 - bm) * 255] * 3, -1).astype(np.uint8)
    content = (b"q 48 0 0 24 0 0 cm BI /W 100 /H 50 /IM true /BPC 1 "
               b"/F /CCF /DP << /K -1 /Columns 100 /Rows 50 >> ID "
               + ccittcodec.encode_g4(bm) + b"\nEI Q")
    got = pdfcodec.decode_pdf(_inline_page(content))[0]
    np.testing.assert_array_equal(got, want)
    # unfiltered inline mask WITHOUT /BPC: ImageMask implies 1 bit
    packed = np.packbits(1 - bm, axis=1).tobytes()
    content = (b"q 48 0 0 24 0 0 cm BI /W 100 /H 50 /IM true ID "
               + packed + b" EI Q")
    got = pdfcodec.decode_pdf(_inline_page(content))[0]
    np.testing.assert_array_equal(got, want)
