"""Audio (WAV) and video (AVI) multimodal tier: codec round trips,
strict-contract fuzz, probe/sniff dispatch, the Spark feature
operators, and DuckDB parity for the three driver-contract queries.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from ocr_platform_spark import audiocodec, avicodec, formats, multimodal

# ---------------------------------------------------------------------------
# WAV codec
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bits,fmt", [(8, 1), (16, 1), (24, 1), (32, 1),
                                      (32, 3), (64, 3)])
@pytest.mark.parametrize("channels", [1, 2, 4])
def test_wav_round_trip(bits, fmt, channels):
    rng = np.random.default_rng(bits * 10 + channels)
    n = 777
    if fmt == 1:
        div = float(1 << (bits - 1)) if bits > 8 else 128.0
        s = rng.integers(-int(div), int(div) - 1,
                         size=(n, channels)) / div
    else:
        s = rng.uniform(-1, 1, size=(n, channels))
        if bits == 32:
            s = s.astype(np.float32).astype(np.float64)
    raw = audiocodec.encode_wav(s, 16000, bits=bits, fmt=fmt)
    assert audiocodec.probe_wav(raw) == (n, 16000, channels, bits)
    rate, out = audiocodec.decode_wav(raw)
    assert rate == 16000
    assert np.array_equal(out, s)


def test_wav_pcm_quantization_round_half_away():
    # exact integer-valued amplitudes must survive encode->decode
    # byte-exactly, including NEGATIVE integers (the floor(x-0.5)
    # trap); off-grid values round half away from zero
    s = np.array([-1.0, -0.5, -1 / 32768, 0.0, 1 / 32768, 0.5,
                  32767 / 32768])
    _, out = audiocodec.decode_wav(audiocodec.encode_wav(s, 8000))
    assert np.array_equal(out[:, 0], s)
    # 1.5/32768 quantizes away from zero -> 2/32768 (both signs)
    s2 = np.array([1.5 / 32768, -1.5 / 32768])
    _, out2 = audiocodec.decode_wav(audiocodec.encode_wav(s2, 8000))
    assert np.array_equal(out2[:, 0],
                          np.array([2 / 32768, -2 / 32768]))


def test_wav_extensible_subformat_decodes():
    s = np.arange(-50, 50) / 128.0
    base = audiocodec.encode_wav(s, 44100, bits=16)
    data = base[base.find(b"data") + 8:]
    fmt_full = (struct.pack("<HHIIHH", 0xFFFE, 1, 44100, 88200, 2, 16)
                + struct.pack("<HHI", 22, 16, 0)
                + struct.pack("<H", 1) + audiocodec._GUID_TAIL)
    chunks = (b"fmt " + struct.pack("<I", len(fmt_full)) + fmt_full
              + b"data" + struct.pack("<I", len(data)) + data)
    wav = (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
           + chunks)
    rate, out = audiocodec.decode_wav(wav)
    assert rate == 44100 and np.array_equal(out[:, 0], s)


def test_wav_strict_contract_under_mutation():
    raw = audiocodec.encode_wav(np.linspace(-0.9, 0.9, 300), 8000)
    for cut in range(len(raw)):
        try:
            audiocodec.decode_wav(raw[:cut])
        except ValueError:
            pass
    rng = random.Random(11)
    for _ in range(4000):
        b = bytearray(raw)
        for _ in range(rng.randint(1, 4)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            audiocodec.decode_wav(bytes(b))
        except ValueError:
            pass


def test_wav_decode_cap_refuses_adversarial_header():
    # a tiny payload DECLARING a huge frame count must be refused by
    # the chunk-bounds walk, and a structurally-valid giant declaration
    # must hit MAX_SAMPLES before allocating
    raw = bytearray(audiocodec.encode_wav(np.zeros(8), 8000, bits=16))
    off = bytes(raw).find(b"data") + 4
    struct.pack_into("<I", raw, off, 1 << 30)
    with pytest.raises(ValueError):
        audiocodec.decode_wav(bytes(raw))


# ---------------------------------------------------------------------------
# AVI codec
# ---------------------------------------------------------------------------


def _rgb_frames(n, h=48, w=64, seed=5):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
            for _ in range(n)]


def test_avi_dib_lossless_round_trip():
    frames = _rgb_frames(5)
    raw = avicodec.encode_avi(frames, fps=12, codec="dib")
    assert avicodec.probe_avi(raw) == (5, 64, 48)
    for i, f in enumerate(frames):
        assert np.array_equal(avicodec.decode_frame(raw, i), f)


def test_avi_mjpeg_round_trip_near_lossless():
    # unit quant tables: smooth frames survive within FDCT/IDCT rounding
    frames = [np.full((32, 48, 3), 16 * i + 8, np.uint8)
              for i in range(4)]
    raw = avicodec.encode_avi(frames, fps=5, codec="mjpeg")
    assert avicodec.probe_avi(raw) == (4, 48, 32)
    for i, f in enumerate(frames):
        got = avicodec.decode_frame(raw, i)
        assert np.abs(got.astype(int) - f.astype(int)).max() <= 2


def test_avi_iter_frames_sampling():
    frames = _rgb_frames(7, h=16, w=16, seed=9)
    raw = avicodec.encode_avi(frames, codec="dib")
    got = list(avicodec.iter_frames(raw, every=3))
    assert [i for i, _ in got] == [0, 3, 6]
    for i, f in got:
        assert np.array_equal(f, frames[i])


def test_avi_strict_contract_under_mutation():
    targets = [
        avicodec.encode_avi(_rgb_frames(3, h=24, w=24), codec="dib"),
        avicodec.encode_avi(
            [np.full((24, 24, 3), 40 * i, np.uint8) for i in range(3)],
            codec="mjpeg"),
    ]
    rng = random.Random(23)
    for raw in targets:
        for cut in range(0, len(raw), 41):
            try:
                avicodec.probe_avi(raw[:cut])
            except ValueError:
                pass
        for _ in range(3000):
            b = bytes_mut = bytearray(raw)
            for _ in range(rng.randint(1, 4)):
                bytes_mut[rng.randrange(len(b))] = rng.randrange(256)
            mutated = bytes(bytes_mut)
            try:
                n, _w, _h = avicodec.probe_avi(mutated)
                for i in range(n):
                    avicodec.decode_frame(mutated, i)
            except ValueError:
                pass


def test_avi_refuses_audio_stream_chunks():
    raw = bytearray(avicodec.encode_avi(_rgb_frames(2, h=8, w=8),
                                        codec="dib"))
    # relabel the second frame chunk as an audio stream chunk
    off = bytes(raw).rfind(b"00db")
    raw[off:off + 4] = b"01wb"
    with pytest.raises(ValueError):
        avicodec.probe_avi(bytes(raw))


# ---------------------------------------------------------------------------
# sniff + probe dispatch
# ---------------------------------------------------------------------------


def test_sniff_riff_forms():
    wav = audiocodec.encode_wav(np.zeros(4), 8000)
    avi = avicodec.encode_avi(_rgb_frames(1, h=8, w=8), codec="dib")
    assert formats.sniff_kind(wav) == "wav"
    assert formats.sniff_kind(avi) == "avi"
    # other RIFF forms stay unknown (WEBP etc.)
    assert formats.sniff_kind(b"RIFF\x04\x00\x00\x00WEBP") == "unknown"


def test_probe_shallow_reports_deep_refuses():
    wav = audiocodec.encode_wav(np.zeros(100), 8000)
    avi = avicodec.encode_avi(_rgb_frames(3, h=8, w=8), codec="dib")
    assert multimodal.probe_real_media(wav, deep=False) == ("wav", 1, 0, 0)
    assert multimodal.probe_real_media(avi, deep=False) == ("avi", 3, 8, 8)
    with pytest.raises(ValueError, match="no text tier"):
        multimodal.probe_real_media(wav, deep=True)
    with pytest.raises(ValueError, match="no text tier"):
        multimodal.probe_real_media(avi, deep=True)


def test_extraction_quarantines_audio_payload(spark):
    # a WAV media span in the OCR pipeline must quarantine (typed
    # triage), never crash or silently extract
    from ocr_platform_spark.operators import extract_real

    wav = audiocodec.encode_wav(np.zeros(64), 8000)
    docs = spark.createDataFrame(
        [("d1", [{"kind": "media", "text": None, "media_ref": "m1",
                  "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    media = spark.createDataFrame(
        [("m1", "a.wav", bytearray(wav), None)],
        "media_ref string, filename string, data binary, page_count int",
    )
    out = extract_real.extract_real_documents(docs, media).collect()
    texts = [s["text"] for r in out for s in r["spans"]
             if s["text"] is not None]
    assert texts == []


# ---------------------------------------------------------------------------
# Spark operators + oracle parity
# ---------------------------------------------------------------------------


def test_audio_features_against_numpy(spark):
    rng = np.random.default_rng(3)
    s = rng.integers(-20000, 20000, size=(1000, 2)) / 32768.0
    wav = audiocodec.encode_wav(s, 16000, bits=16)
    media = spark.createDataFrame(
        [("m1", bytearray(wav))], "media_ref string, data binary")
    rows = {r["window_index"]: r for r in
            multimodal.audio_features(media, window_frames=256).collect()}
    mono = s.mean(axis=1)
    assert len(rows) == 4  # 256*3 full + trailing 232
    for wi in range(4):
        w = mono[wi * 256:(wi + 1) * 256]
        r = rows[wi]
        assert r["n_samples"] == len(w)
        assert r["rms_fxp6"] == multimodal._fxp6(
            float(np.sqrt(np.dot(w, w) / len(w))))
        assert r["peak_fxp6"] == multimodal._fxp6(float(np.max(np.abs(w))))
        assert r["n_zero_cross"] == int(
            np.count_nonzero(w[1:] * w[:-1] < 0))


def test_audio_metadata_operator(spark):
    wav = audiocodec.encode_wav(np.zeros((1600, 2)), 8000, bits=24)
    media = spark.createDataFrame(
        [("m1", bytearray(wav)), ("bad", bytearray(b"not audio"))],
        "media_ref string, data binary")
    [row] = multimodal.audio_metadata(media).collect()
    assert (row["media_ref"], row["n_frames"], row["sample_rate"],
            row["channels"], row["bits"], row["duration_ms"]) == \
        ("m1", 1600, 8000, 2, 24, 200)


def test_video_frame_features_against_numpy(spark):
    frames = _rgb_frames(5, h=20, w=30, seed=77)
    raw = avicodec.encode_avi(frames, codec="dib")
    media = spark.createDataFrame(
        [("v1", bytearray(raw))], "media_ref string, data binary")
    rows = {r["frame_index"]: r for r in
            multimodal.video_frame_features(media, every=2).collect()}
    assert sorted(rows) == [0, 2, 4]
    for i, r in rows.items():
        f = frames[i]
        mr, mg, mb = (float(np.mean(f[:, :, c], dtype=np.float64))
                      for c in range(3))
        luma = (0.299 * mr + 0.587 * mg + 0.114 * mb) / 255.0
        assert (r["width"], r["height"]) == (30, 20)
        assert r["mean_luma_fxp6"] == multimodal._fxp6(luma)


def test_square_wave_rms_exactness():
    # the closed-form-oracle lever: a k/2^15 square wave's float64 RMS
    # is EXACTLY k/2^15 (integer-valued partial sums), for every k
    for k in (1, 1000, 17113, 32767):
        for n in (257, 400, 999):
            a = k / 32768.0
            i = np.arange(n)
            x = a * (1.0 - 2.0 * ((i // 20) % 2))
            assert float(np.sqrt(np.dot(x, x) / n)) == a


@pytest.mark.parametrize("name", ["audio_metadata", "audio_features",
                                  "video_frame_luma"])
def test_driver_query_duckdb_parity(spark, name):
    import duckdb

    from ocr_platform_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    fn, sql = REGISTRY[name]
    con = duckdb.connect()
    con.sql(f"create view documents as select * from "
            f"read_parquet('{sf}/documents.parquet')")
    got = fn(spark, sf).toPandas()
    want = con.sql(sql).df()
    assert list(got.columns) == list(want.columns)
    key = list(got.columns[:2])
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    for c in got.columns:
        assert (got[c] == want[c].astype(got[c].dtype)).all(), c


# ---------------------------------------------------------------------------
# review-finding regressions
# ---------------------------------------------------------------------------


def test_wav_rate_above_int32_refused():
    raw = bytearray(audiocodec.encode_wav(np.zeros(16), 16000))
    off = bytes(raw).find(b"fmt ") + 8 + 4  # rate field
    struct.pack_into("<I", raw, off, 3_000_000_000)
    # byte-rate field kept consistent so ONLY the rate check can fire
    struct.pack_into("<I", raw, off + 4, 0xFFFFFFFF)
    with pytest.raises(ValueError, match="sample rate"):
        audiocodec.probe_wav(bytes(raw))


def test_encode_wav_header_overflow_is_valueerror():
    with pytest.raises(ValueError):
        audiocodec.encode_wav(np.zeros((4, 2)), 2**31 - 1, bits=16)
    with pytest.raises(ValueError):
        audiocodec.encode_wav(np.zeros(4), 0)


def test_operator_parameters_validate_driver_side(spark):
    media = spark.createDataFrame(
        [("m", bytearray(b"x"))], "media_ref string, data binary")
    with pytest.raises(ValueError, match="window_frames"):
        multimodal.audio_features(media, window_frames=0)
    with pytest.raises(ValueError, match="every"):
        multimodal.video_frame_features(media, every=0)


def test_video_features_all_or_nothing_on_mid_decode_failure(spark):
    # shallow parse passes, 2nd MJPEG frame's entropy bytes corrupt ->
    # the payload contributes NO rows (never a half-represented video)
    frames = [np.full((16, 16, 3), 60 * i + 20, np.uint8)
              for i in range(3)]
    raw = bytearray(avicodec.encode_avi(frames, codec="mjpeg"))
    p = avicodec._parse(bytes(raw), deep=False)
    off, size, _ = p["frames"][1]
    raw[off + size - 30:off + size - 10] = b"\x00" * 20
    bad = bytes(raw)
    assert avicodec.probe_avi(bad, deep=False)[0] == 3  # shallow passes
    good = avicodec.encode_avi(frames, codec="dib")
    media = spark.createDataFrame(
        [("bad", bytearray(bad)), ("good", bytearray(good))],
        "media_ref string, data binary")
    rows = multimodal.video_frame_features(media, every=1).collect()
    assert {r["media_ref"] for r in rows} == {"good"}
    assert len(rows) == 3
