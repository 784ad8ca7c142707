"""WAV/PCM codec (`operators/wav_codec.py`) property tests: round-trips
across bit depths / channel counts / sizes, malformed-input null-routing,
chunk-order and padding tolerance, and the Spark-side decoded-sample
fingerprint pipeline on synthesized fixtures.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from wde_spark.operators.wav_codec import decode_wav, encode_wav, is_wav


@pytest.mark.parametrize("bits", [8, 16])
@pytest.mark.parametrize("channels", [1, 2, 4])
@pytest.mark.parametrize("n", [1, 7, 256, 4801])
def test_round_trip(bits, channels, n):
    rng = np.random.default_rng(n * 31 + channels * 7 + bits)
    if bits == 8:
        samples = rng.integers(0, 256, size=(n, channels), dtype=np.uint8)
    else:
        samples = rng.integers(-32768, 32768, size=(n, channels)) \
            .astype(np.int16)
    payload = encode_wav(samples, 22050, bits=bits)
    decoded = decode_wav(payload)
    assert decoded is not None
    rate, ch, b, got = decoded
    assert (rate, ch, b) == (22050, channels, bits)
    assert got.shape == (n, channels)
    assert np.array_equal(got, samples)


def test_mono_1d_input_round_trips():
    s = np.arange(-100, 100, dtype=np.int16)
    decoded = decode_wav(encode_wav(s, 8000))
    assert decoded is not None
    assert np.array_equal(decoded[3].reshape(-1), s)


def test_odd_data_chunk_is_padded_and_parses():
    # 8-bit mono with odd frame count → odd data size → pad byte
    s = np.array([1, 2, 3], dtype=np.uint8)
    payload = encode_wav(s, 8000, bits=8)
    assert len(payload) % 2 == 0
    decoded = decode_wav(payload)
    assert decoded is not None and decoded[3].shape == (3, 1)


def test_unknown_chunks_are_skipped():
    s = np.array([5, -5, 7], dtype=np.int16)
    payload = bytearray(encode_wav(s, 8000))
    # splice a LIST chunk between WAVE and fmt
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    payload = bytes(payload[:12]) + extra + bytes(payload[12:])
    decoded = decode_wav(payload)
    assert decoded is not None
    assert np.array_equal(decoded[3].reshape(-1), s)


@pytest.mark.parametrize("mutate", [
    lambda p: b"",                                   # empty
    lambda p: p[:10],                                # truncated header
    lambda p: b"RIFX" + p[4:],                       # wrong magic
    lambda p: p[:8] + b"AVI " + p[12:],              # not WAVE
    lambda p: p[:len(p) - 3],                        # truncated data chunk
    lambda p: p.replace(struct.pack("<H", 1),
                        struct.pack("<H", 3), 1),    # non-PCM format tag
])
def test_malformed_null_routes(mutate):
    p = encode_wav(np.array([1, 2, 3, 4], dtype=np.int16), 8000)
    assert decode_wav(mutate(p)) is None


def test_unsupported_bit_depth_null_routes():
    p = bytearray(encode_wav(np.array([1, 2], dtype=np.int16), 8000))
    # fmt chunk: bits field is the last 2 of the 16-byte body at offset 12+8
    off = 12 + 8 + 14
    p[off:off + 2] = struct.pack("<H", 24)
    assert decode_wav(bytes(p)) is None


def test_is_wav_vs_png_and_text():
    assert not is_wav(b"\x89PNG\r\n\x1a\n")
    assert not is_wav(b"hello world, definitely not audio")
    assert is_wav(encode_wav(np.zeros(4, dtype=np.int16), 8000))


def test_attach_audio_samples_predictable_from_text(spark):
    """The deterministic fixture contract the SQL oracle relies on:
    decoded samples == (text byte − 128)·256, empty text → 64 zeros."""
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "héllo")], "doc_id long, text string")
    stats = {r["media_id"]: r for r in MM.audio_sample_stats(
        MM.attach_audio(docs)).collect()}
    assert set(stats) == {1, 2, 3}
    for mid, text in ((1, "abc"), (3, "héllo")):
        b = text.encode("utf-8")
        expect = sum((v - 128) * 256 for v in b)
        assert stats[mid]["n_frames"] == len(b)
        assert stats[mid]["s_sum"] == expect
        assert stats[mid]["sample_rate"] == 16000
        assert stats[mid]["n_channels"] == 1
    assert stats[2]["n_frames"] == 64 and stats[2]["s_sum"] == 0


def test_audio_sample_stats_drops_undecodable(spark):
    from wde_spark.operators import multimodal as MM

    media = spark.createDataFrame(
        [(1, bytearray(b"not a wav")),
         (2, bytearray(encode_wav(np.array([100], dtype=np.int16), 8000)))],
        "media_id long, payload binary")
    got = MM.audio_sample_stats(media).collect()
    assert [r["media_id"] for r in got] == [2]
    assert got[0]["s_sum"] == 100


def test_energy_windows_center_8bit_and_sum_stereo(spark):
    """The energy-window VAD primitive: 8-bit PCM is 128-centered, so
    digital silence must score ZERO energy (raw abs would score 128/frame);
    stereo windows sum |L| + |R| per frame."""
    from wde_spark.operators import multimodal as MM

    silence8 = encode_wav(np.full(300, 128, np.uint8), 8000, bits=8)
    loud8 = encode_wav(np.full(10, 138, np.uint8), 8000, bits=8)
    stereo = encode_wav(
        np.array([[1000, -2000]] * 5, dtype=np.int16), 16000)
    media = spark.createDataFrame(
        [(1, bytearray(silence8)), (2, bytearray(loud8)),
         (3, bytearray(stereo))],
        "media_id long, payload binary")
    rows = {(r["media_id"], r["win_idx"]): (r["n_frames"], r["abs_sum"])
            for r in MM.audio_energy_windows(media).collect()}
    assert rows[(1, 0)] == (256, 0) and rows[(1, 1)] == (44, 0)
    assert rows[(2, 0)] == (10, 100)          # |138 - 128| * 10
    assert rows[(3, 0)] == (5, 15000)         # (1000 + 2000) * 5


def test_attach_audio_mixed_formats_decode_as_declared(spark):
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "ab"), (1, "ab"), (2, "ab"), (3, "")],
        "doc_id long, text string")
    media = {r["media_id"]: bytes(r["payload"])
             for r in MM.attach_audio_mixed(docs).collect()}
    r0 = decode_wav(media[0])
    assert (r0[0], r0[1], r0[2]) == (16000, 1, 16)
    assert r0[3][:, 0].tolist() == [(97 - 128) * 256, (98 - 128) * 256]
    r1 = decode_wav(media[1])
    assert (r1[0], r1[1], r1[2]) == (16000, 2, 16)
    assert r1[3][0].tolist() == [(97 - 128) * 256,
                                 ((97 + 64) % 256 - 128) * 256]
    r2 = decode_wav(media[2])
    assert (r2[0], r2[1], r2[2]) == (8000, 1, 8)
    assert r2[3][:, 0].tolist() == [97, 98]
    r3 = decode_wav(media[3])  # empty text -> 64 silent 16-bit frames
    assert r3[3].shape == (64, 1) and int(np.abs(r3[3]).sum()) == 0


# --- G.711 companded tiers (mu-law / A-law) ------------------------------


def test_g711_tables_match_published_anchors():
    """The expansion tables hit the published CCITT anchor values and
    obey the sign-bit symmetry of both laws."""
    from wde_spark.operators.wav_codec import _g711_tables

    ulaw, alaw = _g711_tables()
    # published mu-law extremes: code 0x00 = -32124, 0x80 = +32124,
    # both zero codes (0x7F, 0xFF) = 0
    assert int(ulaw[0x00]) == -32124 and int(ulaw[0x80]) == 32124
    assert int(ulaw[0xFF]) == 0 and int(ulaw[0x7F]) == 0
    # published A-law extremes: 0x2A = -32256, 0xAA = +32256; the
    # quietest codes are +/-8 (A-law has no zero)
    assert int(alaw[0x2A]) == -32256 and int(alaw[0xAA]) == 32256
    assert int(alaw[0x55]) == -8 and int(alaw[0xD5]) == 8
    b = np.arange(256)
    assert (ulaw[b] == -ulaw[b ^ 0x80]).all()   # sign bit negates
    assert (alaw[b] == -alaw[b ^ 0x80]).all()
    assert int(np.abs(alaw).min()) == 8


@pytest.mark.parametrize("law,tag", [("mu", 7), ("a", 6)])
def test_g711_container_roundtrip(law, tag):
    """Companded codes wrap into a tag-6/7 container and expand to the
    table values as linear int16 with bits=16."""
    from wde_spark.operators.wav_codec import (_g711_tables,
                                               encode_wav_g711)

    ulaw, alaw = _g711_tables()
    codes = np.arange(256, dtype=np.uint8)
    rate, ch, bits, s = decode_wav(encode_wav_g711(codes, 8000, law))
    assert (rate, ch, bits) == (8000, 1, 16)
    assert s.dtype == np.int16
    want = ulaw if law == "mu" else alaw
    assert (s[:, 0] == want[codes]).all()


def test_g711_stereo_and_spec_violations():
    from wde_spark.operators.wav_codec import (_g711_tables,
                                               encode_wav_g711)

    _, alaw = _g711_tables()
    codes = np.stack([np.arange(100, dtype=np.uint8),
                      np.arange(100, 200, dtype=np.uint8)], axis=1)
    rate, ch, bits, s = decode_wav(encode_wav_g711(codes, 16000, "a"))
    assert ch == 2 and (s == alaw[codes]).all()
    # G.711 with a 16-bit container claim is spec-invalid: null-route
    bad = bytearray(encode_wav_g711(codes[:, 0], 8000, "mu"))
    i = bad.find(b"fmt ")
    bad[i + 8 + 14:i + 8 + 16] = struct.pack("<H", 16)
    assert decode_wav(bytes(bad)) is None


def test_attach_audio_g711_energy_matches_tables(spark):
    """The builder's payloads decode to table values of the text bytes;
    empty docs decode to the quietest code of their law."""
    from wde_spark.operators import multimodal as MM
    from wde_spark.operators.wav_codec import _g711_tables

    ulaw, alaw = _g711_tables()
    docs = spark.createDataFrame(
        [(0, "hi"), (1, "hi"), (2, ""), (3, "")],
        "doc_id long, text string")
    rows = {(r["media_id"], r["win_idx"]): r for r in
            MM.audio_energy_windows(
                MM.attach_audio_g711(docs)).collect()}
    b = np.frombuffer(b"hi", np.uint8)
    assert rows[(0, 0)]["abs_sum"] == int(np.abs(ulaw[b]).sum())
    assert rows[(1, 0)]["abs_sum"] == int(np.abs(alaw[b]).sum())
    assert rows[(2, 0)]["abs_sum"] == 0          # mu-law silence
    assert rows[(3, 0)]["abs_sum"] == 8 * 64     # A-law quietest = +/-8


# --- IMA ADPCM predictive tier -------------------------------------------


def _ref_adpcm(pred, index, data):
    """Independent re-derivation of the published IMA ADPCM expansion
    (the test's own copy — the codec's table and loop are not reused)."""
    from wde_spark.operators.wav_codec import ADPCM_INDEX_ADJ, ADPCM_STEPS

    out = [pred]
    for byte in data:
        for n in (byte & 15, byte >> 4):
            step = ADPCM_STEPS[index]
            diff = ((step >> 3) + (step >> 2 if n & 1 else 0)
                    + (step >> 1 if n & 2 else 0) + (step if n & 4 else 0))
            pred = min(32767, max(-32768, pred + (-diff if n & 8 else diff)))
            index = min(88, max(0, index + ADPCM_INDEX_ADJ[n & 7]))
            out.append(pred)
    return out


def test_adpcm_multi_block_roundtrip():
    from wde_spark.operators.wav_codec import encode_wav_adpcm

    rng = np.random.RandomState(3)
    for trial in range(30):
        blocks, want = [], []
        dlen = int(rng.randint(1, 64))
        for _ in range(int(rng.randint(1, 4))):
            pred = int(rng.randint(-32768, 32768))
            idx = int(rng.randint(0, 89))
            dat = bytes(rng.randint(0, 256, dlen).astype(np.uint8))
            blocks.append((pred, idx, dat))
            want += _ref_adpcm(pred, idx, dat)
        rate, ch, bits, s = decode_wav(encode_wav_adpcm(blocks))
        assert (rate, ch, bits) == (8000, 1, 16)
        assert s[:, 0].tolist() == want, trial


def test_adpcm_clamps_at_extremes():
    """Saturating runs pin the predictor at the int16 rails and the
    index at 88/0 without wrapping."""
    from wde_spark.operators.wav_codec import encode_wav_adpcm

    up = decode_wav(encode_wav_adpcm([(32000, 88, b"\x77" * 16)]))[3]
    assert up.max() == 32767
    down = decode_wav(encode_wav_adpcm([(-32000, 88, b"\xff" * 16)]))[3]
    assert down.min() == -32768
    calm = decode_wav(encode_wav_adpcm([(0, 0, b"\x00" * 16)]))[3]
    assert (np.abs(calm[:, 0].astype(int)) <= 7).all()  # index stays 0


def test_adpcm_null_routes():
    from wde_spark.operators.wav_codec import encode_wav_adpcm

    good = encode_wav_adpcm([(0, 0, b"\x00" * 8)])
    i = good.find(b"data")
    bad_idx = bytearray(good); bad_idx[i + 4 + 2] = 89
    assert decode_wav(bytes(bad_idx)) is None
    bad_res = bytearray(good); bad_res[i + 4 + 3] = 1
    assert decode_wav(bytes(bad_res)) is None
    # samples_per_block disagreeing with block_align
    j = good.find(b"fmt ")
    bad_spb = bytearray(good)
    bad_spb[j + 8 + 18:j + 8 + 20] = struct.pack("<H", 99)
    assert decode_wav(bytes(bad_spb)) is None


def test_attach_audio_adpcm_samples_predictable(spark):
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "abc"), (1, "")], "doc_id long, text string")
    rows = {r["media_id"]: r for r in
            MM.audio_sample_stats(MM.attach_audio_adpcm(docs)).collect()}
    data = b"abc"
    b = np.frombuffer(data, np.uint8)
    dat = bytes(b[np.arange(64) % 3])
    want = _ref_adpcm((data[0] - 128) * 256, data[1] % 89, dat)
    assert rows[0]["n_frames"] == 129
    assert rows[0]["s_sum"] == sum(want)
    silent = _ref_adpcm(0, 0, b"\x00" * 64)
    assert rows[1]["s_sum"] == sum(silent)
