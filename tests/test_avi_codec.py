"""AVI/DIB video codec (`operators/avi_codec.py`): round-trip property
tests over both tiers (8-bit grayscale palette, 24-bit BGR), stride
padding, malformed-input null-routing, and the Spark-side integration —
`video_frame_stats` fingerprints decoded frames per the
`video_frames_decoded_documents` oracle contract.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from wde_spark.operators.avi_codec import decode_avi, encode_avi, is_avi


def _rand(shape, seed):
    return np.random.RandomState(seed).randint(
        0, 256, size=shape, dtype=np.uint8)


@pytest.mark.parametrize("w", [4, 5, 6, 7])  # every stride-padding case
def test_gray_roundtrip_expands_palette(w):
    g = _rand((3, 5, w), seed=w)
    fps, gw, gh, fr = decode_avi(encode_avi(g, fps=12))
    assert (fps, gw, gh) == (12.0, w, 5)
    assert fr.shape == (3, 5, w, 3)
    for c in range(3):  # grayscale palette: RGB = (v, v, v)
        assert (fr[:, :, :, c] == g).all()


@pytest.mark.parametrize("w", [4, 5, 6, 7])
def test_rgb_roundtrip(w):
    c = _rand((2, 4, w, 3), seed=w + 10)
    fps, gw, gh, fr = decode_avi(encode_avi(c, fps=25))
    assert (fps, gw, gh) == (25.0, w, 4)
    assert (fr == c).all()


def test_is_avi_and_malformed_null_route():
    good = encode_avi(_rand((1, 3, 3), seed=1))
    assert is_avi(good) and not is_avi(b"RIFFxxxxWAVE")
    assert decode_avi(b"not a container") is None
    assert decode_avi(good[:40]) is None  # truncated: headers incomplete


def test_unsupported_depth_and_compression_null_route():
    good = encode_avi(_rand((2, 4, 5, 3), seed=2))
    idx = good.find(b"strf")
    bad = bytearray(good)
    bad[idx + 8 + 14:idx + 8 + 16] = struct.pack("<H", 16)  # biBitCount
    assert decode_avi(bytes(bad)) is None
    bad2 = bytearray(good)
    bad2[idx + 8 + 16:idx + 8 + 20] = struct.pack("<I", 1)  # biCompression
    assert decode_avi(bytes(bad2)) is None


def test_frame_geometry_disagreement_null_routes():
    """A frame chunk whose size disagrees with header geometry must
    refuse, never guess."""
    good = encode_avi(_rand((1, 4, 4), seed=3))
    idx = good.find(b"00db")
    (size,) = struct.unpack("<I", good[idx + 4:idx + 8])
    bad = bytearray(good)
    bad[idx + 4:idx + 8] = struct.pack("<I", size - 4)
    assert decode_avi(bytes(bad)) is None


def test_top_down_rows_supported():
    """Negative biHeight means top-down rows (no flip)."""
    g = _rand((1, 3, 4), seed=4)
    blob = encode_avi(g)
    idx = blob.find(b"strf")
    flipped = bytearray(blob)
    flipped[idx + 8 + 8:idx + 8 + 12] = struct.pack("<i", -3)
    fps, w, h, fr = decode_avi(bytes(flipped))
    assert (w, h) == (4, 3)
    # same bytes now interpreted top-down = the bottom-up image flipped
    assert (fr[0, :, :, 0] == g[0][::-1]).all()


def test_attach_video_frames_predictable_from_text(spark):
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "abc"), (1, "abc"), (2, "")], "doc_id long, text string")
    media = {r["media_id"]: bytes(r["payload"])
             for r in MM.attach_video(docs).collect()}
    # doc 0: gray tier; L=3 -> nf=2, w=7, h=7
    fps, w, h, fr = decode_avi(media[0])
    assert (fps, w, h, fr.shape[0]) == (10.0, 7, 7, 2)
    b = b"abc"
    for f in (0, 1):
        want = np.frombuffer(b, np.uint8)[
            (np.arange(49) + 7 * f) % 3].reshape(7, 7)
        assert (fr[f, :, :, 0] == want).all()
    # doc 1: RGB tier, channel offsets
    _, _, _, fr1 = decode_avi(media[1])
    v = np.frombuffer(b, np.uint8)[(np.arange(49)) % 3].reshape(7, 7)
    assert (fr1[0, :, :, 0] == v).all()
    assert (fr1[0, :, :, 1] == (v.astype(int) + 85) % 256).all()
    assert (fr1[0, :, :, 2] == (v.astype(int) + 170) % 256).all()
    # doc 2: empty text -> 2 zero frames of 4x4
    _, w2, h2, fr2 = decode_avi(media[2])
    assert (w2, h2, fr2.shape[0]) == (4, 4, 2)
    assert int(fr2.sum()) == 0


def test_video_frame_stats_drops_undecodable(spark):
    from wde_spark.operators import multimodal as MM

    good = encode_avi(_rand((2, 3, 3), seed=5))
    media = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"garbage"))],
        "media_id long, payload binary")
    rows = MM.video_frame_stats(media).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 1]
    assert {r["media_id"] for r in rows} == {1}


# --- BI_RLE8 compressed tier -------------------------------------------


def _rle():
    from wde_spark.operators.avi_codec import (_decode_rle8,
                                               encode_avi_rle8)
    return _decode_rle8, encode_avi_rle8


@pytest.mark.parametrize("kind", ["literal", "mixed", "runs"])
def test_rle8_roundtrip_families(kind):
    """Round-trip across run-free, mixed, and pure-run frames — both
    packet families of the RLE grammar produce the original pixels."""
    _, encode_avi_rle8 = _rle()
    rng = np.random.RandomState(hash(kind) % 2**31)
    if kind == "literal":
        g = rng.randint(0, 256, (2, 6, 9), dtype=np.uint8)
    elif kind == "mixed":
        g = (rng.randint(0, 3, (2, 6, 9)) * 90).astype(np.uint8)
    else:
        g = np.repeat(rng.randint(0, 256, (2, 6, 1), dtype=np.uint8),
                      9, axis=2)
    fps, w, h, fr = decode_avi(encode_avi_rle8(g))
    assert (fps, w, h) == (10.0, 9, 6)
    for c in range(3):
        assert (fr[:, :, :, c] == g).all()


def test_rle8_long_runs_and_wide_literals_chunk_correctly():
    """Runs > 255 split into multiple packets; literal spans > 255 keep
    every absolute chunk in [3, 255] (the remainder-borrow rule)."""
    _, encode_avi_rle8 = _rle()
    row = np.concatenate([
        np.full(600, 7, np.uint8),                      # run of 600
        (np.arange(517) % 251).astype(np.uint8),        # long literal
    ])
    g = row.reshape(1, 1, -1)
    _, w, h, fr = decode_avi(encode_avi_rle8(g))
    assert (w, h) == (1117, 1)
    assert (fr[0, 0, :, 0] == row).all()


def test_rle8_decoder_handles_delta_and_zero_fill():
    """Hand-built stream: delta escapes skip pixels (zero-filled), EOL
    resets x — the spec's undefined pixels decode deterministically."""
    _decode_rle8, _ = _rle()
    # 4x3 bottom-up: run 2 of 5, delta (+1,+1) -> (3,1), run 1 of 9, EOB
    blob = bytes([2, 5, 0, 2, 1, 1, 1, 9, 0, 1])
    out = _decode_rle8(blob, 4, 3)
    assert out is not None
    assert out[0].tolist() == [5, 5, 0, 0]      # bottom row
    assert out[1].tolist() == [0, 0, 0, 9]      # delta landed at (3,1)
    assert out[2].tolist() == [0, 0, 0, 0]      # EOB zero-fills the rest


def test_rle8_decoder_rejects_out_of_bounds_and_truncation():
    _decode_rle8, _ = _rle()
    assert _decode_rle8(bytes([5, 1, 0, 1]), 4, 1) is None   # run > w
    assert _decode_rle8(bytes([2, 1]), 4, 1) is None         # no EOB
    assert _decode_rle8(bytes([0, 3, 1, 2]), 4, 1) is None   # literal cut
    assert _decode_rle8(bytes([0, 0, 0, 0, 0, 1]), 4, 1) is None  # y > h


def test_rle8_rejects_topdown_and_non8bit():
    """RLE8 + negative height (top-down) or bits != 8 is spec-invalid:
    decode must null-route, not guess."""
    _, encode_avi_rle8 = _rle()
    blob = encode_avi_rle8(_rand((1, 3, 4), seed=9))
    idx = blob.find(b"strf")
    flipped = bytearray(blob)
    flipped[idx + 8 + 8:idx + 8 + 12] = struct.pack("<i", -3)
    assert decode_avi(bytes(flipped)) is None


def test_attach_video_rle_frames_predictable_from_text(spark):
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "abcd"), (1, "")], "doc_id long, text string")
    media = {r["media_id"]: bytes(r["payload"])
             for r in MM.attach_video_rle(docs).collect()}
    # doc 0: L=4 -> nf=3, w=8, h=8; v = b[(p//3 + 5f) % 4]
    fps, w, h, fr = decode_avi(media[0])
    assert (fps, w, h, fr.shape[0]) == (10.0, 8, 8, 3)
    b = np.frombuffer(b"abcd", np.uint8)
    for f in range(3):
        want = b[(np.arange(64) // 3 + 5 * f) % 4].reshape(8, 8)
        assert (fr[f, :, :, 0] == want).all()
    # doc 1: empty text -> 2 zero frames of 4x4
    _, w1, h1, fr1 = decode_avi(media[1])
    assert (w1, h1, fr1.shape[0]) == (4, 4, 2)
    assert int(fr1.sum()) == 0


def test_rle8_aggregate_decode_cap():
    """A tiny RLE payload cannot demand an unbounded decode: frames x
    frame-size beyond the byte cap null-routes instead of OOMing."""
    from wde_spark.operators.avi_codec import (_assemble_avi,
                                               _gray_palette)

    # 2048x2048 8-bit frames; each blob is the 2-byte EOB escape, so
    # 70 frames promise ~280 MB decoded from a ~1 KB payload
    blobs = [b"\x00\x01"] * 70
    p = _assemble_avi(70, 2048, 2048, 10, 8, 1, b"MRLE", 2,
                      _gray_palette(), b"00dc", blobs)
    assert decode_avi(p) is None
    # the same construction under the cap decodes fine
    blobs = [b"\x00\x01"] * 2
    p = _assemble_avi(2, 64, 64, 10, 8, 1, b"MRLE", 2,
                      _gray_palette(), b"00dc", blobs)
    dec = decode_avi(p)
    assert dec is not None and int(dec[3].sum()) == 0


def test_chunk_id_must_match_compression_tag():
    """'00db' frames under an RLE header (or '00dc' under BI_RGB) are a
    mismatched stream: refuse, don't decode garbage."""
    from wde_spark.operators.avi_codec import encode_avi_rle8

    g = _rand((1, 4, 4), seed=3)
    swapped = encode_avi_rle8(g).replace(b"00dc", b"00db")
    assert decode_avi(swapped) is None
    swapped2 = encode_avi(g).replace(b"00db", b"00dc")
    assert decode_avi(swapped2) is None
