"""PNG encode path through the resize kernel (`multimodal.resize_images`):
thumbnail geometry matches `resize_meta` arithmetic, the re-encoded bytes
decode back to exactly the nearest-neighbor downsample, non-PNG payloads
null-route, and RGB images survive the path channel-correct.
"""

from __future__ import annotations

import numpy as np

from wde_spark.operators.png_codec import decode_png, encode_png


def _nn(px: np.ndarray, tw: int, th: int) -> np.ndarray:
    h, w = px.shape[:2]
    ys = (np.arange(th) * h) // th
    xs = (np.arange(tw) * w) // tw
    return px[ys][:, xs]


def test_resize_images_matches_reference_nn(spark):
    from wde_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    rows = []
    expect = {}
    for mid, (w, h) in enumerate([(32, 20), (9, 40), (8, 8), (300, 5)]):
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        scale = min(8 / w, 8 / h, 1.0)
        tw, th = max(1, int(w * scale)), max(1, int(h * scale))
        expect[mid] = (w, h, tw, th, _nn(px, tw, th))
        rows.append((mid, bytearray(encode_png(px))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in MM.resize_images(media).collect()}
    assert set(got) == set(expect)
    for mid, (w, h, tw, th, ref) in expect.items():
        r = got[mid]
        assert (r["src_w"], r["src_h"], r["width"], r["height"]) \
            == (w, h, tw, th)
        dec = decode_png(bytes(r["thumb"]))
        assert dec is not None and (dec[0], dec[1]) == (tw, th)
        assert np.array_equal(dec[3][:, :, 0], ref)


def test_resize_images_rgb_channel_correct(spark):
    from wde_spark.operators import multimodal as MM

    px = np.zeros((16, 24, 3), dtype=np.uint8)
    px[:, :, 0] = 200  # red-dominant
    px[:, :, 2] = np.arange(24, dtype=np.uint8)[None, :]
    media = spark.createDataFrame(
        [(1, bytearray(encode_png(px)))], "media_id long, payload binary")
    r = MM.resize_images(media).collect()[0]
    dec = decode_png(bytes(r["thumb"]))
    assert dec is not None and dec[2] == 3
    assert np.array_equal(dec[3], _nn(px, r["width"], r["height"]))


def test_resize_images_null_routes_non_png(spark):
    from wde_spark.operators import multimodal as MM

    media = spark.createDataFrame(
        [(1, bytearray(b"plain text payload"))],
        "media_id long, payload binary")
    r = MM.resize_images(media).collect()[0]
    assert r["thumb"] is None and r["width"] == -1
    # and the stats verify pass drops it rather than crashing
    assert MM.thumbnail_stats(MM.resize_images(media)).count() == 0


def test_attach_images_pixels_predictable_from_text(spark):
    """The fixture contract the SQL oracle relies on: pixel i of the
    source image = text byte (i mod L); empty text → all-zero 8x8."""
    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(1, "xyz"), (2, "")], "doc_id long, text string")
    got = {r["media_id"]: bytes(r["payload"])
           for r in MM.attach_images(docs).collect()}
    b = b"xyz"
    w, h = len(b) % 24 + 8, len(b) % 16 + 8
    dec = decode_png(got[1])
    assert dec is not None and (dec[0], dec[1]) == (w, h)
    flat = dec[3].reshape(-1)
    assert all(int(flat[i]) == b[i % len(b)] for i in range(w * h))
    dec0 = decode_png(got[2])
    assert dec0 is not None and (dec0[0], dec0[1]) == (8, 8)
    assert int(dec0[3].sum()) == 0


def test_pixel_dedup_catches_reencoded_duplicates(spark):
    """The reason pixel-level dedup exists: the same pixels written under
    different scanline filters (vary_filters) have DIFFERENT payload
    bytes — byte dedup misses them — but identical pixel fingerprints."""
    from wde_spark.operators import multimodal as MM

    # ids 0 and 1 share text → same pixels, filters 0 vs 1 → diff bytes
    docs = spark.createDataFrame(
        [(0, "same text twice"), (1, "same text twice"), (2, "another")],
        "doc_id long, text string")
    fps = {r["media_id"]: r for r in MM.image_pixel_fingerprints(
        MM.attach_images(docs, vary_filters=True)).collect()}
    assert fps[0]["px_fp"] == fps[1]["px_fp"]
    assert fps[0]["byte_fp"] != fps[1]["byte_fp"]
    assert fps[2]["px_fp"] != fps[0]["px_fp"]


def test_pixel_dedup_undecodable_drops(spark):
    from wde_spark.operators import multimodal as MM

    media = spark.createDataFrame(
        [(1, bytearray(b"junk, not a png"))],
        "media_id long, payload binary")
    assert MM.image_pixel_fingerprints(media).count() == 0


def test_audio_energy_windows_reference(spark):
    """Window energies equal a plain numpy reference over the decoded
    samples, including the short tail window."""
    import numpy as np

    from wde_spark.operators import multimodal as MM
    from wde_spark.operators.wav_codec import encode_wav

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=700).astype(np.int16)
    media = spark.createDataFrame(
        [(9, bytearray(encode_wav(s, 16000)))],
        "media_id long, payload binary")
    got = {r["win_idx"]: (r["n_frames"], r["abs_sum"])
           for r in MM.audio_energy_windows(media).collect()}
    a = np.abs(s.astype(np.int64))
    expect = {wi: (len(a[wi * 256:(wi + 1) * 256]),
                   int(a[wi * 256:(wi + 1) * 256].sum()))
              for wi in range(3)}
    assert got == expect
