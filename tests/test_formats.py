"""Source/sink format round-trips beyond parquet+TSV: ORC, JSON-lines, and
compressed parquet all preserve the orders table exactly."""

from __future__ import annotations


from conftest import SF_SMOKE

from wde_spark.core.catalog import load_table


def _orders_set(df):
    return {
        (r.o_orderkey, r.o_custkey, r.o_orderstatus, round(r.o_totalprice, 2),
         str(r.o_orderdate), r.o_orderpriority)
        for r in df.collect()
    }


def test_orc_roundtrip(spark, tmp_path):
    o = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_orc")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == o.schema
    assert _orders_set(back) == _orders_set(o)


def test_jsonl_roundtrip_with_schema(spark, tmp_path):
    o = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_jsonl")
    o.write.mode("overwrite").json(path)
    # schema-on-read with an explicit schema (no inference pass at scale)
    back = spark.read.schema(o.schema).json(path)
    assert _orders_set(back) == _orders_set(o)


def test_parquet_zstd_roundtrip(spark, tmp_path):
    o = load_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_zstd")
    o.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    assert _orders_set(back) == _orders_set(o)
    import glob
    assert any(".zstd.parquet" in f for f in glob.glob(path + "/*.parquet"))


# --- BMP container (operators/bmp_codec.py) -------------------------------


def test_bmp_roundtrip_all_modes():
    import numpy as np

    from wde_spark.operators.bmp_codec import decode_bmp, encode_bmp

    rng = np.random.RandomState(5)
    for trial in range(60):
        h = int(rng.randint(1, 30))
        w = int(rng.randint(1, 30))
        mode = trial % 4
        if mode == 0:
            g = rng.randint(0, 256, (h, w)).astype(np.uint8)
            enc, want = encode_bmp(g), np.stack([g] * 3, axis=2)
        elif mode == 1:
            px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            enc, want = encode_bmp(px), px
        elif mode == 2:  # RLE8 through the codec shared with AVI
            g = (rng.randint(0, 4, (h, w)) * 80).astype(np.uint8)
            enc, want = encode_bmp(g, rle=True), np.stack([g] * 3, axis=2)
        else:            # negative height = top-down rows
            px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
            enc, want = encode_bmp(px, top_down=True), px
        dec = decode_bmp(enc)
        assert dec is not None, trial
        assert (dec[0], dec[1]) == (w, h)
        assert np.array_equal(dec[2], want), trial


def test_bmp_null_routes():
    import numpy as np

    from wde_spark.operators.bmp_codec import decode_bmp, encode_bmp

    assert decode_bmp(b"BM" + b"\x00" * 10) is None
    assert decode_bmp(b"nope") is None
    enc = encode_bmp(np.zeros((4, 4), np.uint8))
    assert decode_bmp(enc[:-5]) is None        # truncated pixel data
    bad = bytearray(enc)
    bad[28] = 16                               # unsupported bit depth
    assert decode_bmp(bytes(bad)) is None


def test_attach_bmps_stats_dispatch(spark):
    import numpy as np

    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "abc"), (1, "abc"), (2, "abc"), (3, "")],
        "doc_id long, text string")
    rows = {r["media_id"]: r
            for r in MM.image_rgba_stats(MM.attach_bmps(docs)).collect()}
    b = np.frombuffer(b"abc", np.uint8)
    w, h = 3 % 18 + 5, 3 % 13 + 5
    v = b[(3 * np.arange(w * h)) % 3].astype("int64")
    assert rows[0]["channels"] == 3
    assert rows[0]["px_sum"] == int(v.sum()) * 3          # gray tier
    assert rows[1]["px_sum"] == int(
        (v + (v + 91) % 256 + (v + 182) % 256).sum())     # 24-bit tier
    assert rows[2]["px_sum"] == int(v.sum()) * 3          # RLE tier
    assert rows[3]["px_sum"] == 0                         # empty text
    assert all(r["n_transparent"] == 0 for r in rows.values())


# --- QOI container (operators/qoi_codec.py) -------------------------------


def test_qoi_roundtrip_content_families():
    """Round-trips across literal-heavy, gradient (DIFF/LUMA), few-color
    (INDEX), and constant (RUN) content — every op family of the spec."""
    import numpy as np

    from wde_spark.operators.qoi_codec import decode_qoi, encode_qoi

    rng = np.random.RandomState(13)
    for trial in range(60):
        h = int(rng.randint(1, 40))
        w = int(rng.randint(1, 40))
        kind = trial % 4
        if kind == 0:
            px = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
        elif kind == 1:
            g = (np.add.outer(np.arange(h), np.arange(w))) % 256
            px = np.stack([g, (g + 1) % 256, (g + 2) % 256,
                           np.full((h, w), 255)], axis=2).astype(np.uint8)
        elif kind == 2:
            pal = rng.randint(0, 256, (4, 4)).astype(np.uint8)
            px = pal[rng.randint(0, 4, (h, w))]
        else:
            px = np.full((h, w, 4), int(rng.randint(0, 256)), np.uint8)
        dec = decode_qoi(encode_qoi(px))
        assert dec is not None and np.array_equal(dec[2], px), trial


def test_qoi_exercises_every_op_family():
    """The encoder's output for mixed content contains all six chunk
    kinds (byte-level evidence, not just a round-trip)."""
    import numpy as np

    from wde_spark.operators.qoi_codec import decode_qoi, encode_qoi

    rng = np.random.RandomState(1)
    g = (np.add.outer(np.arange(16), np.arange(16))) % 256
    px = np.stack([g, (g + 1) % 256, (g + 3) % 256,
                   np.full((16, 16), 255)], axis=2).astype(np.uint8)
    px[0, :4] = px[0, 4]          # runs
    px[5] = px[3]                 # index recalls after interruption
    px[10, 10] = (9, 200, 77, 40)  # RGBA literal
    px[10, 11] = (99, 13, 250, 40)  # RGB literal (same alpha)
    data = encode_qoi(px)[14:-8]
    ops = set()
    i = 0
    while i < len(data):
        b0 = data[i]
        if b0 == 0xFE:
            ops.add("rgb"); i += 4
        elif b0 == 0xFF:
            ops.add("rgba"); i += 5
        else:
            tag = b0 >> 6
            ops.add(("index", "diff", "luma", "run")[tag])
            i += 2 if tag == 2 else 1
    assert ops == {"rgb", "rgba", "index", "diff", "luma", "run"}
    assert np.array_equal(decode_qoi(encode_qoi(px))[2], px)


def test_qoi_null_routes():
    import numpy as np
    import pytest

    from wde_spark.operators.qoi_codec import decode_qoi, encode_qoi

    px = np.full((4, 4, 4), 7, np.uint8)
    enc = encode_qoi(px)
    assert decode_qoi(enc[:-3]) is None                 # no end marker
    assert decode_qoi(enc[:16] + enc[-8:]) is None      # pixels missing
    assert decode_qoi(b"qoif" + b"\x00" * 20) is None   # zero dims
    assert decode_qoi(b"not qoi") is None
    with pytest.raises(ValueError):
        bad = px.copy(); bad[0, 0, 3] = 3
        encode_qoi(bad, channels=3)                     # 3ch needs opaque


def test_qoi_decode_memory_bounded():
    """A run-only payload of ~17 KB decodes to 4 MB of pixels. The
    decoder's peak allocation must stay within 3x the output, so the
    64M-pixel cap bounds a hostile payload's memory near its decoded
    size."""
    import struct
    import tracemalloc

    import numpy as np

    from wde_spark.operators.qoi_codec import decode_qoi

    w = h = 1024
    runs, rest = divmod(w * h, 62)
    payload = (b"qoif" + struct.pack(">II", w, h) + bytes((4, 0))
               + b"\xFD" * runs + bytes((0xC0 | (rest - 1),))
               + b"\x00" * 7 + b"\x01")
    tracemalloc.start()
    try:
        out = decode_qoi(payload)
        _cur, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert out is not None and out[:2] == (w, h)
    assert np.array_equal(out[2][0, 0], [0, 0, 0, 255])
    assert (out[2] == out[2][0, 0]).all()
    assert peak <= 3 * out[2].nbytes, (peak, out[2].nbytes)


def test_attach_qoi_stats_dispatch(spark):
    import numpy as np

    from wde_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "abc"), (1, "abc")], "doc_id long, text string")
    rows = {r["media_id"]: r
            for r in MM.image_rgba_stats(MM.attach_qoi(docs)).collect()}
    b = np.frombuffer(b"abc", np.uint8)
    w, h = 3 % 21 + 4, 3 % 15 + 4
    p = np.arange(w * h)
    r = b[(p // 4) % 3].astype("int64")
    g = (r + p % 3) % 256
    bl = (r + 2 * (p % 5)) % 256
    a1 = np.where(r % 7 == 0, 0, 255)
    assert rows[0]["px_sum"] == int((r + g + bl).sum()) + 255 * w * h
    assert rows[1]["px_sum"] == int((r + g + bl + a1).sum())
    assert rows[1]["n_transparent"] == int((a1 == 0).sum())


def test_fp_decimal_matches_naive_join():
    """_fp_decimal (the LUT/map-vectorized media fingerprint) must be
    byte-identical to the naive '-'.join(str(int(v)) for v in flat) it
    replaced — for the uint8 fast path, signed samples, and empties."""
    import hashlib

    import numpy as np

    from wde_spark.operators.multimodal import _fp_decimal

    def naive(flat):
        return hashlib.md5(
            "-".join(str(int(v)) for v in flat).encode()).hexdigest()

    rng = np.random.RandomState(7)
    cases = [
        rng.randint(0, 256, size=997).astype(np.uint8),      # LUT path
        np.array([0, 255, 128], dtype=np.uint8),
        np.array([], dtype=np.uint8),                        # empty image
        rng.randint(-32768, 32768, size=503).astype(np.int16),  # audio
        rng.randint(-2**31, 2**31, size=101).astype(np.int64),
        np.array([], dtype=np.int16),
    ]
    for flat in cases:
        assert _fp_decimal(flat) == naive(flat)


def test_gif_and_avi_decoders_return_writable_arrays():
    """The GIF LZW and AVI BI_RLE8 decoders hand back arrays built over a
    bytearray, so callers may write into them (an array over `bytes` is
    read-only and fails the first in-place edit)."""
    import numpy as np

    from wde_spark.operators.avi_codec import _decode_rle8, _rle8_frame
    from wde_spark.operators.gif_codec import _lzw_decode, _lzw_encode

    idx = (np.arange(48) % 7).astype(np.uint8)
    lzw = _lzw_decode(_lzw_encode(idx, 3), 3, idx.size)
    assert np.array_equal(lzw, idx) and lzw.flags.writeable

    plane = (np.arange(12) % 5).astype(np.uint8).reshape(3, 4)
    rle = _decode_rle8(_rle8_frame(plane), 4, 3)
    assert np.array_equal(rle[::-1], plane) and rle.flags.writeable
    lzw[0] = rle[0, 0] = 9
