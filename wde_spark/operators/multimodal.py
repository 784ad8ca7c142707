"""Multimodal (image/audio/video) column operators.

Not present in the reference (a text-only pipeline) — this is the
training-data-pipeline extension surface: media as opaque `binary` columns
with typed metadata, processed by Arrow-batched `mapInPandas` kernels.

Design for 100 TB:
- payloads stay opaque bytes end-to-end; Spark never interprets them, so
  they ride Tungsten/Arrow untouched and never inflate the driver;
- every kernel is row-local (zero shuffle) and batch-oriented (one Arrow
  batch in, one out);
- frame sampling EXPLODES rows — the kernel emits frames incrementally per
  batch so a long video never materializes all frames in memory at once.

Every row-local kernel is built by `_map_rows` from a plain function of
one input row that returns that row's output tuples; the `attach_*`
fixtures go through `_attach`, which feeds each doc's id and utf-8 text
bytes to a payload synth.

Codec status: the IMAGE modality has a REAL codec — a dependency-free PNG
implementation (`operators/png_codec.py`, stdlib zlib + numpy; 8-bit,
gray/RGB/RGBA/palette, all five scanline filters) used by
`extract_features` to histogram decoded pixels and by `resize_images` to
decode → nearest-neighbor downsample → RE-ENCODE thumbnails; the AUDIO
modality has a REAL codec too (`operators/wav_codec.py` — RIFF/WAVE
container, PCM 8/16-bit, any channel count) used by `audio_sample_stats`
to fingerprint decoded samples. The VIDEO modality has a REAL codec for
its uncompressed tier (`operators/avi_codec.py` — RIFF/AVI container,
8-bit palettized / 24-bit BGR DIB frames) used by `video_frame_stats` to
fingerprint decoded frames. Unsupported payloads fall back to the
raw-byte path on all three. COMPRESSED video remains
environment-dependent (no libav here): `_decode_frame` slices raw bytes
as deterministic pseudo-frames for non-AVI payloads; swap it for ffmpeg
to productionize that tier.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avi_codec import decode_avi, encode_avi, encode_avi_rle8
from .bmp_codec import decode_bmp, encode_bmp, is_bmp
from .gif_codec import (decode_gif, decode_gif_frames, encode_gif,
                        encode_gif_animated, is_gif)
from .jpeg_codec import (_parse_scan_params, decode_jpeg_gray,
                         decode_jpeg_rgb, decode_restart_segment,
                         encode_jpeg_420, encode_jpeg_gray, encode_jpeg_rgb,
                         is_jpeg, jpeg_n_components, reassemble_segments,
                         split_restart_segments, ycbcr_to_rgb)
from .png_codec import (decode_png, encode_png, encode_png_auto,
                        encode_png_palette, is_png)
from .qoi_codec import decode_qoi, encode_qoi, is_qoi
from .tiff_codec import decode_tiff, encode_tiff, is_tiff
from .wav_codec import (decode_wav, encode_wav, encode_wav_adpcm,
                        encode_wav_g711)

FRAME_BYTES = 1024  # stub "frame" granularity for the video kind

# 256-entry decimal byte-string LUT for the uint8 fingerprint fast path.
_DEC_U8 = [b"%d" % i for i in range(256)]


def _fp_decimal(flat) -> str:
    """md5 hex of the dash-joined decimal rendering of `flat` — the
    pixel/sample fingerprint every media oracle pins. Byte-identical to
    the naive '-'.join(str(int(v)) for v in flat) but vectorized: uint8
    arrays go through the 256-entry LUT over tolist() (~5.5× faster,
    measured — tolist converts to Python ints in C and the list-comp is
    one index per value), anything else through map(str, tolist()) (~2×:
    C-level str() on Python ints instead of a genexp calling int() on
    numpy scalars). Only the speed may change here: the joined bytes are
    identical for every integer dtype."""
    d = getattr(flat, "dtype", None)
    if d is not None and d.kind == "u" and d.itemsize == 1:
        return hashlib.md5(
            b"-".join([_DEC_U8[v] for v in flat.tolist()])).hexdigest()
    return hashlib.md5(
        "-".join(map(str, flat.tolist())).encode()).hexdigest()


def _sum_fp(arr) -> tuple[int, str]:
    """(int64 sum, `_fp_decimal`) of every value of `arr`, row-major."""
    flat = arr.reshape(-1)
    return int(flat.sum(dtype="int64")), _fp_decimal(flat)


def _map_rows(df: DataFrame, cols: list[str], schema: T.StructType,
              fn) -> DataFrame:
    """`df`'s `cols` through one Arrow-batched Python stage: `fn(*row)`
    returns the output tuples (none, one or many) of one input row, and
    each input batch yields one `schema` batch. Row-local, zero shuffle."""
    names = schema.fieldNames()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for row in zip(*(pdf[c] for c in cols))
                    for out in fn(*row)]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(kernel, schema=schema)


MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])


def _attach(docs: DataFrame, synth) -> DataFrame:
    """(media_id, payload) per doc, payload = `synth(doc_id, utf8)` over
    the utf-8 bytes of the text (b"" when NULL). A NULL doc_id (NaN in
    the Arrow batch) gets the synth variant of id 0 and a NULL
    media_id."""
    def row(mid, text):
        data = (text or "").encode("utf-8")
        if pd.isna(mid):
            return [(None, synth(0, data))]
        return [(mid, synth(mid, data))]

    return _map_rows(docs, ["doc_id", "text"], MEDIA_SCHEMA, row)


def _tile(data: bytes, idx, shape) -> np.ndarray:
    """The text-derived pixel rule: pixel k = byte (idx[k] mod L) of the
    text, all zeros when the text is empty."""
    if not data:
        return np.zeros(shape, dtype=np.uint8)
    b = np.frombuffer(data, dtype=np.uint8)
    return b[idx % len(data)].reshape(shape)


def _palette16(j) -> np.ndarray:
    """The 16-colour map of the indexed fixtures: index j -> RGBA
    ((19j)%256, (37j)%256, (53j)%256, 0 if j = 0 else 255)."""
    jj = j.astype(np.uint16)
    return np.dstack([(jj * 19) % 256, (jj * 37) % 256, (jj * 53) % 256,
                      np.where(j == 0, 0, 255)]).astype(np.uint8)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_bytes", T.BinaryType()),
    T.StructField("frame_size", T.IntegerType()),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def attach_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table for tests/bench: payload = utf-8 bytes of
    the text (a stand-in for real image/audio/video bytes), kind cycling by
    id, metadata derived from payload size. In production this column comes
    straight from the lake (parquet/avro binary)."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.encode(F.col("text"), "UTF-8")
    n = F.octet_length(payload)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            (n % 640 + 16).cast("int").alias("width"),
            (n % 480 + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.lit("stub").alias("codec"),
        ).alias("meta"),
    )


def _decode_frame(payload: bytes, start: int, size: int) -> bytes:
    """STUB decoder: a real implementation would hand `payload` to a codec
    (PIL / libav). Deterministic here: the 'frame' is the raw byte slice."""
    return payload[start: start + size]


def frame_sample(media: DataFrame, every: int = 4,
                 frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Sample every `every`-th `frame_bytes`-sized frame of each video
    payload; images/audio pass through as a single frame 0. Row-local,
    streaming per Arrow batch."""

    def row(mid, kind, payload):
        payload = bytes(payload)
        if kind != "video":
            yield mid, kind, 0, payload, len(payload)
            return
        n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
        for fi in range(0, n_frames, every):
            fb = _decode_frame(payload, fi * frame_bytes, frame_bytes)
            yield mid, kind, fi, fb, len(fb)

    return _map_rows(media, ["media_id", "kind", "payload"], FRAME_SCHEMA,
                     row)


def extract_features(media: DataFrame,
                     decode_images: bool = True) -> DataFrame:
    """Per-payload feature vector: normalized byte histogram over
    `n_buckets` buckets (stand-in for an embedding model), plus size and
    stub frame count. Vectorized inside the batch via numpy.

    Real codec (r8): when `decode_images` and the payload is a PNG this
    decoder supports (`operators/png_codec.py` — pure-Python/numpy, 8-bit,
    all five scanline filters), the histogram is taken over the DECODED
    PIXEL bytes, not the compressed transport bytes — the actual
    image-statistics signal a curation filter wants. Non-PNG payloads (and
    PNGs outside the decoder's declared support) take the raw-byte path
    unchanged, so the byte-histogram oracle over the text corpora is
    untouched. n_bytes stays the TRANSPORT size either way (the dedup /
    layout planners key on bytes stored, not bytes decoded)."""
    n_buckets = 8
    shift = 8 - n_buckets.bit_length() + 1

    def row(mid, kind, payload):
        payload = bytes(payload)
        n = len(payload)
        b = None
        if decode_images and kind == "image" and is_png(payload):
            decoded = decode_png(payload)
            if decoded is not None:
                b = decoded[3].reshape(-1)
        if b is None:
            b = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(b >> shift, minlength=n_buckets)[:n_buckets]
        feat = (hist / max(int(b.size), 1)).astype(float).tolist()
        return [(mid, kind, n, (n + FRAME_BYTES - 1) // FRAME_BYTES, feat)]

    return _map_rows(media, ["media_id", "kind", "payload"], FEATURE_SCHEMA,
                     row)


def resize_meta(media: DataFrame) -> DataFrame:
    """Resize planning as a pure column expression: clamp dimensions
    preserving aspect ratio (the byte-level resample belongs to the stubbed
    codec). Demonstrates typed-metadata transforms without touching
    payloads."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(256) / w, F.lit(256) / h, F.lit(1.0))
    return media.withColumn(
        "meta",
        F.struct(
            F.floor(w * scale).cast("int").alias("width"),
            F.floor(h * scale).cast("int").alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.codec").alias("codec"),
        ),
    )


CHUNK_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("chunk_idx", T.IntegerType()),
    T.StructField("start_byte", T.IntegerType()),
    T.StructField("chunk_bytes", T.BinaryType()),
    T.StructField("chunk_size", T.IntegerType()),
])


def audio_chunks(media: DataFrame) -> DataFrame:
    """Overlapping windowed segmentation of audio payloads (the speech
    analogue of video frame sampling): chunks of `window` bytes every `hop`
    bytes, last partial chunk kept. Non-audio rows are filtered BEFORE the
    Python stage so only audio payloads cross the Arrow boundary. Row-local,
    emits incrementally per batch — a long recording never materializes all
    its chunks at once."""
    window = 2048
    hop = 1024

    def row(mid, payload):
        payload = bytes(payload)
        n = len(payload)
        for ci, start in enumerate(range(0, max(n, 1), hop)):
            cb = _decode_frame(payload, start, window)
            yield mid, ci, start, cb, len(cb)
            if start + window >= n:
                break

    return _map_rows(media.filter(F.col("kind") == "audio"),
                     ["media_id", "payload"], CHUNK_SCHEMA, row)


def frame_run_spans(frames: DataFrame) -> DataFrame:
    """Repeated FRAME-RUN detection — the embedding/media-side analogue of
    `dedup.duplicate_spans` (ExactSubstr over frame sequences instead of
    token sequences): every run of `k` consecutive frames whose signature
    sequence occurs >= 2 times corpus-wide (across OR within
    media) marks positions [p, p+k-1] of that media's frame sequence;
    overlapping/adjacent marked runs (gap <= k) merge into maximal spans.
    This is the shape video-corpus curation needs for shared intros /
    outros / static-scene stretches and looped content.

    Input is `frame_sample` output (media_id, frame_idx, frame_bytes);
    positions are 1-based indices INTO THE SAMPLED SEQUENCE (row_number
    by frame_idx), so spans stay meaningful whatever `every` stride
    produced the sequence. Returns (media_id, span_start, span_end,
    n_windows), one row per maximal span.

    Scale shape: the per-frame signature (md5 of the frame payload) is
    JVM-side codegen; run fingerprints come from ONE per-media window
    (one shuffle on media_id — same partitioning the sequence analysis
    needs anyway); duplicate detection is ONE hash aggregation on the
    run fingerprint — never a self-join, so a boilerplate intro shared
    by millions of videos costs one counter, not a candidate-pair
    explosion. Mirrors `dedup.duplicate_spans`'s guarantee: every
    repeated run of >= 2k-1 frames is found, any repeated run of >= k
    frames is found in full."""
    from pyspark.sql import Window

    from .dedup import _merge_islands

    k = 3
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    fwd = w.rowsBetween(Window.currentRow, k - 1)
    runs = (
        frames.select(
            "media_id", "frame_idx", F.md5("frame_bytes").alias("sig"))
        .select(
            "media_id",
            F.row_number().over(w).alias("p"),
            F.count("sig").over(fwd).alias("nk"),
            F.md5(F.concat_ws("|", F.collect_list("sig").over(fwd)))
            .alias("runsig"),
        )
        .filter(F.col("nk") == k)
    )
    dup = (
        runs.groupBy("runsig").agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2).select("runsig")
    )
    marked = runs.join(dup, "runsig").select("media_id", "p")
    return _merge_islands(marked, k, "media_id")


THUMB_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("src_w", T.IntegerType()),
    T.StructField("src_h", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("thumb", T.BinaryType()),
])

THUMB_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("src_w", T.IntegerType()),
    T.StructField("src_h", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_fp", T.StringType()),
])

PIXEL_FP_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("px_fp", T.StringType()),
    T.StructField("byte_fp", T.StringType()),
])

ENERGY_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("win_idx", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("abs_sum", T.LongType()),
])


def _png_gray(data: bytes, filter_type: int) -> bytes:
    n = len(data)
    w, h = n % 24 + 8, n % 16 + 8
    return encode_png(_tile(data, np.arange(w * h), (h, w)),
                      filter_type=filter_type)


def attach_images(docs: DataFrame, vary_filters: bool = False) -> DataFrame:
    """Deterministic REAL-PNG media table for tests/bench: each doc's text
    bytes tile a (h, w) grayscale image (pixel i = byte i mod L; all-zero
    when the text is empty), dims derived from the byte length
    (w = L%24+8, h = L%16+8), encoded by `png_codec.encode_png`. Unlike
    `attach_media`'s opaque stand-in bytes, these payloads are decodable
    images whose every pixel a SQL oracle can predict from the text —
    the fixture that makes the encode path hash-checkable end-to-end.

    `vary_filters=True` picks the PNG scanline filter per row
    (doc_id % 5): the PIXELS — and so every pixel-level oracle — are
    unchanged, but byte-identical texts now yield byte-DIFFERENT payloads
    across filter choices, the re-encoded-duplicate situation
    pixel-fingerprint dedup exists to catch."""
    return _attach(docs, lambda mid, data: _png_gray(
        data, int(mid) % 5 if vary_filters else 0))


def image_pixel_fingerprints(media: DataFrame) -> DataFrame:
    """DECODED-pixel fingerprint per image — the dedup key byte-level
    fingerprinting cannot provide: two encodings of the same pixels
    (different scanline filters, different compressors, stripped
    metadata) share a pixel fingerprint while their transport bytes
    differ. Emits (media_id, width, height, px_fp, byte_fp); payloads
    the codec cannot decode are dropped (they fall back to byte-level
    dedup upstream). Row-local Arrow kernel; the downstream dedup is one
    hash aggregate on px_fp — tier-1 dedup shape at any scale."""

    def row(mid, payload):
        payload = bytes(payload)
        decoded = decode_png(payload)
        if decoded is None:
            return []
        w, h, _ch, px = decoded
        return [(mid, w, h, _fp_decimal(px.reshape(-1)),
                 hashlib.md5(payload).hexdigest())]

    return _map_rows(media, ["media_id", "payload"], PIXEL_FP_SCHEMA, row)


def audio_energy_windows(media: DataFrame) -> DataFrame:
    """Energy profile over DECODED samples (`wav_codec.decode_wav`) —
    the first real-DSP consumer of the audio codec: non-overlapping
    `window`-frame segments, per segment the frame count and the summed
    absolute amplitude across channels (the VAD/silence-trim primitive).
    Undecodable payloads drop. Row-local; emits ceil(n/window) rows per
    recording incrementally per Arrow batch."""
    window = 256

    def row(mid, payload):
        decoded = decode_wav(bytes(payload))
        if decoded is None:
            return
        _rate, _ch, bits, samples = decoded
        s = samples.astype(np.int64)
        if bits == 8:
            s -= 128  # 8-bit PCM is unsigned, 128-centered:
            # amplitude is the excursion from 128, so raw abs
            # would score silence as full-scale energy
        a = np.abs(s).sum(axis=1)
        for wi in range(0, (a.shape[0] + window - 1) // window):
            seg = a[wi * window: (wi + 1) * window]
            yield mid, wi, int(seg.shape[0]), int(seg.sum())

    return _map_rows(media, ["media_id", "payload"], ENERGY_SCHEMA, row)


def resize_images(media: DataFrame) -> DataFrame:
    """REAL thumbnailing — decode → nearest-neighbor downsample → PNG
    re-encode, all inside one Arrow batch kernel (`png_codec`, no
    image libraries): target dims use `resize_meta`'s aspect-preserving
    arithmetic (floor(dim·min(8/w, 8/h, 1))), the resample takes
    source pixel (y·src_h//th, x·src_w//tw) — integer arithmetic a SQL
    oracle replays exactly. Payloads this codec cannot decode null-route
    (thumb NULL, dims -1) rather than crash — the `decode_png` contract.
    Row-local, zero shuffle; at 100 TB this is the classic
    embarrassingly-parallel media transform."""

    def row(mid, payload):
        decoded = decode_png(bytes(payload))
        if decoded is None:
            return [(mid, -1, -1, -1, -1, None)]
        w, h, _ch, px = decoded
        scale = min(8 / w, 8 / h, 1.0)
        # floor can hit 0 on extreme aspect ratios — a thumbnail
        # is never smaller than 1px (the oracle mirrors this)
        tw = max(1, int(w * scale))
        th = max(1, int(h * scale))
        ys = (np.arange(th) * h) // th
        xs = (np.arange(tw) * w) // tw
        # tier-selecting re-encode: indexed color when exactly
        # representable (the transport win), truecolor otherwise —
        # decoded pixels are identical either way, so every
        # fingerprint oracle is tier-agnostic
        return [(mid, w, h, tw, th, encode_png_auto(px[ys][:, xs]))]

    return _map_rows(media, ["media_id", "payload"], THUMB_SCHEMA, row)


def thumbnail_stats(thumbs: DataFrame) -> DataFrame:
    """VERIFY pass for the encode path: decode the re-encoded thumbnail
    BYTES back to pixels and fingerprint them (sum + md5 of the row-major
    dash-joined decimal values). Composed after `resize_images`, the
    decode(encode(resample(decode(x)))) chain means a wrong encoder, a
    wrong decoder, or a wrong resample all break the fingerprint a SQL
    oracle predicts from the source text alone."""

    def row(mid, sw, sh, tw, th, thumb):
        if thumb is None:
            return []
        decoded = decode_png(bytes(thumb))
        assert decoded is not None, "own encoder must round-trip"
        w, h, _ch, px = decoded
        return [(mid, int(sw), int(sh), w, h, *_sum_fp(px))]

    return _map_rows(thumbs, THUMB_SCHEMA.fieldNames(), THUMB_STATS_SCHEMA,
                     row)


AUDIO_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("bits", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("s_sum", T.LongType()),
    T.StructField("s_fp", T.StringType()),
])


def _wav_pcm16(mid, data: bytes) -> bytes:
    if data:
        b = np.frombuffer(data, dtype=np.uint8)
        return encode_wav((b.astype(np.int16) - 128) * 256, 16000)
    return encode_wav(np.zeros(64, dtype=np.int16), 16000)


def attach_audio(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-WAV media table: each doc's text bytes become a
    mono 16 kHz PCM16 recording (sample i = (byte i − 128)·256; 64 zero
    samples when the text is empty), containerized by
    `wav_codec.encode_wav`. Decodable audio whose every sample a SQL
    oracle predicts from the text — the audio twin of `attach_images`."""
    return _attach(docs, _wav_pcm16)


def audio_sample_stats(media: DataFrame) -> DataFrame:
    """REAL audio decode (`wav_codec.decode_wav`): parse the RIFF/WAVE
    container, read the PCM samples, and fingerprint them (sum + md5 of
    the channel-major dash-joined decimal values). Payloads outside the
    codec's declared support null-route (row dropped) instead of
    crashing. Row-local Arrow kernel — the classic embarrassingly-
    parallel media transform; at 100 TB the decode cost scales with
    bytes, never with row joins."""

    def row(mid, payload):
        decoded = decode_wav(bytes(payload))
        if decoded is None:
            return []
        rate, ch, bits, samples = decoded
        return [(mid, rate, ch, bits, samples.shape[0], *_sum_fp(samples))]

    return _map_rows(media, ["media_id", "payload"], AUDIO_STATS_SCHEMA, row)


RGBA_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("n_transparent", T.LongType()),
    T.StructField("px_fp", T.StringType()),
])


def _png_palette(mid, data: bytes) -> bytes:
    n = len(data)
    w, h = n % 24 + 8, n % 16 + 8
    rgba = _palette16(_tile(data, np.arange(w * h), (h, w)) % 16)
    return encode_png_palette(rgba[:, :, :3], alpha=rgba[:, :, 3],
                              filter_type=int(mid) % 5)


def attach_palette_images(docs: DataFrame) -> DataFrame:
    """Deterministic INDEXED-COLOR (palette + tRNS) PNG media table: each
    doc's text bytes pick one of 16 colors per pixel (j = byte % 16 →
    color ((19j)%256, (37j)%256, (53j)%256) — 16 distinct RGB triples),
    color 0 is fully transparent (alpha 0 via tRNS), every other color
    opaque; dims and tiling follow `attach_images` (w = L%24+8,
    h = L%16+8, pixel i = byte i mod L). The scanline filter varies by
    doc_id % 5, exercising all five filter paths on the INDEX plane.
    Every decoded RGBA value is a pure function of the text, so the SQL
    oracle predicts the whole image — the palette tier's encode AND the
    tRNS alpha expansion become hash-checked surface."""
    return _attach(docs, _png_palette)


def _wav_adpcm(mid, data: bytes) -> bytes:
    n = len(data)
    pred = (data[0] - 128) * 256 if n >= 1 else 0
    index = data[1] % 89 if n >= 2 else 0
    dat = _tile(data, np.arange(64), 64).tobytes()
    return encode_wav_adpcm([(pred, index, dat)])


def attach_audio_adpcm(docs: DataFrame) -> DataFrame:
    """Deterministic IMA ADPCM media table — the PREDICTIVE-codec tier:
    one 68-byte mono block per doc (predictor = (byte0 − 128)·256,
    step index = byte1 mod 89, both 0 when the text is too short; the
    64 data bytes are text bytes k mod L, 0x00 when empty), giving
    exactly 129 samples whose values chain through the published
    step-table state machine. Every decoded sample is a pure function
    of the text that a recursive-CTE SQL oracle replays nibble by
    nibble."""
    return _attach(docs, _wav_adpcm)


def _bmp(mid, data: bytes) -> bytes:
    n = len(data)
    w, h = n % 18 + 5, n % 13 + 5
    v = _tile(data, 3 * np.arange(w * h), (h, w))
    tier = int(mid) % 3
    if tier == 0:
        return encode_bmp(v)
    if tier == 2:
        return encode_bmp(v, rle=True)
    vv = v.astype(np.uint16)
    rgb = np.dstack([vv % 256, (vv + 91) % 256,
                     (vv + 182) % 256]).astype(np.uint8)
    return encode_bmp(rgb, top_down=bool(int(mid) % 2))


def attach_bmps(docs: DataFrame) -> DataFrame:
    """Deterministic BMP media table — the DIB container with three
    tiers by doc_id % 3 over a (w = L%18+5) x (h = L%13+5) image with
    pixel v = byte (3p mod L) (0 when empty):

      0: 8-bit grayscale palette, BI_RGB  -> RGB (v, v, v);
      1: 24-bit BGR, BI_RGB (top-down when doc_id % 2 = 1) with
         channels (v, (v+91)%256, (v+182)%256);
      2: 8-bit grayscale palette, BI_RLE8 -> RGB (v, v, v) through the
         shared RLE row codec.

    Every decoded RGB value is a pure function of the text the SQL
    oracle predicts — header parsing, palette expansion, BGR order,
    both row orders, stride padding, and RLE all hash-checked."""
    return _attach(docs, _bmp)


def _tiff(mid, data: bytes) -> bytes:
    n = len(data)
    w, h = n % 17 + 4, n % 11 + 4
    v = _tile(data, 5 * np.arange(w * h), (h, w))
    big = int(mid) % 4 in (2, 3)
    if int(mid) % 2 == 0:
        return encode_tiff((v // 64) * 64, big=big)
    vv = v.astype(np.uint16)
    rgb = np.dstack([vv % 256, (vv + 77) % 256,
                     (vv + 154) % 256]).astype(np.uint8)
    return encode_tiff(rgb, big=big)


def attach_tiffs(docs: DataFrame) -> DataFrame:
    """Deterministic TIFF media table — the PackBits container with two
    tiers by doc_id % 2 over a (w = L%17+4) x (h = L%11+4) image with
    base pixel v = byte (5p mod L) (0 when empty):

      0: 8-bit grayscale, QUANTIZED v_q = (v // 64) * 64 so repeat-runs
         fire on production data -> RGB (v_q, v_q, v_q);
      1: 8-bit RGB with channels (v, (v+77)%256, (v+154)%256) — mostly
         literal-runs through the row coder.

    Byte order mixes orthogonally: doc_id % 4 in (2, 3) encodes
    big-endian ('MM'), the rest little-endian ('II') — all four
    (tier, order) combinations appear, and since byte order changes
    only the container framing (never a pixel) the SQL oracle is
    untouched while the MM IFD walk lands under the driver hash.

    PackBits is lossless, so every decoded RGB value is a pure function
    of the text the SQL oracle predicts — IFD parsing, per-row coder
    restarts, repeat and literal packets all hash-checked."""
    return _attach(docs, _tiff)


def _jpeg_gray(mid, data: bytes) -> bytes:
    n = len(data)
    wb, hb = n % 6 + 2, n % 4 + 2
    tiles = _tile(data, np.arange(wb * hb), (hb, wb))
    return encode_jpeg_gray(np.kron(tiles, np.ones((8, 8), np.uint8)),
                            quality=50)


def attach_jpegs(docs: DataFrame) -> DataFrame:
    """Deterministic baseline-JPEG media table on the codec's
    integer-exact tier: a ((L%4+2)*8) x ((L%6+2)*8) grayscale image of
    constant 8x8 tiles, tile t (row-major over blocks) = byte (t mod L)
    (0 when empty), encoded at quality 50. Constant tiles make the
    whole DCT -> quantize -> Huffman -> decode chain integer-exact
    (decoded tile = min(2*floor((v-127)/2) + 128, 255)), so the SQL
    oracle predicts every decoded pixel while the real entropy layer —
    canonical Huffman, DC DPCM across tiles, byte stuffing — runs on
    production data. General-content (AC) behavior is property-tested
    with bounded error in tests/test_formats.py."""
    return _attach(docs, _jpeg_gray)


def _jpeg_rgb(mid, data: bytes) -> bytes:
    n = len(data)
    wb, hb = n % 5 + 2, n % 3 + 2
    t = np.arange(wb * hb)[:, None] + np.arange(3)
    tiles = _tile(data, t, (hb, wb, 3))
    return encode_jpeg_rgb(np.kron(tiles, np.ones((8, 8, 1), np.uint8)),
                           quality=50)


def attach_jpegs_color(docs: DataFrame) -> DataFrame:
    """Deterministic COLOR baseline-JPEG media table on the
    integer-exact tier: constant 8x8 tiles over a ((L%3+2)*8) x
    ((L%5+2)*8) canvas, tile t's RGB = bytes (t, t+1, t+2 mod L)
    (zeros when empty), encoded at quality 50 through the fixed-point
    YCbCr transform and interleaved Y/Cb/Cr MCUs with per-component DC
    predictors. Every decoded RGB value is the composition
    ycbcr_to_rgb(dequant(quant(rgb_to_ycbcr(v)))) of pure integer
    formulas the SQL oracle replays exactly."""
    return _attach(docs, _jpeg_rgb)


def _jpeg_420(data: bytes, restart: int) -> bytes:
    n = len(data)
    wb, hb = n % 4 + 1, n % 3 + 1
    t = np.arange(wb * hb)[:, None] + 3 * np.arange(3)
    tiles = _tile(data, t, (hb, wb, 3))
    return encode_jpeg_420(np.kron(tiles, np.ones((16, 16, 1), np.uint8)),
                           quality=50, restart=restart)


def attach_jpegs_420(docs: DataFrame) -> DataFrame:
    """Deterministic 4:2:0 baseline-JPEG media table with RESTART
    INTERVALS: constant 16x16 macro-tiles over a ((L%3+1)*16) x
    ((L%4+1)*16) canvas, macro-tile t's RGB = bytes (t, t+3, t+6 mod
    L), encoded at quality 50 with restart = doc_id % 3 (0 = no DRI,
    1-2 = RSTn every 1-2 MCUs — predictor resets and byte-aligned
    marker sync become production surface). Constant macro-tiles pass
    unchanged through the 2x2 chroma subsample, so the decoded pixels
    follow the same integer formula chain as the 4:4:4 tier and the
    SQL oracle predicts every value."""
    return _attach(docs, lambda mid, data: _jpeg_420(data, int(mid) % 3))


def _qoi(mid, data: bytes) -> bytes:
    n = len(data)
    w, h = n % 21 + 4, n % 15 + 4
    p = np.arange(w * h)
    r = _tile(data, p // 4, w * h).astype(np.uint16)
    g = (r + p % 3) % 256
    bl = (r + 2 * (p % 5)) % 256
    if int(mid) % 2 == 0:
        a = np.full(w * h, 255, dtype=np.uint16)
    else:
        a = np.where(r % 7 == 0, 0, 255).astype(np.uint16)
    return encode_qoi(np.stack([r, g, bl, a], axis=1).astype(
        np.uint8).reshape(h, w, 4))


def attach_qoi(docs: DataFrame) -> DataFrame:
    """Deterministic QOI media table — content shaped to exercise every
    op family of the format on production data: over a (w = L%21+4) x
    (h = L%15+4) image, pixel p has r = byte(p//4 mod L) (horizontal
    runs -> QOI_OP_RUN), g = (r + p mod 3) % 256 and
    b = (r + 2*(p mod 5)) % 256 (small channel deltas -> DIFF/LUMA),
    alpha 255 on even doc_ids and 0-where-(r mod 7 = 0) on odd ones
    (RGBA literals + index recalls). Every decoded RGBA value is a pure
    function of the text the SQL oracle predicts — whatever op sequence
    the greedy encoder chose."""
    return _attach(docs, _qoi)


def _gif(mid, data: bytes) -> bytes:
    n = len(data)
    w, h = n % 20 + 6, n % 14 + 6
    j = _tile(data, np.arange(w * h), (h, w)) % 16
    return encode_gif(_palette16(j), interlace=bool(int(mid) % 2))


def attach_gifs(docs: DataFrame) -> DataFrame:
    """Deterministic GIF media table — the LZW container twin of
    `attach_palette_images` with its own geometry (w = L%20+6,
    h = L%14+6) and the SAME 16-color/transparent-0 pixel semantics
    (j = byte (p mod L) % 16 → RGB ((19j)%256, (37j)%256, (53j)%256),
    alpha 0 iff j = 0). Rows are interlaced for odd doc_ids, so the
    4-pass interlace permutation is production surface, and the REAL
    LZW compressor (`gif_codec.encode_gif`) means the decoder's
    dictionary-growth path runs on every row. Every decoded RGBA value
    is a pure function of the text the SQL oracle predicts."""
    return _attach(docs, _gif)


def _gif_animated(mid, data: bytes) -> bytes:
    n = len(data)
    W, H, nf = n % 16 + 10, n % 12 + 10, n % 3 + 2
    patches = []
    for g in range(nf):
        left, top = (3 * g) % (W - 3), (2 * g) % (H - 3)
        iw = min(W - left, n % 7 + 3)
        ih = min(H - top, n % 5 + 3)
        j = _tile(data, np.arange(iw * ih) + 11 * g, (ih, iw)) % 16
        patches.append((left, top, _palette16(j), 1))
    return encode_gif_animated(patches, W, H, interlace_odd=True)


def attach_animated_gifs(docs: DataFrame) -> DataFrame:
    """Deterministic ANIMATED GIF media table: each doc becomes an
    L%3+2-frame GIF89a over a (W = L%16+10) x (H = L%12+10) canvas.
    Frame g patches the rect (left = 3g mod (W-3), top = 2g mod (H-3),
    iw = min(W-left, L%7+3), ih = min(H-top, L%5+3)); patch pixel p
    (row-major local) has j = byte((p + 11g) mod L) % 16 with the
    16-color map of the other image tiers and j = 0 transparent, so
    later frames overlay earlier ones only where opaque. All frames use
    disposal 1 (leave) — the compositing the SQL oracle replays as
    "latest covering non-transparent patch wins"; disposal 2/3 are
    pinned by unit tests. Odd frames are stored interlaced."""
    return _attach(docs, _gif_animated)


ANIM_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_fp", T.StringType()),
])


def animation_frame_stats(media: DataFrame) -> DataFrame:
    """ANIMATED GIF decode (`gif_codec.decode_gif_frames`): parse the
    container, composite every frame onto the canvas (overlay +
    disposal), and fingerprint each composited snapshot (sum + md5 of
    the row-major RGBA decimal values). Undecodable payloads drop.
    Row-local Arrow kernel emitting one row per frame."""

    def row(mid, payload):
        decoded = decode_gif_frames(bytes(payload))
        if decoded is None:
            return []
        w, h, frames = decoded
        return [(mid, fi, w, h, *_sum_fp(frames[fi]))
                for fi in range(frames.shape[0])]

    return _map_rows(media, ["media_id", "payload"], ANIM_STATS_SCHEMA, row)


# Sniffed image containers: (magic test, decoder, decoded channels); each
# decoder returns (w, h, (h, w, channels) pixels) or None.
_IMAGE_CODECS = (
    (is_gif, decode_gif, 4),
    (is_bmp, decode_bmp, 3),
    (is_tiff, decode_tiff, 3),
    (is_qoi, decode_qoi, 4),
)


def _decode_image(raw: bytes):
    """(w, h, channels, (h, w, channels) pixels) of a sniffed image
    payload — PNG when no other magic matches — or None."""
    if is_jpeg(raw):
        # dispatch on the SOF component count BEFORE any scan decode —
        # otherwise every color file pays the full gray entropy decode
        # just to be rejected
        nc = jpeg_n_components(raw)
        if nc == 1:
            j = decode_jpeg_gray(raw)
            return None if j is None else (j[0], j[1], 1, j[2][:, :, None])
        if nc == 3:
            j3 = decode_jpeg_rgb(raw)
            return None if j3 is None else (j3[0], j3[1], 3, j3[2])
        return None
    for is_x, decode_x, ch in _IMAGE_CODECS:
        if is_x(raw):
            d = decode_x(raw)
            return None if d is None else (d[0], d[1], ch, d[2])
    return decode_png(raw)


def _rgba_row(mid, w, h, ch, px) -> tuple:
    """One RGBA_STATS_SCHEMA row of decoded (h, w, ch) pixels."""
    px_sum, fp = _sum_fp(px)
    n_tr = int((px[:, :, -1] == 0).sum()) if ch in (2, 4) else 0
    return mid, w, h, ch, px_sum, n_tr, fp


def image_rgba_stats(media: DataFrame) -> DataFrame:
    """Decoded-image statistics INCLUDING the alpha plane: per payload the
    decoded dims/channels, the sum over every channel value (alpha
    included), the fully-transparent pixel count, and the md5 fingerprint
    of the row-major channel-interleaved decimal values — the verify pass
    that makes tRNS expansion (`png_codec.decode_png`) and GIF
    transparency (`gif_codec.decode_gif`) correctness surface. The
    container is sniffed by magic, so one stats pass covers both image
    formats. Undecodable payloads drop (the raw-byte path upstream).
    Row-local Arrow kernel, zero shuffle."""

    def row(mid, payload):
        decoded = _decode_image(bytes(payload))
        return [] if decoded is None else [_rgba_row(mid, *decoded)]

    return _map_rows(media, ["media_id", "payload"], RGBA_STATS_SCHEMA, row)


def _wav_mixed(mid, data: bytes) -> bytes:
    fmt = int(mid) % 3
    b = np.frombuffer(data, dtype=np.uint8) if data else None
    if fmt == 0:
        s = ((b.astype(np.int16) - 128) * 256
             if b is not None else np.zeros(64, np.int16))
        return encode_wav(s, 16000)
    if fmt == 1:
        if b is not None:
            left = (b.astype(np.int16) - 128) * 256
            right = (((b.astype(np.int32) + 64) % 256 - 128)
                     * 256).astype(np.int16)
            s = np.stack([left, right], axis=1)
        else:
            s = np.zeros((64, 2), np.int16)
        return encode_wav(s, 16000)
    s = b if b is not None else np.full(64, 128, np.uint8)
    return encode_wav(s, 8000, bits=8)


def attach_audio_mixed(docs: DataFrame) -> DataFrame:
    """Deterministic MIXED-FORMAT WAV media table — the fixture that makes
    the codec's full declared surface (stereo, 8-bit) production
    correctness surface instead of unit-test-only. Format by doc_id % 3:

      0: mono 16-bit  — sample i = (byte i − 128)·256 (as `attach_audio`);
      1: stereo 16-bit — L as mono, R = ((byte i + 64) % 256 − 128)·256
         (a deterministic phase-shifted companion channel);
      2: mono 8-bit   — sample i = byte i (unsigned, 128-centered PCM).

    Empty text yields 64 silent frames in the row's format (0 for 16-bit,
    128 for 8-bit). Every decoded sample is a pure function of the text,
    so SQL oracles predict energy profiles across all three formats."""
    return _attach(docs, _wav_mixed)


def _wav_g711(mid, data: bytes) -> bytes:
    law = "mu" if int(mid) % 2 == 0 else "a"
    if data:
        codes = np.frombuffer(data, dtype=np.uint8)
    else:
        codes = np.full(64, 0xFF if law == "mu" else 0xD5, np.uint8)
    return encode_wav_g711(codes, 8000, law)


def attach_audio_g711(docs: DataFrame) -> DataFrame:
    """Deterministic G.711 COMPANDED media table — telephony-codec
    recordings by doc_id % 2 (0: mu-law format tag 7, 1: A-law tag 6,
    `wav_codec.encode_wav_g711`): the text bytes ARE the companded code
    stream, so every expanded linear sample is the published CCITT
    table value of a text byte and SQL oracles replay the expansion
    formulas exactly. Empty text yields 64 frames of the code that
    expands to the quietest level (0xFF -> 0 for mu-law, 0xD5 -> +8
    for A-law, which has no zero code)."""
    return _attach(docs, _wav_g711)


VIDEO_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("fps", T.DoubleType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("px_sum", T.LongType()),
    T.StructField("px_fp", T.StringType()),
])


def _avi(mid, data: bytes) -> bytes:
    n = len(data)
    nf, w, h = n % 3 + 2, n % 12 + 4, n % 8 + 4
    idx = np.arange(w * h) + 7 * np.arange(nf)[:, None]
    v = _tile(data, idx, (nf, h, w))
    if int(mid) % 2 == 0:
        return encode_avi(v, fps=10)
    vv = v.astype(np.uint16)
    rgb = np.stack([vv % 256, (vv + 85) % 256, (vv + 170) % 256],
                   axis=3).astype(np.uint8)
    return encode_avi(rgb, fps=10)


def attach_video(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-AVI media table — the video twin of
    `attach_images`/`attach_audio`: each doc's text bytes become
    L%3+2 uncompressed DIB frames of (h = L%8+4, w = L%12+4), frame f's
    pixel p = byte (p + 7f) mod L (0 when the text is empty). Tier by
    doc_id % 2: 8-bit grayscale-palette frames (decoded RGB = (v,v,v)
    through the palette) or 24-bit BGR frames with channels
    (v, (v+85)%256, (v+170)%256). Every decoded RGB value of every frame
    is a pure function of the text, so SQL oracles predict the whole
    clip — container geometry, palette expansion, BGR ordering,
    bottom-up row flip, and stride padding all become hash-checked."""
    return _attach(docs, _avi)


def _avi_rle8(mid, data: bytes) -> bytes:
    n = len(data)
    nf, w, h = n % 3 + 2, n % 11 + 4, n % 7 + 4
    idx = np.arange(w * h) // 3 + 5 * np.arange(nf)[:, None]
    return encode_avi_rle8(_tile(data, idx, (nf, h, w)))


def attach_video_rle(docs: DataFrame) -> DataFrame:
    """Deterministic COMPRESSED-video media table — the BI_RLE8 twin of
    `attach_video`: each doc's text bytes become L%3+2 RLE8-compressed
    grayscale-palette frames of (h = L%7+4, w = L%11+4), frame f's
    pixel p = byte ((p//3 + 5f) mod L) (0 when the text is empty).
    The //3 repeats each source byte across three pixels, so realistic
    runs hit the encoded-run packets while row-edge remainders hit the
    absolute/literal packets — both halves of the RLE grammar are
    exercised by production data, and every decoded RGB value is still
    a pure function of the text the SQL oracle predicts."""
    return _attach(docs, _avi_rle8)


def video_frame_stats(media: DataFrame) -> DataFrame:
    """REAL video decode (`avi_codec.decode_avi`): parse the RIFF/AVI
    container, expand every uncompressed DIB frame to canonical RGB, and
    fingerprint each frame (sum + md5 of the row-major channel-interleaved
    decimal values). Payloads outside the codec's declared support
    null-route (rows dropped) instead of crashing. Row-local Arrow
    kernel emitting one row per frame incrementally — a long clip never
    materializes outside its own batch."""

    def row(mid, payload):
        decoded = decode_avi(bytes(payload))
        if decoded is None:
            return []
        fps, w, h, frames = decoded
        return [(mid, fi, float(fps), w, h, *_sum_fp(frames[fi]))
                for fi in range(frames.shape[0])]

    return _map_rows(media, ["media_id", "payload"], VIDEO_STATS_SCHEMA, row)


def decode_jpeg_restart_distributed(spark, payload: bytes,
                                    segments_per_task: int = 0,
                                    max_pixels: int = 1 << 28):
    """Segment-parallel baseline-JPEG decode over Spark: split the scan
    at its RSTn byte boundaries (T.81 E.1.4 — byte-aligned markers, DC
    predictors reset per segment, so segments are independent by spec),
    entropy-decode the segments as Arrow-batched `mapInPandas` tasks,
    and reassemble driver-side. Returns (w, h, n_comp, [plane, ...]) —
    pinned byte-identical to the sequential `_decode_jfif` — or None
    when the file has no restart interval / is outside support.

    This is the codec tier's 100 TB shape: a single huge JPEG stops
    being a one-core bitstream crawl the moment it carries DRI — the
    split is a linear byte scan (no entropy work), the heavy Huffman+
    IDCT cost fans out restart-interval-wide, and the reassembly moves
    only n_mcus·blocks·64 bytes of decoded blocks. `segments_per_task`
    coarsens segments into fewer tasks; 0 (default) auto-sizes to the
    cluster's default parallelism — per-task scheduling latency
    dominates when segments are small, so one task per core beats one
    task per segment."""
    sp = split_restart_segments(bytes(payload))
    if sp is None:
        return None
    w, h, q, specs, samplings, restart, segs = sp
    # This UTILITY returns the decoded planes to the caller, so the
    # driver necessarily holds ~1.05x the image's pixel bytes during
    # reassembly. max_pixels (default 2^28 ≈ 268 Mpx, ~1.6 GB of
    # gathered blocks) bounds that; beyond it use the DataFrame surface
    # `segment_parallel_rgba_stats`, whose reassembly is a media_id
    # shuffle and never materializes pixels on the driver.
    if w * h > max_pixels:
        raise ValueError(
            f"image is {w}x{h} = {w * h} px > max_pixels={max_pixels}: "
            f"driver-side reassembly would gather ~{w * h * 3} block "
            f"bytes; raise max_pixels explicitly or use the distributed "
            f"stats surface segment_parallel_rgba_stats")
    is420 = samplings == (0x22, 0x11, 0x11)
    mcu = 16 if is420 else 8
    mx_n, my_n = (w + mcu - 1) // mcu, (h + mcu - 1) // mcu
    total = mx_n * my_n
    bpm = 6 if is420 else len(specs)
    n_mcus = [min(restart, total - i * restart) for i in range(len(segs))]

    bc = spark.sparkContext.broadcast((q, specs, samplings))
    rows = [(i, bytearray(s), n_mcus[i]) for i, s in enumerate(segs)]
    if segments_per_task <= 0:
        n_tasks = min(len(rows), spark.sparkContext.defaultParallelism)
    else:
        n_tasks = max(1, (len(rows) + segments_per_task - 1)
                      // segments_per_task)
    # parallelize slices are contiguous and balanced — one task per
    # slice, no shuffle, no range-sampling job; hash repartition would
    # leave ~1/e of the tasks empty and stack 3-5 segments on others
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, min(n_tasks, 256)),
        "seg_id int, data binary, n_mcus int")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qq, sspecs, ssamp = bc.value
        for pdf in batches:
            out = []
            for sid, data, nm in zip(pdf["seg_id"], pdf["data"],
                                     pdf["n_mcus"]):
                try:
                    blocks = decode_restart_segment(
                        bytes(data), int(nm), qq, sspecs, ssamp)
                except (ValueError, IndexError, struct.error):
                    # corrupt entropy data that passed the split's
                    # structural checks: NULL marks the segment and the
                    # driver null-routes the WHOLE image below — same
                    # drop contract as the sequential _decode_jfif path
                    out.append((int(sid), None))
                    continue
                out.append((int(sid), blocks.tobytes()))
            yield pd.DataFrame(out, columns=["seg_id", "blocks"])

    decoded = df.mapInPandas(
        kernel, "seg_id int, blocks binary").collect()
    if len(decoded) != len(segs) or any(r["blocks"] is None
                                        for r in decoded):
        return None
    seg_blocks = [None] * len(segs)
    for r in decoded:
        seg_blocks[r["seg_id"]] = np.frombuffer(
            bytes(r["blocks"]), dtype=np.uint8
        ).reshape(n_mcus[r["seg_id"]], bpm, 8, 8)
    planes = reassemble_segments(w, h, samplings, restart, seg_blocks)
    return w, h, len(specs), planes


def attach_jpegs_420_dri(docs: DataFrame) -> DataFrame:
    """`attach_jpegs_420` with a restart interval on EVERY file
    (restart = doc_id % 2 + 1) — the fixture for the segment-parallel
    decode surface, where splittability is the point. Same macro-tile
    pixel formula, so the same SQL oracle predicts every value (the
    interval changes the transport framing, never the pixels)."""
    return _attach(
        docs, lambda mid, data: _jpeg_420(data, int(mid) % 2 + 1))


def segment_parallel_rgba_stats(media: DataFrame) -> DataFrame:
    """RGBA stats through the SEGMENT-PARALLEL JPEG decode pipeline —
    the distributed form of the restart-decode claim as a DataFrame op:

      1. SPLIT (row-local kernel): each DRI-bearing payload's scan
         splits at its RSTn byte boundaries (linear byte walk, zero
         entropy work) into (media_id, seg_id, n_mcus, header, seg)
         rows — the parallel grain becomes the SEGMENT, so one huge
         JPEG fans out across tasks instead of pinning one core;
      2. DECODE (row-local kernel): each segment entropy-decodes
         independently (T.81 resets DC predictors at every RSTn) into
         its spatial blocks;
      3. REASSEMBLE (the pipeline's ONE shuffle, keyed by media_id):
         blocks scatter into planes, chroma upsamples, and the stats
         row is computed exactly like `image_rgba_stats` — pinned
         equal to the whole-file path in tests and under the same SQL
         oracle as the sequential query.

    Payloads without a restart interval (or outside support) drop —
    the caller guarantees DRI fixtures (`attach_jpegs_420_dri`). A
    segment whose entropy data is corrupt (but structurally splittable)
    null-routes its WHOLE media_id — the decode kernel emits NULL
    blocks and reassembly drops the image, matching `image_rgba_stats`'
    drop contract; a partial image is never reassembled. The JFIF
    header rides on seg_id 0 ONLY (not once per segment), so the
    Arrow exchange and the media_id shuffle carry it once per image."""
    def split_kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                sp = split_restart_segments(raw)
                if sp is None:
                    continue
                w, h, q, specs, samplings, restart, segs = sp
                p = _parse_scan_params(raw)
                header = raw[:p[6]]
                mcu = 16 if samplings == (0x22, 0x11, 0x11) else 8
                total = ((w + mcu - 1) // mcu) * ((h + mcu - 1) // mcu)
                for i, seg in enumerate(segs):
                    rows.append((mid, i,
                                 min(restart, total - i * restart),
                                 header if i == 0 else None, seg))
            yield pd.DataFrame(
                rows, columns=["media_id", "seg_id", "n_mcus",
                               "header", "seg"])

    def decode_kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        # split emits one media's segments contiguously, seg_id 0 first,
        # and both kernels are narrow (row order is stable within the
        # task) — so the header seen on seg 0 serves the whole media
        hdr_cache = {}
        for pdf in batches:
            rows = []
            for mid, sid, nm, header, seg in zip(
                    pdf["media_id"], pdf["seg_id"], pdf["n_mcus"],
                    pdf["header"], pdf["seg"]):
                mid = int(mid)
                hb = None
                if header is not None:
                    hb = bytes(header)
                    hdr_cache[mid] = _parse_scan_params(hb + b"\xFF\xD9")
                params = hdr_cache.get(mid)
                if params is None:
                    # header row lost/out of order: null-route the
                    # segment rather than fail the job
                    rows.append((mid, int(sid), None, hb))
                    continue
                w, h, q, specs, samplings, _r, _sp = params
                try:
                    blocks = decode_restart_segment(
                        bytes(seg), int(nm), q, specs, samplings)
                except (ValueError, IndexError, struct.error):
                    # corrupt entropy data that survived the split's
                    # structural checks: NULL blocks → reassembly drops
                    # the whole media_id (never a partial image)
                    rows.append((mid, int(sid), None, hb))
                    continue
                rows.append((mid, int(sid), blocks.tobytes(), hb))
            yield pd.DataFrame(
                rows, columns=["media_id", "seg_id", "blocks", "header"])

    def reassemble_kernel(batches: Iterator[pd.DataFrame]) \
            -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, hb, segs_structs in zip(
                    pdf["media_id"], pdf["header"], pdf["segs"]):
                if hb is None:
                    continue
                hb = bytes(hb)
                w, h, q, specs, samplings, restart, _sp = \
                    _parse_scan_params(hb + b"\xFF\xD9")
                is420 = samplings == (0x22, 0x11, 0x11)
                bpm = 6 if is420 else len(specs)
                mcu = 16 if is420 else 8
                total = ((w + mcu - 1) // mcu) * ((h + mcu - 1) // mcu)
                expected = (total + restart - 1) // restart
                if (len(segs_structs) != expected
                        or any(s["blocks"] is None
                               for s in segs_structs)):
                    continue  # a segment null-routed → drop the image
                ordered = sorted(segs_structs,
                                 key=lambda s: s["seg_id"])
                seg_blocks = [
                    np.frombuffer(bytes(s["blocks"]), np.uint8)
                    .reshape(-1, bpm, 8, 8) for s in ordered]
                planes = reassemble_segments(w, h, samplings, restart,
                                             seg_blocks)
                if len(specs) == 3:
                    px = ycbcr_to_rgb(np.stack(planes, axis=-1))
                    ch = 3
                else:
                    px = planes[0][:, :, None]
                    ch = 1
                rows.append(_rgba_row(int(mid), w, h, ch, px))
            yield pd.DataFrame(
                rows, columns=[f.name for f in RGBA_STATS_SCHEMA.fields])

    segs = media.select("media_id", "payload").mapInPandas(
        split_kernel,
        "media_id long, seg_id int, n_mcus int, header binary, "
        "seg binary")
    decoded = segs.mapInPandas(
        decode_kernel,
        "media_id long, seg_id int, blocks binary, header binary")
    # the pipeline's ONE shuffle: a plain hash agg on media_id (JVM-side
    # collect_list) — a grouped-Python node per media would pay Arrow
    # group-dispatch overhead per image, 10x slower on small images
    gathered = decoded.groupBy("media_id").agg(
        F.first("header", ignorenulls=True).alias("header"),
        F.collect_list(F.struct("seg_id", "blocks")).alias("segs"))
    return gathered.mapInPandas(reassemble_kernel,
                                schema=RGBA_STATS_SCHEMA)
