"""Pure-Python/numpy PNG codec for the multimodal image path.

No image library ships in this environment, so the engine carries its own
minimal, dependency-free PNG implementation (stdlib `zlib` + `struct` +
numpy): enough of the spec for the training-data cases — 8-bit depth,
grayscale / gray+alpha / RGB / RGBA / palette color types, non-interlaced,
all five scanline filters (None/Sub/Up/Average/Paeth). This replaces the
`_decode_frame` byte-slice stub for the IMAGE modality inside the existing
Arrow kernels (`multimodal.extract_features` histograms DECODED PIXELS when
the payload is a real PNG, raw bytes otherwise — non-image payloads are
untouched, so the DuckDB byte-histogram oracle is unchanged on the text
corpora).

Not present in the reference (text-only pipeline) — this is the
training-data-pipeline extension surface (SURVEY.md §2 multimodal row).

Scale shape: decode is row-local inside `mapInPandas` Arrow batches — zero
shuffle, no driver traffic; a malformed/unsupported payload null-routes
(returns None) instead of failing the stage, the same discipline as
mis-sized embedding vectors in `operators/similarity.py`.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# color type -> samples per pixel (before palette expansion)
_SAMPLES = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(payload: bytes) -> bool:
    return payload[:8] == PNG_MAGIC


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters. Returns (height, stride) uint8.
    None/Up are whole-row vectorized; Sub is a per-channel-lane prefix
    sum mod 256 (addition mod 256 is associative, so np.cumsum over each
    lane is exact); Average and Paeth carry a true left-AND-up recurrence
    that is inherently sequential (libpng decodes them scalar too) — they
    run per-lane so the Python loop is over width, not bytes."""
    out = np.zeros((height, stride), dtype=np.uint8)
    pos = 0
    prev = np.zeros(stride, dtype=np.intp)
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=stride, offset=pos).astype(np.intp)
        pos += stride
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub: per-lane cumulative sum mod 256
            cur = line.copy()
            for lane in range(bpp):
                np.cumsum(cur[lane::bpp], out=cur[lane::bpp])
            cur &= 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average: sequential in x within each lane
            cur = line.copy()
            for lane in range(bpp):
                c = cur[lane::bpp].tolist()  # Python ints: the per-x
                p = prev[lane::bpp].tolist()  # loop is 3-5x faster than
                left = 0                      # per-element numpy access
                for x in range(len(c)):
                    left = c[x] = (c[x] + ((left + p[x]) >> 1)) & 0xFF
                cur[lane::bpp] = c
        elif ftype == 4:  # Paeth: sequential in x within each lane
            cur = line.copy()
            for lane in range(bpp):
                c = cur[lane::bpp].tolist()
                p = prev[lane::bpp].tolist()
                left = ul = 0
                for x in range(len(c)):
                    up = p[x]
                    left = c[x] = (c[x] + _paeth(left, up, ul)) & 0xFF
                    ul = up
                cur[lane::bpp] = c
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png(payload: bytes):
    """Decode a PNG byte string to (width, height, channels, pixels) where
    pixels is a (height, width, channels) uint8 array (palette images are
    expanded to RGB). Returns None for anything that is not a PNG this
    decoder supports (wrong magic, bit depth != 8, interlaced, truncated,
    bad zlib stream) — callers null-route rather than crash."""
    try:
        if not is_png(payload):
            return None
        pos = 8
        width = height = None
        color_type = bit_depth = interlace = None
        palette = None
        trns = None
        idat = bytearray()
        n = len(payload)
        while pos + 8 <= n:
            (length,) = struct.unpack(">I", payload[pos:pos + 4])
            ctype = payload[pos + 4:pos + 8]
            data = payload[pos + 8:pos + 8 + length]
            if len(data) < length:
                return None  # truncated
            pos += 12 + length  # skip CRC; integrity comes from zlib below
            if ctype == b"IHDR":
                (width, height, bit_depth, color_type, _comp, _filt,
                 interlace) = struct.unpack(">IIBBBBB", data)
            elif ctype == b"PLTE":
                palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif ctype == b"tRNS":
                # Transparency on palette/gray/RGB images is REAL decode
                # surface (r9): expand it to an alpha channel below rather
                # than dropping it. The spec forbids tRNS on color types
                # that already carry alpha (4, 6) — that stays a
                # null-route (handled after IHDR is known).
                trns = bytes(data)
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
        if width is None or not idat:
            return None
        if bit_depth != 8 or interlace != 0 or color_type not in _SAMPLES:
            return None  # outside this decoder's declared support
        samples = _SAMPLES[color_type]
        stride = width * samples
        expected = height * (stride + 1)
        if expected <= 0 or expected > 256 * 1024 * 1024:
            return None  # absurd IHDR dims: refuse before allocating
        # Bounded inflate: a decompression-bomb IDAT (zlib ~1000:1) must
        # null-route, not MemoryError the Arrow kernel — cap the output
        # at the exact size IHDR promises (+1 to detect overlong streams)
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), expected + 1)
        if len(raw) != expected or dec.unconsumed_tail or not dec.eof:
            return None
        if trns is not None and color_type in (4, 6):
            return None  # tRNS is invalid alongside an alpha channel
        px = _unfilter(raw, height, stride, samples)
        px = px.reshape(height, width, samples)
        if color_type == 3:
            if palette is None:
                return None
            idx = px[:, :, 0]
            if idx.max(initial=0) >= palette.shape[0]:
                return None  # index past the palette
            rgb = palette[idx]
            if trns is None:
                return width, height, 3, rgb
            # per-palette-entry alpha; entries past len(trns) are opaque
            if len(trns) > palette.shape[0]:
                return None
            lut = np.full(palette.shape[0], 255, dtype=np.uint8)
            lut[:len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            a = lut[idx][:, :, None]
            return width, height, 4, np.concatenate([rgb, a], axis=2)
        if trns is not None and color_type == 0:
            # 2-byte sample value; pixels equal to it are fully transparent
            if len(trns) != 2:
                return None
            g = struct.unpack(">H", trns)[0] & 0xFF
            a = np.where(px[:, :, 0] == g, 0, 255).astype(np.uint8)
            return width, height, 2, np.concatenate(
                [px, a[:, :, None]], axis=2)
        if trns is not None and color_type == 2:
            # three 2-byte sample values; exact-RGB matches go transparent
            if len(trns) != 6:
                return None
            r, g, b = (v & 0xFF for v in struct.unpack(">HHH", trns))
            hit = ((px[:, :, 0] == r) & (px[:, :, 1] == g)
                   & (px[:, :, 2] == b))
            a = np.where(hit, 0, 255).astype(np.uint8)
            return width, height, 4, np.concatenate(
                [px, a[:, :, None]], axis=2)
        return width, height, samples, px
    except (zlib.error, ValueError, struct.error, IndexError):
        return None


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode a (h, w) or (h, w, channels) uint8 array as a PNG, applying
    `filter_type` (0-4) to every scanline — the non-zero filters exist so
    tests can exercise every decoder unfilter path. channels: 1=gray,
    2=gray+alpha, 3=RGB, 4=RGBA."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.intp)
    # Every encode-side filter reads only RAW neighbors (no
    # reconstruction recurrence), so the whole image filters in one
    # vectorized pass — left/up/upper-left are just shifted views with a
    # zero border, value-identical to the old per-row loop.
    if filter_type == 0:
        filt = flat
    elif filter_type == 1:
        left = np.zeros_like(flat)
        left[:, ch:] = flat[:, :-ch]
        filt = (flat - left) & 0xFF
    elif filter_type == 2:
        prev = np.zeros_like(flat)
        prev[1:] = flat[:-1]
        filt = (flat - prev) & 0xFF
    elif filter_type == 3:
        left = np.zeros_like(flat)
        left[:, ch:] = flat[:, :-ch]
        prev = np.zeros_like(flat)
        prev[1:] = flat[:-1]
        filt = (flat - ((left + prev) >> 1)) & 0xFF
    elif filter_type == 4:
        left = np.zeros_like(flat)
        left[:, ch:] = flat[:, :-ch]
        prev = np.zeros_like(flat)
        prev[1:] = flat[:-1]
        ul = np.zeros_like(flat)
        ul[1:, ch:] = flat[:-1, :-ch]
        p = left + prev - ul
        pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                      np.abs(p - ul))
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, prev, ul))
        filt = (flat - pred) & 0xFF
    else:
        raise ValueError(f"filter_type {filter_type} not in 0..4")
    lines = np.empty((h, stride + 1), dtype=np.uint8)
    lines[:, 0] = filter_type
    lines[:, 1:] = filt
    lines = lines.tobytes()

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data \
            + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(lines))
            + chunk(b"IEND", b""))


def _chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data \
        + struct.pack(">I", crc)


def _rgb_keys(flat: np.ndarray) -> np.ndarray:
    """Pack (n, 3) uint8 RGB rows into uint32 keys whose numeric order IS
    the rows' lexicographic order — vectorizes palette building."""
    f = flat.astype(np.uint32)
    return (f[:, 0] << 16) | (f[:, 1] << 8) | f[:, 2]


def encode_png_palette(pixels: np.ndarray, alpha: np.ndarray | None = None,
                       filter_type: int = 0) -> bytes:
    """Encode a (h, w, 3) uint8 RGB array as an INDEXED-COLOR PNG
    (color type 3): PLTE carries the image's distinct colors in
    lexicographic (r, g, b) order — deterministic, so a SQL oracle can
    re-derive every index — and an optional tRNS chunk carries
    per-palette-entry alpha. The palette tier is the size win for
    low-cardinality images (thumbnails, charts, UI screenshots): 1 byte
    per pixel instead of 3, before the zlib pass.

    `alpha`, if given, is a per-pixel (h, w) uint8 plane that must be
    CONSTANT per color (tRNS stores alpha per palette ENTRY — a color
    with two different alphas has no indexed representation; ValueError).
    More than 256 distinct colors also raises — callers pick the
    truecolor tier (`encode_png`) instead. The scanline filter applies to
    the index plane (bpp=1), exercising the same five filter paths."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_png_palette expects (h, w, 3) RGB")
    h, w, _ = px.shape
    flat = px.reshape(-1, 3)
    # uint24-key unique: numeric order on (r<<16)|(g<<8)|b IS the rows'
    # lexicographic order, so palette and inverse are value-identical to
    # np.unique(flat, axis=0) at a fraction of the structured-sort cost
    keys = _rgb_keys(flat)
    ukeys, inverse = np.unique(keys, return_inverse=True)
    if ukeys.shape[0] > 256:
        raise ValueError(
            f"{ukeys.shape[0]} distinct colors > 256: use encode_png")
    palette = np.stack([(ukeys >> 16) & 0xFF, (ukeys >> 8) & 0xFF,
                        ukeys & 0xFF], axis=1).astype(np.uint8)
    idx = inverse.reshape(h, w).astype(np.uint8)

    trns_data = b""
    if alpha is not None:
        a = np.asarray(alpha, dtype=np.uint8).reshape(-1)
        if a.size != flat.shape[0]:
            raise ValueError("alpha plane must match pixel count")
        # one alpha per entry, checked vectorized: a color is invalid
        # iff its min and max alpha differ (the old per-entry unique
        # loop was O(colors x pixels))
        amin = np.full(palette.shape[0], 255, dtype=np.int64)
        amax = np.zeros(palette.shape[0], dtype=np.int64)
        np.minimum.at(amin, inverse, a)
        np.maximum.at(amax, inverse, a)
        bad = np.nonzero(amin != amax)[0]
        if bad.size:
            e = int(bad[0])
            vals = np.unique(a[inverse == e])
            raise ValueError(
                f"color {palette[e].tolist()} has {vals.size} alphas: "
                "tRNS stores one alpha per palette entry")
        trns_data = amin.astype(np.uint8).tobytes()

    # the index plane filters exactly like a grayscale image (bpp=1), so
    # reuse encode_png's filter pass and keep only its IDAT+IEND tail
    # (magic 8 + IHDR chunk 25 bytes), under a color-type-3 IHDR
    body = encode_png(idx, filter_type=filter_type)
    idat_iend = body[8 + 25:]
    ihdr_data = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    out = PNG_MAGIC + _chunk(b"IHDR", ihdr_data) \
        + _chunk(b"PLTE", palette.tobytes())
    if trns_data:
        out += _chunk(b"tRNS", trns_data)
    return out + idat_iend


def encode_png_auto(pixels: np.ndarray) -> bytes:
    """Tier-selecting encode: route through the indexed-color tier when
    the image is EXACTLY representable there — RGB(A) with <= 256
    distinct colors and, for RGBA, a single alpha per color (the tRNS
    constraint) — else the truecolor tier. Pixel-lossless either way
    (decode(encode_png_auto(px)) == px up to the gray->gray identity),
    so callers that fingerprint decoded pixels are tier-agnostic; the
    indexed tier is the transport-size win for low-cardinality images
    (thumbnails after NN resampling, charts, UI captures)."""
    filter_type = 0
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 3 and px.shape[2] in (3, 4):
        rgb = px[:, :, :3]
        ukeys, inverse = np.unique(_rgb_keys(rgb.reshape(-1, 3)),
                                   return_inverse=True)
        if ukeys.shape[0] <= 256:
            if px.shape[2] == 3:
                return encode_png_palette(rgb, filter_type=filter_type)
            a = px[:, :, 3].reshape(-1)
            # one alpha per color iff no entry sees two alpha values
            pairs = np.unique((inverse.astype(np.int64) << 8) | a)
            if pairs.shape[0] == ukeys.shape[0]:
                return encode_png_palette(rgb, alpha=px[:, :, 3],
                                          filter_type=filter_type)
    return encode_png(px, filter_type=filter_type)
