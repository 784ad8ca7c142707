"""Dependency-free baseline JPEG codec (grayscale tier) — the flagship
transform codec: 8x8 DCT-II, standard Annex-K quantization (IJG quality
scaling) and Huffman tables, zigzag, DC DPCM, canonical Huffman entropy
coding with 0xFF byte stuffing, and the JFIF marker structure
(SOI / DQT / SOF0 / DHT / SOS / EOI).

Declared support: baseline sequential, 8-bit, grayscale (1 component)
AND color (3 components, YCbCr 4:4:4 with a shared quantization table
and FIXED-POINT color transforms — integer-exact like libjpeg's), no
subsampling, no restart intervals, no progressive/arithmetic modes;
anything else null-routes — honest boundaries, like every other codec
here. The encoder is the fixture builder; on images whose 8x8 blocks
are constant, the whole pipeline is integer-exact at quality 50
(q[0,0] = 16: decoded channel = min(2*floor((v-127)/2) + 128, 255),
composed with the fixed-point YCbCr transforms for color), which is
what lets a SQL oracle predict every decoded pixel while the full
Huffman/DPCM/bitstream machinery runs for real. General content
round-trips with the usual lossy bounded error (property-tested).

Pure stdlib + numpy; tables and layout from the public ITU T.81 spec
(Annex K). Not derived from the reference repo (text-only; no media
surface — extension parity documented in COVERAGE.md).
"""

from __future__ import annotations

import functools
import struct

import numpy as np

_MAX_PIXELS = 64 * 1024 * 1024

# Annex K.1 — standard luminance quantization table (natural order)
_BASE_QUANT = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int64)

# zigzag scan order: natural index of each zigzag position
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# Annex K.3 — standard luminance DC table: BITS (counts per code length
# 1..16) and HUFFVAL (symbols in canonical order)
_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))

# Annex K.3 — standard luminance AC table
_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA)


def _dct_matrix() -> np.ndarray:
    m = getattr(_dct_matrix, "_m", None)
    if m is None:
        x = np.arange(8)
        m = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2
        m[0, :] = 1 / np.sqrt(8)
        _dct_matrix._m = m
    return m


def quant_table(quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex-K luminance table. quality=50
    returns the base table verbatim (q[0,0] = 16 — the value the exact
    DC-only tier's arithmetic depends on)."""
    assert 1 <= quality <= 100
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_BASE_QUANT * scale + 50) // 100
    return np.clip(q, 1, 255)


def _canonical_codes(bits, vals):
    """Canonical Huffman code assignment per T.81 C.2: returns
    {symbol: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


# The encoders use only the two fixed Annex-K tables, so their code dicts
# are built once, at import.
_DC_CODES = _canonical_codes(_DC_BITS, _DC_VALS)
_AC_CODES = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec

    def marker(self, m: int) -> None:
        """Byte-align and emit a raw (unstuffed) marker — RSTn."""
        self.align()
        self.buf += bytes((0xFF, m))

    def flush(self) -> bytes:
        self.align()
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; any other marker mid-scan raises ValueError."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0

    def sync_restart(self, idx: int) -> None:
        """Drop pad bits and consume the expected byte-aligned RSTn
        marker (T.81 E.1.4); raises if it is absent or out of order."""
        self.n = 0
        if self.p + 2 > len(self.d) or self.d[self.p] != 0xFF \
                or self.d[self.p + 1] != 0xD0 + idx:
            raise ValueError("missing/mis-sequenced restart marker")
        self.p += 2

    def bit(self) -> int:
        if self.n == 0:
            if self.p >= len(self.d):
                raise ValueError("bitstream exhausted")
            b = self.d[self.p]
            self.p += 1
            if b == 0xFF:
                if self.p >= len(self.d) or self.d[self.p] != 0x00:
                    raise ValueError("marker inside scan")
                self.p += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1


def _extend(v: int, s: int) -> int:
    """T.81 F.12: decode an s-bit magnitude into a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _fdct_quant_blocks(blocks: np.ndarray, q) -> np.ndarray:
    """DCT + quantize ALL blocks of an image at once: (n, 8, 8) uint8 →
    (n, 64) int64 zigzag coefficients. One batched matmul pair replaces
    2n tiny BLAS calls — numpy's stacked matmul runs the identical gemm
    per 8x8 slice, so every coefficient is bit-identical to the per-block
    form (asserted by the differential test); per-row Python/numpy
    dispatch was the dominant encode cost in the Arrow kernels."""
    m = _dct_matrix()
    blk = blocks.astype(np.float64) - 128.0
    coef = m @ blk @ m.T
    # the DC basis is constant, so F(0,0) = sum/8 EXACTLY — replace the
    # float-rounded inner products (odd DC sums land on the quantizer's
    # half boundary, where matmul noise would otherwise decide the
    # round and break the integer-exact DC-only tier)
    coef[:, 0, 0] = blk.sum(axis=(1, 2)) / 8.0
    # symmetric round-half-up via floor(x/q + 0.5)
    zz = np.floor(coef / q + 0.5).astype(np.int64) \
        .reshape(-1, 64)[:, _ZIGZAG]
    # last nonzero AC index per block, batched (0 = DC-only block): the
    # per-block reverse scan was 63 Python steps per block, almost all
    # of them over zeros on real quantized data
    nz = zz[:, 1:] != 0
    last_nz = np.where(nz.any(axis=1),
                       63 - np.argmax(nz[:, ::-1], axis=1), 0)
    return zz, last_nz.tolist()


def _encode_block_zz(zz: list, last_nz: int, dc_codes, ac_codes, bw,
                     prev_dc: int) -> int:
    """Entropy-code ONE block's precomputed zigzag coefficients (a plain
    Python int list from `_fdct_quant_blocks(...)[0].tolist()`, with its
    batch-computed last-nonzero index); returns the new DC predictor.
    Pure Python — the bitstream is inherently sequential; all numpy work
    happens batched upstream."""
    new_dc = zz[0]
    diff = new_dc - prev_dc
    s = _category(diff)
    bw.put(*dc_codes[s])
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.put(*ac_codes[0xF0])  # ZRL
            run -= 16
        s = _category(v)
        bw.put(*ac_codes[(run << 4) | s])
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        bw.put(*ac_codes[0x00])  # EOB
    return new_dc


def _seg(marker: int, body: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body


def _headers(q, h: int, w: int, n_comp: int, subsample: bool = False,
             restart: int = 0) -> bytes:
    qz = q.reshape(64)[_ZIGZAG]
    dqt = _seg(0xDB, bytes((0,)) + bytes(int(x) for x in qz))
    comp = b"".join(
        bytes((c + 1, 0x22 if (subsample and c == 0) else 0x11, 0))
        for c in range(n_comp))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, h, w, n_comp) + comp)
    dht = _seg(0xC4, bytes((0x00,)) + bytes(_DC_BITS) + bytes(_DC_VALS)) \
        + _seg(0xC4, bytes((0x10,)) + bytes(_AC_BITS) + bytes(_AC_VALS))
    dri = _seg(0xDD, struct.pack(">H", restart)) if restart else b""
    scomp = b"".join(bytes((c + 1, 0x00)) for c in range(n_comp))
    sos = _seg(0xDA, bytes((n_comp,)) + scomp + bytes((0, 63, 0)))
    return b"\xFF\xD8" + dqt + sof + dht + dri + sos


def encode_jpeg_gray(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Encode an (h, w) uint8 grayscale image as baseline JFIF. Images
    whose dims aren't multiples of 8 pad by edge replication (decode
    crops back)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_gray expects (h, w) gray")
    h, w = arr.shape
    assert h > 0 and w > 0
    arr = np.pad(arr, ((0, -h % 8), (0, -w % 8)), mode="edge")
    q = quant_table(quality)
    bw = _BitWriter()
    # gather blocks in scan order (by, bx), batch the DCT+quantize
    blocks = (arr.reshape(arr.shape[0] // 8, 8, arr.shape[1] // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
    zzmat, last = _fdct_quant_blocks(blocks, q)
    prev_dc = 0
    for zz, ln in zip(zzmat.tolist(), last):
        prev_dc = _encode_block_zz(zz, ln, _DC_CODES, _AC_CODES, bw, prev_dc)
    return _headers(q, h, w, 1) + bw.flush() + b"\xFF\xD9"


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """FIXED-POINT color transform (coefficients x 1e6, floor(x + 0.5)
    rounding): integer-exact by construction, so a SQL oracle can replay
    it digit for digit — the same reason libjpeg uses fixed-point."""
    p = rgb.astype(np.int64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = (299000 * r + 587000 * g + 114000 * b + 500000) // 1000000
    cb = 128 + (-168736 * r - 331264 * g + 500000 * b
                + 500000) // 1000000
    cr = 128 + (500000 * r - 418688 * g - 81312 * b + 500000) // 1000000
    return np.clip(np.stack([y, cb, cr], axis=-1), 0, 255).astype(
        np.uint8)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """Fixed-point inverse of `rgb_to_ycbcr` (same 1e6 scale)."""
    p = ycc.astype(np.int64)
    y, cb, cr = p[..., 0], p[..., 1] - 128, p[..., 2] - 128
    r = (1000000 * y + 1402000 * cr + 500000) // 1000000
    g = (1000000 * y - 344136 * cb - 714136 * cr + 500000) // 1000000
    b = (1000000 * y + 1772000 * cb + 500000) // 1000000
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def encode_jpeg_rgb(pixels: np.ndarray, quality: int = 50) -> bytes:
    """Encode an (h, w, 3) uint8 RGB image as baseline color JFIF:
    fixed-point YCbCr, 4:4:4 (no subsampling), ONE shared quantization
    table, interleaved Y/Cb/Cr blocks per MCU with per-component DC
    predictors."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb expects (h, w, 3) RGB")
    h, w, _ = arr.shape
    assert h > 0 and w > 0
    ycc = rgb_to_ycbcr(arr)
    ycc = np.pad(ycc, ((0, -h % 8), (0, -w % 8), (0, 0)), mode="edge")
    q = quant_table(quality)
    bw = _BitWriter()
    # gather blocks in scan order (by, bx, c) — one MCU = one block per
    # component — and batch the DCT+quantize across all of them
    blocks = (ycc.reshape(ycc.shape[0] // 8, 8, ycc.shape[1] // 8, 8, 3)
              .transpose(0, 2, 4, 1, 3).reshape(-1, 8, 8))
    zzmat, last = _fdct_quant_blocks(blocks, q)
    prev = [0, 0, 0]
    for i, (zz, ln) in enumerate(zip(zzmat.tolist(), last)):
        c = i % 3
        prev[c] = _encode_block_zz(zz, ln, _DC_CODES, _AC_CODES, bw, prev[c])
    return _headers(q, h, w, 3) + bw.flush() + b"\xFF\xD9"


def subsample_420(plane: np.ndarray) -> np.ndarray:
    """2x2 mean with floor((sum + 2) / 4) rounding — integer-exact, so
    the oracle tier (constant 16x16 macro-tiles) passes through it
    unchanged. Expects even dims."""
    p = plane.astype(np.int64)
    return ((p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2]
             + p[1::2, 1::2] + 2) // 4).astype(np.uint8)


def encode_jpeg_420(pixels: np.ndarray, quality: int = 50,
                    restart: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB image as 4:2:0 baseline color
    JFIF — the sampling nearly every real-world JPEG uses: Y at full
    resolution (sampling 0x22), Cb/Cr 2x2-subsampled; each MCU is a
    16x16 region carrying four Y blocks (left-to-right, top-to-bottom)
    then one Cb and one Cr block. With `restart` > 0, a DRI segment is
    written and an RSTn marker (byte-aligned, predictors reset) closes
    every `restart` MCUs — the feature that makes huge JPEGs
    PARALLEL-decodable, since each restart segment is independently
    entropy-decodable."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_jpeg_420 expects (h, w, 3) RGB")
    h, w, _ = arr.shape
    assert h > 0 and w > 0
    ycc = rgb_to_ycbcr(arr)
    ycc = np.pad(ycc, ((0, -h % 16), (0, -w % 16), (0, 0)), mode="edge")
    y_pl = ycc[:, :, 0]
    cb_pl = subsample_420(ycc[:, :, 1])
    cr_pl = subsample_420(ycc[:, :, 2])
    q = quant_table(quality)
    bw = _BitWriter()
    n_mcu_x = ycc.shape[1] // 16
    n_mcu_y = ycc.shape[0] // 16
    total = n_mcu_x * n_mcu_y
    # gather blocks in MCU emission order — per MCU: Y(0,0) Y(0,8)
    # Y(8,0) Y(8,8), Cb, Cr — and batch the DCT+quantize across all
    yb = (y_pl.reshape(n_mcu_y, 2, 8, n_mcu_x, 2, 8)
          .transpose(0, 3, 1, 4, 2, 5).reshape(total, 4, 8, 8))
    cb = (cb_pl.reshape(n_mcu_y, 8, n_mcu_x, 8)
          .transpose(0, 2, 1, 3).reshape(total, 1, 8, 8))
    cr = (cr_pl.reshape(n_mcu_y, 8, n_mcu_x, 8)
          .transpose(0, 2, 1, 3).reshape(total, 1, 8, 8))
    zzmat, last = _fdct_quant_blocks(
        np.concatenate([yb, cb, cr], axis=1).reshape(-1, 8, 8), q)
    zz_rows = zzmat.tolist()
    prev = [0, 0, 0]
    rst = 0
    comp_of = (0, 0, 0, 0, 1, 2)
    for mcu_i in range(total):
        base = mcu_i * 6
        for b in range(6):
            c = comp_of[b]
            prev[c] = _encode_block_zz(zz_rows[base + b], last[base + b],
                                       _DC_CODES, _AC_CODES, bw, prev[c])
        if restart and (mcu_i + 1) % restart == 0 and mcu_i + 1 < total:
            bw.marker(0xD0 + rst)
            rst = (rst + 1) % 8
            prev = [0, 0, 0]
    return (_headers(q, h, w, 3, subsample=True, restart=restart)
            + bw.flush() + b"\xFF\xD9")


def is_jpeg(payload: bytes) -> bool:
    return payload[:2] == b"\xFF\xD8"


def jpeg_n_components(payload: bytes):
    """Cheap gray/color probe: walk markers only as far as the baseline
    SOF0 and return its component count (1 or 3), or None when no SOF0
    appears before the scan. No Huffman/scan decode — this is what lets
    a stats kernel dispatch to `decode_jpeg_gray` vs `decode_jpeg_rgb`
    without entropy-decoding every color file twice."""
    try:
        if not is_jpeg(payload):
            return None
        pos, n = 2, len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker in (0xD9, 0xDA):
                return None  # EOI / scan start without SOF0
            (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
            if ln < 2 or pos + 2 + ln > n:
                return None
            if marker == 0xC0:
                nc = payload[pos + 9]
                return nc if nc in (1, 3) else None
            pos += 2 + ln
        return None
    except (IndexError, struct.error):
        return None


def decode_jpeg_gray(payload: bytes):
    """Decode a baseline GRAYSCALE JFIF byte string to (width, height,
    pixels) with pixels an (h, w) uint8 array, or None outside the
    declared support (a 3-component file null-routes here; use
    `decode_jpeg_rgb`)."""
    d = _decode_jfif(payload)
    if d is None or d[2] != 1:
        return None
    return d[0], d[1], d[3][0]


def decode_jpeg_rgb(payload: bytes):
    """Decode a baseline COLOR (YCbCr 4:4:4) JFIF byte string to
    (width, height, rgb) with rgb an (h, w, 3) uint8 array via the
    fixed-point inverse transform, or None outside the declared support
    (grayscale files null-route here; subsampled / progressive / DRI
    files null-route everywhere)."""
    d = _decode_jfif(payload)
    if d is None or d[2] != 3:
        return None
    w, h, _nc, planes = d
    ycc = np.stack(planes, axis=-1)
    return w, h, ycbcr_to_rgb(ycc)


def _decode_jfif(payload: bytes):
    """Shared marker walk + scan decode: returns (w, h, n_comp,
    [plane, ...]) or None."""
    p = _parse_scan_params(payload)
    if p is None:
        return None
    w, h, q, specs, samplings, restart, scan_pos = p
    try:
        planes = _decode_scan(payload, scan_pos, w, h, q, specs,
                              samplings, restart)
    except (struct.error, ValueError, IndexError):
        return None
    if planes is None:
        return None
    return w, h, len(specs), planes


def _parse_scan_params(payload: bytes):
    """Marker walk up to (and including) the SOS header: returns
    (w, h, q, specs, samplings, restart, scan_pos) with scan_pos the
    byte offset of the entropy-coded data, or None outside the declared
    support — exactly the null-routing `_decode_jfif` always had."""
    try:
        if not is_jpeg(payload):
            return None
        pos = 2
        q = None
        w = h = None
        samplings = None
        restart = 0
        tables = {}
        n = len(payload)
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker == 0xD9:
                return None  # EOI before SOS
            (ln,) = struct.unpack(">H", payload[pos + 2:pos + 4])
            body = payload[pos + 4:pos + 2 + ln]
            if len(body) != ln - 2:
                return None
            if marker == 0xDB:
                p = 0
                while p < len(body):
                    pq, tq = body[p] >> 4, body[p] & 0x0F
                    if pq != 0 or tq != 0 or p + 65 > len(body):
                        return None  # 8-bit table 0 only
                    zz = np.frombuffer(body, np.uint8, 64, p + 1)
                    nat = np.empty(64, dtype=np.int64)
                    nat[_ZIGZAG] = zz
                    q = nat.reshape(8, 8)
                    p += 65
            elif marker == 0xC0:
                prec, h, w, nc = struct.unpack(">BHHB", body[:6])
                if prec != 8 or nc not in (1, 3):
                    return None
                samplings = tuple(body[7 + 3 * c] for c in range(nc))
                if any(body[8 + 3 * c] != 0 for c in range(nc)):
                    return None  # shared quant table only
                if samplings not in ((0x11,), (0x11,) * 3,
                                     (0x22, 0x11, 0x11)):
                    return None  # 4:4:4 or 4:2:0 only
                if w <= 0 or h <= 0 or w * h * nc > _MAX_PIXELS:
                    return None
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # non-baseline SOF
            elif marker == 0xDD:
                if len(body) != 2:
                    return None
                (restart,) = struct.unpack(">H", body)
            elif marker == 0xC4:
                p = 0
                while p < len(body):
                    tc, th = body[p] >> 4, body[p] & 0x0F
                    if p + 17 > len(body):
                        return None
                    bits = tuple(body[p + 1:p + 17])
                    cnt = sum(bits)
                    if p + 17 + cnt > len(body):
                        return None
                    vals = tuple(body[p + 17:p + 17 + cnt])
                    tables[(tc, th)] = (bits, vals)
                    p += 17 + cnt
            elif marker == 0xDA:
                if q is None or w is None:
                    return None
                ns = body[0]
                specs = []
                for c in range(ns):
                    sel = body[2 + 2 * c]
                    if (0, sel >> 4) not in tables \
                            or (1, sel & 0x0F) not in tables:
                        return None
                    specs.append((tables[(0, sel >> 4)],
                                  tables[(1, sel & 0x0F)]))
                if ns not in (1, 3) or samplings is None \
                        or len(samplings) != ns:
                    return None
                return w, h, q, specs, samplings, restart, pos + 2 + ln
            pos += 2 + ln
        return None
    except (struct.error, ValueError, IndexError):
        return None


@functools.lru_cache(maxsize=256)
def _huff_decoder(bits, vals):
    """mincode/maxcode/valptr decode tables per T.81 F.2.2.3. Cached by
    the (bits, vals) header tuples — every fixture (and virtually every
    real-world corpus) reuses a handful of tables, so rebuilding the
    three dicts per image per component was pure per-row overhead."""
    mincode, maxcode, valptr = {}, {}, {}
    code = 0
    k = 0
    for ln in range(1, 17):
        if bits[ln - 1]:
            valptr[ln] = k
            mincode[ln] = code
            code += bits[ln - 1]
            k += bits[ln - 1]
            maxcode[ln] = code - 1
        else:
            maxcode[ln] = -1
        code <<= 1
    return mincode, maxcode, valptr, vals


def _read_symbol(br: _BitReader, tbl) -> int:
    mincode, maxcode, valptr, vals = tbl
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        if maxcode[ln] >= 0 and code <= maxcode[ln]:
            return vals[valptr[ln] + code - mincode[ln]]
    raise ValueError("invalid Huffman code")


def _decode_block_zz(br, dc_tbl, ac_tbl, prev_dc):
    """Entropy-decode ONE block into a plain Python list of 64 zigzag
    coefficients; returns (zz, new_dc). Pure Python — the bitstream is
    inherently sequential; dequantize+IDCT happen batched downstream
    (`_idct_blocks`), which removed the dominant per-block numpy
    dispatch cost from the Arrow decode kernels."""
    zz = [0] * 64
    s = _read_symbol(br, dc_tbl)
    if s > 11:
        raise ValueError("DC category out of range")
    if s:
        v = 0
        for _ in range(s):
            v = (v << 1) | br.bit()
        prev_dc += _extend(v, s)
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = _read_symbol(br, ac_tbl)
        if rs == 0x00:
            break
        if rs == 0xF0:
            k += 16
            continue
        run, size = rs >> 4, rs & 0x0F
        k += run
        if k > 63 or size == 0:
            raise ValueError("AC run overflow")
        v = 0
        for _ in range(size):
            v = (v << 1) | br.bit()
        zz[k] = _extend(v, size)
        k += 1
    return zz, prev_dc


def _idct_blocks(zz_rows, q) -> np.ndarray:
    """Dequantize + IDCT ALL blocks of an image at once: a list of
    64-int zigzag rows → (n, 8, 8) uint8 pixels. The batched matmul pair
    runs the identical gemm per 8x8 slice, so every pixel is
    bit-identical to the per-block form (asserted by the differential
    test)."""
    m = _dct_matrix()
    zz = np.asarray(zz_rows, dtype=np.int64).reshape(-1, 64)
    nat = np.zeros((zz.shape[0], 64), dtype=np.int64)
    nat[:, _ZIGZAG] = zz
    coef = nat.reshape(-1, 8, 8) * q
    blk = m.T @ coef.astype(np.float64) @ m
    return np.clip(np.floor(blk + 128.5), 0, 255).astype(np.uint8)


def _decode_scan(payload, pos, w, h, q, specs, samplings, restart):
    """Entropy-decode the (interleaved) scan — 4:4:4 (one block per
    component per MCU) or 4:2:0 (four Y + Cb + Cr per 16x16 MCU) — with
    optional restart intervals (RSTn sync + predictor reset). Returns
    full-size component planes (chroma upsampled by replication for
    4:2:0), cropped, or None."""
    n_comp = len(specs)
    is420 = samplings == (0x22, 0x11, 0x11)
    mcu = 16 if is420 else 8
    mx_n, my_n = (w + mcu - 1) // mcu, (h + mcu - 1) // mcu
    if mx_n * my_n * mcu * mcu * n_comp > _MAX_PIXELS * 2:
        return None
    tbls = [(_huff_decoder(*dc), _huff_decoder(*ac)) for dc, ac in specs]
    br = _BitReader(payload, pos)
    bpm = 6 if is420 else n_comp
    prev = [0] * n_comp
    rst = 0
    total = mx_n * my_n
    # Phase 1 — sequential entropy decode (pure Python) collecting every
    # block's zigzag coefficients in MCU emission order.
    rows: list = []
    for mcu_i in range(1, total + 1):
        if is420:
            for _b in range(4):
                zz, prev[0] = _decode_block_zz(br, *tbls[0], prev[0])
                rows.append(zz)
            zz, prev[1] = _decode_block_zz(br, *tbls[1], prev[1])
            rows.append(zz)
            zz, prev[2] = _decode_block_zz(br, *tbls[2], prev[2])
            rows.append(zz)
        else:
            for c in range(n_comp):
                zz, prev[c] = _decode_block_zz(br, *tbls[c], prev[c])
                rows.append(zz)
        if restart and mcu_i % restart == 0 and mcu_i < total:
            br.sync_restart(rst)
            rst = (rst + 1) % 8
            prev = [0] * n_comp
    # after the scan only pad bits and EOI may remain
    tail = payload[br.p:]
    if not tail.startswith(b"\xFF\xD9"):
        return None
    # Phase 2 — batched dequant+IDCT, then the same vectorized
    # blockgrid→plane scatter (+ chroma upsample + crop) the
    # segment-parallel path uses; pinned byte-identical in tests.
    ab = _idct_blocks(rows, q).reshape(total, bpm, 8, 8)
    return reassemble_segments(w, h, samplings, restart, [ab])


# ---------------------------------------------------------------------------
# Segment-parallel restart decode
#
# T.81 E.1.4: restart markers are byte-aligned, DC predictors reset at
# each, and byte stuffing guarantees 0xFF inside entropy-coded data is
# always followed by 0x00 — so (a) a linear BYTE scan for 0xFF 0xD0-D7
# finds the exact segment boundaries with no entropy decode, and (b)
# each segment decodes independently of every other. That is what makes
# a huge JPEG parallel-decodable: split → fan the segments out (Spark
# mapInPandas in `multimodal.decode_jpeg_restart_distributed`) →
# reassemble. Equivalence with the whole-file decoder is pinned in
# tests/test_jpeg_codec.py and receipted at scale by
# tools/stress_jpeg_restart.py.

def split_restart_segments(payload: bytes):
    """Split a DRI-bearing baseline JFIF scan at its RSTn boundaries.

    Returns (w, h, q, specs, samplings, restart, segments) where
    `segments[i]` is the entropy-coded slice (markers stripped) covering
    MCUs [i*restart, min((i+1)*restart, total)); or None when the file
    has no restart interval or is outside the decoder's support. RSTn
    sequence numbers are checked (they cycle 0-7) so a dropped marker
    null-routes here exactly as it does in the sequential decoder."""
    p = _parse_scan_params(payload)
    if p is None:
        return None
    w, h, q, specs, samplings, restart, scan_pos = p
    if restart == 0:
        return None
    is420 = samplings == (0x22, 0x11, 0x11)
    mcu = 16 if is420 else 8
    total = ((w + mcu - 1) // mcu) * ((h + mcu - 1) // mcu)
    segments = []
    start = pos = scan_pos
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] != 0xFF:
            pos += 1
            continue
        m = payload[pos + 1]
        if m == 0x00:
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            if m - 0xD0 != len(segments) % 8:
                return None  # mis-sequenced restart marker
            segments.append(payload[start:pos])
            start = pos = pos + 2
        elif m == 0xD9:
            segments.append(payload[start:pos])
            if len(segments) != (total + restart - 1) // restart:
                return None  # marker count disagrees with the geometry
            return w, h, q, specs, samplings, restart, segments
        else:
            return None  # foreign marker inside the scan
    return None  # no EOI


def decode_restart_segment(seg: bytes, n_mcus: int, q, specs,
                           samplings) -> np.ndarray:
    """Decode ONE restart segment's MCUs with fresh DC predictors.

    Returns (n_mcus, blocks_per_mcu, 8, 8) uint8 spatial blocks; per-MCU
    block order is Y00,Y01,Y10,Y11,Cb,Cr for 4:2:0, else one block per
    component. Raises ValueError on a corrupt or over-long segment —
    the distributed caller maps that to the same null-route the
    sequential decoder takes."""
    n_comp = len(specs)
    is420 = samplings == (0x22, 0x11, 0x11)
    bpm = 6 if is420 else n_comp
    tbls = [(_huff_decoder(*dc), _huff_decoder(*ac))
            for dc, ac in specs]
    br = _BitReader(seg, 0)
    prev = [0] * n_comp
    rows: list = []
    for _k in range(n_mcus):
        if is420:
            for _b in range(4):
                zz, prev[0] = _decode_block_zz(br, *tbls[0], prev[0])
                rows.append(zz)
            zz, prev[1] = _decode_block_zz(br, *tbls[1], prev[1])
            rows.append(zz)
            zz, prev[2] = _decode_block_zz(br, *tbls[2], prev[2])
            rows.append(zz)
        else:
            for c in range(n_comp):
                zz, prev[c] = _decode_block_zz(br, *tbls[c], prev[c])
                rows.append(zz)
    if br.p != len(seg):
        raise ValueError("trailing bytes in restart segment")
    return _idct_blocks(rows, q).reshape(n_mcus, bpm, 8, 8)


def reassemble_segments(w: int, h: int, samplings, restart: int,
                        seg_blocks) -> list:
    """Scatter per-segment MCU blocks (ordered list, one array per
    segment as `decode_restart_segment` returns) back into full
    component planes — byte-identical to `_decode_scan` on the same
    file. Chroma is replication-upsampled for 4:2:0 and every plane is
    cropped to (h, w), matching the sequential path exactly."""
    is420 = samplings == (0x22, 0x11, 0x11)
    mcu = 16 if is420 else 8
    mx_n, my_n = (w + mcu - 1) // mcu, (h + mcu - 1) // mcu
    # segments are contiguous MCU runs, so concatenation puts MCU k at
    # index k — the whole scatter is one vectorized blockgrid→plane
    # transpose per component, no per-MCU Python loop
    ab = np.concatenate(seg_blocks, axis=0)
    if is420:
        # per-MCU block order Y00,Y01,Y10,Y11: axes (my, mx, bdy, bdx,
        # py, px) → (my, bdy, py, mx, bdx, px)
        y_pl = (ab[:, :4].reshape(my_n, mx_n, 2, 2, 8, 8)
                .transpose(0, 2, 4, 1, 3, 5)
                .reshape(my_n * 16, mx_n * 16))
        cb_pl = (ab[:, 4].reshape(my_n, mx_n, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(my_n * 8, mx_n * 8))
        cr_pl = (ab[:, 5].reshape(my_n, mx_n, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(my_n * 8, mx_n * 8))
    else:
        planes = [
            ab[:, c].reshape(my_n, mx_n, 8, 8)
            .transpose(0, 2, 1, 3).reshape(my_n * 8, mx_n * 8)
            for c in range(ab.shape[1])]
    if is420:
        planes = [y_pl,
                  np.repeat(np.repeat(cb_pl, 2, axis=0), 2, axis=1),
                  np.repeat(np.repeat(cr_pl, 2, axis=0), 2, axis=1)]
    return [pl[:h, :w].copy() for pl in planes]
