"""Dependency-free WAV/PCM codec — the audio analogue of `png_codec.py`.

Gives the audio modality REAL decode (the r8 verdict's next-slice ask):
RIFF/WAVE container parsing with uncompressed PCM payloads, 8-bit unsigned
and 16-bit signed little-endian, mono or multi-channel — plus the G.711
COMPANDED tiers (format tag 6 = A-law, 7 = mu-law), expanded to linear
int16 through the published CCITT segment/mantissa formulas, and the
PREDICTIVE tier: mono IMA ADPCM (format tag 0x11), the 4-bit
differential codec whose per-nibble predictor/step-index state machine
is decoded from the published step and index-adjust tables. Everything
outside that declared surface — other compressed codecs, 24/32-bit,
stereo ADPCM, truncated containers, wrong magic — returns None so
callers null-route to the raw-byte path exactly like unsupported PNGs
do.

Pure stdlib `struct` + numpy; format layout from the public RIFF/WAVE
specification (the canonical fmt/data chunk layout every WAV reader
implements). Not derived from the reference repo (text-only; no media
surface — extension parity documented in COVERAGE.md).
"""

from __future__ import annotations

import struct

import numpy as np

WAV_MAGIC = b"RIFF"

# absurd-size guard: refuse to allocate for a data chunk promising more
# than this many bytes (mirrors png_codec's pre-allocation cap)
_MAX_DATA_BYTES = 256 * 1024 * 1024


def is_wav(payload: bytes) -> bool:
    return (len(payload) >= 12 and payload[:4] == WAV_MAGIC
            and payload[8:12] == b"WAVE")


def _g711_tables():
    """256-entry mu-law / A-law expansion tables from the published
    CCITT G.711 formulas (sign/segment/mantissa; mu-law bias 132,
    A-law even-bit inversion 0x55 with sign bit 0x80 = positive).
    Built once, cached on the function object."""
    cached = getattr(_g711_tables, "_cached", None)
    if cached is not None:
        return cached
    b = np.arange(256)
    # mu-law: u = ~b; t = ((mant<<3)+132)<<seg − 132; bit 7 set = negative
    u = 255 - b
    t = (((u & 0x0F) << 3) + 132) * (1 << ((u >> 4) & 0x07)) - 132
    ulaw = np.where(u & 0x80, -t, t).astype(np.int16)
    # A-law: a = b ^ 0x55; seg 0: t = (mant<<4)+8, else ((mant<<4)+0x108)
    # << (seg−1); bit 7 set = POSITIVE (opposite of mu-law)
    a = b ^ 0x55
    seg = (a >> 4) & 0x07
    mant = a & 0x0F
    t = np.where(seg == 0, (mant << 4) + 8,
                 ((mant << 4) + 0x108) << np.maximum(seg - 1, 0))
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)
    _g711_tables._cached = (ulaw, alaw)
    return ulaw, alaw


# the published IMA ADPCM quantizer step table (89 entries) and
# index-adjust table — the same constants the SQL oracle embeds
ADPCM_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
ADPCM_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _adpcm_tables():
    """(index, nibble) → signed diff and → next index, precomputed once:
    the per-nibble state update collapses to two list lookups + a clamp —
    the published formulas evaluated ahead of time, value-identical."""
    cached = getattr(_adpcm_tables, "_cached", None)
    if cached is not None:
        return cached
    diff_t, next_t = [], []
    for index in range(89):
        step = ADPCM_STEPS[index]
        drow, nrow = [], []
        for n in range(16):
            diff = step >> 3
            if n & 1:
                diff += step >> 2
            if n & 2:
                diff += step >> 1
            if n & 4:
                diff += step
            if n & 8:
                diff = -diff
            drow.append(diff)
            nrow.append(min(88, max(0, index + ADPCM_INDEX_ADJ[n & 7])))
        diff_t.append(drow)
        next_t.append(nrow)
    _adpcm_tables._cached = (diff_t, next_t)
    return diff_t, next_t


def _decode_adpcm_block(block: bytes):
    """Decode one mono IMA ADPCM block: 4-byte header (int16 predictor =
    sample 0, step index, reserved 0) + data bytes of two nibbles each
    (low first). Returns the int16 samples (1 + 2*(len-4) of them) or
    None when the header is malformed (index > 88, reserved != 0)."""
    pred = int.from_bytes(block[:2], "little", signed=True)
    index = block[2]
    if index > 88 or block[3] != 0:
        return None
    diff_t, next_t = _adpcm_tables()
    out = [pred]
    for byte in block[4:]:
        for n in (byte & 0x0F, byte >> 4):
            pred += diff_t[index][n]
            if pred > 32767:
                pred = 32767
            elif pred < -32768:
                pred = -32768
            index = next_t[index][n]
            out.append(pred)
    return np.array(out, dtype=np.int16)


def decode_wav(payload: bytes):
    """Decode a WAV byte string to (sample_rate, n_channels, bits,
    samples) where samples is an (n_frames, n_channels) numpy array —
    uint8 for 8-bit PCM (unsigned, 128-centered per the format), int16
    for 16-bit. G.711 companded tiers (format tag 6 = A-law, 7 = mu-law,
    8-bit containers) return the EXPANDED linear domain: int16 samples
    with bits = 16, so downstream DSP treats all tiers uniformly.
    Returns None for anything outside the declared support (not
    RIFF/WAVE, other format tags, bits not in {8, 16}, companded with
    bits != 8, zero or inconsistent geometry, truncated data chunk)."""
    try:
        if not is_wav(payload):
            return None
        pos, n = 12, len(payload)
        fmt = None
        data = None
        while pos + 8 <= n:
            cid = payload[pos:pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
            body = payload[pos + 8:pos + 8 + size]
            if len(body) < size:
                return None  # truncated chunk
            pos += 8 + size + (size & 1)  # chunks pad to even offsets
            if cid == b"fmt " and fmt is None:
                if size < 16:
                    return None
                fmt = struct.unpack("<HHIIHH", body[:16])
                fmt_body = body
            elif cid == b"data" and data is None:
                data = body
        if fmt is None or data is None:
            return None
        audio_format, channels, sample_rate, _brate, block_align, bits = fmt
        if audio_format == 0x11:
            # mono IMA ADPCM: needs the extended fmt (cbSize=2) carrying
            # samples_per_block, which must agree with the block layout
            if channels != 1 or bits != 4 or block_align < 5:
                return None
            if len(fmt_body) < 20:
                return None
            (spb,) = struct.unpack("<H", fmt_body[18:20])
            if spb != (block_align - 4) * 2 + 1:
                return None
            if sample_rate <= 0 or len(data) > _MAX_DATA_BYTES:
                return None
            if len(data) == 0 or len(data) % block_align:
                return None  # trailing partial block: refuse, don't guess
            parts = []
            for off in range(0, len(data), block_align):
                block = _decode_adpcm_block(data[off:off + block_align])
                if block is None:
                    return None
                parts.append(block)
            return sample_rate, 1, 16, np.concatenate(parts)[:, None]
        if audio_format not in (1, 6, 7) or channels < 1:
            return None
        if audio_format == 1 and bits not in (8, 16):
            return None
        if audio_format in (6, 7) and bits != 8:
            return None  # G.711 is an 8-bit-per-sample code by definition
        if sample_rate <= 0 or len(data) > _MAX_DATA_BYTES:
            return None
        if block_align != channels * (bits // 8):
            return None
        n_frames = len(data) // block_align
        data = data[: n_frames * block_align]
        if n_frames == 0:
            return None
        if audio_format in (6, 7):
            ulaw, alaw = _g711_tables()
            codes = np.frombuffer(data, dtype=np.uint8).reshape(
                n_frames, channels)
            samples = (ulaw if audio_format == 7 else alaw)[codes]
            return sample_rate, channels, 16, samples
        dtype = np.uint8 if bits == 8 else np.dtype("<i2")
        samples = np.frombuffer(data, dtype=dtype).reshape(
            n_frames, channels)
        return sample_rate, channels, bits, samples
    except (struct.error, ValueError):
        return None


def encode_wav(samples: np.ndarray, sample_rate: int,
               bits: int = 16) -> bytes:
    """Encode an (n,) or (n, channels) array as PCM WAV — uint8 for
    bits=8, int16 little-endian for bits=16. The test-fixture synthesizer
    for the decoder's property tests and the deterministic audio payload
    builder (`multimodal.attach_audio`)."""
    assert bits in (8, 16)
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_frames, channels = arr.shape
    dtype = np.uint8 if bits == 8 else np.dtype("<i2")
    body = arr.astype(dtype).tobytes()
    block_align = channels * (bits // 8)
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * block_align, block_align, bits)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(body)) + body
              + (b"\x00" if len(body) & 1 else b""))
    return (WAV_MAGIC + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks)


def encode_wav_adpcm(blocks: list) -> bytes:
    """Wrap mono IMA ADPCM blocks — each a (predictor int16, step_index
    0..88, data bytes) triple; all data the same length — in a
    RIFF/WAVE container (format tag 0x11, bits 4, extended fmt with
    samples_per_block). The payload builder for the predictive tier;
    decode_wav replays the nibble state machine."""
    sample_rate = 8000
    assert blocks
    dlen = len(blocks[0][2])
    body = bytearray()
    for pred, index, dat in blocks:
        assert len(dat) == dlen and 0 <= index <= 88
        body += int(pred).to_bytes(2, "little", signed=True)
        body += bytes((index, 0)) + bytes(dat)
    block_align = 4 + dlen
    spb = dlen * 2 + 1
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, sample_rate,
                      sample_rate * block_align // spb, block_align, 4,
                      2, spb)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(body)) + bytes(body)
              + (b"\x00" if len(body) & 1 else b""))
    return (WAV_MAGIC + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks)


def encode_wav_g711(codes: np.ndarray, sample_rate: int,
                    law: str = "mu") -> bytes:
    """Wrap raw G.711 companded CODE bytes — (n,) or (n, channels)
    uint8 — in a RIFF/WAVE container with format tag 7 (mu-law) or 6
    (A-law). The payload builder for the companded tiers; decode_wav
    expands the codes back to linear int16 through the CCITT tables."""
    assert law in ("mu", "a")
    arr = np.asarray(codes, dtype=np.uint8)
    if arr.ndim == 1:
        arr = arr[:, None]
    _n_frames, channels = arr.shape
    body = arr.tobytes()
    tag = 7 if law == "mu" else 6
    fmt = struct.pack("<HHIIHH", tag, channels, sample_rate,
                      sample_rate * channels, channels, 8)
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"data" + struct.pack("<I", len(body)) + body
              + (b"\x00" if len(body) & 1 else b""))
    return (WAV_MAGIC + struct.pack("<I", 4 + len(chunks)) + b"WAVE"
            + chunks)
