"""Dependency-free QOI codec — the fourth image container, implementing
the published "Quite OK Image" specification (qoiformat.org, 2022):
byte-oriented chunks over a running 64-entry color index —
QOI_OP_RUN (repeat previous pixel), QOI_OP_INDEX (hash-table recall),
QOI_OP_DIFF / QOI_OP_LUMA (small signed deltas), QOI_OP_RGB / QOI_OP_RGBA
(literal). Unlike PNG (zlib) and GIF (LZW), the whole compression model
lives in this file, so every op family is engine-owned correctness
surface.

Declared support: the full format (channels 3 or 4, either colorspace
byte). Decode always produces (h, w, 4) RGBA (a 3-channel file decodes
with alpha 255, per the spec's state machine). Anything malformed — bad
magic, zero/absurd dims, stream ending early, pixel overrun, missing
end marker — returns None so callers null-route to the raw-byte path.

Pure stdlib + numpy. Not derived from the reference repo (text-only; no
media surface — extension parity documented in COVERAGE.md).
"""

from __future__ import annotations

import struct
from array import array

import numpy as np

_MAX_PIXELS = 64 * 1024 * 1024

_END = b"\x00\x00\x00\x00\x00\x00\x00\x01"


def is_qoi(payload: bytes) -> bool:
    return payload[:4] == b"qoif"


def decode_qoi(payload: bytes):
    """Decode a QOI byte string to (width, height, rgba) with rgba an
    (h, w, 4) uint8 array, or None outside the declared support."""
    try:
        if not is_qoi(payload) or len(payload) < 14 + len(_END):
            return None
        w, h = struct.unpack(">II", payload[4:12])
        channels, _colorspace = payload[12], payload[13]
        if channels not in (3, 4) or w <= 0 or h <= 0:
            return None
        n = w * h
        if n > _MAX_PIXELS:
            return None
        if payload[-8:] != _END:
            return None
        data = payload[14:-8]
        # pixel state as ONE packed int (r<<24 | g<<16 | b<<8 | a):
        # int compares/appends are several times cheaper than 4-tuples.
        # Pixels collect in a uint32 array (4 bytes each, not a list of
        # Python ints), and the big-endian bytes of a packed pixel are
        # its RGBA, so the unpack to (h, w, 4) is one byte-swapping copy
        out = array("I")
        index = [0] * 64
        r, g, b, a = 0, 0, 0, 255
        px = 255
        pos = 0
        dlen = len(data)
        while len(out) < n:
            if pos >= dlen:
                return None
            b0 = data[pos]
            pos += 1
            if b0 == 0xFE:  # QOI_OP_RGB
                if pos + 3 > dlen:
                    return None
                r, g, b = data[pos], data[pos + 1], data[pos + 2]
                pos += 3
            elif b0 == 0xFF:  # QOI_OP_RGBA
                if pos + 4 > dlen:
                    return None
                r, g, b, a = (data[pos], data[pos + 1], data[pos + 2],
                              data[pos + 3])
                pos += 4
            elif b0 >> 6 == 0:  # QOI_OP_INDEX
                px = index[b0 & 0x3F]
                r, g, b, a = (px >> 24, (px >> 16) & 0xFF,
                              (px >> 8) & 0xFF, px & 0xFF)
                out.append(px)
                continue
            elif b0 >> 6 == 1:  # QOI_OP_DIFF (bias 2, alpha unchanged)
                r = (r + ((b0 >> 4) & 3) - 2) & 0xFF
                g = (g + ((b0 >> 2) & 3) - 2) & 0xFF
                b = (b + (b0 & 3) - 2) & 0xFF
            elif b0 >> 6 == 2:  # QOI_OP_LUMA
                if pos >= dlen:
                    return None
                dg = (b0 & 0x3F) - 32
                b1 = data[pos]
                pos += 1
                r = (r + dg + ((b1 >> 4) & 0x0F) - 8) & 0xFF
                g = (g + dg) & 0xFF
                b = (b + dg + (b1 & 0x0F) - 8) & 0xFF
            else:  # QOI_OP_RUN (bias -1; 0xFE/0xFF handled above)
                run = (b0 & 0x3F) + 1
                if len(out) + run > n:
                    return None
                out.extend([px] * run)
                continue
            px = (r << 24) | (g << 16) | (b << 8) | a
            index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = px
            out.append(px)
        if pos != dlen:
            return None  # trailing chunk bytes: refuse, don't guess
        rgba = np.frombuffer(out, np.uint32).astype(">u4").view(np.uint8)
        return w, h, rgba.reshape(h, w, 4)
    except (struct.error, ValueError, IndexError):
        return None


def encode_qoi(rgba: np.ndarray, channels: int = 4) -> bytes:
    """Encode an (h, w, 4) uint8 RGBA array per the reference encoder's
    greedy op order (run > index > diff > luma > literal). channels=3
    writes the 3-channel header and requires every alpha to be 255."""
    arr = np.asarray(rgba, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 4:
        raise ValueError("encode_qoi expects (h, w, 4) RGBA")
    if channels == 3 and not (arr[:, :, 3] == 255).all():
        raise ValueError("channels=3 requires opaque alpha")
    h, w, _ = arr.shape
    assert h > 0 and w > 0
    out = bytearray(b"qoif" + struct.pack(">II", w, h)
                    + bytes((channels, 0)))
    # pixel state as ONE packed int + batch-precomputed hashes: int
    # compares replace 4-tuple equality and the per-pixel _hash() call —
    # value-identical op stream (fuzz-pinned against the tuple form)
    flat = arr.reshape(-1, 4).astype(np.uint32)
    keys = ((flat[:, 0] << 24) | (flat[:, 1] << 16)
            | (flat[:, 2] << 8) | flat[:, 3]).tolist()
    hashes = ((flat[:, 0] * 3 + flat[:, 1] * 5 + flat[:, 2] * 7
               + flat[:, 3] * 11) % 64).tolist()
    index = [0] * 64
    px = 255  # (0, 0, 0, 255) packed
    run = 0
    for k, hx in zip(keys, hashes):
        if k == px:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            run = 0
        if index[hx] == k:
            out.append(hx)
        else:
            index[hx] = k
            if (k & 0xFF) == (px & 0xFF):
                dr = ((k >> 24) - (px >> 24) + 128) % 256 - 128
                dg = (((k >> 16) & 0xFF) - ((px >> 16) & 0xFF)
                      + 128) % 256 - 128
                db = (((k >> 8) & 0xFF) - ((px >> 8) & 0xFF)
                      + 128) % 256 - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2)
                               | (db + 2))
                elif (-32 <= dg <= 31 and -8 <= dr - dg <= 7
                        and -8 <= db - dg <= 7):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out += bytes((0xFE, k >> 24, (k >> 16) & 0xFF,
                                  (k >> 8) & 0xFF))
            else:
                out += bytes((0xFF, k >> 24, (k >> 16) & 0xFF,
                              (k >> 8) & 0xFF, k & 0xFF))
        px = k
    if run:
        out.append(0xC0 | (run - 1))
    return bytes(out) + _END
