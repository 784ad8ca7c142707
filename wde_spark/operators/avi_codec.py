"""Dependency-free AVI/DIB video codec — the video analogue of
`wav_codec.py` (same RIFF container family) and `png_codec.py`.

Moves the VIDEO modality from the declared byte-slice stub to REAL
decode for two tiers: RIFF/AVI container parsing with uncompressed DIB
('00db') frame payloads — 8-bit palettized and 24-bit BGR, bottom-up or
top-down rows, 4-byte-aligned strides — and COMPRESSED 8-bit BI_RLE8
('00dc') frames: Microsoft run-length encoding with encoded runs,
absolute (literal) packets, end-of-line / end-of-bitmap / delta
escapes. Everything outside that declared surface — other compression
tags, other bit depths, truncated containers, geometry that disagrees
between headers and frame bytes, RLE streams that write out of bounds —
returns None so callers null-route to the raw-byte path exactly like
unsupported PNGs/WAVs do. Inter-frame predictive codecs (H.264 etc.)
remain environment-dependent (no libav here); the uncompressed and
RLE8 tiers are the ones a dependency-free engine can make
hash-checkable.

Pure stdlib `struct` + numpy; layout from the public RIFF/AVI and
BITMAPINFOHEADER specifications (the canonical hdrl/strl/movi chunk
tree every AVI reader implements). Not derived from the reference repo
(text-only; no media surface — extension parity documented in
COVERAGE.md).

Decoded frames are always (h, w, 3) uint8 RGB: 8-bit indices expand
through the palette (RGBQUAD order is B,G,R,reserved), 24-bit rows
reorder BGR → RGB — one canonical pixel layout downstream kernels and
SQL oracles can share across both tiers.
"""

from __future__ import annotations

import struct

import numpy as np

RIFF_MAGIC = b"RIFF"

# absurd-size guard: refuse to allocate for frame geometry promising more
# than this many bytes (mirrors png_codec / wav_codec caps)
_MAX_FRAME_BYTES = 256 * 1024 * 1024

# 256 one-byte strings for RLE run fills (bytes((v,)) allocates per packet)
_BYTE = [bytes((v,)) for v in range(256)]


def is_avi(payload: bytes) -> bool:
    return (len(payload) >= 12 and payload[:4] == RIFF_MAGIC
            and payload[8:12] == b"AVI ")


def _iter_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) walking a RIFF chunk run;
    chunks pad to even offsets."""
    while pos + 8 <= end:
        cid = buf[pos:pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4:pos + 8])
        body = pos + 8
        if body + size > end:
            return  # truncated chunk: caller treats missing parts as absent
        yield cid, body, size
        pos = body + size + (size & 1)


def _stride(width: int, bits: int) -> int:
    return ((width * (bits // 8) + 3) // 4) * 4


def _decode_rle8(blob: bytes, width: int, height: int):
    """Decode one Microsoft BI_RLE8 frame to an (h, w) uint8 index
    plane (bottom-up storage order, caller flips). Packet grammar per
    the public BITMAPINFOHEADER spec: (count>0, value) = encoded run;
    (0, 0) = end of line; (0, 1) = end of bitmap; (0, 2, dx, dy) =
    delta skip; (0, n>=3, n literal bytes, pad-to-even) = absolute
    mode. Pixels skipped by EOL / EOB / delta are zero-filled (the spec
    leaves them undefined; zero is the deterministic choice). Returns
    None when a packet would write or seek out of bounds, or when the
    stream ends without an end-of-bitmap escape."""
    # rows as bytearrays: packet writes are C-speed slice assignments
    # instead of per-packet numpy row-slice dispatch (value-identical;
    # zero-fill comes from the bytearray init)
    rows = [bytearray(width) for _ in range(height)]
    pos, x, y = 0, 0, 0
    n = len(blob)
    while True:
        if pos + 2 > n:
            return None  # stream exhausted without an EOB escape
        c, v = blob[pos], blob[pos + 1]
        pos += 2
        if c > 0:  # encoded run
            if y >= height or x + c > width:
                return None
            rows[y][x:x + c] = _BYTE[v] * c
            x += c
        elif v == 0:  # end of line
            if y >= height:
                return None
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return np.frombuffer(bytearray().join(rows), dtype=np.uint8) \
                .reshape(height, width)
        elif v == 2:  # delta skip
            if pos + 2 > n:
                return None
            x, y = x + blob[pos], y + blob[pos + 1]
            pos += 2
            if x > width or y > height:
                return None
        else:  # absolute mode: v literal bytes, padded to even length
            if y >= height or x + v > width or pos + v > n:
                return None
            rows[y][x:x + v] = blob[pos:pos + v]
            x += v
            pos += v + (v & 1)


def decode_avi(payload: bytes):
    """Decode an AVI byte string to (fps, width, height, frames) where
    frames is an (n_frames, height, width, 3) uint8 RGB array. Returns
    None for anything outside the declared support (not RIFF/AVI, no
    'vids' stream, compression tag not in {0 BI_RGB, 1 BI_RLE8}, bits
    not in {8, 24}, RLE8 with bits != 8 or a top-down height (invalid
    per spec), 8-bit without a palette, uncompressed frame chunks whose
    size disagrees with the header geometry, RLE streams that write out
    of bounds)."""
    try:
        if not is_avi(payload):
            return None
        n = len(payload)
        width = height = None
        bits = None
        compression = None
        palette = None
        scale = rate = None
        usec_per_frame = None
        frame_blobs: list[bytes] = []
        top_down = False

        def walk(pos: int, end: int) -> None:
            nonlocal width, height, bits, compression, palette, scale, rate
            nonlocal usec_per_frame, top_down
            for cid, body, size in _iter_chunks(payload, pos, end):
                if cid == b"LIST":
                    walk(body + 4, body + size)
                elif cid == b"avih" and size >= 40:
                    (uspf,) = struct.unpack("<I", payload[body:body + 4])
                    usec_per_frame = uspf
                elif cid == b"strh" and size >= 32:
                    fcc = payload[body:body + 4]
                    if fcc == b"vids":
                        scale, rate = struct.unpack(
                            "<II", payload[body + 20:body + 28])
                elif cid == b"strf" and size >= 40 and width is None:
                    (_bisz, bw, bh, _planes, bc, comp) = struct.unpack(
                        "<IiiHHI", payload[body:body + 20])
                    width, bits, compression = bw, bc, comp
                    if bh < 0:
                        top_down, height = True, -bh
                    else:
                        height = bh
                    if comp not in (0, 1):  # BI_RGB / BI_RLE8 only
                        width = None
                        return
                    if bc == 8 and size >= 40 + 4:
                        pal = np.frombuffer(
                            payload, dtype=np.uint8, offset=body + 40,
                            count=min(size - 40, 256 * 4)).reshape(-1, 4)
                        palette = pal[:, [2, 1, 0]]  # RGBQUAD is B,G,R,_
                elif cid in (b"00db", b"00dc"):
                    frame_blobs.append((payload[body:body + size], cid))

        walk(12, n)
        if width is None or height is None or bits not in (8, 24):
            return None
        if width <= 0 or height <= 0 or not frame_blobs:
            return None
        if bits == 8 and palette is None:
            return None
        if compression == 1 and (bits != 8 or top_down):
            return None  # RLE8 is 8-bit bottom-up by definition
        stride = _stride(width, bits)
        if stride * height > _MAX_FRAME_BYTES:
            return None
        # aggregate guard: with RLE a 2-byte blob expands to a full
        # frame, so the decoded TOTAL is no longer bounded by the
        # payload size — cap frames x frame-size, don't OOM the worker
        if len(frame_blobs) * stride * height > _MAX_FRAME_BYTES:
            return None
        frames = []
        for blob, cid in frame_blobs:
            # chunk id must match the compression tag ('00db' =
            # uncompressed DIB, '00dc' = compressed): a mismatched
            # stream decodes to garbage, so refuse, don't guess
            if cid != (b"00dc" if compression == 1 else b"00db"):
                return None
            if compression == 1:
                idx = _decode_rle8(blob, width, height)
                if idx is None or idx.max(initial=0) >= palette.shape[0]:
                    return None
                frames.append(palette[idx][::-1])  # RLE rows are bottom-up
                continue
            if len(blob) != stride * height:
                return None  # geometry disagreement: refuse, don't guess
            rows = np.frombuffer(blob, dtype=np.uint8).reshape(
                height, stride)
            if bits == 8:
                idx = rows[:, :width]
                if idx.max(initial=0) >= palette.shape[0]:
                    return None
                rgb = palette[idx]
            else:
                bgr = rows[:, :width * 3].reshape(height, width, 3)
                rgb = bgr[:, :, ::-1]
            if not top_down:
                rgb = rgb[::-1]  # DIB rows are bottom-up
            frames.append(rgb)
        if scale and rate:
            fps = rate / scale
        elif usec_per_frame:
            fps = 1_000_000.0 / usec_per_frame
        else:
            return None
        return float(fps), width, height, np.stack(frames).copy()
    except (struct.error, ValueError):
        return None


def _chunk(cid: bytes, body: bytes) -> bytes:
    return cid + struct.pack("<I", len(body)) + body \
        + (b"\x00" if len(body) & 1 else b"")


def _lst(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def _assemble_avi(nf: int, w: int, h: int, fps: int, bits: int,
                  compression: int, handler: bytes, buf_size: int,
                  palette: bytes, frame_cid: bytes,
                  blobs: list) -> bytes:
    """Shared RIFF/AVI container assembly for both encoders — one place
    for the avih/strh/strf/hdrl/movi layout so a header fix cannot drift
    between the uncompressed and RLE8 tiers."""
    avih = struct.pack(
        "<IIIIIIIIII", 1_000_000 // fps, buf_size * fps, 0, 0x10,
        nf, 0, 1, buf_size, w, h) + b"\x00" * 16
    strh = (b"vids" + handler + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, nf, buf_size,
        0xFFFFFFFF, 0) + struct.pack("<4h", 0, 0, w, h))
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bits, compression, buf_size, 0, 0,
        256 if bits == 8 else 0, 0) + palette
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh)
                       + _chunk(b"strf", strf)))
    movi = _lst(b"movi", b"".join(_chunk(frame_cid, b) for b in blobs))
    body = b"AVI " + hdrl + movi
    return RIFF_MAGIC + struct.pack("<I", len(body)) + body


def _gray_palette() -> bytes:
    g = np.arange(256, dtype=np.uint8)
    return np.stack([g, g, g, np.zeros_like(g)],
                    axis=1).tobytes()  # grayscale RGBQUADs (B,G,R,_)


def encode_avi(frames: np.ndarray, fps: int = 10) -> bytes:
    """Encode an (n, h, w) uint8 array as an 8-bit grayscale-palette AVI,
    or an (n, h, w, 3) uint8 RGB array as a 24-bit BGR AVI — uncompressed
    DIB frames, bottom-up rows, 4-byte-aligned strides. The test-fixture
    synthesizer for the decoder's property tests and the deterministic
    video payload builder (`multimodal.attach_video`)."""
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim == 3:
        nf, h, w = arr.shape
        bits = 8
    elif arr.ndim == 4 and arr.shape[3] == 3:
        nf, h, w, _ = arr.shape
        bits = 24
    else:
        raise ValueError("encode_avi expects (n,h,w) gray or (n,h,w,3) RGB")
    assert nf > 0 and h > 0 and w > 0 and fps > 0
    stride = _stride(w, bits)

    blobs = []
    for f in range(nf):
        rows = np.zeros((h, stride), dtype=np.uint8)
        if bits == 8:
            rows[:, :w] = arr[f][::-1]  # bottom-up
        else:
            rows[:, :w * 3] = arr[f][::-1, :, ::-1].reshape(h, w * 3)
        blobs.append(rows.tobytes())
    return _assemble_avi(
        nf, w, h, fps, bits, 0, b"DIB ", stride * h,
        _gray_palette() if bits == 8 else b"", b"00db", blobs)


def _encode_rle8_row(row: bytes) -> bytes:
    """RLE8-encode one pixel row deterministically: runs of >= 2 equal
    bytes become encoded-run packets (chunked at 255), literal spans of
    >= 3 become absolute packets (chunk sizes kept in [3, 255] — a
    would-be remainder of 1-2 borrows from the previous chunk), and 1-2
    stray literals become count-1 runs. Exercises both packet families
    on realistic data while staying a pure function of the row."""
    out = bytearray()
    w = len(row)
    i = 0
    while i < w:
        r = 1
        while i + r < w and row[i + r] == row[i]:
            r += 1
        if r >= 2:
            left = r
            while left > 0:
                take = min(left, 255)
                out += bytes((take, row[i]))
                i += take
                left -= take
            continue
        # literal span: extend until the next run of >= 2 or end of row
        j = i + 1
        while j < w:
            if j + 1 < w and row[j + 1] == row[j]:
                break
            j += 1
        span = j - i
        if span < 3:
            for _ in range(span):
                out += bytes((1, row[i]))
                i += 1
            continue
        left = span
        while left > 0:
            take = min(left, 255)
            if left - take in (1, 2):
                take -= 2  # keep the final absolute chunk >= 3
            out += bytes((0, take)) + row[i:i + take]
            if take & 1:
                out += b"\x00"  # absolute packets pad to even length
            i += take
            left -= take
    return bytes(out)


def encode_avi_rle8(frames: np.ndarray) -> bytes:
    """Encode an (n, h, w) uint8 array as a BI_RLE8-compressed
    grayscale-palette AVI ('00dc' chunks, bottom-up rows, end-of-line
    escapes between rows, end-of-bitmap terminator). The compressed
    twin of `encode_avi`'s 8-bit tier: decode_avi returns identical RGB
    for both, so the RLE path is hash-checkable against the same
    pixel-predicting oracle."""
    fps = 10
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim != 3:
        raise ValueError("encode_avi_rle8 expects (n,h,w) gray frames")
    nf, h, w = arr.shape
    assert nf > 0 and h > 0 and w > 0 and fps > 0

    blobs = [_rle8_frame(arr[f]) for f in range(nf)]
    return _assemble_avi(
        nf, w, h, fps, 8, 1, b"MRLE", max(len(b) for b in blobs),
        _gray_palette(), b"00dc", blobs)


def _rle8_frame(plane: np.ndarray) -> bytes:
    """RLE8-encode one (h, w) index plane: bottom-up rows, end-of-line
    escapes between rows, end-of-bitmap terminator — the frame/pixel
    layout shared by the AVI RLE tier and `bmp_codec.encode_bmp`."""
    h = plane.shape[0]
    enc = bytearray()
    for y in range(h):  # bottom-up storage order
        enc += _encode_rle8_row(plane[h - 1 - y].tobytes())
        enc += b"\x00\x00" if y < h - 1 else b"\x00\x01"
    return bytes(enc)
