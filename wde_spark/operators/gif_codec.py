"""Dependency-free GIF codec — the second image container after
`png_codec.py`, and the engine's first dictionary-coded decompressor
(PNG rides zlib; GIF's LZW is implemented here from the published
GIF89a specification).

Declared support, single-image API (`decode_gif`): GIF87a/GIF89a, one
full-canvas image descriptor (left/top 0, dims equal to the logical
screen), global or local color table, interlaced or sequential rows,
optional GIF89a graphic-control transparency (the transparent index
expands to an alpha-0 RGBA pixel that KEEPS its palette RGB, mirroring
the PNG tRNS tier).

Animated API (`decode_gif_frames`): multiple image descriptors with
partial rects, per-frame graphic-control extensions, and full
compositing — the canvas starts transparent, each frame's
non-transparent patch pixels overwrite it, and the snapshot after each
draw is that frame's output; disposal methods 0/1 (leave), 2 (restore
rect to transparent background), and 3 (restore previous canvas) are
applied between frames.

Everything outside those surfaces — missing color tables, LZW streams
that derail (bad codes, wrong pixel counts), rects exceeding the
canvas — returns None so callers null-route to the raw-byte path.

Pure stdlib + numpy. Not derived from the reference repo (text-only;
no media surface — extension parity documented in COVERAGE.md).
"""

from __future__ import annotations

import numpy as np

_MAX_PIXELS = 64 * 1024 * 1024  # absurd-size guard, mirrors png_codec

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def is_gif(payload: bytes) -> bool:
    return payload[:6] in (b"GIF87a", b"GIF89a")


def _lzw_decode(data: bytes, mcs: int, n_pixels: int):
    """Decode a GIF LZW stream (LSB-first variable-width codes, clear /
    end-of-information codes, 12-bit dictionary cap) to exactly
    `n_pixels` palette indices. Returns None when the stream derails:
    a code beyond the dictionary (other than the KwKwK next-code case),
    pixel overrun/underrun, or missing data."""
    if not 2 <= mcs <= 8:
        return None
    clear = 1 << mcs
    eoi = clear + 1
    # sequences as BYTES appended to one bytearray (a per-code numpy
    # slice assignment over tuple entries costs ~1µs of dispatch per
    # code — the dominant decode cost; bytes concat + extend are C-speed
    # and value-identical)
    out = bytearray()

    roots = [bytes((i,)) for i in range(clear)]
    table: list = []
    width = mcs + 1
    prev: bytes = b""

    bitbuf = 0
    bitcnt = 0
    pos = 0
    n = len(data)
    while True:
        while bitcnt < width:
            if pos >= n:
                return None  # ran out of bits before EOI
            bitbuf |= data[pos] << bitcnt
            bitcnt += 8
            pos += 1
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitcnt -= width

        if code == clear:
            table = list(roots) + [b"", b""]  # slots for clear/eoi
            width = mcs + 1
            prev = b""
            continue
        if code == eoi:
            if len(out) != n_pixels:
                return None
            return np.frombuffer(out, dtype=np.uint8)
        if not table:
            return None  # first code must be a clear per the spec
        if code < len(table):
            seq = table[code]
            if not seq:
                return None  # the clear/eoi placeholder slots
        elif code == len(table) and prev:
            seq = prev + prev[:1]  # the KwKwK case
        else:
            return None
        if len(out) + len(seq) > n_pixels:
            return None
        out += seq
        if prev:
            if len(table) < 4096:
                table.append(prev + seq[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        prev = seq


def _lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    """Greedy longest-match GIF LZW encoder (the real compressor — the
    dictionary-growth and width-increase paths are exercised by
    production data, with a clear-code reset at the 4096-entry cap)."""
    clear = 1 << mcs
    eoi = clear + 1
    codes: list[tuple[int, int]] = []  # (code, width-at-emit)

    def fresh():
        return {(i,): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = mcs + 1

    def output(code):
        # width bump AFTER each emit, gated on the running next-code
        # counter (the giflib convention): the decoder advances its own
        # counter once per code read and widens at the same stream
        # position — including between the final flushed code and EOI
        nonlocal width
        codes.append((code, width))
        if next_code >= (1 << width) and width < 12:
            width += 1

    output(clear)
    seq: tuple = ()
    for k in indices.tolist():
        cand = seq + (k,)
        if cand in table:
            seq = cand
            continue
        output(table[seq])
        if next_code >= 4095:
            output(clear)
            table = fresh()
            next_code = eoi + 1
            width = mcs + 1
        else:
            table[cand] = next_code
            next_code += 1
        seq = (k,)
    if seq:
        output(table[seq])
    output(eoi)

    bitbuf = 0
    bitcnt = 0
    out = bytearray()
    for code, w in codes:
        bitbuf |= code << bitcnt
        bitcnt += w
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _deinterlace_rows(h: int) -> np.ndarray:
    """Row permutation: storage order -> display order for the 4-pass
    GIF interlace."""
    order = [y for start, step in _INTERLACE_PASSES
             for y in range(start, h, step)]
    inv = np.empty(h, dtype=np.int64)
    inv[np.asarray(order)] = np.arange(h)
    return inv


def _parse_gif(payload: bytes):
    """Shared container walk: returns (w, h, frames) where each frame is
    (left, top, iw, ih, plane, palette, transparent, disposal) with the
    plane already deinterlaced, or None on anything malformed. The
    graphic-control extension applies to the following image descriptor
    only (per spec) and resets after it."""
    try:
        if not is_gif(payload) or len(payload) < 13:
            return None
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        packed = payload[10]
        if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
            return None
        pos = 13
        gct = None
        if packed & 0x80:
            size = 2 << (packed & 0x07)
            gct = np.frombuffer(
                payload, np.uint8, size * 3, pos).reshape(-1, 3)
            pos += size * 3

        transparent = None
        disposal = 0
        frames = []
        while pos < len(payload):
            b = payload[pos]
            pos += 1
            if b == 0x3B:  # trailer
                break
            if b == 0x21:  # extension: label + sub-blocks
                if pos >= len(payload):
                    return None
                label = payload[pos]
                pos += 1
                blocks = []
                while True:
                    if pos >= len(payload):
                        return None
                    sz = payload[pos]
                    pos += 1
                    if sz == 0:
                        break
                    blocks.append(payload[pos:pos + sz])
                    pos += sz
                if label == 0xF9 and blocks and len(blocks[0]) >= 4:
                    gpacked = blocks[0][0]
                    disposal = (gpacked >> 2) & 0x07
                    transparent = (blocks[0][3] if gpacked & 0x01
                                   else None)
                continue
            if b != 0x2C:
                return None  # unknown top-level block
            if pos + 9 > len(payload):
                return None
            left = int.from_bytes(payload[pos:pos + 2], "little")
            top = int.from_bytes(payload[pos + 2:pos + 4], "little")
            iw = int.from_bytes(payload[pos + 4:pos + 6], "little")
            ih = int.from_bytes(payload[pos + 6:pos + 8], "little")
            ipacked = payload[pos + 8]
            pos += 9
            if iw <= 0 or ih <= 0 or left + iw > w or top + ih > h:
                return None  # rect must stay on the canvas
            palette = gct
            if ipacked & 0x80:
                size = 2 << (ipacked & 0x07)
                palette = np.frombuffer(
                    payload, np.uint8, size * 3, pos).reshape(-1, 3)
                pos += size * 3
            if palette is None:
                return None
            if pos >= len(payload):
                return None
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while True:
                if pos >= len(payload):
                    return None
                sz = payload[pos]
                pos += 1
                if sz == 0:
                    break
                data += payload[pos:pos + sz]
                pos += sz
            idx = _lzw_decode(bytes(data), mcs, iw * ih)
            if idx is None or idx.max(initial=0) >= palette.shape[0]:
                return None
            plane = idx.reshape(ih, iw)
            if ipacked & 0x40:
                plane = plane[_deinterlace_rows(ih)]
            frames.append((left, top, iw, ih, plane, palette,
                           transparent, disposal))
            transparent, disposal = None, 0  # GCE scope is one image
        if not frames:
            return None
        return w, h, frames
    except (ValueError, IndexError):
        return None


def decode_gif(payload: bytes):
    """Decode a single-image GIF to (width, height, rgba) where rgba is
    an (h, w, 4) uint8 array — the transparent index (GIF89a graphic
    control) decodes to alpha 0 keeping its palette RGB; everything else
    is alpha 255. Returns None outside the declared single-image support
    (a second image descriptor or a partial-rect frame null-routes;
    `decode_gif_frames` is the animated API)."""
    parsed = _parse_gif(payload)
    if parsed is None:
        return None
    w, h, frames = parsed
    if len(frames) != 1:
        return None
    left, top, iw, ih, plane, palette, transparent, _disp = frames[0]
    if (left, top, iw, ih) != (0, 0, w, h):
        return None
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, :3] = palette[plane]
    rgba[:, :, 3] = 255
    if transparent is not None:
        rgba[:, :, 3] = np.where(plane == transparent, 0, 255)
    return w, h, rgba


def decode_gif_frames(payload: bytes):
    """Decode an animated GIF to (width, height, frames) where frames is
    an (n, h, w, 4) uint8 array of COMPOSITED canvas snapshots: the
    canvas starts fully transparent, each image's non-transparent patch
    pixels overwrite their rect, and the state after each draw is that
    frame's output. Between frames the drawn image's disposal applies:
    0/1 leave, 2 restore the rect to the transparent background, 3
    restore the canvas as it was before the draw. Returns None on
    anything `_parse_gif` refuses."""
    parsed = _parse_gif(payload)
    if parsed is None:
        return None
    w, h, raw = parsed
    # aggregate guard: _MAX_PIXELS bounds ONE canvas; the snapshot stack
    # is n_frames canvases, so a tiny payload promising a large canvas x
    # many frames must null-route, not OOM the worker (a 3 KB payload
    # can otherwise demand hundreds of GB)
    if len(raw) * w * h > _MAX_PIXELS:
        return None
    canvas = np.zeros((h, w, 4), dtype=np.uint8)
    out = []
    for left, top, iw, ih, plane, palette, transparent, disposal in raw:
        before = canvas[top:top + ih, left:left + iw].copy()
        patch = np.empty((ih, iw, 4), dtype=np.uint8)
        patch[:, :, :3] = palette[plane]
        patch[:, :, 3] = 255
        opaque = (np.ones((ih, iw), dtype=bool) if transparent is None
                  else plane != transparent)
        region = canvas[top:top + ih, left:left + iw]
        region[opaque] = patch[opaque]
        out.append(canvas.copy())
        if disposal == 2:
            canvas[top:top + ih, left:left + iw] = 0
        elif disposal == 3:
            canvas[top:top + ih, left:left + iw] = before
    return w, h, np.stack(out)


def _rgba_keys(flat: np.ndarray) -> np.ndarray:
    """Pack (n, 4) uint8 RGBA rows into uint32 keys whose numeric order
    IS the rows' lexicographic order — the vectorization device for
    palette building and index mapping."""
    f = flat.astype(np.uint32)
    return (f[:, 0] << 24) | (f[:, 1] << 16) | (f[:, 2] << 8) | f[:, 3]


def _build_palette(flat: np.ndarray):
    """Lexicographic RGBA palette + sorted key table for <= 256 colors
    with at most one alpha-0 entry; raises ValueError outside that.
    np.unique over the packed uint32 keys replaces the axis=0 structured
    sort AND the python-dict index lookup: searchsorted over the sorted
    keys returns the identical lexicographic palette index for every
    pixel (`_index_rgba`)."""
    keys = np.unique(_rgba_keys(flat))
    if keys.shape[0] > 256:
        raise ValueError("more than 256 distinct colors")
    colors = np.stack([(keys >> 24) & 0xFF, (keys >> 16) & 0xFF,
                       (keys >> 8) & 0xFF, keys & 0xFF],
                      axis=1).astype(np.uint8)
    if (colors[:, 3] == 0).sum() > 1:
        raise ValueError("GIF has a single transparent index")
    transparent = next(
        (i for i, c in enumerate(colors) if c[3] == 0), None)
    return colors, keys, transparent


def _index_rgba(flat: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Map every RGBA row to its palette index (uint8), vectorized —
    value-identical to the dict lookup it replaced: `keys` is sorted, so
    searchsorted returns the exact position of each pixel's key."""
    return np.searchsorted(keys, _rgba_keys(flat)).astype(np.uint8)


def encode_gif_animated(patches, w: int, h: int,
                        interlace_odd: bool = False) -> bytes:
    """Encode an animated GIF89a from (left, top, rgba_patch, disposal)
    tuples over a w x h canvas — one GLOBAL color table across all
    patches (lexicographic; alpha rules as `encode_gif`), a
    graphic-control extension per frame carrying the disposal method
    and the shared transparent index, REAL LZW per patch. With
    interlace_odd, odd frames store interlaced rows — partial-rect
    interlace becomes production surface. The fixture builder for
    `decode_gif_frames`."""
    assert patches and w > 0 and h > 0
    allpx = np.concatenate(
        [np.asarray(p[2], dtype=np.uint8).reshape(-1, 4)
         for p in patches])
    colors, ckeys, transparent = _build_palette(allpx)
    bits = max(2, int(np.ceil(np.log2(max(colors.shape[0], 2)))))
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[:colors.shape[0]] = colors[:, :3]

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes(((0x80 | ((bits - 1) << 4) | (bits - 1)), 0, 0))
    out += table.tobytes()
    for f, (left, top, rgba, disposal) in enumerate(patches):
        arr = np.asarray(rgba, dtype=np.uint8)
        ih, iw, _ = arr.shape
        assert left + iw <= w and top + ih <= h
        gpacked = (disposal & 0x07) << 2
        tr = 0
        if transparent is not None:
            gpacked |= 0x01
            tr = transparent
        out += bytes((0x21, 0xF9, 4, gpacked, 0, 0, tr, 0))
        idx = _index_rgba(arr.reshape(-1, 4), ckeys).reshape(ih, iw)
        inter = interlace_odd and f % 2 == 1
        ipacked = 0x40 if inter else 0
        out += bytes((0x2C,)) + left.to_bytes(2, "little") \
            + top.to_bytes(2, "little") + iw.to_bytes(2, "little") \
            + ih.to_bytes(2, "little") + bytes((ipacked,))
        plane = idx
        if inter:
            order = [y for start, step in _INTERLACE_PASSES
                     for y in range(start, ih, step)]
            plane = idx[np.asarray(order)]
        mcs = max(2, bits)
        out += bytes((mcs,))
        data = _lzw_encode(plane.reshape(-1), mcs)
        for i in range(0, len(data), 255):
            block = data[i:i + 255]
            out += bytes((len(block),)) + block
        out += bytes((0,))
    out += bytes((0x3B,))
    return bytes(out)


def encode_gif(rgba: np.ndarray, interlace: bool = False) -> bytes:
    """Encode an (h, w, 4) uint8 RGBA array (alpha in {0, 255}, at most
    one alpha-0 color, <= 256 distinct colors) as a GIF89a with a
    lexicographic global color table and a REAL LZW-compressed image —
    the fixture builder whose output exercises the decoder's dictionary
    growth on production data. Alpha-0 pixels become the GIF89a
    transparent index (their RGB is kept in the palette, mirroring the
    decode contract)."""
    arr = np.asarray(rgba, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 4:
        raise ValueError("encode_gif expects (h, w, 4) RGBA")
    h, w, _ = arr.shape
    assert h > 0 and w > 0
    alpha = arr[:, :, 3]
    if not np.isin(alpha, (0, 255)).all():
        raise ValueError("alpha must be 0 or 255")
    flat = arr.reshape(-1, 4)
    colors, ckeys, transparent = _build_palette(flat)
    idx = _index_rgba(flat, ckeys).reshape(h, w)

    # color table size: power of two >= n_colors, >= 4 (gct field >= 2^2)
    bits = max(2, int(np.ceil(np.log2(max(colors.shape[0], 2)))))
    table = np.zeros((1 << bits, 3), dtype=np.uint8)
    table[:colors.shape[0]] = colors[:, :3]

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes(((0x80 | ((bits - 1) << 4) | (bits - 1)), 0, 0))
    out += table.tobytes()
    if transparent is not None:
        out += bytes((0x21, 0xF9, 4, 0x01, 0, 0, transparent, 0))
    ipacked = 0x40 if interlace else 0
    out += bytes((0x2C, 0, 0, 0, 0)) + w.to_bytes(2, "little") \
        + h.to_bytes(2, "little") + bytes((ipacked,))
    plane = idx
    if interlace:
        order = [y for start, step in _INTERLACE_PASSES
                 for y in range(start, h, step)]
        plane = idx[np.asarray(order)]
    mcs = max(2, bits)
    out += bytes((mcs,))
    data = _lzw_encode(plane.reshape(-1), mcs)
    for i in range(0, len(data), 255):
        block = data[i:i + 255]
        out += bytes((len(block),)) + block
    out += bytes((0, 0x3B))
    return bytes(out)
