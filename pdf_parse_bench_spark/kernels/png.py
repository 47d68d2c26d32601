"""Dependency-free PNG codec (stdlib zlib + struct + numpy).

Makes the multimodal media column real without PIL: the reference renders
formula PNGs (utilities/formula_renderer.py:119-164); this module provides
the decode (and a test/fixture encode) so `operators/media.decode_media`
can extract true pixel statistics inside Arrow batches.

Scope: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA); all five scanline filters (None/Sub/Up/Average/Paeth);
non-interlaced. That covers everything the fixture writer and typical
formula renderers emit.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png(arr: np.ndarray) -> bytes:
    """Encode a (h, w) gray or (h, w, 3|4) color uint8 array. Row
    filters cycle None/Sub/Up (so decoders must handle real filter
    variety)."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color_type = 0
        data = arr[:, :, None]
    elif arr.shape[2] == 3:
        color_type = 2
        data = arr
    elif arr.shape[2] == 4:
        color_type = 6
        data = arr
    else:
        raise ValueError(f"unsupported shape {arr.shape}")
    h, w, ch = data.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # whole-image vectorized filtering (uint8 wrap-around == mod 256);
    # byte-identical to the old per-row loop, ~6 array ops per image
    ft = np.arange(h) % 3
    flat = data.reshape(h, w * ch)
    body = flat.copy()
    sub_rows = ft == 1
    if sub_rows.any():
        sub = data.copy()
        sub[:, 1:] -= data[:, :-1]
        body[sub_rows] = sub.reshape(h, w * ch)[sub_rows]
    up_rows = ft == 2
    if up_rows.any():
        up = data.copy()
        up[1:] -= data[:-1]
        body[up_rows] = up.reshape(h, w * ch)[up_rows]
    out = np.empty((h, 1 + w * ch), np.uint8)
    out[:, 0] = ft
    out[:, 1:] = body
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(out.tobytes()))
            + _chunk(b"IEND", b""))


def decode_png(data: bytes) -> np.ndarray:
    """Decode to a (h, w) gray or (h, w, ch) uint8 array."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace or ctype not in _CHANNELS:
        raise ValueError(f"unsupported PNG (depth={depth} type={ctype} "
                         f"interlaced={interlace})")
    ch = _CHANNELS[ctype]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated IDAT")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        row = np.frombuffer(raw[pos:pos + stride], np.uint8).astype(np.int32)
        pos += stride
        if ft == 0:
            cur = row
        elif ft == 2:  # Up — vectorized
            cur = (row + prev) & 0xFF
        elif ft == 1:  # Sub — vectorized: per-channel-lane cumsum mod 256
            lanes = row.reshape(w, ch)
            cur = (np.cumsum(lanes, axis=0, dtype=np.int64) & 0xFF) \
                .astype(np.int32).reshape(stride)
        elif ft in (3, 4):  # Average/Paeth: left-dependency loop
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = int(cur[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                if ft == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(row[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img
