"""Pure-Python/numpy PNG codec — the second compressed image format
decoded natively (with ``jpeg.py``): PNG is DEFLATE (Python's bundled
``zlib``, public stdlib) plus per-row byte filters, so a complete
8-bit decoder needs no external codec library.

Decoder (``decode_png``): chunk walk (CRC-checked lengths, IHDR/IDAT/
IEND; PLTE for indexed), zlib-inflate of the concatenated IDAT
stream, per-row unfilter (None/Sub/Up/Average/Paeth — RFC 2083 §6),
and channel normalization to (H, W, 3) uint8: grayscale replicates,
alpha is dropped (training-pipeline convention — compositing policy
belongs to the caller), palette indices look up PLTE.  All five bit
depths decode (1/2/4-bit rows unpack MSB-first; 16-bit takes the
high byte — the standard 8-bit downconversion) and Adam7 interlacing
is supported (seven independently-filtered passes scattered onto the
output grid).  PNG is lossless, so 8-bit decode is bit-exact by
construction: no quantization tricks needed for the oracle pairing.

Encoder (``encode_png``): minimal fixture twin — 8-bit gray or RGB,
filter 0 rows, one zlib-compressed IDAT.  Deterministic (fixed zlib
level) so fixtures are reproducible.

No reference parity to cite: rwang067/ligra has no media layer —
this extends the engine toward the training-data-pipeline brief.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .codec_limits import check_pixels

__all__ = ["decode_png", "encode_png"]

_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(buf: bytes) -> np.ndarray:
    """PNG (all depths, plain or Adam7) → (H, W, 3) uint8.  See
    module docstring for scope."""
    if buf[:8] != _SIG:
        raise ValueError("not a PNG payload (missing signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        length = struct.unpack(">I", buf[pos : pos + 4])[0]
        ctype = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            if len(body) < 13:
                raise ValueError("truncated PNG IHDR")
            ihdr = struct.unpack(">IIBBBBB", body[:13])
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    check_pixels(w, h, "PNG")
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"bad PNG bit depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"bad PNG color type {color}")
    if depth < 8 and color not in (0, 3):
        raise ValueError("sub-byte depth is only valid for gray/palette")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if interlace:
        px = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        # Adam7 pass grid (x_start, y_start, x_step, y_step)
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            sub, off = _decode_subimage(raw, off, wp, hp, channels, depth)
            px[y0::dy, x0::dx] = sub
    else:
        px, _ = _decode_subimage(raw, 0, w, h, channels, depth)
    if color == 3:  # palette
        if plte is None:
            raise ValueError("indexed PNG missing PLTE")
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("PNG palette index out of range")
        return plte[idx]
    if depth < 8:  # grayscale: scale to full 8-bit range
        px = (px.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    if channels == 1:
        return np.repeat(px, 3, axis=2)
    if channels == 2:  # gray + alpha: drop alpha, replicate
        return np.repeat(px[:, :, :1], 3, axis=2)
    if channels == 4:  # RGBA: drop alpha
        return px[:, :, :3].copy()
    return px.copy()


def _decode_subimage(raw, off, w, h, channels, depth):
    """One filtered (sub-)image starting at byte ``off`` of the
    inflated stream → ((h, w, channels) uint8 samples, next offset).
    Filtering operates on BYTES with bpp = max(1, channels*depth/8)
    per RFC 2083 §6; sub-byte rows unpack MSB-first afterwards and
    16-bit samples keep their high byte."""
    stride = (w * channels * depth + 7) // 8
    need = h * (stride + 1)
    if len(raw) < off + need:
        raise ValueError("truncated PNG pixel data")
    rows = raw[off : off + need].reshape(h, stride + 1)
    filters = rows[:, 0]
    data = rows[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = max(1, channels * depth // 8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(filters[y])
        line = data[y].copy()
        if f == 0:
            pass
        elif f == 1:  # Sub — sequential in x (prefix dependence)
            for x in range(bpp, stride):
                line[x] = (int(line[x]) + int(line[x - bpp])) & 0xFF
        elif f == 2:  # Up
            line = (line.astype(np.int16) + prev).astype(np.uint8)
        elif f == 3:  # Average
            for x in range(stride):
                left = int(line[x - bpp]) if x >= bpp else 0
                line[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                c = int(prev[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = line
        prev = out[y]
    if depth == 8:
        px = out.reshape(h, w, channels)
    elif depth == 16:
        px = out.reshape(h, w, channels, 2)[:, :, :, 0]  # high byte
    else:
        per = 8 // depth
        bits = np.zeros((h, stride * per), dtype=np.uint8)
        for k in range(per):
            bits[:, k::per] = (out >> (8 - depth * (k + 1))) & ((1 << depth) - 1)
        px = bits[:, : w * channels].reshape(h, w, channels)
    return px, off + need


def encode_png(img: np.ndarray, level: int = 6, interlace: bool = False) -> bytes:
    """Minimal deterministic encoder: (H, W) / (H, W, 1) gray or
    (H, W, 3) RGB, 8-bit, filter-0 rows, single IDAT.
    ``interlace=True`` emits the seven Adam7 passes (fixture hook for
    the decoder's interlaced path)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    if c == 1:
        color = 0
    elif c == 3:
        color = 2
    else:
        raise ValueError("encoder supports 1- or 3-channel 8-bit images")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    raw = bytearray()
    if interlace:
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for y in range(sub.shape[0]):
                raw.append(0)
                raw += sub[y].tobytes()
    else:
        for y in range(h):
            raw.append(0)  # filter type None
            raw += img[y].tobytes()
    comp = zlib.compress(bytes(raw), level)

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0)
    return (
        _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", comp) + chunk(b"IEND", b"")
    )
