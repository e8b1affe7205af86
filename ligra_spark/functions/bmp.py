"""BMP (Windows DIB) codec — uncompressed 1/4/8-bit palette (packed
MSB-first), 16-bit X1R5G5B5, 24/32-bit BGR, and RLE8/RLE4-compressed
palette images, the simplest formats real crawls still carry.  Public layout: 14-byte file header
('BM', size, reserved, pixel offset), BITMAPINFOHEADER (width,
height — positive = bottom-up, biBitCount, biCompression 0 = BI_RGB,
1 = BI_RLE8, 2 = BI_RLE4), optional BGRA palette, 4-byte-aligned
rows.  RLE streams use the documented escape codes: (0,0) end of
line, (0,1) end of bitmap, (0,2) dx/dy delta (skipped pixels stay
index 0), (0,n>=3) absolute run padded to a word boundary.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_limits import check_pixels

__all__ = ["decode_bmp", "encode_bmp", "encode_bmp_rle8"]


def _decode_rle(data: bytes, w: int, h: int, four_bit: bool) -> np.ndarray:
    """RLE8/RLE4 stream → (h, w) uint8 index plane in FILE row order
    (row 0 = bottom row for the usual bottom-up bitmaps)."""
    check_pixels(w, h, "BMP RLE")
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = 0
    i = 0
    n = len(data)
    while i + 1 < n:
        b0, b1 = data[i], data[i + 1]
        i += 2
        if b0 > 0:  # encoded run
            if y >= h:
                raise ValueError("BMP RLE run past last row")
            end = min(x + b0, w)
            if end > x:
                if four_bit:
                    # alternating high/low nibble of b1
                    vals = np.empty(end - x, dtype=np.uint8)
                    vals[0::2] = b1 >> 4
                    vals[1::2] = b1 & 0x0F
                    out[y, x:end] = vals
                else:
                    out[y, x:end] = b1
            x += b0
            continue
        if b1 == 0:  # end of line
            x = 0
            y += 1
            if y > h:
                raise ValueError("BMP RLE exceeds image height")
        elif b1 == 1:  # end of bitmap
            return out
        elif b1 == 2:  # delta: skip dx right, dy up (file order)
            if i + 2 > n:
                raise ValueError("truncated BMP RLE delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("BMP RLE delta out of bounds")
        else:  # absolute mode: b1 literal indices, word-aligned
            cnt = b1
            if y >= h:
                raise ValueError("BMP RLE absolute run past last row")
            if x > w:  # an earlier run overran the row
                raise ValueError("BMP RLE absolute run past row end")
            if four_bit:
                nbytes = (cnt + 1) // 2
                if i + nbytes > n:
                    raise ValueError("truncated BMP RLE absolute run")
                chunk = np.frombuffer(data[i : i + nbytes], dtype=np.uint8)
                vals = np.empty(nbytes * 2, dtype=np.uint8)
                vals[0::2] = chunk >> 4
                vals[1::2] = chunk & 0x0F
                vals = vals[:cnt]
                i += nbytes + (nbytes & 1)
            else:
                if i + cnt > n:
                    raise ValueError("truncated BMP RLE absolute run")
                vals = np.frombuffer(data[i : i + cnt], dtype=np.uint8)
                i += cnt + (cnt & 1)
            end = min(x + cnt, w)
            out[y, x:end] = vals[: end - x]
            x += cnt
    return out


def decode_bmp(buf: bytes) -> np.ndarray:
    """BMP → (H, W, 3) uint8 RGB."""
    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(buf) < 54:
        raise ValueError("truncated BMP header")
    pix_off = struct.unpack("<I", buf[10:14])[0]
    hdr_size = struct.unpack("<I", buf[14:18])[0]
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP is not supported")
    w = struct.unpack("<i", buf[18:22])[0]
    h = struct.unpack("<i", buf[22:26])[0]
    _planes, bpp = struct.unpack("<HH", buf[26:30])
    compression = struct.unpack("<I", buf[30:34])[0]
    if compression not in (0, 1, 2):
        raise NotImplementedError(
            f"BMP compression {compression} is not supported "
            "(BI_RGB, BI_RLE8 and BI_RLE4 decode natively)"
        )
    if compression == 1 and bpp != 8:
        raise ValueError("BI_RLE8 requires 8-bit pixels")
    if compression == 2 and bpp != 4:
        raise ValueError("BI_RLE4 requires 4-bit pixels")
    if compression == 0 and bpp not in (1, 4, 8, 16, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP is not supported")
    if w <= 0 or abs(h) == 0 or w > (1 << 16) or abs(h) > (1 << 16):
        raise ValueError("bad BMP dimensions")
    bottom_up = h > 0
    h = abs(h)

    def palette(ncolors_default):
        pal_off = 14 + hdr_size
        ncolors = struct.unpack("<I", buf[46:50])[0] or ncolors_default
        pal = np.frombuffer(
            buf[pal_off : pal_off + 4 * ncolors], dtype=np.uint8
        ).reshape(-1, 4)
        if len(pal) < ncolors:
            raise ValueError("truncated BMP palette")
        return pal

    if compression in (1, 2):
        if not bottom_up:
            # the DIB spec defines RLE for bottom-up bitmaps only
            raise ValueError("top-down RLE BMP is not valid")
        idx = _decode_rle(buf[pix_off:], w, h, four_bit=compression == 2)
        pal = palette(256 if compression == 1 else 16)
        bgr = pal[np.minimum(idx[::-1], len(pal) - 1)][:, :, :3]
        return bgr[:, :, ::-1].copy()
    row_bytes = (w * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
    need = pix_off + row_bytes * h
    if len(buf) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(buf[pix_off : pix_off + row_bytes * h], dtype=np.uint8)
    rows = raw.reshape(h, row_bytes)
    if bottom_up:
        rows = rows[::-1]
    if bpp in (1, 4, 8):
        # palette indices packed MSB-first within each byte
        if bpp == 8:
            idx = rows[:, :w]
        elif bpp == 4:
            nyb = np.empty((h, rows.shape[1] * 2), dtype=np.uint8)
            nyb[:, 0::2] = rows >> 4
            nyb[:, 1::2] = rows & 0x0F
            idx = nyb[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            idx = bits[:, :w]
        pal = palette(1 << bpp)
        bgr = pal[np.minimum(idx, len(pal) - 1)][:, :, :3]
        return bgr[:, :, ::-1].copy()  # BGRA palette -> RGB
    if bpp == 16:
        # BI_RGB 16-bit = X1R5G5B5 (5 bits/channel, scaled to 0..255)
        raw16 = rows[:, : w * 2].reshape(h, w, 2)
        v = raw16[:, :, 0].astype(np.uint16) | (
            raw16[:, :, 1].astype(np.uint16) << 8
        )
        r5 = (v >> 10) & 0x1F
        g5 = (v >> 5) & 0x1F
        b5 = v & 0x1F
        scale = lambda c: ((c * 255 + 15) // 31).astype(np.uint8)  # noqa: E731
        return np.stack([scale(r5), scale(g5), scale(b5)], axis=2)
    step = bpp // 8
    px = rows[:, : w * step].reshape(h, w, step)
    return px[:, :, 2::-1].copy()  # BGR(A) -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """(H, W, 3) RGB or (H, W) gray → 24-bit bottom-up BI_RGB BMP."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    h, w, _ = img.shape
    img = np.ascontiguousarray(img, dtype=np.uint8)
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = img[y, :, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (row_bytes - len(row))
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    return hdr + info + bytes(body)


def encode_bmp_rle8(idx: np.ndarray, pal: np.ndarray) -> bytes:
    """(H, W) uint8 index plane + (N, 3) RGB palette → BI_RLE8 BMP
    (bottom-up).  Fixture twin for the RLE decode path: repeats >= 2
    become encoded runs, non-repeating stretches >= 3 use absolute
    mode (word-aligned), every row ends with the EOL escape and the
    stream with EOB — exercising all three code classes."""
    idx = np.ascontiguousarray(idx, dtype=np.uint8)
    h, w = idx.shape
    pal = np.asarray(pal, dtype=np.uint8)
    stream = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up file order
        row = idx[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            if run >= 2:
                stream += bytes([run, int(row[x])])
                x += run
                continue
            # literal stretch: until the next >=2 run (or row end)
            lit = x + 1
            while lit < w and not (
                lit + 1 < w and row[lit + 1] == row[lit]
            ) and lit - x < 255:
                lit += 1
            cnt = lit - x
            if cnt >= 3:
                stream += bytes([0, cnt]) + row[x:lit].tobytes()
                if cnt & 1:
                    stream += b"\x00"  # word alignment
            else:
                for k in range(cnt):
                    stream += bytes([1, int(row[x + k])])
            x = lit
        stream += b"\x00\x00"  # end of line
    stream += b"\x00\x01"  # end of bitmap
    bgra = np.zeros((len(pal), 4), dtype=np.uint8)
    bgra[:, 0] = pal[:, 2]
    bgra[:, 1] = pal[:, 1]
    bgra[:, 2] = pal[:, 0]
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(stream), 2835, 2835, len(pal), 0
    )
    off = 14 + 40 + 4 * len(pal)
    hdr = b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
    return hdr + info + bgra.tobytes() + bytes(stream)
