"""Pure-Python/numpy GIF codec — the third compressed image format
decoded natively (with ``jpeg.py``/``png.py``): GIF is LZW over
palette indices, fully implementable from the public GIF89a
specification with no codec library.

Decoder (``decode_gif``): header/logical-screen parse, global + local
color tables, block walk (extensions skipped; Graphic Control
Extension read for frame disposal awareness), per-image LZW decode
(variable code width 3..12 bits, clear + end-of-information codes,
dictionary rebuild on clear), optional interlace de-scrambling
(the four-pass row order), palette lookup to (H, W, 3) uint8.
``decode_gif`` returns the FIRST frame (the image-features
convention); ``decode_gif_frames`` yields every frame composited
onto the logical screen (disposal methods 0/1/2 — the ones GIF
animations in the wild use) for the video-style sampling path.

Encoder (``encode_gif``): minimal fixture twin — single frame,
global palette, and the classic "uncompressed GIF" LZW trick (emit a
Clear code every 2^min_code_size-2 literals so the dictionary never
grows past the initial width) — valid output any decoder accepts,
deterministic, and sidesteps patent-era compression logic entirely.

No reference parity to cite: rwang067/ligra has no media layer —
this extends the engine toward the training-data-pipeline brief.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_limits import check_pixels

__all__ = ["decode_gif", "decode_gif_frames", "encode_gif"]


def _read_color_table(buf: bytes, pos: int, size: int):
    n = 2 << size  # 2^(size+1) entries
    table = np.frombuffer(buf[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
    return table, pos + 3 * n


def _read_subblocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(buf):
            raise ValueError("truncated GIF sub-blocks")
        n = buf[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += buf[pos : pos + n]
        pos += n


def _lzw_decode(data: bytes, min_code_size: int, npix: int) -> np.ndarray:
    """GIF-flavor LZW: codes LSB-first across bytes, width grows when
    the dictionary fills, Clear resets, EOI terminates."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(npix, dtype=np.uint8)
    n_out = 0
    # dictionary: list of byte sequences; rebuilt on clear
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    pos = 0
    while n_out < npix:
        while nbits < width:
            if pos >= len(data):
                # tolerant: some writers omit EOI; stop at data end
                return out[:n_out]
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW stream")
        if prev is not None and len(table) >= (1 << width) and width < 12:
            # note: append above may have just filled the table
            width += 1
        take = min(len(entry), npix - n_out)
        out[n_out : n_out + take] = np.frombuffer(entry[:take], dtype=np.uint8)
        n_out += take
        prev = entry
    return out[:n_out]


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: np.ndarray) -> np.ndarray:
    h = idx.shape[0]
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    out = np.empty_like(idx)
    out[np.array(order)] = idx
    return out


def decode_gif_frames(buf: bytes):
    """Yields (H, W, 3) uint8 frames composited on the logical screen."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack("<HH", buf[6:10])
    check_pixels(w, h, "GIF")
    flags = buf[10]
    bg_index = buf[11]
    pos = 13
    gct = None
    if flags & 0x80:
        gct, pos = _read_color_table(buf, pos, flags & 0x07)
    screen = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None:
        screen[:, :] = gct[bg_index]
    transparent = None
    disposal = 0
    saved = None
    yielded = False
    while pos < len(buf):
        b = buf[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = buf[pos]
            pos += 1
            block, pos = _read_subblocks(buf, pos)
            if label == 0xF9 and len(block) >= 4:  # Graphic Control
                disposal = (block[0] >> 2) & 0x07
                transparent = block[3] if block[0] & 0x01 else None
            continue
        if b != 0x2C:  # image descriptor expected
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        ix, iy, iw, ih = struct.unpack("<HHHH", buf[pos : pos + 8])
        check_pixels(iw, ih, "GIF")
        iflags = buf[pos + 8]
        pos += 9
        lct = None
        if iflags & 0x80:
            lct, pos = _read_color_table(buf, pos, iflags & 0x07)
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF image has no color table")
        min_code = buf[pos]
        pos += 1
        data, pos = _read_subblocks(buf, pos)
        idx = _lzw_decode(data, min_code, iw * ih)
        if len(idx) < iw * ih:
            idx = np.pad(idx, (0, iw * ih - len(idx)))
        idx = idx.reshape(ih, iw)
        if iflags & 0x40:
            idx = _deinterlace(idx)
        if disposal == 3:
            saved = screen.copy()
        region = palette[np.minimum(idx, len(palette) - 1)]
        if transparent is not None:
            keep = idx == transparent
            region = np.where(keep[:, :, None], screen[iy : iy + ih, ix : ix + iw], region)
        screen[iy : iy + ih, ix : ix + iw] = region
        yield screen.copy()
        yielded = True
        if disposal == 2:  # restore background
            bg = gct[bg_index] if gct is not None else 0
            screen[iy : iy + ih, ix : ix + iw] = bg
        elif disposal == 3 and saved is not None:
            screen = saved
        disposal = 0
        transparent = None
    if not yielded:
        raise ValueError("GIF contained no image data")


def decode_gif(buf: bytes) -> np.ndarray:
    """First frame → (H, W, 3) uint8."""
    return next(iter(decode_gif_frames(buf)))


def encode_gif(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """Minimal GIF89a: single frame of palette indices over a global
    color table.  ``palette``: (N, 3) uint8, N a power of two ≥ 2;
    ``idx``: (H, W) uint8 indices.  Uses clear-code-refreshed literal
    LZW (no dictionary growth) — deterministic and universally
    decodable."""
    idx = np.ascontiguousarray(idx, dtype=np.uint8)
    palette = np.ascontiguousarray(palette, dtype=np.uint8)
    n = len(palette)
    if n & (n - 1) or n < 2:
        raise ValueError("palette size must be a power of two >= 2")
    size_field = max(1, n.bit_length() - 1) - 1  # 2^(f+1) = n
    h, w = idx.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | size_field, 0, 0])  # GCT present, bg 0, no aspect
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    min_code = max(2, (n - 1).bit_length())
    clear = 1 << min_code
    eoi = clear + 1
    width = min_code + 1
    acc = 0
    nbits = 0
    stream = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    # a decoder adds one dict entry per literal after the first; emit a
    # clear before the table would force a width bump
    budget = (1 << width) - eoi - 2
    count = 0
    for v in idx.reshape(-1):
        if count >= budget:
            emit(clear)
            count = 0
        emit(int(v))
        count += 1
    emit(eoi)
    if nbits:
        stream.append(acc & 0xFF)
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)
