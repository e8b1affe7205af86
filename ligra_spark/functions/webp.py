"""WebP lossless (VP8L) codec — decode per the public "WebP Lossless
Bitstream Specification"; the last major image format a web crawl
carries that the native codec set did not cover.

Decoder (``decode_webp``): RIFF walk to the 'VP8L' chunk (simple
lossless files), then the full VP8L stream: LSB-first bit reading,
all four transforms (predictor with the 14 spatial modes, cross-color,
subtract-green, color-indexing with pixel bundling), the optional
spatial meta-Huffman entropy image, color cache, canonical prefix
codes built from code-length codes (simple 1/2-symbol codes, 0-bit
single-symbol codes, repeat codes 16/17/18, max_symbol early stop),
and LZ77 backward references with the 2-D distance-neighborhood
mapping.  Output (H, W, 3) uint8 RGB (alpha dropped, matching the
other decoders).  Lossy WebP ('VP8 ' chunk) and extended container
features ('VP8X') raise ``NotImplementedError`` — scoped boundaries.

Encoder (``encode_webp_lossless``): the fixture twin — literal-only
VP8L (no LZ77, no cache, one meta group) with flat 8-bit G/R/B codes
shipped through the code-length-code machinery (a single-symbol
code-length code costs 0 bits per symbol) and 0-bit single-symbol
alpha/distance codes; optional ``subtract_green`` and ``palette``
modes exercise those inverse transforms end-to-end.  Lossless, so
round-trips are bit-exact.

The inverse predictor transform is a per-pixel scalar loop (each
pixel depends on its reconstructed neighbors) — fine for the
thumbnail-scale payloads the Arrow passes handle; everything else is
vectorized numpy.

No reference parity to cite: rwang067/ligra has no media layer — this
extends the engine toward the training-data-pipeline brief.
"""

from __future__ import annotations

import numpy as np

from .codec_limits import check_pixels
from .prefix_code import canonical_code, decode_symbol

__all__ = ["decode_webp", "encode_webp_lossless"]

# order in which code-length code lengths are stored (spec §
# "Decoding the Code Length Code Lengths")
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# distance neighborhood map: codes 1..120 are (dx, dy) offsets (spec
# § "Decoding of Distances"); generated row-major as published
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]


class _BitReaderLSB:
    """LSB-first bit reader over the VP8L payload."""

    __slots__ = ("buf", "pos", "bit")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("truncated VP8L bitstream")
        v = (self.buf[self.pos] >> self.bit) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return v

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            v |= self.read_bit() << i
        return v


class _Code:
    """Canonical prefix code from a length array: codes by increasing
    length then symbol order; a single-symbol code costs 0 bits."""

    __slots__ = ("single", "table")

    def __init__(self, lengths):
        nz = sorted((ln, sym) for sym, ln in enumerate(lengths) if ln > 0)
        if not nz:
            raise ValueError("empty VP8L prefix code")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        if sum(1 << (15 - ln) for ln, _ in nz) != 1 << 15:  # Kraft equality
            raise ValueError("VP8L prefix code is not complete")
        self.single = None
        self.table = canonical_code(nz)

    def decode(self, br: _BitReaderLSB) -> int:
        if self.single is not None:
            return self.single
        return decode_symbol(self.table, br.read_bit)


def _read_code(br: _BitReaderLSB, alphabet_size: int) -> _Code:
    """One prefix code: simple (1-2 symbols) or code-length-coded."""
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        lengths = [0] * alphabet_size
        if s0 >= alphabet_size:
            raise ValueError("VP8L simple-code symbol out of range")
        lengths[s0] = 1
        if num_symbols == 2:
            s1 = br.read(8)
            if s1 >= alphabet_size:
                raise ValueError("VP8L simple-code symbol out of range")
            lengths[s1] = 1
        return _Code(lengths)
    # normal: code-length code first
    num_cl = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _Code(cl_lengths)
    # optional early stop
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    i = 0
    while i < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        sym = cl_code.decode(br)
        if sym < 16:
            lengths[i] = sym
            i += 1
            if sym:
                prev_len = sym
        elif sym == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i >= alphabet_size:
                    raise ValueError("VP8L code-length repeat overflow")
                lengths[i] = prev_len
                i += 1
        elif sym == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > alphabet_size:
            raise ValueError("VP8L code-length run past alphabet")
    return _Code(lengths)


def _prefix_value(code: int, br: _BitReaderLSB) -> int:
    """Length/distance prefix decode (spec § "LZ77 prefix coding")."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _decode_pixels(br, w, h, cache_bits, groups, entropy, entropy_bits):
    """The entropy-coded ARGB pixel stream → (h*w, 4) uint8 [A,R,G,B].
    ``groups``: list of 5-code tuples; ``entropy``: (eh, ew) int array
    of group ids or None."""
    n = w * h
    px = np.zeros((n, 4), dtype=np.uint8)
    cache = (
        np.zeros(1 << cache_bits, dtype=np.uint32) if cache_bits else None
    )
    cache_mul = np.uint64(0x1E35A7BD)

    def cache_insert(i):
        a, r, g, b = (int(v) for v in px[i])
        argb = (a << 24) | (r << 16) | (g << 8) | b
        idx = int((int(cache_mul) * argb & 0xFFFFFFFF) >> (32 - cache_bits))
        cache[idx] = argb

    i = 0
    group = groups[0]
    while i < n:
        if entropy is not None:
            x, y = i % w, i // w
            group = groups[entropy[y >> entropy_bits, x >> entropy_bits]]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.decode(br)
        if s < 256:  # literal
            px[i, 2] = s
            px[i, 1] = r_code.decode(br)
            px[i, 3] = b_code.decode(br)
            px[i, 0] = a_code.decode(br)
            if cache is not None:
                cache_insert(i)
            i += 1
        elif s < 256 + 24:  # backward reference
            length = _prefix_value(s - 256, br)
            dist_code = _prefix_value(d_code.decode(br), br)
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > i or i + length > n:
                raise ValueError("VP8L backward reference out of range")
            for k in range(length):
                px[i + k] = px[i + k - dist]
                if cache is not None:
                    cache_insert(i + k)
            i += length
        else:  # color cache hit
            if cache is None:
                raise ValueError("VP8L cache symbol without color cache")
            idx = s - 256 - 24
            if idx >= len(cache):
                raise ValueError("VP8L cache index out of range")
            argb = int(cache[idx])
            px[i] = (
                (argb >> 24) & 0xFF,
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
            )
            # spec: cache hits re-insert (no-op value-wise); skip
            i += 1
    return px.reshape(h, w, 4)


def _decode_image_stream(br, w, h, is_level0):
    """Spec § "Decoding the Image Data": transforms (level 0 only) +
    entropy image + color cache + codes + pixel stream.  Returns
    ((h, w, 4) ARGB array, transforms list)."""
    transforms = []
    xsize = w
    if is_level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("duplicate VP8L transform")
            seen.add(ttype)
            if ttype == 0 or ttype == 1:  # predictor / cross-color
                bits = br.read(3) + 2
                bw = (xsize + (1 << bits) - 1) >> bits
                bh = (h + (1 << bits) - 1) >> bits
                data, _ = _decode_image_stream(br, bw, bh, False)
                # xsize recorded: the plane width this transform saw —
                # also the width in effect when it is inverted (any
                # color-indexing read earlier inverts later)
                transforms.append((ttype, bits, data, xsize))
            elif ttype == 2:  # subtract green
                transforms.append((2, None, None, xsize))
            else:  # color indexing
                pal_size = br.read(8) + 1
                pal_img, _ = _decode_image_stream(br, pal_size, 1, False)
                # palette entries are stored as deltas
                pal = np.cumsum(
                    pal_img.reshape(pal_size, 4).astype(np.int64), axis=0
                ).astype(np.uint8)
                if pal_size <= 2:
                    pack_bits = 3
                elif pal_size <= 4:
                    pack_bits = 2
                elif pal_size <= 16:
                    pack_bits = 1
                else:
                    pack_bits = 0
                # record the PRE-reduction width: the unbundle target
                transforms.append((3, (pack_bits, pal), None, xsize))
                xsize = (xsize + (1 << pack_bits) - 1) >> pack_bits
    entropy = None
    entropy_bits = 0
    num_groups = 1
    if is_level0 and br.read(1):  # entropy (meta-Huffman) image
        entropy_bits = br.read(3) + 2
        ew = (xsize + (1 << entropy_bits) - 1) >> entropy_bits
        eh = (h + (1 << entropy_bits) - 1) >> entropy_bits
        eimg, _ = _decode_image_stream(br, ew, eh, False)
        entropy = (
            eimg[:, :, 1].astype(np.int64) << 8
        ) | eimg[:, :, 2].astype(np.int64)
        num_groups = int(entropy.max()) + 1
    cache_bits = 0
    if br.read(1):  # color cache
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("bad VP8L color-cache size")
    groups = []
    for _ in range(num_groups):
        g = _read_code(br, 256 + 24 + (1 << cache_bits if cache_bits else 0))
        r = _read_code(br, 256)
        b = _read_code(br, 256)
        a = _read_code(br, 256)
        d = _read_code(br, 40)
        groups.append((g, r, b, a, d))
    px = _decode_pixels(br, xsize, h, cache_bits, groups, entropy, entropy_bits)
    return px, transforms


def _apply_inverse_transforms(px, transforms, h):
    """ARGB plane + recorded transforms (in read order) → final ARGB.
    Inverses run in reverse order of appearance; each uses the plane
    width recorded at its read point."""
    for ttype, meta, data, tw in reversed(transforms):
        if ttype == 3:  # color indexing: unbundle + palette map
            pack_bits, pal = meta
            if pack_bits:
                per = 1 << pack_bits
                ibits = 8 >> pack_bits
                idx_packed = px[:, :, 2]  # green channel holds indices
                unpacked = np.zeros((h, idx_packed.shape[1] * per), np.uint8)
                for k in range(per):
                    unpacked[:, k::per] = (
                        idx_packed >> (k * ibits)
                    ) & ((1 << ibits) - 1)
                idx = unpacked[:, :tw]
            else:
                idx = px[:, :, 2][:, :tw]
            if int(idx.max(initial=0)) >= len(pal):
                idx = np.minimum(idx, len(pal) - 1)
            px = pal[idx]
        elif ttype == 2:  # add green to red and blue
            g = px[:, :, 2].astype(np.int16)
            px = px.copy()
            px[:, :, 1] = ((px[:, :, 1] + g) & 0xFF).astype(np.uint8)
            px[:, :, 3] = ((px[:, :, 3] + g) & 0xFF).astype(np.uint8)
        elif ttype == 1:  # cross-color
            # transform-element channels (spec): BLUE = green_to_red,
            # GREEN = green_to_blue, RED = red_to_blue; deltas are
            # (int8(t) * int8(c)) >> 5, red restored before blue
            bits = meta
            px = px.astype(np.int32)
            for y in range(h):
                brow = data[y >> bits]
                for x in range(tw):
                    cte = brow[x >> bits]
                    g2r = int(np.int8(cte[3]))
                    g2b = int(np.int8(cte[2]))
                    r2b = int(np.int8(cte[1]))
                    g = int(np.int8(px[y, x, 2]))
                    px[y, x, 1] = (px[y, x, 1] + ((g2r * g) >> 5)) & 0xFF
                    r = int(np.int8(px[y, x, 1]))
                    px[y, x, 3] = (
                        px[y, x, 3] + ((g2b * g) >> 5) + ((r2b * r) >> 5)
                    ) & 0xFF
            px = px.astype(np.uint8)
        else:  # predictor
            bits = meta
            px = _inverse_predictor(px, data, bits, tw, h)
    return px


def _inverse_predictor(px, modes, bits, w, h):
    """Spec § "Predictor Transform", inverse: add the predicted ARGB
    (mode from the sub-image green channel per block) to each coded
    residual, scanning in raster order."""
    out = px.astype(np.int32)

    def avg2(a, b):
        return (a + b) // 2

    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = np.array([255, 0, 0, 0], dtype=np.int32)
            elif y == 0:
                pred = out[0, x - 1]
            elif x == 0:
                pred = out[y - 1, 0]
            else:
                mode = int(modes[y >> bits, (x >> bits), 2])
                L = out[y, x - 1]
                T = out[y - 1, x]
                TL = out[y - 1, x - 1]
                # TR off the right edge wraps to the first pixel of
                # the CURRENT row (libwebp's row layout: top[x+1] at
                # x = w-1 addresses this row's leftmost pixel)
                TR = out[y - 1, x + 1] if x + 1 < w else out[y, 0]
                if mode == 0:
                    pred = np.array([255, 0, 0, 0], dtype=np.int32)
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = avg2(avg2(L, TR), T)
                elif mode == 6:
                    pred = avg2(L, TL)
                elif mode == 7:
                    pred = avg2(L, T)
                elif mode == 8:
                    pred = avg2(TL, T)
                elif mode == 9:
                    pred = avg2(T, TR)
                elif mode == 10:
                    pred = avg2(avg2(L, TL), avg2(T, TR))
                elif mode == 11:  # Select
                    p = L + T - TL
                    pl = np.abs(p - L).sum()
                    pt = np.abs(p - T).sum()
                    pred = L if pl < pt else T
                elif mode == 12:  # ClampAddSubtractFull
                    pred = np.clip(L + T - TL, 0, 255)
                elif mode == 13:  # ClampAddSubtractHalf
                    av = avg2(L, T)
                    d = av - TL
                    # C-style truncation toward zero, per channel
                    half = np.sign(d) * (np.abs(d) // 2)
                    pred = np.clip(av + half, 0, 255)
                else:
                    raise ValueError(f"bad VP8L predictor mode {mode}")
            out[y, x] = (out[y, x] + pred) & 0xFF
    return out.astype(np.uint8)


def decode_webp(buf: bytes) -> np.ndarray:
    """WebP → (H, W, 3) uint8 RGB.  Lossless (VP8L) only; see module
    docstring for scope."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    payload = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"VP8L":
            payload = body
            break
        if cid == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8) is not supported (lossless VP8L decodes "
                "natively)"
            )
        if cid == b"VP8X":
            raise NotImplementedError(
                "extended WebP container (VP8X) is not supported"
            )
        pos += 8 + size + (size & 1)
    if payload is None:
        raise ValueError("WebP has no VP8L chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _BitReaderLSB(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    check_pixels(w, h, "VP8L")
    px, transforms = _decode_image_stream(br, w, h, True)
    px = _apply_inverse_transforms(px, transforms, h)
    if px.shape[0] != h or px.shape[1] < w:
        raise ValueError("VP8L decoded plane has wrong shape")
    return px[:, :w, 1:4].copy()  # ARGB -> RGB


# ---------------------------------------------------------------------------
# encoder (fixture/test twin)


class _BitWriterLSB:
    __slots__ = ("out", "cur", "bit")

    def __init__(self):
        self.out = bytearray()
        self.cur = 0
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.cur |= ((value >> i) & 1) << self.bit
            self.bit += 1
            if self.bit == 8:
                self.out.append(self.cur)
                self.cur = 0
                self.bit = 0

    def finish(self) -> bytes:
        if self.bit:
            self.out.append(self.cur)
            self.cur = 0
            self.bit = 0
        return bytes(self.out)


_REV8 = [int(f"{i:08b}"[::-1], 2) for i in range(256)]


def _write_flat_code(bw: _BitWriterLSB) -> None:
    """A 256-symbol flat 8-bit prefix code via the code-length-code
    machinery: the code-length code has ONE nonzero symbol ('8', at
    position 11 of the storage order), so it is a 0-bit code and the
    256 repeated length-8 entries cost nothing; the max_symbol early
    stop ends the read."""
    bw.write(0, 1)  # not a simple code
    bw.write(12 - 4, 4)  # read 12 code-length code lengths
    for i in range(12):
        bw.write(1 if _CL_ORDER[i] == 8 else 0, 3)
    bw.write(1, 1)  # use max_symbol
    bw.write(3, 3)  # length_nbits = 2 + 2*3 = 8
    bw.write(256 - 2, 8)  # max_symbol = 256
    # 256 zero-bit '8' symbols follow implicitly


def _write_single_symbol_code(bw: _BitWriterLSB, symbol: int) -> None:
    bw.write(1, 1)  # simple
    bw.write(0, 1)  # one symbol
    if symbol < 2:
        bw.write(0, 1)
        bw.write(symbol, 1)
    else:
        bw.write(1, 1)
        bw.write(symbol, 8)


def _write_literal_stream(bw, argb_rows, level0):
    """One image stream, literal-only: optional entropy bit (level 0),
    no color cache, flat 8-bit codes on all four channels, then the
    pixels.  ``argb_rows``: (ys, xs, 4) int array [A, R, G, B]."""
    if level0:
        bw.write(0, 1)  # no entropy (meta-prefix) image
    bw.write(0, 1)  # no color cache
    _write_flat_code(bw)  # green (+len/cache symbols unused)
    _write_flat_code(bw)  # red
    _write_flat_code(bw)  # blue
    _write_flat_code(bw)  # alpha
    _write_single_symbol_code(bw, 0)  # distance (never used)
    ys, xs = argb_rows.shape[0], argb_rows.shape[1]
    # prefix-code words are consumed MSB-first by the decoder while
    # the bit writer emits LSB-first, so each flat 8-bit code word is
    # written bit-reversed (canonical code for symbol s == s)
    rev = _REV8
    for y in range(ys):
        for x in range(xs):
            a, r, g, b = (int(v) & 0xFF for v in argb_rows[y, x])
            bw.write(rev[g], 8)
            bw.write(rev[r], 8)
            bw.write(rev[b], 8)
            bw.write(rev[a], 8)


def _wrap_riff(payload: bytes) -> bytes:
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def encode_webp_lossless(
    img: np.ndarray,
    subtract_green: bool = False,
    palette: bool = False,
) -> bytes:
    """(H, W, 3) or (H, W) uint8 → lossless WebP.  Literal-only VP8L
    (no LZ77, no cache, one meta group); ``subtract_green`` and
    ``palette`` (requires <= 256 distinct colors; exercises delta
    palette coding + pixel bundling) turn on those inverse-transform
    paths end-to-end.  Lossless: decode round-trips bit-exactly."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    h, w, _ = img.shape
    if h > (1 << 14) or w > (1 << 14):
        raise ValueError("image too large for VP8L header")
    if subtract_green and palette:
        raise ValueError("choose one fixture transform at a time")

    bw = _BitWriterLSB()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha hint
    bw.write(0, 3)  # version

    if palette:
        colors, inverse = np.unique(
            img.reshape(-1, 3), axis=0, return_inverse=True
        )
        if len(colors) > 256:
            raise ValueError("palette encoding needs <= 256 colors")
        idx = inverse.reshape(h, w).astype(np.uint8)
        bw.write(1, 1)  # a transform follows
        bw.write(3, 2)  # color indexing
        bw.write(len(colors) - 1, 8)
        # palette sub-image: 1-high row of ARGB DELTAS
        pal_argb = np.zeros((len(colors), 4), dtype=np.int32)
        pal_argb[:, 0] = 255
        pal_argb[:, 1:] = colors
        deltas = np.diff(
            np.vstack([np.zeros((1, 4), np.int32), pal_argb]), axis=0
        ) & 0xFF
        _write_literal_stream(bw, deltas[None, :, :], level0=False)
        bw.write(0, 1)  # no more transforms
        # bundle indices into the reduced-width green plane
        if len(colors) <= 2:
            pack_bits = 3
        elif len(colors) <= 4:
            pack_bits = 2
        elif len(colors) <= 16:
            pack_bits = 1
        else:
            pack_bits = 0
        if pack_bits:
            per = 1 << pack_bits
            ibits = 8 >> pack_bits
            rw = (w + per - 1) // per
            packed = np.zeros((h, rw), dtype=np.int32)
            for k in range(per):
                col = idx[:, k::per]
                packed[:, : col.shape[1]] |= col.astype(np.int32) << (
                    k * ibits
                )
            green = packed
        else:
            rw = w
            green = idx.astype(np.int32)
        rows = np.zeros((h, rw, 4), dtype=np.int32)
        rows[:, :, 0] = 255
        rows[:, :, 2] = green
        _write_literal_stream(bw, rows, level0=True)
        return _wrap_riff(b"\x2f" + bw.finish())

    r = img[:, :, 0].astype(np.int32)
    g = img[:, :, 1].astype(np.int32)
    b = img[:, :, 2].astype(np.int32)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract-green (no data)
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    bw.write(0, 1)  # no more transforms
    rows = np.stack([np.full_like(g, 255), r, g, b], axis=2)
    _write_literal_stream(bw, rows, level0=True)
    return _wrap_riff(b"\x2f" + bw.finish())
