"""Pure-numpy baseline JPEG (JFIF) codec — the native decode path for
the one compressed format a real crawl is dominated by.

Decoder (``decode_jpeg``): baseline sequential DCT (SOF0) AND
progressive DCT (SOF2) per ITU-T T.81 — marker walk (APPn/COM
skipped), DQT (8/16-bit tables), DHT (canonical-code Huffman tables,
built FROM THE STREAM — nothing about the file's tables is assumed),
SOF0/SOF2, DRI, SOS, restart markers with DC-predictor reset,
byte-stuffing (0xFF00) removal, per-MCU entropy decode (DC diff
categories + AC run/size with ZRL/EOB), dequantize, de-zigzag, float
IDCT (precomputed orthonormal 8x8 basis, one einsum per component),
level shift, chroma upsample (nearest / pixel replication — the spec
leaves the interpolation filter free), YCbCr→RGB (JFIF full-range
constants), clamp.  Progressive streams (T.81 Annex G) accumulate
quantized coefficients across scans — spectral selection (Ss..Se
bands, single-component AC scans with EOBn run coding) and successive
approximation (Ah/Al bit-plane first/refinement passes, G.1.2.2-3) —
and reconstruct once at EOI.  Output is always (H, W, 3) uint8;
grayscale replicates the luma plane.  Arithmetic coding, hierarchical
(SOF5-7/13-15) and 12-bit precision raise ``NotImplementedError`` —
scoped boundaries, not stubs.

Encoder (``encode_jpeg_baseline``): the fixture/test twin — FDCT +
quantization + Annex-K Huffman tables (shipped in the file's own
DQT/DHT segments, so the decoder never depends on the transcription),
grayscale or 4:4:4 YCbCr.  Deliberately minimal: no subsampled
encoding, no restarts.  Its one load-bearing property, pinned by
tests: an image whose every 8x8 block is UNIFORM encodes to DC-only
blocks, and with a DC quantizer that divides 8·(v−128) exactly the
decode round-trips BIT-EXACTLY — which is what lets the driver's
DuckDB oracle recompute decoded-JPEG features from sha256 digests
without owning a codec.

No reference parity to cite: rwang067/ligra has no media layer at all
— this extends the engine toward the training-data-pipeline brief.
"""

from __future__ import annotations

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg_baseline", "encode_jpeg_progressive"]

# zig-zag order: ZIGZAG[i] = raster index of the i-th coefficient in
# the entropy-coded stream (T.81 Figure 5)
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# orthonormal 8x8 DCT basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16);
# IDCT of an 8x8 coefficient block F is A.T @ F @ A
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _build_huffman(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman table per T.81 Annex C: ``bits[l]`` codes of
    length l+1, symbols assigned in ``vals`` order with codes counting
    up and left-shifting at each length step.  Returns
    {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    if sum(bits) > len(vals):
        raise ValueError("truncated JPEG Huffman table")
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-stuffing removal; stops (and records the marker) at any other
    0xFF-marker so the caller can handle RSTn / end-of-scan."""

    __slots__ = ("buf", "pos", "bitbuf", "nbits", "marker")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        b = self.buf
        p = self.pos
        if p >= len(b):
            return False
        byte = b[p]
        if byte == 0xFF:
            nxt = b[p + 1] if p + 1 < len(b) else 0xD9
            if nxt == 0x00:  # stuffed 0xFF data byte
                self.pos = p + 2
            else:  # a real marker terminates the entropy segment
                self.marker = nxt
                return False
        else:
            self.pos = p + 1
        self.bitbuf = (self.bitbuf << 8) | byte
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise ValueError("truncated JPEG entropy data")
        self.nbits -= 1
        bit = (self.bitbuf >> self.nbits) & 1
        self.bitbuf &= (1 << self.nbits) - 1  # unmasked: O(scan²) decode
        return bit

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def byte_align_and_expect_rst(self, n: int) -> None:
        """Drop partial bits, consume the RSTn marker the stuffing
        scanner parked on (restart intervals byte-align, T.81 E.2.4)."""
        self.bitbuf = 0
        self.nbits = 0
        if self.marker is None:
            # marker byte not yet reached — it must be next in the raw
            # stream (skip it: 0xFF RSTn)
            if (
                self.pos + 1 < len(self.buf)
                and self.buf[self.pos] == 0xFF
                and self.buf[self.pos + 1] == 0xD0 + n
            ):
                self.pos += 2
                return
            raise ValueError("expected JPEG restart marker")
        if self.marker != 0xD0 + n:
            raise ValueError(
                f"bad restart marker: got {self.marker:02x}, want {0xD0 + n:02x}"
            )
        self.pos += 2  # past 0xFF RSTn the scanner stopped at
        self.marker = None


def _extend(v: int, t: int) -> int:
    """DC/AC magnitude decode (T.81 F.2.2.1): t-bit value v maps to
    the signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline-sequential JFIF decode → (H, W, 3) uint8 (grayscale
    replicated).  See module docstring for scope."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, comps) from SOF0/SOF2
    progressive = False
    coefs: list[np.ndarray] | None = None  # per-comp (N, 64) zigzag int32
    restart_interval = 0
    rgb: np.ndarray | None = None
    while pos + 2 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("bad JPEG marker sync")
        # legal 0xFF fill bytes may pad before any marker (T.81 B.1.1.2)
        while pos + 1 < len(buf) and buf[pos + 1] == 0xFF:
            pos += 1
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RSTn: standalone markers with no length field
            pos += 2
            continue
        if pos + 4 > len(buf):
            raise ValueError("truncated JPEG marker segment")
        seglen = int.from_bytes(buf[pos + 2 : pos + 4], "big")
        body = buf[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT — possibly several tables per segment
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 0x0F
                i += 1
                if prec == 0:
                    tbl = np.frombuffer(body[i : i + 64], dtype=np.uint8).astype(
                        np.int32
                    )
                    i += 64
                else:
                    tbl = np.frombuffer(
                        body[i : i + 128], dtype=">u2"
                    ).astype(np.int32)
                    i += 128
                qt[tid] = tbl  # zig-zag order, as stored
        elif marker == 0xC4:  # DHT — possibly several tables
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                i += 1
                bits = list(body[i : i + 16])
                i += 16
                n = sum(bits)
                vals = list(body[i : i + n])
                i += n
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(bits, vals)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec = body[0]
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG is not supported")
            progressive = marker == 0xC2
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            frame = (h, w, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0/SOF1) and progressive (SOF2) JPEG "
                "DCT modes are supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if len(body) < 1 or len(body) < 4 + 2 * body[0]:
                # ns + 2 bytes/component + Ss/Se/AhAl must all be present
                raise ValueError("truncated JPEG SOS header")
            ns = body[0]
            scan_tabs = {}
            scan_order = []
            for s in range(ns):
                cs, tdta = body[1 + 2 * s], body[2 + 2 * s]
                scan_tabs[cs] = (tdta >> 4, tdta & 0x0F)
                scan_order.append(cs)
            if progressive:
                ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                if coefs is None:
                    coefs = _alloc_coef_planes(frame)
                pos = _decode_progressive_scan(
                    buf, pos, frame, scan_order, scan_tabs, ss, se,
                    ahal >> 4, ahal & 0x0F, coefs, huff_dc, huff_ac,
                    restart_interval,
                )
            else:
                rgb, pos = _decode_scan(
                    buf, pos, frame, scan_tabs, qt, huff_dc, huff_ac,
                    restart_interval,
                )
        # APPn / COM / others: skipped
    if progressive and coefs is not None:
        rgb = _finish_progressive(frame, coefs, qt)
    if rgb is None:
        raise ValueError("JPEG had no decoded scan")
    return rgb


def _decode_scan(buf, pos, frame, scan_tabs, qt, huff_dc, huff_ac, restart_interval):
    h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # per-component coefficient planes (in 8x8 block units)
    planes = []
    for c in comps:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        planes.append(np.zeros((bh * bw, 8, 8), dtype=np.float64))
    reader = _BitReader(buf, pos)
    pred = [0] * len(comps)
    # validate table references BEFORE the MCU loop: corrupt streams
    # must fail with a clean ValueError, not a KeyError mid-decode
    for c in comps:
        if c["id"] not in scan_tabs:
            raise ValueError(f"JPEG scan missing component {c['id']}")
        td, ta = scan_tabs[c["id"]]
        if td not in huff_dc or ta not in huff_ac or c["tq"] not in qt:
            raise ValueError("JPEG scan references undefined DHT/DQT table")
    rst_n = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.byte_align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) % 8
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan_tabs[c["id"]]
                dct, act = huff_dc[td], huff_ac[ta]
                q = qt[c["tq"]]
                bw = mcux * c["h"]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        t = reader.decode_symbol(dct)
                        diff = _extend(reader.receive(t), t)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(act)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL: sixteen zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[ZIGZAG] = zz * q  # dequant + de-zigzag
                        bidx = (my * c["v"] + by) * bw + (mx * c["h"] + bx)
                        planes[ci][bidx] = block.reshape(8, 8)
            mcu_count += 1
    rgb = _reconstruct(frame, planes, mcux, mcuy, hmax, vmax)
    # skip to the marker the reader parked on (EOI normally)
    end = reader.pos
    if reader.marker is None:
        while end + 1 < len(buf) and not (
            buf[end] == 0xFF and buf[end + 1] != 0x00
        ):
            end += 1
    return rgb, end


def _reconstruct(frame, planes, mcux, mcuy, hmax, vmax) -> np.ndarray:
    """Dequantized (N, 8, 8) coefficient blocks per component →
    (H, W, 3) uint8: one vectorized IDCT einsum per component, block
    grid reassembly, chroma upsample, color transform."""
    h, w, comps = frame
    out_planes = []
    for ci, c in enumerate(comps):
        bw, bh = mcux * c["h"], mcuy * c["v"]
        pix = np.einsum("ux,nuv,vy->nxy", _A, planes[ci], _A) + 128.0
        # reassemble block grid → (bh*8, bw*8) plane
        plane = (
            pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        # upsample to full MCU-padded resolution (nearest / replication)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
        out_planes.append(plane[:h, :w])
    if len(comps) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=2)
    if len(comps) == 3:
        y, cb, cr = out_planes
        cb = cb - 128.0
        cr = cr - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        return np.clip(
            np.round(np.stack([r, g, b], axis=2)), 0, 255
        ).astype(np.uint8)
    raise NotImplementedError(f"{len(comps)}-component JPEG is not supported")


# ---------------------------------------------------------------------------
# progressive (SOF2) decode — T.81 Annex G


def _frame_geometry(frame):
    h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _alloc_coef_planes(frame) -> list[np.ndarray]:
    """Per-component (n_blocks, 64) int32 zigzag-order coefficient
    accumulators on the MCU-padded block grid — scans add to these,
    reconstruction happens once at EOI."""
    _, _, comps = frame
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    return [
        np.zeros((mcuy * c["v"] * mcux * c["h"], 64), dtype=np.int32)
        for c in comps
    ]


def _comp_block_grid(frame, c):
    """Non-interleaved scan geometry (T.81 A.2.2): a single-component
    scan walks ONLY the blocks covering the component's own samples —
    ceil(ceil(dim·samp/sampmax)/8) per axis — in raster order on the
    padded plane (padded row stride, so partial planes compose with
    interleaved DC scans)."""
    h, w, comps = frame
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    cw = (w * c["h"] + hmax - 1) // hmax
    ch_ = (h * c["v"] + vmax - 1) // vmax
    cbw = (cw + 7) // 8
    cbh = (ch_ + 7) // 8
    return cbw, cbh, mcux * c["h"]  # used cols, used rows, padded stride


def _decode_progressive_scan(
    buf, pos, frame, scan_order, scan_tabs, ss, se, ah, al,
    coefs, huff_dc, huff_ac, restart_interval,
):
    """One progressive scan into the coefficient accumulators.
    Four scan kinds (G.1.2.1-3): DC first (diff<<Al), DC refinement
    (one bit ORed at Al), AC first (band Ss..Se with EOBn run codes),
    AC refinement (correction bits, G.1.2.3).  Returns the stream
    position after the scan's entropy data."""
    h, w, comps = frame
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    byid = {c["id"]: (ci, c) for ci, c in enumerate(comps)}
    scomps = []
    for cid in scan_order:
        if cid not in byid:
            raise ValueError(f"JPEG scan references unknown component {cid}")
        scomps.append(byid[cid])
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        for ci, c in scomps:
            td = scan_tabs[c["id"]][0]
            if ah == 0 and td not in huff_dc:
                raise ValueError("JPEG scan references undefined DHT table")
    else:
        if len(scomps) != 1:
            raise ValueError("progressive AC scan must be single-component")
        ta = scan_tabs[scomps[0][1]["id"]][1]
        if ah == 0 and ta not in huff_ac:
            raise ValueError("JPEG scan references undefined DHT table")
    reader = _BitReader(buf, pos)
    pred = [0] * len(comps)
    eobrun = 0
    rst_n = 0
    mcu_count = 0

    def maybe_restart():
        nonlocal pred, eobrun, rst_n
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            reader.byte_align_and_expect_rst(rst_n)
            rst_n = (rst_n + 1) % 8
            pred = [0] * len(comps)
            eobrun = 0

    if ss == 0 and len(scomps) > 1:
        # interleaved DC scan: MCU walk, h*v blocks per component
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for ci, c in scomps:
                    bw = mcux * c["h"]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            bidx = (my * c["v"] + by) * bw + (mx * c["h"] + bx)
                            _dc_block(
                                reader, coefs[ci], bidx, ah, al, pred, ci,
                                huff_dc.get(scan_tabs[c["id"]][0]),
                            )
                mcu_count += 1
    else:
        # non-interleaved: one block per MCU over the used grid
        ci, c = scomps[0]
        cbw, cbh, stride = _comp_block_grid(frame, c)
        tabs = scan_tabs[c["id"]]
        for by in range(cbh):
            for bx in range(cbw):
                maybe_restart()
                bidx = by * stride + bx
                if ss == 0:
                    _dc_block(
                        reader, coefs[ci], bidx, ah, al, pred, ci,
                        huff_dc.get(tabs[0]),
                    )
                elif ah == 0:
                    eobrun = _ac_first_block(
                        reader, coefs[ci], bidx, ss, se, al, eobrun,
                        huff_ac.get(tabs[1]),
                    )
                else:
                    eobrun = _ac_refine_block(
                        reader, coefs[ci], bidx, ss, se, al, eobrun,
                        huff_ac.get(tabs[1]),
                    )
                mcu_count += 1
    # skip to the marker terminating this scan's entropy data
    end = reader.pos
    if reader.marker is None:
        while end + 1 < len(buf) and not (
            buf[end] == 0xFF and buf[end + 1] != 0x00
        ):
            end += 1
    return end


def _dc_block(reader, coef, bidx, ah, al, pred, ci, dct):
    if ah == 0:  # first pass: category + diff bits, shifted to Al
        t = reader.decode_symbol(dct)
        diff = _extend(reader.receive(t), t)
        pred[ci] += diff
        coef[bidx, 0] = pred[ci] << al
    else:  # refinement: one correction bit ORed into bit Al
        if reader.read_bit():
            coef[bidx, 0] |= 1 << al


def _ac_first_block(reader, coef, bidx, ss, se, al, eobrun, act):
    """G.1.2.2: run/size with EOBn band-run codes; values land <<Al."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_symbol(act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past spectral band end")
        coef[bidx, k] = _extend(reader.receive(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(reader, coef, bidx, ss, se, al, eobrun, act):
    """G.1.2.3: newly-nonzero insertions (magnitude 1<<Al) interleaved
    with one correction bit for every already-nonzero coefficient the
    scan passes over."""
    p1 = 1 << al

    def correct(k):
        c = int(coef[bidx, k])
        if reader.read_bit() and (c & p1) == 0:
            coef[bidx, k] = c + (p1 if c >= 0 else -p1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_symbol(act)
            r, s = rs >> 4, rs & 0x0F
            newval = 0
            if s == 0:
                if r != 15:  # EOBn: run includes this block
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: ZRL — pass over 16 zero-history coefficients
            elif s == 1:
                newval = p1 if reader.read_bit() else -p1
            else:
                raise ValueError("bad size in AC refinement scan")
            while k <= se:
                if coef[bidx, k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[bidx, k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[bidx, k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _finish_progressive(frame, coefs, qt) -> np.ndarray:
    """Dequantize the accumulated zigzag coefficients and reconstruct."""
    _, _, comps = frame
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    planes = []
    for ci, c in enumerate(comps):
        if c["tq"] not in qt:
            raise ValueError("JPEG frame references undefined DQT table")
        deq = coefs[ci].astype(np.float64) * qt[c["tq"]][None, :]
        full = np.zeros_like(deq)
        full[:, ZIGZAG] = deq  # de-zigzag, vectorized over blocks
        planes.append(full.reshape(-1, 8, 8))
    return _reconstruct(frame, planes, mcux, mcuy, hmax, vmax)


# ---------------------------------------------------------------------------
# encoder (fixture/test twin)

# T.81 Annex K Huffman tables (the conventional tables every encoder
# ships; transcription errors would be self-consistent — the decoder
# reads whatever DHT carries — but these match the published tables)
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHR_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _encode_table(bits, vals) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for the encoder side."""
    dec = _build_huffman(bits, vals)
    return {sym: (code, length) for (length, code), sym in dec.items()}


class _BitWriter:
    __slots__ = ("out", "bitbuf", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.bitbuf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.bitbuf = (self.bitbuf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.bitbuf >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self.bitbuf &= (1 << self.nbits) - 1  # keep only unwritten bits

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3


def _category(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _encode_block(wr, zz, pred, dc_tab, ac_tab):
    diff = int(zz[0]) - pred
    t = _category(diff)
    code, ln = dc_tab[t]
    wr.write(code, ln)
    if t:
        wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_tab[0xF0]  # ZRL
            wr.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_tab[(run << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]  # EOB
        wr.write(code, ln)
    return int(zz[0])


def _prepare_encode_planes(img, quant, grayscale, sampling):
    """Shared front half of both encoders: RGB→YCbCr, chroma
    downsample, quant-table normalization.  Returns
    (planes, samps, q, h, w)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, nc = img.shape
    if grayscale is None:
        grayscale = nc == 1
    if grayscale:
        planes = [img[:, :, 0].astype(np.float64)]
        samps = [(1, 1)]
    else:
        rf = img[:, :, 0].astype(np.float64)
        gf = img[:, :, 1].astype(np.float64)
        bf = img[:, :, 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        if sampling == "444":
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
        elif sampling == "420":
            if h % 16 or w % 16:
                raise ValueError("4:2:0 encoding requires multiple-of-16 dims")
            # 2x2 box downsample for chroma
            ds = lambda p: p.reshape(h // 2, 2, w // 2, 2).mean(  # noqa: E731
                axis=(1, 3)
            )
            planes = [y, ds(cb), ds(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported sampling {sampling!r}")
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    if h % (8 * vmax) or w % (8 * hmax):
        raise ValueError("encoder requires MCU-aligned dimensions")
    q = (
        np.full(64, int(quant), dtype=np.int64)
        if np.isscalar(quant)
        else np.asarray(quant, dtype=np.int64).reshape(64)
    )
    return planes, samps, q, h, w


def _fdct_quant(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(bh*8, bw*8) float plane → (N, 64) int zig-zag quantized
    coefficients.  FDCT via the same orthonormal basis (A @ f @ A.T)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        - 128.0
    )
    coeff = np.einsum("ux,nxy,vy->nuv", _A, blocks, _A)
    zz = coeff.reshape(-1, 64)[:, ZIGZAG]
    return np.round(zz / q[None, :]).astype(np.int64)


def encode_jpeg_baseline(
    img: np.ndarray,
    quant: np.ndarray | int = 16,
    grayscale: bool | None = None,
    sampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline encoder: grayscale (H, W) / (H, W, 1), or
    YCbCr color (H, W, 3) at 4:4:4 or 4:2:0 (``sampling``); H and W
    must be multiples of 8 (16 for 4:2:0) — fixture scope, no
    edge-block padding policy to get subtly wrong.  ``quant``: a
    scalar (flat table) or a 64-entry zig-zag table, applied to every
    component.  ``restart_interval`` > 0 emits DRI + RSTn every that
    many MCUs (exercises the decoder's restart path)."""
    planes, samps, q, h, w = _prepare_encode_planes(
        img, quant, grayscale, sampling
    )
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00" + bytes(
        [0, 1, 0, 1, 0, 0]
    )
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([0x00]) + bytes(
        int(v) for v in q
    )
    nc_out = len(planes)
    sof = bytearray([8])
    sof += h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc_out])
    for cid in range(1, nc_out + 1):
        ch, cv = samps[cid - 1]
        sof += bytes([cid, (ch << 4) | cv, 0])  # all share quant table 0
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof

    def dht(tc, th, bits, vals):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + body

    out += dht(0, 0, _DC_LUM_BITS, _DC_LUM_VALS)
    out += dht(1, 0, _AC_LUM_BITS, _AC_LUM_VALS)
    if nc_out == 3:
        out += dht(0, 1, _DC_CHR_BITS, _DC_CHR_VALS)
        out += dht(1, 1, _AC_CHR_BITS, _AC_CHR_VALS)
    if restart_interval:
        out += b"\xff\xdd" + (4).to_bytes(2, "big") + restart_interval.to_bytes(
            2, "big"
        )

    sos = bytearray([nc_out])
    for cid in range(1, nc_out + 1):
        th = 0 if cid == 1 else 1
        sos += bytes([cid, (th << 4) | th])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos

    # per-component quantized coefficients on each component's block grid
    coeffs = [_fdct_quant(p, q) for p in planes]
    bws = [p.shape[1] // 8 for p in planes]
    dc_tabs = [_encode_table(_DC_LUM_BITS, _DC_LUM_VALS)] + [
        _encode_table(_DC_CHR_BITS, _DC_CHR_VALS)
    ] * (nc_out - 1)
    ac_tabs = [_encode_table(_AC_LUM_BITS, _AC_LUM_VALS)] + [
        _encode_table(_AC_CHR_BITS, _AC_CHR_VALS)
    ] * (nc_out - 1)
    wr = _BitWriter()
    preds = [0] * nc_out
    mcux = w // (8 * hmax)
    mcuy = h // (8 * vmax)
    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wr.flush()
                wr.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                preds = [0] * nc_out
            for ci in range(nc_out):
                ch, cv = samps[ci]
                for by in range(cv):
                    for bx in range(ch):
                        bidx = (my * cv + by) * bws[ci] + (mx * ch + bx)
                        preds[ci] = _encode_block(
                            wr, coeffs[ci][bidx], preds[ci], dc_tabs[ci], ac_tabs[ci]
                        )
            mcu_count += 1
    wr.flush()
    out += wr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (fixture/test twin for the Annex-G decode path)


# Progressive AC scans need EOBn symbols (0x10, 0x20, ... 0xE0) that
# the Annex-K baseline tables do not contain — real encoders ship
# optimized per-scan tables.  The fixture twin ships a near-flat
# canonical table covering ALL 256 symbols (254 8-bit codes + two
# 9-bit), read from DHT like any other — compression ratio is not the
# fixture's job, table-independence of the decoder is.
_AC_PROG_BITS = [0, 0, 0, 0, 0, 0, 0, 254, 2, 0, 0, 0, 0, 0, 0, 0]
_AC_PROG_VALS = list(range(256))


class _ProgACState:
    """Cross-block state for one progressive AC scan: the pending EOBn
    run and (refinement only) the correction bits that must follow the
    next emitted symbol (G.1.2.3's BE buffer)."""

    __slots__ = ("eobrun", "pending_bits")

    def __init__(self):
        self.eobrun = 0
        self.pending_bits: list[int] = []

    def flush(self, wr, ac_tab):
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            code, ln = ac_tab[r << 4]
            wr.write(code, ln)
            if r:
                wr.write(self.eobrun - (1 << r), r)
            self.eobrun = 0
        for b in self.pending_bits:
            wr.write(b, 1)
        self.pending_bits = []


def _ac_point(v: int, al: int) -> int:
    """AC successive-approximation point transform: division by 2^Al
    truncated TOWARD ZERO (G.1.2.2) — plain >> would floor negatives."""
    return (v >> al) if v >= 0 else -((-v) >> al)


def _encode_ac_first(wr, zz, ss, se, al, ac_tab, st: _ProgACState):
    r = 0
    for k in range(ss, se + 1):
        v = _ac_point(int(zz[k]), al)
        if v == 0:
            r += 1
            continue
        st.flush(wr, ac_tab)
        while r > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            wr.write(code, ln)
            r -= 16
        s = _category(v)
        code, ln = ac_tab[(r << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:  # EOBn codes cap at r=14
            st.flush(wr, ac_tab)


def _encode_ac_refine(wr, zz, ss, se, al, ac_tab, st: _ProgACState):
    """G.1.2.3 encoder: |v|==1 coefficients are newly nonzero (emit a
    run/1 symbol + sign bit); |v|>1 coefficients contribute one
    buffered correction bit that rides behind the next symbol."""
    absv = [abs(_ac_point(int(zz[k]), al)) for k in range(ss, se + 1)]
    eob = 0  # band offset just past the last newly-nonzero coefficient
    for i, a in enumerate(absv):
        if a == 1:
            eob = i + 1
    r = 0
    block_bits: list[int] = []
    for i, a in enumerate(absv):
        if a == 0:
            r += 1
            continue
        # runs > 15 must flush as ZRL BEFORE any nonzero coefficient
        # (history or new) inside the newly-nonzero span — the decoder
        # consumes passed-over correction bits in stream order, so a
        # ZRL deferred past a history coefficient would desync them.
        # Runs wholly beyond the last newly-nonzero coef fold into the
        # EOB run instead (the i < eob guard).
        while r > 15 and i < eob:
            st.flush(wr, ac_tab)
            code, ln = ac_tab[0xF0]
            wr.write(code, ln)
            r -= 16
            for b in block_bits:
                wr.write(b, 1)
            block_bits = []
        if a > 1:
            # history coefficient: correction bit = bit Al of |v|
            block_bits.append(a & 1)
            continue
        # newly nonzero
        st.flush(wr, ac_tab)
        code, ln = ac_tab[(r << 4) | 1]
        wr.write(code, ln)
        wr.write(1 if zz[ss + i] >= 0 else 0, 1)
        for b in block_bits:
            wr.write(b, 1)
        block_bits = []
        r = 0
    if r > 0 or block_bits:
        st.eobrun += 1
        st.pending_bits.extend(block_bits)
        if st.eobrun == 0x7FFF or len(st.pending_bits) > 900:
            st.flush(wr, ac_tab)


def encode_jpeg_progressive(
    img: np.ndarray,
    quant: np.ndarray | int = 16,
    grayscale: bool | None = None,
    sampling: str = "444",
) -> bytes:
    """Progressive (SOF2) encoder twin: the SAME quantized
    coefficients as ``encode_jpeg_baseline`` (identical _fdct_quant),
    re-coded with a libjpeg-style scan script that exercises every
    Annex-G scan kind — interleaved DC first (Al=1), per-component
    spectral-selection AC first passes (split luma band, Al>0),
    AC successive-approximation refinements, and a DC refinement.
    Because only the entropy coding differs, ``decode_jpeg`` of this
    stream is BIT-IDENTICAL to decoding the baseline encoding — the
    round-trip property the tests pin."""
    planes, samps, q, h, w = _prepare_encode_planes(
        img, quant, grayscale, sampling
    )
    nc_out = len(planes)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = w // (8 * hmax)
    mcuy = h // (8 * vmax)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00" + bytes(
        [0, 1, 0, 1, 0, 0]
    )
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + bytes([0x00]) + bytes(
        int(v) for v in q
    )
    sof = bytearray([8])
    sof += h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc_out])
    for cid in range(1, nc_out + 1):
        ch, cv = samps[cid - 1]
        sof += bytes([cid, (ch << 4) | cv, 0])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof  # SOF2

    def dht(tc, th, bits, vals):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + body

    out += dht(0, 0, _DC_LUM_BITS, _DC_LUM_VALS)
    out += dht(1, 0, _AC_PROG_BITS, _AC_PROG_VALS)
    if nc_out == 3:
        out += dht(0, 1, _DC_CHR_BITS, _DC_CHR_VALS)
        out += dht(1, 1, _AC_PROG_BITS, _AC_PROG_VALS)

    coeffs = [_fdct_quant(p, q) for p in planes]
    bws = [p.shape[1] // 8 for p in planes]
    dc_tabs = [_encode_table(_DC_LUM_BITS, _DC_LUM_VALS)] + [
        _encode_table(_DC_CHR_BITS, _DC_CHR_VALS)
    ] * (nc_out - 1)
    ac_tabs = [_encode_table(_AC_PROG_BITS, _AC_PROG_VALS)] * nc_out

    def sos_header(comp_ids, ss, se, ah, al):
        body = bytearray([len(comp_ids)])
        for cid in comp_ids:
            th = 0 if cid == 1 else 1
            body += bytes([cid, (th << 4) | th])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + (len(body) + 2).to_bytes(2, "big") + bytes(body)

    def dc_scan(ah, al):
        nonlocal out
        out += sos_header(list(range(1, nc_out + 1)), 0, 0, ah, al)
        wr = _BitWriter()
        preds = [0] * nc_out
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(nc_out):
                    ch, cv = samps[ci]
                    for by in range(cv):
                        for bx in range(ch):
                            bidx = (my * cv + by) * bws[ci] + (mx * ch + bx)
                            dc = int(coeffs[ci][bidx][0])
                            if ah == 0:
                                va = dc >> al  # arithmetic shift (G.1.2.1)
                                diff = va - preds[ci]
                                preds[ci] = va
                                t = _category(diff)
                                code, ln = dc_tabs[ci][t]
                                wr.write(code, ln)
                                if t:
                                    wr.write(
                                        diff if diff >= 0 else diff + (1 << t) - 1,
                                        t,
                                    )
                            else:
                                wr.write((dc >> al) & 1, 1)
        wr.flush()
        out += wr.out

    def ac_scan(ci, ss, se, ah, al):
        nonlocal out
        out += sos_header([ci + 1], ss, se, ah, al)
        wr = _BitWriter()
        st = _ProgACState()
        for blk in coeffs[ci]:  # raster order == used grid (MCU-aligned)
            if ah == 0:
                _encode_ac_first(wr, blk, ss, se, al, ac_tabs[ci], st)
            else:
                _encode_ac_refine(wr, blk, ss, se, al, ac_tabs[ci], st)
        st.flush(wr, ac_tabs[ci])
        wr.flush()
        out += wr.out

    # scan script (libjpeg-default shaped): every Annex-G scan kind
    dc_scan(0, 1)
    ac_scan(0, 1, 5, 0, 2)
    for ci in range(1, nc_out):
        ac_scan(ci, 1, 63, 0, 1)
    ac_scan(0, 6, 63, 0, 2)
    ac_scan(0, 1, 63, 2, 1)  # luma AC refinement Al 2->1
    dc_scan(1, 0)  # DC refinement
    for ci in range(1, nc_out):
        ac_scan(ci, 1, 63, 1, 0)
    ac_scan(0, 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)
