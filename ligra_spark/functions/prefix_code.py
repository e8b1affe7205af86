"""Canonical prefix codes shared by the JPEG (T.81 Annex C) and WebP
lossless (VP8L) decoders.  Both formats assign codes the same way:
symbols sorted by code length, codes counting up within a length and
shifting left at each length step, read MSB first."""

from __future__ import annotations


def canonical_code(pairs: list[tuple[int, int]]) -> dict[tuple[int, int], int]:
    """{(length, code): symbol} for (length, symbol) pairs given in code
    order (non-decreasing lengths)."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    prev = pairs[0][0] if pairs else 0
    for length, sym in pairs:
        code <<= length - prev
        prev = length
        table[(length, code)] = sym
        code += 1
    return table


def decode_symbol(table: dict[tuple[int, int], int], read_bit) -> int:
    """Walk one code of at most 16 bits, one ``read_bit()`` at a time."""
    code = 0
    for length in range(1, 17):
        code = (code << 1) | read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid prefix code in entropy-coded data")
