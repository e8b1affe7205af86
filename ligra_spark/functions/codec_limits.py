"""Decoded-size cap shared by every image decoder.  Each decoder checks
the dimensions its header claims against ``MAX_PIXELS`` before it
allocates a pixel or coefficient buffer, so a few hostile header bytes
cannot claim gigabytes of memory (a 16-bit JPEG/GIF dimension pair
allows 65535×65535)."""

from __future__ import annotations

MAX_PIXELS = 1 << 26  # 64 Mpixel


def check_pixels(w: int, h: int, fmt: str) -> None:
    """Raise ``ValueError`` when a ``w``×``h`` ``fmt`` image exceeds
    ``MAX_PIXELS``."""
    if w * h > MAX_PIXELS:
        raise ValueError(f"{fmt} image too large: {w}x{h} exceeds {MAX_PIXELS} pixels")
