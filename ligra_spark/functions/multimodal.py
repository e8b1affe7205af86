"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow-batched pandas UDFs
over ``mapInPandas``.

The Spark side — schemas, partition-preserving batch iteration, UDF
signatures, batch shapes — is real and tested.  The codec layer
decodes NINE public formats NATIVELY with zero codec libraries:
images — P6 PPM, JPEG incl. progressive (``jpeg.py``), PNG incl.
Adam7 + all bit depths (``png.py``, stdlib zlib), GIF (``gif.py``, LZW), BMP incl. RLE
(``bmp.py``), TIFF (``tiff.py``), lossless WebP (``webp.py``, VP8L);
audio — RIFF/WAVE integer PCM, G.711 A-law/µ-law, IMA ADPCM
(``adpcm.py``); video — MJPEG-in-AVI (``video.py``).  The remaining
compressed formats (lossy WebP/AVIF images, MP3/Opus audio,
interframe video) are a
declared boundary: they raise NotImplementedError unless
``fake=True`` selects the deterministic fake decoder (a pure
function of the bytes, used by tests to pin the plumbing).  On a
real cluster you extend ``_decode_image_bytes`` with Pillow/ffmpeg —
nothing else changes.  ``on_error='skip'`` on every pass drops
undecodable rows instead of failing the job (the crawl-scale mode).

Batch-shape contract (the thing that matters at 100 TB): each
``mapInPandas`` batch holds ``spark.sql.execution.arrow.
maxRecordsPerBatch`` rows (default 10k); one decoded image of HxWx3
uint8 is carried as a flat bytes payload plus (height, width,
channels) ints — NOT a nested array column — so Arrow transfer stays
zero-copy and the executor never materializes a python list per pixel.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MEDIA_SCHEMA",
    "IMAGE_FEATURES_SCHEMA",
    "AUDIO_FEATURES_SCHEMA",
    "attach_media_metadata",
    "with_media_format",
    "decode_images",
    "resize_images",
    "image_features",
    "sample_video_frames",
    "video_frame_features",
    "decode_audio",
    "audio_features",
]

# canonical multimodal table shape: opaque payload + typed metadata
MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, height int, width int, channels int, "
    "mean_r double, mean_g double, mean_b double, phash string"
)

AUDIO_FEATURES_SCHEMA = (
    "media_id long, n_samples int, sample_rate int, "
    "rms double, peak double, zero_crossings int, afp string"
)


_WS = b" \t\r\n\x0b\x0c"


def _build_mulaw_table() -> np.ndarray:
    """ITU-T G.711 µ-law expansion, 256-entry int16 table."""
    b = np.arange(256, dtype=np.int64) ^ 0xFF  # µ-law bytes are inverted
    sign = (b & 0x80) != 0
    exp = (b >> 4) & 0x07
    mant = b & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _build_alaw_table() -> np.ndarray:
    """ITU-T G.711 A-law expansion, 256-entry int16 table."""
    b = np.arange(256, dtype=np.int64) ^ 0x55  # even bits inverted
    sign = (b & 0x80) != 0
    exp = (b >> 4) & 0x07
    mant = b & 0x0F
    mag = np.where(
        exp > 0,
        ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
        (mant << 4) + 8,
    )
    # A-law sign bit SET means positive (opposite of µ-law)
    return np.where(sign, mag, -mag).astype(np.int16)


_MULAW_TABLE = _build_mulaw_table()
_ALAW_TABLE = _build_alaw_table()


def _decode_ppm_p6(buf: bytes) -> np.ndarray:
    """Pure-numpy P6 (binary PPM) decoder — a REAL codec path, no
    libraries: 'P6', then width/height/maxval as ASCII decimals with
    '#'-to-EOL comments allowed between tokens, ONE whitespace byte
    after maxval, then h·w·3 raw RGB bytes.  8-bit only (maxval <
    256); 16-bit PPM stays behind the compressed-codec boundary."""
    pos = 2  # past 'P6'
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(buf):
            c = buf[pos : pos + 1]
            if c in (b"#",):
                nl = buf.find(b"\n", pos)
                pos = len(buf) if nl < 0 else nl + 1
            elif c and c in _WS:
                pos += 1
            else:
                break
        start = pos
        while pos < len(buf) and buf[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("bad PPM header")
        vals.append(int(buf[start:pos]))
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("16-bit PPM is not supported")
    pos += 1  # exactly one whitespace byte after maxval (netpbm spec)
    need = w * h * 3
    data = buf[pos : pos + need]
    if len(data) < need:
        raise ValueError("truncated PPM payload")
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def _decode_wav_pcm(buf: bytes) -> tuple[np.ndarray, int]:
    """Pure-numpy WAV/PCM decoder — a REAL codec path, no libraries:
    RIFF/WAVE chunk walk (chunks pad to even length), 'fmt ' must be
    format 1 (integer PCM), 8- or 16-bit; multi-channel keeps channel
    0 (a deterministic choice — resampling/downmix policy belongs to
    the caller).  Returns (int16 mono samples, sample_rate).
    Compressed audio (format != 1) stays behind the codec boundary."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    channels = max(1, int.from_bytes(fmt[2:4], "little"))
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format in (6, 7):
        # G.711 A-law / µ-law (WAVE formats 6/7): one companded byte
        # per sample, expanded via the public ITU formulas —
        # vectorized as a 256-entry table lookup
        usable = len(data) // channels * channels
        raw = np.frombuffer(data[:usable], dtype=np.uint8)
        table = _ALAW_TABLE if audio_format == 6 else _MULAW_TABLE
        samples = table[raw]
        if channels > 1:
            samples = samples.reshape(-1, channels)[:, 0]
        return samples.copy(), rate
    if audio_format == 0x11:
        # IMA/DVI ADPCM: 4-bit adaptive deltas in block_align-sized
        # blocks — decoded natively (functions/adpcm.py)
        from .adpcm import decode_ima_adpcm

        block_align = int.from_bytes(fmt[12:14], "little")
        samples = decode_ima_adpcm(data, block_align, channels)
        if samples.ndim > 1:  # stereo: channel 0, the pipeline convention
            samples = np.ascontiguousarray(samples[:, 0])
        return samples, rate
    if audio_format != 1:
        raise NotImplementedError(
            f"WAV format {audio_format} (non-PCM) is not supported "
            "(integer PCM, G.711 A-law/µ-law and IMA ADPCM decode "
            "natively)"
        )
    if bits == 16:
        frame = 2 * channels
        usable = len(data) // frame * frame
        samples = np.frombuffer(data[:usable], dtype="<i2")
    elif bits == 8:
        usable = len(data) // channels * channels
        raw = np.frombuffer(data[:usable], dtype=np.uint8)
        samples = ((raw.astype(np.int16) - 128) << 8)
    else:
        raise NotImplementedError(f"{bits}-bit WAV is not supported")
    if channels > 1:
        samples = samples.reshape(-1, channels)[:, 0]
    return samples.copy(), rate


def _decode_image_bytes(payload: bytes, fake: bool) -> np.ndarray:
    """Codec boundary.  P6 PPM, JPEG, PNG, GIF, BMP, TIFF and lossless
    WebP decode NATIVELY (pure numpy / stdlib zlib); the remaining
    compressed formats (lossy WebP, AVIF, ...) need Pillow/ffmpeg,
    absent here, so they raise unless ``fake=True`` selects the
    deterministic fake decoder."""
    if payload[:2] == b"P6" and payload[2:3] in (
        *(bytes([c]) for c in _WS), b"#",
    ):
        return _decode_ppm_p6(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from .png import decode_png

        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif

        return decode_gif(payload)
    if payload[:2] == b"BM":
        from .bmp import decode_bmp

        return decode_bmp(payload)
    if payload[:2] in (b"II", b"MM") and payload[2:4] in (b"\x2a\x00", b"\x00\x2a"):
        from .tiff import decode_tiff

        return decode_tiff(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from .webp import decode_webp

        return decode_webp(payload)
    if not fake:
        raise NotImplementedError(
            "AVIF / lossy-WebP image codecs are not installed in this "
            "environment (P6 PPM, JPEG, PNG, GIF, BMP, TIFF and "
            "lossless WebP decode natively); pass fake=True for the "
            "deterministic fake decoder"
        )
    # deterministic fake: 8x8x3 image derived from sha256(payload)
    h = hashlib.sha256(payload).digest()
    arr = np.frombuffer((h * 6)[: 8 * 8 * 3], dtype=np.uint8)
    return arr.reshape(8, 8, 3)


_ON_ERROR = ("raise", "skip")


def _check_on_error(on_error: str) -> None:
    if on_error not in _ON_ERROR:
        raise ValueError(f"on_error must be one of {_ON_ERROR}")


def _try_decode_image(payload: bytes, fake: bool, on_error: str):
    """Decode or apply the error policy: 'raise' propagates (job
    fails — the fixture/test default), 'skip' returns None (the row is
    dropped — the crawl-scale default, where malformed payloads are
    guaranteed and one bad byte must not kill a 10^12-row pass).
    Scope boundaries (NotImplementedError) follow the same policy."""
    try:
        return _decode_image_bytes(payload, fake)
    except (ValueError, NotImplementedError):
        if on_error == "raise":
            raise
        return None


def _try_decode_audio(payload: bytes, fake: bool, on_error: str):
    try:
        return _decode_audio_bytes(payload, fake)
    except (ValueError, NotImplementedError):
        if on_error == "raise":
            raise
        return None


def attach_media_metadata(df: DataFrame, payload: str = "payload") -> DataFrame:
    """JVM-side metadata: payload size + sha256 (no Python)."""
    return df.withColumns(
        {
            "payload_bytes": F.length(F.col(payload)),
            "payload_sha256": F.sha2(F.col(payload), 256),
        }
    )


# magic-byte table for with_media_format: (format, hex prefix).
# RIFF containers disambiguate on the form-type at offset 8.
_MAGIC = (
    ("jpeg", "ffd8"),
    ("png", "89504e470d0a1a0a"),
    ("gif", "474946383761"),  # GIF87a
    ("gif", "474946383961"),  # GIF89a
    # 'P6' + every separator _decode_image_bytes accepts after the
    # magic (any of " \t\n\r\x0b\x0c" or a '#' comment) — sniff must
    # not be narrower than decode, or decodable payloads get dropped
    # by format-routed filters
    ("ppm", "50360a"),  # 'P6\n' (the norm)
    ("ppm", "503620"),  # 'P6 '
    ("ppm", "503609"),  # 'P6\t'
    ("ppm", "50360d"),  # 'P6\r'
    ("ppm", "50360b"),  # 'P6\x0b'
    ("ppm", "50360c"),  # 'P6\x0c'
    ("ppm", "503623"),  # 'P6#' (comment directly after magic)
    ("bmp", "424d"),  # 'BM'
    ("tiff", "49492a00"),  # II*\0
    ("tiff", "4d4d002a"),  # MM\0*
)


def with_media_format(
    df: DataFrame, payload: str = "payload", out: str = "format"
) -> DataFrame:
    """Adds a ``format`` column sniffed from magic bytes — ENTIRELY
    JVM-side (hex-prefix compares, no Python, no decode): 'jpeg',
    'png', 'gif', 'ppm', 'bmp', 'tiff', 'webp', 'wav', 'avi', or 'unknown'.  The routing /
    observability primitive of a media pipeline: group by it for
    corpus stats, filter on it before the (costlier) decode pass, or
    partition a write by it — all without touching a codec."""
    hx = F.lower(F.hex(F.substring(F.col(payload), 1, 12)))
    expr = F.lit("unknown")
    # RIFF first (longest discriminating read), then the flat magics;
    # build the CASE back to front so earlier rows win
    riff = F.when(
        hx.startswith("52494646") & (F.substring(hx, 17, 8) == F.lit("57415645")),
        F.lit("wav"),
    ).when(
        hx.startswith("52494646") & (F.substring(hx, 17, 8) == F.lit("41564920")),
        F.lit("avi"),
    ).when(
        hx.startswith("52494646") & (F.substring(hx, 17, 8) == F.lit("57454250")),
        F.lit("webp"),
    )
    for name, prefix in reversed(_MAGIC):
        expr = F.when(hx.startswith(prefix), F.lit(name)).otherwise(expr)
    return df.withColumn(out, F.coalesce(riff, expr))


def decode_images(
    media: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """binary payload → (media_id, height, width, channels, pixels
    binary) via Arrow-batched mapInPandas.  Partitioning of the input
    is preserved (mapInPandas is a narrow transformation).
    ``on_error='skip'`` drops undecodable rows instead of failing the
    job (join against ``attach_media_metadata`` ids to audit drops)."""
    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _try_decode_image(bytes(payload), fake, on_error)
                if img is None:
                    continue
                rows.append(
                    {
                        "media_id": mid,
                        "height": img.shape[0],
                        "width": img.shape[1],
                        "channels": img.shape[2],
                        "pixels": img.tobytes(),
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        batches,
        schema="media_id long, height int, width int, channels int, pixels binary",
    )


def resize_images(
    media: DataFrame,
    height: int,
    width: int,
    fake: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Decode + nearest-neighbor resize to (height, width) fused in ONE
    Arrow pass → (media_id, height, width, channels, pixels binary).

    Nearest-neighbor with pixel-center mapping (src = floor((i+0.5)·
    H/th)) — pure integer indexing, so the result is bit-exact and
    engine/partitioning-invariant (the same dedup-safety property the
    integer average-hash has; an interpolating resize would reintroduce
    float summation-order sensitivity).  The gather is batch-vectorized
    per shape class: one fancy-index over a (B, H, W, C) stack, not a
    per-row loop.  At 100 TB this is the canonical training-data
    normalization pass: narrow (no shuffle), Arrow-batched, output
    size bounded by th·tw·C per row regardless of input size."""
    if height <= 0 or width <= 0:
        raise ValueError("target height/width must be positive")
    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                (mid, _try_decode_image(bytes(p), fake, on_error))
                for mid, p in zip(pdf["media_id"], pdf["payload"])
            ]
            decoded = [(mid, im) for mid, im in decoded if im is not None]
            n = len(decoded)
            if n == 0:
                continue
            mids = np.array([mid for mid, _ in decoded], dtype=np.int64)
            imgs = [im for _, im in decoded]
            out = [None] * n
            by_shape: dict[tuple, list[int]] = {}
            for i, im in enumerate(imgs):
                by_shape.setdefault(im.shape, []).append(i)
            for shape, idxs in by_shape.items():
                h, w = shape[0], shape[1]
                ri = np.minimum(
                    ((np.arange(height) + 0.5) * h / height).astype(np.int64),
                    h - 1,
                )
                ci = np.minimum(
                    ((np.arange(width) + 0.5) * w / width).astype(np.int64),
                    w - 1,
                )
                stack = np.stack([imgs[i] for i in idxs])  # (B, H, W, C)
                resized = stack[:, ri[:, None], ci[None, :], :]
                for j, i in enumerate(idxs):
                    out[i] = resized[j].tobytes()
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "height": np.full(n, height, dtype=np.int32),
                    "width": np.full(n, width, dtype=np.int32),
                    "channels": np.array([im.shape[2] for im in imgs], dtype=np.int32),
                    "pixels": out,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        batches,
        schema="media_id long, height int, width int, channels int, pixels binary",
    )


def image_features(
    media: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """Decode + per-channel means + a 64-bit average-hash (pHash-style)
    in ONE Arrow pass (decode fused with feature extraction — no
    intermediate pixel table is shuffled or persisted).

    The average-hash threshold compares in EXACT integer arithmetic
    (pixel channel-sum x pixel-count vs the image's total channel
    sum — equivalent to gray > mean(gray) in exact math): a float
    formulation makes bit k flip with the summation ORDER whenever
    gray[k] sits within an ulp of the mean, so the same image could
    fingerprint differently on different engines/partitionings — a
    dedup hazard the oracle pairing actually caught at sf0.1."""

    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # decode is inherently per-item (variable-size payloads —
            # the codec boundary); everything after runs as stacked
            # numpy passes per shape class, not per row
            decoded = [
                (mid, _try_decode_image(bytes(p), fake, on_error))
                for mid, p in zip(pdf["media_id"], pdf["payload"])
            ]
            decoded = [(mid, im) for mid, im in decoded if im is not None]
            n = len(decoded)
            if n == 0:
                continue
            mids = np.array([mid for mid, _ in decoded], dtype=np.int64)
            imgs = [im.astype(np.float64) for _, im in decoded]
            hh = np.empty(n, dtype=np.int32)
            ww = np.empty(n, dtype=np.int32)
            cc = np.empty(n, dtype=np.int32)
            means = np.empty((n, 3), dtype=np.float64)
            phash = np.empty(n, dtype=object)
            by_shape: dict[tuple, list[int]] = {}
            for i, im in enumerate(imgs):
                by_shape.setdefault(im.shape, []).append(i)
            for shape, idxs in by_shape.items():
                ix = np.array(idxs)
                stack = np.stack([imgs[i] for i in idxs])  # (B, H, W, C)
                hh[ix], ww[ix], cc[ix] = shape[0], shape[1], shape[2]
                means[ix] = stack.mean(axis=(1, 2))
                npix = shape[0] * shape[1]
                # channel sums are small ints held exactly in float64;
                # products/totals stay < 2^31 — every compare is exact
                gray3 = stack.sum(axis=3).reshape(len(idxs), -1)  # (B, H*W)
                nbits = min(64, npix)
                bits = gray3[:, :nbits] * npix > gray3.sum(axis=1)[:, None]
                # object dtype from the start: 1 << 63 overflows int64
                weights = np.array(
                    [1 << k for k in range(nbits - 1, -1, -1)], dtype=object
                )
                vals = (bits.astype(object) * weights).sum(axis=1)
                for j, i in enumerate(idxs):
                    phash[i] = f"{int(vals[j]):016x}"
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "height": hh,
                    "width": ww,
                    "channels": cc,
                    "mean_r": means[:, 0],
                    "mean_g": means[:, 1],
                    "mean_b": means[:, 2],
                    "phash": phash,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=IMAGE_FEATURES_SCHEMA
    )


_FAKE_SAMPLE_RATE = 16_000
_FAKE_N_SAMPLES = 2_048


def _decode_audio_bytes(payload: bytes, fake: bool) -> tuple[np.ndarray, int]:
    """Codec boundary for audio.  WAV/PCM decodes NATIVELY (pure
    numpy, real path); compressed formats (MP3/Opus/...) need
    soundfile/ffmpeg, absent here, so they raise unless ``fake=True``
    selects the deterministic fake decoder (a fixed-length int16
    waveform from per-block sha256, used by tests to pin the plumbing
    end-to-end)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav_pcm(payload)
    if not fake:
        raise NotImplementedError(
            "compressed audio codecs are not installed in this "
            "environment (WAV/PCM decodes natively); pass fake=True "
            "for the deterministic fake decoder"
        )
    # aperiodic: per-block hashing (sha256(payload || block)) so band
    # energies differ and the fingerprint is non-degenerate
    nblocks = (2 * _FAKE_N_SAMPLES) // 32
    raw = b"".join(
        hashlib.sha256(payload + k.to_bytes(4, "little")).digest()
        for k in range(nblocks)
    )[: 2 * _FAKE_N_SAMPLES]
    return np.frombuffer(raw, dtype="<i2").copy(), _FAKE_SAMPLE_RATE


def decode_audio(
    media: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """binary payload → (media_id, n_samples, sample_rate, pcm binary)
    via Arrow-batched mapInPandas.  PCM is carried as flat
    little-endian int16 bytes plus scalar metadata — the same
    flat-bytes contract as ``decode_images`` (zero-copy Arrow, no
    per-sample python objects)."""

    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = _try_decode_audio(bytes(payload), fake, on_error)
                if dec is None:
                    continue
                wav, sr = dec
                rows.append(
                    {
                        "media_id": mid,
                        "n_samples": len(wav),
                        "sample_rate": sr,
                        "pcm": wav.tobytes(),
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        batches,
        schema="media_id long, n_samples int, sample_rate int, pcm binary",
    )


def audio_features(
    media: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """Decode + RMS/peak/zero-crossing + a 16-bit band-energy
    fingerprint in ONE Arrow pass (decode fused with features, like
    ``image_features``).  Decode is per-item (variable-size payloads);
    the feature math runs as stacked numpy passes per length class."""

    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pairs = [
                (mid, _try_decode_audio(bytes(p), fake, on_error))
                for mid, p in zip(pdf["media_id"], pdf["payload"])
            ]
            pairs = [(mid, d) for mid, d in pairs if d is not None]
            n = len(pairs)
            if n == 0:
                continue
            mids = np.array([mid for mid, _ in pairs], dtype=np.int64)
            wavs = [wav.astype(np.float64) for _, (wav, _) in pairs]
            srs = np.array([sr for _, (_, sr) in pairs], dtype=np.int32)
            ns = np.empty(n, dtype=np.int32)
            rms = np.empty(n, dtype=np.float64)
            peak = np.empty(n, dtype=np.float64)
            zc = np.empty(n, dtype=np.int32)
            afp = np.empty(n, dtype=object)
            by_len: dict[int, list[int]] = {}
            for i, w in enumerate(wavs):
                by_len.setdefault(len(w), []).append(i)
            for ln, idxs in by_len.items():
                ix = np.array(idxs)
                stack = np.stack([wavs[i] for i in idxs])  # (B, ln)
                ns[ix] = ln
                rms[ix] = np.sqrt((stack**2).mean(axis=1))
                peak[ix] = np.abs(stack).max(axis=1)
                zc[ix] = (np.diff(np.signbit(stack), axis=1) != 0).sum(axis=1)
                # 16-band energy fingerprint: band mean-square above
                # the clip's overall mean-square → bit set
                nb = 16
                trim = (ln // nb) * nb
                bands = (stack[:, :trim] ** 2).reshape(len(idxs), nb, -1).mean(axis=2)
                bits = bands > (stack**2).mean(axis=1)[:, None]
                vals = (bits.astype(np.int64) << np.arange(nb - 1, -1, -1)).sum(axis=1)
                for j, i in enumerate(idxs):
                    afp[i] = f"{int(vals[j]):04x}"
            yield pd.DataFrame(
                {
                    "media_id": mids,
                    "n_samples": ns,
                    "sample_rate": srs,  # per-row, from the decoder
                    "rms": rms,
                    "peak": peak,
                    "zero_crossings": zc,
                    "afp": afp,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=AUDIO_FEATURES_SCHEMA
    )


def _sampled_frames(
    payload: bytes, dur_ms, every_ms: int, fake: bool, on_error: str = "raise"
):
    """Yields (ts_ms, decoded HxWx3 frame).  RIFF/AVI payloads take
    the REAL path: container walk (``video.decode_avi_frames``) +
    per-frame image decode (MJPEG frames are baseline JPEGs → the
    native codec); anything else keeps the fake-codec plumbing stub
    keyed on (payload, ts)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from .video import decode_avi_frames

        try:
            frames, usec = decode_avi_frames(payload)
        except ValueError:
            if on_error == "raise":
                raise
            return
        usec = usec or 1_000_000  # headerless fixtures: assume 1 fps
        dur = int(len(frames) * usec / 1000)  # container-derived, not metadata
        for ts in range(0, max(dur, 1), every_ms):
            idx = min(ts * 1000 // usec, len(frames) - 1)
            img = _try_decode_image(frames[idx], fake, on_error)
            if img is not None:
                yield ts, img
        return
    dur = int(dur_ms) if dur_ms is not None else 0
    for ts in range(0, max(dur, 1), every_ms):
        img = _try_decode_image(
            bytes(payload) + ts.to_bytes(4, "little"), fake, on_error
        )
        if img is not None:
            yield ts, img


def sample_video_frames(
    media: DataFrame,
    every_ms: int = 1000,
    fake: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Frame sampling: one output row per sampled timestamp, each row
    a decoded frame.  MJPEG-in-AVI payloads decode for REAL (RIFF walk
    + native JPEG codec); other containers use the deterministic fake
    plumbing stub (real deployment seeks with ffmpeg — the schedule,
    schema and batch shape do not change)."""
    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                for ts, frame in _sampled_frames(
                    bytes(payload), dur, every_ms, fake, on_error
                ):
                    rows.append(
                        {"media_id": mid, "ts_ms": ts, "frame": frame.tobytes()}
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload", "duration_ms").mapInPandas(
        batches, schema="media_id long, ts_ms int, frame binary"
    )


def video_frame_features(
    media: DataFrame,
    every_ms: int = 1000,
    fake: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Sample + decode + per-frame channel means fused in ONE Arrow
    pass (the ``image_features`` shape applied per sampled frame) —
    the training-pipeline video summarization kernel: output size is
    bounded by the sampling schedule regardless of payload size."""
    _check_on_error(on_error)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                for ts, frame in _sampled_frames(
                    bytes(payload), dur, every_ms, fake, on_error
                ):
                    m = frame.astype(np.float64).mean(axis=(0, 1))
                    rows.append(
                        {
                            "media_id": mid,
                            "ts_ms": ts,
                            "height": frame.shape[0],
                            "width": frame.shape[1],
                            "mean_r": m[0],
                            "mean_g": m[1],
                            "mean_b": m[2],
                        }
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload", "duration_ms").mapInPandas(
        batches,
        schema="media_id long, ts_ms int, height int, width int, "
        "mean_r double, mean_g double, mean_b double",
    )
