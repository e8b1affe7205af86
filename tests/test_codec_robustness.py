"""Crawl-robustness: the on_error policy on every multimodal Arrow
pass (one malformed payload must not kill a 10^12-row job), and codec
fuzzing — truncated/corrupted payloads with valid magic bytes must
raise clean ValueError/NotImplementedError, never hang, loop, or
crash the worker."""

import hashlib
import struct

import numpy as np
import pandas as pd
import pytest

from ligra_spark.functions.gif import encode_gif
from ligra_spark.functions.jpeg import encode_jpeg_baseline
from ligra_spark.functions.png import encode_png


def _good_jpeg(i: int) -> bytes:
    d = hashlib.sha256(f"x{i}".encode()).digest()[:4]
    grid = np.frombuffer(d, dtype=np.uint8).reshape(2, 2)
    return encode_jpeg_baseline(
        np.kron(grid, np.ones((8, 8), dtype=np.uint8)), quant=8
    )


@pytest.fixture(scope="module")
def mixed_media(spark):
    rows = [
        (0, _good_jpeg(0)),
        (1, b"\xff\xd8garbage-after-soi"),        # truncated JPEG
        (2, _good_jpeg(2)),
        (3, b"\x89PNG\r\n\x1a\nnot-really"),      # truncated PNG
        (4, b"RIFFxxxxWEBP____"),                  # WebP: scope boundary
        (5, _good_jpeg(5)),
    ]
    return spark.createDataFrame(
        pd.DataFrame(
            {"media_id": [r[0] for r in rows], "payload": [r[1] for r in rows]}
        )
    )


def test_on_error_skip_drops_bad_rows(spark, mixed_media):
    from ligra_spark.functions.multimodal import decode_images, image_features

    out = decode_images(mixed_media, on_error="skip").collect()
    assert sorted(r["media_id"] for r in out) == [0, 2, 5]
    feats = image_features(mixed_media, on_error="skip").collect()
    assert sorted(r["media_id"] for r in feats) == [0, 2, 5]


def test_on_error_raise_is_default(spark, mixed_media):
    from ligra_spark.functions.multimodal import decode_images

    with pytest.raises(Exception):
        decode_images(mixed_media).collect()


def test_on_error_validated_eagerly(spark, mixed_media):
    from ligra_spark.functions.multimodal import (
        audio_features,
        decode_audio,
        decode_images,
        image_features,
        resize_images,
        sample_video_frames,
        video_frame_features,
    )

    for fn in (decode_images, image_features):
        with pytest.raises(ValueError, match="on_error"):
            fn(mixed_media, on_error="ignore")
    with pytest.raises(ValueError, match="on_error"):
        resize_images(mixed_media, 4, 4, on_error="ignore")
    for fn in (decode_audio, audio_features):
        with pytest.raises(ValueError, match="on_error"):
            fn(mixed_media, on_error="ignore")
    vid = mixed_media.withColumn(
        "duration_ms", mixed_media["media_id"] * 0 + 1000
    )
    with pytest.raises(ValueError, match="on_error"):
        sample_video_frames(vid, on_error="ignore")
    with pytest.raises(ValueError, match="on_error"):
        video_frame_features(vid, on_error="ignore")


def test_resize_skip_and_audio_skip(spark):
    from ligra_spark.functions.multimodal import audio_features, resize_images

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [0, 1],
                "payload": [_good_jpeg(0), b"\xff\xd8bad"],
            }
        )
    )
    out = resize_images(media, 4, 4, on_error="skip").collect()
    assert [r["media_id"] for r in out] == [0]
    assert all(len(r["pixels"]) == 4 * 4 * 3 for r in out)

    audio = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [0, 1],
                # RIFF/WAVE magic but truncated fmt; and a valid PCM clip
                "payload": [
                    b"RIFF\x10\x00\x00\x00WAVEfmt ",
                    _pcm_wav(64),
                ],
            }
        )
    )
    out = audio_features(audio, on_error="skip").collect()
    assert [r["media_id"] for r in out] == [1]


def _pcm_wav(n: int) -> bytes:
    data = (np.arange(n, dtype=np.int16) * 100).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_video_skip_bad_container(spark):
    from ligra_spark.functions.multimodal import video_frame_features
    from ligra_spark.functions.video import encode_mjpeg_avi

    good = encode_mjpeg_avi([_good_jpeg(0)], 1_000_000)
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [0, 1],
                "payload": [good, b"RIFF\x08\x00\x00\x00AVI "],  # no frames
                "duration_ms": [1000, 1000],
            }
        )
    )
    out = video_frame_features(media, on_error="skip").collect()
    assert [r["media_id"] for r in out] == [0]


# ---------------------------------------------------------------- fuzzing
def _fuzz_cases(good: bytes, rng) -> list[bytes]:
    cases = []
    for cut in (3, len(good) // 4, len(good) // 2, len(good) - 1):
        cases.append(good[:cut])
    for _ in range(40):
        b = bytearray(good)
        for _ in range(rng.randint(1, 8)):
            b[rng.randint(0, len(b))] = rng.randint(0, 256)
        cases.append(bytes(b))
    for _ in range(10):
        cases.append(good + bytes(rng.randint(0, 256, rng.randint(1, 64)).tolist()))
    return cases


@pytest.mark.parametrize(
    "codec", ["jpeg", "jpeg_prog", "png", "gif", "tiff", "webp", "wav", "avi"]
)
def test_fuzz_decoders_fail_cleanly(codec):
    """Every decoder either returns a valid array or raises
    ValueError/NotImplementedError on corrupted input — no hangs, no
    uncontrolled exceptions (IndexError/struct.error/...), bounded
    output."""
    rng = np.random.RandomState(17)
    if codec == "jpeg":
        from ligra_spark.functions.jpeg import decode_jpeg as dec

        good = encode_jpeg_baseline(
            rng.randint(0, 256, (16, 16)).astype(np.uint8), quant=4
        )
    elif codec == "jpeg_prog":
        from ligra_spark.functions.jpeg import (
            decode_jpeg as dec,
            encode_jpeg_progressive,
        )

        good = encode_jpeg_progressive(
            rng.randint(0, 256, (16, 16)).astype(np.uint8), quant=4
        )
    elif codec == "png":
        from ligra_spark.functions.png import decode_png as dec

        good = encode_png(rng.randint(0, 256, (9, 9, 3)).astype(np.uint8))
    elif codec == "gif":
        from ligra_spark.functions.gif import decode_gif as dec

        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        good = encode_gif(rng.randint(0, 256, (8, 8)).astype(np.uint8), pal)
    elif codec == "tiff":
        from ligra_spark.functions.tiff import decode_tiff as dec, encode_tiff

        good = encode_tiff(rng.randint(0, 256, (7, 11, 3)).astype(np.uint8))
    elif codec == "webp":
        from ligra_spark.functions.webp import (
            decode_webp as dec,
            encode_webp_lossless,
        )

        good = encode_webp_lossless(
            rng.randint(0, 256, (9, 7, 3)).astype(np.uint8)
        )
    elif codec == "wav":
        from ligra_spark.functions.multimodal import _decode_wav_pcm as dec

        good = _pcm_wav(128)
    else:
        from ligra_spark.functions.video import decode_avi_frames as dec

        good = __import__(
            "ligra_spark.functions.video", fromlist=["encode_mjpeg_avi"]
        ).encode_mjpeg_avi([_good_jpeg(1)], 1_000_000)

    allowed = (ValueError, NotImplementedError, __import__("zlib").error)
    for case in _fuzz_cases(good, rng):
        try:
            out = dec(case)
        except allowed:
            continue
        # a successful decode of a mutated payload is fine as long as
        # the result is sane and bounded
        if codec in ("jpeg", "jpeg_prog", "png", "gif", "tiff", "webp"):
            assert out.ndim == 3 and out.shape[2] == 3
            assert out.shape[0] <= 1 << 16 and out.shape[1] <= 1 << 16


def test_with_media_format_sniffing(spark):
    """JVM-side magic-byte routing: every native format + RIFF
    disambiguation + unknown fallback, no Python in the plan."""
    from ligra_spark.functions.gif import encode_gif
    from ligra_spark.functions.multimodal import with_media_format
    from ligra_spark.functions.png import encode_png
    from ligra_spark.functions.video import encode_mjpeg_avi
    from ligra_spark.functions.webp import encode_webp_lossless

    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    rows = [
        (0, _good_jpeg(0), "jpeg"),
        (1, encode_png(img), "png"),
        (2, encode_gif(img, pal), "gif"),
        (3, b"P6\n2 2\n255\n" + bytes(12), "ppm"),
        (4, _pcm_wav(8), "wav"),
        (5, encode_mjpeg_avi([_good_jpeg(5)], 1_000_000), "avi"),
        (6, b"\x00nothing-to-see", "unknown"),
        (7, b"RIFF\x04\x00\x00\x00XXXX", "unknown"),  # RIFF, not wav/avi/webp
        (8, encode_webp_lossless(img), "webp"),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": [r[0] for r in rows], "payload": [r[1] for r in rows]}
        )
    )
    out = {r["media_id"]: r["format"] for r in with_media_format(media).collect()}
    assert out == {r[0]: r[2] for r in rows}
    # the plan is pure JVM: no ArrowEvalPython / BatchEvalPython node
    plan = with_media_format(media)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_bmp_roundtrip_and_variants():
    from ligra_spark.functions.bmp import decode_bmp, encode_bmp

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (10, 14, 3)).astype(np.uint8)
    assert (decode_bmp(encode_bmp(img)) == img).all()
    # 8-bit palette BMP built by hand: grayscale identity BGRA palette
    idx = rng.randint(0, 256, (4, 6)).astype(np.uint8)
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    row_bytes = (6 + 3) & ~3
    body = b"".join(
        idx[y].tobytes() + b"\x00" * (row_bytes - 6) for y in range(3, -1, -1)
    )
    off = 14 + 40 + len(pal)
    info = struct.pack("<IiiHHIIiiII", 40, 6, 4, 1, 8, 0, len(body), 0, 0, 256, 0)
    buf = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off) + info + pal + body
    dec = decode_bmp(buf)
    assert (dec[:, :, 0] == idx).all()
    # RLE8 flag on a 24-bit image is malformed (RLE8 requires 8 bpp)
    rle = bytearray(encode_bmp(img))
    struct.pack_into("<I", rle, 30, 1)
    with pytest.raises(ValueError):
        decode_bmp(bytes(rle))
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp(img)[:40])


def test_bmp_low_bpp_and_16bit():
    # hand-built 1/4-bit palette planes (MSB-first packing) and a
    # 16-bit X1R5G5B5 image
    from ligra_spark.functions.bmp import decode_bmp

    def build(bpp, w, h, body, pal_rgb, compression=0):
        bgra = np.zeros((len(pal_rgb), 4), dtype=np.uint8)
        bgra[:, :3] = np.asarray(pal_rgb, np.uint8)[:, ::-1]
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, len(body),
            0, 0, len(pal_rgb), 0,
        )
        off = 14 + 40 + 4 * len(pal_rgb)
        return (
            b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + info + bgra.tobytes() + body
        )

    # 1-bit, 10x2 (rows pad to 4 bytes): bottom row 1010101010,
    # top row 0000011111
    body = bytes([0b10101010, 0b10000000, 0, 0]) + bytes(
        [0b00000111, 0b11000000, 0, 0]
    )
    pal = [[0, 0, 0], [255, 255, 255]]
    out = decode_bmp(build(1, 10, 2, body, pal))
    assert list(out[1, :, 0] // 255) == [1, 0, 1, 0, 1, 0, 1, 0, 1, 0]
    assert list(out[0, :, 0] // 255) == [0, 0, 0, 0, 0, 1, 1, 1, 1, 1]
    # 4-bit, 5x1: indices 1,2,3,4,5
    body4 = bytes([0x12, 0x34, 0x50, 0x00])
    pal16 = [[i * 3, i * 3 + 1, i * 3 + 2] for i in range(16)]
    out4 = decode_bmp(build(4, 5, 1, body4, pal16))
    assert list(out4[0, :, 0]) == [3, 6, 9, 12, 15]
    # 16-bit X1R5G5B5, 2x1: pure red (0x7C00) and pure blue (0x001F)
    body16 = struct.pack("<HH", 0x7C00, 0x001F)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 16, 0, 4, 0, 0, 0, 0)
    buf16 = b"BM" + struct.pack("<IHHI", 58, 0, 0, 54) + info + body16
    out16 = decode_bmp(buf16)
    assert list(out16[0, 0]) == [255, 0, 0]
    assert list(out16[0, 1]) == [0, 0, 255]


def test_bmp_rle8_roundtrip_all_code_classes():
    # run-heavy + literal-heavy planes push the encoder twin through
    # encoded runs, absolute mode and the single-pixel fallback
    from ligra_spark.functions.bmp import decode_bmp, encode_bmp_rle8

    rng = np.random.RandomState(13)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    runs = np.repeat(rng.randint(0, 256, 40), rng.randint(1, 12, 40))
    idx = np.resize(runs, (19, 27)).astype(np.uint8)
    assert (decode_bmp(encode_bmp_rle8(idx, pal)) == pal[idx]).all()
    noise = rng.randint(0, 256, (8, 31)).astype(np.uint8)  # literal-heavy
    assert (decode_bmp(encode_bmp_rle8(noise, pal)) == pal[noise]).all()


def test_bmp_rle_escapes_and_corruption():
    from ligra_spark.functions.bmp import decode_bmp, encode_bmp_rle8

    pal16 = np.arange(48, dtype=np.uint8).reshape(16, 3)

    def rle4(stream, w, h, bpp=4):
        bgra = np.zeros((16, 4), dtype=np.uint8)
        bgra[:, :3] = pal16[:, ::-1]
        compression = 2 if bpp == 4 else 1  # BI_RLE4 / BI_RLE8
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, compression, len(stream),
            0, 0, 16, 0,
        )
        off = 14 + 40 + 64
        return (
            b"BM" + struct.pack("<IHHI", off + len(stream), 0, 0, off)
            + info + bgra.tobytes() + stream
        )

    # RLE4: encoded run (nibble alternation), absolute run (5 nibbles,
    # word pad), delta skip (skipped pixels stay index 0), EOL, EOB
    stream = (
        bytes([4, 0x12]) + b"\x00\x02" + bytes([2, 0]) + b"\x00\x00"
        + bytes([0, 5, 0x12, 0x34, 0x50, 0x00]) + b"\x00\x00"
        + bytes([8, 0xAB]) + b"\x00\x01"
    )
    out = decode_bmp(rle4(stream, 8, 3))
    assert out.shape == (3, 8, 3)
    # bottom image row = first stream row: 1,2,1,2 then delta-skip → 0s
    assert list(out[2, :, 0]) == [3, 6, 3, 6, 0, 0, 0, 0]
    assert list(out[1, :5, 0]) == [3, 6, 9, 12, 15]  # absolute 1..5
    assert list(out[0, ::2, 0]) == [30, 30, 30, 30]  # run of 0xA/0xB
    # corruption: delta past the bitmap, truncated absolute run
    with pytest.raises(ValueError):
        decode_bmp(rle4(bytes([0, 2, 200, 200]), 8, 3))
    with pytest.raises(ValueError):
        decode_bmp(rle4(bytes([0, 9, 0x11]), 8, 3))
    # an encoded run overrunning the row, then an absolute run: a clear
    # contract error, not a raw numpy broadcast error
    overrun = bytes([10, 1, 0, 5, 1, 2, 3, 4, 5, 0])
    for bpp in (8, 4):
        with pytest.raises(ValueError, match="BMP RLE"):
            decode_bmp(rle4(overrun, 8, 1, bpp=bpp))
    # fuzz: random mutations fail cleanly or decode bounded
    rng = np.random.RandomState(3)
    good = encode_bmp_rle8(rng.randint(0, 4, (6, 9)).astype(np.uint8),
                           np.zeros((4, 3), np.uint8))
    for _ in range(60):
        bad = bytearray(good)
        for _ in range(rng.randint(1, 6)):
            bad[rng.randint(0, len(bad))] = rng.randint(0, 256)
        try:
            out = decode_bmp(bytes(bad))
            assert out.ndim == 3 and out.shape[0] <= 1 << 16
        except (ValueError, NotImplementedError):
            pass


def test_tiff_roundtrip_endianness_packbits():
    from ligra_spark.functions.tiff import _unpackbits, decode_tiff, encode_tiff

    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (9, 13, 3)).astype(np.uint8)
    assert (decode_tiff(encode_tiff(img)) == img).all()
    g = rng.randint(0, 256, (6, 5)).astype(np.uint8)
    dg = decode_tiff(encode_tiff(g))
    assert (dg[:, :, 0] == g).all() and (dg[:, :, 2] == g).all()
    # PackBits semantics: run + literals
    pb = bytes([0xFD, 0xAA]) + bytes([7]) + bytes(range(8))
    assert _unpackbits(pb, 12) == b"\xaa" * 4 + bytes(range(8))
    # big-endian PackBits file built by hand
    w, h = 4, 3

    def be(tag, typ, count, val4):
        return struct.pack(">HHI", tag, typ, count) + val4

    ifd_off = 8 + len(pb)
    entries = [
        be(256, 3, 1, struct.pack(">HH", w, 0)),
        be(257, 3, 1, struct.pack(">HH", h, 0)),
        be(258, 3, 1, struct.pack(">HH", 8, 0)),
        be(259, 3, 1, struct.pack(">HH", 32773, 0)),
        be(262, 3, 1, struct.pack(">HH", 1, 0)),
        be(273, 4, 1, struct.pack(">I", 8)),
        be(277, 3, 1, struct.pack(">HH", 1, 0)),
        be(278, 3, 1, struct.pack(">HH", h, 0)),
        be(279, 4, 1, struct.pack(">I", len(pb))),
    ]
    buf = (
        b"MM" + struct.pack(">HI", 42, ifd_off) + pb
        + struct.pack(">H", len(entries)) + b"".join(entries)
        + b"\x00\x00\x00\x00"
    )
    dec = decode_tiff(buf)
    assert (dec[0, :, 0] == 0xAA).all()
    assert list(dec[1, :, 0]) == [0, 1, 2, 3]
    # scoped boundaries + junk
    lzw = bytearray(encode_tiff(img))
    # flip the compression SHORT inside the IFD: find tag 259 entry
    ifd = struct.unpack("<I", lzw[4:8])[0]
    ne = struct.unpack("<H", lzw[ifd : ifd + 2])[0]
    for i in range(ne):
        off = ifd + 2 + 12 * i
        if struct.unpack("<H", lzw[off : off + 2])[0] == 259:
            struct.pack_into("<H", lzw, off + 8, 5)  # LZW
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(lzw))
    with pytest.raises(ValueError):
        decode_tiff(b"XXnot a tiff")


def test_tiff_photometric_interpretation():
    # WhiteIsZero (photo=0) must invert; palette (photo=3) and exotic
    # color spaces must refuse rather than decode indices as gray
    from ligra_spark.functions.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(3)
    g = rng.randint(0, 256, (5, 7)).astype(np.uint8)
    # a white-is-zero file stores inverted intensities on disk
    buf = encode_tiff(255 - g, photometric=0)
    assert (decode_tiff(buf)[:, :, 0] == g).all()
    for photo in (3, 4, 5, 6, 8):
        with pytest.raises(NotImplementedError):
            decode_tiff(encode_tiff(g, photometric=photo))


def test_ppm_sniff_matches_decoder_separators():
    # every separator the P6 decoder accepts after the magic must also
    # sniff as 'ppm', or format-routed filters drop decodable payloads
    from ligra_spark.functions.multimodal import _MAGIC, _decode_image_bytes

    prefixes = [bytes.fromhex(h) for f, h in _MAGIC if f == "ppm"]
    for sep in b" \t\n\r\x0b\x0c#":
        head = b"P6" + bytes([sep])
        assert any(head.startswith(p) or p.startswith(head) for p in prefixes), (
            f"P6 + {bytes([sep])!r} not sniffable as ppm"
        )
        payload = b"P6" + bytes([sep]) + b"\n2 2\n255\n" + bytes(12)
        arr = _decode_image_bytes(payload, fake=False)
        assert arr.shape == (2, 2, 3)


def test_jpeg_bit_buffers_stay_bounded(monkeypatch):
    # Consumed bits must be dropped as they are read (and written):
    # a buffer that grows to the whole scan makes every shift O(scan)
    # and decode time quadratic in the coded size.  Noise, not flat
    # blocks, so the scan is long (flat fixtures hid this).
    from ligra_spark.functions import jpeg

    widest = {"read": 0, "write": 0}

    def watch(kind, fn):
        def wrapped(self, *args):
            out = fn(self, *args)
            widest[kind] = max(widest[kind], self.bitbuf.bit_length())
            return out

        return wrapped

    for cls, name, kind in (
        (jpeg._BitReader, "read_bit", "read"),
        (jpeg._BitWriter, "write", "write"),
    ):
        monkeypatch.setattr(cls, name, watch(kind, getattr(cls, name)))
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (48, 48, 3)).astype(np.uint8)
    for enc in (jpeg.encode_jpeg_baseline, jpeg.encode_jpeg_progressive):
        buf = enc(img)
        assert len(buf) > 4096
        jpeg.decode_jpeg(buf)
    assert 0 < widest["read"] < 64 and 0 < widest["write"] < 64, widest


def test_jpeg_fill_bytes_and_stray_standalone_markers():
    # T.81 B.1.1.2: 0xFF fill bytes may pad before any marker; TEM
    # (0x01) and stray RSTn are standalone (no length field)
    from ligra_spark.functions.jpeg import decode_jpeg, encode_jpeg_baseline

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    buf = encode_jpeg_baseline(img, quant=8)
    want = decode_jpeg(buf)
    # inject fill bytes + a TEM marker between SOI and the first segment
    padded = buf[:2] + b"\xff" * 3 + b"\xff\x01" + buf[2:]
    assert (decode_jpeg(padded) == want).all()


def test_tiff_through_image_features_and_sniffing(spark):
    from ligra_spark.functions.multimodal import image_features, with_media_format
    from ligra_spark.functions.tiff import encode_tiff

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [0], "payload": [encode_tiff(img)]})
    )
    assert with_media_format(media).collect()[0]["format"] == "tiff"
    r = image_features(media, fake=False).collect()[0]
    assert (r["height"], r["width"], r["channels"]) == (8, 8, 3)
    assert r["mean_r"] == pytest.approx(img.mean(), abs=0)
