"""Pure-numpy baseline JPEG codec tests: bit-exact uniform-block
round-trip (the oracle-bearing property), quantization-bounded lossy
round-trips, restart markers, 4:2:0 interleave/upsample, scope
boundaries, and the fused Spark decode+features path over real JPEG
bytes."""

import hashlib

import numpy as np
import pytest

from ligra_spark.functions.jpeg import decode_jpeg, encode_jpeg_baseline


def _uniform_gray(seed: bytes, blocks=(2, 2)) -> np.ndarray:
    d = hashlib.sha256(seed).digest()[: blocks[0] * blocks[1]]
    grid = np.frombuffer(d, dtype=np.uint8).reshape(blocks)
    return np.kron(grid, np.ones((8, 8), dtype=np.uint8))


def test_uniform_block_gray_roundtrip_exact():
    # quant DC=8 divides 8*(v-128) exactly -> decoded pixels equal the
    # source bytes bit-for-bit (the doc_image_jpeg oracle property)
    for seed in (b"a", b"b", b"c", b"\x00\xff"):
        img = _uniform_gray(seed)
        dec = decode_jpeg(encode_jpeg_baseline(img, quant=8))
        assert dec.shape == (16, 16, 3)
        for ch in range(3):
            assert (dec[:, :, ch] == img).all()


def test_uniform_larger_grid_exact():
    img = _uniform_gray(b"grid", blocks=(4, 8))  # 32x64
    dec = decode_jpeg(encode_jpeg_baseline(img, quant=8))
    assert dec.shape == (32, 64, 3)
    assert (dec[:, :, 0] == img).all()


def test_noise_gray_quant_bounded():
    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(32, 40)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg_baseline(img, quant=4))
    err = np.abs(dec[:, :, 0].astype(int) - img.astype(int))
    # orthonormal IDCT: per-coefficient error <= q/2 bounds pixel error
    # by q/2 * sum|basis| ~ 2.5q; observed max is ~q
    assert err.max() <= 10
    # and all three output channels replicate the luma plane
    assert (dec[:, :, 0] == dec[:, :, 1]).all()


def test_color_444_quant1_close():
    rng = np.random.RandomState(5)
    img = rng.randint(40, 220, size=(24, 16, 3)).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg_baseline(img, quant=1))
    err = np.abs(dec.astype(int) - img.astype(int))
    # q=1 leaves only YCbCr<->RGB float rounding (<= a couple of levels)
    assert err.max() <= 3


def test_restart_markers_equal_no_restart():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(32, 32)).astype(np.uint8)
    plain = decode_jpeg(encode_jpeg_baseline(img, quant=4))
    rst = decode_jpeg(encode_jpeg_baseline(img, quant=4, restart_interval=3))
    assert (plain == rst).all()


def test_420_constant_color_exact():
    img = np.zeros((32, 32, 3), dtype=np.uint8)
    img[:, :] = (90, 140, 200)
    dec = decode_jpeg(encode_jpeg_baseline(img, quant=1, sampling="420"))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1


def test_420_with_restarts_decodes():
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, size=(32, 48, 3)).astype(np.uint8)
    dec = decode_jpeg(
        encode_jpeg_baseline(img, quant=2, sampling="420", restart_interval=2)
    )
    assert dec.shape == (32, 48, 3)
    # luma survives within quant error: compare grayscale projections
    y_src = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    y_dec = 0.299 * dec[:, :, 0] + 0.587 * dec[:, :, 1] + 0.114 * dec[:, :, 2]
    assert np.abs(y_src - y_dec).mean() < 4.0


def test_zrl_long_zero_runs():
    # one hot pixel per block puts energy in high-frequency coeffs with
    # long zero runs between nonzeros (exercises ZRL + mid-block EOB)
    img = np.zeros((16, 16), dtype=np.uint8)
    img[3, 5] = 255
    img[11, 12] = 200
    dec = decode_jpeg(encode_jpeg_baseline(img, quant=1))
    err = np.abs(dec[:, :, 0].astype(int) - img.astype(int))
    assert err.max() <= 4


def test_unsupported_sof_and_frankenstein_sof2():
    # arithmetic coding (SOF9) stays a scoped boundary
    buf = bytearray(encode_jpeg_baseline(_uniform_gray(b"x"), quant=8))
    i = bytes(buf).find(b"\xff\xc0")
    buf[i + 1] = 0xC9
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(buf))
    # a baseline stream relabeled SOF2 is corrupt (its SOS carries a
    # baseline scan header: 3-component full-band "progressive" scan)
    # and must fail with a clean contract error, not decode garbage
    buf[i + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_jpeg(bytes(buf))


@pytest.mark.parametrize("sampling", ["444", "420"])
def test_baseline_one_scan_per_component(sampling):
    # a sequential frame may send each component in its own
    # non-interleaved scan (T.81 A.2.2: the component's block grid in
    # raster order); it must decode exactly like the interleaved stream
    from ligra_spark.functions import jpeg

    rng = np.random.RandomState(29)
    img = rng.randint(0, 256, size=(32, 48, 3)).astype(np.uint8)
    want = jpeg.encode_jpeg_baseline(img, quant=6, sampling=sampling)
    planes, _, q = jpeg._prepare_encode_planes(img, 6, None, sampling)
    out = bytearray(want[: want.find(b"\xff\xda")])  # SOI .. DHT
    for ci, plane in enumerate(planes):
        lum = ci == 0
        dc_tab = jpeg._encode_table(
            *((jpeg._DC_LUM_BITS, jpeg._DC_LUM_VALS) if lum
              else (jpeg._DC_CHR_BITS, jpeg._DC_CHR_VALS))
        )
        ac_tab = jpeg._encode_table(
            *((jpeg._AC_LUM_BITS, jpeg._AC_LUM_VALS) if lum
              else (jpeg._AC_CHR_BITS, jpeg._AC_CHR_VALS))
        )
        th = 0 if lum else 0x11
        out += bytes([0xFF, 0xDA, 0, 8, 1, ci + 1, th, 0, 63, 0])
        wr = jpeg._BitWriter()
        pred = 0
        for zz in jpeg._fdct_quant(plane, q):
            pred = jpeg._encode_block(wr, zz, pred, dc_tab, ac_tab)
        wr.flush()
        out += wr.out
    out += b"\xff\xd9"
    assert bytes(out).count(b"\xff\xda") == 3
    assert (decode_jpeg(bytes(out)) == decode_jpeg(want)).all()


def test_not_jpeg_rejected():
    with pytest.raises(ValueError):
        decode_jpeg(b"NOPE")


def test_image_features_over_real_jpeg(spark):
    """End-to-end: encode per-row JPEGs, decode through the fused
    Arrow image_features pass (fake=False), check the closed-form
    expectations from the digest bytes."""
    import pandas as pd

    from ligra_spark.functions.multimodal import image_features

    rows = []
    expected = {}
    for i in range(8):
        d = hashlib.sha256(f"doc{i}".encode()).digest()[:4]
        grid = np.frombuffer(d, dtype=np.uint8).reshape(2, 2)
        img = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
        rows.append((i, encode_jpeg_baseline(img, quant=8)))
        expected[i] = sum(d) / 4.0
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [r[0] for r in rows], "payload": [r[1] for r in rows]})
    )
    out = {r["media_id"]: r for r in image_features(media, fake=False).collect()}
    assert len(out) == 8
    for i, mean in expected.items():
        r = out[i]
        assert (r["height"], r["width"], r["channels"]) == (16, 16, 3)
        for c in ("mean_r", "mean_g", "mean_b"):
            assert r[c] == pytest.approx(mean, abs=0)  # exact: /4 and /256


def test_mjpeg_avi_frame_sampling(spark):
    """RIFF/AVI container walk + native per-frame JPEG decode through
    the public sampling ops: frame schedule, exact pixel recovery."""
    import pandas as pd

    from ligra_spark.functions.multimodal import (
        sample_video_frames,
        video_frame_features,
    )
    from ligra_spark.functions.video import decode_avi_frames, encode_mjpeg_avi

    rows = []
    want = {}
    for i in range(4):
        d = hashlib.sha256(f"vid{i}".encode()).digest()
        frames = []
        for k in range(3):
            grid = np.frombuffer(d[4 * k : 4 * k + 4], dtype=np.uint8).reshape(2, 2)
            frames.append(
                encode_jpeg_baseline(
                    np.kron(grid, np.ones((8, 8), dtype=np.uint8)), quant=8
                )
            )
        avi = encode_mjpeg_avi(frames, 500_000)  # 2 fps
        fr, usec = decode_avi_frames(avi)
        assert fr == frames and usec == 500_000
        rows.append((i, avi, 1500))
        want[i] = {k * 500: sum(d[4 * k : 4 * k + 4]) / 4.0 for k in range(3)}
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [r[0] for r in rows],
                "payload": [r[1] for r in rows],
                "duration_ms": [r[2] for r in rows],
            }
        )
    )
    feats = video_frame_features(media, every_ms=500, fake=False).collect()
    assert len(feats) == 12  # 4 docs x 3 sampled frames
    for r in feats:
        assert (r["height"], r["width"]) == (16, 16)
        assert r["mean_r"] == pytest.approx(want[r["media_id"]][r["ts_ms"]], abs=0)
    # raw frame sampling carries exact decoded bytes
    raw = sample_video_frames(media, every_ms=500, fake=False).collect()
    assert len(raw) == 12
    assert all(len(r["frame"]) == 16 * 16 * 3 for r in raw)


# ---------------------------------------------------------------------------
# progressive (SOF2, T.81 Annex G)


def test_progressive_equals_baseline_gray():
    # both encoders quantize identically (_fdct_quant); progressive is
    # a lossless re-coding of the same coefficients, so decode MUST be
    # bit-identical to the baseline decode
    from ligra_spark.functions.jpeg import encode_jpeg_progressive

    rng = np.random.RandomState(17)
    for shape in [(8, 8), (16, 24), (40, 32)]:
        img = rng.randint(0, 256, size=shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg_baseline(img, quant=4))
        prog = decode_jpeg(encode_jpeg_progressive(img, quant=4))
        assert (base == prog).all()


def test_progressive_equals_baseline_color_444_and_420():
    from ligra_spark.functions.jpeg import encode_jpeg_progressive

    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, size=(32, 48, 3)).astype(np.uint8)
    for sampling in ("444", "420"):
        base = decode_jpeg(encode_jpeg_baseline(img, quant=6, sampling=sampling))
        prog = decode_jpeg(encode_jpeg_progressive(img, quant=6, sampling=sampling))
        assert (base == prog).all(), sampling


def test_progressive_uniform_block_exact():
    # the oracle-bearing property must hold through the Annex-G path too
    from ligra_spark.functions.jpeg import encode_jpeg_progressive

    for seed in (b"p", b"q", b"\x00\xff"):
        img = _uniform_gray(seed)
        dec = decode_jpeg(encode_jpeg_progressive(img, quant=8))
        assert (dec[:, :, 0] == img).all()


def test_progressive_extreme_images():
    # flat extremes + high-frequency checkerboard stress EOB runs,
    # ZRL-in-refinement, and the correction-bit buffering
    from ligra_spark.functions.jpeg import encode_jpeg_progressive

    checker = np.indices((24, 24)).sum(axis=0) % 2 * 255
    for img in [
        np.zeros((16, 16), dtype=np.uint8),
        np.full((16, 16), 255, dtype=np.uint8),
        checker.astype(np.uint8),
    ]:
        base = decode_jpeg(encode_jpeg_baseline(img, quant=2))
        prog = decode_jpeg(encode_jpeg_progressive(img, quant=2))
        assert (base == prog).all()


def test_progressive_truncated_and_corrupt():
    from ligra_spark.functions.jpeg import encode_jpeg_progressive

    rng = np.random.RandomState(31)
    img = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    buf = encode_jpeg_progressive(img, quant=4)
    with pytest.raises(ValueError):
        decode_jpeg(buf[: len(buf) // 2] )
    # flipping a byte mid-stream must fail cleanly or still produce a
    # well-formed image (never crash with an internal numpy error)
    bad = bytearray(buf)
    bad[len(bad) // 2] ^= 0x55
    try:
        out = decode_jpeg(bytes(bad))
        assert out.shape == (16, 16, 3)
    except (ValueError, NotImplementedError):
        pass
