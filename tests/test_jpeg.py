"""Pure-numpy baseline JPEG codec (core.jpeg) — the built-in foreign
image format.  Roundtrip PSNR gates, structural bitstream checks, the
honest NotImplementedError edges, and the multimodal-registry e2e path
with real decoded pixels."""

import numpy as np
import pytest

from geotrellis_landsat_emr_demo_spark.core import jpeg


def psnr(a, b):
    mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255**2 / mse)


def _smooth(h=50, w=70):
    yy, xx = np.mgrid[0:h, 0:w]
    return (127 + 120 * np.sin(yy / 7.0) * np.cos(xx / 9.0)).astype(np.uint8)


def test_gray_roundtrip_psnr_and_structure():
    img = _smooth()
    data = jpeg.encode_gray(img, 75)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    out = jpeg.decode(data)
    assert out.shape == img.shape and out.dtype == np.uint8
    assert psnr(img, out) >= 40  # BASELINE.md lossy gate


def test_flat_image_is_lossless_and_tiny():
    img = np.full((32, 32), 128, np.uint8)
    data = jpeg.encode_gray(img)
    assert (jpeg.decode(data) == img).all()
    assert len(data) < 400  # DC-only blocks: headers dominate


def test_quality_monotone():
    img = _smooth()
    ps = [psnr(img, jpeg.decode(jpeg.encode_gray(img, q))) for q in (30, 60, 90)]
    assert ps[0] < ps[1] < ps[2]
    sizes = [len(jpeg.encode_gray(img, q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]


def test_non_multiple_of_8_dims_and_noise():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (45, 61), np.uint8)  # worst case for DCT
    out = jpeg.decode(jpeg.encode_gray(img, 95))
    assert out.shape == (45, 61)
    assert psnr(img, out) >= 35


def test_rgb_444_roundtrip():
    yy, xx = np.mgrid[0:50, 0:70]
    rgb = np.stack(
        [
            (127 + 120 * np.sin(yy / 7.0)).astype(np.uint8),
            (127 + 120 * np.cos(xx / 9.0)).astype(np.uint8),
            ((yy * 2 + xx) % 256).astype(np.uint8),
        ],
        axis=-1,
    )
    out = jpeg.decode(jpeg.encode_rgb(rgb, 90))
    assert out.shape == rgb.shape
    assert psnr(rgb, out) >= 40


def test_progressive_gray_bit_identical_to_baseline():
    """The full progressive script (DC/AC spectral selection + successive
    approximation, incl. refinement scans) reconstructs the EXACT same
    quantized coefficients as the single baseline scan — decoded pixels
    are bit-identical."""
    for img in (_smooth(), np.random.default_rng(7).integers(0, 256, (41, 67), np.uint8)):
        for q in (50, 85, 95):
            prog = jpeg.decode(jpeg.encode_gray(img, q, progressive=True))
            base = jpeg.decode(jpeg.encode_gray(img, q))
            assert (prog == base).all()


def test_progressive_rgb_and_subsampled():
    rng = np.random.default_rng(9)
    g = _smooth(48, 70)
    rgb = np.stack([g, np.roll(g, 5, 0), np.roll(g, 9, 1)], axis=-1)
    for sub in ("444", "422", "420"):
        prog = jpeg.decode(jpeg.encode_rgb(rgb, 85, subsampling=sub, progressive=True))
        base = jpeg.decode(jpeg.encode_rgb(rgb, 85, subsampling=sub))
        assert (prog == base).all(), sub
    # noise stresses every run/EOB/refinement path
    nz = rng.integers(0, 256, (33, 49, 3), np.uint8)
    prog = jpeg.decode(jpeg.encode_rgb(nz, 92, subsampling="420", progressive=True))
    base = jpeg.decode(jpeg.encode_rgb(nz, 92, subsampling="420"))
    assert (prog == base).all()


def test_chroma_subsampling_baseline():
    """4:2:0 / 4:2:2 decode within the PSNR gate, incl. odd dimensions
    (partial MCUs on both axes)."""
    g = _smooth(50, 70)
    rgb = np.stack([g, np.roll(g, 3, 0), np.roll(g, 4, 1)], axis=-1)
    for sub, gate in (("444", 40), ("422", 35), ("420", 30)):
        out = jpeg.decode(jpeg.encode_rgb(rgb, 90, subsampling=sub))
        assert out.shape == rgb.shape
        assert psnr(rgb, out) >= gate, sub
    for h, w in ((17, 23), (16, 16), (15, 31), (8, 9)):
        img = np.stack([_smooth(h, w)] * 3, axis=-1)
        out = jpeg.decode(jpeg.encode_rgb(img, 90, subsampling="420"))
        assert out.shape == img.shape
        assert psnr(img, out) >= 30, (h, w)


def test_12bit_roundtrip_seq_and_progressive():
    """12-bit precision (SOF1 extended sequential / SOF2 progressive):
    uint16 out, PSNR gate at the 4095 scale, DC12 Huffman categories
    (sizes > 11, which the 8-bit Annex K DC table cannot encode)
    exercised by full-range block-to-block jumps."""
    rng = np.random.default_rng(21)
    yy, xx = np.mgrid[0:80, 0:96]
    img = (
        2048 + 1900 * np.sin(yy / 6.0) * np.cos(xx / 8.0)
        + rng.normal(0, 6, (80, 96))
    ).clip(0, 4095).astype(np.uint16)
    # checkerboard of extreme blocks: DC diffs swing +-~32000 -> DC
    # categories 14-15, the ones unique to 12-bit
    img[0:8, 0:8] = 0
    img[0:8, 8:16] = 4095
    img[8:16, 0:8] = 4095
    img[8:16, 8:16] = 0
    for prog in (False, True):
        enc = jpeg.encode_gray12(img, quality=95, progressive=prog)
        out = jpeg.decode(enc)
        assert out.dtype == np.uint16 and out.shape == img.shape
        mse = ((out.astype("f8") - img) ** 2).mean()
        assert 10 * np.log10(4095.0**2 / mse) >= 50, ("prog" if prog else "seq")
    # SOF marker is C1 (extended sequential), not C0 (baseline is 8-bit
    # only per T.81 B.2.2)
    seq = jpeg.encode_gray12(img, quality=95)
    assert b"\xff\xc1" in seq and b"\xff\xc0" not in seq
    # and a stream claiming 12-bit under SOF0 is rejected
    bad = bytearray(seq)
    bad[bad.index(b"\xff\xc1") + 1] = 0xC0
    with pytest.raises(ValueError, match="SOF0"):
        jpeg.decode(bytes(bad))
    # samples over 4095 refuse at the API edge
    with pytest.raises(ValueError, match="4095"):
        jpeg.encode_gray12(np.full((8, 8), 4096, np.uint16))


def test_12bit_flat_image_lossless():
    """A flat 12-bit field quantizes to all-zero AC + constant DC ->
    bit-exact roundtrip, pinning the level shift at 2048 (not 128)."""
    img = np.full((32, 40), 3333, np.uint16)
    assert (jpeg.decode(jpeg.encode_gray12(img, quality=90)) == img).all()


def test_not_a_jpeg_rejected():
    # ValueError (not assert) so validation survives `python -O`
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode(b"\x89PNG\r\n")


def test_ff_fill_bytes_before_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker; conforming external JPEGs use this and must still parse."""
    img = _smooth()
    data = jpeg.encode_gray(img, 90)
    i = data.find(b"\xff\xdb")  # pad before the first DQT marker
    assert i > 0
    padded = data[:i] + b"\xff" * 5 + data[i:]
    out = jpeg.decode(padded)
    assert out.shape == img.shape and psnr(img, out) >= 35


def test_multimodal_registry_e2e(spark):
    """A DataFrame of fmt='jpeg' binary images decodes through the
    built-in container decode (kernels.decode_payload) inside the Spark
    operator — real pixels, real stats."""
    import pandas as pd

    from geotrellis_landsat_emr_demo_spark.operators import multimodal

    imgs = {f"j{i}": _smooth(24 + 8 * i, 40) for i in range(3)}
    pdf = pd.DataFrame(
        [
            dict(image_id=k, bytes=jpeg.encode_gray(v, 85), fmt="jpeg")
            for k, v in imgs.items()
        ]
    )
    out = multimodal.decode_stats(spark.createDataFrame(pdf)).toPandas()
    assert set(out.image_id) == set(imgs)
    for r in out.itertuples(index=False):
        ref = imgs[r.image_id].astype(float)
        ref = ref[ref != 0]
        assert abs(r.mean - ref.mean()) < 3.0  # lossy but close


def test_edge_dimensions():
    """Degenerate sizes: 1x1, single row/col, exact block, block+1 — the
    pad-to-8/crop-back path must be exact about shapes."""
    rng = np.random.default_rng(3)
    for h, w in ((1, 1), (1, 17), (9, 1), (8, 8), (9, 8), (7, 9)):
        img = rng.integers(0, 256, (h, w), np.uint8)
        out = jpeg.decode(jpeg.encode_gray(img, 95))
        assert out.shape == (h, w)
        assert psnr(img, out) >= 30
