"""COG windowed reader/writer + the Spark archive source.

Covers the 100 TB access-pattern claims with measured gates: a window
read must cost a small fraction of the file (range accounting), the
overview chain must serve low-resolution queries, and the Spark source
must produce ingest-ready rows reading only AOI bytes.
"""

import glob
import os

import numpy as np
import pytest

from geotrellis_landsat_emr_demo_spark import fixtures
from geotrellis_landsat_emr_demo_spark.core import cog, kernels, tiff

RNG = np.random.default_rng(7)


def _img(h, w, dtype="u2", bands=1):
    hi = {"u1": 250, "u2": 60000, "i2": 30000, "f4": 1.0}[dtype]
    a = RNG.random((h, w, bands)) * hi
    out = a.astype(dtype)
    return out[..., 0] if bands == 1 else out


GEO = dict(
    pixel_scale=(30.0, 30.0),
    tiepoint=(0, 0, 0, 500000.0, 4600000.0, 0),
    epsg=32617,
)


# ------------------------------------------------------------ round-trip --


@pytest.mark.parametrize("compression", ["none", "deflate", "packbits", "lzw"])
@pytest.mark.parametrize("dtype,predictor", [("u2", 1), ("u2", 2), ("u1", 2), ("f4", 1)])
def test_write_cog_tiff_read_roundtrip(compression, dtype, predictor):
    img = _img(300, 520, dtype)
    data = cog.write_cog(
        img, geo=GEO, tile=(128, 128), compression=compression, predictor=predictor
    )
    arr, meta = tiff.read(data)
    assert np.array_equal(arr, img)
    assert meta["epsg"] == 32617 and meta["tiled"]


def test_write_cog_multiband_roundtrip():
    img = _img(200, 300, "u2", bands=5)  # Landsat-ish band count
    data = cog.write_cog(img, geo=GEO, tile=(64, 64))
    arr, _ = tiff.read(data)
    assert arr.shape == (200, 300, 5)
    assert np.array_equal(arr, img)


def test_overview_chain_levels_and_content():
    img = _img(700, 900, "u2")
    data = cog.write_cog(img, geo=GEO, tile=(256, 256))
    cr = cog.open_cog(data)
    dims = [(lv.width, lv.height) for lv in cr.info.levels]
    assert dims == [(900, 700), (450, 350), (225, 175)]
    # overview 1 is the 2x2 mean of level 0 (edge-replicated)
    lvl1 = cr.window(1, 0, 0, 450, 350)
    assert np.array_equal(lvl1, cog._downsample2(img[:, :, None])[..., 0])


# ---------------------------------------------------------- window reads --


def test_window_equals_crop_every_level():
    img = _img(700, 900, "u2")
    data = cog.write_cog(img, geo=GEO, tile=(256, 256), predictor=2)
    cr = cog.open_cog(data)
    full = [cr.window(i, 0, 0, lv.width, lv.height) for i, lv in enumerate(cr.info.levels)]
    for i, lv in enumerate(cr.info.levels):
        w = cr.window(i, 37, 53, 211, 145)
        assert np.array_equal(w, full[i][53 : 53 + 145, 37 : 37 + 211])


def test_window_read_cost_fraction():
    img = _img(2048, 2048, "u2")
    data = cog.write_cog(img, geo=GEO, tile=(256, 256), compression="none")
    rd = cog.BytesRangeReader(data)
    cr = cog.CogReader(rd)
    before = rd.bytes_read
    cr.window(0, 100, 100, 200, 200)  # 4 tiles of 64
    window_bytes = rd.bytes_read - before
    assert window_bytes < 0.1 * len(data), (window_bytes, len(data))
    # and the whole open+read needed only a handful of range requests
    assert rd.requests <= 6


def test_window_by_extent_and_overview_selection():
    img = _img(700, 900, "u2")
    data = cog.write_cog(img, geo=GEO, tile=(256, 256))
    cr = cog.open_cog(data)
    fx0, fy0, fx1, fy1 = cr.info.extent
    ext = (fx0 + 3000, fy0 + 3000, fx0 + 9000, fy0 + 9000)
    arr, actual, level = cr.window_by_extent(ext)
    assert level == 0
    # the actual extent covers the request, snapped to the pixel grid
    assert actual[0] <= ext[0] and actual[2] >= ext[2]
    # resolution coarser than 2x native -> overview serves the read
    arr1, _a, level1 = cr.window_by_extent(ext, resolution=60.0)
    assert level1 == 1 and arr1.shape[0] == arr.shape[0] // 2
    # sharper than any overview -> full res
    assert cr.info.select_level(30.0) == 0
    assert cr.info.select_level(1000.0) == len(cr.info.levels) - 1


def test_coalesce_merges_near_ranges():
    got = cog._coalesce([(0, 10), (15, 10), (100_000, 5), (200_000, 5)], gap=32)
    assert got == [(0, 25), (100_000, 5), (200_000, 5)]
    assert cog._coalesce([]) == []


def test_foreign_tail_ifd_tiff_still_parses():
    """core.tiff.encode puts the IFD at the END (classic, non-COG); the
    chain parser must grow its prefix and still read it."""
    img = _img(600, 800, "u2")
    data = tiff.encode(img, tiled=True, tile=(256, 256), geo=GEO)
    cr = cog.open_cog(data)
    assert len(cr.info.levels) == 1  # no overviews in the classic writer
    w = cr.window(0, 10, 20, 100, 50)
    assert np.array_equal(w, img[20:70, 10:110])


def _patch_short(data: bytes, tag: int, value: int, index: int = 0) -> bytes:
    """Rewrite SHORT value ``index`` of ``tag`` in the first IFD of a
    little-endian classic TIFF (inline or external value)."""
    import struct

    out = bytearray(data)
    (ifd,) = struct.unpack_from("<I", out, 4)
    (n,) = struct.unpack_from("<H", out, ifd)
    for e in range(ifd + 2, ifd + 2 + 12 * n, 12):
        t, _typ, cnt = struct.unpack_from("<HHI", out, e)
        if t == tag:
            at = e + 8 if 2 * cnt <= 4 else struct.unpack_from("<I", out, e + 8)[0]
            struct.pack_into("<H", out, at + 2 * index, value)
            return bytes(out)
    raise KeyError(tag)


def _ramp(bands=1):
    """Small uint16 raster that leaves the module RNG untouched."""
    return np.arange(48 * 40 * bands, dtype=np.uint16).reshape(48, 40, bands).squeeze()


_UNDECODABLE = {
    # Predictor 3 (floating-point differencing) is not implemented
    "predictor-3": (
        lambda: _patch_short(
            tiff.encode(_ramp(), tiled=True, tile=(16, 16), predictor=2),
            317, 3,
        ),
        "predictor 3",
    ),
    # Predictor 2 is integer differencing; on float samples it is invalid
    "float-predictor-2": (
        lambda: _patch_short(
            tiff.encode(_ramp().astype(np.int32), tiled=True, tile=(16, 16), predictor=2),
            339, 3,
        ),
        "predictor 2 on float",
    ),
    "heterogeneous-bits": (
        lambda: _patch_short(
            tiff.encode(_ramp(bands=3), tiled=True, tile=(16, 16)),
            258, 8, index=1,
        ),
        "heterogeneous BitsPerSample",
    ),
}


@pytest.mark.parametrize("case", sorted(_UNDECODABLE))
@pytest.mark.parametrize(
    "reader",
    [tiff.read, lambda d: cog.open_cog(d).window(0, 0, 0, 8, 8)],
    ids=["tiff.read", "cog.window"],
)
def test_windowed_reader_rejects_what_read_rejects(case, reader):
    """The whole-file and windowed readers share one layout parser, so a
    file one of them cannot decode exactly raises in both instead of
    decoding to wrong pixels."""
    make, msg = _UNDECODABLE[case]
    with pytest.raises(NotImplementedError, match=msg):
        reader(make())


_LOSSLESS = ["none", "deflate", "packbits", "lzw"]
# (compression, bands, planar, tiled): the single-band striped files, then
# 3-band chunky and planar files, striped and tiled, and one planar JPEG
_WINDOW_FILES = (
    [(c, 1, 1, False) for c in _LOSSLESS]
    + [
        (c, 3, planar, tiled)
        for c in _LOSSLESS
        for planar in (1, 2)
        for tiled in (False, True)
    ]
    + [("jpeg", 3, 2, False)]
)


@pytest.mark.parametrize(
    "compression,bands,planar,tiled",
    _WINDOW_FILES,
    ids=[
        c if b == 1 else f"{c}-3band-planar{p}-{'tiled' if t else 'striped'}"
        for c, b, p, t in _WINDOW_FILES
    ],
)
def test_striped_tiff_windowed_read(compression, bands, planar, tiled):
    """Classic striped GeoTIFF (the Landsat L1 layout): strips are
    modeled as full-width tiles, so row windows fetch only the
    intersecting strips — in every plane of a planar file.  Windows of
    chunky and planar, striped and tiled files equal the crop of the
    whole-file read."""
    if compression == "jpeg":
        img = _smooth(600, 400, bands)
    elif bands == 1:
        img = _img(600, 400, "u2")
    else:  # own generator: the module RNG's later draws stay as they were
        rng = np.random.default_rng(10 * planar + tiled)
        img = (rng.random((600, 400, bands)) * 60000).astype("u2")
    data = tiff.encode(
        img, tiled=tiled, tile=(128, 128), rows_per_strip=64,
        compression=compression, planar=planar, geo=GEO,
    )
    full = tiff.read(data)[0]
    if compression != "jpeg":
        assert np.array_equal(full, img)
    rd = cog.BytesRangeReader(data)
    cr = cog.CogReader(rd)
    lv = cr.info.levels[0]
    assert lv.planar == planar
    if not tiled:
        assert lv.striped and (lv.tile_w, lv.tile_h) == (400, 64)
    # the classic writer puts the IFD at the tail, so parsing fetched the
    # whole file into the prefix cache; truncate it to force the window
    # onto the range-read path and assert strip pruning
    cr.prefix = cr.prefix[:8]
    before = rd.bytes_read
    w = cr.window(0, 30, 70, 250, 100)  # rows 70..170 -> strips 1..2
    assert np.array_equal(w, full[70:170, 30:280])
    if compression == "none" and not tiled:
        # 3 of 10 strips intersect [64,192) in each plane; only they are
        # fetched (a chunky strip holds all bands, a planar one one band)
        assert rd.bytes_read - before <= bands * 3 * 64 * 400 * 2 + 4096
    # short last strip decodes too (600 = 9*64 + 24 rows)
    tail = cr.window(0, 0, 590, 400, 10)
    assert np.array_equal(tail, full[590:600])
    fx0, fy0, fx1, fy1 = cr.info.extent
    arr, actual, _ = cr.window_by_extent(
        (fx0 + 900, fy1 - 2100, fx0 + 2100, fy1 - 900)
    )
    x0 = int(round((actual[0] - fx0) / 30.0))
    y0 = int(round((fy1 - actual[3]) / 30.0))
    assert np.array_equal(arr, full[y0 : y0 + arr.shape[0], x0 : x0 + arr.shape[1]])


def test_striped_tiff_window_by_extent():
    img = _img(512, 512, "u2")
    data = tiff.encode(img, tiled=False, rows_per_strip=128, geo=GEO)
    cr = cog.open_cog(data)
    fx0, fy0, fx1, fy1 = cr.info.extent
    ext = (fx0 + 900, fy1 - 2100, fx0 + 2100, fy1 - 900)
    arr, actual, level = cr.window_by_extent(ext)
    assert level == 0
    x0 = int(round((actual[0] - fx0) / 30.0))
    y0 = int(round((fy1 - actual[3]) / 30.0))
    assert np.array_equal(arr, img[y0 : y0 + arr.shape[0], x0 : x0 + arr.shape[1]])


# ------------------------------------------------------- JPEG-in-TIFF (7) --


def _smooth(h, w, bands=1):
    """JPEG-friendly smooth field (random noise defeats DCT coding)."""
    yy, xx = np.mgrid[0:h, 0:w]
    out = np.stack(
        [
            128 + 100 * np.sin(xx / (31.0 + 7 * b)) * np.cos(yy / (47.0 + 5 * b))
            for b in range(bands)
        ],
        axis=-1,
    ).astype(np.uint8)
    return out[..., 0] if bands == 1 else out


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


@pytest.mark.parametrize("bands", [1, 3])
def test_jpeg_cog_roundtrip_and_window(bands):
    """compression=7: lossy uint8 tiles through the in-repo JPEG codec.
    Whole-file read passes a PSNR gate; a window equals the full-read
    crop EXACTLY (same tile decodes either way)."""
    img = _smooth(600, 800, bands)
    data = cog.write_cog(
        img, geo=GEO, tile=(256, 256), compression="jpeg", quality=90
    )
    full, meta = tiff.read(data)
    assert meta["compression"] == 7 and meta["epsg"] == 32617
    assert _psnr(full, img) >= 32.0
    cr = cog.open_cog(data)
    w = cr.window(0, 37, 53, 211, 145)
    assert np.array_equal(w, full[53:198, 37:248])
    # overview levels decode too (lossy cascade, sane values)
    ref = cog._downsample2(img[:, :, None] if bands == 1 else img)
    ref = ref[..., 0] if bands == 1 else ref
    lv1 = cr.window(1, 0, 0, 400, 300)
    assert _psnr(lv1, ref[:300, :400]) >= 28.0
    # and JPEG buys real compression on smooth content
    assert len(data) < 0.35 * img.nbytes


def test_jpeg_striped_tiff_read():
    img = _smooth(300, 400)
    data = tiff.encode(
        img, tiled=False, rows_per_strip=64, compression="jpeg", quality=90
    )
    arr, meta = tiff.read(data)
    assert meta["compression"] == 7
    assert _psnr(arr, img) >= 32.0


def test_jpeg_tiff_rejects_wrong_dtype():
    # uint16 gray IS valid now (12-bit SOF1 tiles) — but only <= 4095
    with pytest.raises(ValueError, match="4095"):
        cog.write_cog(_img(64, 64, "u2"), geo=GEO, compression="jpeg")
    with pytest.raises(ValueError, match="4095"):
        tiff.encode(_img(64, 64, "u2"), compression="jpeg")
    # float / uint16 RGB stay refused
    with pytest.raises(NotImplementedError, match="uint8|uint16"):
        cog.write_cog(_img(64, 64, "f4"), geo=GEO, compression="jpeg")
    with pytest.raises(NotImplementedError, match="uint8|uint16"):
        tiff.encode(_img(64, 64, "u2", bands=3), compression="jpeg")


def test_jpeg_tables_splice_decodes_abbreviated_streams():
    """TIFF TechNote 2 JPEGTables: tables live in ONE shared stream;
    per-block streams omit them.  Manufacture the split from a full
    stream and check the splice decodes identically."""
    import struct

    from geotrellis_landsat_emr_demo_spark.core import jpeg

    stream = jpeg.encode_gray(_smooth(96, 128), quality=80)
    pos, tables, rest = 2, [], []
    while pos < len(stream):
        marker = stream[pos + 1]
        if marker == 0xDA:  # SOS: entropy data + EOI stay with the block
            rest.append(stream[pos:])
            break
        (ln,) = struct.unpack_from(">H", stream, pos + 2)
        seg = stream[pos : pos + 2 + ln]
        (tables if marker in (0xDB, 0xC4) else rest).append(seg)
        pos += 2 + ln
    tables_stream = b"\xff\xd8" + b"".join(tables) + b"\xff\xd9"
    block_stream = b"\xff\xd8" + b"".join(rest)
    with pytest.raises(Exception):
        jpeg.decode(block_stream)  # tables really are absent
    got = tiff._jpeg_block(block_stream, tables_stream, 128, 96, 1)
    assert np.array_equal(got[:, :, 0], jpeg.decode(stream))


# ------------------------------------------------------------ spark source --


@pytest.fixture(scope="module")
def cog_dir(tmp_path_factory):
    """Six fixture scenes written as 5-band COG files (EPSG:3857, per
    the fixture specs)."""
    root = tmp_path_factory.mktemp("cogs")
    for spec in fixtures.scene_specs("t-small", n_scenes=6, px=512):
        arr = fixtures.scene_array(spec)  # (5, h, w) uint16
        sx = (spec["xmax"] - spec["xmin"]) / arr.shape[2]
        sy = (spec["ymax"] - spec["ymin"]) / arr.shape[1]
        epsg = int(spec["crs"].split(":")[1]) if spec["crs"].startswith("EPSG") else 3857
        data = cog.write_cog(
            arr.transpose(1, 2, 0),
            geo=dict(
                pixel_scale=(sx, sy),
                tiepoint=(0, 0, 0, spec["xmin"], spec["ymax"], 0),
                epsg=epsg,
            ),
            tile=(128, 128),  # 4x4 tile grid: a centered half-window
            # costs 4/16 tiles, making the read-fraction gate meaningful
        )
        name = f"{spec['image_id']}__{spec['ts_millis']}.tif"
        (root / name).write_bytes(data)
    return str(root)


def test_cog_inventory(spark, cog_dir):
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))
    inv = cogsrc.cog_inventory(spark, paths).orderBy("path").collect()
    assert len(inv) == len(paths)
    specs = {s["image_id"]: s for s in fixtures.scene_specs("t-small", n_scenes=6, px=512)}
    for r in inv:
        sid = os.path.basename(r.path).split("__")[0]
        s = specs[sid]
        assert (r.width, r.height) == (512, 512)
        assert r.n_levels >= 2
        assert abs(r.xmin - s["xmin"]) < 1e-6 and abs(r.ymax - s["ymax"]) < 1e-6
        assert r.header_bytes < r.file_bytes * 0.25


def test_cog_scenes_window_matches_fixture(spark, cog_dir):
    from geotrellis_landsat_emr_demo_spark.core import proj
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    specs = fixtures.scene_specs("t-small", n_scenes=6, px=512)
    s0 = specs[0]
    # AOI: center quarter of scene 0, in EPSG:3857
    cw = (s0["xmax"] - s0["xmin"]) / 4
    native_aoi = (
        s0["xmin"] + cw, s0["ymin"] + cw, s0["xmax"] - cw, s0["ymax"] - cw,
    )
    aoi = proj.extent_to_mercator(native_aoi, s0["crs"])
    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))
    rows = cogsrc.cog_scenes(spark, paths, aoi=aoi).collect()
    assert rows  # at least scene 0 intersects
    by_id = {r.image_id.split("__")[0]: r for r in rows}
    r0 = by_id[s0["image_id"]]
    # payload decodes to the window crop of the synthetic field
    arr = kernels.decode_payload(bytes(r0.bytes))
    assert arr.shape[0] == 5
    full = fixtures.scene_array(s0)
    sx = (s0["xmax"] - s0["xmin"]) / 512
    x0 = int(round((r0.xmin - s0["xmin"]) / sx))
    y0 = int(round((s0["ymax"] - r0.ymax) / sx))
    crop = full[:, y0 : y0 + arr.shape[1], x0 : x0 + arr.shape[2]]
    assert np.array_equal(arr, crop)
    # the scale property: the AOI read cost a fraction of the file
    assert r0.bytes_read < 0.45 * r0.file_bytes
    assert r0.crs == s0["crs"]


def test_cog_scenes_12bit_jpeg_window(spark, tmp_path):
    """cog_window_scan-style read of a 12-bit JPEG-tile COG (SOF1
    streams, BitsPerSample 12 — the real remote-sensing archive
    precision) through the Spark source: windowed rows decode to uint16
    payloads matching a direct CogReader window of the same file."""
    from geotrellis_landsat_emr_demo_spark.core import kernels
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    xs = np.linspace(0, 3, 512)
    img12 = (2000 + 1500 * np.sin(np.outer(xs, xs))).clip(0, 4095).astype(np.uint16)
    x0, y1 = 500_000.0, 4_100_000.0
    data = cog.write_cog(
        img12[:, :, None], compression="jpeg", quality=95, tile=(128, 128),
        geo=dict(pixel_scale=(30.0, 30.0), tiepoint=(0, 0, 0, x0, y1, 0),
                 epsg=3857, projected=True),
    )
    path = tmp_path / "scene12__1700000000000.tif"
    path.write_bytes(data)
    # AOI: central quarter of the scene, in the file's (3857) CRS
    aoi = (x0 + 3840, y1 - 11520, x0 + 11520, y1 - 3840)
    rows = cogsrc.cog_scenes(spark, [str(path)], aoi=aoi).collect()
    assert len(rows) == 1
    row = rows[0]
    arr = kernels.decode_payload(row.bytes)
    assert arr.dtype == np.uint16
    # reference: direct CogReader window over the same extent
    ref, actual, level = cog.CogReader(
        cog.FileRangeReader(str(path))
    ).window_by_extent(aoi)
    ref = ref[:, :, 0] if ref.ndim == 3 else ref
    assert np.array_equal(arr[0], ref)
    assert level == 0 and row.bytes_read < row.file_bytes


def test_cog12_entry_fixture_is_codec_exact():
    """The cog_jpeg12_scan oracle is codec-free ONLY because its
    block-constant fixtures roundtrip the lossy 12-bit codec bitwise
    (DC-only blocks; q0=2 at quality 95 -> error <= 0.125 px).  Pin that
    premise directly, and pin the entry's golden rows against a real
    decode of the archive files."""
    import __spark_entry__ as entry
    from geotrellis_landsat_emr_demo_spark.core import jpeg

    arr = entry._cog12_array(3)
    assert arr.max() <= 4095
    assert (jpeg.decode(jpeg.encode_gray12(arr, quality=95)) == arr).all()
    # archive files decode (whole-file path) to exactly the raw arrays
    paths = entry._cog12_archive()
    assert len(paths) == entry.N_COG_SCENES
    dec, meta = tiff.read(open(paths[0], "rb").read())
    assert meta["bits"] == 12
    assert np.array_equal(np.squeeze(dec), entry._cog12_array(0))
    # golden rows' windows are non-vacuous sub-rectangles
    exp = entry._cog12_expected()
    assert len(exp) == entry.N_COG_SCENES
    assert all(0 < r["w"] <= 256 and 0 < r["h"] <= 256 for r in exp)


def test_cog_scenes_inventory_prefilter_and_resolution(spark, cog_dir):
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))
    inv = cogsrc.cog_inventory(spark, paths).cache()
    try:
        # AOI far away: envelope prefilter prunes everything, zero opens
        far = (2.0e7, 2.0e7, 2.01e7, 2.01e7)
        assert cogsrc.cog_scenes(spark, inv, aoi=far).count() == 0
        # coarse resolution -> overview level serves every scene
        lvl_rows = (
            cogsrc.cog_scenes(spark, inv, resolution=1e6).select("level", "w", "h").collect()
        )
        assert lvl_rows and all(r.level >= 1 for r in lvl_rows)
        assert all(r.w <= 256 and r.h <= 256 for r in lvl_rows)
    finally:
        inv.unpersist()


def test_cog_scenes_feed_ingest(spark, cog_dir, tmp_path):
    """End-to-end: COG archive -> windowed scenes -> tile layer."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import ingest
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))
    scenes = cogsrc.cog_scenes(spark, paths).toPandas()
    scenes["image_id"] = scenes["image_id"].str.split("__").str[0]
    scenes["ts_millis"] = [
        int(os.path.basename(p).split("__")[1].split(".")[0]) for p in paths
    ]
    scenes["ts"] = scenes["ts_millis"].map(lambda m: np.datetime64(int(m), "ms"))
    scenes["phash"] = 0
    cat = Catalog(str(tmp_path / "cat"))
    cat.append_pandas(scenes, "images")
    m = ingest.ingest_images(spark, cat, "cogdemo", max_zoom=13, min_zoom=12)
    assert sum(v.get("rows", 0) for v in m.values()) > 0


def test_cog_scenes_utm_cross_crs(spark, tmp_path):
    """A UTM-georeferenced COG: the 3857 AOI must map into the native
    grid for the window read, and the row must carry the native CRS so
    ingest's warp stage applies."""
    from geotrellis_landsat_emr_demo_spark.core import proj
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    img = _img(512, 512, "u2")
    # scene near (17N) zone center: easting ~500km avoids edge distortion
    geo = dict(
        pixel_scale=(30.0, 30.0),
        tiepoint=(0, 0, 0, 492320.0, 4612704.0, 0),
        epsg=32617,
    )
    p = tmp_path / "utm.tif"
    p.write_bytes(cog.write_cog(img, geo=geo, tile=(128, 128)))
    ext = (492320.0, 4612704.0 - 512 * 30.0, 492320.0 + 512 * 30.0, 4612704.0)
    # AOI: the middle ninth of the scene, expressed in EPSG:3857
    third = (ext[2] - ext[0]) / 3
    native_aoi = (ext[0] + third, ext[1] + third, ext[2] - third, ext[3] - third)
    aoi = proj.extent_to_mercator(native_aoi, "EPSG:32617")
    rows = cogsrc.cog_scenes(spark, [str(p)], aoi=aoi).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.crs == "EPSG:32617"
    arr = kernels.decode_payload(bytes(r.bytes))
    # native window covers the AOI's native envelope, snapped to pixels
    assert r.xmin <= native_aoi[0] + 30 and r.xmax >= native_aoi[2] - 30
    x0 = int(round((r.xmin - ext[0]) / 30.0))
    y0 = int(round((ext[3] - r.ymax) / 30.0))
    assert np.array_equal(
        arr[0], img[y0 : y0 + arr.shape[1], x0 : x0 + arr.shape[2]]
    )
    # disjoint AOI (east of the scene's own mercator envelope) -> nothing
    scene_m = proj.extent_to_mercator(ext, "EPSG:32617")
    far = (scene_m[2] + 1e4, aoi[1], scene_m[2] + 2e4, aoi[3])
    assert cogsrc.cog_scenes(spark, [str(p)], aoi=far).count() == 0


def test_cog_scenes_reads_striped_archive(spark, tmp_path):
    """A plain striped GeoTIFF (no overviews, tail IFD) flows through the
    same Spark source: AOI row-window reads fetch only the intersecting
    strips.  A planar 3-band file reads the same way, every plane."""
    from geotrellis_landsat_emr_demo_spark import fixtures
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    spec = fixtures.scene_specs("t-small", n_scenes=1, px=512)[0]
    bands = fixtures.scene_array(spec)[:3]
    sx = (spec["xmax"] - spec["xmin"]) / 512
    geo = dict(
        pixel_scale=(sx, sx),
        tiepoint=(0, 0, 0, spec["xmin"], spec["ymax"], 0),
        epsg=3857,
    )
    want = {"striped": bands[:1], "planar": bands}
    for name, arr in want.items():
        (tmp_path / f"{name}.tif").write_bytes(
            tiff.encode(
                arr.transpose(1, 2, 0), tiled=False, rows_per_strip=64,
                planar=1 if name == "striped" else 2, geo=geo,
            )
        )
    # AOI: a horizontal band across the middle (strip-friendly window)
    aoi = (
        spec["xmin"], spec["ymin"] + 200 * sx,
        spec["xmax"], spec["ymax"] - 200 * sx,
    )
    paths = [str(tmp_path / f"{name}.tif") for name in want]
    rows = {r.image_id: r for r in cogsrc.cog_scenes(spark, paths, aoi=aoi).collect()}
    assert sorted(rows) == sorted(want)
    for name, r in rows.items():
        got = kernels.decode_payload(bytes(r.bytes))
        y0 = int(round((spec["ymax"] - r.ymax) / sx))
        assert np.array_equal(got, want[name][:, y0 : y0 + got.shape[1], :])
        # a foreign tail-IFD file costs ONE full pass to find the IFD
        # chain; the window is then served from the parse prefix (never a
        # second fetch of the same ranges) — proper head-IFD COGs keep the
        # read-fraction property (test_cog_scenes_window_matches_fixture)
        assert r.bytes_read <= r.file_bytes + 4096


def test_cog_entry_matches_golden_constants(spark):
    """The driver-gate entry (cog_window_scan) must reproduce the
    codec-free golden rows its DuckDB oracle embeds."""
    import __spark_entry__ as entry

    got = {
        r.image_id: (r.w, r.h, r.level, r.px_sum)
        for r in entry.q_cog_window_scan(spark, "unused").collect()
    }
    want = {
        r["image_id"]: (r["w"], r["h"], r["level"], r["px_sum"])
        for r in entry._cog_entry_expected()
    }
    assert got == want and len(got) == entry.N_COG_SCENES


def test_cog_sync_incremental(spark, cog_dir, tmp_path):
    """Archive->layer sync: pass 1 ingests all files, pass 2 is a no-op,
    pass 3 picks up exactly the newly arrived file; latest-gen read
    resolves."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc
    from geotrellis_landsat_emr_demo_spark.streaming.incremental import (
        read_incremental_tiles,
    )

    cat = Catalog(str(tmp_path / "sync-cat"))
    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[:3]
    m1 = cogsrc.cog_sync(spark, cat, "sync", paths, max_zoom=12)
    assert m1["new_files"] == 3 and m1["new_images"] == 3
    n1 = read_incremental_tiles(spark, cat, "sync").count()
    assert n1 > 0

    # same paths again: nothing new, no ingest work
    assert cogsrc.cog_sync(spark, cat, "sync", paths, max_zoom=12) == {
        "new_files": 0
    }

    # a new scene arrives: only it is windowed + ingested
    extra = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[3]
    m3 = cogsrc.cog_sync(spark, cat, "sync", paths + [extra], max_zoom=12)
    assert m3["new_files"] == 1 and m3["new_images"] == 1
    assert m3["gen"] == m1["gen"] + 1
    n3 = read_incremental_tiles(spark, cat, "sync").count()
    assert n3 >= n1


def test_cog_sync_counts_each_relation_once(spark, cog_dir, tmp_path, monkeypatch):
    """One sync pass counts its new paths once: the count that decides
    whether there is work also sizes the window-read's partitioning."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    cat = Catalog(str(tmp_path / "sync-count"))
    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[:2]
    counted, frame = [], type(spark.range(1))
    count = frame.count
    monkeypatch.setattr(frame, "count", lambda df: counted.append(df) or count(df))
    assert cogsrc.cog_sync(spark, cat, "sync", paths, max_zoom=12)["new_files"] == 2
    # the new paths here, the new images in the incremental ingest
    assert len(counted) == len({id(df) for df in counted}) == 2


def test_bigtiff_roundtrip_and_window():
    """BigTIFF (magic 43, 8-byte offsets, LONG8 tile-offset tag): the
    flavor 4 GiB+ archives require.  Same content, either container."""
    img = _img(700, 900, "u2")
    data = cog.write_cog(img, geo=GEO, tile=(256, 256), bigtiff=True)
    # classic header is 8 bytes, BigTIFF 16, magic 43
    import struct

    assert struct.unpack_from("<H", data, 2)[0] == 43
    arr, meta = tiff.read(data)
    assert np.array_equal(arr, img)
    assert meta["epsg"] == 32617
    cr = cog.open_cog(data)
    assert [(lv.width, lv.height) for lv in cr.info.levels] == [
        (900, 700), (450, 350), (225, 175),
    ]
    w = cr.window(0, 37, 53, 211, 145)
    assert np.array_equal(w, img[53:198, 37:248])
    # windows on overview levels too
    w1 = cr.window(1, 10, 10, 64, 64)
    assert np.array_equal(
        w1, cog._downsample2(img[:, :, None])[10:74, 10:74, 0]
    )


def test_cog_sync_aoi_miss_not_marked_seen(spark, cog_dir, tmp_path):
    """A file skipped by one pass's AOI must NOT enter cog_seen lineage:
    a later pass with a different/no AOI still ingests it (silent-
    omission fix — lineage records only paths that produced scene rows)."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    cat = Catalog(str(tmp_path / "sync-aoi-cat"))
    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[:2]
    far = (10_000_000.0, 10_000_000.0, 10_000_100.0, 10_000_100.0)
    m1 = cogsrc.cog_sync(spark, cat, "sync", paths, max_zoom=12, aoi=far)
    # both files discovered-new, zero scenes produced, zero marked seen
    assert m1["new_files"] == 2
    assert m1.get("new_images", 0) == 0
    try:
        seen = cat.read_pandas("cog_seen")
        assert len(seen[seen.layer == "sync"]) == 0
    except FileNotFoundError:
        pass  # no lineage rows at all is equally correct
    # pass 2, no AOI: the same files are NOT silently omitted
    m2 = cogsrc.cog_sync(spark, cat, "sync", paths, max_zoom=12)
    assert m2["new_files"] == 2 and m2["new_images"] == 2
    # pass 3: now they are seen
    assert cogsrc.cog_sync(spark, cat, "sync", paths, max_zoom=12) == {
        "new_files": 0
    }


def test_cog_overview_entry_matches_golden(spark):
    """48th oracle entry: the level-1 overview read equals the codec-free
    numpy downsample golden for every archive scene."""
    import __spark_entry__ as entry

    got = {
        r.image_id: (r.w, r.h, r.level, r.px_sum)
        for r in entry.q_cog_overview_scan(spark, "unused").collect()
    }
    want = {
        r["image_id"]: (r["w"], r["h"], r["level"], r["px_sum"])
        for r in entry._cog_entry_expected_overview()
    }
    assert got == want and len(got) == entry.N_COG_SCENES
    assert all(v[2] == 1 for v in got.values())  # every read hit level 1


# ----------------------------------------------------- HTTP range reader --


class _RangeHandler:
    """Range-supporting static-file handler factory with a request log
    (the object-store test double the HttpRangeReader gates run against)."""

    @staticmethod
    def make(directory, log, fail_first=0, ignore_range=False,
             no_total=False, with_head=True):
        import http.server
        import threading

        failures = {"left": fail_first}
        lock = threading.Lock()

        class H(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_HEAD(self):
                if not with_head:
                    self.send_error(501, "HEAD disabled")
                    return
                fp = os.path.join(directory, self.path.lstrip("/"))
                if not os.path.isfile(fp):
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(os.path.getsize(fp)))
                self.end_headers()

            def do_GET(self):
                fp = os.path.join(directory, self.path.lstrip("/"))
                if not os.path.isfile(fp):
                    self.send_error(404)
                    return
                with lock:
                    if failures["left"] > 0:
                        failures["left"] -= 1
                        self.send_error(503, "flaky")
                        return
                data = open(fp, "rb").read()
                rng = self.headers.get("Range")
                if rng and rng.startswith("bytes=") and not ignore_range:
                    a, b = rng[6:].split("-")
                    a = int(a)
                    b = min(int(b) if b else len(data) - 1, len(data) - 1)
                    body = data[a : b + 1]
                    with lock:
                        log.append((self.path, a, b - a + 1))
                    self.send_response(206)
                    if not no_total:
                        self.send_header(
                            "Content-Range", f"bytes {a}-{b}/{len(data)}"
                        )
                else:
                    body = data
                    with lock:
                        log.append((self.path, 0, len(data)))
                    self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        return H


@pytest.fixture()
def http_archive(cog_dir):
    """Serve cog_dir over HTTP with Range support; yields (base_url, log)."""
    import http.server
    import threading

    log = []
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _RangeHandler.make(cog_dir, log)
    )
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", log
    httpd.shutdown()


def test_http_range_reader_window_parity_and_cost(cog_dir, http_archive):
    """An HTTP window read returns the same pixels as the local-file
    read, costs ONE header request (size from Content-Range, prefix
    cached) plus a few coalesced tile requests, and transports a small
    fraction of the file."""
    base, log = http_archive
    name = os.path.basename(sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[0])
    local = cog.CogReader(cog.FileRangeReader(os.path.join(cog_dir, name)))
    lv = local.info.levels[0]
    w, h = lv.width // 5, lv.height // 5
    want = local.window(0, lv.width // 3, lv.height // 3, w, h)

    rd = cog.HttpRangeReader(f"{base}/{name}")
    remote = cog.CogReader(rd)
    got = remote.window(0, lv.width // 3, lv.height // 3, w, h)
    assert np.array_equal(got, want)
    # ONE request covered size+header; tile ranges coalesced to a few
    assert rd.http_requests <= 1 + 4, rd.http_requests
    assert rd.transport_bytes < 0.7 * rd.size()
    # the server log agrees with the client accounting
    assert len([e for e in log if e[0] == f"/{name}"]) == rd.http_requests


def test_http_reader_retries_transient_errors(cog_dir):
    """First two requests 503 -> reader retries with backoff and still
    parses; a 404 is permanent and raises immediately."""
    import http.server
    import threading
    import urllib.error

    log = []
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _RangeHandler.make(cog_dir, log, fail_first=2)
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        name = os.path.basename(sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[0])
        rd = cog.HttpRangeReader(f"{base}/{name}", backoff_s=0.01)
        info = cog.parse_chain(rd)
        assert info.levels[0].width > 0
        with pytest.raises(urllib.error.HTTPError):
            cog.HttpRangeReader(f"{base}/nope.tif", backoff_s=0.01).size()
    finally:
        httpd.shutdown()


def test_http_reader_server_ignores_range(cog_dir):
    """A server that answers 200 with the full body (no Range support)
    still yields correct windows — the reader slices."""
    import http.server
    import threading

    log = []
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _RangeHandler.make(cog_dir, log, ignore_range=True)
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        path = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[0]
        name = os.path.basename(path)
        local = cog.CogReader(cog.FileRangeReader(path))
        lv = local.info.levels[0]
        want = local.window(0, 0, 0, lv.tile_w, lv.tile_h)
        got = cog.CogReader(cog.HttpRangeReader(f"{base}/{name}")).window(
            0, 0, 0, lv.tile_w, lv.tile_h
        )
        assert np.array_equal(got, want)
    finally:
        httpd.shutdown()


def test_http_reader_206_without_content_range_total(cog_dir):
    """A 206 that omits the Content-Range total must NOT adopt the 64 KiB
    prefetch length as the file size (it poisoned size()/file_bytes for
    the whole session): the reader falls back to a HEAD request for the
    real size, and with HEAD also unavailable it errors instead of
    misreporting."""
    import http.server
    import threading

    path = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[0]
    name = os.path.basename(path)
    real = os.path.getsize(path)
    assert real > 64 << 10, "fixture must exceed the prefetch length"

    for with_head in (True, False):
        log = []
        httpd = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0),
            _RangeHandler.make(cog_dir, log, no_total=True, with_head=with_head),
        )
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        try:
            rd = cog.HttpRangeReader(f"{base}/{name}")
            if with_head:
                assert rd.size() == real
                local = cog.CogReader(cog.FileRangeReader(path))
                lv = local.info.levels[0]
                want = local.window(0, 0, 0, lv.tile_w, lv.tile_h)
                got = cog.CogReader(rd).window(0, 0, 0, lv.tile_w, lv.tile_h)
                assert np.array_equal(got, want)
            else:
                with pytest.raises(OSError, match="no usable total"):
                    rd.size()
        finally:
            httpd.shutdown()


def test_cog_scenes_over_http_equals_local(spark, cog_dir, http_archive):
    """The Spark source over http:// URLs produces the same windows as
    over local paths (cog_window_scan's plumbing through the object-store
    reader), and the server-side byte log confirms range reads stayed a
    small fraction of the archive."""
    from geotrellis_landsat_emr_demo_spark.sources import cog as cogsrc

    base, log = http_archive
    paths = sorted(glob.glob(os.path.join(cog_dir, "*.tif")))[:3]
    urls = [f"{base}/{os.path.basename(p)}" for p in paths]
    # small AOI at the center of the first scene
    info = cog.parse_chain(cog.FileRangeReader(paths[0]))
    ext = info.extent
    from geotrellis_landsat_emr_demo_spark.core import proj

    mext = proj.extent_to_mercator(ext, info.crs)
    cx, cy = (mext[0] + mext[2]) / 2, (mext[1] + mext[3]) / 2
    dx, dy = (mext[2] - mext[0]) / 8, (mext[3] - mext[1]) / 8
    aoi = (cx - dx, cy - dy, cx + dx, cy + dy)

    def key(rows):
        return {
            os.path.basename(r.path): (
                r.w, r.h, int(kernels.decode_payload(bytes(r.bytes)).sum(dtype=np.int64)),
            )
            for r in rows
        }

    log.clear()
    got = key(cogsrc.cog_scenes(spark, urls, aoi=aoi).collect())
    served = sum(e[2] for e in log)
    want = key(cogsrc.cog_scenes(spark, paths, aoi=aoi).collect())
    assert got == want and len(got) > 0
    archive_bytes = sum(os.path.getsize(p) for p in paths)
    assert served < 0.6 * archive_bytes, (served, archive_bytes)
