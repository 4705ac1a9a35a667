"""F13 general raster reprojection: UTM <-> lat/lng <-> WebMercator closed
forms, inverse-mapped warp kernel, and end-to-end ingest of a UTM scene
(reference semantics: LandsatInput.scala:72 warps each scene to 3857
before chunking)."""

import os
import shutil

import numpy as np
import pandas as pd

from geotrellis_landsat_emr_demo_spark.catalog import Catalog
from geotrellis_landsat_emr_demo_spark.core import geom, kernels, proj, tiling
from geotrellis_landsat_emr_demo_spark.operators import ingest

from conftest import SCRATCH

ZONE = 53
CRS = "EPSG:32653"
# ~40 km Landsat-chip-sized UTM extent near (136.2E, 34.1N)
UTM_EXT = (430_000.0, 3_760_000.0, 470_000.0, 3_800_000.0)


def _g(lng, lat):
    """Smooth analytic field sampled by the synthetic scene — ground truth
    for the warp (independent of any resampling)."""
    return 20000.0 + 10000.0 * np.sin(lng * 2.1) * np.cos(lat * 1.7)


def _utm_scene(px=512):
    e0, n0, e1, n1 = UTM_EXT
    e = e0 + (np.arange(px) + 0.5) * (e1 - e0) / px
    n = n1 - (np.arange(px) + 0.5) * (n1 - n0) / px
    E, N = np.meshgrid(e, n)
    lng, lat = proj.utm_to_lnglat(E.ravel(), N.ravel(), ZONE, True)
    vals = _g(lng, lat).reshape(px, px)
    return np.round(vals).astype(np.uint16)[None, :, :]  # (1, px, px)


def test_utm_roundtrip_and_known_points():
    rng = np.random.default_rng(3)
    lat = rng.uniform(-79, 83, 500)
    lng = proj.utm_central_meridian_deg(ZONE) + rng.uniform(-3, 3, 500)
    e, n = proj.lnglat_to_utm(lng, lat, ZONE, True)
    lng2, lat2 = proj.utm_to_lnglat(e, n, ZONE, True)
    assert np.abs(lng2 - lng).max() < 1e-8
    assert np.abs(lat2 - lat).max() < 1e-8
    # central meridian maps to the false easting, equator to northing 0
    e0, n0 = proj.lnglat_to_utm(proj.utm_central_meridian_deg(ZONE), 0.0, ZONE)
    assert abs(e0 - 500_000.0) < 1e-6 and abs(n0) < 1e-6
    # scale at the central meridian is k0 = 0.9996 (WGS84 meridian arc)
    _, n1m = proj.lnglat_to_utm(proj.utm_central_meridian_deg(ZONE), 0.001, ZONE)
    assert abs((n1m - n0) / 0.001 - 110_574.0 * 0.9996) < 50
    # south EPSG parses and offsets by the false northing
    assert proj.parse_utm_epsg("EPSG:32753") == (53, False)
    _, ns = proj.lnglat_to_utm(135.0, -10.0, ZONE, north=False)
    assert 0 < ns < 10_000_000.0


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    zone=st.integers(1, 60),
    north=st.booleans(),
    dlng=st.floats(-3.0, 3.0, allow_nan=False),
    lat=st.floats(-79.5, 83.5, allow_nan=False),
)
def test_utm_roundtrip_property(zone, north, dlng, lat):
    """Property: forward∘inverse is identity to 1e-8 deg for any zone,
    hemisphere, and in-zone coordinate; mercator chain closes to mm."""
    lng = proj.utm_central_meridian_deg(zone) + dlng
    e, n = proj.lnglat_to_utm(lng, lat, zone, north)
    lng2, lat2 = proj.utm_to_lnglat(e, n, zone, north)
    assert abs(float(lng2) - lng) < 1e-8
    assert abs(float(lat2) - lat) < 1e-8
    crs = f"EPSG:{(32600 if north else 32700) + zone}"
    mx, my = proj.crs_to_mercator(np.array([e]), np.array([n]), crs)
    e2, n2 = proj.mercator_to_crs(mx, my, crs)
    assert abs(float(e2[0]) - e) < 2e-3 and abs(float(n2[0]) - n) < 2e-3


def test_warp_matches_analytic_truth():
    """Warped pixels equal the analytic field sampled at destination pixel
    centers (PSNR >= 40 dB, the reference's lossy-parity bar)."""
    scene = _utm_scene()
    env = proj.extent_to_mercator(UTM_EXT, CRS)
    # interior destination window (stays inside the curved scene image)
    w = (env[2] - env[0]) * 0.2
    dst = (env[0] + w, env[1] + w, env[2] - w, env[3] - w)
    warped = kernels.warp_to_extent(scene, UTM_EXT, CRS, dst, (256, 256))
    px = dst[0] + (np.arange(256) + 0.5) * (dst[2] - dst[0]) / 256
    py = dst[3] - (np.arange(256) + 0.5) * (dst[3] - dst[1]) / 256
    PX, PY = np.meshgrid(px, py)
    lng, lat = geom.mercator_to_lnglat(PX.ravel(), PY.ravel())
    truth = _g(lng, lat).reshape(256, 256)
    got = kernels.to_double(warped)[0]
    assert not np.isnan(got).any()
    err = got - truth
    psnr = 10 * np.log10(65535.0**2 / np.mean(err**2))
    assert psnr >= 40, f"PSNR {psnr:.1f} dB"


def test_warp_nodata_outside_footprint():
    """Destination pixels outside the (curved) scene image are NoData."""
    scene = _utm_scene(px=128)
    env = proj.extent_to_mercator(UTM_EXT, CRS)
    grow = (env[2] - env[0]) * 0.5
    dst = (env[0] - grow, env[1] - grow, env[2] + grow, env[3] + grow)
    warped = kernels.to_double(kernels.warp_to_extent(scene, UTM_EXT, CRS, dst))
    assert np.isnan(warped).any() and not np.isnan(warped).all()


def test_split_to_tiles_warped_parity():
    """split_to_tiles_cropped(src_crs=UTM), padded back onto the tile, is
    bitwise-equal to warp_to_extent of each tile extent — same oracle
    pattern as the 3857 split parity."""
    scene = _utm_scene(px=256)
    zoom = 10
    env = proj.extent_to_mercator(UTM_EXT, CRS)
    trange = tiling.extent_to_tile_range(*env, zoom)
    tiles = {
        key: kernels.pad_to_tile(arr, ox, oy, 256)
        for key, (ox, oy), arr in kernels.split_to_tiles_cropped(
            scene, UTM_EXT, zoom, trange, 256, src_crs=CRS
        )
    }
    assert len(tiles) >= 2
    for (c, r), tile in tiles.items():
        oracle = kernels.warp_to_extent(
            scene, UTM_EXT, CRS, tiling.tile_extent(c, r, zoom), (256, 256)
        )
        assert (tile == oracle).all(), (c, r)


def test_incremental_ingest_utm_scene(spark):
    """Incremental path with a non-3857 scene: the touched-key discovery
    must use the 3857 envelope (with_mercator_envelope), and the rebuilt
    tiles must match the warp oracle."""
    from geotrellis_landsat_emr_demo_spark.streaming import incremental

    root = os.path.join(SCRATCH, "utm-incr")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    scene = _utm_scene(px=128)
    ts = pd.Timestamp("2015-06-01T00:00:00")
    pdf = pd.DataFrame(
        [
            dict(
                image_id="utm-0002",
                bytes=kernels.encode_payload(scene, "npy-u16"),
                w=128, h=128, fmt="npy-u16", caption="utm inc", phash=0, ts=ts,
                xmin=UTM_EXT[0], ymin=UTM_EXT[1],
                xmax=UTM_EXT[2], ymax=UTM_EXT[3],
                crs=CRS, nbands=1, cloud_cover=0.0,
            )
        ]
    )
    cat.append_pandas(pdf, "images")
    m = incremental.incremental_ingest(spark, cat, "utm", max_zoom=10)
    assert m["new_images"] == 1
    tiles = incremental.read_incremental_tiles(spark, cat, "utm").toPandas()
    assert len(tiles) >= 2
    for row in tiles.itertuples(index=False):
        oracle = kernels.warp_to_extent(
            scene, UTM_EXT, CRS, tiling.tile_extent(row.x, row.y, 10), (256, 256)
        )
        assert (kernels.decode_payload(row.tile) == oracle).all(), (row.x, row.y)
    # idempotent: nothing new on rerun (scenes_seen anti-join)
    assert incremental.incremental_ingest(spark, cat, "utm", max_zoom=10) == {
        "new_images": 0
    }


def test_8bit_layer_dispatch_e2e(spark):
    """An 8-bit (Planet-style) layer renders through the mask branch and
    reports isLandsat=False in /catalog (Render.scala:21,35-49 dispatch)."""
    from geotrellis_landsat_emr_demo_spark.core import png
    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    root = os.path.join(SCRATCH, "planet-ingest")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    rng = np.random.default_rng(5)
    scene = rng.integers(1, 256, size=(4, 256, 256)).astype(np.uint16)
    scene[3, :64, :] = 0  # masked stripe
    zoom = 10
    ext = tiling.tile_extent(500, 400, zoom)
    ts = pd.Timestamp("2015-06-01T00:00:00")
    pdf = pd.DataFrame(
        [
            dict(
                image_id="pl-0001",
                bytes=kernels.encode_payload(scene, "npy-u16"),
                w=256, h=256, fmt="npy-u16", caption="planet", phash=0, ts=ts,
                xmin=ext[0], ymin=ext[1], xmax=ext[2], ymax=ext[3],
                crs="EPSG:3857", nbands=4, cloud_cover=0.0,
            )
        ]
    )
    cat.append_pandas(pdf, "images")
    ingest.ingest_images(
        spark, cat, "planet", max_zoom=zoom, min_zoom=zoom, cell_type="uint8"
    )
    svc = LayerService(cat)
    assert svc.is_landsat("planet") is False
    entry = [l for l in svc.catalog()["layers"] if l["name"] == "planet"][0]
    assert entry["isLandsat"] is False
    t = "2015-06-01T00:00:00Z"
    data = svc.render_tile("planet", zoom, 500, 400, t)
    rgba = png.decode_rgba(data) if hasattr(png, "decode_rgba") else None
    expect = kernels.render_rgb_8bit(kernels.decode_payload(
        cat.read_pandas("tiles").iloc[0].tile
    ))
    if rgba is not None:
        assert (rgba == expect).all()
    else:
        assert data == png.encode_rgba(expect)
    # the static export renders the same RGB branch as /tiles
    from geotrellis_landsat_emr_demo_spark.operators import export

    out = os.path.join(SCRATCH, "planet-export")
    shutil.rmtree(out, ignore_errors=True)
    assert export.export_tiles(spark, cat, "planet", zoom, out, operation=None)["tiles"] == 1
    with open(os.path.join(out, "planet", "rgb", "20150601T000000Z", str(zoom), "500", "400.png"), "rb") as f:
        assert f.read() == data


def test_ingest_utm_scene_e2e(spark):
    """Full ingest of a UTM scene: committed tiles match the warp oracle
    pixel-wise; NoData-only candidate tiles may be dropped but every tile
    with data inside the footprint envelope must exist."""
    root = os.path.join(SCRATCH, "utm-ingest")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    scene = _utm_scene(px=256)
    ts = pd.Timestamp("2015-06-01T00:00:00")
    pdf = pd.DataFrame(
        [
            dict(
                image_id="utm-0001",
                bytes=kernels.encode_payload(scene, "npy-u16"),
                w=256, h=256, fmt="npy-u16",
                caption="utm scene", phash=0,
                ts=ts,
                xmin=UTM_EXT[0], ymin=UTM_EXT[1],
                xmax=UTM_EXT[2], ymax=UTM_EXT[3],
                crs=CRS, nbands=1, cloud_cover=0.0,
            )
        ]
    )
    cat.append_pandas(pdf, "images")
    zoom = 10
    ingest.ingest_images(spark, cat, "utm", max_zoom=zoom, min_zoom=zoom)
    tiles = cat.read_pandas("tiles")
    assert len(tiles) >= 2
    for row in tiles.itertuples(index=False):
        oracle = kernels.warp_to_extent(
            scene, UTM_EXT, CRS, tiling.tile_extent(row.x, row.y, zoom), (256, 256)
        )
        got = kernels.decode_payload(row.tile)
        assert (got == oracle).all(), (row.x, row.y)
        assert row.caption == "utm scene"
