"""Serving-path correctness: renders, overzoom, mean, series, catalog."""

import hashlib
import json
import os

import numpy as np
import pandas as pd

from geotrellis_landsat_emr_demo_spark import fixtures
from geotrellis_landsat_emr_demo_spark.core import geom, kernels as K, png, tiling
from geotrellis_landsat_emr_demo_spark.plans.queries import (
    format_time_utc_minus4,
    parse_time,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "goldens.json")

T1 = "2015-07-01T00:00:00Z"
T2 = "2015-09-01T00:00:00Z"


def _hot_key(cat):
    pdf = cat.read_pandas("tiles", columns=["zoom", "x", "y", "ts", "n_frags"])
    leaf = pdf[pdf.zoom == 13]
    hot = leaf[leaf.n_frags == leaf.n_frags.max()].iloc[0]
    return int(hot.x), int(hot.y)


def test_time_format_quirk():
    # Router.scala:201: catalog times rendered at UTC-4
    assert format_time_utc_minus4(parse_time(T1)) == "2015-06-30T20:00:00-0400"


def test_catalog_route(svc):
    out = svc.catalog()
    assert [l["name"] for l in out["layers"]] == ["landsat"]
    layer = out["layers"][0]
    assert layer["isLandsat"] is True
    assert layer["times"] == ["2015-06-30T20:00:00-0400", "2015-08-31T20:00:00-0400"]
    (lng0, lat0), (lng1, lat1) = layer["extent"]
    assert lng0 < 136.35 < lng1 and lat0 < 34.2 < lat1


def test_render_golden_hashes(svc, tsmall_catalog):
    """Golden PNG sha256 pinning for rgb / ndvi / ndwi / diff on the hot
    cell (regression gate; regenerate via tests/make_goldens.py)."""
    x, y = _hot_key(tsmall_catalog)
    outs = {
        "rgb": svc.render_tile("landsat", 13, x, y, T1),
        "ndvi": svc.render_tile("landsat", 13, x, y, T1, "ndvi"),
        "ndwi": svc.render_tile("landsat", 13, x, y, T1, "ndwi"),
        "diff_ndvi": svc.render_diff("landsat", 13, x, y, T1, T2, "ndvi"),
        "diff_ndwi": svc.render_diff("landsat", 13, x, y, T1, T2, "ndwi"),
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in outs.items()}
    if not os.path.exists(GOLDEN):  # first run writes the goldens
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump({"render_sha256": got}, f, indent=1)
    with open(GOLDEN) as f:
        expect = json.load(f)["render_sha256"]
    assert got == expect


def test_render_matches_local_oracle(svc, tsmall_catalog):
    """PNG bytes equal a from-scratch local render of the oracle tile."""
    from test_ingest import oracle_tile

    x, y = _hot_key(tsmall_catalog)
    tile, _ = oracle_tile("t-small", x, y, parse_time(T1))
    expect = png.encode_rgba(K.classify(K.ndvi(tile), K.NDVI_RAMP))
    assert svc.render_tile("landsat", 13, x, y, T1, "ndvi") == expect


def test_overzoom_matches_oracle(svc, tsmall_catalog):
    from test_ingest import oracle_tile

    x, y = _hot_key(tsmall_catalog)
    # request the NW child at zoom 14 -> resample of the zoom-13 source
    qx, qy = 2 * x, 2 * y
    tile, _ = oracle_tile("t-small", x, y, parse_time(T1))
    src_ext = tiling.tile_extent(x, y, 13)
    req_ext = tiling.tile_extent(qx, qy, 14)
    expect = K.regrid_to_extent(tile, src_ext, req_ext, (256, 256))
    got = svc.read_tile("landsat", 14, qx, qy, parse_time(T1))
    assert (got == expect).all()


def test_missing_tile_returns_none(svc):
    assert svc.render_tile("landsat", 13, 1, 1, T1) is None
    assert svc.render_diff("landsat", 13, 1, 1, T1, T2, "ndvi") is None


def test_tile_cache_size_zero_disables_caching(svc, tsmall_catalog):
    """tile_cache_size=0 means no caching: reading one tile twice misses
    the cache both times, returns the cached service's pixels, and leaves
    the cache empty."""
    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    nocache = LayerService(tsmall_catalog, tile_cache_size=0)
    x, y = _hot_key(tsmall_catalog)
    expect = svc.read_tile("landsat", 13, x, y, parse_time(T1))
    for _ in range(2):
        got = nocache.read_tile("landsat", 13, x, y, parse_time(T1))
        assert got is not None and (got == expect).all()
    info = nocache._tile_cache.cache_info()
    assert (info.hits, info.misses, info.currsize) == (0, 2, 0)


def test_keyed_read_is_zero_copy_and_decode_owns(svc, tsmall_catalog):
    """A keyed read hands out payloads as zero-copy Arrow buffers; the
    decoded tile owns its pixels, so the tile cache pins no Arrow
    buffer."""
    import pyarrow as pa

    from geotrellis_landsat_emr_demo_spark.core import cellindex

    x, y = _hot_key(tsmall_catalog)
    hits = svc._read_keys("landsat", 13, [cellindex.cell_key(13, x, y)], parse_time(T1))
    assert len(hits) == 1 and isinstance(hits[0][3], pa.Buffer)
    tile = K.decode_payload(hits[0][3])
    assert tile.flags.owndata and tile.dtype == np.uint16
    assert svc._read_one(0, "landsat", 13, x, y, parse_time(T1)).flags.owndata


def test_series_matches_full_tile_op(svc, tsmall_catalog):
    """/series applies the op to the one pixel it answers; its values are
    the full-tile op's at that pixel, at every stored time."""
    from geotrellis_landsat_emr_demo_spark.core import cellindex

    x, y = _hot_key(tsmall_catalog)
    x0, y0, x1, y1 = tiling.tile_extent(x, y, 13)
    for op in ("ndvi", "ndwi"):
        for fx, fy in ((0.1, 0.2), (0.5, 0.5), (0.93, 0.71)):
            mx, my = x0 + fx * (x1 - x0), y0 + fy * (y1 - y0)
            lng, lat = (float(v) for v in geom.mercator_to_lnglat(mx, my))
            got = svc.time_series("landsat", op, lat, lng)
            # the pixel the route resolves, from the round-tripped point
            mx, my = (float(v) for v in geom.lnglat_to_mercator(lng, lat))
            px, py = (int(v) for v in tiling.map_to_tile(mx, my, 13))
            ext = tiling.tile_extent(px, py, 13)
            col, row = tiling.raster_extent_map_to_grid(mx, my, *ext, 256, 256)
            key, expect = cellindex.cell_key(13, px, py), []
            for _, _, ts, payload in svc._read_keys("landsat", 13, [key]):
                v = float(getattr(K, op)(K.decode_payload(payload))[int(row), int(col)])
                if not np.isnan(v):
                    millis = int(pd.Timestamp(ts).value // 1_000_000)
                    expect.append((format_time_utc_minus4(millis), v))
            assert got == sorted(expect) and got, (op, fx, fy)


def test_polygonal_mean_oracle(svc, tsmall_catalog):
    """Zonal mean vs an independent whole-raster oracle: mask every leaf
    tile's pixel centers, mean over all data cells."""
    from test_ingest import oracle_leaf_keys, oracle_tile

    aoi = fixtures.aoi_pdf("t-small")
    mp = geom.reproject_multipolygon(
        geom.parse_geojson(aoi.iloc[4].geojson), forward=True
    )
    t1m = parse_time(T1)
    s_tot, c_tot = 0.0, 0
    for (x, y, tm) in oracle_leaf_keys():
        if tm != t1m:
            continue
        ext = tiling.tile_extent(x, y, 13)
        xs, ys = tiling.pixel_centers(*ext, 256, 256)
        mask = geom.grid_mask(xs, ys, mp)
        if not mask.any():
            continue
        tile, _ = oracle_tile("t-small", x, y, tm)
        s, c = K.masked_sum_count(K.ndvi(tile), mask)
        s_tot += s
        c_tot += c
    expect = s_tot / c_tot
    got = svc.polygonal_mean("landsat", "ndvi", aoi.iloc[4].geojson, T1)
    assert abs(got - expect) < 1e-9


def test_polygonal_mean_two_dates_and_disjoint(svc):
    aoi = fixtures.aoi_pdf("t-small")
    gj = aoi.iloc[4].geojson
    m1 = svc.polygonal_mean("landsat", "ndvi", gj, T1)
    m2 = svc.polygonal_mean("landsat", "ndvi", gj, T2)
    d = svc.polygonal_mean("landsat", "ndvi", gj, T1, other_time=T2)
    assert abs(d - (m1 - m2)) < 1e-12  # Router.scala:153-165
    assert np.isnan(svc.polygonal_mean("landsat", "ndvi", aoi.iloc[5].geojson, T1))


def test_series_oracle(svc):
    """Per-pixel time series vs direct oracle pixel lookup."""
    from test_ingest import oracle_tile

    pts = fixtures.query_points_pdf("t-small")
    p = pts.iloc[1]
    mx, my = geom.lnglat_to_mercator(p.lng, p.lat)
    x, y = (int(v) for v in tiling.map_to_tile(float(mx), float(my), 13))
    ext = tiling.tile_extent(x, y, 13)
    col, row = tiling.raster_extent_map_to_grid(float(mx), float(my), *ext, 256, 256)
    expect = []
    for t in (T1, T2):
        tile, _ = oracle_tile("t-small", x, y, parse_time(t))
        v = float(K.ndvi(tile)[int(row), int(col)])
        if not np.isnan(v):
            expect.append((format_time_utc_minus4(parse_time(t)), v))
    got = svc.time_series("landsat", "ndvi", p.lat, p.lng)
    assert got == expect


def test_series_outside_coverage_empty(svc):
    pts = fixtures.query_points_pdf("t-small")
    assert svc.time_series("landsat", "ndvi", pts.iloc[10].lat, pts.iloc[10].lng) == []
    assert svc.time_series("landsat", "ndvi", pts.iloc[11].lat, pts.iloc[11].lng) == []


def test_series_border_point(svc):
    # points exactly on tile borders must resolve to exactly one tile/pixel
    pts = fixtures.query_points_pdf("t-small")
    for i in (8, 9):
        out = svc.time_series("landsat", "ndvi", pts.iloc[i].lat, pts.iloc[i].lng)
        assert isinstance(out, list) and len(out) >= 1
