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
