"""Spatial join correctness vs brute-force oracles: PIP, kNN, zonal, diff."""

import numpy as np
import pandas as pd

from geotrellis_landsat_emr_demo_spark import fixtures
from geotrellis_landsat_emr_demo_spark.core import geom, kernels as K
from geotrellis_landsat_emr_demo_spark.operators import joins
from geotrellis_landsat_emr_demo_spark.plans.queries import parse_time

T1 = "2015-07-01T00:00:00Z"
T2 = "2015-09-01T00:00:00Z"


def brute_pip(tier="t-small"):
    """Oracle: exact rect x polygon test on every (scene, aoi) pair."""
    out = set()
    aoi = fixtures.aoi_pdf(tier)
    for a in aoi.itertuples(index=False):
        mp = geom.reproject_multipolygon(geom.parse_geojson(a.geojson), forward=True)
        for s in fixtures.scene_specs(tier):
            if geom.rect_intersects_multipolygon(
                s["xmin"], s["ymin"], s["xmax"], s["ymax"], mp
            ):
                out.add((a.aoi_id, s["image_id"]))
    return out


def test_pip_join_exact(spark, tsmall_catalog):
    images = tsmall_catalog.read_spark(spark, "images")
    aoi = fixtures.aoi_pdf("t-small")
    got = {
        (r.aoi_id, r.image_id)
        for r in joins.pip_join(spark, images, aoi).collect()
    }
    assert got == brute_pip()
    # the disjoint AOI must produce zero rows (FIXTURES.md golden)
    assert not any(a == "aoi-005" for a, _ in got)


def test_pip_join_zoom_invariance(spark, tsmall_catalog):
    """Result is independent of the cell-grid resolution used for the join."""
    images = tsmall_catalog.read_spark(spark, "images")
    aoi = fixtures.aoi_pdf("t-small")
    a = {(r.aoi_id, r.image_id) for r in joins.pip_join(spark, images, aoi, zoom=7).collect()}
    b = {(r.aoi_id, r.image_id) for r in joins.pip_join(spark, images, aoi, zoom=12).collect()}
    assert a == b == brute_pip()


def brute_knn(tier="t-small"):
    """Oracle: full distance matrix, top-k by (dist, image_id)."""
    specs = fixtures.scene_specs(tier)
    pts = fixtures.query_points_pdf(tier)
    mx, my = geom.lnglat_to_mercator(pts["lng"].values, pts["lat"].values)
    rows = []
    for j, p in enumerate(pts.itertuples(index=False)):
        cand = []
        for s in specs:
            sx = (s["xmin"] + s["xmax"]) / 2
            sy = (s["ymin"] + s["ymax"]) / 2
            d = float(np.hypot(sx - mx[j], sy - my[j]))
            cand.append((d, s["image_id"]))
        cand.sort()
        for rank, (d, iid) in enumerate(cand[: p.k], start=1):
            rows.append((p.query_id, iid, rank))
    return set(rows)


def test_knn_join_exact(spark, tsmall_catalog):
    images = tsmall_catalog.read_spark(spark, "images")
    pts = fixtures.query_points_pdf("t-small")
    got = {
        (r.query_id, r.image_id, r.rank)
        for r in joins.knn_join(spark, images, pts, zoom=10).collect()
    }
    assert got == brute_knn()


def test_knn_join_fine_grid(spark, tsmall_catalog):
    """Many expansion rounds (fine grid) still converge to the exact set."""
    images = tsmall_catalog.read_spark(spark, "images")
    pts = fixtures.query_points_pdf("t-small").head(4)
    got = {
        (r.query_id, r.image_id, r.rank)
        for r in joins.knn_join(spark, images, pts, zoom=14).collect()
    }
    expect = {t for t in brute_knn() if t[0] in set(pts.query_id)}
    assert got == expect


def test_zonal_stats_matches_serving(spark, tsmall_catalog, svc):
    """Distributed zonal mean == driver fast-path polygonalMean."""
    aoi = fixtures.aoi_pdf("t-small")
    tiles = tsmall_catalog.read_spark(spark, "tiles")
    got = {
        r.aoi_id: (r.mean, r.n_cells)
        for r in joins.zonal_stats(spark, tiles, aoi, "ndvi", T1, 13, "landsat").collect()
    }
    for a in aoi.itertuples(index=False):
        expect = svc.polygonal_mean("landsat", "ndvi", a.geojson, T1)
        if a.aoi_id in got:
            assert abs(got[a.aoi_id][0] - expect) < 1e-9, a.aoi_id
        else:
            assert np.isnan(expect)  # disjoint AOI: no rows <-> NaN mean
    assert "aoi-005" not in got


def test_zonal_stats_nodata_aoi_is_nan(spark):
    """An AOI over only NoData cells gets mean NaN and n_cells 0 — what
    polygonal_mean answers when no data cell is masked — next to an AOI
    over data, which still gets its mean."""
    import json

    from geotrellis_landsat_emr_demo_spark.core import tiling
    from geotrellis_landsat_emr_demo_spark.functions.registry import get_op

    x, y = 7198, 3266
    data = np.full((5, 256, 256), 4000, dtype=np.uint16)
    data[3] = 9000  # nir > red: a non-trivial NDVI
    nodata = np.zeros_like(data)
    ts = pd.Timestamp(parse_time(T1), unit="ms")
    tiles = spark.createDataFrame(
        pd.DataFrame(
            dict(
                layer=["landsat"] * 2,
                zoom=[13, 13],
                x=[x, x + 1],
                y=[y, y],
                ts=[ts, ts],
                tile=[K.encode_payload(data, "npy-u16"), K.encode_payload(nodata, "npy-u16")],
            )
        )
    )

    def inner_rect(tx, ty):
        x0, y0, x1, y1 = tiling.tile_extent(tx, ty, 13)
        dx, dy = (x1 - x0) / 4, (y1 - y0) / 4
        ring = [
            [float(v) for v in geom.mercator_to_lnglat(px, py)]
            for px, py in (
                (x0 + dx, y0 + dy), (x1 - dx, y0 + dy), (x1 - dx, y1 - dy),
                (x0 + dx, y1 - dy), (x0 + dx, y0 + dy),
            )
        ]
        return json.dumps({"type": "Polygon", "coordinates": [ring]})

    aoi = pd.DataFrame(
        dict(aoi_id=["data", "nodata"], geojson=[inner_rect(x, y), inner_rect(x + 1, y)])
    )
    got = {
        r.aoi_id: (r.mean, r.n_cells)
        for r in joins.zonal_stats(spark, tiles, aoi, "ndvi", T1, 13, "landsat").collect()
    }
    assert set(got) == {"data", "nodata"}
    mean, n = got["nodata"]
    assert np.isnan(mean) and n == 0
    mean, n = got["data"]
    expect = float(np.nanmean(get_op("ndvi")["fn"](data)))
    assert n > 0 and abs(mean - expect) < 1e-12


def test_diff_join_matches_local(spark, tsmall_catalog):
    from test_ingest import oracle_leaf_keys, oracle_tile

    tiles = tsmall_catalog.read_spark(spark, "tiles")
    rows = joins.diff_join(spark, tiles, "landsat", 13, T1, T2, "ndvi").collect()
    got = {(r.x, r.y): (r.mean_diff, r.n) for r in rows}
    t1m, t2m = parse_time(T1), parse_time(T2)
    keys1 = {(x, y) for (x, y, t) in oracle_leaf_keys() if t == t1m}
    keys2 = {(x, y) for (x, y, t) in oracle_leaf_keys() if t == t2m}
    both = keys1 & keys2
    assert set(got) == both  # inner-join semantics: both dates must exist
    checked = 0
    for (x, y) in sorted(both):
        d = K.ndvi(oracle_tile("t-small", x, y, t1m)[0]) - K.ndvi(
            oracle_tile("t-small", x, y, t2m)[0]
        )
        ok = ~np.isnan(d)
        mean, n = got[(x, y)]
        assert n == int(ok.sum())
        if ok.any():
            assert abs(mean - float(d[ok].mean())) < 1e-12
            checked += 1
        else:
            assert mean is None
    assert checked >= 1  # at least one tile has overlapping data
