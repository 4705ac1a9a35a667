"""HTTP route parity: live stdlib server vs direct LayerService calls."""

import json
import urllib.request

import pytest

from geotrellis_landsat_emr_demo_spark import fixtures, server

T1 = "2015-07-01T00:00:00Z"
T2 = "2015-09-01T00:00:00Z"


@pytest.fixture(scope="module")
def srv(tsmall_catalog):
    httpd, port = server.serve(tsmall_catalog)
    yield f"http://127.0.0.1:{port}"
    httpd.shutdown()


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.read(), r.headers.get("Content-Type")


def _post(url, body):
    req = urllib.request.Request(url, data=body.encode(), method="POST")
    with urllib.request.urlopen(req, timeout=60) as r:
        return json.loads(r.read())


def test_catalog_route(srv, svc):
    body, ctype = _get(f"{srv}/catalog")
    assert ctype == "application/json"
    assert json.loads(body) == svc.catalog()


def test_tile_routes(srv, svc, tsmall_catalog):
    pdf = tsmall_catalog.read_pandas("tiles", columns=["zoom", "x", "y", "n_frags"])
    leaf = pdf[pdf.zoom == 13]
    hot = leaf[leaf.n_frags == leaf.n_frags.max()].iloc[0]
    x, y = int(hot.x), int(hot.y)
    t1q = T1.replace(":", "%3A")
    body, ctype = _get(f"{srv}/tiles/landsat/13/{x}/{y}?time={t1q}&operation=ndvi")
    assert ctype == "image/png"
    assert body == svc.render_tile("landsat", 13, x, y, T1, "ndvi")
    # missing tile -> 200 empty body (ReaderSet.scala:76-79 parity)
    body, _ = _get(f"{srv}/tiles/landsat/13/1/1?time={t1q}")
    assert body == b""
    # diff
    t2q = T2.replace(":", "%3A")
    body, _ = _get(
        f"{srv}/diff/landsat/13/{x}/{y}?time1={t1q}&time2={t2q}&operation=ndvi"
    )
    assert body == svc.render_diff("landsat", 13, x, y, T1, T2, "ndvi")


def test_mean_and_series_routes(srv, svc):
    aoi = fixtures.aoi_pdf("t-small")
    t1q = T1.replace(":", "%3A")
    got = _post(f"{srv}/mean/landsat/ndvi?time={t1q}", aoi.iloc[4].geojson)
    expect = svc.polygonal_mean("landsat", "ndvi", aoi.iloc[4].geojson, T1)
    assert abs(got["answer"] - expect) < 1e-12
    # disjoint AOI -> NaN -> JSON null
    got = _post(f"{srv}/mean/landsat/ndvi?time={t1q}", aoi.iloc[5].geojson)
    assert got["answer"] is None
    pts = fixtures.query_points_pdf("t-small")
    p = pts.iloc[0]
    got = _get(f"{srv}/series/landsat/ndvi?lat={p.lat}&lng={p.lng}")[0]
    ans = json.loads(got)["answer"]
    expect = svc.time_series("landsat", "ndvi", p.lat, p.lng)
    assert [(a, round(b, 12)) for a, b in expect] == [
        (a, round(b, 12)) for a, b in ans
    ]


def test_readall_route(srv, svc):
    got = json.loads(_get(f"{srv}/readall/landsat")[0])
    assert got["count"] == svc.read_all_count("landsat")


def test_point_read_tile_cache(tsmall_catalog, monkeypatch):
    """S3 local-cache analog: a repeat point read of the same tile reads
    no parquet row group again, and a new snapshot invalidates it."""
    import pyarrow.parquet as pq

    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    s = LayerService(tsmall_catalog)
    pdf = tsmall_catalog.read_pandas("tiles", columns=["zoom", "x", "y", "ts"])
    row = pdf[pdf.zoom == 13].iloc[0]
    x, y, millis = int(row.x), int(row.y), int(row.ts.value // 1_000_000)
    calls = {"n": 0}
    orig = pq.ParquetFile.read_row_group

    def counting(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", counting)
    t1 = s.read_tile("landsat", 13, x, y, millis)
    n_after_first = calls["n"]
    assert n_after_first > 0
    t2 = s.read_tile("landsat", 13, x, y, millis)
    assert calls["n"] == n_after_first  # served from the tile cache
    assert (t1 == t2).all()
    # missing keys cache too (the empty-PNG hot path): a stored cell at an
    # unstored time reads the key columns once
    assert s.read_tile("landsat", 13, x, y, millis + 1) is None
    n_after_missing = calls["n"]
    assert n_after_missing > n_after_first
    assert s.read_tile("landsat", 13, x, y, millis + 1) is None
    assert calls["n"] == n_after_missing
    snap = tsmall_catalog.snapshot_id()
    monkeypatch.setattr(tsmall_catalog, "snapshot_id", lambda: snap + 1)
    assert (s.read_tile("landsat", 13, x, y, millis) == t1).all()
    assert calls["n"] > n_after_missing  # new snapshot -> read again


def test_concurrent_reads_share_the_cache_safely(tsmall_catalog):
    """Server threads share one service's LRU tile cache and footer index:
    16 threads on a cache of 4 tiles with a short switch interval, every
    read equals the uncached read of the same key."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    pdf = tsmall_catalog.read_pandas("tiles", columns=["zoom", "x", "y", "ts"])
    keys = [
        (int(r.zoom), int(r.x), int(r.y), int(r.ts.value // 1_000_000))
        for r in pdf[pdf.zoom >= 12].itertuples(index=False)
    ]
    uncached = LayerService(tsmall_catalog, tile_cache_size=0)
    expect = {k: uncached.read_tile("landsat", *k) for k in keys}
    shared = LayerService(tsmall_catalog, tile_cache_size=4)
    order = [keys[i] for i in np.random.default_rng(7).integers(0, len(keys), 640)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as ex:
            got = list(ex.map(lambda k: shared.read_tile("landsat", *k), order, timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all((g == expect[k]).all() for k, g in zip(order, got))
    info = shared._tile_cache.cache_info()
    assert info.currsize <= 4 and info.hits + info.misses == len(order)


def _status(url, body=None):
    """(status, body) of a request that may fail; an error body is parsed
    as JSON."""
    import urllib.error

    req = urllib.request.Request(
        url, data=None if body is None else body.encode(), method="GET" if body is None else "POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_bad_requests_get_400(srv):
    t1q = T1.replace(":", "%3A")
    aoi = fixtures.aoi_pdf("t-small").iloc[4].geojson
    point = json.dumps({"type": "Point", "coordinates": [0.0, 0.0]})
    cases = [
        (f"/mean/landsat/nope?time={t1q}", aoi, "UNKNOWN OPERATION"),
        (f"/mean/landsat/ndvi?time={t1q}", point, "Polygon/MultiPolygon"),
        (f"/mean/landsat/ndvi?time={t1q}", "{not json", ""),
        (f"/mean/landsat/ndvi?time={t1q}", "[1, 2]", "Polygon/MultiPolygon"),
        ("/mean/landsat/ndvi", aoi, "time"),  # missing parameter
        ("/mean/landsat/ndvi?time=yesterday", aoi, ""),
        (f"/mean/landsat/ndvi?time={t1q}", "", "Polygon/MultiPolygon"),  # no body
        (f"/tiles/landsat/abc/1/1?time={t1q}", None, ""),
        ("/tiles/landsat/13/1/1", None, "time"),
        (f"/tiles/nope/13/1/1?time={t1q}", None, "no such layer"),
        (f"/diff/landsat/13/1/1?time1={t1q}", None, "time2"),
        ("/series/landsat/ndvi?lat=north&lng=1", None, ""),
        ("/series/landsat/ndvi?lat=1", None, "lng"),
        ("/series/landsat/nope?lat=1&lng=1", None, "UNKNOWN OPERATION"),
        ("/readall/nope", None, "no such layer"),
    ]
    for path, body, msg in cases:
        code, got = _status(srv + path, body)
        assert code == 400, (path, code, got)
        assert msg in got["error"], (path, got)
    code, got = _status(f"{srv}/nope")
    assert code == 404 and got == {"error": "no such route"}


def test_readall_bench_dual_path(spark, tsmall_catalog, svc):
    """A6 dual path: the Spark-job count and the collection count agree
    (Router.scala:224-264's obj_rdd == obj_collection invariant)."""
    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    s = LayerService(tsmall_catalog, spark=spark)
    rows = s.read_all_bench("landsat", 13, reps=2)
    assert len(rows) == 2
    for r in rows:
        assert r["obj_rdd"] == r["obj_collection"] == svc.read_all_count("landsat")
        assert "time_rdd" in r and "time_collection" in r
    # Spark-free service still serves the collection path
    rows2 = svc.read_all_bench("landsat", 13, reps=1)
    assert rows2[0]["obj_collection"] == svc.read_all_count("landsat")
    assert "obj_rdd" not in rows2[0]
