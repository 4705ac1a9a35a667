"""Seeded workload inputs.  The same seed gives the same inputs.

The engine only ever sees what these functions generate: scene tables
(``fixtures``-style closed-form pixel fields, so the leaf oracle can
recompute any pixel), footprint tables, AOI polygons, query points and the
HTTP request sequence.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from geotrellis_landsat_emr_demo_spark import NBANDS, fixtures
from geotrellis_landsat_emr_demo_spark.core import geom, kernels, tiling

TIMES = fixtures.TS_ISO  # 4 acquisition dates
LEAF_ZOOM = 13
MIN_ZOOM = 9

# scene corpora: (scenes, pixels per side, tiles per scene side,
# spread of the non-hot scenes in z13 tiles, every n-th scene on the hot cell)
INGEST_CORPUS = dict(n=8, px=128, tps=3, region=8, hot_every=2)
CATALOG_CORPUS = dict(n=48, px=128, tps=3, region=24, hot_every=8)
WARMUP_CORPUS = dict(n=4, px=64, tps=2, region=4, hot_every=2)
CATALOG_SEED = 0  # the serving catalog is the same for every seed

FOOTPRINTS = 50_000
FOOTPRINT_HOT_FRAC = 0.05
PIP_AOIS = 64
KNN_POINTS = 256
KNN_K = 5
ZONAL_AOIS = 8


def scene_specs(seed: int, n: int, px: int, tps: int, region: int, hot_every: int) -> list[dict]:
    """Scenes of tps x tps z13 tiles.  Every ``hot_every``-th one sits on a
    ring a quarter scene wide around the centre cell, so all of them cover
    it (the hot cell that skews the merge); the rest sit on a ring of
    diameter ``region`` tiles.  The layout is the same for every seed, so
    the work is too; the seed shifts the phases of every scene's pixel
    field (``fixtures.scene_array`` derives them from ``i``).  Dates cycle
    over 4 timestamps."""
    cx, cy = fixtures.center_mercator()
    span = tiling.tile_span(LEAF_ZOOM)
    size = tps * span
    n_hot = len(range(0, n, hot_every))
    specs = []
    for i in range(n):
        if i % hot_every == 0:
            k, count, radius, turn = i // hot_every, n_hot, 0.25 * size, 0.3
        else:
            k, count, radius, turn = i - i // hot_every - 1, n - n_hot, 0.4 * region * span, 0.7
        ang = turn + 2 * np.pi * k / count
        ts_iso = TIMES[i % len(TIMES)]
        xmin = cx + radius * np.cos(ang) - size / 2
        ymin = cy + radius * np.sin(ang) - size / 2
        specs.append(
            dict(
                image_id=f"scene-{i:05d}",
                i=i + 7 * seed,
                w=px,
                h=px,
                fmt="npy-u16-z",
                ts_iso=ts_iso,
                ts_millis=fixtures._ts_millis(ts_iso),
                xmin=float(xmin),
                ymin=float(ymin),
                xmax=float(xmin + size),
                ymax=float(ymin + size),
            )
        )
    return specs


def images_pdf(specs: list[dict]) -> pd.DataFrame:
    """The engine's ``images`` table for ``specs`` (FIXTURES.md T1 schema)."""
    rows = []
    for s in specs:
        payload = kernels.encode_payload(fixtures.scene_array(s), s["fmt"])
        rows.append(
            dict(
                image_id=s["image_id"],
                bytes=payload,
                w=s["w"],
                h=s["h"],
                fmt=s["fmt"],
                caption=f"{s['image_id']} at {s['ts_iso']}",
                phash=int.from_bytes(hashlib.sha256(payload).digest()[:8], "big", signed=True),
                ts=datetime.fromtimestamp(s["ts_millis"] / 1000, tz=timezone.utc).replace(tzinfo=None),
                ts_millis=s["ts_millis"],
                xmin=s["xmin"],
                ymin=s["ymin"],
                xmax=s["xmax"],
                ymax=s["ymax"],
                crs="EPSG:3857",
                nbands=NBANDS,
                cloud_cover=0.0,
            )
        )
    return pd.DataFrame(rows)


# ------------------------------------------------------------ join inputs

def _rect_geojson(x0, y0, x1, y1) -> str:
    lng0, lat0 = (float(v) for v in geom.mercator_to_lnglat(x0, y0))
    lng1, lat1 = (float(v) for v in geom.mercator_to_lnglat(x1, y1))
    ring = [[lng0, lat0], [lng1, lat0], [lng1, lat1], [lng0, lat1], [lng0, lat0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


# footprints, AOIs and kNN points spread over a box of this half-width
# (metres, EPSG:3857) around the scene corpus: about the reference's
# default Japan bounding box, some 13 x 13 z9 cells
SPREAD_M = 500_000.0


def footprints_pdf(seed: int, n: int = FOOTPRINTS, hot_frac: float = FOOTPRINT_HOT_FRAC) -> pd.DataFrame:
    """Scene footprints (EPSG:3857 rectangles, 1-5 km half-sides) spread
    uniformly; ``hot_frac`` of them centred within 2 km of one hot spot."""
    rng = np.random.default_rng(seed + 1)
    cx, cy = fixtures.center_mercator()
    w = SPREAD_M
    hot = rng.random(n) < hot_frac
    mx = np.where(hot, cx + 0.3 * w + rng.uniform(-2000, 2000, n), cx + rng.uniform(-w, w, n))
    my = np.where(hot, cy - 0.2 * w + rng.uniform(-2000, 2000, n), cy + rng.uniform(-w, w, n))
    hx = rng.uniform(1000, 5000, n)
    hy = rng.uniform(1000, 5000, n)
    return pd.DataFrame(
        dict(
            image_id=[f"fp-{i:07d}" for i in range(n)],
            xmin=mx - hx,
            ymin=my - hy,
            xmax=mx + hx,
            ymax=my + hy,
        )
    )


def pip_aois_pdf(seed: int, n: int = PIP_AOIS) -> pd.DataFrame:
    """Rectangular AOIs (EPSG:4326 GeoJSON) with half-sides spread evenly
    over 2-30 km (in seeded order); one in eight sits on the footprint hot
    spot."""
    rng = np.random.default_rng(seed + 2)
    cx, cy = fixtures.center_mercator()
    w = SPREAD_M
    half = np.linspace(2000, 30000, n)
    hxs, hys = rng.permutation(half), rng.permutation(half)
    rows = []
    for j in range(n):
        if j % 8 == 0:
            x, y = cx + 0.3 * w, cy - 0.2 * w
        else:
            x, y = cx + rng.uniform(-w, w), cy + rng.uniform(-w, w)
        hx, hy = hxs[j], hys[j]
        rows.append(dict(aoi_id=f"aoi-{j:03d}", geojson=_rect_geojson(x - hx, y - hy, x + hx, y + hy)))
    return pd.DataFrame(rows)


def knn_points_pdf(seed: int, n: int = KNN_POINTS) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 3)
    cx, cy = fixtures.center_mercator()
    w = SPREAD_M
    mx = cx + rng.uniform(-w, w, n)
    my = cy + rng.uniform(-w, w, n)
    lng, lat = geom.mercator_to_lnglat(mx, my)
    return pd.DataFrame(dict(query_id=[f"pt-{j:04d}" for j in range(n)], lat=lat, lng=lng))


def zonal_aois_pdf(seed: int, n: int = ZONAL_AOIS) -> pd.DataFrame:
    """AOIs over the ingest corpus: half about one z13 tile, half about
    4 x 4 tiles, centred within half a tile of the hot cell, where the
    stacked scenes leave no NoData (see README.md, defects)."""
    rng = np.random.default_rng(seed + 4)
    cx, cy = fixtures.center_mercator()
    span = tiling.tile_span(LEAF_ZOOM)
    rows = []
    for j in range(n):
        side = (1.0 if j % 2 == 0 else 4.0) * span
        x = cx + rng.uniform(-0.5, 0.5) * span
        y = cy + rng.uniform(-0.5, 0.5) * span
        rows.append(
            dict(aoi_id=f"zaoi-{j:02d}", geojson=_rect_geojson(x - side / 2, y - side / 2, x + side / 2, y + side / 2))
        )
    return pd.DataFrame(rows)


def join_params(seed: int) -> dict:
    """Operation and dates of the zonal and diff joins: the two dates whose
    scenes stack on the hot cell, in seeded order."""
    t1, t2 = (0, 2) if seed % 2 else (2, 0)
    return dict(
        zonal_op=["ndvi", "ndwi"][seed % 2],
        zonal_time=TIMES[t1],
        diff_op=["ndwi", "ndvi"][seed % 2],
        diff_time1=TIMES[t1],
        diff_time2=TIMES[t2],
    )


# --------------------------------------------------------- serving traffic

# routes per block of 50 requests (80 / 8 / 6 / 6 %): every fifth request
# is a /diff, /mean or /series one, in the fixed rotation OTHERS, and the
# rest are /tiles, so that any stretch of the sequence a client walks in a
# short run holds nearly this mix, and the few expensive /mean and /series
# requests are the same share in every run
BLOCK = (("tiles", 40), ("diff", 4), ("mean", 3), ("series", 3))
OTHERS = ("diff", "mean", "series", "diff", "mean", "series", "diff", "mean", "series", "diff")
ROUTES = tuple(r for r, _ in BLOCK)
SEQUENCE_BLOCKS = 80
ZIPF_S = 1.0  # plain Zipf, as in the workload's definition; no measured trace was at hand
OVERZOOM_AT_LEAF = 0.15  # share of z13 tile requests sent one or two zooms deeper


def _interior(s: dict) -> tuple:
    """The middle 60 % of a scene's footprint: data at every date the
    scene has, clear of its NoData corner and of resampling edges."""
    w, h = s["xmax"] - s["xmin"], s["ymax"] - s["ymin"]
    return s["xmin"] + 0.2 * w, s["ymin"] + 0.2 * h, s["xmin"] + 0.8 * w, s["ymin"] + 0.8 * h


def request_sequence(seed: int, tile_keys: list[tuple], specs: list[dict]) -> list[dict]:
    """A cyclic request sequence over the catalog's tiles.

    ``tile_keys``: (zoom, x, y, ts_iso) of every stored tile at zooms 9-13;
    ``specs``: the scenes the catalog was ingested from.  Tile and diff
    keys follow a Zipf law (exponent ``ZIPF_S``) over a seeded ranking of
    all keys, so the hot head fits the server's tile cache and the tail
    does not.  /mean alternates AOIs of about 1 and 16 z13 tiles, centred
    inside a scene and asked at its date; every third one also subtracts
    the date of a second scene whose interior overlaps there.  /series
    points lie inside a scene.  So every request reads data.  Each request
    is {route, method, path, body}."""
    rng = np.random.default_rng(seed + 6)
    keys = list(tile_keys)
    ranked = [keys[i] for i in rng.permutation(len(keys))]
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    w /= w.sum()
    cdf = np.cumsum(w)
    by_cell: dict = {}
    for z, x, y, t in keys:
        by_cell.setdefault((z, x, y), []).append(t)
    span = tiling.tile_span(LEAF_ZOOM)
    pairs = []  # (overlap of two interiors, date, other date)
    for a in specs:
        for b in specs:
            x0, y0, x1, y1 = (f(u, v) for f, u, v in zip((max, max, min, min), _interior(a), _interior(b)))
            if a["ts_iso"] != b["ts_iso"] and x0 < x1 and y0 < y1:
                pairs.append(((x0, y0, x1, y1), a["ts_iso"], b["ts_iso"]))

    def point_in(x0, y0, x1, y1):
        return x0 + rng.random() * (x1 - x0), y0 + rng.random() * (y1 - y0)

    ops = ["ndvi", "ndwi", None]
    n_tiles = dict(BLOCK)["tiles"]
    block = [r for other in OTHERS for r in ("tiles",) * (n_tiles // len(OTHERS)) + (other,)]
    assert sorted(block) == sorted(r for r, n in BLOCK for _ in range(n))
    n_mean = 0
    seq = []
    for _ in range(SEQUENCE_BLOCKS):
        # stratified Zipf draws: each block's tile keys take one quantile
        # from each of n_tiles equal slices of the law, so every run, however
        # short, sees the same share of hot (cached) and cold keys
        u = (rng.permutation(n_tiles) + rng.random(n_tiles)) / n_tiles
        tile_ranks = iter(np.minimum(np.searchsorted(cdf, u), len(ranked) - 1))
        for route in block:
            if route == "tiles":
                z, x, y, t = ranked[next(tile_ranks)]
                if z == LEAF_ZOOM and rng.random() < OVERZOOM_AT_LEAF:
                    dz = int(rng.integers(1, 3))
                    x = x * (1 << dz) + int(rng.integers(0, 1 << dz))
                    y = y * (1 << dz) + int(rng.integers(0, 1 << dz))
                    z += dz
                op = ops[rng.integers(0, 3)]
                path = f"/tiles/landsat/{z}/{x}/{y}?time={t}" + (f"&operation={op}" if op else "")
                seq.append(dict(route=route, method="GET", path=path, body=None))
            elif route == "diff":
                while True:
                    z, x, y, t = ranked[rng.choice(len(ranked), p=w)]
                    others = [o for o in by_cell[(z, x, y)] if o != t]
                    if others:
                        break
                t2 = others[rng.integers(0, len(others))]
                op = ops[rng.integers(0, 2)]
                path = f"/diff/landsat/{z}/{x}/{y}?time1={t}&time2={t2}&operation={op}"
                seq.append(dict(route=route, method="GET", path=path, body=None))
            elif route == "mean":
                if n_mean % 3 == 2:
                    rect, t, t2 = pairs[rng.integers(0, len(pairs))]
                    q = f"time={t}&otherTime={t2}"
                else:
                    sc = specs[rng.integers(0, len(specs))]
                    rect, q = _interior(sc), f"time={sc['ts_iso']}"
                x, y = point_in(*rect)
                half = (0.5 if n_mean % 2 == 0 else 2.0) * span
                n_mean += 1
                op = ops[rng.integers(0, 2)]
                aoi = _rect_geojson(x - half, y - half, x + half, y + half)
                seq.append(dict(route=route, method="POST", path=f"/mean/landsat/{op}?{q}", body=aoi))
            else:
                x, y = point_in(*_interior(specs[rng.integers(0, len(specs))]))
                lng, lat = (float(v) for v in geom.mercator_to_lnglat(x, y))
                op = ops[rng.integers(0, 2)]
                path = f"/series/landsat/{op}?lat={lat!r}&lng={lng!r}"
                seq.append(dict(route=route, method="GET", path=path, body=None))
    return seq
