"""Reference answers computed without Spark, for the correctness checks."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from geotrellis_landsat_emr_demo_spark import fixtures
from geotrellis_landsat_emr_demo_spark.core import geom, kernels, tiling
from geotrellis_landsat_emr_demo_spark.functions.registry import get_op
from geotrellis_landsat_emr_demo_spark.plans.queries import parse_time


def _millis(ts) -> int:
    return int(pd.Timestamp(ts).value // 1_000_000)


# ----------------------------------------------------------------- ingest

def leaf_keys(specs: list[dict], zoom: int) -> set:
    keys = set()
    for s in specs:
        c0, r0, c1, r1 = tiling.extent_to_tile_range(s["xmin"], s["ymin"], s["xmax"], s["ymax"], zoom)
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                keys.add((c, r, s["ts_millis"]))
    return keys


def pyramid_counts(specs: list[dict], max_zoom: int, min_zoom: int) -> dict:
    level = leaf_keys(specs, max_zoom)
    counts = {max_zoom: len(level)}
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        level = {(c // 2, r // 2, t) for c, r, t in level}
        counts[z] = len(level)
    return counts


def leaf_tile(specs: list[dict], x: int, y: int, ts_millis: int, zoom: int, scenes: dict | None = None) -> np.ndarray:
    """Merged leaf tile from the closed-form scene fields: regrid every
    covering scene of that date, first data wins in image_id order.
    ``scenes`` caches the decoded scene arrays between calls."""
    scenes = {} if scenes is None else scenes
    frags, ids = [], []
    dst = tiling.tile_extent(x, y, zoom)
    for s in specs:
        if s["ts_millis"] != ts_millis:
            continue
        c0, r0, c1, r1 = tiling.extent_to_tile_range(s["xmin"], s["ymin"], s["xmax"], s["ymax"], zoom)
        if not (c0 <= x <= c1 and r0 <= y <= r1):
            continue
        if s["image_id"] not in scenes:
            scenes[s["image_id"]] = kernels.decode_payload(kernels.encode_payload(fixtures.scene_array(s), s["fmt"]))
        arr = scenes[s["image_id"]]
        frags.append(kernels.regrid_to_extent(arr, (s["xmin"], s["ymin"], s["xmax"], s["ymax"]), dst, (256, 256)))
        ids.append(s["image_id"])
    return kernels.merge_fragments(frags, ids)


def pyramid_tile(specs: list[dict], x: int, y: int, ts_millis: int, zoom: int, leaf_zoom: int, memo: dict):
    """A pyramid tile from the oracle leaf tiles: each level the NaN-aware
    mean of every 2 x 2 pixel block of its four children, rounded to
    uint16 (NoData 0); a missing child leaves its quadrant NoData.  None
    where no leaf lies beneath.  ``memo`` caches tiles between calls."""
    key = (zoom, x, y, ts_millis)
    if key not in memo:
        if zoom == leaf_zoom:
            if "leaf_keys" not in memo:
                memo["leaf_keys"], memo["scenes"] = leaf_keys(specs, leaf_zoom), {}
            found = (x, y, ts_millis) in memo["leaf_keys"]
            memo[key] = leaf_tile(specs, x, y, ts_millis, zoom, memo["scenes"]) if found else None
        else:
            out = None
            for dy in (0, 1):
                for dx in (0, 1):
                    child = pyramid_tile(specs, 2 * x + dx, 2 * y + dy, ts_millis, zoom + 1, leaf_zoom, memo)
                    if child is None:
                        continue
                    nb, h, w = child.shape
                    if out is None:
                        out = np.full((nb, h, w), np.nan)
                    v = np.where(child == 0, np.nan, child.astype("f8")).reshape(nb, h // 2, 2, w // 2, 2)
                    n = (~np.isnan(v)).sum(axis=(2, 4))
                    with np.errstate(invalid="ignore"):
                        mean = np.where(n > 0, np.nansum(v, axis=(2, 4)) / np.maximum(n, 1), np.nan)
                    out[:, dy * h // 2 : (dy + 1) * h // 2, dx * w // 2 : (dx + 1) * w // 2] = mean
            if out is not None:
                out = np.where(np.isnan(out), 0, np.clip(np.rint(out), 0, 65535)).astype(np.uint16)
            memo[key] = out
    return memo[key]


def tiles_digest(pdf: pd.DataFrame) -> str:
    """Order-independent digest of committed tiles (key + payload bytes)."""
    h = hashlib.sha256()
    rows = sorted(
        (int(r.zoom), int(r.x), int(r.y), _millis(r.ts), bytes(r.tile)) for r in pdf.itertuples(index=False)
    )
    for z, x, y, t, b in rows:
        h.update(f"{z}/{x}/{y}/{t}:".encode())
        h.update(hashlib.sha256(b).digest())
    return h.hexdigest()


# ------------------------------------------------------------------ joins

def _aoi_rects(aoi_pdf: pd.DataFrame) -> dict:
    out = {}
    for r in aoi_pdf.itertuples(index=False):
        mp = geom.reproject_multipolygon(geom.parse_geojson(r.geojson), forward=True)
        out[r.aoi_id] = geom.envelope(mp)
    return out


def pip_pairs(footprints: pd.DataFrame, aoi_pdf: pd.DataFrame) -> set:
    """Every (aoi_id, image_id) whose rectangles intersect (the AOIs are
    rectangles, so the envelope test is exact)."""
    fx0, fy0 = footprints["xmin"].to_numpy(), footprints["ymin"].to_numpy()
    fx1, fy1 = footprints["xmax"].to_numpy(), footprints["ymax"].to_numpy()
    ids = footprints["image_id"].to_numpy()
    pairs = set()
    for aid, (ax0, ay0, ax1, ay1) in _aoi_rects(aoi_pdf).items():
        hit = (fx0 <= ax1) & (fx1 >= ax0) & (fy0 <= ay1) & (fy1 >= ay0)
        pairs.update((aid, i) for i in ids[hit])
    return pairs


def knn_ranks(footprints: pd.DataFrame, points: pd.DataFrame, k: int) -> dict:
    """query_id -> [(image_id, dist_m)] of the k nearest footprint centres,
    ordered by (distance, image_id)."""
    sx = ((footprints["xmin"] + footprints["xmax"]) / 2).to_numpy()
    sy = ((footprints["ymin"] + footprints["ymax"]) / 2).to_numpy()
    ids = footprints["image_id"].to_numpy()
    mx, my = geom.lnglat_to_mercator(points["lng"].to_numpy(), points["lat"].to_numpy())
    out = {}
    for q, px, py in zip(points["query_id"], mx, my):
        d = np.sqrt((sx - px) ** 2 + (sy - py) ** 2)
        cand = np.argpartition(d, k + 8)[: k + 8]
        best = sorted(cand, key=lambda i: (d[i], ids[i]))[:k]
        out[q] = [(ids[i], float(d[i])) for i in best]
    return out


def diff_stats(cat, layer: str, zoom: int, time1: str, time2: str, operation: str) -> dict:
    """(x, y) -> (n, mean, min, max) of op(t1) - op(t2) over valid pixels."""
    import pyarrow.dataset as ds

    def level(t):
        flt = (
            (ds.field("layer") == layer)
            & (ds.field("zoom") == zoom)
            & (ds.field("ts") == pd.Timestamp(parse_time(t), unit="ms"))
        )
        pdf = cat.read_arrow("tiles", filters=flt, columns=["x", "y", "tile"]).to_pandas()
        return {(int(r.x), int(r.y)): r.tile for r in pdf.itertuples(index=False)}

    fn = get_op(operation)["fn"]
    a, b = level(time1), level(time2)
    out = {}
    for key in a.keys() & b.keys():
        d = fn(kernels.decode_payload(a[key])) - fn(kernels.decode_payload(b[key]))
        v = d[~np.isnan(d)]
        out[key] = (int(v.size), float(v.mean()), float(v.min()), float(v.max())) if v.size else (0, None, None, None)
    return out
