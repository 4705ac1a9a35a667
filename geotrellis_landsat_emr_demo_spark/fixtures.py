"""Deterministic synthetic corpus (FIXTURES.md) — no external data.

Generates the ``images`` table in the exact ``input_hint`` schema
(image_id, bytes, w, h, fmt, caption, phash) plus the sidecar scene-catalog
columns the reference gets from its Landsat metadata API
(ingest/.../TemporalMultibandLandsatInput.scala:22-47): ts, footprint
(EPSG:3857), crs, nbands, cloud_cover.

Pixel fields are closed-form in *map coordinates*, so a pure-numpy oracle
can recompute any pixel without Spark, and overlapping scenes still differ
per scene (per-band phase offsets derived from the scene index).

Everything is seeded (SEED=1337); same tier -> byte-identical tables.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from . import NBANDS, SEED
from .core import geom, kernels, tiling

# Region: around the reference's default Japan bbox corner
# (conf/input.json:7: 135.35,33.23,143.01,41.1)
CENTER_LNG, CENTER_LAT = 136.35, 34.20

TIERS = {
    # name: (n_scenes, px, n_timestamps, tiles_per_side, fmt)
    "t-small": (8, 512, 2, 3, "npy-u16"),
    "t-bench": (64, 768, 4, 5, "npy-u16-z"),
}

TS_ISO = [
    "2015-07-01T00:00:00Z",
    "2015-09-01T00:00:00Z",
    "2015-08-01T00:00:00Z",
    "2015-10-01T00:00:00Z",
]


def _ts_millis(iso: str) -> int:
    return int(datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S%z").timestamp() * 1000)


def center_mercator():
    cx, cy = geom.lnglat_to_mercator(CENTER_LNG, CENTER_LAT)
    return float(cx), float(cy)


def scene_specs(tier: str = "t-small", n_scenes: int | None = None, px: int | None = None):
    """Deterministic scene layout: centers on rings around a common center,
    every scene overlapping the central zoom-13 tile (the 'hot cell' that
    exercises merge skew / salting)."""
    n, p, n_ts, tps, fmt = TIERS[tier]
    n = n_scenes or n
    p = px or p
    cx, cy = center_mercator()
    span = tiling.tile_span(13)
    size = tps * span  # scene edge in meters
    rng = np.random.default_rng(SEED)
    specs = []
    for i in range(n):
        ring = 1 + (i // 8)
        ang = 2.0 * np.pi * (i % 8) / 8.0 + 0.3 * ring
        # offsets < half scene size so all scenes still cover the center
        r = 0.35 * size * ring / max(1, (n + 7) // 8)
        ox, oy = r * np.cos(ang), r * np.sin(ang)
        xmin = cx + ox - size / 2
        ymin = cy + oy - size / 2
        ts_iso = TS_ISO[i % n_ts]
        lng0, lat0 = geom.mercator_to_lnglat(cx + ox, cy + oy)
        cloud = float(np.round(rng.uniform(0, 60), 2))
        specs.append(
            dict(
                image_id=f"scene-{i:05d}",
                i=i,
                w=p,
                h=p,
                fmt=fmt,
                ts_iso=ts_iso,
                ts_millis=_ts_millis(ts_iso),
                xmin=float(xmin),
                ymin=float(ymin),
                xmax=float(xmin + size),
                ymax=float(ymin + size),
                crs="EPSG:3857",
                nbands=NBANDS,
                cloud_cover=cloud,
                caption=f"scene {i} over ({float(lat0):.3f},{float(lng0):.3f}) at {ts_iso}",
            )
        )
    return specs


def scene_array(spec: dict) -> np.ndarray:
    """Closed-form pixel field for a scene: (5, h, w) uint16.

    bands 0..3: 4000 + 8000*sin^2(2pi(3u + phi))*cos^2(2pi(2v + psi)) with
    per-(scene, band) phases; band 4 (QA): 0/1 pixel checkerboard.  A corner
    triangle (r + c < h/4) is NoData (0) to exercise merge-fill and NaN
    propagation (FIXTURES.md T1)."""
    i, w, h = spec["i"], spec["w"], spec["h"]
    cx, cy = center_mercator()
    cw = (spec["xmax"] - spec["xmin"]) / w
    ch = (spec["ymax"] - spec["ymin"]) / h
    xs = spec["xmin"] + (np.arange(w) + 0.5) * cw
    ys = spec["ymax"] - (np.arange(h) + 0.5) * ch
    u = (xs - cx) / 20000.0
    v = (ys - cy) / 20000.0
    U, V = np.meshgrid(u, v)
    out = np.empty((NBANDS, h, w), dtype=np.uint16)
    for k in range(4):
        phi = ((i * 0.137 + k * 0.311) % 1.0)
        psi = ((i * 0.271 + k * 0.173) % 1.0)
        field = 4000.0 + 8000.0 * np.sin(2 * np.pi * (3 * U + phi)) ** 2 * np.cos(
            2 * np.pi * (2 * V + psi)
        ) ** 2
        out[k] = np.rint(field).astype(np.uint16)
    rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    out[4] = ((rr + cc) % 2).astype(np.uint16)
    nodata = (rr + cc) < (h // 4)
    out[:, nodata] = 0
    return out


def images_pdf(tier: str = "t-small", fmt_override: str | None = None, **kw) -> pd.DataFrame:
    rows = []
    for spec in scene_specs(tier, **kw):
        if fmt_override:
            spec = {**spec, "fmt": fmt_override}
        arr = scene_array(spec)
        payload = kernels.encode_payload(arr, spec["fmt"])
        phash = int.from_bytes(
            hashlib.sha256(payload).digest()[:8], "big", signed=True
        )
        rows.append(
            dict(
                image_id=spec["image_id"],
                bytes=payload,
                w=spec["w"],
                h=spec["h"],
                fmt=spec["fmt"],
                caption=spec["caption"],
                phash=phash,
                ts=datetime.fromtimestamp(spec["ts_millis"] / 1000, tz=timezone.utc).replace(tzinfo=None),
                ts_millis=spec["ts_millis"],
                xmin=spec["xmin"],
                ymin=spec["ymin"],
                xmax=spec["xmax"],
                ymax=spec["ymax"],
                crs=spec["crs"],
                nbands=spec["nbands"],
                cloud_cover=spec["cloud_cover"],
            )
        )
    return pd.DataFrame(rows)


# ------------------------------------------------------------------- AOIs --

def aoi_pdf(tier: str = "t-small") -> pd.DataFrame:
    """Query polygons (EPSG:4326 GeoJSON, as the reference POSTs —
    Router.scala:118-137). Layout per FIXTURES.md T2."""
    import json as _json

    specs = scene_specs(tier)
    cx, cy = center_mercator()
    span = tiling.tile_span(13)

    def ll(mx, my):
        lng, lat = geom.mercator_to_lnglat(mx, my)
        return [float(lng), float(lat)]

    def rect(x0, y0, x1, y1):
        return {
            "type": "Polygon",
            "coordinates": [[ll(x0, y0), ll(x1, y0), ll(x1, y1), ll(x0, y1), ll(x0, y0)]],
        }

    s0 = specs[0]
    inner = rect(
        s0["xmin"] + 0.3 * (s0["xmax"] - s0["xmin"]),
        s0["ymin"] + 0.55 * (s0["ymax"] - s0["ymin"]),
        s0["xmin"] + 0.6 * (s0["xmax"] - s0["xmin"]),
        s0["ymin"] + 0.85 * (s0["ymax"] - s0["ymin"]),
    )
    tri = {
        "type": "Polygon",
        "coordinates": [[
            ll(cx - 0.8 * span, cy - 0.8 * span),
            ll(cx + 0.9 * span, cy - 0.6 * span),
            ll(cx + 0.1 * span, cy + 0.9 * span),
            ll(cx - 0.8 * span, cy - 0.8 * span),
        ]],
    }
    spanning = rect(cx - 2.2 * span, cy - 0.4 * span, cx + 2.2 * span, cy + 0.4 * span)
    concave = {
        "type": "Polygon",
        "coordinates": [[
            ll(cx - 1.5 * span, cy - 1.5 * span),
            ll(cx + 1.5 * span, cy - 1.5 * span),
            ll(cx + 1.5 * span, cy + 1.5 * span),
            ll(cx + 0.2 * span, cy + 1.5 * span),
            ll(cx + 0.2 * span, cy - 0.5 * span),
            ll(cx - 0.2 * span, cy - 0.5 * span),
            ll(cx - 0.2 * span, cy + 1.5 * span),
            ll(cx - 1.5 * span, cy + 1.5 * span),
            ll(cx - 1.5 * span, cy - 1.5 * span),
        ]],
    }
    hot = rect(cx - 0.45 * span, cy - 0.45 * span, cx + 0.45 * span, cy + 0.45 * span)
    disjoint = rect(cx + 60 * span, cy + 60 * span, cx + 62 * span, cy + 62 * span)
    rows = [
        ("aoi-000", inner, "rect"),
        ("aoi-001", tri, "triangle"),
        ("aoi-002", spanning, "rect"),
        ("aoi-003", concave, "concave"),
        ("aoi-004", hot, "rect"),
        ("aoi-005", disjoint, "rect"),
    ]
    return pd.DataFrame(
        [dict(aoi_id=a, geojson=_json.dumps(g), kind=k) for a, g, k in rows]
    )


def query_points_pdf(tier: str = "t-small") -> pd.DataFrame:
    """Time-series / kNN query points (FIXTURES.md T3): 8 inside coverage,
    2 exactly on tile borders, 2 outside."""
    cx, cy = center_mercator()
    span = tiling.tile_span(13)
    col, row = (int(v) for v in tiling.map_to_tile(cx, cy, 13))
    bxmin, _, _, bymax = tiling.tile_extent(col, row, 13)
    pts_m = [
        (cx, cy),
        (cx + 0.3 * span, cy + 0.2 * span),
        (cx - 0.7 * span, cy + 0.6 * span),
        (cx + 1.1 * span, cy - 0.9 * span),
        (cx - 1.2 * span, cy - 0.3 * span),
        (cx + 0.05 * span, cy + 1.2 * span),
        (cx - 0.4 * span, cy - 1.1 * span),
        (cx + 0.8 * span, cy + 0.8 * span),
        (bxmin, cy),           # exactly on a vertical tile border
        (cx, bymax),           # exactly on a horizontal tile border
        (cx + 80 * span, cy),  # outside coverage
        (cx, cy + 80 * span),  # outside coverage
    ]
    ks = [1, 3, 5, 1, 3, 5, 1, 3, 5, 1, 3, 5]
    rows = []
    for j, ((mx, my), k) in enumerate(zip(pts_m, ks)):
        lng, lat = geom.mercator_to_lnglat(mx, my)
        rows.append(dict(query_id=f"pt-{j:03d}", lat=float(lat), lng=float(lng), k=k))
    return pd.DataFrame(rows)


def embeddings_clustered_pdf(
    n: int = 2000,
    dim: int = 64,
    n_clusters: int = 16,
    concentration: float = 4.0,
    seed: int = 7,
) -> pd.DataFrame:
    """Clustered embedding corpus (Gaussian mixture on the unit sphere):
    each vector = unit cluster direction x ``concentration`` + N(0, I),
    renormalized.  The driver's embeddings.parquet is ISOTROPIC (flat PCA
    spectrum, no label geometry), which caps IVF recall at ~nprobe/nlist
    regardless of quantizer training; this corpus is the geometry where a
    trained coarse quantizer actually earns its keep (at concentration 4:
    trained recall@10 ~0.83 vs seeded ~0.36 at nprobe=2/nlist=16, same
    ~13% candidate fraction).  ``label`` is the true mixture component."""
    rng = np.random.default_rng(seed)
    mus = rng.standard_normal((n_clusters, dim))
    mus /= np.linalg.norm(mus, axis=1, keepdims=True)
    z = rng.integers(0, n_clusters, n)
    x = mus[z] * concentration + rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame(
        dict(
            vec_id=np.arange(n, dtype=np.int64),
            embedding=[row.astype(np.float64).tolist() for row in x],
            label=z.astype(np.int32),
        )
    )


def write_all(catalog, tier: str = "t-small", **kw) -> None:
    """Materialize images/aoi/query_points tables into a Catalog."""
    catalog.append_pandas(images_pdf(tier, **kw), "images", markers={f"fixtures:{tier}": {}})
    catalog.append_pandas(aoi_pdf(tier), "aoi")
    catalog.append_pandas(query_points_pdf(tier), "query_points")
