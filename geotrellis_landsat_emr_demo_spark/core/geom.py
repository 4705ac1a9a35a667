"""Vector geometry: reprojection, GeoJSON, point-in-polygon, intersection.

Replaces the reference's geotrellis.vector usage:
- Point/Polygon.reproject(LatLng, WebMercator)  (Router.scala:75,134-135)
- GeoJSON parse + Polygon->MultiPolygon normalization (Router.scala:128-137)
- geometry envelope (Router.scala:75,138)
- the implicit cell-center-in-polygon rasterization inside polygonalMean
  (Router.scala:151) — here an explicit even-odd ray cast, evaluated
  per scanline (:func:`grid_mask`).

Polygons are represented as ``list[list[np.ndarray(n,2)]]``:
multipolygon -> polygons -> rings (first ring = exterior, rest = holes).
Even-odd semantics make holes fall out of the same ray-cast.
"""

from __future__ import annotations

import json

import numpy as np

from .tiling import R_EARTH


def lnglat_to_mercator(lng, lat):
    """EPSG:4326 -> EPSG:3857 (spherical mercator), vectorized.

    x = R*lng*pi/180 ; y = R*ln(tan(pi/4 + lat*pi/360))
    """
    lng = np.asarray(lng, dtype="f8")
    lat = np.asarray(lat, dtype="f8")
    x = R_EARTH * np.radians(lng)
    y = R_EARTH * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def mercator_to_lnglat(x, y):
    x = np.asarray(x, dtype="f8")
    y = np.asarray(y, dtype="f8")
    lng = np.degrees(x / R_EARTH)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / R_EARTH)) - np.pi / 2.0)
    return lng, lat


# ---------------------------------------------------------------- GeoJSON --

def parse_geojson(text_or_obj):
    """GeoJSON (Polygon | MultiPolygon | Feature thereof) -> multipolygon.

    Mirrors the route-body handling at Router.scala:128-137: only polygonal
    geometries are accepted; a Polygon is normalized to a 1-element
    MultiPolygon.
    """
    obj = json.loads(text_or_obj) if isinstance(text_or_obj, str) else text_or_obj
    if isinstance(obj, dict) and obj.get("type") == "Feature":
        obj = obj["geometry"]
    t = obj.get("type") if isinstance(obj, dict) else None
    if t == "Polygon":
        coords = [obj["coordinates"]]
    elif t == "MultiPolygon":
        coords = obj["coordinates"]
    else:
        raise ValueError(f"unsupported geometry type: {t!r} (need Polygon/MultiPolygon)")
    return [
        [np.asarray(ring, dtype="f8")[:, :2] for ring in poly]
        for poly in coords
    ]


def reproject_multipolygon(mp, forward=True):
    """LatLng->WebMercator (forward) or inverse, per-ring vectorized."""
    fn = lnglat_to_mercator if forward else mercator_to_lnglat
    out = []
    for poly in mp:
        rings = []
        for ring in poly:
            x, y = fn(ring[:, 0], ring[:, 1])
            rings.append(np.column_stack([x, y]))
        out.append(rings)
    return out


def envelope(mp):
    """Multipolygon -> (xmin, ymin, xmax, ymax)."""
    xs = np.concatenate([r[:, 0] for poly in mp for r in poly])
    ys = np.concatenate([r[:, 1] for poly in mp for r in poly])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


# ------------------------------------------------------- point in polygon --

def _ring_crossings(px, py, ring):
    """Count of ray crossings (eastward ray) per point, vectorized over
    points AND ring edges. px/py shape (n,), ring shape (m,2)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    # edge straddles the horizontal line through the point (half-open to
    # count vertices exactly once)
    straddle = (y0 <= py) != (y1 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    hits = straddle & (px < xint)
    return hits.sum(axis=1)


def _closed(ring):
    """The ring, with its first vertex repeated at the end if it is not."""
    return ring if (ring[0] == ring[-1]).all() else np.vstack([ring, ring[:1]])


def points_in_multipolygon(px, py, mp):
    """Even-odd ray cast: boolean mask of points inside the multipolygon.

    The PIP join refine step; :func:`grid_mask` is its scanline form.
    """
    px = np.atleast_1d(np.asarray(px, dtype="f8"))
    py = np.atleast_1d(np.asarray(py, dtype="f8"))
    total = np.zeros(px.shape[0], dtype="i8")
    for poly in mp:
        for ring in poly:
            total += _ring_crossings(px, py, _closed(ring))
    return (total % 2) == 1


def grid_mask(xs, ys, mp):
    """Pixel-center mask for a grid: xs (cols,), ys (rows,) -> bool (rows, cols).

    Rasterization of the query polygon with cell-center-in-polygon
    semantics, as polygonalMean does (Router.scala:151) (A5/F21).  The
    scanline form of :func:`points_in_multipolygon`, equal to it bit for
    bit: each edge's x-crossing is computed once per pixel-centre row,
    with :func:`_ring_crossings`' expression and half-open straddle rule,
    and ``xs < crossing`` is XORed into the parity of the rows the edge
    straddles — O(rows x edges + straddled rows x cols), not
    O(rows x cols x edges).
    """
    xs = np.asarray(xs, dtype="f8")
    py = np.asarray(ys, dtype="f8")[:, None]
    inside = np.zeros((py.shape[0], xs.shape[0]), dtype=bool)
    for poly in mp:
        for ring in poly:
            r = _closed(ring)
            x0, y0 = r[:-1, 0], r[:-1, 1]
            x1, y1 = r[1:, 0], r[1:, 1]
            straddle = (y0 <= py) != (y1 <= py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
            for e in np.nonzero(straddle.any(axis=0))[0]:
                rows = np.nonzero(straddle[:, e])[0]
                inside[rows] ^= xs < xint[rows, e][:, None]
    return inside


# ------------------------------------------------------------ rect x poly --

def _segments_intersect(p1, p2, q1, q2):
    """Vectorized proper/improper segment intersection test.
    p* shape (n,2), q* shape (m,2) -> bool (n,m)."""
    def cross(o, a, b):
        return (a[..., 0] - o[..., 0]) * (b[..., 1] - o[..., 1]) - (
            a[..., 1] - o[..., 1]
        ) * (b[..., 0] - o[..., 0])

    p1 = p1[:, None, :]
    p2 = p2[:, None, :]
    q1 = q1[None, :, :]
    q2 = q2[None, :, :]
    d1 = cross(q1, q2, p1)
    d2 = cross(q1, q2, p2)
    d3 = cross(p1, p2, q1)
    d4 = cross(p1, p2, q2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    def on_seg(a, b, c):
        collin = cross(a, b, c) == 0
        within = (
            (np.minimum(a[..., 0], b[..., 0]) <= c[..., 0])
            & (c[..., 0] <= np.maximum(a[..., 0], b[..., 0]))
            & (np.minimum(a[..., 1], b[..., 1]) <= c[..., 1])
            & (c[..., 1] <= np.maximum(a[..., 1], b[..., 1]))
        )
        return collin & within

    touch = (
        on_seg(q1, q2, p1) | on_seg(q1, q2, p2) | on_seg(p1, p2, q1) | on_seg(p1, p2, q2)
    )
    return proper | touch


def rect_intersects_multipolygon(xmin, ymin, xmax, ymax, mp):
    """Exact rectangle x multipolygon intersection test.

    True iff: any polygon vertex inside the rect, any rect corner inside the
    polygon, or any edge pair crosses.  Refine step of the PIP footprint/AOI
    join (SURVEY §2.3 J3/J4, north_rule).
    """
    ex_min, ey_min, ex_max, ey_max = envelope(mp)
    if xmax < ex_min or xmin > ex_max or ymax < ey_min or ymin > ey_max:
        return False
    # polygon vertex in rect
    for poly in mp:
        for ring in poly:
            inside = (
                (ring[:, 0] >= xmin)
                & (ring[:, 0] <= xmax)
                & (ring[:, 1] >= ymin)
                & (ring[:, 1] <= ymax)
            )
            if inside.any():
                return True
    # rect corner in polygon
    cx = np.asarray([xmin, xmax, xmax, xmin])
    cy = np.asarray([ymin, ymin, ymax, ymax])
    if points_in_multipolygon(cx, cy, mp).any():
        return True
    # edge crossings
    rect = np.asarray(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
        dtype="f8",
    )
    rp1, rp2 = rect[:-1], rect[1:]
    for poly in mp:
        for ring in poly:
            r = ring
            if not (r[0] == r[-1]).all():
                r = np.vstack([r, r[:1]])
            if _segments_intersect(rp1, rp2, r[:-1], r[1:]).any():
                return True
    return False


def rects_intersect_multipolygon(xmin, ymin, xmax, ymax, mp, chunk=8192):
    """Batch :func:`rect_intersects_multipolygon`: bool (n,) for n rects
    against ONE multipolygon, fully vectorized (no per-rect Python).

    Same three-stage test as the scalar version — polygon vertex in rect,
    rect corner in polygon, edge crossings — each stage applied only to
    rects the cheaper stages haven't already decided, all as (rects x
    vertices/edges) numpy broadcasts.  ``chunk`` bounds the broadcast
    working set (chunk * 4 segments x ring edges booleans) so a 10^6-rect
    refine stays in cache-friendly blocks."""
    xmin = np.atleast_1d(np.asarray(xmin, dtype="f8"))
    ymin = np.atleast_1d(np.asarray(ymin, dtype="f8"))
    xmax = np.atleast_1d(np.asarray(xmax, dtype="f8"))
    ymax = np.atleast_1d(np.asarray(ymax, dtype="f8"))
    out = np.zeros(xmin.size, dtype=bool)
    ex_min, ey_min, ex_max, ey_max = envelope(mp)
    alive = ~(
        (xmax < ex_min) | (xmin > ex_max) | (ymax < ey_min) | (ymin > ey_max)
    )
    idx = np.nonzero(alive)[0]
    for s in range(0, idx.size, chunk):
        sel = idx[s : s + chunk]
        out[sel] = _rects_chunk(xmin[sel], ymin[sel], xmax[sel], ymax[sel], mp)
    return out


def _rects_chunk(xmin, ymin, xmax, ymax, mp):
    n = xmin.size
    hit = np.zeros(n, dtype=bool)
    # 1) any polygon vertex inside the rect
    for poly in mp:
        for ring in poly:
            vx, vy = ring[:, 0][None, :], ring[:, 1][None, :]
            inside = (
                (vx >= xmin[:, None])
                & (vx <= xmax[:, None])
                & (vy >= ymin[:, None])
                & (vy <= ymax[:, None])
            )
            hit |= inside.any(axis=1)
    # 2) any rect corner inside the polygon (undecided rects only)
    rem = np.nonzero(~hit)[0]
    if rem.size:
        cx = np.stack(
            [xmin[rem], xmax[rem], xmax[rem], xmin[rem]], axis=1
        ).ravel()
        cy = np.stack(
            [ymin[rem], ymin[rem], ymax[rem], ymax[rem]], axis=1
        ).ravel()
        inside = points_in_multipolygon(cx, cy, mp).reshape(-1, 4).any(axis=1)
        hit[rem[inside]] = True
    # 3) edge crossings (undecided rects only)
    rem = np.nonzero(~hit)[0]
    if rem.size:
        x0, y0, x1, y1 = xmin[rem], ymin[rem], xmax[rem], ymax[rem]
        corners = np.stack(
            [
                np.stack([x0, y0], axis=1),
                np.stack([x1, y0], axis=1),
                np.stack([x1, y1], axis=1),
                np.stack([x0, y1], axis=1),
                np.stack([x0, y0], axis=1),
            ],
            axis=1,
        )  # (r, 5, 2)
        rp1 = corners[:, :-1, :].reshape(-1, 2)  # (4r, 2)
        rp2 = corners[:, 1:, :].reshape(-1, 2)
        cross = np.zeros(rem.size, dtype=bool)
        for poly in mp:
            for ring in poly:
                r = ring
                if not (r[0] == r[-1]).all():
                    r = np.vstack([r, r[:1]])
                seg = _segments_intersect(rp1, rp2, r[:-1], r[1:])
                cross |= seg.any(axis=1).reshape(-1, 4).any(axis=1)
        hit[rem[cross]] = True
    return hit


def haversine_m(lat1, lng1, lat2, lng2):
    """Great-circle distance in meters (vectorized) — exact-distance step of
    the kNN join."""
    lat1, lng1, lat2, lng2 = (np.radians(np.asarray(v, dtype="f8")) for v in (lat1, lng1, lat2, lng2))
    dlat = lat2 - lat1
    dlng = lng2 - lng1
    a = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlng / 2) ** 2
    return 2 * R_EARTH * np.arcsin(np.sqrt(a))
