"""ZXY / Web-Mercator pyramid tile math (closed form, vectorized).

Replaces the reference's ``ZoomedLayoutScheme(WebMercator, 256)``
(server/src/main/scala/demo/ReaderSet.scala:13, conf/output.json:19-21) and
the map<->grid transforms it uses at Router.scala:88-95 /
ReaderSet.scala:32-37.  Grid convention: XYZ (origin top-left, y grows
southward), 2^z x 2^z tiles per zoom, 256 px tiles — identical to
GeoTrellis's zoomed layout over EPSG:3857.

All functions accept scalars or numpy arrays.
"""

from __future__ import annotations

import numpy as np

R_EARTH = 6378137.0
ORIGIN = np.pi * R_EARTH          # 20037508.342789244
WORLD = 2.0 * ORIGIN              # full mercator world span in meters
TILE_SIZE = 256


def tile_span(zoom):
    """Meters covered by one tile edge at ``zoom``."""
    return WORLD / (1 << zoom)


def map_to_tile(x, y, zoom):
    """Mercator meters -> integer tile (col, row) at ``zoom``.

    Mirrors mapTransform(point)->key (Router.scala:88-95). Points exactly on
    the right/bottom world edge clamp into the last tile.
    """
    n = 1 << zoom
    span = WORLD / n

    def snap_floor(v):
        # points mathematically on a tile edge can land 1 ulp below it;
        # snap to the edge before flooring so edge points go to the tile
        # whose min-edge they sit on (half-open grid semantics)
        vr = np.rint(v)
        v = np.where(np.abs(v - vr) < 1e-9, vr, v)
        return np.floor(v).astype("i8")

    col = snap_floor((np.asarray(x, dtype="f8") + ORIGIN) / span)
    row = snap_floor((ORIGIN - np.asarray(y, dtype="f8")) / span)
    return np.clip(col, 0, n - 1), np.clip(row, 0, n - 1)


def tile_extent(col, row, zoom):
    """Tile (col,row,zoom) -> mercator extent (xmin, ymin, xmax, ymax).

    Mirrors mapTransform(key)->extent (ReaderSet.scala:32-37).
    """
    span = WORLD / (1 << zoom)
    col = np.asarray(col, dtype="f8")
    row = np.asarray(row, dtype="f8")
    xmin = -ORIGIN + col * span
    ymax = ORIGIN - row * span
    return xmin, ymax - span, xmin + span, ymax


def extent_to_tile_range(xmin, ymin, xmax, ymax, zoom):
    """Inclusive tile-range (c0, r0, c1, r1) covering a mercator extent.

    This is the key-cover enumeration GeoTrellis performs internally when it
    converts Intersects(extent) into SFC ranges (Router.scala:85,148-149).
    Extents touching a tile boundary do NOT spill into the next tile on the
    max edge (half-open semantics), matching split(cropped=false) chunk
    assignment.
    """
    n = 1 << zoom
    span = WORLD / n
    eps = span * 1e-9
    c0 = int(np.floor((xmin + ORIGIN) / span))
    c1 = int(np.floor((xmax + ORIGIN - eps) / span))
    r0 = int(np.floor((ORIGIN - ymax) / span))
    r1 = int(np.floor((ORIGIN - ymin - eps) / span))
    clamp = lambda v: max(0, min(n - 1, v))
    return clamp(c0), clamp(r0), clamp(c1), clamp(r1)


def raster_extent_map_to_grid(px, py, xmin, ymin, xmax, ymax, cols, rows):
    """Point in mercator meters -> (col, row) pixel indices of a raster grid.

    Mirrors RasterExtent.mapToGrid (used for the per-pixel time series,
    Router.scala:88-95): pixel (0,0) is the top-left cell, index = floor of
    the offset in cell units.
    """
    cw = (xmax - xmin) / cols
    ch = (ymax - ymin) / rows
    col = np.floor((np.asarray(px, dtype="f8") - xmin) / cw).astype("i8")
    row = np.floor((ymax - np.asarray(py, dtype="f8")) / ch).astype("i8")
    return col, row


def pixel_centers(xmin, ymin, xmax, ymax, cols, rows):
    """Mercator coordinates of every pixel center of a grid, as (xs, ys)
    1-D arrays (xs len=cols, ys len=rows, ys descending = row order).

    Used by the zonal-mask rasterization (polygonalMean's cell-center-in-
    polygon semantics, Router.scala:151).
    """
    cw = (xmax - xmin) / cols
    ch = (ymax - ymin) / rows
    xs = xmin + (np.arange(cols, dtype="f8") + 0.5) * cw
    ys = ymax - (np.arange(rows, dtype="f8") + 0.5) * ch
    return xs, ys
