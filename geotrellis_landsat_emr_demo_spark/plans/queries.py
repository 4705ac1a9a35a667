"""Serving-path queries — the reference server's routes re-expressed.

Route parity (server/src/main/scala/demo/Router.scala:52-59):
  /catalog                  -> :meth:`LayerService.catalog`
  /tiles/{l}/{z}/{x}/{y}    -> :meth:`LayerService.render_tile`   (+overzoom)
  /diff/{l}/{z}/{x}/{y}     -> :meth:`LayerService.render_diff`
  /mean/{l}/{op}            -> :meth:`LayerService.polygonal_mean`
  /series/{l}/{op}          -> :meth:`LayerService.time_series`

Every tile route reads the tiles table through one keyed read,
:meth:`LayerService._read_keys`, with no Spark job: a row-level key index
(:class:`_KeyIndex`, every row's cell_key and ts, built once per snapshot,
layer and zoom) finds the rows of the wanted keys by binary search, and
only the ``tile`` column of the row groups holding them is read — one
tile per row group, so a hit decompresses only its own payload, what
the reference's ValueReader + SFC index does (TileReader.scala:12-21,
Router.scala:84-86,146-150).  A key that is not stored reads nothing.
Point reads add a decoded-tile LRU cache.  The /mean mask is the scanline
:func:`geom.grid_mask`.  Polygonal means over large AOIs can also run as
a Spark job via operators.joins.zonal_stats, which shares the per-tile
partial :func:`zonal_partial` — same semantics, tested equal.
"""

from __future__ import annotations

import functools
import json
import threading
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from ..catalog import Catalog
from ..core import cellindex, geom, kernels, png, tiling
from ..functions.registry import get_op

TIME_FMT = "%Y-%m-%dT%H:%M:%S%z"  # Router.scala:33 dateTimeFormat


def parse_time(s: str) -> int:
    """ISO string (yyyy-MM-dd'T'HH:mm:ssZ) -> epoch millis."""
    s = s.replace("Z", "+0000")
    return int(datetime.strptime(s, TIME_FMT).timestamp() * 1000)


def format_time_utc_minus4(millis: int) -> str:
    """The reference renders catalog times at UTC-4
    (ZoneOffset.ofHours(-4), Router.scala:201) — quirk preserved."""
    dt = datetime.fromtimestamp(millis / 1000, tz=timezone(timedelta(hours=-4)))
    return dt.strftime("%Y-%m-%dT%H:%M:%S%z")


def zonal_partial(payload: bytes, x: int, y: int, zoom: int, mp, op):
    """(sum, count) of ``op`` over the tile's pixels whose centres lie in
    the mercator multipolygon ``mp``, or None when none does — the
    per-tile partial of polygonalMean (Router.scala:151,162)."""
    xs, ys = tiling.pixel_centers(*tiling.tile_extent(x, y, zoom), 256, 256)
    mask = geom.grid_mask(xs, ys, mp)
    if not mask.any():
        return None
    return kernels.masked_sum_count(op(kernels.decode_payload(payload)), mask)


def render_png(tile: np.ndarray, operation: str | None, is_landsat: bool) -> bytes:
    """The /tiles render (Router.scala:266-293): RGB when no operation —
    the Landsat clamp/normalize chain or the 8-bit mask branch
    (Render.scala:21,35-49) — else the op's color-mapped index.  Shared
    by the live route and the static export."""
    if not operation:
        rgb = kernels.render_rgb(tile) if is_landsat else kernels.render_rgb_8bit(tile)
        return png.encode_rgba(rgb)
    op = get_op(operation)
    return png.encode_rgba(kernels.classify(op["fn"](tile), op["ramp"]))


class _KeyIndex:
    """Row-level key index of one layer zoom's tile files: every row's
    cell_key and ts, sorted by key, with the row's position in index
    order (file, row group, row — the order of a dataset scan over the
    files) and per row group its file and first position.  Built from one
    ``cell_key, ts`` read per file; each file is kept as (path, footer
    metadata), so a payload read opens its own handle without re-reading
    the footer.

    Memory is 24 bytes per tile (key, ts, position) plus a row-group
    start per tile (the tiles table holds one tile per row group); in
    exchange a lookup reads no key column and no footer statistics, and a
    key that is not stored reads nothing."""

    def __init__(self, paths: list[str]):
        self.files, keys, ts, rg_start, rg_file, rg_num = [], [], [], [], [], []
        n = 0
        for path in paths:
            with pq.ParquetFile(path) as pf:
                md = pf.metadata
                kc = pf.read(columns=["cell_key", "ts"])
            keys.append(kc["cell_key"].to_numpy())
            ts.append(kc["ts"].to_numpy())
            for rg in range(md.num_row_groups):
                rg_start.append(n)
                rg_file.append(len(self.files))
                rg_num.append(rg)
                n += md.row_group(rg).num_rows
            self.files.append((path, md))
        key = np.concatenate(keys) if keys else np.empty(0, "i8")
        self.pos = np.argsort(key, kind="stable")
        self.key = key[self.pos]
        self.ts = (np.concatenate(ts) if ts else np.empty(0, "M8[ns]"))[self.pos]
        self.rg_start = np.asarray(rg_start, dtype="i8")
        self.rg_file, self.rg_num = rg_file, rg_num

    def lookup(self, keys, time_millis=None):
        """Per row group holding a hit, in index order: (path, footer
        metadata, row group, cell_keys, ts, rows) of the rows whose
        cell_key is in ``keys`` and, unless ``time_millis`` is None, whose
        ts is that time."""
        want = np.unique(np.asarray(keys, dtype="i8"))
        lo = np.searchsorted(self.key, want, "left")
        n = np.searchsorted(self.key, want, "right") - lo
        sel = np.arange(n.sum()) + np.repeat(lo - (np.cumsum(n) - n), n)
        if time_millis is not None:
            sel = sel[self.ts[sel] == pd.Timestamp(time_millis, unit="ms").to_datetime64()]
        sel = sel[np.argsort(self.pos[sel])]  # back to index order
        pos = self.pos[sel]
        g = np.searchsorted(self.rg_start, pos, "right") - 1
        for part in np.split(np.arange(sel.size), np.flatnonzero(np.diff(g)) + 1):
            if part.size:
                gi = g[part[0]]
                path, md = self.files[self.rg_file[gi]]
                rows = pos[part] - self.rg_start[gi]
                yield path, md, self.rg_num[gi], self.key[sel[part]], self.ts[sel[part]], rows


class LayerService:
    def __init__(self, cat: Catalog, spark=None, tile_cache_size: int = 256):
        self.cat = cat
        self.spark = spark
        self._meta_cache: dict = {}  # the TrieMap reader cache analog
        # (TileReader.scala:15-19)
        self._key_idx_cache: dict = {}
        self._key_idx_lock = threading.Lock()
        # decoded-tile LRU cache (size 0 = no caching; thread-safe) — the
        # local-cache analog of the reference's downloaded-GeoTIFF cache
        # (S3: LandsatInput fetches to local disk once, re-reads for free);
        # repeat point reads of a hot tile skip the parquet read AND the
        # payload decode
        self._tile_cache = functools.lru_cache(maxsize=tile_cache_size)(self._read_one)

    # ------------------------------------------------------------ metadata

    def _attrs(self, layer: str) -> dict:
        if layer not in self._meta_cache:
            pdf = self.cat.read_pandas("layer_attrs")
            rows = pdf[pdf["layer"] == layer]
            if rows.empty:
                raise KeyError(f"no such layer: {layer}")
            self._meta_cache[layer] = {
                r["name"]: json.loads(r["json"]) for _, r in rows.iterrows()
            }
        return self._meta_cache[layer]

    def max_zoom(self, layer: str) -> int:
        return int(self._attrs(layer)["layout"]["max_zoom"])

    def is_landsat(self, layer: str) -> bool:
        """Render-branch dispatch (Render.scala:21 cellType test; the
        reference's Router.scala:49 name heuristic is the same idea):
        uint16 layers take the Landsat clamp/normalize chain, 8-bit layers
        the Planet mask branch."""
        return self._attrs(layer)["layout"].get("cell_type", "uint16") == "uint16"

    def layers(self) -> list[str]:
        pdf = self.cat.read_pandas("layer_attrs", columns=["layer"])
        return sorted(pdf["layer"].unique().tolist())

    def catalog(self) -> dict:
        """The /catalog response (Router.scala:178-221): sorted layers, each
        with LatLng extent [[xmin,ymin],[xmax,ymax]] and UTC-4 times."""
        out = []
        for name in self.layers():
            attrs = self._attrs(name)
            ext = attrs["extent"]
            lng0, lat0 = geom.mercator_to_lnglat(ext["xmin"], ext["ymin"])
            lng1, lat1 = geom.mercator_to_lnglat(ext["xmax"], ext["ymax"])
            times = sorted(attrs["times"])
            out.append(
                dict(
                    name=name,
                    extent=[
                        [float(lng0), float(lat0)],
                        [float(lng1), float(lat1)],
                    ],
                    times=[format_time_utc_minus4(t) for t in times],
                    isLandsat=self.is_landsat(name),
                )
            )
        return {"layers": out}

    # ---------------------------------------------------------- tile reads

    def read_tile(self, layer: str, zoom: int, x: int, y: int, time_millis: int):
        """Single-tile point read with overzoom (ReaderSet.scala:52-79).

        Returns (bands, 256, 256) uint16 or None (missing key -> None ->
        HTTP empty, ReaderSet.scala:76-79)."""
        z = self.max_zoom(layer)
        if zoom > z:
            # overzoom: read the maxZoom tile containing the request tile's
            # center and bilinear-resample the sub-window
            req_ext = tiling.tile_extent(x, y, zoom)
            cx = (req_ext[0] + req_ext[2]) / 2
            cy = (req_ext[1] + req_ext[3]) / 2
            nx, ny = (int(v) for v in tiling.map_to_tile(cx, cy, z))
            src = self._point_read(layer, z, nx, ny, time_millis)
            if src is None:
                return None
            src_ext = tiling.tile_extent(nx, ny, z)
            return kernels.regrid_to_extent(src, src_ext, req_ext, (256, 256))
        return self._point_read(layer, zoom, x, y, time_millis)

    def _key_index(self, layer: str, zoom: int) -> _KeyIndex:
        """The per-(snapshot, layer, zoom) row-level key index — the
        ValueReader + SFC index analog (TileReader.scala:12-21) — built
        once, under a lock, with one ``cell_key, ts`` read per file; a new
        snapshot drops the old snapshot's indexes."""
        snap = self.cat.snapshot_id()
        ikey = (snap, layer, int(zoom))
        idx = self._key_idx_cache.get(ikey)
        if idx is None:
            with self._key_idx_lock:
                idx = self._key_idx_cache.get(ikey)
                if idx is None:
                    for k in [k for k in self._key_idx_cache if k[0] != snap]:
                        del self._key_idx_cache[k]  # stale snapshots
                    idx = _KeyIndex(self.cat.files("tiles", layer=layer, zoom=int(zoom)))
                    self._key_idx_cache[ikey] = idx
        return idx

    def _read_keys(self, layer, zoom, keys, time_millis=None):
        """The one keyed tile read: (x, y, ts, payload) of every stored
        tile whose cell_key is in ``keys``, at ``time_millis`` (every time
        when None), in index order — file, row group, row, the order of a
        dataset scan over the same files.  The key index finds the rows;
        only the ``tile`` column of the row groups holding them is read,
        on the calling thread (one column chunk of one tile: handing it to
        Arrow's thread pool costs more than it saves), and a key that is
        not stored reads nothing.  Payloads are zero-copy ``pyarrow.Buffer``
        views of the read; :func:`kernels.decode_payload` returns arrays
        that own their pixels, so the tile cache pins no Arrow buffer."""
        out = []
        for path, md, rg, ks, tss, rows in self._key_index(layer, zoom).lookup(keys, time_millis):
            with pq.ParquetFile(path, metadata=md) as pf:
                tiles = pf.read_row_group(rg, columns=["tile"], use_threads=False)["tile"]
            _, xs, ys = cellindex.cell_decode(ks)
            out.extend(
                (int(x), int(y), t, tiles[int(r)].as_buffer())
                for x, y, t, r in zip(xs, ys, tss, rows)
            )
        return out

    def _read_one(self, snapshot, layer, zoom, x, y, time_millis):
        """One decoded tile or None; ``snapshot`` only keys the tile cache,
        so a new commit misses it."""
        hits = self._read_keys(layer, zoom, [cellindex.cell_key(zoom, x, y)], time_millis)
        return kernels.decode_payload(hits[0][3]) if hits else None

    def _point_read(self, layer, zoom, x, y, time_millis):
        return self._tile_cache(self.cat.snapshot_id(), layer, zoom, x, y, time_millis)

    # ------------------------------------------------------------- renders

    def render_tile(
        self, layer: str, zoom: int, x: int, y: int, time: str, operation: str | None = None
    ) -> bytes | None:
        """/tiles route (Router.scala:266-293): RGB when no operation, else
        the op's color-mapped index. Returns PNG bytes."""
        tile = self.read_tile(layer, zoom, x, y, parse_time(time))
        if tile is None:
            return None
        return render_png(tile, operation, self.is_landsat(layer))

    def render_diff(
        self, layer: str, zoom: int, x: int, y: int, time1: str, time2: str, operation: str
    ) -> bytes | None:
        """/diff route (Router.scala:300-335): inner join on the key — both
        times must exist (Option.flatMap), diff = op(t1) - op(t2)."""
        t1 = self.read_tile(layer, zoom, x, y, parse_time(time1))
        t2 = self.read_tile(layer, zoom, x, y, parse_time(time2))
        if t1 is None or t2 is None:
            return None
        op = get_op(operation)
        diff = op["fn"](t1) - op["fn"](t2)
        return png.encode_rgba(kernels.classify(diff, op["diff_ramp"]))

    # ----------------------------------------------------------- analytics

    def polygonal_mean(
        self,
        layer: str,
        operation: str,
        geojson,
        time: str,
        other_time: str | None = None,
        zoom: int | None = None,
    ) -> float:
        """/mean route (Router.scala:113-168): zonal mean of the op index
        under the polygon (LatLng GeoJSON), optionally mean(t1) - mean(t2).
        NaN when no cells intersect."""
        zoom = zoom or self.max_zoom(layer)
        mp = geom.reproject_multipolygon(geom.parse_geojson(geojson), forward=True)
        env = geom.envelope(mp)
        keys = cellindex.cover_extent(zoom, *env)
        op = get_op(operation)["fn"]

        def one(t_iso):
            s_tot, c_tot = 0.0, 0
            for x, y, _, payload in self._read_keys(layer, zoom, keys, parse_time(t_iso)):
                part = zonal_partial(payload, x, y, zoom, mp, op)
                if part is not None:
                    s_tot += part[0]
                    c_tot += part[1]
            return s_tot / c_tot if c_tot else float("nan")

        if other_time:
            return one(time) - one(other_time)  # Router.scala:153-165
        return one(time)

    def time_series(
        self, layer: str, operation: str, lat: float, lng: float, zoom: int | None = None
    ) -> list[tuple[str, float]]:
        """/series route (Router.scala:61-108): per-pixel value of the op
        index at every stored time; NaN values dropped (Router.scala:100)."""
        zoom = zoom or self.max_zoom(layer)
        mx, my = geom.lnglat_to_mercator(lng, lat)
        x, y = (int(v) for v in tiling.map_to_tile(float(mx), float(my), zoom))
        op = get_op(operation)["fn"]
        col, rown = tiling.raster_extent_map_to_grid(
            float(mx), float(my), *tiling.tile_extent(x, y, zoom), 256, 256
        )
        col, rown = int(col), int(rown)
        if not (0 <= col < 256 and 0 <= rown < 256):
            return []
        out = []
        for _, _, ts, payload in self._read_keys(layer, zoom, [cellindex.cell_key(zoom, x, y)]):
            pixel = kernels.decode_payload(payload)[:, rown : rown + 1, col : col + 1]
            val = float(op(pixel)[0, 0])
            if not np.isnan(val):  # Router.scala:100 filterNot(_._2.isNaN)
                millis = int(pd.Timestamp(ts).value // 1_000_000)
                out.append((format_time_utc_minus4(millis), val))
        out.sort(key=lambda p: p[0])
        return out

    def read_all_count(self, layer: str, zoom: int | None = None) -> int:
        """The readall benchmark probe (Router.scala:224-264): count of all
        tiles in a layer at max zoom via the pruned driver read."""
        import pyarrow.dataset as ds

        zoom = zoom or self.max_zoom(layer)
        flt = (ds.field("layer") == layer) & (ds.field("zoom") == int(zoom))
        return self.cat.read_arrow(
            "tiles", filters=flt, columns=["x"], layer=layer, zoom=int(zoom)
        ).num_rows

    def read_all_bench(self, layer: str, zoom: int, reps: int = 20) -> list[dict]:
        """The full readall probe (Router.scala:224-264): per repetition,
        time BOTH the distributed count (Spark job over the pruned layer
        scan — the reference's layerReader RDD path) and the collection
        read (driver arrow scan, no job — layerCReader).  Needs the
        service's optional SparkSession for the job path; falls back to
        collection-only when serving Spark-free."""
        import time as _time

        # resolve the manifest's file list ONCE per bench, not per rep —
        # the reference's readall likewise resolves its LayerId once
        # (Router.scala:237-243); re-listing per rep measured manifest
        # parsing, not the read path
        files = self.cat.files("tiles", layer=layer, zoom=int(zoom))
        out = []
        for i in range(1, reps + 1):
            row: dict = {"n": str(i)}
            if self.spark is not None:
                # imported here so the collection-only path (a serving
                # process without pyspark installed) never needs pyspark
                from pyspark.sql import functions as _F

                t0 = _time.time()
                cnt = (
                    self.spark.read.parquet(*files)
                    .filter(
                        (_F.col("layer") == layer) & (_F.col("zoom") == int(zoom))
                    )
                    .count()
                )
                row["obj_rdd"] = int(cnt)
                row["time_rdd"] = f"{(_time.time() - t0) * 1000:,.0f}"
            t0 = _time.time()
            row["obj_collection"] = int(self.read_all_count(layer, int(zoom)))
            row["time_collection"] = f"{(_time.time() - t0) * 1000:,.0f}"
            out.append(row)
        return out
