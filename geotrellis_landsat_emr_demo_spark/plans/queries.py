"""Serving-path queries — the reference server's routes re-expressed.

Route parity (server/src/main/scala/demo/Router.scala:52-59):
  /catalog                  -> :meth:`LayerService.catalog`
  /tiles/{l}/{z}/{x}/{y}    -> :meth:`LayerService.render_tile`   (+overzoom)
  /diff/{l}/{z}/{x}/{y}     -> :meth:`LayerService.render_diff`
  /mean/{l}/{op}            -> :meth:`LayerService.polygonal_mean`
  /series/{l}/{op}          -> :meth:`LayerService.time_series`

Every tile route reads the tiles table through one keyed read,
:meth:`LayerService._read_keys`, with no Spark job: an index of each row
group's cell_key min/max, built from the parquet footers, picks the row
groups that can hold a wanted key, and only those with a hit read their
payload — what the reference's ValueReader + SFC index does
(TileReader.scala:12-21, Router.scala:84-86,146-150).  Point reads add a
decoded-tile LRU cache.  Polygonal means over large AOIs can also run as
a Spark job via operators.joins.zonal_stats, which shares the per-tile
partial :func:`zonal_partial` — same semantics, tested equal.
"""

from __future__ import annotations

import functools
import json
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

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


class LayerService:
    def __init__(self, cat: Catalog, spark=None, tile_cache_size: int = 256):
        self.cat = cat
        self.spark = spark
        self._meta_cache: dict = {}  # the TrieMap reader cache analog
        # (TileReader.scala:15-19)
        self._rg_idx_cache: dict = {}
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

    def _rg_index(self, layer: str, zoom: int):
        """Per-(layer, zoom, snapshot) row-group index: (ParquetFile
        handle, rg, cell_key min/max) from the parquet FOOTERS only — the
        ValueReader key-index analog (TileReader.scala:12-21).  Both tile
        writers cap a row group at four tiles
        (``operators.ingest.TILE_WRITE_OPTIONS``), so the index holds
        O(tiles / 4) entries."""
        import pyarrow.parquet as pq

        snap = self.cat.snapshot_id()
        ikey = (snap, layer, int(zoom))
        cached = self._rg_idx_cache
        if ikey not in cached:
            for k in [k for k in list(cached) if k[0] != snap]:
                cached.pop(k, None)  # stale snapshots
            entries = []
            for path in self.cat.files("tiles", layer=layer, zoom=int(zoom)):
                pf = pq.ParquetFile(path)
                md = pf.metadata
                ci = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci["cell_key"]).statistics
                    lo, hi = (
                        (st.min, st.max)
                        if st is not None and st.has_min_max
                        else (None, None)
                    )
                    entries.append((pf, rg, lo, hi))
            cached[ikey] = entries
        return cached[ikey]

    def _read_keys(self, layer, zoom, keys, time_millis=None):
        """The one keyed tile read: (x, y, ts, payload) of every stored
        tile whose cell_key is in ``keys``, at ``time_millis`` (every time
        when None), in index order — file, row group, row, the order of a
        dataset scan over the same files.  The footer index skips row
        groups whose cell_key [min, max] holds no wanted key; the rest
        read only their ``cell_key, ts`` columns (a few longs, no payload
        IO); only row groups with a hit read their ``tile`` column."""
        want = np.unique(np.asarray(keys, dtype="i8"))
        if time_millis is not None:
            ts64 = pd.Timestamp(time_millis, unit="ms").to_datetime64()
        out = []
        for pf, rg, lo, hi in self._rg_index(layer, zoom):
            if lo is not None:
                i = np.searchsorted(want, lo)
                if i == want.size or want[i] > hi:
                    continue
            kc = pf.read_row_group(rg, columns=["cell_key", "ts"])
            ks, tss = kc["cell_key"].to_numpy(), kc["ts"].to_numpy()
            hit = np.isin(ks, want)
            if time_millis is not None:
                hit &= tss == ts64
            rows = np.nonzero(hit)[0]
            if rows.size:
                tiles = pf.read_row_group(rg, columns=["tile"])["tile"]
                _, xs, ys = cellindex.cell_decode(ks[rows])
                out.extend(
                    (int(x), int(y), tss[i], tiles[int(i)].as_py())
                    for x, y, i in zip(xs, ys, rows)
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
        if not operation:
            if self.is_landsat(layer):
                return png.encode_rgba(kernels.render_rgb(tile))
            return png.encode_rgba(kernels.render_rgb_8bit(tile))
        op = get_op(operation)
        return png.encode_rgba(kernels.classify(op["fn"](tile), op["ramp"]))

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
            val = float(op(kernels.decode_payload(payload))[rown, col])
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
