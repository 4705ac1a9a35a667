"""Serving-path queries — the reference server's routes re-expressed.

Route parity (server/src/main/scala/demo/Router.scala:52-59):
  /catalog                  -> :meth:`LayerService.catalog`
  /tiles/{l}/{z}/{x}/{y}    -> :meth:`LayerService.render_tile`   (+overzoom)
  /diff/{l}/{z}/{x}/{y}     -> :meth:`LayerService.render_diff`
  /mean/{l}/{op}            -> :meth:`LayerService.polygonal_mean`
  /series/{l}/{op}          -> :meth:`LayerService.time_series`

Point reads bypass Spark entirely — pruned pyarrow reads against the tiles
table (parquet footer min/max on cell_key/ts does what the reference's
ValueReader + SFC index does, TileReader.scala:12-21).  Analytics queries
(polygonal mean over large AOIs) can run either on the driver fast path or
as a Spark job via operators.joins.zonal_stats — same semantics, tested
equal.
"""

from __future__ import annotations

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


class LayerService:
    def __init__(self, cat: Catalog, spark=None, tile_cache_size: int = 256):
        self.cat = cat
        self.spark = spark
        self._meta_cache: dict = {}  # the TrieMap reader cache analog
        # (TileReader.scala:15-19)
        # decoded-tile FIFO cache (insertion-order eviction; size 0 = no
        # caching) — the local-cache analog of the reference's
        # downloaded-GeoTIFF cache (S3: LandsatInput fetches to local disk
        # once, re-reads for free); repeat point reads of a hot tile skip
        # the parquet scan AND the payload decode
        self._tile_cache: dict = {}
        self._tile_cache_size = tile_cache_size

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

    def _rg_index(self, layer: int, zoom: int):
        """Per-(layer, zoom, snapshot) row-group index: (ParquetFile
        handle, rg, cell_key min/max) from the parquet FOOTERS only — the
        ValueReader key-index analog (TileReader.scala:12-21).  Memory is
        O(row groups), never O(tiles), so it holds at 100-TB layers the
        same way the manifest stat-cache does."""
        import pyarrow.parquet as pq

        snap = self.cat.snapshot_id()
        ikey = (snap, layer, int(zoom))
        cached = getattr(self, "_rg_idx_cache", None)
        if cached is None:
            cached = self._rg_idx_cache = {}
        if ikey not in cached:
            for k in [k for k in list(cached) if k[0] != snap]:
                del cached[k]  # stale snapshots
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

    def _point_read(self, layer, zoom, x, y, time_millis):
        ckey = (self.cat.snapshot_id(), layer, zoom, x, y, time_millis)
        if ckey in self._tile_cache:
            return self._tile_cache[ckey]  # hot-tile fast path (S3 analog)
        key = int(cellindex.cell_key(zoom, x, y))
        ts64 = pd.Timestamp(time_millis, unit="ms").to_datetime64()
        # two-phase columnar point read: (1) LOCATE via the footer index +
        # a key-columns-only row-group read (a few longs — pays no payload
        # IO), then (2) read the `tile` column of exactly ONE row group.
        # The one-phase dataset filter scan decompressed every candidate
        # row group's tile chunks until it hit (measured 43-60 ms/read on
        # 31 SFC-overlapping files); this is ~1 payload chunk per read.
        out = None
        for pf, rg, lo, hi in self._rg_index(layer, zoom):
            if lo is not None and not (lo <= key <= hi):
                continue
            kc = pf.read_row_group(rg, columns=["cell_key", "ts"])
            ks = kc["cell_key"].to_numpy()
            tss = kc["ts"].to_numpy()
            hit = np.nonzero((ks == key) & (tss == ts64))[0]
            if hit.size:
                tile_col = pf.read_row_group(rg, columns=["tile"])
                out = kernels.decode_payload(tile_col["tile"][int(hit[0])].as_py())
                break
        if self._tile_cache_size > 0:
            if len(self._tile_cache) >= self._tile_cache_size:
                self._tile_cache.pop(next(iter(self._tile_cache)))  # FIFO evict
            self._tile_cache[ckey] = out
        return out

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

    def _query_tiles(self, layer, zoom, keys, time_millis):
        """Pruned multi-tile read: the collection-reader path
        (ReaderSet.scala:17, Router.scala:244-248)."""
        import pyarrow.dataset as ds

        flt = (
            (ds.field("layer") == layer)
            & (ds.field("zoom") == int(zoom))
            & (ds.field("cell_key").isin([int(k) for k in keys]))
        )
        if time_millis is not None:
            flt = flt & (ds.field("ts") == pd.Timestamp(time_millis, unit="ms"))
        return self.cat.read_arrow(
            "tiles",
            filters=flt,
            columns=["x", "y", "ts", "tile"],
            layer=layer,
            zoom=int(zoom),
        ).to_pandas()

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
            pdf = self._query_tiles(layer, zoom, keys, parse_time(t_iso))
            s_tot, c_tot = 0.0, 0
            for row in pdf.itertuples(index=False):
                ext = tiling.tile_extent(row.x, row.y, zoom)
                xs, ys = tiling.pixel_centers(*ext, 256, 256)
                mask = geom.grid_mask(xs, ys, mp)
                if not mask.any():
                    continue
                vals = op(kernels.decode_payload(row.tile))
                s, c = kernels.masked_sum_count(vals, mask)
                s_tot += s
                c_tot += c
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
        key = int(cellindex.cell_key(zoom, x, y))
        pdf = self._query_tiles(layer, zoom, [key], None)
        op = get_op(operation)["fn"]
        out = []
        ext = tiling.tile_extent(x, y, zoom)
        for row in pdf.itertuples(index=False):
            col, rown = tiling.raster_extent_map_to_grid(
                float(mx), float(my), *ext, 256, 256
            )
            col, rown = int(col), int(rown)
            if not (0 <= col < 256 and 0 <= rown < 256):
                continue
            val = float(op(kernels.decode_payload(row.tile))[rown, col])
            if not np.isnan(val):  # Router.scala:100 filterNot(_._2.isNaN)
                millis = int(pd.Timestamp(row.ts).value // 1_000_000)
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
