"""Static tile export — render a committed layer to a z/x/y PNG tree.

The reference serves tiles live (server/.../Router.scala:266-293, one
render per HTTP hit); the other deployment mode every tile service grows
is a STATIC export: render every (time, zoom, x, y) once and publish the
tree to a CDN/object store.  This sink renders distributed — a
``mapInPandas`` over the committed level scan, each task writing its
partition's PNGs (locally here; each executor writes its own prefix on
an object store) — and returns per-task metrics aggregated to one row,
so the job is a DataFrame with no driver-side pixel loop.

Both this sink and ``LayerService.render_tile`` render through
``plans.queries.render_png``, and pixel parity is tested: exported bytes
== ``render_tile`` output for the same keys.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..plans.queries import LayerService, render_png
from .ingest import read_level


def _render_fn(layer: str, operation: str | None, is_landsat: bool, out_dir: str):
    def fn(batches):
        # executor-side imports: keep the closure light
        from ..core import kernels

        for pdf in batches:
            n, nbytes = 0, 0
            for row in pdf.itertuples(index=False):
                data = render_png(kernels.decode_payload(row.tile), operation, is_landsat)
                tkey = pd.Timestamp(row.ts).strftime("%Y%m%dT%H%M%SZ")
                d = os.path.join(
                    out_dir, layer, operation or "rgb", tkey, str(row.zoom), str(row.x)
                )
                os.makedirs(d, exist_ok=True)
                # atomic publish: a reader (or a retried task — renders are
                # deterministic, so rewrites are idempotent) never sees a
                # torn PNG
                path = os.path.join(d, f"{row.y}.png")
                tmp = f"{path}.tmp-{os.getpid()}"
                with open(tmp, "wb") as f:
                    f.write(data)
                os.replace(tmp, path)
                n += 1
                nbytes += len(data)
            yield pd.DataFrame({"tiles": [n], "bytes": [nbytes]})

    return fn


def export_tiles(
    spark: SparkSession,
    cat: Catalog,
    layer: str,
    zoom: int,
    out_dir: str,
    operation: str | None = "ndvi",
    time_iso: str | None = None,
) -> dict:
    """Render every tile of ``(layer, zoom)`` (optionally one timestamp)
    into ``out_dir/<layer>/<op>/<time>/<zoom>/<x>/<y>.png``.  Returns
    {tiles, bytes}.  Distributed: the level scan is the only input, each
    task renders and writes its own partition, and the driver sees one
    metrics row per task.  The RGB branch follows the layer's cell type,
    as on the live server."""
    is_landsat = LayerService(cat).is_landsat(layer)
    df = read_level(spark, cat, layer, zoom)
    if time_iso is not None:
        df = df.filter(F.col("ts") == F.lit(pd.Timestamp(time_iso)))
    metrics = df.select("zoom", "x", "y", "ts", "tile").mapInPandas(
        _render_fn(layer, operation, is_landsat, os.path.abspath(out_dir)),
        schema="tiles long, bytes long",
    )
    row = metrics.agg(
        F.sum("tiles").alias("tiles"), F.sum("bytes").alias("bytes")
    ).collect()[0]
    return dict(tiles=int(row.tiles or 0), bytes=int(row.bytes or 0))
