"""COG archive source: AOI-windowed scene reads as a DataFrame.

The reference ingest fetches WHOLE band GeoTIFFs from S3 per scene
(``ingest/src/main/scala/demo/etl/landsat/LandsatInput.scala:23-27``)
and crops afterwards.  Against a 100 TB archive that reads ~the whole
archive to answer an AOI query; the COG layout (core.cog) moves the
crop into the read, so each task costs

    1 header range-read  +  a few coalesced tile range-reads

per file, proportional to the AOI, not the archive.  This module is the
Spark half: a slim ``paths`` relation is distributed, every executor
opens its files through the :class:`core.cog.RangeReader` seam —
``http(s)://`` entries dispatch to :class:`core.cog.HttpRangeReader`
(GET-Range with retries, one-request headers, latency-priced
coalescing: the S3 shape of LandsatInput.scala:23-27), local paths to
the file reader — and only the windowed pixels ride the DataFrame.

Plan shape (100 TB):
- the paths relation is metadata-only (no payloads) — repartitioned by
  file so header+window reads spread across executors;
- the AOI pre-filter runs where possible BEFORE opening files (when the
  paths relation carries extent columns, a Catalyst range predicate
  prunes non-intersecting files without any I/O — the same two-phase
  candidate/verify split as operators.joins.pip_join);
- rows that survive carry the window payload once; no shuffle happens
  in this source (ingest's merge is the first wide stage downstream).
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import cog, kernels, proj

INVENTORY_SCHEMA = (
    "path string, width int, height int, n_levels int, tile_w int, "
    "tile_h int, dtype string, crs string, xmin double, ymin double, "
    "xmax double, ymax double, mxmin double, mymin double, mxmax double, "
    "mymax double, file_bytes long, header_bytes long"
)

SCENES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, nbands int, fmt string, "
    "caption string, ts timestamp, ts_millis long, xmin double, "
    "ymin double, xmax double, ymax double, crs string, level int, "
    "bytes_read long, file_bytes long, path string"
)


def _paths_df(spark: SparkSession, paths, n: int | None = None) -> DataFrame:
    """list[str] | DataFrame -> slim relation with a ``path`` column,
    spread one-file-per-partition-ish so per-file I/O parallelizes.
    ``n``: the relation's row count, when the caller has counted it."""
    if isinstance(paths, DataFrame):
        df = paths
    else:
        df = spark.createDataFrame([(p,) for p in paths], "path string")
    if n is None:
        n = df.count()
    par = min(max(1, n), spark.sparkContext.defaultParallelism * 4)
    return df.repartition(par)


def cog_inventory(spark: SparkSession, paths) -> DataFrame:
    """Header-only scan of a COG archive -> one metadata row per file.

    Each task reads only the IFD chain (~64 KiB/file), never pixels —
    the 100 TB equivalent of listing an S3 prefix and HEAD/Range-reading
    headers.  The result is the slim relation AOI queries pre-filter on."""

    def fn(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                rd = cog.open_range_reader(path)
                info = cog.parse_chain(rd)
                lv = info.levels[0]
                ext = info.extent or (0.0, 0.0, float(lv.width), float(lv.height))
                mext = proj.extent_to_mercator(ext, info.crs)
                rows.append(
                    dict(
                        path=path, width=lv.width, height=lv.height,
                        n_levels=len(info.levels), tile_w=lv.tile_w,
                        tile_h=lv.tile_h,
                        dtype=str(np.dtype(lv.dtype.str[1:])),
                        crs=info.crs,
                        xmin=ext[0], ymin=ext[1], xmax=ext[2], ymax=ext[3],
                        mxmin=mext[0], mymin=mext[1],
                        mxmax=mext[2], mymax=mext[3],
                        file_bytes=rd.size(), header_bytes=rd.bytes_read,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[c.split()[0] for c in INVENTORY_SCHEMA.split(", ")],
            )

    return _paths_df(spark, paths).mapInPandas(fn, INVENTORY_SCHEMA)


def cog_scenes(
    spark: SparkSession,
    paths,
    aoi=None,
    resolution: float | None = None,
    fmt: str = "npy-u16-z",
) -> DataFrame:
    """COG files -> images-table-shaped scene rows, windowed to ``aoi``.

    ``paths``: list of file paths, or a DataFrame with a ``path`` column
    and optional ``image_id`` / ``ts_millis`` / ``caption`` columns
    (passed through; defaults derive from the filename).  When the
    DataFrame also carries ``mxmin..mymax`` envelope columns (e.g. a
    persisted :func:`cog_inventory`), non-intersecting files are pruned
    by a Catalyst predicate BEFORE any file is opened.

    ``aoi``: EPSG:3857 extent; only tiles intersecting it are fetched
    and only the windowed pixels are returned (extent columns describe
    the window, in the file CRS).  ``resolution``: ground units/pixel —
    reads drop to the coarsest sufficient overview, so a low-zoom query
    over a 100 TB archive fetches kilobytes per file.

    Output ``bytes`` is an engine payload (``fmt``), bands-first, ready
    for :func:`operators.ingest.ingest_images`; samples are cast to the
    engine's uint16 cell type.  ``bytes_read``/``file_bytes`` account
    the range-read cost per row (the test gate for the <<file-size
    property)."""
    return _scenes(_paths_df(spark, paths), aoi, resolution, fmt)


def _scenes(df: DataFrame, aoi, resolution: float | None, fmt: str) -> DataFrame:
    """:func:`cog_scenes` over a :func:`_paths_df` relation."""
    have = set(df.columns)
    if aoi is not None and {"mxmin", "mymin", "mxmax", "mymax"} <= have:
        axmin, aymin, axmax, aymax = (float(v) for v in aoi)
        df = df.filter(
            (F.col("mxmin") <= axmax) & (F.col("mxmax") >= axmin)
            & (F.col("mymin") <= aymax) & (F.col("mymax") >= aymin)
        )
    meta_cols = [c for c in ("image_id", "ts_millis", "caption") if c in have]

    def fn(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                path = row.path
                rd = cog.open_range_reader(path)
                try:
                    reader = cog.CogReader(rd)
                except (NotImplementedError, ValueError):
                    continue  # foreign layout: not this source's job
                info = reader.info
                ext = info.extent
                if ext is None:
                    continue
                if aoi is not None:
                    mext = proj.extent_to_mercator(ext, info.crs)
                    if not (
                        mext[0] <= aoi[2] and mext[2] >= aoi[0]
                        and mext[1] <= aoi[3] and mext[3] >= aoi[1]
                    ):
                        continue
                    want = proj.extent_from_mercator(aoi, info.crs)
                    want = (
                        max(want[0], ext[0]), max(want[1], ext[1]),
                        min(want[2], ext[2]), min(want[3], ext[3]),
                    )
                    if want[0] >= want[2] or want[1] >= want[3]:
                        continue
                else:
                    want = ext
                try:
                    arr, actual, level = reader.window_by_extent(
                        want, resolution=resolution
                    )
                except ValueError:
                    continue
                arr = kernels.bands_u16(arr)
                image_id = (
                    getattr(row, "image_id", None)
                    or os.path.splitext(os.path.basename(path))[0]
                )
                ts_millis = int(getattr(row, "ts_millis", 0) or 0)
                rows.append(
                    dict(
                        image_id=image_id,
                        bytes=kernels.encode_payload(arr, fmt),
                        w=arr.shape[2], h=arr.shape[1],
                        nbands=arr.shape[0], fmt=fmt,
                        caption=str(getattr(row, "caption", "") or ""),
                        ts=pd.Timestamp(ts_millis, unit="ms"),
                        ts_millis=ts_millis,
                        xmin=actual[0], ymin=actual[1],
                        xmax=actual[2], ymax=actual[3],
                        crs=info.crs, level=level,
                        bytes_read=rd.bytes_read, file_bytes=rd.size(),
                        path=path,
                    )
                )
            yield pd.DataFrame(
                rows, columns=[c.split()[0] for c in SCENES_SCHEMA.split(", ")]
            )

    out_cols = [c.split()[0] for c in SCENES_SCHEMA.split(", ")]
    return (
        df.select("path", *meta_cols)
        .mapInPandas(fn, SCENES_SCHEMA)
        .select(*out_cols)
    )


def cog_sync(
    spark: SparkSession,
    cat,
    layer: str,
    paths,
    aoi=None,
    resolution: float | None = None,
    max_zoom: int = 13,
    fmt: str = "npy-u16-z",
    store_fmt: str = "npy-u16",
) -> dict:
    """One archive->layer sync pass: ingest COG files not yet seen.

    The crawl front door for a growing scene archive: each pass discovers
    files absent from the ``cog_seen`` lineage table (left-anti join — an
    O(|new|) probe, never an in-list of history), window-reads them
    (:func:`cog_scenes`, sized by the one count of them this pass takes),
    appends images + lineage in ONE atomic commit, then runs the
    batch-incremental tile rebuild
    (:func:`streaming.incremental.incremental_ingest`), which has its own
    ``scenes_seen`` lineage.  Exactly-once across crashes: dying between
    the two commits leaves the new images appended-but-unprocessed, and
    the next pass's incremental ingest picks exactly those up.

    Returns ``{"new_files": n, **ingest_metrics}``.
    """
    from pyspark.sql import Row

    from ..streaming.incremental import incremental_ingest

    if not isinstance(paths, DataFrame):
        paths = spark.createDataFrame([Row(path=p) for p in paths])
    try:
        seen = (
            cat.read_spark(spark, "cog_seen")
            .filter(F.col("layer") == layer)
            .select("path")
        )
        new = paths.join(seen, "path", "left_anti")
    except FileNotFoundError:
        new = paths
    new = new.localCheckpoint(eager=True)  # one listing, reused 3x below
    n_new = new.count()
    if n_new == 0:
        return {"new_files": 0}
    # One pass over the archive: spool the windowed scene rows (WITH their
    # source path) to a temp parquet, then project images + lineage from
    # the spool.  Lineage records ONLY paths that produced scene rows —
    # a file this pass skipped (AOI miss, foreign layout, no geo) must
    # stay unseen so a later pass with a different/no AOI can ingest it
    # (silent-omission fix; an AOI-missed file costs one header re-probe
    # per pass, never a pixel read).
    scenes = _scenes(_paths_df(spark, new, n_new), aoi, resolution, fmt)
    spool = os.path.join(cat.root, f"_cogsync-{uuid.uuid4().hex}")
    try:
        scenes.write.parquet(spool)
        scenes = spark.read.parquet(spool)
        images_rows = scenes.select(
            "image_id", "bytes", "w", "h", "fmt", "caption",
            F.xxhash64("bytes").alias("phash"),
            "ts", "ts_millis", "xmin", "ymin", "xmax", "ymax", "crs", "nbands",
            F.lit(None).cast("double").alias("cloud_cover"),
        )
        files = cat.stage_spark_write(images_rows, "images")
        seen_adds = cat.stage_spark_write(
            scenes.select(F.lit(layer).alias("layer"), "path").distinct(),
            "cog_seen",
        )
    finally:
        shutil.rmtree(spool, ignore_errors=True)
    cat.commit({"images": files, "cog_seen": seen_adds})
    out = incremental_ingest(
        spark, cat, layer, max_zoom=max_zoom, store_fmt=store_fmt
    )
    out["new_files"] = n_new
    return out
