"""Distributed spatial joins on cell keys (north_rule core).

The reference's joins are all equality joins on space-time keys after
mapping geometry -> keys (SURVEY §2.3); these operators make that explicit
and add the kNN generalization:

- :func:`with_cover_cells`   footprint -> covering (cx, cy) rows, computed
  entirely in Catalyst (sequence + explode on floor arithmetic) — the
  scan side never leaves the JVM, so the only Python is the small refine.
- :func:`pip_join`           scene footprints x AOI polygons: broadcast the
  AOI covering cells, equi-join, exact rectangle-x-polygon refine in an
  Arrow batch (J3/J4; Router.scala:146-151).
- :func:`knn_join`           k nearest scenes per query point via expanding
  Morton k-rings + window top-k (SURVEY §2.3 kNN).
- :func:`zonal_stats`        raster<->vector zonal mean over tile pixels
  (polygonalMean, Router.scala:151,162) as a partial+final aggregation.
- :func:`diff_join`          two-date self equi-join per tile key
  (Router.scala:300-335) with per-tile change statistics.

Scale notes: the AOI/point side is always tiny relative to the scene/tile
side -> broadcast; the big side is never shuffled for PIP/zonal (the join
is map-side). Hot cells (many scenes on one key) are handled by AQE skew
splitting; the merge-side salting lives in operators.ingest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import geom, kernels, tiling
from ..functions.registry import get_op
from ..plans.queries import parse_time, zonal_partial


def with_mercator_envelope(df: DataFrame) -> DataFrame:
    """Normalize footprint columns (xmin..ymax) to EPSG:3857.

    Rows whose ``crs`` is already 3857 (or frames without a crs column)
    pass through unchanged; UTM rows get their densified-boundary 3857
    envelope (core.proj).  Call this on a SLIM projection (ids + extents),
    never on rows carrying pixel payloads — the batch transform would
    move the bytes through Arrow for nothing."""
    if "crs" not in df.columns:
        return df
    from ..core import proj

    cols = df.columns

    def fn(batches):
        for pdf in batches:
            # one vectorized batch projection per distinct source CRS (a
            # handful of UTM zones in practice) — no per-row Python
            crs_s = pdf["crs"]
            for crs in crs_s.unique():
                if proj.is_3857(crs):
                    continue
                m = (crs_s == crs).to_numpy()
                env = proj.extents_to_mercator(
                    pdf.loc[m, "xmin"].to_numpy(),
                    pdf.loc[m, "ymin"].to_numpy(),
                    pdf.loc[m, "xmax"].to_numpy(),
                    pdf.loc[m, "ymax"].to_numpy(),
                    crs,
                )
                pdf.loc[m, ["xmin", "ymin", "xmax", "ymax"]] = np.stack(
                    env, axis=1
                )
            yield pdf

    return df.mapInPandas(fn, schema=df.schema).select(*cols)


def with_cover_cells(df: DataFrame, zoom: int, prefix: str = "") -> DataFrame:
    """Explode footprint columns (xmin..ymax, EPSG:3857) into one row per
    covering tile (cx, cy) at ``zoom`` — pure Catalyst, no UDF.

    Mirrors tiling.extent_to_tile_range (same eps/clamp semantics)."""
    n = 1 << zoom
    span = tiling.WORLD / n
    eps = span * 1e-9
    c0 = F.greatest(F.lit(0), F.floor((F.col(f"{prefix}xmin") + tiling.ORIGIN) / span))
    c1 = F.least(F.lit(n - 1), F.floor((F.col(f"{prefix}xmax") + tiling.ORIGIN - eps) / span))
    r0 = F.greatest(F.lit(0), F.floor((tiling.ORIGIN - F.col(f"{prefix}ymax")) / span))
    r1 = F.least(F.lit(n - 1), F.floor((tiling.ORIGIN - F.col(f"{prefix}ymin") - eps) / span))
    return (
        df.withColumn("cx", F.explode(F.sequence(c0.cast("int"), c1.cast("int"))))
        .withColumn("cy", F.explode(F.sequence(r0.cast("int"), r1.cast("int"))))
    )


def _aoi_multipolygons(aoi_pdf: pd.DataFrame) -> dict:
    """aoi table (aoi_id, geojson EPSG:4326) -> {aoi_id: mercator multipolygon}."""
    return {
        row.aoi_id: geom.reproject_multipolygon(
            geom.parse_geojson(row.geojson), forward=True
        )
        for row in aoi_pdf.itertuples(index=False)
    }


def _aoi_cells_pdf(mps: dict, zoom: int, refine: bool = True) -> pd.DataFrame:
    """Covering cells per AOI (driver-side enumeration — the same thing
    GeoTrellis does when converting a geometry to SFC ranges)."""
    rows = []
    for aoi_id, mp in mps.items():
        env = geom.envelope(mp)
        c0, r0, c1, r1 = tiling.extent_to_tile_range(*env, zoom)
        for r in range(r0, r1 + 1):
            for c in range(c0, c1 + 1):
                if refine:
                    text = tiling.tile_extent(c, r, zoom)
                    if not geom.rect_intersects_multipolygon(
                        text[0], text[1], text[2], text[3], mp
                    ):
                        continue
                rows.append(dict(aoi_id=aoi_id, cx=c, cy=r))
    return pd.DataFrame(rows, columns=["aoi_id", "cx", "cy"])


def pip_join(
    spark: SparkSession,
    images_df: DataFrame,
    aoi_pdf: pd.DataFrame,
    zoom: int = 9,
) -> DataFrame:
    """(aoi_id, image_id) pairs whose scene footprint intersects the AOI.

    Plan: images -> cover cells (Catalyst explode) -> broadcast equi-join
    with AOI cover cells -> distinct candidate pairs -> exact
    rect x polygon refine in an Arrow batch. ``zoom`` trades candidate
    count vs cell fan-out (coarse for continental AOIs, fine for city-size).
    """
    mps = _aoi_multipolygons(aoi_pdf)
    cells = _aoi_cells_pdf(mps, zoom)
    if cells.empty:
        return spark.createDataFrame([], "aoi_id string, image_id string")
    aoi_cells = F.broadcast(spark.createDataFrame(cells))
    scene_cells = with_cover_cells(
        images_df.select("image_id", "xmin", "ymin", "xmax", "ymax"), zoom
    )
    cand = (
        scene_cells.join(aoi_cells, ["cx", "cy"], "inner")
        .select("aoi_id", "image_id", "xmin", "ymin", "xmax", "ymax")
        .distinct()
    )

    geos = {k: [[r.tolist() for r in poly] for poly in v] for k, v in mps.items()}

    def refine(batches):
        local = {
            k: [[np.asarray(r) for r in poly] for poly in v] for k, v in geos.items()
        }
        for pdf in batches:
            # vectorized rect-batch x polygon test per AOI group — the
            # whole Arrow batch refines in numpy broadcasts, no per-row
            # Python (same machinery as points_in_multipolygon)
            pdf = pdf.reset_index(drop=True)
            keep = np.zeros(len(pdf), dtype=bool)
            for aid, g in pdf.groupby("aoi_id", sort=False):
                pos = g.index.to_numpy()
                keep[pos] = geom.rects_intersect_multipolygon(
                    g["xmin"].to_numpy(),
                    g["ymin"].to_numpy(),
                    g["xmax"].to_numpy(),
                    g["ymax"].to_numpy(),
                    local[aid],
                )
            yield pdf.loc[keep, ["aoi_id", "image_id"]]

    return cand.mapInPandas(refine, schema="aoi_id string, image_id string")


def knn_join(
    spark: SparkSession,
    images_df: DataFrame,
    points_pdf: pd.DataFrame,
    k: int | None = None,
    zoom: int = 10,
) -> DataFrame:
    """k nearest scenes (by euclidean distance in EPSG:3857 between query
    point and scene footprint center) for each query point.

    Candidate cells expand in doubling k-rings; a query is resolved once
    its k-th best distance is strictly inside the guaranteed-complete
    radius (r * cell_span), so results equal brute force (tested).

    Executor-side throughout: ring cells come from Catalyst
    (explode(sequence(...)) on the broadcast query side), the top-k window
    runs distributed, and the driver collects ONLY one (have, dmax)
    bookkeeping row per unresolved query each round — never candidates.
    The round budget is derived from ``zoom`` so the loop always reaches
    the world-sized ring (r >= 2^zoom), at which point every remaining
    query is complete by construction.  Returns (query_id, image_id,
    dist_m, rank)."""
    span = tiling.tile_span(zoom)
    n = 1 << zoom
    scene_cells = images_df.select(
        "image_id",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("sx"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("sy"),
    ).withColumn(
        "cx", F.floor((F.col("sx") + tiling.ORIGIN) / span).cast("int")
    ).withColumn(
        "cy", F.floor((tiling.ORIGIN - F.col("sy")) / span).cast("int")
    ).persist()
    n_scenes = scene_cells.count()

    pts = points_pdf.copy()
    if "mx" not in pts:
        mx, my = geom.lnglat_to_mercator(pts["lng"].values, pts["lat"].values)
        pts["mx"], pts["my"] = mx, my
    if k is not None:
        pts["k"] = k
    qcol, qrow = tiling.map_to_tile(pts["mx"].values, pts["my"].values, zoom)
    pts["qcx"], pts["qcy"] = qcol.astype(int), qrow.astype(int)

    # round i scans the ring r = 2^i, so the rounds reach the world ring
    # (r >= 2^zoom) whatever the caller's input
    rounds = zoom + 2
    unresolved = pts
    kept: list[DataFrame] = []
    r = 1
    for _ in range(rounds):
        if unresolved.empty:
            break
        qdf = F.broadcast(
            spark.createDataFrame(
                unresolved[["query_id", "mx", "my", "k", "qcx", "qcy"]]
            )
        )
        ring = qdf.withColumn(
            "cx",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("qcx") - r).cast("int"),
                    F.least(F.lit(n - 1), F.col("qcx") + r).cast("int"),
                )
            ),
        ).withColumn(
            "cy",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("qcy") - r).cast("int"),
                    F.least(F.lit(n - 1), F.col("qcy") + r).cast("int"),
                )
            ),
        )
        cand = (
            scene_cells.join(ring, ["cx", "cy"], "inner")
            .withColumn(
                "dist_m",
                F.sqrt(
                    (F.col("sx") - F.col("mx")) ** 2 + (F.col("sy") - F.col("my")) ** 2
                ),
            )
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy("dist_m", "image_id")
                ),
            )
            .filter(F.col("rank") <= F.col("k"))
            .select("query_id", "image_id", "dist_m", "rank")
            .persist()
        )
        # one tiny row per query: the only thing that touches the driver
        stats = {
            row["query_id"]: row
            for row in cand.groupBy("query_id")
            .agg(F.max("rank").alias("have"), F.max("dist_m").alias("dmax"))
            .collect()
        }
        complete_radius = r * span  # no unscanned cell can hold a closer center
        world = r >= n  # ring covered the whole grid: everything is final
        done_ids = set()
        for row in unresolved.itertuples(index=False):
            s = stats.get(row.query_id)
            have = int(s["have"]) if s else 0
            dk = float(s["dmax"]) if s else np.inf
            if world or (have >= row.k and dk < complete_radius) or have >= n_scenes:
                done_ids.add(row.query_id)
        if done_ids:
            # materialize the (small: k rows per resolved query) kept slice
            # so cand's cache can be freed NOW — persisted rounds used to
            # outlive the call, accumulating executor storage per query
            kept.append(
                cand.filter(F.col("query_id").isin(list(done_ids))).localCheckpoint(
                    eager=True
                )
            )
        cand.unpersist()
        unresolved = unresolved[~unresolved["query_id"].isin(done_ids)]
        r *= 2
    scene_cells.unpersist()
    if not kept:
        return spark.createDataFrame(
            [], schema="query_id string, image_id string, dist_m double, rank int"
        )
    out = kept[0]
    for df in kept[1:]:
        out = out.unionByName(df)
    return out


def zonal_stats(
    spark: SparkSession,
    tiles_df: DataFrame,
    aoi_pdf: pd.DataFrame,
    operation: str,
    time: str,
    zoom: int,
    layer: str = None,
) -> DataFrame:
    """Zonal mean of the op index per AOI — the distributed form of
    /mean (polygonalMean, Router.scala:146-167).

    Plan: broadcast (aoi_id, cx, cy) cover cells -> map-side equi-join with
    the tile layer -> per-(tile, aoi) masked (sum, count) partials in an
    Arrow batch -> SQL final agg sum(s)/sum(c). Two-phase aggregation, no
    shuffle of tile bytes beyond the pruned scan."""
    mps = _aoi_multipolygons(aoi_pdf)
    cells = _aoi_cells_pdf(mps, zoom)
    flt = (F.col("zoom") == zoom) & (F.col("ts") == pd.Timestamp(parse_time(time), unit="ms"))
    if layer:
        flt = flt & (F.col("layer") == layer)
    tiles = tiles_df.filter(flt).select("x", "y", "tile")
    if cells.empty:
        return spark.createDataFrame([], "aoi_id string, mean double, n_cells long")
    aoi_cells = F.broadcast(
        spark.createDataFrame(cells).withColumnRenamed("cx", "x").withColumnRenamed("cy", "y")
    )
    cand = tiles.join(aoi_cells, ["x", "y"], "inner")
    geos = {k: [[r.tolist() for r in poly] for poly in v] for k, v in mps.items()}
    opname = operation

    def partials(batches):
        local = {
            k: [[np.asarray(r) for r in poly] for poly in v] for k, v in geos.items()
        }
        fn = get_op(opname)["fn"]
        for pdf in batches:
            out = dict(aoi_id=[], s=[], c=[])
            for row in pdf.itertuples(index=False):
                part = zonal_partial(row.tile, row.x, row.y, zoom, local[row.aoi_id], fn)
                if part is None:
                    continue
                out["aoi_id"].append(row.aoi_id)
                out["s"].append(part[0])
                out["c"].append(part[1])
            yield pd.DataFrame(out)

    part = cand.mapInPandas(partials, schema="aoi_id string, s double, c long")
    # an AOI over only NoData cells has c == 0: NaN, like polygonal_mean
    # (a bare sum/sum raises DIVIDE_BY_ZERO under ANSI mode)
    return part.groupBy("aoi_id").agg(
        F.when(F.sum("c") > 0, F.sum("s") / F.sum("c"))
        .otherwise(F.lit(float("nan")))
        .alias("mean"),
        F.sum("c").alias("n_cells"),
    )


def diff_join(
    spark: SparkSession,
    tiles_df: DataFrame,
    layer: str,
    zoom: int,
    time1: str,
    time2: str,
    operation: str,
) -> DataFrame:
    """Two-date change join (/diff, Router.scala:300-335): inner self
    equi-join on (x, y); per-tile mean and extrema of op(t1) - op(t2).

    The join shuffles only matching-zoom tiles of the two dates; on a real
    cluster one side is typically a single date's slice -> AQE picks
    shuffled-hash; co-partitioned writes would remove the shuffle entirely.
    """
    base = tiles_df.filter((F.col("layer") == layer) & (F.col("zoom") == zoom))
    t1 = base.filter(F.col("ts") == pd.Timestamp(parse_time(time1), unit="ms")).select(
        "x", "y", F.col("tile").alias("tile1")
    )
    t2 = base.filter(F.col("ts") == pd.Timestamp(parse_time(time2), unit="ms")).select(
        "x", "y", F.col("tile").alias("tile2")
    )
    joined = t1.join(t2, ["x", "y"], "inner")  # missing => no output (flatMap)
    opname = operation

    def stats(batches):
        fn = get_op(opname)["fn"]
        for pdf in batches:
            out = dict(x=[], y=[], mean_diff=[], min_diff=[], max_diff=[], n=[])
            for row in pdf.itertuples(index=False):
                d = fn(kernels.decode_payload(row.tile1)) - fn(
                    kernels.decode_payload(row.tile2)
                )
                ok = ~np.isnan(d)
                out["x"].append(row.x)
                out["y"].append(row.y)
                out["n"].append(int(ok.sum()))
                out["mean_diff"].append(float(d[ok].mean()) if ok.any() else None)
                out["min_diff"].append(float(d[ok].min()) if ok.any() else None)
                out["max_diff"].append(float(d[ok].max()) if ok.any() else None)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        stats,
        schema="x int, y int, mean_diff double, min_diff double, max_diff double, n long",
    )
