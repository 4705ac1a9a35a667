"""Ingest: images -> zoom-13 tile layer -> pyramid -> attributes.

Re-expresses the reference ingest job (ingest/src/main/scala/demo/
LandsatIngest.scala:25-57, LandsatInput.scala:29-81) as a DataFrame
pipeline.  Every entry point that builds leaf tiles — the batch
:func:`ingest_images`, and streaming.incremental's ``incremental_ingest``
and ``stream_ingest_files`` — goes through ONE path, :func:`_leaf_tiles`
(the reference's single ``tileToLayout`` merge, LandsatIngest.scala:39):

  images (Iceberg-style table, input_hint schema)
    -> mapInPandas  decode + reproject-grid + split into CROPPED tile
       fragments, and combine the fragments that share an (x, y, ts) key
       inside the task (the RDD fetch/chunk stage, LandsatInput.scala:66-81,
       with a map-side combiner; one Arrow batch decodes many scenes)
    -> [salt_buckets > 1] groupBy(x, y, ts, salt).applyInPandas  combine
       the partials once more per salt bucket (reduce-side skew)
    -> groupBy(x, y, ts).applyInPandas  final combine -> one tile row
       (order-insensitive: first-data-wins in ascending image_id)
    -> per-level groupBy(parent).applyInPandas  2x2 downsample 13 -> 1
       (Pyramid.upLevels, LandsatIngest.scala:42-57)
    -> layer_attrs: distinct sorted times + extent union
       (LandsatIngest.scala:46-55)

Every combine step — the chunk task's, the salt bucket's and the final —
is one call of :func:`_combine`, kernels.combine_ranked's integer-rank
merge: partials combine associatively, so any grouping of fragments into
tasks and salt buckets gives bitwise the tiles of kernels.merge_fragments
(tests/test_ingest.py).

Scale notes (100 TB design):
- the only wide shuffles are the leaf combine (keyed by the same (x,y,ts)
  the data is later read by; plus one salt-keyed shuffle when salting) and
  one per pyramid level; all are partial-aggregation shaped, bytes shrink
  monotonically up the pyramid.
- the map-side combiner caps a hot key's reduce fan-in at one partial per
  chunk task; salting splits what is left across ~sqrt(fan-in) buckets
  (:func:`_auto_salt_buckets`; BENCH/BASELINE.md §skew).
- every stage commits atomically (data + lineage in one manifest swap) with
  a completion marker, so an interrupted ingest resumes without recomputing
  finished levels (north_rule resumability).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import MAX_ZOOM, MIN_ZOOM, TILE_SIZE
from ..catalog import Catalog
from ..core import cellindex, kernels, proj, tiling

# scene columns the leaf path reads (images table, input_hint schema)
SOURCE_COLS = [
    "image_id", "bytes", "ts", "xmin", "ymin", "xmax", "ymax", "caption", "crs",
]
TILE_SCHEMA = (
    "layer string, zoom int, x int, y int, cell_key long, time_key long, "
    "ts timestamp, tile binary, caption string, image_id string, n_frags int"
)
# A partial: the fragments of one (x, y, ts) key combined so far, CROPPED
# to the union of their support rects (ox, oy = offset inside the tile
# canvas; the payload header carries the rect dims) — padded full tiles
# inflated the ingest's Arrow + shuffle bytes ~4x over the source pixels
# (border tiles are mostly NoData).  ``winner`` is the ranked-merge
# provenance (u16 index per cell into ``winner_ids``); a single fragment
# carries none (null).  image_id/caption = the lexicographically-first
# contributor, so every step is deterministic under any shuffle order.
_PARTIAL_SCHEMA = (
    "x int, y int, ts timestamp, cell_key long, image_id string, "
    "caption string, frag binary, winner binary, winner_ids array<string>, "
    "n_frags int, ox int, oy int"
)
_PARTIAL_SCHEMA_COLS = [c.split()[0] for c in _PARTIAL_SCHEMA.split(", ")]


def _chunk_fn(zoom: int):
    """mapInPandas fn: one images batch -> partial rows for every
    zoom-``zoom`` tile the scene footprints cover.  Fragments that share a
    (x, y, ts) key WITHIN the task are combined (:func:`_combine`) before
    the shuffle — the partial-aggregation (combiner) form of the tile
    merge, which cuts shuffle rows wherever scenes in one task overlap
    (hot cells especially).  A key's lone fragment is emitted as it is,
    without provenance.

    Fragments stay raw npy-u16: shuffle files are lz4-compressed by Spark
    and parquet pages are zstd-compressed at rest, so per-fragment zlib
    only added CPU (~40% of the chunk stage, BENCH/BASELINE.md negative
    results)."""

    def fn(batches):
        for pdf in batches:
            groups: dict = {}
            for row in pdf.itertuples(index=False):
                arr = kernels.decode_payload(row.bytes)
                ext = (row.xmin, row.ymin, row.xmax, row.ymax)
                # non-3857 scenes (UTM) are warped during the split — the
                # covering range comes from the reprojected envelope
                crs = row.crs or "EPSG:3857"
                ext_3857 = proj.extent_to_mercator(ext, crs)
                trange = tiling.extent_to_tile_range(*ext_3857, zoom)
                # single gather for the whole covering block, sliced per tile
                for (c, r), (ox, oy), tile in kernels.split_to_tiles_cropped(
                    arr, ext, zoom, trange, TILE_SIZE, src_crs=crs
                ):
                    groups.setdefault((c, r, row.ts), []).append(
                        (row.image_id, row.caption, (tile, None, [row.image_id], (ox, oy)))
                    )
            rows = []
            for (c, r, ts), items in groups.items():
                iid, cap, _ = min(items, key=lambda it: it[0])
                rows.append(_partial_row(
                    c, r, ts, int(cellindex.cell_key(zoom, c, r)), iid, cap,
                    _combine([part for _, _, part in items]), len(items),
                ))
            yield pd.DataFrame(rows, columns=_PARTIAL_SCHEMA_COLS)

    return fn


def _combine(parts):
    """The parts of one key, [(pixels, winner bytes | None, ids, (ox, oy)),
    ...] with pixels cropped at (ox, oy) of the tile canvas ->
    (pixels, winner bytes, ids, (ox, oy)) of their
    kernels.combine_ranked, cropped to the union of the part rects (which
    bounds every data pixel the merge can produce).  A part without
    provenance (a lone fragment) ranks its one id wherever it has data.
    One part is returned as it is: its combine is the identity."""
    if len(parts) == 1:
        return parts[0]
    x0, y0, x1, y1 = kernels.union_bbox(
        [p[3] for p in parts], [p[0].shape for p in parts]
    )
    merged, winner, ids = kernels.combine_ranked([
        (
            kernels.pad_to_tile(pixels, ox, oy, TILE_SIZE),
            None if wb is None else kernels.pad_to_tile(
                np.frombuffer(wb, dtype=np.uint16).reshape(pixels.shape),
                ox, oy, TILE_SIZE, fill=kernels.NO_WINNER,
            ),
            ids,
        )
        for pixels, wb, ids, (ox, oy) in parts
    ])
    crop = np.s_[:, y0:y1, x0:x1]
    winner = np.ascontiguousarray(winner[crop]).tobytes()
    return merged[crop], winner, ids, (x0, y0)


def _parts(pdf: pd.DataFrame) -> list:
    """Partial rows of one key -> :func:`_combine` parts."""
    return [
        (
            kernels.decode_payload(b), wb,
            [str(iid)] if wb is None else list(wids), (int(ox), int(oy)),
        )
        for b, wb, wids, iid, ox, oy in zip(
            pdf["frag"], pdf["winner"], pdf["winner_ids"], pdf["image_id"],
            pdf["ox"], pdf["oy"],
        )
    ]


def _partial_row(x, y, ts, cell_key, image_id, caption, merged, n_frags) -> dict:
    """One _PARTIAL_SCHEMA row from a :func:`_combine` result; a result
    without provenance (a lone fragment) carries no winner ids either."""
    pixels, winner, ids, (ox, oy) = merged
    return dict(
        x=int(x), y=int(y), ts=ts, cell_key=cell_key, image_id=image_id,
        caption=caption, frag=kernels.encode_payload(pixels, "npy-u16"),
        winner=winner, winner_ids=None if winner is None else ids,
        n_frags=n_frags, ox=int(ox), oy=int(oy),
    )


def _first(pdf: pd.DataFrame) -> int:
    """Row of the lexicographically-first contributor."""
    return int(np.argmin(np.asarray(pdf["image_id"].tolist(), dtype=object)))


def _salt_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas fn for groupBy(x, y, ts, salt): combine the partials
    of one salt bucket into one partial (cropped, with provenance).  A
    bucket holding a single partial passes it through unchanged — the
    combine of one partial is the identity."""
    pdf = pdf[_PARTIAL_SCHEMA_COLS]
    if len(pdf) == 1:
        return pdf
    first = _first(pdf)
    return pd.DataFrame([_partial_row(
        pdf["x"].iloc[0], pdf["y"].iloc[0], pdf["ts"].iloc[0],
        int(pdf["cell_key"].iloc[0]), pdf["image_id"].iloc[first],
        pdf["caption"].iloc[first], _combine(_parts(pdf)),
        int(pdf["n_frags"].sum()),
    )])


def _tile_pdf(layer, zoom, x, y, ts, tile, caption, image_id, n_frags):
    """One TILE_SCHEMA row."""
    millis = int(pd.Timestamp(ts).value // 1_000_000)
    return pd.DataFrame(
        dict(
            layer=[layer],
            zoom=[zoom],
            x=[x],
            y=[y],
            cell_key=[int(cellindex.cell_key(zoom, x, y))],
            time_key=[int(cellindex.day_bucket(millis))],
            ts=[ts],
            tile=[tile],
            caption=[caption],
            image_id=[image_id],
            n_frags=[n_frags],
        )
    )


def _final_fn(layer: str, zoom: int, store_fmt: str):
    """applyInPandas fn for groupBy(x, y, ts): combine a key's partials
    (:func:`_combine`) and pad the result onto the NoData tile canvas ->
    one stored tile row.

    A key with a single FULL-canvas partial in the stored format passes
    its bytes through untouched: the combine of one partial is the
    identity and encode(decode(x), fmt) == x for the raw format, so no
    codec work (a cropped border fragment must be padded back onto the
    NoData canvas).  A JVM-only bypass for singleton keys (window count +
    filtered union) was measured and reverted: Spark planned the chunk
    MapInPandas subtree twice (no exchange reuse under AQE across the
    union branches, ~2x ingest wall); with an explicit persist it merely
    broke even."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        frag = pdf["frag"].iloc[0]
        if (
            len(pdf) == 1
            and kernels.payload_fmt(frag) == store_fmt
            and kernels.payload_dims(frag)[1:] == (TILE_SIZE, TILE_SIZE)
        ):
            tile = frag
        else:
            pixels, _, _, (ox, oy) = _combine(_parts(pdf))
            tile = kernels.encode_payload(
                kernels.pad_to_tile(pixels, ox, oy, TILE_SIZE), store_fmt
            )
        first = _first(pdf)
        return _tile_pdf(
            layer, zoom, int(pdf["x"].iloc[0]), int(pdf["y"].iloc[0]),
            pdf["ts"].iloc[0], tile, pdf["caption"].iloc[first],
            pdf["image_id"].iloc[first], int(pdf["n_frags"].sum()),
        )

    return fn


def _leaf_tiles(
    src: DataFrame,
    layer: str,
    zoom: int,
    store_fmt: str = "npy-u16",
    salt_buckets: int = 1,
    keys: DataFrame | None = None,
) -> DataFrame:
    """The one leaf-tile path: scene rows (:data:`SOURCE_COLS`) ->
    TILE_SCHEMA rows at ``zoom``.  ``salt_buckets > 1`` adds a combine
    per (key, salt) bucket between the chunk combiner and the final
    combine.  ``keys`` (x, y rows) restricts the output to those tile
    keys; the filter runs on the partials, before any reduce-side work.

    Source partitioning: the chunk stage runs straight off the scan
    splits when the scan is already >= 4 splits per task slot (work
    stealing self-balances, and at 100 TB the scan is millions of
    row-group splits); a coarser source gets an exact-balance round-robin
    repartition first, because near the width split-size imbalance
    dominates (interleaved A/B: 36.9 vs 59.5 s median at 56 splits / 32
    cores, BENCH/BASELINE.md §r6)."""
    par = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < 4 * par:
        src = src.repartition(par)
    partials = src.mapInPandas(_chunk_fn(zoom), schema=_PARTIAL_SCHEMA)
    if keys is not None:
        partials = partials.join(F.broadcast(keys), ["x", "y"], "left_semi")
    if salt_buckets > 1:
        partials = (
            partials.withColumn(
                "salt", F.pmod(F.xxhash64("image_id"), F.lit(salt_buckets))
            )
            .groupBy("x", "y", "ts", "salt")
            .applyInPandas(_salt_fn, schema=_PARTIAL_SCHEMA)
        )
    return partials.groupBy("x", "y", "ts").applyInPandas(
        _final_fn(layer, zoom, store_fmt), schema=TILE_SCHEMA
    )


def _parent_fn(layer: str, zoom: int, store_fmt: str):
    """applyInPandas fn for groupBy(parent x, y, ts): assemble the 2x2
    children into the z-1 parent (Pyramid.upLevels, LandsatIngest.scala:42)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        children = {}
        for row in pdf.itertuples(index=False):
            quad = (row.y % 2) * 2 + (row.x % 2)
            children[quad] = kernels.decode_payload(row.tile)
        parent = kernels.assemble_parent(children, TILE_SIZE)
        first = _first(pdf)
        return _tile_pdf(
            layer, zoom, int(pdf["x"].iloc[0]) // 2, int(pdf["y"].iloc[0]) // 2,
            pdf["ts"].iloc[0], kernels.encode_payload(parent, store_fmt),
            pdf["caption"].iloc[first], pdf["image_id"].iloc[first],
            int(pdf["n_frags"].sum()),
        )

    return fn


# The tiles table's row-group bound, set by both tile writers
# (_commit_level and compact_tiles): one tile per row group.  The row
# group is the unit of payload IO for a serving read — one whole `tile`
# column chunk is decompressed per hit — so a point read decompresses
# exactly the tile it serves, as the reference's ValueReader reads one
# value per key (TileReader.scala:12-21).  Against 4 tiles per row group
# this costs ~2.3% more stored bytes per tile (per-row-group footer and
# page headers) and cuts the payload a point read decompresses from
# ~2.6 MB to ~0.66 MB.  A byte bound does not hold it: with parquet.block.size =
# 1 MB the writer still packed 2-94 tiles per row group, and compaction's
# default 128 MB block packs whole files.
TILE_WRITE_OPTIONS = {"parquet.block.row.count.limit": "1"}


def compact_tiles(
    spark: SparkSession,
    cat: Catalog,
    table: str = "tiles",
    target_mb: int = 128,
) -> dict:
    """Small-file compaction — the Iceberg ``rewrite_data_files`` analog.

    Every ingest/incremental commit appends files, so a long-lived table
    accumulates many small parquet files (scan-task explosion at 100 TB).
    Rewrite each (layer, zoom) file group into ceil(bytes / target_mb)
    files and REPLACE the table's file list in one atomic snapshot —
    file-level partition metadata is preserved so manifest pruning keeps
    working, and the old files remain readable via time travel
    (catalog.read_at / rollback).  Returns {group: (files_before,
    files_after)}."""
    import math
    import os as _os

    base_snapshot = cat.snapshot_id()  # rewrite is based on this scan
    groups: dict = {}
    for path, meta in cat.file_entries(table):
        key = (meta or {}).get("layer"), (meta or {}).get("zoom")
        groups.setdefault(key, []).append(path)
    new_files: list = []
    report = {}
    for (layer, zoom), paths in sorted(
        groups.items(), key=lambda kv: (str(kv[0][0]), str(kv[0][1]))
    ):
        nbytes = sum(_os.path.getsize(p) for p in paths)
        nparts = max(1, math.ceil(nbytes / (target_mb << 20)))
        df = spark.read.parquet(*paths)
        if "cell_key" in df.columns:
            # sort-order rewrite: range-cluster on the SFC key so each
            # output file covers a disjoint cell_key range (global Z-order
            # clustering — max footer-pruning selectivity for point reads)
            df = df.repartitionByRange(nparts, "cell_key", "ts").sortWithinPartitions(
                "cell_key", "ts"
            )
        else:
            df = df.repartition(nparts)
        staged = cat.stage_spark_write(df, table, write_options=TILE_WRITE_OPTIONS)
        meta = {
            k: v
            for k, v in (("layer", layer), ("zoom", zoom))
            if v is not None
        }
        new_files.extend((f, meta or None) for f in staged)
        report[f"{layer}:z{zoom}"] = (len(paths), len(staged))
    # replace() stores (path, None) tuples as plain entries, so pass
    # tuples uniformly
    # optimistic concurrency: refuse to publish if any commit (e.g. a
    # streaming append) landed after the scan — it would be silently
    # dropped from the rewritten file list otherwise
    cat.replace(
        table,
        new_files,
        markers={f"compact:{table}": {"groups": len(report)}},
        expected_snapshot=base_snapshot,
    )
    return report


def _lineage_pdf(layer, stage, zoom, rows, nbytes, wall_s, partitions):
    return pd.DataFrame(
        [
            dict(
                layer=layer,
                stage=stage,
                zoom=zoom,
                rows=int(rows),
                bytes=int(nbytes),
                wall_s=float(wall_s),
                partitions=int(partitions),
                finished_at=pd.Timestamp.utcnow().tz_localize(None),
            )
        ]
    )


def _commit_level(
    cat: Catalog,
    df: DataFrame,
    layer: str,
    stage: str,
    zoom: int,
    t0: float,
):
    """Stage tile files + lineage row, publish in ONE atomic manifest swap
    (exactly-once per stage even if we crash right after).

    Rows are SFC-sorted (cell_key) within each output partition before the
    write — a free sort (no shuffle) that gives every parquet row group a
    tight cell_key min/max, so the serving point reads prune row groups
    the way the reference's Z-order SFC index prunes backend range scans
    (conf/output.json:15-18); ``TILE_WRITE_OPTIONS`` holds a row group to
    one tile, so a serving hit decompresses only the payload it serves.
    Full cross-file clustering happens at compaction (:func:`compact_tiles`)."""
    files = cat.stage_spark_write(
        df.sortWithinPartitions("cell_key", "ts"), "tiles", write_options=TILE_WRITE_OPTIONS
    )
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    # stat + footer reads per staged file (row counts without a second
    # Spark job) — threaded: this is driver-serial bookkeeping between
    # stages, and at 32 writer files x 4 pyramid levels the sequential
    # loop was a measurable slice of the inter-stage gap
    def _file_meta(f):
        return os.path.getsize(f), pq.ParquetFile(f).metadata.num_rows

    with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as ex:
        metas = list(ex.map(_file_meta, files))
    nbytes = sum(m[0] for m in metas)
    rows = sum(m[1] for m in metas)
    wall = time.time() - t0
    import uuid

    import pyarrow as pa

    # a unique name, like every staged data file: a rerun after a rollback
    # must not overwrite the lineage file an archived snapshot still lists
    lpath = os.path.join(cat.table_dir("lineage"), f"{uuid.uuid4().hex}.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            _lineage_pdf(layer, stage, zoom, rows, nbytes, wall, len(files)),
            preserve_index=False,
        ),
        lpath,
    )
    cat.commit(
        # per-file metadata -> manifest-level partition pruning for the
        # serving point reads (files of other zooms never opened)
        {"tiles": [(f, {"layer": layer, "zoom": zoom}) for f in files],
         "lineage": [lpath]},
        markers={stage: dict(rows=rows, bytes=nbytes, wall_s=wall, zoom=zoom)},
    )
    return rows, nbytes


_SALT_TARGET = 32  # fragments per (key, salt) reduce group the salted path aims for


def _auto_salt_buckets(images_df: DataFrame, zoom: int, par: int) -> int:
    """Pick ``salt_buckets`` from FRAGMENT-COUNT SKEW, measured on the
    slim footprint metadata BEFORE any pixel is decoded: explode each
    scene's covering (cx, cy) range at ``zoom`` (the same arithmetic as
    joins.with_cover_cells — one cheap job over footprint columns only)
    and look at the per-(tile, ts) contributor counts.

    Heuristic: the map-side combiner caps a key's reduce fan-in at ONE
    partial per chunk task, so the effective hot-key size is
    ``min(hot, par)`` — raw contributor counts above the task width are
    absorbed before the shuffle.  Salting then splits the surviving
    partials across B buckets: the hot key's critical path goes from
    ``eff`` sequential merges in one reduce task to ``~eff/B + B``
    (phase-1 buckets in parallel, then a B-partial final), minimized
    near ``B = sqrt(eff)``.  Measured (96 contributors on one cell,
    par=32, interleaved 3x4 A/B): combiner-only median 17.0 s vs 12-13 s
    for any B in 2..6 — so salting is ON whenever the post-combiner
    fan-in reaches _SALT_TARGET, with the sqrt sizing (flat within 2x of
    the optimum, so the exact B is uncritical)."""
    from .joins import with_cover_cells

    stats = (
        with_cover_cells(
            images_df.select("ts", "xmin", "ymin", "xmax", "ymax"), zoom
        )
        .groupBy("cx", "cy", "ts")
        .count()
        .agg(F.max("count").alias("hot"))
        .collect()[0]
    )
    eff = min(stats.hot or 0, par)  # combiner cap: one partial per task
    if eff < _SALT_TARGET:
        return 1
    return int(min(par, max(2, round(eff**0.5))))


def read_level(spark: SparkSession, cat: Catalog, layer: str, zoom: int) -> DataFrame:
    # manifest metadata prunes the file set to the level; the filter stays
    # for files committed without metadata (older snapshots)
    return (
        cat.read_spark(spark, "tiles", layer=layer, zoom=zoom)
        .filter((F.col("layer") == layer) & (F.col("zoom") == zoom))
    )


def ingest_images(
    spark: SparkSession,
    cat: Catalog,
    layer: str,
    images_df: DataFrame | None = None,
    max_zoom: int = MAX_ZOOM,
    min_zoom: int = MIN_ZOOM,
    store_fmt: str = "npy-u16",
    salt_buckets: int | str = 1,
    cell_type: str = "uint16",
) -> dict:
    """Run the full ingest; resumable (skips stages whose completion marker
    is already committed).  Returns metrics {stage: {rows, wall_s, ...}}.

    ``images_df`` defaults to the catalog's ``images`` table.

    ``salt_buckets``: 1 = combiner-only merge; N > 1 = combine the
    combiner's partials once more per (key, salt) bucket, for reduce-side
    skew; "auto" = derive from fragment-count skew measured on the slim
    footprint metadata (:func:`_auto_salt_buckets`).
    """
    if images_df is None:
        images_df = cat.read_spark(spark, "images")
    metrics = {}
    if salt_buckets == "auto":
        salt_buckets = _auto_salt_buckets(
            images_df, max_zoom, spark.sparkContext.defaultParallelism
        )

    leaf_stage = f"ingest:{layer}:z{max_zoom}"
    if not cat.is_committed(leaf_stage):
        t0 = time.time()
        tiles = _leaf_tiles(
            images_df.select(*SOURCE_COLS), layer, max_zoom, store_fmt, salt_buckets
        )
        rows, nbytes = _commit_level(cat, tiles, layer, leaf_stage, max_zoom, t0)
        metrics[leaf_stage] = dict(rows=rows, bytes=nbytes, wall_s=time.time() - t0)
    else:
        metrics[leaf_stage] = dict(skipped=True, **(cat.marker(leaf_stage) or {}))

    for zoom in range(max_zoom - 1, min_zoom - 1, -1):
        stage = f"ingest:{layer}:z{zoom}"
        if cat.is_committed(stage):
            metrics[stage] = dict(skipped=True, **(cat.marker(stage) or {}))
            continue
        t0 = time.time()
        parents = (
            read_level(spark, cat, layer, zoom + 1)
            .withColumn("px", (F.col("x") / 2).cast("int"))
            .withColumn("py", (F.col("y") / 2).cast("int"))
            .groupBy("px", "py", "ts")
            .applyInPandas(_parent_fn(layer, zoom, store_fmt), schema=TILE_SCHEMA)
        )
        rows, nbytes = _commit_level(cat, parents, layer, stage, zoom, t0)
        metrics[stage] = dict(rows=rows, bytes=nbytes, wall_s=time.time() - t0)

    attrs_stage = f"ingest:{layer}:attrs"
    if not cat.is_committed(attrs_stage):
        t0 = time.time()
        # metadata computed WITHOUT touching pixels (the reference's explicit
        # optimization, LandsatInput.scala:32-38): footprint/ts columns only
        times = [
            r["ts"]
            for r in images_df.select("ts").distinct().orderBy("ts").collect()
        ]
        # per-CRS envelope (a handful of rows), unioned in 3857 on the
        # driver — raw min/max across mixed CRSes would mix unit systems
        ext_rows = images_df.groupBy("crs").agg(
            F.min("xmin").alias("xmin"),
            F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"),
            F.max("ymax").alias("ymax"),
        ).collect()
        envs = [
            proj.extent_to_mercator(
                (r["xmin"], r["ymin"], r["xmax"], r["ymax"]),
                r["crs"] or "EPSG:3857",
            )
            for r in ext_rows
        ]
        ext = dict(
            xmin=min(e[0] for e in envs),
            ymin=min(e[1] for e in envs),
            xmax=max(e[2] for e in envs),
            ymax=max(e[3] for e in envs),
        )
        import json

        attrs = pd.DataFrame(
            [
                dict(
                    layer=layer,
                    zoom=0,
                    name="times",
                    json=json.dumps(
                        [int(pd.Timestamp(t).value // 1_000_000) for t in times]
                    ),
                ),
                dict(
                    layer=layer,
                    zoom=0,
                    name="extent",
                    json=json.dumps(dict(**ext, crs="EPSG:3857")),
                ),
                dict(
                    layer=layer,
                    zoom=0,
                    name="layout",
                    json=json.dumps(
                        dict(
                            tile_size=TILE_SIZE,
                            max_zoom=max_zoom,
                            min_zoom=min_zoom,
                            # render dispatch analog of Render.scala:21's
                            # cellType == UShortCellType test
                            cell_type=cell_type,
                        )
                    ),
                ),
            ]
        )
        cat.append_pandas(attrs, "layer_attrs", markers={attrs_stage: {}})
        metrics[attrs_stage] = dict(wall_s=time.time() - t0)
    else:
        metrics[attrs_stage] = dict(skipped=True)
    return metrics
