"""Incremental / streaming ingest.

The reference has no streaming (SURVEY §2.9) — its deployment doc only
suggests periodic re-ingest (README.md:380).  Here that becomes:

- :func:`incremental_ingest`  batch-incremental appends: only scenes not
  yet recorded in the lineage table are chunked/combined/appended — the
  Iceberg-style "append new snapshots" path.  Exactly-once via the same
  atomic data+lineage commit as the full ingest.
- :func:`stream_ingest_files` a Structured Streaming pipeline reading new
  image parquet files from a directory (file-source with checkpointing),
  running the batch ingest's leaf path (operators.ingest._leaf_tiles)
  per micro-batch via foreachBatch.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F

from ..catalog import Catalog
from ..operators import ingest as ing


def incremental_ingest(
    spark: SparkSession,
    cat: Catalog,
    layer: str,
    max_zoom: int = 13,
    store_fmt: str = "npy-u16",
) -> dict:
    """Merge-on-read incremental append (Iceberg MOR-style).

    Only images without a row in the ``scenes_seen`` lineage table are new.
    Every tile key a new scene touches is REBUILT from ALL contributing
    scenes (old + new) so the newest row for a key is always complete;
    rows carry a monotonically increasing ``gen``, and
    :func:`read_incremental_tiles` resolves latest-gen per key at read
    time.  Old generations stay on disk (time travel) until compaction.
    """
    images = cat.read_spark(spark, "images")
    marker = f"incremental:{layer}:seen"
    gen = int((cat.marker(marker) or {}).get("gen", 0)) + 1
    # new-scene detection: left-anti join against the scenes_seen lineage
    # table — never an in-list of all history (the manifest marker keeps
    # only the generation counter, so it stays O(1) at 10^12 images)
    try:
        seen_ids = (
            cat.read_spark(spark, "scenes_seen")
            .filter(F.col("layer") == layer)
            .select("image_id")
        )
        new = images.join(seen_ids, "image_id", "left_anti")
    except FileNotFoundError:
        new = images
    n_new = new.count()
    if n_new == 0:
        return {"new_images": 0}
    t0 = time.time()
    # keys touched by the new scenes (cover cells at max_zoom, pure
    # Catalyst; UTM footprints normalized to 3857 envelopes first)
    from ..operators.joins import with_cover_cells, with_mercator_envelope

    slim = ["image_id", "xmin", "ymin", "xmax", "ymax", "crs"]
    touched = (
        with_cover_cells(with_mercator_envelope(new.select(*slim)), max_zoom)
        .select("cx", "cy")
        .distinct()
    )
    # all scenes (old + new) contributing to any touched key: envelope join
    contributors = (
        with_cover_cells(
            with_mercator_envelope(images.select(*slim)), max_zoom
        )
        .join(F.broadcast(touched), ["cx", "cy"], "left_semi")
        .select("image_id")
        .distinct()
    )
    src = images.join(contributors, "image_id", "left_semi").select(*ing.SOURCE_COLS)
    # only touched keys are rebuilt (a contributor scene may also cover
    # untouched keys that need no rebuild)
    tiles = ing._leaf_tiles(
        src, layer, max_zoom, store_fmt,
        keys=touched.withColumnRenamed("cx", "x").withColumnRenamed("cy", "y"),
    ).withColumn("gen", F.lit(gen))
    files = cat.stage_spark_write(tiles, "tiles_incremental")
    # data + lineage in ONE atomic snapshot: crash before this commit means
    # the new ids are not marked seen, so the rerun redoes the whole batch
    # (idempotent — same keys rebuilt, newest gen wins at read)
    seen_adds = cat.stage_spark_write(
        new.select(F.lit(layer).alias("layer"), "image_id").distinct(), "scenes_seen"
    )
    cat.commit(
        {
            "tiles_incremental": [(f, {"layer": layer, "gen": gen}) for f in files],
            "scenes_seen": seen_adds,
        },
        markers={
            marker: {"gen": gen},
            f"incremental:{layer}:gen{gen}": {},
        },
    )
    return {"new_images": n_new, "gen": gen, "wall_s": time.time() - t0}


def read_incremental_tiles(spark: SparkSession, cat: Catalog, layer: str):
    """Merge-on-read resolution: latest gen wins per (x, y, ts) key."""
    from pyspark.sql import Window

    t = cat.read_spark(spark, "tiles_incremental").filter(F.col("layer") == layer)
    w = Window.partitionBy("x", "y", "ts").orderBy(F.desc("gen"))
    return (
        t.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def compact_incremental(spark: SparkSession, cat: Catalog, layer: str) -> int:
    """True merge-on-read compaction: resolve latest-gen per key and
    atomically REPLACE the layer's rows in ``tiles_incremental`` with the
    single resolved generation (other layers' files are carried over
    untouched).  Old generations stay on disk, readable through the
    pre-compaction snapshot (time travel), exactly like Iceberg's
    rewrite.  Returns the resolved row count."""
    base_snapshot = cat.snapshot_id()  # rewrite is based on this scan
    resolved = read_incremental_tiles(spark, cat, layer)
    gen = int(resolved.agg(F.max("gen")).collect()[0][0])
    # stamp every surviving row with the compaction generation — the
    # rewritten state IS one generation, whatever gens the rows came from
    files = cat.stage_spark_write(
        resolved.withColumn("gen", F.lit(gen)), "tiles_incremental"
    )
    keep = [
        (p, m)
        for p, m in cat.file_entries("tiles_incremental")
        if (m or {}).get("layer") != layer
    ]
    # refuse to publish over a commit that landed after the scan (a racing
    # streaming append would otherwise vanish from the new manifest)
    cat.replace(
        "tiles_incremental",
        keep + [(f, {"layer": layer, "gen": gen, "compacted": True}) for f in files],
        markers={f"compact:{layer}": {"gen": gen}},
        expected_snapshot=base_snapshot,
    )
    return cat.read_arrow(
        "tiles_incremental", columns=["layer"], layer=layer
    ).num_rows


def stream_ingest_files(
    spark: SparkSession,
    images_dir: str,
    cat: Catalog,
    layer: str,
    checkpoint_dir: str,
    max_zoom: int = 13,
    store_fmt: str = "npy-u16",
):
    """Structured Streaming file-source ingest: every new parquet file of
    images in ``images_dir`` is chunked/merged and appended to the tiles
    table inside foreachBatch (exactly-once per micro-batch via the
    streaming checkpoint + atomic catalog commit).

    Returns the StreamingQuery; call .processAllAvailable() to drain in
    tests, .stop() to end."""
    schema = (
        "image_id string, bytes binary, w long, h long, fmt string, "
        "caption string, phash long, ts timestamp, ts_millis long, "
        "xmin double, ymin double, xmax double, ymax double, "
        "crs string, nbands long, cloud_cover double"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(images_dir)
    )

    def handle_batch(df, epoch_id: int):
        marker = f"stream:{layer}:epoch:{epoch_id}"
        if cat.is_committed(marker):  # replayed batch after restart
            return
        tiles = ing._leaf_tiles(
            df.select(*ing.SOURCE_COLS), layer, max_zoom, store_fmt
        )
        files = cat.stage_spark_write(tiles, "tiles_stream")
        cat.commit({"tiles_stream": files}, markers={marker: {}})

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_docs(
    spark: SparkSession,
    docs_dir: str,
    cat: Catalog,
    checkpoint_dir: str,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.9,
    bp_partitions: int = 1024,
):
    """Streaming corpus dedup — the LLM-crawl ingestion front door: every
    new parquet file of documents is MinHash-probed against the corpus'
    STORED banded index (operators.sigstore — the corpus text is never
    re-shingled AND its signatures are never re-banded or shuffled:
    the probe is a broadcast equi-join against the pruned ``doc_sig_bands``
    slice, so per-batch work scales with |batch| + collisions, not
    |corpus|).  Near-duplicates of existing or in-batch docs are
    quarantined to a ``doc_rejects`` table (doc_id + matched doc +
    estimated jaccard); survivors land in ``docs`` with signatures
    appended to ``doc_sigs`` and banded rows to ``doc_sig_bands`` — all
    in ONE atomic multi-table commit per micro-batch, exactly-once via
    the streaming checkpoint + epoch marker (a replayed batch after
    restart is a no-op).  Run :func:`operators.sigstore.compact_sig_bands`
    periodically to range-cluster the index for file-level pruning.

    In-batch duplicate groups keep the min doc_id (first-wins, matching
    exact_dedup / merge semantics).  Docs with null text are signed as
    empty text (coalesce) so every committed doc ALWAYS has a doc_sigs
    row — docs/doc_sigs can never drift, and later exact duplicates of a
    degenerate doc are still caught.  Returns the StreamingQuery."""
    from ..operators import sigstore, textops

    assert n_hashes % bands == 0, "n_hashes must divide evenly into bands"
    rows = n_hashes // bands
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(docs_dir)
    )

    def handle_batch(df, epoch_id: int):
        marker = f"dedup:epoch:{epoch_id}"
        if cat.is_committed(marker):  # replayed batch after restart
            return
        sig_cols = ["doc_id"] + [f"h{i}" for i in range(n_hashes)]
        try:
            corpus_sigs = cat.read_spark(spark, "doc_sigs")
        except FileNotFoundError:  # first batch: no corpus yet
            corpus_sigs = spark.createDataFrame(
                [], "doc_id long, " + ", ".join(f"h{i} string" for i in range(n_hashes))
            )
        # null text -> empty text BEFORE signing: minhash's explode drops
        # null-shingle rows, which would commit a doc without a signature
        signed = df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        new_sigs = textops.minhash_portable_signatures(
            signed, n_hashes
        ).localCheckpoint(eager=True)
        new_bands = textops._minhash_banded(new_sigs, bands, rows)
        corpus_bands = sigstore.probe_sig_bands(
            spark, cat, new_bands, bp_partitions
        )
        raw_pairs = textops.incremental_minhash_pairs(
            df,
            corpus_sigs,
            n_hashes,
            bands,
            threshold,
            corpus_bands=corpus_bands,
            new_sigs=new_sigs,
        )
        pairs = raw_pairs.localCheckpoint(eager=True)
        # pairs is materialized; free the probe's internal checkpoints
        raw_pairs._cand_ckpt.unpersist()
        raw_pairs._sigbase_ckpt.unpersist()
        # rejects: dup of the corpus, or the LARGER id of an in-batch pair
        # (min doc_id wins, first-wins semantics)
        rej_corpus = pairs.filter(~F.col("is_new_pair")).select(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("matched_doc"),
            "est_jaccard",
        )
        rej_batch = pairs.filter(F.col("is_new_pair")).select(
            F.greatest("doc_a", "doc_b").alias("doc_id"),
            F.least("doc_a", "doc_b").alias("matched_doc"),
            "est_jaccard",
        )
        rejects = rej_corpus.unionByName(rej_batch)
        rej_ids = rejects.select("doc_id").distinct()
        keep = df.join(rej_ids, "doc_id", "left_anti")
        keep_sigs = new_sigs.join(rej_ids, "doc_id", "left_anti").select(
            *sig_cols
        ).localCheckpoint(eager=True)  # feeds doc_sigs AND the banded index
        adds = {
            "docs": cat.stage_spark_write(keep, "docs"),
            "doc_sigs": cat.stage_spark_write(keep_sigs, "doc_sigs"),
            # the pre-banded index rows for the kept docs — data + index
            # land in the SAME snapshot, so a probe can never see one
            # without the other
            sigstore.SIG_BANDS_TABLE: sigstore.stage_sig_bands(
                cat, textops._minhash_banded(keep_sigs, bands, rows), bp_partitions
            ),
        }
        staged_rej = cat.stage_spark_write(rejects, "doc_rejects")
        if staged_rej:
            adds["doc_rejects"] = staged_rej
        cat.commit(adds, markers={marker: {}})
        # free this batch's checkpoint blocks — a long-running stream must
        # not accumulate block-manager storage across micro-batches
        for ckpt in (pairs, keep_sigs, new_sigs):
            ckpt.unpersist()

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_scene_counts(stream_images):
    """Custom stateful streaming operator (applyInPandasWithState): per
    acquisition day, a RUNNING scene count + cloud-cover mean maintained in
    explicit group state across micro-batches — the 'custom stateful
    operator' surface Structured Streaming offers beyond windowed aggs.
    State is (n, sum_cloud) per day; one updated row is emitted per group
    per micro-batch; the streaming checkpoint persists state across
    restarts (tested: counts continue, not restart, after a new query
    resumes from the same checkpoint)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["cloud_cover"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            dict(day=[key[0]], n_scenes=[n], avg_cloud=[s / n if n else None])
        )

    days = stream_images.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return days.groupBy("day").applyInPandasWithState(
        update,
        outputStructType="day string, n_scenes long, avg_cloud double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_scene_stats(spark: SparkSession, images_df, watermark="1 day"):
    """Streaming-shaped windowed aggregation over scene arrivals: count +
    cloud stats per 1-day event-time window (batch-equivalent shape used by
    __spark_entry__.q_window_tumbling_counts)."""
    return (
        images_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_scenes"),
            F.round(F.avg("cloud_cover"), 4).alias("avg_cloud"),
        )
        .select(F.col("w.start").alias("window_start"), "n_scenes", "avg_cloud")
    )
