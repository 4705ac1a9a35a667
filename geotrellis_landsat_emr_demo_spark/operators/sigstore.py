"""Pre-banded MinHash signature store — the index that makes the
incremental-crawl dedup probe O(|new batch|), not O(|corpus|).

The naive probe (round-3 shape) banded-exploded the FULL stored corpus
signature table every micro-batch and ran a corpus-wide ``distinct()`` to
build its verify base — O(|corpus sigs|) compute + a multi-TB shuffle per
crawl batch at 10-billion-doc scale.  This module stores the banded
relation ``(doc_id, band, bucket, bp)`` ONCE, at append time, so a probe
is a plain broadcast equi-join against an already-materialized table:

- ``bp`` = ``xxhash64(band, bucket) % n_partitions`` is the *bucket
  partition*: files are sorted by ``(bp, band, bucket)`` and committed
  with ``{"bp_min", "bp_max"}`` file-level metadata.  A probe collects
  the new batch's DISTINCT bp values (bounded by ``n_partitions``, never
  by batch size — safe to collect) and prunes:
  1. **file-level** — skip files whose [bp_min, bp_max] misses the probe
     set (real after :func:`compact_sig_bands` range-clusters the table,
     exactly the SFC-clustered tile layout reused for text:
     the reference's point-read philosophy, server/.../TileReader.scala:12-21);
  2. **row-group-level** — ``bp IN (...)`` pushes into the parquet scan,
     and files are SORTED by bp, so row groups prune on min/max stats.
- the surviving scan broadcast-joins against the (small) new batch's
  bands: no shuffle of corpus data, ever.

Why pruning is honest at scale: buckets are hash-uniform, so what bounds
the touched fraction is ``|new batch| x bands`` distinct buckets versus
``n_partitions``.  Size ``n_partitions`` well above the typical batch's
bucket count (e.g. 64k for hourly crawl batches) and each probe touches
~``batch_buckets / n_partitions`` of the corpus index.  The growth check
(``tools/measure.py --growth N``) measures per-batch wall as the stored
corpus grows 10x.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import Catalog

SIG_BANDS_TABLE = "doc_sig_bands"


def band_partition(n_partitions: int):
    """bp column expression: xxhash64(band, bucket) folded to
    [0, n_partitions) — non-negative via pmod."""
    return F.pmod(F.xxhash64(F.col("band"), F.col("bucket")), F.lit(n_partitions)).cast(
        "int"
    )


def banded_with_bp(banded: DataFrame, n_partitions: int) -> DataFrame:
    """(doc_id, band, bucket) -> + bp, sorted for row-group pruning."""
    return banded.withColumn("bp", band_partition(n_partitions))


def _file_bp_stats(path: str) -> dict:
    """bp min/max from the parquet footer (stats only — no data read)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["bp"]
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            mins.append(st.min)
            maxs.append(st.max)
    if not mins:  # empty file
        return {"bp_min": 0, "bp_max": -1}
    return {"bp_min": int(min(mins)), "bp_max": int(max(maxs))}


def stage_sig_bands(
    cat: Catalog, banded: DataFrame, n_partitions: int = 1024
) -> list[tuple[str, dict]]:
    """Stage a batch's (doc_id, band, bucket) rows as SORTED-by-bp parquet
    under the sig-bands table; returns (path, {"bp_min","bp_max"}) tuples
    for the caller's atomic :meth:`Catalog.commit` (so data + index land
    in one snapshot).  A fresh append is one small file spanning many bp
    values — pruning sharpens after :func:`compact_sig_bands`."""
    staged = cat.stage_spark_write(
        banded_with_bp(banded, n_partitions).sortWithinPartitions(
            "bp", "band", "bucket"
        ),
        SIG_BANDS_TABLE,
    )
    return [(p, _file_bp_stats(p)) for p in staged]


def compact_sig_bands(
    spark: SparkSession,
    cat: Catalog,
    n_partitions: int = 1024,
    n_files: int = 32,
) -> int:
    """Range-cluster the sig-bands table by bp into ``n_files`` files,
    each covering a narrow bp range (recorded as file metadata), and
    atomically REPLACE the table (optimistic concurrency: raises
    CommitConflict if an append raced the rewrite).  After compaction a
    probe touching k bp values reads ~k/n_partitions of the index.
    Returns the number of files written."""
    base_snapshot = cat.snapshot_id()
    df = cat.read_spark(spark, SIG_BANDS_TABLE)
    clustered = df.repartitionByRange(n_files, "bp").sortWithinPartitions(
        "bp", "band", "bucket"
    )
    staged = cat.stage_spark_write(clustered, SIG_BANDS_TABLE)
    entries = [(p, {**_file_bp_stats(p), "compacted": True}) for p in staged]
    # drop empty shards (repartitionByRange can emit fewer ranges)
    entries = [(p, m) for p, m in entries if m["bp_max"] >= m["bp_min"]]
    for p in set(staged) - {p for p, _ in entries}:
        os.remove(p)
    cat.replace(
        SIG_BANDS_TABLE,
        entries,
        markers={"compact:doc_sig_bands": {"files": len(entries)}},
        expected_snapshot=base_snapshot,
    )
    return len(entries)


def probe_sig_bands(
    spark: SparkSession,
    cat: Catalog,
    new_banded: DataFrame,
    n_partitions: int = 1024,
) -> DataFrame:
    """The PRUNED slice of the stored banded index a probe batch can
    possibly collide with: collect the batch's distinct bp values (<=
    n_partitions integers — bounded by the partition count, not the batch),
    keep only files whose [bp_min, bp_max] overlaps, and push ``bp IN
    (...)`` into the scan for row-group pruning.  Returns (doc_id, band,
    bucket); empty relation if the table doesn't exist yet."""
    import bisect

    bps = sorted(
        r.bp
        for r in banded_with_bp(new_banded, n_partitions).select("bp").distinct().collect()
    )
    empty = spark.createDataFrame([], "doc_id long, band int, bucket string")
    if not bps:
        return empty

    def hits(meta) -> bool:
        # keep a file iff SOME probe bp lies inside its [bp_min, bp_max]
        if meta is None or "bp_min" not in meta:
            return True  # no stats recorded — cannot prune
        i = bisect.bisect_left(bps, meta["bp_min"])
        return i < len(bps) and bps[i] <= meta["bp_max"]

    files = [p for p, meta in cat.file_entries(SIG_BANDS_TABLE) if hits(meta)]
    if not files:
        return empty
    return (
        spark.read.parquet(*files)
        .filter(F.col("bp").isin(bps))
        .select("doc_id", "band", F.col("bucket").cast("string").alias("bucket"))
    )
