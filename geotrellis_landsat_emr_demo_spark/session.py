"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen for the 1000-executor case:
- AQE on (runtime re-plan, skew-join splitting)
- Arrow transfer on with a bounded batch size — tile rows carry ~0.1-1.3 MB
  binary payloads, so records-per-batch (not bytes) is the safe control
- shuffle partitions sized to cores locally; on a real cluster set it to
  2-3x total executor cores or rely on AQE coalescing
- Kryo is irrelevant (no RDD lambdas); Tungsten/Arrow handle serialization
  (reference needed Kryo: server/src/main/scala/demo/Main.scala:36-37)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    master: str | None = None,
    app_name: str = "geotrellis-landsat-emr-demo-spark",
    shuffle_partitions: int | None = None,
    arrow_batch: int = 8192,
    arrow_batch_bytes: int = 32 << 20,
    driver_mem: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(
        8, int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
    )
    # local mode: the driver heap hosts all executor threads' Arrow buffers
    # and shuffle blocks; an undersized heap turns 32-thread runs into GC
    # storms (measured 3x throughput loss at 20g vs 60g with 32 threads)
    driver_mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "60g")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by BYTES with a 1 MiB floor
        # (minPartitionSize, enforced even under parallelismFirst).  Our
        # shuffle stages feed pandas UDFs whose cost is CPU per row
        # (decode + merge + encode), so a few MB of compressed fragments
        # coalesced to single-digit tasks idles 26 of 32 threads —
        # measured: 384-scene ingest wall IDENTICAL at local[8] and
        # local[32] (99.6 vs 99.1 s) with the closing stage at 6 tasks.
        # 64 KiB keeps tiny-benchmark stages wide; at production scale
        # partitions dwarf either floor, so this is scale-neutral.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Scan splits cap at one parquet row group; the catalog writes
        # payload tables (scene bytes, tiles) with ~32 MB row groups, so a
        # 32 MB partition target lets the ingest chunk stage parallelize
        # straight off the file scan with NO pre-chunk repartition shuffle
        # of the raw bytes (the source rule in operators/ingest._leaf_tiles).
        # Slim tables produce tiny splits either way (openCostInBytes
        # packs them), and post-shuffle sizing is AQE's job, so this is
        # scan-only and scale-neutral.
        .config("spark.sql.files.maxPartitionBytes", str(32 << 20))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r8: batches are bounded by BYTES (Spark 4's maxBytesPerBatch —
        # a batch closes when EITHER limit hits), so the record cap can sit
        # high enough that narrow rows (embeddings: ~0.3 KB; exploded text
        # tokens) amortize the per-batch Python round-trip.  The old
        # records-only cap of 64 (sized for ~1 MB tile payload rows)
        # made every pandas-UDF stage on narrow data pay ~150x the batch
        # count; payload rows are now capped at 32 MB/batch instead
        # (tighter than the old 64 x ~1 MB) — guide §4.2.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(arrow_batch_bytes))
        # binary tile rows defeat size estimates; keep broadcasts explicit
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.maxResultSize", "4g")
    )
    # Shuffle/spill scratch location.  On a cluster every executor has its
    # own local disks, so shuffle bandwidth scales with executor count; in
    # this single-box sandbox all threads share one device.  Point scratch
    # at tmpfs (SPARK_GRAFT_LOCAL_DIR=/dev/shm/...) to model
    # per-executor-scaling scratch bandwidth in scaling experiments.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
