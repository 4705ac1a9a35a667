"""10x corpus-growth evidence for the dedup/ANN suite.

Synthesizes a deterministic Zipf-ish document corpus and an embedding
corpus at N and 10N IN SPARK (no external data; vocabulary scales with N
so per-token document frequency stays flat, like a growing web crawl;
~1% planted near-dup pairs so every op has real positives), then measures
wall time, CANDIDATE count (the blocking stage's output — the quantity
that goes quadratic when a shape is wrong), and verified-output count for:

- minhash_lsh_pairs  (banded signature bucket join)
- simhash_near_pairs (16-bit block tables)
- ngram_jaccard      (prefix-filtered inverted index)
- lsh_near_dup_pairs (SRP-LSH, adaptive bits)

A scale-safe shape grows candidates ~linearly (ratio ~10 for 10x N);
a broken one grows them ~quadratically (ratio ~100).  Prints a markdown
table for BENCH/BASELINE.md.

Usage: python tools/bench_scale_growth.py [N_SMALL] (default 4000)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _u01(*cols):
    """Deterministic uniform [0,1) from xxhash64 of the inputs."""
    return (F.abs(F.xxhash64(*cols)) % 1_000_000) / 1_000_000.0


def gen_docs(spark, n: int, doclen: int = 40):
    """n docs of `doclen` Zipf-ish tokens over a vocabulary ~n (so token
    document frequency is flat in n); doc_id % 100 == 1 docs are planted
    near-dups of their predecessor (same tokens except the last two)."""
    vocab = max(1000, n)
    d = spark.range(n).select(F.col("id").alias("doc_id"))
    base_id = F.when(
        (F.col("doc_id") % 100 == 1) & (F.col("j") <= doclen - 2),
        F.col("doc_id") - 1,
    ).otherwise(F.col("doc_id"))
    toks = (
        d.select("doc_id", F.explode(F.sequence(F.lit(1), F.lit(doclen))).alias("j"))
        .withColumn(
            "tok",
            F.concat(
                F.lit("w"),
                F.floor(F.lit(float(vocab)) * F.pow(_u01(base_id, F.col("j")), 3.0)),
            ),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("tok")).alias("text"))
    )
    return toks.withColumn("source", F.lit("web")).withColumn("lang", F.lit("xx"))


def gen_embeddings(spark, n: int, dim: int = 64):
    """n deterministic pseudo-random vectors; vec_id % 50 == 1 vectors are
    planted near-dups of their predecessor (one dimension nudged)."""
    d = spark.range(n).select(F.col("id").alias("vec_id"))
    base_id = F.when(
        (F.col("vec_id") % 50 == 1) & (F.col("j") > 0), F.col("vec_id") - 1
    ).otherwise(F.col("vec_id"))
    return (
        d.select("vec_id", F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("j"))
        .withColumn("v", (2.0 * _u01(base_id, F.col("j")) - 1.0).cast("float"))
        .groupBy("vec_id")
        .agg(F.collect_list(F.struct("j", "v")).alias("jv"))
        .select(
            "vec_id",
            F.transform(F.array_sort("jv"), lambda s: s["v"]).alias("embedding"),
        )
    )


def measure(spark, n: int) -> dict:
    from geotrellis_landsat_emr_demo_spark.operators import similarity, textops

    par = spark.sparkContext.defaultParallelism
    docs = gen_docs(spark, n).repartition(par).localCheckpoint(eager=True)
    embs = gen_embeddings(spark, n).repartition(par).localCheckpoint(eager=True)
    out = {}

    # ---- minhash: candidates = banded bucket join on the signatures
    t0 = time.time()
    pairs = textops.minhash_portable_pairs(docs, n_hashes=8, bands=4, threshold=0.5)
    n_out = pairs.count()
    wall = time.time() - t0
    sigs = textops.minhash_portable_signatures(docs, 8, 3).localCheckpoint(eager=True)
    banded = textops._minhash_banded(sigs, 4, 2)
    x, y = banded.alias("x"), banded.alias("y")
    n_cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id"), F.col("y.doc_id"))
        .distinct()
        .count()
    )
    out["minhash_lsh_pairs"] = (wall, n_cand, n_out)

    # ---- simhash: candidates = block-table equi-join (pre-hamming)
    t0 = time.time()
    n_out = textops.simhash_near_pairs(docs, max_hamming=3).count()
    wall = time.time() - t0
    sh = (
        textops._simhash_table(docs, 4)
        .select("doc_id", *[f"block{t}" for t in range(4)])
        .localCheckpoint(eager=True)
    )
    banded = sh.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"block{t}") for t in range(4)])).alias(
            "tbl", "blk"
        ),
    )
    x, y = banded.alias("x"), banded.alias("y")
    n_cand = (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id"), F.col("y.doc_id"))
        .distinct()
        .count()
    )
    out["simhash_near_pairs"] = (wall, n_cand, n_out)

    # ---- ngram jaccard: candidates = prefix-index join (pre-verify)
    t0 = time.time()
    n_out = textops.ngram_jaccard_pairs(docs, "source", 0.7).count()
    wall = time.time() - t0
    t_pref = 0.7
    base = textops._token_base(docs, "source", True, r"\s+").localCheckpoint(
        eager=True
    )
    inv = textops._prefix_index(base, t_pref, hot=textops._hot_hashes(base))
    x, y = inv.alias("x"), inv.alias("y")
    n_cand = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("y.n") >= t_pref * F.col("x.n") - 1e-9)
            & (F.col("x.n") >= t_pref * F.col("y.n") - 1e-9),
        )
        .select(F.col("x.doc_id"), F.col("y.doc_id"))
        .distinct()
        .count()
    )
    out["ngram_jaccard"] = (wall, n_cand, n_out)

    # ---- embedding LSH near-dups: candidates exposed directly
    t0 = time.time()
    n_out = similarity.lsh_near_dup_pairs(embs, threshold=0.95, bits=None).count()
    wall = time.time() - t0
    n_cand = similarity.lsh_candidate_pairs(embs, bits=None).count()
    out["lsh_near_dup_pairs"] = (wall, n_cand, n_out)

    for df in (docs, embs, sigs, sh, base):
        df.unpersist()
    return out


def measure_incremental(spark, n: int, batch: int = 200) -> dict:
    """Per-batch probe cost against a STORED corpus of n docs: the round-4
    O(|new|) claim.  The corpus' pre-banded signature index is written to
    a catalog and range-compacted once (amortized over every future crawl
    batch); the measured quantity is what a single new batch pays — with
    the old shape this grew with |corpus| (full banded explode + corpus
    distinct); with the stored-index probe it should stay ~flat in n."""
    import os
    import shutil
    import tempfile

    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import sigstore, textops

    par = spark.sparkSession.sparkContext.defaultParallelism if hasattr(
        spark, "sparkSession"
    ) else spark.sparkContext.defaultParallelism
    root = os.path.join(tempfile.gettempdir(), f"siggrowth-{n}")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    docs = gen_docs(spark, n).repartition(par).localCheckpoint(eager=True)
    sigs = textops.minhash_portable_signatures(docs, 8, 3).localCheckpoint(eager=True)
    staged = sigstore.stage_sig_bands(
        cat, textops._minhash_banded(sigs, 4, 2), n_partitions=4096
    )
    cat.commit({sigstore.SIG_BANDS_TABLE: staged})
    cat.commit({"doc_sigs": cat.stage_spark_write(sigs, "doc_sigs")})
    sigstore.compact_sig_bands(spark, cat, n_partitions=4096, n_files=32)
    corpus_sigs = cat.read_spark(spark, "doc_sigs")
    # fixed-size new batch, ids disjoint from the corpus
    new = (
        gen_docs(spark, n + batch)
        .filter(F.col("doc_id") >= n)
        .localCheckpoint(eager=True)
    )
    walls, n_pairs = [], 0
    for _ in range(3):  # best-of-3: single samples are host-noise bound
        t0 = time.time()
        new_sigs = textops.minhash_portable_signatures(new, 8, 3).localCheckpoint(
            eager=True
        )
        nb = textops._minhash_banded(new_sigs, 4, 2)
        pruned = sigstore.probe_sig_bands(spark, cat, nb, n_partitions=4096)
        pairs = textops.incremental_minhash_pairs(
            new, corpus_sigs, 8, 4, 0.5, corpus_bands=pruned, new_sigs=new_sigs
        )
        n_pairs = pairs.count()
        walls.append(time.time() - t0)
        pairs._cand_ckpt.unpersist()
        new_sigs.unpersist()
    for df in (docs, sigs, new):
        df.unpersist()
    shutil.rmtree(root, ignore_errors=True)
    return {"wall": min(walls), "pairs": n_pairs}


def main():
    from geotrellis_landsat_emr_demo_spark.session import build_session

    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 4000
    spark = build_session(master="local[32]", shuffle_partitions=32)
    # warm python workers / JIT once
    spark.range(1000).select(F.xxhash64("id")).count()
    small = measure(spark, n_small)
    big = measure(spark, n_small * 10)
    print(f"\n| op | N={n_small}: wall / cand / out | N={n_small*10}: wall / cand / out | cand growth (10x N) |")
    print("|---|---|---|---|")
    for op in small:
        ws, cs, os_ = small[op]
        wb, cb, ob = big[op]
        ratio = cb / max(cs, 1)
        print(
            f"| {op} | {ws:.1f} s / {cs:,} / {os_:,} "
            f"| {wb:.1f} s / {cb:,} / {ob:,} | **{ratio:.1f}x** |"
        )
    inc_s = measure_incremental(spark, n_small)
    inc_b = measure_incremental(spark, n_small * 10)
    print(
        f"\n| incremental probe (fixed 200-doc batch) | corpus N={n_small}: "
        f"{inc_s['wall']:.2f} s / {inc_s['pairs']:,} pairs "
        f"| corpus N={n_small*10}: {inc_b['wall']:.2f} s / {inc_b['pairs']:,} pairs "
        f"| wall growth **{inc_b['wall']/max(inc_s['wall'],1e-9):.2f}x** |"
    )
    spark.stop()


if __name__ == "__main__":
    main()
