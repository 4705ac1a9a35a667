#!/usr/bin/env python
"""The one timing and profiling instrument: bench.py's method, per rep
attributed to Spark layers from the event log.

Workloads, one flag each:

- ``--leaves``: headline leaves as bench.py times them (noop sink), each
  with its formatted plan;
- ``--ingest SCENESxPX``: the t-bench ingest (zoom 13 leaves, pyramid to
  zoom 9), once per ``--kw`` set of ``ingest_images`` keyword arguments;
- ``--joins K``: six scale-path dedup/join queries, counted, on K salted
  replicas of the documents, events and embeddings tables;
- ``--minhash DOCS``: 8-hash portable MinHash signatures over the
  documents table replicated to DOCS rows (whole copies, rounded down);
- ``--growth N``: wall, candidates and outputs of the four blocking
  operators on N and on 10N synthetic documents and vectors, and one
  fixed 200-document incremental probe against each as a stored corpus.

A variant is a workload at one CPU level.  The variants of one workload
are interleaved: each rep runs every one of them once, so host drift
hits them alike.  Workloads run one after another, each with all its
reps, in bench.py's order.  Per variant the result carries the cold rep
(rep 0) and the warm best (the least of the later reps), as bench.py
reports them.  Each rep runs under its own Spark job group, and its
totals (task run vs CPU time, GC, shuffle, spill, Python bytes;
``perfbench/tracing.py``'s event-log parser) come with its wall time and
the size-gate decisions it made (``gates.py``: gate, measured size, cap,
branch); an ingest rep also carries the per-stage walls
``ingest_images`` returns.  Every level runs pinned to its CPUs on a
session with warm Python workers, and caches are dropped after every rep.

With two or more CPU levels the run measures scaling from the lowest
level to the highest.  The Spark-free kernel probe (the ingest's chunk
kernel in a pinned process pool) runs at both, and per workload
``scaling`` carries the efficiency of the same work at both levels (1.0
is linear; ``best`` from the warm bests, ``paired`` from each rep's
time-adjacent warm walls), the probe's efficiency as its ``ceiling``,
and both divided by it (``vs_ceiling``).  The host's ceiling moves from
session to session; the ratio to the same run's ceiling is what compares.

Data and default level as in bench.py: $SPARK_GRAFT_SF_DIR (leaves, joins,
minhash) and $SPARK_GRAFT_CPUS.  One JSON document on standard output;
progress on standard error.

  # headline leaves, bench.py's method, with plans
  python tools/measure.py --leaves all --reps 3
  # ingest at bench.py's size
  python tools/measure.py --ingest 24x512 --reps 3
  # interleaved ingest A/B of keyword arguments at one level
  python tools/measure.py --ingest 384x768 --cpus 32 --kw '[{}, {"salt_buckets": 4}]' --reps 4
  # N -> 4N scaling of every suite against the same run's ceiling
  python tools/measure.py --cpus 1,4 --ingest 24x512 --joins 4 --minhash 400000 --reps 3
  # 10x corpus growth at one level
  python tools/measure.py --cpus 4 --growth 4000 --reps 2
"""

from __future__ import annotations

import argparse
import gc
import json
import logging
import os
import shutil
import sys
import tempfile
import time
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import CPUS, HEADLINE, SF_DIR, materialize  # noqa: E402
from geotrellis_landsat_emr_demo_spark import gates  # noqa: E402
from perfbench import tracing  # noqa: E402

DATA = os.path.join(REPO, ".bench_data")

# The join suite measures the scale-path operators (LSH near-dup / ANN),
# not their O(n^2) brute-force baselines: quadratic work would dwarf the
# input-size scaling the replicated corpus exists to exercise.
JOIN_QUERIES = (
    "ngram_jaccard",
    "minhash_lsh_pairs",
    "embedding_lsh_near_dups",
    "ann_lsh_topk",
    "envelope_pip_join",
    "spacetime_key_agg",
)


class Variant(NamedTuple):
    workload: str
    cpus: int
    run: Callable  # spark -> dict with at least wall_s
    kw: dict = {}


def label(workload: str, kw: dict) -> str:
    return f"{workload}{json.dumps(kw) if kw else ''}"


def pin(cpus: int | None) -> None:
    """Pin this process, and every process it has started (the JVM,
    Python and pool workers), to the first ``cpus`` logical CPUs;
    ``None`` restores the full set.

    Every measured level runs pinned; this is the decided protocol
    (BENCH/BASELINE.md).  An N-core executor node has N cores, while an
    unpinned local[N] on a larger host borrows more (GC and netty
    threads, N Python workers spread over more cores), which inflates the
    low level and deflates measured scaling efficiency."""
    if not hasattr(os, "sched_setaffinity"):
        return
    total = os.cpu_count()
    mask = set(range(total if cpus is None else min(cpus, total)))
    os.sched_setaffinity(0, mask)
    # The py4j JVM (launched by the FIRST session) outlives spark.stop()
    # and keeps its threads' old affinity, so walk every descendant
    # process and pin each of its threads too.  New threads inherit from
    # their creating thread, so later-spawned executors/python workers
    # stay inside the mask.
    def _tasks(pid):
        try:
            return [int(t) for t in os.listdir(f"/proc/{pid}/task")]
        except OSError:
            return []

    def _children(pid):
        kids = []
        for tid in _tasks(pid):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    kids += [int(x) for x in f.read().split()]
            except OSError:
                pass
        return kids

    stack = _children(os.getpid())
    while stack:
        pid = stack.pop()
        stack += _children(pid)
        for tid in _tasks(pid):
            try:
                os.sched_setaffinity(tid, mask)
            except OSError:
                pass


def session(cpus: int, log_dir: str):
    """bench.py's session at local[cpus], writing the event log to
    ``log_dir``, with every Python worker started (fork + pandas import)
    before any timing, as on a long-lived cluster."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from geotrellis_landsat_emr_demo_spark.session import build_session

    spark = build_session(
        master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=tracing.spark_event_conf(log_dir)
    )

    def _noop(it):
        for b in it:
            yield b

    spark.range(cpus * 4, numPartitions=cpus * 4).mapInPandas(_noop, "id long").count()
    return spark


def drop_caches(spark) -> None:
    """bench.py's cache drop between reps: persisted and checkpointed
    blocks of one rep must not squeeze the next rep's execution memory."""
    gc.collect()  # release py4j refs so the RDDs below are the full set
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    spark.catalog.clearCache()


def leaf(name: str) -> Callable:
    """One headline leaf as bench.py times it: build the query and run it
    into the noop sink."""

    def run(spark):
        import __spark_entry__ as entry

        # every rep builds the dedup entries' shared pair relation, so a
        # warm rep does not time a memoized checkpoint read
        entry.drop_pairs_memo()
        t0 = time.time()
        df = entry.queries()[name](spark, SF_DIR)
        materialize(df)
        wall = round(time.time() - t0, 3)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        return dict(wall_s=wall, plan=df._jdf.queryExecution().explainString(mode))

    return run


def ingest(images, kw: dict) -> Callable:
    """bench.ingest_bench's ingest (t-bench scenes into an empty catalog,
    zoom 13 leaves and the pyramid to zoom 9) with ``ingest_images``
    keyword arguments ``kw``; staging the scenes is not timed."""

    def run(spark):
        from geotrellis_landsat_emr_demo_spark.catalog import Catalog
        from geotrellis_landsat_emr_demo_spark.operators import ingest as ops

        root = os.path.join(DATA, "measure-ingest")
        shutil.rmtree(root, ignore_errors=True)
        cat = Catalog(root)
        cat.append_pandas(images, "images")
        t0 = time.time()
        m = ops.ingest_images(spark, cat, "bench", max_zoom=13, min_zoom=9, **kw)
        wall = round(time.time() - t0, 3)
        shutil.rmtree(root, ignore_errors=True)
        return dict(
            wall_s=wall,
            tiles=sum(v.get("rows", 0) for v in m.values()),
            stages={k.split(":")[-1]: round(v.get("wall_s", 0), 3) for k, v in m.items()},
        )

    return run


def join_corpus(k: int) -> str:
    """The join suite's input: $SPARK_GRAFT_SF_DIR itself for k = 1, else
    its documents and events replicated k times and its embeddings k/4
    times (the ANN operators are superlinear in bucket density), built
    once under .bench_data.

    At sf0.1 the six queries finish in seconds, so fixed per-query costs
    (planning, scheduling, worker handshakes) would dominate.  Replicas
    are salted (a per-replica text token, offset ids, every embedding
    component shifted by replica * 1e-3), so they are not exact
    duplicates; a one-token salt keeps replica Jaccard above the near-dup
    thresholds, so pair outputs grow ~k^2 within the planted families.
    The job is identical at every level, but its throughput does not
    compare across k."""
    if k == 1:
        return SF_DIR
    import numpy as np
    import pandas as pd

    out = os.path.join(DATA, f"joins-{os.path.basename(SF_DIR)}-x{k}")
    marker = os.path.join(out, "_done")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    off = 10_000_000
    dparts, eparts, vparts = [], [], []
    for i in range(k):
        dparts.append(docs.assign(doc_id=docs["doc_id"] + i * off, text=docs["text"] + f" r{i}"))
        eparts.append(ev.assign(event_id=ev["event_id"] + i * off, user_id=ev["user_id"] + i * 1_000_000))
        if i % 4 == 0:
            shift = np.float32(i) * np.float32(1e-3)
            vparts.append(emb.assign(
                vec_id=emb["vec_id"] + i * off,
                embedding=emb["embedding"].map(lambda a: (np.asarray(a, dtype=np.float32) + shift).tolist()),
            ))
    pd.concat(dparts).to_parquet(f"{out}/documents.parquet", index=False)
    pd.concat(eparts).to_parquet(f"{out}/events.parquet", index=False)
    pd.concat(vparts).to_parquet(f"{out}/embeddings.parquet", index=False)
    open(marker, "w").write("ok")
    return out


def joins(sf_dir: str) -> Callable:
    """The join suite: every JOIN_QUERIES entry built on ``sf_dir`` and
    counted; the rep carries the summed output rows and per-query walls."""

    def run(spark):
        import __spark_entry__ as entry

        qs = entry.queries()
        entry.drop_pairs_memo()  # every rep runs the full dedup pipeline
        rows, walls = 0, {}
        t0 = time.time()
        for name in JOIN_QUERIES:
            tq = time.time()
            rows += qs[name](spark, sf_dir).count()
            walls[name] = round(time.time() - tq, 3)
        return dict(wall_s=round(time.time() - t0, 3), join_out_rows=rows, per_query=walls)

    return run


def minhash(docs: int) -> Callable:
    """The CPU-bound suite: MinHash signatures as the queries compute them
    (:func:`textops.minhash_portable_signatures`, 8 hashes) over the
    documents table replicated to ``docs`` rows, counted on a signature
    column.  Per-document hashing with one narrow shuffle isolates compute
    scaling from the byte movement of the ingest and join suites."""

    def run(spark):
        from geotrellis_landsat_emr_demo_spark.operators import textops

        src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        k = max(1, docs // src.count())
        big = src.crossJoin(spark.range(k).select(F.col("id").alias("rep"))).select(
            (F.col("doc_id") * k + F.col("rep")).alias("doc_id"), "text"
        )
        t0 = time.time()
        out = textops.minhash_portable_signatures(big, n_hashes=8).agg(F.count("h0")).collect()[0][0]
        return dict(wall_s=round(time.time() - t0, 3), cpu_docs=out)

    return run


def _u01(*cols):
    """Deterministic uniform [0, 1) from xxhash64 of the columns."""
    return (F.abs(F.xxhash64(*cols)) % 1_000_000) / 1_000_000.0


def _growth_docs(spark, n: int, doclen: int = 40):
    """n docs of ``doclen`` Zipf-ish tokens over a vocabulary of ~n words
    (so token document frequency stays flat in n, like a growing crawl);
    docs with doc_id % 100 == 1 repeat their predecessor but for the last
    two tokens."""
    base_id = F.when(
        (F.col("doc_id") % 100 == 1) & (F.col("j") <= doclen - 2), F.col("doc_id") - 1
    ).otherwise(F.col("doc_id"))
    tok = F.concat(F.lit("w"), F.floor(F.lit(float(max(1000, n))) * F.pow(_u01(base_id, F.col("j")), 3.0)))
    return (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.explode(F.sequence(F.lit(1), F.lit(doclen))).alias("j"))
        .withColumn("tok", tok)
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("tok")).alias("text"))
        .withColumn("source", F.lit("web"))
        .withColumn("lang", F.lit("xx"))
    )


def _growth_vectors(spark, n: int, dim: int = 64):
    """n pseudo-random ``dim``-vectors; vectors with vec_id % 50 == 1
    repeat their predecessor but for dimension 0."""
    base_id = F.when((F.col("vec_id") % 50 == 1) & (F.col("j") > 0), F.col("vec_id") - 1).otherwise(F.col("vec_id"))
    return (
        spark.range(n)
        .select(F.col("id").alias("vec_id"), F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("j"))
        .withColumn("v", (2.0 * _u01(base_id, F.col("j")) - 1.0).cast("float"))
        .groupBy("vec_id")
        .agg(F.collect_list(F.struct("j", "v")).alias("jv"))
        .select("vec_id", F.transform(F.array_sort("jv"), lambda s: s["v"]).alias("embedding"))
    )


def _candidates(df, keys, *extra) -> int:
    """A blocking stage's candidates: the distinct doc pairs (x < y) of
    ``df`` rows equal on ``keys`` that also meet ``extra``, through the
    engine's bucket self-join."""
    from geotrellis_landsat_emr_demo_spark.operators import pairs

    return pairs.self_join(df, keys, on=extra).distinct().count()


def _growth_at(spark, n: int, batch: int = 200) -> tuple[dict, dict]:
    """The four blocking operators on n docs (n vectors for the LSH one):
    per operator the wall of its own pairs count, then, untimed, its
    candidates and outputs.  Then the incremental probe: the n docs'
    pre-banded signature index is stored in a catalog and range-compacted
    (untimed: amortized over every later batch), and one ``batch``-doc
    probe against it is timed; it should cost O(|batch|), flat in n."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import sigstore, similarity, textops

    par = spark.sparkContext.defaultParallelism
    docs = _growth_docs(spark, n).repartition(par).localCheckpoint(eager=True)
    vecs = _growth_vectors(spark, n).repartition(par).localCheckpoint(eager=True)

    def row(pairs: Callable, candidates: Callable) -> dict:
        t0 = time.time()
        outputs = pairs().count()
        wall = round(time.time() - t0, 3)
        return dict(wall_s=wall, candidates=candidates(), outputs=outputs)

    sigs = textops.minhash_portable_signatures(docs, 8, 3).localCheckpoint(eager=True)
    t_pref = 0.7

    def ngram_candidates():
        base = textops._token_base(docs, "source", True, r"\s+").localCheckpoint(eager=True)
        inv = textops._prefix_index(base, t_pref, hot=textops._hot_hashes(base))
        return _candidates(inv, ("bucket", "h"), F.col("y.n") >= t_pref * F.col("x.n") - 1e-9,
                           F.col("x.n") >= t_pref * F.col("y.n") - 1e-9)

    def simhash_candidates():
        blocks = [f"block{t}" for t in range(4)]
        sh = textops._simhash_table(docs, 4).select("doc_id", *blocks).localCheckpoint(eager=True)
        return _candidates(sh.select("doc_id", F.posexplode(F.array(*blocks)).alias("tbl", "blk")), ("tbl", "blk"))

    ops = dict(
        minhash_lsh_pairs=row(
            lambda: textops.minhash_portable_pairs(docs, n_hashes=8, bands=4, threshold=0.5),
            lambda: _candidates(textops._minhash_banded(sigs, 4, 2), ("band", "bucket")),
        ),
        simhash_near_pairs=row(lambda: textops.simhash_near_pairs(docs, max_hamming=3), simhash_candidates),
        ngram_jaccard=row(lambda: textops.ngram_jaccard_pairs(docs, "source", t_pref), ngram_candidates),
        lsh_near_dup_pairs=row(
            lambda: similarity.lsh_near_dup_pairs(vecs, threshold=0.95, bits=None),
            lambda: similarity.lsh_candidate_pairs(vecs, bits=None).count(),
        ),
    )

    root = os.path.join(DATA, "measure-sigstore")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    staged = sigstore.stage_sig_bands(cat, textops._minhash_banded(sigs, 4, 2), n_partitions=4096)
    cat.commit({sigstore.SIG_BANDS_TABLE: staged})
    cat.commit({"doc_sigs": cat.stage_spark_write(sigs, "doc_sigs")})
    sigstore.compact_sig_bands(spark, cat, n_partitions=4096, n_files=32)
    corpus_sigs = cat.read_spark(spark, "doc_sigs")
    new = _growth_docs(spark, n + batch).filter(F.col("doc_id") >= n).localCheckpoint(eager=True)
    t0 = time.time()
    new_sigs = textops.minhash_portable_signatures(new, 8, 3).localCheckpoint(eager=True)
    pruned = sigstore.probe_sig_bands(spark, cat, textops._minhash_banded(new_sigs, 4, 2), n_partitions=4096)
    pairs = textops.incremental_minhash_pairs(
        new, corpus_sigs, 8, 4, 0.5, corpus_bands=pruned, new_sigs=new_sigs
    ).count()
    probe = dict(wall_s=round(time.time() - t0, 3), pairs=pairs)
    shutil.rmtree(root, ignore_errors=True)
    return ops, probe


def growth(n: int) -> Callable:
    """The 10x corpus-growth table at n and 10n (:func:`_growth_at`).  A
    scale-safe blocking shape grows candidates ~10x for 10x the corpus, a
    quadratic one ~100x; outputs follow the planted near-dup density."""

    def run(spark):
        t0 = time.time()
        at = {size: _growth_at(spark, size) for size in (n, 10 * n)}
        return dict(
            wall_s=round(time.time() - t0, 3),
            growth={size: ops for size, (ops, _) in at.items()},
            incremental={size: probe for size, (_, probe) in at.items()},
        )

    return run


def _probe_job(i: int) -> int:
    """One kernel-probe job: split the i-th 768 px t-bench scene into its
    zoom 13 tiles with the ingest's chunk kernel."""
    from geotrellis_landsat_emr_demo_spark import fixtures
    from geotrellis_landsat_emr_demo_spark.core import kernels, tiling

    spec = fixtures.scene_specs("t-bench", n_scenes=32, px=768)[i % 32]
    ext = (spec["xmin"], spec["ymin"], spec["xmax"], spec["ymax"])
    tr = tiling.extent_to_tile_range(*ext, 13)
    return sum(1 for _ in kernels.split_to_tiles_cropped(fixtures.scene_array(spec), ext, 13, tr))


def efficiency(lo: int, lo_wall: float, hi: int, hi_wall: float) -> float:
    """Scaling efficiency of the same work timed at ``lo`` and ``hi``
    CPUs: the speed-up over the CPU ratio, 1.0 is linear."""
    return lo_wall * lo / (hi_wall * hi)


def kernel_probe(levels: list[int], reps: int) -> dict:
    """The Spark-free ceiling: the same 8 x max(levels) probe jobs in a
    pool of N processes pinned to N CPUs, at the lowest and the highest
    level, interleaved for ``reps`` reps; the best wall per level.  Their
    efficiency is what this host's single-node memory bandwidth and
    tenancy allow the ingest kernel without Spark."""
    import multiprocessing as mp

    lo, hi = min(levels), max(levels)
    jobs, walls = 8 * hi, {lo: [], hi: []}
    for _ in range(reps):
        for procs in walls:
            pin(procs)
            try:
                with mp.get_context("spawn").Pool(procs) as pool:  # no fork of the py4j threads
                    pool.map(_probe_job, range(procs))  # imports
                    t0 = time.time()
                    tiles = sum(pool.map(_probe_job, range(jobs)))
                    walls[procs].append(time.time() - t0)
            finally:
                pin(None)
    return dict(
        jobs=jobs,
        tiles_per_s={procs: [round(tiles / w, 1) for w in ws] for procs, ws in walls.items()},
        efficiency=round(efficiency(lo, min(walls[lo]), hi, min(walls[hi])), 3),
    )


def scaling(results: list[dict], ceiling: float) -> dict:
    """Per workload label: its efficiency from its lowest level to its
    highest (``best`` from the warm bests, ``paired`` per rep from the
    time-adjacent warm walls), the kernel probe's ``ceiling``, and both
    over the ceiling."""

    def warm(r):
        return [x["wall_s"] for x in r["reps"][1:]] or [r["cold_s"]]

    by: dict[str, dict[int, dict]] = {}
    for r in results:
        by.setdefault(label(r["workload"], r["kw"]), {})[r["cpus"]] = r
    out = {}
    for name, levels in by.items():
        lo, hi = levels[min(levels)], levels[max(levels)]
        eff = [efficiency(lo["cpus"], lo["warm_s"], hi["cpus"], hi["warm_s"])]
        eff += [efficiency(lo["cpus"], a, hi["cpus"], b) for a, b in zip(warm(lo), warm(hi))]
        out[name] = dict(
            levels=[lo["cpus"], hi["cpus"]],
            efficiency=dict(best=round(eff[0], 3), paired=[round(e, 3) for e in eff[1:]]),
            ceiling=ceiling,
            vs_ceiling=dict(best=round(eff[0] / ceiling, 3), paired=[round(e / ceiling, 3) for e in eff[1:]]),
        )
    return out


class Decisions(logging.Handler):
    """The size-gate decision records (one line each) since the last
    :meth:`take`."""

    def __init__(self):
        super().__init__(logging.DEBUG)
        self.lines: list[str] = []

    def emit(self, record):
        self.lines.append(record.getMessage())

    def take(self) -> list[str]:
        lines, self.lines = self.lines, []
        return lines


def measure(variants: list[Variant], reps: int) -> list[dict]:
    """Run ``reps`` reps of every variant.  The variants of one workload
    (its CPU levels and ingest kwargs, the ones a run compares) are
    interleaved rep by rep; workloads run one after another, each with
    all its reps, as bench.py runs its leaves.  A session serves
    consecutive variants of one CPU level."""
    runs: list[list[dict]] = [[] for _ in variants]
    os.makedirs(DATA, exist_ok=True)
    gate_log = Decisions()
    gates.log.addHandler(gate_log)
    gates.log.setLevel(logging.DEBUG)
    with tempfile.TemporaryDirectory(prefix="events-", dir=DATA) as log_dir:
        spark, level = None, None
        try:
            for workload in dict.fromkeys(v.workload for v in variants):
                for rep in range(reps):
                    for v, out in zip(variants, runs):
                        if v.workload != workload:
                            continue
                        if v.cpus != level:
                            if spark is not None:
                                spark.stop()
                            pin(v.cpus)
                            spark, level = session(v.cpus, log_dir), v.cpus
                        group = f"{label(workload, v.kw)}@{level}#{rep}"
                        spark.sparkContext.setJobGroup(group, group)
                        gate_log.take()
                        try:
                            r = v.run(spark)
                        finally:
                            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                        drop_caches(spark)
                        out.append(dict(r, group=group, gates=gate_log.take()))
                        print(f"# {group} {r['wall_s']} s", file=sys.stderr, flush=True)
        finally:
            if spark is not None:
                spark.stop()  # closes the event log
            pin(None)
            gates.log.removeHandler(gate_log)
        groups = tracing.parse_event_log(log_dir)
    results = []
    for v, out in zip(variants, runs):
        res = dict(workload=v.workload, cpus=v.cpus, kw=v.kw)
        for r in out:
            totals = tracing.spark_metrics([groups[r["group"]]] if r["group"] in groups else [])
            r["spark"] = {k: round(x, 3) for k, x in totals.items()}
            if "plan" in r:
                res["plan"] = r.pop("plan")
        walls = [r["wall_s"] for r in out]
        res.update(cold_s=walls[0], warm_s=min(walls[1:]) if len(walls) > 1 else walls[0], reps=out)
        results.append(res)
    return results


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--leaves", default="", help='comma list of headline leaves, or "all"')
    ap.add_argument("--ingest", default="", help="SCENESxPX t-bench ingest, e.g. 24x512")
    ap.add_argument("--kw", default="[{}]", help="JSON list of ingest_images keyword dicts")
    ap.add_argument("--joins", type=int, default=0, help="join suite on K salted replicas of the sf tables")
    ap.add_argument("--minhash", type=int, default=0, help="MinHash suite over DOCS replicated documents")
    ap.add_argument("--growth", type=int, default=0, help="corpus-growth table at N and 10N documents")
    ap.add_argument("--cpus", default=str(CPUS), help="comma list of CPU levels; two or more measure scaling")
    ap.add_argument("--reps", type=int, default=3, help="rep 0 is cold, the rest warm")
    args = ap.parse_args()
    names = HEADLINE if args.leaves == "all" else [n for n in args.leaves.split(",") if n]
    if not (names or args.ingest or args.joins or args.minhash or args.growth):
        ap.error("nothing to measure: give --leaves, --ingest, --joins, --minhash and/or --growth")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    if min(args.joins, args.minhash, args.growth) < 0:
        ap.error("--joins, --minhash and --growth take a positive size")
    import __spark_entry__ as entry

    unknown = [n for n in names if n not in entry.queries()]
    if unknown:
        ap.error(f"unknown leaves: {unknown}")
    runs = [(n, leaf(n), {}) for n in names]
    if args.ingest:
        from geotrellis_landsat_emr_demo_spark import fixtures

        scenes, px = (int(v) for v in args.ingest.split("x"))
        images = fixtures.images_pdf("t-bench", n_scenes=scenes, px=px)
        runs += [("ingest", ingest(images, kw), kw) for kw in json.loads(args.kw)]
    if args.joins:
        runs.append(("joins", joins(join_corpus(args.joins)), {}))
    if args.minhash:
        runs.append(("minhash", minhash(args.minhash), {}))
    if args.growth:
        runs.append(("growth", growth(args.growth), {}))
    levels = list(dict.fromkeys(int(c) for c in args.cpus.split(",")))
    variants = [Variant(w, c, fn, kw) for c in levels for w, fn, kw in runs]
    results = measure(variants, args.reps)
    for r in results:
        print(f"  {label(r['workload'], r['kw'])} @{r['cpus']}: cold={r['cold_s']} warm={r['warm_s']} "
              f"reps={[x['wall_s'] for x in r['reps']]}", file=sys.stderr)
    doc = dict(sf_dir=SF_DIR, args=vars(args), results=results)
    if len(levels) > 1:
        probe = kernel_probe(levels, args.reps)
        doc.update(kernel_probe=probe, scaling=scaling(results, probe["efficiency"]))
        for name, s in doc["scaling"].items():
            print(f"  {name} {s['levels'][0]}->{s['levels'][1]}: efficiency {s['efficiency']} "
                  f"ceiling {s['ceiling']} vs_ceiling {s['vs_ceiling']}", file=sys.stderr)
    print(json.dumps(doc))


if __name__ == "__main__":
    main()
