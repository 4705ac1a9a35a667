#!/usr/bin/env python
"""The one timing and profiling instrument: bench.py's method, per rep
attributed to Spark layers from the event log.

A variant is a workload (a headline leaf, or the t-bench ingest) at one
CPU level, for the ingest with one set of ``ingest_images`` keyword
arguments.  The variants of one workload are interleaved: each rep runs
every one of them once, so host drift hits them alike.  Workloads run
one after another, each with all its reps, in bench.py's order.  Per
variant the result carries the cold rep (rep 0) and the warm best (the
least of the later reps), as bench.py reports them.
Each rep runs under its own Spark job group, and its totals (task run vs
CPU time, GC, shuffle, spill, Python bytes; ``perfbench/tracing.py``'s
event-log parser) come with its wall time; an ingest rep also carries
the per-stage walls ``ingest_images`` returns, a leaf rep its formatted
plan.  Every rep also lists the size-gate decisions it made
(``gates.py``: gate, measured size, cap, branch).  Every level runs pinned to its CPUs on a session with warm Python
workers, and caches are dropped after every rep.

Data and default level as in bench.py: $SPARK_GRAFT_SF_DIR (leaves) and
$SPARK_GRAFT_CPUS.  One JSON document on standard output; progress on
standard error.

  # headline leaves, bench.py's method, with plans
  python tools/measure.py --leaves all --reps 3
  # ingest at bench.py's size
  python tools/measure.py --ingest 24x512 --reps 3
  # interleaved ingest A/B of keyword arguments at one level
  python tools/measure.py --ingest 384x768 --cpus 32 --kw '[{}, {"salt_buckets": 4}]' --reps 4
  # the same ingest at two levels, interleaved
  python tools/measure.py --ingest 384x768 --cpus 8,32 --reps 3
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

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import CPUS, HEADLINE, SF_DIR, materialize  # noqa: E402
from geotrellis_landsat_emr_demo_spark import gates  # noqa: E402
from perfbench import tracing  # noqa: E402

DATA = os.path.join(REPO, ".bench_data")


class Variant(NamedTuple):
    workload: str
    cpus: int
    run: Callable  # spark -> dict with at least wall_s
    kw: dict = {}


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

        # every rep builds the dedup entries' shared pair relation, as
        # bench_scaling.py does, so a warm rep does not time a memoized
        # checkpoint read
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
                        group = f"{workload}{json.dumps(v.kw) if v.kw else ''}@{level}#{rep}"
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
    ap.add_argument("--cpus", default=str(CPUS), help="comma list of CPU levels")
    ap.add_argument("--reps", type=int, default=3, help="rep 0 is cold, the rest warm")
    args = ap.parse_args()
    names = HEADLINE if args.leaves == "all" else [n for n in args.leaves.split(",") if n]
    if not names and not args.ingest:
        ap.error("nothing to measure: give --leaves and/or --ingest")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
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
    levels = dict.fromkeys(int(c) for c in args.cpus.split(","))
    variants = [Variant(w, c, fn, kw) for c in levels for w, fn, kw in runs]
    results = measure(variants, args.reps)
    for r in results:
        print(f"  {r['workload']} {r['kw'] or ''} @{r['cpus']}: cold={r['cold_s']} warm={r['warm_s']} "
              f"reps={[x['wall_s'] for x in r['reps']]}", file=sys.stderr)
    print(json.dumps(dict(sf_dir=SF_DIR, ingest=args.ingest or None, results=results)))


if __name__ == "__main__":
    main()
