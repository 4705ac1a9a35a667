"""Per-layer tracing for the traced run.

A :class:`Tracer` wraps public functions of the engine's modules from the
outside (the engine itself is not modified) and keeps, per span name, the
call count, total time and self time (duration minus the time of spans
opened inside it on the same thread).  Spark work is attributed from the
event log, per job group that the benchmark sets before each public call.

``PER_LAYER`` is the layer -> metric -> end-to-end metric -> workload map
that BENCHMARK.json and README.md describe.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from collections import defaultdict

# (metric, unit, layer, end-to-end metric it should move, workload it moves on)
PER_LAYER = [
    ("ingest.leaf_s", "s", "operators.ingest", "throughput_per_s latency_gmean_ms", "ingest_join"),
    ("ingest.pyramid_s", "s", "operators.ingest", "throughput_per_s latency_gmean_ms", "ingest_join"),
    ("ingest.attrs_s", "s", "operators.ingest", "throughput_per_s latency_gmean_ms", "ingest_join"),
    ("catalog.stage_write_s", "s", "catalog", "throughput_per_s latency_gmean_ms", "ingest_join"),
    ("catalog.commit_ms", "ms", "catalog", "throughput_per_s latency_gmean_ms", "ingest_join"),
    ("catalog.commits", "count", "catalog", "throughput_per_s latency_gmean_ms", "ingest_join"),
    ("catalog.files_written", "count", "catalog", "stored_bytes_per_tile", "ingest_join"),
    ("catalog.row_groups_read_per_lookup", "count", "catalog", "latency_gmean_ms", "serve_mixed"),
    ("catalog.payload_bytes_per_lookup", "bytes", "catalog", "latency_gmean_ms", "serve_mixed"),
    ("catalog.read_arrow_ms", "ms", "catalog", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("catalog.read_arrow_calls", "count", "catalog", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("spark.task_run_s", "s", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.task_cpu_s", "s", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.cpu_per_run", "ratio", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.gc_s", "s", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.shuffle_write_mb", "MB", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.shuffle_read_mb", "MB", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.spill_mb", "MB", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.jobs", "count", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.stages", "count", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.tasks", "count", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.python_bytes_sent_mb", "MB", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
    ("spark.jvm_peak_rss_mb", "MB", "spark", "", "ingest_join"),
    ("spark.python_bytes_received_mb", "MB", "spark", "latency_gmean_ms throughput_per_s", "ingest_join"),
]
JOIN_OPS = ("pip", "knn", "zonal", "diff")
for _op in JOIN_OPS:
    PER_LAYER += [
        (f"joins.{_op}.call_s", "s", "operators.joins", "latency_gmean_ms", "ingest_join"),
        (f"joins.{_op}.jobs", "count", "operators.joins", "latency_gmean_ms", "ingest_join"),
        (f"joins.{_op}.driver_s", "s", "operators.joins", "latency_gmean_ms", "ingest_join"),
    ]
PER_LAYER += [
    ("queries.read_tile_ms", "ms", "plans.queries", "latency_gmean_ms throughput_per_s", "serve_mixed"),
    ("queries.tile_cache_hit_rate", "ratio", "plans.queries", "latency_gmean_ms throughput_per_s", "serve_mixed"),
    ("queries.render_tile.self_ms", "ms", "plans.queries", "latency_gmean_ms", "serve_mixed"),
    ("queries.render_diff.self_ms", "ms", "plans.queries", "latency_gmean_ms", "serve_mixed"),
    ("queries.polygonal_mean.self_ms", "ms", "plans.queries", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("queries.time_series.self_ms", "ms", "plans.queries", "throughput_per_s latency_p95_ms", "serve_mixed"),
]
CORE_FNS = ("decode_payload", "op", "classify", "png_encode", "grid_mask", "regrid")
for _fn in CORE_FNS:
    _moves = "throughput_per_s latency_p95_ms" if _fn == "grid_mask" else "latency_gmean_ms"  # grid_mask: /mean
    PER_LAYER += [
        (f"core.{_fn}_ms", "ms", "core", _moves, "serve_mixed"),
        (f"core.{_fn}_calls", "count", "core", _moves, "serve_mixed"),
    ]
PER_LAYER += [
    ("server.peak_rss_mb", "MB", "server", "", "serve_mixed"),
    ("server.self_ms", "ms", "server", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("server.wait_ms", "ms", "server", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("route.tiles_p50_ms", "ms", "server", "latency_gmean_ms", "serve_mixed"),
    ("route.tiles_p99_ms", "ms", "server", "latency_p95_ms", "serve_mixed"),
    ("route.diff_p50_ms", "ms", "server", "latency_gmean_ms", "serve_mixed"),
    ("route.mean_p50_ms", "ms", "server", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("route.series_p50_ms", "ms", "server", "throughput_per_s latency_p95_ms", "serve_mixed"),
    ("trace.overhead_pct", "%", "benchmark", "latency_gmean_ms", "ingest_join serve_mixed"),
]
UNITS = {name: unit for name, unit, *_ in PER_LAYER}


def empty_metrics() -> dict:
    """Every per-layer metric at zero: a layer a workload does not run
    reports no calls and no time."""
    return {name: 0.0 for name in UNITS}


def report(values: dict, workload: str, overhead: dict) -> dict:
    """The traced run's JSON: each metric with its unit, layer and the
    end-to-end metric it maps to."""
    return dict(
        workload=workload,
        overhead=overhead,
        metrics={
            name: dict(value=values[name], unit=unit, layer=layer, moves=moves.split(), on=on.split())
            for name, unit, layer, moves, on in PER_LAYER
        },
    )


class Tracer:
    """In-memory span aggregates, safe to update from many threads."""

    def __init__(self):
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self.stats = defaultdict(lambda: [0, 0.0, 0.0])  # name -> [calls, total_s, self_s]
        self.counts = defaultdict(float)

    def reset(self) -> None:
        with self._lock:
            self.stats.clear()
            self.counts.clear()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        frame = [0.0]  # time covered by child spans
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += dur
            with self._lock:
                s = self.stats[name]
                s[0] += 1
                s[1] += dur
                s[2] += dur - frame[0]

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version.  ``after(result,
        args, kwargs)`` runs inside the span, for counters."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if after is None:
                return tracer.span(name, fn, *args, **kwargs)

            def call(*a, **k):
                out = fn(*a, **k)
                if tracer.enabled:
                    after(out, a, k)
                return out

            return tracer.span(name, call, *args, **kwargs)

        setattr(owner, attr, wrapped)

    def snapshot(self) -> dict:
        with self._lock:
            return dict(stats={k: list(v) for k, v in self.stats.items()}, counts=dict(self.counts))


def wrap_core(tracer: Tracer) -> None:
    """Spans around the core kernels that serving and zonal joins call."""
    from geotrellis_landsat_emr_demo_spark.core import geom, kernels, png
    from geotrellis_landsat_emr_demo_spark.functions import registry

    tracer.wrap(kernels, "decode_payload", "core.decode_payload")
    tracer.wrap(kernels, "classify", "core.classify")
    tracer.wrap(kernels, "regrid_to_extent", "core.regrid")
    tracer.wrap(png, "encode_rgba", "core.png_encode")
    tracer.wrap(geom, "grid_mask", "core.grid_mask")
    for entry in registry.OPS.values():
        fn = entry["fn"]
        entry["fn"] = functools.wraps(fn)(functools.partial(tracer.span, "core.op", fn))


def span_stats(stats: dict, name: str) -> tuple:
    """(calls, total_s, self_s) of a span name in a :meth:`Tracer.snapshot`."""
    calls, total, self_s = stats.get(name, (0, 0.0, 0.0))
    return calls, total, self_s


def core_metrics(stats: dict, n_ops: int) -> dict:
    """core.<fn>_ms (mean per call) and core.<fn>_calls (per operation)."""
    out = {}
    for short in CORE_FNS:
        calls, total, _ = span_stats(stats, f"core.{short}")
        out[f"core.{short}_ms"] = 1000 * total / calls if calls else 0.0
        out[f"core.{short}_calls"] = calls / n_ops if n_ops else 0.0
    return out


# -------------------------------------------------------------- event log

def spark_event_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict:
    """job group -> totals over its jobs' tasks, plus job time intervals
    (epoch seconds).  Tasks of jobs without a group are ignored."""
    groups: dict = defaultdict(
        lambda: dict(jobs=0, stages=set(), tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                     shuffle_write=0, shuffle_read=0, spill=0, py_sent=0, py_recv=0, intervals=[])
    )
    stage_group: dict = {}
    job_start: dict = {}
    for path in glob.glob(f"{log_dir}/*"):
        if path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    grp = groups[g]
                    grp["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                    job_start[e["Job ID"]] = (g, e["Submission Time"] / 1000.0)
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                    g, t0 = job_start.pop(e["Job ID"])
                    groups[g]["intervals"].append((t0, e["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
                    grp = groups[stage_group[e["Stage ID"]]]
                    grp["stages"].add(e["Stage ID"])
                    grp["tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    grp["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    grp["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    grp["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    grp["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    grp["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    grp["spill"] += m.get("Disk Bytes Spilled", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == "data sent to Python workers":
                            grp["py_sent"] += int(acc.get("Update", 0))
                        elif name == "data returned from Python workers":
                            grp["py_recv"] += int(acc.get("Update", 0))
    for grp in groups.values():
        grp["stages"] = len(grp["stages"])
    return dict(groups)


def spark_metrics(groups: list[dict]) -> dict:
    """spark.* per-layer metrics averaged per measured call (one job group
    per call)."""
    n = len(groups)
    if n == 0:
        return {}

    def tot(key):
        return sum(g[key] for g in groups)

    mb = 1024.0 * 1024.0
    run = tot("run_s")
    return {
        "spark.task_run_s": run / n,
        "spark.task_cpu_s": tot("cpu_s") / n,
        "spark.cpu_per_run": tot("cpu_s") / run if run else 0.0,
        "spark.gc_s": tot("gc_s") / n,
        "spark.shuffle_write_mb": tot("shuffle_write") / mb / n,
        "spark.shuffle_read_mb": tot("shuffle_read") / mb / n,
        "spark.spill_mb": tot("spill") / mb / n,
        "spark.jobs": tot("jobs") / n,
        "spark.stages": tot("stages") / n,
        "spark.tasks": tot("tasks") / n,
        "spark.python_bytes_sent_mb": tot("py_sent") / mb / n,
        "spark.python_bytes_received_mb": tot("py_recv") / mb / n,
    }


def outside_jobs_s(t0: float, t1: float, intervals: list) -> float:
    """Part of the call window [t0, t1] not covered by any job interval:
    the driver-side time of a call."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, t0), min(hi, t1)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (t1 - t0) - covered)
