"""Spark side of the benchmark, run as a child process of run.py.

Jobs:
  build_catalog  ingest the fixed serving corpus into a catalog
  ingest_join    time ingest_images (empty catalog -> committed attrs), then
                 pip_join, knn_join, zonal_stats and diff_join

Writes one JSON result file; all Spark and JVM output goes to the log the
parent gives this process.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s runs from here to the end of the warm-up

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import inputs  # noqa: E402
import oracles  # noqa: E402
import tracing  # noqa: E402
from common import LAYER  # noqa: E402

from geotrellis_landsat_emr_demo_spark import fixtures, session  # noqa: E402
from geotrellis_landsat_emr_demo_spark.catalog import Catalog  # noqa: E402
from geotrellis_landsat_emr_demo_spark.core import kernels, tiling  # noqa: E402
from geotrellis_landsat_emr_demo_spark.operators import ingest, joins  # noqa: E402
from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService, parse_time  # noqa: E402

OPS = ("ingest",) + tracing.JOIN_OPS
# each join runs this often per round: one call of a few seconds varied by
# up to 40 % between runs, and the ingest cannot be repeated as cheaply
JOIN_REPEATS = 2


def start_session(conf: dict | None = None):
    return session.build_session(master=f"local[{common.host_cpus()}]", extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    """Peak RSS of the Spark JVM (driver and executors in local mode)."""
    return common.vm_hwm_mb(int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))


def ingest_into(spark, root: str, images: pd.DataFrame, min_zoom: int) -> tuple:
    """An empty catalog with the scene table staged, then the ingest."""
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    cat.append_pandas(images, "images")
    t0 = time.time()
    metrics = ingest.ingest_images(spark, cat, LAYER, max_zoom=inputs.LEAF_ZOOM, min_zoom=min_zoom)
    return cat, metrics, t0, time.time()


def build_catalog(args) -> dict:
    spark = start_session()
    tmp = args.catalog + ".tmp"
    try:
        specs = inputs.scene_specs(inputs.CATALOG_SEED, **inputs.CATALOG_CORPUS)
        _, _, t0, t1 = ingest_into(spark, tmp, inputs.images_pdf(specs), inputs.MIN_ZOOM)
    finally:
        spark.stop()
    os.replace(tmp, args.catalog)
    return dict(build_s=t1 - t0)


class BatchWorkload:
    """ingest_join: every round ingests the seeded corpus into a new empty
    catalog, then runs the four joins; zonal and diff read the pyramid the
    round just wrote."""

    def __init__(self, args):
        self.args = args
        self.specs = inputs.scene_specs(args.seed, **inputs.INGEST_CORPUS)
        self.images = inputs.images_pdf(self.specs)
        self.warm_images = inputs.images_pdf(inputs.scene_specs(args.seed, **inputs.WARMUP_CORPUS))
        self.expect_counts = oracles.pyramid_counts(self.specs, inputs.LEAF_ZOOM, inputs.MIN_ZOOM)
        self.footprints = inputs.footprints_pdf(args.seed)
        self.aois = inputs.pip_aois_pdf(args.seed)
        self.points = inputs.knn_points_pdf(args.seed)
        self.zonal_aois = inputs.zonal_aois_pdf(args.seed)
        self.params = inputs.join_params(args.seed)
        fp_root = os.path.join(args.work, "footprints")
        shutil.rmtree(fp_root, ignore_errors=True)
        self.fp_cat = Catalog(fp_root)
        self.fp_cat.append_pandas(self.footprints, "footprints")
        self.digest = None
        self.oracle_tiles: dict = {}  # oracles.pyramid_tile memo
        self.expect: dict = {}
        self.errors: list[str] = []

    # ------------------------------------------------------------- joins

    def joins(self, spark, cat: Catalog, small: bool = False) -> dict:
        fps = self.fp_cat.read_spark(spark, "footprints")
        p = self.params
        aois, points, zaois = self.aois, self.points, self.zonal_aois
        if small:  # warm-up: the same plans over a sliver of the inputs
            fps, aois, points, zaois = fps.limit(2000), aois.head(4), points.head(8), zaois.head(1)
        return {
            "pip": lambda: joins.pip_join(spark, fps, aois, zoom=9),
            "knn": lambda: joins.knn_join(spark, fps, points, k=inputs.KNN_K),
            "zonal": lambda: joins.zonal_stats(
                spark, cat.read_spark(spark, "tiles"), zaois, p["zonal_op"], p["zonal_time"], inputs.LEAF_ZOOM, layer=LAYER
            ),
            "diff": lambda: joins.diff_join(
                spark, cat.read_spark(spark, "tiles"), LAYER, inputs.LEAF_ZOOM, p["diff_time1"], p["diff_time2"], p["diff_op"]
            ),
        }

    def warmup(self, spark) -> None:
        """A small ingest and small joins, so that the Python workers and
        every operation's code paths are warm before timing."""
        root = os.path.join(self.args.work, "warmup")
        cat, *_ = ingest_into(spark, root, self.warm_images, inputs.LEAF_ZOOM - 1)
        for fn in self.joins(spark, cat, small=True).values():
            fn().collect()
        shutil.rmtree(root, ignore_errors=True)

    # ----------------------------------------------------------- measure

    def measure(self, spark, tracer=None) -> dict:
        """Rounds of ingest + ``JOIN_REPEATS`` x four joins until
        ``seconds`` have passed (at least one round).  Latencies per
        operation, calls for the trace."""
        lat = {op: [] for op in OPS}
        calls, tiles, stored = [], 0, 0
        attempted = 0
        t_start = time.perf_counter()
        rnd = 0
        while rnd < 1 or time.perf_counter() - t_start < self.args.seconds:
            root = os.path.join(self.args.work, f"round-{rnd}")
            shutil.rmtree(root, ignore_errors=True)
            cat = Catalog(root)
            cat.append_pandas(self.images, "images")
            ops = [("ingest", lambda: ingest.ingest_images(
                spark, cat, LAYER, max_zoom=inputs.LEAF_ZOOM, min_zoom=inputs.MIN_ZOOM
            ))]
            ops += list(self.joins(spark, cat).items()) * JOIN_REPEATS
            for k, (op, fn) in enumerate(ops):
                group = f"{op}#{rnd}.{k}"
                attempted += 1
                if tracer is not None:
                    spark.sparkContext.setJobGroup(group, group)
                    tracer.enabled = True
                t0 = time.time()
                try:
                    out = fn() if op == "ingest" else fn().collect()
                except Exception:
                    self.errors.append(f"{group}: {traceback.format_exc()}")
                    out = None
                t1 = time.time()
                print(f"[perfbench] {group} {t1 - t0:.2f} s", file=sys.stderr, flush=True)
                if tracer is not None:
                    tracer.enabled = False
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                if out is None:
                    if op == "ingest":
                        break  # the joins need the pyramid
                    continue
                lat[op].append(t1 - t0)
                calls.append(dict(op=op, group=group, t0=t0, t1=t1, stages=out if op == "ingest" else None))
                if op == "ingest":
                    levels = [v for k, v in out.items() if not k.endswith(":attrs")]
                    tiles += sum(v["rows"] for v in levels)
                    stored += sum(v["bytes"] for v in levels)
                    self.check_ingest(cat, group)
                else:
                    self.check_join(op, out, cat, group)
            shutil.rmtree(root, ignore_errors=True)
            rnd += 1
        return dict(
            attempted=attempted,
            latencies=lat,
            work=sum(len(v) for v in lat.values()),
            wall_s=sum(sum(v) for v in lat.values()),
            stored_bytes_per_tile=stored / tiles,
            calls=calls,
        )

    # ------------------------------------------------------------ checks

    def check_ingest(self, cat: Catalog, group: str) -> None:
        """Per-zoom tile counts, a digest equal across rounds, and sampled
        tiles equal to the closed-form oracle: the hot-cell leaf, three
        seeded leaves and one seeded tile of every pyramid zoom (a 2 x 2
        mean of the oracle leaves beneath it)."""
        pdf = cat.read_pandas("tiles", columns=["zoom", "x", "y", "ts", "tile"])
        got = {int(z): int(n) for z, n in pdf.groupby("zoom").size().items()}
        if got != self.expect_counts:
            self.errors.append(f"{group}: tile counts {got} != {self.expect_counts}")
        digest = oracles.tiles_digest(pdf)
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            self.errors.append(f"{group}: committed tiles differ from the first round")
        pdf = pdf.sort_values(["zoom", "x", "y", "ts"]).reset_index(drop=True)
        leaf = pdf[pdf.zoom == inputs.LEAF_ZOOM]
        hx, hy = (int(v) for v in tiling.map_to_tile(*fixtures.center_mercator(), inputs.LEAF_ZOOM))
        hot_ts = pd.Timestamp(parse_time(inputs.TIMES[0]), unit="ms")
        hot = leaf[(leaf.x == hx) & (leaf.y == hy) & (leaf.ts == hot_ts)]
        if len(hot) != 1:
            self.errors.append(f"{group}: hot cell {hx},{hy} missing")
        rng = np.random.default_rng(self.args.seed)
        picks = [hot, leaf.sample(3, random_state=rng)]
        picks += [pdf[pdf.zoom == z].sample(1, random_state=rng) for z in range(inputs.MIN_ZOOM, inputs.LEAF_ZOOM)]
        for r in pd.concat(picks).itertuples(index=False):
            expect = oracles.pyramid_tile(
                self.specs, int(r.x), int(r.y), oracles._millis(r.ts), int(r.zoom), inputs.LEAF_ZOOM, self.oracle_tiles
            )
            if expect is None or not np.array_equal(kernels.decode_payload(r.tile), expect):
                self.errors.append(f"{group}: tile z{r.zoom} {r.x},{r.y},{r.ts} differs from the oracle")

    @staticmethod
    def normalize(op: str, rows) -> dict:
        """Rows -> {key: tuple of values}, the shape the oracles return."""
        if op == "pip":
            return {(r["aoi_id"], r["image_id"]): () for r in rows}
        if op == "knn":
            out: dict = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                out.setdefault(r["query_id"], []).append((r["image_id"], r["dist_m"]))
            return {q: (tuple(i for i, _ in v), tuple(d for _, d in v)) for q, v in out.items()}
        if op == "zonal":
            return {r["aoi_id"]: (r["mean"],) for r in rows if r["n_cells"]}
        return {(r["x"], r["y"]): (r["n"], r["mean_diff"], r["min_diff"], r["max_diff"]) for r in rows}

    def expected(self, op: str, cat: Catalog) -> dict:
        """Oracle answers, computed once per run without Spark (every
        round's pyramid has the digest of the first)."""
        if op not in self.expect:
            p = self.params
            if op == "pip":
                e = {pair: () for pair in oracles.pip_pairs(self.footprints, self.aois)}
            elif op == "knn":
                ranks = oracles.knn_ranks(self.footprints, self.points, inputs.KNN_K)
                e = {q: (tuple(i for i, _ in v), tuple(d for _, d in v)) for q, v in ranks.items()}
            elif op == "zonal":
                svc = LayerService(cat)
                e = {}
                for r in self.zonal_aois.itertuples(index=False):
                    m = svc.polygonal_mean(LAYER, p["zonal_op"], r.geojson, p["zonal_time"])
                    if not np.isnan(m):
                        e[r.aoi_id] = (m,)
            else:
                e = oracles.diff_stats(cat, LAYER, inputs.LEAF_ZOOM, p["diff_time1"], p["diff_time2"], p["diff_op"])
            self.expect[op] = e
        return self.expect[op]

    def check_join(self, op: str, rows, cat: Catalog, group: str) -> None:
        """Keys equal; ids and counts exact; floats to 1e-9 relative (Spark
        sums partials in another order than the oracles)."""
        got, expect = self.normalize(op, rows), self.expected(op, cat)
        if not expect:
            self.errors.append(f"{group}: the oracle answer is empty")
        if got.keys() != expect.keys():
            self.errors.append(f"{group}: {len(got.keys() ^ expect.keys())} keys differ from the oracle")
            return
        for key, e in expect.items():
            g = got[key]
            if op == "knn":
                ok = g[0] == e[0] and np.allclose(g[1], e[1], rtol=1e-12)
            elif op == "diff":
                ok = g[0] == e[0] and np.allclose(
                    np.array(g[1:], dtype=float), np.array(e[1:], dtype=float), rtol=1e-9, equal_nan=True
                )
            else:
                ok = np.allclose(g, e, rtol=1e-9, atol=1e-12)
            if not ok:
                self.errors.append(f"{group}: {key} {g} != oracle {e}")
                return

    # ------------------------------------------------------------- trace

    @staticmethod
    def layer_metrics(res: dict, snap: dict, groups: dict) -> dict:
        calls = res["calls"]
        stats, counts = snap["stats"], snap["counts"]
        out = tracing.spark_metrics([groups[c["group"]] for c in calls if c["group"] in groups])
        out.update(tracing.core_metrics(stats, len(calls)))
        ing = [c["stages"] for c in calls if c["op"] == "ingest"]
        n = len(ing)
        leaf = f":z{inputs.LEAF_ZOOM}"
        out["ingest.leaf_s"] = common.median([v["wall_s"] for s in ing for k, v in s.items() if k.endswith(leaf)])
        out["ingest.pyramid_s"] = common.median(
            [sum(v["wall_s"] for k, v in s.items() if ":z" in k and not k.endswith(leaf)) for s in ing]
        )
        out["ingest.attrs_s"] = common.median([v["wall_s"] for s in ing for k, v in s.items() if k.endswith(":attrs")])
        commits, commit_s, _ = tracing.span_stats(stats, "catalog.commit")
        out["catalog.stage_write_s"] = tracing.span_stats(stats, "catalog.stage_write")[1] / n
        out["catalog.commit_ms"] = 1000 * commit_s / commits
        out["catalog.commits"] = commits / n
        out["catalog.files_written"] = counts.get("catalog.files_written", 0) / n
        for op in tracing.JOIN_OPS:
            cs = [c for c in calls if c["op"] == op]
            out[f"joins.{op}.call_s"] = common.median([c["t1"] - c["t0"] for c in cs])
            out[f"joins.{op}.jobs"] = sum(groups.get(c["group"], {}).get("jobs", 0) for c in cs) / len(cs)
            out[f"joins.{op}.driver_s"] = sum(
                tracing.outside_jobs_s(c["t0"], c["t1"], groups.get(c["group"], {}).get("intervals", []))
                for c in cs
            ) / len(cs)
        return out


def install_wrappers(tracer: tracing.Tracer) -> None:
    """Spans around the public calls the Spark workload makes from this
    process; executor-side work shows up in the event log instead."""

    def files_written(n):
        return lambda out, a, k: tracer.count("catalog.files_written", n(out))

    tracer.wrap(Catalog, "commit", "catalog.commit")
    tracer.wrap(Catalog, "stage_spark_write", "catalog.stage_write", after=files_written(len))
    tracer.wrap(Catalog, "append_pandas", "catalog.append_pandas", after=files_written(lambda out: 1))
    tracer.wrap(Catalog, "read_arrow", "catalog.read_arrow")
    tracer.wrap(ingest, "ingest_images", "ingest.ingest_images")
    for fn in ("pip_join", "knn_join", "zonal_stats", "diff_join"):
        tracer.wrap(joins, fn, f"joins.{fn}")
    tracing.wrap_core(tracer)


def run_workload(args, wl: BatchWorkload) -> dict:
    """Set-up (this process's start, the seeded inputs, the JVM launch, a
    first job and the warm-up), then the untraced measurement.  With
    ``--trace 1`` the session also writes the event log, and a second
    measurement runs with spans and job groups on; the difference between
    the two is the tracing overhead (the event log is on in both)."""
    conf = None
    if args.trace:
        log_dir = os.path.join(args.work, "events")
        os.makedirs(log_dir, exist_ok=True)
        conf = tracing.spark_event_conf(log_dir)
    spark = start_session(conf)
    spark.range(1000).agg({"id": "sum"}).collect()
    print(f"[perfbench] session up {time.perf_counter() - T_PROCESS:.2f} s", file=sys.stderr, flush=True)
    wl.warmup(spark)
    setup_s = time.perf_counter() - T_PROCESS
    print(f"[perfbench] set-up {setup_s:.2f} s", file=sys.stderr, flush=True)
    out = dict(setup_s=setup_s, setups=[setup_s])
    untraced = wl.measure(spark)
    out["measure"] = untraced
    if not args.trace:
        spark.stop()
        return out
    tracer = tracing.Tracer()
    install_wrappers(tracer)
    traced = wl.measure(spark, tracer)
    jvm_rss = jvm_peak_rss_mb(spark)
    spark.stop()
    values = tracing.empty_metrics()
    values.update(wl.layer_metrics(traced, tracer.snapshot(), tracing.parse_event_log(log_dir)))
    values["spark.jvm_peak_rss_mb"] = jvm_rss
    p_untraced = common.latency_summary(untraced["latencies"])["latency_gmean_ms"]
    p_traced = common.latency_summary(traced["latencies"])["latency_gmean_ms"]
    values["trace.overhead_pct"] = 100.0 * (p_traced - p_untraced) / p_untraced
    out.update(per_layer=values, traced=traced, overhead=dict(untraced_gmean_ms=p_untraced, traced_gmean_ms=p_traced))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True, choices=["build_catalog", "ingest_join"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--catalog")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    os.makedirs(args.work, exist_ok=True)
    if args.job == "build_catalog":
        res = build_catalog(args)
    else:
        wl = BatchWorkload(args)
        res = run_workload(args, wl)
        res["errors"] = wl.errors
    common.write_json(args.out, res)
    return 0


if __name__ == "__main__":
    sys.exit(main())
