"""Tile-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads (see README.md):
  ingest_join  on local[nproc] Spark: a seeded scene corpus ingested from an
               empty catalog to a z13..z9 pyramid, then pip, knn, zonal and
               diff joins
  serve_mixed  nproc closed-loop HTTP clients against the Spark-free server

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (the traced run
also writes .perfbench_out/trace-<workload>-seed<N>.json, which maps each
per-layer metric to the end-to-end metric it should move).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("ingest_join", "serve_mixed")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 600  # building the shared catalog, once per checkout


def shared_catalog(work: str) -> str:
    """The serving catalog, built by the engine under test once per
    checkout and source digest, then reused by later runs."""
    cache = os.path.join(common.out_dir(), "cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"catalog-{common.src_digest()}")
    if not os.path.exists(path):
        shutil.rmtree(path + ".tmp", ignore_errors=True)
        rc = common.run_child(
            [os.path.join(common.BENCH_DIR, "spark_job.py"), "--job", "build_catalog",
             "--catalog", path, "--work", work, "--out", os.path.join(work, "build.json")],
            os.path.join(work, "build.log"),
            BUILD_LIMIT_S,
        )
        if rc != 0 or not os.path.exists(path):
            raise RuntimeError(f"building the shared catalog failed (exit {rc}); see {work}/build.log")
    return path


def run_spark_job(args, work: str, deadline: float) -> dict:
    out = os.path.join(work, "result.json")
    cmd = [os.path.join(common.BENCH_DIR, "spark_job.py"), "--job", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--out", out]
    rc = common.run_child(cmd, os.path.join(work, "spark.log"), max(10.0, deadline - time.time()))
    if rc != 0:
        raise RuntimeError(f"{args.workload} failed (exit {rc}); see {work}/spark.log")
    return common.read_json(out)


def catalog_bytes_per_tile(catalog: str) -> float:
    """Stored bytes per tile of the shared catalog's pyramid, from the
    ingest's commit markers."""
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog

    import inputs

    cat = Catalog(catalog)
    marks = [cat.marker(f"ingest:{common.LAYER}:z{z}") for z in range(inputs.MIN_ZOOM, inputs.LEAF_ZOOM + 1)]
    return sum(m["bytes"] for m in marks) / sum(m["rows"] for m in marks)


def end_to_end(res: dict) -> dict:
    m = res["measure"]
    lat = common.latency_summary(m["latencies"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "throughput_per_s": (m["work"] / m["wall_s"], "1/s"),
        "latency_gmean_ms": (lat["latency_gmean_ms"], "ms"),
        "latency_p95_ms": (lat["latency_p95_ms"], "ms"),
        "stored_bytes_per_tile": (m["stored_bytes_per_tile"], "bytes"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    # a SIGTERM unwinds like an error, so that every child gets stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(common.checkout_root(), common.PKG, "__init__.py")):
        print(f"error: run from the repository root; {common.PKG}/ not found", file=sys.stderr)
        return 2
    sys.path.insert(1, common.checkout_root())
    work = os.path.join(common.out_dir(), f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    ok = False
    try:
        if args.workload == "serve_mixed":
            import serve_load

            catalog = shared_catalog(work)
            res = serve_load.run(args, catalog, work)
            res["measure"]["stored_bytes_per_tile"] = catalog_bytes_per_tile(catalog)
        else:
            res = run_spark_job(args, work, deadline)
            runs = [res["measure"]] + ([res["traced"]] if args.trace else [])
            res["attempted"] = sum(r["attempted"] for r in runs)
            # every error names the operation (job group) it came from
            res["failed"] = len({e.split(":", 1)[0] for e in res["errors"]})
        print(f"set-ups (s): {[round(s, 2) for s in res['setups']]}", file=sys.stderr)
        for kind, lat in res["measure"]["latencies"].items():
            print(f"{kind}: {len(lat)} ops, median {common.median(lat):.3f} s", file=sys.stderr)
        for e in res["errors"][:20]:
            print(f"check failed: {e}", file=sys.stderr)
        if args.trace:
            import tracing

            path = os.path.join(common.out_dir(), f"trace-{args.workload}-seed{args.seed}.json")
            common.write_json(path, tracing.report(res["per_layer"], args.workload, res["overhead"]))
            metrics = {k: {"value": v, "unit": tracing.UNITS[k]} for k, v in res["per_layer"].items()}
        else:
            e2e = end_to_end(res)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(
            json.dumps(
                dict(
                    correct=not res["errors"] and res["failed"] == 0,
                    attempted=int(res["attempted"]),
                    failed=int(res["failed"]),
                    metrics=metrics,
                )
            )
        )
        ok = True
    finally:
        if ok:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
