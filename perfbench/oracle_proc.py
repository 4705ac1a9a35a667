"""Oracle process of the serve_mixed workload: answers requests by direct
``LayerService`` calls, in a pool of worker processes.

    python3 perfbench/oracle_proc.py --catalog DIR --requests IN.json --out OUT.json

IN.json maps request ids to requests of ``inputs.request_sequence``; OUT.json
maps the same ids to the answers, in the form ``serve_load`` gives the
server's responses (a SHA-256 of a PNG, or the parsed JSON reply).  The pool
lives in this separate process so that the parent can stop it, with every
helper process multiprocessing starts, as one process group.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import multiprocessing
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

_svc = None


def _init_worker(catalog: str) -> None:
    global _svc
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    _svc = LayerService(Catalog(catalog))


def _clean(v):
    """The server's JSON normalisation: NaN -> null."""
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    return v


def expected_response(req: dict):
    """The request's call made directly on LayerService."""
    from urllib.parse import parse_qs, urlparse

    u = urlparse(req["path"])
    parts = [p for p in u.path.split("/") if p]
    q = {k: v[0] for k, v in parse_qs(u.query).items()}
    if parts[0] == "tiles":
        _, layer, z, x, y = parts
        png = _svc.render_tile(layer, int(z), int(x), int(y), q["time"], q.get("operation"))
        return hashlib.sha256(png or b"").hexdigest()
    if parts[0] == "diff":
        _, layer, z, x, y = parts
        png = _svc.render_diff(layer, int(z), int(x), int(y), q["time1"], q["time2"], q.get("operation", "ndvi"))
        return hashlib.sha256(png or b"").hexdigest()
    if parts[0] == "mean":
        ans = _svc.polygonal_mean(parts[1], parts[2], req["body"], q["time"], q.get("otherTime"))
        return json.loads(json.dumps({"answer": _clean(ans)}))
    ans = _svc.time_series(parts[1], parts[2], float(q["lat"]), float(q["lng"]))
    return json.loads(json.dumps({"answer": _clean(ans)}))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    reqs = common.read_json(args.requests)
    ids = sorted(reqs)
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(common.host_cpus(), initializer=_init_worker, initargs=(args.catalog,)) as pool:
        answers = pool.map(expected_response, [reqs[i] for i in ids], chunksize=8)
    common.write_json(args.out, dict(zip(ids, answers)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
