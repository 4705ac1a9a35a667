"""Server process of the serve_mixed workload: ``server.serve`` over a
catalog, with no SparkSession.

    python3 perfbench/server_proc.py --catalog DIR [--trace 1]

Prints ``PORT <n>`` once listening, then reads commands on stdin:
``reset`` zeroes the span aggregates, ``dump <path>`` writes them as JSON;
end of input stops the server.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import tracing  # noqa: E402

from geotrellis_landsat_emr_demo_spark import server  # noqa: E402
from geotrellis_landsat_emr_demo_spark.catalog import Catalog  # noqa: E402
from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService  # noqa: E402


def install_wrappers(tracer: tracing.Tracer) -> None:
    """Spans around the handler, LayerService's public methods, catalog
    reads and core kernels; counters on parquet row-group reads."""
    import pyarrow.parquet as pq

    local = threading.local()

    def on_row_group(out, args, kwargs):
        local.row_groups = getattr(local, "row_groups", 0) + 1
        tracer.count("catalog.row_groups_read")
        cols = kwargs.get("columns", args[2] if len(args) > 2 else None)
        if cols and "tile" in cols:
            tracer.count("catalog.payload_bytes", out.column("tile").nbytes)

    tracer.wrap(pq.ParquetFile, "read_row_group", "catalog.read_row_group", after=on_row_group)
    tracer.wrap(Catalog, "read_arrow", "catalog.read_arrow")

    read_tile = LayerService.read_tile

    def counted_read_tile(self, *a, **k):
        local.row_groups = 0
        out = read_tile(self, *a, **k)
        if tracer.enabled and local.row_groups == 0:
            tracer.count("queries.tile_cache_hits")
        return out

    LayerService.read_tile = counted_read_tile
    for name in ("read_tile", "render_tile", "render_diff", "polygonal_mean", "time_series"):
        tracer.wrap(LayerService, name, f"queries.{name}")
    tracing.wrap_core(tracer)

    make_handler = server.make_handler

    def traced_handler(svc):
        handler = make_handler(svc)
        tracer.wrap(handler, "do_GET", "server.handle")
        tracer.wrap(handler, "do_POST", "server.handle")
        return handler

    server.make_handler = traced_handler


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    tracer = tracing.Tracer()
    if args.trace:
        install_wrappers(tracer)
        tracer.enabled = True
    httpd, port = server.serve(Catalog(args.catalog))
    print(f"PORT {port}", flush=True)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if cmd == ["reset"]:
                tracer.reset()
            elif cmd and cmd[0] == "dump":
                common.write_json(cmd[1], tracer.snapshot())
                print("DUMPED", flush=True)
    finally:
        httpd.shutdown()
        httpd.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
