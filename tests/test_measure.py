"""tools/measure.py end to end: bench.py's method with per-rep Spark
totals from the event log, and the scaling suites against the kernel
ceiling."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import bench
from conftest import SCRATCH

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_measure_ingest_and_leaf(spark):
    """A tiny ingest and one sf0.001 leaf at local[2], 2 interleaved reps:
    cold and warm reps per variant, Spark tasks attributed to every rep,
    and the ingest's tile count equal to a direct ``ingest_images``."""
    from geotrellis_landsat_emr_demo_spark import fixtures
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import ingest

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=os.path.join(os.path.dirname(bench.SF_DIR), "sf0.001"),
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    cmd = [sys.executable, os.path.join(REPO, "tools", "measure.py"), "--cpus", "2",
           "--ingest", "2x128", "--leaves", "envelope_pip_join", "--reps", "2"]
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    by = {r["workload"]: r for r in json.loads(proc.stdout.splitlines()[-1])["results"]}
    assert set(by) == {"ingest", "envelope_pip_join"}
    for r in by.values():
        walls = [rep["wall_s"] for rep in r["reps"]]
        assert r["cpus"] == 2 and len(walls) == 2
        assert r["cold_s"] == walls[0] and r["warm_s"] == walls[1]
        assert all(rep["spark"]["spark.tasks"] > 0 for rep in r["reps"]), r["reps"]
        # the ingest builds z12..z9 in one pyramid step, one decision of
        # its cap per rep; the leaf passes no size gate
        made = ["gate=pyramid_group_levels n=4 cap=4 branch=fits"] if r is by["ingest"] else []
        assert all(rep["gates"] == made for rep in r["reps"]), r["reps"]
    assert "Physical Plan" in by["envelope_pip_join"]["plan"]
    assert set(by["ingest"]["reps"][0]["stages"]) == {"z13", "z12", "z11", "z10", "z9", "attrs"}

    root = os.path.join(SCRATCH, "measure-ingest")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    cat.append_pandas(fixtures.images_pdf("t-bench", n_scenes=2, px=128), "images")
    m = ingest.ingest_images(spark, cat, "bench", max_zoom=13, min_zoom=9)
    tiles = sum(v.get("rows", 0) for v in m.values())
    assert tiles > 0
    assert [rep["tiles"] for rep in by["ingest"]["reps"]] == [tiles, tiles]


def test_measure_scaling_suites():
    """The join, MinHash and corpus-growth suites at local[1] and
    local[2], 2 interleaved reps: every workload at both levels, its
    efficiency, the same run's kernel ceiling and their ratio finite, the
    MinHash corpus at the requested size, and for every blocking operator
    at N and 10N at least as many candidates as outputs, and outputs."""
    sf_dir = os.path.join(os.path.dirname(bench.SF_DIR), "sf0.001")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_DRIVER_MEM="2g")
    docs = 4 * len(pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]))
    cmd = [sys.executable, os.path.join(REPO, "tools", "measure.py"), "--cpus", "1,2", "--joins", "1",
           "--minhash", str(docs), "--growth", "300", "--reps", "2"]
    proc = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=1200)
    assert proc.returncode == 0, proc.stderr[-4000:]
    doc = json.loads(proc.stdout.splitlines()[-1])
    levels = {}
    for r in doc["results"]:
        levels.setdefault(r["workload"], []).append(r["cpus"])
        assert len(r["reps"]) == 2
    assert levels == {w: [1, 2] for w in ("joins", "minhash", "growth")}
    assert set(doc["scaling"]) == set(levels)
    for s in doc["scaling"].values():
        assert s["levels"] == [1, 2]
        for key in ("efficiency", "vs_ceiling"):
            assert len(s[key]["paired"]) == 1
            assert all(math.isfinite(x) and x > 0 for x in [s[key]["best"], *s[key]["paired"]]), s
        assert math.isfinite(s["ceiling"]) and s["ceiling"] > 0
    for r in doc["results"]:
        for rep in r["reps"]:
            if r["workload"] == "joins":
                assert rep["join_out_rows"] > 0
            elif r["workload"] == "minhash":
                assert rep["cpu_docs"] == docs
            else:
                assert set(rep["growth"]) == set(rep["incremental"]) == {"300", "3000"}
                for size, ops in rep["growth"].items():
                    assert len(ops) == 4
                    assert all(o["candidates"] >= o["outputs"] > 0 for o in ops.values()), (size, ops)
