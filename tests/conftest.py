"""Shared fixtures: one SparkSession + one ingested t-small catalog per run."""

from __future__ import annotations

import logging
import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
# The suite's one local-mode JVM gets a heap sized to the host — half its
# RAM, at most 6 GiB — not session.py's 60g default, under which the JVM
# can grow until the host runs out of memory.  Not perfbench's 4 GiB:
# test_ingest::test_auto_salt_buckets_heuristic ships a ~790 MB frame to
# the JVM in one task, which the driver and the executor both hold in the
# one heap, and at 4 GiB it ran out of heap in one of two full runs.
_RAM_MB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1024, min(6144, _RAM_MB // 2))}m")

SCRATCH = os.path.join(os.path.dirname(__file__), "..", ".scratch", "pytest")


@pytest.fixture(scope="session")
def spark():
    from geotrellis_landsat_emr_demo_spark.session import build_session

    s = build_session(master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tsmall_catalog(spark):
    """Catalog with t-small fixtures fully ingested (zooms 13..1)."""
    from geotrellis_landsat_emr_demo_spark import fixtures
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog
    from geotrellis_landsat_emr_demo_spark.operators import ingest

    root = os.path.join(SCRATCH, "tsmall")
    shutil.rmtree(root, ignore_errors=True)
    cat = Catalog(root)
    fixtures.write_all(cat, "t-small")
    ingest.ingest_images(spark, cat, "landsat", max_zoom=13, min_zoom=1)
    return cat


@pytest.fixture(scope="session")
def svc(tsmall_catalog):
    from geotrellis_landsat_emr_demo_spark.plans.queries import LayerService

    return LayerService(tsmall_catalog)


class GateLog:
    """The size-gate decisions (``gates`` DEBUG records) seen by a test."""

    def __init__(self, caplog):
        from geotrellis_landsat_emr_demo_spark import gates

        self._caplog, self._logger = caplog, gates.log.name
        caplog.set_level(logging.DEBUG, logger=self._logger)

    def decisions(self, name: str) -> list:
        """(gate, n, cap, branch) of every decision of gate ``name``."""
        return [
            r.args
            for r in self._caplog.records
            if r.name == self._logger and r.args[0] == name
        ]

    def branches(self, name: str) -> set:
        return {d[3] for d in self.decisions(name)}

    def clear(self) -> None:
        self._caplog.clear()


@pytest.fixture
def gate_log(caplog):
    return GateLog(caplog)
