"""Shared plumbing for the benchmark: host sizing, child processes, stats.

Every process the benchmark starts runs from the checkout root with the
engine package importable from there, in a session of its own so that a
Spark JVM, its Python workers and multiprocessing's helper processes are
stopped together with their parent.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

PKG = "geotrellis_landsat_emr_demo_spark"
LAYER = "landsat"
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def checkout_root() -> str:
    return os.getcwd()


def out_dir() -> str:
    """Scratch output of all runs (catalogs, logs, traces); gitignored."""
    d = os.path.join(checkout_root(), ".perfbench_out")
    os.makedirs(d, exist_ok=True)
    return d


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """A quarter of the machine's RAM, capped at 4 GiB: the engine's 60g
    default exceeds small hosts, and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return max(1024, min(4096, total_kb // 1024 // 4))


def child_env() -> dict:
    """Environment for every child: engine importable from the checkout,
    Spark sized to this host, scratch files inside the checkout."""
    env = dict(os.environ)
    root = checkout_root()
    env["PYTHONPATH"] = root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["SPARK_GRAFT_CPUS"] = str(host_cpus())
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    local = os.path.join(out_dir(), "spark-local")
    tmp = os.path.join(out_dir(), "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = local
    # keep the JVM's and Python's scratch files inside the checkout too
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONUNBUFFERED"] = "1"
    return env


def src_digest() -> str:
    """Digest of the engine's and the benchmark's source, keying artifacts
    cached between runs so that a cache is never reused by other code."""
    h = hashlib.sha256()
    root = checkout_root()
    for top in (os.path.join(root, PKG), BENCH_DIR):
        for dirpath, dirnames, filenames in sorted(os.walk(top)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


class Child:
    """A child process in a session of its own, logging to a file.

    ``stop`` ends every process of that session (a Spark child's JVM and
    PySpark daemon, which moves to a process group of its own, included)
    and waits until none is left."""

    def __init__(self, args: list[str], log_path: str, stdin=None, stdout=None):
        self.log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            [sys.executable, *args],
            cwd=checkout_root(),
            env=child_env(),
            stdin=stdin,
            stdout=stdout if stdout is not None else self.log,
            stderr=self.log,
            start_new_session=True,
        )

    def wait(self, timeout: float) -> int:
        try:
            return self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.stop()
            raise

    def stop(self) -> None:
        sid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in session_pids(sid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
            while time.time() < deadline:
                self.proc.poll()
                if not session_pids(sid):
                    break
                time.sleep(0.05)
            else:
                continue
            break
        self.proc.wait()
        self.log.close()


def session_pids(sid: int) -> list[int]:
    """Live processes (zombies aside) whose session id is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # fields after the command name: state ppid pgrp session ...
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(name))
    return pids


def run_child(args: list[str], log_path: str, timeout: float) -> int:
    child = Child(args, log_path)
    try:
        return child.wait(timeout)
    finally:
        child.stop()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a live process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------------ stats

def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of nothing")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of nothing")
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def latency_summary(samples: dict[str, list[float]]) -> dict:
    """``samples``: operation kind -> latencies in seconds.

    latency_gmean_ms is the geometric mean over all operations: unlike a
    median it moves smoothly when the mix of fast (cache hit) and slow
    operations shifts.  latency_p95_ms is the 95th percentile."""
    pooled = [x for v in samples.values() for x in v]
    return dict(
        latency_gmean_ms=1000 * geomean(pooled), latency_p95_ms=1000 * percentile(pooled, 95), n=len(pooled)
    )


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)
