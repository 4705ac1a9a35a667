"""serve_mixed: one load process driving the Spark-free HTTP server.

``host_cpus()`` closed-loop clients run as threads of this process; each
sends its next request only after reading the previous reply, walking the
same seeded cyclic request sequence from its own starting offset.  The
server runs in a child process (``server_proc.py``).  Every distinct
request sent is then answered again by direct ``LayerService`` calls in
another child process (``oracle_proc.py``), and each response must match byte for byte
(PNG) or value for value (JSON).
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import select
import subprocess
import threading
import time

import common
import inputs
import tracing
from common import LAYER

WARMUP_S = 2.0
SETUPS = 5


# --------------------------------------------------------------- server

class Server:
    """A server_proc.py child; ``start`` returns once /catalog answers."""

    def __init__(self, catalog: str, log_path: str, traced: bool):
        self.child = common.Child(
            [os.path.join(common.BENCH_DIR, "server_proc.py"), "--catalog", catalog, "--trace", str(int(traced))],
            log_path,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self.port = None

    def _line(self, timeout: float) -> str:
        out = self.child.proc.stdout
        if not select.select([out], [], [], timeout)[0]:
            raise TimeoutError("server did not answer")
        return out.readline().decode().strip()

    def wait_ready(self, timeout: float = 60.0) -> None:
        line = self._line(timeout)
        if not line.startswith("PORT "):
            raise RuntimeError(f"server failed to start: {line!r}")
        self.port = int(line.split()[1])
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=timeout)
        conn.request("GET", "/catalog")
        resp = conn.getresponse()
        resp.read()
        conn.close()
        if resp.status != 200:
            raise RuntimeError(f"/catalog answered {resp.status}")

    def command(self, cmd: str) -> None:
        self.child.proc.stdin.write((cmd + "\n").encode())
        self.child.proc.stdin.flush()

    def dump(self, path: str) -> dict:
        self.command(f"dump {path}")
        if self._line(30.0) != "DUMPED":
            raise RuntimeError("server dump failed")
        return common.read_json(path)

    def stop(self) -> None:
        try:
            self.child.proc.stdin.close()
        except OSError:
            pass
        self.child.stop()


# ----------------------------------------------------------------- load

class Client(threading.Thread):
    def __init__(self, port: int, seq: list, start_at: int):
        super().__init__(daemon=True)
        self.port, self.seq, self.pos = port, seq, start_at
        self.deadline = 0.0
        self.records: list = []  # (seq index, latency_s, status, body digest or parsed JSON)
        self.errors: list = []

    def run(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        n = len(self.seq)
        while time.perf_counter() < self.deadline:
            i = self.pos % n
            self.pos += 1
            req = self.seq[i]
            body = req["body"].encode() if req["body"] is not None else None
            t0 = time.perf_counter()
            try:
                conn.request(req["method"], req["path"], body=body)
                resp = conn.getresponse()
                data = resp.read()
            except (OSError, http.client.HTTPException) as e:
                self.records.append((i, time.perf_counter() - t0, -1, None))
                self.errors.append(f"{req['path']}: {e!r}")
                conn.close()
                continue
            lat = time.perf_counter() - t0
            try:
                got = _digest(req["route"], data)
            except ValueError as e:
                self.errors.append(f"{req['path']}: unreadable reply {e!r}")
                got = None
            self.records.append((i, lat, resp.status, got))
        conn.close()


def _digest(route: str, data: bytes):
    if route in ("tiles", "diff"):
        return hashlib.sha256(data).hexdigest()
    return json.loads(data)


def drive(port: int, seq: list, clients: list | None, seconds: float) -> list:
    """Run the closed loop for ``seconds``; ``clients`` carries positions
    over from a previous phase (None starts them at even offsets)."""
    n = common.host_cpus()
    if clients is None:
        clients = [Client(port, seq, k * len(seq) // n) for k in range(n)]
    else:
        clients = [Client(port, seq, c.pos) for c in clients]
    deadline = time.perf_counter() + seconds
    for c in clients:
        c.deadline = deadline
        c.start()
    for c in clients:
        c.join(timeout=seconds + 120)
        if c.is_alive():
            raise RuntimeError("load client did not finish")
    return clients


def phase_summary(seq: list, clients: list, wall_s: float) -> dict:
    lat: dict = {r: [] for r in inputs.ROUTES}
    for c in clients:
        for i, t, status, _ in c.records:
            if status == 200:
                lat[seq[i]["route"]].append(t)
    done = sum(len(v) for v in lat.values())
    out = dict(latencies=lat, work=done, wall_s=wall_s, attempted=sum(len(c.records) for c in clients))
    out.update(common.latency_summary(lat))
    return out


def measure(server: Server, seq: list, seconds: float) -> tuple:
    warm = drive(server.port, seq, None, WARMUP_S)
    t0 = time.perf_counter()
    clients = drive(server.port, seq, warm, seconds)
    return clients, phase_summary(seq, clients, time.perf_counter() - t0)


# --------------------------------------------------------------- oracle

ORACLE_LIMIT_S = 120


EMPTY_DIGEST = hashlib.sha256(b"").hexdigest()


def _empty(route: str, got) -> bool:
    """Every request of the sequence is on stored data, so an empty image
    or a null or empty answer is wrong even where LayerService agrees."""
    if route in ("tiles", "diff"):
        return got == EMPTY_DIGEST
    return not isinstance(got, dict) or got.get("answer") in (None, [], {})


def verify(catalog: str, seq: list, phases: list, work: str) -> tuple:
    """(responses checked, failures) over every request of ``phases``: a
    failure is an error status, an empty reply, or a reply other than the
    direct LayerService call's (answered by ``oracle_proc.py``)."""
    distinct = {i for clients in phases for c in clients for i, *_ in c.records}
    req_path, out_path = os.path.join(work, "oracle-requests.json"), os.path.join(work, "oracle-answers.json")
    common.write_json(req_path, {str(i): seq[i] for i in distinct})
    rc = common.run_child(
        [os.path.join(common.BENCH_DIR, "oracle_proc.py"), "--catalog", catalog, "--requests", req_path,
         "--out", out_path],
        os.path.join(work, "oracle.log"),
        ORACLE_LIMIT_S,
    )
    if rc != 0:
        raise RuntimeError(f"the oracle process failed (exit {rc}); see {work}/oracle.log")
    expect = {int(k): v for k, v in common.read_json(out_path).items()}
    checked = bad = 0
    for clients in phases:
        for c in clients:
            for i, _, status, got in c.records:
                checked += 1
                if status != 200 or _empty(seq[i]["route"], got) or got != expect[i]:
                    bad += 1
    return checked, bad


# ------------------------------------------------------------- workload

def tile_keys(catalog: str) -> list:
    from geotrellis_landsat_emr_demo_spark.catalog import Catalog

    pdf = Catalog(catalog).read_pandas("tiles", columns=["layer", "zoom", "x", "y", "ts"])
    pdf = pdf[(pdf.layer == LAYER) & (pdf.zoom >= inputs.MIN_ZOOM)]
    return sorted(
        (int(r.zoom), int(r.x), int(r.y), r.ts.strftime("%Y-%m-%dT%H:%M:%SZ")) for r in pdf.itertuples(index=False)
    )


def run(args, catalog: str, work: str) -> dict:
    specs = inputs.scene_specs(inputs.CATALOG_SEED, **inputs.CATALOG_CORPUS)
    seq = inputs.request_sequence(args.seed, tile_keys(catalog), specs)
    setups, server = [], None
    try:
        for k in range(SETUPS):
            if server is not None:
                server.stop()
            t0 = time.perf_counter()
            server = Server(catalog, os.path.join(work, f"server-{k}.log"), traced=False)
            server.wait_ready()
            setups.append(time.perf_counter() - t0)
        clients, summary = measure(server, seq, args.seconds)
        peak_rss = common.vm_hwm_mb(server.child.proc.pid)
    finally:
        if server is not None:
            server.stop()
    out = dict(setup_s=common.median(setups), setups=setups, measure=summary)
    phases = [clients]
    errors = [e for c in clients for e in c.errors]
    if args.trace:
        traced = Server(catalog, os.path.join(work, "server-traced.log"), traced=True)
        try:
            traced.wait_ready()
            warm = drive(traced.port, seq, None, WARMUP_S)
            traced.command("reset")
            t0 = time.perf_counter()
            tclients = drive(traced.port, seq, warm, args.seconds)
            tsummary = phase_summary(seq, tclients, time.perf_counter() - t0)
            snap = traced.dump(os.path.join(work, "server-trace.json"))
        finally:
            traced.stop()
        phases.append(tclients)
        errors += [e for c in tclients for e in c.errors]
        out["per_layer"] = layer_metrics(summary, tsummary, tclients, snap)
        out["per_layer"]["server.peak_rss_mb"] = peak_rss
        out["overhead"] = dict(untraced_gmean_ms=summary["latency_gmean_ms"], traced_gmean_ms=tsummary["latency_gmean_ms"])
    checked, bad = verify(catalog, seq, phases, work)
    if bad:
        errors.append(f"{bad} of {checked} responses failed, were empty or differ from direct LayerService calls")
    out["attempted"] = checked
    out["failed"] = bad
    out["errors"] = errors
    return out


def layer_metrics(untraced: dict, traced: dict, clients: list, snap: dict) -> dict:
    stats, counts = snap["stats"], snap["counts"]
    n_req = sum(len(c.records) for c in clients)
    values = tracing.empty_metrics()
    values.update(tracing.core_metrics(stats, n_req))
    lookups, lookup_s, _ = tracing.span_stats(stats, "queries.read_tile")
    values["queries.read_tile_ms"] = 1000 * lookup_s / lookups
    values["queries.tile_cache_hit_rate"] = counts.get("queries.tile_cache_hits", 0) / lookups
    for name in ("render_tile", "render_diff", "polygonal_mean", "time_series"):
        calls, _, self_s = tracing.span_stats(stats, f"queries.{name}")
        values[f"queries.{name}.self_ms"] = 1000 * self_s / calls if calls else 0.0
    values["catalog.row_groups_read_per_lookup"] = counts.get("catalog.row_groups_read", 0) / lookups
    values["catalog.payload_bytes_per_lookup"] = counts.get("catalog.payload_bytes", 0) / lookups
    ra_calls, ra_s, _ = tracing.span_stats(stats, "catalog.read_arrow")
    values["catalog.read_arrow_ms"] = 1000 * ra_s / ra_calls if ra_calls else 0.0
    values["catalog.read_arrow_calls"] = ra_calls / n_req
    handled, handle_s, handle_self = tracing.span_stats(stats, "server.handle")
    client_s = sum(t for c in clients for _, t, *_ in c.records)
    values["server.self_ms"] = 1000 * handle_self / handled
    values["server.wait_ms"] = 1000 * (client_s / n_req - handle_s / handled)
    lat = untraced["latencies"]
    values["route.tiles_p50_ms"] = 1000 * common.median(lat["tiles"])
    values["route.tiles_p99_ms"] = 1000 * common.percentile(lat["tiles"], 99)
    for route in ("diff", "mean", "series"):
        values[f"route.{route}_p50_ms"] = 1000 * common.median(lat[route])
    values["trace.overhead_pct"] = 100.0 * (traced["latency_gmean_ms"] - untraced["latency_gmean_ms"]) / untraced[
        "latency_gmean_ms"
    ]
    return values
