"""Serving benchmark: HTTP latency and throughput of msgvault_spark.server.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

  1. prepares, untimed and once per checkout, the source data
     (datagen.py, fixed data seed) and the artifact lake, under
     ``.perfbench-work/`` (a fresh server run once over every route);
  2. builds the request log from ``--seed`` (workload.py);
  3. launches server_main.py in its own process and times launch → first
     correct answer (``setup_s``);
  4. replays the log closed-loop with the workload's client threads for
     ``--seconds`` and at least until the requests it times are sent,
     checking every answer (checks.py);
  5. stops the server and prints, as the last stdout line, one JSON object
     with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
     end-to-end metrics untraced (``--trace 0``), the per-layer metrics of
     tracing.py with ``--trace 1``.

Exits non-zero without a result when the program or its toolchain is
missing, or when the server fails to come up.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
sys.path.insert(0, HERE)

import checks  # noqa: E402  (stdlib only; the rest needs preflight)
import tracing  # noqa: E402

# name → request mix; both at the sf0.1 scale
WORKLOADS = {
    "serve_hot_sf01": "hot",
    "serve_distinct_sf01": "distinct",
}
CLIENTS = 4  # closed-loop client threads, at most one per core
# Latency and throughput cover the log's first TIMED requests, which every
# run sends even when the window closes first; later ones keep the load
# on. Neither a faster nor a slower run changes which requests are
# measured, so runs and commits compare the same requests.
TIMED = 8
LOG_LENGTH = 600  # far more than any run sends
SERVER_START_TIMEOUT_S = 150
REQUEST_TIMEOUT_S = 120


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def preflight() -> None:
    if not os.path.isdir(os.path.join(ROOT, "msgvault_spark")):
        fail(f"no msgvault_spark package under {ROOT}; run from a checkout")
    for mod in ("pyspark", "pyarrow", "numpy"):
        try:
            __import__(mod)
        except ImportError:
            fail(f"python module {mod} is not installed")


def _tree_hash(top: str, suffix: str = ".py") -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(suffix):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, top).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _dir_usage(top: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, filenames in os.walk(top):
        for fn in filenames:
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
            n_files += 1
    return n_bytes, n_files


# ---------------------------------------------------------------------------
# server process
# ---------------------------------------------------------------------------


class Server:
    """server_main.py in its own process group, cwd inside the work dir so
    Spark's warehouse and derby files stay out of the source tree."""

    def __init__(self, run_dir: str, *, trace_out=None, verify_in=None,
                 prewarm_wait=False):
        self.run_dir = run_dir
        self.ready = os.path.join(run_dir, "ready.json")
        cmd = [sys.executable, os.path.join(HERE, "server_main.py"),
               "--sf-dir", os.path.join(WORK, "sf0.1"), "--ready", self.ready]
        if prewarm_wait:
            cmd.append("--prewarm-wait")
        if trace_out:
            cmd += ["--trace-out", trace_out]
        if verify_in:
            cmd += ["--verify-in", verify_in]
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
            SPARK_GRAFT_ARTIFACT_DIR=os.path.join(WORK, "lake"),
            TMPDIR=tmp,
        )
        self.log = open(os.path.join(run_dir, "server.log"), "wb")
        self.proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
            stdout=self.log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        self.port = None

    def wait_ready(self) -> int:
        deadline = time.monotonic() + SERVER_START_TIMEOUT_S
        while not os.path.exists(self.ready):
            if self.proc.poll() is not None:
                raise RuntimeError(
                    f"server exited with {self.proc.returncode}; "
                    f"see {self.log.name}"
                )
            if time.monotonic() > deadline:
                raise RuntimeError("server did not come up in time")
            time.sleep(0.01)
        with open(self.ready) as f:
            self.port = json.load(f)["port"]
        return self.port

    def _tree_stats(self) -> dict[int, list[str]]:
        """``/proc/<pid>/stat`` fields (after the command name) of the
        server process and its descendants: the Python launcher and the
        JVM it starts."""
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, ValueError):
                continue
        children: dict[int, list[int]] = {}
        for pid, fields in stats.items():
            children.setdefault(int(fields[1]), []).append(pid)
        tree, todo = {}, [self.proc.pid]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            if pid in stats:
                tree[pid] = stats[pid]
        return tree

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM over the server tree."""
        total_kb = 0
        for pid in self._tree_stats():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024.0

    def _signal_group(self, sig: int) -> bool:
        try:
            os.killpg(self.proc.pid, sig)
            return True
        except ProcessLookupError:
            return False

    def stop(self, timeout: float = 60) -> None:
        """SIGTERM the launcher (it stops Spark cleanly), then wait until no
        process of its group is left, killing stragglers."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                self._signal_group(signal.SIGKILL)
                self.proc.wait()
        for sig in (signal.SIGTERM, signal.SIGKILL):
            deadline = time.monotonic() + 10
            while self._signal_group(0) and time.monotonic() < deadline:
                time.sleep(0.05)
            if not self._signal_group(sig):
                break
        self.log.close()


def send(port: int, req: dict) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port,
                                      timeout=REQUEST_TIMEOUT_S)
    try:
        body = None
        headers = {}
        if req.get("body") is not None:
            body = json.dumps(req["body"]).encode()
            headers["Content-Type"] = "application/json"
        if "rid" in req:
            headers["X-Request-Id"] = str(req["rid"])
        conn.request(req["method"], req["path"], body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


# ---------------------------------------------------------------------------
# preparation (untimed)
# ---------------------------------------------------------------------------


def prepare() -> dict:
    """Source data and artifact lake for this checkout. The lake is rebuilt
    whenever the package or the generator changes (the artifact store's own
    fingerprint would rebuild it lazily, inside a timed run)."""
    import datagen
    import workload

    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:16]
    data_dir = os.path.join(WORK, "sf0.1")
    marker = os.path.join(WORK, "lake.json")
    done = os.path.join(data_dir, "_DONE")  # holds the generator's hash
    if not os.path.exists(done) or open(done).read() != gen_hash:
        # new files, new mtimes: every lake artifact is stale
        shutil.rmtree(data_dir, ignore_errors=True)
        if os.path.exists(marker):
            os.remove(marker)
        datagen.generate(data_dir, 0.1)
        with open(done, "w") as f:
            f.write(gen_hash)

    fp = _tree_hash(os.path.join(ROOT, "msgvault_spark")) + gen_hash
    if os.path.exists(marker):
        with open(marker) as f:
            lake = json.load(f)
        if lake.get("fingerprint") == fp:
            return lake

    lake_dir = os.path.join(WORK, "lake")
    shutil.rmtree(lake_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "local"), ignore_errors=True)
    reqs = workload.one_per_family(workload.load_facts(data_dir))
    with RunDir() as run_dir:
        srv = Server(run_dir, prewarm_wait=True)
        try:
            port = srv.wait_ready()
            for req in reqs:
                status, body = send(port, req)
                err = checks.check(req, status, body)
                if err:
                    raise RuntimeError(f"lake build request failed: {err}")
        finally:
            srv.stop(timeout=SERVER_START_TIMEOUT_S)  # waits for prewarm
    n_bytes, n_files = _dir_usage(lake_dir)
    lake = {"fingerprint": fp, "bytes": n_bytes, "files": n_files}
    with open(marker, "w") as f:
        json.dump(lake, f)
    return lake


class RunDir:
    """Per-run scratch directory under the work dir, removed on a clean
    exit (kept, with the server log, when the run fails)."""

    def __enter__(self) -> str:
        self.path = os.path.join(WORK, "runs", str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        return self.path

    def __exit__(self, exc_type, *_) -> None:
        if exc_type is None:
            shutil.rmtree(self.path, ignore_errors=True)


# ---------------------------------------------------------------------------
# load generation
# ---------------------------------------------------------------------------


def replay(port: int, log: list[dict], clients: int, seconds: float,
           timed: int):
    """Closed loop: each client sends the next logged request once its
    previous answer is in, until the window closes and the first ``timed``
    requests are sent. Returns the per-request records (start, end,
    request, error-or-None, body) and the window start."""
    lock = threading.Lock()
    records: list[tuple[float, float, dict, str | None, bytes]] = []
    state = {"next": 0}
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client() -> None:
        while True:
            with lock:
                i = state["next"]
                if i >= len(log) or (
                    i >= timed and time.perf_counter() >= deadline
                ):
                    return
                state["next"] = i + 1
            req = log[i]
            t0 = time.perf_counter()
            try:
                status, body = send(port, req)
                err = checks.check(req, status, body)
            except OSError as e:
                body, err = b"", f"transport: {e}"
            t1 = time.perf_counter()
            with lock:
                records.append((t0, t1, req, err, body))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, t_start


def latency_p50(records, timed: int) -> float:
    """Median time, send to last byte, of the log's first ``timed``
    requests."""
    return statistics.median(
        t1 - t0 for t0, t1, req, *_ in records if req["rid"] < timed
    )


def end_to_end(setup_s: float, records, t_start: float,
               timed: int) -> dict[str, tuple[float, str]]:
    """The untraced run's metrics: name → (value, unit). Latency and
    throughput cover the log's first ``timed`` requests: throughput is
    their count over the time from the window's start until the last of
    them is answered."""
    ends = [t1 for _, t1, req, *_ in records if req["rid"] < timed]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (latency_p50(records, timed), "s"),
        "throughput_rps": (len(ends) / (max(ends) - t_start), "req/s"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_launch = time.perf_counter()
    preflight()

    import workload

    lake = prepare()
    t_prepared = time.perf_counter()
    mix = WORKLOADS[args.workload]
    clients = min(CLIENTS, len(os.sched_getaffinity(0)))
    facts = workload.load_facts(os.path.join(WORK, "sf0.1"))
    log = workload.build_log(mix, args.seed, facts, LOG_LENGTH)
    for i, req in enumerate(log):
        req["rid"] = i
    first = dict(workload.setup_request(facts), rid="setup")

    with RunDir() as run_dir:
        trace_out = verify_in = None
        if args.trace:
            trace_out = os.path.join(run_dir, "trace.json")
            verify_in = os.path.join(run_dir, "verify.json")
        t0 = time.perf_counter()
        srv = Server(run_dir, trace_out=trace_out, verify_in=verify_in)
        try:
            port = srv.wait_ready()
            t_ready = time.perf_counter()
            status, body = send(port, first)
            err = checks.check(first, status, body)
            if err:
                raise RuntimeError(f"first answer is wrong: {err}")
            setup_s = time.perf_counter() - t0
            records, t_start = replay(port, log, clients, args.seconds,
                                      TIMED)
            t_replayed = time.perf_counter()
            peak_rss = srv.peak_rss_mb()
            if args.trace:
                tracing.write_verify_sample(verify_in, records)
        finally:
            srv.stop()
        print(f"wall: prepare {t_prepared - t_launch:.1f}s, server ready "
              f"{t_ready - t0:.1f}s, first answer {t_start - t_ready:.1f}s, "
              f"replay {t_replayed - t_start:.1f}s, stop "
              f"{time.perf_counter() - t_replayed:.1f}s", file=sys.stderr)
        trace = None
        if args.trace:
            with open(trace_out) as f:
                trace = json.load(f)

    failed = sum(1 for r in records if r[3] is not None)
    for t0, t1, req, err, _ in sorted(records, key=lambda r: r[0]):
        print(f"request {req['rid']} {req['kind']} start={t0 - t_start:.3f}s "
              f"took={t1 - t0:.3f}s {'FAILED ' + err if err else 'ok'}",
              file=sys.stderr)
    shape = tracing.load_shape(records)
    print(f"window reached {shape['load.families']:.0f} route families; "
          f"{shape['load.repeat_share']:.0%} of its requests repeat a tuple",
          file=sys.stderr)
    if args.trace:
        metrics, mismatches = tracing.per_layer(trace, records, lake)
        metrics["server.peak_rss_mb"] = (peak_rss, "MB")
        metrics["trace.latency_p50_s"] = (latency_p50(records, TIMED), "s")
        print(f"compared {len(trace['verify'])} HTTP answers with api.* "
              f"in-process: {len(mismatches)} differ", file=sys.stderr)
        for m in mismatches:
            print(f"in-process answer differs: {m}", file=sys.stderr)
        failed += len(mismatches)
    else:
        metrics = end_to_end(setup_s, records, t_start, TIMED)
    attempted = 1 + len(records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
