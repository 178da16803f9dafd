"""Wire-level client benchmark for the sparkpg server.

    python3 perfbench/run.py --workload connect_catalog --seed 1 \\
        --seconds 5 --trace 0

Run from the repository root. One run:

1. generates the served tables once per checkout (``datagen``) and the
   run's inputs from ``--seed``, and computes the reference answers;
2. starts the real server as a separate process, the way a user does
   (``python -m datafusion_postgres_spark --directory DIR``), or, with
   ``--trace 1``, through the traced launcher (``tracer.py``);
3. times set-up: server launch to the first connection's ReadyForQuery;
   the workload then runs over that connection;
4. runs passes of the workload's script in a closed loop from this one
   process until ``--seconds`` have elapsed (at least one pass), and
   checks every answer;
5. stops the server and prints the metrics: readable lines first, then
   one JSON object as the last line. ``--trace 0`` reports the
   end-to-end metrics, ``--trace 1`` the per-layer metrics.

Everything the run writes stays under ``.perfbench/`` in the working
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import datagen
import workloads
from pgclient import PgClient

HOST = "127.0.0.1"
SETUP_TIMEOUT_S = 100.0
STOP_TIMEOUT_S = 20.0
PACKAGE = "datafusion_postgres_spark"
METRIC_UNITS = {"setup_s": "s", "pass_s": "s", "stmt_p50_ms": "ms",
                "rows_per_s": "1/s", "driver_rss_peak_mb": "MB"}


class ServerError(RuntimeError):
    pass


# -- server process -----------------------------------------------------------
def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Server:
    """The server process tree (Python driver plus its JVM)."""

    def __init__(self, root: str, work: str, data_dir: str,
                 trace_path: str | None):
        self.log_path = os.path.join(work, "server.log")
        env = dict(os.environ)
        env["PYTHONPATH"] = root + (os.pathsep + env["PYTHONPATH"]
                                    if env.get("PYTHONPATH") else "")
        env["PYTHONUNBUFFERED"] = "1"
        env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        env["TMPDIR"] = os.path.join(work, "tmp")
        # keep the JVM's scratch files (artifacts, hsperfdata) in the run
        env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            env.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={env['TMPDIR']}", "-XX:-UsePerfData"]))
        os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
        os.makedirs(env["TMPDIR"], exist_ok=True)
        args = ["--directory", data_dir, "--host", HOST, "-p", "0"]
        if trace_path:
            cmd = [sys.executable, os.path.join(root, "perfbench",
                                                "tracer.py"),
                   "--out", trace_path, "--"] + args
        else:
            cmd = [sys.executable, "-m", PACKAGE] + args
        self._log = open(self.log_path, "wb")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=work, env=env,
                                     stdout=self._log,
                                     stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL,
                                     start_new_session=True)
        self.driver_rss_peak_kb = 0
        self.tree_rss_peak_kb = 0
        self._stop_sampling = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        """Peak RSS of the Python driver alone and of the whole tree
        (driver plus JVM), sampled every 50 ms."""
        while not self._stop_sampling.wait(0.05):
            procs = _descendants(self.proc.pid)
            driver = _rss_kb(procs[0])
            tree = driver + sum(_rss_kb(p) for p in procs[1:])
            self.driver_rss_peak_kb = max(self.driver_rss_peak_kb, driver)
            self.tree_rss_peak_kb = max(self.tree_rss_peak_kb, tree)

    def wait_port(self) -> int:
        """Poll the server log for its 'serving ... on postgresql://'
        line and return the port it bound."""
        marker = f"on postgresql://{HOST}:".encode()
        while True:
            if self.proc.poll() is not None:
                raise ServerError(
                    f"server exited with {self.proc.returncode} before "
                    f"listening; see {self.log_path}")
            if time.perf_counter() - self.t_launch > SETUP_TIMEOUT_S:
                raise ServerError("server did not start listening in time")
            with open(self.log_path, "rb") as f:
                for line in f:
                    if marker in line:
                        return int(line.rsplit(b":", 1)[1].strip())
            time.sleep(0.02)

    def stop(self) -> None:
        """SIGINT the server (the CLI shuts down on KeyboardInterrupt),
        then make sure every process of its session has exited."""
        try:
            if self.proc.poll() is None:
                self.proc.send_signal(signal.SIGINT)
                try:
                    self.proc.wait(STOP_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    pass
            deadline = time.monotonic() + STOP_TIMEOUT_S
            while _group_alive(self.proc.pid):
                if time.monotonic() > deadline:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                    deadline = time.monotonic() + STOP_TIMEOUT_S
                time.sleep(0.05)
                self.proc.poll()
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait()
            self._stop_sampling.set()
            self._sampler.join(5)
            self._log.close()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    # a zombie leader counts as gone; any other member means alive
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


# -- metrics ------------------------------------------------------------------
def tail_percentile(values: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    for pct in (99.9, 99, 95, 90, 75, 50):
        idx = int(n * pct / 100.0)
        if n - idx - 1 >= 10:
            return pct, ordered[idx]
    return None


def end_to_end(setup_s: float, ops: list, passes: list,
               driver_rss_kb: int) -> dict:
    """The end-to-end metrics of one run (see BENCHMARK.json)."""
    stmts = [op for op in ops if op.kind != "connect"]
    stmt_ms = [op.ms for op in stmts]
    rows = sum(op.rows for op in stmts)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.seconds for p in passes),
        "stmt_p50_ms": statistics.median(stmt_ms),
        "rows_per_s": rows / (sum(stmt_ms) / 1000.0),
        "driver_rss_peak_mb": driver_rss_kb / 1024.0,
    }


def detail_lines(ops: list, passes: list) -> list[str]:
    """Figures per request kind and per step, for reading."""

    def ms(kind):
        return [op.ms for op in ops if op.kind == kind]

    lines = []

    def p50(name, vals):
        if vals:
            lines.append(f"{name} {statistics.median(vals):.3f} ms "
                         f"(n={len(vals)})")
    p50("connect_p50_ms", ms("connect"))
    p50("introspect_p50_ms", ms("catalog"))
    short = ms("short")
    p50("short_stmt_p50_ms", short)
    tail = tail_percentile(short)
    if tail:
        lines.append(f"short_stmt_tail_ms {tail[1]:.3f} ms (p{tail[0]:g}, "
                     f"n={len(short)})")
    if short:
        lines.append(f"short_stmts_per_s {len(short) / (sum(short) / 1e3):.3f}"
                     " 1/s")
    bulk = [op for op in ops if op.kind == "bulk"]
    if bulk:
        rows = sum(op.rows for op in bulk)
        secs = sum(op.ms for op in bulk) / 1e3
        lines.append(f"fetch_rows_per_s {rows / secs:.1f} 1/s "
                     f"(rows={rows})")
    copy = [op for op in ops if op.kind == "copy_in"]
    if copy:
        rate = sum(o.rows for o in copy) / (sum(o.ms for o in copy) / 1e3)
        lines.append(f"copy_in_rows_per_s {rate:.1f} 1/s")
    analytic = [sum(op.ms for op in p.ops if op.kind == "analytic")
                for p in passes]
    if any(analytic):
        lines.append(f"analytic_pass_s {statistics.median(analytic) / 1e3:.3f}"
                     " s")
    steps: dict = {}
    for op in ops:
        steps.setdefault(op.step, []).append(op.ms)
    for step, vals in steps.items():
        lines.append(f"  step {step}: p50 {statistics.median(vals):.1f} ms "
                     f"(n={len(vals)})")
    return lines


# -- one run ------------------------------------------------------------------
def run(workload: str, seed: int, seconds: float, trace: bool,
        root: str) -> dict:
    base = os.path.join(root, ".perfbench")
    data_dir = datagen.ensure(os.path.join(base, "data"))
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_path = os.path.join(work, "trace.json") if trace else None
    ref = workloads.Reference(data_dir)
    server = Server(root, work, data_dir, trace_path)
    client = None
    try:
        port = server.wait_port()
        first = workloads.Pass()
        client, ready = workloads.open_connection(first.ops, HOST, port)
        if client is None:
            raise ServerError(
                f"first connection failed: {first.ops[0].error}")
        setup_s = ready - server.t_launch
        cls = (workloads.ConnectCatalog if workload == "connect_catalog"
               else workloads.ServingMix)
        script = cls(ref, seed, client)
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            p = script.run_pass()
            workloads.verify(p)
            passes.append(p)
        workloads.verify(first)
    finally:
        if client is not None:
            client.close()
        t_stop = time.perf_counter()
        server.stop()
    result = {"setup_s": setup_s, "first": first, "passes": passes,
              "stop_s": time.perf_counter() - t_stop,
              "driver_rss_kb": server.driver_rss_peak_kb,
              "tree_rss_kb": server.tree_rss_peak_kb}
    if trace:
        with open(trace_path) as f:
            result["trace"] = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__main__.py")):
        print(f"error: run from the repository root ({PACKAGE}/ not found "
              f"in {root})", file=sys.stderr)
        return 2
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  root)
    except ServerError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 3

    passes = res["passes"]
    ops = res["first"].ops + [op for p in passes for op in p.ops]
    failed = [op for op in ops if not op.ok]
    e2e = end_to_end(res["setup_s"], ops, passes, res["driver_rss_kb"])
    tree_rss_mb = res["tree_rss_kb"] / 1024.0
    print(f"workload {args.workload} seed {args.seed} passes {len(passes)} "
          f"requests {len(ops)} trace {args.trace}")
    for name, value in e2e.items():
        print(f"{name} {value:.4f} {METRIC_UNITS[name]}")
    print(f"stop_s {res['stop_s']:.4f} s (server shutdown)")
    print(f"server_rss_peak_mb {tree_rss_mb:.1f} MB (driver plus JVM)")
    print(f"error_rate {len(failed) / len(ops):.4f} ratio "
          f"({len(failed)}/{len(ops)})")
    for line in detail_lines(ops, passes):
        print(line)
    for op in failed[:20]:
        print(f"FAILED {op.step}: {op.error}", file=sys.stderr)

    if args.trace:
        import tracer
        metrics = {name: {"value": value, "unit": layer_unit(name)}
                   for name, value in tracer.layer_metrics(
                       res["trace"]).items()}
        metrics["server.tree_rss_peak_mb"] = {"value": tree_rss_mb,
                                              "unit": "MB"}
        metrics["server.connect_ms"] = {"value": statistics.median(
            op.ms for op in ops if op.kind == "connect"), "unit": "ms"}
        for name, value in e2e.items():
            metrics[f"traced.{name}"] = {"value": value,
                                         "unit": METRIC_UNITS[name]}
    else:
        metrics = {name: {"value": value, "unit": METRIC_UNITS[name]}
                   for name, value in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("self_ms.") or "ms" in name.split(".")[-1].split("_"):
        return "ms"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes_per_row"):
        return "B"
    return "count"

if __name__ == "__main__":
    sys.exit(main())
