"""Traced server launcher and the per-layer split it yields.

Run as a program, it wraps the public functions of the serving layers,
then calls the CLI's ``main()`` with the remaining arguments:

    python perfbench/tracer.py --out trace.json -- --directory DIR -p 0

Nothing inside ``datafusion_postgres_spark`` changes: the wrappers are
installed on the modules and classes from outside. Each wrapped call
records a span (name, start, end, parent span, statement id). Functions
called once per value, row or JVM round trip (the encoders, socket
sends, row fetches, py4j commands) are too hot for one span per call:
their calls, time and units are summed into the innermost open span
instead. Spans stay in memory and are written out when the server shuts
down (SIGINT).

A statement id is ``<connection pid>:<request number>``; work done while
a connection starts (before its first request) carries
``<connection>:connect``, and work at server start carries ``server``.

``layer_metrics`` turns a written trace into the per-layer metrics.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

LAYERS = ("session", "functions", "catalog", "dialect", "hooks", "prepared",
          "engine", "fetch", "encoder", "pgwire", "copy", "operators")

# hot names whose time is not subtracted from the enclosing span: a py4j
# command is the JVM side of whichever layer issued it
_COUNT_ONLY = {"py4j.send_command"}


class Tracer:
    """In-memory span recorder; one span stack per server thread."""

    def __init__(self):
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self.spans: list = []
        self.threads: list[dict] = []
        self.first_rows_ms: list[float] = []
        self.pids: list[int] = []

    # -- per-thread state ------------------------------------------------
    def state(self):
        st = self._tls
        if not hasattr(st, "stack"):
            st.stack = []
            st.conn = "server"
            st.seq = 0
            st.phase = "server"
            st.hot_depth = 0
            st.counts = defaultdict(int)   # (name, phase) -> n
            self.threads.append(st.counts)
        return st

    def stmt_id(self, st) -> str:
        if st.phase == "stmt":
            return f"{st.conn}:{st.seq}"
        if st.phase == "connect":
            return f"{st.conn}:connect"
        return "server"

    # -- wrappers --------------------------------------------------------
    def span(self, name: str, fn, new_request: bool = False,
             on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = tracer.state()
            if new_request:
                st.seq += 1
            parent = st.stack[-1][0] if st.stack else 0
            frame = [next(tracer._ids), {}]
            st.stack.append(frame)
            st.counts[(name, st.phase)] += 1
            result = None
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.perf_counter()
                st.stack.pop()
                if on_result is not None:
                    on_result(st, result)
                tracer.spans.append((frame[0], parent, name,
                                     tracer.stmt_id(st), st.phase, t0, t1,
                                     frame[1]))
        return wrapper

    def hot(self, name: str, fn, units=None):
        """Sum calls/time/units into the innermost open span. A hot call
        nested in another hot call is not counted again."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            st = tracer.state()
            if st.hot_depth:
                return fn(*args, **kwargs)
            st.hot_depth += 1
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                st.hot_depth -= 1
            tracer.add_hot(st, name, dt, units(args, result) if units else 1)
            return result
        return wrapper

    def add_hot(self, st, name: str, secs: float, units: int) -> None:
        st.counts[(name, st.phase)] += 1
        if not st.stack:
            return
        agg = st.stack[-1][1].get(name)
        if agg is None:
            st.stack[-1][1][name] = [1, secs, units]
        else:
            agg[0] += 1
            agg[1] += secs
            agg[2] += units

    def counts(self) -> dict:
        out: dict = defaultdict(int)
        for c in self.threads:
            for k, v in list(c.items()):
                out[f"{k[0]}|{k[1]}"] += v
        return dict(out)


class _TimedRows:
    """Row iterator whose ``next`` calls count as hot fetch work."""

    def __init__(self, tracer: Tracer, it, t_call: float):
        self._tracer, self._it, self._t_call = tracer, it, t_call
        self._first = True

    def __iter__(self):
        return self

    def __next__(self):
        st = self._tracer.state()
        t0 = time.perf_counter()
        try:
            row = next(self._it)
        except StopIteration:
            self._tracer.add_hot(st, "fetch.next", time.perf_counter() - t0,
                                 0)
            raise
        t1 = time.perf_counter()
        self._tracer.add_hot(st, "fetch.next", t1 - t0, 1)
        if self._first:
            self._first = False
            self._tracer.first_rows_ms.append((t1 - self._t_call) * 1000.0)
        return row


def install(tracer: Tracer) -> None:
    """Wrap the serving layers' public functions (see module docstring)."""
    import py4j.java_gateway as j4
    from pyspark.sql import SparkSession

    import datafusion_postgres_spark.functions as functions_pkg
    from datafusion_postgres_spark import session as session_mod
    from datafusion_postgres_spark.catalog import pg_catalog
    from datafusion_postgres_spark.dialect.transpiler import PostgresTranspiler
    from datafusion_postgres_spark.functions import pipeline_tvf, registry
    from datafusion_postgres_spark.server import (
        copy_data, encoder, hooks, pgwire, prepared)

    def wrap_attr(owner, attr, name, **kw):
        setattr(owner, attr, tracer.span(name, getattr(owner, attr), **kw))

    def wrap_hot(owner, attr, name, units=None):
        setattr(owner, attr, tracer.hot(name, getattr(owner, attr), units))

    # py4j bridge: every JVM command
    wrap_hot(j4.GatewayClient, "send_command", "py4j.send_command")

    # session
    engine_cls = session_mod.SparkPgEngine
    wrap_attr(engine_cls, "__post_init__", "session.engine_init")
    wrap_attr(engine_cls, "_execute_one", "session.execute_one")
    wrap_attr(engine_cls, "copy_into", "copy.copy_into")

    # functions.registry (session imports register_all from the package)
    register_all = tracer.span("functions.register_all",
                               registry.register_all)
    registry.register_all = register_all
    functions_pkg.register_all = register_all
    wrap_attr(registry, "register_functions", "functions.register_functions")

    # catalog.pg_catalog
    for fn in ("bootstrap", "refresh", "refresh_settings"):
        wrap_attr(pg_catalog, fn, f"catalog.{fn}")

    # dialect.transpiler
    for fn in ("transpile", "statement_kind", "split_statements",
               "table_names"):
        wrap_attr(PostgresTranspiler, fn, f"dialect.{fn}")

    # server.hooks
    def hook_answered(st, result):
        st.counts[("hooks.answered", st.phase)] += result is not None
    wrap_attr(hooks.HookChain, "try_handle", "hooks.try_handle",
              on_result=hook_answered)

    # server.prepared
    for fn in ("parse", "describe", "execute"):
        wrap_attr(prepared.PreparedStatementManager, fn, f"prepared.{fn}")

    # engine: Spark analysis + planning behind every spark.sql
    wrap_attr(SparkSession, "sql", "engine.sql")

    # fetch
    # the rows() span covers creating the row iterator (planning and the
    # first job's submission); each next() is summed as hot fetch work
    rows_fn = session_mod.ExecutionResult.rows

    def rows(self):
        t_call = time.perf_counter()
        return _TimedRows(tracer, rows_fn(self), t_call)
    session_mod.ExecutionResult.rows = tracer.span("fetch.rows", rows)

    def collected(st, result):
        st.counts[("fetch.collect_rows", st.phase)] += len(result or ())
    wrap_attr(session_mod.ExecutionResult, "collect", "fetch.collect",
              on_result=collected)

    # server.encoder; pgwire imported encode_row by value, so wrap it there
    row_units = (lambda args, result: len(result or ()))
    encode_row = tracer.hot("encoder.encode_row", encoder.encode_row,
                            row_units)
    encoder.encode_row = encode_row
    pgwire.encode_row = encode_row
    wrap_hot(encoder, "encode_value", "encoder.encode_value")
    wrap_hot(encoder, "encode_value_binary", "encoder.encode_value_binary")

    # server.pgwire: requests, socket writes, connection phases
    conn_cls = pgwire._Conn
    for msg in ("query", "parse", "bind", "describe", "execute", "sync",
                "close"):
        wrap_attr(conn_cls, f"_on_{msg}", f"pgwire.{msg}", new_request=True)

    def sent_units(args, result):
        data = args[1]
        st = tracer.state()
        if data[:1] in (b"D", b"d"):
            st.counts[("pgwire.rows_sent", st.phase)] += 1
        st.counts[("pgwire.bytes", st.phase)] += len(data)
        return len(data)
    wrap_hot(conn_cls, "_send", "pgwire.send", sent_units)

    handle = conn_cls.handle

    def traced_handle(self):
        st = tracer.state()
        st.conn, st.seq, st.phase = f"t{threading.get_ident()}", 0, "connect"
        st.counts[("pgwire.connections", "connect")] += 1
        try:
            return handle(self)
        finally:
            st.phase = "server"
    conn_cls.handle = traced_handle

    main_loop = conn_cls._main_loop

    def traced_main_loop(self):
        tracer.state().phase = "stmt"
        return main_loop(self)
    conn_cls._main_loop = traced_main_loop

    register = pgwire.CancelRegistry.register

    def traced_register(self, spark):
        pid_secret = register(self, spark)
        st = tracer.state()
        st.conn = str(pid_secret[0])
        tracer.pids.append(pid_secret[0])
        return pid_secret
    pgwire.CancelRegistry.register = traced_register

    serve_forever = pgwire.PgWireServer.serve_forever

    def traced_serve_forever(self):
        # the CLI swaps in its engine factory after construction
        srv = self._server
        srv.engine_factory = tracer.span("session.engine_factory",
                                         srv.engine_factory)
        return serve_forever(self)
    pgwire.PgWireServer.serve_forever = traced_serve_forever

    # server.copy_data (copy_into imports these at call time)
    def copy_rows(st, result):
        st.counts[("copy.rows", st.phase)] += len(result or ())
    for fn in ("parse_copy_payload", "parse_copy_binary"):
        wrap_attr(copy_data, fn, "copy.parse", on_result=copy_rows)

    # operators via the pipeline TVF surface
    wrap_attr(pipeline_tvf, "materialize_pipeline_tvfs", "operators.tvf")
    wrap_attr(pipeline_tvf, "rewrite_pipeline_tvfs", "operators.rewrite")


def spark_jobs(pids) -> dict:
    """Spark job ids per connection job group (``pgwire-conn-<pid>``)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return {}
    tracker = sc.statusTracker()
    return {str(p): len(tracker.getJobIdsForGroup(f"pgwire-conn-{p}"))
            for p in pids}


def dump(tracer: Tracer, path: str) -> None:
    jobs = spark_jobs(tracer.pids)
    out = {"spans": tracer.spans, "counts": tracer.counts(),
           "first_rows_ms": tracer.first_rows_ms, "jobs": jobs}
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)


# -- per-layer metrics -------------------------------------------------------
def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(trace: dict) -> dict:
    """Per-layer metrics of one traced server lifetime, over the work
    clients caused (connection start-up and requests; server start is
    excluded). ``self_ms.<layer>`` sums the layer's self time over the
    requests only; connection start-up is what ``session.engine_init_ms``,
    ``functions.register_all_ms``, ``catalog.bootstrap_ms`` and
    ``py4j.calls_per_connect`` report."""
    spans = [s for s in trace["spans"] if s[4] != "server"]
    counts = defaultdict(int, trace["counts"])
    by_id = {s[0]: s for s in spans}
    child_secs: dict = defaultdict(float)
    for s in spans:
        child_secs[s[1]] += s[6] - s[5]

    self_s: dict = defaultdict(float)
    calls: dict = defaultdict(int)
    total_s: dict = defaultdict(float)
    hot: dict = defaultdict(lambda: [0, 0.0, 0])
    for s in spans:
        sid, _, name, _, phase, t0, t1, hot_aggs = s
        dur = t1 - t0
        own = dur - child_secs[sid]
        requests = phase == "stmt"
        for hname, (n, secs, units) in hot_aggs.items():
            agg = hot[hname]
            agg[0] += n
            agg[1] += secs
            agg[2] += units
            if hname not in _COUNT_ONLY:
                own -= secs
                if requests:
                    self_s[hname.split(".")[0]] += secs
        if requests:
            self_s[name.split(".")[0]] += own
        calls[name] += 1
        total_s[name] += dur

    def under(span, ancestor: str) -> bool:
        p = by_id.get(span[1])
        while p is not None:
            if p[2] == ancestor:
                return True
            p = by_id.get(p[1])
        return False

    stmts = calls["prepared.execute"] + sum(
        1 for s in spans
        if s[2] == "session.execute_one" and not under(s, "prepared.execute"))
    conns = counts["pgwire.connections|connect"]
    rows_sent = counts["pgwire.rows_sent|stmt"]
    enc_values = (hot["encoder.encode_row"][2] + hot["encoder.encode_value"][2]
                  + hot["encoder.encode_value_binary"][2])
    enc_s = (hot["encoder.encode_row"][1] + hot["encoder.encode_value"][1]
             + hot["encoder.encode_value_binary"][1])
    dialect = ("dialect.transpile", "dialect.statement_kind",
               "dialect.split_statements", "dialect.table_names")
    stmt_spans = [s for s in spans if s[4] == "stmt"]
    engine_stmt = [s for s in stmt_spans if s[2] == "engine.sql"]
    copy_rows = counts["copy.rows|stmt"]
    m = {
        "session.engine_init_ms": _ratio(total_s["session.engine_init"] * 1e3,
                                         calls["session.engine_init"]),
        "functions.register_all_ms": _ratio(
            total_s["functions.register_all"] * 1e3,
            calls["functions.register_all"]),
        "catalog.bootstrap_ms": _ratio(total_s["catalog.bootstrap"] * 1e3,
                                       calls["catalog.bootstrap"]),
        "catalog.refresh_ms": _ratio(total_s["catalog.refresh"] * 1e3,
                                     calls["catalog.refresh"]),
        "catalog.refresh_calls": calls["catalog.refresh"],
        "py4j.calls_per_connect": _ratio(
            counts["py4j.send_command|connect"], conns),
        "py4j.calls_per_stmt": _ratio(counts["py4j.send_command|stmt"],
                                      stmts),
        "dialect.transpile_ms_per_stmt": _ratio(
            sum(total_s[d] for d in dialect if d != "dialect.split_statements")
            * 1e3, stmts),
        "dialect.calls_per_stmt": _ratio(sum(calls[d] for d in dialect),
                                         stmts),
        "hooks.try_handle_ms": _ratio(total_s["hooks.try_handle"] * 1e3,
                                      calls["hooks.try_handle"]),
        "hooks.answered_ratio": _ratio(counts["hooks.answered|stmt"],
                                       calls["hooks.try_handle"]),
        "prepared.parse_ms": _ratio(total_s["prepared.parse"] * 1e3,
                                    calls["prepared.parse"]),
        "prepared.execute_ms": _ratio(total_s["prepared.execute"] * 1e3,
                                      calls["prepared.execute"]),
        "engine.sql_ms_per_stmt": _ratio(
            sum(s[6] - s[5] for s in engine_stmt) * 1e3, stmts),
        "engine.sql_calls_per_stmt": _ratio(len(engine_stmt), stmts),
        "engine.jobs_per_stmt": _ratio(sum(trace["jobs"].values()), stmts),
        "fetch.first_row_ms": (statistics.median(trace["first_rows_ms"])
                               if trace["first_rows_ms"] else 0.0),
        "fetch.ms_per_1k_rows": _ratio(hot["fetch.next"][1] * 1e6,
                                       hot["fetch.next"][2]),
        "fetch.collect_rows": counts["fetch.collect_rows|stmt"],
        "encoder.values": enc_values,
        "encoder.ms_per_1k_values": _ratio(enc_s * 1e6, enc_values),
        "pgwire.send_calls_per_row": _ratio(hot["pgwire.send"][0], rows_sent),
        "pgwire.bytes_per_row": _ratio(counts["pgwire.bytes|stmt"],
                                       rows_sent),
        "pgwire.send_ms": hot["pgwire.send"][1] * 1e3,
        "copy.parse_ms_per_1k_rows": _ratio(total_s["copy.parse"] * 1e6,
                                            copy_rows),
        "copy.copy_into_ms": _ratio(total_s["copy.copy_into"] * 1e3,
                                    calls["copy.copy_into"]),
        "operators.tvf_ms": _ratio(total_s["operators.tvf"] * 1e3,
                                   calls["operators.tvf"]),
        "trace.statements": stmts,
        "trace.connections": conns,
        "trace.spans": len(spans),
    }
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = self_s[layer] * 1e3
    return m


def main(argv: list[str]) -> None:
    if "--out" not in argv or "--" not in argv:
        sys.exit("usage: tracer.py --out TRACE.json -- <server arguments>")
    out = argv[argv.index("--out") + 1]
    server_args = argv[argv.index("--") + 1:]
    tracer = Tracer()
    install(tracer)
    from datafusion_postgres_spark.__main__ import main as server_main
    sys.argv = ["datafusion-postgres-spark"] + server_args
    try:
        server_main()   # returns after SIGINT shuts the server down
    finally:
        dump(tracer, out)


if __name__ == "__main__":
    main(sys.argv[1:])
