"""The benchmark's workloads, their seeded inputs and their answer checks.

A workload is a fixed script of client requests (one *pass*); the runner
repeats passes in a closed loop. Every request is timed from its first
byte sent to the server's ReadyForQuery, and its answer is kept raw. The
answers are checked after the pass, outside the timed requests, against
references computed by DuckDB and pyarrow over the same parquet files the
server serves.

Both workloads run over the run's first connection, opened during set-up
(its start-up is where per-connection bootstrap goes):

* ``connect_catalog`` -- each pass makes a small DDL write (a temp view),
  runs the psql ``\\d <table>`` statements for two tables and ``\\d``
  plus an ``information_schema.columns`` read on the new view, then drops
  the view.
* ``serving_mix`` -- each pass runs a seeded mix of short statements
  (simple and prepared point lookups in text and binary, SET/SHOW,
  BEGIN/COMMIT), the bulk transfers over ``orders`` (a simple-query
  scan, the same scan over the extended protocol in binary with
  ``max_rows=1000``, the scan under ``statement_timeout``, ``COPY TO
  STDOUT``), a seeded ``COPY FROM STDIN`` into a table it recreates,
  TPC-H q1 and the ``exact_dup_groups`` pipeline TVF.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import datagen
from pgclient import PgClient, decode_rows

WORKLOADS = ("connect_catalog", "serving_mix")

# pyarrow type -> the format_type() text psql shows for the column
_PG_TYPE_NAMES = {"int64": "bigint", "int32": "integer",
                  "double": "double precision", "string": "text",
                  "timestamp[us]": "timestamp without time zone"}

ORDERS_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               "o_orderdate, o_orderpriority")

# TPC-H q1 oracle SQL as registered with the repository's queries (plus
# an ORDER BY); DuckDB runs the same text for the reference answer.
ANALYTIC = {
    "q1": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 100 + 0.5) AS DOUBLE) / 100 AS sum_disc_price,
       CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 100 + 0.5) AS DOUBLE) / 100 AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
}

# the exact_dup_groups TVF and its registered query's oracle
TVF_SQL = ("SELECT representative, n_dups FROM exact_dup_groups('documents') "
           "WHERE n_dups > 1 ORDER BY representative")
TVF_ORACLE = ("SELECT CAST(MIN(doc_id) AS BIGINT) AS representative, "
              "COUNT(*) AS n_dups FROM documents "
              "GROUP BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') "
              "HAVING COUNT(*) > 1 ORDER BY representative")

CATALOG_TABLES = ("orders", "lineitem")
COPY_ROWS = 1000


# -- value normalisation ------------------------------------------------------
_EPOCH = dt.datetime(1970, 1, 1)


def _ts_text_to_us(s: str) -> int:
    d = dt.datetime.fromisoformat(s)
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def normalize(value, oid: int):
    """A wire value (text ``str`` or decoded binary) -> canonical Python
    value: ints, floats, unix microseconds for timestamps, strings
    otherwise."""
    if value is None:
        return None
    if isinstance(value, tuple):  # binary timestamp
        return value[1]
    if isinstance(value, (int, float)):
        return value
    if oid in (20, 21, 23):
        return int(value)
    if oid == 701:
        return float(value)
    if oid == 1114:
        return _ts_text_to_us(value)
    return value


def normalize_rows(rows: list[tuple], columns: list) -> list[tuple]:
    oids = [oid for _, oid in columns]
    return [tuple(normalize(v, o) for v, o in zip(r, oids)) for r in rows]


def _canon_py(v):
    if isinstance(v, dt.datetime):
        return (v - _EPOCH) // dt.timedelta(microseconds=1)
    return v


def checksum(rows) -> tuple[int, int]:
    """Order-insensitive (row count, sum of row hashes mod 2**64)."""
    total = 0
    n = 0
    for r in rows:
        total = (total + hash(tuple(r))) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, total


def same_rows(got: list[tuple], want: list[tuple],
              rel: float = 1e-9) -> bool:
    """Row-by-row equality with a relative tolerance on floats."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    return False
                if abs(a - b) > rel * max(1.0, abs(a), abs(b)):
                    return False
            elif a != b:
                return False
    return True


# -- references ---------------------------------------------------------------
class Reference:
    """Expected answers, computed from the parquet files the server reads."""

    def __init__(self, data_dir: str):
        import duckdb

        self.schemas = {t: pq.read_schema(os.path.join(data_dir,
                                                       f"{t}.parquet"))
                        for t in CATALOG_TABLES}
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        self.order_keys = orders.column("o_orderkey").to_pylist()
        self.orders_by_key = {}
        for row in zip(*(orders.column(i).to_pylist()
                         for i in range(orders.num_columns))):
            self.orders_by_key[row[0]] = tuple(_canon_py(v) for v in row)
        self.orders_sum = checksum(self.orders_by_key.values())

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in datagen.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.analytic = {
            name: [tuple(_canon_py(v) for v in r)
                   for r in con.execute(sql).fetchall()]
            for name, sql in ANALYTIC.items()}
        self.tvf = [tuple(r) for r in con.execute(TVF_ORACLE).fetchall()]
        con.close()

    def columns_of(self, table: str) -> list[tuple[str, str]]:
        return [(f.name, _PG_TYPE_NAMES[str(f.type)])
                for f in self.schemas[table]]


# -- per-request records ------------------------------------------------------
@dataclass
class Op:
    """One timed client request and the deferred check of its answer."""

    step: str
    kind: str          # connect | catalog | short | bulk | copy_in | analytic
    ms: float
    rows: int = 0
    check: object = None   # () -> bool, run after the pass
    ok: bool = True
    error: str = ""


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        """Time of the pass's statements; connects are timed apart."""
        return sum(op.ms for op in self.ops if op.kind != "connect") / 1e3


def _timed(ops: list[Op], step: str, kind: str, fn, check=None,
           rows_of=None) -> object:
    """Run ``fn`` as one timed request; record an Op, never raise on a
    server error (it is recorded as a failed op)."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except (OSError, RuntimeError) as exc:  # PgError is a RuntimeError
        ops.append(Op(step, kind, (time.perf_counter() - t0) * 1000.0,
                      ok=False, error=str(exc)[:300]))
        return None
    ms = (time.perf_counter() - t0) * 1000.0
    rows = rows_of(out) if rows_of else _rows_in(out)
    ops.append(Op(step, kind, ms, rows=rows,
                  check=(lambda: check(out)) if check else None))
    return out


def _rows_in(out) -> int:
    if isinstance(out, list):
        return sum(len(r.raw_rows) for r in out)
    if hasattr(out, "raw_rows"):
        return len(out.raw_rows)
    return 0


def verify(pass_: Pass) -> None:
    """Run every deferred answer check of a pass; a check that returns
    false or raises marks its op failed."""
    for op in pass_.ops:
        if not op.ok or op.check is None:
            continue
        try:
            op.ok = bool(op.check())
        except Exception as exc:  # a malformed answer is a wrong answer
            op.ok = False
            op.error = f"check raised {type(exc).__name__}: {exc}"[:300]
        if not op.ok and not op.error:
            op.error = "wrong answer"
        op.check = None


def open_connection(ops: list[Op], host: str, port: int):
    """Open a connection and answer ``SELECT 1`` as one timed connect op.
    Returns the client (None if that failed) and the moment its startup
    ReadyForQuery arrived."""
    holder = {}

    def connect():
        holder["c"] = PgClient(host, port)
        holder["ready"] = time.perf_counter()
        return holder["c"].query_one("SELECT 1")

    if _timed(ops, "connect", "connect", connect, check_select1) is None:
        if "c" in holder:
            holder.pop("c").close()
    return holder.get("c"), holder.get("ready")


# -- answer checks ------------------------------------------------------------
def _one_value(res, want) -> bool:
    rows = res.rows()
    return len(rows) == 1 and rows[0][0] == want


def check_select1(res) -> bool:
    return _one_value(res, "1")


def check_lookup(ref: Reference, key: int):
    def check(res) -> bool:
        got = normalize_rows(res.rows(), res.columns)
        return same_rows(got, [ref.orders_by_key[key]])
    return check


def check_prepared_lookup(ref: Reference, key: int, columns):
    def check(results) -> bool:
        res = results[-1]
        got = normalize_rows(res.rows(), columns)
        return same_rows(got, [ref.orders_by_key[key]])
    return check


def check_describe(ref: Reference, table: str):
    def check(res) -> bool:
        got = [(r[0], r[1]) for r in res.rows()]
        return got == ref.columns_of(table)
    return check


def check_relname(table: str):
    def check(res) -> bool:
        rows = res.rows()
        return len(rows) == 1 and rows[0][2] == table and int(rows[0][0]) > 0
    return check


def check_scan(ref: Reference, columns=None):
    """Full orders scan: row count plus order-insensitive checksum."""
    def check(out) -> bool:
        results = out if isinstance(out, list) else [out]
        cols = columns or results[0].columns
        rows = []
        for r in results:
            rows.extend(normalize_rows(decode_rows(r.raw_rows, cols,
                                                   r.formats), cols))
        return checksum(rows) == ref.orders_sum
    return check


_COPY_TEXT_OIDS = (20, 20, 25, 701, 1114, 25)   # orders, in column order


def check_copy_out(ref: Reference):
    def check(out) -> bool:
        res, chunks = out
        rows = []
        for line in b"".join(chunks).decode().splitlines():
            cells = [None if c == "\\N" else c for c in line.split("\t")]
            rows.append(tuple(normalize(c, o)
                              for c, o in zip(cells, _COPY_TEXT_OIDS)))
        return (res.tag == f"COPY {len(rows)}"
                and checksum(rows) == ref.orders_sum)
    return check


def check_analytic(ref: Reference, name: str):
    def check(res) -> bool:
        got = normalize_rows(res.rows(), res.columns)
        return same_rows(got, ref.analytic[name])
    return check


def check_tvf(ref: Reference):
    def check(res) -> bool:
        return [tuple(int(v) for v in r) for r in res.rows()] == ref.tvf
    return check


# -- workload scripts ---------------------------------------------------------
class ConnectCatalog:
    """psql-style catalog statements around a small DDL write, over the
    run's first connection. The DDL comes before the pass's first catalog
    read, so one dirty-flag refresh covers both the connection's start
    and the new view."""

    def __init__(self, ref: Reference, seed: int, client: PgClient):
        self.ref, self.c = ref, client
        self.rng = random.Random(seed)
        self.n = 0

    def run_pass(self) -> Pass:
        p = Pass()
        ops = p.ops
        self.n += 1
        rng, q = self.rng, self.c.query_one
        tables = rng.sample(CATALOG_TABLES, len(CATALOG_TABLES))
        order_cols = self.ref.columns_of("orders")
        picked = sorted(rng.sample(range(len(order_cols)), 3))
        view = f"bench_v{rng.randrange(10**6)}_{self.n}"
        sel = ", ".join(order_cols[i][0] for i in picked)
        _timed(ops, "ddl.create_view", "catalog", lambda: q(
            f"CREATE TEMP VIEW {view} AS SELECT {sel} FROM orders "
            f"WHERE o_orderkey % 7 = {rng.randrange(7)}"),
            lambda r: r.tag.startswith("CREATE"))
        for table in tables:
            self._describe(ops, q, table)
        want = [order_cols[i] for i in picked]
        _timed(ops, "catalog.describe_new_view", "catalog", lambda: q(
            "SELECT a.attname, pg_catalog.format_type(a.atttypid, "
            "a.atttypmod) FROM pg_catalog.pg_attribute a "
            f"WHERE a.attrelid = '{view}'::regclass AND a.attnum > 0 "
            "ORDER BY a.attnum"),
            lambda r: [(x[0], x[1]) for x in r.rows()] == want)
        _timed(ops, "catalog.information_schema", "catalog", lambda: q(
            "SELECT column_name, ordinal_position "
            "FROM information_schema.columns "
            f"WHERE table_name = '{view}' ORDER BY ordinal_position"),
            lambda r: [(x[0], int(x[1])) for x in r.rows()] ==
            [(n, i + 1) for i, (n, _) in enumerate(want)])
        _timed(ops, "ddl.drop_view", "catalog",
               lambda: q(f"DROP VIEW {view}"),
               lambda r: r.tag.startswith("DROP"))
        return p

    def _describe(self, ops: list, q, table: str) -> None:
        """psql ``\\d <table>``: find the relation, then its columns."""
        _timed(ops, "catalog.pg_class", "catalog", lambda: q(
            "SELECT c.oid, n.nspname, c.relname FROM pg_catalog.pg_class c "
            "LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace "
            f"WHERE c.relname = '{table}' ORDER BY 2, 3"),
            check_relname(table))
        _timed(ops, "catalog.pg_attribute", "catalog", lambda: q(
            "SELECT a.attname, pg_catalog.format_type(a.atttypid, "
            "a.atttypmod), a.attnotnull FROM pg_catalog.pg_attribute a "
            f"WHERE a.attrelid = '{table}'::regclass AND a.attnum > 0 "
            "AND NOT a.attisdropped ORDER BY a.attnum"),
            check_describe(self.ref, table))


class ServingMix:
    """Short statements, bulk transfers, COPY IN and analytic queries
    over one persistent connection."""

    def __init__(self, ref: Reference, seed: int, client: PgClient):
        self.ref, self.c = ref, client
        self.rng = random.Random(seed)
        self.n = 0
        client.parse("lookup", f"SELECT {ORDERS_COLS} FROM orders "
                               "WHERE o_orderkey = CAST($1 AS BIGINT)")
        self.lookup_cols = client.describe_statement("lookup")
        client.parse("scan", "SELECT * FROM orders")
        self.scan_cols = client.describe_statement("scan")

    def _short_steps(self) -> list:
        rng, ref, c = self.rng, self.ref, self.c
        # lookups are the bulk of the mix, so stmt_p50_ms falls inside
        # their latency cluster rather than on the edge between clusters
        steps = [("short.select1", lambda: c.query_one("SELECT 1"),
                  check_select1) for _ in range(2)]
        for _ in range(4):
            k = rng.choice(ref.order_keys)
            steps.append(("short.lookup_simple", lambda k=k: c.query_one(
                f"SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey = {k}"),
                check_lookup(ref, k)))
        for fmt in (0, 0, 1, 1):
            k = rng.choice(ref.order_keys)
            steps.append((f"short.lookup_prepared_{'bin' if fmt else 'text'}",
                          lambda k=k, fmt=fmt: c.execute_prepared(
                              "lookup", [k], fmt, self.lookup_cols),
                          check_prepared_lookup(ref, k, self.lookup_cols)))
        rng.shuffle(steps)
        return steps

    def run_pass(self) -> Pass:
        p = Pass()
        ops = p.ops
        self.n += 1
        c, ref, rng = self.c, self.ref, self.rng
        for step, fn, check in self._short_steps():
            _timed(ops, step, "short", fn, check)
        app = f"bench_{rng.randrange(10**6)}"
        _timed(ops, "short.set", "short",
               lambda: c.query_one(f"SET application_name = '{app}'"),
               lambda r: r.tag == "SET")
        _timed(ops, "short.show", "short",
               lambda: c.query_one("SHOW application_name"),
               lambda r: _one_value(r, app))
        k = rng.choice(ref.order_keys)
        _timed(ops, "short.begin", "short", lambda: c.query_one("BEGIN"),
               lambda r: r.tag == "BEGIN")
        _timed(ops, "short.lookup_in_txn", "short", lambda: c.query_one(
            f"SELECT {ORDERS_COLS} FROM orders WHERE o_orderkey = {k}"),
            check_lookup(ref, k))
        _timed(ops, "short.commit", "short", lambda: c.query_one("COMMIT"),
               lambda r: r.tag == "COMMIT" and c.txn_status == b"I")

        _timed(ops, "bulk.scan_text", "bulk",
               lambda: c.query_one("SELECT * FROM orders"), check_scan(ref))
        _timed(ops, "bulk.scan_binary_portal", "bulk",
               lambda: c.execute_prepared("scan", [], 1, self.scan_cols,
                                          max_rows=1000),
               check_scan(ref, self.scan_cols))
        _timed(ops, "bulk.copy_out", "bulk",
               lambda: c.copy_out("COPY (SELECT * FROM orders) TO STDOUT"),
               check_copy_out(ref), rows_of=lambda o: len(o[1]))
        _timed(ops, "short.set_timeout", "short",
               lambda: c.query_one("SET statement_timeout = '120s'"),
               lambda r: r.tag == "SET")
        _timed(ops, "bulk.scan_under_timeout", "bulk",
               lambda: c.query_one("SELECT * FROM orders"), check_scan(ref))
        _timed(ops, "short.reset_timeout", "short",
               lambda: c.query_one("RESET statement_timeout"),
               lambda r: r.tag in ("RESET", "SET"))

        table = f"bench_copy_{rng.randrange(10**6)}_{self.n}"
        base = rng.randrange(10**9)
        payload_rows = [(base + i, f"r{rng.randrange(10**6)}",
                         rng.randrange(10**6) / 100.0)
                        for i in range(COPY_ROWS)]
        payload = "".join(f"{a}\t{b}\t{x!r}\n"
                          for a, b, x in payload_rows).encode()
        want_sum = sum(a for a, _, _ in payload_rows)
        want_x = sum(x for _, _, x in payload_rows)
        _timed(ops, "copy_in.create", "short", lambda: c.query_one(
            f"CREATE TABLE {table} (k BIGINT, v STRING, x DOUBLE)"),
            lambda r: r.tag.startswith("CREATE"))
        _timed(ops, "copy_in.copy", "copy_in",
               lambda: c.copy_in(f"COPY {table} FROM STDIN", payload),
               lambda r: r.tag == f"COPY {COPY_ROWS}",
               rows_of=lambda r: COPY_ROWS)
        _timed(ops, "copy_in.read_back", "short", lambda: c.query_one(
            f"SELECT count(*), sum(k), sum(x) FROM {table}"),
            lambda r: (int(r.rows()[0][0]) == COPY_ROWS
                       and int(r.rows()[0][1]) == want_sum
                       and abs(float(r.rows()[0][2]) - want_x) < 1e-6))
        _timed(ops, "copy_in.drop", "short",
               lambda: c.query_one(f"DROP TABLE {table}"),
               lambda r: r.tag.startswith("DROP"))

        _timed(ops, "analytic.q1", "analytic",
               lambda: c.query_one(ANALYTIC["q1"]),
               check_analytic(ref, "q1"))
        _timed(ops, "analytic.tvf_exact_dup_groups", "analytic",
               lambda: c.query_one(TVF_SQL), check_tvf(ref))
        return p
