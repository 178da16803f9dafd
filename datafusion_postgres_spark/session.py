"""Engine session facade.

Reference parity: the serving layer of datafusion-postgres —
``datafusion-postgres/src/lib.rs:87-195`` (server setup + SessionContext),
``datafusion-postgres-cli/src/main.rs:126-221`` (file registration),
``datafusion-postgres/src/handlers.rs:154-233`` (simple-query lifecycle).

Spark-first design: one shared ``SparkSession`` per process; each client
connection gets a :func:`clone_session` of the server's registered template
(isolated SET values, temp views + functions; shared cached data /
executors) — this improves on the reference, which mutates a single shared
SessionContext for TimeZone (SURVEY.md §7 "hard parts"). Every query, a
statement or the inner query of COPY, DECLARE or EXPLAIN ANALYZE, is
planned in one place, :meth:`SparkPgEngine._query`.
"""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StringType, StructField, StructType,
    TimestampNTZType, TimestampType,
)

from datafusion_postgres_spark.dialect.transpiler import Statement
from datafusion_postgres_spark.server.prepared import to_named_params

_BUILD_LOCK = threading.Lock()

# Tuned for local[32] testing but expressed the way a real cluster deployment
# would be: AQE owns runtime partition sizing (coalesce + skew splitting),
# so the static shuffle-partition number is a ceiling, not a schedule.
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # timestamp[ns] parquet (events.ts) is unreadable natively; read the
    # raw int64 and convert explicitly (see sources.registry.read_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    # The pgjdbc `_pg_expandarray` lock-step rewrite (dialect/rules.py
    # rewrite_pg_expandarray) emits lateral column-alias references that may
    # precede the generator defining them; pin the conf that makes those
    # resolve rather than inheriting a deployment default.
    "spark.sql.lateralColumnAlias.enableImplicitResolution": "true",
}


def default_shuffle_partitions(cpus: str) -> str:
    """Shuffle-partition CEILING derived from the advertised core count
    (round-10, guide §2.2) instead of a constant tuned for local[32].
    AQE still coalesces small partitions at runtime, so this only sets
    the upper bound on post-shuffle parallelism. Floor of 32 keeps
    low-core bench runs (the driver's scaling measurement) on the exact
    partitioning used since r01; a 128-core deployment gets 128 instead
    of silently under-parallelizing to 32."""
    try:
        n_cores = int(cpus)
    except ValueError:
        n_cores = 32
    return str(max(32, n_cores))


def default_max_partition_bytes(cpus: str) -> str:
    """Scan-split size derived from the advertised core count (round-11,
    guide §6) instead of a constant tuned for the local bench. At the
    local bench profile (<= 32 cores) the test-scale parquet is a few
    small files and 16m splits recover scan parallelism — the exact
    value every BENCH_r01..r11 ran with, so the derivation is
    value-identical at every historical bench point by construction.
    Above 32 cores the deployment is a real cluster: 16m splits over a
    100 TB table schedule ~6M scan tasks (a driver/scheduler killer —
    guide §6 recommends 128m-1g for large sequential scans), so the
    Spark default 128m applies instead. extra_conf overrides win as
    always."""
    try:
        n_cores = int(cpus)
    except ValueError:
        n_cores = 32
    return "16m" if n_cores <= 32 else "128m"


def build_spark(app_name: str = "datafusion-postgres-spark",
                master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the process-wide SparkSession with engine defaults."""
    with _BUILD_LOCK:
        builder = SparkSession.builder.appName(app_name)
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        builder = builder.master(master or f"local[{cpus}]")
        conf = dict(DEFAULT_CONF)
        conf.setdefault("spark.sql.shuffle.partitions",
                        default_shuffle_partitions(cpus))
        conf.setdefault("spark.sql.files.maxPartitionBytes",
                        default_max_partition_bytes(cpus))
        if extra_conf:
            conf.update(extra_conf)
        for k, v in conf.items():
            builder = builder.config(k, v)
        return builder.getOrCreate()


def clone_session(spark: SparkSession) -> SparkSession:
    """A new session starting with a copy of ``spark``'s SQL conf, temp
    views and temp functions; later changes stay on their own side.
    ``cloneSession()`` is ``private[sql]`` in Scala but public in the
    bytecode, so py4j can call it (verified on the pinned pyspark 4.1.2)."""
    return SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())


@dataclass(frozen=True)
class CopyOptions:
    """A COPY's WITH options (None: the format's default) and, for FROM
    STDIN, its target table, named columns (None: all) and their count."""

    format: str = "text"  # text | csv | binary
    delimiter: str | None = None
    null: str | None = None
    header: bool = False
    table: str | None = None
    columns: list[str] | None = None
    ncols: int = 0


@dataclass
class ExecutionResult:
    """One statement's result, as the wire writer consumes it.

    A Spark result crosses to the driver as Arrow record batches, one
    partition at a time (:func:`arrow_batches`), so a 100 TB result set
    streams through the driver instead of being collect()ed; :meth:`rows`
    turns each batch into ``Row``s as the writer pulls them. Answers the
    driver already holds (SHOW, FETCH, ``set_config``, EXPLAIN ANALYZE)
    carry their rows and schema directly and run no Spark job. A result
    with no schema is a command: only its tag goes to the client.
    """

    df: DataFrame | None
    command_tag: str = "SELECT"
    rows_affected: int | None = None
    held_rows: list | None = None
    held_schema: StructType | None = None
    copy: CopyOptions | None = None  # COPY_OUT / COPY_IN framing

    @property
    def schema(self):
        return self.df.schema if self.df is not None else self.held_schema

    def rows(self) -> Iterator:
        if self.df is None:
            return iter(self.held_rows or ())
        return _arrow_rows(self.df)

    def collect(self, timeout_secs: float = 0.0) -> list:
        """Materialize under the statement timeout (57014 on deadline)."""
        if self.df is None:
            return list(self.held_rows or ())
        from datafusion_postgres_spark.server.timeout import run_with_timeout
        return run_with_timeout(self.df.sparkSession,
                                lambda: list(_arrow_rows(self.df)),
                                timeout_secs)


def _utc_naive(dt: DataType) -> DataType:
    """``dt`` with every TIMESTAMP read as TIMESTAMP_NTZ. An Arrow
    TIMESTAMP column holds UTC instants; read tz-naive, they stay the UTC
    instant, where PySpark's converter would shift them into the OS's
    local time zone."""
    if isinstance(dt, TimestampType):
        return TimestampNTZType()
    if isinstance(dt, ArrayType):
        return ArrayType(_utc_naive(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(_utc_naive(dt.keyType), _utc_naive(dt.valueType),
                       dt.valueContainsNull)
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _utc_naive(f.dataType),
                                       f.nullable, f.metadata)
                           for f in dt.fields])
    return dt


def arrow_batches(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """The result of ``df`` as Arrow record batches, one partition at a
    time: executors encode their rows as Arrow IPC batches
    (``toArrowBatchRdd``, ``private[sql]`` in Scala but public in the
    bytecode), and for each partition the driver runs one job
    (``PythonRDD.runJob``, the entry point of ``SparkContext.runJob``)
    whose result the JVM serves on a fresh local socket through a
    buffered stream, so a small partition arrives in one piece. The
    driver holds one partition at a time. Planning happens here; each
    partition's job runs, on the caller's thread (its job group, hence
    cancellation and statement timeout), when its batches are pulled."""
    spark = df.sparkSession
    schema = to_arrow_schema(
        _utc_naive(df.schema),
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes())
    rdd = df._jdf.toArrowBatchRdd()
    n_parts = rdd.getNumPartitions()
    return _served_batches(spark, rdd, n_parts, schema)


def _served_batches(spark: SparkSession, rdd, n_parts: int,
                    schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """:func:`arrow_batches`' reads; a consumer that stops early (a
    portal or cursor closed mid-result, an error) closes the socket of
    the partition it was reading."""
    from pyspark.serializers import NoOpSerializer
    from pyspark.util import local_connect_and_auth

    if not n_parts:
        return
    jvm, sc = spark.sparkContext._jvm, spark.sparkContext._jsc.sc()
    jrdd = rdd.toJavaRDD()
    for i in range(n_parts):
        info = jvm.PythonRDD.runJob(sc, jrdd, [i])
        sockfile, sock = local_connect_and_auth(info[0], info[1])
        try:
            sock.settimeout(None)  # as pyspark.util._create_local_socket
            for payload in NoOpSerializer().load_stream(sockfile):
                yield pa.ipc.read_record_batch(pa.py_buffer(payload), schema)
        finally:
            sockfile.close()
            sock.close()


def _arrow_rows(df: DataFrame) -> Iterator:
    """``df``'s rows, converted from :func:`arrow_batches` one batch at a
    time (the same ``Row`` values ``toLocalIterator`` gives, except that a
    TIMESTAMP is the naive UTC instant and a MAP keeps Spark's entry
    order)."""
    from pyspark.sql.conversion import ArrowTableToRowsConversion

    schema = _utc_naive(df.schema)
    batches = arrow_batches(df)
    return (row for batch in batches
            for row in ArrowTableToRowsConversion.convert(
                pa.Table.from_batches([batch]), schema))


def local_relation(spark: SparkSession, schema: StructType,
                   rows: list) -> DataFrame:
    """Driver-held rows as an Arrow-backed local relation: rows + schema
    -> ``pyarrow.Table`` -> ``createDataFrame``, which Spark plans as a
    ``LocalTableScan`` (a list of rows would be a Python-RDD scan).
    Columns past the end of the rows are NULL."""
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(columns[i], f.type) if i < len(columns)
         else pa.nulls(len(rows), f.type) for i, f in enumerate(arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)


def text_schema(columns: list[str]) -> StructType:
    """The schema of a result made only of text columns."""
    return StructType([StructField(c, StringType()) for c in columns])


def text_result(columns: list[str], rows: list, tag: str) -> ExecutionResult:
    """A driver-held result of text columns (hook and EXPLAIN answers)."""
    return ExecutionResult(df=None, command_tag=tag, held_rows=rows,
                           held_schema=text_schema(columns))


@dataclass
class SparkPgEngine:
    """One engine instance == one client session.

    Mirrors the per-connection state of the reference
    (``datafusion-postgres/src/client.rs:4-52``): session vars, transaction
    state, cursors — but executes through Spark SQL after the Postgres →
    Spark dialect transpile.
    """

    spark: SparkSession
    session_vars: dict[str, str] = field(default_factory=dict)
    user: str = "postgres"

    # Wired lazily to avoid import cycles.
    def __post_init__(self):
        from datafusion_postgres_spark.dialect.transpiler import PostgresTranspiler
        from datafusion_postgres_spark.server.auth import AuthManager
        from datafusion_postgres_spark.server.session_state import SessionState
        from datafusion_postgres_spark.server.hooks import HookChain
        from datafusion_postgres_spark.catalog.pg_catalog import OidRegistry

        self.transpiler = PostgresTranspiler()
        self.state = SessionState()
        self.hooks = HookChain(self)
        self.auth = AuthManager()
        self.oids = OidRegistry()
        # the session's catalog views may predate its tables (a clone's
        # were built in the template), so the first catalog read refreshes
        self._catalog_dirty = True
        self._current_setting_stale = self._pg_settings_stale = False
        from datafusion_postgres_spark.functions import register_all
        register_all(self.spark)

    # -- file registration (main.rs:126-221 analog) ------------------------
    def register_file(self, name: str, path: str, fmt: str | None = None,
                      **options) -> None:
        from datafusion_postgres_spark.sources.registry import read_file
        df = read_file(self.spark, path, fmt, **options)
        df.createOrReplaceTempView(name)
        self._catalog_dirty = True

    def register_directory(self, path: str) -> list[str]:
        from datafusion_postgres_spark.sources.registry import register_directory
        names = register_directory(self.spark, path)
        self._catalog_dirty = True
        return names

    # -- query execution ---------------------------------------------------
    def execute(self, sql: str) -> list[ExecutionResult]:
        """Execute a (possibly multi-statement) Postgres-dialect SQL string:
        one tokenization splits it into statement records, each run by
        :meth:`_execute_one`."""
        return [self._execute_one(stmt)
                for stmt in self.transpiler.statements(sql)]

    def settings_changed(self) -> None:
        """After a GUC write: ``current_setting`` is re-registered before
        the next statement reaches Spark, ``pg_settings`` rebuilt on the
        next catalog read."""
        self._current_setting_stale = self._pg_settings_stale = True

    _EXPLAIN_ANALYZE_RE = re.compile(
        r"(?is)^\s*EXPLAIN\s+(?:\(\s*([^)]*?)\s*\)|ANALYZE\b"
        r"(?:\s+VERBOSE\b)?)\s*(.*)$")

    def _maybe_explain_analyze(self, stmt: Statement, args: dict | None):
        """Real ``EXPLAIN ANALYZE``: PG executes the statement and reports
        actual rows + timings; Spark's EXPLAIN never executes. For
        row-returning statements we run the inner query (full execution),
        then emit the formatted plan PLUS PG-style ``Planning Time`` /
        ``Execution Time`` / ``Actual Rows`` trailer lines, one QUERY
        PLAN row per line (PG's row-per-line shape). Per-operator actual
        rows stay a documented capability gate (Spark surfaces node
        metrics only through the UI event log). DML under ANALYZE falls
        through to the plain EXPLAIN path (we don't execute side effects
        twice)."""
        import time
        m = self._EXPLAIN_ANALYZE_RE.match(stmt.text)
        if not m:
            return None
        opts = m.group(1)
        if opts is not None and not re.search(r"(?i)\bANALYZE\b(?!\s*\bfalse\b|\s+off\b)", opts):
            return None
        inner = self.transpiler.parse(m.group(2).strip().rstrip(";"))
        if not inner.props.rows:
            return None
        t0 = time.perf_counter()
        df = self._query(inner, args)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        t1 = time.perf_counter()
        # Full execution through THIS DataFrame's QueryExecution (like
        # PG, which runs the statement and discards the tuples) so the
        # executed plan carries populated SQLMetrics — the per-operator
        # actuals DataFusion prints from its metrics tree. The Arrow
        # batches are counted and dropped: the driver holds one partition
        # at a time and builds no row objects, so a large-result statement
        # can't OOM it the way a collect() would.
        n = sum(batch.num_rows for batch in arrow_batches(df))
        t2 = time.perf_counter()
        lines = plan.rstrip("\n").split("\n")
        from datafusion_postgres_spark.plans.inspect import executed_nodes
        actuals = []
        for node in executed_nodes(df):
            ms = node["metrics"]
            mt = node.get("metric_types", {})
            parts = []
            if "numOutputRows" in ms:
                parts.append(f"actual rows={ms['numOutputRows']}")
            if "shuffleRecordsWritten" in ms:
                parts.append(
                    f"shuffle records={ms['shuffleRecordsWritten']}")
            # per-operator elapsed (DataFusion prints these): timing
            # metrics are ms, nsTiming ns; zeros omitted
            for key, val in ms.items():
                t = mt.get(key)
                if t not in ("timing", "nsTiming") or val <= 0:
                    continue
                if t == "nsTiming":
                    parts.append(f"{key}={val / 1e6:.3f} ms")
                else:
                    parts.append(f"{key}={val} ms")
            if parts:
                actuals.append(f"  {node['node']}: {', '.join(parts)}")
        if actuals:
            lines += ["Per-Operator Actuals:"] + actuals
        lines += [f"Planning Time: {(t1 - t0) * 1000:.3f} ms",
                  f"Execution Time: {(t2 - t1) * 1000:.3f} ms",
                  f"Actual Rows: {n}"]
        return text_result(["QUERY PLAN"], [(line,) for line in lines],
                           "EXPLAIN")

    def _sql(self, stmt: Statement, args: dict | None) -> DataFrame:
        """``spark.sql`` of the record, transpiled once per record, with
        ``$n`` bound as named parameters when the statement came through
        Bind (values never spliced into SQL)."""
        if stmt.spark_sql is None:
            sql = self.transpiler.transpile(stmt)
            if args is not None:
                # left as written: the record's tokens are this text's
                sql = to_named_params(stmt.tokens if sql == stmt.text
                                      else sql)
            stmt.spark_sql = sql
        if self._current_setting_stale:
            self._current_setting_stale = False
            from datafusion_postgres_spark.functions.registry import (
                refresh_current_setting)
            try:
                refresh_current_setting(self.spark, self.state.vars)
            except Exception:
                pass  # a GUC value must not fail an unrelated statement
        return self.spark.sql(stmt.spark_sql, args=args)

    def _query(self, stmt: str | Statement,
               args: dict | None = None) -> DataFrame:
        """The one planning path of every query, a statement or the inner
        query of COPY, DECLARE or EXPLAIN ANALYZE: TVF rewrite, RBAC, TVF
        materialization, catalog refresh, then Spark SQL.

        Each pipeline table-function call (`SELECT * FROM
        minhash_near_dups('documents', 0.5)`, functions/pipeline_tvf.py)
        becomes a temp view that the rewritten statement, a record of its
        own, reads, so the relational surface composes over operator
        output. The views materialize only after BOTH the rewrite's
        per-source check and the statement's own: eager builders
        (trained_quality runs a full training job) must not run for a
        denied statement."""
        stmt, pending = self.transpiler.parse(stmt), []
        if stmt.props.tvf:
            from datafusion_postgres_spark.functions.pipeline_tvf import (
                materialize_pipeline_tvfs, rewrite_pipeline_tvfs,
            )
            rewritten, pending = rewrite_pipeline_tvfs(
                self.spark, stmt, check_table=lambda name:
                self.auth.check_table(self.user, "SELECT", name))
            if rewritten is not None:
                stmt = self.transpiler.parse(rewritten)
        self._check_permissions(
            stmt, tvf_views={view for view, _, _ in pending})
        if pending:
            materialize_pipeline_tvfs(self.spark, pending)
        self._maybe_refresh_catalog(stmt)
        return self._sql(stmt, args)

    def _execute_one(self, stmt: str | Statement,
                     args: dict | None = None) -> ExecutionResult:
        """The one statement lifecycle of both wire protocols. Every step
        reads the statement's record (parsed here if given text), never
        re-tokenizing: the failed-transaction guard, hooks, EXPLAIN
        ANALYZE, :meth:`_query`, the tag. ``args`` holds the decoded
        ``$n`` values of a parameterized Execute; the hooks answer only
        unparameterized statements."""
        stmt = self.transpiler.parse(stmt)
        if self.state.in_failed_transaction() and not stmt.props.txn:
            raise FailedTransactionError(
                "current transaction is aborted, commands ignored until "
                "end of transaction block")  # error code 25P01
        if args is None:
            hooked = self.hooks.try_handle(stmt)
            if hooked is not None:
                return hooked
        kind, props = stmt.kind, stmt.props
        try:
            analyzed = self._maybe_explain_analyze(stmt, args)
            if analyzed is not None:
                return analyzed
            df = self._query(stmt, args)
        except Exception:
            self.state.statement_failed()
            raise
        if props.ddl:
            self._catalog_dirty = True
        if props.dml:
            # DML returns no rows; surface the affected count in the tag
            # like the reference ("INSERT 0 n", handlers.rs:354-376)
            n = _dml_row_count(df)
            tag = f"{kind} {n}" if kind != "INSERT" else f"INSERT 0 {n}"
            return ExecutionResult(df=None, command_tag=tag, rows_affected=n)
        if kind == "COMMENT":
            # Spark applies COMMENT ON TABLE natively; only the tag differs
            return ExecutionResult(df=None, command_tag="COMMENT")
        if kind == "EXPLAIN" and df.columns == ["plan"]:
            # PG clients expect the QUERY PLAN column name
            df = df.withColumnRenamed("plan", "QUERY PLAN")
            return ExecutionResult(df=df, command_tag="EXPLAIN")
        if props.ddl:
            m = re.match(
                r"(?is)^\s*(?:CREATE|DROP|ALTER)\s+(?:OR\s+REPLACE\s+)?"
                r"(?:TEMP(?:ORARY)?\s+)?(?:MATERIALIZED\s+)?"
                r"(SCHEMA|VIEW|DATABASE|SEQUENCE|FUNCTION|TYPE)\b", stmt.text)
            obj = m.group(1).upper() if m else "TABLE"
            return ExecutionResult(df=None, command_tag=f"{kind} {obj}")
        return ExecutionResult(df=df)

    def copy_into(self, table: str, columns: list[str] | None, data: bytes,
                  fmt: str = "text", delimiter: str | None = None,
                  null_marker: str | None = None,
                  header: bool = False) -> int:
        """COPY FROM STDIN ingestion: parse the accumulated CopyData
        payload and append to ``table`` through the normal INSERT path
        (so Spark's own analysis enforces types and table writability).

        Columns not named in the column list are filled with NULL, and the
        text fields are cast to the target column types — both per the
        public PostgreSQL COPY semantics."""
        from pyspark.sql import functions as F, types as T
        from datafusion_postgres_spark.server.copy_data import (
            CopyDataError, parse_copy_binary, parse_copy_payload)

        target = self.spark.table(table)
        tgt_fields = target.schema.fields
        if columns:
            by_lower = {f.name.lower(): f for f in tgt_fields}
            try:
                fields = [by_lower[c.lower()] for c in columns]
            except KeyError as e:
                raise CopyDataError(
                    f'column {e.args[0]} of relation "{table}" does not '
                    "exist") from None
        else:
            fields = list(tgt_fields)
        if fmt == "binary":
            # typed rows straight from the wire decoders — no string stage
            rows = parse_copy_binary(data, [f.dataType for f in fields])
            staged_types = [f.dataType for f in fields]
        else:
            rows = parse_copy_payload(data, len(fields), fmt, delimiter,
                                      null_marker, header)
            staged_types = [T.StringType()] * len(fields)
        staged = local_relation(self.spark, T.StructType(
            [T.StructField(f.name, t) for f, t in zip(fields, staged_types)]),
            rows)
        named = {f.name for f in fields}
        proj = [(F.col(f.name).cast(f.dataType) if f.name in named
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in tgt_fields]
        view = "__copy_in_buffer__"
        staged.select(*proj).createOrReplaceTempView(view)
        try:
            res = self.spark.sql(
                f"INSERT INTO {table} SELECT * FROM {view}")
        finally:
            self.spark.catalog.dropTempView(view)
        n = _dml_row_count(res)
        return n if n else len(rows)

    def _check_permissions(self, stmt: str | Statement,
                           tvf_views: set[str] | None = None) -> None:
        """Per-statement RBAC (hooks/permissions.rs:44-92): the kind's
        required permission, checked against every referenced table.
        Superuser (the default 'postgres' user) bypasses.

        Fail-closed rule: a kind needing more than a read whose target
        table the tokenizer could not extract is denied for
        non-superusers — a permissive default there would let exotic
        spellings bypass grants. Table-less SELECTs stay allowed."""
        from datafusion_postgres_spark.server.auth import PermissionDenied

        stmt = self.transpiler.parse(stmt)
        if not stmt.tables:
            if stmt.props.permission not in (None, "select"):
                user = self.auth.users.get(self.user)
                if user is None or not user.superuser:
                    raise PermissionDenied(
                        f"permission denied for user {self.user}: cannot "
                        f"resolve target table of {stmt.kind} statement")
            return
        for tbl in stmt.tables:
            # Engine-synthesized pipeline TVF views OF THIS STATEMENT:
            # already authorized per SOURCE table via the rewrite's
            # check_table hook; no user grant can name a one-off
            # __tvf_<sha> view, so checking it would deny the feature to
            # every table-granted user. Exempting by EXACT pending-view
            # name (never by prefix): a user-created table that merely
            # starts with __tvf_ stays fully RBAC-checked — a prefix
            # trust would be a fail-open hole for DDL/DML on such names.
            if not (tvf_views and tbl.split(".")[-1] in tvf_views):
                self.auth.check_table(self.user, stmt.kind, tbl)

    def _maybe_refresh_catalog(self, stmt: Statement) -> None:
        """Rebuild the dynamic pg_catalog views lazily: only when DDL
        happened (or, for pg_settings alone, a GUC changed) since the last
        build AND the statement touches catalog tables. (The reference
        recomputes on every scan, pg_class.rs:84 — the dirty flag is our
        many-tables-scale improvement.)"""
        if not (self._catalog_dirty or self._pg_settings_stale):
            return
        low = stmt.text.lower()
        if "pg_" in low or "information_schema" in low or "regclass" in low:
            from datafusion_postgres_spark.catalog.pg_catalog import (
                refresh, refresh_settings)
            if self._catalog_dirty:
                refresh(self.spark, self.oids, self.state.vars)
            else:
                refresh_settings(self.spark, self.state.vars)
            self._catalog_dirty = self._pg_settings_stale = False


class FailedTransactionError(RuntimeError):
    sqlstate = "25P01"


def _dml_row_count(df: DataFrame) -> int:
    """Affected-row count from the executed command's metrics (Spark's
    InsertInto* commands expose numOutputRows; DataFusion surfaces an
    explicit count column — handlers.rs:354-376)."""
    try:
        plan = df._jdf.queryExecution().executedPlan()
        # CommandResultExec wraps the real write command; its own
        # numOutputRows counts result rows (0 for DML) — read the child's.
        if plan.getClass().getSimpleName() == "CommandResultExec":
            plan = plan.commandPhysicalPlan()
        metrics = plan.metrics()
        for key in ("numOutputRows", "numInsertedRows", "numAffectedRows"):
            if metrics.contains(key):
                return int(metrics.apply(key).value())
    except Exception:
        pass
    return 0
