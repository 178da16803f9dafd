"""Session-feature tests — SET/SHOW, transactions, cursors, catalog.

Models the reference's hook tests (hooks/set_show.rs:368-625,
handlers.rs:711-927 cursor lifecycle, transactions.rs)."""

import pytest

from datafusion_postgres_spark.server.hooks import CursorError
from datafusion_postgres_spark.session import FailedTransactionError


def one_row(results):
    return list(results[0].rows())


class TestSetShow:
    def test_set_and_show(self, engine):
        assert engine.execute("SET statement_timeout = '2s'")[0].command_tag == "SET"
        assert one_row(engine.execute("SHOW statement_timeout"))[0][0] == "2s"
        assert engine.state.statement_timeout_secs() == 2.0

    def test_set_timezone_variants(self, engine):
        engine.execute("SET TIME ZONE 'UTC'")
        assert one_row(engine.execute("SHOW TimeZone"))[0][0] == "UTC"
        engine.execute("SET timezone = 'America/New_York'")
        assert engine.spark.conf.get("spark.sql.session.timeZone") == \
            "America/New_York"
        engine.execute("SET TIME ZONE 'UTC'")

    def test_unknown_set_acks(self, engine):
        assert engine.execute("SET whatever.var = 42")[0].command_tag == "SET"

    def test_show_unknown_returns_row(self, engine):
        rows = one_row(engine.execute("SHOW some_unknown_thing"))
        assert len(rows) == 1

    def test_show_server_version(self, engine):
        assert "15.0" in one_row(engine.execute("SHOW server_version"))[0][0]

    def test_set_config_statement(self, engine):
        rows = one_row(engine.execute(
            "SELECT set_config('application_name', 'myapp', false)"))
        assert rows[0][0] == "myapp"
        assert one_row(engine.execute("SHOW application_name"))[0][0] == \
            "myapp"
        # current_setting sees the set_config write
        assert one_row(engine.execute(
            "SELECT current_setting('application_name')"))[0][0] == "myapp"

    def test_set_config_embedded_is_read_only(self, engine):
        rows = one_row(engine.execute(
            "SELECT set_config('application_name', 'other', false) AS a, "
            "1 AS b"))
        assert rows[0][0] == "other"  # returns the value...
        # ...but embedded form has no side effect (documented fallback)

    def test_pg_settings_reflects_set(self, engine):
        engine.execute("SET statement_timeout = '7s'")
        rows = one_row(engine.execute(
            "SELECT setting, source FROM pg_settings "
            "WHERE name = 'statement_timeout'"))
        assert rows[0][0] == "7s" and rows[0][1] == "session"
        engine.execute("RESET statement_timeout")


class TestTransactions:
    def test_begin_commit(self, engine):
        tags = [r.command_tag for r in engine.execute("BEGIN; SELECT 1; COMMIT")]
        assert tags == ["BEGIN", "SELECT", "COMMIT"]

    def test_failed_txn_blocks_until_rollback(self, engine):
        engine.execute("BEGIN")
        with pytest.raises(Exception):
            engine.execute("SELECT * FROM no_such_table_xyz")
        with pytest.raises(FailedTransactionError):
            engine.execute("SELECT 1")
        assert engine.execute("ROLLBACK")[0].command_tag == "ROLLBACK"
        assert one_row(engine.execute("SELECT 1 AS x"))[0][0] == 1

    def test_commit_in_error_state_answers_rollback(self, engine):
        engine.execute("BEGIN")
        with pytest.raises(Exception):
            engine.execute("SELECT * FROM no_such_table_xyz")
        assert engine.execute("COMMIT")[0].command_tag == "ROLLBACK"

    def test_abort_is_rollback(self, engine):
        engine.execute("BEGIN")
        assert engine.execute("ABORT")[0].command_tag == "ROLLBACK"


class TestCursors:
    def test_lifecycle(self, engine):
        engine.execute(
            "DECLARE cur1 CURSOR FOR SELECT n_nationkey FROM nation ORDER BY 1")
        rows = one_row(engine.execute("FETCH 5 FROM cur1"))
        assert [r[0] for r in rows] == [0, 1, 2, 3, 4]
        rows = one_row(engine.execute("FETCH NEXT FROM cur1"))
        assert rows[0][0] == 5
        rest = one_row(engine.execute("FETCH ALL FROM cur1"))
        assert len(rest) == 19
        engine.execute("CLOSE cur1")
        with pytest.raises(CursorError) as e:
            engine.execute("FETCH 1 FROM cur1")
        assert e.value.sqlstate == "34000"

    def test_backward_rejected(self, engine):
        engine.execute("DECLARE cur2 CURSOR FOR SELECT 1")
        with pytest.raises(CursorError) as e:
            engine.execute("FETCH PRIOR FROM cur2")
        assert e.value.sqlstate == "42000"
        engine.execute("CLOSE ALL")


class TestCatalog:
    def test_pg_class_lists_registered_tables(self, engine):
        rows = one_row(engine.execute(
            "SELECT relname FROM pg_catalog.pg_class ORDER BY relname"))
        names = [r[0] for r in rows]
        assert "nation" in names and "orders" in names

    def test_regclass_resolution(self, engine):
        rows = one_row(engine.execute("SELECT 'nation'::regclass AS o"))
        assert rows[0][0] >= 16384

    def test_pg_attribute_join(self, engine):
        rows = one_row(engine.execute("""
            SELECT a.attname FROM pg_catalog.pg_attribute a
            WHERE a.attrelid = 'nation'::regclass AND a.attnum > 0
            ORDER BY a.attnum"""))
        assert [r[0] for r in rows] == ["n_nationkey", "n_name", "n_regionkey"]

    def test_information_schema_columns(self, engine):
        rows = one_row(engine.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = 'region' ORDER BY ordinal_position"))
        assert [r[0] for r in rows] == ["r_regionkey", "r_name"]

    def test_pg_type_contains_core_types(self, engine):
        rows = one_row(engine.execute(
            "SELECT typname FROM pg_catalog.pg_type "
            "WHERE typname IN ('bool','int4','text','float8','date') "
            "ORDER BY typname"))
        assert [r[0] for r in rows] == ["bool", "date", "float8", "int4", "text"]

    def test_format_type_names_every_array_type(self, engine):
        from datafusion_postgres_spark.catalog.pg_catalog import _PG_TYPES
        pairs = [(oid, arr) for _n, oid, _l, cat, _e, arr in _PG_TYPES
                 if cat != "A" and arr]
        (row,) = one_row(engine.execute("SELECT " + ", ".join(
            f"format_type({oid}, NULL), format_type({arr}, NULL)"
            for oid, arr in pairs)))
        for i in range(0, len(row), 2):
            assert row[i] != "???"
            assert row[i + 1] == row[i] + "[]"

    def test_format_type_of_array_columns(self, engine):
        # psql \d of a table with array columns
        engine.execute("CREATE OR REPLACE TEMP VIEW zz_arr_cols AS "
                       "SELECT ARRAY[1, 2] AS ints, ARRAY['a'] AS strs")
        rows = one_row(engine.execute("""
            SELECT a.attname,
                   pg_catalog.format_type(a.atttypid, a.atttypmod)
            FROM pg_catalog.pg_attribute a
            WHERE a.attrelid = 'zz_arr_cols'::regclass AND a.attnum > 0
              AND NOT a.attisdropped
            ORDER BY a.attnum"""))
        assert [tuple(r) for r in rows] == [("ints", "integer[]"),
                                            ("strs", "text[]")]

    def test_pg_get_keywords(self, engine):
        rows = one_row(engine.execute("SELECT count(*) FROM pg_get_keywords()"))
        assert rows[0][0] > 50

    def test_pg_proc_df_query(self, engine):
        """psql \\df shape: pg_proc join pg_namespace with the
        pg_get_function_* helpers resolving from the live registry."""
        rows = one_row(engine.execute("""
            SELECT p.proname, pg_get_function_result(p.oid),
                   pg_get_function_arguments(p.oid), p.provolatile
            FROM pg_catalog.pg_proc p
            JOIN pg_catalog.pg_namespace n ON n.oid = p.pronamespace
            WHERE p.proname = 'atan2d'"""))
        assert rows[0][0] == "atan2d"
        assert rows[0][1] == "double precision"
        assert rows[0][2] == "y double precision, x double precision"
        assert rows[0][3] == "i"

    def test_pg_proc_udtf_setof(self, engine):
        rows = one_row(engine.execute(
            "SELECT proretset, pg_get_function_result(oid) "
            "FROM pg_catalog.pg_proc WHERE proname = 'pg_generate_series'"))
        assert rows[0][0] is True
        assert rows[0][1] == "SETOF bigint"

    def test_pg_get_functiondef(self, engine):
        rows = one_row(engine.execute(
            "SELECT pg_get_functiondef(oid) FROM pg_catalog.pg_proc "
            "WHERE proname = 'sind'"))
        assert "CREATE OR REPLACE FUNCTION pg_catalog.sind" in rows[0][0]
        assert "sin(radians(x))" in rows[0][0]


class TestFunctions:
    def test_math_functions(self, engine):
        rows = one_row(engine.execute(
            "SELECT sind(30.0), cosd(60.0), width_bucket(5.35, 0.024, 10.06, 5)"))
        assert abs(rows[0][0] - 0.5) < 1e-12
        assert abs(rows[0][1] - 0.5) < 1e-12
        assert rows[0][2] == 3

    def test_special_math_pandas_udfs(self, engine):
        rows = one_row(engine.execute(
            "SELECT erf(1.0) AS a, erfc(1.0) AS b, gamma(5.0) AS c, "
            "lgamma(5.0) AS d"))
        a, b, c, d = rows[0]
        assert abs(a - 0.8427007929497149) < 1e-12
        assert abs(a + b - 1.0) < 1e-12
        assert abs(c - 24.0) < 1e-9

    def test_quote_ident(self, engine):
        rows = one_row(engine.execute(
            """SELECT quote_ident('simple'), quote_ident('Needs Quotes')"""))
        assert tuple(rows[0]) == ("simple", '"Needs Quotes"')

    def test_div_mod_null_on_zero(self, engine):
        rows = one_row(engine.execute(
            "SELECT pg_div(7, 0) AS a, pg_mod(7, 0) AS b, pg_div(7, 2) AS c"))
        assert tuple(rows[0]) == (None, None, 3)


class TestDml:
    """CREATE TABLE / CTAS / INSERT / DROP through the engine
    (handlers.rs:220-222,354-376 INSERT tag; test_csv.py CTAS)."""

    def test_ctas_insert_drop(self, engine, tmp_path):
        engine.execute("DROP TABLE IF EXISTS t_dml")
        res = engine.execute(
            "CREATE TABLE t_dml AS SELECT n_nationkey AS k, n_name AS v "
            "FROM nation WHERE n_nationkey < 5")
        assert res[0].command_tag == "CREATE TABLE"
        rows = list(engine.execute("SELECT count(*) FROM t_dml")[0].rows())
        assert rows[0][0] == 5
        ins = engine.execute("INSERT INTO t_dml VALUES (100, 'NEW')")[0]
        assert ins.command_tag.startswith("INSERT 0")
        assert ins.rows_affected == 1
        rows = list(engine.execute(
            "SELECT v FROM t_dml WHERE k = 100")[0].rows())
        assert rows[0][0] == "NEW"
        # CTAS table appears in pg_class after refresh
        rows = list(engine.execute(
            "SELECT count(*) FROM pg_class WHERE relname = 't_dml'")[0].rows())
        assert rows[0][0] == 1
        engine.execute("DROP TABLE t_dml")

    def test_insert_select_count(self, engine):
        engine.execute("DROP TABLE IF EXISTS t_dml2")
        engine.execute("CREATE TABLE t_dml2 (k INT, v STRING)")
        ins = engine.execute(
            "INSERT INTO t_dml2 SELECT n_nationkey, n_name FROM nation")[0]
        assert ins.rows_affected == 25
        engine.execute("DROP TABLE t_dml2")


class TestResetShowAll:
    def test_show_all(self, engine):
        rows = list(engine.execute("SHOW ALL")[0].rows())
        names = {r[0] for r in rows}
        assert {"timezone", "search_path", "server_version"} <= names

    def test_reset(self, engine):
        engine.execute("SET statement_timeout = '9s'")
        engine.execute("RESET statement_timeout")
        rows = list(engine.execute("SHOW statement_timeout")[0].rows())
        assert rows[0][0] == "0"

    def test_reset_all(self, engine):
        engine.execute("SET application_name = 'xyz'")
        engine.execute("RESET ALL")
        rows = list(engine.execute("SHOW application_name")[0].rows())
        assert rows[0][0] == ""

    def test_discard(self, engine):
        engine.execute("DECLARE dcur CURSOR FOR SELECT 1")
        engine.execute("DISCARD ALL")
        assert not engine.state.cursors


class TestDdlSurface:
    """ORM/pg_restore DDL statements: index no-ops, bare TRUNCATE,
    object-correct command tags."""

    def test_index_ddl_noops(self, engine):
        engine.execute("CREATE TABLE ddl_t (a INT)")
        assert engine.execute(
            "CREATE INDEX ddl_i ON ddl_t (a)")[0].command_tag == \
            "CREATE INDEX"
        assert engine.execute(
            "CREATE UNIQUE INDEX ddl_u ON ddl_t (a)")[0].command_tag == \
            "CREATE INDEX"
        assert engine.execute("DROP INDEX ddl_i")[0].command_tag == \
            "DROP INDEX"
        assert engine.execute(
            "REINDEX TABLE ddl_t")[0].command_tag == "REINDEX"
        assert engine.execute("CLUSTER ddl_t")[0].command_tag == "CLUSTER"
        engine.execute("DROP TABLE ddl_t")

    def test_truncate_forms(self, engine):
        engine.execute("CREATE TABLE ddl_tr (a INT)")
        for form in ("TRUNCATE ddl_tr", "TRUNCATE ONLY ddl_tr",
                     "TRUNCATE TABLE ONLY ddl_tr"):
            assert engine.execute(form)[0].command_tag == "TRUNCATE TABLE"
        engine.execute("DROP TABLE ddl_tr")

    def test_object_tags(self, engine):
        assert engine.execute(
            "CREATE SCHEMA ddl_s")[0].command_tag == "CREATE SCHEMA"
        assert engine.execute(
            "CREATE VIEW ddl_v AS SELECT 1 AS x")[0].command_tag == \
            "CREATE VIEW"
        assert engine.execute("DROP VIEW ddl_v")[0].command_tag == \
            "DROP VIEW"
        assert engine.execute("DROP SCHEMA ddl_s")[0].command_tag == \
            "DROP SCHEMA"

    @pytest.mark.parametrize("ddl,want", [
        ("(k BIGINT, v TEXT, x DOUBLE PRECISION)",
         [("k", "bigint", False), ("v", "text", False),
          ("x", "double precision", False)]),
        ("(k int8, v varchar(10), x float8)",
         [("k", "bigint", False), ("v", "text", False),
          ("x", "double precision", False)]),
        ("(a int4, b text, c bool, d timestamptz, e int2, f float4, "
         "g numeric(10,2), h bytea)",
         [("a", "integer", False), ("b", "text", False),
          ("c", "boolean", False), ("d", "timestamp with time zone", False),
          ("e", "smallint", False), ("f", "real", False),
          ("g", "numeric", False), ("h", "bytea", False)]),
        # pgbench -i (Spark's file-source tables drop NOT NULL)
        ("(aid int4 not null, bid int4, abalance int4, filler char(84))",
         [("aid", "integer", False), ("bid", "integer", False),
          ("abalance", "integer", False), ("filler", "text", False)]),
    ])
    def test_pg_type_names_in_create_table(self, engine, ddl, want):
        engine.execute(f"CREATE TABLE ddl_pgtypes {ddl}")
        try:
            rows = one_row(engine.execute("""
                SELECT a.attname,
                       pg_catalog.format_type(a.atttypid, a.atttypmod),
                       a.attnotnull
                FROM pg_catalog.pg_attribute a
                WHERE a.attrelid = 'ddl_pgtypes'::regclass AND a.attnum > 0
                  AND NOT a.attisdropped
                ORDER BY a.attnum"""))
            assert [tuple(r) for r in rows] == want
        finally:
            engine.execute("DROP TABLE ddl_pgtypes")

    def test_comment_on(self, engine):
        engine.execute("CREATE TABLE ddl_c (a INT)")
        assert engine.execute(
            "COMMENT ON TABLE ddl_c IS 'hello'")[0].command_tag == \
            "COMMENT"
        engine.execute("DROP TABLE ddl_c")


class TestCatalogViews:
    """Every catalog view is an Arrow-backed local relation, and the
    column record that pg_class / pg_attribute list the catalog from
    matches the live views."""

    @staticmethod
    def _views(spark, engine):
        engine.execute("CREATE OR REPLACE TEMP VIEW zz_cat_views AS "
                       "SELECT 1 AS x")  # DDL: the next catalog read refreshes
        engine.execute("SELECT count(*) FROM pg_catalog.pg_class")
        return sorted(t.name for t in spark.catalog.listTables()
                      if t.name.startswith(("pg_catalog_",
                                            "information_schema_")))

    def test_no_catalog_view_is_an_rdd_scan(self, spark, engine):
        views = self._views(spark, engine)
        assert len(views) > 90
        rdd = [v for v in views if "ExistingRDD" in spark.table(v)._jdf
               .queryExecution().executedPlan().toString()]
        assert rdd == []

    def test_self_row_record_matches_live_views(self, spark, engine):
        from datafusion_postgres_spark.catalog.pg_catalog import (
            CATALOG_COLUMNS)
        for view in self._views(spark, engine):
            live = [(c.name, c.dataType, c.nullable)
                    for c in spark.catalog.listColumns(view)]
            assert CATALOG_COLUMNS[view] == live, view
        # pg_attribute lists pg_class's own columns from the record
        rows = one_row(engine.execute(
            "SELECT attname FROM pg_catalog.pg_attribute "
            "WHERE attrelid = 'pg_class'::regclass ORDER BY attnum"))
        assert [r[0] for r in rows] == [
            c for c, _t, _n in CATALOG_COLUMNS["pg_catalog_pg_class"]]

    def test_refresh_starts_no_spark_job(self, spark, engine):
        from datafusion_postgres_spark.catalog.pg_catalog import refresh
        engine.execute("CREATE TABLE zz_refresh_jobs (k int4, v text)")
        try:
            engine.execute("SELECT count(*) FROM pg_catalog.pg_class")
            dag = spark._jsc.sc().dagScheduler()
            before = dag.nextJobId()
            refresh(spark, engine.oids, engine.state.vars)
            assert dag.nextJobId() - before == 0
            names = {r[0] for r in one_row(engine.execute(
                "SELECT relname FROM pg_catalog.pg_class"))}
            assert {"zz_refresh_jobs", "nation", "region", "orders",
                    "pg_class"} <= names
            assert not any(n.startswith(("pg_catalog_",
                                         "information_schema_"))
                           for n in names)
        finally:
            engine.execute("DROP TABLE zz_refresh_jobs")


class TestCatalogSchemaParity:
    """Every catalog table the reference ships resolves with (at least)
    the stock PostgreSQL column set (catalog/schema_ref.py)."""

    def test_column_set_parity(self, spark, engine):
        from datafusion_postgres_spark.catalog.schema_ref import (
            PG_CATALOG_REF_SCHEMAS)
        # engine init bootstraps the catalog; a pg_ statement triggers the
        # dirty-flag refresh so dynamic tables exist too
        engine.execute("SELECT count(*) FROM pg_catalog.pg_class")
        missing = {}
        for tbl, cols in PG_CATALOG_REF_SCHEMAS.items():
            ours = {c.lower() for c in spark.table(f"pg_catalog_{tbl}").columns}
            gap = [c for c, _t in cols if c.lower() not in ours]
            if gap:
                missing[tbl] = gap
        assert not missing, f"column gaps vs reference: {missing}"

    def test_long_tail_tables_queryable(self, engine):
        # unmodeled catalogs must resolve and answer (empty is truthful)
        for tbl in ("pg_shdepend", "pg_statistic", "pg_db_role_setting"):
            rows = one_row(engine.execute(
                f"SELECT count(*) AS n FROM pg_catalog.{tbl}"))
            assert rows[0][0] == 0
        # round 4: opclass/amop/operator carry modeled btree+hash content
        for tbl in ("pg_amop", "pg_opclass", "pg_opfamily", "pg_amproc",
                    "pg_operator"):
            rows = one_row(engine.execute(
                f"SELECT count(*) AS n FROM pg_catalog.{tbl}"))
            assert rows[0][0] > 0, f"{tbl} should have content now"


class TestExplain:
    def test_explain_query_plan_column(self, engine):
        res = engine.execute("EXPLAIN SELECT * FROM nation")[0]
        assert res.df.columns == ["QUERY PLAN"]
        assert res.command_tag == "EXPLAIN"
        plan = list(res.rows())[0][0]
        assert "FileScan" in plan or "Scan" in plan

    def test_explain_analyze_executes(self, engine):
        res = engine.execute(
            "EXPLAIN ANALYZE SELECT count(*) AS n FROM nation "
            "WHERE n_nationkey < 7")[0]
        assert res.schema.names == ["QUERY PLAN"]
        lines = [r[0] for r in res.rows()]
        assert len(lines) > 3                      # PG row-per-line shape
        assert lines[-1] == "Actual Rows: 1"       # it really executed
        assert lines[-2].startswith("Execution Time: ")
        assert lines[-3].startswith("Planning Time: ")

    def test_explain_analyze_option_list(self, engine):
        res = engine.execute(
            "EXPLAIN (ANALYZE, BUFFERS) SELECT n_name FROM nation "
            "WHERE n_nationkey < 5")[0]
        lines = [r[0] for r in res.rows()]
        assert lines[-1] == "Actual Rows: 5"

    def test_explain_analyze_per_operator_actuals(self, engine):
        # DataFusion parity: per-node actual row counts from the executed
        # plan's SQLMetrics (handlers.rs EXPLAIN ANALYZE metric output)
        res = engine.execute(
            "EXPLAIN ANALYZE SELECT r.r_name, count(*) AS n "
            "FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey "
            "GROUP BY r.r_name")[0]
        lines = [r[0] for r in res.rows()]
        assert "Per-Operator Actuals:" in lines
        start = lines.index("Per-Operator Actuals:")
        section = lines[start + 1:len(lines) - 3]   # before timing trailer
        assert any("actual rows=" in ln for ln in section)
        # the join node itself reports its actual output rows (25 nations)
        join_lines = [ln for ln in section if "Join" in ln]
        assert join_lines and any("actual rows=25" in ln
                                  for ln in join_lines)
        # scans report too
        assert any("Scan" in ln and "actual rows=" in ln
                   for ln in section)
        # per-operator elapsed (DataFusion metric parity): at least one
        # node reports a timing metric in ms
        assert any(" ms" in ln for ln in section)

    def test_explain_verbose_does_not_execute(self, engine):
        # no ANALYZE in the option list -> plain Spark EXPLAIN path
        res = engine.execute("EXPLAIN (VERBOSE) SELECT * FROM nation")[0]
        lines = [r[0] for r in res.rows()]
        assert not any(line.startswith("Actual Rows") for line in lines)


class TestShufflePartitionDerivation:
    """Round-10: the shuffle-partition ceiling derives from
    SPARK_GRAFT_CPUS instead of a constant tuned for local[32] —
    scale-adaptive upward, byte-identical at and below the historical
    bench points (guide §2.2)."""

    def test_floor_at_32_for_bench_core_counts(self):
        from datafusion_postgres_spark.session import (
            default_shuffle_partitions,
        )
        # the driver benches at 32 and at lower core counts: both must
        # keep the exact partitioning every BENCH_r01..r10 ran with
        assert default_shuffle_partitions("32") == "32"
        assert default_shuffle_partitions("8") == "32"
        assert default_shuffle_partitions("1") == "32"

    def test_scales_with_larger_clusters(self):
        from datafusion_postgres_spark.session import (
            default_shuffle_partitions,
        )
        assert default_shuffle_partitions("128") == "128"
        assert default_shuffle_partitions("64") == "64"

    def test_garbage_falls_back_to_32(self):
        from datafusion_postgres_spark.session import (
            default_shuffle_partitions,
        )
        assert default_shuffle_partitions("not-a-number") == "32"

    def test_extra_conf_still_wins(self):
        # conftest builds the suite session with an explicit override of
        # 8 through extra_conf; the derived default must not mask it
        from pyspark.sql import SparkSession
        active = SparkSession.getActiveSession()
        if active is not None:
            assert active.conf.get("spark.sql.shuffle.partitions") == "8"


class TestMaxPartitionBytesDerivation:
    """Round-11: the scan-split size derives from SPARK_GRAFT_CPUS like
    the shuffle-partition ceiling (guide §6) — 16m only at the local
    bench profile (<= 32 cores, the exact value every historical bench
    ran with), the 128m Spark default on larger deployments, where 16m
    splits over a 100 TB table would schedule millions of scan tasks."""

    def test_16m_at_bench_core_counts(self):
        from datafusion_postgres_spark.session import (
            default_max_partition_bytes,
        )
        assert default_max_partition_bytes("32") == "16m"
        assert default_max_partition_bytes("8") == "16m"
        assert default_max_partition_bytes("1") == "16m"

    def test_128m_on_larger_clusters(self):
        from datafusion_postgres_spark.session import (
            default_max_partition_bytes,
        )
        assert default_max_partition_bytes("64") == "128m"
        assert default_max_partition_bytes("128") == "128m"

    def test_garbage_falls_back_to_local_profile(self):
        from datafusion_postgres_spark.session import (
            default_max_partition_bytes,
        )
        assert default_max_partition_bytes("not-a-number") == "16m"

    def test_session_carries_derived_value(self):
        # the suite session is built at <= 32 advertised cores, so the
        # derived default must be the historical 16m (unless a test
        # override won — then this asserts the override path instead)
        from pyspark.sql import SparkSession
        active = SparkSession.getActiveSession()
        if active is not None:
            v = active.conf.get("spark.sql.files.maxPartitionBytes")
            assert v in ("16m", str(16 * 1024 * 1024))
