"""postgres_fdw TARGET replay: the query stream a real PostgreSQL with
postgres_fdw sends to the remote server it wraps.

The reference is exercised as an fdw target
(``tests-integration/test_fdw.py``: IMPORT FOREIGN SCHEMA + cursor
lifecycle over a foreign table); this suite replays the same protocol
conversation against our engine — the session options postgres_fdw's
``configure_remote_session`` sets, the IMPORT FOREIGN SCHEMA catalog
introspection, the REPEATABLE READ + DECLARE/FETCH/CLOSE remote-cursor
scan loop, and the deparsed (quoted, schema-qualified) pushdown SQL."""

import pytest


@pytest.fixture(scope="module")
def fdw_engine(spark):
    from datafusion_postgres_spark.session import SparkPgEngine
    eng = SparkPgEngine(spark)
    eng.register_file("nation", "/root/testdata/sf0.001/nation.parquet")
    eng.register_file("region", "/root/testdata/sf0.001/region.parquet")
    yield eng


def _rows(eng, sql):
    res = eng.execute(sql)[0]
    return list(res.rows()) if res.schema is not None else []


class TestConfigureRemoteSession:
    """postgres_fdw sets these on every new connection; any error aborts
    the foreign scan."""

    def test_session_options(self, fdw_engine):
        for sql in ("SET search_path = pg_catalog",
                    "SET timezone = 'UTC'",
                    "SET datestyle = ISO",
                    "SET intervalstyle = postgres",
                    "SET extra_float_digits = 3"):
            res = fdw_engine.execute(sql)[0]
            assert res.command_tag == "SET"

    def test_version_probe(self, fdw_engine):
        rows = _rows(fdw_engine, "SELECT version()")
        assert "PostgreSQL" in rows[0][0]

    def test_search_path_restored(self, fdw_engine):
        # regular table names must still resolve after the fdw session
        # pinned search_path to pg_catalog (our resolution is not
        # search_path-gated for registered tables, like the reference)
        fdw_engine.execute("SET search_path = public")


class TestImportForeignSchema:
    """The postgresImportForeignSchema introspection query (PG 16
    deparse shape): pg_class ⋈ pg_namespace ⋈ pg_attribute ⋈ pg_attrdef
    with format_type + pg_get_expr + collation joins."""

    IMPORT_SQL = """
        SELECT c.relname,
               a.attname,
               format_type(a.atttypid, a.atttypmod) AS ftype,
               a.attnotnull,
               pg_catalog.pg_get_expr(ad.adbin, ad.adrelid) AS fdefault,
               coll.collname,
               collnsp.nspname AS collnspname
        FROM pg_catalog.pg_class c
        JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid
        JOIN pg_catalog.pg_attribute a
          ON a.attrelid = c.oid AND a.attnum > 0 AND NOT a.attisdropped
        LEFT JOIN pg_catalog.pg_attrdef ad
          ON ad.adrelid = c.oid AND ad.adnum = a.attnum
        LEFT JOIN pg_catalog.pg_collation coll
          ON coll.oid = a.attcollation
        LEFT JOIN pg_catalog.pg_namespace collnsp
          ON collnsp.oid = coll.collnamespace
        WHERE c.relkind IN ('r','v','f','m','p')
          AND n.nspname = 'public'
          AND c.relname IN ('nation')
        ORDER BY c.relname, a.attnum"""

    def test_import_introspection(self, fdw_engine):
        rows = _rows(fdw_engine, self.IMPORT_SQL)
        cols = [(r[1], r[2]) for r in rows]
        assert cols == [("n_nationkey", "integer"),
                        ("n_name", "text"),
                        ("n_regionkey", "integer")]

    def test_import_without_limit_to(self, fdw_engine):
        sql = self.IMPORT_SQL.replace("AND c.relname IN ('nation')", "")
        rows = _rows(fdw_engine, sql)
        assert {r[0] for r in rows} >= {"nation", "region"}


class TestRemoteCursorScan:
    """The foreign-scan loop: REPEATABLE READ txn + DECLARE/FETCH/CLOSE
    (postgres_fdw fetches fetch_size=100 rows at a time)."""

    def test_cursor_lifecycle(self, fdw_engine):
        eng = fdw_engine
        assert eng.execute("START TRANSACTION ISOLATION LEVEL "
                           "REPEATABLE READ")[0].command_tag == "BEGIN"
        eng.execute("DECLARE c1 CURSOR FOR SELECT n_nationkey, n_name "
                    "FROM public.nation ORDER BY n_nationkey")
        first = eng.execute("FETCH 100 FROM c1")[0]
        rows = list(first.rows())
        assert first.command_tag == f"FETCH {len(rows)}"
        assert len(rows) == 25
        assert rows[0][0] == 0
        # drained cursor answers FETCH 0, not an error
        second = eng.execute("FETCH 100 FROM c1")[0]
        assert second.command_tag == "FETCH 0"
        assert eng.execute("CLOSE c1")[0].command_tag == "CLOSE CURSOR"
        assert eng.execute("COMMIT TRANSACTION")[0].command_tag == "COMMIT"

    def test_fetch_batches_resume(self, fdw_engine):
        eng = fdw_engine
        eng.execute("BEGIN")
        eng.execute("DECLARE c2 CURSOR FOR SELECT n_nationkey "
                    "FROM public.nation ORDER BY n_nationkey")
        a = [r[0] for r in eng.execute("FETCH 10 FROM c2")[0].rows()]
        b = [r[0] for r in eng.execute("FETCH 10 FROM c2")[0].rows()]
        c = [r[0] for r in eng.execute("FETCH 10 FROM c2")[0].rows()]
        assert a == list(range(10)) and b == list(range(10, 20))
        assert c == list(range(20, 25))
        eng.execute("CLOSE c2")
        eng.execute("COMMIT")


class TestDeparsedPushdown:
    """postgres_fdw deparses remote SQL with quoted identifiers and
    schema-qualified names; aggregates/sorts/limits push down whole."""

    def test_quoted_qualified_scan(self, fdw_engine):
        rows = _rows(fdw_engine,
                     'SELECT "n_nationkey", "n_name" FROM "public"."nation" '
                     'WHERE (("n_nationkey" > 20)) ORDER BY "n_nationkey"')
        assert [r[0] for r in rows] == [21, 22, 23, 24]

    def test_aggregate_pushdown_shape(self, fdw_engine):
        rows = _rows(fdw_engine,
                     "SELECT count(*), avg(n_nationkey), max(n_regionkey) "
                     "FROM public.nation")
        assert rows[0][0] == 25 and rows[0][2] == 4

    def test_order_by_limit(self, fdw_engine):
        rows = _rows(fdw_engine,
                     "SELECT n_name FROM public.nation "
                     "ORDER BY n_nationkey DESC LIMIT 3")
        assert [r[0] for r in rows] == ["NATION_24", "NATION_23",
                                        "NATION_22"]

    def test_semi_join_param_shape(self, fdw_engine):
        # the parameterized-path deparse: col = ANY(ARRAY[...])
        rows = _rows(fdw_engine,
                     "SELECT n_name FROM public.nation "
                     "WHERE n_regionkey = ANY ('{1,2}') ORDER BY n_nationkey")
        assert len(rows) == 10
