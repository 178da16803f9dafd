"""The statement record and the kind table.

Each statement is tokenized once into a ``dialect.transpiler.Statement``
record that the hook chain, RBAC, the TVF rewrite, transpile, Describe and
the command tag all read; what follows from a statement's kind lives in
one table, ``dialect.transpiler.KINDS``. SET, RESET and ``set_config``
only write the session state, and only DDL dirties the catalog.
"""

import sys
from types import SimpleNamespace

import pytest

from datafusion_postgres_spark.dialect import tokenizer
from datafusion_postgres_spark.dialect.tokenizer import (
    emit, split_on_semicolons,
)
from datafusion_postgres_spark.dialect.transpiler import (
    KINDS, PostgresTranspiler,
)


@pytest.fixture()
def tokenized(monkeypatch):
    """The texts ``tokenize`` is called on, from every module that bound
    the name (the rules also tokenize their replacement snippets)."""
    seen = []
    original = tokenizer.tokenize

    def counting(sql):
        seen.append(sql)
        return original(sql)
    for name, mod in list(sys.modules.items()):
        if (name.startswith("datafusion_postgres_spark")
                and getattr(mod, "tokenize", None) is original):
            monkeypatch.setattr(mod, "tokenize", counting)
    return seen


class TestTokenizedOnce:
    def test_simple_query_select(self, engine, tokenized):
        sql = "SELECT n_name FROM nation WHERE n_nationkey = 3"
        rows = list(engine.execute(sql)[0].rows())
        assert [r[0] for r in rows] == ["NATION_3"]
        assert tokenized.count(sql) == 1  # the split; nothing after it

    def test_prepared_statement_parses_once(self, engine, tokenized):
        from datafusion_postgres_spark.server.pgwire import _Conn
        from datafusion_postgres_spark.server.prepared import (
            PreparedStatementManager)

        sql = ("SELECT n_name FROM nation "
               "WHERE n_nationkey = CAST($1 AS BIGINT)")
        mgr = PreparedStatementManager(engine)
        mgr.parse("tok", sql)
        assert tokenized.count(sql) == 1
        conn = SimpleNamespace(engine=engine)
        assert _Conn._describe_rows(conn, mgr.describe("tok"), [])[:1] == b"T"
        for key, name in ((3, "NATION_3"), (5, "NATION_5")):
            assert mgr.execute("tok", [str(key)]).collect()[0][0] == name
        assert tokenized.count(sql) == 1  # Describe and Executes: none

    def test_record_tokens_are_the_tokens_of_its_text(self):
        tp = PostgresTranspiler()
        for sql in ("  SELECT 1 ;\n-- c\n SELECT 'a;b' -- tail  ",
                    "SELECT 1 /* open   ", "SELECT 'open   \t",
                    "\tBEGIN\n;;  COMMIT  "):
            old = [emit(t).strip()
                   for t in split_on_semicolons(tokenizer.tokenize(sql))]
            records = tp.statements(sql)
            assert [r.text for r in records] == old == tp.split_statements(sql)
            for r in records:
                assert r.tokens == tokenizer.tokenize(r.text)
                assert r.kind == tp.statement_kind(r.text)
                assert r.tables == tp.table_names(r.text)

    def test_transpile_leaves_the_record_tokens_alone(self):
        tp = PostgresTranspiler()
        sql = ("SELECT a::int4, x ~* 'y' FROM t "
               "WHERE b = ANY('{1,2}') AND c::text[] IS NOT NULL")
        record = tp.parse(sql)
        before = [(t.kind, t.text) for t in record.tokens]
        assert tp.transpile(record) == tp.transpile(sql) != sql
        assert [(t.kind, t.text) for t in record.tokens] == before


class TestKindTable:
    def test_permissions_follow_the_table(self):
        from datafusion_postgres_spark.server.auth import (
            AuthManager, PermissionDenied, Resource, User)

        auth = AuthManager()
        auth.add_user(User("nobody"))
        for kind, props in list(KINDS.items()) + [("UNLISTED", None)]:
            exempt = props is not None and props.permission is None
            try:
                auth.check_statement("nobody", kind,
                                     Resource("table", "public.t"))
                allowed = True
            except PermissionDenied:
                allowed = False
            assert allowed == exempt, kind

    def test_parenthesized_statement_has_its_kind(self, engine):
        from datafusion_postgres_spark.server.pgwire import _Conn
        from datafusion_postgres_spark.server.prepared import (
            PreparedStatementManager)

        tp = PostgresTranspiler()
        assert tp.statement_kind("( (SELECT 1))") == "SELECT"
        assert tp.statement_kind("(VALUES (1)) UNION (VALUES (2))") == \
            "VALUES"
        assert "" not in KINDS  # a statement with no keyword is a read
        mgr = PreparedStatementManager(engine)
        mgr.parse("paren", "(SELECT 1 AS one)")
        conn = SimpleNamespace(engine=engine)
        assert _Conn._describe_rows(conn, mgr.describe("paren"), [])[:1] \
            == b"T"  # RowDescription, not NoData


class TestSettingsAreLazy:
    def test_set_reset_set_config_make_no_spark_sql_call(self, engine,
                                                         monkeypatch):
        from pyspark.sql import SparkSession
        calls = []
        sql = SparkSession.sql
        monkeypatch.setattr(SparkSession, "sql", lambda self, *a, **k: (
            calls.append(a[0]), sql(self, *a, **k))[1])
        engine.execute("SET application_name = 'lazy'")
        engine.execute("SELECT set_config('application_name', 'x', false)")
        engine.execute("RESET application_name")
        assert calls == []

    @staticmethod
    def _agree(engine, name):
        def one(sql):
            return list(engine.execute(sql)[0].rows())[0][0]
        show = one(f"SHOW {name}")
        assert one(f"SELECT current_setting('{name}')") == show
        assert one("SELECT setting FROM pg_settings "
                   f"WHERE name = '{name}'") == show
        return show

    def test_current_setting_and_pg_settings_agree_with_show(self, engine):
        try:
            engine.execute("SET application_name = 'after_set'")
            assert self._agree(engine, "application_name") == "after_set"
            engine.execute(
                "SELECT set_config('application_name', 'after_cfg', false)")
            assert self._agree(engine, "application_name") == "after_cfg"
            engine.execute("RESET application_name")
            assert self._agree(engine, "application_name") == ""
        finally:
            engine.execute("RESET application_name")

    def test_backslash_value_reaches_current_setting(self, engine):
        try:
            engine.execute("SET application_name = 'a\\'")
            assert self._agree(engine, "application_name") == "a\\"
        finally:
            engine.execute("RESET application_name")


class TestOnlyDdlDirtiesTheCatalog:
    def test_writes_skip_the_refresh_and_ddl_runs_it(self, engine,
                                                     monkeypatch):
        from datafusion_postgres_spark.catalog import pg_catalog

        def read_catalog():
            engine.execute("SELECT count(*) FROM pg_catalog.pg_class")

        engine.execute("CREATE TABLE zz_dirty_a (k INT)")
        try:
            read_catalog()  # the CREATE's refresh
            calls = []
            refresh = pg_catalog.refresh
            monkeypatch.setattr(pg_catalog, "refresh", lambda *a, **k: (
                calls.append(1), refresh(*a, **k))[1])
            engine.execute("INSERT INTO zz_dirty_a VALUES (1)")
            read_catalog()
            assert engine.copy_into("zz_dirty_a", None, b"2\n3\n") == 2
            read_catalog()
            assert calls == []
            engine.execute("CREATE TABLE zz_dirty_b (k INT)")
            read_catalog()
            assert calls == [1]
        finally:
            engine.execute("DROP TABLE IF EXISTS zz_dirty_a")
            engine.execute("DROP TABLE IF EXISTS zz_dirty_b")

    def test_copy_and_declare_see_a_new_temp_view(self, engine):
        def pg_class(view):
            return ("SELECT relname FROM pg_catalog.pg_class "
                    f"WHERE relname = '{view}'")

        try:
            engine.execute("CREATE TEMP VIEW zz_copy_v AS SELECT 1 AS x")
            res = engine.execute(f"COPY ({pg_class('zz_copy_v')}) TO STDOUT")
            assert [r[0] for r in res[0].rows()] == ["zz_copy_v"]
            engine.execute("CREATE TEMP VIEW zz_cursor_v AS SELECT 1 AS x")
            engine.execute(
                f"DECLARE zz_c CURSOR FOR {pg_class('zz_cursor_v')}")
            res = engine.execute("FETCH ALL FROM zz_c")
            assert [r[0] for r in res[0].rows()] == ["zz_cursor_v"]
        finally:
            engine.execute("CLOSE ALL")
            engine.execute("DROP VIEW IF EXISTS zz_copy_v")
            engine.execute("DROP VIEW IF EXISTS zz_cursor_v")
