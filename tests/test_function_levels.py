"""The shared function surface is built in dependency levels on a thread
pool, beside the catalog bootstrap (functions/registry.py). These tests
pin the level derivation without Spark, and that the pooled build
registers the same functions and catalog views as a one-thread build in
list order, also with one worker and after a failed attempt."""

import gc
import re
import sys
import threading

import pytest

from datafusion_postgres_spark.functions import registry
from datafusion_postgres_spark.functions.formatting import (
    FORMATTING_SQL_UDFS)
from datafusion_postgres_spark.functions.geo import (
    GEO_SQL_UDFS, register_geo)

ALL_SPECS = (registry.SQL_UDFS + registry.SQL_UDTFS + FORMATTING_SQL_UDFS
             + GEO_SQL_UDFS)
LEVELS = registry.FREE_LEVELS + registry.CATALOG_LEVELS


class TestLevels:
    def test_every_function_appears_once(self):
        placed = [name for level in LEVELS for name, _a, _r, _b in level]
        assert len(placed) == len(set(placed))
        assert sorted(placed) == sorted(name for name, *_ in ALL_SPECS)

    def test_callees_sit_in_earlier_levels(self):
        where = {name.lower(): i for i, level in enumerate(LEVELS)
                 for name, *_ in level}
        calls = registry.function_calls(ALL_SPECS)
        for name, callees in calls.items():
            for callee in callees:
                assert where[callee] < where[name], (name, callee)
        # edges read by hand from the bodies: the scan is not vacuous
        for name, callee in (("justify_interval", "justify_days"),
                             ("to_tsvector", "pg_tsvector_cfg"),
                             ("pg_tsvector_cfg", "pg_tsvector"),
                             ("pg_tsvector", "pg_lexemes"),
                             ("acldefault", "pg_get_userbyid")):
            assert callee in calls[name]
            assert where[callee] < where[name]

    def test_catalog_queries_come_after_every_free_level(self):
        free = {n for level in registry.FREE_LEVELS for n, *_ in level}
        for name, _a, _r, body in ALL_SPECS:
            assert (name in free) != registry._needs_catalog(body), name
        assert registry._CATALOG_DONE == registry.CATALOG_LEVELS[-1][-1][0]

    def test_levels_of_a_small_graph(self):
        specs = [("c", "", "INT", "b() + a()"), ("a", "x INT", "INT", "x"),
                 ("b", "y INT DEFAULT a(1)", "INT", "abs(y)"),
                 ("d", "", "INT", "1")]
        assert [[s[0] for s in level]
                for level in registry.dependency_levels(specs)] == \
            [["a", "d"], ["b"], ["c"]]
        with pytest.raises(ValueError, match="cycle"):
            registry.dependency_levels([("p", "", "INT", "q()"),
                                        ("q", "", "INT", "p()")])


# -- Spark: the pooled build against a one-thread build ----------------------

def _sequential(session):
    """The whole surface on one thread, every CREATE in list order."""
    from datafusion_postgres_spark.catalog.pg_catalog import bootstrap

    bootstrap(session)
    registry._register_special_math(session)
    registry._register_text_py(session)
    registry._register_jsonpath_py(session)
    for spec in ALL_SPECS:
        if not registry._needs_catalog(spec[3]):
            registry._create(session, spec)
    register_geo(session)
    for spec in ALL_SPECS:
        if registry._needs_catalog(spec[3]):
            registry._create(session, spec)


_VOLATILE = [(re.compile(r'"sqlFunction\.createTime":"\d+"'),
              '"sqlFunction.createTime":"_"'),
             (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda$_")]


def _functions(session) -> dict:
    """Each user function's ``DESCRIBE FUNCTION EXTENDED`` lines, with
    the creation time and the JVM lambda class id masked."""
    out = {}
    for (name,) in session.sql("SHOW USER FUNCTIONS").collect():
        lines = []
        for (line,) in session.sql(
                f"DESCRIBE FUNCTION EXTENDED `{name}`").collect():
            for pattern, mask in _VOLATILE:
                line = pattern.sub(mask, line)
            lines.append(line)
        out[name] = lines
    return out


def _views(session) -> dict:
    """Each catalog view's schema and rows."""
    return {name: (session.table(name).schema.simpleString(),
                   session.table(name).collect())
            for (_db, name, _tmp) in session.sql("SHOW TABLES").collect()
            if name.startswith(("pg_catalog_", "information_schema_"))}


@pytest.fixture(scope="module")
def reference(spark):
    session = spark.newSession()
    _sequential(session)
    return _functions(session), _views(session)


def _assert_same_surface(session, reference):
    funcs, views = reference
    got = _functions(session)
    assert sorted(got) == sorted(funcs)
    assert len(got) == 255
    for name in funcs:
        assert got[name] == funcs[name], name
    got_views = _views(session)
    assert sorted(got_views) == sorted(views)
    assert len(got_views) == 92
    for name in views:
        assert got_views[name] == views[name], name


def _register_all_in_thread(session, timeout=300.0):
    """``register_all`` on a helper thread that must end within
    ``timeout`` seconds (a deadlock would not); its exception, if any."""
    errors = []

    def run():
        try:
            registry.register_all(session)
        except Exception as exc:  # handed to the test
            errors.append(exc)
    worker = threading.Thread(target=run, daemon=True)
    worker.start()
    worker.join(timeout)
    assert not worker.is_alive(), "register_all did not finish"
    return errors[0] if errors else None


class TestPooledBuild:
    @pytest.mark.parametrize("workers", [4, 8, 16])
    def test_matches_one_thread_build(self, spark, reference, workers,
                                      monkeypatch):
        # more workers than cores and a thread switch every 10 us, so the
        # CREATEs interleave whatever the machine
        monkeypatch.setattr(registry, "_pool_size", lambda spark: workers)
        session = spark.newSession()
        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            assert _register_all_in_thread(session) is None
        finally:
            sys.setswitchinterval(switch)
        _assert_same_surface(session, reference)

    def test_one_worker(self, spark, reference, monkeypatch):
        monkeypatch.setattr(registry, "_pool_size", lambda spark: 1)
        session = spark.newSession()
        assert _register_all_in_thread(session) is None
        _assert_same_surface(session, reference)

    def test_failed_build_leaves_no_marker_and_retries_whole(
            self, spark, reference, monkeypatch):
        broken = [list(level) for level in registry.FREE_LEVELS]
        name, args, ret, _body = broken[1][0]
        broken[1][0] = (name, args, ret, "no_such_function(1)")
        monkeypatch.setattr(registry, "FREE_LEVELS", broken)
        session = spark.newSession()
        error = _register_all_in_thread(session)
        assert isinstance(error, RuntimeError)
        assert f"cannot create function {name}" in str(error)
        assert not session.catalog.functionExists(registry._FUNCTIONS_DONE)
        assert not session.catalog.functionExists(registry._CATALOG_DONE)

        monkeypatch.undo()
        registry.register_all(session)
        assert session.catalog.functionExists(registry._CATALOG_DONE)
        _assert_same_surface(session, reference)

    def test_registration_leaves_no_thread_behind(self, spark, monkeypatch):
        """Every helper thread ends, and the py4j connection each one
        opened leaves the gateway's pool with it."""
        from py4j.clientserver import JavaClient

        opened_by = {}  # connection id -> the thread that opened it
        create = JavaClient._create_new_connection

        def recording(client):
            connection = create(client)
            opened_by[id(connection)] = threading.get_ident()
            return connection
        monkeypatch.setattr(JavaClient, "_create_new_connection", recording)
        threads = threading.active_count()
        registry.register_all(spark.newSession())
        gc.collect()
        assert opened_by, "the build opened no connection of its own"
        assert threading.active_count() == threads
        alive = {t.ident for t in threading.enumerate()}
        gateway = spark.sparkContext._gateway._gateway_client
        assert [opened_by[id(c)] for c in list(gateway.deque)
                if id(c) in opened_by and opened_by[id(c)] not in alive] == []
