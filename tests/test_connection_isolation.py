"""Two concurrent pg-wire connections over one server: each is a clone of
the server's template session, so SET values, temp views, transactions and
the pg_catalog views stay per connection, while the function and catalog
registration runs once, in the first connection's start-up."""

import sys
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

from datafusion_postgres_spark.catalog import pg_catalog
from datafusion_postgres_spark.server.pgwire import PgWireServer
from conftest import SF_DIR
from test_pgwire import MiniPgClient

NATION = f"{SF_DIR}/nation.parquet"


@pytest.fixture(scope="module")
def wire(spark):
    """(conn_a, conn_b, per-connection start-up registration counts) over
    a server whose template is an unregistered session serving nation."""
    template = spark.newSession()
    template.read.parquet(NATION).createOrReplaceTempView("nation")
    srv = PgWireServer(template, port=0)
    srv.start_background()
    counts = {"bootstrap": 0, "create_function": 0}
    sql = SparkSession.sql

    def counting_sql(self, query, *args, **kwargs):
        if "TEMPORARY FUNCTION" in query.upper():
            counts["create_function"] += 1
        return sql(self, query, *args, **kwargs)

    conns, startup = [], []
    with pytest.MonkeyPatch.context() as mp:
        _counting_bootstrap(mp, counts)
        mp.setattr(SparkSession, "sql", counting_sql)
        for _ in range(2):
            before = dict(counts)
            conns.append(MiniPgClient(srv.host, srv.port))
            startup.append({k: counts[k] - before[k] for k in counts})
    yield conns[0], conns[1], startup
    for c in conns:
        c.close()
    srv.shutdown()


def _counting_bootstrap(mp, counts):
    bootstrap = pg_catalog.bootstrap

    def counting(s):
        counts["bootstrap"] += 1
        return bootstrap(s)
    mp.setattr(pg_catalog, "bootstrap", counting)


def _one(client, sql):
    res = client.query(sql)
    assert not res["errors"], res["errors"]
    return res["rows"]


def test_registration_runs_once(wire):
    _a, _b, startup = wire
    assert startup[0]["bootstrap"] == 1
    assert startup[0]["create_function"] > 0
    assert startup[1] == {"bootstrap": 0, "create_function": 0}


def test_set_show_and_current_setting_per_connection(wire):
    a, b, _ = wire
    _one(a, "SET application_name = 'conn_a'")
    _one(b, "SET application_name = 'conn_b'")
    assert _one(a, "SHOW application_name") == [["conn_a"]]
    assert _one(b, "SHOW application_name") == [["conn_b"]]
    assert _one(a, "SELECT current_setting('application_name')") == \
        [["conn_a"]]
    assert _one(b, "SELECT current_setting('application_name')") == \
        [["conn_b"]]


def test_temp_view_and_catalog_per_connection(wire):
    a, b, _ = wire
    _one(a, "CREATE TEMP VIEW iso_a AS SELECT 1 AS x")
    assert _one(a, "SELECT x FROM iso_a") == [["1"]]
    res = b.query("SELECT x FROM iso_a")
    assert res["errors"] and res["errors"][0][b"C"] == "42P01"
    pg_class = "SELECT relname FROM pg_class WHERE relname = 'iso_a'"
    assert _one(a, pg_class) == [["iso_a"]]
    assert _one(b, pg_class) == []
    assert _one(a, "SELECT to_regclass('iso_a') IS NOT NULL") == [["t"]]
    assert _one(b, "SELECT to_regclass('iso_a') IS NULL") == [["t"]]


def test_transaction_status_per_connection(wire):
    a, b, _ = wire
    _one(a, "BEGIN")
    assert a.txn_status == b"T"
    _one(b, "SELECT 1")
    assert b.txn_status == b"I"
    _one(a, "ROLLBACK")
    assert a.txn_status == b"I"


def test_describe_and_to_regclass_in_both(wire):
    a, b, _ = wire
    want = [f.name for f in pq.read_schema(NATION)]
    for c in (a, b):
        rows = _one(c, "SELECT c.relname, n.nspname FROM pg_catalog.pg_class c "
                       "LEFT JOIN pg_catalog.pg_namespace n "
                       "ON n.oid = c.relnamespace WHERE c.relname = 'nation'")
        assert rows == [["nation", "public"]]
        rows = _one(c, "SELECT a.attname FROM pg_catalog.pg_attribute a "
                       "WHERE a.attrelid = 'nation'::regclass "
                       "AND a.attnum > 0 ORDER BY a.attnum")
        assert [r[0] for r in rows] == want
        assert _one(c, "SELECT to_regclass('nation') IS NOT NULL") == [["t"]]
        assert _one(c, "SELECT min(oid) FROM pg_class "
                       "WHERE oid >= 16384") == [["16384"]]


def test_pg_settings_after_ddl_shows_own_gucs(wire):
    """A DDL-triggered catalog refresh in one connection rebuilds
    pg_settings from that connection's GUCs, not from the values another
    connection last SET."""
    a, b, _ = wire
    _one(a, "SET DateStyle = 'SQL, DMY'")
    _one(b, "CREATE TEMP VIEW settings_probe AS SELECT 1 AS x")
    rows = _one(b, "SELECT setting FROM pg_settings WHERE name = 'DateStyle'")
    assert rows == [["ISO, MDY"]]
    rows = _one(a, "SELECT setting FROM pg_settings WHERE name = 'DateStyle'")
    assert rows == [["SQL, DMY"]]


def test_concurrent_first_connections_register_once(spark):
    """More connections than cores arrive before the template is
    registered: one of them registers it, the others wait and clone."""
    template = spark.newSession()
    template.read.parquet(NATION).createOrReplaceTempView("nation")
    srv = PgWireServer(template, port=0)
    srv.start_background()
    counts = {"bootstrap": 0}
    results, conns = [], []

    def connect():
        c = MiniPgClient(srv.host, srv.port)
        conns.append(c)
        results.append(c.query("SELECT to_regclass('nation') IS NOT NULL"))

    switch = sys.getswitchinterval()
    try:
        with pytest.MonkeyPatch.context() as mp:
            _counting_bootstrap(mp, counts)
            sys.setswitchinterval(1e-5)
            threads = [threading.Thread(target=connect) for _ in range(6)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
        for c in conns:
            c.close()
        srv.shutdown()
    assert counts["bootstrap"] == 1
    assert [r["rows"] for r in results] == [[["t"]]] * 6
