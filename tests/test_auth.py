"""RBAC + statement-timeout tests (auth.rs:598-641 model tests;
permissions.rs statement mapping; handlers.rs timeout behavior)."""

import pytest

from datafusion_postgres_spark.server.auth import (
    AuthManager, Grant, Permission, PermissionDenied, Resource, Role, User,
    verify_cleartext, verify_md5,
)


@pytest.fixture
def auth():
    a = AuthManager()
    a.add_user(User("alice", password="secret", roles=["readers"]))
    a.add_user(User("bob", roles=["writers"]))
    a.add_role(Role("readers", grants=[
        Grant(Permission.SELECT, Resource("table", "public.orders"))]))
    a.add_role(Role("writers", member_of=["readers"], grants=[
        Grant(Permission.INSERT, Resource("schema", "public"))]))
    return a


class TestRbac:
    def test_direct_grant(self, auth):
        assert auth.check("alice", Permission.SELECT,
                          Resource("table", "public.orders"))
        assert not auth.check("alice", Permission.SELECT,
                              Resource("table", "public.secret"))
        assert not auth.check("alice", Permission.INSERT,
                              Resource("table", "public.orders"))

    def test_role_inheritance(self, auth):
        # bob inherits readers through writers
        assert auth.check("bob", Permission.SELECT,
                          Resource("table", "public.orders"))
        assert auth.check("bob", Permission.INSERT,
                          Resource("table", "public.anything"))

    def test_schema_grant_covers_tables(self, auth):
        auth.grant("readers", Permission.SELECT, Resource("schema", "public"))
        assert auth.check("alice", Permission.SELECT,
                          Resource("table", "public.secret"))

    def test_superuser_bypass(self, auth):
        assert auth.check("postgres", Permission.DROP,
                          Resource("table", "public.anything"))

    def test_unknown_user_denied(self, auth):
        assert not auth.check("mallory", Permission.SELECT,
                              Resource("table", "public.orders"))

    def test_revoke(self, auth):
        auth.revoke("readers", Permission.SELECT,
                    Resource("table", "public.orders"))
        assert not auth.check("alice", Permission.SELECT,
                              Resource("table", "public.orders"))

    def test_inheritance_cycle_safe(self, auth):
        auth.add_role(Role("a", member_of=["b"]))
        auth.add_role(Role("b", member_of=["a"]))
        auth.add_user(User("carol", roles=["a"]))
        assert not auth.check("carol", Permission.SELECT,
                              Resource("table", "public.orders"))

    def test_statement_mapping(self, auth):
        auth.check_statement("alice", "SELECT",
                             Resource("table", "public.orders"))
        with pytest.raises(PermissionDenied) as e:
            auth.check_statement("alice", "DROP",
                                 Resource("table", "public.orders"))
        assert e.value.sqlstate == "42501"
        # SET/SHOW/txn exempt even for unknown users
        auth.check_statement("mallory", "SET", Resource("table", "x"))
        auth.check_statement("mallory", "BEGIN", Resource("table", "x"))


class TestPasswords:
    def test_cleartext(self, auth):
        assert verify_cleartext(auth, "alice", "secret")
        assert not verify_cleartext(auth, "alice", "wrong")
        # no stored password -> password auth FAILS (trust mode is the
        # explicit no-auth path; missing credential is not a wildcard)
        assert not verify_cleartext(auth, "bob", "anything")

    def test_md5(self, auth):
        import hashlib
        salt = b"\x01\x02\x03\x04"
        inner = hashlib.md5(b"secretalice").hexdigest()
        resp = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
        assert verify_md5(auth, "alice", resp, salt)
        assert not verify_md5(auth, "alice", "md5deadbeef", salt)


class TestEngineIntegration:
    def test_restricted_user_denied(self, engine):
        from datafusion_postgres_spark.server.auth import User as U

        engine.auth.add_user(U("limited", roles=["r1"]))
        engine.auth.grant("r1", Permission.SELECT,
                          Resource("table", "public.nation"))
        engine.user = "limited"
        try:
            rows = list(engine.execute("SELECT count(*) FROM nation")[0].rows())
            assert rows[0][0] == 25
            with pytest.raises(PermissionDenied):
                engine.execute("SELECT count(*) FROM orders")
            with pytest.raises(PermissionDenied):
                engine.execute("DROP TABLE nation")
        finally:
            engine.user = "postgres"

    @staticmethod
    def _as(engine, user, sql):
        """``sql``'s rows, or a FETCH ALL's after a DECLARE, as ``user``."""
        engine.user = user
        try:
            res = engine.execute(sql)[0]
            if sql.startswith("DECLARE"):
                res = engine.execute("FETCH ALL FROM inner_c")[0]
                engine.execute("CLOSE inner_c")
            return list(res.rows())
        finally:
            engine.user = "postgres"

    def test_inner_queries_are_checked(self, engine):
        # a parenthesized statement and the queries inside COPY, DECLARE
        # and EXPLAIN ANALYZE need the grant a plain SELECT needs
        engine.auth.add_user(User("grantless"))
        engine.auth.add_user(User("nation_reader", roles=["r_nation"]))
        engine.auth.grant("r_nation", Permission.SELECT,
                          Resource("table", "public.nation"))
        for sql in ("(SELECT * FROM nation)",
                    "COPY (SELECT * FROM nation) TO STDOUT",
                    "COPY nation TO STDOUT",
                    "DECLARE inner_c CURSOR FOR SELECT * FROM nation",
                    "EXPLAIN ANALYZE SELECT * FROM nation"):
            with pytest.raises(PermissionDenied):
                self._as(engine, "grantless", sql)
            rows = self._as(engine, "nation_reader", sql)
            if sql.startswith("EXPLAIN"):
                assert ("Actual Rows: 25",) in rows, sql
            else:
                assert len(rows) == 25, sql

    def test_inner_queries_run_pipeline_tvfs(self, engine, tables):
        engine.auth.add_user(User("grantless"))
        engine.auth.add_user(User("docs_reader", roles=["r_docs"]))
        engine.auth.grant("r_docs", Permission.SELECT,
                          Resource("table", "public.documents"))
        sql = "SELECT * FROM exact_dup_groups('documents')"
        want = sorted(map(tuple, self._as(engine, "docs_reader", sql)),
                      key=repr)
        assert want
        for inner in (f"COPY ({sql}) TO STDOUT",
                      f"DECLARE inner_c CURSOR FOR {sql}"):
            got = self._as(engine, "docs_reader", inner)
            assert sorted(map(tuple, got), key=repr) == want, inner
            with pytest.raises(PermissionDenied):
                self._as(engine, "grantless", inner)

    def test_timeout_cancels(self, engine):
        from datafusion_postgres_spark.server.timeout import (
            QueryCanceled, run_with_timeout)

        # a deliberately heavy cross join; 1s deadline must cancel it
        df = engine.spark.range(0, 40_000_000)
        heavy = df.alias("a").crossJoin(df.alias("b")).selectExpr("count(*)")
        with pytest.raises(QueryCanceled) as e:
            run_with_timeout(engine.spark, heavy.collect, 1.0)
        assert e.value.sqlstate == "57014"

    def test_timeout_zero_means_none(self, engine):
        res = engine.execute("SELECT 1 AS x")[0]
        assert res.collect(0.0)[0][0] == 1
