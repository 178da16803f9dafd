"""Extended-protocol tests: param type inference, decode, execute
(planner.rs:9-66 inference; test_csv.py parameterized queries)."""

import pytest

from datafusion_postgres_spark.server.prepared import (
    PreparedStatementManager, decode_parameter, infer_param_types,
    to_named_params,
)


class TestInference:
    def test_cast_colon_form(self):
        assert infer_param_types("SELECT * FROM t WHERE a > $1::int4") == [23]

    def test_cast_call_form(self):
        assert infer_param_types(
            "SELECT * FROM t WHERE a > CAST($1 AS bigint)") == [20]

    def test_uninfered_defaults_to_text(self):
        assert infer_param_types("SELECT $1, $2::float8") == [25, 701]

    def test_no_params(self):
        assert infer_param_types("SELECT 1") == []

    def test_gap_numbering(self):
        # $3 present implies 3 params
        assert len(infer_param_types("SELECT $3::int4")) == 3

    def test_dollar_in_string_ignored(self):
        assert infer_param_types("SELECT '$1' || $1::text") == [25]


class TestDeclaredOids:
    def test_declared_overrides_inference(self):
        mgr = PreparedStatementManager(engine=None)
        stmt = mgr.parse("s", "SELECT $1 + 1", declared_oids=[20])
        assert stmt.param_oids == [20]

    def test_declared_zero_falls_back(self):
        # OID 0 = unspecified per the protocol: inference (or text) wins
        mgr = PreparedStatementManager(engine=None)
        stmt = mgr.parse("s", "SELECT $1::int4, $2", declared_oids=[0, 0])
        assert stmt.param_oids == [23, 25]

    def test_declared_extends_param_list(self):
        mgr = PreparedStatementManager(engine=None)
        stmt = mgr.parse("s", "SELECT $1", declared_oids=[23, 20])
        assert stmt.param_oids == [23, 20]

    def test_declared_binary_decode(self):
        # the ADVICE scenario: $1 declared int8, bound binary — must
        # decode the 8 bytes as a long, not text
        import struct
        mgr = PreparedStatementManager(engine=None)
        stmt = mgr.parse("s", "SELECT $1 + 1", declared_oids=[20])
        v = decode_parameter(("bin", struct.pack("!q", 41)),
                             stmt.param_oids[0])
        assert v == 41


class TestDecode:
    def test_ints_floats(self):
        assert decode_parameter("42", 23) == 42
        assert decode_parameter("1.5", 701) == 1.5

    def test_bool(self):
        assert decode_parameter("t", 16) is True
        assert decode_parameter("f", 16) is False

    def test_null(self):
        assert decode_parameter(None, 23) is None

    def test_bytea(self):
        assert decode_parameter("\\x01ab", 17) == b"\x01\xab"

    def test_named_rewrite(self):
        assert to_named_params("SELECT $1, '$2', $2") == "SELECT :p1, '$2', :p2"


class TestExecute:
    @pytest.fixture(scope="class")
    def mgr(self, engine):
        return PreparedStatementManager(engine)

    def test_parameterized_query(self, mgr):
        # test_csv.py:46 shape: WHERE col > $1
        mgr.parse("s1", "SELECT count(*) AS n FROM orders "
                        "WHERE o_totalprice > $1::float8")
        assert mgr.describe("s1").param_oids == [701]
        all_rows = mgr.execute("s1", ["0"]).collect()
        some_rows = mgr.execute("s1", ["300000"]).collect()
        assert all_rows[0][0] > some_rows[0][0] > 0

    def test_multiple_params(self, mgr):
        mgr.parse("s2", "SELECT n_name FROM nation "
                        "WHERE n_nationkey BETWEEN $1::int4 AND $2::int4 "
                        "ORDER BY n_nationkey")
        rows = mgr.execute("s2", ["3", "5"]).collect()
        assert [r[0] for r in rows] == ["NATION_3", "NATION_4", "NATION_5"]

    def test_text_param(self, mgr):
        mgr.parse("s3", "SELECT count(*) AS n FROM nation WHERE n_name = $1")
        assert mgr.execute("s3", ["NATION_7"]).collect()[0][0] == 1

    def test_param_count_mismatch(self, mgr):
        mgr.parse("s4", "SELECT $1::int4 + $2::int4")
        with pytest.raises(ValueError):
            mgr.execute("s4", ["1"])

    def test_null_param(self, mgr):
        mgr.parse("s5", "SELECT $1::int4 IS NULL AS isnull")
        assert mgr.execute("s5", [None]).collect()[0][0] is True

    def test_close(self, mgr):
        mgr.parse("s6", "SELECT 1")
        mgr.close("s6")
        with pytest.raises(KeyError):
            mgr.describe("s6")

    def test_parameterized_explain(self, mgr):
        mgr.parse("s7", "EXPLAIN SELECT n_name FROM nation "
                        "WHERE n_nationkey = $1::int4")
        res = mgr.execute("s7", ["3"])
        assert res.command_tag == "EXPLAIN"
        assert res.schema.names == ["QUERY PLAN"]
        assert "Filter" in res.collect()[0][0]
