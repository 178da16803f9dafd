"""DuckDB oracle parity inside tier-1 for a sample of registered queries.

The sample covers the single-parse SQL builders (TPC-H q3/q5/q8/q9, the
relational join/aggregate/window rows and the exact cosine top-k) and
the DataFrame-built event rows in the PRIORITY window (hourly
rollup, gap sessionization). Each is run on Spark and its registered
oracle on DuckDB, then compared by the same function
``tools/check_oracle.py`` uses for the full sweep: columns, compatible
types, row count and repr-strict values.
"""

import importlib.util
import os

import pytest

from conftest import SF_DIR

QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_using",
    "agg_distinct_filter",
    "window_rank_topn",
    "q8_market_share",
    "q9_product_profit",
    "sim_cosine_topk",
    "events_hourly_rollup",
    "events_sessionize",
]


def _check_oracle():
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


CHECK = _check_oracle()


@pytest.fixture(scope="module")
def duck():
    con = CHECK.duck_connect(SF_DIR)
    yield con
    con.close()


class TestRegisteredOracles:
    @pytest.mark.parametrize("name", QUERIES)
    def test_matches_oracle(self, spark, duck, name):
        from datafusion_postgres_spark.queries import load_all

        spec = load_all()[name]
        assert spec.oracle is not None
        sdf = spec.fn(spark, SF_DIR)
        srows = [tuple(r) for r in sdf.collect()]
        assert srows, f"{name}: empty result compares nothing"
        assert CHECK.compare_to_oracle(sdf, srows, duck, spec.oracle) is None
