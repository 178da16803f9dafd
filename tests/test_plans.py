"""Plan-quality pins — the 100 TB insurance policy.

These assert the physical-plan properties that make the operators viable
at cluster scale: predicate pushdown into parquet, column pruning,
broadcast of dim tables, bounded shuffle counts. A change that silently
turns a broadcast join into a shuffle join or drops a pushed filter fails
here, not on a cluster."""

import pytest

from datafusion_postgres_spark.plans import inspect as P
from datafusion_postgres_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg():
    return load_all()


def test_q1_filter_pushed_to_parquet(spark, reg):
    df = reg["q1_pricing_summary"].fn(spark, SF_DIR)
    pushed = " ".join(P.pushed_filters(df))
    assert "l_shipdate" in pushed


def test_q1_column_pruning(spark, reg):
    df = reg["q1_pricing_summary"].fn(spark, SF_DIR)
    cols = P.scan_columns(df)[0]
    # 7 of 11 lineitem columns; never the unused keys
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


def test_q1_single_shuffle(spark, reg):
    # one hash-shuffle for the groupBy; no sort exchange (no orderBy)
    df = reg["q1_pricing_summary"].fn(spark, SF_DIR)
    assert P.count_shuffles(df) <= 2


def test_q5_broadcasts_dims(spark, reg):
    df = reg["q5_local_supplier_volume"].fn(spark, SF_DIR)
    assert P.uses_broadcast(df)


def test_q3_no_forced_broadcast(spark, reg):
    # the filtered customer is SF-proportional: AQE may broadcast it by
    # measurement (and does at test SF), but a FORCED hint would bypass
    # the size check and OOM at 100x — assert the hint is gone while the
    # physical plan still picks broadcast at this tiny SF
    df = reg["q3_shipping_priority"].fn(spark, SF_DIR)
    assert P.forced_broadcast_tables(df) == set()
    assert P.uses_broadcast(df)


# SF-proportional tables that must NEVER carry a forced broadcast hint;
# nation (25 rows) and region (5) are the only bounded base tables.
_SF_PROPORTIONAL = {"customer", "supplier", "part", "orders", "lineitem"}


@pytest.mark.parametrize("qname", [
    "q2_min_cost_supplier", "q3_shipping_priority",
    "q5_local_supplier_volume", "q8_market_share", "q9_product_profit",
    "q14_promo_revenue", "q16_supplier_part_count",
    "q17_small_quantity_revenue", "q19_disjunctive_join",
    "q20_excess_shippers",
])
def test_no_forced_broadcast_of_sf_proportional_tables(spark, reg, qname):
    df = reg[qname].fn(spark, SF_DIR)
    hinted = P.forced_broadcast_tables(df)
    assert not (hinted & _SF_PROPORTIONAL), \
        f"{qname} force-broadcasts SF-proportional {hinted & _SF_PROPORTIONAL}"


def test_topk_no_global_sort(spark, reg):
    # orderBy+limit must compile to TakeOrderedAndProject, not a full sort
    df = reg["sort_topk"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in P.simple_plan(df)


def test_filter_pushdown_dialect_path(spark, reg):
    # the transpiled Postgres SQL path preserves pushdown too
    df = reg["pg_between_in_null"].fn(spark, SF_DIR)
    pushed = " ".join(P.pushed_filters(df))
    assert "c_acctbal" in pushed


def test_semi_join_stays_semi(spark, reg):
    df = reg["join_semi_exists"].fn(spark, SF_DIR)
    assert "LeftSemi" in P.simple_plan(df)


def test_sim_topk_broadcasts_queries(spark, reg):
    # corpus must never shuffle: the query side broadcasts
    df = reg["sim_cosine_topk"].fn(spark, SF_DIR)
    assert P.uses_broadcast(df)


def test_events_sessionize_reuses_partitioning(spark, reg):
    # both windows partition by user_id; Catalyst must not add a second
    # exchange between them
    df = reg["events_sessionize"].fn(spark, SF_DIR)
    assert P.count_shuffles(df) <= 3


def test_repetition_metrics_zero_shuffle(spark, reg):
    df = reg["text_repetition_metrics"].fn(spark, SF_DIR)
    # one allowed exchange: the final orderBy range partitioning (plus
    # ensure_min_parallelism's roundrobin at test SF); the metric
    # computation itself must add none
    from datafusion_postgres_spark.operators.text import repetition_metrics
    from datafusion_postgres_spark.sources.registry import read_table
    core = repetition_metrics(read_table(spark, SF_DIR, "documents"))
    assert P.count_shuffles(core) == 0


def test_gopher_filter_zero_shuffle(spark):
    from datafusion_postgres_spark.operators.text import gopher_quality_flags
    from datafusion_postgres_spark.sources.registry import read_table
    core = gopher_quality_flags(read_table(spark, SF_DIR, "documents"))
    assert P.count_shuffles(core) == 0


def test_sample_mixture_zero_shuffle(spark):
    from datafusion_postgres_spark.operators.text import sample_mixture
    from datafusion_postgres_spark.sources.registry import read_table
    core = sample_mixture(read_table(spark, SF_DIR, "documents"),
                          {"en": 0.5})
    assert P.count_shuffles(core) == 0


def test_funnel_shuffles_bounded(spark):
    # 3-stage funnel: per stage one groupBy (+ stage joins reuse the
    # user_id layout); final tiny unions. Bound the pre-AQE count.
    from datafusion_postgres_spark.operators.events import funnel_counts
    from datafusion_postgres_spark.sources.registry import read_table
    ev = read_table(spark, SF_DIR, "events")
    df = funnel_counts(ev, ["view", "click", "purchase"])
    assert P.count_shuffles(df) <= 9


def test_substring_dedup_no_computation_below_repartition(spark, tables):
    """Regression pin for the InferFiltersFromGenerate pathology: the
    window-hash computation must stay ABOVE the parallelism repartition.
    A heavy inferred filter (containing the inlined aggregate/transform
    chain) below the RoundRobin exchange re-runs the whole operator in
    the narrow scan stage (measured 13.2s -> 1.4s at sf0.1)."""
    from datafusion_postgres_spark.operators.dedup import substring_dup_pairs
    plan = substring_dup_pairs(
        tables["documents"])._jdf.queryExecution().optimizedPlan().toString()
    below = plan.split("RoundRobinPartitioning", 1)[-1]
    for line in below.split("\n"):
        if line.strip().startswith(("Filter", "+- Filter", ":- Filter")):
            assert "aggregate(slice(" not in line, (
                "window-hash fold pushed below the repartition")


def test_bloom_probe_is_pure_codegen(spark):
    # the bloom prefilter must never fall back to a Python eval node —
    # the packed-word literal keeps the probe inside codegen
    from datafusion_postgres_spark.operators.dedup import decontaminate_bloom
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = decontaminate_bloom(docs.where("doc_id >= 50"),
                              docs.where("doc_id < 50"))
    plan = P.formatted_plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_dsir_scoring_zero_shuffle(spark):
    # after training, the scoring side is a pure projection: the only
    # exchange allowed is the small-file parallelism repartition
    from datafusion_postgres_spark.operators.dsir import dsir_weights
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dsir_weights(docs, target_filter=F.col("lang") == "en")
    assert P.count_shuffles(out) <= 1
    plan = P.formatted_plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_lm_scoring_zero_shuffle(spark):
    from datafusion_postgres_spark.operators.lm import ngram_lm_score
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = ngram_lm_score(docs, docs.where("lang = 'en'"), dim=512)
    assert P.count_shuffles(out) <= 1


def test_tfidf_shuffle_budget(spark):
    # tf agg + df agg + word join + per-doc window: <= 5 exchanges total
    from datafusion_postgres_spark.operators.text import tfidf_top_terms
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = tfidf_top_terms(docs, k=3, max_df_ratio=0.5)
    assert P.count_shuffles(out) <= 5
