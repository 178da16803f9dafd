"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries execute with a `noop` sink (full computation, no driver
materialization) so the measurement is engine time, not collect() time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q9_product_profit",
    "agg_distinct_filter",
    "window_rank_topn",
    "join_using",
    "events_sessionize",
    "events_hourly_rollup",
    "dedup_exact_groups",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "text_fingerprint",
    # round-4 session-2 marquee operators (new rows — the 15 above stay
    # directly comparable with BENCH_r01..r03)
    "join_asof_events",
    "dedup_substring_pairs",
    "text_quality_classifier",
    # round-5 marquee: skew-immune temporal ops + SQ8 ANN (additions
    # only — all prior rows stay comparable with BENCH_r01..r04)
    "join_asof_bucketed",
    "events_sessionize_bucketed",
    "sim_cosine_sq8",
    # round-6 marquee: vocabulary-reduction BPE trainer + fully-oracled
    # distributed classifier training (additions only — prior rows stay
    # comparable with r01..r05; the multi-probe LSH row was retired with
    # its dominated ANN tier)
    "text_bpe_merges",
    "text_trained_classifier",
    # round-7 marquee: SCALE-MODE twins of the two exact-mode oracle
    # rows (additions only — prior rows stay comparable with r01..r06):
    # histogram-exact percentile gate (no corpus-sized SinglePartition
    # sort) and the df-capped library-default jaccard
    "text_trained_gate_scale",
    "dedup_ngram_jaccard_capped",
    "dedup_substring_pairs_capped",
    # round-7 marquee: perceptual image near-dup (real PNG encode ->
    # zlib pixel decode -> integer aHash -> pigeonhole-blocked pairs)
    "multimodal_image_neardups",
    # round-8 marquee: video frame-sample near-dup (real ISO-BMFF
    # encode -> box-walk frame extraction -> per-position blocked
    # pairs) — addition only, prior rows stay comparable with r01..r07
    "multimodal_video_neardups",
    # round-9 marquee: the linear-output dedup KEEP path (collapse +
    # rep-graph union-find, operators/repgraph.py) in the driver bench
    # so regressions in the union-find path are caught per round —
    # additions only, prior rows stay comparable with r01..r08. The
    # text row is the df-CAPPED scale twin (fully oracled, the
    # jaccard_capped convention): exact mode pays ~6M candidates
    # through sf0.1's near-constant hot chunk by contract.
    "multimodal_image_dedup_keep",
    "text_simhash_dedup_keep_scale",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from datafusion_postgres_spark.session import build_spark
    from datafusion_postgres_spark.functions import register_functions
    from datafusion_postgres_spark.queries import load_all

    spark = build_spark(app_name="bench")
    register_functions(spark)  # catalog-free: bench queries never touch pg_catalog
    reg = load_all()

    # JVM/codegen warmup on the smallest SF so measured times are
    # steady-state: EVERY headline query once (warming only q1/q3 left the
    # other queries' first sf0.1 run paying codegen — with min-of-n that
    # injects noise into the reported number)
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        for name in HEADLINE:
            if name in reg:
                reg[name].fn(spark, warm).write.format("noop").mode("overwrite").save()

    # three runs per query, report the min: steady-state engine time, not
    # first-run codegen/file-listing overhead
    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = reg.get(name)
        if spec is None:
            continue
        best = float("inf")
        for _ in range(3):
            start = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
