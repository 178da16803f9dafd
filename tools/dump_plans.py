"""Generate PLANS.md: formatted physical plans of the headline queries at
sf0.1 with the scale-relevant properties extracted (pushed filters, read
schemas, broadcasts, shuffle counts). Re-run after plan-affecting changes:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COMMENTARY = {
    "q1_pricing_summary":
        "One hash-shuffle (the groupBy). Filter pushed into the parquet "
        "scan; 7 of 11 lineitem columns read.",
    "q3_shipping_priority":
        "Round 4: forced customer broadcast removed (SF-proportional) — "
        "AQE broadcasts it by measurement at this SF, shuffles at scale; "
        "orders⋈lineitem shuffle on orderkey; top-10 via "
        "TakeOrderedAndProject (no global sort).",
    "q5_local_supplier_volume":
        "nation/region broadcast; the supplier co-membership condition "
        "keeps one shuffle-join chain over the facts.",
    "q8_market_share":
        "Two-level aggregation (per-year volume, share division at the "
        "end). Round 4: forced hints remain ONLY on nation/region "
        "(bounded); customer/supplier are unhinted — AQE broadcasts them "
        "when measured-small, shuffles at 100x.",
    "q9_product_profit":
        "part filter pushed to the scan prunes the lineitem join early; "
        "profit expression stays inside codegen. Round 4: only nation "
        "keeps a forced broadcast; part/supplier are AQE-decided.",
    "dedup_ngram_jaccard":
        "Per-doc shingle arrays are a zero-shuffle projection (cached); "
        "prefix-filtered self-join bounds candidates; verification via "
        "array_intersect on candidate ids only. Round 2: candidates are "
        "NOT pre-deduplicated (duplication factor 1.05x measured — "
        "re-verifying beats a full shuffle-dedup); the small verified "
        "result dedupes at the end.",
    "dedup_minhash_lsh":
        "Signatures + band hashes (one xxhash64 per band over the sig "
        "slice) in ONE projection; only band collisions shuffle; "
        "verification joins candidate ids against cached arrays. Round 3: "
        "candidates ARE pre-deduplicated again — measured band-collision "
        "duplication on the round-3 corpus is 3.0x (not the ~1.05x round "
        "2 assumed), so one narrow (id,id) distinct beats verifying each "
        "pair thrice; the post-verify distinct is gone (inputs unique). "
        "Round 4 (final): the registered query runs the PRODUCTION "
        "xxhash64 banding — the oracle verifies banding SEMANTICS by "
        "joining signature slices directly (equal slices <=> equal "
        "xxhash64 bucket), so the fast path and the full oracle coexist.",
    "sim_cosine_topk":
        "Query vectors broadcast — the corpus NEVER shuffles; per-query "
        "top-k via window over qid.",
    "events_sessionize":
        "Both windows share the user_id partitioning — a single exchange "
        "feeds lag + running-sum + the final aggregation.",
    "dedup_simhash_signatures":
        "Round-2 fix: the 48 bit-majorities fold over the per-row word-hash "
        "array — a pure codegen projection, NO Exchange before the "
        "signature (round 1 exploded every word occurrence into a groupBy).",
    "window_suite":
        "All eight §2.5 window families evaluate in one Window node over "
        "one hash-partitioning on o_custkey (high cardinality, no "
        "straggler partition).",
    "window_ntile_first_last":
        "Round-2 fix: global NTILE WITHOUT a single-partition window — "
        "coarse bucket counts give cumulative offsets (tiny aggregate), "
        "global rank = offset + partitioned row_number, NTILE arithmetic "
        "from the broadcast total. No Exchange SinglePartition on the "
        "per-row path.",
    "agg_stats_having":
        "stddev/var/corr from exact integer/decimal sums: one map-side-"
        "combined aggregation (single shuffle), moments finished as "
        "identical IEEE double expressions (cross-engine hash-stable).",
    "dedup_embedding_cosine":
        "Exact O(n²) baseline: one side broadcast, dot products inside "
        "whole-stage codegen, the corpus side never shuffles. The 100 TB "
        "path is dedup_embedding_lsh (below).",
    "dedup_embedding_lsh":
        "Multi-table hyperplane LSH: 4 signature tables per vector in ONE "
        "projection; the self-join keys on (table, bucket) so shuffle "
        "volume is collisions, never n²; exact-cosine verify on candidates "
        "only (precision 1.0 by construction).",
    "window_range_frame":
        "RANGE frames (peer-aware + value-offset) over the o_custkey "
        "partitioning: one shuffle, no single-partition window; RANGE "
        "makes the result independent of within-peer row order.",
    "skew_twophase_agg":
        "Salted pre-aggregate on (key, salt) then merge on key: the hot "
        "key's partials spread over 16 tasks; exact decimal sums make the "
        "rewrite provably semantics-preserving (oracle equality).",
    "dedup_components":
        "Min-label propagation over the verified jaccard pair graph: each "
        "round is join-on-endpoint + min-aggregate-on-id (two id-keyed "
        "shuffles), labels persisted per round with bounded lineage; "
        "near-clique dup components converge in 2-3 rounds. NOTE: the "
        "shuffle count below is an artifact of EXPLAIN unfolding every "
        "round's already-materialized cached plan — executed work per "
        "round is 2 shuffles against the persisted previous labels.",
    "text_fts_search":
        "tsvector projection is pure codegen (split/filter/porter-lite "
        "stem transforms/sort, no UDF); the query-term array folds to a "
        "literal so the @@ match is a scan-side filter — no shuffle at "
        "all before the final sort.",
    "join_asof_events":
        "As-of join with NO join node: union-tag + running "
        "last(ignorenulls) window — a single user_id exchange carries "
        "both sides; per-row state in the sort is one struct. The "
        "quadratic candidate formulation exists only in the ORACLE.",
    "join_range_islands":
        "Gaps-and-islands (global window over the BOUNDED busy-hour set "
        "— single partition is correct there) feeding the binned "
        "interval join: islands explode to hour bins, errors map to one "
        "bin each, candidates meet in an equi-join; no inequality join "
        "anywhere.",
    "join_scd2_enrich":
        "SCD2 enrichment: version intervals from one lead() window on "
        "the (small) dimension; facts join on user_id + half-open range "
        "predicate — disjoint versions mean at most one match per fact, "
        "and AQE broadcasts the dim when measured-small.",
    "geo_radius_pairs":
        "Grid-binned radius join: one side exploded to its 3x3 cell "
        "neighborhood (constant 9x), equi-join on (cx, cy), exact "
        "distance filter in codegen. The O(n²) inequality join exists "
        "only in the oracle.",
    "text_quality_classifier":
        "fastText-style hashed-ngram scoring entirely inside one "
        "codegen projection (feature hash + LCG weight + logistic): "
        "zero shuffles — scores at scan speed at any corpus size.",
    "text_quantile_gate":
        "Exact mode (registered): percent_rank over the per-lang score "
        "window — one shuffle. Production switch mode='approx' computes "
        "percentile_approx thresholds in one aggregate pass and "
        "broadcasts the bounded threshold table (no sort at 100 TB).",
    "text_dsir_weights":
        "DSIR importance weights: ONE corpus scan builds both hashed-"
        "ngram count tables (count + conditional count per bucket, "
        "<= dim rows shuffle), the fixed-point log-ratio table ships "
        "back as a single array Literal, and scoring is a zero-shuffle "
        "codegen projection — the 100 TB side is touched twice, "
        "shuffled never.",
    "text_dsir_sample":
        "Gumbel-top-k resampling on top of the DSIR weights: the "
        "seeded hash Gumbel key is one more projection and selection "
        "is TakeOrderedAndProject — an exact weighted sample without "
        "replacement, no global sort.",
    "text_lm_perplexity":
        "Hashed bigram LM: context+pair counts explode TOGETHER in one "
        "training scan (offset-disambiguated buckets); scoring looks "
        "up two dim-sized array Literals per bigram inside codegen — "
        "zero shuffles on the scored corpus.",
    "dedup_decontaminate_bloom":
        "Bloom-prefilter decontamination: the packed-word bitset is ONE "
        "array<bigint> Literal probed in pure codegen INSIDE the grams "
        "array (filter before explode — no UDF, no Arrow hop); only "
        "bloom survivors explode into the exact-confirm equi-join. "
        "Same exact output as dedup_decontaminate at ~1/25th the "
        "broadcast memory.",
    "text_tfidf_topk":
        "tf-idf keywords: two partial-agg shuffles (tf, df), max-df cap "
        "drops corpus stopwords BEFORE the word join (removing the "
        "hottest keys), fixed-point idf keeps scores integer-exact; "
        "per-doc top-k window on the doc key.",
    "text_domain_cap":
        "Per-domain cap: one shuffle on the domain key, per-group "
        "row_number with hash tie-break — the pathological hot domain "
        "is a window spill, not an OOM.",
    "pg_recursive_cte":
        "WITH RECURSIVE (Spark-4 native UnionLoop): the month ladder "
        "recursion is driver-bounded (~80 iterations over one row), "
        "then one equi-join + aggregation against orders.",
    "join_asof_bucketed":
        "Round 5: hot-key-immune as-of — the event-sized window "
        "partitions on (user_id, time_bucket) so AQE's un-splittable "
        "window partitions stay bounded; cross-bucket matches arrive "
        "via a per-key carry window over ONE-ROW bucket summaries. "
        "Identical output to join_asof_events (same oracle), ~17% "
        "overhead measured on the 1M-event skewed harness.",
    "events_sessionize_bucketed":
        "Round 5: hot-key-immune sessionization — local sessions per "
        "(user_id, time_bucket), then a segmented merge over bucket "
        "summaries (boundary gap <= timeout joins sessions; global ids "
        "from a per-key prefix sum of adjusted session counts). Same "
        "output as events_sessionize.",
    "text_source_contamination":
        "Round 5: Bloom decontaminate (corpus never shuffles; pure-"
        "codegen bitset probe) + one source-keyed rollup; exact integer "
        "counts, single double division.",
    "text_bpe_merges":
        "Round 6: ONE corpus pass reduces to the distinct-(word, count) "
        "vocabulary (map-side-combined groupBy); every merge iteration "
        "is vocab-sized — pair-count shuffle rows invariant to corpus "
        "duplication (BENCH_SCALE: 229 = 229 at 2x). Under the "
        "local_vocab_limit the merge loop runs driver-side "
        "(kmeans-centroid shape), so the plan shown is just the "
        "vocabulary reduction.",
    "text_trained_classifier":
        "Round-6 marquee: TRAINED logistic classifier. The plan shown is "
        "the SCORING pass — one zero-shuffle codegen projection against "
        "the final weight literal. Training (2 iterations) ran before "
        "this plan: each iteration is one pass over the persisted "
        "feature frame with a partial-aggregated groupBy(bucket) whose "
        "shuffle is dim running sums per partition (BENCH_SCALE "
        "clf_gradient rows), never corpus-sized.",
    "text_trained_gate":
        "Train -> score -> exact percentile gate composed as one plan. "
        "The global percent_rank window is the documented oracle-mode "
        "cost; the scale default is text_trained_gate_scale below.",
    "text_trained_gate_scale":
        "Round 7: the SCALE default — same kept set, but the gate is "
        "filter_by_quantile(mode='hist'): the only sorted exchange "
        "carries the DISTINCT ROUND(x,6) score histogram (<=1e6 rows "
        "forever), the corpus never crosses a SinglePartition sort "
        "(measured 63 vs 10,000 shuffle rows in the pytest pin), and "
        "the threshold broadcast-joins back onto the cached scores.",
    "dedup_ngram_jaccard_capped":
        "Round 7: the library-default df-cap (max_df=1000) as benched — "
        "boilerplate join-key grams drop BEFORE the self-join, bounding "
        "the hottest key; capped-vs-uncapped cliff quantified in "
        "BENCH_SCALE jaccard_* rows.",
    "dedup_substring_pairs_capped":
        "Round 7: df-capped window fingerprints (the default), same "
        "bound argument as the jaccard cap; BENCH_SCALE substring_* "
        "rows hold the cliff evidence.",
    "multimodal_image_neardups":
        "Round 7 (+ round-8 skew hardening): real PNG encode -> zlib "
        "pixel decode -> integer aHash in ONE zero-shuffle mapInPandas "
        "scan; pairing is the pigeonhole chunk equi-join (4 small ints "
        "per image cross the shuffle, never pixels), then a hamming "
        "filter. Round 8 collapses identical signatures to one "
        "representative BEFORE the blocking join (a 20% byte-identical "
        "clique contributes one row; its hamming-0 pairs come from a "
        "group-key equi-join, AQE-splittable) and caps chunk values in "
        ">1000 DISTINCT signatures — the two real-corpus skew killers; "
        "BENCH_SCALE image_clique_* rows hold the widest-node-flat "
        "evidence.",
    "multimodal_video_neardups":
        "Round 8: real ISO-BMFF encode -> box-walk frame extraction -> "
        "per-frame aHash in one zero-shuffle mapInPandas scan "
        "(n_sampled_frames rows of 4 ints per video, independent of "
        "video bytes); pairing is the SAME blocked equi-join with the "
        "frame position as an extra blocking key (cross-position frames "
        "never meet the join), then a per-video-pair rollup. All-frames "
        "match (n_frames = sampled count) is the dedup criterion.",
    "multimodal_mixed_format_neardups":
        "Round 8: the format-independence pin as an oracled row — the "
        "same pixels flow through three different decoders (PNG zlib+"
        "defilter, GIF LZW, netpbm raw) inside the one decode scan; the "
        "plan is identical to multimodal_image_neardups because format "
        "dispatch is per-row Python inside the same mapInPandas stage.",
    "multimodal_image_dedup_keep":
        "Round 8: the LINEAR-OUTPUT dedup pass — survivors (min per "
        "near-dup component, singletons included) computed WITHOUT "
        "materializing within-clique pairs: non-representative members "
        "lose by construction and min-label components run over the "
        "small representative pair graph; nothing corpus-sized is "
        "cached (the keep path skips the members frame entirely).",
    "text_simhash_dedup_keep_scale":
        "Round 9: the text keep on the shared collapse contract "
        "(operators/repgraph.py) with the df cap BOUND at this corpus "
        "— one 12-bit chunk value is near-constant across all distinct "
        "signatures, so exact mode is output-bound ~6M candidates by "
        "contract; the cap drops those hot (ci, value) keys from the "
        "blocking join and the oracle replays the cap arithmetic. "
        "Rep-edge components run in ONE driver union-find action over "
        "two Arrow long columns.",
    "text_simhash_dedup_incremental":
        "Round 9: per-batch NEAR-dup ingest against simhash chunk "
        "state — batch signatures join state on (ci, chunk) equality "
        "only (pigeonhole-exact at hamming <= 3), in-batch survivors "
        "through the same collapse-bounded pairing; at 100 TB the "
        "state is bucketed on the chunk key so the join is "
        "co-partitioned with no state-side shuffle.",
    "multimodal_image_dedup_incremental":
        "Round 9: the IMAGE ingest answer as an oracled row — batch "
        "signatures (distinct per signature, the r8 state collapse) "
        "join the state on (ci, chunk) equality; in-batch survivors "
        "through the collapse-bounded pairing; zero-shuffle "
        "mapInPandas decode on both sides.",
    "dedup_embedding_keep":
        "Round 9: the embedding modality on the keep contract — "
        "exact-vector collapse (zero-norm vectors filtered BEFORE any "
        "cosine division: ANSI mode raises on /0), four-table "
        "hyperplane banding + exact-cosine verify over representatives "
        "only, driver union-find over the rep-edge graph.",
    "text_clf_auc":
        "Round 8: tie-corrected Mann-Whitney AUC from the bounded "
        "ROUND(x,6) score histogram; the cumulative pass is the "
        "window_ntile bucket-offset two-pass — the histogram only "
        "crosses a window PARTITIONED by the coarse bucket, the "
        "unpartitioned window sees ~1000 bucket rows per unit of score "
        "range, and pair counts accumulate as DECIMAL(38,0) (no int64 "
        "overflow at 1e10+ docs/class).",
    "text_domain_reweight":
        "DoReMi-flavored mixture reweight: per-domain integer NLL "
        "aggregates (map-side combined), two broadcast joins of "
        "bounded one-row/k-row aggregates — nothing corpus-sized "
        "shuffles; the LM scoring projection is the only corpus pass.",
    "text_train_eval_split":
        "Stratified deterministic holdout: both sides are zero-shuffle "
        "scan filters on the salted fingerprint; the plan is the "
        "per-language count aggregation over them.",
}


def main() -> None:
    from datafusion_postgres_spark.plans import inspect as P
    from datafusion_postgres_spark.queries import load_all
    from datafusion_postgres_spark.session import build_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark(app_name="dump-plans")
    from datafusion_postgres_spark.functions.registry import register_all
    register_all(spark)
    reg = load_all()

    out = ["# PLANS — physical plans of the headline queries (generated by "
           "tools/dump_plans.py)",
           "",
           f"Scale factor dir: `{sf_dir}`. For each query: the properties "
           "that must hold at 100 TB, then the formatted plan.", ""]
    for name, note in COMMENTARY.items():
        df = reg[name].fn(spark, sf_dir)
        out.append(f"## {name}")
        out.append("")
        out.append(note)
        out.append("")
        out.append(f"- shuffles (pre-AQE): {P.count_shuffles(df)}")
        out.append(f"- broadcast join: {P.uses_broadcast(df)}")
        pushed = P.pushed_filters(df)
        if pushed:
            out.append(f"- pushed filters: `{', '.join(pushed[:6])}`")
        scans = P.scan_columns(df)
        if scans:
            cols = sorted(scans[0])
            out.append(f"- first scan reads: `{', '.join(cols)}`")
        out.append("")
        out.append("```")
        plan = P.simple_plan(df)
        out.append(plan[:3000] + ("\n… (truncated)" if len(plan) > 3000
                                  else ""))
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
