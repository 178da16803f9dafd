"""ANN quality harness: measured recall@k of every index tier against
exact brute force on the embeddings table, with BUILD time (training +
encoding — paid once at ingest) separated from QUERY time.

Writes ANN_RECALL.json: {"sf": ..., "k": 10, "n_queries": N,
 "methods": {name: {"recall_at_k": r, "build_sec": b, "query_sec": s}}}.

Run: python tools/bench_ann.py   (~1-2 min at sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from datafusion_postgres_spark.operators import similarity as S
    from datafusion_postgres_spark.session import build_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    k, n_queries = 10, 20
    spark = build_spark(app_name="bench_ann")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = (emb.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qvec")))

    # ---- index builds (at-scale these run once at ingest) ----
    builds = {}
    t0 = time.perf_counter()
    cents = S.kmeans_centroids(emb, k=16, iters=3)
    cents.cache().count()
    builds["ivf"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    bounds = S.sq8_train(emb)
    sq_codes = S.sq8_encode(emb, *bounds).cache()
    sq_codes.count()
    builds["sq8"] = time.perf_counter() - t0

    methods = {
        "exact_bruteforce": (0.0,
                             lambda: S.cosine_topk_bruteforce(emb, q, k=k)),
        "ivf_trained": (builds["ivf"], lambda: S.cosine_topk_ivf(
            emb, q, k=k, n_centroids=16, n_probe=4, centroids=cents)),
        "sq8": (builds["sq8"], lambda: S.cosine_topk_sq8(
            emb, q, k=k, bounds=bounds, codes=sq_codes)),
        "ivf_sq8": (builds["ivf"] + builds["sq8"],
                    lambda: S.cosine_topk_ivf_sq8(
                        emb, q, k=k, n_centroids=16, n_probe=4,
                        centroids=cents, bounds=bounds, codes=sq_codes)),
    }

    def top_set(fn):
        t0 = time.perf_counter()
        got = {(r["qid"], r["vec_id"]) for r in fn().collect()}
        return got, time.perf_counter() - t0

    exact, _ = top_set(methods["exact_bruteforce"][1])
    out = {}
    for name, (build_sec, fn) in methods.items():
        got, sec = top_set(fn)
        recall = len(got & exact) / max(len(exact), 1)
        out[name] = {"recall_at_k": round(recall, 4),
                     "build_sec": round(build_sec, 3),
                     "query_sec": round(sec, 3)}
        print(f"  {name}: recall@{k}={recall:.3f} "
              f"build={build_sec:.2f}s query={sec:.2f}s", file=sys.stderr)

    payload = {"sf": sf_dir, "k": k, "n_queries": n_queries,
               "methods": out}
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "ANN_RECALL.json")
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
