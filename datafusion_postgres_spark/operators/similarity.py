"""Similarity search over embedding columns (`array<float>`).

TIER ROUTING (measured recall@10 at sf0.1, ANN_RECALL.json). The ladder
is exact -> sq8 -> ivf / ivf_sq8 -> persistent index:
  * exact brute force (recall 1.0, no build) for eval sets: the query
    side broadcasts, the corpus never shuffles.
  * **sq8 (0.985 recall) is the first compression rung** — 4x-compressed
    codes, no codebook training, zero corpus shuffle at query time.
  * ivf (0.90) / ivf_sq8 (0.89) when a query must scan only a few
    cells; the persistent index (sources/ann_index.py) adds STATIC
    partition pruning on top of ivf_sq8. Route 100 TB workloads here.
The sign-LSH signature (`lsh_bucket_expr`) stays as the blocking key of
the embedding near-dup operators (dedup.embedding_cosine_pairs_lsh), not
as a top-k tier.

Scale design:
  * `cosine_topk_bruteforce` — the exact baseline. The query side is
    `broadcast()` (it is top-k *for a small query set*, the common shape in
    retrieval evals), so the big embedding table never shuffles: one
    broadcast-nested-loop with a codegen'd dot product, then a skew-immune
    two-stage per-query top-k (`_topk_per_query`: partition-local rank
    first, so no task ever holds a corpus-sized candidate group).
  * Dot products use `F.zip_with` + `F.aggregate` — JVM-side, no Python.
    Deterministic left-to-right summation (stable across engines for the
    DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from datafusion_postgres_spark.operators.litexpr import dlit, ilit


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, v: acc + v * v))


def _norm_sql(a: str) -> str:
    """SQL text of ``_norm`` over a column/expression NAME — same fold
    tree as the Column form, one parse instead of ~15 py4j round-trips
    (round-10 batch-11 convention; the trivial double→double cast on
    the seed folds away identically in both forms)."""
    return (f"SQRT(aggregate({a}, CAST(0.0D AS DOUBLE), "
            "(acc, v) -> acc + v * v))")


def _usable_norm(a):
    """True iff the vector is inside the cosine domain: norm finite
    AND positive. Zero-norm vectors make the cosine divide raise under
    Spark 4's default ANSI mode; non-finite elements make it NaN — and
    Spark compares NaN LARGER than any value, so an unfiltered
    NaN-cosine pair passes every `>= threshold` cut as a phantom
    duplicate (round-10 ADVICE fix). `n < inf` also rejects NaN norms
    (NaN sorts above inf in Spark comparisons)."""
    n = _norm(a)
    return (n > 0) & (n < F.lit(float("inf")))


def cosine_similarity(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def embedding_norms(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-label norm statistics — sanity profile of an embedding corpus."""
    v = F.col(vec_col)
    casted = F.transform(v, lambda x: x.cast("double"))
    return (emb
            .select("label", _norm(casted).alias("l2"))
            .groupBy("label")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("l2"), 6).alias("avg_l2"),
                 F.round(F.min("l2"), 6).alias("min_l2"),
                 F.round(F.max("l2"), 6).alias("max_l2"))
            .orderBy("label"))


def _self_pred(exclude_self: bool):
    # exclude_self=True assumes queries are drawn from the corpus id space
    # (self-match suppression); pass False when qids are external and a
    # coincidental id collision must not drop a corpus vector.
    return (F.col("vec_id") != F.col("qid")) if exclude_self else F.lit(True)


def _topk_per_query(scored: DataFrame, k: int, score_col: str,
                    id_col: str = "vec_id") -> DataFrame:
    """Skew-immune per-query top-k rank over a (qid, id, score) stream.

    A single ``Window.partitionBy(qid)`` puts a query's ENTIRE candidate
    set in one task — corpus-sized for brute force, cell-sized for IVF —
    the straggler/OOM shape AQE cannot split (skew handling applies to
    joins, not windows). Stage 1 ranks within (qid, physical input
    partition): group size is bounded by the scan split, never by the
    corpus, and only k rows per (qid, partition) survive. Stage 2 ranks
    the ≤ k x n_partitions survivors per query — a tiny window. Every
    global top-k row is necessarily in its partition's local top-k and
    (score desc, id asc) is a total order per query, so the output is
    IDENTICAL to the one-window form (equality-pinned in tests)."""
    # _pid/_lrn are internal stage columns and rnk is the output rank:
    # the selectExpr('*', ...) stages would DUPLICATE (not replace) a
    # caller column of the same name and fail later with an ambiguous
    # reference — reject up front (round-11 ADVICE fix)
    clash = {"_pid", "_lrn", "rnk"}.intersection(scored.columns)
    if clash:
        raise ValueError(
            f"_topk_per_query: input columns {sorted(clash)} clash with "
            "reserved stage/output names (_pid, _lrn, rnk)")
    # window stages as single parses (round-10 batch 11): identical
    # Window specs, ~20 fewer py4j round-trips per build
    order = f"ORDER BY `{score_col}` DESC, `{id_col}` ASC"
    return (scored
            .selectExpr("*", "spark_partition_id() AS _pid")
            .selectExpr("*", "row_number() OVER (PARTITION BY qid, _pid "
                             f"{order}) AS _lrn")
            .where(f"_lrn <= {int(k)}").drop("_pid", "_lrn")
            .selectExpr("*", "CAST(row_number() OVER (PARTITION BY qid "
                             f"{order}) AS BIGINT) AS rnk")
            .where(f"rnk <= {int(k)}"))


def cosine_topk_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 10,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           exclude_self: bool = True) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    `queries` has columns (qid, qvec). The query side is broadcast — the
    corpus never shuffles; ranking shuffles only (qid, candidate) pairs.
    ``exclude_self`` (default True) treats qids as corpus ids and drops
    self-matches; set False for an external query id space."""
    corpus = emb.select(F.col(id_col).alias("vec_id"),
                        F.transform(F.col(vec_col),
                                    lambda x: x.cast("double")).alias("vec"))
    q = queries.select("qid",
                       F.transform(F.col("qvec"),
                                   lambda x: x.cast("double")).alias("qvec"))
    scored = (corpus.crossJoin(F.broadcast(q))
              .where(_self_pred(exclude_self))
              .select("qid", "vec_id",
                      F.round(cosine_similarity(F.col("vec"), F.col("qvec")),
                              6).alias("cos_sim")))
    return (_topk_per_query(scored, k, "cos_sim")
            .select("qid", "vec_id", "cos_sim", "rnk"))


# deterministic pseudo-random hyperplanes: plane p, dim d weight in {-1,+1}.
def _plane_sign_value(p: int, d: int) -> float:
    """±1 hyperplane weight as a pure function of (p, d) via SHA-256.

    The round-5 LCG ((p*A + d*B + c) mod M, parity) was AFFINE in d
    with no modular wrap for d < 64, so every plane was the same ±
    pattern up to a global sign — measured: only 2 of 256 buckets
    occupied on the sf0.1 corpus, i.e. no blocking at all (candidate
    generation degenerated to half the corpus, a quadratic blowup at
    scale that also inflated apparent recall). Cryptographic mixing
    makes planes independent; both Spark and the DuckDB oracle fold
    the same literals, so cross-engine determinism is unchanged."""
    import hashlib
    h = hashlib.sha256(f"lsh-plane:{p}:{d}".encode()).digest()
    return 1.0 if h[0] % 2 == 0 else -1.0


def _proj_sql(vec_sql: str, p: int, dims: int, plane_offset: int = 0) -> str:
    """SQL text of one plane's signed projection — the same
    left-to-right zip_with/aggregate fold the Column form builds, as a
    string so the whole n_planes family costs ONE ``F.expr`` parse
    instead of ~n_planes*10 py4j round-trips (measured ~4 ms per
    round-trip on the bench host — construction was dominating the
    LSH rows). Weight literals use the dlit repr()+``D`` spelling, so
    they parse to the identical doubles."""
    ws = ",".join(f"{_plane_sign_value(p + plane_offset, d)!r}D"
                  for d in range(dims))
    return (f"aggregate(zip_with({vec_sql}, array({ws}), "
            "(x, w) -> x * w), CAST(0.0D AS DOUBLE), (acc, v) -> acc + v)")


def lsh_bucket_expr(vec, n_planes: int, dims: int, plane_offset: int = 0):
    """Random-hyperplane signature: bit p = sign(sum_d vec[d]*w[p,d]).

    ``plane_offset`` selects a disjoint plane family — multi-table LSH
    (embedding_cosine_pairs_lsh) uses offset ti*n_planes per table.

    Pass the column NAME (production call sites do) for the
    single-``F.expr``-parse build; a Column argument keeps the
    composed form. Both build the same projection folds / sign bits /
    bucket sum — value-pinned equal in tests."""
    if isinstance(vec, str):
        bits = ",".join(
            f"CASE WHEN {_proj_sql(vec, p, dims, plane_offset)} >= 0 "
            f"THEN {1 << p} ELSE 0 END"
            for p in range(n_planes))
        return F.expr(f"aggregate(array({bits}), CAST(0 AS BIGINT), "
                      "(acc, x) -> acc + x)")
    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec,
                       dlit(_plane_sign_value(p + plane_offset, d)
                            for d in range(dims)),
                       lambda x, w: x * w),
            F.lit(0.0).cast("double"), lambda acc, v: acc + v)
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return F.aggregate(F.array(*bits), F.lit(0).cast("long"),
                       lambda acc, x: acc + x)


def ivf_assign(emb: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Assign every vector to its nearest centroid (IVF coarse quantizer).

    The centroid table is k-bounded (n_centroids rows), so it ships as
    THREE literals — a flat k×d matrix, the k norms, the k ids — and the
    nearest-centroid choice is a per-row argmax fold over a
    CONSTANT-SIZE expression tree (a transform over the id list slicing
    the matrix): ZERO shuffle, zero join nodes, and O(1) plan-build cost
    in k (an F.array of k per-centroid subtrees costs seconds of py4j
    expression construction PER CALL at k=16 — measured: the fold ran in
    0.3s while each call spent ~1.5s building the tree). The previous
    shape (crossJoin(broadcast) + Window.partitionBy(vec_id) row_number)
    shuffled n×k rows per call — on the INGEST path, and once per
    k-means iteration — which at 100 TB is k extra corpus copies through
    the exchange.

    Exactness vs the join form: the fold iterates in ascending
    centroid_id with strict ``>`` (lowest id wins ties), Spark's
    NaN-is-largest comparisons match the former ``desc(sim)`` sort for
    zero-norm vectors, and each cosine is the identical IEEE sequence —
    the same left-to-right dot, one hoisted row-norm fold (kept
    materialized: CollapseProject never inlines a multiply-referenced
    non-cheap alias), and centroid norms precomputed driver-side with
    _norm's exact fold order. Window-reference equality is pinned in
    tests and by every IVF oracle row.

    At ingest scale the output is written partitioned/bucketed by
    centroid_id so probes scan only their cells."""
    import math

    from datafusion_postgres_spark.operators.text import (
        ensure_min_parallelism)

    cents = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]])
        for r in centroids.select("centroid_id", "cvec").collect())
    if not cents:
        raise ValueError("ivf_assign: empty centroid table")
    corpus = ensure_min_parallelism(emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec")))
    corpus = corpus.withColumn("__nv", _norm(F.col("vec")))

    def _norm_py(v: list[float]) -> float:
        acc = 0.0
        for x in v:          # plain left-to-right fold, exactly _norm
            acc = acc + x * x
        return math.sqrt(acc)

    d = len(cents[0][1])
    mat = dlit(x for _, cv in cents for x in cv)
    norms = dlit(_norm_py(cv) for _, cv in cents)
    cids = ilit(cid for cid, _ in cents)
    scored = F.transform(
        cids,
        lambda cid, i: F.struct(
            (_dot(F.col("vec"), F.slice(mat, i * d + 1, F.lit(d))) /
             (F.col("__nv") * F.element_at(norms, (i + 1).cast("int"))))
            .alias("sim"),
            cid.alias("cid")))
    # -inf sentinel: any real sim (and NaN, which Spark orders largest)
    # beats it, so the fold's first comparison adopts centroid 0 and the
    # sentinel cid can never survive a non-empty centroid list.
    best = F.aggregate(
        scored,
        F.struct(F.lit(float("-inf")).alias("sim"),
                 F.lit(-1).cast("int").alias("cid")),
        lambda acc, s: F.when(s["sim"] > acc["sim"], s).otherwise(acc))
    return corpus.select("vec_id", "vec", best["cid"].alias("centroid_id"))


def deterministic_centroids(emb: DataFrame, n_centroids: int = 16,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Deterministic coarse centroids: the first n vectors by id — the
    zero-cost fallback / k-means seed (see :func:`kmeans_centroids`)."""
    return (emb.orderBy(id_col).limit(n_centroids)
            .select(F.col(id_col).alias("centroid_id"),
                    F.col(vec_col).alias("cvec")))


def kmeans_centroids(emb: DataFrame, k: int = 16, iters: int = 3,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Spherical k-means (Lloyd's) for the IVF coarse quantizer, entirely
    in DataFrame ops.

    Per iteration: the k centroids are broadcast for the argmax-cosine
    assignment (corpus never shuffles), then the elementwise means come
    back through ONE partial-aggregated groupBy — shuffle volume is
    k×dims running sums per partition, independent of corpus size. The k
    centroid rows land on the driver between iterations (k≈16 rows — the
    standard Lloyd's-on-Spark shape; keeps lineage flat instead of
    stacking `iters` plans).

    Fully deterministic: seed = first k vectors by id (L2-normalized),
    fixed iteration count, fixed fold order. Empty clusters keep their
    previous centroid."""
    import math

    spark = emb.sparkSession
    # _unit_vectors' array_repeat shape, not transform(x / _norm(raw)):
    # the inline-norm lambda re-folds the d-element norm PER ELEMENT
    # (d^2 interpreted ops per row); zip_with divides by the identical
    # double, so values are bit-unchanged (round-10 cleanup — kmeans
    # was the one normalize site still on the quadratic shape).
    unit = _unit_vectors(emb, vec_col, id_col)

    seed = unit.orderBy("vec_id").limit(k).collect()
    dims = len(seed[0]["vec"])
    cents = {i: list(r["vec"]) for i, r in enumerate(seed)}

    def _unit_py(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else v

    for _ in range(iters):
        cdf = spark.createDataFrame(
            [(cid, v) for cid, v in sorted(cents.items())],
            "centroid_id INT, cvec ARRAY<DOUBLE>")
        assigned = ivf_assign(unit, cdf, vec_col="vec", id_col="vec_id")
        means = (assigned.groupBy("centroid_id")
                 .agg(*[F.avg(F.col("vec")[d]).alias(f"d{d}")
                        for d in range(dims)]).collect())
        new = {r["centroid_id"]: _unit_py([r[f"d{d}"] for d in range(dims)])
               for r in means}
        cents = {cid: new.get(cid, v) for cid, v in cents.items()}

    return spark.createDataFrame(
        [(cid, v) for cid, v in sorted(cents.items())],
        "centroid_id INT, cvec ARRAY<DOUBLE>")


def cosine_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 10,
                    n_centroids: int = 16, n_probe: int = 4,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    kmeans_iters: int = 3,
                    exclude_self: bool = True,
                    centroids: DataFrame | None = None) -> DataFrame:
    """IVF approximate top-k: corpus assigned to inverted cells once; each
    query probes its n_probe nearest cells only. Scan cost drops by
    ~n_probe/n_centroids versus brute force with recall controlled by
    n_probe. Cells come from spherical k-means (kmeans_iters=0 falls back
    to the first-n-by-id seed); pass precomputed ``centroids`` for the
    at-scale flow (train once at ingest)."""
    if centroids is not None:
        cents = centroids
    elif kmeans_iters > 0:
        cents = kmeans_centroids(emb, n_centroids, kmeans_iters,
                                 vec_col, id_col)
    else:
        cents = deterministic_centroids(emb, n_centroids, vec_col, id_col)
    assigned = ivf_assign(emb, cents, vec_col, id_col)
    q = queries.select(
        "qid", F.transform(F.col("qvec"),
                           lambda x: x.cast("double")).alias("qvec"))
    c = cents.select(
        "centroid_id",
        F.transform(F.col("cvec"), lambda x: x.cast("double")).alias("cvec"))
    qc = (q.crossJoin(F.broadcast(c))
          .select("qid", "qvec", "centroid_id",
                  cosine_similarity(F.col("qvec"), F.col("cvec")).alias("sim")))
    wq = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (qc.withColumn("rn", F.row_number().over(wq))
              .where(F.col("rn") <= n_probe)
              .select("qid", "qvec", "centroid_id"))
    scored = (assigned.join(F.broadcast(probes), "centroid_id")
              .where(_self_pred(exclude_self))
              .select("qid", "vec_id",
                      F.round(cosine_similarity(F.col("vec"), F.col("qvec")),
                              6).alias("cos_sim")))
    return (_topk_per_query(scored, k, "cos_sim")
            .select("qid", "vec_id", "cos_sim", "rnk"))


def _unit_vectors(emb: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    # the norm rides an array_repeat so its fold runs ONCE per row: a
    # `transform(raw, x -> x / _norm(raw))` body re-evaluates the whole
    # d-element norm fold for EVERY element (HOF lambdas get no
    # loop-invariant hoisting) — d x d interpreted ops per row instead
    # of d. zip_with divides by the identical double, so values are
    # bit-unchanged (every unit-vector oracle stays green).
    # single-parse twin of the Column form (round-10 batch 11): same
    # cast/zip_with/array_repeat trees, one round-trip per projection
    unit = emb.selectExpr(
        f"`{id_col}` AS vec_id",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS raw")
    return unit.selectExpr(
        "vec_id",
        f"zip_with(raw, array_repeat({_norm_sql('raw')}, size(raw)), "
        "(x, n) -> x / n) AS vec")


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the simplest storage-side ANN compression —
# per-dimension min/max over the (unit) corpus, each component rounded to
# an 8-bit level. 4x smaller than float32, with NO codebook training
# and near-exact recall; the standard first rung of the compression
# ladder (public technique: FAISS ScalarQuantizer).

def sq8_train(emb: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id") -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the UNIT-normalized corpus.

    One posexplode + groupBy(dim) aggregation; the collected table is
    bounded by the dimensionality (64-4096 rows), never by corpus size —
    and min/max are order-independent, so the bounds are deterministic
    under any partitioning (unlike a float sum)."""
    unit = _unit_vectors(emb, vec_col, id_col)
    rows = (unit.select(F.posexplode("vec").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .collect())
    rows.sort(key=lambda r: r["pos"])
    return [r["mn"] for r in rows], [r["mx"] for r in rows]


def sq8_encode(emb: DataFrame, mins: list[float], maxs: list[float],
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """(vec_id, codes ARRAY<INT> of 0..255) — one zero-shuffle codegen
    projection; bounds ship as two array Literals. Values are integral
    after ROUND, so a storage layer can cast to tinyint losslessly."""
    unit = _unit_vectors(emb, vec_col, id_col)
    # one F.expr parse (bounds inline as array literals) instead of
    # ~35 py4j round-trips — same CASE/round/cast tree, values pinned
    from datafusion_postgres_spark.operators.litexpr import darr_sql
    mn, mx = darr_sql(mins), darr_sql(maxs)
    codes = F.expr(
        "transform(vec, (x, i) -> CAST(CASE WHEN "
        f"element_at({mx}, i + 1) = element_at({mn}, i + 1) THEN 0.0D "
        f"ELSE round((x - element_at({mn}, i + 1)) / "
        f"(element_at({mx}, i + 1) - element_at({mn}, i + 1)) * 255) "
        "END AS INT))")
    return unit.select("vec_id", codes.alias("codes"))


def _dequant_sql(mins, maxs):
    """SQ8 dequantization transform as ONE F.expr parse (bounds inline
    as array literals) — same element_at/cast arithmetic as the Column
    form it replaces, ~25 fewer py4j round-trips per build."""
    from datafusion_postgres_spark.operators.litexpr import darr_sql
    mn, mx = darr_sql(mins), darr_sql(maxs)
    return F.expr(
        f"transform(codes, (c, i) -> element_at({mn}, i + 1) + "
        f"CAST(c AS DOUBLE) * (element_at({mx}, i + 1) - "
        f"element_at({mn}, i + 1)) / 255)")


def cosine_topk_sq8(emb: DataFrame, queries: DataFrame, k: int = 10,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    bounds: tuple[list[float], list[float]] | None = None,
                    codes: DataFrame | None = None,
                    exclude_self: bool = True) -> DataFrame:
    """Asymmetric top-k over SQ8 codes: queries stay float, the corpus
    is read as int8 levels dequantized inside codegen — the candidate
    scan reads 1/4 the bytes of the float corpus and never shuffles it.
    Pass precomputed ``bounds``/``codes`` for the at-scale flow (train +
    encode at ingest, query later)."""
    if bounds is None:
        bounds = sq8_train(emb, vec_col=vec_col, id_col=id_col)
    mins, maxs = bounds
    if codes is None:
        codes = sq8_encode(emb, mins, maxs, vec_col=vec_col, id_col=id_col)
    dq = _dequant_sql(mins, maxs)
    qunit = (_unit_vectors(queries.select(F.col("qid").alias("vec_id"),
                                          F.col("qvec").alias("embedding")),
                           "embedding", "vec_id")
             .select(F.col("vec_id").alias("qid"), F.col("vec").alias("qv")))
    scored = (codes.withColumn("dq", dq)
              .crossJoin(F.broadcast(qunit))
              .where(_self_pred(exclude_self))
              .selectExpr("qid", "vec_id",
                          "aggregate(zip_with(dq, qv, (x, y) -> x * y), "
                          "0.0D, (acc, v) -> acc + v) AS score"))
    return (_topk_per_query(scored, k, "score")
            .select("qid", "vec_id", F.round("score", 6).alias("score"),
                    "rnk"))


def cosine_topk_ivf_sq8(emb: DataFrame, queries: DataFrame, k: int = 10,
                        n_centroids: int = 16, n_probe: int = 4,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        kmeans_iters: int = 3,
                        bounds: tuple[list[float], list[float]] | None = None,
                        codes: DataFrame | None = None,
                        exclude_self: bool = True,
                        centroids: DataFrame | None = None) -> DataFrame:
    """IVF + SQ8 composed — the standard inverted-file-with-scalar-
    quantizer index (FAISS IVF-SQ): the coarse quantizer prunes the scan
    to ~n_probe/n_centroids of the corpus AND the candidate rows are
    8-bit codes, so query cost is (cell fraction) x (1/4 bytes) of
    brute force. At ingest scale the codes table is written partitioned
    by centroid_id; here the cell restriction is the broadcast probe
    join. Float vectors are read once at ingest (assignment + encoding),
    never at query time."""
    if centroids is not None:
        cents = centroids
    elif kmeans_iters > 0:
        cents = kmeans_centroids(emb, n_centroids, kmeans_iters,
                                 vec_col, id_col)
    else:
        cents = deterministic_centroids(emb, n_centroids, vec_col, id_col)
    assigned = ivf_assign(emb, cents, vec_col, id_col) \
        .select("vec_id", "centroid_id")
    if bounds is None:
        bounds = sq8_train(emb, vec_col=vec_col, id_col=id_col)
    mins, maxs = bounds
    if codes is None:
        codes = sq8_encode(emb, mins, maxs, vec_col=vec_col, id_col=id_col)
    cell_codes = assigned.join(codes, "vec_id")

    q = queries.select(
        "qid", F.transform(F.col("qvec"),
                           lambda x: x.cast("double")).alias("qvec"))
    c = cents.select(
        "centroid_id",
        F.transform(F.col("cvec"), lambda x: x.cast("double")).alias("cvec"))
    qc = (q.crossJoin(F.broadcast(c))
          .select("qid", "qvec", "centroid_id",
                  cosine_similarity(F.col("qvec"),
                                    F.col("cvec")).alias("sim")))
    wq = Window.partitionBy("qid").orderBy(F.desc("sim"),
                                           F.asc("centroid_id"))
    probes = (qc.withColumn("rn", F.row_number().over(wq))
              .where(F.col("rn") <= n_probe)
              .select("qid", "centroid_id"))
    qunit = (_unit_vectors(queries.select(F.col("qid").alias("vec_id"),
                                          F.col("qvec").alias("embedding")),
                           "embedding", "vec_id")
             .select(F.col("vec_id").alias("qid"), F.col("vec").alias("qv")))

    dq = _dequant_sql(mins, maxs)
    scored = (cell_codes.join(F.broadcast(probes), "centroid_id")
              .where(_self_pred(exclude_self))
              .withColumn("dq", dq)
              .join(F.broadcast(qunit), "qid")
              .select("qid", "vec_id",
                      F.aggregate(
                          F.zip_with("dq", "qv", lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
                      .alias("score")))
    return (_topk_per_query(scored, k, "score")
            .select("qid", "vec_id", F.round("score", 6).alias("score"),
                    "rnk"))


def cosine_threshold_profile(emb: DataFrame,
                             thresholds: tuple[float, ...] =
                             (0.99, 0.95, 0.9, 0.8),
                             vec_col: str = "embedding",
                             id_col: str = "vec_id") -> DataFrame:
    """Near-duplicate-rate-vs-threshold curve: for each cosine cutoff,
    how many (i < j) pairs clear it — the embedding analog of
    dedup.overlap_profile, read before picking a semantic-dedup
    threshold. EXACT baseline (broadcast all-pairs, honestly O(n²)):
    sized for eval corpora; at production scale run the same counts
    over the LSH/IVF candidate stream instead and treat them as lower
    bounds. One pass: every threshold counted from a single
    conditional-sum aggregation over the pair stream."""
    corpus = emb.select(F.col(id_col).alias("vec_id"),
                        F.transform(F.col(vec_col),
                                    lambda x: x.cast("double")).alias("vec"))
    b = F.broadcast(corpus.select(F.col("vec_id").alias("vid2"),
                                  F.col("vec").alias("vec2")))
    cos = cosine_similarity(F.col("vec"), F.col("vec2"))
    pairs = (corpus.crossJoin(b)
             .where(F.col("vec_id") < F.col("vid2"))
             .select(cos.alias("c")))
    # coalesce: F.sum over an EMPTY pair stream (corpus of 0-1 vectors)
    # is NULL — the curve's counts must come back 0, not NULL
    aggs = [F.coalesce(
                F.sum((F.col("c") >= F.lit(float(t))).cast("long")),
                F.lit(0))
            .alias(f"t{i}") for i, t in enumerate(thresholds)]
    row = pairs.agg(*aggs)
    stacked = F.explode(F.array(*[
        F.struct(F.lit(float(t)).alias("threshold"),
                 F.col(f"t{i}").cast("bigint").alias("n_pairs"))
        for i, t in enumerate(thresholds)]))
    return (row.select(stacked.alias("s"))
            .select("s.threshold", "s.n_pairs")
            .orderBy(F.desc("threshold")))


# ---------------------------------------------------------------------------
# Second-moment (Gram) matrix of the embedding corpus: the corpus-sized
# pass produces only a d x d fixed-point matrix, small enough for a local
# eigendecomposition (PCA) or spectrum read.

def gram_matrix(emb: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id",
                scale: int = 1_000_000) -> DataFrame:
    """(i, j, s): fixed-point second-moment matrix of the UNIT corpus,
    s = sum over docs of floor(x_i * x_j * scale + 0.5).

    Integer sums commute, so the matrix is bit-identical under any
    partitioning AND fully DuckDB-replayable (the oracle for
    emb_gram_matrix) — the same determinism trick as dsir/lm/classifier.
    One corpus pass: posexplode to (i, x_i), per-row product array,
    posexplode to (i, j, p), partial-aggregated groupBy — shuffle volume
    is d^2 running sums per partition, independent of corpus size.
    IEEE multiply is commutative, so the result is exactly symmetric.
    Overflow bound: |x| <= 1 after unit norm, so |s| <= scale * n_docs —
    safe below 9e12 docs at the 1e6 default."""
    unit = _unit_vectors(emb, vec_col, id_col)
    step1 = unit.select(F.posexplode("vec").alias("i", "xi"),
                        F.col("vec").alias("v"))
    prods = F.transform(
        "v", lambda xj: F.floor(F.col("xi") * xj * F.lit(float(scale)) +
                                F.lit(0.5)).cast("long"))
    step2 = step1.select("i", F.posexplode(prods).alias("j", "p"))
    return (step2.groupBy("i", "j")
            .agg(F.sum("p").cast("long").alias("s")))
