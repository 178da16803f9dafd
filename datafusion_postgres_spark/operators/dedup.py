"""Deduplication operators (exact + near-dup) for training-data pipelines.

Scale design notes (100 TB / 1000 executors):
  * Exact dedup is one hash-shuffle on the normalized text (or its
    fingerprint — shuffling a 64-bit key instead of full text bodies keeps
    shuffle volume ~constant per row).
  * MinHash+LSH: per-row signature computation is a single codegen'd
    projection (no shuffle); candidate generation shuffles (band_id,
    band_hash) key pairs — rows only meet if they collide in a band, so the
    join fan-out is bounded by collision rate, not n².
  * N-gram Jaccard verification joins only candidate pairs, never the full
    cross product. The standalone `ngram_jaccard_pairs` uses shared-ngram
    blocking: the self-join key is the ngram fingerprint, and AQE's skew
    handling splits hot ngrams.
  * All hashes are explicit polynomial/LCG arithmetic — deterministic
    across engines (DuckDB oracle) and across Spark versions (no murmur
    seed dependence).
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame, functions as F

_log = logging.getLogger(__name__)

from datafusion_postgres_spark.operators.litexpr import llit
from datafusion_postgres_spark.operators.cachectl import (
    bounded_checkpoint, cache_generation, checkpoint_generation,
    free_local_checkpoint,
)
from datafusion_postgres_spark.operators.text import (
    FP_MOD, ensure_min_parallelism, fingerprint, norm_text,
    word_fingerprint, words,
)

# LCG parameters for the k minhash permutations: h_i(x) = (a_i*x + b_i) % P
MH_PRIME = 2_147_483_647  # 2^31-1 (Mersenne)


def _mh_params(k: int) -> list[tuple[int, int]]:
    # deterministic parameter schedule (no RNG: reproducible everywhere)
    return [((2 * i + 1) * 104_729 % MH_PRIME,
             (i * 7_919 + 1_299_709) % MH_PRIME) for i in range(k)]


# ---------------------------------------------------------------------------
# exact dedup

def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (after normalization) documents.

    One shuffle on the normalized text. Returns cluster representative
    (min id), cluster size."""
    return (docs
            .select(F.col(id_col), norm_text(F.col(text_col)).alias("norm"))
            .groupBy("norm")
            .agg(F.min(id_col).alias("representative"),
                 F.count("*").alias("n_dups"))
            .select("representative", "n_dups"))


def dedup_exact(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per normalized text."""
    w_min = (docs
             .select(F.col(id_col).alias("keep_id"),
                     norm_text(F.col(text_col)).alias("norm")))
    keep = (w_min.groupBy("norm").agg(F.min("keep_id").alias("keep_id"))
            .select("keep_id"))
    return docs.join(keep, docs[id_col] == keep["keep_id"], "left_semi")


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", max_df: int = 1,
                    sep: str = "\n\n") -> DataFrame:
    """Corpus-level paragraph deduplication (the C4/CCNet boilerplate
    pass): split each document on ``sep``, drop every paragraph whose
    DOCUMENT FREQUENCY exceeds ``max_df`` (cookie banners, nav bars,
    license blurbs repeat across thousands of pages), reassemble the
    survivors in original order. Documents whose every paragraph was
    boilerplate disappear from the output.

    Scale: all JVM codegen. Shuffles = one narrow (hash, df) groupBy, the
    frequency join back on the 64-bit paragraph hash, and the doc_id
    reassembly — each keyed by hash, so skew only appears on genuinely
    mega-duplicated paragraphs, which AQE's skew-join splits. Empty
    paragraphs are kept verbatim (they carry the document's layout).
    """
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"))
    # NULL hash for empty paragraphs: they never join the frequency side
    # (always kept), and the engines need not agree on hash('')
    keyed = paras.withColumn(
        "ph", F.when(F.trim("para") != "",
                     word_fingerprint(norm_text(F.col("para")))))
    freq = (keyed.where(F.col("ph").isNotNull())
            .groupBy("ph")
            .agg(F.count_distinct("doc_id").alias("df")))
    kept = (keyed.join(freq, "ph", "left")
            .where(F.col("df").isNull() | (F.col("df") <= max_df)))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "para"))),
        lambda s: s.getField("para"))
    return (kept.groupBy("doc_id")
            .agg(F.concat_ws(sep, ordered).alias("text")))


# ---------------------------------------------------------------------------
# word n-gram shingles

def shingle_array(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, grams ARRAY<BIGINT> sorted distinct, set_size) — the per-doc
    shingle-hash set: hash each word once (char-level polynomial), then
    combine n word-hashes per gram with the same ``acc*31+x mod p``
    fold. No explode, no shuffle — the scan stays embarrassingly
    parallel, which is what lets every dedup operator below start from
    a zero-shuffle baseline.

    TWO-STAGE shape (round-10, the simhash_expr finding applied here):
    the word-hash array is materialized in its own projection, then the
    per-gram slice-folds run over the bound column. The former
    single-projection form put ``transform(ws, word_fingerprint)``
    inside the per-gram lambda body, where the interpreted HOF
    re-evaluates it per gram — measured 2.2x slower on sf0.1 docs
    (identical checksums; recorded in STATUS.md, Round-10 work)."""
    from datafusion_postgres_spark.operators.text import word_hashes_sql
    whs_df = (ensure_min_parallelism(docs)
              .where(F.trim(F.col(text_col)) != "")
              .select(F.col(id_col).alias("id"),
                      F.expr(word_hashes_sql(f"`{text_col}`"))
                      .alias("whs")))
    # the gram fold over the bound whs column, as one parse (round-10;
    # same sequence/slice/aggregate tree as the Column form — pinned)
    grams = F.expr(
        "sort_array(array_distinct(transform("
        f"sequence(0, greatest(size(whs) - {n}, 0)), "
        f"i -> aggregate(slice(whs, i + 1, {n}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * 31 + x) % {FP_MOD}))))")
    return (whs_df.select("id", grams.alias("grams"))
            .withColumn("set_size", F.size("grams")))


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """(id, shingle_hash) exploded pairs (kept for operators that want the
    relational shape)."""
    return (shingle_array(docs, text_col, id_col, n)
            .select("id", F.explode("grams").alias("gram_hash")))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        prefix_filter: bool = True,
                        verify_broadcast: bool = False,
                        max_df: int | None = 1000) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity. Exact.

    Scale strategy = **prefix filtering + PPJoin positional/size bounds**
    (the classic set-similarity-join pruning stack):
      * prefix filter — two sets with Jaccard >= t must share at least one
        of the smallest ``floor((1-t)*|A|)+1`` elements of either set (by
        any global order — we use the hash value), so the self-join key is
        only that prefix, not every shingle;
      * size filter — Jaccard >= t requires t*|A| <= |B| <= |A|/t;
      * positional filter — a shared prefix element at positions (i, j)
        caps the possible overlap at 1 + min(|A|-i-1, |B|-j-1), which must
        reach the equivalent-overlap bound t/(1+t)*(|A|+|B|).
    All three are exact (no false negatives); measured on the sf0.1
    corpus they cut candidates 566k -> 211k and the hot query ~1.5x.
    Verification computes the exact intersection from the full sorted
    hash arrays (array_intersect, JVM-side).

    Candidate pairs are NOT deduplicated before verification: a pair
    appears once per shared prefix element, and on real corpora that
    duplication factor is tiny (sf0.1: 221k match rows -> 211k distinct
    pairs, 1.05x), so re-verifying the few duplicates is far cheaper than
    a full shuffle-dedup of the candidate stream.  The final (small)
    verified result is deduplicated instead.  If a corpus had pathological
    prefix overlap, re-inserting ``.distinct()`` on (id_a,id_b) before the
    verify joins restores the round-1 shape.

    ``verify_broadcast=True`` hints the verification side (the per-doc
    gram arrays) as broadcast — correct only when the CORPUS fits in the
    driver (callers that know their table, e.g. the bench query over the
    5k-doc documents table). Default False: AQE picks shuffle-vs-broadcast
    from runtime stats, which is the 100 TB-safe answer.

    ``max_df`` (default 1000) drops join-key grams whose document
    frequency exceeds the cap BEFORE the self-join: a boilerplate gram
    shared by 100k docs otherwise fans out 10^10 candidate rows —
    AQE skew-split redistributes that load but cannot shrink it; the cap
    bounds the worst key deterministically. Capping can only lose pairs
    whose EVERY shared prefix element is boilerplate (which at t>=0.5
    means the pair is mostly boilerplate itself). ``max_df=None`` is the
    explicit exact-mode opt-out (used by the DuckDB-oracle queries).

    Output: (id_a, id_b, inter_n, union_n, jaccard) with id_a < id_b.
    """
    # threshold is formatted into SQL text below (repr()+'D'); a
    # non-finite or out-of-domain value would otherwise surface as a
    # deep ParseException ('nanD') instead of a clear error, and the
    # PPJoin prefix/size/positional bounds assume 0 < t <= 1
    # (round-11 ADVICE fix)
    t = float(threshold)
    if not (math.isfinite(t) and 0.0 < t <= 1.0):
        raise ValueError(
            f"threshold must be a finite value in (0, 1], got {threshold}")
    # cache: the shingle hashing is the expensive projection and per_doc
    # feeds three branches (join keys + both verification sides);
    # generation-cached — the next invocation releases this one
    per_doc = cache_generation("ngram_jaccard_pairs",
                               shingle_array(docs, text_col, id_col, n))
    # expression-heavy pieces as single parses (round-10 py4j-chatter
    # convention, OPTIMIZATION_r10.md §2/§7): identical operator trees
    # — doubles spelled repr()+'D' so literals parse to the same value
    if prefix_filter:
        keys = per_doc.selectExpr(
            "id", "set_size",
            f"posexplode(slice(grams, 1, CAST((FLOOR(size(grams) * "
            f"{1.0 - t!r}D) + 1) AS INT))) AS (pos, gram_hash)")
        extra = (
            f" AND (x.set_size >= {t!r}D * y.set_size)"
            f" AND (y.set_size >= {t!r}D * x.set_size)"
            f" AND ((1 + least(x.set_size - x.pos - 1, "
            f"y.set_size - y.pos - 1)) >= "
            f"CEIL({t / (1.0 + t)!r}D * (x.set_size + y.set_size)))")
    else:
        keys = per_doc.selectExpr(
            "id", "set_size", "posexplode(grams) AS (pos, gram_hash)")
        extra = ""
    if max_df is not None:
        _log.info("ngram_jaccard_pairs: df-cap active (max_df=%d); "
                  "hot grams are excluded from pairing — max_df=None "
                  "for exact mode", max_df)
        hot = (keys.groupBy("gram_hash")
               .agg(F.count("*").alias("df"))
               .where(f"df > {int(max_df)}").select("gram_hash"))
        # hot set is tiny by definition (grams in >max_df docs); the
        # cached per_doc makes the extra agg branch a cheap re-scan
        keys = keys.join(F.broadcast(hot), "gram_hash", "left_anti")
    cand = (keys.alias("x").join(
                keys.alias("y"),
                F.expr("x.gram_hash = y.gram_hash AND x.id < y.id"
                       + extra))
            .selectExpr("x.id AS id_a", "y.id AS id_b"))
    ga = per_doc.selectExpr("id AS id_a", "grams AS grams_a",
                            "set_size AS size_a")
    gb = per_doc.selectExpr("id AS id_b", "grams AS grams_b",
                            "set_size AS size_b")
    if verify_broadcast:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    out = (cand.join(ga, "id_a").join(gb, "id_b")
           .withColumn("inter_n", F.expr(
               "CAST(size(array_intersect(grams_a, grams_b)) AS BIGINT)"))
           .withColumn("union_n", F.expr(
               "CAST(((size_a + size_b) - inter_n) AS BIGINT)"))
           .withColumn("jaccard", F.expr("inter_n / union_n"))
           .where(f"jaccard >= {t!r}D")
           .selectExpr("id_a", "id_b", "inter_n", "union_n",
                       "round(jaccard, 6) AS jaccard")
           .distinct())  # tiny: only verified pairs, one row per duplicate
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH

def _sig_expr(k: int):
    """Minhash signature as a pure array expression over the sorted gram
    array: sig_i = min over grams of (a_i*g + b_i) mod P. No shuffle —
    signatures are a projection, not an aggregation. The (a, b)
    schedules ship as two parsed array literals and the k mins come
    from ONE nested-HOF zip_with — a constant-size expression tree
    (an F.array of k unrolled subtrees costs ~k*6 py4j round trips of
    driver time per call); per-hash arithmetic is unchanged."""
    params = _mh_params(k)
    a_l = llit(a for a, _ in params)
    b_l = llit(b for _, b in params)
    return F.zip_with(
        a_l, b_l,
        lambda a, b: F.array_min(
            F.transform("grams", lambda g: (g * a + b) % MH_PRIME)))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       k: int = 32) -> DataFrame:
    """(id, sig ARRAY<BIGINT> of length k) minhash signatures.

    Zero-shuffle: shingle arrays and the k permutation-mins are all one
    codegen'd projection over the scan."""
    per_doc = shingle_array(docs, text_col, id_col, n)
    return per_doc.select("id", _sig_expr(k).alias("sig"))


def _banded_expr(bands: int, rows_per_band: int, portable: bool):
    """The exploded (band, band_hash) struct stream over the ``sig``
    column as ONE ``F.expr`` parse — same per-band hash arithmetic as
    :func:`_band_hash` (value-pinned by the oracled banding rows), ~40
    fewer py4j round-trips per build (round-10)."""
    def bh_sql(bi: int) -> str:
        if portable:
            terms = " + ".join(
                f"element_at(sig, {bi * rows_per_band + k + 1}) * "
                f"CAST({31 ** (rows_per_band - 1 - k)} AS BIGINT)"
                for k in range(rows_per_band))
            return f"({terms}) % {FP_MOD}"
        return f"xxhash64(slice(sig, {bi * rows_per_band + 1}, {rows_per_band}))"
    structs = ",".join(
        f"named_struct('band', {bi}, 'band_hash', {bh_sql(bi)})"
        for bi in range(bands))
    return F.expr(f"explode(array({structs}))")


def _band_hash(sig_col, bi: int, rows_per_band: int, portable: bool):
    """Hash of one signature band. Default: a single native xxhash64 call
    over the slice (cheapest; any deterministic hash works — band hashes
    only bucket). Portable: the same ``acc*31+x mod FP_MOD`` polynomial
    fold used for grams, reproducible in DuckDB via list_reduce — used by
    the driver-registered query so the WHOLE banding chain is oracle-able
    (round-3 verdict item #1)."""
    if portable:
        # flattened polynomial: sum(sig[i] * 31^(r-1-k)) mod FP_MOD is
        # IDENTICAL to the iterated (acc*31+x) mod fold (mod distributes)
        # and overflow-safe (values < 2^31, weights ≤ 31^3 → sum < 2^47),
        # but costs 4 multiply-adds instead of a lambda fold — and DuckDB
        # list_reduce reproduces the same number
        expr = None
        for k in range(rows_per_band):
            term = (F.element_at(sig_col, bi * rows_per_band + k + 1) *
                    F.lit(31 ** (rows_per_band - 1 - k)).cast("long"))
            expr = term if expr is None else expr + term
        return expr % FP_MOD
    return F.xxhash64(F.slice(sig_col, bi * rows_per_band + 1,
                              rows_per_band))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3, k: int = 32,
                      bands: int = 8, threshold: float = 0.5,
                      verify_broadcast: bool = False,
                      band_hash: str = "xxhash64") -> DataFrame:
    """Candidate near-dup pairs via banded LSH over minhash signatures,
    verified with exact n-gram Jaccard.

    bands=8 × rows=4 over k=32 → collision prob ≈ 1-(1-s^4)^8: s=0.5 →
    ~0.39, s=0.8 → ~0.97. Only banded collisions are verified.

    Shuffle profile: per-doc arrays + signatures + band hashes are ONE
    projection (cached, computed once); the only shuffles are the band
    self-join and the two verification joins on candidate ids.

    Unlike ``ngram_jaccard_pairs`` (whose prefix filter already keeps
    duplication ~1), banded candidates ARE deduplicated before
    verification: measured on the round-3 corpus a colliding pair repeats
    in 3.0x bands on average, and the verification join (two gram-array
    joins + array_intersect/union per candidate) costs far more than one
    narrow (id,id) shuffle. ``verify_broadcast`` as in ngram_jaccard.

    ``band_hash``: "xxhash64" (production default) or "poly" (portable
    polynomial fold — engine-reproducible, so an external oracle can
    replicate candidate generation bit-for-bit)."""
    if band_hash not in ("xxhash64", "poly"):
        raise ValueError(f"band_hash must be 'xxhash64' or 'poly', "
                         f"got {band_hash!r}")
    portable = band_hash == "poly"
    rows_per_band = k // bands
    per_doc = cache_generation(
        "minhash_lsh_pairs",
        shingle_array(docs, text_col, id_col, n)
        .withColumn("sig", _sig_expr(k)))
    banded = per_doc.select(
        "id", _banded_expr(bands, rows_per_band, portable).alias("bh"))
    cand = (banded.alias("x").join(
                banded.alias("y"),
                (F.col("x.bh") == F.col("y.bh")) &
                (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
            .distinct())
    ga = per_doc.select(F.col("id").alias("id_a"),
                        F.col("grams").alias("grams_a"))
    gb = per_doc.select(F.col("id").alias("id_b"),
                        F.col("grams").alias("grams_b"))
    if verify_broadcast:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    verified = (cand.join(ga, "id_a").join(gb, "id_b")
                .withColumn("inter_n",
                            F.size(F.array_intersect("grams_a", "grams_b"))
                            .cast("bigint"))
                .withColumn("union_n",
                            F.size(F.array_union("grams_a", "grams_b"))
                            .cast("bigint"))
                .withColumn("jaccard", F.col("inter_n") / F.col("union_n"))
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "inter_n", "union_n",
                        F.round("jaccard", 6).alias("jaccard")))
    # no post-verify distinct needed: candidates are unique pairs and the
    # gram joins are 1:1 per id
    return verified


# ---------------------------------------------------------------------------
# SimHash

def simhash_hashes_expr(text: Column | str) -> Column:
    """The per-row WORD-HASH ARRAY the simhash majorities fold over:
    normalize -> split -> drop empties -> polynomial word fingerprint.
    Project this ONCE into its own column, then fold the per-bit terms
    with :func:`simhash_from_hashes` over the materialized column —
    the round-10 two-stage shape. A column NAME builds the chain as
    one ``F.expr`` parse (text.word_hashes_sql — value-pinned twin)."""
    if isinstance(text, str):
        from datafusion_postgres_spark.operators.text import (
            word_hashes_sql,
        )
        return F.expr(word_hashes_sql(f"`{text}`"))
    ws = F.filter(words(norm_text(text)), lambda w: w != "")
    return F.transform(ws, word_fingerprint)


def simhash_from_hashes(whs: Column | str, bits: int = 48) -> Column:
    """Fold the per-bit majority terms over an ALREADY-MATERIALIZED
    word-hash array column: bit b is set iff strictly more than half
    of the hashes have bit b set (identical to the +1/-1 sign-sum
    being positive). 48 interpreted array passes over a computed
    column — cheap; the expensive tokenize+hash chain runs once per
    row in the upstream projection.

    Pass the column NAME (the production call sites do) and the whole
    2*bits-term fold is built as ONE ``F.expr`` parse — measured 1.8 s
    of per-build driver py4j chatter for the Column-composed form vs
    3 ms for the parse, with an identical Catalyst tree (same
    shiftright/filter/size/CASE operators; pinned value-equal in
    tests). A Column argument keeps the composed form for callers that
    hold a computed expression."""
    if isinstance(whs, str):
        terms = " + ".join(
            f"(CASE WHEN 2 * size(filter({whs}, h -> ((h >> {b}) & 1) = 1))"
            f" > size({whs}) THEN CAST({1 << b} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits))
        return F.expr(terms)
    n_words = F.size(whs)
    sig = None
    for b in range(bits):
        cnt_set = F.size(F.filter(
            whs, lambda h: F.shiftright(h, b).bitwiseAND(1) == 1))
        term = F.when(2 * cnt_set > n_words,
                      F.lit(1 << b).cast("long")).otherwise(
                          F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sig


def simhash_expr(text: Column, bits: int = 48) -> Column:
    """The per-row simhash signature as ONE composable column
    expression.

    PERFORMANCE (round-10 verdict item #1 — measured, recorded in
    STATUS.md, Round-10 work): this single-expression form textually
    duplicates the tokenize+hash chain into all ``2*bits`` per-bit
    subtrees, and because higher-order functions are interpreted
    (CodegenFallback) Spark's subexpression elimination recovers only
    ~1.9x of the ~96x duplication — measured 17.0s vs 0.93s per task
    on 5k sf0.1 docs against the two-stage shape (identical
    checksums). Every production operator therefore projects
    :func:`simhash_hashes_expr` into its own column first and folds
    with :func:`simhash_from_hashes` (see :func:`simhash`); this
    wrapper remains ONLY for contexts that genuinely need a single
    self-contained expression, and costs ~18x there."""
    return simhash_from_hashes(simhash_hashes_expr(text), bits)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 48) -> DataFrame:
    """Per-doc simhash as a ZERO-SHUFFLE TWO-STAGE projection.

    Round-1 shape was explode(words) + groupBy(id) with 48 per-bit sums —
    that shuffles every word occurrence in the corpus. Round-10 shape:
    the word-hash array is materialized in its own projection, then the
    48 per-bit majorities fold over the column — 18x less CPU per row
    than the single-expression form (verdict item #1 receipt in
    STATUS.md, Round-10 work; CollapseProject keeps the two
    projections apart because the array chain is non-cheap and
    referenced 96 times). Still embarrassingly parallel like
    shingle_array: no shuffle, no Python."""
    return (ensure_min_parallelism(docs)
            .where(F.trim(F.col(text_col)) != "")
            .select(F.col(id_col).alias("id"),
                    simhash_hashes_expr(text_col).alias("whs"))
            .select("id",
                    simhash_from_hashes("whs", bits)
                    .alias("simhash")))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 48,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, blocked on byte-chunks
    (pigeonhole: distance<=6 over 4 chunks → at least one identical chunk)."""
    sig = cache_generation("simhash_near_pairs",
                           simhash(docs, text_col, id_col, bits))
    chunks = 6
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    blocked = sig.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(ci).alias("chunk"),
                     F.shiftright("simhash", ci * chunk_bits)
                      .bitwiseAND(mask).alias("ck"))
            for ci in range(chunks)])).alias("b"))
    # VERIFY BEFORE THE DEDUP EXCHANGE (round-11, guide §2.4): the
    # hamming bit_count is a cheap projection off the blocking join's
    # output, while .distinct() is a shuffle — filtering first shrinks
    # the distinct exchange from candidate-count rows carrying two
    # 8-byte signatures to match-count rows of (id_a, id_b, hamming).
    # distinct∘filter == filter∘distinct, and distinct on
    # (id_a, id_b, hamming) == distinct on the pair alone because
    # hamming is a function of the pair — output identical (oracled).
    cand = (blocked.alias("x").join(
                blocked.alias("y"),
                (F.col("x.b") == F.col("y.b")) &
                (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"),
                    F.col("y.id").alias("id_b"),
                    F.bit_count(F.col("x.simhash")
                                .bitwiseXOR(F.col("y.simhash")))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())
    return cand.select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# text-tier LINEAR-OUTPUT dedup keep (round-9 verdict item #1)
#
# The pairs APIs above are inherently quadratic on a near-identical
# boilerplate clique (template/whitespace variants that survive exact
# dedup). A dedup PASS only needs the keep set, which the shared
# collapse + rep-graph contract (operators/repgraph.py) computes with
# output linear in the corpus.

_SH_COLS = tuple(f"sh_c{j}" for j in range(4))


def _simhash_chunk_sig(docs: DataFrame, text_col: str, id_col: str,
                       bits: int) -> DataFrame:
    """(id, sh_c0..sh_c3): the simhash split into FOUR equal chunks —
    the signature frame every chunk-blocked simhash operator (keep,
    ingest state, incremental) shares. Pigeonhole over 4 chunks is
    exact for hamming <= 3."""
    if bits % 4:
        raise ValueError(f"bits must be divisible by 4 (got {bits})")
    chunk_bits = bits // 4
    mask = (1 << chunk_bits) - 1
    return simhash(docs, text_col, id_col, bits).select(
        "id", *[F.shiftright("simhash", j * chunk_bits)
                .bitwiseAND(mask).alias(c)
                for j, c in enumerate(_SH_COLS)])

def simhash_dedup_keep(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 48,
                       max_hamming: int = 3,
                       max_df: int | None = None) -> DataFrame:
    """One surviving document per simhash near-dup component (min id,
    singletons included; empty-text docs are outside the hashing domain
    and always survive) — the text twin of imagehash.image_dedup_keep.

    The 48-bit simhash splits into FOUR 12-bit chunks and rides the
    shared imagehash.chunked_hamming_keep machinery: pigeonhole over 4
    chunks stays exact for hamming <= 3, signature-identical docs (a
    boilerplate clique's members all hash identically — e.g. k-fold
    repetitions of the same base text preserve every per-bit majority)
    collapse to one representative BEFORE the blocking join, and
    components run over the representative pair graph only
    (operators/repgraph.py). Semantics identical to
    ``connected_components(simhash_near_pairs(...))`` + keep-min +
    singletons — pinned against that composition in tests and against
    a full recursive-closure DuckDB oracle.

    ``max_df`` defaults to None (EXACT — matching simhash_near_pairs);
    note a 12-bit chunk space saturates quickly, so a df cap here
    costs recall faster than on 16-bit image chunks — prefer the
    collapse (always on) as the skew bound."""
    from datafusion_postgres_spark.operators.imagehash import (
        chunked_hamming_keep,
    )
    cols = _SH_COLS
    sig = _simhash_chunk_sig(docs, text_col, id_col, bits)
    keep = chunked_hamming_keep(sig, list(cols), max_hamming,
                                cache_key="simhash_dedup_keep",
                                max_df=max_df)
    losers = sig.select("id").join(keep, "id", "left_anti")
    return docs.join(losers.withColumnRenamed("id", id_col), id_col,
                     "left_anti")


def minhash_dedup_keep(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3, k: int = 32,
                       bands: int = 8, threshold: float = 0.5,
                       band_hash: str = "xxhash64",
                       verify_broadcast: bool = False) -> DataFrame:
    """One surviving document per VERIFIED minhash/LSH near-dup
    component (min id, singletons included; empty-text docs always
    survive) — semantics identical to
    ``connected_components(minhash_lsh_pairs(...))`` + keep-min +
    singletons, with output linear in the corpus.

    Collapse signature = the exact sorted-distinct GRAM SET, not the
    minhash signature: equal minhash signatures do NOT imply the
    verified predicate (minhash only estimates Jaccard, so a
    signature-level collapse could mark non-duplicates as losers),
    whereas gram-set-equal docs are perfect substitutes — Jaccard 1 >=
    any threshold <= 1 with each other, and identical Jaccard (and
    identical signatures, hence identical banding) against every third
    doc. That still collapses the boilerplate cliques that motivate
    the keep API: template/whitespace variants and k-fold repetitions
    share the normalized shingle set while surviving exact dedup.

    Plan shape: one groupBy on the gram array (the same payload the
    verification join already ships) collapses cliques; banding,
    candidate join, and exact-Jaccard verification then run over
    REPRESENTATIVES only; component structure lifts through
    operators/repgraph.py's driver union-find / Pregel fallback.
    ``verify_broadcast`` as in minhash_lsh_pairs."""
    from datafusion_postgres_spark.operators.repgraph import loser_ids

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1] — gram-set "
                         f"collapse needs Jaccard 1 to qualify as a "
                         f"duplicate (got {threshold})")
    if band_hash not in ("xxhash64", "poly"):
        raise ValueError(f"band_hash must be 'xxhash64' or 'poly', "
                         f"got {band_hash!r}")
    portable = band_hash == "poly"
    rows_per_band = k // bands
    # SAME generation key as minhash_lsh_pairs: the plan is identical
    # (shingles + signatures), and registering it under a second key
    # would alias one InMemoryRelation under two generations — rotating
    # either would unpersist storage the other still believes live
    per_doc = cache_generation(
        "minhash_lsh_pairs",
        shingle_array(docs, text_col, id_col, n)
        .withColumn("sig", _sig_expr(k)))
    # one row per DISTINCT gram set; sig/set_size are functions of the
    # group key, so first() is deterministic here
    rep_doc = cache_generation(
        "minhash_dedup_keep_reps",
        per_doc.groupBy("grams").agg(F.min("id").alias("id"),
                                     F.first("sig").alias("sig"))
        .withColumn("set_size", F.size("grams")))
    banded = rep_doc.select(
        "id", _banded_expr(bands, rows_per_band, portable).alias("bh"))
    cand = (banded.alias("x").join(
                banded.alias("y"),
                (F.col("x.bh") == F.col("y.bh")) &
                (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"),
                    F.col("y.id").alias("id_b"))
            .distinct())
    ga = rep_doc.select(F.col("id").alias("id_a"),
                        F.col("grams").alias("grams_a"))
    gb = rep_doc.select(F.col("id").alias("id_b"),
                        F.col("grams").alias("grams_b"))
    if verify_broadcast:
        ga, gb = F.broadcast(ga), F.broadcast(gb)
    rep_edges = (cand.join(ga, "id_a").join(gb, "id_b")
                 .withColumn("inter_n",
                             F.size(F.array_intersect("grams_a",
                                                      "grams_b"))
                             .cast("bigint"))
                 .withColumn(
                     "union_n",
                     (F.size("grams_a") + F.size("grams_b")
                      - F.col("inter_n")).cast("bigint"))
                 # division form, NOT cross-multiplied: must take the
                 # same IEEE path as minhash_lsh_pairs' verify and the
                 # DuckDB oracle (one double divide on identical
                 # integer inputs is bit-identical across engines)
                 .where(F.col("inter_n") / F.col("union_n")
                        >= threshold)
                 .select("id_a", "id_b"))
    rep_losers = loser_ids(rep_edges)
    member_losers = (per_doc.select("id")
                     .join(rep_doc.select("id"), "id", "left_anti"))
    losers = member_losers.unionByName(rep_losers)
    return docs.join(losers.withColumnRenamed("id", id_col), id_col,
                     "left_anti")


def embedding_dedup_keep(emb: DataFrame, threshold: float = 0.38,
                         n_planes: int = 8, n_tables: int = 4,
                         dims: int = 64, vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """One surviving vector per VERIFIED cosine near-dup component
    (min id, singletons included) — the embedding modality on the
    shared keep contract (operators/repgraph.py), completing the
    matrix: text / image / audio / video / embeddings.

    Collapse signature = the exact vector ARRAY: array-equal vectors
    have identical cosine against every third vector and identical
    hyperplane bucket signs, so they are perfect substitutes in the
    verified LSH pair graph. Zero-norm AND non-finite vectors are
    excluded from the collapse and the pairing domain — always kept
    (round-10 ADVICE fix: a vector containing +/-Inf has norm Inf, so
    the old ``norm > 0`` filter admitted it; array-equal Inf vectors
    would then collapse as duplicates even though their cosine is NaN,
    i.e. outside the verified-pair semantics). Non-finite embeddings
    are outside the cosine domain by contract, exactly like zero-norm
    ones — see similarity._usable_norm. ``threshold`` must
    leave room for the IEEE sqrt round trip (cos(v, v) computes as
    dot/(sqrt(d)*sqrt(d)) which can land 1-2 ulp BELOW 1.0), so the
    guard rejects thresholds above 0.999999 where 'identical implies
    duplicate' would stop being certain. Candidates/verification run
    over representatives only via embedding_cosine_pairs_lsh; recall
    caveats of the LSH blocking apply identically to the pairs API."""
    from datafusion_postgres_spark.operators.repgraph import loser_ids
    from datafusion_postgres_spark.operators.similarity import (
        _usable_norm,
    )

    if not 0.0 < threshold <= 0.999999:
        raise ValueError(
            "threshold must be in (0, 0.999999] — above that, IEEE "
            "sqrt rounding can put cos(v, v) below the threshold and "
            f"the identical-vector collapse loses soundness (got "
            f"{threshold})")
    base = cache_generation(
        "embedding_dedup_keep",
        emb.select(F.col(id_col).alias("id"),
                   F.transform(F.col(vec_col),
                               lambda x: x.cast("double")).alias("v"))
        .where(_usable_norm(F.col("v"))))
    reps = base.groupBy("v").agg(F.min("id").alias("id"))
    member_losers = (base.select("id")
                     .join(reps.select("id"), "id", "left_anti"))
    rep_emb = reps.select(F.col("id").alias(id_col),
                          F.col("v").alias(vec_col))
    rep_pairs = embedding_cosine_pairs_lsh(
        rep_emb, threshold=threshold, n_planes=n_planes,
        n_tables=n_tables, dims=dims, vec_col=vec_col, id_col=id_col)
    rep_losers = loser_ids(rep_pairs.select("id_a", "id_b"))
    losers = member_losers.unionByName(rep_losers)
    return emb.join(losers.withColumnRenamed("id", id_col), id_col,
                    "left_anti")


# ---------------------------------------------------------------------------
# text-simhash INGEST loop: bucketed near-dup state + per-batch
# incremental dedup — completes the four-modality matrix (image /
# audio / video / TEXT each have batch keep + pairs +
# driver-restart-safe bucketed ingest). The exact-fingerprint ingest
# loop (write_fingerprint_table below) catches byte dups; this one
# catches NEAR dups that survive it.

def write_simhash_table(docs: DataFrame, table: str,
                        n_buckets: int = 32, text_col: str = "text",
                        id_col: str = "doc_id",
                        bits: int = 48) -> None:
    """Materialize simhash ingest state, bucketed on the chunk
    blocking key (the imagehash.write_image_hash_table layout over the
    12-bit simhash chunks): one row per DISTINCT signature per chunk,
    so identical boilerplate never bloats the state."""
    from datafusion_postgres_spark.operators.imagehash import (
        _sig_chunk_rows,
    )
    rows = _sig_chunk_rows(
        _simhash_chunk_sig(docs, text_col, id_col, bits), id_col="id",
        chunk_cols=_SH_COLS)
    (rows.write.mode("overwrite").bucketBy(n_buckets, "chunk")
     .sortBy("chunk").format("parquet").saveAsTable(table))


def simhash_dedup_incremental(new_docs: DataFrame,
                              table: str | None = None,
                              corpus_docs: DataFrame | None = None,
                              text_col: str = "text",
                              id_col: str = "doc_id", bits: int = 48,
                              max_hamming: int = 3,
                              max_df: int | None = None) -> DataFrame:
    """Per-ingest simhash NEAR-dup dedup: a new doc survives iff no
    state doc within ``max_hamming`` AND no lower-id near-dup inside
    the batch (imagehash.sig_survivor_ids semantics over the 12-bit
    chunk blocking). State = a bucketed ``write_simhash_table`` table
    (the production loop) or ``corpus_docs`` hashed on the fly (the
    side-effect-free composition the oracled row uses). Empty-text
    docs are outside the hashing domain and are dropped like
    undecodable images.

    ``max_df`` defaults to None (EXACT), matching simhash_dedup_keep's
    rationale, NOT the 16-bit image default of 1000: a 12-bit chunk
    space has only 4096 values, so at corpus scale most chunk values
    exceed any fixed df cap and a capped state join would silently
    drop even hamming-0 (byte-identical) re-ingests (round-10 ADVICE
    fix). The skew bound for text ingest is the distinct-signature
    state layout plus the in-batch signature collapse, both always
    on; pass an explicit cap only for corpora whose chunk-df
    distribution has been measured."""
    from datafusion_postgres_spark.operators.imagehash import (
        _sig_chunk_rows, sig_survivor_ids,
    )
    sig = _simhash_chunk_sig(new_docs, text_col, id_col, bits)
    state_rows = None
    if corpus_docs is not None:
        state_rows = _sig_chunk_rows(
            _simhash_chunk_sig(corpus_docs, text_col, id_col, bits),
            id_col="id", chunk_cols=_SH_COLS)
    survivors = sig_survivor_ids(
        sig, table, list(_SH_COLS), max_hamming, max_df,
        cache_key="simhash_dedup_incremental", state_rows=state_rows)
    return new_docs.join(
        survivors.withColumnRenamed("id", id_col), id_col, "left_semi")


def merge_new_simhashes(survivor_docs: DataFrame, table: str,
                        n_buckets: int = 32, text_col: str = "text",
                        id_col: str = "doc_id", bits: int = 48) -> None:
    """Append the surviving batch's simhash chunk rows into the
    bucketed state table. Survivors can never repeat a state signature
    (a hamming-0 twin is a dup), so the state stays distinct across
    batches — the image/audio/video merge contract."""
    from datafusion_postgres_spark.operators.imagehash import (
        _sig_chunk_rows,
    )
    rows = _sig_chunk_rows(
        _simhash_chunk_sig(survivor_docs, text_col, id_col, bits),
        id_col="id", chunk_cols=_SH_COLS)
    (rows.write.mode("append").bucketBy(n_buckets, "chunk")
     .sortBy("chunk").format("parquet").saveAsTable(table))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup

def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.38,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: every (id_a < id_b)
    pair whose cosine similarity reaches ``threshold``.

    This is the exact O(n²) baseline — the dot products run inside
    whole-stage codegen (``zip_with`` + ``aggregate``, no Python), but the
    pair space is quadratic, so it is only the right tool for corpora that
    fit a broadcast (≲ a few hundred thousand vectors) or for verifying the
    approximate path. At 100 TB use :func:`embedding_cosine_pairs_lsh`:
    same verify arithmetic, candidates bounded by LSH bucket collisions.

    The fold order (left-to-right, 0.0 seed) matches the DuckDB oracle's
    ``list_reduce`` exactly — IEEE ops on identical inputs are
    bit-identical, so the >= threshold cut agrees across engines.

    Zero-norm and non-finite vectors are dropped before pairing
    (poison-row contract): cosine against a zero vector is undefined —
    under Spark 4's default ANSI mode the division RAISES and would
    kill the corpus job — and cosine against a non-finite vector is
    NaN, which Spark compares LARGER than every threshold, so one
    Inf/NaN row would otherwise emit phantom duplicate pairs
    (similarity._usable_norm; round-10 ADVICE fix)."""
    from datafusion_postgres_spark.operators.similarity import (
        _usable_norm, cosine_similarity,
    )
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nonzero = emb.where(_usable_norm(vd))
    a = nonzero.select(F.col(id_col).alias("id_a"), vd.alias("va"))
    b = nonzero.select(F.col(id_col).alias("id_b"), vd.alias("vb"))
    return (a.crossJoin(F.broadcast(b))
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cos_sim",
                        cosine_similarity(F.col("va"), F.col("vb")))
            .where(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b",
                    F.round("cos_sim", 6).alias("cos_sim")))


def embedding_cosine_pairs_lsh(emb: DataFrame, threshold: float = 0.38,
                               n_planes: int = 8, n_tables: int = 4,
                               dims: int = 64, vec_col: str = "embedding",
                               id_col: str = "vec_id") -> DataFrame:
    """Approximate embedding-cosine near-dup — the 100 TB path.

    Candidate pairs = vectors that collide in at least one of ``n_tables``
    random-hyperplane signature tables (each table = ``n_planes`` planes →
    a 2^n_planes-bucket key). The self-join is keyed on (table, bucket):
    shuffle volume is collisions, never n². Verification computes the exact
    cosine on candidates only; duplicate candidates (pairs colliding in
    several tables) are deduped AFTER the verify filter — re-verifying a
    ~1.x duplication factor is cheaper than a pre-verify shuffle-distinct
    (same trade as minhash_lsh_pairs). Recall is tunable via
    n_planes (precision) × n_tables (recall); misses are pairs separated
    in every table — probability (1-(1-θ/π)^planes)^tables.

    Zero-norm and non-finite vectors are dropped before banding
    (poison-row contract — see embedding_cosine_pairs): ANSI-mode
    cosine against a zero vector raises, and a non-finite vector's
    NaN cosine would pass every threshold under Spark's NaN-largest
    comparison semantics (similarity._usable_norm)."""
    from datafusion_postgres_spark.operators.similarity import (
        _usable_norm, cosine_similarity, lsh_bucket_expr,
    )
    base = (emb.select(F.col(id_col).alias("id"),
                       F.transform(F.col(vec_col),
                                   lambda x: x.cast("double")).alias("v"))
            .where(_usable_norm(F.col("v"))))
    tables = F.explode(F.array(*[
        F.struct(F.lit(ti).alias("tbl"),
                 lsh_bucket_expr("v", n_planes, dims,
                                 plane_offset=ti * n_planes).alias("bucket"))
        for ti in range(n_tables)])).alias("tb")
    blocked = base.select("id", "v", tables)
    cand = (blocked.alias("x").join(
                blocked.alias("y"),
                (F.col("x.tb") == F.col("y.tb")) &
                (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id_a"), F.col("x.v").alias("va"),
                    F.col("y.id").alias("id_b"), F.col("y.v").alias("vb")))
    return (cand.withColumn("cos_sim",
                            cosine_similarity(F.col("va"), F.col("vb")))
            .where(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
            .distinct())


# ---------------------------------------------------------------------------
# EMBEDDING ingest loop (round-10 verdict item #4): bucketed near-dup
# state + per-batch incremental dedup — completes the five-modality
# ingest matrix (image / audio / video / text / EMBEDDINGS each have
# batch keep + pairs + driver-restart-safe bucketed ingest). State key
# = the LSH band buckets (the blocking key of the pair/keep path),
# exactly as the perceptual-hash loops key their state on the hamming
# chunks; the exact-vector collapse bounds both sides of the state
# join the way distinct-signature state rows do for images.

def _embedding_state_rows(emb: DataFrame, n_planes: int, n_tables: int,
                          dims: int, vec_col: str,
                          id_col: str) -> DataFrame:
    """DISTINCT-vector LSH state rows: one (state_id, sv, tbl, bucket)
    row per signature table per DISTINCT usable vector, state_id = min
    member id. Collapsing at write time is the state-side twin of the
    keep path's exact-vector collapse: an identical-embedding clique
    contributes n_tables state rows total, so the per-ingest (tbl,
    bucket) join never pairs a hot batch clique against a hot state
    clique quadratically. Zero-norm / non-finite vectors are outside
    the cosine domain and never enter the state."""
    from datafusion_postgres_spark.operators.similarity import (
        _usable_norm, lsh_bucket_expr,
    )
    base = (emb.select(F.col(id_col).alias("id"),
                       F.transform(F.col(vec_col),
                                   lambda x: x.cast("double")).alias("v"))
            .where(_usable_norm(F.col("v"))))
    reps = base.groupBy("v").agg(F.min("id").alias("state_id"))
    tables = F.explode(F.array(*[
        F.struct(F.lit(ti).alias("tbl"),
                 lsh_bucket_expr("v", n_planes, dims,
                                 plane_offset=ti * n_planes)
                 .alias("bucket"))
        for ti in range(n_tables)])).alias("tb")
    return reps.select("state_id", F.col("v").alias("sv"), tables) \
               .select("state_id", "sv", "tb.tbl", "tb.bucket")


def _emb_state_props(n_planes: int, n_tables: int, dims: int) -> dict:
    return {"dps.emb.n_planes": str(n_planes),
            "dps.emb.n_tables": str(n_tables),
            "dps.emb.dims": str(dims)}


def _check_emb_state_geometry(spark, table: str, n_planes: int,
                              n_tables: int, dims: int) -> None:
    """Refuse to join/append against a state table written with
    DIFFERENT LSH geometry (round-10 review finding): a parameter
    mismatch changes every bucket value, so the (tbl, bucket) state
    join silently matches nothing — even a byte-identical re-ingest of
    a state vector would survive as 'new'. The geometry is recorded in
    TBLPROPERTIES at write time and validated on every read, turning
    the silent recall loss into a hard error."""
    want = _emb_state_props(n_planes, n_tables, dims)
    got = {r["key"]: r["value"]
           for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}
    missing = [k for k in want if k not in got]
    if missing:
        raise ValueError(
            f"state table {table!r} carries no LSH-geometry properties "
            f"({missing}) — it was not written by write_embedding_table; "
            "refusing to guess its banding parameters")
    bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
    if bad:
        raise ValueError(
            f"LSH geometry mismatch on state table {table!r}: "
            + ", ".join(f"{k} table={g} caller={w}"
                        for k, (g, w) in sorted(bad.items()))
            + " — the bucket join would silently match nothing; use the "
            "parameters the table was written with, or rebuild it")


def write_embedding_table(emb: DataFrame, table: str,
                          n_buckets: int = 32, n_planes: int = 8,
                          n_tables: int = 4, dims: int = 64,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> None:
    """Materialize embedding-dedup ingest state: distinct-vector LSH
    band rows BUCKETED on the bucket value — the join key of the
    incremental state join — so per-ingest reads of the ever-growing
    state stay co-located while only the small batch shuffles (the
    write_image_hash_table layout on the embedding blocking key).
    The LSH geometry (n_planes/n_tables/dims) is frozen into the
    layout AND recorded in TBLPROPERTIES; incremental/merge calls
    validate it and raise on mismatch instead of silently joining
    nothing."""
    rows = _embedding_state_rows(emb, n_planes, n_tables, dims,
                                 vec_col, id_col)
    (rows.write.mode("overwrite").bucketBy(n_buckets, "bucket")
     .sortBy("bucket").format("parquet").saveAsTable(table))
    props = ", ".join(f"'{k}'='{v}'" for k, v in
                      _emb_state_props(n_planes, n_tables, dims).items())
    emb.sparkSession.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ({props})")


def embedding_dedup_incremental(new_emb: DataFrame,
                                table: str | None = None,
                                corpus_emb: DataFrame | None = None,
                                threshold: float = 0.38,
                                n_planes: int = 8, n_tables: int = 4,
                                dims: int = 64,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id") -> DataFrame:
    """Per-ingest embedding near-dup dedup: a new vector survives iff
    no state vector it band-collides with verifies at cosine >=
    ``threshold`` AND no lower-id verified near-dup inside the batch —
    the sig_survivor_ids semantics on the LSH blocking. State = a
    bucketed ``write_embedding_table`` table (the production loop) or
    ``corpus_emb`` banded on the fly (the side-effect-free composition
    the oracled row uses) — exactly one of the two. Zero-norm /
    non-finite vectors are outside the cosine domain and are dropped
    like undecodable images.

    Skew shape: the batch side collapses to DISTINCT vectors before
    banding (an identical-embedding batch clique crosses the state
    join once; its non-representative members lose by construction —
    their min-id twin is an in-batch duplicate, sound because
    ``threshold <= 0.999999`` keeps cos(v, v)'s IEEE round trip above
    any allowed cut), and the state side is distinct-per-vector by
    the write layout. Recall caveats of the LSH blocking apply
    exactly as in embedding_cosine_pairs_lsh: a true near-dup
    separated in every signature table is missed by BOTH the batch
    and state checks."""
    from datafusion_postgres_spark.operators.similarity import (
        _usable_norm, cosine_similarity, lsh_bucket_expr,
    )
    if not 0.0 < threshold <= 0.999999:
        raise ValueError(
            "threshold must be in (0, 0.999999] — above that, IEEE "
            "sqrt rounding can put cos(v, v) below the threshold and "
            "the identical-vector collapse loses soundness (got "
            f"{threshold})")
    if (table is None) == (corpus_emb is None):
        raise ValueError("pass exactly one of table / corpus_emb")
    spark = new_emb.sparkSession
    if table is not None:
        _check_emb_state_geometry(spark, table, n_planes, n_tables,
                                  dims)
        spark.catalog.refreshTable(table)
        state = spark.table(table)
    else:
        state = _embedding_state_rows(corpus_emb, n_planes, n_tables,
                                      dims, vec_col, id_col)
    base = cache_generation(
        "embedding_dedup_incremental",
        new_emb.select(F.col(id_col).alias("id"),
                       F.transform(F.col(vec_col),
                                   lambda x: x.cast("double")).alias("v"))
        .where(_usable_norm(F.col("v"))))
    reps = cache_generation(
        "embedding_dedup_incremental_reps",
        base.groupBy("v").agg(F.min("id").alias("id")))
    tables = F.explode(F.array(*[
        F.struct(F.lit(ti).alias("tbl"),
                 lsh_bucket_expr("v", n_planes, dims,
                                 plane_offset=ti * n_planes)
                 .alias("bucket"))
        for ti in range(n_tables)])).alias("tb")
    blocked = reps.select("id", "v", tables) \
                  .select("id", "v", "tb.tbl", "tb.bucket")
    dup_vs_state = (blocked.join(state, ["tbl", "bucket"])
                    .where(cosine_similarity(F.col("v"), F.col("sv"))
                           >= threshold)
                    .select("id").distinct())
    dup_in_batch = (blocked.alias("x").join(
                        blocked.alias("y"),
                        (F.col("x.tbl") == F.col("y.tbl")) &
                        (F.col("x.bucket") == F.col("y.bucket")) &
                        (F.col("x.id") < F.col("y.id")))
                    .where(cosine_similarity(F.col("x.v"), F.col("y.v"))
                           >= threshold)
                    .select(F.col("y.id").alias("id")).distinct())
    survivors = (reps.select("id")
                 .join(dup_vs_state, "id", "left_anti")
                 .join(dup_in_batch, "id", "left_anti"))
    return new_emb.join(
        survivors.withColumnRenamed("id", id_col), id_col, "left_semi")


def merge_new_embeddings(survivor_emb: DataFrame, table: str,
                         n_buckets: int = 32, n_planes: int = 8,
                         n_tables: int = 4, dims: int = 64,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> None:
    """Append the surviving batch's LSH state rows into the bucketed
    state table. Survivors can never repeat a state vector (an
    identical vector band-collides everywhere and verifies at
    cos ~ 1 >= threshold, so it is a dup), so the state stays
    distinct-per-vector across batches — the image/audio/video/text
    merge contract. Geometry is validated against the table's
    recorded TBLPROPERTIES first (appending rows banded with different
    parameters would poison the state silently)."""
    _check_emb_state_geometry(survivor_emb.sparkSession, table,
                              n_planes, n_tables, dims)
    rows = _embedding_state_rows(survivor_emb, n_planes, n_tables,
                                 dims, vec_col, id_col)
    (rows.write.mode("append").bucketBy(n_buckets, "bucket")
     .sortBy("bucket").format("parquet").saveAsTable(table))


def connected_components(pairs: DataFrame, col_a: str = "id_a",
                         col_b: str = "id_b",
                         max_iter: int = 12) -> DataFrame:
    """Duplicate-cluster assignment: edge list → (doc_id, component_id),
    component_id = the minimum node id reachable from doc_id.

    Pregel-style min-label propagation. Each round propagates the current
    minimum label across edges — one join keyed on the edge endpoint plus
    one min-aggregate keyed on node id (two hash shuffles, both on ids,
    no broadcast of anything unbounded). Near-dup components coming out
    of LSH / set-similarity verification are near-cliques, so the loop
    converges in 2-3 rounds; ``max_iter`` bounds pathological chain
    graphs (diameter-long paths).

    Each round's label table is eagerly checkpoint-ed (reliable
    ``checkpoint()`` when ``spark.sparkContext.setCheckpointDir`` was
    called — the cluster deployment mode that survives executor loss —
    ``localCheckpoint`` otherwise; see cachectl.bounded_checkpoint), NOT
    merely persisted: persist bounds *recomputation* but the LOGICAL
    plan of round k still embeds round k-1's full plan ~2-3x (labels
    appears in the union AND the message join), so with persist alone
    the plan grows EXPONENTIALLY in the round count — measured 2.3x
    chars/round, with per-round analysis time 1.1s -> 26s by round 6
    on a 16-edge chain graph, and an 8 GB driver heap OOM (millions of
    live Catalyst nodes) on the bench_scale text-clique corpus. The
    checkpoint truncates the plan to a LogicalRDD leaf, making every
    round's plan (and analysis cost) constant-size. Each round frees
    the previous round's checkpoint blocks as soon as the new round is
    materialized; the FINAL label table is registered as a
    cachectl.checkpoint_generation so exactly one invocation's result
    stays live (the next invocation — or release_operator_caches —
    frees it; a stale pre-generation frame then fails fast rather than
    recomputing, which a lineage-truncated plan cannot do).

    The reference has no graph operator; this serves the training-data
    pipeline (collapse LSH pair output into duplicate clusters so one
    representative per cluster survives).
    """
    a, b = F.col(col_a), F.col(col_b)
    edges = (pairs.select(a.alias("src"), b.alias("dst"))
             .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
             .distinct()
             .persist())
    labels = bounded_checkpoint(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id")))
    for _ in range(max_iter):
        msgs = (edges.join(labels, edges["dst"] == labels["id"])
                .select(F.col("src").alias("id"), F.col("label")))
        new_labels = bounded_checkpoint(
            labels.unionByName(msgs)
            .groupBy("id").agg(F.min("label").alias("label")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .where(F.col("n.label") < F.col("o.label"))
                   .limit(1).count())
        # new_labels is fully materialized (eager) and the changed
        # probe has run — nothing reads the previous round again.
        free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    labels = checkpoint_generation("connected_components", labels)
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("component_id"))


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, min_overlap: int = 1) -> DataFrame:
    """Benchmark decontamination: training docs sharing at least
    ``min_overlap`` word-n-grams with ANY eval/benchmark document →
    (doc_id, n_overlap, overlap_ratio), contaminated docs only.

    Scale shape: eval sets are small (thousands of docs) while the corpus
    is the 100 TB side, so the DISTINCT eval shingle set is broadcast.
    The corpus pipeline is a zero-shuffle scan (shingle projection +
    narrow explode) filtered by the broadcast hash join; the only
    exchange aggregates the surviving HIT rows by doc id — at scale
    that's a tiny fraction of the corpus. The corpus is never shuffled
    and never joined shuffle-to-shuffle against itself."""
    eval_grams = (shingles(eval_docs, text_col, id_col, n)
                  .select("gram_hash").distinct())
    corpus = (shingle_array(docs, text_col, id_col, n)
              .select("id", "set_size", F.explode("grams")
                      .alias("gram_hash")))
    hits = (corpus.join(F.broadcast(eval_grams), "gram_hash")
            .groupBy("id", "set_size")
            .agg(F.count("*").alias("n_overlap"))
            .where(F.col("n_overlap") >= min_overlap))
    return hits.select(
        F.col("id").alias("doc_id"),
        F.col("n_overlap"),
        F.round(F.col("n_overlap") / F.col("set_size"), 6)
        .alias("overlap_ratio"))


def semantic_dedup(emb: DataFrame, threshold: float = 0.38,
                   n_clusters: int = 16, kmeans_iters: int = 3,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then inside each
    cluster drop every vector that has a LOWER-id neighbor with cosine
    similarity >= ``threshold`` (greedy keep-first — deterministic, no
    random tie-breaks). Returns ``(vec_id, cluster_id, kept)``.

    Scale shape: clustering is spherical k-means (broadcast-assign, ONE
    partial-agg groupBy per iteration — see
    :func:`~.similarity.kmeans_centroids`); the pairwise cosine runs ONLY
    within a cluster (self-join keyed on cluster id), so the quadratic
    term is bounded by the largest cluster, not the corpus — the whole
    point of SemDedup versus :func:`embedding_cosine_pairs`. A skewed
    giant cluster is the known failure mode: raise ``n_clusters`` so
    clusters stay O(corpus/k), and AQE's skew-join split handles residual
    imbalance.

    ``kmeans_iters=0`` uses the first-n-by-id seed centroids
    (:func:`~.similarity.deterministic_centroids`) — fully
    SQL-expressible, which is what makes the registered query
    end-to-end oracle-able in DuckDB.
    """
    from datafusion_postgres_spark.operators.similarity import (
        cosine_similarity, deterministic_centroids, ivf_assign,
        kmeans_centroids,
    )
    if kmeans_iters > 0:
        cents = kmeans_centroids(emb, n_clusters, kmeans_iters,
                                 vec_col, id_col)
    else:
        cents = deterministic_centroids(emb, n_clusters, vec_col, id_col)
    assigned = cache_generation(
        "semantic_dedup",
        ivf_assign(emb, cents, vec_col=vec_col, id_col=id_col))
    a = assigned.select(F.col("centroid_id"), F.col("vec_id").alias("id_a"),
                        F.col("vec").alias("va"))
    b = assigned.select(F.col("centroid_id"), F.col("vec_id").alias("id_b"),
                        F.col("vec").alias("vb"))
    dropped = (a.join(b, "centroid_id")
               .where(F.col("id_a") < F.col("id_b"))
               .withColumn("cos_sim",
                           cosine_similarity(F.col("va"), F.col("vb")))
               .where(F.col("cos_sim") >= threshold)
               .select(F.col("id_b").alias("vec_id"))
               .distinct()
               .withColumn("dropped", F.lit(True)))
    return (assigned.join(dropped, "vec_id", "left")
            .select("vec_id",
                    F.col("centroid_id").cast("bigint").alias("cluster_id"),
                    F.coalesce(~F.col("dropped"), F.lit(True)).alias("kept")))


def dedup_incremental(new_docs: DataFrame, corpus: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Incremental-ingest dedup: keep only the new documents whose
    normalized-text fingerprint appears neither in the existing corpus
    nor earlier (lower id) within the new batch itself — the per-drop
    filter a continuously-growing corpus applies on every ingest.

    Scale shape: the corpus side reduces to DISTINCT fingerprints (one
    narrow bigint column) before the join — at ingest scale that
    fingerprint table is maintained as a bucketed table keyed on the
    fingerprint, so the anti-join is co-located and the raw corpus text
    is never rescanned. Within-batch: one groupBy(min id) on the batch
    (small by definition)."""
    fp = fingerprint(F.col(text_col))
    seen = (corpus.select(fp.alias("fp")).distinct())
    batch = new_docs.withColumn("fp", fp)
    first_in_batch = (batch.groupBy("fp")
                      .agg(F.min(id_col).alias("keep_id")))
    return (batch
            .join(seen, "fp", "left_anti")
            .join(first_in_batch.select("keep_id"),
                  batch[id_col] == F.col("keep_id"), "left_semi")
            .drop("fp"))


def substring_dup_pairs(docs: DataFrame, window: int = 20,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_df: int | None = 1000) -> DataFrame:
    """Exact substring deduplication: document pairs sharing at least one
    exact ``window``-token substring (after normalization) — the
    suffix-array method of "Deduplicating Training Data Makes Language
    Models Better" re-expressed for Spark: instead of one giant suffix
    array, every w-token window gets a portable rolling fingerprint
    (word-fingerprint fold, same arithmetic the oracle replays), docs
    meet on equal window hashes, and the pair count of shared distinct
    windows comes out of one group-by.

    Cost model at 100 TB: per-doc window hashing is a zero-shuffle
    codegen projection (O(tokens x window) integer ops); the only
    shuffle carries (hash, id) pairs — 16 bytes per distinct window.
    Boilerplate windows shared by thousands of docs blow up the
    self-join quadratically: ``max_df`` (default 1000 — the safe-by-default
    cap; a window in >1000 docs is boilerplate, and uncapped it alone
    contributes >500k pair rows) drops window hashes seen in more than
    that many docs BEFORE the join. ``max_df=None`` is the explicit
    exact-mode opt-out (the DuckDB-oracle query uses it).
    Fingerprint collisions (~1e-9 per window pair) are accepted and
    engine-identical."""
    from datafusion_postgres_spark.operators.text import word_hashes_sql
    fp_arr = F.expr(word_hashes_sql(f"`{text_col}`"))
    n = F.size(fp_arr)
    # MATERIALIZE the fingerprint array before the window fold: inlining
    # fp_arr into the per-window lambda re-evaluates the whole
    # split+char-fold chain for every window (higher-order lambdas get no
    # subexpression reuse — measured 15s vs <1s at sf0.1). The explicit
    # projection binds `fp` once per doc; the per-window fold then reads
    # the bound attribute. greatest(..., 1): Spark's sequence(1, 0)
    # DESCENDS ([1, 0]) and a 0 start would crash slice.
    fps = (docs.where(n >= window)
           .select(F.col(id_col).alias("id"), fp_arr.alias("fp")))
    # window fold over the bound fp column as one parse (round-10;
    # identical sequence/slice/aggregate tree — pinned)
    whs = F.expr(
        "array_distinct(transform("
        f"sequence(1, greatest(size(fp) - {window} + 1, 1)), "
        f"s -> aggregate(slice(fp, s, {window}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * 31 + x) % {FP_MOD})))")
    # explode_OUTER, deliberately: plain explode triggers
    # InferFiltersFromGenerate, whose inferred size(whs)>0 predicate gets
    # pushed below the parallelism repartition with the WHOLE window-hash
    # expression re-inlined — the entire computation then runs inside the
    # narrow scan stage (measured 13s single-task vs ~1s). The n >= window
    # guard already makes every whs non-empty, so outer == inner here.
    # cache: the O(tokens x window) hash fold is the expensive stage and
    # exploded feeds BOTH self-join sides (plus the df-cap agg) — without
    # this the fold runs up to 3x (measured 38s -> ~13s on the 50k-doc
    # scale corpus). The cached rows are (id, wh) — 16 bytes per window,
    # a sliver of the input text.
    exploded = cache_generation(
        "substring_dup_pairs",
        fps.select("id", whs.alias("whs"))
        .select("id", F.explode_outer("whs").alias("wh")))
    if max_df is not None:
        _log.info("substring_dup_pairs: df-cap active (max_df=%d); "
                  "boilerplate windows are excluded from pairing — "
                  "max_df=None for exact mode", max_df)
        hot = (exploded.groupBy("wh")
               .agg(F.count("*").alias("df"))
               .where(F.col("df") > max_df).select("wh"))
        exploded = exploded.join(F.broadcast(hot), "wh", "left_anti")
    a = exploded.select(F.col("id").alias("id_a"), "wh")
    b = exploded.select(F.col("id").alias("id_b"), "wh")
    return (a.join(b, "wh")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("bigint").alias("n_shared_windows")))


def build_bloom_probe(eval_docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      bits_per_elem: int = 12, n_hashes: int = 4):
    """(bloom_keep, eval_grams): a PURE-CODEGEN membership test for the
    eval corpus's shingle set plus the exact gram table it approximates.

    ``bloom_keep(h_col) -> BooleanColumn`` tests a gram-hash column
    against a packed-word Bloom bitset shipped as ONE array<bigint>
    Literal — an ordinary expression, so it composes into any
    projection unchanged."""
    import numpy as np

    n_bits = 1
    # probe budget: next power of two >= bits_per_elem * |eval shingles|
    eval_grams = (shingles(eval_docs, text_col, id_col, n)
                  .select("gram_hash").distinct())
    eval_arr = np.array([r[0] for r in eval_grams.collect()], dtype=np.int64)
    while n_bits < max(bits_per_elem * max(len(eval_arr), 1), 64):
        n_bits <<= 1
    mask = n_bits - 1
    # k independent probes via multiply-shift hashing (Dietzfelbinger):
    # idx = HIGH bits of h * A + B for ODD 32-bit multipliers A. The
    # previous LCG probe masked the LOW bits of h*a with half the
    # multipliers even — low-bit degeneracy under a power-of-two mask
    # drove the measured false-positive rate to ~10% vs the ~0.06%
    # design point (caught by the scale-stress harness: the FP slice is
    # exactly what shuffles). Gram hashes are < 2^30 and A < 2^32, so
    # h*A + B < 2^63 — no overflow, ANSI-mode safe, and the numpy build
    # and Spark probe compute the identical integers.
    _A = (2654435761, 2246822519, 3266489917, 668265263,
          2869860233, 1640531527)
    _B = (1013904223, 374761393, 1103515245, 2027808447,
          668265263, 12345)
    # (A, B) pairs must be DISTINCT per probe or extra probes add zero
    # independence: cycling both tables with the same period 6 would
    # silently reuse pairs past n_hashes=6, so the B index advances by
    # an extra stride each full A cycle (period 36 = 6*6 distinct
    # pairs; i < 6 keeps the exact historical pairs). Beyond 36 there
    # are no fresh pairs — refuse rather than degrade silently.
    if n_hashes > len(_A) * len(_B):
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(_A) * len(_B)} "
            "distinct (A, B) probe pairs available")
    probes = [(_A[i % len(_A)] | 1,
               _B[(i + i // len(_A)) % len(_B)])
              for i in range(n_hashes)]
    # packed 32 bits per word: element values stay positive and below
    # 2^32, so the codegen bit test (divide by an exact power of two,
    # truncate, parity) never meets the sign bit
    words32 = np.zeros(n_bits >> 5, dtype=np.int64)
    for a, b in probes:
        prod = eval_arr * np.int64(a) + np.int64(b)
        idx = ((prod >> 28) & np.int64(mask)).astype(np.int64)
        np.bitwise_or.at(words32, idx >> 5,
                         np.int64(1) << (idx & 31).astype(np.int64))
    w_lit = llit(int(x) for x in words32)

    def bloom_keep(h):
        t = None
        for a, b in probes:
            idx = F.shiftright(h * F.lit(a) + F.lit(b), 28) \
                .bitwiseAND(F.lit(mask))
            word = F.element_at(
                w_lit, (F.shiftright(idx, 5) + 1).cast("int"))
            bit = (word / F.pow(F.lit(2.0), (idx % 32).cast("double"))) \
                .cast("long") % 2 == 1
            t = bit if t is None else (t & bit)
        return t

    return bloom_keep, eval_grams


def decontaminate_bloom(docs: DataFrame, eval_docs: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, min_overlap: int = 1,
                        bits_per_elem: int = 12,
                        n_hashes: int = 4) -> DataFrame:
    """``decontaminate`` with a Bloom-filter prefilter — the memory-scale
    path, with the SAME exact output.

    ``decontaminate`` broadcasts the DISTINCT eval shingle set as a hash
    join table (~30+ B/element in an executor hash map). Fine for
    thousands of benchmark docs; against a large held-out corpus
    (validation split, licensed-content blocklist — 10^9 shingles) the
    broadcast table would be tens of GB per executor. A Bloom bitset at
    ``bits_per_elem`` bits/element is ~25x smaller (1.5 GB for 10^9) with
    a false-POSITIVE rate of ~ (1-e^(-k/b))^k (b=12, k=4 -> ~0.6%), and
    Bloom filters have NO false negatives — so probing the bitset first
    and exact-joining ONLY the survivors keeps the result exact while the
    join input shrinks from every corpus shingle to true hits + ~0.6% of
    misses.

    Corpus-side plan shape: zero-shuffle shingle projection -> PURE
    CODEGEN bitset probe (the bitset ships as ONE array<bigint> Literal
    of packed 32-bit words; each probe is element_at + a power-of-two
    scale — no UDF, no Arrow hop, the prefilter runs at scan speed
    INSIDE the grams array before anything explodes) -> equi-join
    confirm on the bloom survivors only -> one aggregation of hit rows.
    The corpus never shuffles. Current implementation bound: the bitset
    is built on the driver from the collected eval shingle hashes (~8 B
    each), so eval sets up to ~10^8 shingles are practical; beyond that,
    build the packed words offline (per-partition bitsets OR-reduced)
    and pass them in — the probe side, which is what touches the 100 TB
    corpus, is unaffected.
    """
    bloom_keep, eval_grams = build_bloom_probe(
        eval_docs, text_col, id_col, n, bits_per_elem, n_hashes)
    candidates = (shingle_array(docs, text_col, id_col, n)
                  .select(F.col("id").cast("long"),
                          F.col("set_size").cast("long"),
                          F.explode(F.filter("grams", bloom_keep))
                          .alias("gram_hash")))
    # confirm with a plain (AQE-planned) join, NOT a forced broadcast:
    # re-broadcasting the full eval hash set would reintroduce exactly
    # the memory cost the bitset avoids. Candidates are true hits plus
    # ~0.6% of misses, so the shuffle is a sliver of the corpus.
    hits = (candidates.join(eval_grams, "gram_hash")
            .groupBy("id", "set_size")
            .agg(F.count("*").alias("n_overlap"))
            .where(F.col("n_overlap") >= min_overlap))
    return hits.select(
        F.col("id").alias("doc_id"),
        F.col("n_overlap"),
        F.round(F.col("n_overlap") / F.col("set_size"), 6)
        .alias("overlap_ratio"))


def write_fingerprint_table(corpus: DataFrame, table: str,
                            text_col: str = "text",
                            n_buckets: int = 32) -> None:
    """Materialize the ingest-dedup state the `dedup_incremental`
    docstring promises: the corpus reduced to DISTINCT normalized-text
    fingerprints, saved as a BUCKETED table keyed on the fingerprint.
    Built once (or appended per ingest via merge_new_fingerprints);
    the raw corpus text is never rescanned afterwards."""
    (corpus.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
     .write.mode("overwrite").bucketBy(n_buckets, "fp")
     .sortBy("fp").format("parquet").saveAsTable(table))


def dedup_incremental_bucketed(new_docs: DataFrame, table: str,
                               text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """`dedup_incremental` against the persisted fingerprint table: the
    anti-join's big side is bucket-pruned — ONLY the small batch
    shuffles (hashed into the table's bucketing), the fingerprint table
    itself is read co-located with zero Exchange (pinned in
    tests/test_operators.py). This is the per-ingest production path of
    a continuously-growing 100 TB corpus."""
    spark = new_docs.sparkSession
    # drop any cached file listing: in an ingest LOOP the previous
    # batch's merge appended files after this session first read the
    # table, and a stale relation cache would silently miss them
    spark.catalog.refreshTable(table)
    seen = spark.table(table)
    fp = fingerprint(F.col(text_col))
    batch = new_docs.withColumn("fp", fp)
    first_in_batch = (batch.groupBy("fp")
                      .agg(F.min(id_col).alias("keep_id")))
    return (batch
            .join(seen, "fp", "left_anti")
            .join(first_in_batch.select("keep_id"),
                  batch[id_col] == F.col("keep_id"), "left_semi")
            .drop("fp"))


def merge_new_fingerprints(survivors: DataFrame, table: str,
                           text_col: str = "text",
                           n_buckets: int = 32) -> None:
    """Append the surviving batch's fingerprints into the bucketed state
    table — the write side of the ingest loop. ``n_buckets`` must match
    the table's bucket spec (Spark validates and rejects a mismatch)."""
    (survivors.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
     .write.mode("append").bucketBy(n_buckets, "fp").sortBy("fp")
     .format("parquet").saveAsTable(table))


def compact_fingerprint_table(spark, table: str, n_buckets: int = 32,
                              max_files_per_bucket: int = 8) -> dict:
    """Bound the state table's file count in a long-running ingest loop.

    ``merge_new_fingerprints`` appends one file set per bucket per
    micro-batch, so file count grows linearly with batches; small-file
    accumulation eventually dominates the anti-join's scan cost. When
    the table's files exceed ``n_buckets * max_files_per_bucket``, the
    DISTINCT fingerprints are rewritten into a fresh table with the
    SAME bucket spec (bucket-pruned reads keep working unchanged) and
    swapped in via DROP + RENAME. Not crash-atomic — a transactional
    catalog (Iceberg/Delta) would make the swap a metadata commit; for
    a Hive-style managed table this is the standard compaction shape.

    Returns {"compacted": bool, "files_before": n, "files_after": n} —
    call it from the ingest loop every batch; it no-ops until the
    threshold trips (one file listing, no job)."""
    spark.catalog.refreshTable(table)
    files_before = len(spark.table(table).inputFiles())
    if files_before <= n_buckets * max_files_per_bucket:
        return {"compacted": False, "files_before": files_before,
                "files_after": files_before}
    staging = f"{table}__compact"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    (spark.table(table).select("fp").distinct()
     .write.mode("overwrite").bucketBy(n_buckets, "fp").sortBy("fp")
     .format("parquet").saveAsTable(staging))
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    spark.catalog.refreshTable(table)
    files_after = len(spark.table(table).inputFiles())
    return {"compacted": True, "files_before": files_before,
            "files_after": files_after}


def overlap_profile(train: DataFrame, eval_docs: DataFrame,
                    ns: tuple[int, ...] = (1, 2, 3),
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Train-vs-eval n-gram LEAKAGE CURVE: for each n, the distinct gram
    counts of both corpora, the shared count, and the Jaccard of the two
    gram sets — the diagnostic read before choosing the decontamination
    n (too small n = spurious overlap, too large = misses paraphrase;
    the knee of this curve is the usual pick).

    One zero-shuffle shingle projection per (corpus, n), then three
    narrow distinct-count aggregations per n over 64-bit gram hashes —
    nothing corpus-sized shuffles more than its distinct gram set.
    Deterministic integer counts; the final ratio is one double
    division (oracle hash-stable)."""
    parts = []
    for n in ns:
        tg = (shingle_array(train, text_col, id_col, n)
              .select(F.explode("grams").alias("g")).distinct())
        eg = (shingle_array(eval_docs, text_col, id_col, n)
              .select(F.explode("grams").alias("g")).distinct())
        shared = tg.join(eg, "g", "left_semi")
        row = (tg.agg(F.count("*").alias("n_train"))
               .crossJoin(eg.agg(F.count("*").alias("n_eval")))
               .crossJoin(shared.agg(F.count("*").alias("n_shared")))
               .select(F.lit(n).cast("int").alias("n"),
                       F.col("n_train").cast("bigint").alias("n_train_grams"),
                       F.col("n_eval").cast("bigint").alias("n_eval_grams"),
                       F.col("n_shared").cast("bigint").alias("n_shared"),
                       F.round(F.col("n_shared") * 1.0 /
                               (F.col("n_train") + F.col("n_eval") -
                                F.col("n_shared")), 6).alias("jaccard")))
        parts.append(row)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
