"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure `pyspark.sql.functions` compositions — no Python
UDFs — so they run inside whole-stage codegen and scale linearly with
executors. Deterministic by construction (no rand, no hash-seed
dependence): the document fingerprint uses an explicit polynomial rolling
hash instead of Spark's murmur3 so a DuckDB oracle can reproduce it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Small English stopword list used by the language-ID heuristic and the
# quality score. Keep in sync with the oracle SQL in queries/textops.py.
EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is",
                "it", "that", "for", "on", "with", "as")

FP_MOD = 1_000_000_007
FP_BASE = 31


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan has fewer partitions than the
    cluster has slots.

    Text operators are compute-bound projections (per-char hash folds, 48
    simhash bit counts) over comparatively tiny inputs; a small parquet
    file is a single row group, which parquet CANNOT split — so without
    this the whole projection serializes on one core (measured 19.2s ->
    1.4s for sf0.1 shingle hashing on local[32]). At 100 TB the scan
    arrives already split into many row groups and this is a no-op; the
    one-time shuffle of raw text is only paid when the input is narrower
    than the cluster."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from file stats (free — no job, no
    # driver-side RDD conversion; `df.rdd.getNumPartitions()` forces a
    # physical-plan conversion per call). Tiny files are one row group
    # each, so splits ~= sum(ceil(file_size / maxPartitionBytes)).
    splits = None
    try:
        import os
        paths = [p.replace("file://", "", 1) if p.startswith("file:") else p
                 for p in df.inputFiles()]
        # Only trust the size-based estimate when EVERY path resolves on
        # the driver's filesystem: for s3://, hdfs://, or unresolvable
        # file: URIs the stats would silently sum to 0 and force an
        # unconditional full-frame repartition — the exact shuffle this
        # estimate exists to avoid. Unresolvable paths fall through to
        # the physical rdd probe instead.
        if paths and all(os.path.exists(p) for p in paths):
            max_pb = _parse_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
            splits = sum(
                max(1, -(-os.path.getsize(p) // max_pb))
                for p in paths)
    except Exception:
        splits = None
    if splits is None:
        # non-file-backed frame (rare; no registered hot path) — the
        # physical probe is the only honest source of a partition count
        splits = df.rdd.getNumPartitions()
    if splits < target:
        return df.repartition(target)
    return df


def _parse_bytes(v) -> int:
    """'16m' / '128k' / '1g' / '134217728' -> bytes (Spark conf syntax)."""
    s = str(v).strip().lower()
    for suffix, mult in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                         ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                         ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
        if s.endswith(suffix):
            return int(float(s[:-len(suffix)]) * mult)
    return int(s)


def norm_text(col: Column) -> Column:
    """Normalization for exact dedup: lowercase, trim, collapse whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def words(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(words(col)))


# Array/parts-based metric bodies: each public helper below delegates
# here, and text_stats folds the same bodies over materialized columns
# — the constants (stopword list semantics, punctuation class, quality
# weights, lang thresholds) live in exactly ONE place (round-10 third
# review pass; the simhash_hashes_expr/simhash_from_hashes pattern).

def _stopword_ratio_from_words(wsl: Column) -> Column:
    in_list = F.filter(wsl, lambda w: w.isin(*EN_STOPWORDS))
    return F.size(in_list) / F.greatest(F.size(wsl), F.lit(1))


def _avg_word_len_from_words(ws: Column) -> Column:
    total = F.aggregate(ws, F.lit(0).cast("long"),
                        lambda acc, w: acc + F.length(w))
    return total / F.greatest(F.size(ws), F.lit(1))


def _quality_from_parts(text_col: Column, stop_ratio: Column,
                        punct: Column, wordlen: Column) -> Column:
    length_term = F.least(F.length(text_col) / F.lit(500.0), F.lit(1.0))
    stop_term = F.least(stop_ratio * 4.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct * 5.0, F.lit(1.0))
    wordlen_term = F.when((wordlen >= 3) & (wordlen <= 10), F.lit(1.0)) \
                    .otherwise(F.lit(0.5))
    return (length_term * 0.3 + stop_term * 0.3 + punct_term * 0.2 +
            wordlen_term * 0.2)


def _lang_from_parts(text_col: Column, stop_ratio: Column) -> Column:
    return (F.when(stop_ratio > 0.12, F.lit("en"))
             .when(text_col.rlike(r"[一-鿿]"), F.lit("zh"))
             .when(text_col.rlike(r"[À-ſ]"), F.lit("other_latin"))
             .otherwise(F.lit("unknown")))


def stopword_ratio(col: Column) -> Column:
    return _stopword_ratio_from_words(words(F.lower(col)))


def punct_ratio(col: Column) -> Column:
    puncts = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()-]", ""))
    return puncts / F.greatest(F.length(col), F.lit(1))


def avg_word_len(col: Column) -> Column:
    return _avg_word_len_from_words(words(col))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, some stopwords,
    moderate punctuation, sane word lengths."""
    return _quality_from_parts(col, stopword_ratio(col),
                               punct_ratio(col), avg_word_len(col))


def lang_id(col: Column) -> Column:
    """N-gram/stopword language-ID heuristic.

    Real pipelines plug in fastText/CLD3 via a Pandas UDF; the heuristic
    here is the UDF-free baseline: English stopword density decides 'en',
    otherwise character-class evidence.  Deterministic and cheap (single
    projection, no shuffle)."""
    return _lang_from_parts(col, stopword_ratio(col))


def _fingerprint_from_codes(codes: Column) -> Column:
    return F.aggregate(codes, F.lit(0).cast("long"),
                       lambda acc, x: (acc * FP_BASE + x) % FP_MOD)


def _char_codes(col: Column) -> Column:
    return F.transform(F.split(col, ""),
                       lambda c: F.ascii(c).cast("long"))


def fingerprint(col: Column) -> Column:
    """Polynomial rolling hash over the normalized text's characters:
    ``h = (h*31 + code) mod 1e9+7``.

    Engine-portable (pure integer arithmetic, no murmur3), so the DuckDB
    oracle can verify it; distributes as a single codegen'd projection."""
    return _fingerprint_from_codes(_char_codes(norm_text(col)))


def word_fingerprint(word: Column) -> Column:
    """Same rolling hash for a single token (used by minhash shingling)."""
    return _fingerprint_from_codes(_char_codes(word))


# SQL-text twins of the tokenize/fingerprint chains, for builders that
# assemble a whole projection as ONE ``F.expr`` parse (round-10: each
# Column op is a py4j round-trip, ~4 ms on the bench host; these chains
# are ~35-50 ops). Every piece mirrors its Column twin exactly —
# same split/trim/regexp/ascii/aggregate operators, same literal
# types — and the twins are value-pinned equal in tests.

def word_fingerprint_sql(word_sql: str) -> str:
    """SQL text of :func:`word_fingerprint` applied to ``word_sql``."""
    return (f"aggregate(transform(split({word_sql}, ''), "
            "c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), "
            f"(acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD})")


def word_hashes_sql(text_sql: str) -> str:
    """SQL text of the per-row word-hash array:
    ``transform(filter(words(norm_text(text)), w != ''),
    word_fingerprint)`` — the shared first stage of the shingle /
    substring / simhash / classifier feature chains."""
    norm = f"regexp_replace(trim(lower({text_sql})), '\\\\s+', ' ')"
    ws = f"filter(split(trim({norm}), '\\\\s+'), w -> w != '')"
    return f"transform({ws}, w -> {word_fingerprint_sql('w')})"


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document metrics table (token count, ratios, quality, lang).

    TWO-STAGE (round-10): the three array chains (raw words, lowered
    words, char codes) are materialized once, then the nine metrics
    fold over the bound columns. The single-projection form re-split
    per sibling metric (~12 splits/row); projection-level CSE
    recovered most of it, so this is a modest 1.4x (measured) — taken
    because the same columns serve three oracled rows and the
    doc_quality TVF, and the values are bit-identical (each metric's
    arithmetic is unchanged, only the array source is a column)."""
    c = F.col(text_col)
    stage1 = df.select(
        F.col(id_col), c.alias("__t"),
        words(c).alias("__ws"),
        words(F.lower(c)).alias("__wsl"),
        _char_codes(norm_text(c)).alias("__codes"))
    t, ws, wsl = F.col("__t"), F.col("__ws"), F.col("__wsl")
    stop_ratio = _stopword_ratio_from_words(wsl)
    punct = punct_ratio(t)
    awl = _avg_word_len_from_words(ws)
    qual = _quality_from_parts(t, stop_ratio, punct, awl)
    lang = _lang_from_parts(t, stop_ratio)
    fp = _fingerprint_from_codes(F.col("__codes"))
    return stage1.select(
        F.col(id_col),
        F.when(F.trim(t) == "", F.lit(0)).otherwise(F.size(ws))
         .alias("n_tokens"),
        F.length(t).alias("n_chars_actual"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(awl, 6).alias("avg_word_len"),
        F.round(qual, 6).alias("quality"),
        lang.alias("lang_pred"),
        fp.alias("fingerprint"),
    )


def sample_systematic(df: DataFrame, key_col: str, rate_denom: int,
                      stratify_col: str | None = None,
                      remainder: int = 0) -> DataFrame:
    """Deterministic 1-in-``rate_denom`` sample: keep rows whose portable
    key hash lands on ``remainder`` mod rate_denom.

    Unlike rand()-based sampling this is reproducible across engines,
    runs, and partitionings (the classic training-data holdout trick —
    the same doc always lands in the same split), and it is a pure
    zero-shuffle scan-side filter at any scale. With ``stratify_col``
    the key is salted per stratum so every stratum is sampled at the
    same 1/denom rate independent of its key distribution."""
    key = F.col(key_col).cast("string")
    if stratify_col is not None:
        key = F.concat(F.col(stratify_col).cast("string"), F.lit("|"), key)
    h = fingerprint(key)
    return df.where(h % F.lit(rate_denom) == F.lit(remainder))


def split_train_eval(df: DataFrame, eval_denom: int = 100,
                     eval_parts: int = 5, key_col: str = "doc_id",
                     stratify_col: str | None = None) -> tuple[DataFrame,
                                                               DataFrame]:
    """Deterministic stratified train/eval split: the eval side keeps
    rows whose portable key hash lands below ``eval_parts`` of
    ``eval_denom`` (e.g. 5/100 = a 5% holdout), the train side is the
    exact complement — one zero-shuffle scan filter per side, the same
    doc on the same side across engines, runs, and partitionings (the
    property a random split cannot give you, and the one that makes
    decontamination meaningful: an eval doc can never silently migrate
    into train on the next run). ``stratify_col`` salts the hash per
    stratum so every language/domain holds out at the same rate
    regardless of its key distribution."""
    if not (0 < eval_parts < eval_denom):
        raise ValueError(
            f"eval_parts must be in (0, {eval_denom}), got {eval_parts}")
    key = F.col(key_col).cast("string")
    if stratify_col is not None:
        key = F.concat(F.col(stratify_col).cast("string"), F.lit("|"), key)
    bucket = fingerprint(key) % F.lit(eval_denom)
    return (df.where(bucket >= F.lit(eval_parts)),
            df.where(bucket < F.lit(eval_parts)))


# ---------------------------------------------------------------------------
# Within-document repetition + quality filters (the Gopher/C4-style
# heuristics a pretraining pipeline applies before dedup; Rae et al. 2021
# §A1.1 and Raffel et al. 2020 §2.2 describe the public rule families).
# All pure codegen projections — zero shuffle at any scale.

def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(F.transform(arr, F.length), F.lit(0),
                       lambda acc, x: acc + x)


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       top_ngram_window: int = 512) -> DataFrame:
    """Per-document repetition table:

      * ``dup_line_frac`` — fraction of lines that are repeats of an
        earlier line;
      * ``dup_line_char_frac`` — fraction of characters sitting in those
        repeated lines;
      * ``dup_trigram_frac`` — fraction of word-3-grams that are repeats
        (O(n) distinct-count, whole doc);
      * ``top_bigram_frac`` — occurrence share of the most frequent word
        bigram (deviation from Gopher's character share: we report the
        occurrence fraction). Mode search is O(u·n), so it runs over the
        first ``top_ngram_window`` words — bounded per-row compute that
        cannot blow up on a pathological 100 MB document.
    """
    # TWO-STAGE shape (round-10, the simhash_expr finding applied
    # here — measured 125x on sf0.001 docs, identical values): the
    # former single projection put ``ws = words(c)`` INSIDE the
    # per-trigram/per-bigram lambda bodies, and interpreted HOFs
    # re-evaluate lambda-body subtrees per element — every trigram
    # re-split the whole document (O(n^2) chars). Each array is now
    # materialized in its own projection and the per-element lambdas
    # only index bound columns. Still zero-shuffle pure projections.
    c = F.col(text_col)
    stage1 = df.select(
        F.col(id_col), F.split(c, "\n").alias("__lines"),
        words(c).alias("__ws"))
    ws = F.col("__ws")
    n_words = F.size(ws)
    stage2 = stage1.select(
        F.col(id_col), "__lines", n_words.alias("__n_words"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_words - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.element_at(ws, i),
                                  F.element_at(ws, i + 1),
                                  F.element_at(ws, i + 2))).alias("__tg"),
        F.slice(ws, 1, top_ngram_window).alias("__wsw"))
    wsw = F.col("__wsw")
    nw = F.size(wsw)
    stage3 = stage2.select(
        F.col(id_col), "__lines", "__n_words", "__tg",
        nw.alias("__nw"),
        F.transform(
            F.sequence(F.lit(1), F.greatest(nw - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.element_at(wsw, i),
                                  F.element_at(wsw, i + 1))).alias("__bg"))
    lines, tg, bg = F.col("__lines"), F.col("__tg"), F.col("__bg")
    n_words, nw = F.col("__n_words"), F.col("__nw")
    dlines = F.array_distinct(lines)
    n_lines = F.greatest(F.size(lines), F.lit(1))
    line_chars = F.greatest(_sum_lengths(lines), F.lit(1))
    top_bigram_n = F.array_max(F.transform(
        F.array_distinct(bg),
        lambda x: F.size(F.filter(bg, lambda y: y == x))))
    return stage3.select(
        F.col(id_col),
        F.round((F.size(lines) - F.size(dlines)) / n_lines, 6)
         .alias("dup_line_frac"),
        F.round((_sum_lengths(lines) - _sum_lengths(dlines)) / line_chars, 6)
         .alias("dup_line_char_frac"),
        F.round(F.when(n_words >= 3,
                       (F.size(tg) - F.size(F.array_distinct(tg)))
                       / F.greatest(F.size(tg), F.lit(1)))
                 .otherwise(F.lit(0.0)), 6).alias("dup_trigram_frac"),
        F.round(F.when(nw >= 2, top_bigram_n /
                       F.greatest(nw - 1, F.lit(1)))
                 .otherwise(F.lit(0.0)), 6).alias("top_bigram_frac"),
    )


def gopher_quality_flags(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         min_words: int = 50,
                         max_words: int = 100_000) -> DataFrame:
    """Gopher-style document quality gate: per-rule booleans plus the
    combined ``keep`` flag, so the pipeline can both filter and audit
    WHICH rule rejected a document. Word-count bounds, mean word length
    in [3, 10], symbol-to-word ratio (#/ellipsis) <= 0.1, >= 80% words
    with an alphabetic character, and >= 2 distinct stopwords (the
    "not-English-text" tripwire)."""
    c = F.col(text_col)
    ws = words(c)
    n_words = F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(ws))
    mean_wl = _sum_lengths(ws) / F.greatest(n_words, F.lit(1))
    n_symbols = (F.size(F.split(c, "#")) - 1 +
                 F.size(F.split(c, r"\.\.\.")) - 1)
    alpha_words = F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]")))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(F.transform(ws, F.lower)),
        F.array(*[F.lit(s) for s in EN_STOPWORDS])))
    ok_nwords = (n_words >= min_words) & (n_words <= max_words)
    ok_wordlen = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    ok_symbols = (n_symbols / F.greatest(n_words, F.lit(1))) <= 0.1
    ok_alpha = (alpha_words / F.greatest(n_words, F.lit(1))) >= 0.8
    ok_stop = n_stop >= 2
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        ok_nwords.alias("ok_nwords"), ok_wordlen.alias("ok_wordlen"),
        ok_symbols.alias("ok_symbols"), ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_nwords & ok_wordlen & ok_symbols & ok_alpha & ok_stop)
        .alias("keep"))


def sample_mixture(df: DataFrame, weights: dict[str, float],
                   key_col: str = "doc_id", stratum_col: str = "lang",
                   denom: int = 10_000) -> DataFrame:
    """Deterministic mixture sampling: keep each stratum at its target
    rate (e.g. {'en': 0.9, 'de': 0.5}, unlisted strata dropped) using the
    portable key hash — the training-data "domain mixing" step. The same
    doc always lands in the same side across engines/runs/partitionings,
    and the whole thing is a zero-shuffle scan filter at any scale."""
    pairs: list[Column] = []
    for k, v in sorted(weights.items()):
        pairs += [F.lit(k), F.lit(float(v))]
    rate = F.coalesce(F.element_at(F.create_map(*pairs),
                                   F.col(stratum_col).cast("string")),
                      F.lit(0.0))
    h = fingerprint(F.concat(F.col(stratum_col).cast("string"), F.lit("|"),
                             F.col(key_col).cast("string")))
    return df.where((h % F.lit(denom)) < rate * denom)


# ---------------------------------------------------------------------------
# PII detection / redaction (round 4) — the scrubbing pass a public-web
# pretraining pipeline runs before release (the rule families are the
# public CCNet/Dolma/C4 ones: emails, phone numbers, IP addresses).
# Pure regexp projections — zero shuffle, linear scale — and the regex
# subset used (char classes, bounded repeats, \b, non-capturing groups)
# is shared by Java regex and RE2, so a DuckDB oracle replays it 1:1.

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def _pii_count_cols(c: Column) -> list[Column]:
    cols: list[Column] = []
    total = None
    for name, pat, _ in PII_PATTERNS:
        cnt = (F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
               .cast("bigint"))
        cols.append(cnt.alias(f"n_{name}"))
        total = cnt if total is None else total + cnt
    cols.append(total.alias("n_pii_total"))
    return cols


def pii_redact(col: Column) -> Column:
    """Redacted text: every PII match replaced by its category token, in
    the fixed PII_PATTERNS order (email before phone before ipv4, so a
    dotted phone number is never half-eaten by the IP rule)."""
    out = col
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Scrubbed corpus: per-category counts (from the pre-redaction text)
    + redacted text, ONE zero-shuffle projection."""
    c = F.col(text_col)
    return df.select(F.col(id_col), *_pii_count_cols(c),
                     pii_redact(c).alias("text_redacted"))


# ---------------------------------------------------------------------------
# Per-source corpus profile (round 4) — the "domain mixing" audit table:
# what each source contributes, how duplicated it is, and its quality
# level, so mixture weights (sample_mixture) can be chosen from data.

def source_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source stats: doc/token/char volume, corpus share, language
    spread, mean quality, and the exact-duplicate rate inside the source
    (1 - distinct fingerprints / docs).

    Scale: ONE partial-aggregated groupBy on source; the corpus-share
    window runs over the aggregated per-source rows only (a bounded,
    domain-sized result — single-digit to thousands of rows), never over
    documents."""
    from pyspark.sql import Window
    c = F.col(text_col)
    per = (df.groupBy("source")
           .agg(F.count("*").cast("bigint").alias("n_docs"),
                F.sum(token_count(c)).cast("bigint").alias("n_tokens"),
                F.sum(F.length(c)).cast("bigint").alias("n_chars"),
                F.count_distinct("lang").cast("bigint").alias("n_langs"),
                # per-row quantize BEFORE the sum: floor(q*1e6) is an exact
                # integer, so the aggregate is order-independent (a raw
                # double sum varies with partition order and breaks the
                # cross-engine hash gate)
                F.sum(F.floor(quality_score(c) * 1e6).cast("bigint"))
                .alias("_qsum"),
                F.count_distinct(fingerprint(c)).cast("bigint")
                .alias("_n_uniq")))
    total = F.sum("n_docs").over(Window.partitionBy())
    return (per.select(
                "source", "n_docs", "n_tokens", "n_chars", "n_langs",
                F.round(F.col("n_docs") / total, 6).alias("corpus_share"),
                F.round(F.col("_qsum") / (F.col("n_docs") * 1e6), 6)
                 .alias("avg_quality"),
                F.round(1 - F.col("_n_uniq") / F.col("n_docs"), 6)
                 .alias("exact_dup_rate")))


# ---------------------------------------------------------------------------
# Sequence packing + vocabulary stats (round 4)

def pack_sequences(df: DataFrame, budget_tokens: int,
                   text_col: str = "text", id_col: str = "doc_id",
                   n_shards: int = 64) -> DataFrame:
    """Greedy token-budget packing: assign each document to a training
    sequence (``shard``, ``seq_id``) so consecutive docs fill
    ``budget_tokens``-sized sequences — the standard pretraining batch
    construction (docs concatenated up to the context length).

    Deterministic: shard = portable hash(doc_id) mod n_shards, order
    within a shard = doc_id, seq boundary = floor(running-token-offset /
    budget). A doc straddling the boundary starts the next sequence's
    fill but keeps its single (shard, seq) assignment from its START
    offset — greedy first-fit, reproducible anywhere.

    Scale: ONE shuffle (the per-shard window sort); shard count bounds
    the window partition size, so 100 TB packs with n_shards sized to
    executors, never a global sort. Returns (doc_id, shard, seq_id,
    n_tokens, start_offset)."""
    from pyspark.sql import Window

    shard = fingerprint(F.col(id_col).cast("string")) % F.lit(n_shards)
    toks = token_count(F.col(text_col))
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    withs = (df.select(F.col(id_col), shard.alias("shard"),
                       toks.alias("n_tokens"))
             .withColumn("cum", F.sum("n_tokens").over(w))
             .withColumn("start_offset",
                         (F.col("cum") - F.col("n_tokens")).cast("bigint"))
             .withColumn("seq_id",
                         F.floor(F.col("start_offset") / budget_tokens)
                         .cast("bigint")))
    return withs.select(id_col, "shard", "seq_id",
                        F.col("n_tokens").cast("bigint").alias("n_tokens"),
                        "start_offset")


def vocab_topk(df: DataFrame, k: int = 100, text_col: str = "text",
               min_len: int = 1) -> DataFrame:
    """Corpus vocabulary head: top-k words by total occurrences with
    document frequency — the Zipf sanity check every corpus build runs
    (tokenizer coverage, boilerplate spotting, stopword tuning).

    Scale: explode is map-side; ONE partial-aggregated groupBy on the
    word; top-k via TakeOrderedAndProject, never a global sort. Ties
    break by word for cross-engine determinism."""
    ws = (df.select(F.col("doc_id"),
                    F.explode(words(norm_text(F.col(text_col))))
                    .alias("word"))
          .where(F.length("word") >= min_len))
    return (ws.groupBy("word")
            .agg(F.count("*").alias("occurrences"),
                 F.count_distinct("doc_id").alias("doc_freq"))
            .orderBy(F.desc("occurrences"), "word")
            .limit(k))


# ---------------------------------------------------------------------------
# Seeded corpus shuffle + entropy metrics (round 4)

def shuffle_sharded(df: DataFrame, seed: int, n_shards: int = 64,
                    id_col: str = "doc_id") -> DataFrame:
    """Reproducible global training-order shuffle: every doc gets a
    (shard, pos) — shard = portable hash(seed|id) mod n_shards, pos =
    rank within the shard by the same hash (ties by id). Different seeds
    give independent orders; the same seed gives the identical order on
    any engine, run, or partitioning — the property epoch shuffling needs
    that rand() cannot give.

    Scale: ONE shuffle (the per-shard window rank); no global sort —
    readers consume shards in (shard, pos) order, so 100 TB shuffles with
    n_shards sized to the cluster. Returns (id, shard, pos)."""
    from pyspark.sql import Window

    h = fingerprint(F.concat(F.lit(str(seed)), F.lit("|"),
                             F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (df.select(F.col(id_col), h.alias("h"))
            .withColumn("shard", (F.col("h") % n_shards).cast("int"))
            .withColumn("pos",
                        (F.row_number().over(w) - 1).cast("bigint"))
            .select(id_col, "shard", "pos"))


def _entropy(win: Column, bound: int) -> Column:
    """Shannon entropy (nats) of the element distribution of the first
    ``bound`` elements of ``win`` — which MUST be a materialized
    (bound) array column, never an expression chain: the per-element
    probability lambda references the window twice per distinct
    element, and interpreted HOFs re-evaluate lambda-body subtrees per
    element (the round-10 finding). Fold over the SORTED distinct
    elements (fixed order → engine-identical float sum)."""
    win = F.slice(win, 1, bound)
    n = F.size(win)
    dist = F.array_sort(F.array_distinct(win))
    p = lambda x: F.size(F.filter(win, lambda y: y == x)) / n  # noqa: E731
    acc = F.aggregate(dist, F.lit(0.0).cast("double"),
                      lambda a, x: a - p(x) * F.log(p(x)))
    return F.when(n <= 0, F.lit(0.0)).otherwise(acc)


def entropy_metrics(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    char_window: int = 512,
                    word_window: int = 256) -> DataFrame:
    """Per-document character- and word-level Shannon entropy — the cheap
    gibberish/repetition signal (CCNet's LM-perplexity gate's UDF-free
    stand-in): natural-language text sits near 2.5-3.3 nats of char
    entropy; mashed keys, base64 blobs, and looped boilerplate fall
    outside. O(u·n) mode search bounded by the windows, pure codegen,
    zero shuffle. TWO-STAGE (round-10): the char/word windows are
    materialized in their own projection — with the split chains
    inline, every distinct element's probability lambda re-split the
    whole document (values unchanged; see repetition_metrics)."""
    c = F.col(text_col)
    stage1 = df.select(
        F.col(id_col),
        F.slice(F.filter(F.split(F.lower(c), ""), lambda x: x != ""),
                1, char_window).alias("__cw"),
        F.slice(F.filter(words(norm_text(c)), lambda w: w != ""),
                1, word_window).alias("__ww"))
    return stage1.select(
        F.col(id_col),
        (F.round(_entropy(F.col("__cw"), char_window), 6) + 0.0)
        .alias("char_entropy"),
        (F.round(_entropy(F.col("__ww"), word_window), 6) + 0.0)
        .alias("word_entropy"),
        F.size(F.array_distinct(F.col("__ww")))
        .cast("bigint").alias("distinct_words"),
    )


def chunk_documents(df: DataFrame, window: int = 128, stride: int = 96,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split every document into word-window chunks of ``window`` words
    advancing by ``stride`` (overlap = window - stride) — the standard
    context-window preprocessing for embedding models and long-doc
    training. Chunk starts are 1, 1+stride, 1+2*stride, …; the last
    chunk may be short but is never empty; a doc shorter than ``window``
    yields exactly one chunk.

    Pure map-side explode (no shuffle): chunk count rides the data, so
    100 TB chunks with the scan's parallelism. Returns
    (id, chunk_id, n_chunk_words, chunk_text)."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    # TWO-STAGE (round-10): materialize the word array first — with the
    # tokenize chain inline, the per-chunk slice lambda re-split the
    # whole document once per chunk (O(n^2/stride) chars; values
    # unchanged, see repetition_metrics).
    c = F.col(text_col)
    stage1 = df.select(
        F.col(id_col),
        F.filter(words(norm_text(c)), lambda w: w != "").alias("__ws"))
    ws = F.col("__ws")
    n = F.size(ws)
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - window + stride, F.lit(1)),
        F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / stride).cast("bigint").alias("chunk_id"),
            F.slice(ws, s, window).alias("cw")))
    return (stage1.where(n > 0)
            .select(F.col(id_col),
                    F.explode(chunks).alias("ch"))
            .select(id_col,
                    F.col("ch.chunk_id").alias("chunk_id"),
                    F.size("ch.cw").cast("bigint").alias("n_chunk_words"),
                    F.array_join("ch.cw", " ").alias("chunk_text")))


def hashed_classifier_score(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", dim: int = 4096,
                            bigrams: bool = True,
                            w_a: int = 104_729, w_b: int = 12_345,
                            w_mod: int = 1_000_003) -> DataFrame:
    """fastText-style hashed linear model scorer, entirely in whole-stage
    codegen: unigram (and adjoining-bigram) features hash into ``dim``
    buckets via the portable polynomial fingerprint; bucket ``h`` carries
    weight ``((h*w_a + w_b) mod w_mod)/w_mod - 0.5`` (a deterministic LCG
    weight table — stand-in for trained weights, same plumbing); the
    document margin is the mean feature weight and the score its logistic.

    Swapping in real trained weights = replacing the LCG expression with
    an ``element_at`` on a broadcast weight array literal; the hashing,
    feature extraction, and scan-side projection stay identical. Zero
    shuffles, no UDFs — at 100 TB this scores at scan speed. All
    arithmetic stays below 2^63 (DuckDB BIGINT errors on overflow, Spark
    wraps — the shared bound keeps both exact)."""
    ws = F.filter(words(norm_text(F.col(text_col))), lambda w: w != "")
    # materialize the per-word fingerprints in their OWN projection:
    # referencing the split+fold chain from several sibling expressions
    # (unigrams, both bigram slices) re-evaluates it each time — higher-
    # order lambdas get no common-subexpression reuse
    fps = (df.where(F.size(ws) > 0)
           .select(F.col(id_col),
                   F.transform(ws, word_fingerprint).alias("__fp")))
    fp = F.col("__fp")
    uni = F.transform(fp, lambda h: h % dim)
    feats = uni
    if bigrams:
        n = F.size(fp)
        big = F.zip_with(
            F.slice(fp, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(fp, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: (a * 31 + b) % FP_MOD % dim)
        feats = F.concat(uni, big)
    wsum = F.aggregate(feats, F.lit(0).cast("long"),
                       lambda acc, h: acc + (h * w_a + w_b) % w_mod)
    nf = F.size(feats)
    margin = (wsum.cast("double") / nf / w_mod) - 0.5
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-8.0) * margin))
    return (fps.select(F.col(id_col),
                       nf.cast("bigint").alias("n_features"),
                       (F.round(margin, 6) + 0.0).alias("margin"),
                       (F.round(score, 6) + 0.0).alias("clf_score")))


def filter_by_quantile(df: DataFrame, score_col: str, q: float = 0.4,
                       keys: str | list[str] | None = None,
                       keep: str = "above",
                       mode: str = "exact") -> DataFrame:
    """Percentile-calibrated gate: keep rows whose score is above (or
    below) the per-group ``q``-quantile — the standard way to turn a raw
    quality score into a fixed-volume filter ("drop the worst 40% per
    language").

    ``mode='exact'``: percent_rank over a (keys, score) window — fully
    deterministic and engine-portable (ties share a rank), at the cost
    of one CORPUS-sized sort per group (a global gate is an Exchange
    SinglePartition: one task sorts everything — fine for an oracle
    row, wrong at scale). ``mode='hist'``: the SAME EXACT kept set,
    computed scale-safely — one count aggregate per DISTINCT (keys,
    score) value, percent_rank reconstructed from cumulative counts
    over that bounded histogram, and the one-row-per-group threshold
    broadcast back. The only sorted exchange carries the score
    HISTOGRAM (bounded by score cardinality — round scores first, e.g.
    ROUND(x, 6) caps it at ~1e6 rows forever), never the corpus. This
    is the 100 TB default when scores are discretized. ``mode=
    'approx'``: percentile_approx sketch thresholds in one pass —
    cheapest, but sketch-accuracy cutoffs (not oracle-able
    bit-for-bit); for un-discretized continuous scores."""
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be above|below, got {keep!r}")
    kcols = [] if keys is None else ([keys] if isinstance(keys, str)
                                     else list(keys))
    if mode == "exact":
        w = (Window.partitionBy(*kcols).orderBy(score_col) if kcols
             else Window.partitionBy().orderBy(score_col))
        pr = F.percent_rank().over(w)
        cond = (F.col("__pr") >= q if keep == "above"
                else F.col("__pr") <= q)
        return (df.withColumn("__pr", pr).where(cond).drop("__pr"))
    if mode == "hist":
        # the input feeds TWO branches (the histogram aggregate and the
        # final filter join); without a cache the upstream plan — often
        # an expensive scoring projection — evaluates twice (measured
        # 5.4s -> 1.6s on the trained-gate bench row at sf0.1)
        from datafusion_postgres_spark.operators.cachectl import (
            cache_generation,
        )
        df = cache_generation("filter_by_quantile_hist", df)
        hist = (df.groupBy(*kcols, score_col)
                .agg(F.count("*").alias("__c")))
        w = (Window.partitionBy(*kcols).orderBy(score_col) if kcols
             else Window.partitionBy().orderBy(score_col))
        # percent_rank of a tied group = (#rows strictly below)/(N-1) —
        # reconstructed exactly: same integer counts, same IEEE double
        # division as the window function, so the kept set is identical
        cum = (hist
               .withColumn("__below", F.sum("__c").over(w) - F.col("__c"))
               .withColumn("__n", F.sum("__c").over(
                   Window.partitionBy(*kcols) if kcols
                   else Window.partitionBy())))
        pr = F.col("__below") / F.greatest(F.col("__n") - 1, F.lit(1))
        if keep == "above":
            thr = (cum.where(pr >= q)
                   .groupBy(*kcols)
                   .agg(F.min(score_col).alias("__thr")))
            cond = F.col(score_col) >= F.col("__thr")
        else:
            thr = (cum.where(pr <= q)
                   .groupBy(*kcols)
                   .agg(F.max(score_col).alias("__thr")))
            cond = F.col(score_col) <= F.col("__thr")
        joined = (df.join(F.broadcast(thr), kcols) if kcols
                  else df.crossJoin(F.broadcast(thr)))
        return joined.where(cond).drop("__thr")
    if mode != "approx":
        raise ValueError(f"mode must be exact|hist|approx, got {mode!r}")
    thr_agg = F.percentile_approx(score_col, q).alias("__thr")
    if kcols:
        thr = df.groupBy(*kcols).agg(thr_agg)
        joined = df.join(F.broadcast(thr), kcols)
    else:
        joined = df.crossJoin(F.broadcast(df.agg(thr_agg)))
    cond = (F.col(score_col) >= F.col("__thr") if keep == "above"
            else F.col(score_col) <= F.col("__thr"))
    return joined.where(cond).drop("__thr")


def tfidf_top_terms(df: DataFrame, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id", max_df_ratio: float = 1.0,
                    broadcast_df: bool = False) -> DataFrame:
    """Per-document top-k keywords by tf-idf: (doc_id, term, tf, df,
    tfidf).

    Plan shape: one (doc, word) aggregation for term frequencies, one
    word-keyed aggregation for document frequencies (both with map-side
    partial agg), one join on the word key, one per-doc top-k window.
    ``max_df_ratio`` drops corpus-stopwords (df > ratio*N) BEFORE the
    join — at 100 TB that both removes the hottest (most skewed) join
    keys and shrinks the df table, which ``broadcast_df=True`` can then
    ship instead of shuffling the tf side (right only when the surviving
    vocabulary is bounded; default lets AQE decide, and AQE's skew-join
    split covers residual hot words).

    Determinism: idf is fixed-point ``floor(ln(N/df)*1e6 + 0.5)`` and the
    score ``tf * idf6`` stays an exact BIGINT until one final double
    division — the same discipline as the DSIR weights. Ties (equal
    score) break on the term's binary collation, matching DuckDB."""
    ws = F.filter(words(norm_text(F.col(text_col))), lambda w: w != "")
    tok = (ensure_min_parallelism(df)
           .select(F.col(id_col), F.explode(ws).alias("term")))
    tf = tok.groupBy(id_col, "term").agg(
        F.count("*").cast("bigint").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"))
    n_docs = (df.where(F.trim(F.col(text_col)) != "")
              .agg(F.count("*").cast("bigint").alias("__n")))
    dfreq = dfreq.crossJoin(F.broadcast(n_docs))
    if max_df_ratio < 1.0:
        dfreq = dfreq.where(F.col("df") <= F.col("__n") * max_df_ratio)
    idf6 = F.floor(F.log(F.col("__n").cast("double") / F.col("df")
                         .cast("double")) * 1_000_000 + F.lit(0.5)) \
            .cast("long")
    dfreq = dfreq.select("term", "df", idf6.alias("__idf6"))
    if broadcast_df:
        dfreq = F.broadcast(dfreq)
    scored = (tf.join(dfreq, "term")
              .withColumn("__score6", F.col("tf") * F.col("__idf6")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("__score6").desc(), F.col("term").asc())
    return (scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .select(id_col, "term", "tf", "df",
                    (F.col("__score6").cast("double") / 1_000_000)
                    .alias("tfidf")))


def cap_per_group(df: DataFrame, group_col: str, cap: int,
                  priority_col: str | None = None,
                  id_col: str = "doc_id") -> DataFrame:
    """Cap the number of rows kept per group — the per-domain document
    cap of web-corpus pipelines (bound any single domain's share of the
    training set). Keeps the ``cap`` highest-``priority_col`` rows
    (ties, and the default when no priority is given, break on the
    portable id hash — a deterministic, engine-reproducible "random"
    pick rather than positional luck).

    Hot-domain immune: rows are first capped within (group, physical
    input partition) — group size bounded by the scan split, never by a
    domain's corpus share — then the ≤ cap x n_partitions survivors per
    group are capped globally. Any row in a group's true top-cap is in
    its partition's local top-cap (the order is total: priority, id
    hash, id), so the kept set is identical to the single-window form,
    but no task ever sorts a whole hot domain."""
    prio = (F.col(priority_col).desc() if priority_col
            else F.lit(0).asc())
    hash_tie = ((F.col(id_col) * 1_103_515_245 + 12_345) % FP_MOD).asc()
    order = (prio, hash_tie, F.col(id_col).asc())
    wl = Window.partitionBy(group_col, "__pid").orderBy(*order)
    wg = Window.partitionBy(group_col).orderBy(*order)
    return (df.withColumn("__pid", F.spark_partition_id())
            .withColumn("__lrk", F.row_number().over(wl))
            .where(F.col("__lrk") <= cap).drop("__pid", "__lrk")
            .withColumn("__rk", F.row_number().over(wg))
            .where(F.col("__rk") <= cap)
            .drop("__rk"))
