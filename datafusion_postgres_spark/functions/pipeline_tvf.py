"""SQL table-function surface for the LLM-pipeline operator tier.

The pg-wire user can reach every relational operator through plain SQL,
but the dedup/similarity/text operators lived Python-side only (round-5
verdict item #8). This module exposes the stable ones as TABLE
FUNCTIONS usable anywhere a table may appear:

    SELECT * FROM minhash_near_dups('documents', 0.5) WHERE jaccard > 0.8;
    SELECT count(*) FROM exact_dup_groups('documents');
    SELECT * FROM simhash_near_pairs('documents', 3);
    SELECT * FROM decontaminate('documents', 'eval_docs');
    SELECT * FROM sessionize('events', 1800) LIMIT 10;
    SELECT * FROM doc_quality('documents') ORDER BY quality DESC;

Mechanics: before normal execution the statement is scanned for
registered pipeline-function calls with LITERAL arguments (the table
argument names an engine-registered table/view, quoted or bare). Each
call builds the operator's DataFrame, registers it as a deterministic
temp view (name = hash of fn+args, so repeated statements reuse the
same lazy view), and the call text is replaced by the view name. The
rewritten statement then flows through the ordinary transpile + SQL
path, so the full relational surface (WHERE/JOIN/GROUP BY/ORDER BY)
composes over the operator's output. Spark analogue of PostgreSQL's
set-returning functions in FROM; none of this exists in the reference
(its pipeline tier is the repo's beyond-parity surface).
"""

from __future__ import annotations

import hashlib


from pyspark.sql import DataFrame, SparkSession, functions as F


def _tbl(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)


def _minhash_near_dups(spark, args):
    from datafusion_postgres_spark.operators.dedup import minhash_lsh_pairs
    threshold = float(args[1]) if len(args) > 1 else 0.5
    return minhash_lsh_pairs(_tbl(spark, args[0]), threshold=threshold)


def _ngram_jaccard_pairs(spark, args):
    from datafusion_postgres_spark.operators.dedup import ngram_jaccard_pairs
    threshold = float(args[1]) if len(args) > 1 else 0.5
    return ngram_jaccard_pairs(_tbl(spark, args[0]), threshold=threshold)


def _exact_dup_groups(spark, args):
    from datafusion_postgres_spark.operators.dedup import exact_duplicates
    return exact_duplicates(_tbl(spark, args[0]))


def _simhash_near_pairs(spark, args):
    from datafusion_postgres_spark.operators.dedup import simhash_near_pairs
    max_hamming = int(args[1]) if len(args) > 1 else 3
    return simhash_near_pairs(_tbl(spark, args[0]), max_hamming=max_hamming)


def _decontaminate(spark, args):
    from datafusion_postgres_spark.operators.dedup import decontaminate
    min_overlap = int(args[2]) if len(args) > 2 else 1
    return decontaminate(_tbl(spark, args[0]), _tbl(spark, args[1]),
                         min_overlap=min_overlap)


def _decontaminate_bloom(spark, args):
    from datafusion_postgres_spark.operators.dedup import decontaminate_bloom
    min_overlap = int(args[2]) if len(args) > 2 else 1
    return decontaminate_bloom(_tbl(spark, args[0]), _tbl(spark, args[1]),
                               min_overlap=min_overlap)


def _sessionize(spark, args):
    from datafusion_postgres_spark.operators.events import sessionize_bucketed
    timeout_s = int(args[1]) if len(args) > 1 else 1800
    return sessionize_bucketed(_tbl(spark, args[0]), timeout_s=timeout_s)


def _doc_quality(spark, args):
    from datafusion_postgres_spark.operators.text import text_stats
    return text_stats(_tbl(spark, args[0]))


def _embedding_near_dups(spark, args):
    from datafusion_postgres_spark.operators.dedup import (
        embedding_cosine_pairs,
    )
    threshold = float(args[1]) if len(args) > 1 else 0.9
    return embedding_cosine_pairs(_tbl(spark, args[0]), threshold=threshold)


def _dup_components(spark, args):
    """dup_components(corpus, threshold): near-dup clusters end-to-end —
    minhash/LSH candidate pairs verified by exact Jaccard, collapsed to
    (doc_id, component_id) via min-label propagation."""
    from datafusion_postgres_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    threshold = float(args[1]) if len(args) > 1 else 0.5
    pairs = minhash_lsh_pairs(_tbl(spark, args[0]), threshold=threshold)
    return connected_components(pairs)


def _overlap_profile(spark, args):
    from datafusion_postgres_spark.operators.dedup import overlap_profile
    return overlap_profile(_tbl(spark, args[0]), _tbl(spark, args[1]))


def _ann_topk(spark, args):
    """ann_topk(corpus, queries, k): exact cosine top-k; `queries` is a
    table/view with (qid, qvec) — build it with a plain CTAS/CREATE
    VIEW over the corpus or load external query vectors."""
    from datafusion_postgres_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    k = int(args[2]) if len(args) > 2 else 10
    return cosine_topk_bruteforce(_tbl(spark, args[0]),
                                  _tbl(spark, args[1]), k=k)


def _semdedup(spark, args):
    """semdedup(embeddings, threshold, n_clusters): SemDedup cluster-
    bounded semantic dedup — (vec_id, cluster_id, kept)."""
    from datafusion_postgres_spark.operators.dedup import semantic_dedup
    threshold = float(args[1]) if len(args) > 1 else 0.9
    n_clusters = int(args[2]) if len(args) > 2 else 16
    return semantic_dedup(_tbl(spark, args[0]), threshold=threshold,
                          n_clusters=n_clusters)


def _tfidf_topk(spark, args):
    from datafusion_postgres_spark.operators.text import tfidf_top_terms
    k = int(args[1]) if len(args) > 1 else 5
    return tfidf_top_terms(_tbl(spark, args[0]), k=k)


def _lm_perplexity(spark, args):
    """lm_perplexity(corpus, train_corpus): hashed-bigram LM perplexity
    of every corpus doc under the train-side model (CCNet-class gate)."""
    from datafusion_postgres_spark.operators.lm import ngram_lm_score
    return ngram_lm_score(_tbl(spark, args[0]), _tbl(spark, args[1]))


def _dsir_weights(spark, args):
    from datafusion_postgres_spark.operators.dsir import dsir_weights
    return dsir_weights(_tbl(spark, args[0]), _tbl(spark, args[1]))


def _trained_quality(spark, args):
    """trained_quality(corpus, label_col, dim, iters): train the hashed-
    ngram logistic classifier (operators/classifier.py) on the corpus's
    integer/boolean ``label_col``, then score every document with the
    learned weights. Training runs eagerly when the view materializes
    (iters corpus passes, dim-row shuffles); scoring is the zero-shuffle
    codegen projection. Build a labeled view first for derived labels:
    CREATE VIEW labeled AS SELECT *, (lang = 'en')::int AS y FROM docs."""
    from datafusion_postgres_spark.operators.classifier import (
        train_text_classifier, trained_classifier_score,
    )
    tbl = _tbl(spark, args[0])
    label_col = args[1]
    if label_col not in tbl.columns:
        raise TvfError(
            f"trained_quality: no column {label_col!r} in {args[0]!r}",
            "42703")
    dim = int(args[2]) if len(args) > 2 else 1024
    iters = int(args[3]) if len(args) > 3 else 3
    if not (16 <= dim <= 65536):
        raise TvfError("trained_quality: dim must be in [16, 65536]",
                       "22023")
    if not (1 <= iters <= 50):
        raise TvfError("trained_quality: iters must be in [1, 50]",
                       "22023")
    w = train_text_classifier(tbl, label_col, dim=dim, iters=iters)
    return trained_classifier_score(tbl, w)


def _domain_reweight(spark, args):
    """domain_reweight(corpus, train_corpus, eta): DoReMi-flavored
    per-domain mixture weights from LM excess loss — next-epoch
    sampling rates straight from SQL."""
    from datafusion_postgres_spark.operators.dsir import (
        domain_mixture_reweight,
    )
    from datafusion_postgres_spark.operators.lm import ngram_lm_score
    eta = float(args[2]) if len(args) > 2 else 1.0
    docs = _tbl(spark, args[0])
    scored = ngram_lm_score(docs, _tbl(spark, args[1])).join(
        docs.select("doc_id", "source"), "doc_id")
    return domain_mixture_reweight(scored, eta=eta)


def _video_probe(spark, args):
    """video_probe(media): header-only MP4 metadata over a table with
    (doc_id, content binary) — the mapInPandas probe through SQL."""
    from datafusion_postgres_spark.operators.multimodal import (
        extract_video_metadata,
    )
    return extract_video_metadata(_tbl(spark, args[0]))


def _audio_probe(spark, args):
    """audio_probe(media): header-only WAV/FLAC/MP3 metadata."""
    from datafusion_postgres_spark.operators.multimodal import (
        extract_audio_metadata,
    )
    return extract_audio_metadata(_tbl(spark, args[0]))


def _exif_probe(spark, args):
    """exif_probe(media): JPEG EXIF orientation/DateTime; non-JPEG rows
    come back has_exif = false."""
    from datafusion_postgres_spark.operators.multimodal import (
        extract_image_exif,
    )
    return extract_image_exif(_tbl(spark, args[0]))


def _image_near_dups(spark, args):
    """image_near_dups(media[, max_hamming]): perceptual-hash (aHash)
    near-dup image pairs over a table with (doc_id, content binary) —
    PNG/netpbm/BMP pixels decode for real; undecodable rows skip."""
    from datafusion_postgres_spark.operators.imagehash import (
        image_near_dup_pairs,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    return image_near_dup_pairs(_tbl(spark, args[0]), max_hamming=mh)


def _audio_near_dups(spark, args):
    """audio_near_dups(media[, max_hamming]): energy-envelope near-dup
    audio pairs over a table with (doc_id, content binary) — WAV PCM
    decodes for real; compressed rows skip."""
    from datafusion_postgres_spark.operators.audiohash import (
        audio_near_dup_pairs,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    return audio_near_dup_pairs(_tbl(spark, args[0]), max_hamming=mh)


def _url_dup_groups(spark, args):
    """url_dup_groups(corpus[, url_col]): canonical-URL dup groups over
    a table with (doc_id, <url_col> string)."""
    from datafusion_postgres_spark.operators.urls import url_dup_groups
    url_col = args[1] if len(args) > 1 else "url"
    return url_dup_groups(_tbl(spark, args[0]), url_col=url_col)


def _video_near_dups(spark, args):
    """video_near_dups(media[, max_hamming[, min_match_frames]]):
    sampled-frame perceptual near-dup video pairs over a table with
    (doc_id, content binary) — uncompressed-'raw ' MP4 frames decode
    for real; coded-video rows skip."""
    from datafusion_postgres_spark.operators.videohash import (
        video_near_dup_pairs,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    mmf = int(args[2]) if len(args) > 2 else None
    return video_near_dup_pairs(_tbl(spark, args[0]), max_hamming=mh,
                                min_match_frames=mmf)


def _simhash_dedup_keep(spark, args):
    """simhash_dedup_keep(corpus[, max_hamming]): the LINEAR-OUTPUT
    text dedup KEEP set — one surviving doc_id per simhash near-dup
    component, min id, singletons included (round-9 verdict item #3:
    the production dedup ANSWER, not just the pairs, reachable from
    SQL). Returns ids so the result schema is stable whatever columns
    the corpus carries; semi-join it back for the kept rows."""
    from datafusion_postgres_spark.operators.dedup import (
        simhash_dedup_keep,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    return (simhash_dedup_keep(_tbl(spark, args[0]), max_hamming=mh)
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def _minhash_dedup_keep(spark, args):
    """minhash_dedup_keep(corpus[, threshold]): keep set of the
    VERIFIED minhash/LSH near-dup graph (gram-set collapse; see
    operators/dedup.minhash_dedup_keep)."""
    from datafusion_postgres_spark.operators.dedup import (
        minhash_dedup_keep,
    )
    threshold = float(args[1]) if len(args) > 1 else 0.5
    return (minhash_dedup_keep(_tbl(spark, args[0]), threshold=threshold)
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def _image_dedup_keep(spark, args):
    """image_dedup_keep(media[, max_hamming]): keep set of the
    perceptual image near-dup graph (undecodable rows excluded like
    they are from pairing)."""
    from datafusion_postgres_spark.operators.imagehash import (
        image_dedup_keep,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    return (image_dedup_keep(_tbl(spark, args[0]), max_hamming=mh)
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def _audio_dedup_keep(spark, args):
    """audio_dedup_keep(media[, max_hamming]): keep set of the
    envelope audio near-dup graph."""
    from datafusion_postgres_spark.operators.audiohash import (
        audio_dedup_keep,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    return (audio_dedup_keep(_tbl(spark, args[0]), max_hamming=mh)
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def _video_dedup_keep(spark, args):
    """video_dedup_keep(media[, max_hamming[, min_match_frames]]):
    keep set of the sampled-frame video near-dup graph (tuple
    collapse; undecodable/coded rows always survive)."""
    from datafusion_postgres_spark.operators.videohash import (
        video_dedup_keep,
    )
    mh = int(args[1]) if len(args) > 1 else 3
    mmf = int(args[2]) if len(args) > 2 else None
    return (video_dedup_keep(_tbl(spark, args[0]), max_hamming=mh,
                             min_match_frames=mmf)
            .select(F.col("doc_id").cast("long").alias("doc_id")))


def _embedding_dedup_keep(spark, args):
    """embedding_dedup_keep(embeddings[, threshold]): keep set of the
    verified LSH cosine near-dup graph (exact-vector collapse; see
    operators/dedup.embedding_dedup_keep)."""
    from datafusion_postgres_spark.operators.dedup import (
        embedding_dedup_keep,
    )
    threshold = float(args[1]) if len(args) > 1 else 0.38
    return (embedding_dedup_keep(_tbl(spark, args[0]),
                                 threshold=threshold)
            .select(F.col("vec_id").cast("long").alias("vec_id")))


def _incremental_tvf(module: str, fn_name: str, state_kwarg: str,
                     out_col: str, extra_args):
    """Factory for the five `*_dedup_incremental(new_table,
    state_table[, ...])` TVFs (round-10 verdict item #6): ids of new
    rows that survive dedup against the state table AND the lower-id
    in-batch rule. State passes as a TABLE (`state_kwarg` — the
    side-effect-free frame composition), so the TVFs are pure like
    every other; the write/merge halves of the ingest loops stay
    API-only BY DESIGN — they are side-effecting (saveAsTable) and a
    SELECT must never mutate state. ``extra_args``: (kwarg, caster)
    pairs consumed positionally from args[2:] when present — the one
    place the five surfaces differ, so the shared shape lives here
    once."""
    def build(spark, args):
        import importlib

        fn = getattr(importlib.import_module(module), fn_name)
        kwargs = {state_kwarg: _tbl(spark, args[1])}
        for i, (kw, cast) in enumerate(extra_args, start=2):
            if len(args) > i:
                kwargs[kw] = cast(args[i])
        return (fn(_tbl(spark, args[0]), **kwargs)
                .select(F.col(out_col).cast("long").alias(out_col)))
    build.__name__ = "_" + fn_name
    build.__doc__ = (f"{fn_name}(new_table, state_table"
                     + "".join(f"[, {kw}" for kw, _ in extra_args)
                     + "]" * len(extra_args)
                     + f"): see operators.{fn_name} and "
                     "_incremental_tvf for the purity contract.")
    return build


_OPS = "datafusion_postgres_spark.operators"
_simhash_dedup_incremental = _incremental_tvf(
    _OPS + ".dedup", "simhash_dedup_incremental", "corpus_docs",
    "doc_id", [("max_hamming", int)])
_image_dedup_incremental = _incremental_tvf(
    _OPS + ".imagehash", "image_dedup_incremental", "corpus_media",
    "doc_id", [("max_hamming", int)])
_audio_dedup_incremental = _incremental_tvf(
    _OPS + ".audiohash", "audio_dedup_incremental", "corpus_media",
    "doc_id", [("max_hamming", int)])
_video_dedup_incremental = _incremental_tvf(
    _OPS + ".videohash", "video_dedup_incremental", "corpus_media",
    "doc_id", [("max_hamming", int), ("min_match_frames", int)])
_embedding_dedup_incremental = _incremental_tvf(
    _OPS + ".dedup", "embedding_dedup_incremental", "corpus_emb",
    "vec_id", [("threshold", float)])


# Spark conf key gating the ONLY destructive-filesystem TVF: SQL
# callers may maintain (rebuild/swap/compact) indexes ONLY under this
# root. Unset = the TVF is disabled (the Python API stays available to
# code that already has filesystem access anyway).
ANN_INDEX_ROOT_CONF = "spark.datafusion_postgres_spark.ann.indexRoot"


def _checked_index_path(spark, raw_path: str) -> str:
    """Resolve + authorize a SQL-supplied index path (round-10 ADVICE
    fix): maintain_ann_index performs destructive filesystem actions
    (staging rmtree, two-rename swap), so unlike every other TVF
    argument the path must be PREFIX-ALLOWLISTED, not just
    table-RBAC'd — otherwise any principal allowed to read the
    embeddings table could force a rebuild/swap of any index path on
    disk. The allowlist is one configured root; paths are
    realpath-resolved BEFORE the prefix check, so '..' and symlink
    escapes cannot leave it."""
    import os

    root = spark.conf.get(ANN_INDEX_ROOT_CONF, None)
    if not root:
        raise TvfError(
            "ANN index table functions taking a filesystem path "
            "(query_ann_index / maintain_ann_index) are disabled: set "
            f"{ANN_INDEX_ROOT_CONF} to the directory that holds ANN "
            "indexes to allow SQL access to them", "42501")
    real_root = os.path.realpath(root)
    # realpath the deepest EXISTING ancestor too: the index path
    # itself must exist for maintenance, so realpath resolves fully
    real = os.path.realpath(raw_path)
    if os.path.commonpath([real_root, real]) != real_root \
            or real == real_root:
        raise TvfError(
            f"index path {raw_path!r} is outside the configured ANN "
            f"index root {root!r}", "42501")
    return real


# query_ivf_sq8_index collects the query set driver-side (the
# retrieval-eval shape); a SQL caller naming a corpus-sized table as
# 'queries' would OOM the server for every wire client, so the TVF
# bounds it (trained_quality's 22023 convention for expensive params).
_MAX_ANN_QUERY_ROWS = 10_000


def _tvf_int(fn: str, name: str, raw: str, lo: int, hi: int) -> int:
    try:
        v = int(raw)
    except ValueError:
        raise TvfError(f"{fn}: {name} must be an integer literal, "
                       f"got {raw!r}", "22023") from None
    if not (lo <= v <= hi):
        raise TvfError(f"{fn}: {name} must be in [{lo}, {hi}], "
                       f"got {v}", "22023")
    return v


def _query_ann_index(spark, args):
    """query_ann_index(queries, index_path[, k[, n_probe[,
    exclude_self]]]): top-k retrieval from a PERSISTED IVF-SQ8 index
    (sources/ann_index.query_ivf_sq8_index) — the read half of the SQL
    index surface (round-10: maintain_ann_index could rebuild an index
    SQL users could not query). ``queries`` is a table/view with
    (qid, qvec), the ann_topk convention. ``exclude_self`` (default 1)
    drops corpus vectors whose vec_id equals the query's qid — pass 0
    when the query ids live in their OWN id space, or a corpus vector
    numerically sharing a qid silently vanishes from its top-k.
    Read-only, but the path still resolves under the annIndexRoot
    allowlist: an unconstrained path would let any SQL principal probe
    arbitrary filesystem locations through the index reader
    (confused-deputy read primitive)."""
    from datafusion_postgres_spark.sources.ann_index import (
        query_ivf_sq8_index,
    )
    k = _tvf_int("query_ann_index", "k", args[2], 1, 1000)         if len(args) > 2 else 10
    n_probe = _tvf_int("query_ann_index", "n_probe", args[3], 1, 4096)         if len(args) > 3 else 4
    exclude_self = bool(_tvf_int("query_ann_index", "exclude_self",
                                 args[4], 0, 1)) if len(args) > 4         else True
    path = _checked_index_path(spark, args[1])
    queries = _tbl(spark, args[0])
    n_q = queries.count()
    if n_q > _MAX_ANN_QUERY_ROWS:
        raise TvfError(
            f"query_ann_index: queries table has {n_q} rows — the "
            f"query set is collected driver-side and is capped at "
            f"{_MAX_ANN_QUERY_ROWS}; for corpus-scale retrieval use "
            "ann_topk or batch the queries", "22023")
    return query_ivf_sq8_index(spark, path, queries, k=k,
                               n_probe=n_probe,
                               exclude_self=exclude_self)


def _maintain_ann_index(spark, args):
    """maintain_ann_index(embeddings, index_path[, min_recall]): the
    probe -> rebuild-or-compact policy (sources/ann_index.
    maintain_ivf_sq8_index) as a one-row status table. The path must
    already hold an index: the call fails on a missing _ann_meta.json,
    and the crash-recovery sweep that precedes the read only touches
    '.old'/'.rebuild' siblings whose OWNING family (live/'.old')
    contains _ann_meta.json (see _recover_orphaned_rebuild — a typo'd
    path never mutates unrelated directories). The corpus table is
    RBAC-checked like every TVF table argument, the maintenance
    action itself only runs AFTER statement authorization
    (materialize_pipeline_tvfs ordering), and — because this is the
    one TVF that takes a raw filesystem path and mutates it — the
    path must additionally resolve under the configured
    ``spark.datafusion_postgres_spark.ann.indexRoot`` allowlist
    (unset = TVF disabled; see _checked_index_path)."""
    from datafusion_postgres_spark.sources.ann_index import (
        maintain_ivf_sq8_index,
    )
    min_recall = float(args[2]) if len(args) > 2 else 0.8
    path = _checked_index_path(spark, args[1])
    rep = maintain_ivf_sq8_index(spark, path, _tbl(spark, args[0]),
                                 min_recall=min_recall)
    post = rep.get("post_probe", rep["probe"])
    row = (rep["action"],
           float(rep["probe"]["recall_at_k"]),
           float(post["recall_at_k"]),
           float(rep["min_recall"]),
           int(rep.get("compaction", {}).get("compacted_cells", 0)))
    return spark.createDataFrame(
        [row],
        "action string, recall double, post_recall double, "
        "min_recall double, compacted_cells int")


# psql-\df metadata (pg_proc rows): name -> (argument text, result text)
TVF_SIGNATURES = {
    "minhash_near_dups": (
        "corpus text, threshold double precision",
        "TABLE(id_a bigint, id_b bigint, inter_n bigint, union_n bigint, "
        "jaccard double precision)"),
    "ngram_jaccard_pairs": (
        "corpus text, threshold double precision",
        "TABLE(id_a bigint, id_b bigint, inter_n bigint, union_n bigint, "
        "jaccard double precision)"),
    "exact_dup_groups": (
        "corpus text",
        "TABLE(norm text, representative bigint, n_dups bigint)"),
    "simhash_near_pairs": (
        "corpus text, max_hamming integer",
        "TABLE(id_a bigint, id_b bigint, hamming integer)"),
    "decontaminate": (
        "corpus text, eval_corpus text, min_overlap integer",
        "TABLE(doc_id bigint, n_overlap bigint, "
        "overlap_ratio double precision)"),
    "decontaminate_bloom": (
        "corpus text, eval_corpus text, min_overlap integer",
        "TABLE(doc_id bigint, n_overlap bigint, "
        "overlap_ratio double precision)"),
    "sessionize": (
        "events text, timeout_s integer",
        "TABLE(user_id bigint, ts timestamp, event_id bigint, "
        "session_id bigint)"),
    "dup_components": (
        "corpus text, threshold double precision",
        "TABLE(doc_id bigint, component_id bigint)"),
    "overlap_profile": (
        "train_corpus text, eval_corpus text",
        "TABLE(n integer, n_train_grams bigint, n_eval_grams bigint, "
        "n_shared bigint, jaccard double precision)"),
    "doc_quality": (
        "corpus text",
        "TABLE(doc_id bigint, n_tokens integer, n_chars_actual integer, "
        "stopword_ratio double precision, punct_ratio double precision, "
        "avg_word_len double precision, quality double precision, "
        "lang_pred text, fingerprint bigint)"),
    "embedding_near_dups": (
        "embeddings text, threshold double precision",
        "TABLE(id_a bigint, id_b bigint, cos_sim double precision)"),
    "ann_topk": (
        "embeddings text, queries text, k integer",
        "TABLE(qid bigint, vec_id bigint, cos_sim double precision, "
        "rnk bigint)"),
    "semdedup": (
        "embeddings text, threshold double precision, n_clusters integer",
        "TABLE(vec_id bigint, cluster_id bigint, kept boolean)"),
    "tfidf_topk": (
        "corpus text, k integer",
        "TABLE(doc_id bigint, term text, tf bigint, df bigint, "
        "tfidf double precision)"),
    "lm_perplexity": (
        "corpus text, train_corpus text",
        "TABLE(doc_id bigint, n_bigrams bigint, nll_sum bigint, "
        "xent double precision, ppl double precision)"),
    "dsir_weights": (
        "corpus text, target_corpus text",
        "TABLE(doc_id bigint, n_features bigint, lr_sum bigint, "
        "log_ratio double precision)"),
    "video_probe": (
        "media text",
        "TABLE(doc_id bigint, byte_len bigint, format text, "
        "duration_ms bigint, width integer, height integer, "
        "n_video_tracks integer, n_audio_tracks integer)"),
    "trained_quality": (
        "corpus text, label_col text, dim integer, iters integer",
        "TABLE(doc_id bigint, n_features bigint, "
        "margin double precision, clf_score double precision)"),
    "domain_reweight": (
        "corpus text, train_corpus text, eta double precision",
        "TABLE(source text, n_docs bigint, xent double precision, "
        "weight double precision)"),
    "audio_probe": (
        "media text",
        "TABLE(doc_id bigint, byte_len bigint, format text, "
        "channels integer, sample_rate integer, "
        "bits_per_sample integer, duration_ms bigint)"),
    "exif_probe": (
        "media text",
        "TABLE(doc_id bigint, has_exif boolean, orientation integer, "
        "datetime text)"),
    "image_near_dups": (
        "media text, max_hamming integer",
        "TABLE(id_a bigint, id_b bigint, hamming bigint)"),
    "audio_near_dups": (
        "media text, max_hamming integer",
        "TABLE(id_a bigint, id_b bigint, hamming bigint)"),
    "url_dup_groups": (
        "corpus text, url_col text",
        "TABLE(canonical_url text, representative bigint, "
        "n_docs bigint)"),
    "video_near_dups": (
        "media text, max_hamming integer, min_match_frames integer",
        "TABLE(id_a bigint, id_b bigint, n_frames bigint, "
        "total_hamming bigint)"),
    "simhash_dedup_keep": (
        "corpus text, max_hamming integer",
        "TABLE(doc_id bigint)"),
    "minhash_dedup_keep": (
        "corpus text, threshold double precision",
        "TABLE(doc_id bigint)"),
    "image_dedup_keep": (
        "media text, max_hamming integer",
        "TABLE(doc_id bigint)"),
    "audio_dedup_keep": (
        "media text, max_hamming integer",
        "TABLE(doc_id bigint)"),
    "video_dedup_keep": (
        "media text, max_hamming integer, min_match_frames integer",
        "TABLE(doc_id bigint)"),
    "embedding_dedup_keep": (
        "embeddings text, threshold double precision",
        "TABLE(vec_id bigint)"),
    "maintain_ann_index": (
        "embeddings text, index_path text, "
        "min_recall double precision",
        "TABLE(action text, recall double precision, "
        "post_recall double precision, min_recall double precision, "
        "compacted_cells integer)"),
    "simhash_dedup_incremental": (
        "new_corpus text, state_corpus text, max_hamming integer",
        "TABLE(doc_id bigint)"),
    "image_dedup_incremental": (
        "new_media text, state_media text, max_hamming integer",
        "TABLE(doc_id bigint)"),
    "audio_dedup_incremental": (
        "new_media text, state_media text, max_hamming integer",
        "TABLE(doc_id bigint)"),
    "video_dedup_incremental": (
        "new_media text, state_media text, max_hamming integer, "
        "min_match_frames integer",
        "TABLE(doc_id bigint)"),
    "embedding_dedup_incremental": (
        "new_embeddings text, state_embeddings text, "
        "threshold double precision",
        "TABLE(vec_id bigint)"),
    "query_ann_index": (
        "queries text, index_path text, k integer, n_probe integer, "
        "exclude_self integer",
        "TABLE(qid bigint, vec_id bigint, score double precision, "
        "rnk bigint)"),
}

# name -> (builder, min_args, max_args, n_table_args)
TVF_REGISTRY = {
    "minhash_near_dups": (_minhash_near_dups, 1, 2, 1),
    "ngram_jaccard_pairs": (_ngram_jaccard_pairs, 1, 2, 1),
    "exact_dup_groups": (_exact_dup_groups, 1, 1, 1),
    "simhash_near_pairs": (_simhash_near_pairs, 1, 2, 1),
    "decontaminate": (_decontaminate, 2, 3, 2),
    "decontaminate_bloom": (_decontaminate_bloom, 2, 3, 2),
    "sessionize": (_sessionize, 1, 2, 1),
    "dup_components": (_dup_components, 1, 2, 1),
    "overlap_profile": (_overlap_profile, 2, 2, 2),
    "doc_quality": (_doc_quality, 1, 1, 1),
    "embedding_near_dups": (_embedding_near_dups, 1, 2, 1),
    "ann_topk": (_ann_topk, 2, 3, 2),
    "semdedup": (_semdedup, 1, 3, 1),
    "tfidf_topk": (_tfidf_topk, 1, 2, 1),
    "lm_perplexity": (_lm_perplexity, 2, 2, 2),
    "dsir_weights": (_dsir_weights, 2, 2, 2),
    "video_probe": (_video_probe, 1, 1, 1),
    "trained_quality": (_trained_quality, 2, 4, 1),
    "domain_reweight": (_domain_reweight, 2, 3, 2),
    "audio_probe": (_audio_probe, 1, 1, 1),
    "exif_probe": (_exif_probe, 1, 1, 1),
    "image_near_dups": (_image_near_dups, 1, 2, 1),
    "audio_near_dups": (_audio_near_dups, 1, 2, 1),
    "url_dup_groups": (_url_dup_groups, 1, 2, 1),
    "video_near_dups": (_video_near_dups, 1, 3, 1),
    "simhash_dedup_keep": (_simhash_dedup_keep, 1, 2, 1),
    "minhash_dedup_keep": (_minhash_dedup_keep, 1, 2, 1),
    "image_dedup_keep": (_image_dedup_keep, 1, 2, 1),
    "audio_dedup_keep": (_audio_dedup_keep, 1, 2, 1),
    "video_dedup_keep": (_video_dedup_keep, 1, 3, 1),
    "embedding_dedup_keep": (_embedding_dedup_keep, 1, 2, 1),
    "maintain_ann_index": (_maintain_ann_index, 2, 3, 1),
    "simhash_dedup_incremental": (_simhash_dedup_incremental, 2, 3, 2),
    "image_dedup_incremental": (_image_dedup_incremental, 2, 3, 2),
    "audio_dedup_incremental": (_audio_dedup_incremental, 2, 3, 2),
    "video_dedup_incremental": (_video_dedup_incremental, 2, 4, 2),
    "embedding_dedup_incremental": (_embedding_dedup_incremental, 2, 3, 2),
    "query_ann_index": (_query_ann_index, 2, 5, 1),
}

class TvfError(ValueError):
    def __init__(self, msg: str, sqlstate: str = "42883"):
        super().__init__(msg)
        self.sqlstate = sqlstate


def _group_to_literal(group) -> str:
    """One comma-separated argument's tokens -> the literal string the
    builders consume. Only literal table names and numbers qualify —
    expressions are rejected with a clear error."""
    from datafusion_postgres_spark.dialect.tokenizer import (
        IDENT, NUMBER, OP, QIDENT, STRING,
    )
    if len(group) == 1:
        t = group[0]
        if t.kind == STRING and not t.text[0] in "eE":
            return t.text[1:-1].replace("''", "'")
        if t.kind == QIDENT:
            return t.text[1:-1].replace('""', '"')
        if t.kind in (IDENT, NUMBER):
            return t.text
    if len(group) == 2 and group[0].kind == OP and \
            group[0].text in "+-" and group[1].kind == NUMBER:
        return group[0].text + group[1].text
    raise TvfError(
        "unsupported argument "
        f"{''.join(t.text for t in group)!r} — pipeline table functions "
        "take literal table names and numbers", "42601")


# Keywords that end a FROM clause's comma context (the rewriter only
# treats a comma as "table position" while inside an open FROM list).
# "on" is NOT an ender: after JOIN ... ON a.x = b.x a comma is still a
# legal table position (commas inside an ON expression only occur
# within parens, which the paren stack already scopes out).
_FROM_ENDERS = frozenset({
    "where", "group", "having", "order", "limit", "offset", "window",
    "qualify", "union", "intersect", "except", "select", "set",
    "values", "when", "then", "else", "case",
})


def rewrite_pipeline_tvfs(spark: SparkSession, stmt, check_table=None):
    """If ``stmt`` (text, or a ``dialect.transpiler.Statement`` record,
    whose tokens are reused) contains pipeline table-function calls IN
    TABLE POSITION, rewrite each into a temp-view reference and return
    ``(rewritten_stmt, pending)``; ``(None, [])`` when no call is
    present. ``check_table(name)`` is the permission hook — called for
    every table argument before any operator work happens.

    Table position = the previous significant token is FROM / JOIN /
    LATERAL, or a comma inside an open FROM list. A scalar call of a
    coincidentally named user function (``SELECT sessionize(col) FROM
    t``) is left untouched, so the rewrite never changes an unrelated
    statement's semantics.

    No builder runs here: pass ``pending`` to
    ``materialize_pipeline_tvfs`` after statement-level authorization
    completes — eager builders (e.g. trained_quality's training run)
    must not burn cluster time for a statement that is then denied.

    Token-aware (the dialect tokenizer, not a regex), so a function
    name inside a string literal, quoted identifier, or comment is
    never rewritten, and only bare or ``pipeline.``-qualified calls
    count as TVF invocations."""
    text = stmt if isinstance(stmt, str) else stmt.text
    low = text.lower()
    if not any(name in low for name in TVF_REGISTRY):
        return None, []
    from datafusion_postgres_spark.dialect.tokenizer import (
        IDENT, PUNCT, WS, Token, emit, significant, tokenize,
    )
    toks = tokenize(stmt) if isinstance(stmt, str) else stmt.tokens
    out: list[Token] = []
    pending: list[tuple[str, str, list[str]]] = []
    i, changed = 0, False
    # FROM-list comma tracking: parens push/pop (a subquery or arg list
    # starts a fresh non-FROM scope); FROM opens, clause keywords close.
    in_from, from_stack = False, []

    def _track(tok):
        nonlocal in_from
        if tok.kind == PUNCT and tok.text == "(":
            from_stack.append(in_from)
            in_from = False
        elif tok.kind == PUNCT and tok.text == ")":
            in_from = from_stack.pop() if from_stack else False
        elif tok.kind == IDENT:
            tl = tok.text.lower()
            if tl == "from":
                in_from = True
            elif tl in _FROM_ENDERS:
                in_from = False

    def _emit(tok):
        _track(tok)
        out.append(tok)

    while i < len(toks):
        t = toks[i]
        if not (t.kind == IDENT and t.text.lower() in TVF_REGISTRY):
            _emit(t)
            i += 1
            continue
        j = significant(toks, i)
        if not (j >= 0 and toks[j].kind == PUNCT and toks[j].text == "("):
            _emit(t)   # bare identifier, not a call
            i += 1
            continue
        # qualification: only bare or pipeline.-prefixed calls rewrite
        p = significant(out, len(out), -1)
        qualified = p >= 0 and out[p].kind == PUNCT and out[p].text == "."
        drop_from = None
        if qualified:
            q = significant(out, p, -1)
            if q >= 0 and out[q].kind == IDENT and \
                    out[q].text.lower() == "pipeline":
                drop_from = q  # pipeline. prefix — drop if we rewrite
            else:
                _emit(t)  # someone else's schema — leave untouched
                i += 1
                continue
        # TABLE-POSITION check: the token before the call (before any
        # pipeline. prefix) must put us in a from-clause slot.
        ctx = significant(out, len(out) if drop_from is None else drop_from,
                          -1)
        in_table_pos = ctx >= 0 and (
            (out[ctx].kind == IDENT
             and out[ctx].text.lower() in ("from", "join", "lateral"))
            or (out[ctx].kind == PUNCT and out[ctx].text == ","
                and in_from)
            # parenthesized table ref — FROM (tvf(...)) alias: the "("
            # opened while the FROM list was active (paren stack top)
            or (out[ctx].kind == PUNCT and out[ctx].text == "("
                and bool(from_stack) and from_stack[-1]))
        if not in_table_pos:
            _emit(t)  # scalar/expression position — not ours to rewrite
            i += 1
            continue
        if drop_from is not None:
            del out[drop_from:]  # drop the pipeline. prefix (+ ws)
        fn = t.text.lower()
        builder, lo, hi, n_tables = TVF_REGISTRY[fn]
        # collect literal args up to the matching ')' (no nesting)
        k, groups = j + 1, [[]]
        while k < len(toks) and not (toks[k].kind == PUNCT
                                     and toks[k].text in "()"):
            if toks[k].kind == PUNCT and toks[k].text == ",":
                groups.append([])
            elif toks[k].kind != WS:
                groups[-1].append(toks[k])
            k += 1
        if k >= len(toks) or toks[k].text == "(":
            raise TvfError(
                f"{fn}(...) takes literal table names and numbers only",
                "42601")
        args = ([] if groups == [[]]
                else [_group_to_literal(g) for g in groups])
        if not (lo <= len(args) <= hi):
            raise TvfError(
                f"{fn} expects {lo}..{hi} arguments, got {len(args)}")
        for tbl in args[:n_tables]:
            if check_table is not None:
                check_table(tbl)
        view = "__tvf_" + fn + "_" + hashlib.sha1(
            repr(args).encode()).hexdigest()[:10]
        pending.append((view, fn, args))
        out.append(Token(IDENT, view))
        changed = True
        i = k + 1
    return (emit(out), pending) if changed else (None, [])


def materialize_pipeline_tvfs(spark: SparkSession, pending) -> None:
    """Build the temp views a ``rewrite_pipeline_tvfs`` call planned.
    Runs AFTER statement authorization — the builders may be
    eager (trained_quality trains on materialization), so nothing here
    may execute before the permission check passes."""
    for view, fn, args in pending:
        builder = TVF_REGISTRY[fn][0]
        builder(spark, args).createOrReplaceTempView(view)
