"""SQL table-function surface for the pipeline tier (r5 verdict item
#8): the pg-wire user reaches dedup/similarity/text operators through
plain SELECTs that compose with the relational surface."""

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    from datafusion_postgres_spark.session import SparkPgEngine
    e = SparkPgEngine(spark)
    for t in ("documents", "events", "embeddings"):
        e.register_file(t, f"{SF}/{t}.parquet")
    return e


def _rows(eng, sql):
    (res,) = eng.execute(sql)
    return res.df.collect()


class TestPipelineTvf:
    def test_minhash_near_dups_composes_with_where(self, eng, spark):
        rows = _rows(eng,
                     "SELECT * FROM minhash_near_dups('documents', 0.5) "
                     "WHERE jaccard >= 0.8 ORDER BY id_a, id_b")
        from datafusion_postgres_spark.operators.dedup import (
            minhash_lsh_pairs,
        )
        direct = (minhash_lsh_pairs(spark.table("documents"), threshold=0.5)
                  .where("jaccard >= 0.8").orderBy("id_a", "id_b").collect())
        assert [tuple(r) for r in rows] == [tuple(r) for r in direct]
        assert len(rows) > 0

    def test_exact_dup_groups_aggregates(self, eng):
        (n,) = _rows(eng,
                     "SELECT count(*) AS n FROM exact_dup_groups('documents')")
        assert n["n"] > 0

    def test_doc_quality_order_and_limit(self, eng):
        rows = _rows(eng, "SELECT doc_id, quality FROM "
                          "doc_quality('documents') "
                          "ORDER BY quality DESC, doc_id LIMIT 5")
        assert len(rows) == 5
        qs = [r["quality"] for r in rows]
        assert qs == sorted(qs, reverse=True)

    def test_sessionize_events(self, eng):
        rows = _rows(eng, "SELECT user_id, max(session_id) AS n_sessions "
                          "FROM sessionize('events', 1800) "
                          "GROUP BY user_id ORDER BY user_id LIMIT 5")
        assert len(rows) == 5
        assert all(r["n_sessions"] >= 1 for r in rows)

    def test_decontaminate_two_tables(self, eng, spark):
        spark.table("documents").where("doc_id < 20") \
            .createOrReplaceTempView("eval_docs")
        rows = _rows(eng, "SELECT * FROM "
                          "decontaminate('documents', 'eval_docs') "
                          "ORDER BY doc_id LIMIT 10")
        assert len(rows) > 0  # the eval slice overlaps itself at minimum

    def test_join_tvf_with_base_table(self, eng):
        rows = _rows(eng,
                     "SELECT d.source, count(*) AS n "
                     "FROM exact_dup_groups('documents') g "
                     "JOIN documents d ON d.doc_id = g.representative "
                     "GROUP BY d.source ORDER BY d.source")
        assert len(rows) > 0

    def test_ann_topk(self, eng, spark):
        spark.sql("SELECT vec_id AS qid, embedding AS qvec FROM embeddings "
                  "WHERE vec_id < 3").createOrReplaceTempView("qv")
        rows = _rows(eng, "SELECT * FROM ann_topk('embeddings', 'qv', 5) "
                          "ORDER BY qid, rnk")
        assert len(rows) == 15
        assert rows[0]["rnk"] == 1

    def test_unknown_args_rejected(self, eng):
        with pytest.raises(Exception):
            _rows(eng, "SELECT * FROM minhash_near_dups(doc_id + 1)")

    def test_arity_enforced(self, eng):
        with pytest.raises(Exception):
            _rows(eng, "SELECT * FROM decontaminate('documents')")

    def test_repeated_call_reuses_view_name(self, eng, spark):
        before = {v.name for v in spark.catalog.listTables()
                  if v.name.startswith("__tvf_")}
        _rows(eng, "SELECT count(*) AS n "
                   "FROM simhash_near_pairs('documents', 3)")
        _rows(eng, "SELECT count(*) AS n "
                   "FROM simhash_near_pairs('documents', 3)")
        after = {v.name for v in spark.catalog.listTables()
                 if v.name.startswith("__tvf_")}
        assert len(after - before) == 1  # deterministic name, reused


class TestKeepTvfs:
    """round-9 verdict item #3: the dedup ANSWER (keep sets) and the
    ANN maintenance policy reachable from SQL — each pinned equal to
    its direct-API result."""

    def test_simhash_dedup_keep_sql_equals_direct(self, eng, spark):
        rows = _rows(eng, "SELECT doc_id FROM "
                          "simhash_dedup_keep('documents', 3) "
                          "ORDER BY doc_id")
        from datafusion_postgres_spark.operators.dedup import (
            simhash_dedup_keep,
        )
        direct = sorted(r["doc_id"] for r in simhash_dedup_keep(
            spark.table("documents"), max_hamming=3).collect())
        assert [r["doc_id"] for r in rows] == direct
        assert 0 < len(rows)

    def test_minhash_dedup_keep_composes_with_join(self, eng, spark):
        rows = _rows(eng,
                     "SELECT d.source, count(*) AS n "
                     "FROM minhash_dedup_keep('documents', 0.5) k "
                     "JOIN documents d ON d.doc_id = k.doc_id "
                     "GROUP BY d.source ORDER BY d.source")
        from datafusion_postgres_spark.operators.dedup import (
            minhash_dedup_keep,
        )
        direct = (minhash_dedup_keep(spark.table("documents"),
                                     threshold=0.5)
                  .groupBy("source").count()
                  .orderBy("source").collect())
        assert [(r["source"], r["n"]) for r in rows] == \
            [(r["source"], r["count"]) for r in direct]

    def test_image_dedup_keep_sql_equals_direct(self, eng, spark):
        from datafusion_postgres_spark.operators.imagehash import (
            image_dedup_keep, synthesize_png_corpus,
        )
        docs = spark.table("documents").where("doc_id < 100")
        synthesize_png_corpus(docs).createOrReplaceTempView("pngmedia")
        rows = _rows(eng, "SELECT doc_id FROM "
                          "image_dedup_keep('pngmedia', 3) "
                          "ORDER BY doc_id")
        direct = sorted(r["doc_id"] for r in image_dedup_keep(
            spark.table("pngmedia")).collect())
        assert [r["doc_id"] for r in rows] == direct

    def test_video_dedup_keep_sql_equals_direct(self, eng, spark):
        from datafusion_postgres_spark.operators.videohash import (
            synthesize_mp4_corpus, video_dedup_keep,
        )
        docs = spark.table("documents").where("doc_id < 60")
        synthesize_mp4_corpus(docs, side=8, n_frames=6) \
            .createOrReplaceTempView("mp4media")
        rows = _rows(eng, "SELECT doc_id FROM "
                          "video_dedup_keep('mp4media', 3, 3) "
                          "ORDER BY doc_id")
        direct = sorted(r["doc_id"] for r in video_dedup_keep(
            spark.table("mp4media"), every_n=2,
            min_match_frames=3).collect())
        assert [r["doc_id"] for r in rows] == direct

    def test_audio_dedup_keep_runs(self, eng, spark):
        from datafusion_postgres_spark.operators.audiohash import (
            audio_dedup_keep, synthesize_wav_corpus,
        )
        docs = spark.table("documents").where("doc_id < 60")
        synthesize_wav_corpus(docs).createOrReplaceTempView("wavmedia")
        rows = _rows(eng, "SELECT count(*) AS n FROM "
                          "audio_dedup_keep('wavmedia', 3)")
        direct = audio_dedup_keep(spark.table("wavmedia")).count()
        assert rows[0]["n"] == direct > 0

    def test_embedding_dedup_keep_sql_equals_direct(self, eng, spark):
        rows = _rows(eng, "SELECT vec_id FROM "
                          "embedding_dedup_keep('embeddings', 0.38) "
                          "ORDER BY vec_id")
        from datafusion_postgres_spark.operators.dedup import (
            embedding_dedup_keep,
        )
        direct = sorted(r["vec_id"] for r in embedding_dedup_keep(
            spark.table("embeddings"), threshold=0.38).collect())
        assert [r["vec_id"] for r in rows] == direct
        assert len(rows) > 0

    def test_simhash_dedup_incremental_sql_equals_direct(self, eng, spark):
        """Round-10 verdict item #6: the ingest loops' dedup step is
        SQL-reachable (frame-based state — pure; the write/merge
        halves stay API-only by design: side-effecting)."""
        spark.table("documents").where("doc_id % 5 = 0") \
            .createOrReplaceTempView("tvf_new_docs")
        spark.table("documents").where("doc_id % 5 <> 0") \
            .createOrReplaceTempView("tvf_state_docs")
        rows = _rows(eng, "SELECT doc_id FROM simhash_dedup_incremental("
                          "'tvf_new_docs', 'tvf_state_docs', 3) "
                          "ORDER BY doc_id")
        from datafusion_postgres_spark.operators.dedup import (
            simhash_dedup_incremental,
        )
        direct = sorted(r["doc_id"] for r in simhash_dedup_incremental(
            spark.table("tvf_new_docs"),
            corpus_docs=spark.table("tvf_state_docs"),
            max_hamming=3).collect())
        assert [r["doc_id"] for r in rows] == direct
        assert len(rows) > 0

    def test_image_dedup_incremental_sql_equals_direct(self, eng, spark):
        from datafusion_postgres_spark.operators.imagehash import (
            image_dedup_incremental, synthesize_png_corpus,
        )
        docs = spark.table("documents").where("doc_id < 80")
        media = synthesize_png_corpus(docs)
        media.where("doc_id % 4 = 0") \
            .createOrReplaceTempView("tvf_new_imgs")
        media.where("doc_id % 4 <> 0") \
            .createOrReplaceTempView("tvf_state_imgs")
        rows = _rows(eng, "SELECT doc_id FROM image_dedup_incremental("
                          "'tvf_new_imgs', 'tvf_state_imgs') "
                          "ORDER BY doc_id")
        direct = sorted(r["doc_id"] for r in image_dedup_incremental(
            spark.table("tvf_new_imgs"),
            corpus_media=spark.table("tvf_state_imgs")).collect())
        assert [r["doc_id"] for r in rows] == direct

    def test_embedding_dedup_incremental_sql_equals_direct(
            self, eng, spark):
        spark.table("embeddings").where("vec_id % 5 = 0") \
            .createOrReplaceTempView("tvf_new_emb")
        spark.table("embeddings").where("vec_id % 5 <> 0") \
            .createOrReplaceTempView("tvf_state_emb")
        rows = _rows(eng, "SELECT vec_id FROM embedding_dedup_incremental("
                          "'tvf_new_emb', 'tvf_state_emb', 0.38) "
                          "ORDER BY vec_id")
        from datafusion_postgres_spark.operators.dedup import (
            embedding_dedup_incremental,
        )
        direct = sorted(r["vec_id"] for r in embedding_dedup_incremental(
            spark.table("tvf_new_emb"),
            corpus_emb=spark.table("tvf_state_emb"),
            threshold=0.38).collect())
        assert [r["vec_id"] for r in rows] == direct
        assert len(rows) > 0

    def test_maintain_ann_index_tvf(self, eng, spark, tmp_path):
        from datafusion_postgres_spark.functions.pipeline_tvf import (
            ANN_INDEX_ROOT_CONF,
        )
        from datafusion_postgres_spark.sources.ann_index import (
            write_ivf_sq8_index,
        )
        p = str(tmp_path / "idx")
        write_ivf_sq8_index(spark.table("embeddings"), p,
                            n_centroids=8, kmeans_iters=0)
        spark.conf.set(ANN_INDEX_ROOT_CONF, str(tmp_path))
        try:
            rows = _rows(eng, "SELECT action, recall, compacted_cells "
                              f"FROM maintain_ann_index('embeddings', "
                              f"'{p}', 0.05)")
        finally:
            spark.conf.unset(ANN_INDEX_ROOT_CONF)
        assert len(rows) == 1
        assert rows[0]["action"] in ("rebuilt", "compacted")
        assert 0.0 <= rows[0]["recall"] <= 1.0

    def test_query_ann_index_sql_equals_direct(self, eng, spark,
                                               tmp_path):
        """Round-10: the READ half of the SQL index surface — top-k
        retrieval from a persisted IVF-SQ8 index, path under the same
        allowlist as maintenance (read-only, but an unconstrained path
        would be a confused-deputy read primitive)."""
        from datafusion_postgres_spark.functions.pipeline_tvf import (
            ANN_INDEX_ROOT_CONF, TvfError,
        )
        from datafusion_postgres_spark.sources.ann_index import (
            query_ivf_sq8_index, write_ivf_sq8_index,
        )
        p = str(tmp_path / "qidx")
        write_ivf_sq8_index(spark.table("embeddings"), p,
                            n_centroids=8, kmeans_iters=0)
        spark.table("embeddings").where("vec_id < 5").selectExpr(
            "vec_id AS qid", "embedding AS qvec"
        ).createOrReplaceTempView("tvf_ann_queries")
        spark.conf.set(ANN_INDEX_ROOT_CONF, str(tmp_path))
        try:
            rows = _rows(eng, "SELECT qid, vec_id, score, rnk FROM "
                              f"query_ann_index('tvf_ann_queries', "
                              f"'{p}', 5, 4) ORDER BY qid, rnk")
        finally:
            spark.conf.unset(ANN_INDEX_ROOT_CONF)
        direct = (query_ivf_sq8_index(
                      spark, p, spark.table("tvf_ann_queries"),
                      k=5, n_probe=4)
                  .orderBy("qid", "rnk").collect())
        assert [tuple(r) for r in rows] == [tuple(r) for r in direct]
        assert len(rows) > 0
        # exclude_self=0: external query-id spaces keep the corpus
        # vector that numerically shares a qid (round-10 third pass)
        spark.conf.set(ANN_INDEX_ROOT_CONF, str(tmp_path))
        try:
            noex = _rows(eng, "SELECT qid, vec_id FROM query_ann_index("
                              f"'tvf_ann_queries', '{p}', 1, 4, 0) "
                              "ORDER BY qid")
            assert [(r["qid"], r["vec_id"]) for r in noex] == \
                [(q, q) for q in range(5)]   # self is rank 1
            # parameter validation: 22023, not a raw ValueError
            for bad in (f"query_ann_index('tvf_ann_queries', '{p}', 0)",
                        f"query_ann_index('tvf_ann_queries', '{p}', "
                        "5, 0)"):
                with pytest.raises(TvfError) as ei:
                    _rows(eng, "SELECT * FROM " + bad)
                assert ei.value.sqlstate == "22023"
        finally:
            spark.conf.unset(ANN_INDEX_ROOT_CONF)
        # same allowlist contract as maintenance: disabled without the
        # root conf, and an outside-root path refused WITH it
        with pytest.raises(TvfError) as ei:
            _rows(eng, "SELECT * FROM query_ann_index("
                       f"'tvf_ann_queries', '{p}')")
        assert ei.value.sqlstate == "42501"
        spark.conf.set(ANN_INDEX_ROOT_CONF, str(tmp_path / "subroot"))
        try:
            with pytest.raises(TvfError) as ei:
                _rows(eng, "SELECT * FROM query_ann_index("
                           f"'tvf_ann_queries', '{p}')")
            assert ei.value.sqlstate == "42501"
        finally:
            spark.conf.unset(ANN_INDEX_ROOT_CONF)

    def test_maintain_ann_index_tvf_disabled_without_root(
            self, eng, spark, tmp_path):
        """Round-10 ADVICE: the one destructive-filesystem TVF is
        OFF unless the index-root allowlist conf is set."""
        from datafusion_postgres_spark.functions.pipeline_tvf import (
            ANN_INDEX_ROOT_CONF, TvfError,
        )
        assert spark.conf.get(ANN_INDEX_ROOT_CONF, None) is None
        p = str(tmp_path / "idx2")
        with pytest.raises(TvfError) as ei:
            _rows(eng, "SELECT * FROM "
                       f"maintain_ann_index('embeddings', '{p}')")
        assert ei.value.sqlstate == "42501"
        import os
        assert not os.path.exists(p)

    def test_maintain_ann_index_tvf_rejects_path_outside_root(
            self, eng, spark, tmp_path):
        """A path that realpath-escapes the allowlisted root (.. or
        sibling) is rejected BEFORE any filesystem action."""
        from datafusion_postgres_spark.functions.pipeline_tvf import (
            ANN_INDEX_ROOT_CONF, TvfError,
        )
        import os
        root = tmp_path / "annroot"
        root.mkdir()
        outside = tmp_path / "elsewhere" / "idx"
        spark.conf.set(ANN_INDEX_ROOT_CONF, str(root))
        try:
            for bad in (str(outside),
                        str(root / ".." / "elsewhere" / "idx"),
                        str(root)):
                with pytest.raises(TvfError) as ei:
                    _rows(eng, "SELECT * FROM maintain_ann_index("
                               f"'embeddings', '{bad}')")
                assert ei.value.sqlstate == "42501"
        finally:
            spark.conf.unset(ANN_INDEX_ROOT_CONF)
        assert not os.path.exists(str(outside))


class TestOverTheWire:
    """The same TVF statement through the real v3 wire protocol —
    the verdict's done-criterion for the SQL pipeline surface."""

    def test_minhash_near_dups_over_pgwire(self, spark):
        from datafusion_postgres_spark.server.pgwire import PgWireServer
        from tests.test_pgwire import MiniPgClient
        srv = PgWireServer(spark, port=0)
        srv.start_background()
        try:
            c = MiniPgClient(srv.host, srv.port)
            try:
                c.query(
                    "CREATE OR REPLACE TEMPORARY VIEW wiredocs AS "
                    "SELECT * FROM parquet."
                    "`/root/testdata/sf0.001/documents.parquet`")
                res = c.query(
                    "SELECT count(*) AS n "
                    "FROM minhash_near_dups('wiredocs', 0.5) "
                    "WHERE jaccard >= 0.8")
                assert res["cols"] == ["n"]
                assert int(res["rows"][0][0]) > 0
                # the keep surface over the same wire (round-9 #3)
                res = c.query(
                    "SELECT count(*) AS n "
                    "FROM simhash_dedup_keep('wiredocs', 3)")
                assert res["cols"] == ["n"]
                assert int(res["rows"][0][0]) > 0
                # the INGEST surface over the same wire (round-10 #6)
                c.query(
                    "CREATE OR REPLACE TEMPORARY VIEW wirenew AS "
                    "SELECT * FROM wiredocs WHERE doc_id % 5 = 0")
                c.query(
                    "CREATE OR REPLACE TEMPORARY VIEW wirestate AS "
                    "SELECT * FROM wiredocs WHERE doc_id % 5 <> 0")
                res = c.query(
                    "SELECT count(*) AS n FROM "
                    "simhash_dedup_incremental('wirenew', 'wirestate')")
                assert res["cols"] == ["n"]
                assert int(res["rows"][0][0]) > 0
            finally:
                c.close()
        finally:
            srv.shutdown()


def test_tvfs_discoverable_in_pg_proc(eng):
    """psql \\df shape: every pipeline TVF is listed as a set-returning
    function with its argument and result text."""
    (res,) = eng.execute(
        "SELECT proname, proretset, proargs_text, proresult_text "
        "FROM pg_catalog.pg_proc WHERE proname = 'minhash_near_dups'")
    rows = res.df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["proretset"] is True
    assert "threshold" in r["proargs_text"]
    assert "jaccard" in r["proresult_text"]
    from datafusion_postgres_spark.functions.pipeline_tvf import (
        TVF_REGISTRY, TVF_SIGNATURES,
    )
    assert set(TVF_SIGNATURES) == set(TVF_REGISTRY)
    (res,) = eng.execute(
        "SELECT count(*) AS n FROM pg_catalog.pg_proc "
        "WHERE prosrc LIKE '%pipeline table function%'")
    assert res.df.collect()[0]["n"] == len(TVF_REGISTRY)


def test_dup_components_and_overlap_profile(eng, spark):
    rows = _rows(eng,
                 "SELECT component_id, count(*) AS n "
                 "FROM dup_components('documents', 0.5) "
                 "GROUP BY component_id HAVING count(*) >= 2 "
                 "ORDER BY n DESC, component_id LIMIT 5")
    assert len(rows) > 0 and all(r["n"] >= 2 for r in rows)
    spark.table("documents").where("doc_id < 30") \
        .createOrReplaceTempView("eval_slice")
    prof = _rows(eng, "SELECT * FROM "
                      "overlap_profile('documents', 'eval_slice') "
                      "ORDER BY n")
    assert [r["n"] for r in prof] == [1, 2, 3]
    assert all(r["n_shared"] > 0 for r in prof)


def test_tvf_names_in_string_literals_untouched(eng):
    """Token-aware rewrite: a function name inside a string literal is
    DATA, not a call — the regex version corrupted it."""
    (res,) = eng.execute(
        "SELECT 'call sessionize(events, 1800) later' AS note")
    assert res.df.collect()[0]["note"] == "call sessionize(events, 1800) later"


def test_tvf_pipeline_prefix_and_foreign_schema(eng):
    rows = _rows(eng, "SELECT count(*) AS n "
                      "FROM pipeline.exact_dup_groups('documents')")
    assert rows[0]["n"] > 0
    # another schema's function of the same name is not ours — left
    # untouched and surfaced as the engine's unknown-function error
    with pytest.raises(Exception):
        _rows(eng, "SELECT * FROM otherschema.sessionize('events', 1)")


class TestRound6Tvfs:
    """semdedup / tfidf_topk / lm_perplexity / dsir_weights / video_probe."""

    def test_semdedup(self, eng, spark):
        rows = _rows(eng, "SELECT * FROM semdedup('embeddings', 0.38, 4) "
                          "ORDER BY vec_id")
        from datafusion_postgres_spark.operators.dedup import semantic_dedup
        direct = (semantic_dedup(spark.table("embeddings"), threshold=0.38,
                                 n_clusters=4)
                  .orderBy("vec_id").collect())
        assert [tuple(r) for r in rows] == [tuple(r) for r in direct]
        assert any(not r["kept"] for r in rows)   # threshold low: dups exist

    def test_tfidf_topk_composes(self, eng):
        rows = _rows(eng, "SELECT doc_id, count(*) AS n FROM "
                          "tfidf_topk('documents', 3) GROUP BY doc_id "
                          "ORDER BY doc_id LIMIT 5")
        assert len(rows) == 5 and all(r["n"] <= 3 for r in rows)

    def test_lm_perplexity_two_tables(self, eng, spark):
        spark.table("documents").where("lang = 'en'") \
            .createOrReplaceTempView("train_en")
        rows = _rows(eng, "SELECT * FROM "
                          "lm_perplexity('documents', 'train_en') "
                          "WHERE ppl IS NOT NULL ORDER BY doc_id LIMIT 5")
        assert len(rows) == 5 and all(r["ppl"] > 0 for r in rows)

    def test_dsir_weights(self, eng, spark):
        spark.table("documents").where("lang = 'en'") \
            .createOrReplaceTempView("target_en")
        rows = _rows(eng, "SELECT * FROM "
                          "dsir_weights('documents', 'target_en') "
                          "ORDER BY log_ratio DESC LIMIT 5")
        assert len(rows) == 5
        lr = [r["log_ratio"] for r in rows]
        assert lr == sorted(lr, reverse=True)

    def test_video_probe(self, eng, spark):
        from datafusion_postgres_spark.operators.multimodal import (
            synthetic_mp4,
        )
        spark.createDataFrame(
            [(1, synthetic_mp4(9000, 320, 240)),
             (2, synthetic_mp4(4000, 640, 480, with_audio=False))],
            "doc_id long, content binary").createOrReplaceTempView("vids")
        rows = _rows(eng, "SELECT doc_id, duration_ms, width, height, "
                          "n_audio_tracks FROM video_probe('vids') "
                          "ORDER BY doc_id")
        assert [tuple(r) for r in rows] == [(1, 9000, 320, 240, 1),
                                            (2, 4000, 640, 480, 0)]


class TestTrainedQualityTvf:
    def test_trains_and_scores_through_sql(self, eng, spark):
        spark.table("documents").selectExpr(
            "*", "CAST(lang = 'en' AS INT) AS y") \
            .createOrReplaceTempView("labeled_docs")
        rows = _rows(eng, "SELECT * FROM "
                          "trained_quality('labeled_docs', 'y', 64, 2) "
                          "ORDER BY doc_id LIMIT 5")
        assert len(rows) == 5
        assert all(0.0 <= r["clf_score"] <= 1.0 for r in rows)
        from datafusion_postgres_spark.operators.classifier import (
            train_text_classifier, trained_classifier_score)
        w = train_text_classifier(spark.table("labeled_docs"), "y",
                                  dim=64, iters=2)
        direct = (trained_classifier_score(spark.table("labeled_docs"), w)
                  .orderBy("doc_id").limit(5).collect())
        assert [tuple(r) for r in rows] == [tuple(r) for r in direct]

    def test_bad_label_column_rejected(self, eng):
        with pytest.raises(Exception):
            _rows(eng, "SELECT * FROM "
                       "trained_quality('documents', 'nope', 64, 1)")

    def test_dim_bounds_rejected(self, eng):
        with pytest.raises(Exception):
            _rows(eng, "SELECT * FROM "
                       "trained_quality('documents', 'lang', 4, 1)")


def test_domain_reweight_tvf(eng, spark):
    spark.table("documents").where("lang = 'en'") \
        .createOrReplaceTempView("ref_en")
    rows = _rows(eng, "SELECT * FROM "
                      "domain_reweight('documents', 'ref_en') "
                      "ORDER BY source")
    assert len(rows) > 1
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    from datafusion_postgres_spark.operators.dsir import (
        domain_mixture_reweight)
    from datafusion_postgres_spark.operators.lm import ngram_lm_score
    docs = spark.table("documents")
    scored = ngram_lm_score(docs, spark.table("ref_en")).join(
        docs.select("doc_id", "source"), "doc_id")
    direct = domain_mixture_reweight(scored).orderBy("source").collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in direct]


def test_audio_and_exif_probe_tvfs(eng, spark):
    import struct

    import pandas as pd
    from datafusion_postgres_spark.operators.multimodal import (
        synthetic_jpeg)

    def wav(frames):
        fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt +
                  b"data" + struct.pack("<I", frames * 2) + b"\x00" * 16)
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame({
                "doc_id": ids,
                "content": [
                    wav(16000 + int(i) * 100) if i % 2 == 0
                    else synthetic_jpeg(32, 24, orientation=1 + int(i) % 8)
                    for i in ids],
            })

    media = (spark.range(10).selectExpr("id AS doc_id")
             .mapInPandas(gen, "doc_id long, content binary"))
    media.createOrReplaceTempView("probe_media")
    # decode_audio is strict (raises on non-audio) — probe the wav rows
    media.where("doc_id % 2 = 0").createOrReplaceTempView("probe_wavs")
    wavs = _rows(eng, "SELECT * FROM audio_probe('probe_wavs') "
                      "ORDER BY doc_id")
    assert len(wavs) == 5
    assert all(r["format"] == "wav" and r["duration_ms"] > 0
               for r in wavs)
    # the EXIF probe degrades gracefully on mixed media
    ex = _rows(eng, "SELECT * FROM exif_probe('probe_media') "
                    "WHERE has_exif ORDER BY doc_id")
    assert [r["doc_id"] for r in ex] == [1, 3, 5, 7, 9]
    assert all(r["orientation"] == 1 + r["doc_id"] % 8 for r in ex)


class TestTvfTablePositionAndAuthz:
    """Round-7 ADVICE fixes: rewrite only in table (FROM) position;
    table-granted users can run TVFs; eager builders never execute for
    a statement that is then denied."""

    def test_scalar_position_call_untouched(self, eng, spark):
        from datafusion_postgres_spark.functions.pipeline_tvf import (
            rewrite_pipeline_tvfs,
        )
        # a coincidentally named user function in SELECT-list / WHERE
        # position must not be rewritten (and must not raise TvfError)
        assert rewrite_pipeline_tvfs(
            spark, "SELECT sessionize(user_id) FROM events") == (None, [])
        assert rewrite_pipeline_tvfs(
            spark, "SELECT a, exact_dup_groups(x) FROM t") == (None, [])
        assert rewrite_pipeline_tvfs(
            spark, "SELECT 1 WHERE sessionize(a, b) > 0") == (None, [])

    def test_comma_in_from_list_still_rewrites(self, eng):
        rows = _rows(eng,
                     "SELECT count(*) AS n FROM documents d, "
                     "exact_dup_groups('documents') g "
                     "WHERE d.doc_id = g.representative")
        assert rows[0]["n"] > 0

    def test_table_granted_user_can_run_tvf(self, eng):
        from datafusion_postgres_spark.server.auth import (
            Permission, PermissionDenied, Resource, User,
        )
        eng.auth.add_user(User("tvfuser", roles=["tvfr"]))
        eng.auth.grant("tvfr", Permission.SELECT,
                       Resource("table", "public.documents"))
        eng.user = "tvfuser"
        try:
            # grant on the SOURCE table is sufficient — the synthesized
            # __tvf_* view itself is exempt from table grants
            rows = _rows(eng, "SELECT count(*) AS n "
                              "FROM exact_dup_groups('documents')")
            assert rows[0]["n"] > 0
            # no grant on events -> the per-source hook denies
            with pytest.raises(PermissionDenied):
                _rows(eng, "SELECT * FROM sessionize('events', 1800)")
        finally:
            eng.user = "postgres"

    def test_denied_statement_never_builds(self, eng, monkeypatch):
        from datafusion_postgres_spark.functions import pipeline_tvf as ptvf
        from datafusion_postgres_spark.server.auth import (
            Permission, PermissionDenied, Resource, User,
        )
        calls = []
        orig = ptvf.TVF_REGISTRY["exact_dup_groups"]

        def spy(spark_, args):
            calls.append(list(args))
            return orig[0](spark_, args)

        monkeypatch.setitem(ptvf.TVF_REGISTRY, "exact_dup_groups",
                            (spy, *orig[1:]))
        eng.auth.add_user(User("tvfuser2", roles=["tvfr2"]))
        eng.auth.grant("tvfr2", Permission.SELECT,
                       Resource("table", "public.documents"))
        eng.user = "tvfuser2"
        try:
            _rows(eng, "SELECT count(*) AS n "
                       "FROM exact_dup_groups('documents')")
            assert len(calls) == 1
            # CTAS needs CREATE permission the user lacks: denied AND
            # the (potentially expensive) builder never ran a 2nd time
            with pytest.raises(PermissionDenied):
                eng.execute("CREATE TABLE tvf_out AS SELECT * "
                            "FROM exact_dup_groups('documents')")
            assert len(calls) == 1
        finally:
            eng.user = "postgres"

    def test_tvf_proargtypes_match_signatures(self, eng):
        """pg_proc declares real arg type OIDs (23 integer, 701 double
        precision), not text-for-everything."""
        (res,) = eng.execute(
            "SELECT proname, proargtypes FROM pg_catalog.pg_proc "
            "WHERE proname IN ('trained_quality', 'domain_reweight', "
            "'minhash_near_dups') ORDER BY proname")
        got = {r["proname"]: r["proargtypes"] for r in res.df.collect()}
        assert got["trained_quality"] == "25 25 23 23"
        assert got["domain_reweight"] == "25 25 701"
        assert got["minhash_near_dups"] == "25 701"


class TestRound7Tvfs:
    """image_near_dups / url_dup_groups through the SQL surface."""

    def test_image_near_dups_tvf(self, eng, spark):
        import random
        from datafusion_postgres_spark.operators.imagehash import (
            encode_png_gray,
        )
        rng = random.Random(31)
        base = [rng.randrange(256) for _ in range(256)]
        dup = list(base)
        dup[9] = (dup[9] + 2) % 256
        other = [rng.randrange(256) for _ in range(256)]
        spark.createDataFrame(
            [(1, encode_png_gray(16, 16, base)),
             (2, encode_png_gray(16, 16, dup)),
             (3, encode_png_gray(16, 16, other))],
            "doc_id long, content binary").createOrReplaceTempView(
            "png_media")
        rows = _rows(eng, "SELECT * FROM image_near_dups('png_media', 3) "
                          "ORDER BY id_a, id_b")
        assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]

    def test_url_dup_groups_tvf(self, eng, spark):
        spark.createDataFrame(
            [(1, "https://example.com/a"),
             (2, "HTTPS://WWW.EXAMPLE.COM:443/a/?utm_source=x"),
             (3, "https://other.org/b")],
            "doc_id long, url string").createOrReplaceTempView(
            "url_corpus")
        rows = _rows(eng, "SELECT canonical_url, n_docs "
                          "FROM url_dup_groups('url_corpus', 'url')")
        assert [(r["canonical_url"], r["n_docs"]) for r in rows] == \
            [("https://example.com/a", 2)]

    def test_audio_near_dups_tvf(self, eng, spark):
        from datafusion_postgres_spark.operators.audiohash import (
            encode_wav_pcm16,
        )
        import random
        rng = random.Random(41)
        base = [rng.randrange(-20000, 20000) for _ in range(512)]
        dup = list(base)
        dup[7] += 21
        spark.createDataFrame(
            [(1, encode_wav_pcm16(8000, base)),
             (2, encode_wav_pcm16(8000, dup))],
            "doc_id long, content binary").createOrReplaceTempView(
            "wav_media")
        rows = _rows(eng, "SELECT * FROM audio_near_dups('wav_media')")
        assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]

    def test_video_near_dups_tvf(self, eng, spark):
        import random
        from datafusion_postgres_spark.operators.videohash import (
            encode_mp4_gray_frames,
        )
        rng = random.Random(47)
        base = [[rng.randrange(256) for _ in range(64)] for _ in range(6)]
        near = [list(f) for f in base]
        near[2][3] = (near[2][3] + 2) % 256
        other = [[rng.randrange(256) for _ in range(64)]
                 for _ in range(6)]
        spark.createDataFrame(
            [(1, encode_mp4_gray_frames(8, 8, base)),
             (2, encode_mp4_gray_frames(8, 8, near)),
             (3, encode_mp4_gray_frames(8, 8, other))],
            "doc_id long, content binary").createOrReplaceTempView(
            "mp4_media")
        rows = _rows(eng, "SELECT * FROM video_near_dups('mp4_media', 3, 3)"
                          " ORDER BY id_a, id_b")
        assert [(r["id_a"], r["id_b"], r["n_frames"]) for r in rows] == \
            [(1, 2, 3)]

    def test_comma_after_join_on_still_table_position(self, eng):
        rows = _rows(eng,
                     "SELECT count(*) AS n "
                     "FROM documents d JOIN documents d2 "
                     "ON d.doc_id = d2.doc_id, "
                     "exact_dup_groups('documents') g "
                     "WHERE d.doc_id = g.representative")
        assert rows[0]["n"] > 0

    def test_parenthesized_tvf_in_from(self, eng):
        rows = _rows(eng, "SELECT count(*) AS n "
                          "FROM (exact_dup_groups('documents')) g")
        assert rows[0]["n"] > 0

    def test_tvf_prefix_name_not_a_permission_hole(self, eng):
        """A USER table that merely starts with __tvf_ gets full RBAC —
        only the statement's own synthesized views are exempt."""
        from datafusion_postgres_spark.server.auth import (
            PermissionDenied, User,
        )
        eng.auth.add_user(User("noperm"))
        eng.user = "noperm"
        try:
            with pytest.raises(PermissionDenied):
                eng.execute("CREATE TABLE __tvf_mine AS SELECT 1 AS a")
            with pytest.raises(PermissionDenied):
                eng.execute("DROP TABLE __tvf_anything")
        finally:
            eng.user = "postgres"
