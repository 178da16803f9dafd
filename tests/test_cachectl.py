"""Cache-lifecycle audit: operators that cache an internal frame must
not accumulate blocks across invocations (ADVICE r5). Generation-based:
the next invocation of an operator releases the previous invocation's
cache, so a long-lived session holds at most ONE live cache per
operator — and the CURRENT generation stays alive until then, so the
lazily-executed result plan always finds its cache (a release-on-GC
scheme fired before execution and silently doubled the work)."""

import gc

import pytest
from pyspark.sql import functions as F


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@pytest.fixture()
def events(spark):
    rows = [(i % 3, f"2024-01-01 00:{i:02d}:00", i) for i in range(40)]
    return spark.createDataFrame(rows, "user_id int, ts string, event_id int") \
        .withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.fixture()
def docs(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog " * 4 + str(i % 5))
            for i in range(30)]
    return spark.createDataFrame(rows, "doc_id int, text string")


@pytest.fixture(autouse=True)
def _clean_registry():
    from datafusion_postgres_spark.operators.cachectl import (
        release_operator_caches,
    )
    release_operator_caches()
    yield
    release_operator_caches()


class TestGenerationCache:
    def test_repeated_invocation_does_not_accumulate(self, spark, events):
        from datafusion_postgres_spark.operators.cachectl import (
            live_cache_count, release_operator_caches,
        )
        from datafusion_postgres_spark.operators.events import (
            sessionize_bucketed,
        )
        gc.collect()
        base = _persistent_rdd_count(spark)
        for _ in range(4):
            out = sessionize_bucketed(events, timeout_s=90,
                                      bucket_width_s=300)
            assert out.count() == 40
        # bounded: exactly ONE live generation regardless of call count
        assert live_cache_count() == 1
        assert _persistent_rdd_count(spark) <= base + 1
        assert release_operator_caches() == 1
        assert _persistent_rdd_count(spark) == base

    def test_cache_alive_through_lazy_execution(self, spark, events):
        """The current generation must survive the caller deriving and
        dropping frames — the regression the GC scheme caused: cache
        released before the plan ever executed, doubling the work."""
        from datafusion_postgres_spark.operators.events import (
            sessionize_bucketed,
        )
        from datafusion_postgres_spark.plans import inspect as P
        out = sessionize_bucketed(events, timeout_s=90, bucket_width_s=300)
        derived = out.select("event_id", "session_id")
        del out
        gc.collect()
        derived.collect()
        # the cached windowed frame served the plan: an InMemory scan
        # appears in the executed plan
        plan = derived._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan

    def test_multiple_operators_one_generation_each(self, spark, docs):
        from datafusion_postgres_spark.operators.cachectl import (
            live_cache_count, release_operator_caches,
        )
        from datafusion_postgres_spark.operators.dedup import (
            minhash_lsh_pairs, simhash_near_pairs, substring_dup_pairs,
        )
        gc.collect()
        base = _persistent_rdd_count(spark)
        for _ in range(2):
            minhash_lsh_pairs(docs, threshold=0.5).count()
            simhash_near_pairs(docs).count()
            substring_dup_pairs(docs, window=8).count()
        assert live_cache_count() == 3  # one per operator, not per call
        release_operator_caches()
        assert _persistent_rdd_count(spark) == base

    def test_connected_components_releases_previous_labels(self, spark,
                                                           docs):
        from datafusion_postgres_spark.operators.cachectl import (
            release_operator_caches,
        )
        from datafusion_postgres_spark.operators.dedup import (
            connected_components, minhash_lsh_pairs,
        )
        gc.collect()
        base = _persistent_rdd_count(spark)
        pairs = minhash_lsh_pairs(docs, threshold=0.5)
        for _ in range(2):
            connected_components(pairs).count()
        release_operator_caches()
        assert _persistent_rdd_count(spark) == base

    def test_result_matches_bare_window(self, spark, events):
        """Lifecycle wiring must not change semantics: bucketed output
        still equals the classic bare-key lag → flag → running-sum."""
        from pyspark.sql import Window
        from datafusion_postgres_spark.operators.events import (
            sessionize_bucketed,
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        secs = F.col("ts").cast("long")
        gap = secs - F.lag(secs).over(w)
        bare = events.select(
            "event_id",
            F.sum(F.when(gap.isNull() | (gap > 90), 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("session_id"))
        out = sessionize_bucketed(events, timeout_s=90, bucket_width_s=300)
        got = {(r["event_id"], r["session_id"]) for r in out.collect()}
        want = {(r["event_id"], r["session_id"]) for r in bare.collect()}
        assert got == want


def test_warm_hit_invalidates_on_new_files(spark, tmp_path):
    """Round-7 ADVICE fix: a semantically identical plan must NOT pin a
    pre-insert snapshot — new backing files invalidate the warm hit."""
    from datafusion_postgres_spark.operators.cachectl import (
        cache_generation,
    )
    p = str(tmp_path / "stale_t")
    spark.range(10).write.parquet(p)
    df1 = cache_generation("stale_test", spark.read.parquet(p))
    assert df1.count() == 10
    spark.range(5).write.mode("append").parquet(p)
    df2 = cache_generation("stale_test", spark.read.parquet(p))
    assert df2.count() == 15  # the stale snapshot would say 10


def test_warm_hit_survives_execution_of_the_cache(spark, tmp_path):
    """Round-8 root cause of the r6->r7 bench regression: in Spark 4.1
    ``Dataset.inputFiles()`` returns [] once the sub-plan is cached, so
    the r7 staleness fingerprint came back None on every invocation
    AFTER the first execution and the warm path re-cached + recomputed
    instead of hitting (dedup_ngram_jaccard measured 0.76 -> 1.8s).
    The leaf-walk fingerprint must keep the SAME generation alive —
    identity, not recompute — while still detecting inserts (test
    above)."""
    from datafusion_postgres_spark.operators.cachectl import (
        _input_fingerprint, cache_generation,
    )
    p = str(tmp_path / "warm_t")
    spark.range(100).write.parquet(p)
    plan1 = spark.read.parquet(p).selectExpr("id", "id * 2 AS dbl")
    df1 = cache_generation("warm_exec_test", plan1)
    assert df1.count() == 100                  # materialize the cache
    plan2 = spark.read.parquet(p).selectExpr("id", "id * 2 AS dbl")
    # the fingerprint must still see the backing files through the
    # now-cached sub-plan ...
    assert _input_fingerprint(plan2) is not None
    # ... so the second invocation WARM-HITS (same live generation)
    df2 = cache_generation("warm_exec_test", plan2)
    assert df2 is df1


def test_unfingerprintable_leaf_never_pins_partial_file_list(
        spark, tmp_path, monkeypatch):
    """Round-9 ADVICE fix: if the plan mixes an extractable file leaf
    with a leaf the walk cannot fingerprint (DSv2/JDBC/streaming), the
    partial file list must NOT become the fingerprint — changes in the
    skipped source would then never rotate the generation and a stale
    snapshot could be served. The walk must merge Dataset.inputFiles()
    or answer None (re-cache every time)."""
    from datafusion_postgres_spark.operators import cachectl as C

    pa, pb = str(tmp_path / "ta"), str(tmp_path / "tb")
    spark.range(10).write.parquet(pa)
    spark.range(10).write.parquet(pb)
    joined = spark.read.parquet(pa).join(spark.read.parquet(pb), "id")

    # unpatched: both leaves extract -> a real fingerprint
    full_fp = C._input_fingerprint(joined)
    assert full_fp is not None

    # simulate one undecodable NON-local leaf (a JDBC/DSv2 stand-in):
    # the second leaf raises and classifies as unknown
    calls = {"n": 0}
    real_leaf_files = C._leaf_files

    def flaky_leaf_files(leaf):
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            raise RuntimeError("no file location (simulated DSv2 leaf)")
        return real_leaf_files(leaf)

    monkeypatch.setattr(C, "_leaf_files", flaky_leaf_files)
    monkeypatch.setattr(C, "_is_local_leaf", lambda leaf: False)

    # inputFiles() still sees both tables here -> merged fingerprint,
    # and it must differ from nothing (non-None)
    merged_fp = C._input_fingerprint(joined)
    assert merged_fp is not None

    # when inputFiles() ALSO cannot tell (the cached-subplan quirk),
    # the only safe answer is None -> the generation re-caches
    calls["n"] = 0
    monkeypatch.setattr(type(joined), "inputFiles", lambda self: [])
    assert C._input_fingerprint(joined) is None

    # HARDER case (review finding): inputFiles() NON-empty but merely
    # repeating the walked file leaves — a JDBC/Kafka leaf contributes
    # nothing to it, so a non-empty echo proves nothing about the
    # skipped source; the answer must still be None, never a partial
    # fingerprint that pins a stale snapshot of the unseen source
    calls["n"] = 0
    import glob
    pa_files = ["file:" + f for f in glob.glob(pa + "/*.parquet")]

    def echo_leaf_files(leaf):
        calls["n"] += 1
        if calls["n"] % 2 == 0:
            raise RuntimeError("no file location (simulated JDBC leaf)")
        return list(pa_files)

    monkeypatch.setattr(C, "_leaf_files", echo_leaf_files)
    monkeypatch.setattr(type(joined), "inputFiles",
                        lambda self: list(pa_files))
    assert C._input_fingerprint(joined) is None

    # TWO unknown leaves (second review pass): inputFiles() adding
    # files proves SOME skipped leaf is covered, never all of them —
    # with >1 unknown leaf the only safe answer is None even though
    # inputFiles() adds files beyond the (empty) walk
    monkeypatch.setattr(
        C, "_leaf_files",
        lambda leaf: (_ for _ in ()).throw(RuntimeError("no files")))
    monkeypatch.setattr(type(joined), "inputFiles",
                        lambda self: list(pa_files))
    assert C._input_fingerprint(joined) is None


def test_streaming_leaf_fingerprint_is_none(spark):
    """A pure streaming plan has no stable file set — 'cannot tell'."""
    from datafusion_postgres_spark.operators.cachectl import (
        _input_fingerprint,
    )
    stream = spark.readStream.format("rate").load()
    assert _input_fingerprint(stream) is None


def test_local_relation_leaf_still_fingerprints_files(spark, tmp_path):
    """A known content-fixed local leaf (createDataFrame rows) skips
    silently: the file fingerprint of the parquet side must survive,
    not degrade to None."""
    from datafusion_postgres_spark.operators.cachectl import (
        _input_fingerprint,
    )
    p = str(tmp_path / "tl")
    spark.range(10).write.parquet(p)
    local = spark.createDataFrame([(1,), (2,)], "id long")
    joined = spark.read.parquet(p).join(local, "id")
    assert _input_fingerprint(joined) is not None


class TestCheckpointGrowthWarning:
    """Reliable checkpoints are never deleted unless
    spark.cleaner.referenceTracking.cleanCheckpoints is true, so the
    checkpoint dir grows every round: bounded_checkpoint warns once."""

    def _warnings(self, spark, tmp_path, caplog, monkeypatch):
        from datafusion_postgres_spark.operators import cachectl

        monkeypatch.setattr(cachectl, "_checkpoint_growth_warned", False)
        df = spark.range(3)
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            with caplog.at_level("WARNING", logger=cachectl.__name__):
                for _ in range(2):
                    assert cachectl.bounded_checkpoint(df).count() == 3
        finally:
            sc.setCheckpointDir(None)
            assert sc.getCheckpointDir() is None
        return [r for r in caplog.records
                if r.name == cachectl.__name__ and "grows" in r.message]

    def test_warns_once_without_clean_checkpoints(
            self, spark, tmp_path, caplog, monkeypatch):
        assert len(self._warnings(spark, tmp_path, caplog,
                                  monkeypatch)) == 1

    def test_silent_when_clean_checkpoints_true(
            self, spark, tmp_path, caplog, monkeypatch):
        from pyspark import SparkContext

        orig = SparkContext.getConf

        def conf_with_clean(sc):
            conf = orig(sc)
            conf.set("spark.cleaner.referenceTracking.cleanCheckpoints",
                     "true")
            return conf

        monkeypatch.setattr(SparkContext, "getConf", conf_with_clean)
        assert self._warnings(spark, tmp_path, caplog, monkeypatch) == []
