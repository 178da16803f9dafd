"""Temporal join operators (operators/joins.py): as-of join semantics
(direction, ties, tolerance, no-match), binned point-in-interval join vs
a brute-force inequality join, gaps-and-islands merging, and the plan
shape (as-of = one shuffle, zero join nodes)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from datafusion_postgres_spark.operators.joins import (
    asof_join, gaps_islands, point_in_interval_join,
)
from datafusion_postgres_spark.plans.inspect import (
    count_shuffles, simple_plan,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00"), 100.0),
         (1, ts("2024-01-01 10:00:05"), 101.0),
         (1, ts("2024-01-01 10:01:00"), 102.0),
         (2, ts("2024-01-01 10:00:03"), 200.0)],
        "k int, qts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:04"), "a"),   # latest quote <= : 100.0
         (1, ts("2024-01-01 10:00:05"), "b"),   # exact tie on ts: 101.0
         (1, ts("2024-01-01 09:59:00"), "c"),   # before all quotes: NULL
         (2, ts("2024-01-01 11:00:00"), "d"),   # far match (tolerance test)
         (3, ts("2024-01-01 10:00:00"), "e")],  # key with no quotes: NULL
        "k int, tts timestamp, tag string")


class TestAsofJoin:
    def test_backward(self, trades, quotes):
        out = asof_join(trades, quotes, on="k", left_ts="tts",
                        right_ts="qts", right_cols=["px"])
        got = {r["tag"]: r["px"] for r in out.collect()}
        assert got == {"a": 100.0, "b": 101.0, "c": None,
                       "d": 200.0, "e": None}

    def test_forward(self, trades, quotes):
        out = asof_join(trades, quotes, on="k", left_ts="tts",
                        right_ts="qts", right_cols=["px"],
                        direction="forward")
        got = {r["tag"]: r["px"] for r in out.collect()}
        # earliest quote at-or-after each trade
        assert got == {"a": 101.0, "b": 101.0, "c": 100.0,
                       "d": None, "e": None}

    def test_tolerance(self, trades, quotes):
        out = asof_join(trades, quotes, on="k", left_ts="tts",
                        right_ts="qts", right_cols=["px"],
                        tolerance_us=10_000_000)  # 10 s
        got = {r["tag"]: r["px"] for r in out.collect()}
        # 'd' is ~1 h after the only key-2 quote -> voided by tolerance
        assert got["d"] is None
        assert got["a"] == 100.0

    def test_tie_break(self, spark):
        left = spark.createDataFrame(
            [(1, ts("2024-01-01 00:00:10"))], "k int, lts timestamp")
        right = spark.createDataFrame(
            [(1, ts("2024-01-01 00:00:10"), 7),
             (1, ts("2024-01-01 00:00:10"), 9)],
            "k int, rts timestamp, rid int")
        back = asof_join(left, right, on="k", left_ts="lts",
                         right_ts="rts", right_cols=["rid"], tie_col="rid")
        assert back.collect()[0]["rid"] == 9  # greatest wins backward
        fwd = asof_join(left, right, on="k", left_ts="lts",
                        right_ts="rts", right_cols=["rid"], tie_col="rid",
                        direction="forward")
        assert fwd.collect()[0]["rid"] == 7  # least wins forward

    def test_name_collision_suffix(self, spark):
        left = spark.createDataFrame(
            [(1, ts("2024-01-01 00:00:10"), 5.0)],
            "k int, t timestamp, value double")
        right = spark.createDataFrame(
            [(1, ts("2024-01-01 00:00:00"), 6.0)],
            "k int, rt timestamp, value double")
        out = asof_join(left, right, on="k", left_ts="t", right_ts="rt",
                        right_cols=["value"])
        row = out.collect()[0]
        assert row["value"] == 5.0 and row["value_r"] == 6.0

    def test_plan_one_shuffle_no_join(self, trades, quotes):
        out = asof_join(trades, quotes, on="k", left_ts="tts",
                        right_ts="qts", right_cols=["px"])
        plan = simple_plan(out)
        assert "Join" not in plan  # window formulation, no join node
        assert count_shuffles(out) == 1


class TestPointInInterval:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        import random
        rng = random.Random(7)
        base = dt.datetime(2024, 1, 1)
        pts = [(i, base + dt.timedelta(seconds=rng.randrange(0, 86400)))
               for i in range(300)]
        ivs = []
        for j in range(25):
            s = rng.randrange(0, 82800)
            ln = rng.randrange(60, 7200)  # 1 min .. 2 h
            ivs.append((j, base + dt.timedelta(seconds=s),
                        base + dt.timedelta(seconds=s + ln)))
        return (spark.createDataFrame(pts, "pid int, pts timestamp"),
                spark.createDataFrame(
                    ivs, "iid int, ivs timestamp, ive timestamp"))

    def test_matches_brute_force(self, frames):
        pts, ivs = frames
        fast = point_in_interval_join(pts, ivs, "pts", "ivs", "ive",
                                      bin_seconds=1800)
        brute = pts.join(ivs, (F.col("pts") >= F.col("ivs")) &
                         (F.col("pts") <= F.col("ive")))
        a = {(r["pid"], r["iid"]) for r in fast.collect()}
        b = {(r["pid"], r["iid"]) for r in brute.collect()}
        assert a == b and len(a) > 50

    def test_no_duplicate_pairs(self, frames):
        pts, ivs = frames
        out = point_in_interval_join(pts, ivs, "pts", "ivs", "ive",
                                     bin_seconds=600)
        rows = [(r["pid"], r["iid"]) for r in out.collect()]
        assert len(rows) == len(set(rows))

    def test_left_keeps_unmatched_points(self, frames):
        pts, ivs = frames
        out = point_in_interval_join(pts, ivs, "pts", "ivs", "ive",
                                     bin_seconds=1800, how="left")
        matched = point_in_interval_join(pts, ivs, "pts", "ivs", "ive",
                                         bin_seconds=1800)
        n_pts = pts.count()
        n_matched_pts = matched.select("pid").distinct().count()
        n_null = out.where(F.col("iid").isNull()).count()
        assert n_null == n_pts - n_matched_pts
        assert out.count() == matched.count() + n_null

    def test_keyed_join(self, spark):
        pts = spark.createDataFrame(
            [(1, "u", ts("2024-01-01 00:10:00")),
             (2, "w", ts("2024-01-01 00:10:00"))],
            "pid int, k string, pts timestamp")
        ivs = spark.createDataFrame(
            [("u", ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"))],
            "k string, ivs timestamp, ive timestamp")
        out = point_in_interval_join(pts, ivs, "pts", "ivs", "ive",
                                     on="k", bin_seconds=600)
        assert [r["pid"] for r in out.collect()] == [1]


class TestGapsIslands:
    def test_merges_consecutive(self, spark):
        df = spark.createDataFrame(
            [(h,) for h in [1, 2, 3, 7, 9, 10]], "hr long")
        out = {(r["island_start"], r["island_end"], r["n_buckets"])
               for r in gaps_islands(df, "hr", 1).collect()}
        assert out == {(1, 3, 3), (7, 7, 1), (9, 10, 2)}

    def test_step_and_keys(self, spark):
        df = spark.createDataFrame(
            [("a", 0), ("a", 10), ("a", 30), ("b", 0)], "k string, b long")
        out = {(r["k"], r["island_start"], r["island_end"])
               for r in gaps_islands(df, "b", 10, keys="k").collect()}
        assert out == {("a", 0, 10), ("a", 30, 30), ("b", 0, 0)}


class TestScd2:
    @pytest.fixture(scope="class")
    def dim(self, spark):
        from datafusion_postgres_spark.operators.joins import scd2_intervals
        versions = spark.createDataFrame(
            [(1, ts("2024-01-01 00:00:00"), "bronze"),
             (1, ts("2024-02-01 00:00:00"), "silver"),
             (1, ts("2024-03-01 00:00:00"), "gold"),
             (2, ts("2024-01-15 00:00:00"), "bronze")],
            "k int, valid_from timestamp, tier string")
        return scd2_intervals(versions, "k", "valid_from")

    def test_intervals(self, dim):
        rows = {(r["k"], r["tier"]): r["valid_to"] for r in dim.collect()}
        assert rows[(1, "bronze")] == ts("2024-02-01 00:00:00")
        assert rows[(1, "silver")] == ts("2024-03-01 00:00:00")
        assert rows[(1, "gold")] is None       # open-ended current version
        assert rows[(2, "bronze")] is None

    def test_join_picks_valid_version(self, spark, dim):
        from datafusion_postgres_spark.operators.joins import scd2_join
        facts = spark.createDataFrame(
            [(10, 1, ts("2024-01-20 12:00:00")),   # bronze window
             (11, 1, ts("2024-02-01 00:00:00")),   # boundary: new version
             (12, 1, ts("2024-07-04 00:00:00")),   # open gold version
             (13, 1, ts("2023-12-25 00:00:00")),   # before first -> NULL
             (14, 3, ts("2024-01-20 00:00:00"))],  # unknown key -> NULL
            "fid int, k int, fts timestamp")
        out = scd2_join(facts, dim, on="k", fact_ts="fts")
        got = {r["fid"]: r["tier"] for r in out.collect()}
        assert got == {10: "bronze", 11: "silver", 12: "gold",
                       13: None, 14: None}
        assert out.count() == 5  # disjoint versions: exactly one row/fact


class TestAsofRandomized:
    def test_matches_brute_force_random(self, spark):
        """Randomized equivalence: asof_join(backward) == argmax-per-left
        brute force over several seeds (keys collide, ts collide, gaps)."""
        import random
        for seed in (3, 17):
            rng = random.Random(seed)
            base = dt.datetime(2024, 1, 1)
            lrows = [(i, rng.randrange(5),
                      base + dt.timedelta(seconds=rng.randrange(0, 3600)))
                     for i in range(120)]
            rrows = [(j, rng.randrange(5),
                      base + dt.timedelta(seconds=rng.randrange(0, 3600)),
                      float(j))
                     for j in range(80)]
            left = spark.createDataFrame(lrows, "lid int, k int, lts timestamp")
            right = spark.createDataFrame(
                rrows, "rid int, k int, rts timestamp, px double")
            out = {r["lid"]: r["rid"] for r in
                   asof_join(left, right, on="k", left_ts="lts",
                             right_ts="rts", right_cols=["rid", "px"],
                             tie_col="rid").collect()}
            want = {}
            for lid, lk, lts_ in lrows:
                cands = [(rts_, rid) for rid, rk, rts_, _ in rrows
                         if rk == lk and rts_ <= lts_]
                want[lid] = max(cands)[1] if cands else None
            assert out == want


class TestAsofJoinBucketed:
    """asof_join_bucketed: identical semantics, (key, time_bucket) window
    partitioning for hot-key immunity."""

    def _base_kwargs(self):
        return dict(on="k", left_ts="tts", right_ts="qts",
                    right_cols=["px"])

    def test_matches_base_on_fixture(self, trades, quotes):
        from datafusion_postgres_spark.operators.joins import (
            asof_join_bucketed)
        for direction in ("backward", "forward"):
            for bw in (None, 1, 2, 1_000_000_000_000):
                got = {r["tag"]: r["px"] for r in asof_join_bucketed(
                    trades, quotes, direction=direction, bucket_width=bw,
                    **self._base_kwargs()).collect()}
                want = {r["tag"]: r["px"] for r in asof_join(
                    trades, quotes, direction=direction,
                    **self._base_kwargs()).collect()}
                assert got == want, (direction, bw)

    def test_matches_base_randomized_hot_key(self, spark):
        # 60% of rows on one key; narrow buckets force heavy carry use
        import random
        rng = random.Random(11)
        base = dt.datetime(2024, 1, 1)
        lrows, rrows = [], []
        for i in range(300):
            k = 0 if rng.random() < 0.6 else rng.randrange(1, 6)
            lrows.append((i, k, base + dt.timedelta(
                seconds=rng.randrange(0, 7200))))
        for j in range(200):
            k = 0 if rng.random() < 0.6 else rng.randrange(1, 6)
            rrows.append((j, k, base + dt.timedelta(
                seconds=rng.randrange(0, 7200)), float(j)))
        left = spark.createDataFrame(lrows, "lid int, k int, lts timestamp")
        right = spark.createDataFrame(
            rrows, "rid int, k int, rts timestamp, px double")
        from datafusion_postgres_spark.operators.joins import (
            asof_join_bucketed)
        kw = dict(on="k", left_ts="lts", right_ts="rts",
                  right_cols=["rid", "px"], tie_col="rid")
        for direction in ("backward", "forward"):
            for tol in (None, 600_000_000):
                got = {r["lid"]: r["rid"] for r in asof_join_bucketed(
                    left, right, direction=direction, tolerance_us=tol,
                    n_buckets=16, **kw).collect()}
                want = {r["lid"]: r["rid"] for r in asof_join(
                    left, right, direction=direction, tolerance_us=tol,
                    **kw).collect()}
                assert got == want, (direction, tol)

    def test_window_partitions_on_bucket(self, trades, quotes):
        # THE scale property: the big window partitions on
        # (key, bucket), never on the bare key
        from datafusion_postgres_spark.operators.joins import (
            asof_join_bucketed)
        out = asof_join_bucketed(trades, quotes, bucket_width=5_000_000,
                                 **self._base_kwargs())
        plan = simple_plan(out)
        assert "__asof_bkt" in plan
        import re
        parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        key_only = [p for p in parts
                    if "k#" in p and "__asof_bkt" not in p
                    and "__m" not in p]
        # the only bare-key partitioning allowed is the TINY carry
        # window over one-row-per-bucket summaries; the union window
        # must carry the bucket column
        assert any("__asof_bkt" in p for p in parts)

    def test_explicit_width_skips_sizing_job(self, trades, quotes):
        from datafusion_postgres_spark.operators.joins import (
            asof_join_bucketed)
        # with bucket_width given, building the plan must not run a job
        # (no .first() — construction is purely lazy); smoke: construct
        # without error and count shuffles stays bounded
        out = asof_join_bucketed(trades, quotes, bucket_width=60_000_000,
                                 **self._base_kwargs())
        assert count_shuffles(out) <= 6
