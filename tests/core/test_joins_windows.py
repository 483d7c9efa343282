"""as-of join / range join / sessionize / top-k unit tests."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from polars_pipe_spark.operators.joins import asof_join, range_join
from polars_pipe_spark.operators.windows import sessionize, top_k_per_group


def ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


class TestAsofJoin:
    @pytest.fixture()
    def trades_quotes(self, spark):
        trades = spark.createDataFrame(
            [("A", ts(5), 100.0), ("A", ts(10), 101.0), ("B", ts(3), 50.0), ("C", ts(1), 9.0)],
            "sym string, t timestamp, price double",
        )
        quotes = spark.createDataFrame(
            [("A", ts(4), 99.5), ("A", ts(10), 100.5), ("B", ts(4), 49.5)],
            "sym string, qt timestamp, quote double",
        )
        return trades, quotes

    def test_backward_match(self, trades_quotes):
        trades, quotes = trades_quotes
        out = asof_join(trades, quotes, on="sym", left_ts="t", right_ts="qt").collect()
        by = {(r.sym, r.t): (r.qt, r.quote) for r in out}
        assert by[("A", ts(5))] == (ts(4), 99.5)
        assert by[("A", ts(10))] == (ts(10), 100.5)  # equal ts matches (<=)
        assert by[("B", ts(3))] == (None, None)  # no quote before
        assert by[("C", ts(1))] == (None, None)  # key missing entirely
        assert len(out) == 4  # left join: every left row exactly once

    def test_strict_excludes_equal(self, trades_quotes):
        trades, quotes = trades_quotes
        out = asof_join(
            trades, quotes, on="sym", left_ts="t", right_ts="qt", strict=True
        ).collect()
        by = {(r.sym, r.t): (r.qt, r.quote) for r in out}
        assert by[("A", ts(10))] == (ts(4), 99.5)  # equal ts now excluded


class TestRangeJoin:
    def test_point_in_interval(self, spark):
        points = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 25.0)], "pid int, x double")
        ivals = spark.createDataFrame(
            [(10, 0.0, 10.0), (20, 10.0, 20.0)], "iid int, lo double, hi double"
        )
        out = range_join(points, ivals, "x", "lo", "hi").select("pid", "iid").collect()
        assert {(r.pid, r.iid) for r in out} == {(1, 10), (2, 20)}

    def test_bucketed_equals_naive(self, spark):
        points = spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "pid int, x double"
        )
        ivals = spark.createDataFrame(
            [(1, 2.0, 7.0), (2, 6.5, 20.0), (3, 25.0, 26.0)],
            "iid int, lo double, hi double",
        )
        naive = {(r.pid, r.iid) for r in range_join(points, ivals, "x", "lo", "hi").collect()}
        bucketed = {
            (r.pid, r.iid)
            for r in range_join(points, ivals, "x", "lo", "hi", bucket_width=5.0).collect()
        }
        assert naive == bucketed and len(naive) > 0


class TestSessionize:
    def test_sessions_split_on_gap(self, spark):
        rows = [
            (1, ts(0)), (1, ts(10)), (1, ts(50)),  # gap 40 > 30 → 2 sessions
            (2, ts(5)),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = sessionize(df, "user_id", "ts", gap_minutes=30)
        got = {(r.user_id, r.ts): r.session_id for r in out.collect()}
        assert got[(1, ts(0))] == 1
        assert got[(1, ts(10))] == 1
        assert got[(1, ts(50))] == 2
        assert got[(2, ts(5))] == 1


class TestSessionWindowParity:
    def test_sessionize_matches_builtin_session_window(self, spark):
        """Gap-based sessionize must group events exactly like Spark's
        built-in session_window (merged gap windows)."""
        import random

        import pyspark.sql.functions as F

        random.seed(7)
        t0 = dt.datetime(2024, 1, 1)
        rows = []
        for uid in range(5):
            t = t0
            for _ in range(40):
                t += dt.timedelta(minutes=random.choice([1, 5, 50]))
                rows.append((uid, t))
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")

        mine = (
            sessionize(df, "user_id", "ts", gap_minutes=30)
            .groupBy("user_id", "session_id")
            .count()
        )
        builtin = (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id").count()
        )
        mine_sizes = sorted((r.user_id, r["count"]) for r in mine.collect())
        builtin_sizes = sorted((r.user_id, r["count"]) for r in builtin.collect())
        assert mine_sizes == builtin_sizes


class TestTopK:
    def test_topk(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
            "g string, id int, v double",
        )
        out = top_k_per_group(df, ["g"], [F.col("v").desc(), F.col("id")], k=2)
        got = {(r.g, r.id): r.rk for r in out.collect()}
        assert got == {("a", 2): 1, ("a", 3): 2, ("b", 4): 1}


class TestTimeSpine:
    def test_gap_fill_zeros(self, spark):
        from polars_pipe_spark.operators.windows import time_spine

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 10)),
             (1, dt.datetime(2024, 1, 1, 0, 40)),
             (1, dt.datetime(2024, 1, 1, 2, 5)),
             (2, dt.datetime(2024, 1, 1, 1, 30)),
             # outside the window: must not leak in
             (2, dt.datetime(2024, 1, 2, 9, 0))],
            "user_id long, ts timestamp",
        )
        out = time_spine(df, "user_id", "ts",
                         "2024-01-01 00:00:00", "2024-01-01 03:00:00", "1 hour")
        rows = {(r.user_id, r.bucket_ts.hour): r.n_events for r in out.collect()}
        # 2 keys x 4 hourly buckets, empty buckets filled with 0
        assert len(rows) == 8
        assert rows[(1, 0)] == 2 and rows[(1, 2)] == 1 and rows[(1, 1)] == 0
        assert rows[(2, 1)] == 1 and rows[(2, 0)] == 0 and rows[(2, 3)] == 0

    def test_custom_aggs_stay_null_on_empty_buckets(self, spark):
        from polars_pipe_spark.operators.windows import time_spine

        df = spark.createDataFrame(
            [(1, dt.datetime(2024, 1, 1, 0, 10), 5.0)],
            "user_id long, ts timestamp, v double",
        )
        out = time_spine(
            df, "user_id", "ts", "2024-01-01 00:00:00", "2024-01-01 01:00:00",
            "1 hour", agg_exprs={"sum_v": F.sum("v")},
        )
        rows = {r.bucket_ts.hour: r.sum_v for r in out.collect()}
        assert rows == {0: 5.0, 1: None}


class TestSaltedJoin:
    def test_identical_to_plain_join(self, spark):
        from polars_pipe_spark.operators.joins import salted_join

        left = spark.createDataFrame(
            [(k, i) for i in range(50) for k in ("hot", f"k{i % 5}")],
            "k string, v long",
        )
        right = spark.createDataFrame(
            [("hot", 1), ("k0", 2), ("k3", 3), ("unmatched", 9)], "k string, r long"
        )
        for how in ("inner", "left"):
            got = salted_join(left, right, "k", n_salts=4, how=how)
            want = left.join(right, "k", how)
            assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_salt_spreads_hot_key_over_reducers(self, spark):
        from polars_pipe_spark.operators.joins import salted_join

        left = spark.createDataFrame([("hot", i) for i in range(400)], "k string, v long")
        right = spark.createDataFrame([("hot", 1)], "k string, r long")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = salted_join(left, right, "k", n_salts=8)
            p = out._jdf.queryExecution().executedPlan().toString()
            # the join key set includes the salt -> hot key spread across
            # 8 hash-distinct composite keys, and the join is a real
            # shuffle join (broadcast disabled)
            assert "__salt" in p
            assert out.count() == 400
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_rejects_right_preserving_joins(self, spark):
        import pytest as _pytest

        from polars_pipe_spark.operators.joins import salted_join

        df = spark.createDataFrame([("a", 1)], "k string, v long")
        with _pytest.raises(ValueError, match="inner/left"):
            salted_join(df, df, "k", how="full")


class TestDebounce:
    def test_keeps_first_of_each_burst(self, spark):
        from polars_pipe_spark.operators.windows import debounce

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        df = spark.createDataFrame(
            [
                (1, 100, t0),                                  # burst 1 head
                (1, 101, t0 + dt.timedelta(minutes=10)),       # suppressed
                (1, 102, t0 + dt.timedelta(minutes=39)),       # chained: 29m after 101
                (1, 103, t0 + dt.timedelta(minutes=75)),       # >30m gap: new burst
                (2, 200, t0),                                  # other key unaffected
            ],
            "user_id long, event_id long, ts timestamp",
        )
        out = sorted(r.event_id for r in
                     debounce(df, "user_id", "ts", 30.0, ["event_id"]).collect())
        # 102 is suppressed even though it is 39m after burst head: the
        # gap is measured to the PREVIOUS event (chained bursts), like
        # sessionization — not to the kept head
        assert out == [100, 103, 200]


class TestGapFillInterpolate:
    def test_all_fill_kinds(self, spark):
        from polars_pipe_spark.operators.windows import gap_fill_interpolate

        rows = [
            ("u", 0, None),    # leading
            ("u", 1, 100),     # known
            ("u", 2, None),    # interp: 100 + (1*(40-100)) DIV 3 = 100 + -20 = 80
            ("u", 3, None),    # interp: 100 + (2*(-60)) DIV 3 = 60
            ("u", 4, 40),      # known
            ("u", 5, None),    # locf -> 40
        ]
        df = spark.createDataFrame(rows, "k string, d long, v long")
        out = {
            r.d: (r.filled, r.fill_kind)
            for r in gap_fill_interpolate(df, "k", "d", "v").collect()
        }
        assert out[0] == (None, "leading")
        assert out[1] == (100, "known")
        assert out[2] == (80, "interp")
        assert out[3] == (60, "interp")
        assert out[4] == (40, "known")
        assert out[5] == (40, "locf")

    def test_negative_slope_truncation(self, spark):
        """(-7) DIV 2 must truncate toward zero (-3), matching DuckDB //."""
        from polars_pipe_spark.operators.windows import gap_fill_interpolate

        df = spark.createDataFrame(
            [("u", 0, 0), ("u", 1, None), ("u", 2, -7)],
            "k string, d long, v long",
        )
        out = {
            r.d: r.filled
            for r in gap_fill_interpolate(df, "k", "d", "v").collect()
        }
        assert out[1] == -3  # trunc(-7/2), NOT Python floor (-4)


def test_clamped_balance_identity_matches_recurrence(spark):
    """q224's closed form (S_t - min(0, runmin S)) must equal the
    sequential Lindley recurrence b_t = max(0, b_{t-1} + x_t)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    rng = random.Random(7)
    rows = [("k", i, rng.randint(-9, 9)) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    w = Window.partitionBy("k").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    got = {
        r.t: r.b
        for r in df.withColumn("s", FF.sum("x").over(w))
        .withColumn("m", FF.min(FF.least(FF.col("s"), FF.lit(0))).over(w))
        .select("t", (FF.col("s") - FF.least(FF.col("m"), FF.lit(0))).alias("b"))
        .collect()
    }
    b = 0
    for _, t, x in rows:
        b = max(0, b + x)
        assert got[t] == b, t


class TestAsofDirectionTolerance:
    """merge_asof parity for the r5 direction/tolerance extension."""

    def frames(self, spark):
        left = spark.createDataFrame([(1, 10), (1, 25), (2, 5)], "k long, ts long")
        right = spark.createDataFrame(
            [(1, 12, "a"), (1, 30, "b"), (2, 4, "c")], "k long, rts long, v string"
        )
        return left, right

    def test_forward(self, spark):
        from polars_pipe_spark.operators.joins import asof_join

        left, right = self.frames(spark)
        got = sorted(
            (r.k, r.ts, r.v)
            for r in asof_join(
                left, right, "k", "ts", "rts", ["v"], direction="forward"
            ).collect()
        )
        assert got == [(1, 10, "a"), (1, 25, "b"), (2, 5, None)]

    def test_forward_strict_skips_equal(self, spark):
        from polars_pipe_spark.operators.joins import asof_join

        left = spark.createDataFrame([(1, 12)], "k long, ts long")
        _, right = self.frames(spark)
        got = asof_join(
            left, right, "k", "ts", "rts", ["v"], direction="forward", strict=True
        ).collect()[0]
        assert got.v == "b"  # equal-ts 'a' excluded under >

    def test_tolerance_nulls_far_matches(self, spark):
        from polars_pipe_spark.operators.joins import asof_join

        left, right = self.frames(spark)
        got = {
            (r.k, r.ts): r.v
            for r in asof_join(
                left, right, "k", "ts", "rts", ["v"],
                direction="forward", tolerance=3,
            ).collect()
        }
        assert got == {(1, 10): "a", (1, 25): None, (2, 5): None}

    def test_backward_tolerance(self, spark):
        from polars_pipe_spark.operators.joins import asof_join

        left, right = self.frames(spark)
        got = {
            (r.k, r.ts): r.v
            for r in asof_join(
                left, right, "k", "ts", "rts", ["v"], tolerance=2
            ).collect()
        }
        # (1,25): last <=25 is a@12, 13 away -> nulled; (2,5): c@4 within 2
        assert got == {(1, 10): None, (1, 25): None, (2, 5): "c"}

    def test_bad_direction_raises(self, spark):
        from polars_pipe_spark.operators.joins import asof_join

        left, right = self.frames(spark)
        with pytest.raises(ValueError, match="direction"):
            asof_join(left, right, "k", "ts", "rts", ["v"], direction="sideways")


def test_clamped_balance_duplicate_negative_rows(spark, tmp_path):
    """r13 (advisor medium): the runmin window must visit tied identical
    rows in the SAME order the prefix sum accumulated — s*sign(delta)
    ascending. Plain ascending s reversed the visit order for
    negative-delta duplicates: three identical delta=-10 rows read
    balances {0,10,20} instead of the recurrence's {0,0,0}. Drives the
    real q224 query over a tiny lineitem parquet and checks the full
    multiset against the sequential Lindley recurrence."""
    import datetime

    from polars_pipe_spark.registry.timeseries import _q224_clamped_running_balance

    d = datetime.date(1995, 1, 1)
    # suppkey 1: three FULLY identical negative rows, then a receipt.
    # suppkey 2: identical positive dups then identical negative dups.
    rows = [
        (1, 100, 1, d, "N", 10.0),
        (1, 100, 1, d, "N", 10.0),
        (1, 100, 1, d, "N", 10.0),
        (1, 200, 1, datetime.date(1995, 2, 1), "R", 7.0),
        (2, 300, 1, d, "R", 5.0),
        (2, 300, 1, d, "R", 5.0),
        (2, 300, 2, d, "N", 8.0),
        (2, 300, 2, d, "N", 8.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_suppkey long, l_orderkey long, l_linenumber long, "
        "l_shipdate date, l_returnflag string, l_quantity double",
    )
    df.coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))

    got = sorted(
        (r.l_suppkey, r.l_orderkey, r.l_linenumber, r.delta, r.balance)
        for r in _q224_clamped_running_balance(spark, str(tmp_path)).collect()
    )

    # sequential recurrence over the query's total order (ties are
    # identical rows, so any tie order yields the same multiset)
    expected = []
    for supp in (1, 2):
        b = 0
        ordered = sorted(
            (r for r in rows if r[0] == supp),
            key=lambda r: (r[3], r[1], r[2],
                           round(r[5]) if r[4] == "R" else -round(r[5])),
        )
        for (sk, ok, ln, _, rf, q) in ordered:
            delta = round(q) if rf == "R" else -round(q)
            b = max(0, b + delta)
            expected.append((sk, ok, ln, delta, b))
    assert got == sorted(expected)
