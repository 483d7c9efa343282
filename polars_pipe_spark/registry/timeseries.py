"""Registry queries on event-time data in native Spark, calling no library
module: rollups, smoothing, cohorts, funnels, changepoints and
survival."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par


# q140: LOCF gap fill; same injected nulls, IGNORE NULLS window.
@query("""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_gapped,
           last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS value_filled
    FROM events
""")
def _q140_locf(spark, sf):
    """Last-observation-carried-forward backfill (time-series gap fill):
    nulls injected deterministically, then F.last(ignorenulls) over the
    per-user (ts, event_id) order — one partitioned window, no loops.
    Timestamps emit as epoch micros (the q22 lesson)."""
    ev = _t(spark, sf, "events")
    gapped = F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        gapped.alias("value_gapped"),
        F.last(gapped, ignorenulls=True).over(w).alias("value_filled"),
    )


# q143: the oracle aggregates raw events DIRECTLY to hours — matching
# proves the minute→hour tier composition is lossless.
@query("""
    SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS sum_value
    FROM events GROUP BY 1, 2
""")
def _q143_hypertable_rollup(spark, sf):
    """Hypertable-style tiered rollup (continuous-aggregate pattern): a
    minute-grain aggregate is materialised once, and the hour grain
    derives FROM the minute rollup — count-of-counts and sum-of-DECIMAL-
    sums compose losslessly, so re-aggregating rollups replaces rescans
    of the raw hypertable. The oracle aggregates raw events straight to
    hours, proving the tier composition exact."""
    ev = _t(spark, sf, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("m"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("m")).alias("h"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("decimal(18,2)").alias("sum_value"),
    )
    return hour.select(
        F.unix_micros(F.col("h")).alias("hour_us"),
        "event_type", "n_events", "sum_value",
    )


# q145: OHLC bars; open/close via row_number over the same
# (ts, event_id) order the struct min/max encodes.
@query("""
    WITH r AS (
      SELECT date_trunc('hour', ts) AS h, event_type, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts ASC, event_id ASC) AS ra,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    )
    SELECT epoch_us(h) AS hour_us, event_type,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM r GROUP BY h, event_type
""")
def _q145_ohlc_bars(spark, sf):
    """Time-bar (OHLC) aggregation: per (hour, event_type) the opening /
    highest / lowest / closing value — open and close resolved by
    lexicographic struct min/max over (ts, event_id, value), so ties are
    deterministic without a sort. One shuffle, map-side combinable."""
    ev = _t(spark, sf, "events")
    h = F.date_trunc("hour", F.col("ts"))
    s = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        ev.groupBy(h.alias("h"), "event_type")
        .agg(
            F.min(s)["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(s)["value"].alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.unix_micros(F.col("h")).alias("hour_us"),
            "event_type", "open", "high", "low", "close", "n_events",
        )
    )


# q152: cohort matrix; both engines truncate weeks to Monday 00:00.
@query("""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ), first AS (
      SELECT user_id, MIN(w) AS cohort FROM uw GROUP BY user_id
    )
    SELECT epoch_us(cohort) AS cohort_us,
           date_diff('day', CAST(cohort AS DATE), CAST(w AS DATE)) // 7 AS week_offset,
           COUNT(*) AS n_active
    FROM uw JOIN first USING (user_id)
    GROUP BY 1, 2
""")
def _q152_retention_cohorts(spark, sf):
    """Weekly retention cohorts: users grouped by first-active week and
    counted in each later week — the classic cohort matrix as two
    map-side-combinable shuffles (first-seen reduction + cohort-week
    count); the (user, week) frame is pre-distinct so COUNT(*) IS the
    distinct-user count."""
    ev = _t(spark, sf, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    first = uw.groupBy("user_id").agg(F.min("w").alias("cohort"))
    return (
        uw.join(first, "user_id")
        .groupBy("cohort", "w")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.unix_micros(F.col("cohort")).alias("cohort_us"),
            F.expr("datediff(CAST(w AS DATE), CAST(cohort AS DATE)) DIV 7").alias(
                "week_offset"
            ),
            "n_active",
        )
    )


# q177: lead-window intervals, cents×micros exact integer weighting.
@query("""
    WITH p AS (
      SELECT user_id, event_id, ts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), iv AS (
      SELECT user_id, cents,
             epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS dur_us
      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_us,
           CAST(SUM(CAST(cents AS HUGEINT) * dur_us) // SUM(dur_us) AS BIGINT) AS twap_cents
    FROM iv WHERE dur_us IS NOT NULL GROUP BY user_id
""")
def _q177_twap(spark, sf):
    """Time-weighted average price per user over irregular purchase
    events: each value is weighted by its holding interval (ts →
    next ts; the last event carries zero weight — a closed-interval
    TWAP). One per-user lead window + one aggregate; integer-exact
    cells (cents × micros with DECIMAL(38,0) sums, mean by integer
    division)."""
    ev = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = ev.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts")))
        .alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_us").alias("total_us"),
        F.sum(
            (F.col("cents") * F.col("dur_us")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("weighted_sum"),
    ).select(
        "user_id",
        "n_intervals",
        "total_us",
        F.expr("CAST(weighted_sum DIV total_us AS BIGINT)").alias(
            "twap_cents"
        ),
    )


# q178: n_sessions(g) = n_users + n_gaps>g — one lag-window pass prices
# all thresholds.
@query("""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    ), u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM g)
    SELECT CAST(t.s AS BIGINT) AS gap_seconds,
           CAST(u.n_users + (SELECT COUNT(*) FROM g
                             WHERE gap_us IS NOT NULL AND gap_us > CAST(t.s AS BIGINT) * 1000000)
                AS BIGINT) AS n_sessions
    FROM (VALUES (900), (1800), (3600), (7200)) t(s), u
""")
def _q178_session_sensitivity(spark, sf):
    """Session-timeout sensitivity in ONE pass: for each candidate gap
    threshold, n_sessions = n_users + n_gaps_exceeding_threshold — so a
    single per-user lag window scan prices every threshold at once
    instead of re-sessionizing per candidate. The table an analyst
    reads before pinning q22's 30-minute gap. All-BIGINT."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)))
        .alias("gap_us"),
    )
    thresholds = [900, 1800, 3600, 7200]  # seconds
    # ONE aggregate: the user count and every threshold's gap count come
    # out of the same pass (null gaps — each user's first event — fall
    # into otherwise(0) and never inflate a threshold)
    agg = gaps.agg(
        F.count_distinct("user_id").alias("__u"),
        *[
            F.sum(
                F.when(F.col("gap_us") > t * 1_000_000, 1).otherwise(0)
            ).alias(f"__g{t}")
            for t in thresholds
        ]
    )
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("long").alias("gap_seconds"),
                        (F.col(f"__g{t}") + F.col("__u"))
                        .cast("long")
                        .alias("n_sessions"),
                    )
                    for t in thresholds
                ]
            )
        ).alias("s")
    )
    return rows.select("s.gap_seconds", "s.n_sessions")


_EWMA_NUM = " + ".join(
    f"(CASE WHEN x{lag} IS NOT NULL THEN x{lag} * {0.75 ** lag!r} ELSE 0.0 END)"
    for lag in range(8)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN x{lag} IS NOT NULL THEN {0.75 ** lag!r} ELSE 0.0 END)"
    for lag in range(8)
)
_EWMA_LAGS = ", ".join(f"lag(value, {lag}) OVER w AS x{lag}" for lag in range(8))


@query(f"""
    WITH l AS (
      SELECT event_id, user_id, {_EWMA_LAGS}
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT event_id, user_id, {_EWMA_NUM} AS num, {_EWMA_DEN} AS den FROM l
    )
    SELECT event_id, user_id,
           CASE WHEN den > 0 THEN round(num / den, 6) END AS ewma
    FROM s
""")
def _q198_ewma_smoothing(spark, sf):
    """Per-user trailing EWMA (decay 0.75, window 8) over event values —
    the time-series smoothing staple. Pure lag() window expressions (no
    arrays, no UDFs): numerator/denominator accumulate in a FIXED
    literal order so the doubles are bit-identical on any engine;
    null values drop out of both sums. Per-user partitions, ties broken
    by event_id."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = F.lit(0.0), F.lit(0.0)
    for lag in range(8):
        x = F.lag("value", lag).over(w)
        wt = F.lit(0.75 ** lag)
        num = num + F.when(x.isNotNull(), x * wt).otherwise(F.lit(0.0))
        den = den + F.when(x.isNotNull(), wt).otherwise(F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.when(den > 0, num / den), 6).alias("ewma"),
    )


@query("""
    WITH tri AS (
      SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, COUNT(*) AS n
    FROM tri WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
    ORDER BY n DESC, e1, e2, e3 LIMIT 20
""")
def _q200_event_path_trigrams(spark, sf):
    """Behavioral path mining: top-20 consecutive event-type trigrams
    per user timeline (the funnel-discovery primitive). lead() windows
    partitioned per user (bounded by user activity), count + TakeOrdered
    top-k — no global sort, no session state."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.col("event_type").alias("e1"),
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tri.orderBy(
        F.col("n").desc(), F.col("e1").asc(), F.col("e2").asc(), F.col("e3").asc()
    ).limit(20)


@query("""
    WITH ue AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT MAX(day) AS mx FROM ue),
    contrib AS (
      SELECT ue.user_id, ue.n, ue.day + o.o AS window_end
      FROM ue CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) o
    )
    SELECT CAST(window_end AS BIGINT) AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau,
           CAST(SUM(n) AS BIGINT) AS n_events_7d
    FROM contrib, b WHERE window_end <= mx GROUP BY 1
""")
def _q219_rolling_wau(spark, sf):
    """Trailing-7-day active users (rolling WAU) and window event
    volume per day — the product-analytics rolling-distinct classic,
    in its scale-safe form: each (user, day) contributes itself to the
    7 window-ends it falls in (a bounded ×7 explode), then ONE distinct
    aggregation per window-end — never a per-day self-join over the
    raw events, never a sliding countDistinct window. The distinct and
    sum aggregates run as separate shuffles joined on the tiny per-day
    frame (mixing them in one agg plans an Expand that doubles the
    exploded rows pre-shuffle)."""
    ev = _t_par(spark, sf, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    ue = ev.groupBy("user_id", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    contrib = ue.select(
        "user_id", "day", "n",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
    ).withColumn("window_end", (F.col("day") + F.col("o")).cast("long"))
    bounds = ue.agg(F.max("day").alias("mx"))
    inwin = contrib.crossJoin(F.broadcast(bounds)).filter(
        F.col("window_end") <= F.col("mx")
    )
    wau = inwin.groupBy("window_end").agg(
        F.countDistinct("user_id").alias("wau")
    )
    vol = inwin.groupBy("window_end").agg(F.sum("n").alias("n_events_7d"))
    return wau.join(vol, "window_end").select(
        "window_end", "wau", "n_events_7d"
    )


@query("""
    WITH daily AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT user_id, day, n,
             SUM(n) OVER (PARTITION BY user_id) AS S,
             COUNT(*) OVER (PARTITION BY user_id) AS T
      FROM daily
    ),
    cs AS (
      SELECT user_id, day, T,
             SUM(n * T - S) OVER (PARTITION BY user_id ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cusum
      FROM st WHERE T >= 10
    ),
    rk AS (
      SELECT user_id, day, T, cusum,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY abs(cusum) DESC, day ASC) AS r
      FROM cs
    )
    SELECT user_id, CAST(day AS BIGINT) AS cp_day,
           CAST(abs(cusum) AS BIGINT) AS cusum_abs,
           CAST(T AS BIGINT) AS n_days
    FROM rk WHERE r = 1
""")
def _q222_cusum_changepoint(spark, sf):
    """Per-user CUSUM changepoint detection over the daily event-count
    series — where did behaviour shift? The statistic is kept INTEGER:
    with S = Σ counts and T = days observed, the running deviation
    cusum_t = Σ_{i≤t} (n_i·T − S) avoids the mean division entirely
    (scaled by T), so the argmax day is bit-deterministic on any
    engine. One grouped aggregate builds the daily series, per-USER
    ordered windows (never global) accumulate the deviation, and the
    changepoint is the row_number-1 row by (|cusum| desc, day asc).
    Users with < 10 active days are excluded (too short to call)."""
    ev = _t_par(spark, sf, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    daily = ev.groupBy("user_id", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wu = Window.partitionBy("user_id")
    wc = wu.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        daily.withColumn("S", F.sum("n").over(wu))
        .withColumn("T", F.count(F.lit(1)).over(wu))
        .filter(F.col("T") >= 10)
        .withColumn("cusum", F.sum(F.col("n") * F.col("T") - F.col("S")).over(wc))
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        staged.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("day").cast("long").alias("cp_day"),
            F.abs(F.col("cusum")).cast("long").alias("cusum_abs"),
            F.col("T").cast("long").alias("n_days"),
        )
    )


@query("""
    WITH per AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
                  AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT *, SUM(n) OVER (PARTITION BY event_type) AS total,
             MAX(n) OVER (PARTITION BY event_type) AS peak_n
      FROM per
    )
    SELECT event_type, dow, n,
           CAST((n * 1000000) // total AS BIGINT) AS share_ppm,
           CAST(CASE WHEN n = peak_n THEN 1 ELSE 0 END AS BIGINT) AS is_peak
    FROM w
""")
def _q223_dow_seasonality(spark, sf):
    """Day-of-week seasonality profile per event type: volume, exact
    ppm share of the type's total, and a peak-day flag. The dow index
    is pure arithmetic (days since 2024-01-01, a Monday, mod 7 — 0 =
    Monday) rather than each engine's dayofweek() (Spark is 1-based
    Sunday-start, DuckDB 0-based — a classic cross-engine seam this
    sidesteps). One grouped aggregate + per-type windows over ≤ 7 rows."""
    ev = _t_par(spark, sf, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    per = ev.groupBy(
        "event_type", (day % 7).cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type")
    return (
        per.withColumn("total", F.sum("n").over(wt))
        .withColumn("peak_n", F.max("n").over(wt))
        .selectExpr(
            "event_type", "dow", "n",
            "CAST((n * 1000000) DIV total AS BIGINT) AS share_ppm",
            "CAST(CASE WHEN n = peak_n THEN 1 ELSE 0 END AS BIGINT) AS is_peak",
        )
    )


# q224: the oracle computes the RECURRENCE directly with a recursive
# walk-free formulation: same closed form, independent engine
@query("""
    WITH d AS (
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CASE WHEN l_returnflag = 'R'
                  THEN CAST(ROUND(l_quantity) AS BIGINT)
                  ELSE -CAST(ROUND(l_quantity) AS BIGINT) END AS delta,
             l_shipdate
      FROM lineitem WHERE l_suppkey < 50
    ),
    s1 AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, delta,
             SUM(delta) OVER (PARTITION BY l_suppkey
                              ORDER BY l_shipdate, l_orderkey,
                                       l_linenumber, delta
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS s
      FROM d
    ),
    s AS (
      SELECT l_suppkey, l_orderkey, l_linenumber, delta, s,
             MIN(LEAST(s, 0)) OVER (PARTITION BY l_suppkey
                                    ORDER BY l_shipdate, l_orderkey,
                                             l_linenumber, delta,
                                             s * SIGN(delta)
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS runmin
      FROM s1
    )
    SELECT l_suppkey, l_orderkey, l_linenumber, delta,
           CAST(s - LEAST(runmin, 0) AS BIGINT) AS balance
    FROM s
""")
def _q224_clamped_running_balance(spark, sf):
    """Inventory-style running balance with a ZERO FLOOR — the Lindley
    recurrence b_t = max(0, b_{t-1} + x_t), which looks like it needs a
    sequential scan (and tempts a mapPartitions/UDF), expressed in
    CLOSED FORM with two ordered windows: with prefix sums S_t,
    b_t = S_t − min(0, min_{j≤t} S_j). Receipts (+qty on return-flagged
    lines) and issues (−qty) per supplier, totally ordered by
    (shipdate, orderkey, linenumber, delta); everything integer, both
    windows partition by supplier — no recurrence, no UDF, no
    one-reducer scan. Suppliers < 50 keep the output bounded.

    r12: delta joined the ordering key for the same reason as q17 —
    the dirty-data generator emits duplicate (orderkey, linenumber)
    rows, so an order that ignores the summed value is not total and
    the clamped balance would be engine-order-dependent wherever such
    a dup lands in the suppkey<50 slice at some rung. The SECOND window
    (runmin) additionally orders by ``s * sign(delta)``: two FULLY
    identical rows still receive distinct s values from the first
    window, and the runmin window must visit them in the SAME order
    the prefix sum was accumulated — for delta>0 that order is s
    ascending, for delta<0 it is s DESCENDING (s decreases within the
    tied group), so the reconstruction key is s*sign(delta) ascending.
    Plain ascending s (the r12 form) reversed the visit order for
    negative-delta duplicates and broke the Lindley closed form: three
    identical delta=-10 rows yielded balances {0,10,20} where the
    recurrence gives {0,0,0} under any valid tie order (r12 advisor
    finding; the oracle mirrored the bug so parity stayed green).
    delta=0 duplicates have equal s, so the residual tie is harmless."""
    li = _t_par(spark, sf, "lineitem").filter(F.col("l_suppkey") < 50)
    qty = F.round(F.col("l_quantity")).cast("long")
    delta = F.when(F.col("l_returnflag") == "R", qty).otherwise(-qty)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "delta"
    ).rowsBetween(Window.unboundedPreceding, 0)
    w2 = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber"),
        F.col("delta"), (F.col("s") * F.signum("delta")).asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    staged = li.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate",
        delta.alias("delta"),
    ).withColumn("s", F.sum("delta").over(w)).withColumn(
        "runmin", F.min(F.least(F.col("s"), F.lit(0))).over(w2)
    )
    return staged.select(
        "l_suppkey", "l_orderkey", "l_linenumber", "delta",
        (F.col("s") - F.least(F.col("runmin"), F.lit(0))).alias("balance"),
    )


@query("""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    cnt AS (
      SELECT user_id, prev, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2, 3
    ),
    tt AS (
      SELECT *, SUM(c) OVER (PARTITION BY user_id) AS T FROM cnt
    )
    SELECT user_id,
           CAST(MAX(T) AS BIGINT) AS n_transitions,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_pairs,
           ROUND(SUM((CAST(c AS DOUBLE) / T)
                 * LN(CAST(T AS DOUBLE) / c)), 6) AS entropy
    FROM tt GROUP BY user_id HAVING CAST(MAX(T) AS BIGINT) >= 20
""")
def _q226_transition_entropy(spark, sf):
    """Per-user behavioural entropy: Shannon entropy (nats) of the
    event-type transition distribution — bots and loops score near 0,
    diverse explorers near ln(25). Transitions from a per-user lag
    window (total order via event_id tiebreak), counts exact; entropy
    is a sum of (c/T)·ln(T/c) doubles whose ulp-level addition-order
    noise sits ten orders below the 6-decimal contract rounding. Users
    with < 20 transitions are excluded."""
    ev = _t_par(spark, sf, "events")
    lw = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id", "event_type",
            F.lag("event_type").over(lw).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .groupBy("user_id", "prev", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wu = Window.partitionBy("user_id")
    staged = pairs.withColumn("T", F.sum("c").over(wu))
    return (
        staged.groupBy("user_id")
        .agg(
            F.max("T").cast("long").alias("n_transitions"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_pairs"),
            F.round(
                F.sum(
                    (F.col("c").cast("double") / F.col("T"))
                    * F.log(F.col("T").cast("double") / F.col("c"))
                ),
                6,
            ).alias("entropy"),
        )
        .filter(F.col("n_transitions") >= 20)
    )


@query("""
    WITH per AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15
               THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) AS v1,
             CAST(COALESCE(SUM(CASE WHEN
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
               THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT) AS v2
      FROM events GROUP BY user_id
    ),
    cls AS (
      SELECT *,
             CASE WHEN v1 = 0 AND v2 > 0 THEN 'new'
                  WHEN v1 > 0 AND v2 = 0 THEN 'churned'
                  WHEN v2 > v1 THEN 'expanded'
                  WHEN v2 < v1 THEN 'contracted'
                  ELSE 'flat' END AS category
      FROM per
    )
    SELECT category,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(v2 - v1) AS BIGINT) AS delta_cents,
           CAST(SUM(v1) AS BIGINT) AS p1_cents,
           CAST(SUM(v2) AS BIGINT) AS p2_cents
    FROM cls GROUP BY category
""")
def _q227_growth_accounting(spark, sf):
    """Growth accounting: the period-over-period value delta decomposed
    into NEW / CHURNED / EXPANDED / CONTRACTED / FLAT user cohorts
    (first vs second half of the event window, split at day 15) — the
    standard revenue-bridge readout. Per-user half-period value cents
    via one conditional aggregate (no self-join of the two periods);
    classification and deltas are pure integer expressions; one final
    5-row rollup. The cohort deltas must sum to total Δ — the oracle
    enforces the bridge identity by recomputation."""
    ev = _t_par(spark, sf, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    cents = F.round(F.col("value") * 100).cast("long")
    per = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(day < 15, cents)), F.lit(0)
        ).alias("v1"),
        F.coalesce(
            F.sum(F.when(day >= 15, cents)), F.lit(0)
        ).alias("v2"),
    )
    cat = (
        F.when((F.col("v1") == 0) & (F.col("v2") > 0), "new")
        .when((F.col("v1") > 0) & (F.col("v2") == 0), "churned")
        .when(F.col("v2") > F.col("v1"), "expanded")
        .when(F.col("v2") < F.col("v1"), "contracted")
        .otherwise("flat")
    )
    return (
        per.withColumn("category", cat)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("v2") - F.col("v1")).alias("delta_cents"),
            F.sum("v1").alias("p1_cents"),
            F.sum("v2").alias("p2_cents"),
        )
    )


@query("""
    WITH lags AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per AS (
      SELECT o_orderpriority, lag_days, CAST(COUNT(*) AS BIGINT) AS c
      FROM lags GROUP BY 1, 2
    ),
    st AS (
      SELECT *,
             SUM(c) OVER (PARTITION BY o_orderpriority) AS n,
             SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lag_days
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM per
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n_lines,
           MIN(CASE WHEN cum > CAST(FLOOR((n - 1) * 0.5) AS BIGINT)
                    THEN lag_days END) AS p50_days,
           MIN(CASE WHEN cum > CAST(FLOOR((n - 1) * 0.95) AS BIGINT)
                    THEN lag_days END) AS p95_days,
           MAX(lag_days) AS max_days
    FROM st GROUP BY o_orderpriority
""")
def _q229_lead_time_sla(spark, sf):
    """Fulfilment SLA readout: ship-lag (days from order to line ship)
    percentiles per order priority — p50/p95/max plus volume. Exact
    WITHOUT any quantile machinery: the lag domain is small and
    bounded (≤ ~4 months of days), so per-(priority, lag) counts + a
    cumulative window over the bounded lag axis give order statistics
    by direct rank lookup — the counting-sort trick for low-cardinality
    domains (cheaper than even histogram narrowing when the domain is
    already tiny). Rank semantics match q165: value at 0-based rank
    floor((n−1)·q)."""
    li = _t_par(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("long")
    per = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority", lag.alias("lag_days"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("o_orderpriority")
    wc = wp.orderBy("lag_days").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        per.withColumn("n", F.sum("c").over(wp))
        .withColumn("cum", F.sum("c").over(wc))
        # floor((n-1)·q) via exact decimal multiply + integral DIV
        .withColumn("k50", F.expr("CAST(((n - 1) * 0.5) DIV 1 AS BIGINT)"))
        .withColumn("k95", F.expr("CAST(((n - 1) * 0.95) DIV 1 AS BIGINT)"))
    )
    return staged.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_lines"),
        F.min(F.when(F.col("cum") > F.col("k50"), F.col("lag_days"))).alias("p50_days"),
        F.min(F.when(F.col("cum") > F.col("k95"), F.col("lag_days"))).alias("p95_days"),
        F.max("lag_days").alias("max_days"),
    )


@query("""
    WITH su AS (
      SELECT user_id, MIN(ts) AS su FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    firsts AS (
      SELECT e.user_id, s.su, MIN(e.ts) AS fp
      FROM events e JOIN su s USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s.su
      GROUP BY e.user_id, s.su
    ),
    lagd AS (
      SELECT CAST(date_diff('day', CAST(su AS DATE), CAST(fp AS DATE))
                  AS BIGINT) AS lag_days
      FROM firsts
    ),
    per AS (SELECT lag_days, CAST(COUNT(*) AS BIGINT) AS c
            FROM lagd GROUP BY lag_days),
    st AS (
      SELECT *, SUM(c) OVER () AS n,
             SUM(c) OVER (ORDER BY lag_days ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM per
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           MIN(CASE WHEN cum > CAST(FLOOR((n - 1) * 0.5) AS BIGINT)
                    THEN lag_days END) AS p50_days,
           MIN(CASE WHEN cum > CAST(FLOOR((n - 1) * 0.9) AS BIGINT)
                    THEN lag_days END) AS p90_days,
           MAX(lag_days) AS max_days
    FROM st
""")
def _q232_time_to_convert(spark, sf):
    """Activation speed: days from a user's first signup to their first
    purchase AT-OR-AFTER it — conversion-latency percentiles via the
    q229 bounded-domain counting sort (lag domain ≤ the event window in
    days, so the cumulative axis is ≤ ~31 rows). fp is the CONDITIONAL
    min (purchases with ts >= su), not the user's globally-first
    purchase — a user who bought before signing up but again after
    still converts (r4 ADVICE). su rides a user-partitioned window so
    the purchase filter and the per-user min reuse one hash partition
    of the events stream — no self-join of the two event streams."""
    ev = _t_par(spark, sf, "events")
    w_u = Window.partitionBy("user_id")
    with_su = ev.withColumn(
        "su", F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w_u)
    )
    firsts = (
        with_su.filter(
            (F.col("event_type") == "purchase")
            & F.col("su").isNotNull()
            & (F.col("ts") >= F.col("su"))
        )
        .groupBy("user_id")
        .agg(F.min("su").alias("su"), F.min("ts").alias("fp"))
    )
    lagged = (
        firsts
        .select(
            F.datediff(
                F.col("fp").cast("date"), F.col("su").cast("date")
            ).cast("long").alias("lag_days")
        )
    )
    per = lagged.groupBy("lag_days").agg(F.count(F.lit(1)).alias("c"))
    w_all = Window.partitionBy(F.lit(1))
    w_cum = w_all.orderBy("lag_days").rowsBetween(Window.unboundedPreceding, 0)
    staged = (
        per.withColumn("n", F.sum("c").over(w_all))
        .withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("k50", F.expr("CAST(((n - 1) * 0.5) DIV 1 AS BIGINT)"))
        .withColumn("k90", F.expr("CAST(((n - 1) * 0.9) DIV 1 AS BIGINT)"))
    )
    return staged.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min(F.when(F.col("cum") > F.col("k50"), F.col("lag_days"))).alias("p50_days"),
        F.min(F.when(F.col("cum") > F.col("k90"), F.col("lag_days"))).alias("p90_days"),
        F.max("lag_days").alias("max_days"),
    )


# q260: identical rn-difference islands in SQL.
@query("""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day
      FROM events
    ), islands AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM days
    ), streaks AS (
      SELECT user_id, grp, COUNT(*) AS streak_len
      FROM islands GROUP BY user_id, grp
    ), longest AS (
      SELECT user_id, MAX(streak_len) AS longest FROM streaks GROUP BY user_id
    )
    SELECT CAST(longest AS BIGINT) AS streak_len,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM longest GROUP BY longest
""")
def _q260_longest_streak(spark, sf):
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days, by the classic rn-difference trick — day_index − row_number()
    is constant within a consecutive run, so one grouped count per
    (user, island) recovers every streak without self-joins or
    recursion. All windows are user-partitioned (keyed); output is the
    corpus-level streak histogram (streak_len → n_users), bounded by the
    calendar span."""
    ev = _t_par(spark, sf, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(
                F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest")
    )
    return (
        longest.groupBy("longest")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("longest").cast("long").alias("streak_len"),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


@query("""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ), scored AS (
      SELECT a.event_type, a.cents - f.cents AS err, a.cents
      FROM daily a JOIN daily f
        ON a.event_type = f.event_type AND a.day = f.day + 7
    ), agg AS (
      SELECT event_type, COUNT(*) AS n_days,
             SUM(ABS(err)) AS abs_err, SUM(err) AS sum_err,
             SUM(cents) AS sum_actual
      FROM scored GROUP BY event_type
      HAVING SUM(cents) > 0
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST((abs_err * 1000000) // sum_actual AS BIGINT) AS wape_ppm,
           CAST(CASE WHEN sum_err >= 0
                THEN (sum_err * 1000000) // sum_actual
                ELSE -((-sum_err * 1000000) // sum_actual)
           END AS BIGINT) AS bias_ppm
    FROM agg
""")
def _q262_seasonal_backtest(spark, sf):
    """Forecast backtesting: score the seasonal-naive baseline
    (forecast(t) = actual(t−7)) over every day that has a week-ago
    anchor — the evaluation harness any forecasting pipeline needs
    before trusting a fancier model. Errors stay in integer cents; the
    two headline metrics are integer-exact ratios: WAPE (Σ|err| over
    Σ actual, in ppm — the weighted MAPE that tolerates zero-actual
    days) and signed bias (sign-split DIV). One daily aggregate + one
    7-day-lag self-join per event type — both keyed, no windows."""
    ev = _t_par(spark, sf, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
                "day"
            ),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
        .persist()
    )
    fc = daily.select(
        "event_type",
        (F.col("day") + 7).alias("day"),
        F.col("cents").alias("forecast_cents"),
    )
    scored = daily.join(fc, ["event_type", "day"]).select(
        "event_type",
        (F.col("cents") - F.col("forecast_cents")).alias("err"),
        "cents",
    )
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.abs(F.col("err"))).alias("abs_err"),
        F.sum("err").alias("sum_err"),
        F.sum("cents").alias("sum_actual"),
    # all-zero-actual groups are excluded on BOTH sides: Spark's DIV by
    # zero nulls silently while DuckDB // errors — the engines would
    # diverge exactly there (cannot happen on this data, value > 0, but
    # the operator should not rely on that)
    ).filter(F.col("sum_actual") > 0)
    return agg.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.expr(
            "CAST((CAST(abs_err AS DECIMAL(38,0)) * 1000000)"
            " DIV sum_actual AS BIGINT)"
        ).alias("wape_ppm"),
        (
            F.signum(F.col("sum_err").cast("double")).cast("long")
            * F.expr(
                "CAST((CAST(abs(sum_err) AS DECIMAL(38,0)) * 1000000)"
                " DIV sum_actual AS BIGINT)"
            )
        ).alias("bias_ppm"),
    )


# q274: life table + KM product replayed; the survival fold runs over
# the same week-sorted (1−h) list.
@query("""
    WITH span AS (SELECT MAX(ts) AS end_ts FROM events),
    users AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(MIN(ts) AS DATE),
                            CAST(MAX(ts) AS DATE)) // 7 AS BIGINT) AS week,
             (epoch(span.end_ts) - epoch(MAX(ts))) > 86400 AS churned
      FROM events, span GROUP BY user_id, span.end_ts
    ), hist AS (
      SELECT week, COUNT(*) AS n_ending,
             SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS n_churned
      FROM users GROUP BY week
    ), staged AS (
      SELECT week, n_ending, n_churned,
             SUM(n_ending) OVER (ORDER BY week DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_at_risk
      FROM hist
    ), hz AS (
      SELECT week, n_at_risk, n_churned,
             CAST((n_churned * 1000000) // n_at_risk AS BIGINT) AS hazard_ppm
      FROM staged
    )
    SELECT h.week, CAST(h.n_at_risk AS BIGINT) AS n_at_risk,
           CAST(h.n_churned AS BIGINT) AS n_churned, h.hazard_ppm,
           ROUND(list_reduce(
             list_prepend(1.0,
               list_transform(
                 list_sort(list({'w': h2.week, 'p': 1.0 - h2.hazard_ppm / 1000000.0})),
                 r -> r.p)),
             (acc, x) -> acc * x), 6) AS survival
    FROM hz h
    JOIN hz h2 ON h2.week <= h.week
    GROUP BY h.week, h.n_at_risk, h.n_churned, h.hazard_ppm
""")
def _q274_survival_hazard(spark, sf):
    """Discrete-time survival analysis (the Kaplan–Meier life table, by
    tenure week): per user, tenure = weeks from first to last event;
    a user is an observed CHURN if their last event precedes the
    observation end by > 1 day (the tight threshold matching the
    synthetic ~31-day window), otherwise right-CENSORED (the
    distinction that separates survival analysis from a naive churn
    rate). Per week w: at-risk = users with tenure ≥ w, events = churns
    at exactly w, hazard = events/at-risk in exact ppm, and the KM
    survival curve S(w) = Π(1 − h_j) folded over the week-sorted array
    (the q263 deterministic-float-fold pattern; the week axis is ~5
    rows, bounded by the observation span). At-risk counts come from a
    reverse cumulative over the bounded week histogram — no per-user
    window anywhere."""
    ev = _t_par(spark, sf, "events")
    span = ev.agg(F.max("ts").alias("end_ts"))
    users = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.expr(
                "CAST(datediff(CAST(last_ts AS DATE), CAST(first_ts AS DATE))"
                " AS BIGINT) DIV 7"
            ).alias("week"),
            (
                F.unix_timestamp("end_ts") - F.unix_timestamp("last_ts")
                > 86400
            ).alias("churned"),
        )
    )
    hist = users.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_ending"),
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("n_churned"),
    )
    w_rev = (
        Window.partitionBy(F.lit(1))
        .orderBy(F.col("week").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = hist.withColumn("n_at_risk", F.sum("n_ending").over(w_rev)).withColumn(
        "hazard_ppm",
        F.expr("CAST(n_churned * 1000000 AS BIGINT) DIV n_at_risk"),
    )
    # KM survival: product of (1 - hazard) over weeks <= w, computed as a
    # week-sorted array fold per row (bounded axis)
    folded = staged.withColumn(
        "survival",
        F.round(
            F.aggregate(
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(
                                F.struct("week", "hazard_ppm")
                            ).over(Window.partitionBy(F.lit(1)))
                        ),
                        lambda st: st["week"] <= F.col("week"),
                    ),
                    lambda st: 1.0 - st["hazard_ppm"].cast("double") / 1_000_000.0,
                ),
                F.lit(1.0),
                lambda acc, x: acc * x,
            ),
            6,
        ),
    )
    return folded.select(
        F.col("week").cast("long").alias("week"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_churned").cast("long").alias("n_churned"),
        "hazard_ppm",
        "survival",
    )


@query("""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS day,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           CAST((sx * 1000) // n AS BIGINT) AS mean_milli,
           CAST(((n * sxx - sx * sx) * 1000) // (n * sx) AS BIGINT)
             AS vmr_milli,
           (n * sxx - sx * sx) > (n * sx) AS overdispersed
    FROM m
""")
def _q275_burstiness(spark, sf):
    """Arrival burstiness per event type: the Fano factor (variance-to-
    mean ratio of daily counts — VMR 1 = Poisson, > 1 = overdispersed /
    bursty, < 1 = regular), the diagnostic that says whether a stream's
    spikes are real structure or Poisson noise. Exact integer moments
    over the bounded daily-count table; VMR leaves as milli-scaled
    integer division of exact numerators (population variance·n² =
    nΣx²−(Σx)², the q240 identity), so no float accumulation anywhere;
    the over/under-dispersed verdict is an integer cross-multiply."""
    ev = _t_par(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
    ).agg(F.count(F.lit(1)).alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.expr("CAST(sx * 1000 AS BIGINT) DIV n").alias("mean_milli"),
        # VMR = var/mean = (n·Σx²−(Σx)²) / (n·Σx): both exact integers
        F.expr(
            "CAST((n * sxx - sx * sx) * 1000 AS BIGINT) DIV (n * sx)"
        ).alias("vmr_milli"),
        # bursty iff var > mean ⟺ n·Σx²−(Σx)² > n·Σx (integer compare)
        F.expr("(n * sxx - sx * sx) > (n * sx)").alias("overdispersed"),
    )
