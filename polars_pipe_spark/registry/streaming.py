"""Registry queries over ``streaming.pipeline``: windowed, session and
attribution streams and their batch twins."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t
from polars_pipe_spark.registry._sql import _ATTRIBUTION_SQL, _WINDOWED_SQL
from polars_pipe_spark.sources.tables import tz_normalise


@query(_WINDOWED_SQL)
def _q31_windowed_events(spark, sf):
    """Tumbling-window aggregation (batch form of the streaming agg —
    identical expression runs under readStream)."""
    from polars_pipe_spark.streaming.pipeline import windowed_event_counts

    ev = _t(spark, sf, "events")
    return windowed_event_counts(ev, "ts", "1 hour", group_cols=["event_type"])


@query(_WINDOWED_SQL)
def _q32_streaming_windowed(spark, sf):
    """The SAME windowed aggregation executed as a real Structured
    Streaming query (file source, availableNow trigger, memory sink) —
    checked against the same SQL oracle as the batch form."""
    import tempfile

    from polars_pipe_spark.sources.tables import _nanos_cols
    from polars_pipe_spark.streaming.pipeline import windowed_event_counts

    path = f"{sf}/events.parquet"
    batch = _t(spark, sf, "events")
    if _nanos_cols(path) or not os.path.isdir(path):
        # file stream needs a DIRECTORY source and can't rebuild nanos;
        # stage a µs-timestamp copy once
        staged = tempfile.mkdtemp(prefix="pps_stream_src_") + "/events"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = tz_normalise(spark.readStream.schema(schema).parquet(path))
    agg = windowed_event_counts(stream, "ts", "1 hour", group_cols=["event_type"])
    name = "pps_stream_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


@query("""
    WITH o AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ), f AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts > INTERVAL '30 minutes' THEN 1
                  ELSE 0 END AS new_s
      FROM o
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM f
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           MIN(ts) AS first_ts
    FROM s GROUP BY user_id, sid
""")
def _q74_session_window(spark, sf):
    """Spark's NATIVE session_window aggregation (the streaming-capable
    session operator — merges events closer than the gap into one window
    during the aggregation itself, no lag/cumsum windows). Boundary
    semantics verified empirically: an event landing EXACTLY gap after
    its predecessor is MERGED into the session (inclusive end), same as
    classic sessionize — the oracle uses > gap for a new session."""
    from polars_pipe_spark.streaming.pipeline import session_event_stats

    return session_event_stats(
        _t(spark, sf, "events"), "ts", "30 minutes", group_cols=["user_id"]
    )


@query(_q74_session_window.oracle)
def _q75_streaming_session(spark, sf):
    """The SAME session aggregation executed as a real Structured
    Streaming query (file source, availableNow, memory sink) — checked
    against the same SQL oracle as the batch q74."""
    import tempfile

    from polars_pipe_spark.sources.tables import _nanos_cols
    from polars_pipe_spark.streaming.pipeline import session_event_stats

    path = f"{sf}/events.parquet"
    batch = _t(spark, sf, "events")
    if _nanos_cols(path) or not os.path.isdir(path):
        # streaming file source requires a directory
        staged = tempfile.mkdtemp(prefix="pps_sess_src_") + "/events"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = tz_normalise(spark.readStream.schema(schema).parquet(path))
    agg = session_event_stats(stream, "ts", "30 minutes", group_cols=["user_id"])
    name = "pps_sess_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


@query("""
    WITH g AS (
      SELECT event_type, value, time_bucket(INTERVAL '30 minutes', ts) AS g30 FROM events
    ), ex AS (
      SELECT event_type, value,
             unnest([g30, g30 - INTERVAL '30 minutes']) AS window_start
      FROM g
    )
    SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM ex GROUP BY 1, 2, 3
""")
def _q91_hopping_window(spark, sf):
    """Sliding (hopping) window aggregation — 1-hour windows every 30
    minutes; each event lands in exactly two windows."""
    from polars_pipe_spark.streaming.pipeline import windowed_event_counts

    ev = _t(spark, sf, "events")
    return windowed_event_counts(
        ev, "ts", "1 hour", slide="30 minutes", group_cols=["event_type"]
    )


@query(_ATTRIBUTION_SQL)
def _q92_click_attribution(spark, sf):
    """Stream-stream-shaped attribution join run on batch frames: every
    click of the same user in the hour before each purchase."""
    from polars_pipe_spark.streaming.pipeline import click_attribution_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    return click_attribution_join(purchases, clicks, lookback="1 hour")


@query(_ATTRIBUTION_SQL)
def _q93_streaming_attribution(spark, sf):
    """The SAME attribution join executed as a real stream-stream join
    (two file-source streams, watermarks both sides, append sink) —
    checked against the same SQL oracle as the batch form. Staged as a
    single file per side so availableNow runs one micro-batch: within
    one batch the watermark only bounds STATE eviction (after output),
    so the append result is the complete join, same as batch."""
    import tempfile

    from polars_pipe_spark.streaming.pipeline import click_attribution_join

    ev = _t(spark, sf, "events")
    staged = tempfile.mkdtemp(prefix="pps_ss_join_")
    ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    ).coalesce(1).write.mode("overwrite").parquet(f"{staged}/purchases")
    ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{staged}/clicks")
    p_schema = spark.read.parquet(f"{staged}/purchases").schema
    c_schema = spark.read.parquet(f"{staged}/clicks").schema
    p = tz_normalise(spark.readStream.schema(p_schema).parquet(f"{staged}/purchases"))
    c = tz_normalise(spark.readStream.schema(c_schema).parquet(f"{staged}/clicks"))
    joined = click_attribution_join(p, c, lookback="1 hour")
    name = "pps_ss_join_out"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


@query(_q91_hopping_window.oracle)
def _q107_streaming_hopping(spark, sf):
    """The SAME hopping-window aggregation as q91 executed as a real
    stream (file source, availableNow, complete-mode memory sink) —
    complete mode keeps all window state, so multi-batch replay is safe
    (q32 pattern)."""
    import tempfile

    from polars_pipe_spark.streaming.pipeline import windowed_event_counts

    path = f"{sf}/events.parquet"
    batch = _t(spark, sf, "events")
    # single staged file -> one micro-batch: complete mode would be
    # CORRECT over many batches but recomputes full window state per
    # batch (measured 65s for a 32-file source vs ~8s for one file)
    staged = tempfile.mkdtemp(prefix="pps_hop_src_") + "/events"
    batch.coalesce(1).write.mode("overwrite").parquet(staged)
    path = staged
    schema = spark.read.parquet(path).schema
    stream = tz_normalise(spark.readStream.schema(schema).parquet(path))
    agg = windowed_event_counts(
        stream, "ts", "1 hour", slide="30 minutes", group_cols=["event_type"]
    )
    name = "pps_hop_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


# q166: batch twin of the stream-static enrichment.
@query("""
    WITH dim AS (
      SELECT c_custkey AS user_id,
             CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS segment
      FROM customer
    )
    SELECT COALESCE(segment, 'none') AS segment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events LEFT JOIN dim USING (user_id)
    GROUP BY 1
""")
def _q166_stream_enrich(spark, sf):
    """Stream-static enrichment: the events stream joins a static
    per-user dimension (acctbal-derived segment of the matching
    customer row) each micro-batch, then aggregates value by segment —
    the canonical streaming fact⋈dim shape. Runs as a REAL Structured
    Streaming query (file source, availableNow, memory sink); the
    oracle is the batch twin in SQL. Unmatched users keep their rows
    (left join) under a 'none' segment."""
    import tempfile

    from polars_pipe_spark.sources.tables import _nanos_cols
    from polars_pipe_spark.streaming.pipeline import stream_static_enrich

    path = f"{sf}/events.parquet"
    batch = _t(spark, sf, "events")
    if _nanos_cols(path) or not os.path.isdir(path):
        staged = tempfile.mkdtemp(prefix="pps_enrich_src_") + "/events"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = tz_normalise(spark.readStream.schema(schema).parquet(path))
    dim = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("segment"),
    )
    enriched = stream_static_enrich(stream, dim, "user_id", how="left")
    agg = (
        enriched.groupBy(F.coalesce("segment", F.lit("none")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )
    name = "pps_enrich_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)
