"""Registry queries on the engine's own surface, calling no library module:
grouping sets, windows, JSON, dates, strings, the SQL entry point,
schema evolution and partitioned writes."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par


@query("""
        WITH cols AS (
          SELECT 'p_retailprice' AS col, p_retailprice AS v FROM part
          UNION ALL
          SELECT 'p_size', CAST(p_size AS DOUBLE) FROM part
        )
        SELECT s.statistic, c.col AS "column",
               CASE s.statistic
                 WHEN 'count' THEN CAST(COUNT(v) AS DOUBLE)
                 WHEN 'null_count' THEN CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 WHEN 'mean' THEN ROUND(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(v), 6)
                 WHEN 'min' THEN MIN(v)
                 WHEN '25%' THEN ROUND(quantile_cont(v, 0.25), 6)
                 WHEN '50%' THEN ROUND(quantile_cont(v, 0.5), 6)
                 WHEN '75%' THEN ROUND(quantile_cont(v, 0.75), 6)
                 WHEN 'max' THEN MAX(v)
                 WHEN 'n_unique' THEN CAST(COUNT(DISTINCT v) AS DOUBLE)
               END AS value
        FROM cols c
        CROSS JOIN (SELECT unnest(['count','null_count','mean','min','25%','50%','75%','max','n_unique']) AS statistic) s
        GROUP BY s.statistic, c.col
    """)
def _q10_describe_stats(spark, sf):
    """A1-A5: single-pass stats — long format (statistic, column, value),
    numeric to avoid cross-engine float-formatting drift."""
    df = _t(spark, sf, "part")
    aggs = []
    for c in ["p_retailprice", "p_size"]:
        dec = F.col(c).cast("decimal(18,2)")
        aggs += [
            F.count(F.col(c)).cast("double").alias(f"count::{c}"),
            F.sum(F.col(c).isNull().cast("long")).cast("double").alias(f"null_count::{c}"),
            F.round(F.sum(dec).cast("double") / F.count(F.col(c)), 6).alias(f"mean::{c}"),
            F.min(F.col(c)).cast("double").alias(f"min::{c}"),
            F.round(F.percentile(F.col(c), 0.25), 6).alias(f"25%::{c}"),
            F.round(F.percentile(F.col(c), 0.5), 6).alias(f"50%::{c}"),
            F.round(F.percentile(F.col(c), 0.75), 6).alias(f"75%::{c}"),
            F.max(F.col(c)).cast("double").alias(f"max::{c}"),
            F.countDistinct(F.col(c)).cast("double").alias(f"n_unique::{c}"),
        ]
    row = _t(spark, sf, "part").agg(*aggs)
    stats = ["count", "null_count", "mean", "min", "25%", "50%", "75%", "max", "n_unique"]
    pairs = F.array(
        *[
            F.struct(
                F.lit(s).alias("statistic"),
                F.lit(c).alias("column"),
                F.col(f"`{s}::{c}`").alias("value"),
            )
            for s in stats
            for c in ["p_retailprice", "p_size"]
        ]
    )
    return row.select(F.explode(pairs).alias("kv")).select("kv.*")


@query("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               SUM(l_quantity) OVER (PARTITION BY l_suppkey
                                     ORDER BY l_shipdate, l_orderkey,
                                              l_linenumber, l_quantity
                                     ROWS UNBOUNDED PRECEDING) AS running_qty
        FROM lineitem
    """)
def _q17_running_sum(spark, sf):
    """Cumulative window (C6): running quantity per supplier over time,
    deterministic ordering by (shipdate, orderkey, linenumber,
    quantity).

    r12: quantity joined the ordering key after the fresh sf0.1 oracle
    artifact caught a REAL nondeterminism — the driver's dirty-data
    generator emits duplicate (orderkey, linenumber) lineitem rows
    (sf0.1: suppkey 707, 1998-04-26, order 45185 line 7 appears with
    qty 16 AND 13), so the old ordering was not total and the two
    engines could legally disagree on the tied rows' running sums
    (r11's green was luck of the sort). With quantity as the final
    key the output multiset is engine-independent: rows identical in
    every ordered column contribute identical sums in any order."""
    li = _t(spark, sf, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("running_qty"),
    )


@query("""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
""")
def _q35_cube(spark, sf):
    """CUBE grouping sets over orders."""
    return (
        _t(spark, sf, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@query("""
    SELECT event_id, event_type,
           CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT) AS k_value
    FROM events
    WHERE CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS BIGINT) > 80
""")
def _q37_json_extract(spark, sf):
    """JSON field extraction from the events props column (regexp-based so
    the oracle is engine-portable; F.get_json_object is the Spark-native
    alternative for nested docs)."""
    ev = _t(spark, sf, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
    return (
        ev.select(
            "event_id",
            "event_type",
            F.when(k != "", k).cast("long").alias("k_value"),
        )
        .filter(F.col("k_value") > 80)
    )


@query("""
    SELECT o_orderkey,
           year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
           month(o_orderdate) AS mo, day(o_orderdate) AS dom,
           date_trunc('month', o_orderdate) AS month_start,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_1998
    FROM orders
""")
def _q38_date_parts(spark, sf):
    """Date/time part extraction + truncation + day arithmetic."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_1998"
        ),
    )


@query("""
    SELECT c_custkey,
           upper(c_name) AS upper_name,
           substr(c_name, 10, 5) AS name_part,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
           regexp_replace(c_name, '0+', '#', 'g') AS squashed,
           strpos(c_name, '1') AS pos_one,
           length(c_name) AS name_len
    FROM customer
""")
def _q39_string_funcs(spark, sf):
    """String function battery: case, substring, concat, pad, replace,
    position, length."""
    c = _t(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.substring("c_name", 10, 5).alias("name_part"),
        F.concat_ws("-", "c_mktsegment", F.col("c_custkey").cast("string")).alias("seg_key"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.regexp_replace("c_name", "0+", "#").alias("squashed"),
        F.instr(F.col("c_name"), "1").alias("pos_one"),
        F.length("c_name").alias("name_len"),
    )


@query("""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")
def _q41_grouping_sets_sql(spark, sf):
    """GROUPING SETS through the SQL entry point (spark.sql)."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("li_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM li_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query("""
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice) OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def _q47_window_analytics(spark, sf):
    """Analytic window battery: lag/lead/ntile/percent_rank per customer,
    deterministic ordering."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


@query("""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (
      SELECT ROUND(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / COUNT(*), 6)
      FROM orders i WHERE i.o_custkey = o.o_custkey
    )
""")
def _q48_correlated_subquery(spark, sf):
    """Correlated scalar subquery through the SQL entry point — Catalyst
    decorrelates it into an aggregate + join (no per-row re-execution)."""
    _t(spark, sf, "orders").createOrReplaceTempView("ord_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM ord_v o
        WHERE o_totalprice > 2 * (
          SELECT ROUND(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(*), 6)
          FROM ord_v i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@query("""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           SUM(l_quantity) OVER (
             PARTITION BY l_suppkey
             ORDER BY CAST(epoch(l_shipdate) AS BIGINT)
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW
           ) AS qty_7d
    FROM lineitem
""")
def _q60_trailing_window(spark, sf):
    """Time-range window: 7-day trailing quantity per supplier
    (rangeBetween on epoch seconds — includes all ties, order-free)."""
    li = _t(spark, sf, "lineitem")
    epoch = F.unix_timestamp("l_shipdate")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(epoch)
        .rangeBetween(-6 * 86400, 0)
    )
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.sum("l_quantity").over(w).alias("qty_7d"),
    )


@query("""
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rk,
           dense_rank() OVER w AS drk,
           percent_rank() OVER w AS prk,
           cume_dist() OVER w AS cd,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER wf AS first_price,
           max(o_totalprice) OVER wf AS running_max_price
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def _q103_window_battery(spark, sf):
    """Analytic window-function battery over per-customer order history:
    rank / dense_rank / percent_rank / cume_dist / ntile / lag / lead /
    running first+last — one partitioned sort, every function shares the
    same window (unique orderkey tiebreak keeps all of them total)."""
    orders = _t(spark, sf, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
        F.percent_rank().over(w).alias("prk"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.max("o_totalprice").over(wf).alias("running_max_price"),
    )


@query("""
    WITH first_seen AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS day FROM events GROUP BY user_id
    ), daily AS (
      SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily
""")
def _q117_running_distinct_users(spark, sf):
    """Cumulative distinct users by day, the scale-right way: windowed
    countDistinct over an expanding frame is quadratic state — instead,
    each user reduces to their FIRST-seen day (one groupBy), daily
    first-appearance counts cumulative-sum into the running total. The
    only ordered window runs over day-level rows (thousands, not
    events)."""
    ev = _t(spark, sf, "events")
    # .cast("date"): DuckDB's date_trunc('day') yields DATE, Spark's a
    # midnight TIMESTAMP — align the type for the oracle compare
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day")
    )
    daily_new = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    # Deliberate unpartitioned window: the frame is day-level (one row
    # per calendar day — thousands of rows for decades of data), not
    # event-level, so the single-partition sort is bounded and cheap.
    # Do not copy this into an unbounded context.
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily_new.withColumn("cum_users", F.sum("new_users").over(w))


# q135: schema-evolution union — BY NAME with null fill on both engines.
@query("""
    SELECT doc_id, source, n_chars, lang FROM documents WHERE doc_id % 2 = 0
    UNION ALL BY NAME
    SELECT doc_id, source, n_chars, CAST(length(text) AS BIGINT) AS quality
    FROM documents WHERE doc_id % 2 = 1
""")
def _q135_schema_union(spark, sf):
    """Schema-evolution-safe union: an old snapshot (with `lang`) and a
    new snapshot (lang dropped, `quality` added) union BY NAME with
    missing columns null-filled — the mergeSchema read path expressed as
    an operator. Oracle: DuckDB UNION ALL BY NAME."""
    docs = _t_par(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source", "n_chars", "lang"
    )
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "n_chars",
        F.length("text").cast("long").alias("quality"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


# q136: SCD2 validity intervals; bounds as epoch-micros BIGINT.
@query("""
    SELECT user_id, event_id, value,
           epoch_us(ts) AS effective_from_us,
           epoch_us(LEAD(ts) OVER w) AS effective_to_us,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def _q136_scd2(spark, sf):
    """SCD2 history construction: per-user purchase value history as
    validity intervals — effective_from/effective_to = lead(ts) over the
    (user, ts, event_id) order, open interval marked current. Interval
    bounds emit as epoch-micros BIGINT (the q22 lesson: never raw
    µs timestamps through the hash gate)."""
    ev = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(F.col("ts")).alias("effective_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("effective_to_us"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# q141: snapshot diff via FULL OUTER + classification.
@query("""
    WITH v1 AS (
      SELECT doc_id, n_chars AS v_old FROM documents WHERE doc_id % 5 != 0
    ), v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN n_chars + 1 ELSE n_chars END AS v_new
      FROM documents WHERE doc_id % 7 != 0
    )
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, v_old, v_new,
           CASE WHEN v_old IS NULL THEN 'added'
                WHEN v_new IS NULL THEN 'removed'
                WHEN v_old != v_new THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
""")
def _q141_snapshot_diff(spark, sf):
    """Table-diff between two snapshot versions (data versioning): full
    outer join on the key classifies every row added / removed /
    changed / unchanged. Snapshots derive deterministically from the one
    documents table (v2 drops some rows, adds others, perturbs a
    third)."""
    docs = _t_par(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.col("n_chars").alias("v_old")
    )
    v2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars"))
        .alias("v_new"),
    )
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("v_old").isNull(), F.lit("added"))
        .when(F.col("v_new").isNull(), F.lit("removed"))
        .when(F.col("v_old") != F.col("v_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("doc_id", "v_old", "v_new", status.alias("status"))


# q188: one aggregate per table; column counts are schema literals on
# both sides (the card's schema facts, not data).
@query("""
    SELECT 'documents' AS table_name, COUNT(*) AS n_rows,
           CAST(5 AS BIGINT) AS n_cols,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_probe
    FROM documents
    UNION ALL
    SELECT 'events', COUNT(*), CAST(6 AS BIGINT),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM events
    UNION ALL
    SELECT 'lineitem', COUNT(*), CAST(11 AS BIGINT),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'customer', COUNT(*), CAST(5 AS BIGINT),
           CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
""")
def _q188_dataset_card(spark, sf):
    """Dataset-card summary row per table — the catalog artifact a data
    consumer reads first: row count, column count, and the null count
    of each table's most-nullable business column. One aggregate per
    table, unioned; column counts come from the schema (driver-side,
    free). Multi-table breadth in a single oracle-checked frame."""
    rows = []
    for name, null_col in [
        ("documents", "text"),
        ("events", "value"),
        ("lineitem", "l_quantity"),
        ("customer", "c_acctbal"),
    ]:
        t = _t(spark, sf, name)
        rows.append(
            t.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.lit(len(t.columns)).cast("long").alias("n_cols"),
                F.sum(
                    F.when(F.col(null_col).isNull(), 1).otherwise(0)
                ).alias("n_null_probe"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# q209: the merged-read outcome stated analytically from the base table
@query("""
    WITH u AS (
      SELECT n_nationkey, CAST(NULL AS INTEGER) AS n_regionkey FROM nation
      UNION ALL
      SELECT n_nationkey, n_regionkey FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(n_regionkey) AS BIGINT) AS n_with_region,
           CAST(SUM(CASE WHEN n_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_without_region,
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS distinct_keys
    FROM u
""")
def _q209_schema_evolution_read(spark, sf):
    """Source-surface: schema-evolution read via ``mergeSchema`` — an
    old parquet snapshot (2 columns) and a new one (adds n_regionkey)
    land in one frame with NULL back-fill for the missing column, the
    way a years-old 100 TB lake with drifting producers actually reads.
    The footer-merge cost is metadata-only (no data rewrite); the
    oracle states the expected union analytically from the base table."""
    import tempfile

    base = _t(spark, sf, "nation")
    d = tempfile.mkdtemp(prefix="schema_evo_")
    base.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        f"{d}/v1"
    )
    base.select("n_nationkey", "n_name", "n_regionkey").write.mode(
        "overwrite"
    ).parquet(f"{d}/v2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{d}/v1", f"{d}/v2"
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("n_regionkey").alias("n_with_region"),
        F.sum(F.col("n_regionkey").isNull().cast("long")).alias(
            "n_without_region"
        ),
        F.countDistinct("n_nationkey").alias("distinct_keys"),
    )


@query("""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CASE WHEN CAST(props->>'$.k' AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
    FROM events GROUP BY event_type
""")
def _q213_json_typed_extract(spark, sf):
    """Typed semi-structured extraction: ``from_json`` parses the events
    ``props`` JSON column against a declared schema (the production path
    for JSON-bearing lakes — one parse into a typed struct, pruned and
    codegen'd; q46's regexp extraction is the schema-less fallback).
    Per event type: row count, parsed sum, parse-miss count. Oracle uses
    DuckDB's native JSON extraction — two independent parsers must agree
    on every value."""
    ev = _t_par(spark, sf, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").alias("p"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("p.k")).alias("sum_k"),
        F.sum(F.col("p.k").isNull().cast("long")).alias("n_unparsed"),
    )


@query("""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
""")
def _q233_partitioned_write_prune(spark, sf):
    """Hive-partitioned lake round-trip: events written
    ``partitionBy(event_type)``, read back with a partition filter —
    the layout that turns a 100 TB scan into a directory lookup
    (PartitionFilters in the plan, non-matching partitions never
    opened). The query proves the pruned read returns exactly the
    partitioned subset: per-type counts + value cents for two types,
    checked against the flat source by the oracle."""
    import tempfile

    ev = _t(spark, sf, "events")
    d = tempfile.mkdtemp(prefix="part_evt_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(d)
    back = spark.read.parquet(d).filter(
        F.col("event_type").isin("purchase", "signup")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        F.countDistinct("user_id").alias("n_users"),
    )


# q248: expected quarantine split derived analytically from the staged
# construction (doc_id % 10 == 3 lines are corrupt by design).
@query("""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN doc_id % 10 <> 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN doc_id % 10 <> 3 THEN n_chars END) AS BIGINT)
             AS good_chars
    FROM documents
""")
def _q248_corrupt_json_audit(spark, sf):
    """Malformed-record ingestion audit — the production JSONL concern
    the clean q44 source skips: a JSONL landing file is staged in-query
    (one line per document; every doc_id % 10 == 3 line is deliberately
    truncated mid-object), read back with Spark's native PERMISSIVE mode
    + ``columnNameOfCorruptRecord``, and the audit reports good/corrupt
    counts and the recovered value sum. Spark's JSON reader does the
    quarantining — no custom parsing — and the corrupt rows keep their
    raw line for a dead-letter queue. The oracle derives the expected
    splits analytically from the construction."""
    import tempfile

    docs = _t_par(spark, sf, "documents")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 10 == 3,
            # truncated mid-object: unparseable on purpose
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "n_ch')),
        )
        .otherwise(
            F.concat(
                F.lit('{"doc_id": '),
                F.col("doc_id").cast("string"),
                F.lit(', "n_chars": '),
                F.col("n_chars").cast("string"),
                F.lit("}"),
            )
        )
        .alias("value")
    )
    d = tempfile.mkdtemp(prefix="pps_jsonl_")
    lines.write.mode("overwrite").text(d)
    schema = "doc_id long, n_chars long, _corrupt_record string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(d)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)).alias(
            "n_good"
        ),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0)).alias(
            "n_corrupt"
        ),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_chars"))).alias(
            "good_chars"
        ),
    ).select(
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_good").cast("long").alias("n_good"),
        F.col("n_corrupt").cast("long").alias("n_corrupt"),
        F.col("good_chars").cast("long").alias("good_chars"),
    )


# q257: essentially its own oracle — the dialect-portable SQL text.
@query("""
    WITH rev AS (
      SELECT c.c_nationkey,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents,
             COUNT(*) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    )
    SELECT n.n_name AS nation,
           CAST(r.rev_cents AS BIGINT) AS rev_cents,
           CAST(r.n_orders AS BIGINT) AS n_orders,
           CAST(RANK() OVER (ORDER BY r.rev_cents DESC, n.n_name ASC)
                AS BIGINT) AS rev_rank
    FROM rev r JOIN nation n ON r.c_nationkey = n.n_nationkey
""")
def _q257_sql_surface(spark, sf):
    """The engine's PURE-SQL entry point — the surface the reference
    lacks entirely (no SQL parser there; Spark gives ANSI SQL + Catalyst
    for free): tables registered as temp views, a multi-CTE query with a
    join, aggregate, and rank window submitted as SQL TEXT via
    spark.sql(). Same optimizer, same plans as the DataFrame API —
    demonstrated by this query being literally its own oracle (modulo
    dialect casts)."""
    _t(spark, sf, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf, "nation").createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        WITH rev AS (
          SELECT c.c_nationkey,
                 SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents,
                 COUNT(*) AS n_orders
          FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_nationkey
        )
        SELECT n.n_name AS nation,
               r.rev_cents,
               r.n_orders,
               CAST(RANK() OVER (ORDER BY r.rev_cents DESC, n.n_name ASC)
                    AS BIGINT) AS rev_rank
        FROM rev r JOIN v_nation n ON r.c_nationkey = n.n_nationkey
        """
    )


# q258: ln(1+x) on identical doubles; per-row round-6 then exact decimal
# sum mirrors the engine's aggregation.
@query("""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(ln(1.0 + value), 6) AS DECIMAL(18,6)))
                AS DOUBLE) AS sum_log1p
    FROM events GROUP BY event_type
""")
def _q258_scalar_pandas_udf(spark, sf):
    """The Arrow-vectorized SCALAR pandas_udf surface (the third UDF
    flavor after mapInPandas kernels and applyInPandas grouped stats):
    a numpy-vectorized score runs per Arrow batch — the sanctioned slow
    path when an expression genuinely needs Python (here log1p, chosen
    because the oracle can verify it EXACTLY: ln(1+x) on identical
    doubles). The point under test is the UDF plumbing — batch transfer,
    null passthrough, type fidelity — not the math."""
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf

    def _log1p(v):
        import numpy as np

        return pd.Series(np.log1p(v.to_numpy(dtype="float64")))

    # real-object annotations: this module uses `from __future__ import
    # annotations`, which stringifies inline hints and breaks PySpark's
    # signature inspection for pandas_udf
    _log1p.__annotations__ = {"v": pd.Series, "return": pd.Series}
    log1p_score = pandas_udf(_log1p, "double")

    ev = _t_par(spark, sf, "events")
    # per-row round → decimal sum: float addition order across partitions
    # is nondeterministic, so the aggregate goes through exact decimals
    # (the q131 pattern) and only the per-row UDF value is floating
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.round(log1p_score(F.col("value")), 6).cast("decimal(18,6)")
            ).cast("double").alias("sum_log1p"),
        )
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "sum_log1p",
        )
    )
