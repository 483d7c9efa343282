"""Registry queries over the ``operators`` layer: transform, validation,
inspect, aggregates, joins, windows, reshape, layout and cdc."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par
from polars_pipe_spark.registry._sql import _hex_int_sql


@query("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem WHERE l_quantity > 45 AND l_discount <= 0.05
    """)
def _q01_filter_pushdown(spark, sf):
    """F1/F2: rule-compiled filter; predicate + projection push to scan."""
    from polars_pipe_spark.expressions import build_rule_expr
    from polars_pipe_spark.operators.transform import filter_df

    df = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )
    return filter_df(
        df,
        [
            build_rule_expr("l_quantity", "gt", 45),
            build_rule_expr("l_discount", "le", 0.05),
        ],
    )


@query("""
        SELECT c_custkey AS cust_id, c_name AS cust_name, c_nationkey
        FROM customer
    """)
def _q02_projection_rename(spark, sf):
    """P1/P2/P8: drop + rename + select."""
    from polars_pipe_spark.operators.transform import drop_df_cols, rename_df_cols

    df = _t(spark, sf, "customer")
    df = drop_df_cols(df, ["c_acctbal", "c_mktsegment"])
    return rename_df_cols(df, {"c_custkey": "cust_id", "c_name": "cust_name"})


@query("""
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
               CAST(l_tax AS REAL) AS tax_double
        FROM lineitem
    """)
def _q03_recast(spark, sf):
    """P3: dtype recast via the config dtype table (floor first so Spark's
    truncate-cast and the SQL floor agree on the integral value)."""
    from polars_pipe_spark.operators.transform import recast_df_cols

    df = (
        _t(spark, sf, "lineitem")
        .select("l_orderkey", "l_linenumber", F.floor("l_quantity").alias("qty_floor"),
                F.col("l_tax").alias("tax_double"))
    )
    return recast_df_cols(df, {"qty_floor": "Int64", "tax_double": "Float32"})


@query("""
        SELECT c_custkey,
               COALESCE(NULLIF(c_acctbal, 0.0), -1.0) AS bal_nullable,
               CASE WHEN c_custkey % 10 != 0
                    THEN LEAST(GREATEST(c_acctbal, 0.0), 5000.0) END AS bal_sparse
        FROM customer
    """)
def _q04_fill_clip(spark, sf):
    """P4/P5: null fill + null-preserving clip (nulls synthesized
    identically on both sides via nullif on a deterministic condition)."""
    from polars_pipe_spark.operators.transform import clip_df_cols, fill_nulls_per_col

    df = _t(spark, sf, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_acctbal"), F.lit(0.0)).alias("bal_nullable"),
        F.when(F.col("c_custkey") % 10 != 0, F.col("c_acctbal")).alias("bal_sparse"),
    )
    df = clip_df_cols(df, {"bal_sparse": (0.0, 5000.0)})  # nulls stay null
    return fill_nulls_per_col(df, {"bal_nullable": -1.0})


@query("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_extendedprice * (1 - l_discount) AS gross,
               l_quantity / l_extendedprice AS qty_price_ratio,
               l_discount + l_tax AS disc_plus_tax
        FROM lineitem
    """)
def _q05_derive_arith(spark, sf):
    """C1/C2: row-wise arithmetic derives via the registry."""
    from polars_pipe_spark.operators.transform import derive_new_cols

    df = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax"
    )
    df = df.withColumn("one_minus_disc", 1 - F.col("l_discount"))
    df = derive_new_cols(
        df,
        {
            "gross": {"fn_name": "mul_cols", "fn_kwargs": {"cols": ["l_extendedprice", "one_minus_disc"]}},
            "qty_price_ratio": {"fn_name": "div_cols", "fn_kwargs": {"cols": ["l_quantity", "l_extendedprice"]}},
            "disc_plus_tax": {"fn_name": "add_cols", "fn_kwargs": {"cols": ["l_discount", "l_tax"]}},
        },
    )
    return df.drop("one_minus_disc")


@query("""
        WITH m AS (
          SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(o_orderkey), 6) AS mean_price
          FROM orders
        )
        SELECT o_orderkey, o_totalprice, mean_price
        FROM orders CROSS JOIN m
        WHERE o_totalprice > mean_price
    """)
def _q06_agg_broadcast(spark, sf):
    """C5: whole-column aggregate attached to every row (broadcast join),
    then used as a predicate — 'orders above average price'."""
    from polars_pipe_spark.operators.transform import derive_new_cols

    df = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    df = df.withColumn("price_dec", F.col("o_totalprice").cast("decimal(18,2)"))
    df = derive_new_cols(
        df,
        {
            "sum_price": {"fn_name": "sum", "fn_kwargs": {"col": "price_dec"}},
            "n_orders": {"fn_name": "count", "fn_kwargs": {"col": "o_orderkey"}},
        },
    )
    df = df.withColumn(
        "mean_price", F.round(F.col("sum_price").cast("double") / F.col("n_orders"), 6)
    )
    return (
        df.filter(F.col("o_totalprice") > F.col("mean_price"))
        .select("o_orderkey", "o_totalprice", "mean_price")
    )


@query("""
        SELECT c_custkey,
               lower(regexp_replace(regexp_replace('  ' || c_name || chr(9), '^\\s+', ''), '\\s+$', '')) AS padded_name,
               lower(trim(upper(c_mktsegment))) AS segment
        FROM customer
    """)
def _q07_normalise_str(spark, sf):
    """L3/P9: whitespace-strip + lowercase on string cols (sys cols
    excluded); synthetic padding exercises the strip."""
    from polars_pipe_spark.operators.transform import normalise_str_cols

    df = _t(spark, sf, "customer").select(
        "c_custkey",
        F.concat(F.lit("  "), F.col("c_name"), F.lit("\t")).alias("padded_name"),
        F.upper("c_mktsegment").alias("segment"),
    )
    return normalise_str_cols(df)


@query("""
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """)
def _q08_dedupe_exact(spark, sf):
    """D1: exact dedupe on a subset of columns."""
    from polars_pipe_spark.operators.transform import deduplicate_rows

    df = _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus")
    return deduplicate_rows(df, ["*"])


@query("""
        SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus,
               concat_ws(',',
                 CASE WHEN (o_totalprice > 5000.0) IS FALSE THEN 'price above 5000' END,
                 CASE WHEN (o_orderpriority IN ('1-urgent','2-high','3-medium')) IS FALSE THEN 'priority known' END
               ) AS error_reason
        FROM orders
        WHERE (o_totalprice > 5000.0) IS FALSE
           OR (o_orderpriority IN ('1-urgent','2-high','3-medium')) IS FALSE
    """)
def _q09_validate_split(spark, sf):
    """F3: rule-based split; invalid rows with error_reason."""
    from polars_pipe_spark.operators.validation import parse_validation_config, validate_df

    df = _t(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus"
    )
    rules = parse_validation_config(
        {
            "price above 5000": ["o_totalprice", "gt", 5000.0],
            "priority known": ["o_orderpriority", "is_in", ["1-urgent", "2-high", "3-medium"]],
        }
    )
    _, invalid = validate_df(df, rules)
    return invalid


@query("""
        SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    """)
def _q11_nest_unnest(spark, sf):
    """P6/P7: struct pack → unpack round trip."""
    from polars_pipe_spark.operators.transform import nest_df_cols, unnest_df_cols

    df = _t(spark, sf, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
    nested = nest_df_cols(df, {"account": ["c_acctbal", "c_mktsegment"]})
    return unnest_df_cols(nested, ["account"])


# q12: the raw xxhash64 value has no DuckDB reproduction, so the
# oracle checks every lineage literal plus per-row hash totality;
# determinism/collision-freeness are oracle-green via q167.
@query("""
        SELECT s_suppkey,
               'fixed-guid' AS sys_col_entrycheck_guid,
               'supplier.parquet' AS sys_col_entrycheck_src_path,
               '2025-10-16 12:00:00' AS sys_col_entrycheck_dt,
               TRUE AS hash_total
        FROM supplier
    """)
def _q12_lineage_hash(spark, sf):
    """L1/L2: xxhash64 row hash + process cols. The raw hash VALUE has no
    DuckDB reproduction, so the oracle-checked projection carries every
    lineage column whose value IS oracle-expressible (guid / src path /
    process timestamp literals) plus the per-row hash-totality invariant;
    the hash's determinism/collision properties are oracle-green via q167,
    and its exact golden values are pinned in the unit suite."""
    import datetime

    from polars_pipe_spark.operators.transform import add_hash_col, add_process_cols

    df = _t(spark, sf, "supplier")
    df = add_hash_col(df)
    df = add_process_cols(
        df,
        datetime.datetime(2025, 10, 16, 12, tzinfo=datetime.timezone.utc),
        "fixed-guid",
        "supplier.parquet",
        "entrycheck",
    )
    return df.select(
        "s_suppkey",
        "sys_col_entrycheck_guid",
        "sys_col_entrycheck_src_path",
        F.date_format("sys_col_entrycheck_datetime", "yyyy-MM-dd HH:mm:ss").alias(
            "sys_col_entrycheck_dt"
        ),
        F.col("sys_col_row_hash").isNotNull().alias("hash_total"),
    )


@query("""
        SELECT o_orderpriority,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_filled,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_partial
        FROM orders GROUP BY o_orderpriority
    """)
def _q20_pivot(spark, sf):
    """Pivot: order counts per priority × status (explicit pivot values —
    no distinct-discovery scan)."""
    from polars_pipe_spark.operators.reshape import pivot_table

    return pivot_table(
        _t(spark, sf, "orders"),
        ["o_orderpriority"],
        "o_orderstatus",
        ["O", "F", "P"],
        F.count(F.lit(1)),
        rename={"O": "n_open", "F": "n_filled", "P": "n_partial"},
        fill_value=0,
    )


@query("""
        SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_value
        FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT user_id, ts AS click_ts, value AS click_value
                        FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.click_ts <= p.ts
    """)
def _q21_asof_join(spark, sf):
    """As-of join (no native Spark op): for each purchase event, the most
    recent prior signup/click value of the same user. Union-merge
    implementation — single shuffle, no range explosion."""
    from polars_pipe_spark.operators.joins import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    )
    return asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_ts", "click_value"],
    ).select("event_id", "user_id", "ts", "value", "click_ts", "click_value")


@query("""
        WITH gaps AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                       OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          -- CAST: DuckDB's windowed SUM yields HUGEINT (decimal128(38,0));
          -- Spark's cumulative sum is LONG.  Identical values, different
          -- physical type — the exact r1-r3 driver hash seam (r3 verdict).
          SELECT user_id, ts,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM gaps
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               epoch_us(MIN(ts)) AS session_start_us, epoch_us(MAX(ts)) AS session_end_us
        FROM sessions GROUP BY user_id, session_id
    """)
def _q22_sessionize(spark, sf):
    """Sessionization: 30-min-gap sessions per user via lag + cumulative
    flag sum; output session stats."""
    from polars_pipe_spark.operators.windows import sessionize

    ev = _t(spark, sf, "events")
    # event_id tiebreak: with tied (user_id, ts) rows, ordering by ts alone
    # makes the session split at a gap boundary nondeterministic run-to-run
    # (round-1 driver hash mismatch).
    s = sessionize(
        ev, user_col="user_id", ts_col="ts", gap_minutes=30, tiebreak_cols=["event_id"]
    )
    # Representation-proof bounds (driver hash-failed the raw-timestamp
    # form twice, r1+r2): µs-precision event timestamps flowing through the
    # NTZ→TIMESTAMP cast are the likeliest canonicalisation seam, so emit
    # epoch microseconds as BIGINT. Session tz is pinned UTC (get_spark), so
    # Spark's unix_micros equals DuckDB's epoch_us on the naive read.
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
    )


@query("""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice', p_retailprice FROM part
""")
def _q36_unpivot(spark, sf):
    """Unpivot / melt wide columns to long (stack — generate node, no
    shuffle)."""
    from polars_pipe_spark.operators.reshape import unpivot

    return unpivot(
        _t(spark, sf, "part"), ["p_partkey"],
        {"p_size": "size", "p_retailprice": "retailprice"},
        var_name="metric", value_name="value",
    )


# q40 (r4, was rows-only): exact counts are SQL-checkable; the sketch
# error-bound booleans are asserted as literal TRUE (HLL at 5-sigma,
# approx-median inside the exact p45..p55 band — both deterministic).
@query("""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS hll_within_rel_err,
           TRUE AS median_within_rank_err
    FROM lineitem GROUP BY l_returnflag
""")
def _q40_approx_sketches(spark, sf):
    """Scale-mode approximate aggregates as an oracle-checkable PROPERTY
    query (r4, was rows-only): sketch values differ across engines, so
    the output pairs EXACT counts (SQL-checkable) with error-bound
    booleans the oracle asserts as literal TRUE.  Bounds: HLL rsd=0.02
    is checked at 10% (5 sigma); percentile_approx(accuracy=1000) has
    rank error <= 0.1% and is checked against the exact p45..p55 band.
    Both sketches are deterministic for a given dataset, so the booleans
    are stable, not flaky.  The exact-distinct side is a two-phase
    distinct->count (no Expand, q14's lesson).

    r14: the exact p45/p55 validation band used per-group
    ``F.percentile``, whose aggregation buffer holds EVERY value of its
    group in one reducer task (the q56/q62 single-reducer shape — q40
    was 99 s at sf10, dominated by two such buffers per group).
    ``grouped_percentile_cont`` fetches each group's two order
    statistics through shared map-side-combinable selection jobs and
    interpolates with Spark's own formula (bit-identical, pinned by
    ``test_percentile_cont_bitwise_matches_spark``); the 3-row band
    table re-attaches via a broadcast join, so the output booleans are
    unchanged."""
    from polars_pipe_spark.operators.aggregates import grouped_percentile_cont

    li = _t(spark, sf, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx_median"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    pcs = grouped_percentile_cont(
        li, ["l_returnflag"], "l_extendedprice", [0.45, 0.55]
    )
    band = spark.createDataFrame(
        [(k[0], v.get(0.45), v.get(0.55)) for k, v in pcs.items()],
        "l_returnflag string, p45 double, p55 double",
    )
    sk = sk.join(F.broadcast(band), "l_returnflag", "left")
    exact = (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_orders"))
    )
    return sk.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= F.lit(0.1) * F.col("exact_orders")
        ).alias("hll_within_rel_err"),
        (
            (F.col("approx_median") >= F.col("p45"))
            & (F.col("approx_median") <= F.col("p55"))
        ).alias("median_within_rank_err"),
    )


@query("""
    SELECT l_returnflag, COUNT(l_orderkey) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
""")
def _q46_salted_agg(spark, sf):
    """Skew-safe two-stage (salted) aggregation — result identical to a
    direct groupBy, but no reducer ever sees all rows of a hot key."""
    from polars_pipe_spark.operators.aggregates import salted_agg

    li = _t(spark, sf, "lineitem").withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {"n_rows": ("count", "l_orderkey"), "sum_qty": ("sum", "qty_dec"),
         "min_qty": ("min", "l_quantity"), "max_qty": ("max", "l_quantity")},
        n_salts=16,
    )
    return out.withColumn("sum_qty", F.col("sum_qty").cast("double"))


@query("""
    WITH updates AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,2)), 2) AS DOUBLE) AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT CAST(x - 10 AS BIGINT), 'N', 0.0 FROM range(3) t(x)
    )
    SELECT * FROM updates
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
""")
def _q52_merge_upsert(spark, sf):
    """CDC merge/upsert emulation (anti-join + union): a deterministic
    'changed orders' batch replaces matching rows and inserts new keys."""
    from polars_pipe_spark.operators.cdc import merge_upsert

    base = _t(spark, sf, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = (
        base.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn(
            "o_totalprice",
            F.round(
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(3,2)"),
                2,
            ).cast("double"),
        )
        .withColumn("o_orderstatus", F.lit("U"))
    )
    new_keys = spark.range(3).select(
        (F.col("id") - 10).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(0.0).alias("o_totalprice"),
    )
    return merge_upsert(base, updates.unionByName(new_keys), ["o_orderkey"])


@query("""
    WITH b AS (
      SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
             quantile_cont(l_extendedprice, 0.99) AS p99
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           ROUND(p01, 6) AS p01, ROUND(p99, 6) AS p99,
           ROUND(LEAST(GREATEST(l_extendedprice, p01), p99), 6) AS price_winsorized
    FROM lineitem CROSS JOIN b
""")
def _q56_winsorize(spark, sf):
    """Outlier clipping at exact p01/p99, null-preserving clip.

    r14: the bounds used to come from ``F.percentile`` in one agg —
    Spark's exact-percentile aggregate buffers EVERY value through a
    single reducer (60M rows at sf10: 106 s, the banned one-reducer
    sort in disguise). They now come from
    ``operators.aggregates.percentile_cont`` — histogram-narrowing
    selection (map-side-combinable aggregates only) + Spark's own
    interpolation formula on the driver, verified BIT-IDENTICAL to
    ``F.percentile`` on this column (test + oracle). The bounds join
    becomes two literals, dropping the crossJoin."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    from polars_pipe_spark.operators.aggregates import percentile_cont

    pcs = percentile_cont(li, "l_extendedprice", [0.01, 0.99])
    p01 = F.lit(pcs[0.01]).cast("double")
    p99 = F.lit(pcs[0.99]).cast("double")
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        F.round(p01, 6).alias("p01"), F.round(p99, 6).alias("p99"),
        F.round(
            F.when(F.col("l_extendedprice").isNull(), F.lit(None)).otherwise(
                F.least(F.greatest(F.col("l_extendedprice"), p01), p99)
            ),
            6,
        ).alias("price_winsorized"),
    )


# q61 (r9): deletion-signature blocking is LOSSLESS for lev<=2, so the
# oracle no longer replicates any blocking — it IS the exact fuzzy join
# (DuckDB evaluates the small cross product directly at gate scale).
@query("""
    WITH cust AS (
      SELECT c_custkey AS cust_id, lower(c_name) AS name FROM customer
    ), probes AS (
      SELECT cust_id AS probe_id,
             substr(name, 1, 2) || substr(name, 4) AS probe_name
      FROM cust WHERE cust_id % 97 = 0
    )
    SELECT probe_id, cust_id, name, probe_name,
           levenshtein(name, probe_name) AS dist
    FROM cust CROSS JOIN probes
    WHERE levenshtein(name, probe_name) <= 2
""")
def _q61_fuzzy_join(spark, sf):
    """Fuzzy record linkage: customer names against corrupted probe
    names by Levenshtein distance <= 2, blocked on ≤2-DELETION
    signatures (the SymSpell method): both sides explode their deletion
    neighborhoods, candidates are the key equi-join (broadcast — the
    probe side is small), and the exact ``levenshtein <= 2`` filter
    verifies. The deletion-key join is LOSSLESS for lev≤2, so the
    result is the full exact fuzzy join — and the candidate count is
    proportional to the true near-pairs, never a block cross product.

    r9 scale fix (found by the sf1 full-registry sweep): the previous
    name-LENGTH-band blocking degenerated to ONE block on this corpus
    (every generated customer name has identical length), silently
    turning the 'blocked' join into a 232M-pair single-partition
    cross product whose per-pair levenshtein ran ~30 min at sf1 —
    2 s at sf0.1, invisible at gate scale. Key-entropy failure is the
    classic blocking pitfall; deletion signatures cannot degenerate
    that way (a key bucket only holds names within 2 deletions of one
    another)."""
    from polars_pipe_spark.operators.joins import deletion_key_hashes_expr

    # _t_par (r15, THE r14-regression fix): the sf10 customer fixture is
    # one 42.7 MB file with TWO parquet row groups, so of the ~11
    # byte-range splits only two contain a row-group midpoint and one
    # task read 1.05M of 1.5M rows — the keygen fan-out (the dominant
    # stage, ~0.2 ms/row) ran nearly SERIAL (guide §2.5 input skew; the
    # pandas-UDF form had partly hidden this by overlapping Python
    # keygen with JVM join work). The gated round-robin repartition
    # restores full parallelism at small scale and passes through
    # untouched once the scan has enough real splits (the 100 TB case).
    # Measured sf10 full-query (a37cb25, same window): shipped
    # r14 form 285 s → 18.2 s; r13 pandas-UDF form 207 s.
    cust = _t_par(spark, sf, "customer").select(
        F.col("c_custkey").alias("cust_id"), F.lower(F.col("c_name")).alias("name")
    )
    probes = (
        cust.filter(F.col("cust_id") % 97 == 0)
        .select(
            F.col("cust_id").alias("probe_id"),
            # deterministic corruption: drop the 3rd character
            F.concat(
                F.substring("name", 1, 2), F.substring("name", 4, 100)
            ).alias("probe_name"),
        )
    )

    # r14 (guide §4.1, §2.3): the ~1+L+C(L,2) deletion keys per name
    # used to come from a pandas UDF — every customer name shipped to a
    # Python worker and an ~170-element array<string> shipped back. The
    # JVM form builds the same key SET with higher-order functions, and
    # the equi-join runs on xxhash64(key) longs instead of ~17-char
    # strings — lossless, because SymSpell already guarantees every true
    # lev≤2 pair shares a key (hash collisions can only ADD candidates,
    # and the exact levenshtein verify drops them).
    # r15: hash BEFORE the per-name dedup (deletion_key_hashes_expr) —
    # dedup on longs takes the O(n) hashset path instead of the O(n²)
    # string fallback (0.94× at sf10, probed hash set identical — see
    # the operator docstring; the big q61 win is the _t_par above).
    def keyed(name_col):
        return F.explode(deletion_key_hashes_expr(name_col, 2)).alias("kh")

    cust_k = cust.select("cust_id", "name", keyed("name"))
    probe_k = probes.select("probe_id", "probe_name", keyed("probe_name"))
    cand = (
        cust_k.join(F.broadcast(probe_k), "kh")
        .select("cust_id", "name", "probe_id", "probe_name")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name", "probe_name"))
        .filter(F.col("dist") <= 2)
        .select("probe_id", "cust_id", "name", "probe_name", "dist")
    )


@query("""
    SELECT l_returnflag, l_linestatus,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def _q62_group_percentiles(spark, sf):
    """Exact per-group percentiles (median + p90) — the grouped form of
    the describe statistics.

    r14: per-group ``F.percentile`` buffered every value of each group
    in ONE reducer task (15M-row groups at sf10 → 68 s straggler).
    ``grouped_percentile_cont`` fetches every group's two order
    statistics through three shared map-side-combinable jobs and
    interpolates with Spark's exact formula (bit-identical, see
    operators/aggregates.py); n_rows (ALL rows, nulls included) comes
    from one plain count aggregate, and ROUND stays in Spark so
    HALF_UP semantics are unchanged."""
    from polars_pipe_spark.operators.aggregates import grouped_percentile_cont

    li = _t(spark, sf, "lineitem")
    counts = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    pcs = grouped_percentile_cont(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", [0.5, 0.9]
    )
    rows = [
        (
            r["l_returnflag"],
            r["l_linestatus"],
            pcs.get((r["l_returnflag"], r["l_linestatus"]), {}).get(0.5),
            pcs.get((r["l_returnflag"], r["l_linestatus"]), {}).get(0.9),
            r["n_rows"],
        )
        for r in counts
    ]
    return spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, __m double, __p double, n_rows long",
    ).select(
        "l_returnflag", "l_linestatus",
        F.round("__m", 6).alias("median_price"),
        F.round("__p", 6).alias("p90_price"),
        "n_rows",
    )


@query("""
    WITH bands AS (
      SELECT CAST(i AS INT) AS band_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
      FROM (SELECT unnest(range(0, 10)) AS i)
    )
    SELECT band_id, COUNT(*) AS n_events,
           ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v
    FROM events JOIN bands ON lo <= value AND value < hi
    GROUP BY band_id
""")
def _q66_range_join(spark, sf):
    """Point-in-interval range join via bucketisation: event values into
    fixed value bands — the equi-join-on-bucket plan, not a nested-loop
    range join."""
    from polars_pipe_spark.operators.joins import range_join

    ev = _t(spark, sf, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        [(i, float(i * 10), float((i + 1) * 10)) for i in range(10)],
        "band_id int, lo double, hi double",
    )
    joined = range_join(ev, bands, "value", "lo", "hi", bucket_width=10.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
    )


@query("""
    WITH keys AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < 50
    ), spine AS (
      SELECT user_id,
             unnest(generate_series(TIMESTAMP '2024-01-10 00:00:00',
                                    TIMESTAMP '2024-01-12 23:00:00',
                                    INTERVAL 1 HOUR)) AS bucket_ts
      FROM keys
    ), agg AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts, COUNT(*) AS n
      FROM events
      WHERE user_id < 50
        AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <= TIMESTAMP '2024-01-12 23:00:00'
      GROUP BY 1, 2
    )
    SELECT s.user_id, s.bucket_ts, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)
""")
def _q85_time_spine(spark, sf):
    """Gap-filled hourly event counts per user over a fixed window: the
    spine is a per-key exploded sequence() (executor-side, no driver
    range loop), left-joined with the hourly aggregate."""
    from polars_pipe_spark.operators.windows import time_spine

    ev = _t(spark, sf, "events").filter(F.col("user_id") < 50)
    return time_spine(
        ev, "user_id", "ts", "2024-01-10 00:00:00", "2024-01-12 23:00:00", "1 hour"
    )


@query("""
    WITH med AS (
      SELECT source, COUNT(*) AS n, median(n_chars) AS med_chars
      FROM documents GROUP BY source
    )
    SELECT m.source, m.n, m.med_chars,
           median(abs(d.n_chars - m.med_chars)) AS mad_chars
    FROM documents d JOIN med m ON d.source = m.source
    GROUP BY m.source, m.n, m.med_chars
""")
def _q88_robust_stats(spark, sf):
    """Per-source robust location/scale (exact median + MAD) of document
    lengths — the outlier-proof quality-filter statistics."""
    from polars_pipe_spark.operators.aggregates import robust_group_stats

    docs = _t(spark, sf, "documents")
    return robust_group_stats(docs, ["source"], "n_chars", "med_chars", "mad_chars")


@query("""
    WITH b AS (
      SELECT quantile_disc(l_extendedprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
      FROM lineitem
    )
    SELECT CAST(len(list_filter(b.bounds, v -> l.l_extendedprice > v)) AS INT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(l.l_extendedprice) AS lo, MAX(l.l_extendedprice) AS hi
    FROM lineitem l CROSS JOIN b
    GROUP BY 1
""")
def _q90_equidepth_histogram(spark, sf):
    """Equal-frequency price histogram: exact percentile_disc bounds in
    one agg (broadcast), bucket assignment scan-side — no global sort."""
    from polars_pipe_spark.operators.aggregates import equidepth_histogram

    li = _t(spark, sf, "lineitem")
    return equidepth_histogram(li, "l_extendedprice", n_buckets=10)


@query("""
    SELECT s_nationkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
""")
def _q96_salted_join(spark, sf):
    """Skew-proof salted equi-join: lineitem × supplier on suppkey with
    the hot keys spread over 16 salted reducers, then revenue per
    supplier nation — result identical to the plain join (the oracle IS
    the plain join)."""
    from polars_pipe_spark.operators.joins import salted_join

    li = _t(spark, sf, "lineitem")
    sup = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    return (
        salted_join(li, sup, "l_suppkey", n_salts=16)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc))
            .cast("double")
            .alias("revenue"),
        )
    )


@query("""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
    ), summary AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows) AS BIGINT) AS total_rows,
             median(n_rows) AS median_rows
      FROM counts
    )
    SELECT user_id, n_rows,
           CAST(n_rows AS DOUBLE) / CAST(total_rows AS DOUBLE) AS row_share,
           CAST(n_rows AS DOUBLE) / median_rows AS skew_ratio,
           CAST(ceil(CAST(n_rows AS DOUBLE) / median_rows) AS BIGINT) AS suggested_salts,
           n_keys, total_rows
    FROM counts CROSS JOIN summary
    ORDER BY n_rows DESC, user_id ASC LIMIT 10
""")
def _q104_skew_report(spark, sf):
    """Key-skew diagnostic: hottest event users with row share, ratio to
    the median key, and the salt fan-out that would level them — the
    measurement step before salted_agg/salted_join."""
    from polars_pipe_spark.operators.aggregates import skew_report

    ev = _t(spark, sf, "events")
    return skew_report(ev, ["user_id"], top_n=10)


@query("""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ), per AS (
      SELECT user_id, session_id,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_click,
           CAST(SUM(CASE WHEN last_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_purchase,
           CAST(SUM(CASE WHEN first_click IS NOT NULL AND last_purchase IS NOT NULL
                          AND last_purchase >= first_click THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
           CAST(SUM(CASE WHEN first_click IS NOT NULL AND last_purchase IS NOT NULL
                          AND last_purchase >= first_click THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CASE WHEN first_click IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             AS conversion_rate
    FROM per
""")
def _q105_session_funnel(spark, sf):
    """Session-scoped funnel: of sessions containing a click, how many
    convert (a purchase at/after the first click in the same session).
    Composes sessionize → per-session conditional aggregates → one
    global summary row."""
    from polars_pipe_spark.operators.windows import sessionize

    ev = _t(spark, sf, "events")
    s = sessionize(ev, "user_id", "ts", gap_minutes=30, tiebreak_cols=["event_id"])
    per = s.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    converted = (
        F.col("first_click").isNotNull()
        & F.col("last_purchase").isNotNull()
        & (F.col("last_purchase") >= F.col("first_click"))
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("first_click").isNotNull(), 1).otherwise(0)).alias("n_with_click"),
        F.sum(F.when(F.col("last_purchase").isNotNull(), 1).otherwise(0)).alias("n_with_purchase"),
        F.sum(F.when(converted, 1).otherwise(0)).alias("n_converted"),
    ).withColumn(
        "conversion_rate",
        F.col("n_converted").cast("double") / F.col("n_with_click").cast("double"),
    )


@query("""
    SELECT 'unique(l_orderkey, l_linenumber)' AS expectation,
           CAST((SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem) AS BIGINT) AS violations,
           (SELECT COUNT(*) = COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem) AS passed
    UNION ALL
    SELECT 'fk(l_orderkey -> o_orderkey)',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
    UNION ALL
    SELECT 'non_null(l_quantity)',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL) = 0
    UNION ALL
    SELECT 'non_null(l_shipdate)',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL) = 0
    UNION ALL
    SELECT 'min_rows(1000)',
           CAST((SELECT greatest(1000 - COUNT(*), 0) FROM lineitem) AS BIGINT),
           (SELECT COUNT(*) >= 1000 FROM lineitem)
""")
def _q106_table_expectations(spark, sf):
    """Table-level data-quality report (the dbt-test surface): key
    uniqueness, FK containment, null-freedom, row-count floor — one
    report row per expectation."""
    from polars_pipe_spark.operators.validation import table_expectations

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    return table_expectations(
        li,
        unique_key=["l_orderkey", "l_linenumber"],
        foreign_keys=[(["l_orderkey"], orders, ["o_orderkey"])],
        non_null=["l_quantity", "l_shipdate"],
        min_rows=1000,
    )


@query("""
    SELECT source, COUNT(*) AS n,
           quantile_cont(n_chars, 0.25) AS q1,
           quantile_cont(n_chars, 0.5) AS median,
           quantile_cont(n_chars, 0.75) AS q3,
           quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25) AS iqr
    FROM documents GROUP BY source
""")
def _q109_grouped_pandas(spark, sf):
    """Grouped-map applyInPandas: per-source quartiles of document
    length computed with numpy inside Arrow batches — checked against
    the interpolating SQL quantiles (exact on integer data)."""
    from polars_pipe_spark.operators.aggregates import grouped_pandas_stats

    docs = _t(spark, sf, "documents")
    return grouped_pandas_stats(docs, ["source"], "n_chars")


@query("""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sess
      FROM gaps
    )
    SELECT user_id, event_id, ts, event_type
    FROM sessions
    QUALIFY row_number() OVER (PARTITION BY user_id, sess ORDER BY ts, event_id) = 1
""")
def _q110_debounce(spark, sf):
    """Burst suppression: keep only the first event of every ≤30-min
    burst per user (alert de-noising) — sessionize + keep-rank-1."""
    from polars_pipe_spark.operators.windows import debounce

    ev = _t(spark, sf, "events")
    out = debounce(ev, "user_id", "ts", 30.0, tiebreak_cols=["event_id"])
    return out.select("user_id", "event_id", "ts", "event_type")


@query("""
    WITH med AS (
      SELECT source, median(n_chars) AS med FROM documents GROUP BY source
    ), stats AS (
      SELECT m.source, m.med, median(abs(d.n_chars - m.med)) AS mad
      FROM documents d JOIN med m ON d.source = m.source
      GROUP BY m.source, m.med
    )
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN abs(d.n_chars - s.med) > 3.0 * 1.4826 * s.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM documents d JOIN stats s ON d.source = s.source
    GROUP BY d.source
""")
def _q116_robust_outliers(spark, sf):
    """Robust outlier counts: documents beyond 3 scaled-MADs from their
    source's median length (the quality-filter decision q88's stats
    exist for). Stats broadcast back onto the scan — one extra pass."""
    from polars_pipe_spark.operators.aggregates import robust_group_stats

    docs = _t(spark, sf, "documents")
    stats = robust_group_stats(docs, ["source"], "n_chars", "med", "mad")
    flagged = docs.join(F.broadcast(stats), "source").withColumn(
        "is_outlier",
        F.abs(F.col("n_chars") - F.col("med")) > 3.0 * 1.4826 * F.col("mad"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias("n_outliers"),
    )


# q126: mirrors operators/layout.py::quantize + morton_code for bits=8
# over (o_custkey, o_totalprice). Every step is IEEE-exact (-, /, *,
# floor) or integer bit arithmetic, so the codes match bit for bit.
_Z_INTERLEAVE = " | ".join(
    f"(((q{j} >> {i}) & 1) << {i * 2 + j})" for i in range(8) for j in range(2)
)


@query(f"""
    WITH b AS (
      SELECT MIN(o_custkey) AS mn0, MAX(o_custkey) AS mx0,
             MIN(o_totalprice) AS mn1, MAX(o_totalprice) AS mx1
      FROM orders
    ), q AS (
      SELECT o_orderkey,
        CASE WHEN CAST(mx0 - mn0 AS DOUBLE) > 0
             THEN CAST(floor(((CAST(o_custkey AS DOUBLE) - CAST(mn0 AS DOUBLE))
                              / CAST(mx0 - mn0 AS DOUBLE)) * 255.0) AS BIGINT)
             ELSE 0 END AS q0,
        CASE WHEN CAST(mx1 - mn1 AS DOUBLE) > 0
             THEN CAST(floor(((CAST(o_totalprice AS DOUBLE) - CAST(mn1 AS DOUBLE))
                              / CAST(mx1 - mn1 AS DOUBLE)) * 255.0) AS BIGINT)
             ELSE 0 END AS q1
      FROM orders CROSS JOIN b
    )
    SELECT o_orderkey, {_Z_INTERLEAVE} AS __zorder FROM q
""")
def _q126_zorder_code(spark, sf):
    """Z-order (Morton) clustering key over two order dimensions.

    The code is a pure expression — linear quantization against broadcast
    min/max bounds, bit interleave — so any engine reproduces it bit for
    bit (IEEE -, /, *, floor are exactly specified). Sorting files by
    this key is what makes min/max stats prune on EITHER dimension.
    """
    from polars_pipe_spark.operators.layout import zorder_by

    orders = _t(spark, sf, "orders")
    return zorder_by(orders, ["o_custkey", "o_totalprice"], bits=8).select(
        "o_orderkey", "__zorder"
    )


# q159: conditional-min pivot + left-to-right ordered-reach fold; NULL
# comparisons fall out of the CASE the same way Spark's when() does.
@query("""
    WITH mins AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
      FROM events GROUP BY user_id
    ), reach AS (
      SELECT (t0 IS NOT NULL) AS r0,
             (t0 IS NOT NULL AND t1 >= t0) AS r1,
             (t0 IS NOT NULL AND t1 >= t0 AND t2 >= t1) AS r2
      FROM mins
    ), totals AS (
      SELECT CAST(SUM(CASE WHEN r0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM reach
    )
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, n0 AS n_converted FROM totals
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'click', n1 FROM totals
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'purchase', n2 FROM totals
""")
def _q159_funnel(spark, sf):
    """Ordered view→click→purchase funnel: stage i converts only when
    its earliest hit is at-or-after the carried qualifying time of stage
    i-1 (operators/windows.py::funnel_counts). Two shuffles regardless
    of funnel depth: one conditional-min pivot per user, one stage-count
    aggregate — no per-stage self-joins, no windows."""
    from polars_pipe_spark.operators.windows import funnel_counts

    ev = _t(spark, sf, "events")
    return funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


# q160: same-definition levenshtein on both engines; candidate count is
# the closed form n(n-1)/2, matches the blocked equi-join pair space.
@query("""
    WITH c AS (
      SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS nation FROM customer
    ), base AS (
      SELECT nation, COUNT(*) AS n_customers,
             CAST((COUNT(*) * (COUNT(*) - 1)) // 2 AS BIGINT) AS n_candidate_pairs
      FROM c GROUP BY nation
    ), m AS (
      SELECT l.nation, COUNT(*) AS n_matched
      FROM c l JOIN c r ON l.nation = r.nation AND l.c_name < r.c_name
      WHERE levenshtein(l.c_name, r.c_name) <= 1
      GROUP BY l.nation
    )
    SELECT base.nation, base.n_customers, base.n_candidate_pairs,
           COALESCE(m.n_matched, 0) AS n_matched
    FROM base LEFT JOIN m USING (nation)
""")
def _q160_fuzzy_join(spark, sf):
    """Entity resolution via blocked edit-distance join
    (operators/joins.py::fuzzy_join): customers block on nation,
    candidates are the within-block equi-join, levenshtein <= 1 keeps
    near-identical names, name<name halves the symmetric pairs. The
    per-nation report pairs candidate count n(n-1)/2 with the matched
    count — the blocking-efficiency row an ER pipeline monitors. Block
    sizes are bounded by the key choice; a corpus-scale block needs a
    finer key or salting."""
    from polars_pipe_spark.operators.joins import fuzzy_join

    cust = _t(spark, sf, "customer").select(
        "c_custkey", "c_name", F.col("c_nationkey").cast("long").alias("nation")
    )
    base = cust.groupBy("nation").agg(F.count(F.lit(1)).alias("n_customers"))
    base = base.withColumn(
        "n_candidate_pairs",
        (F.col("n_customers") * (F.col("n_customers") - 1) / 2).cast("long"),
    )
    matched = (
        fuzzy_join(cust, cust, "c_name", "c_name", "nation", "nation", max_dist=1)
        .filter(F.col("left_key") < F.col("right_key"))
        .groupBy(F.col("block_key").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return base.join(matched, "nation", "left").select(
        "nation",
        "n_customers",
        "n_candidate_pairs",
        F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
    )


# q165: result is an order statistic — algorithm-independent; the
# oracle looks it up from a sorted row_number (ties map to the same
# VALUE, so tie order is irrelevant).
@query("""
    WITH v AS (
      SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), r AS (
      SELECT x, row_number() OVER (ORDER BY x) - 1 AS rk FROM v
    ), n AS (SELECT COUNT(*) AS n FROM v)
    SELECT q_ppm, rk AS rank, x AS value
    FROM (
      SELECT CAST(250000 AS BIGINT) AS q_ppm,
             CAST(FLOOR((n.n - 1) * 0.25) AS BIGINT) AS want FROM n
      UNION ALL
      SELECT CAST(500000 AS BIGINT), CAST(FLOOR((n.n - 1) * 0.5) AS BIGINT) FROM n
      UNION ALL
      SELECT CAST(750000 AS BIGINT), CAST(FLOOR((n.n - 1) * 0.75) AS BIGINT) FROM n
    ) targets
    JOIN r ON r.rk = targets.want
""")
def _q165_exact_quantiles(spark, sf):
    """EXACT p25/p50/p75 of lineitem extended price by distributed
    selection (operators/aggregates.py::exact_quantiles) — histogram
    narrowing, never a global sort or one-reducer percentile. The
    result is an order statistic (an actual element at rank
    floor((n-1)·q)), so the oracle reproduces it with a plain sorted
    row_number lookup, independent of the algorithm."""
    from polars_pipe_spark.operators.aggregates import exact_quantiles

    li = _t(spark, sf, "lineitem")
    res = exact_quantiles(li, "l_extendedprice", [0.25, 0.5, 0.75])
    rows = [
        (int(round(q * 1_000_000)), int(rank), float(val))
        for q, (rank, val) in sorted(res.items())
    ]
    return spark.createDataFrame(
        rows, "q_ppm long, rank long, value double"
    )


# q167: the hash-invariant booleans are engine-computable facts about
# ANY total deterministic collision-free hash — the oracle asserts them
# over the same row count.
@query("""
    SELECT COUNT(*) AS n_rows, TRUE AS hash_total,
           TRUE AS deterministic, TRUE AS collision_free
    FROM supplier
""")
def _q167_lineage_hash_props(spark, sf):
    """Oracle-checkable PROPERTY twin of q12 (L1 row hash is xxhash64 —
    its VALUES have no DuckDB reproduction, but its invariants do):
    totality (no null hashes), collision-freeness on distinct supplier
    rows, and determinism under repartitioning (the hash is a pure
    content function, so a differently-partitioned recompute must agree
    row for row). The oracle asserts the booleans as literals over the
    same row count."""
    from polars_pipe_spark.operators.transform import add_hash_col

    df = _t(spark, sf, "supplier")
    h1 = add_hash_col(df).select("s_suppkey", F.col("sys_col_row_hash").alias("h1"))
    h2 = add_hash_col(df.repartition(8)).select(
        "s_suppkey", F.col("sys_col_row_hash").alias("h2")
    )
    j = h1.join(h2, "s_suppkey")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bool_and(F.col("h1").isNotNull()).alias("hash_total"),
        F.bool_and(F.col("h1") == F.col("h2")).alias("deterministic"),
        (F.count_distinct(F.col("h1")) == F.count(F.lit(1))).alias(
            "collision_free"
        ),
    )


# q170: thresholds are order statistics (rank lookup); band aggregate
# in exact integer cents; HUGEINT sums/divisions cast back.
@query("""
    WITH v AS (
      SELECT l_extendedprice AS x FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), r AS (
      SELECT x, row_number() OVER (ORDER BY x) - 1 AS rk FROM v
    ), n AS (SELECT COUNT(*) AS n FROM v
    ), th AS (
      SELECT
        (SELECT x FROM r, n WHERE rk = CAST(FLOOR((n.n - 1) * 0.05) AS BIGINT)) AS lo,
        (SELECT x FROM r, n WHERE rk = CAST(FLOOR((n.n - 1) * 0.95) AS BIGINT)) AS hi
    )
    SELECT CAST(ROUND(th.lo * 100) AS BIGINT) AS lo_cents,
           CAST(ROUND(th.hi * 100) AS BIGINT) AS hi_cents,
           COUNT(*) AS n_kept,
           CAST(SUM(CAST(ROUND(x * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST((CAST(SUM(CAST(ROUND(x * 100) AS BIGINT)) AS BIGINT) * 10) // COUNT(*) AS BIGINT) AS mean_milli
    FROM v, th WHERE x >= th.lo AND x <= th.hi
    GROUP BY th.lo, th.hi
""")
def _q170_trimmed_mean(spark, sf):
    """Robust price statistic: mean of l_extendedprice inside the exact
    [p05, p95] order-statistic band — thresholds from the distributed
    histogram-narrowing selection (q165), then ONE aggregate over the
    band. All-BIGINT projection: cents via ROUND (fixes double
    representation error identically on both engines), mean as
    milli-units by integer division. The oracle reproduces the
    thresholds as sorted row_number lookups — algorithm-independent.
    operators/aggregates.py::trimmed_mean is the double-API twin."""
    from polars_pipe_spark.operators.aggregates import exact_quantiles

    li = _t(spark, sf, "lineitem")
    qs = exact_quantiles(li, "l_extendedprice", [0.05, 0.95])
    lo, hi = qs[0.05][1], qs[0.95][1]
    c = F.col("l_extendedprice")
    cents = F.round(c * 100).cast("long")
    return (
        li.filter(c.isNotNull() & (c >= lo) & (c <= hi))
        .agg(
            F.round(F.lit(lo) * 100).cast("long").alias("lo_cents"),
            F.round(F.lit(hi) * 100).cast("long").alias("hi_cents"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(cents).alias("sum_cents"),
        )
        .withColumn("mean_milli", F.expr("(sum_cents * 10) DIV n_kept"))
    )


# q204: the oracle computes the SAME md5-bucket membership as an
# IN-subquery — the bloom set semantics without the array mechanics —
# plus the exact join counts the filter must never undercut
@query(f"""
    WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 7500),
    bl AS (SELECT DISTINCT
             ({_hex_int_sql("md5(CAST(c_custkey AS VARCHAR))", 12)} % 4096) AS b
           FROM rich),
    cand AS (
      SELECT o_orderpriority FROM orders
      WHERE ({_hex_int_sql("md5(CAST(o_custkey AS VARCHAR))", 12)} % 4096)
            IN (SELECT b FROM bl)
    ),
    cc AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM cand GROUP BY 1),
    mm AS (SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_matched
           FROM orders o JOIN rich r ON o.o_custkey = r.c_custkey GROUP BY 1)
    SELECT cc.o_orderpriority, cc.n_candidates,
           CAST(COALESCE(mm.n_matched, 0) AS BIGINT) AS n_matched
    FROM cc LEFT JOIN mm ON cc.o_orderpriority = mm.o_orderpriority
""")
def _q204_bloom_prune_join(spark, sf):
    """Runtime-filter join pruning: a Bloom-style bucket set built from
    the selective build side (customers with acctbal > 7500) prunes the
    orders probe side BEFORE the join shuffle — the manual form of
    Spark's runtime bloom filter, as an operator the optimizer can't
    decline. Per priority: candidate rows passing the filter vs rows
    the exact join keeps. No false negatives by construction (the
    oracle's IN-subquery computes the same md5-bucket membership), and
    candidates ≥ matches is visible in the output."""
    from polars_pipe_spark.operators.joins import bloom_prune

    rich = (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 7500)
        .select("c_custkey")
    )
    orders = _t_par(spark, sf, "orders")
    cand = bloom_prune(orders, rich, "o_custkey", "c_custkey", n_buckets=4096)
    cand_counts = cand.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    matched = (
        orders.join(rich, orders["o_custkey"] == rich["c_custkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return cand_counts.join(matched, "o_orderpriority", "left").select(
        "o_orderpriority",
        "n_candidates",
        F.coalesce(F.col("n_matched"), F.lit(0).cast("long")).alias("n_matched"),
    )


# q206: HUGEINT-exact moments, double math only in the final fixed-order
# divisions — mirrors grouped_ols' decimal(38,0) path term for term
@query("""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y_cents
      FROM orders GROUP BY o_custkey
    ),
    j AS (
      SELECT c.c_nationkey,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS x,
             p.y_cents AS y
      FROM customer c JOIN per_cust p ON c.c_custkey = p.o_custkey
    ),
    m AS (
      SELECT c_nationkey,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
             SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      FROM j GROUP BY c_nationkey
    )
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
             CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
           END, 6) AS slope,
           ROUND(CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0 THEN
             (CAST(sy AS DOUBLE)
              - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
           END, 6) AS intercept,
           ROUND(CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) <> 0
                 AND CAST(n*syy - sy*sy AS DOUBLE) <> 0 THEN
             CAST(n*sxy - sx*sy AS DOUBLE)
             / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
           END, 6) AS corr_r
    FROM m
""")
def _q206_group_ols(spark, sf):
    """Per-nation OLS regression (slope/intercept/Pearson r) of a
    customer's lifetime order value against their account balance —
    grouped linear regression from EXACT decimal moments
    (operators/aggregates.grouped_ols): one shuffle for the per-customer
    rollup, one for the per-nation moments; the only floating-point
    steps are final divisions in a fixed expression order, so the
    doubles are bit-reproducible against the oracle's HUGEINT-exact
    moments."""
    from polars_pipe_spark.operators.aggregates import grouped_ols

    cust = _t(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x_cents"),
    )
    per_cust = (
        _t_par(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y_cents"
            )
        )
    )
    joined = cust.join(per_cust, cust["c_custkey"] == per_cust["o_custkey"])
    # round(…, 6): the moments are exact on both engines, but casting a
    # >64-bit exact integer to DOUBLE is 1-ulp engine-dependent (DuckDB
    # composes hugeint halves in double arithmetic — two roundings);
    # 6-decimal rounding absorbs it, same as the q125/q129 contract
    return grouped_ols(joined, ["c_nationkey"], "x_cents", "y_cents").select(
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round("corr_r", 6).alias("corr_r"),
    )


@query("""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz,
             COUNT(DISTINCT CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(sz) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST((SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) * 1000000)
                // SUM(sz) AS BIGINT) AS below_k_ppm
    FROM cls
""")
def _q207_k_anonymity(spark, sf):
    """Pre-release privacy audit: k-anonymity over the
    (nation, market-segment) quasi-identifier pair with account-balance
    cents as the sensitive attribute — class count, smallest class,
    re-identifiable rows below k=5 (exact ppm share), minimum
    l-diversity. Counts-only output: no quasi-identifier VALUES leave
    the executors (operators/inspect.k_anonymity_report)."""
    from polars_pipe_spark.operators.inspect import k_anonymity_report

    cust = _t_par(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment"], k=5, sensitive_col="bal_cents"
    )


# q208: thresholds re-derived as sorted row_number lookups — the oracle
# is independent of the histogram-narrowing algorithm
@query("""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    s AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS r FROM v),
    cnt AS (SELECT COUNT(*) AS n FROM v),
    th AS (
      SELECT
        (SELECT c FROM s WHERE r =
           (SELECT CAST(FLOOR((n - 1) * 0.25) AS BIGINT) + 1 FROM cnt)) AS t25,
        (SELECT c FROM s WHERE r =
           (SELECT CAST(FLOOR((n - 1) * 0.5) AS BIGINT) + 1 FROM cnt)) AS t50,
        (SELECT c FROM s WHERE r =
           (SELECT CAST(FLOOR((n - 1) * 0.75) AS BIGINT) + 1 FROM cnt)) AS t75
    )
    SELECT CAST((CASE WHEN c > t25 THEN 1 ELSE 0 END
               + CASE WHEN c > t50 THEN 1 ELSE 0 END
               + CASE WHEN c > t75 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(c) AS min_cents, MAX(c) AS max_cents
    FROM v, th GROUP BY 1
""")
def _q208_range_partition_audit(spark, sf):
    """Balanced total-order layout without a global sort: exact
    quartile boundaries from the distributed histogram-narrowing
    selection (q165 machinery — aggregate scans only, never a
    one-reducer sort) define 4 range buckets over order-value cents;
    the audit reports each bucket's row count and min/max, proving the
    ranges are disjoint, exhaustive and balanced — exactly what a
    `repartitionByRange(4, col)` export would ship per file at 100 TB,
    with the boundary choice explainable and reproducible (Spark's own
    RangePartitioner samples nondeterministically). The oracle derives
    the same thresholds as sorted row_number lookups —
    algorithm-independent (the q170 pattern)."""
    from polars_pipe_spark.operators.aggregates import exact_quantiles

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v = _t_par(spark, sf, "orders").select(cents.alias("c")).filter(
        F.col("c").isNotNull()
    )
    th = exact_quantiles(v, "c", [0.25, 0.5, 0.75])
    t25, t50, t75 = (int(th[q][1]) for q in (0.25, 0.5, 0.75))
    bucket = (
        (F.col("c") > t25).cast("int")
        + (F.col("c") > t50).cast("int")
        + (F.col("c") > t75).cast("int")
    ).cast("long")
    return (
        v.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("c").alias("min_cents"),
            F.max("c").alias("max_cents"),
        )
    )


@query("""
    WITH per AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM per GROUP BY 1),
    spine AS (
      SELECT b.user_id, unnest(generate_series(b.lo - 2, b.hi + 2)) AS day
      FROM b
    ),
    s AS (
      SELECT spine.user_id, spine.day, per.v_cents
      FROM spine LEFT JOIN per
        ON spine.user_id = per.user_id AND spine.day = per.day
    ),
    st AS (
      SELECT *,
        last_value(v_cents IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v_cents IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(v_cents IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v_cents IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM s
    )
    SELECT user_id, day, v_cents,
           CASE WHEN v_cents IS NOT NULL THEN v_cents
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + ((day - pd) * (nv - pv)) // (nd - pd)
                WHEN pv IS NOT NULL THEN pv END AS filled,
           CASE WHEN v_cents IS NOT NULL THEN 'known'
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                WHEN pv IS NOT NULL THEN 'locf'
                ELSE 'leading' END AS fill_kind
    FROM st
""")
def _q215_gap_fill_interpolate(spark, sf):
    """Time-series backfill over a per-user daily spine: known days keep
    their value, interior gaps linearly interpolate between surrounding
    samples in EXACT integer cents, trailing days carry forward (LOCF),
    leading days stay NULL — operators/windows.gap_fill_interpolate over
    a per-user sequence() spine stretched 2 days past each user's
    bounds so all four fill kinds appear. Two ordered window passes on
    the spine's own (user) partitioning; interpolation uses truncating
    integer division, identical on both engines."""
    from polars_pipe_spark.operators.windows import gap_fill_interpolate

    ev = _t_par(spark, sf, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    per = ev.groupBy("user_id", day.alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("v_cents")
    )
    bounds = per.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence(F.col("lo") - 2, F.col("hi") + 2)).alias("day"),
    )
    series = spine.join(per, ["user_id", "day"], "left")
    return gap_fill_interpolate(series, "user_id", "day", "v_cents").select(
        "user_id", "day", "v_cents", "filled", "fill_kind"
    )


@query("""
    WITH base AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(ROUND(l_quantity) AS BIGINT) AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND ROUND(l_quantity) > 0
    ),
    tot AS (SELECT SUM(w) AS W FROM base),
    cum AS (
      SELECT v, SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
      FROM base
    ),
    targets AS (
      SELECT 250000 AS q_ppm, CAST(FLOOR((W - 1) * 0.25) AS BIGINT) AS k FROM tot
      UNION ALL
      SELECT 500000, CAST(FLOOR((W - 1) * 0.5) AS BIGINT) FROM tot
      UNION ALL
      SELECT 750000, CAST(FLOOR((W - 1) * 0.75) AS BIGINT) FROM tot
    )
    SELECT t.q_ppm, t.k AS weight_rank,
           (SELECT MIN(v) FROM cum WHERE c > t.k) AS value_cents
    FROM targets t
""")
def _q218_weighted_quantiles(spark, sf):
    """EXACT quantity-weighted p25/p50/p75 of lineitem price cents
    (operators/aggregates.weighted_quantiles): each row counts
    ``l_quantity`` times, quantile q is the element at weight-rank
    floor((W−1)·q) — distributed histogram narrowing over per-bucket
    WEIGHT sums, never a global sort. Oracle: cumulative-weight window
    over sorted values, first value whose running weight exceeds the
    target — algorithm-independent, integer-exact."""
    from polars_pipe_spark.operators.aggregates import weighted_quantiles

    li = _t_par(spark, sf, "lineitem")
    base = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.round(F.col("l_quantity")).cast("long").alias("w"),
    )
    res = weighted_quantiles(base, "v", "w", [0.25, 0.5, 0.75])
    rows = [
        (int(round(q * 1_000_000)), int(rank), int(val))
        for q, (rank, val) in sorted(res.items())
    ]
    return spark.createDataFrame(
        rows, "q_ppm long, weight_rank long, value_cents long"
    )


@query("""
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM gaps
    ),
    et AS (SELECT DISTINCT user_id, session_id, event_type FROM sess),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM
            (SELECT DISTINCT user_id, session_id FROM et)),
    singles AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
                FROM et GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM et a JOIN et b
        ON a.user_id = b.user_id AND a.session_id = b.session_id
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_xy,
           sa.n_t AS n_a, sb.n_t AS n_b, n_sessions,
           CAST((CAST(n_xy AS HUGEINT) * n_sessions * 1000000)
                // (CAST(sa.n_t AS HUGEINT) * sb.n_t) AS BIGINT) AS lift_micros
    FROM pairs
    JOIN singles sa ON pairs.type_a = sa.event_type
    JOIN singles sb ON pairs.type_b = sb.event_type, tot
""")
def _q228_session_basket_lift(spark, sf):
    """Within-session event-type lift: do two event types co-occur in
    the same behavioural session more than chance predicts? Sessions
    come from the gap-based sessionize operator (30-min gap, total
    order via event_id), presence is distinct per session, and lift is
    the exact integer cross-multiply (n_xy·S·10⁶) DIV (n_x·n_y) in
    DECIMAL(38,0) — the q216 association machinery lifted from
    documents to sessionized behaviour. ≤ C(5,2) output rows."""
    from polars_pipe_spark.operators.windows import sessionize

    ev = _t_par(spark, sf, "events")
    s = sessionize(ev, "user_id", "ts", 30.0, tiebreak_cols=["event_id"])
    # persist: et is consumed 4x (session total, singles, both pair
    # sides) and its lineage is the sessionize window shuffle — without
    # the pin that shuffle runs four times (r8 plan-sweep multi-scan
    # rule). Bounded: <= n_sessions x n_event_types rows, 3 narrow cols.
    et = s.select("user_id", "session_id", "event_type").distinct().persist()
    tot = (
        et.select("user_id", "session_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    singles = et.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = et.select("user_id", "session_id", F.col("event_type").alias("type_a"))
    b = et.select("user_id", "session_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "type_a", "type_b", "n_xy", "n_a", "n_b", "n_sessions",
            "CAST((CAST(n_xy AS DECIMAL(38,0)) * n_sessions * 1000000)"
            " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) AS lift_micros",
        )
    )


@query("""
    WITH per AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(y) AS W FROM per),
    cum AS (
      SELECT y, SUM(y) OVER (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
      FROM per
    ),
    th AS (
      SELECT (SELECT MIN(y) FROM cum
              WHERE c > (SELECT CAST(FLOOR((W - 1) * 0.2) AS BIGINT) FROM tot))
             AS t
    )
    SELECT CAST(t AS BIGINT) AS threshold_cents,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN y > t THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           CAST(SUM(CASE WHEN y = t THEN 1 ELSE 0 END) AS BIGINT) AS n_at,
           CAST(SUM(y) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN y > t THEN y ELSE 0 END) AS BIGINT)
             AS mass_above_cents,
           CAST((SUM(CASE WHEN y > t THEN y ELSE 0 END) * 1000000)
                // SUM(y) AS BIGINT) AS mass_above_ppm
    FROM per, th GROUP BY t
""")
def _q230_revenue_concentration(spark, sf):
    """Revenue-concentration readout (the 80/20 check): the per-customer
    value threshold above which ~80% of total revenue sits, plus how few
    customers that is — the mass threshold is the value-weighted
    quantile OF THE VALUE ITSELF at q=0.2 (weighted_quantiles reused
    with weight = value), so the \"top 80% of mass\" boundary falls out
    of the same distributed selection machinery with no global sort;
    the follow-up is ONE exact integer aggregate. Output also pins the
    boundary group (customers exactly at the threshold) so the split
    is unambiguous."""
    from polars_pipe_spark.operators.aggregates import weighted_quantiles

    orders = _t_par(spark, sf, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    t = int(weighted_quantiles(per, "y", "y", [0.2])[0.2][1])
    return per.agg(
        F.lit(t).cast("long").alias("threshold_cents"),
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("y") > t, 1).otherwise(0)).alias("n_above"),
        F.sum(F.when(F.col("y") == t, 1).otherwise(0)).alias("n_at"),
        F.sum("y").alias("total_cents"),
        F.sum(F.when(F.col("y") > t, F.col("y")).otherwise(0)).alias(
            "mass_above_cents"
        ),
    ).selectExpr(
        "threshold_cents", "n_customers", "n_above", "n_at",
        "total_cents", "mass_above_cents",
        # DECIMAL(38,0) widen: total_cents is ~3e13 at sf1 (and grows with
        # the corpus), so the old long multiply overflowed at sf1 — found
        # by the r9 full-registry sweep (ARITHMETIC_OVERFLOW).
        "CAST((CAST(mass_above_cents AS DECIMAL(38,0)) * 1000000)"
        " DIV total_cents AS BIGINT) AS mass_above_ppm",
    )


@query("""
    WITH v AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                    * CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
               AS BIGINT) AS n2
      FROM embeddings
    ),
    s AS (SELECT n2, ROW_NUMBER() OVER (ORDER BY n2) AS r FROM v),
    cnt AS (SELECT COUNT(*) AS n FROM v),
    th AS (
      SELECT
        (SELECT n2 FROM s WHERE r =
           (SELECT CAST(FLOOR((n - 1) * 0.01) AS BIGINT) + 1 FROM cnt)) AS lo,
        (SELECT n2 FROM s WHERE r =
           (SELECT CAST(FLOOR((n - 1) * 0.99) AS BIGINT) + 1 FROM cnt)) AS hi
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(lo AS BIGINT) AS p01_n2, CAST(hi AS BIGINT) AS p99_n2,
           CAST(SUM(CASE WHEN n2 < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN n2 > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           MIN(n2) AS min_n2, MAX(n2) AS max_n2
    FROM v, th GROUP BY lo, hi
""")
def _q231_embedding_norm_audit(spark, sf):
    """Embedding-corpus health: the squared-norm distribution flags
    degenerate vectors (zeroed, truncated, or exploding embeddings ship
    in real corpora more often than anyone admits). Norms are computed
    on the milli-unit integer lattice (Σ round(x·10³)² — exact, the
    q214 trick), the p01/p99 fences come from the distributed exact
    selection, and the final row is one integer aggregate. The oracle
    re-derives the fences as sorted row_number lookups."""
    from polars_pipe_spark.operators.aggregates import exact_quantiles

    emb = _t_par(spark, sf, "embeddings")
    n2 = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    # persist (r14): n2 is a per-row reduction over the embedding array
    # — by far the expensive part of this query — and every selection
    # job below (stats, histogram, rank fetch) plus the final audit agg
    # used to RE-DERIVE it from the parquet scan. The cached frame is
    # two longs per vector; all consumers read it.
    vecs = emb.select(F.col("vec_id"), n2.alias("n2")).persist()
    th = exact_quantiles(vecs, "n2", [0.01, 0.99])
    lo, hi = int(th[0.01][1]), int(th[0.99][1])
    return vecs.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.lit(lo).cast("long").alias("p01_n2"),
        F.lit(hi).cast("long").alias("p99_n2"),
        F.sum((F.col("n2") < lo).cast("long")).alias("n_low"),
        F.sum((F.col("n2") > hi).cast("long")).alias("n_high"),
        F.min("n2").alias("min_n2"),
        F.max("n2").alias("max_n2"),
    )


# q271: forward-asof = min purchase ts at/after the click within the
# tolerance, per click — correlated min via join+group in SQL.
@query("""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    ), matched AS (
      SELECT c.user_id, c.click_ts, MIN(p.p_ts) AS p_ts
      FROM clicks c LEFT JOIN purchases p
        ON p.user_id = c.user_id
       AND p.p_ts >= c.click_ts
       AND epoch(p.p_ts) - epoch(c.click_ts) <= 7 * 86400
      GROUP BY c.user_id, c.click_ts
    )
    SELECT CAST(CASE WHEN p_ts IS NOT NULL
                THEN date_diff('day', CAST(click_ts AS DATE), CAST(p_ts AS DATE))
           END AS BIGINT) AS lag_days,
           CAST(COUNT(*) AS BIGINT) AS n_clicks
    FROM matched GROUP BY 1
""")
def _q271_forward_asof(spark, sf):
    """FORWARD as-of join with tolerance (pandas merge_asof's
    direction='forward', the half q21's backward as-of leaves open): for
    every click, the user's NEXT purchase within 7 days — the
    time-to-conversion lookup as a JOIN, not an aggregate. Same
    union-merge single-shuffle machinery (operators/joins.py::asof_join,
    now direction-aware with tolerance nulling far matches). Output is
    the per-day-lag conversion histogram plus the unmatched count, all
    exact."""
    from polars_pipe_spark.operators.joins import asof_join

    ev = _t_par(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    joined = asof_join(
        clicks,
        purchases,
        "user_id",
        "click_ts",
        "p_ts",
        ["p_ts"],
        direction="forward",
        tolerance=7 * 86400,
    )
    return (
        joined.withColumn(
            "lag_days",
            F.when(
                F.col("p_ts").isNotNull(),
                F.datediff(F.col("p_ts").cast("date"), F.col("click_ts").cast("date")),
            ).cast("long"),
        )
        .groupBy("lag_days")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .select("lag_days", F.col("n_clicks").cast("long").alias("n_clicks"))
    )
