"""Registry queries of TPC-H and relational shape, calling no library
module: joins, group-by, rollups, subqueries and referential checks."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t


@query("""
        -- BIGINT-only output (type-seam-proof, r4): DuckDB's DECIMAL `//` is
        -- float-lossy and its decimal->DOUBLE cast is not correctly rounded
        -- past 2^53 unscaled, so every exact-integer step routes through
        -- HUGEINT and the scale-10 sums leave as (units, micros) pairs.
        WITH a AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS HUGEINT) AS qty_cents,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS price_cents,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) * 1000000 AS HUGEINT) AS disc_micros,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))) * 1000000 AS HUGEINT) AS charge_micros,
                 COUNT(*) AS count_order
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               CAST(qty_cents AS BIGINT) AS sum_qty_cents,
               CAST(price_cents AS BIGINT) AS sum_base_price_cents,
               CAST(disc_micros // 1000000 AS BIGINT) AS sum_disc_price_units,
               CAST(disc_micros % 1000000 AS BIGINT) AS sum_disc_price_micros,
               CAST(charge_micros // 1000000 AS BIGINT) AS sum_charge_units,
               CAST(charge_micros % 1000000 AS BIGINT) AS sum_charge_micros,
               count_order,
               CAST((qty_cents * 10000) // count_order AS BIGINT) AS avg_qty_micros,
               CAST((price_cents * 10000) // count_order AS BIGINT) AS avg_price_micros
        FROM a
        ORDER BY l_returnflag, l_linestatus
    """)
def _q13_tpch_q1(spark, sf):
    """Group-by aggregation (TPC-H Q1 shape) with decimal-exact sums."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    # Narrow operand precisions so Spark's decimal-multiply rule keeps the
    # EXACT product scale: (12,2)x(7,4) -> (20,6), x(7,4) -> (28,10), all
    # under precision 38 so no scale-6 cap / HALF_UP rounding fires.  With
    # the old (18,2)/(18,4) operands the charge chain hit the cap and Spark
    # rounded each row's product at scale 6 while DuckDB summed the exact
    # scale-10 value — a real 7th-decimal value divergence, not just a type
    # seam (caught by the r4 type-aware checker).  Bounds: extendedprice
    # < 1e10 fits (12,2); discount/tax in [0,1) fit (6,4).
    dec_price = F.col("l_extendedprice").cast("decimal(12,2)")
    dec_disc = F.col("l_discount").cast("decimal(6,4)")
    dec_tax = F.col("l_tax").cast("decimal(6,4)")
    one = F.lit(1).cast("decimal(6,4)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_base_price"),
            F.sum(dec_price * (one - dec_disc)).alias("sum_disc_price"),
            F.sum(dec_price * (one - dec_disc) * (one + dec_tax)).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # Driver hash-failed r1–r3 on *types*, not values: Spark sums are
        # decimal(28,2)/(38,6) while DuckDB's are decimal128(38,2)/(38,10),
        # and a dtype-tagged canonicaliser (the driver's, and ours since r4)
        # hashes them differently even with equal values.  So the output
        # carries only BIGINT cells; decimals stay internal.  DOUBLE is not
        # safe either: DuckDB's decimal→DOUBLE cast goes int128→double→/10^s
        # and is NOT correctly rounded once the unscaled value passes 2^53
        # (observed at sf0.01 for the scale-10 charge sum), while Spark's
        # BigDecimal.doubleValue is — so high-scale decimals must leave the
        # query as exact integers:
        #   - cents columns: `sum * 100` is an integer-valued decimal
        #     (scale 2), cast lossless.  int64 bound: sum_base_price <
        #     9.2e16 currency units ≈ sf 4e5 (~400 TB).
        #   - disc/charge (≤6 real decimal places; the (12,2)x(6,4) operand
        #     narrowing keeps Spark's product at exact scale 10, no cap):
        #     exact (units, micros-remainder) BIGINT pair — valid at ANY
        #     scale factor, unlike single-column micros which overflows
        #     int64 at sf ≈ 9000 (the r3 ADVICE overflow seam).
        #   - avgs: scaled integer division entirely in DECIMAL(38,0) /
        #     HUGEINT.  Spark's DIV on decimals is divideToIntegralValue
        #     (exact); DuckDB mirrors with HUGEINT `//` (exact; its DECIMAL
        #     `//` is float-lossy and must not be used).
        .select(
            "l_returnflag",
            "l_linestatus",
            F.expr("CAST(sum_qty * 100 AS BIGINT)").alias("sum_qty_cents"),
            F.expr("CAST(sum_base_price * 100 AS BIGINT)").alias("sum_base_price_cents"),
            F.expr(
                "CAST(sum_disc_price * 1000000 AS DECIMAL(38,0)) DIV 1000000"
            ).alias("sum_disc_price_units"),
            F.expr(
                "CAST(CAST(sum_disc_price * 1000000 AS DECIMAL(38,0)) % 1000000 AS BIGINT)"
            ).alias("sum_disc_price_micros"),
            F.expr(
                "CAST(sum_charge * 1000000 AS DECIMAL(38,0)) DIV 1000000"
            ).alias("sum_charge_units"),
            F.expr(
                "CAST(CAST(sum_charge * 1000000 AS DECIMAL(38,0)) % 1000000 AS BIGINT)"
            ).alias("sum_charge_micros"),
            "count_order",
            F.expr(
                "CAST(sum_qty * 1000000 AS DECIMAL(38,0)) DIV count_order"
            ).alias("avg_qty_micros"),
            F.expr(
                "CAST(sum_base_price * 1000000 AS DECIMAL(38,0)) DIV count_order"
            ).alias("avg_price_micros"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
               COUNT(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """)
def _q14_join_revenue_by_nation(spark, sf):
    """Multi-way join with broadcast dims (Q5 shape): revenue by nation."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    # Aggregate-below-join: lineitem collapses to one revenue row per
    # orderkey BEFORE touching the join tree — the orderkey shuffle was
    # owed either way (join or agg), but aggregating first ships ~4×
    # fewer rows into the joins AND the agg output arrives already
    # hash-partitioned on the join key, so the orders join adds no
    # re-shuffle of that side. count(*) per nation then IS the distinct
    # order count (one row per orderkey survives; no Expand, no
    # countDistinct — the r1 lesson). The same rewrite is what Catalyst's
    # partial-aggregation pushdown can't do for it because the aggregate
    # is user-specified above the join in the naive form.
    rev_per_order = li.groupBy(F.col("l_orderkey").alias("o_key")).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
        ).alias("rev_part")
    )
    rev = (
        rev_per_order.join(orders, F.col("o_key") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("rev_part").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    return rev.select("n_name", F.col("revenue").cast("double").alias("revenue"), "n_orders")


@query("""
        SELECT c_mktsegment, COUNT(*) AS n_customers, TRUE AS has_orders
        FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT c_mktsegment, COUNT(*) AS n_customers, FALSE AS has_orders
        FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """)
def _q15_anti_semi_join(spark, sf):
    """Left-anti + left-semi joins: customer counts by segment, split into
    with-orders vs without-orders."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").select("o_custkey")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("has_orders", F.lit(True))
    )
    without = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("has_orders", F.lit(False))
    )
    return with_orders.unionByName(without)


@query("""
        SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
          FROM orders
        ) WHERE rk <= 3
    """)
def _q16_window_topk(spark, sf):
    """Top-K per group: 3 priciest orders per customer, deterministic ties."""
    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@query("""
        SELECT custkey FROM (
          SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION
          SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 400000
        )
        EXCEPT ALL
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """)
def _q18_set_ops(spark, sf):
    """Set operations: BUILDING-segment customers UNION big-spenders,
    EXCEPT machinery customers."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    return building.union(big).distinct().exceptAll(machinery)


@query("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """)
def _q19_rollup(spark, sf):
    """ROLLUP grouping sets with decimal-exact sums."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "n_rows", F.col("sum_qty").cast("double").alias("sum_qty"))
    )


@query("""
    SELECT l_orderkey, COUNT(*) AS n_lines, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING COUNT(*) >= 5 AND MAX(l_quantity) > 45
""")
def _q42_having(spark, sf):
    """Aggregate + HAVING shape: orders with >= 5 lineitems and a 45+
    quantity line."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.max("l_quantity").alias("max_qty"),
        )
        .filter((F.col("n_lines") >= 5) & (F.col("max_qty") > 45))
    )


@query("""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
""")
def _q49_tpch_q3(spark, sf):
    """TPC-H Q3 shape: shipping priority — 3-way join, filtered on both
    sides, grouped revenue, deterministic top-10."""
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1996-01-01")
    dec = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(dec).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
    return out


@query("""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
""")
def _q50_tpch_q6(spark, sf):
    """TPC-H Q6 shape: single-scan predicate aggregation (the canonical
    pushdown + codegen microbenchmark)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query("""
    SELECT c_custkey, c_name AS cust_name, o_orderkey, o_totalprice,
           CAST(tot_qty AS DOUBLE) AS tot_qty
    FROM (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS tot_qty
      FROM lineitem GROUP BY l_orderkey HAVING tot_qty > 250
    )
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
""")
def _q51_tpch_q18(spark, sf):
    """TPC-H Q18 shape: large-order customers — aggregate subquery feeding
    a semi-join, then re-aggregation."""
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("tot_qty"))
        .filter(F.col("tot_qty") > 250)
        .select("l_orderkey", "tot_qty")
    )
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            F.col("c_name").alias("cust_name"),
            "o_orderkey",
            "o_totalprice",
            F.col("tot_qty").cast("double").alias("tot_qty"),
        )
    )


@query("""
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
""")
def _q68_bucketed_join(spark, sf):
    """Co-located join via bucketed tables: orders and customer are
    written bucketed on the join key, so the join plans with ZERO
    Exchange — at 100 TB this is the difference between shuffling both
    fact tables per query and shuffling never (bucket once at ingest,
    join co-located forever). Plan asserted shuffle-free in
    tests/core/test_plan_properties.py."""
    import tempfile

    n_buckets = 8
    base = tempfile.mkdtemp(prefix="pps_bucketed_")
    # explicit LOCATION keeps the db marker out of ./spark-warehouse
    spark.sql(f"CREATE DATABASE IF NOT EXISTS pps_buckets LOCATION '{base}/db'")
    for name, df, key in (
        ("orders_b", _t(spark, sf, "orders"), "o_custkey"),
        ("customer_b", _t(spark, sf, "customer"), "c_custkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS pps_buckets.{name}")
        (
            df.write.mode("overwrite")
            .option("path", f"{base}/{name}")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(f"pps_buckets.{name}")
        )
    o = spark.table("pps_buckets.orders_b")
    c = spark.table("pps_buckets.customer_b")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@query("""
    SELECT c_custkey, c_name,
           CAST(rev AS DOUBLE) AS revenue, c_acctbal, n_name
    FROM (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
    )
    ORDER BY rev DESC, c_custkey LIMIT 20
""")
def _q76_tpch_q10(spark, sf):
    """TPC-H Q10 shape: returned-item revenue per customer, deterministic
    top 20 (revenue DECIMAL end-to-end; tiebreak on custkey; top-k via
    orderBy().limit() → TakeOrderedAndProject, no global sort)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
            ).alias("revenue_dec")
        )
    )
    return (
        rev.orderBy(F.desc("revenue_dec"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("revenue_dec").cast("double").alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@query("""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45' AND p_size < 30
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
""")
def _q77_tpch_q16(spark, sf):
    """TPC-H Q16 shape: distinct suppliers per (brand, size) excluding a
    supplier subset (NOT IN → left_anti). Distinct count via
    dropDuplicates + count (two-level, no Expand)."""
    part = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#45") & (F.col("p_size") < 30)
    )
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    bad = _t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    good = li.join(bad, "l_suppkey", "left_anti")
    return (
        good.join(part, good.l_partkey == part.p_partkey)
        .select("p_brand", "p_size", "l_suppkey")
        .dropDuplicates()
        .groupBy("p_brand", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
    )


@query("""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
""")
def _q81_tpch_q4_shape(spark, sf):
    """TPC-H Q4 shape: order-priority checking via a correlated-condition
    left-semi join (EXISTS lineitem shipped >60 days after order)."""
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query("""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
""")
def _q82_tpch_q12_shape(spark, sf):
    """TPC-H Q12 shape: join + conditional aggregation (high/low priority
    line counts per return flag)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query("""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
""")
def _q83_tpch_q19_shape(spark, sf):
    """TPC-H Q19 shape: disjunctive brand/size/quantity predicate across a
    broadcast part join — Catalyst splits the common p_partkey conjunct
    into the join key and evaluates the OR post-join."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#11") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#12") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#13") & s.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query("""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1996-12-31 00:00:00'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
""")
def _q98_tpch_q7_shape(spark, sf):
    """TPC-H Q7 shape (volume shipping): revenue flow between a nation
    pair by ship year — two broadcast nation lookups, pair-OR filter,
    decimal-exact revenue."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") <= "1996-12-31")
    )
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("s_nationkey"),
                                   F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"),
                                   F.col("n_name").alias("cust_nation")))
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(n1, "s_nationkey")
        .join(n2, "c_nationkey")
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc))
            .cast("double")
            .alias("revenue")
        )
    )


@query("""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority != '1-URGENT') o
        ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) GROUP BY c_count
""")
def _q99_tpch_q13_shape(spark, sf):
    """TPC-H Q13 shape: distribution of per-customer order counts (left
    join keeps zero-order customers; two-level aggregation)."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query("""
    WITH brand_li AS (
      SELECT l.* FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
    ), avg_q AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_q
      FROM brand_li GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_items
    FROM brand_li b JOIN avg_q a ON a.l_partkey = b.l_partkey
    WHERE b.l_quantity < 0.2 * a.avg_q
""")
def _q100_tpch_q17_shape(spark, sf):
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems below
    0.2× their part's average quantity, for one brand. The per-part
    average is aggregated only over the brand's lineitems (semi-filter
    first — never a full-corpus agg for a 0.1% brand slice)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_q = brand_li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
         / F.count(F.lit(1))).alias("avg_q")
    )
    return (
        brand_li.join(F.broadcast(avg_q), "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_q"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0)
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query("""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(sum_qty AS DOUBLE) AS sum_qty
    FROM big JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 100
""")
def _q101_tpch_q18_shape(spark, sf):
    """TPC-H Q18 shape (large-volume orders): orders whose total quantity
    exceeds 250, joined back to customer, top-100 by price —
    TakeOrdered, never a global sort."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query("""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,4))) END) AS DOUBLE)
             AS nation_volume,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_volume,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,4))) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
    GROUP BY 1
""")
def _q113_tpch_q8_shape(spark, sf):
    """TPC-H Q8 shape (national market share): NATION_3 suppliers' share
    of ASIA customers' 1995-1996 revenue by order year — conditional
    decimal sum over the same aggregation, share as one double division."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") <= "1996-12-31")
    )
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select(F.col("n_nationkey").alias("c_nationkey"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    vol = dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia_nations), "c_nationkey")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation), "s_nationkey")
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)).cast("double").alias("nation_volume"),
            F.sum(vol).cast("double").alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
    )


@query("""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,4))) END) AS DOUBLE)
             AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_revenue,
           100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,4))) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS promo_ratio
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
""")
def _q114_tpch_q14_shape(spark, sf):
    """TPC-H Q14 shape (promotion revenue ratio): one pass, conditional
    decimal sum / total, broadcast part lookup."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    vol = dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", vol)).cast("double").alias("promo_revenue"),
            F.sum(vol).cast("double").alias("total_revenue"),
        )
        .withColumn(
            "promo_ratio", F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")
        )
    )


@query("""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
""")
def _q115_tpch_q15_shape(spark, sf):
    """TPC-H Q15 shape (top supplier): per-supplier period revenue, keep
    the max — revenue kept DECIMAL until output so the max-equality join
    is exact (double ties would be unreliable)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-04-01")
    )
    supp = _t(spark, sf, "supplier")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc)).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
    )


@query("""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n_name
""")
def _q118_tpch_q5(spark, sf):
    """TPC-H Q5 (local supplier volume): ASIA 1995 revenue where supplier
    and customer share a nation. Dims broadcast; the only large shuffle
    is lineitem⨝orders. Completes the join surface of SURVEY §2.9 with
    the multi-equality join condition (l_suppkey AND c_nationkey)."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    asia = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    vol = dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(asia), supp.s_nationkey == asia.n_nationkey)
    )
    return joined.groupBy("n_name").agg(F.sum(vol).cast("double").alias("revenue"))


@query("""
    WITH cand AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ), enriched AS (
      SELECT l_partkey, s_acctbal, s_name, n_name
      FROM cand
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), best AS (
      SELECT l_partkey, MAX(s_acctbal) AS best_bal FROM enriched GROUP BY l_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type
    FROM enriched
    JOIN best USING (l_partkey)
    JOIN part ON l_partkey = p_partkey
    WHERE s_acctbal = best_bal AND p_size = 15
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
""")
def _q119_tpch_q2_shape(spark, sf):
    """TPC-H Q2 shape (best supplier per part): the testdata has no
    partsupp, so the catalog is DISTINCT (part, supplier) pairs from
    lineitem and "best" is max s_acctbal. The plan shape is the point:
    per-group argmax as agg + equality join back on the group key
    (tie-keeping, deterministic, shuffles on l_partkey both sides so AQE
    can reuse the exchange) — never a global window. Deterministic
    LIMIT 100 via a total sort key."""
    pairs = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region")
    part = _t(spark, sf, "part").filter(F.col("p_size") == 15)
    europe = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        nation.n_regionkey == region.r_regionkey,
    ).select("n_nationkey", "n_name")
    cand = pairs.join(F.broadcast(supp), pairs.l_suppkey == supp.s_suppkey).join(
        F.broadcast(europe), supp.s_nationkey == europe.n_nationkey
    )
    best = cand.groupBy("l_partkey").agg(F.max("s_acctbal").alias("best_bal"))
    return (
        cand.join(best, "l_partkey")
        .filter(F.col("s_acctbal") == F.col("best_bal"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query("""
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,4)))
                    - CAST('0.2' AS DECIMAL(3,2))
                      * CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
""")
def _q120_tpch_q9_shape(spark, sf):
    """TPC-H Q9 shape (product-type profit): no ps_supplycost, so cost is
    proxied as 20% of p_retailprice × quantity. All arithmetic DECIMAL
    until the output cast (exact, oracle-stable); part/supplier/nation
    broadcast, single big shuffle on the orders join."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    part = _t(spark, sf, "part").filter(F.col("p_name").contains("gear")).select("p_partkey", "p_retailprice")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = F.col("l_discount").cast("decimal(18,4)")
    vol = dec_price * (F.lit(1).cast("decimal(18,4)") - dec_disc)
    cost = (
        F.lit("0.2").cast("decimal(3,2)")
        * F.col("p_retailprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    supp_nation = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select(F.col("s_suppkey"), F.col("n_name").alias("supp_nation"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("supp_nation").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(vol - cost).cast("double").alias("sum_profit"))
    )


@query("""
    WITH per_part AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM per_part
    WHERE part_value > (SELECT SUM(part_value) * CAST('0.001' AS DECIMAL(6,3))
                        FROM per_part)
""")
def _q121_tpch_q11_shape(spark, sf):
    """TPC-H Q11 shape (important stock): per-part value held by
    NATION_1 suppliers, keeping parts whose value exceeds 0.1% of the
    grand total. The scalar-subquery threshold becomes a 1-row broadcast
    cross join — no second scan of the grouped data, no collect."""
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    n1_supp = supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_1")),
        supp.s_nationkey == nation.n_nationkey,
    ).select("s_suppkey")
    value = F.col("l_extendedprice").cast("decimal(18,2)")
    per_part = (
        li.join(F.broadcast(n1_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("part_value"))
    )
    total = per_part.agg(
        (F.sum("part_value") * F.lit("0.001").cast("decimal(6,3)")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )


@query("""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#1'
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 100
    )
""")
def _q122_tpch_q20_shape(spark, sf):
    """TPC-H Q20 shape (excess-availability suppliers): suppliers that
    shipped > 500 units of Brand#1 parts in 1995, reported as a LEFT SEMI
    join into supplier — the aggregate feeds a semi-join, nothing from
    the big side is carried past the groupBy."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    )
    part = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    supp = _t(spark, sf, "supplier")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return supp.join(
        heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query("""
    WITH fli AS (
      SELECT l_orderkey, l_suppkey, l_returnflag
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_fail
      FROM fli GROUP BY l_orderkey
    ), culprits AS (
      SELECT DISTINCT f.l_orderkey, f.l_suppkey
      FROM fli f JOIN per_order p ON f.l_orderkey = p.l_orderkey
      WHERE f.l_returnflag = 'R' AND p.n_supp > 1 AND p.n_fail = 1
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM culprits JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
""")
def _q123_tpch_q21_shape(spark, sf):
    """TPC-H Q21 shape (waiting suppliers): the classic double
    EXISTS/NOT-EXISTS correlation rewritten as one per-order aggregate —
    n_suppliers and n_returning_suppliers per finished order — joined
    back to the returning lines. One shuffle on l_orderkey replaces two
    correlated scans; the scale-right rewrite for 100 TB."""
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    li = _t(spark, sf, "lineitem").join(
        orders, F.col("l_orderkey") == orders.o_orderkey
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_fail"),
    )
    culprits = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_fail") == 1)), "l_orderkey")
    )
    supp = _t(spark, sf, "supplier")
    return (
        culprits.join(F.broadcast(supp), culprits.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query("""
    SELECT c_nationkey AS cntrycode,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9)
      AND CAST(c_acctbal AS DECIMAL(12,2))
            * (SELECT CAST(COUNT(*) AS DECIMAL(10,0)) FROM customer WHERE c_acctbal > 0)
          > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
""")
def _q124_tpch_q22_shape(spark, sf):
    """TPC-H Q22 shape (global sales opportunity): odd-nation customers
    with above-average positive balance and no URGENT orders — scalar AVG
    as a 1-row broadcast, then a LEFT ANTI join against filtered orders. Balance sums
    in DECIMAL so the aggregate is order-insensitive."""
    cust = _t(spark, sf, "customer")
    orders = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    # Division-free above-average test (ADVICE r2): comparing the raw
    # double against a float AVG is partition-order-dependent at the
    # boundary. `bal * n > sum` over exact decimals is the same predicate
    # with every step exact integer arithmetic on both engines.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(12,2)")).alias("sum_pos"),
        F.count(F.lit(1)).cast("decimal(10,0)").alias("n_pos"),
    )
    return (
        cust.filter(F.col("c_nationkey").isin(1, 3, 5, 7, 9))
        .crossJoin(F.broadcast(avg_bal))
        .filter(
            F.col("c_acctbal").cast("decimal(12,2)") * F.col("n_pos")
            > F.col("sum_pos")
        )
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
    )


# q189: orphan counts via NOT EXISTS — the anti-join twin.
@query("""
    SELECT 'lineitem->orders' AS relationship,
           CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (
      SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
    FROM customer c WHERE NOT EXISTS (
      SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
""")
def _q189_referential_integrity(spark, sf):
    """Referential-integrity audit across the warehouse's FK chain —
    the data-quality staple run after every load: child rows whose
    foreign key has no parent (anti-join counts), per relationship.
    Anti-joins broadcast the parent key set when it fits and AQE
    handles the rest; each relationship is one join, no windows."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    checks = [
        ("lineitem->orders", li.select(F.col("l_orderkey").alias("k")),
         orders.select(F.col("o_orderkey").alias("k"))),
        ("orders->customer", orders.select(F.col("o_custkey").alias("k")),
         cust.select(F.col("c_custkey").alias("k"))),
        ("customer->nation", cust.select(F.col("c_nationkey").cast("long").alias("k")),
         nation.select(F.col("n_nationkey").cast("long").alias("k"))),
    ]
    rows = []
    for rel, child, parent in checks:
        rows.append(
            child.join(parent.distinct(), "k", "left_anti").agg(
                F.lit(rel).alias("relationship"),
                F.count(F.lit(1)).alias("n_orphans"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out
