"""Full-fidelity TPC-H forms for the ladder fixtures.

The driver's fixtures stop at l_shipdate and carry no partsupp, so five
TPC-H shapes in the main registry (q119-q124, COVERAGE.md fidelity
table) run on documented stand-ins. The ladder fixtures
(``tools/gen_testdata.py``) carry the real columns (partsupp,
l_commitdate/l_receiptdate/l_shipmode, c_phone, p_container), and this
family holds the full-fidelity forms, oracle-checked against DuckDB on
those fixtures only (``tools/check_oracle.py --registry ladder``).
``queries()`` leaves this family out: these queries would fail on the
driver's fixtures by construction."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par


@query("""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_receiptdate > l_commitdate
    )
    GROUP BY o_orderpriority
""")
def _l081_tpch_q4_full(spark, sf):
    """TPC-H Q4, FULL fidelity (upgrades q81's shipped->60d lateness
    proxy): order-priority checking with the REAL commit/receipt dates —
    orders having at least one line received after its commitment,
    counted by priority. EXISTS compiles to a left-semi join on the
    pruned late-line scan (predicate pushed to parquet)."""
    orders = _t(spark, sf, "orders")
    late_orders = (
        _t_par(spark, sf, "lineitem")
        .filter(F.col("l_receiptdate") > F.col("l_commitdate"))
        .select("l_orderkey")
    )
    return (
        orders.join(late_orders, orders.o_orderkey == late_orders.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query("""
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipmode IN ('MAIL','SHIP')
      AND l_commitdate < l_receiptdate
      AND l_shipdate < l_commitdate
    GROUP BY l_shipmode
""")
def _l082_tpch_q12_full(spark, sf):
    """TPC-H Q12, FULL fidelity (upgrades q82's priority-by-shipdate
    stand-in): shipping-mode priority split over the REAL mode and date
    columns — lines shipped before commitment and received after it, by
    MAIL/SHIP mode, counting high- vs low-priority orders. One join, one
    conditional agg; the three date predicates push to the lineitem scan."""
    li = _t_par(spark, sf, "lineitem").filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
    )
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(hi.cast("long")).alias("high_line_count"),
            F.sum((~hi).cast("long")).alias("low_line_count"),
        )
    )


@query("""
    WITH boxed AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#23' AND p_container = 'MED BOX'
    ),
    avgs AS (
      SELECT l_partkey, SUM(l_quantity) / COUNT(*) AS avg_qty
      FROM boxed GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM boxed JOIN avgs USING (l_partkey)
    WHERE l_quantity < 0.2 * avg_qty
""")
def _l100_tpch_q17_full(spark, sf):
    """TPC-H Q17, FULL fidelity (upgrades q100's brand-only filter):
    small-quantity-order revenue for one brand in MED BOX containers,
    lines below 20% of the part's average quantity. The correlated AVG
    is a per-part grouped aggregate broadcast back (exact: whole-number
    double sums); output = decimal revenue sum cast double / 7.0 plus
    the qualifying line count (the single-row Q17 surface)."""
    part = _t(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_container") == "MED BOX")
    )
    li = _t_par(spark, sf, "lineitem").join(
        F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    small = li.join(F.broadcast(avg_qty), "l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0)
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query("""
    WITH cand AS (
      SELECT p_partkey, s_suppkey, s_name, n_name, s_acctbal, ps_supplycost
      FROM partsupp
      JOIN part ON p_partkey = ps_partkey
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      JOIN region ON r_regionkey = n_regionkey
      WHERE p_size = 15 AND p_type LIKE '%STEEL' AND r_name = 'EUROPE'
    )
    SELECT p_partkey, s_suppkey, s_name, n_name, s_acctbal,
           ps_supplycost AS supplycost
    FROM cand
    WHERE ps_supplycost = (
      SELECT MIN(ps_supplycost) FROM cand c2 WHERE c2.p_partkey = cand.p_partkey
    )
""")
def _l119_tpch_q2_full(spark, sf):
    """TPC-H Q2, FULL fidelity (upgrades q119's lineitem-derived catalog
    stand-in): minimum-supply-cost supplier per part over the REAL
    partsupp table, European suppliers, size-15 STEEL parts. The
    correlated min-cost subquery is a window min over ps_partkey (keyed,
    distributed); region/nation/supplier dims broadcast onto partsupp —
    the only shuffle is the partkey window. No LIMIT: the full qualifying
    set with total-ordering keys is the deterministic oracle surface."""
    part = _t(spark, sf, "part").filter(
        (F.col("p_size") == 15) & F.col("p_type").endswith("STEEL")
    )
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    ps = _t(spark, sf, "partsupp")
    eu_supp = (
        supp.join(F.broadcast(nat.join(F.broadcast(reg),
                                       nat.n_regionkey == reg.r_regionkey)),
                  supp.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(F.broadcast(part.select("p_partkey")), ps.ps_partkey == F.col("p_partkey"))
        .join(eu_supp, ps.ps_suppkey == eu_supp.s_suppkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name",
                "ps_supplycost")
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "p_partkey", "s_suppkey", "s_name", "n_name", "s_acctbal",
            F.col("ps_supplycost").alias("supplycost"),
        )
    )


@query("""
    SELECT n_name AS nation,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
           CAST(SUM(
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
             - CAST(ps_supplycost AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2))
           ) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%spark%'
    GROUP BY 1, 2
""")
def _l120_tpch_q9_full(spark, sf):
    """TPC-H Q9, FULL fidelity (upgrades q120's 20%-of-retail cost
    proxy): product-type profit by nation and order month with the REAL
    ps_supplycost — amount = extprice·(1−disc) − ps_supplycost·qty, all
    decimal-exact, summed then cast to double (the q49 hashing
    convention). partsupp joins lineitem on the composite
    (partkey, suppkey) key — one shuffle each side; part filter
    broadcast-semi-prunes first."""
    li = _t_par(spark, sf, "lineitem")
    ps = _t(spark, sf, "partsupp")
    part = _t(spark, sf, "part").filter(F.col("p_name").contains("spark"))
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    orders = _t(spark, sf, "orders")
    amount = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
        - F.col("ps_supplycost").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .join(ps, (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@query("""
    WITH nat_ps AS (
      SELECT ps_partkey,
             CAST(ps_supplycost AS DECIMAL(18,2))
               * CAST(ps_availqty AS DECIMAL(18,0)) AS val
      FROM partsupp
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION07'
    ),
    tot AS (SELECT SUM(val) AS total_dec FROM nat_ps)
    SELECT ps_partkey, CAST(SUM(val) AS DOUBLE) AS stock_value
    FROM nat_ps CROSS JOIN tot
    GROUP BY ps_partkey, total_dec
    HAVING SUM(val) > total_dec * CAST('0.0003' AS DECIMAL(10,6))
""")
def _l121_tpch_q11_full(spark, sf):
    """TPC-H Q11, FULL fidelity (upgrades q121's lineitem-value proxy):
    important-stock parts — partsupp value (supplycost·availqty) per
    part within one nation, kept when above 0.03% of that nation's
    total. Threshold compare runs in EXACT decimals (value > total ·
    0.0003 as decimal multiply) with the one-row total broadcast; output
    value cast double last."""
    ps = _t(spark, sf, "partsupp")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation").filter(F.col("n_name") == "NATION07")
    val = (
        F.col("ps_supplycost").cast("decimal(18,2)")
        * F.col("ps_availqty").cast("decimal(18,0)")
    )
    nat_ps = ps.join(
        F.broadcast(
            supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .select("s_suppkey")
        ),
        ps.ps_suppkey == F.col("s_suppkey"),
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(F.sum(val).alias("val_dec"))
    total = nat_ps.agg(F.sum(val).alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("val_dec")
            > F.col("total_dec") * F.lit("0.0003").cast("decimal(10,6)")
        )
        .select("ps_partkey", F.col("val_dec").cast("double").alias("stock_value"))
    )


@query("""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty_shipped
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'spark%')
      GROUP BY l_partkey, l_suppkey
    ),
    qualified AS (
      SELECT DISTINCT ps_suppkey
      FROM partsupp
      JOIN shipped ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE ps_availqty > 0.5 * qty_shipped
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN qualified ON ps_suppkey = s_suppkey
    WHERE n_name = 'NATION03'
""")
def _l122_tpch_q20_full(spark, sf):
    """TPC-H Q20, FULL fidelity (upgrades q122's fixed shipped-quantity
    floor): suppliers in one nation holding availqty > 50% of the
    quantity they themselves shipped of promo-named parts. The correlated
    sum is a (partkey, suppkey) grouped aggregate inner-joined back to
    partsupp (inner = the SQL scalar-subquery NULL semantics: a pair with
    no shipments can never satisfy '> NULL'); part and nation prune
    broadcast-side first. 0.5·sum is exact (whole-number doubles)."""
    ps = _t(spark, sf, "partsupp")
    li = _t_par(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_name").startswith("spark"))
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation").filter(F.col("n_name") == "NATION03")
    shipped = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty_shipped"))
    )
    qualified = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey) & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty_shipped"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(qualified, supp.s_suppkey == qualified.ps_suppkey)
        .select("s_suppkey", "s_name")
    )


@query("""
    WITH prof AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_receiptdate > l_commitdate
                                 THEN l_suppkey END) AS n_late_supp
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    JOIN prof ON prof.l_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE l1.l_receiptdate > l1.l_commitdate
      AND prof.n_supp > 1 AND prof.n_late_supp = 1
      AND n_name = 'NATION01'
    GROUP BY s_name
""")
def _l123_tpch_q21_full(spark, sf):
    """TPC-H Q21, FULL fidelity (upgrades q123's returnflag lateness
    proxy): suppliers who were the ONLY supplier late (receipt >
    commit) on a finished multi-supplier order. The double
    EXISTS/NOT-EXISTS is the aggregate rewrite the stand-in already
    used — per order: n_supp = countDistinct(supplier),
    n_late_supp = countDistinct(supplier | late) — a late line counts
    iff n_supp > 1 AND n_late_supp = 1. One lineitem pass builds the
    per-order profile; the late lines join it and the supplier dim."""
    li = _t_par(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation").filter(F.col("n_name") == "NATION01")
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    prof = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    late_lines = (
        li.filter(late)
        .join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(prof, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        late_lines.join(
            F.broadcast(
                supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
                .select("s_suppkey", "s_name")
            ),
            late_lines.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query("""
    WITH pool AS (
      SELECT c_custkey, SUBSTRING(c_phone, 1, 2) AS cntrycode,
             CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer
      WHERE SUBSTRING(c_phone, 1, 2) IN ('13','31','23','29','30','18','17')
    ),
    stats AS (
      SELECT SUM(bal) AS total_dec, CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM pool WHERE bal > 0
    )
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal) AS DOUBLE) AS totacctbal
    FROM pool CROSS JOIN stats
    WHERE bal * n_pos > total_dec
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY cntrycode
""")
def _l124_tpch_q22_full(spark, sf):
    """TPC-H Q22, FULL fidelity (upgrades q124's nationkey odd-set
    stand-in): global-sales-opportunity over the REAL c_phone country
    codes — customers in 7 codes with above-average positive balances
    and no orders. The average compare is EXACT: bal·n > total (decimal
    × bigint both sides) instead of a double AVG whose summation order
    could flip a borderline row between engines. Anti-join prunes
    order-holders; output sums cast double last."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").select("o_custkey")
    codes = ["13", "31", "23", "29", "30", "18", "17"]
    cc = F.substring("c_phone", 1, 2)
    pool = cust.filter(cc.isin(codes)).select(
        "c_custkey", cc.alias("cntrycode"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    stats = pool.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("total_dec"), F.count(F.lit(1)).alias("n_pos")
    )
    return (
        pool.crossJoin(F.broadcast(stats))
        .filter(F.col("bal") * F.col("n_pos") > F.col("total_dec"))
        .join(orders, pool.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
    )
