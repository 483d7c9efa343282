"""Registry queries over the ``adapters.io`` layer (file sources, partitioned
layout) and the ``services`` pipeline it feeds."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t


@query("""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem GROUP BY l_returnflag
""")
def _q43_csv_source(spark, sf):
    """S2: CSV source path — stage a CSV copy of lineitem columns via the
    IO adapter, read it back (header + schema inference), aggregate."""
    import tempfile

    from polars_pipe_spark.adapters.io import IOWrapper

    io = IOWrapper(spark)
    staged = tempfile.mkdtemp(prefix="pps_csv_") + "/lineitem_csv"
    _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    ).write.mode("overwrite").option("header", True).csv(staged)
    df = io.read(staged, "csv")
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query("""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_totalprice > 400000
""")
def _q44_json_source(spark, sf):
    """S3: JSON source path — stage an NDJSON copy of orders columns, read
    through the IO adapter, filter + project."""
    import tempfile

    from polars_pipe_spark.adapters.io import IOWrapper

    io = IOWrapper(spark)
    staged = tempfile.mkdtemp(prefix="pps_json_") + "/orders_json"
    _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").json(staged)
    df = io.read(staged, "json")
    return df.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@query("""
    WITH validated AS (
      SELECT c_custkey,
             lower(trim(c_name)) AS customer_name,
             c_nationkey, c_acctbal,
             lower(trim(c_mktsegment)) AS c_mktsegment
      FROM customer WHERE c_acctbal > 0.0
    ), filtered AS (
      SELECT * FROM validated WHERE c_mktsegment != 'machinery'
    ), clipped AS (
      SELECT c_custkey, customer_name, c_nationkey,
             LEAST(GREATEST(c_acctbal, 100.0), 8000.0) AS c_acctbal,
             c_mktsegment
      FROM filtered
    ), m AS (
      SELECT ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_bal
      FROM clipped
    )
    SELECT c_custkey, customer_name, c_nationkey, c_acctbal, c_mktsegment,
           ROUND(c_acctbal, -2) AS bal_round, mean_bal
    FROM clipped CROSS JOIN m
""")
def _q45_pipeline_service(spark, sf):
    """The run_pipeline SERVICE end-to-end as an oracle-checked query:
    contract check -> lineage -> validation split -> normalise -> filter ->
    clip -> derive -> rename -> select, artifacts to in-memory IO; returns
    the transformed table minus engine-specific sys cols."""
    from polars_pipe_spark.adapters.io import FakeIOWrapper
    from polars_pipe_spark.services import run_pipeline

    io = FakeIOWrapper(spark, files={"/src": _t(spark, sf, "customer")})
    run_pipeline(
        io,
        {
            "process_name": "svc",
            "src_path": "/src",
            "src_file_type": "parquet",
            "dst_root": "/dst",
            "dst_file_type": "parquet",
            "validation": {"positive balance": ["c_acctbal", "gt", 0.0]},
            "transformations": {
                "filter_exprs": {"not machinery": ["c_mktsegment", "ne", "machinery"]},
                "clip_map": {"c_acctbal": [100.0, 8000.0]},
                "new_col_map": {
                    "bal_round": {"fn_name": "round", "fn_kwargs": {"col": "c_acctbal", "decimals": -2}},
                    "mean_bal": {"fn_name": "mean", "fn_kwargs": {"col": "c_acctbal"}},
                },
                "rename_map": {"c_name": "customer_name"},
            },
        },
    )
    out = io.files["/dst/abc-123/transformed_data"]
    out = out.drop(*[c for c in out.columns if c.startswith("sys_col")])
    return out.withColumn("mean_bal", F.round("mean_bal", 6))


@query("""
    SELECT n_regionkey, COUNT(*) AS n_nations FROM nation GROUP BY n_regionkey
""")
def _q65_orc_source(spark, sf):
    """S-extension: ORC source/sink round-trip through the IO adapter."""
    import tempfile

    from polars_pipe_spark.adapters.io import IOWrapper

    io = IOWrapper(spark)
    staged = tempfile.mkdtemp(prefix="pps_orc_") + "/nation_orc"
    _t(spark, sf, "nation").write.mode("overwrite").orc(staged)
    df = io.read(staged, "orc")
    return df.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n_nations"))


@query("""
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
""")
def _q67_text_source(spark, sf):
    """S-extension: line-oriented text source/sink round-trip through the
    IO adapter (the raw-corpus ingestion format — one document line per
    row, single `value` column)."""
    import tempfile

    from polars_pipe_spark.adapters.io import IOWrapper

    io = IOWrapper(spark)
    staged = tempfile.mkdtemp(prefix="pps_text_") + "/sources_txt"
    # source strings are newline-free, so they line-round-trip exactly
    io.write(_t(spark, sf, "documents").select("source"), staged, "text")
    df = io.read(staged, "text")
    return df.groupBy(F.col("value").alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query("""
    SELECT source, COUNT(*) AS n_docs FROM documents
    WHERE lang = 'en' GROUP BY source
""")
def _q102_partitioned_layout(spark, sf):
    """Hive-partitioned sink + pruned readback: documents written
    ``lang=…/``, re-read with a partition predicate — the scan opens
    only the matching directory (PartitionFilters, plan-asserted in
    tests); per-source counts returned."""
    import tempfile

    from polars_pipe_spark.adapters.io import write_parquet_partitioned

    docs = _t(spark, sf, "documents")
    dst = tempfile.mkdtemp(prefix="pps_part_") + "/docs"
    write_parquet_partitioned(docs, dst, ["lang"])
    back = spark.read.parquet(dst).filter(F.col("lang") == "en")
    return back.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


# q180: file counts are arithmetic — ceil(n/100) small files per
# source, and the testdata partitions compact to ONE ~1 GB-target file
# each (they are far below the target size).
@query("""
    SELECT source, COUNT(*) AS n_rows,
           CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_files_before,
           CAST(1 AS BIGINT) AS n_files_after
    FROM documents GROUP BY source
""")
def _q180_compaction_report(spark, sf):
    """Small-file lifecycle report (wires adapters/io.py::compact_parquet
    into a query): a fine-grained partitioned write (maxRecordsPerFile
    100) accretes ceil(n/100) files per source partition; the compaction
    job rewrites each partition dir into ~target-sized files. Report per
    source: rows, files before (counted via input_file_name — the audit
    a table-maintenance job runs), files after. File COUNTS are
    deterministic (sequential per-task splitting), so the lifecycle is
    oracle-checkable even though file contents are layout-dependent."""
    import tempfile

    from polars_pipe_spark.adapters.io import compact_parquet

    docs = _t(spark, sf, "documents")
    root = tempfile.mkdtemp(prefix="pps_compact_")
    (
        docs.repartition("source")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .partitionBy("source")
        .parquet(root)
    )
    # materialise the BEFORE audit eagerly: compaction atomically swaps
    # the files underneath, so a lazy plan re-read after the swap would
    # chase deleted paths. One bounded collect (a row per source).
    before = (
        spark.read.parquet(root)
        .select("source", F.input_file_name().alias("f"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("f").alias("n_files_before"),
        )
        .collect()
    )
    # r14: per-source compactions are INDEPENDENT Spark jobs on disjoint
    # directories; running them from a small thread pool lets the next
    # job's tasks back-fill executors left idle by the current job's
    # tail (guide-standard concurrent-jobs pattern). Output is
    # deterministic regardless of completion order: file counts derive
    # from row counts, and the report is sorted after the fact.
    from concurrent.futures import ThreadPoolExecutor

    def compact_one(r):
        return (
            r["source"],
            r["n_rows"],
            r["n_files_before"],
            compact_parquet(spark, f"{root}/source={r['source']}"),
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        rows = sorted(pool.map(compact_one, before))
    return spark.createDataFrame(
        rows,
        "source string, n_rows long, n_files_before long, n_files_after long",
    )
