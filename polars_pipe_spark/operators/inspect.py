"""Descriptive statistics: the reference's ``describe_lf`` re-expressed.

Reference (src/polars_pipe/core/inspect.py:29-48): ``lf.describe()`` cast
all-string, then vstack one extra row per custom statistic (default:
null_proportion, n_unique). Output shape: long-format — one row per
statistic, one string column per data column, leading "statistic" column.

Spark design:
- Two aggregations over the input, collected in ONE action (the reference
  evaluates the plan once per custom statistic, inspect.py:43-46):
  1. the nine built-ins — count/null_count/mean/std/min/max and one
     percentile call per column that answers all three quantiles (one
     buffer per column, not per (column, quantile));
  2. the custom statistics.
  They are kept apart because a DISTINCT aggregate (the default
  ``n_unique`` is ``countDistinct``) makes Catalyst rewrite its whole
  aggregate into an ``Expand`` with one projection per distinct column;
  the built-ins' object-buffer percentiles must not ride through it.
  Each aggregation's one row is reshaped to long format in Spark, the two
  are unioned and collected, and the ~11-row table is rebuilt locally
  from Arrow (a JVM-side relation: jobs that read it start no Python
  worker).
- Percentiles are EXACT (``percentile``) for oracle parity at test
  scale; pass ``approx=True`` for the 100 TB path
  (``percentile_approx``) — SURVEY.md §2.6 A1.
- Numeric stats on non-numeric columns are NULL-valued cells (Polars
  describe shows null there too); every cell is cast to string in Spark.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _null_proportion(c: str) -> Column:
    return F.sum(F.col(c).isNull().cast("long")) / F.count(F.lit(1))


def _n_unique(c: str) -> Column:
    return F.countDistinct(F.col(c))


CUSTOM_STATISTICS: dict[str, Callable[[str], Column]] = {
    "null_proportion": _null_proportion,
    "n_unique": _n_unique,
}


_STATS = ["count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max"]
_QUANTILES = ["25%", "50%", "75%"]
_PERCENTAGES = "array(0.25D, 0.5D, 0.75D)"


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _long_stats(row: DataFrame, rows: list[list[str | None]], first: int) -> DataFrame:
    """Reshape the one-row aggregate ``row`` to one row per statistic:
    ``pos`` (``first`` + its index, the statistic's place in the table),
    then positional cells ``c0``..``c{n-1}`` — positional so any input
    column name works. ``rows[j][i]`` is a SQL expression over ``row``'s
    columns, or None for a null cell.

    Cells are cast to string here, after the aggregate has written them as
    their own type: a decimal quantile indexed out of
    ``percentile_approx``'s array is only rescaled to its column's type
    there (cast inside the aggregate, ``0.00`` prints as ``0.0``)."""
    args = []
    for j, cells in enumerate(rows):
        args.append(str(first + j))
        args += [f"CAST({e or 'NULL'} AS STRING)" for e in cells]
    names = ", ".join(["pos", *(f"c{i}" for i in range(len(rows[0])))])
    return row.selectExpr(f"stack({len(rows)}, {', '.join(args)}) AS ({names})")


def _builtin_stats(df: DataFrame, approx: bool) -> DataFrame:
    """The nine built-in rows. No DISTINCT aggregate, hence no ``Expand``:
    each column's percentiles are ONE call over the three quantiles,
    indexed after the aggregation.

    Written as SQL text in one ``selectExpr``: every Column-API call is a
    py4j round trip (1-2 ms each on a 4-core host), and building these
    ~10 cells per column through it took ~1.2 s per call for 18 columns."""

    def pct(c: str) -> str:
        if approx:  # 10000: the Column API's default accuracy
            return f"percentile_approx({c}, {_PERCENTAGES}, 10000)"
        return f"percentile({c}, {_PERCENTAGES})"

    aggs: list[str] = []
    rows: dict[str, list[str | None]] = {s: [] for s in _STATS}
    for i, f in enumerate(df.schema.fields):
        c = _quote(f.name)
        num = isinstance(f.dataType, _NUMERIC)
        orderable = not isinstance(f.dataType, (T.MapType, T.StructType, T.ArrayType))
        exprs = {
            "count": f"count({c})",
            "null_count": f"sum(CAST(({c} IS NULL) AS BIGINT))",
            "mean": f"avg({c})" if num else None,
            "std": f"stddev_samp({c})" if num else None,
            "min": f"min({c})" if orderable else None,
            "max": f"max({c})" if orderable else None,
            "pct": pct(c) if num else None,
        }
        aggs += [f"{e} AS {k}_{i}" for k, e in exprs.items() if e]
        for s in _STATS:
            if s in _QUANTILES:
                rows[s].append(f"pct_{i}[{_QUANTILES.index(s)}]" if num else None)
            else:
                rows[s].append(f"{s}_{i}" if exprs[s] else None)
    return _long_stats(df.selectExpr(*aggs), list(rows.values()), 0)


def _custom_stats(
    df: DataFrame, custom_statistics: dict[str, Callable[[str], Column]]
) -> DataFrame:
    """One row per custom statistic, placed after the built-ins."""
    names = [
        [f"_{j}_{i}" for i in range(len(df.columns))] for j in range(len(custom_statistics))
    ]
    # one toDF call names every cell (an alias per cell is a py4j call each)
    row = df.agg(*[fn(c) for fn in custom_statistics.values() for c in df.columns])
    return _long_stats(row.toDF(*[n for ns in names for n in ns]), names, len(_STATS))


def describe_df(
    df: DataFrame,
    custom_statistics: dict[str, Callable[[str], Column]] = CUSTOM_STATISTICS,
    approx: bool = False,
) -> DataFrame:
    """Long-format stats table: rows = count, null_count, mean, std, min,
    25%, 50%, 75%, max, then one row per custom statistic; columns =
    "statistic" + every input column, all strings."""
    cols = df.columns
    long = _builtin_stats(df, approx)
    if custom_statistics:
        long = long.unionAll(_custom_stats(df, custom_statistics))
    rows = sorted(long.collect(), key=lambda r: r.pos)

    table = pa.Table.from_arrays(
        [pa.array(_STATS + list(custom_statistics), pa.string())]
        + [pa.array([r[f"c{i}"] for r in rows], pa.string()) for i in range(len(cols))],
        names=["statistic", *cols],
    )
    schema = T.StructType(
        [T.StructField("statistic", T.StringType())]
        + [T.StructField(c, T.StringType()) for c in cols]
    )
    # A stats table has ~11 rows — one partition, one output file.
    return df.sparkSession.createDataFrame(table, schema).coalesce(1)


def k_anonymity_report(
    df: "DataFrame",
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> "DataFrame":
    """Privacy re-identification audit before a dataset release:
    k-anonymity (every combination of quasi-identifier values — the
    equivalence class — must cover ≥ k rows) and, when
    ``sensitive_col`` is given, l-diversity (distinct sensitive values
    within each class).

    One summary row: total rows, class count, the smallest class, rows
    sitting in classes below ``k`` (the re-identifiable population) and
    their integer-exact ppm share, plus ``min_l``. Shape: a single
    groupBy over the quasi columns followed by a global 1-row aggregate
    of per-class counts — two map-side-combinable stages; the widest
    intermediate is one row per equivalence class. No quasi-identifier
    VALUES leave the executors (the summary is counts only), which is
    the point for a privacy audit at 100 TB.
    """
    per_class = [
        F.count(F.lit(1)).alias("__size"),
    ]
    if sensitive_col is not None:
        per_class.append(F.countDistinct(sensitive_col).alias("__l"))
    classes = df.groupBy(*quasi_cols).agg(*per_class)
    aggs = [
        F.sum("__size").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__size").cast("long").alias("min_class_size"),
        F.sum(F.when(F.col("__size") < k, F.col("__size")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_below_k"),
    ]
    if sensitive_col is not None:
        aggs.append(F.min("__l").cast("long").alias("min_l"))
    out = classes.agg(*aggs)
    # integer floor-division: double-quotient-then-cast would hit the
    # Spark-truncates / DuckDB-rounds cast seam
    return out.withColumn(
        "below_k_ppm",
        F.expr(
            "CASE WHEN n_rows > 0 THEN "
            "CAST((rows_below_k * 1000000) DIV n_rows AS BIGINT) END"
        ),
    )
