"""Stats-table tests (model: reference tests/core/test_inspect.py golden
describe table — here asserted against exact expected values for the
employee fixture, string-typed long format)."""

from __future__ import annotations

import decimal
import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_pipe_spark.operators.inspect import CUSTOM_STATISTICS, describe_df

STATS = ["count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max"]


def as_map(stats_df):
    rows = stats_df.collect()
    return {r.statistic: r.asDict() for r in rows}


def reference_describe(df, custom_statistics=CUSTOM_STATISTICS, approx=False):
    """The one-aggregation formula describe_df replaced: every (statistic,
    column) cell as its own aggregate, one percentile call per quantile.
    Kept as the reference its cells are compared against."""
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType)
    num = {f.name for f in df.schema.fields if isinstance(f.dataType, numeric)}
    orderable = {f.name for f in df.schema.fields
                 if not isinstance(f.dataType, (T.MapType, T.StructType, T.ArrayType))}
    pct = F.percentile_approx if approx else F.percentile
    per = {
        "count": lambda c: F.count(F.col(c)),
        "null_count": lambda c: F.sum(F.col(c).isNull().cast("long")),
        "mean": lambda c: F.mean(F.col(c)) if c in num else None,
        "std": lambda c: F.stddev_samp(F.col(c)) if c in num else None,
        "min": lambda c: F.min(F.col(c)) if c in orderable else None,
        "25%": lambda c: pct(F.col(c), 0.25) if c in num else None,
        "50%": lambda c: pct(F.col(c), 0.5) if c in num else None,
        "75%": lambda c: pct(F.col(c), 0.75) if c in num else None,
        "max": lambda c: F.max(F.col(c)) if c in orderable else None,
        **custom_statistics,
    }
    aggs = []
    for j, fn in enumerate(per.values()):
        for i, c in enumerate(df.columns):
            e = fn(c)
            e = F.lit(None) if e is None else e
            aggs.append(e.cast("string").alias(f"_{j}_{i}"))
    row = df.agg(*aggs).collect()[0]
    return {
        s: {c: row[f"_{j}_{i}"] for i, c in enumerate(df.columns)}
        for j, s in enumerate(per)
    }


def assert_same_cells(got, want):
    """Byte-identical cells, except mean/std: those may differ by
    summation order only (relative 1e-12)."""
    assert list(got) == list(want)
    for s, row in want.items():
        for c, w in row.items():
            g = got[s][c]
            if s in ("mean", "std") and g is not None and w is not None and g != w:
                assert math.isclose(float(g), float(w), rel_tol=1e-12), (s, c, g, w)
            else:
                assert g == w, (s, c, g, w)


def _empty(spark):
    return spark.createDataFrame([], "v double, n long, s string, d decimal(10,2)")


def _all_null(spark):
    return spark.createDataFrame(
        [(None, None, None, 1.0), (None, None, None, 2.0)],
        "n long, v double, s string, k double",
    )


def _nan_and_negative_zero(spark):
    return spark.createDataFrame(
        [(float("nan"),), (-0.0,), (0.0,), (2.5,), (None,), (-1.0,), (float("nan"),)],
        "v double",
    )


def _decimal(spark):
    vals = ["12.34", "-0.01", "99999999.99", None, "0.00", "7.50", "7.50"]
    return spark.createDataFrame(
        [(decimal.Decimal(v) if v else None, i) for i, v in enumerate(vals)],
        "d decimal(10,2), i int",
    )


class TestCellsMatchReference:
    @pytest.mark.parametrize(
        "make", [_empty, _all_null, _nan_and_negative_zero, _decimal],
        ids=["empty", "all-null", "nan-and-negative-zero", "decimal"],
    )
    @pytest.mark.parametrize("approx", [False, True], ids=["exact", "approx"])
    def test_frame(self, spark, make, approx):
        df = make(spark)
        got = as_map(describe_df(df, approx=approx))
        want = reference_describe(df, approx=approx)
        if approx and make is _nan_and_negative_zero:
            # percentile_approx over NaN and signed zeros depends on the
            # order partial buffers merge in: the reference formula itself
            # returns other quantiles at other partition counts, so these
            # three cells are no function of the input to compare
            for m in (got, want):
                for s in ("25%", "50%", "75%"):
                    m[s]["v"] = None
        assert_same_cells(got, want)

    @pytest.mark.parametrize("approx", [False, True], ids=["exact", "approx"])
    def test_struct_column(self, employees, approx):
        assert_same_cells(as_map(describe_df(employees, approx=approx)),
                          reference_describe(employees, approx=approx))

    def test_empty_frame_counts_zero(self, spark):
        m = as_map(describe_df(_empty(spark)))
        assert {m["count"][c] for c in ("v", "n", "s", "d")} == {"0"}
        assert m["50%"]["v"] is None and m["n_unique"]["s"] == "0"

    def test_column_names_needing_quotes(self, spark):
        """Built-in cells are SQL text over quoted names: spaces, dots,
        backticks and SQL-ish names reach their own column."""
        names = ["a b", "p.q", "t`ick", "25%"]
        df = spark.createDataFrame([(1.0, 2.0, 3.0, 4.0), (2.0, 4.0, 6.0, 8.0)], names)
        m = as_map(describe_df(df, custom_statistics={}))
        assert [m["mean"][c] for c in names] == ["1.5", "3.0", "4.5", "6.0"]
        assert [m["max"][c] for c in names] == ["2.0", "4.0", "6.0", "8.0"]

    def test_schema_is_all_strings(self, employees):
        out = describe_df(employees)
        assert out.columns == ["statistic", *employees.columns]
        assert {f.dataType for f in out.schema.fields} == {T.StringType()}
        assert out.rdd.getNumPartitions() == 1


class TestDescribe:
    def test_shape_and_exact_values(self, spark):
        df = spark.createDataFrame(
            [(0.0, "x"), (1.0, "y"), (2.0, None)], "v double, s string"
        )
        m = as_map(describe_df(df))
        assert list(m) == [
            "count", "null_count", "mean", "std", "min", "25%", "50%", "75%", "max",
            "null_proportion", "n_unique",
        ]
        assert m["count"]["v"] == "3"
        assert m["count"]["s"] == "2"  # F.count skips nulls (Polars counts non-null too)
        assert m["null_count"]["s"] == "1"
        assert m["mean"]["v"] == "1.0"
        assert m["25%"]["v"] == "0.5"  # exact linear-interp percentile
        assert m["50%"]["v"] == "1.0"
        assert m["mean"]["s"] is None  # non-numeric → null cell
        assert m["min"]["s"] == "x"
        assert m["null_proportion"]["s"] == str(1 / 3)
        assert m["n_unique"]["v"] == "3"

    def test_custom_distinct_beside_non_distinct(self, employees):
        """A DISTINCT custom statistic next to a plain one: cells as the
        reference computes them, rows in ``stats + list(custom)`` order."""
        custom = {
            "n_rows": lambda c: F.count(F.lit(1)),
            "n_distinct": lambda c: F.countDistinct(F.col(c)),
            "n_null": lambda c: F.sum(F.col(c).isNull().cast("int")),
        }
        got = as_map(describe_df(employees, custom_statistics=custom))
        assert list(got) == STATS + list(custom)
        assert_same_cells(got, reference_describe(employees, custom))
        assert got["n_distinct"]["age"] == "4" and got["n_rows"]["name"] == "5"

    def test_no_custom_statistics(self, employees):
        got = as_map(describe_df(employees, custom_statistics={}))
        assert list(got) == STATS
        assert_same_cells(got, reference_describe(employees, {}))

    def test_custom_statistics(self, employees):
        m = as_map(
            describe_df(
                employees,
                custom_statistics={"n_distinct_ages": lambda c: F.countDistinct(F.col(c))},
            )
        )
        assert "n_distinct_ages" in m
        assert m["n_distinct_ages"]["age"] == "4"

    def test_single_job(self, employees):
        # the whole table comes back in a single collect (plan shape is
        # pinned in test_plan_properties.py); smoke-check a frame with
        # struct cols present (struct cols get null numeric cells).
        m = as_map(describe_df(employees))
        assert m["mean"]["projects"] is None
        assert m["count"]["projects"] == "5"
