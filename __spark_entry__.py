"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps each implemented operator from SURVEY.md §2 (plus the
LLM-data-pipeline extensions) to a runnable Spark query over the driver's
testdata tables; ``oracle_sql()`` holds the DuckDB-equivalent SQL. Column
names are aliased identically on both sides (the driver sorts columns by
name and value-hashes). Each query is declared once, beside its oracle,
in a family module under ``polars_pipe_spark/registry/``.

Determinism policy for oracle parity:
- Money/double AGGREGATES are computed over DECIMAL casts (exact,
  order-independent) then divided/rounded identically on both sides.
  Per-row double arithmetic is bitwise-identical across engines and needs
  no such care.
- Every query has a total deterministic output set (no LIMIT without
  unique full ordering; ties broken by keys).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from polars_pipe_spark.registry import registered

_LADDER = "polars_pipe_spark.registry.ladder"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the config-driven pipeline capability end-to-end as a
    query — validate lineitem, derive revenue, aggregate TPC-H-Q1-style."""
    return queries()["q13_tpch_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: fn for k, fn in registered().items() if fn.__module__ != _LADDER}


def oracle_sql() -> dict[str, str]:
    return {k: fn.oracle for k, fn in queries().items()}


def ladder_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Full-fidelity TPC-H registry — requires the ladder fixture schema
    (partsupp, commit/receipt dates, shipmode, c_phone, p_container). NOT
    part of queries(): driver fixtures lack these columns by design."""
    return {k: fn for k, fn in registered().items() if fn.__module__ == _LADDER}


def ladder_oracle_sql() -> dict[str, str]:
    return {k: fn.oracle for k, fn in ladder_queries().items()}
