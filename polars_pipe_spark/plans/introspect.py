"""Plan introspection: the engine's window into Catalyst.

The reference stores the optimized Polars plan text as a run artifact
(reference: src/polars_pipe/services/basic_pipeline.py:79) and its golden
tests assert plan text line-by-line. Spark plan text is version-fragile,
so this module exposes plan PROPERTIES (pushed filters, scanned columns,
join strategies) for tests and observability, plus the raw optimized-plan
text for the config artifact.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def optimized_plan_lines(df: DataFrame) -> list[str]:
    """Catalyst optimized logical plan as text lines (the config-artifact
    form, like the reference's ``explain().splitlines()``). Expression ids
    (``#123``, with the long-type ``L`` after them), lambda-variable
    suffixes (``lambda x_7``) and the plan ids of cached exchanges come
    from JVM-wide counters, so they are stripped: one config plans to the
    same lines whatever the process planned before."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+L?\b", "", text)
    text = re.sub(r"(lambda \w+?)_\d+\b", r"\1", text)
    return re.sub(r",? \[plan_id=\d+\]", "", text).splitlines()


def executed_plan(df: DataFrame) -> str:
    """Physical plan text (post-AQE top-level view)."""
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the datasource scan."""
    m = re.search(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))
    if not m or not m.group(1).strip():
        return []
    return [f.strip() for f in m.group(1).split(",")]


def scan_read_columns(df: DataFrame) -> list[str]:
    """Column names the parquet scan actually reads (pruning check)."""
    m = re.search(r"ReadSchema: struct<([^>]*)>", executed_plan(df))
    if not m or not m.group(1).strip():
        return []
    return [part.split(":")[0] for part in m.group(1).split(",")]


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names in the physical plan, outermost first."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        executed_plan(df),
    )
