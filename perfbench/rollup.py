"""Spark event-log parsing and the per-layer roll-up of spans.

Input: the spans of a traced run (``spans.Span`` dicts) and the events of
the uncompressed, non-rolling Spark event log written by the same run.
Spans carry the job group they set; every stage submitted under that group
is billed to the span's layer.

Per layer, per traced pass (totals are divided by the number of passes):

- ``calls``: spans opened in the layer;
- ``busy_s``: wall time during which at least one span of the layer was open;
- ``self_s``: span time not covered by a child span, summed over the layer;
- ``jobs``, ``tasks``: Spark jobs and tasks run under the layer's groups;
- ``exec_cpu_s``: executor CPU time of those tasks;
- ``task_skew``: max / median task run time per stage, averaged over the
  layer's stages of two or more tasks, weighted by stage task time;
- ``shuffle_bytes``: shuffle bytes written; ``spill_bytes``: disk bytes spilled;
- ``python_bytes``: bytes sent to plus returned from Python workers (the
  ``data sent to / returned from Python workers`` SQL metrics).

Self times of all layers add up to the summed duration of the root spans.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from collections.abc import Iterable

A = ["calls", "busy_s", "self_s", "jobs", "tasks", "exec_cpu_s", "task_skew"]
B = ["shuffle_bytes", "spill_bytes"]
C = ["python_bytes"]
LAZY = ["calls", "busy_s"]

# layer -> metric names reported for it (every workload reports all of them;
# a layer a workload never enters reads 0)
LAYER_METRICS: dict[str, list[str]] = {
    "session": ["start_s", "shuffle_partitions"],
    "sources.tables": LAZY,
    "operators.validation": LAZY,
    "operators.transform": LAZY,
    "plans.introspect": LAZY,
    "adapters.io": A + B + ["bytes_written", "files_written", "sizing_s"],
    "operators.inspect": A + B + ["row_amplification"],
    "services.pipeline": A + ["read_amplification"],
    "functions.dedup": A + B + C,
    "functions.similarity": A + B + C,
    "functions.text": A + B + C,
    "functions.retrieval": A + B + C,
    "registry": A + B + C,
    "operators.joins": A + B,
    "operators.windows": A + B,
    "operators.aggregates": A + B,
}

PER_PASS = {
    "calls", "busy_s", "self_s", "jobs", "tasks", "exec_cpu_s",
    "shuffle_bytes", "spill_bytes", "python_bytes",
}

PYTHON_METRICS = {"data sent to Python workers", "data returned from Python workers"}
FILES_READ_METRIC = "size of files read"
ROWS_METRIC = "number of output rows"
_SQL = "org.apache.spark.sql.execution.ui."


def load_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


# -- spans -----------------------------------------------------------------


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it covered by child spans."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append((sp["start"], sp["end"]))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp["start"]), min(e, sp["end"]))
            for s, e in kids.get(sp["id"], ())
            if e > sp["start"] and s < sp["end"]
        ]
        out[sp["id"]] = (sp["end"] - sp["start"]) - union_length(clipped)
    return out


# -- event log -------------------------------------------------------------


def _plan_metric_ids(node: dict, acc: dict[str, set[int]]) -> None:
    for m in node.get("metrics", ()):
        if m["name"] == FILES_READ_METRIC:
            acc["files_read"].add(m["accumulatorId"])
        elif m["name"] == ROWS_METRIC and node.get("nodeName") == "Expand":
            acc["expand_rows"].add(m["accumulatorId"])
    for child in node.get("children", ()):
        _plan_metric_ids(child, acc)


def group_metrics(events: list[dict]) -> dict[str, dict]:
    """job group -> summed Spark metrics of the work run under it."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str] = {}
    ids: dict[str, set[int]] = {"files_read": set(), "expand_rows": set()}
    driver_updates: list[tuple[int, int, int]] = []
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
            eid = props.get("spark.sql.execution.id")
            if group and eid is not None:
                exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev["sparkPlanInfo"], ids)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                driver_updates.append((ev["executionId"], acc_id, value))

    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "exec_cpu_s": 0.0, "shuffle_bytes": 0,
        "spill_bytes": 0, "python_bytes": 0, "expand_rows": 0,
        "files_read_bytes": 0, "stage_task_ms": defaultdict(list),
    })
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                out[group]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if not group or not tm:
                continue
            g = out[group]
            g["tasks"] += 1
            g["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            g["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            g["stage_task_ms"][ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
            for acc in ev["Task Info"].get("Accumulables", ()):
                update = acc.get("Update")
                if not isinstance(update, (int, float)) and not (
                    isinstance(update, str) and update.lstrip("-").isdigit()
                ):
                    continue
                if acc.get("Name") in PYTHON_METRICS:
                    g["python_bytes"] += int(update)
                elif acc.get("ID") in ids["expand_rows"]:
                    g["expand_rows"] += int(update)
                elif acc.get("ID") in ids["files_read"]:
                    g["files_read_bytes"] += int(update)
    for eid, acc_id, value in driver_updates:
        if acc_id in ids["files_read"] and eid in exec_group:
            out[exec_group[eid]]["files_read_bytes"] += int(value)
    return dict(out)


def task_skew(stage_task_ms: dict[int, list[float]]) -> float:
    num = den = 0.0
    for times in stage_task_ms.values():
        if len(times) < 2:
            continue
        med = statistics.median(times)
        weight = sum(times)
        if med > 0 and weight > 0:
            num += weight * max(times) / med
            den += weight
    return num / den if den else 0.0


# -- roll-up ---------------------------------------------------------------


def rollup(spans: list[dict], groups: dict[str, dict], passes: int) -> dict[str, dict]:
    """layer -> {metric: value per pass} for the A/B/C metrics above, plus
    the raw ``expand_rows`` and ``files_read_bytes`` totals."""
    selfs = self_times(spans)
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for sp in spans:
        by_layer[sp["layer"]].append(sp)
    group_layer = {sp["group"]: sp["layer"] for sp in spans if sp["group"]}
    out: dict[str, dict] = {}
    for layer, members in by_layer.items():
        out[layer] = {
            "calls": len(members),
            "busy_s": union_length((sp["start"], sp["end"]) for sp in members),
            "self_s": sum(selfs[sp["id"]] for sp in members),
        }
    merged_stages: dict[str, dict[int, list[float]]] = defaultdict(dict)
    for group, g in groups.items():
        layer = group_layer.get(group)
        if layer is None:
            continue
        row = out.setdefault(layer, {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
        for k in ("jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "spill_bytes",
                  "python_bytes", "expand_rows", "files_read_bytes"):
            row[k] = row.get(k, 0) + g[k]
        merged_stages[layer].update(g["stage_task_ms"])
    for layer, row in out.items():
        row["task_skew"] = task_skew(merged_stages.get(layer, {}))
        for k in PER_PASS:
            if k in row:
                row[k] = row[k] / passes
    return out
