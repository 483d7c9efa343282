"""Per-layer metrics of one traced run, and the trace file's contents."""

from __future__ import annotations

import statistics
from collections import defaultdict
from pathlib import Path

from rollup import LAYER_METRICS, group_metrics, load_events, rollup, self_times

SELF_TIME_SLACK = 0.05
UNITS = {
    "calls": "count", "jobs": "count", "tasks": "count", "files_written": "count",
    "shuffle_partitions": "count", "task_skew": "ratio", "row_amplification": "ratio",
    "read_amplification": "ratio", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "python_bytes": "bytes", "bytes_written": "bytes",
}


def _unit(metric: str) -> str:
    return "s" if metric.endswith("_s") else UNITS[metric]


def zero_metrics() -> dict[str, dict]:
    """Every per-layer metric at 0: the result of a run whose JVM crashed."""
    names = [f"{layer}.{m}" for layer, ms in LAYER_METRICS.items() for m in ms]
    return {n: {"value": 0.0, "unit": _unit(n.rsplit(".", 1)[1])}
            for n in names + ["trace.wall_s", "trace.overhead_s"]}


def self_time_gap(spans: list[dict], traced_wall_s: float) -> float:
    """|sum of all self times - traced wall time| as a share of the latter.
    Near 0 when the spans cover the traced passes: every second of a pass
    is then billed to exactly one layer."""
    return abs(sum(self_times(spans).values()) - traced_wall_s) / traced_wall_s


def per_root(spans: list[dict], groups: dict[str, dict]) -> dict[str, dict]:
    """Root span name (a query, or run_pipeline) -> mean wall time, mean
    self time per layer and mean Spark jobs of one call."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append(sp)
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for root in (sp for sp in spans if sp["parent"] is None):
        row = out.setdefault(root["name"], {"calls": 0, "wall_s": 0.0, "jobs": 0,
                                            "self_s": defaultdict(float)})
        row["calls"] += 1
        row["wall_s"] += root["end"] - root["start"]
        todo, seen_groups = [root], set()
        while todo:
            sp = todo.pop()
            row["self_s"][sp["layer"]] += selfs[sp["id"]]
            if sp["group"] and sp["group"] not in seen_groups:
                seen_groups.add(sp["group"])
                row["jobs"] += groups.get(sp["group"], {}).get("jobs", 0)
            todo.extend(kids.get(sp["id"], ()))
    for row in out.values():
        n = row["calls"]
        row["wall_s"] /= n
        row["jobs"] /= n
        row["self_s"] = {k: v / n for k, v in row["self_s"].items()}
    return out


def layer_metrics(workload, tracer, passes: list[dict], info: dict, setups: list[dict],
                  shuffle_partitions: str, event_log: Path, plain_wall_s: float):
    """(metrics for the result line, trace document)."""
    spans = [sp.to_dict() for sp in tracer.spans]
    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    groups = group_metrics(load_events(str(event_log)))
    layers = rollup(spans, groups, n)

    extra: dict[str, float] = {
        "session.start_s": statistics.median(s["session_s"] for s in setups),
        "session.shuffle_partitions": float(shuffle_partitions),
    }
    outputs = [o for o in getattr(workload, "outputs", []) if o["traced"]]
    if outputs:
        written, files = workload.written(outputs)
        extra["adapters.io.bytes_written"] = written / n
        extra["adapters.io.files_written"] = files / n
        sizing = [sp for sp in spans if sp["name"] == "adapters.io.estimate_rows_per_file"]
        extra["adapters.io.sizing_s"] = sum(sp["end"] - sp["start"] for sp in sizing) / n
        described = sum(o["described_rows"] for o in outputs)
        expand = layers.get("operators.inspect", {}).get("expand_rows", 0)
        extra["operators.inspect.row_amplification"] = expand / described if described else 0.0
        read = sum(v.get("files_read_bytes", 0) for v in layers.values())
        extra["services.pipeline.read_amplification"] = read / (info["bytes"] * len(outputs))

    traced_wall = statistics.median(p["wall_s"] for p in traced)
    metrics: dict[str, dict] = {}
    for layer, names in LAYER_METRICS.items():
        row = layers.get(layer, {})
        for m in names:
            key = f"{layer}.{m}"
            metrics[key] = {"value": extra.get(key, row.get(m, 0.0)), "unit": _unit(m)}
    metrics["trace.wall_s"] = {"value": traced_wall, "unit": "s"}
    metrics["trace.overhead_s"] = {"value": traced_wall - plain_wall_s, "unit": "s"}

    doc = {
        "traced_wall_s": traced_wall,
        "untraced_wall_s": plain_wall_s,
        "overhead_s": traced_wall - plain_wall_s,
        "self_time_gap": self_time_gap(spans, sum(p["wall_s"] for p in traced)),
        "self_time_slack": SELF_TIME_SLACK,
        "passes": passes,
        "layers": layers,
        "per_query": per_root(spans, groups),
        "spans": spans,
    }
    return metrics, doc
