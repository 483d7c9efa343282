"""Tests of the benchmark's own measuring code, on committed synthetic data.

    python3 -m pytest perfbench/tests -q

``data/spans.json`` is two traced ``run_pipeline`` passes; ``data/eventlog.jsonl``
is a Spark event log whose jobs ran under some of those spans' job groups,
plus one job with no group (work outside any span).
"""

from __future__ import annotations

import json
import os
import sys
import time
import types
from pathlib import Path

import pytest
from pyspark import cloudpickle

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import proctree  # noqa: E402
import rollup  # noqa: E402
import spans as spans_mod  # noqa: E402

DATA = HERE / "data"
PASSES = 2


@pytest.fixture(scope="module")
def spans() -> list[dict]:
    return json.loads((DATA / "spans.json").read_text())


@pytest.fixture(scope="module")
def groups() -> dict:
    return rollup.group_metrics(rollup.load_events(str(DATA / "eventlog.jsonl")))


def test_union_length_merges_overlaps():
    assert rollup.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert rollup.union_length([]) == 0.0


def test_self_time_is_duration_minus_child_coverage(spans):
    selfs = rollup.self_times(spans)
    assert selfs == pytest.approx({1: 1.5, 2: 0.5, 3: 5.0, 4: 2.0, 5: 1.0, 6: 1.5, 7: 3.5})


def _root_time(spans: list[dict]) -> float:
    return sum(sp["end"] - sp["start"] for sp in spans if sp["parent"] is None)


def test_self_times_sum_to_root_time(spans):
    assert sum(rollup.self_times(spans).values()) == pytest.approx(_root_time(spans))


def test_overlapping_children_are_not_double_counted():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},  # overruns its parent
    ]
    assert rollup.self_times(spans)[1] == pytest.approx(1.0)


def test_group_metrics_from_event_log(groups):
    g = groups["perfbench-3"]
    assert g["jobs"] == 1 and g["tasks"] == 3
    assert g["exec_cpu_s"] == pytest.approx(0.3)
    assert g["shuffle_bytes"] == 3000 and g["spill_bytes"] == 50
    assert g["python_bytes"] == 500
    assert g["expand_rows"] == 40  # only the Expand node's row counter
    assert g["files_read_bytes"] == 4096  # driver-side scan metric, via execution 1
    assert groups["perfbench-4"]["tasks"] == 1
    assert set(groups) == {"perfbench-3", "perfbench-4"}  # ungrouped job ignored


def test_task_skew_is_max_over_median():
    assert rollup.task_skew({0: [100, 100, 400]}) == pytest.approx(4.0)
    assert rollup.task_skew({0: [50]}) == 0.0  # single-task stages have no skew


def test_rollup_per_layer_per_pass(spans, groups):
    layers = rollup.rollup(spans, groups, PASSES)
    pipe, io, ins = layers["services.pipeline"], layers["adapters.io"], layers["operators.inspect"]
    assert pipe["calls"] == 1 and pipe["busy_s"] == pytest.approx(7.5)
    assert pipe["self_s"] == pytest.approx(1.5)
    assert io["calls"] == 1.5 and io["busy_s"] == pytest.approx(1.75)
    assert io["self_s"] == pytest.approx(1.75)
    assert ins["self_s"] == pytest.approx(4.25)
    assert ins["jobs"] == 0.5 and ins["tasks"] == 1.5
    assert ins["exec_cpu_s"] == pytest.approx(0.15)
    assert ins["task_skew"] == pytest.approx(4.0)
    assert ins["expand_rows"] == 40  # totals, not per pass: ratios are built from them
    assert io["jobs"] == 0.5


def test_layer_self_times_sum_to_traced_wall_within_slack(spans, groups):
    """Per-pass layer self times add up to the traced wall time per pass.
    The synthetic passes last 10.2 s and 5.1 s: 0.3 s of loop time between
    operations is in no span, inside the stated slack."""
    from layer_metrics import SELF_TIME_SLACK, self_time_gap

    pass_walls = [10.2, 5.1]
    layers = rollup.rollup(spans, groups, PASSES)
    per_pass = sum(row["self_s"] for row in layers.values())
    assert per_pass == pytest.approx(_root_time(spans) / PASSES)
    gap = self_time_gap(spans, sum(pass_walls))
    assert gap == pytest.approx(0.3 / 15.3)
    assert gap <= SELF_TIME_SLACK


def test_every_layer_metric_has_a_unit():
    from layer_metrics import UNITS

    names = {m for ms in rollup.LAYER_METRICS.values() for m in ms}
    assert all(m.endswith("_s") or m in UNITS for m in names)
    assert sum(len(ms) for ms in rollup.LAYER_METRICS.values()) == 117


# -- spans -----------------------------------------------------------------


class FakeContext:
    def __init__(self) -> None:
        self.props: dict[str, str | None] = {}
        self.calls: list[tuple[str, str | None]] = []

    def setLocalProperty(self, key: str, value: str | None) -> None:  # noqa: N802
        self.calls.append((key, value))
        self.props[key] = value


def _fake_module() -> types.ModuleType:
    mod = types.ModuleType("polars_pipe_spark._perfbench_fake")

    def helper(x):
        return x + 1

    def outer(x):
        return mod.helper(x) * 2

    helper.__module__ = outer.__module__ = mod.__name__
    mod.helper, mod.outer = helper, outer
    return mod


def test_tracer_spans_and_job_groups():
    sc = FakeContext()
    tracer = spans_mod.Tracer(sc)
    mod = _fake_module()
    sys.modules[mod.__name__] = mod
    try:
        tracer.patch(mod, "functions.fake")
        with tracer.span("registry", "q1"):
            assert mod.outer(1) == 4
        tracer.unpatch()
        assert not isinstance(mod.outer, spans_mod._Traced)
    finally:
        del sys.modules[mod.__name__]
    by_name = {sp.name: sp for sp in tracer.spans}
    root, outer, helper = (by_name[n] for n in
                           ("q1", "functions.fake.outer", "functions.fake.helper"))
    assert outer.parent == root.id and helper.parent == outer.id
    # a new layer gets its own group; the same layer nested keeps it
    assert outer.group != root.group and helper.group == outer.group
    assert sc.calls == [
        ("spark.jobGroup.id", root.group),
        ("spark.jobGroup.id", outer.group),
        ("spark.jobGroup.id", root.group),
        ("spark.jobGroup.id", None),
    ]


def test_traced_function_pickles_as_the_original():
    tracer = spans_mod.Tracer(FakeContext())
    tracer.patch(json, "fake", ["dumps"])
    try:
        wrapped = json.dumps
        assert isinstance(wrapped, spans_mod._Traced)
        assert cloudpickle.loads(cloudpickle.dumps(wrapped)) is wrapped  # a lookup
    finally:
        tracer.unpatch()
    assert cloudpickle.loads(cloudpickle.dumps(wrapped)) is json.dumps


# -- process tree ---------------------------------------------------------


def test_tree_sampler_counts_cpu_of_the_tree():
    with proctree.TreeSampler(interval=0.05) as sampler:
        sampler.begin()
        pid = os.fork()
        if pid == 0:  # child: burn CPU, then exit without cleanup
            end = time.process_time() + 0.6
            while time.process_time() < end:
                pass
            os._exit(0)
        time.sleep(0.3)
        assert pid in proctree.tree_snapshot(os.getpid())
        os.waitpid(pid, 0)
        cpu_s, peak_mb = sampler.end()
    assert cpu_s >= 0.2
    assert peak_mb > 1
