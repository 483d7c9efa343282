"""Pin tools/profile_query.py: its per-query totals are perfbench's event-log
roll-up, its top stage is the stage with the most task time, and the
committed headline profile covers the headline query list."""

from __future__ import annotations

import copy
import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from bench import HEADLINE  # noqa: E402
from perfbench.rollup import group_metrics, load_events  # noqa: E402
from tools.profile_query import TOTALS, summarize  # noqa: E402

EVENTLOG = ROOT / "perfbench" / "tests" / "data" / "eventlog.jsonl"


@pytest.fixture(scope="module")
def events() -> list[dict]:
    return load_events(str(EVENTLOG))


def test_totals_are_group_metrics(events):
    groups = group_metrics(events)
    summary = summarize(events)
    assert set(summary) == set(groups) == {"perfbench-3", "perfbench-4"}
    for group, row in summary.items():
        assert {k: row[k] for k in TOTALS} == {k: groups[group][k] for k in TOTALS}


def test_top_stage_of_committed_log(events):
    top = summarize(events)["perfbench-3"]["top_stage"]
    assert top == {
        "stage": 0, "tasks": 3, "exec_s": pytest.approx(0.6),
        "max_task_s": pytest.approx(0.4), "max_over_median": pytest.approx(4.0),
        "shuffle_write_bytes": 3000,
    }
    assert summarize(events)["perfbench-3"]["stage_tasks"] == [3]


def _with_extra_stage(events: list[dict], run_ms: int) -> list[dict]:
    """The committed log plus a second perfbench-3 stage (id 5) of two
    tasks of ``run_ms`` each, 7 shuffle bytes written per task."""
    task = next(ev for ev in events if ev["Event"] == "SparkListenerTaskEnd")
    extra = [{"Event": "SparkListenerJobStart", "Job ID": 9, "Stage IDs": [5],
              "Properties": {"spark.jobGroup.id": "perfbench-3"}}]
    for _ in range(2):
        ev = copy.deepcopy(task)
        ev["Stage ID"] = 5
        ev["Task Metrics"]["Executor Run Time"] = run_ms
        ev["Task Metrics"]["Shuffle Write Metrics"] = {"Shuffle Bytes Written": 7}
        extra.append(ev)
    return events + extra


@pytest.mark.parametrize("run_ms,stage", [(400, 5), (200, 0)])
def test_top_stage_has_most_task_time(events, run_ms, stage):
    row = summarize(_with_extra_stage(events, run_ms))["perfbench-3"]
    top = row["top_stage"]
    assert top["stage"] == stage
    if stage == 5:
        assert top["tasks"] == 2 and top["shuffle_write_bytes"] == 14
        assert top["exec_s"] == pytest.approx(0.8)
    assert row["stage_tasks"] == [3, 2]


def test_headline_profile_covers_headline():
    doc = json.loads((ROOT / "scaling" / "profile_headline.json").read_text())
    assert set(doc["queries"]) == set(HEADLINE)
    for name, row in doc["queries"].items():
        assert "error" not in row, name
        assert row["top_stage"] and row["top_stage"]["tasks"] >= 1, name
        assert row["jobs"] >= 1 and row["tasks"] >= 1, name
