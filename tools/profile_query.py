#!/usr/bin/env python
"""Stage-level profile of registry queries, read from the Spark event log.

Runs each named ``__spark_entry__.queries()`` entry into the noop sink under
its own job group ``profile-<query>``, then reads the run's event log back
through ``perfbench.rollup`` and reports per query:

- ``wall_s``; ``jobs``, ``tasks``, ``exec_cpu_s``;
- ``shuffle_bytes``, ``spill_bytes``, ``python_bytes``, ``task_skew``
  (the same definitions as the benchmark's per-layer metrics);
- ``stage_tasks``: the task count of every stage, in stage-id order;
- ``top_stage``: the stage with the largest summed task run time — its id,
  task count, executor seconds, max task seconds, max/median task time and
  shuffle bytes written.

Usage: python tools/profile_query.py [query ...]   # default: bench.HEADLINE
       python tools/profile_query.py q13_tpch_q1 q25_minhash_neardup --sf DIR
       python tools/profile_query.py --json scaling/profile_headline.json
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.rollup import group_metrics, load_events, task_skew  # noqa: E402

TOTALS = ("jobs", "tasks", "exec_cpu_s", "shuffle_bytes", "spill_bytes", "python_bytes")


def summarize(events: list[dict]) -> dict[str, dict]:
    """job group -> totals, task skew and top stage of the work run under it."""
    out = {}
    for group, g in group_metrics(events).items():
        row = {k: g[k] for k in TOTALS}
        row["task_skew"] = task_skew(g["stage_task_ms"])
        row["stage_tasks"] = [len(ms) for _, ms in sorted(g["stage_task_ms"].items())]
        row["top_stage"] = None
        if g["stage_task_ms"]:
            sid, ms = max(g["stage_task_ms"].items(), key=lambda kv: sum(kv[1]))
            med = statistics.median(ms)
            row["top_stage"] = {
                "stage": sid,
                "tasks": len(ms),
                "exec_s": sum(ms) / 1e3,
                "max_task_s": max(ms) / 1e3,
                "max_over_median": max(ms) / med if med else 0.0,
                "shuffle_write_bytes": sum(
                    ev["Task Metrics"].get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0)
                    for ev in events
                    if ev["Event"] == "SparkListenerTaskEnd"
                    and ev["Stage ID"] == sid and ev.get("Task Metrics")
                ),
            }
        out[group] = row
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="*", help="registry keys (default: bench.HEADLINE)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="testdata directory")
    ap.add_argument("--json", help="also write the profile to this path")
    args = ap.parse_args(argv)

    import __spark_entry__ as entry
    from bench import HEADLINE
    from polars_pipe_spark import get_spark

    qmap = entry.queries()
    names = args.queries or HEADLINE
    unknown = [n for n in names if n not in qmap]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    log_dir = tempfile.mkdtemp(prefix="profile_eventlog_")
    spark = get_spark(app_name="profile_query", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    # worker spawn and JIT warm-up run outside every query's job group
    spark.range(1000).count()
    spark.range(100).mapInPandas(lambda it: it, "id long").count()

    walls, errors = {}, {}
    try:
        for name in names:
            spark.catalog.clearCache()
            spark.sparkContext.setJobGroup(f"profile-{name}", name)
            t0 = time.perf_counter()
            try:
                qmap[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — profile the rest, report this one
                errors[name] = f"{type(e).__name__}: {e}"[:300]
            walls[name] = time.perf_counter() - t0
    finally:
        spark.stop()  # flushes and closes the event log

    (log,) = glob.glob(os.path.join(log_dir, "*"))
    groups = summarize(load_events(log))
    shutil.rmtree(log_dir)
    profile = {}
    for name in names:
        row = {"wall_s": round(walls[name], 3), **groups.get(f"profile-{name}", {})}
        if name in errors:
            row["error"] = errors[name]
        profile[name] = row
        top = row.get("top_stage") or {}
        print(f"{name:32s} {row['wall_s']:7.2f}s jobs={row.get('jobs', 0):3d} "
              f"tasks={row.get('tasks', 0):4d} cpu={row.get('exec_cpu_s', 0):6.2f}s "
              f"shuffle={row.get('shuffle_bytes', 0):>11,d} "
              f"skew={row.get('task_skew', 0):5.2f} top=stage {top.get('stage')} "
              f"{top.get('tasks', 0)} tasks {top.get('exec_s', 0):.2f}s "
              f"max/med {top.get('max_over_median', 0):.2f}"
              + (f"  ERROR {row['error']}" if "error" in row else ""))
    if args.json:
        doc = {
            "sf_dir": args.sf,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count(),
            "mem_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "queries": profile,
        }
        with open(args.json, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
