#!/usr/bin/env python3
"""The repository benchmark: end-to-end metrics, or per-layer metrics traced.

    python3 perfbench/run.py --workload pipeline_etl --seed 1 --seconds 30 --trace 0

Run it from the repository root. One run is one process with its own
SparkSession (``local[<cores>]``, the repository's default ``get_spark()``
settings); the workloads are described in ``perfbench/workloads.json``.

1. Set-up, three times: make the inputs from ``--seed`` with the
   repository's generators, start a SparkSession and read every input
   once. The first set-up launches the JVM; the next two stop the session
   and start a new one in the same JVM. ``setup_s`` is the median.
2. Timed region: a closed loop with one client runs passes over the
   workload's operations until ``--seconds`` have passed. One pass of
   ``pipeline_etl`` is one ``run_pipeline`` call; one pass of
   ``registry_mix`` is every query once.
3. Outside the timed region every recorded output is compared with an
   oracle (DuckDB); a mismatch counts in ``wrong_results``.

With ``--trace 0`` the last line holds the end-to-end metrics; the line
before it is a report that also names ``failed_share``, ``wrong_results``,
the input sizes and, for ``pipeline_etl``, ``out_bytes_per_in_byte``.

With ``--trace 1`` the run makes four passes: cold, untraced, traced,
untraced. The traced pass wraps the program's public functions in spans
(``spans.py``) and the Spark event log is on for the whole run; the last
line holds the per-layer metrics of the traced pass (``rollup.py``) and the
tracing overhead (traced pass minus the mean of its untraced neighbours),
and the spans plus a per-query breakdown are written to
``.perfbench_work/trace-<workload>-<seed>.json``.

Exit status: 0 with a result line; 2 when the program's sources are not
next to ``perfbench/`` (no result is printed then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"
SETUPS = 3
TRACED_PASS = 2  # with --trace 1: passes 0 (cold) and 1, 3 run untraced
REQUIRED = ["polars_pipe_spark/session.py", "__spark_entry__.py", "tools/gen_testdata.py",
            "tools/gen_dupmass.py", "tools/check_oracle.py"]

def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the program
    importable here and in Spark's Python workers."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'} "
            "-XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(workload, seed: int, work: Path, conf: dict, i: int):
    from polars_pipe_spark import get_spark

    t0 = time.perf_counter()
    info = workload.make_inputs(seed, work / f"inputs{i}")
    t1 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t2 = time.perf_counter()
    workload.warm_up(spark)
    t3 = time.perf_counter()
    return spark, info, {"inputs_s": t1 - t0, "session_s": t2 - t1,
                         "warm_up_s": t3 - t2, "setup_s": t3 - t0}


def jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # the gateway is gone: the JVM died
        return False


def timed_passes(workload, spark, seconds: float, sampler, tracer=None) -> dict:
    """Closed loop of passes for ``seconds``. With a tracer the passes are
    fixed instead: cold, untraced, traced, untraced; the traced pass is
    compared with the mean of its two neighbours, so JIT warming over the
    run biases the overhead neither way."""
    ops = workload.ops(spark)
    # start the region from a collected heap, so set-up garbage does not
    # decide when the JVM next grows its heap
    spark.sparkContext._jvm.System.gc()
    passes: list[dict] = []
    attempted = failed = 0
    crashed = False
    sampler.begin()
    start = time.perf_counter()
    while not crashed:
        traced = tracer is not None and len(passes) == TRACED_PASS
        if traced:
            workload.install_tracing(tracer)
        workload.tracer = tracer if traced else None
        cpu0, t0 = sampler.cpu(), time.perf_counter()
        op_s = {}
        for k, op in enumerate(ops):
            attempted += 1
            op_start = time.perf_counter()
            try:
                if traced and op.root:
                    with tracer.span(op.layer, op.name):
                        op.fn()
                else:
                    op.fn()
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
                if not jvm_alive(spark):
                    rest = len(ops) - k - 1
                    attempted += rest
                    failed += rest
                    crashed = True
                    break
            finally:
                op_s[op.name] = time.perf_counter() - op_start
        t1, cpu1 = time.perf_counter(), sampler.cpu()
        if traced:
            tracer.unpatch()
        workload.tracer = None
        passes.append({"wall_s": t1 - t0, "cpu_s": cpu1 - cpu0, "traced": traced,
                       "op_s": op_s})
        if tracer is not None:
            done = len(passes) == TRACED_PASS + 2
        else:
            done = time.perf_counter() - start >= seconds
        if done:
            break
    _, peak_mb = sampler.end()
    return {"passes": passes, "attempted": attempted, "failed": failed, "crashed": crashed,
            "peak_rss_mb": peak_mb}


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process left under this one."""
    from pyspark import SparkContext

    from proctree import tree_snapshot

    try:
        spark.stop()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    me = os.getpid()
    for _ in range(50):
        left = [p for p in tree_snapshot(me) if p != me]
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ProcessLookupError, ChildProcessError):
                pass
        time.sleep(0.1)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: the program is not here (missing {missing})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS  # noqa: E402 (needs nothing from the program)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = WORK_ROOT / f"run-{os.getpid()}"
    prepare(work)
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


def run(args: argparse.Namespace, work: Path) -> tuple[dict, dict]:
    from proctree import TreeSampler
    from workloads import WORKLOADS

    workload = WORKLOADS[args.workload](work)
    trace = bool(args.trace)
    conf = spark_conf(work, trace)
    setups = []
    spark = None
    with TreeSampler() as sampler:
        try:
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                spark, info, timing = set_up(workload, args.seed, work, conf, i)
                setups.append(timing)
            tracer = None
            if trace:
                from spans import Tracer

                tracer = Tracer(spark.sparkContext)
            loop = timed_passes(workload, spark, args.seconds, sampler, tracer)
            checked, wrong, problems = (0, 0, ["not checked: the JVM crashed"])
            if not loop["crashed"]:
                shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
                app_id = spark.sparkContext.applicationId
                checked, wrong, problems = workload.check(spark)
        finally:
            if spark is not None:
                stop_spark(spark)

    # the first pass runs in a fresh session, as a job submitted on its own
    # does; later passes (longer --seconds, or traced runs) are reported
    passes = loop["passes"]
    first = passes[0]
    warm_plain = [p for p in passes[1:] if not p["traced"]]
    rows = info["rows"] if isinstance(info["rows"], int) else info["total_rows"]
    e2e = {
        "setup_s": metric(statistics.median(s["setup_s"] for s in setups), "s"),
        "wall_s": metric(first["wall_s"], "s"),
        "rows_per_s": metric(rows / first["wall_s"], "1/s"),
        "cpu_s": metric(first["cpu_s"], "s"),
        "peak_rss_mb": metric(loop["peak_rss_mb"], "MB"),
    }
    attempted, failed = loop["attempted"], loop["failed"]
    report_e2e = dict(e2e)
    report_e2e["failed_share"] = metric(failed / attempted, "ratio")
    report_e2e["wrong_results"] = metric(wrong, "count")
    if getattr(workload, "outputs", None):
        written, _ = workload.written()
        report_e2e["out_bytes_per_in_byte"] = metric(
            written / (info["bytes"] * len(workload.outputs)), "ratio")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": info, "input_rows": rows, "setups": setups,
        "passes": passes, "attempted": attempted, "failed": failed,
        "outputs_checked": checked, "problems": problems[:10],
        "end_to_end": report_e2e,
    }
    correct = wrong == 0 and failed == 0 and checked > 0
    result = {"correct": correct, "attempted": attempted, "failed": failed}
    if not trace:
        result["metrics"] = e2e
        return report, result

    from layer_metrics import layer_metrics, zero_metrics

    if loop["crashed"]:
        result["metrics"] = zero_metrics()
        return report, result
    layers, trace_doc = layer_metrics(
        workload, tracer, passes, info, setups, shuffle_partitions,
        work / "eventlog" / app_id, statistics.median(p["wall_s"] for p in warm_plain))
    report["trace"] = {k: trace_doc[k] for k in ("overhead_s", "traced_wall_s",
                                                  "self_time_gap", "self_time_slack")}
    WORK_ROOT.mkdir(exist_ok=True)
    trace_path = WORK_ROOT / f"trace-{args.workload}-{args.seed}.json"
    trace_path.write_text(json.dumps(trace_doc, default=str))
    report["trace"]["file"] = str(trace_path.relative_to(ROOT))
    result["metrics"] = layers
    return report, result


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
