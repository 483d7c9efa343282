"""Round-14 hardening pins (r13 verdict tasks 2, 5, 7 + ADVICE):

- the Python-worker memory bound is actually configured (task 2 — the
  q33 sf10 crash watch retires into config, not adjudication);
- gen_testdata's per-(table, column) RNG streams mean schema growth can
  never again shift existing fixture values (task 5 — the r13 trap that
  forced regenerating every rung together), and the partsupp PK is
  genuinely unique per part (r13 ADVICE: the old stride collided);
- the noise rule's hard-crossing branch still fires inside a uniformly
  FAST run (task 7 — the mirror of the uniform-slow downgrade tier).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from tools.noise_rule import evaluate  # noqa: E402


class TestWorkerMemoryBound:
    """r13 verdict task 2. The watch named spark.python.worker.memory,
    but that conf only gates RDD-aggregation spill (never used here);
    the knob that BOUNDS an Arrow/pandas worker is
    spark.executor.pyspark.memory — exported as
    PYSPARK_EXECUTOR_MEMORY_MB and applied by every worker as its own
    RLIMIT_AS (pyspark/worker_util.py:setup_memory_limits), so a
    runaway mapInPandas kernel MemoryErrors in its task instead of
    OOM-killing the host mid-sweep."""

    def test_pyspark_worker_memory_is_bounded(self, spark):
        assert spark.conf.get("spark.executor.pyspark.memory") == "4g"

    def test_worker_reuse_pinned(self, spark):
        assert spark.conf.get("spark.python.worker.reuse") == "true"


class TestGeneratorStreamDecoupling:
    """r13 verdict task 5: per-column RNG streams. Generating WITHOUT
    the r13 extension columns must leave every base column value-
    identical — the property that makes future schema growth safe for
    already-committed rungs."""

    def _gen_pair(self, tmp_path):
        from tools.gen_testdata import generate

        ext, noext = tmp_path / "ext", tmp_path / "noext"
        generate(0.001, str(ext), include_extensions=True)
        generate(0.001, str(noext), include_extensions=False)
        return ext, noext

    def test_base_columns_identical_with_and_without_extensions(self, tmp_path):
        ext, noext = self._gen_pair(tmp_path)
        for t in ("lineitem", "customer", "part", "orders"):
            a = pq.read_table(ext / f"{t}.parquet")
            b = pq.read_table(noext / f"{t}.parquet")
            assert a.select(b.column_names).equals(b), t
        assert not (noext / "partsupp.parquet").exists()

    def test_partsupp_pk_unique_per_part(self, tmp_path):
        """r13 ADVICE: the old stride ns//4 + 1 repeated a supplier
        within one part's 4 rows whenever ns divided k*(ns//4 + 1)
        (e.g. ns=12), breaking the TPC-H PK and fanning out the Q9
        composite-key join. The generator now asserts uniqueness
        itself; this pins the assert's survival plus the property on a
        generated fixture."""
        from tools.gen_testdata import generate

        out = tmp_path / "ps"
        generate(0.001, str(out))
        ps = pq.read_table(out / "partsupp.parquet")
        pairs = list(
            zip(ps.column("ps_partkey").to_pylist(), ps.column("ps_suppkey").to_pylist())
        )
        assert len(pairs) == len(set(pairs))


class TestUniformFastCrossing:
    """r13 verdict task 7: the rel-ratio divisor is clamped at 1.0, so
    in a uniformly FAST run (median ratio « 1 — e.g. a broad genuine
    speedup) a single regressed query must still read its ABSOLUTE
    ratio and fire the hard-crossing branch — the mirror image of the
    uniform-slow downgrade cases in test_cap_oracle_replay."""

    BASELINE = {"queries": {f"q{i}": 1.0 for i in range(6)} | {"q_bad": 1.0}}

    def test_crossing_fires_in_uniform_fast_run(self):
        current = {
            "regime": "ok",
            "queries": {f"q{i}": 0.5 for i in range(6)} | {"q_bad": 2.0},
            "spread": {"q_bad": 0.2},
        }
        rep = evaluate(current, self.BASELINE)
        assert rep["uniform_slow"] is False
        assert rep["verdicts"]["q_bad"]["verdict"] == "crossed"
        assert rep["crossed"] == ["q_bad"]
        assert rep["overall"] == "regressed"

    def test_uniform_fast_run_without_regression_is_ok(self):
        current = {
            "regime": "ok",
            "queries": {k: 0.5 for k in self.BASELINE["queries"]},
            "spread": {},
        }
        rep = evaluate(current, self.BASELINE)
        assert rep["overall"] == "ok"
        assert rep["crossed"] == []
