"""Round-12 hardening: cap-saturation oracle validity (r11 verdict
task 2 — generalize the q251 lesson) plus the pq_topk query-batch fence.

The q251 episode: an oracle that brute-forces the *idealized* algorithm
is only valid while the Spark side's cap/fence does not bind; the first
rung where it binds turns the oracle itself wrong.  Every capped path
needs either (a) the oracle to replay the cap contract in SQL, or (b) a
pin that the cap cannot bind at oracle-checked rungs.  r12 applies (a)
to the minhash band cap (`_q25_inner` in registry/_sql.py) — these tests
prove the SQL replay IS the contract by making the cap BIND on a
synthetic corpus and checking Spark == DuckDB-with-cap != DuckDB-naive.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


class TestMinhashCapOracleReplay:
    """The capped `_q25_inner` SQL is bit-equal to Spark's
    minhash_near_dups under a BINDING band cap."""

    def _corpus(self):
        # Four identical docs saturate every one of their shared band
        # buckets past cap=3; one near-dup pair (5, 6) stays reachable
        # through under-cap buckets; filler keeps the collapse guard
        # (minhash has none, but symmetry with the simhash test) moot.
        return [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "alpha beta gamma delta epsilon zeta"),
            (5, "one two three four five six seven eight"),
            (6, "one two three four five six seven nine"),
            (7, "totally different words in this document here"),
            (8, "yet another unrelated filler document text"),
        ]

    def _duck_pairs(self, rows, cap):
        from polars_pipe_spark.registry._sql import _q25_inner

        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        sql = (
            "SELECT * FROM (" + _q25_inner(cap) + ") WHERE jaccard >= 0.2"
        )
        out = con.execute(sql).fetchall()
        con.close()
        return {(r[0], r[1], round(r[2], 6)) for r in out}

    def test_sql_replay_matches_spark_when_cap_binds(self, spark):
        from polars_pipe_spark.functions.dedup import minhash_near_dups

        rows = self._corpus()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in minhash_near_dups(
                df, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4,
                threshold=0.2, max_band_members=3,
            ).collect()
        }
        capped_oracle = self._duck_pairs(rows, 3)
        naive_oracle = self._duck_pairs(rows, None)

        # the cap BINDS on this corpus: the naive (uncapped) oracle
        # keeps the identical-quad's pairs that the contract drops —
        # i.e. the naive oracle is WRONG here (the q251 class)
        assert naive_oracle != capped_oracle
        quad_pairs = {(a, b) for a, b, _ in naive_oracle if a <= 4 and b <= 4}
        assert len(quad_pairs) == 6  # C(4,2) identical-doc pairs
        assert not any(a <= 4 and b <= 4 for a, b, _ in capped_oracle)

        # the capped replay is exactly the Spark contract
        assert got == capped_oracle
        # and the reachable near-dup pair survives on both sides
        assert any((a, b) == (5, 6) for a, b, _ in got)

    def test_sql_replay_matches_spark_when_cap_does_not_bind(self, spark):
        from polars_pipe_spark.functions.dedup import minhash_near_dups

        rows = self._corpus()
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 6))
            for r in minhash_near_dups(
                df, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4,
                threshold=0.2, max_band_members=1000,
            ).collect()
        }
        # under-saturation, capped and naive oracles agree — the cap
        # CTE is a no-op until a bucket saturates
        assert self._duck_pairs(rows, 1000) == self._duck_pairs(rows, None)
        assert got == self._duck_pairs(rows, 1000)


class TestCapContractOracleTextPins:
    """The registered oracle strings carry the cap contract where the
    Spark side caps, and NOT where it deliberately doesn't."""

    def test_minhash_family_oracles_replay_the_cap(self):
        import __spark_entry__ as e

        oracles = e.oracle_sql()
        # every _Q25_BODY consumer whose Spark side runs
        # minhash_near_dups (default cap 1000) replays the cap
        for q in [
            "q25_minhash_neardup", "q63_dedup_clusters", "q73_dedup_apply",
            "q144_quality_rep_dedup", "q175_cluster_split",
            "q201_lsh_precision", "q234_dedup_survivorship",
            "q241_dup_graph_triangles", "q252_pagerank",
        ]:
            assert "n_members <= 1000" in oracles[q], q

    def test_incremental_neardup_oracle_stays_uncapped(self):
        import __spark_entry__ as e

        # q183's Spark side (incremental_near_dups) is uncapped by
        # design — its oracle must NOT replay a cap
        assert "n_members" not in e.oracle_sql()["q183_incremental_neardup"]

    def test_simhash_banded_oracle_replays_its_cap(self):
        import __spark_entry__ as e

        # the r11 q251 fix stays in place
        assert "1000" in e.oracle_sql()["q251_simhash_banded"]


class TestPqTopkQueryFence:
    """pq_topk's max_queries is a RAISE-type fence (loud, so a binding
    fence can never silently diverge from the oracle) — pin the raise."""

    def test_over_budget_raises_named_error(self, spark):
        from polars_pipe_spark.functions.similarity import pq_topk

        emb = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 5), 1.0, 0.5] * 4) for i in range(24)],
            "vec_id long, embedding array<double>",
        )
        # 2 subvectors of width 8, 2 codewords each — shape is all the
        # fence test needs
        codebooks = [
            [[0.0] * 8, [1.0] * 8],
            [[0.0] * 8, [1.0] * 8],
        ]
        with pytest.raises(ValueError, match="max_queries"):
            pq_topk(
                emb, emb, "embedding", "vec_id", "vec_id",
                codebooks=codebooks, k=2, max_queries=8,
            ).collect()


class TestBandCapReport:
    """q285's kernel: the saturation report counts exactly the buckets
    _cap_band_buckets would drop."""

    def test_report_counts_binding_buckets(self, spark):
        from polars_pipe_spark.functions.dedup import band_cap_report

        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "alpha beta gamma delta epsilon zeta"),
            (5, "one two three four five six seven eight"),
            (6, "totally different words in this document here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        rep = {
            r.band_idx: r
            for r in band_cap_report(
                df, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4,
                max_band_members=3,
            ).collect()
        }
        assert set(rep) == {0, 1, 2, 3}
        for b, r in rep.items():
            # the identical quad shares a bucket in every band (short
            # signatures additionally collapse other docs into the
            # trailing bands' bucket — the same contract
            # _cap_band_buckets sees), so each band carries exactly one
            # over-cap bucket of >= 4 members
            assert r.n_over_cap == 1, (b, r)
            assert r.max_members >= 4, (b, r)
            # single over-cap bucket -> rows_dropped == its size
            assert r.rows_dropped == r.max_members, (b, r)
            assert 1 <= r.n_buckets <= 3, (b, r)

    def test_report_all_clear_when_cap_slack(self, spark):
        from polars_pipe_spark.functions.dedup import band_cap_report

        df = spark.createDataFrame(
            [(i, f"unique words document number {i} here") for i in range(6)],
            "doc_id long, text string",
        )
        rep = band_cap_report(
            df, "text", "doc_id", max_band_members=1000
        ).collect()
        assert all(r.n_over_cap == 0 and r.rows_dropped == 0 for r in rep)


class TestCommittedBenchSelfAdjudication:
    """The committed headline artifact must machine-adjudicate green
    against the committed baseline — the per-round hand-ruling this
    round's tooling retires. A 'regressed' verdict here means a genuine
    clean-regime crossing is sitting in the repo's own artifact."""

    def test_bench_latest_vs_baseline(self):
        import json

        from tools.noise_rule import evaluate

        root = Path(__file__).resolve().parents[1]
        with open(root / "scaling" / "bench_latest.json") as f:
            current = json.load(f)
        with open(root / "BENCH_LOCAL_r5.json") as f:
            baseline = json.load(f)
        ov_path = root / "scaling" / "baseline_overrides.json"
        overrides = json.loads(ov_path.read_text()) if ov_path.exists() else None
        report = evaluate(current, baseline, overrides=overrides)
        assert report["overall"] in ("ok", "rerun-degraded"), report["crossed"]
