"""Round-9 hardening: the pair-budget fence on the exact all-pairs
baselines (r8 VERDICT item 1) — a diagnosable ValueError contract
instead of a silent multi-hour hang at sf3+."""

from __future__ import annotations

import pytest

from polars_pipe_spark.registry.dedup import (
    _q27_ngram_jaccard,
    _q211_dedup_explain,
)

SF = "/root/testdata/sf0.001"


class TestPairBudgetFence:
    def test_over_budget_raises_with_estimate(self, spark):
        # sf0.001 has 20 sources x 25 docs -> 6,000 candidate pairs
        with pytest.raises(ValueError, match="pair budget"):
            _q27_ngram_jaccard(spark, SF, max_pairs=10)

    def test_q211_shares_the_fence(self, spark):
        with pytest.raises(ValueError, match="pair budget"):
            _q211_dedup_explain(spark, SF, max_pairs=10)

    def test_sample_blocks_escape_hatch(self, spark):
        """sample_blocks=k keeps the k smallest (count, source) blocks —
        exact within them, so the result equals the full run filtered to
        those sources."""
        full = _q27_ngram_jaccard(spark, SF)
        # all 20 blocks are 25 docs here: the smallest 3 by (count,
        # source) are the 3 lexicographically-first sources
        import duckdb

        srcs = [
            r[0]
            for r in duckdb.sql(
                f"SELECT DISTINCT source FROM read_parquet('{SF}/documents.parquet') "
                "ORDER BY source LIMIT 3"
            ).fetchall()
        ]
        import pyspark.sql.functions as F

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        keep_ids = {
            r.doc_id
            for r in docs.filter(F.col("source").isin(srcs)).select("doc_id").collect()
        }
        want = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in full.collect()
            if r.id_a in keep_ids and r.id_b in keep_ids
        )
        got = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in _q27_ngram_jaccard(
                spark, SF, max_pairs=2_000, sample_blocks=3
            ).collect()
        )
        assert got == want

    def test_sampled_blocks_still_over_budget_raise(self, spark):
        with pytest.raises(ValueError, match="pair budget"):
            _q27_ngram_jaccard(spark, SF, max_pairs=100, sample_blocks=3)

    def test_default_budget_admits_gate_scale(self, spark):
        # the registry-default call (no kwargs) must stay green at gate
        # scale — the fence only fires past ~100M candidate pairs
        assert _q27_ngram_jaccard(spark, SF).count() > 0
