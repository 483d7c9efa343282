"""Dedup + similarity unit tests: known duplicates/neighbors recovered."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_pipe_spark.functions import dedup as dd
from polars_pipe_spark.functions import similarity as sim


@pytest.fixture()
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup
        (4, "completely different words about spark query engines at scale"),
        (5, "yet another unrelated document mentioning parquet files only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactDedup:
    def test_groups(self, near_dup_docs):
        g = dd.exact_dedup_groups(near_dup_docs, "text", "doc_id")
        rows = {r.canonical_id: r.n_copies for r in g.collect()}
        assert rows[1] == 2  # docs 1+2 identical
        assert g.count() == 4

    def test_dedup_keeps_min_id(self, near_dup_docs):
        out = dd.exact_dedup(near_dup_docs, "text", "doc_id")
        assert {r.doc_id for r in out.collect()} == {1, 3, 4, 5}


class TestMinHash:
    def test_near_dups_found(self, near_dup_docs):
        pairs = dd.minhash_near_dups(
            near_dup_docs, "text", "doc_id", threshold=0.3
        ).collect()
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
        assert got[(1, 2)] == 1.0  # exact dup
        assert (1, 3) in got and got[(1, 3)] > 0.5  # near dup
        assert all(a < b for a, b in got)  # ordered pairs, no self

    def test_signature_deterministic(self, near_dup_docs):
        s1 = near_dup_docs.select(dd.minhash_signature("text").alias("s")).collect()
        s2 = near_dup_docs.select(dd.minhash_signature("text").alias("s")).collect()
        assert [r.s for r in s1] == [r.s for r in s2]


class TestSimHash:
    def test_identical_docs_same_hash(self, near_dup_docs):
        out = {r.doc_id: r.h for r in near_dup_docs.select(
            "doc_id", dd.simhash("text").alias("h")).collect()}
        assert out[1] == out[2]
        assert 0 <= out[1] < 2**16

    def test_near_docs_close_hamming(self, near_dup_docs, spark):
        out = {r.doc_id: r.h for r in near_dup_docs.select(
            "doc_id", dd.simhash("text").alias("h")).collect()}
        df = spark.createDataFrame(
            [(out[1], out[3]), (out[1], out[4])], "a long, b long"
        )
        d = df.select(dd.hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()
        near, far = d[0].d, d[1].d
        assert near <= far  # near-dup is no farther than unrelated doc


class TestDedupClusters:
    def test_transitive_closure(self, spark):
        """(1,2),(2,3) and (5,6) → clusters {1,2,3} and {5,6}; chain
        collapses transitively even though (1,3) was never a pair."""
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
        )
        out = {r.node: r.cluster_id for r in dd.dedup_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    def test_long_chain_converges(self, spark):
        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        out = {r.node: r.cluster_id for r in dd.dedup_clusters(pairs, max_iterations=20).collect()}
        assert set(out.values()) == {0}
        assert len(out) == n + 1


@pytest.fixture()
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.1, 0.0, 0.0]),   # close to 1
        (3, [0.0, 1.0, 0.0, 0.0]),    # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 1
        (5, [0.7, 0.7, 0.0, 0.0]),    # diagonal
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestSimilarity:
    def test_brute_force_topk_order(self, vectors):
        out = sim.brute_force_topk(
            vectors, vectors.filter(F.col("vec_id") == 1), "embedding", "vec_id", "vec_id", k=4
        ).collect()
        order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rk)]
        assert order == [2, 5, 3, 4]
        cos = {r.neighbor_id: r.cosine for r in out}
        assert cos[4] == -1.0 and cos[3] == 0.0

    def test_no_self_match(self, vectors):
        out = sim.brute_force_topk(vectors, vectors, "embedding", "vec_id", "vec_id", k=10)
        assert out.filter(F.col("query_id") == F.col("neighbor_id")).count() == 0

    def test_lsh_bucket_deterministic(self, vectors):
        b1 = vectors.select(sim.hyperplane_bucket("embedding", 8).alias("b")).collect()
        b2 = vectors.select(sim.hyperplane_bucket("embedding", 8).alias("b")).collect()
        assert [r.b for r in b1] == [r.b for r in b2]
        assert all(0 <= r.b < 256 for r in b1)

    def test_lsh_same_vector_same_bucket(self, spark):
        rows = [(1, [0.5, 0.5, 0.1, -0.2]), (2, [0.5, 0.5, 0.1, -0.2])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        b = [r.b for r in df.select(sim.hyperplane_bucket("embedding", 6).alias("b")).collect()]
        assert b[0] == b[1]

    def test_cosine_kernel_bit_identical_to_expr(self, spark):
        # r8: the Arrow cosine kernel must match the interpreted
        # higher-order expression BIT-exactly (oracles mirror the expr's
        # fold order), including float32 widening.
        import numpy as np

        rng = np.random.RandomState(11)
        rows = [
            (i, [float(np.float32(x)) for x in rng.randn(17)]) for i in range(80)
        ]
        df = spark.createDataFrame(rows, "id long, v array<float>")
        p = df.alias("a").join(
            df.withColumnsRenamed({"id": "id_b", "v": "v_b"}),
            F.col("a.id") < F.col("id_b"),
        )
        out = p.select(
            sim.cosine_expr(F.col("a.v"), F.col("v_b")).alias("c1"),
            sim.cosine_kernel(F.col("a.v"), F.col("v_b")).alias("c2"),
        )
        assert out.filter(F.col("c1") != F.col("c2")).count() == 0

    def test_hyperplanes_decorrelated(self):
        # r8: the old sin(j*7919 + i*104729) planes were phase-shifted
        # copies of ONE frequency (pairwise correlation up to 0.96 —
        # 16 effective buckets out of 256). The golden-angle planes
        # must stay below 0.15 pairwise up to 16 planes.
        import numpy as np

        ga = 2.399963229728653
        W = np.array(
            [[np.sin((j + 1) * ga * (i + 1.0) + j) for i in range(64)]
             for j in range(16)]
        )
        Wn = W / np.linalg.norm(W, axis=1, keepdims=True)
        C = np.abs(Wn @ Wn.T - np.eye(16))
        assert C.max() < 0.15, f"max plane correlation {C.max():.3f}"

    def test_embedding_near_dups_auto_planes(self, spark):
        # r8: n_planes=None keeps expected bucket occupancy ~target, so
        # candidate volume is linear in n. 500 rows / target 256 -> the
        # 4-plane floor; 50k rows -> 8 planes.
        import math

        from polars_pipe_spark.functions.dedup import embedding_near_dups

        for n, want in [(500, 4), (50_000, 8), (256_000_000, 20)]:
            got = max(4, math.ceil(math.log2(max(1, n) / 256)))
            assert got == want, (n, got, want)
        # end-to-end: auto mode runs and returns the pair schema
        import numpy as np

        rng = np.random.RandomState(5)
        rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = embedding_near_dups(
            df, "embedding", "vec_id", threshold=0.5, n_planes=None
        )
        assert out.columns == ["id_a", "id_b", "cosine"]
        assert out.count() >= 0

    def test_ivf_topk_shape(self, vectors):
        out = sim.ivf_topk(
            vectors, vectors.filter(F.col("vec_id") == 1), "embedding", "vec_id", "vec_id",
            k=3, n_centroids=2, n_probe=2,
        ).collect()
        assert len(out) <= 3
        assert all(r.query_id == 1 for r in out)


class TestQuantization:
    def test_quantize_roundtrip_error_bound(self, spark):
        """Reconstruction error of int8 scalar quantization is bounded by
        rng/255/2 per element; constant vectors survive (rng guard)."""
        from pyspark.sql import functions as F

        from polars_pipe_spark.functions.similarity import (
            dequantize_vec,
            quantize_vec,
        )

        df = spark.createDataFrame(
            [(1, [0.0, 0.5, 1.0]), (2, [-2.0, 0.0, 2.0]), (3, [3.0, 3.0, 3.0])],
            "id int, v array<double>",
        )
        out = df.select(
            "id",
            F.col("v"),
            dequantize_vec(quantize_vec("v")).alias("r"),
        ).collect()
        for row in out:
            rng = max(row.v) - min(row.v)
            bound = (rng if rng > 0 else 1.0) / 255.0 / 2.0 + 1e-12
            for a, b in zip(row.v, row.r):
                assert abs(a - b) <= bound, (row.id, a, b, bound)


class TestHyperplaneBucketKernelParity:
    """hyperplane_bucket (Arrow kernel) must agree with
    hyperplane_bucket_expr (the formula the SQL oracles mirror). sin
    provenance differs (libm vs JVM Math.sin, both ~1 ulp); a mismatch
    needs |projection| ≲ 1e-14, so on fixed-seed random data agreement
    is deterministic."""

    def test_kernel_matches_expr(self, spark):
        import numpy as np

        rng = np.random.RandomState(17)
        vecs = rng.randn(200, 64).astype("float32") * 2.0
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        for planes in (4, 8):
            got = df.select(
                "vec_id",
                sim.hyperplane_bucket("embedding", planes).alias("k"),
                sim.hyperplane_bucket_expr("embedding", planes).alias("e"),
            ).collect()
            assert len(got) == 200
            for r in got:
                assert r.k == r.e, (r.vec_id, planes)

    def test_null_and_empty_vectors(self, spark):
        df = spark.createDataFrame(
            [(1, [0.5, -1.0]), (2, None), (3, [])],
            "vec_id long, embedding array<double>",
        )
        rows = {
            r.vec_id: (r.k, r.e)
            for r in df.select(
                "vec_id",
                sim.hyperplane_bucket("embedding", 3).alias("k"),
                sim.hyperplane_bucket_expr("embedding", 3).alias("e"),
            ).collect()
        }
        # null and empty vectors both bucket to 0 (null projection ->
        # when(null>=0) not-true -> otherwise(0) per plane; the empty
        # array null-pads through zip_with and poisons the fold)
        assert rows[2] == (0, 0)
        assert rows[3] == (0, 0)
        assert rows[1][0] == rows[1][1]

    def test_nan_vector_matches_expr(self, spark):
        """r8 ADVICE: a NaN projection must take the SPARK branch of
        `proj >= 0` (TRUE — Spark/DuckDB order NaN above every number),
        not numpy's FALSE. An all-NaN vector forces every plane's
        projection to NaN, so kernel and expression must both emit the
        all-ones bucket; a mixed vector exercises the per-plane path."""
        nan = float("nan")
        df = spark.createDataFrame(
            [(1, [nan, nan, nan]), (2, [0.5, nan, -0.25]), (3, [1.0, -1.0, 0.5])],
            "vec_id long, embedding array<double>",
        )
        rows = {
            r.vec_id: (r.k, r.e)
            for r in df.select(
                "vec_id",
                sim.hyperplane_bucket("embedding", 4).alias("k"),
                sim.hyperplane_bucket_expr("embedding", 4).alias("e"),
            ).collect()
        }
        for vid, (k, e) in rows.items():
            assert k == e, (vid, k, e)
        assert rows[1] == (0b1111, 0b1111)


class TestBucketPairsCosine:
    """bucket_pairs_cosine must emit exactly the pairs the old
    self-join + cosine_kernel verify emitted, with bit-identical
    cosines (the r8 grouped-verify rewrite)."""

    def _brute(self, spark, b, group_cols, threshold):
        joined = b.alias("a").join(
            b.withColumnsRenamed({"id": "id_b", "v": "v_b"}).alias("bb"),
            [F.col(f"a.{c}") == F.col(f"bb.{c}") for c in group_cols]
            + [F.col("a.id") < F.col("id_b")],
        )
        return {
            (r.id_a, r.id_b): r.cosine
            for r in joined.withColumn(
                "cosine", F.round(sim.cosine_kernel(F.col("a.v"), F.col("v_b")), 6)
            )
            .filter(F.col("cosine") >= threshold)
            .select(F.col("a.id").alias("id_a"), "id_b", "cosine")
            .collect()
        }

    def test_matches_selfjoin_verify(self, spark):
        import numpy as np

        rng = np.random.RandomState(31)
        base = rng.randn(8, 16)
        rows = []
        for i in range(120):
            v = base[i % 8] + rng.randn(16) * (0.05 if i % 3 else 2.0)
            rows.append((i, i % 5, [float(x) for x in v]))
        b = spark.createDataFrame(rows, "id long, bucket int, v array<float>")
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in sim.bucket_pairs_cosine(b, ["bucket"], 0.9)
            .withColumn("cosine", F.round(F.col("cosine"), 6))
            .filter(F.col("cosine") >= 0.9)
            .collect()
        }
        want = self._brute(spark, b, ["bucket"], 0.9)
        assert got == want and len(want) > 5

    def test_two_group_cols_and_id_order(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        rows = [
            (i, i % 3, i % 2, [float(x) for x in rng.randn(8)]) for i in range(60)
        ]
        b = spark.createDataFrame(
            rows, "id long, cluster_id int, bucket int, v array<float>"
        )
        out = sim.bucket_pairs_cosine(b, ["cluster_id", "bucket"], -1.1).collect()
        # threshold below -1 -> every within-group pair, ordered
        n_groups = {}
        for i in range(60):
            n_groups[(i % 3, i % 2)] = n_groups.get((i % 3, i % 2), 0) + 1
        expect = sum(m * (m - 1) // 2 for m in n_groups.values())
        assert len(out) == expect
        assert all(r.id_a < r.id_b for r in out)
        want = self._brute(spark, b, ["cluster_id", "bucket"], -1.1)
        got = {
            (r.id_a, r.id_b): round(r.cosine, 6) if r.cosine is not None else None
            for r in out
        }
        assert got == want

    def test_singleton_groups_empty(self, spark):
        b = spark.createDataFrame(
            [(1, 10, [1.0, 0.0]), (2, 20, [0.0, 1.0])],
            "id long, bucket int, v array<double>",
        )
        assert sim.bucket_pairs_cosine(b, ["bucket"], 0.5).count() == 0

    def test_zero_norm_pairs_not_silently_dropped(self, spark):
        """r8 ADVICE: zero-norm vectors give NaN cosine (0/0), and
        numpy's `NaN >= t` is False — the prefilter must not silently
        swallow the pair. Contract (r9, documented on the function):
        the pair row IS emitted, its NaN cosine crosses the
        pandas→Arrow seam as NULL (same as the old self-join +
        cosine_kernel path), and callers' threshold filters reject it
        as NULL — so both paths agree pair-for-pair after filtering."""
        rows = [
            (0, 1, [0.0, 0.0, 0.0]),
            (1, 1, [0.0, 0.0, 0.0]),  # zero×zero -> NULL-cosine pair
            (2, 1, [1.0, 0.0, 0.0]),  # zero×nonzero -> NULL too
            (3, 1, [0.9, 0.1, 0.0]),
            (4, 2, [0.0, 0.0, 0.0]),  # singleton-with-zero group
        ]
        b = spark.createDataFrame(rows, "id long, bucket int, v array<double>")
        raw = {
            (r.id_a, r.id_b): r.cosine
            for r in sim.bucket_pairs_cosine(b, ["bucket"], 0.9).collect()
        }
        # all 6 within-bucket-1 pairs reach the output; the 5 degenerate
        # ones carry NULL cosine (prefilter passed the NaN through)
        assert len(raw) == 6
        assert sum(1 for v in raw.values() if v is None) == 5
        assert raw[(2, 3)] is not None
        # after the callers' threshold filter both paths agree
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in sim.bucket_pairs_cosine(b, ["bucket"], 0.9)
            .withColumn("cosine", F.round(F.col("cosine"), 6))
            .filter(F.col("cosine") >= 0.9)
            .collect()
        }
        want = self._brute(spark, b, ["bucket"], 0.9)
        assert got == want == {(2, 3): got[(2, 3)]}


class TestNearestCentroidsNoKeepCols:
    def test_default_keep_cols_empty(self, spark):
        """r8 ADVICE: the documented default keep_cols=() used to build
        the schema string ', centroid_id int' (leading comma) and crash
        at parse time."""
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
            "id long, v array<double>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, cvec array<double>"
        )
        out = sim.nearest_centroids(df, "v", cents)
        assert out.columns == ["centroid_id"]
        got = [r.centroid_id for r in out.collect()]
        # max-dot assignment: [1,0]->c0, [0,1]->c1, [-1,0]->c1 (dot 0 beats -1)
        assert sorted(got) == [0, 1, 1]


class TestBruteTopkPaths:
    """The exact top-k has three execution paths: queries in the
    kernel's closure with corpus batches streamed, corpus in the closure
    with queries streamed (both through the one blocked-GEMM kernel), and
    the broadcast-crossJoin fallback. All must produce identical
    results."""

    def _mk(self, spark, n=40, d=8, nq=5, distinct=None):
        import numpy as np

        rng = np.random.RandomState(13)
        vecs = rng.randn(distinct or n, d)
        corpus = spark.createDataFrame(
            [
                (i, [float(x) for x in vecs[i % len(vecs)]], f"lab{i % 3}")
                for i in range(n)
            ],
            "vec_id long, embedding array<float>, label string",
        )
        queries = corpus.filter(F.col("vec_id") < nq)
        return corpus, queries

    @pytest.mark.parametrize(
        "distinct, batch_rows, k",
        [(None, None, 4), (2, 7, 2)],
        ids=["distinct-vectors", "repeated-vectors-7-row-batches"],
    )
    def test_kernel_path_matches_fallback(self, spark, distinct, batch_rows, k):
        """The repeated-vectors case streams the corpus in 7-row Arrow
        batches: every query has 19 exact copies, more than k in one
        batch, so the k-th place is a 6-decimal tie that the neighbor_id
        tiebreak must settle across batches, in brute_force_topk and in
        quantized_topk."""
        corpus, queries = self._mk(spark, distinct=distinct)
        kw = dict(vec_col="embedding", id_col="vec_id", query_id_col="vec_id", k=k)
        key = lambda r: (r.query_id, r.rk)  # noqa: E731
        conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
        saved = spark.conf.get(conf)
        if batch_rows:
            spark.conf.set(conf, str(batch_rows))
        try:
            kern = sim.brute_force_topk(corpus, queries, carry_cols=("label",), **kw)
            fall = sim.brute_force_topk(  # 5 > 2 queries, corpus > 2 -> crossJoin
                corpus, queries, carry_cols=("label",), max_collected_queries=2,
                max_collected_corpus=2, **kw
            )
            qkern = sim.quantized_topk(corpus, queries, **kw)
            qfall = sim.quantized_topk(corpus, queries, max_collected_queries=0, **kw)
            a, b, qa, qb = (
                [tuple(r) for r in sorted(df.collect(), key=key)]
                for df in (kern, fall, qkern, qfall)
            )
        finally:
            spark.conf.set(conf, saved)
        assert a == b
        assert qa == qb
        assert len(a) == len(qa) == 5 * k
        assert kern.columns == ["query_id", "neighbor_id", "cosine", "rk", "label"]
        if distinct:
            # the k smallest-id copies of each query's vector, all at 1.0
            assert {r[2] for r in a} == {1.0}
            assert [r[1] for r in a if r[0] == 0] == [2, 4]
            assert [r[1] for r in qa if r[0] == 0] == [2, 4]

    def test_gemm_path_matches_both(self, spark):
        """r9 large-query path: corpus-in-closure blocked GEMM must
        reproduce the other two paths row-for-row (chunk-top-k
        candidate selection is lossless; exact cosines recomputed with
        the cumsum fold only for emitted candidates)."""
        corpus, queries = self._mk(spark, n=60, nq=12)
        kw = dict(
            vec_col="embedding", id_col="vec_id", query_id_col="vec_id",
            k=4, carry_cols=("label",),
        )
        kern = sim.brute_force_topk(corpus, queries, **kw)
        gemm = sim.brute_force_topk(
            corpus, queries, max_collected_queries=2,
            max_collected_corpus=1_000_000, **kw
        )
        key = lambda r: (r.query_id, r.rk)  # noqa: E731
        a = sorted(kern.collect(), key=key)
        b = sorted(gemm.collect(), key=key)
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert len(a) == 12 * 4

    def test_empty_query_set_returns_empty(self, spark):
        corpus, queries = self._mk(spark, nq=0)
        kw = dict(vec_col="embedding", id_col="vec_id", query_id_col="vec_id", k=4)
        out = sim.brute_force_topk(corpus, queries, carry_cols=("label",), **kw)
        assert out.count() == 0
        assert out.columns == ["query_id", "neighbor_id", "cosine", "rk", "label"]
        assert sim.quantized_topk(corpus, queries, **kw).count() == 0

    def test_excludes_self_matches(self, spark):
        corpus, queries = self._mk(spark, n=10, nq=10)
        out = sim.brute_force_topk(
            corpus, queries, "embedding", "vec_id", "vec_id", k=9
        ).collect()
        assert all(r.query_id != r.neighbor_id for r in out)


class TestNearestCentroids:
    def _cents(self, spark):
        return spark.createDataFrame(
            [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)],
            "centroid_id int, cvec array<double>",
        )

    def test_n_probe_order_and_replication(self, spark):
        cents = self._cents(spark)
        # vector aligned with centroid 2, then 0; -dot ranking
        df = spark.createDataFrame(
            [(7, [0.5, 0.0, 2.0, 0.0])], "vec_id long, embedding array<double>"
        )
        out = sim.nearest_centroids(
            df, "embedding", cents, n_probe=2, keep_cols=("vec_id",)
        ).collect()
        assert [(r.vec_id, r.centroid_id) for r in out] == [(7, 2), (7, 0)]

    def test_tie_goes_to_lower_centroid_id(self, spark):
        cents = self._cents(spark)
        df = spark.createDataFrame(
            [(1, [0.0, 1.0, 1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        out = sim.nearest_centroids(
            df, "embedding", cents, n_probe=1, keep_cols=("vec_id",)
        ).collect()
        assert out[0].centroid_id == 1  # tie between 1 and 2 -> lower id

    def test_empty_centroids_raise(self, spark):
        empty = spark.createDataFrame([], "centroid_id int, cvec array<double>")
        df = spark.createDataFrame([(1, [0.0])], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="non-empty"):
            sim.nearest_centroids(df, "embedding", empty, keep_cols=("vec_id",))


class TestQuantizeKernelParity:
    """quantize_codes_kernel must be bit-identical to the
    quantize_vec(...)["codes"] expression (r8 sf1 ladder: the HOF
    expression re-evaluates array_min/max per element — O(d²)
    interpreted per row — so the Arrow kernels quantize in numpy)."""

    def test_kernel_bit_identical_to_expr_float32(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        vecs = (rng.randn(300, 12) * rng.uniform(0.1, 40.0, (300, 1))).astype(
            "float32"
        )
        vecs[7] = 3.25  # constant vector -> rng==0 guard path
        vecs[13] *= -1.0  # all-negative
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, v array<float>",
        )
        expr = F.slice(sim.quantize_vec(F.col("v"))["codes"], 1, 12)
        rows = df.select("vec_id", expr.alias("c")).collect()
        got = sim.quantize_codes_kernel(list(vecs), 12)
        assert len(rows) == 300
        for r in rows:
            assert [int(x) for x in got[r.vec_id]] == list(r.c)

    def test_kernel_bit_identical_to_expr_float64(self, spark):
        import numpy as np

        rng = np.random.RandomState(23)
        vecs = rng.randn(50, 6) * 7.5
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, v array<double>",
        )
        expr = F.slice(sim.quantize_vec(F.col("v"))["codes"], 1, 6)
        rows = df.select("vec_id", expr.alias("c")).collect()
        got = sim.quantize_codes_kernel(list(vecs), 6)
        for r in rows:
            assert [int(x) for x in got[r.vec_id]] == list(r.c)

    def test_mixed_lengths_quantize_on_full_vector(self):
        import numpy as np

        # params come from the FULL vector, codes sliced to dims — a
        # 6-long and a 4-long vector with the same head must differ when
        # their tails move min/max
        a = np.array([0.0, 1.0, 2.0, 3.0, 10.0, -10.0], dtype="float64")
        b = np.array([0.0, 1.0, 2.0, 3.0], dtype="float64")
        out = sim.quantize_codes_kernel([a, b], 4)
        assert out.shape == (2, 4)
        assert list(out[1]) == [0, 85, 170, 255]
        assert list(out[0]) != list(out[1])

    def test_short_vector_raises(self):
        import numpy as np

        with pytest.raises(ValueError, match="shorter than dims"):
            sim.quantize_codes_kernel([np.zeros(3)], 4)

    def test_gram_pandas_matches_expr_impl(self, spark):
        import numpy as np

        rng = np.random.RandomState(5)
        vecs = rng.randn(60, 10).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        key = lambda r: (r.i, r.j)  # noqa: E731
        a = sorted(sim.gram_matrix(df, "embedding", dims=6, impl="pandas").collect(), key=key)
        b = sorted(sim.gram_matrix(df, "embedding", dims=6, impl="expr").collect(), key=key)
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


class TestContamination:
    def test_flags_overlapping_pairs(self, near_dup_docs):
        # bench = doc 1; docs 2 (exact) and 3 (near) share >= 5 trigrams
        # with it; docs 4/5 share none.
        bench = near_dup_docs.filter(F.col("doc_id") == 1)
        train = near_dup_docs.filter(F.col("doc_id") != 1)
        out = dd.ngram_contamination(train, bench, "text", "doc_id", k=3, min_overlap=5)
        rows = {(r.train_id, r.bench_id): r.n_shared for r in out.collect()}
        assert set(rows) == {(2, 1), (3, 1)}
        # doc 2 is an exact copy: shares every distinct trigram of doc 1
        n_grams_doc1 = bench.select(
            F.size(F.array_distinct(dd.shingles("text", 3))).alias("n")
        ).first().n
        assert rows[(2, 1)] == n_grams_doc1
        assert rows[(3, 1)] < n_grams_doc1

    def test_overlap_counts_distinct_grams(self, spark):
        # repeated gram in the train doc must count once
        train = spark.createDataFrame(
            [(10, "a b c a b c a b c")], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        out = dd.ngram_contamination(train, bench, "text", "doc_id", k=3, min_overlap=1)
        r = out.collect()
        assert len(r) == 1 and r[0].n_shared == 1

    def test_broadcast_join_planned(self, near_dup_docs):
        bench = near_dup_docs.filter(F.col("doc_id") == 1)
        train = near_dup_docs.filter(F.col("doc_id") != 1)
        out = dd.ngram_contamination(train, bench, "text", "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestGramMatrix:
    def test_matches_numpy_on_quantized_codes(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        vecs = rng.rand(40, 8).astype("float32")
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        out = {(r.i, r.j): (r.n, r.s_i, r.s_j, r.s_ij, r.cov_num)
               for r in sim.gram_matrix(df, "embedding", dims=8).collect()}
        # reproduce the quantizer: per-vector min/range, floor(x+0.5)
        v64 = vecs.astype("float64")
        mn = v64.min(axis=1, keepdims=True)
        q = np.floor((v64 - mn) / (v64.max(axis=1, keepdims=True) - mn) * 255.0 + 0.5)
        assert len(out) == 8 * 9 // 2
        for (i, j), (n, s_i, s_j, s_ij, cov_num) in out.items():
            assert i <= j and n == 40
            assert s_i == int(q[:, i].sum()) and s_j == int(q[:, j].sum())
            assert s_ij == int((q[:, i] * q[:, j]).sum())
            assert cov_num == n * s_ij - s_i * s_j

    def test_diagonal_cov_nonnegative(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.rand(4)]) for i in range(25)],
            "vec_id long, embedding array<float>",
        )
        out = sim.gram_matrix(df, "embedding", dims=4)
        diag = out.filter(F.col("i") == F.col("j")).collect()
        assert len(diag) == 4
        assert all(r.cov_num >= 0 for r in diag)  # n²·var ≥ 0


class TestDupSpanStats:
    def test_duplicated_windows_counted(self, spark):
        # 8-token span "a b c d e f g h" appears in docs 1 and 2; doc 3
        # is unique; doc 4 is too short for any window.
        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h x y"),
                (2, "z a b c d e f g h"),
                (3, "p q r s t u v w 1 2"),
                (4, "too short"),
            ],
            "doc_id long, text string",
        )
        out = {r.id: (r.n_windows, r.n_dup_windows, r.dup_fraction)
               for r in dd.dup_span_stats(df, "text", "doc_id", k=8).collect()}
        # doc 1: 10 tokens -> 3 windows, exactly one ("a..h") duplicated
        assert out[1] == (3, 1, 1 / 3)
        # doc 2: 9 tokens -> 2 windows, one duplicated
        assert out[2] == (2, 1, 0.5)
        assert out[3] == (3, 0, 0.0)
        assert out[4] == (0, 0, None)  # no windows -> NULL fraction

    def test_within_doc_repeat_is_duplicate(self, spark):
        rep = " ".join(["a b c d e f g h"] * 2)  # span occurs twice in one doc
        df = spark.createDataFrame([(1, rep)], "doc_id long, text string")
        r = dd.dup_span_stats(df, "text", "doc_id", k=8).collect()[0]
        # 16 tokens -> 9 windows; positions 1 and 9 share the same gram
        assert r.n_windows == 9 and r.n_dup_windows == 2


class TestMultiprobeLsh:
    def test_multiprobe_recall_superset(self, spark):
        """Multi-probe candidates are a superset of single-probe: every
        single-probe neighbor is found again with rank <= its old rank,
        and recall vs brute force can only improve."""
        import numpy as np

        rng = np.random.RandomState(11)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(16)]) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        q = df.filter(F.col("vec_id") < 10)
        # k larger than any candidate set: nothing is cut, so the
        # multiprobe pair set must strictly contain the single-probe one
        single = sim.lsh_topk(df, q, "embedding", "vec_id", "vec_id", k=500, n_planes=4)
        multi = sim.lsh_topk(df, q, "embedding", "vec_id", "vec_id", k=500,
                             n_planes=4, multiprobe=True)
        s = {(r.query_id, r.neighbor_id) for r in single.collect()}
        m_rows = multi.collect()
        m = {(r.query_id, r.neighbor_id) for r in m_rows}
        assert m > s

    def test_multiprobe_no_duplicate_pairs(self, spark):
        import numpy as np

        rng = np.random.RandomState(5)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(8)]) for i in range(100)],
            "vec_id long, embedding array<float>",
        )
        q = df.filter(F.col("vec_id") < 5)
        out = sim.lsh_topk(df, q, "embedding", "vec_id", "vec_id", k=100,
                           n_planes=4, multiprobe=True).collect()
        pairs = [(r.query_id, r.neighbor_id) for r in out]
        assert len(pairs) == len(set(pairs))


class TestIvfPersistence:
    def test_saved_quantiser_reproduces_search(self, spark, tmp_path):
        import numpy as np

        rng = np.random.RandomState(13)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.randn(8)]) for i in range(150)],
            "vec_id long, embedding array<float>",
        )
        q = df.filter(F.col("vec_id") < 5)
        cents = sim.ivf_train(df, "embedding", n_centroids=4)
        path = str(tmp_path / "quantiser")
        cents.write.parquet(path)
        reloaded = spark.read.parquet(path)
        inline = sim.ivf_topk(df, q, "embedding", "vec_id", "vec_id",
                              k=3, centroids=cents).collect()
        persisted = sim.ivf_topk(df, q, "embedding", "vec_id", "vec_id",
                                 k=3, centroids=reloaded).collect()
        assert sorted(map(tuple, inline)) == sorted(map(tuple, persisted))
        assert len(inline) > 0


class TestSpanDedup:
    def test_first_occurrence_wins_and_reassembly(self, spark):
        from polars_pipe_spark.functions.dedup import span_dedup

        # span size 3: doc 1 owns spans A=(a b c), B=(d e f); doc 2 repeats
        # span A then adds its own G=(x y z); doc 3 is entirely duplicated.
        rows = [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "d e f"),
            (4, ""),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.doc_id: r for r in
               span_dedup(df, "text", "doc_id", span_tokens=3).collect()}
        assert out[1].n_spans == 2 and out[1].n_kept == 2
        assert out[1].cleaned_text == "a b c d e f"
        assert out[2].n_spans == 2 and out[2].n_kept == 1
        assert out[2].cleaned_text == "x y z"
        assert out[3].n_spans == 1 and out[3].n_kept == 0
        assert out[3].cleaned_text == ""
        assert 4 not in out  # zero tokens -> no spans -> dropped

    def test_partial_tail_span_is_its_own_unit(self, spark):
        from polars_pipe_spark.functions.dedup import span_dedup

        # 4 tokens with span size 3 -> spans (a b c) and (d); the tail
        # span ('d') is distinct from a full span containing d elsewhere.
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "d")], ["doc_id", "text"]
        )
        out = {r.doc_id: r for r in
               span_dedup(df, "text", "doc_id", span_tokens=3).collect()}
        assert out[1].n_spans == 2 and out[1].n_kept == 2
        assert out[2].n_spans == 1 and out[2].n_kept == 0  # 'd' owned by doc 1


class TestPcaWhiten:
    def test_whitened_covariance_is_identity(self, spark):
        import numpy as np

        from polars_pipe_spark.functions.similarity import pca_whiten

        rng = np.random.RandomState(7)
        # strongly correlated 4-dim data so whitening has real work to do
        base = rng.randn(400, 2)
        mat = np.hstack([base, base @ [[0.5, 0.2], [0.1, 0.9]] + 0.05 * rng.randn(400, 2)])
        rows = [(i, [float(x) for x in mat[i]]) for i in range(400)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        out = pca_whiten(df, "embedding", "vec_id", dims=4)
        w = np.array([r.whitened for r in out.orderBy("vec_id").collect()])
        cov = np.cov(w, rowvar=False, bias=True)
        # ZCA-whitened quantized codes: covariance = I (within quantization
        # + eigh tolerance)
        assert np.allclose(cov, np.eye(4), atol=0.05), cov

    def test_deterministic_across_repartition(self, spark):
        import numpy as np

        from polars_pipe_spark.functions.similarity import pca_whiten

        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.randn(4)]) for i in range(100)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        a = {r.vec_id: tuple(r.whitened)
             for r in pca_whiten(df, "embedding", "vec_id", dims=4).collect()}
        b = {r.vec_id: tuple(r.whitened)
             for r in pca_whiten(df.repartition(7), "embedding", "vec_id", dims=4).collect()}
        assert a == b  # exact integer moments -> identical projection


class TestRound4Guards:
    def test_minhash_rejects_typo_cache_mode(self, near_dup_docs):
        """A typo like 'set' or 'ALL' used to silently run with no
        persistence (~5x recompute); now it's a loud ValueError."""
        with pytest.raises(ValueError, match="cache_intermediates"):
            dd.minhash_near_dups(
                near_dup_docs, "text", "doc_id", cache_intermediates="set"
            )
        with pytest.raises(ValueError, match="cache_intermediates"):
            dd.minhash_near_dups(
                near_dup_docs, "text", "doc_id", cache_intermediates="ALL"
            )

    def test_pca_whiten_empty_input_raises_value_error(self, spark):
        from polars_pipe_spark.functions.similarity import pca_whiten

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="no valid vectors"):
            pca_whiten(empty, "embedding", "vec_id", dims=4)

    def test_gram_matrix_drops_null_and_ragged_vectors(self, spark):
        """Null / shorter-than-dims vectors are excluded from the moments
        in BOTH impls (the pandas kernel used to crash in np.vstack)."""
        rows = [
            (1, [0.1, 0.2, 0.3, 0.4]),
            (2, None),
            (3, [0.5, 0.6]),          # ragged: shorter than dims
            (4, [0.9, 0.8, 0.7, 0.6]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        for impl in ("pandas", "expr"):
            out = sim.gram_matrix(df, "embedding", dims=4, impl=impl).collect()
            assert all(r.n == 2 for r in out), impl

    def test_pca_whiten_skips_invalid_rows(self, spark):
        from polars_pipe_spark.functions.similarity import pca_whiten

        rows = [(i, [float(i), 1.0 - i / 9, 0.5, float(i * i % 7)]) for i in range(10)]
        rows += [(90, None), (91, [0.1])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = pca_whiten(df, "embedding", "vec_id", dims=4).collect()
        assert {r.vec_id for r in out} == {i for i in range(10)}


class TestBandBucketGuardrail:
    """r4 VERDICT #4: a degenerate corpus (many docs with identical
    signatures) must NOT make the band self-join quadratic — oversized
    band buckets are dropped with a logged count."""

    def degenerate(self, spark, n=60):
        # every doc identical -> every band bucket has n members
        rows = [(i, "the same exact boilerplate text repeated here") for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_oversized_buckets_dropped(self, spark):
        df = self.degenerate(spark)
        cands = dd.minhash_lsh_candidates(
            df, "text", "doc_id", max_band_members=10
        )
        assert cands.count() == 0  # all buckets over cap -> no candidates

    def test_cap_none_keeps_all_pairs(self, spark):
        df = self.degenerate(spark, n=12)
        cands = dd.minhash_lsh_candidates(
            df, "text", "doc_id", max_band_members=None
        )
        assert cands.count() == 12 * 11 // 2

    def test_under_cap_unaffected(self, near_dup_docs):
        base = dd.minhash_near_dups(
            near_dup_docs, "text", "doc_id", threshold=0.3, max_band_members=None
        ).collect()
        capped = dd.minhash_near_dups(
            near_dup_docs, "text", "doc_id", threshold=0.3, max_band_members=1000
        ).collect()
        assert sorted((r.id_a, r.id_b) for r in base) == sorted(
            (r.id_a, r.id_b) for r in capped
        )

    def test_dropped_bands_logged(self, spark):
        # mock the module logger directly — caplog capture is
        # order-sensitive under the full suite (other tests reconfigure
        # the root logging tree), and what we assert is OUR side of the
        # contract: the eager stats pass runs and the message fires when
        # INFO is enabled
        from unittest import mock

        df = self.degenerate(spark, n=30)
        with mock.patch.object(dd, "logger") as lg:
            lg.isEnabledFor.return_value = True
            dd.minhash_lsh_candidates(df, "text", "doc_id", max_band_members=5).count()
        assert lg.info.called
        assert any(
            "oversized band bucket" in str(c.args[0]) for c in lg.info.call_args_list
        )


class TestSemanticDedup:
    """SemDeDup ledger: pinned-centroid assignment + blocked within-
    cluster cosine pairs + keep-min-id survivors, hand-checked."""

    def test_hand_computed_ledger(self, spark):
        # two tight groups on opposite axes; centroids = the axis units
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),   # cluster 0
            (1, [0.99, 0.01, 0.0, 0.0]), # near-dup of 0 -> dropped
            # NB sign-consistent small components: plane 0's dim-0 weight
            # is sin(0)=0, so the bucket of an x-dominant vector is decided
            # by its y sign — an anti-sign y would land in another bucket
            # (blocking recall loss, documented behavior, not a bug)
            (2, [0.98, 0.01, 0.0, 0.0]), # near-dup of 0 -> dropped
            (3, [0.0, 1.0, 0.0, 0.0]),   # cluster 1
            (4, [0.0, 0.97, 0.02, 0.0]), # near-dup of 3 -> dropped
            (5, [-1.0, 0.0, 0.0, 0.0]),  # anti-parallel: cluster 1 is
                                         # closer than cluster 0's +x seed
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        centroids = [[1000, 0, 0, 0], [0, 1000, 0, 0]]
        out = {
            r.cluster_id: r
            for r in dd.semantic_dedup_ledger(
                df, "embedding", "vec_id", centroids, threshold=0.9, n_planes=2
            ).collect()
        }
        assert out[0].n_members == 3
        assert out[0].n_dropped == 2       # ids 1,2 dropped, 0 survives
        assert out[0].n_survivors == 1
        # id 5 lands in some cluster but is nobody's near-dup
        total = sum(r.n_members for r in out.values())
        dropped = sum(r.n_dropped for r in out.values())
        assert total == 6 and dropped == 3

    def test_survivor_is_min_id(self, spark):
        rows = [(7, [1.0, 0.0]), (3, [1.0, 0.0]), (9, [0.999, 0.001])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = dd.semantic_dedup_ledger(
            df, "embedding", "vec_id", [[1000, 0]], threshold=0.9, n_planes=1
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n_members, r.n_dropped, r.n_survivors) == (3, 2, 1)


class TestSimhashBanded:
    def test_banding_is_lossless_vs_bruteforce(self, spark, near_dup_docs):
        """Pigeonhole proof checked empirically: the banded pair set
        equals the all-pairs hamming join at max_hamming < n_bands."""
        sigs = {
            r.doc_id: r.s
            for r in near_dup_docs.select(
                "doc_id", dd.simhash("text", 16).alias("s")
            ).collect()
        }
        ids = sorted(sigs)
        brute = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3
        }
        banded = {
            (r.id_a, r.id_b, r.hamming)
            for r in dd.simhash_near_dups(
                near_dup_docs, "text", "doc_id", bits=16, n_bands=4, max_hamming=3
            ).collect()
        }
        assert banded == brute

    def test_rejects_indivisible_bands(self, spark, near_dup_docs):
        with pytest.raises(ValueError, match="divisible"):
            dd.simhash_near_dups(near_dup_docs, "text", "doc_id", bits=16, n_bands=3)


class TestPagerankExact:
    def python_model(self, edges, iterations=5):
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        rank = {v: 1_000_000 for v in adj}
        for _ in range(iterations):
            inflow = defaultdict(int)
            for u in adj:
                share = rank[u] // len(adj[u])
                for v in adj[u]:
                    inflow[v] += share
            rank = {
                v: 150_000 + (850_000 * inflow[v]) // 1_000_000 for v in adj
            }
        return rank

    def test_matches_python_model(self, spark):
        edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.node: r.rank_micro
            for r in dd.pagerank_exact(pairs, iterations=5).collect()
        }
        assert got == self.python_model(edges)

    def test_hub_ranks_highest(self, spark):
        # star graph: center 0 connected to 1..6 -> center dominates
        edges = [(0, i) for i in range(1, 7)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.node: r.rank_micro
            for r in dd.pagerank_exact(pairs, iterations=5).collect()
        }
        assert got[0] == max(got.values())
        assert all(got[0] > got[i] for i in range(1, 7))


class TestRound5Guards:
    def test_semantic_dedup_rejects_bad_centroids(self, spark):
        df = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="non-empty"):
            dd.semantic_dedup_ledger(df, "embedding", "vec_id", [])
        with pytest.raises(ValueError, match="dimension"):
            dd.semantic_dedup_ledger(df, "embedding", "vec_id", [[1, 2], [3]])

    def test_pagerank_rejects_bad_params(self, spark):
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="damping_ppm"):
            dd.pagerank_exact(pairs, damping_ppm=2_000_000)
        with pytest.raises(ValueError, match="iterations"):
            dd.pagerank_exact(pairs, iterations=-1)
