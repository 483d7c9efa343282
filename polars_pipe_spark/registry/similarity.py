"""Registry queries over ``functions.similarity``: exact and approximate
top-k, LSH, IVF and PQ indexes; plus the ANN evaluations built on them
(q133, q181) and MaxSim late interaction (q197)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par
from polars_pipe_spark.registry._sql import _bucket_sql, _cosine_sql, _DOT, _NORM_V


@query(f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    s AS (
      SELECT query_id, neighbor_id, {_cosine_sql("cv", "qv")} AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
    FROM s QUALIFY rk <= 5
""")
def _q28_cosine_topk(spark, sf):
    """Brute-force exact cosine top-5 neighbors for query vectors
    (vec_id < 20): the 20 queries sit in the closure of the blocked-GEMM
    Arrow kernel and the corpus streams through it in one pass."""
    from polars_pipe_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    return brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", "vec_id", k=5
    )


@query(f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_bucket_sql("embedding", 6)} AS bucket
      FROM embeddings WHERE vec_id < 20
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {_bucket_sql("embedding", 6)} AS bucket
      FROM embeddings
    ), s AS (
      SELECT query_id, neighbor_id, {_cosine_sql("cv", "qv")} AS cosine
      FROM c JOIN q USING (bucket) WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
    FROM s QUALIFY rk <= 5
""")
def _q29_lsh_topk(spark, sf):
    """LSH-bucketed approximate top-5: deterministic hyperplane signs,
    equi-join on bucket — the 100 TB path."""
    from polars_pipe_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", "vec_id",
        k=5, n_planes=6,
    )


# q33 (r4, was rows-only): the exact-side counts come straight from the
# q28 brute-force oracle; the IVF recall property is asserted as TRUE
# (bound 0.30 vs measured mean 0.44 at the driver's sf0.01).
@query(f"""
    WITH bf AS (
      SELECT query_id, neighbor_id FROM ({_q28_cosine_topk.oracle})
    )
    SELECT COUNT(DISTINCT query_id) AS n_queries,
           COUNT(*) AS n_exact_total,
           TRUE AS recall_ok
    FROM bf
""")
def _q33_ivf_topk(spark, sf):
    """IVF-flat ANN as an oracle-checkable PROPERTY query (r4, was
    rows-only): run the driver-trained k-means IVF search (deterministic
    fixed-seed training on a bounded sample) and score its recall@5
    against the exact brute-force top-k.  The exact side (n_queries,
    n_exact_total) is fully SQL-computable; the approximate side exits as
    a bounded boolean the oracle asserts as literal TRUE.  Measured mean
    recall: 0.49/0.44/0.67 at sf0.001/0.01/0.1 with n_probe=2 of 8 lists
    — the 0.30 bound has ~47% margin at the driver's sf0.01.  Per-query
    recall is NOT bounded (a query whose true neighbors all live in
    unprobed lists scores 0.0 — observed at sf0.01), hence the aggregate.
    The IVF search half also gets a real per-row oracle via q137
    (pretrained quantiser)."""
    from polars_pipe_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    # persist: bf feeds the overlap join AND the per-query denominator
    # (r8 plan-sweep multi-scan rule) — tiny frame, brute-force lineage
    bf = _q28_cosine_topk(spark, sf).select("query_id", "neighbor_id").persist()
    ivf = ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", "vec_id",
        k=5, n_centroids=8, n_probe=2,
    ).select("query_id", "neighbor_id")
    ov = bf.join(ivf, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    per = (
        bf.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(ov, "query_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .withColumn("recall_micros", F.expr("(n_overlap * 1000000) DIV n_exact"))
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_exact").alias("n_exact_total"),
        (F.avg("recall_micros") >= 300000).alias("recall_ok"),
    )


@query(f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    params AS (
      SELECT vec_id AS neighbor_id, embedding,
             CAST(list_min(embedding) AS DOUBLE) AS mn,
             CASE WHEN CAST(list_max(embedding) AS DOUBLE) > CAST(list_min(embedding) AS DOUBLE)
                  THEN CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)
                  ELSE 1.0 END AS rng
      FROM embeddings
    ),
    c AS (
      SELECT neighbor_id,
             list_transform(embedding,
               x -> mn + floor((CAST(x AS DOUBLE) - mn) / rng * 255.0 + 0.5) * rng / 255.0) AS cv
      FROM params
    ),
    s AS (
      SELECT query_id, neighbor_id, {_cosine_sql("cv", "qv")} AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
    FROM s QUALIFY rk <= 5
""")
def _q78_quantized_topk(spark, sf):
    """Asymmetric int8-quantized ANN (ADC): corpus vectors stored
    quantized (4x smaller at 100 TB), queries stay float; cosine on the
    reconstructed vectors. Codes use floor(x+0.5) so quantization is
    bit-reproducible in DuckDB (engine round() tie rules differ)."""
    from polars_pipe_spark.functions.similarity import quantized_topk

    emb = _t(spark, sf, "embeddings")
    return quantized_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", "vec_id", k=5
    )


@query("""
    WITH params AS (
      SELECT embedding,
             CAST(list_min(embedding) AS DOUBLE) AS mn,
             CASE WHEN CAST(list_max(embedding) AS DOUBLE) > CAST(list_min(embedding) AS DOUBLE)
                  THEN CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)
                  ELSE 1.0 END AS rng
      FROM embeddings
    ), codes AS (
      SELECT list_transform(embedding,
               x -> CAST(floor((CAST(x AS DOUBLE) - mn) / rng * 255.0 + 0.5) AS BIGINT)
             )[1:16] AS c
      FROM params
    ), idx AS (SELECT unnest(range(0, 16)) AS d),
    lin AS (
      SELECT d, CAST(SUM(c.c[d + 1]) AS BIGINT) AS sd
      FROM idx CROSS JOIN codes c GROUP BY d
    ), sums AS (
      SELECT a.d AS i, b.d AS j, CAST(SUM(c.c[a.d + 1] * c.c[b.d + 1]) AS BIGINT) AS s_ij
      FROM idx a JOIN idx b ON b.d >= a.d CROSS JOIN codes c
      GROUP BY a.d, b.d
    ), n AS (SELECT COUNT(*) AS n FROM codes)
    SELECT s.i, s.j, n.n, li.sd AS s_i, lj.sd AS s_j, s.s_ij,
           CAST(n.n * s.s_ij - li.sd * lj.sd AS BIGINT) AS cov_num
    FROM sums s JOIN lin li ON li.d = s.i JOIN lin lj ON lj.d = s.j CROSS JOIN n
""")
def _q87_gram_matrix(spark, sf):
    """One-pass quantized gram/covariance statistics (first 16 embedding
    dims): the distributed half of PCA — integer-exact sums, d(d+1)/2
    output rows."""
    from polars_pipe_spark.functions.similarity import gram_matrix

    # _t_par (r5/r6 verdict): embeddings is one parquet file at testdata
    # scale, so the mapInPandas partial-aggregate kernel would otherwise
    # run as ONE task; the gate makes this a no-op at real scale.
    emb = _t_par(spark, sf, "embeddings")
    return gram_matrix(emb, "embedding", dims=16)


@query(f"""
    WITH q0 AS (
      SELECT vec_id AS query_id, embedding AS qv,
             {_bucket_sql("embedding", 6)} AS b0
      FROM embeddings WHERE vec_id < 20
    ), q AS (
      SELECT query_id, qv,
             unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4),
                     xor(b0, 8), xor(b0, 16), xor(b0, 32)]) AS bucket
      FROM q0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv,
             {_bucket_sql("embedding", 6)} AS bucket
      FROM embeddings
    ), s AS (
      SELECT query_id, neighbor_id, {_cosine_sql("cv", "qv")} AS cosine
      FROM c JOIN q USING (bucket) WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
    FROM s QUALIFY rk <= 5
""")
def _q97_multiprobe_lsh(spark, sf):
    """Multi-probe LSH top-5: the query side also probes every bucket at
    Hamming distance 1 — recall recovery at (planes+1)× query fan-out,
    corpus still hashed/shuffled once."""
    from polars_pipe_spark.functions.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    return lsh_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", "vec_id",
        k=5, n_planes=6, multiprobe=True,
    )


# q133: composes the q28 (exact) and q29 (LSH) oracles and measures
# their per-query overlap; recall emitted as scaled BIGINT via //.
@query(f"""
    WITH bf AS (
      SELECT query_id, neighbor_id FROM ({_q28_cosine_topk.oracle})
    ), lsh AS (
      SELECT query_id, neighbor_id FROM ({_q29_lsh_topk.oracle})
    ), ov AS (
      SELECT query_id, COUNT(*) AS n_overlap
      FROM bf JOIN lsh USING (query_id, neighbor_id) GROUP BY query_id
    ), base AS (
      SELECT query_id, COUNT(*) AS n_exact FROM bf GROUP BY query_id
    )
    SELECT base.query_id, n_exact, COALESCE(n_overlap, 0) AS n_overlap,
           (COALESCE(n_overlap, 0) * 1000000) // n_exact AS recall_micros
    FROM base LEFT JOIN ov USING (query_id)
""")
def _q133_ann_recall(spark, sf):
    """ANN evaluation harness: recall@5 of the LSH index (q29) against
    the exact brute-force ranking (q28), per query — the measurement any
    production ANN deployment runs before trusting the approximate path.
    Scaled-integer recall via positive integer division (engine-safe)."""
    # persist: bf is consumed twice (overlap join + denominator) and its
    # lineage is the full brute-force scan (r8 plan-sweep multi-scan rule)
    bf = _q28_cosine_topk(spark, sf).select("query_id", "neighbor_id").persist()
    lsh = _q29_lsh_topk(spark, sf).select("query_id", "neighbor_id")
    overlap = (
        bf.join(lsh, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    base = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(overlap, "query_id", "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .withColumn("recall_micros", F.expr("(n_overlap * 1000000) DIV n_exact"))
        .select("query_id", "n_exact", "n_overlap", "recall_micros")
    )


# q137: mirrors similarity.py::ivf_topk with pinned centroids — nearest
# list per vector = argmin of -dot (ties on centroid_id), queries probe
# 2 lists, candidates score with the shared cosine fragment.
@query(f"""
    WITH cent AS (
      SELECT CAST(vec_id AS INT) AS centroid_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < 16
    ), c_assigned AS (
      SELECT neighbor_id, cv, centroid_id FROM (
        SELECT e.vec_id AS neighbor_id, e.embedding AS cv, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -({_DOT.format(a="e.embedding", b="cent.cvec")}) ASC,
                          cent.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent
      ) WHERE rn = 1
    ), q_assigned AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qv, cent.centroid_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -({_DOT.format(a="e.embedding", b="cent.cvec")}) ASC,
                          cent.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent
        WHERE e.vec_id < 20
      ) WHERE rn <= 2
    ), s AS (
      SELECT query_id, neighbor_id, {_cosine_sql("cv", "qv")} AS cosine
      FROM c_assigned JOIN q_assigned USING (centroid_id)
      WHERE neighbor_id != query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS INT) AS rk
    FROM s QUALIFY rk <= 5
""")
def _q137_ivf_pretrained(spark, sf):
    """IVF search with a persisted/pretrained coarse quantiser — the
    search half of q33 upgraded to a hard oracle signal. Centroids are
    pinned to the first 16 corpus vectors (the production flow loads
    them from parquet), so list assignment, n_probe fan-out, and cosine
    scoring are pure expressions reproducible on both engines; only
    k-means TRAINING (iterative, driver-side sample) stays rows-only in
    q33."""
    from polars_pipe_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 20), "embedding", "vec_id", "vec_id",
        k=5, n_probe=2, centroids=cent,
    )


# q149: the whitened covariance of a correct ZCA projection is the
# identity by construction, so the oracle asserts the 8×8 identity
# matrix over the same valid-vector count; the LAPACK eigenvectors
# themselves stay engine-side (no DuckDB eigh).
@query("""
    SELECT CAST(ii.i AS INT) AS i, CAST(jj.j AS INT) AS j,
           CAST(CASE WHEN ii.i = jj.j THEN 1.0 ELSE 0.0 END AS DOUBLE) AS cov,
           (SELECT COUNT(*) FROM embeddings
             WHERE embedding IS NOT NULL AND len(embedding) >= 8) AS n_vecs
    FROM (SELECT unnest(range(8)) AS i) ii,
         (SELECT unnest(range(8)) AS j) jj
""")
def _q149_pca_whiten(spark, sf):
    """Distributed PCA/whitening end-to-end: exact integer gram summary
    (q87) → driver-side d×d eigendecomposition → broadcast ZCA
    projection through one Arrow-batched matmul. The LAPACK eigenvectors
    themselves have no DuckDB reproduction, so the oracle-checked output
    is the DEFINING property computed over the full whitened corpus: the
    8×8 empirical covariance of the whitened vectors, which must be the
    identity matrix (±1e-4), alongside the corpus row count. A wrong
    projection, a centering bug, or a scale slip all break the identity,
    so this is a strict end-to-end check, not a row-count formality."""
    from polars_pipe_spark.functions.similarity import pca_whiten

    emb = _t(spark, sf, "embeddings")
    out = pca_whiten(emb, "embedding", "vec_id", dims=8).persist()
    wd = out.select("vec_id", F.posexplode("whitened").alias("i", "wi"))
    n = out.count()
    cov = (
        wd.join(
            wd.select("vec_id", F.col("i").alias("j"), F.col("wi").alias("wj")),
            "vec_id",
        )
        .groupBy("i", "j")
        .agg((F.sum(F.col("wi") * F.col("wj")) / F.lit(float(n))).alias("cov_raw"))
        .select(
            "i",
            "j",
            # + 0.0 folds a rounded -0.0 (tiny negative off-diagonal) into
            # +0.0 so the value hash agrees with the oracle's literal 0.0
            (F.round("cov_raw", 4) + F.lit(0.0)).alias("cov"),
            F.lit(n).alias("n_vecs"),
        )
    )
    return cov


# q154: nearest-centroid assignment mirrors q137's (same _DOT fold, same
# centroid_id tiebreak); the existing/new split and per-list occupancy
# are pure counting.
@query(f"""
    WITH cent AS (
      SELECT CAST(vec_id AS INT) AS centroid_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM embeddings WHERE vec_id < 16
    ), assign AS (
      SELECT vec_id, centroid_id, grp FROM (
        SELECT e.vec_id, cent.centroid_id, (e.vec_id % 5 = 0) AS grp,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY -({_DOT.format(a="e.embedding", b="cent.cvec")}) ASC,
                          cent.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent
      ) WHERE rn = 1
    )
    SELECT cent.centroid_id,
           CAST(COALESCE(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_existing,
           CAST(COALESCE(SUM(CASE WHEN grp THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_new,
           COUNT(a.vec_id) AS n_total
    FROM cent LEFT JOIN assign a USING (centroid_id)
    GROUP BY cent.centroid_id
""")
def _q154_ivf_incremental(spark, sf):
    """Incremental IVF index maintenance: a new ingest batch is merged
    into an EXISTING index (pinned pretrained centroids, the q137 flow)
    without touching prior assignments — retraining would shift every
    list. Output: per-list occupancy before/after the merge, the balance
    report an index maintainer watches for skew (a hot list means the
    quantiser no longer fits the data distribution).

    The existing/new split is by vec_id % 5 (scale-proof non-empty);
    centroids pin to the first 16 corpus vectors so assignment is pure
    expressions, SQL-reproducible. Counts left-join onto the full
    centroid list so empty lists report 0 — an invisible empty list is
    exactly what a balance report must not hide."""
    from polars_pipe_spark.functions.similarity import ivf_assign

    emb = _t(spark, sf, "embeddings")
    cent = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )
    existing = ivf_assign(
        emb.filter(F.col("vec_id") % 5 != 0), "embedding", "vec_id", cent
    )
    new = ivf_assign(
        emb.filter(F.col("vec_id") % 5 == 0), "embedding", "vec_id", cent
    )
    n_old = existing.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_existing")
    )
    n_new = new.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_new"))
    return (
        cent.select("centroid_id")
        .join(n_old, "centroid_id", "left")
        .join(n_new, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce("n_existing", F.lit(0)).alias("n_existing"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            (
                F.coalesce("n_existing", F.lit(0)) + F.coalesce("n_new", F.lit(0))
            ).alias("n_total"),
        )
    )


# q164: quantize (round half-away-from-zero — identical both engines),
# BIGINT sums, sign-aware integer mean, dots over quant-bounded
# centroids (double-exact at any scale), floored micro-cosine.
@query("""
    WITH j AS (
      SELECT d.source AS g, e.embedding AS v
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ), comp AS (
      SELECT g, pos,
             CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM (SELECT g, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM j)
      GROUP BY g, pos
    ), cent AS (
      SELECT g, MAX(n) AS n_vecs,
             list(CAST(sign(s) AS BIGINT) * CAST((abs(s) // n) AS BIGINT)
                  ORDER BY pos) AS cvec
      FROM comp GROUP BY g
    ), pairs AS (
      SELECT a.g AS group_a, b.g AS group_b, a.n_vecs AS n_a, b.n_vecs AS n_b,
             CAST(list_sum(list_transform(range(1, len(a.cvec) + 1),
                  i -> a.cvec[CAST(i AS INT)] * b.cvec[CAST(i AS INT)])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(range(1, len(a.cvec) + 1),
                  i -> a.cvec[CAST(i AS INT)] * a.cvec[CAST(i AS INT)])) AS BIGINT) AS na,
             CAST(list_sum(list_transform(range(1, len(b.cvec) + 1),
                  i -> b.cvec[CAST(i AS INT)] * b.cvec[CAST(i AS INT)])) AS BIGINT) AS nb
      FROM cent a JOIN cent b ON a.g < b.g
    )
    SELECT group_a, group_b, n_a, n_b, dot,
           CASE WHEN na > 0 AND nb > 0
                THEN CAST(FLOOR(CAST(dot AS DOUBLE) * 1000000.0
                     / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))) AS BIGINT)
                ELSE NULL END AS cos_micros
    FROM pairs
""")
def _q164_centroid_similarity(spark, sf):
    """Domain-drift report: pairwise cosine similarity between
    per-source embedding centroids (documents⋈embeddings on id). The
    integer-exact quantize→sum→mean pipeline is deterministic cross-
    engine at any corpus scale — centroid components are bounded by the
    quant unit, so no overflow cliff as groups grow. See
    functions/similarity.py::centroid_similarity."""
    from polars_pipe_spark.functions.similarity import centroid_similarity

    docs = _t(spark, sf, "documents").select("doc_id", "source")
    emb = _t_par(spark, sf, "embeddings")
    j = emb.join(docs, emb.vec_id == docs.doc_id).select("source", "embedding")
    return centroid_similarity(j, "source", "embedding", quant=1000)


# q168: codebooks computed from the same pinned rows (vec_id < 16) the
# Spark side collects; encode argmin via dist-ordered row_number (ties
# to lowest codeword = Spark's first-min array_position); ADC folds
# subspaces and components left-to-right exactly like the Spark chain
# (list_sum starts at 0; 0+x = x, so the fold orders agree).
@query("""
    WITH cb AS (
      SELECT CAST(vec_id AS INT) AS j, CAST(ss.s AS INT) AS s,
             list_transform(embedding[(ss.s*8+1):(ss.s*8+8)],
                            x -> CAST(x AS DOUBLE)) AS cw
      FROM embeddings, (SELECT unnest(range(8)) AS s) ss
      WHERE vec_id < 16
    ), corp AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), enc AS (
      SELECT neighbor_id, s, j AS code FROM (
        SELECT c.neighbor_id, cb.s, cb.j,
               row_number() OVER (
                 PARTITION BY c.neighbor_id, cb.s
                 ORDER BY list_sum(list_transform(range(1, 9), i ->
                   (c.v[CAST(cb.s*8+i AS INT)] - cb.cw[CAST(i AS INT)])
                   * (c.v[CAST(cb.s*8+i AS INT)] - cb.cw[CAST(i AS INT)]))) ASC,
                 cb.j ASC) AS rn
        FROM corp c CROSS JOIN cb
      ) WHERE rn = 1
    ), enc2 AS (
      SELECT neighbor_id, list(code ORDER BY s) AS code FROM enc GROUP BY neighbor_id
    ), cbl AS (
      SELECT list(cw ORDER BY s * 16 + j) AS flat FROM cb
    ), q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id >= 16 AND vec_id < 20
    ), scored AS (
      SELECT q.query_id, e.neighbor_id,
             ROUND(list_sum(list_transform(range(8), s ->
               list_sum(list_transform(range(1, 9), i ->
                 (q.qv[CAST(s*8+i AS INT)]
                  - cbl.flat[CAST(s*16 + e.code[CAST(s+1 AS INT)] + 1 AS INT)][CAST(i AS INT)])
                 * (q.qv[CAST(s*8+i AS INT)]
                  - cbl.flat[CAST(s*16 + e.code[CAST(s+1 AS INT)] + 1 AS INT)][CAST(i AS INT)])
               ))
             )), 9) AS adc_dist
      FROM enc2 e CROSS JOIN q CROSS JOIN cbl
    )
    SELECT query_id, neighbor_id, adc_dist, rk FROM (
      SELECT query_id, neighbor_id, adc_dist,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY adc_dist ASC, neighbor_id ASC) AS INT) AS rk
      FROM scored
    ) WHERE rk <= 5
""")
def _q168_pq_topk(spark, sf):
    """Product-quantization ANN (IVF-PQ's compression half): corpus
    vectors encode to 8 sub-space codes against codebooks pinned to the
    first 16 stored vectors (the production flow trains them on a
    sample and persists them — q137's pretrained-quantiser pattern),
    queries score by asymmetric distance against RECONSTRUCTED
    codewords, top-5 per query. Encoding is a mapper-only literal
    projection — at 100 TB the encode pass joins nothing and the ADC
    scan reads m bytes per vector, not the full float vector. The
    16-row codebook collect is bounded and documented."""
    from polars_pipe_spark.functions.similarity import pq_topk

    emb = _t_par(spark, sf, "embeddings")
    cb_rows = sorted(
        emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    codebooks = [
        [[float(x) for x in r["embedding"][s * 8 : (s + 1) * 8]] for r in cb_rows]
        for s in range(8)
    ]
    queries = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 20)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, "embedding", "vec_id", "query_id", codebooks, k=5)


# q176: q28's cosine/rank fragment + label join + (votes desc, label
# asc) majority — the same total orders as the Spark windows.
@query(f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 5 = 0
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, label
      FROM embeddings WHERE vec_id % 5 != 0
    ), s AS (
      SELECT query_id, neighbor_id, label,
             {_cosine_sql("cv", "qv")} AS cosine
      FROM c CROSS JOIN q WHERE neighbor_id != query_id
    ), nn AS (
      SELECT query_id, label FROM (
        SELECT query_id, label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rk
        FROM s
      ) WHERE rk <= 5
    ), votes AS (
      SELECT query_id, label, COUNT(*) AS votes FROM nn GROUP BY query_id, label
    )
    SELECT query_id, label AS pred_label, votes FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label ASC) AS vr
      FROM votes
    ) WHERE vr = 1
""")
def _q176_knn_classify(spark, sf):
    """kNN label classification over embeddings (wires
    functions/similarity.py::knn_classify): every 5th vector is held
    out and classified by majority vote of its 5 exact cosine
    neighbors' labels (vote ties to the smaller label — deterministic).
    The label rides the top-k scan via carry_cols, no re-join. Scale:
    exact brute force through one blocked-GEMM kernel, with the smaller
    side (queries, else a corpus that fits) in its closure; the
    LSH/IVF/PQ paths (q29, q137, q168) are the corpus-scale candidate
    generators."""
    from polars_pipe_spark.functions.similarity import knn_classify

    emb = _t_par(spark, sf, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    queries = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_classify(
        corpus, queries, "embedding", "vec_id", "query_id", "label", k=5
    )


# q181: composes the q28/q29/q137/q168 oracle bodies verbatim — the
# methods' parameters match their oracle-checked originals by
# construction; recall by integer division.
@query(f"""
    WITH exact AS (
      SELECT query_id, neighbor_id FROM ({_q28_cosine_topk.oracle})
      WHERE query_id >= 16 AND query_id < 20 AND neighbor_id != query_id
    ), m_ivf AS (
      SELECT query_id, neighbor_id FROM ({_q137_ivf_pretrained.oracle})
      WHERE query_id >= 16 AND query_id < 20 AND neighbor_id != query_id
    ), m_lsh AS (
      SELECT query_id, neighbor_id FROM ({_q29_lsh_topk.oracle})
      WHERE query_id >= 16 AND query_id < 20 AND neighbor_id != query_id
    ), m_pq AS (
      SELECT query_id, neighbor_id FROM ({_q168_pq_topk.oracle})
      WHERE query_id >= 16 AND query_id < 20 AND neighbor_id != query_id
    ), en AS (SELECT COUNT(*) AS n_exact FROM exact
    ), hits AS (
      SELECT 'ivf' AS method, COUNT(*) AS n_hits
      FROM m_ivf JOIN exact USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'lsh', COUNT(*) FROM m_lsh JOIN exact USING (query_id, neighbor_id)
      UNION ALL
      SELECT 'pq', COUNT(*) FROM m_pq JOIN exact USING (query_id, neighbor_id)
    )
    SELECT method, hits.n_hits, en.n_exact,
           CAST((hits.n_hits * 1000000) // en.n_exact AS BIGINT) AS recall_micros
    FROM hits, en
""")
def _q181_ann_dashboard(spark, sf):
    """ANN method dashboard — the capstone comparison a corpus owner
    reads when choosing the 100 TB search path: recall@5 of the LSH
    (q29), pretrained-IVF (q137) and PQ/ADC (q168) pipelines against
    the exact brute-force top-5 (q28), over the shared query slice
    (vec_id 16-19, self-matches excluded uniformly). Composes the
    existing method queries verbatim, so every parameter matches its
    oracle-checked original by construction; all counts stay frame-
    level (no driver collect)."""
    def prep(df):
        return df.filter(
            (F.col("query_id") >= 16)
            & (F.col("query_id") < 20)
            & (F.col("neighbor_id") != F.col("query_id"))
        ).select("query_id", "neighbor_id")

    # persist: the exact frame's lineage is the full brute-force top-k;
    # it is consumed 4x below (once per method join + the denominator),
    # so without a persist the dashboard re-runs brute force 4 times
    # (r8 plan-sweep multi-scan rule). Tiny frame (k rows per query id),
    # huge lineage — the canonical persist case.
    exact = prep(_q28_cosine_topk(spark, sf)).persist()
    en = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    methods = [
        ("ivf", _q137_ivf_pretrained),
        ("lsh", _q29_lsh_topk),
        ("pq", _q168_pq_topk),
    ]
    per = [
        prep(fn(spark, sf))
        .join(exact, ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(F.lit(name).alias("method"), "n_hits")
        for name, fn in methods
    ]
    out = per[0]
    for p in per[1:]:
        out = out.unionAll(p)
    return out.crossJoin(F.broadcast(en)).select(
        "method",
        "n_hits",
        "n_exact",
        F.expr("(n_hits * 1000000) DIV n_exact").alias("recall_micros"),
    )


# q184: q168's encode CTEs verbatim, one row per vector with its code
# list — the streaming projection must equal the batch encode exactly.
@query("""
    WITH cb AS (
      SELECT CAST(vec_id AS INT) AS j, CAST(ss.s AS INT) AS s,
             list_transform(embedding[(ss.s*8+1):(ss.s*8+8)],
                            x -> CAST(x AS DOUBLE)) AS cw
      FROM embeddings, (SELECT unnest(range(8)) AS s) ss
      WHERE vec_id < 16
    ), corp AS (
      SELECT vec_id AS neighbor_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), enc AS (
      SELECT neighbor_id, s, j AS code FROM (
        SELECT c.neighbor_id, cb.s, cb.j,
               row_number() OVER (
                 PARTITION BY c.neighbor_id, cb.s
                 ORDER BY list_sum(list_transform(range(1, 9), i ->
                   (c.v[CAST(cb.s*8+i AS INT)] - cb.cw[CAST(i AS INT)])
                   * (c.v[CAST(cb.s*8+i AS INT)] - cb.cw[CAST(i AS INT)]))) ASC,
                 cb.j ASC) AS rn
        FROM corp c CROSS JOIN cb
      ) WHERE rn = 1
    )
    SELECT neighbor_id AS vec_id, list(code ORDER BY s) AS pq_code
    FROM enc GROUP BY neighbor_id
""")
def _q184_streaming_pq_encode(spark, sf):
    """The PQ encode pass as a REAL stream: vectors arrive on a file
    source and encode against the pinned q168 codebooks per micro-batch
    — a pure stateless projection (no watermark, append mode), so the
    100 TB ingest path embeds new vectors as they land with zero
    shuffle. Memory sink; the oracle is q168's batch encode CTE."""
    import tempfile

    emb = _t(spark, sf, "embeddings")
    cb_rows = sorted(
        emb.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    codebooks = [
        [[float(x) for x in r["embedding"][s * 8 : (s + 1) * 8]] for r in cb_rows]
        for s in range(8)
    ]
    path = f"{sf}/embeddings.parquet"
    if not os.path.isdir(path):
        staged = tempfile.mkdtemp(prefix="pps_pq_src_") + "/embeddings"
        emb.write.mode("overwrite").parquet(staged)
        path = staged
    from polars_pipe_spark.functions.similarity import pq_encode

    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    enc = pq_encode(stream, "embedding", codebooks).select("vec_id", "pq_code")
    name = "pps_pq_out"
    q = (
        enc.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


@query(f"""
    WITH qf AS (
      SELECT vec_id AS query_id, embedding AS qv, embedding[1:8] AS qv8
      FROM embeddings WHERE vec_id < 20
    ), cf AS (
      SELECT vec_id AS neighbor_id, embedding AS cv, embedding[1:8] AS cv8
      FROM embeddings
    ), sfull AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY {_cosine_sql("cv", "qv")} DESC, neighbor_id) AS INT) AS rk
      FROM cf CROSS JOIN qf WHERE neighbor_id != query_id QUALIFY rk <= 5
    ), tr AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY {_cosine_sql("cv8", "qv8")} DESC, neighbor_id) AS INT) AS rk
      FROM cf CROSS JOIN qf WHERE neighbor_id != query_id QUALIFY rk <= 5
    ), hits AS (
      SELECT t.query_id, COUNT(*) AS n
      FROM tr t JOIN sfull f ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
      GROUP BY t.query_id
    )
    SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap
    FROM (SELECT DISTINCT query_id FROM qf) q LEFT JOIN hits h USING (query_id)
""")
def _q195_matryoshka_recall(spark, sf):
    """Matryoshka-style dimension-truncation evaluation: per query, the
    overlap between exact cosine top-5 on the FIRST 8 dims and on the
    full vector — the measurement that justifies shipping truncated
    embeddings at 100 TB (8/16 of the scan bytes and FLOPs). Both
    rankings reuse the exact brute-force kernel; overlap is an
    integer join-count with zero-preserving left join."""
    from polars_pipe_spark.functions.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    full = brute_force_topk(emb, q, "embedding", "vec_id", "vec_id", k=5).select(
        "query_id", "neighbor_id"
    )
    emb8 = emb.select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    q8 = emb8.filter(F.col("vec_id") < 20)
    trunc = brute_force_topk(emb8, q8, "embedding", "vec_id", "vec_id", k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        trunc.join(full, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id", F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap")
        )
    )


def _cos_safe_sql(a: str, b: str) -> str:
    na = _NORM_V.format(a=a)
    nb = _NORM_V.format(a=b)
    return (
        f"(CASE WHEN {na} * {nb} > 0 THEN {_DOT.format(a=a, b=b)} / ({na} * {nb})"
        " ELSE 0.0 END)"
    )


_MAXSIM = " + ".join(
    "greatest(" + ", ".join(_cos_safe_sql(f"q{j}", f"c{k}") for k in range(1, 5)) + ")"
    for j in range(1, 5)
)


@query(f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding[1:4] AS q1, embedding[5:8] AS q2,
             embedding[9:12] AS q3, embedding[13:16] AS q4
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS doc_id, embedding[1:4] AS c1, embedding[5:8] AS c2,
             embedding[9:12] AS c3, embedding[13:16] AS c4
      FROM embeddings
    ), s AS (
      SELECT query_id, doc_id, round({_MAXSIM}, 6) AS maxsim
      FROM c CROSS JOIN q WHERE doc_id != query_id
    )
    SELECT query_id, doc_id, maxsim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY maxsim DESC, doc_id) AS INT) AS rk
    FROM s QUALIFY rk <= 3
""")
def _q197_maxsim_late_interaction(spark, sf):
    """ColBERT-style MaxSim late-interaction scoring: each 16-dim vector
    is treated as 4 sub-vectors of 4 dims (the multi-vector layout);
    score(q, d) = Σ_j max_k cos(q_j, d_k), top-3 per query.

    r8 shape: the query side is BOUNDED (10 rows) and collected into an
    Arrow kernel's closure, so each corpus vector ships to Python ONCE
    and all 16 sub-cosines per (doc, query) run vectorized in numpy —
    the previous broadcast-crossJoin expression tree assembled 36
    element_at chains per PAIR in the JVM (13.9 s at sf1, 41 s at sf3
    for what is ~100M multiplies). Bit-parity with the DuckDB oracle is
    preserved by replicating the exact sequential-add order of the
    unrolled scalar chains: products of float64-widened float32
    elements, ((t1+t2)+t3)+t4 folds, max over sub-cosines (order-free),
    sequential sum over j, round(6) left in the JVM. Only the rank
    window shuffles, and only (doc_id, query_id, maxsim) rows travel.
    """
    import numpy as np

    emb = _t(spark, sf, "embeddings")
    qrows = sorted(
        (int(r["vec_id"]), list(r["embedding"])[:16])
        for r in emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    )

    def _fold4(terms):
        total = terms[0]
        for t in terms[1:]:
            total = total + t
        return total

    qm = np.array([v for _, v in qrows], dtype=np.float64)  # nq × 16
    qids = np.array([i for i, _ in qrows], dtype=np.int64)
    qn = np.empty((len(qrows), 4), dtype=np.float64)
    for j in range(4):
        qn[:, j] = np.sqrt(_fold4([qm[:, 4 * j + i] ** 2 for i in range(4)]))

    def score_batches(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            C = np.stack(pdf["embedding"].to_numpy())[:, :16].astype(np.float64)
            cn = np.empty((len(pdf), 4), dtype=np.float64)
            for k in range(4):
                cn[:, k] = np.sqrt(_fold4([C[:, 4 * k + i] ** 2 for i in range(4)]))
            out_doc, out_q, out_s = [], [], []
            for qi in range(len(qids)):
                score = None
                for j in range(4):
                    best = None
                    for k in range(4):
                        dot = _fold4(
                            [C[:, 4 * k + i] * qm[qi, 4 * j + i] for i in range(4)]
                        )
                        denom = qn[qi, j] * cn[:, k]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            cos = np.where(denom > 0, dot / denom, 0.0)
                        best = cos if best is None else np.maximum(best, cos)
                    score = best if score is None else score + best
                keep = ids != qids[qi]
                out_doc.append(ids[keep])
                out_q.append(np.full(keep.sum(), qids[qi], dtype=np.int64))
                out_s.append(score[keep])
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(out_doc),
                    "query_id": np.concatenate(out_q),
                    "maxsim_raw": np.concatenate(out_s),
                }
            )

    scored = (
        emb.select("vec_id", "embedding")
        .mapInPandas(score_batches, "doc_id long, query_id long, maxsim_raw double")
        .withColumn("maxsim", F.round(F.col("maxsim_raw"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("maxsim").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "doc_id", "maxsim", "rk")
    )


@query("""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vm
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl,
             vm AS cv
      FROM e ORDER BY vec_id LIMIT 4
    ),
    d1 AS (
      SELECT e.vec_id, e.vm, c.cl,
             list_sum(list_transform(range(1, 65),
               i -> (e.vm[i] - c.cv[i]) * (e.vm[i] - c.cv[i]))) AS dist
      FROM e CROSS JOIN c0 c
    ),
    a1 AS (
      SELECT vec_id, vm, cl, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cl) AS rn
        FROM d1) WHERE rn = 1
    ),
    m1 AS (
      SELECT cl, list(cv ORDER BY i) AS cv FROM (
        SELECT a.cl, r.i,
               CAST(SUM(a.vm[r.i]) // COUNT(*) AS BIGINT) AS cv
        FROM a1 a CROSS JOIN range(1, 65) AS r(i)
        GROUP BY a.cl, r.i
      ) GROUP BY cl
    ),
    d2 AS (
      SELECT e.vec_id, e.vm, c.cl,
             list_sum(list_transform(range(1, 65),
               i -> (e.vm[i] - c.cv[i]) * (e.vm[i] - c.cv[i]))) AS dist
      FROM e CROSS JOIN m1 c
    ),
    a2 AS (
      SELECT vec_id, vm, cl, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cl) AS rn
        FROM d2) WHERE rn = 1
    ),
    m2 AS (
      SELECT cl, list(cv ORDER BY i) AS cv FROM (
        SELECT a.cl, r.i,
               CAST(SUM(a.vm[r.i]) // COUNT(*) AS BIGINT) AS cv
        FROM a2 a CROSS JOIN range(1, 65) AS r(i)
        GROUP BY a.cl, r.i
      ) GROUP BY cl
    ),
    df AS (
      SELECT e.vec_id, c.cl,
             list_sum(list_transform(range(1, 65),
               i -> (e.vm[i] - c.cv[i]) * (e.vm[i] - c.cv[i]))) AS dist
      FROM e CROSS JOIN m2 c
    ),
    af AS (
      SELECT vec_id, cl, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dist, cl) AS rn
        FROM df) WHERE rn = 1
    )
    SELECT af.cl AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(af.dist AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_sse,
           ANY_VALUE(m.cv) AS centroid
    FROM af JOIN m2 m ON af.cl = m.cl
    GROUP BY af.cl
""")
def _q214_kmeans_exact(spark, sf):
    """Distributed k-means training, ORACLE-CHECKED end to end: 2 Lloyd
    iterations (k=4) on the integer micro-unit lattice
    (functions/similarity.kmeans_train_exact). Assignments are
    mapper-side literal expressions (no join), updates are one
    aggregate job reading k×d bounded state to the driver, and because
    every distance/argmin/update is exact integer arithmetic, the DuckDB
    oracle replays the SAME trajectory as two unrolled CTE iterations —
    the first genuinely iterative algorithm in the contract with a full
    value-hash oracle (q33/q169 could only property-check)."""
    from polars_pipe_spark.functions.similarity import kmeans_train_exact

    emb = _t_par(spark, sf, "embeddings")
    return kmeans_train_exact(emb, "embedding", "vec_id", k=4, iterations=2)
