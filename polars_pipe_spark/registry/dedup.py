"""Registry queries over ``functions.dedup``: exact and near-duplicate
detection, clustering and the ledgers built from them; plus the exact
char-gram pair baselines (q27, q211) and sorted-neighbourhood blocking
(q272), which run the same subject in native Spark."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import (
    _char_gram_frame,
    _exact_pair_budget,
    _t,
    _t_par,
)
from polars_pipe_spark.registry._sql import (
    _bucket_sql,
    _cosine_sql,
    _in_list,
    _MARKERS,
    _md5_bucket_sql,
    _NORM,
    _PUNCT_RE,
    _Q25_BODY,
    _Q25_INNER,
    _q25_inner,
    _SHINGLES3,
    _TOKS,
)
from polars_pipe_spark.registry.text import _q128_quality_classifier


@query(f"""
    SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
""")
def _q24_exact_dedup(spark, sf):
    """Exact dedup groups by content fingerprint (hash-groupBy)."""
    from polars_pipe_spark.functions.dedup import exact_dedup_groups

    return exact_dedup_groups(_t_par(spark, sf, "documents"), "text", "doc_id")


@query(_Q25_BODY)
def _q25_minhash_neardup(spark, sf):
    """MinHash bottom-k sketch + LSH banding → candidate pairs → exact
    Jaccard ≥ 0.2."""
    from polars_pipe_spark.functions.dedup import minhash_near_dups

    return minhash_near_dups(
        _t_par(spark, sf, "documents"), "text", "doc_id",
        shingle_k=3, sig_k=8, n_bands=4, threshold=0.2,
    )


_NIB = "strpos('0123456789abcdef', substr(md5(t), {i}, 1)) - 1"
_TOKVAL = " + ".join(
    f"({_NIB.format(i=i + 1)}) * {16 ** (3 - i)}" for i in range(4)
)
_SIMHASH_BITS = " + ".join(
    f"CASE WHEN 2 * len(list_filter(vals, v -> (v & {1 << (15 - b)}) != 0)) > n "
    f"THEN {1 << (15 - b)} ELSE 0 END"
    for b in range(16)
)


@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), v AS (
      SELECT doc_id, len(toks) AS n,
             list_transform(toks, t -> {_TOKVAL}) AS vals
      FROM tok
    )
    SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash16 FROM v
""")
def _q26_simhash(spark, sf):
    """16-bit SimHash signature per document (portable md5-nibble bits)."""
    from polars_pipe_spark.functions.dedup import simhash

    return _t_par(spark, sf, "documents").select(
        "doc_id", simhash("text", bits=16).alias("simhash16")
    )


@query(f"""
    SELECT * FROM (
      WITH g AS (
        SELECT doc_id AS id, source,
               list_distinct(list_transform(
                 range(1, greatest(length({_NORM}) - 3, 1) + 1),
                 i -> substr({_NORM}, i, 4))) AS grams
        FROM documents
      )
      SELECT a.id AS id_a, b.id AS id_b,
             round(CAST(len(list_filter(a.grams, s -> list_contains(b.grams, s))) AS DOUBLE)
                   / (len(a.grams) + len(b.grams)
                      - len(list_filter(a.grams, s -> list_contains(b.grams, s)))), 6) AS jaccard
      FROM g a JOIN g b ON a.source = b.source AND a.id < b.id
    ) WHERE jaccard >= 0.25
""")
def _q27_ngram_jaccard(spark, sf, max_pairs=100_000_000, sample_blocks=None):
    """Character-4-gram Jaccard over same-source candidate pairs
    (blocking join on source, then exact set similarity ≥ 0.25).

    Self-protecting (r8 VERDICT item 1): Σ per-block C(n,2) is estimated
    from one cheap count agg at call time; over ``max_pairs`` (default
    100M, ≈3.5 min of verify work) the call raises ``ValueError`` unless
    ``sample_blocks=k`` restricts the run to the k smallest blocks —
    see :func:`_exact_pair_budget`."""
    keep = _exact_pair_budget(spark, sf, max_pairs, sample_blocks, "q27_ngram_jaccard")
    g = _char_gram_frame(spark, sf, n=4)
    if keep is not None:
        g = g.filter(F.col("source").isin(keep))
    a, b = g.alias("a"), g.alias("b")
    # size-band pre-filter: j = i/(|A|+|B|-i) >= 1/4 forces i >= (|A|+|B|)/5
    # and i <= min(|A|,|B|), hence max <= 4*min — pairs outside the band can
    # never reach the threshold, so pruning them before array_intersect is
    # lossless and skips the per-pair set work for mismatched lengths.
    band = (F.col("a.ng") <= 4 * F.col("b.ng")) & (F.col("b.ng") <= 4 * F.col("a.ng"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source")) & (F.col("a.id") < F.col("b.id")) & band,
        )
        .withColumn("n_inter", F.size(F.array_intersect("a.grams", "b.grams")))
        # integer-form threshold: j = i/(|A|+|B|-i) >= 1/4  <=>  5i >= |A|+|B|.
        # Exactly equivalent to round(j,6) >= 0.25 for these set sizes (the
        # nearest rational below 1/4 is > 5e-7 away), and the filter stage
        # now compares ints instead of re-deriving the float ratio.
        .filter(5 * F.col("n_inter") >= F.size("a.grams") + F.size("b.grams"))
        .withColumn(
            "n_union", F.size("a.grams") + F.size("b.grams") - F.col("n_inter")
        )
        .withColumn("jaccard", F.round(F.col("n_inter").cast("double") / F.col("n_union"), 6))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "jaccard")
    )


def _bucket_sql_auto(v: str, np_ref: str, max_planes: int = 16) -> str:
    """Corpus-adaptive twin of _bucket_sql: the plane count is a SQL
    scalar (``np_ref``) instead of a Python literal, so the oracle
    matches embedding_near_dups' auto-planes rule at ANY corpus size,
    not just the sf0.01 gate (r8: the sf1 self-check caught the static
    4-plane oracle diverging from Spark's 8 planes at 50k vectors).
    Planes are unrolled to ``max_planes`` with a ``j < np`` gate; the
    bit weight 2^(np-1-j) is computed per row (exact in double for
    np <= 16, cast back to BIGINT)."""
    bits = []
    for j in range(max_planes):
        proj = (
            f"list_reduce(list_transform(range(1, len({v}) + 1), "
            f"i -> CAST({v}[i] AS DOUBLE) * sin({j + 1} * 2.399963229728653 * i + {j})), "
            f"(x, y) -> x + y)"
        )
        bits.append(
            f"(CASE WHEN {j} < {np_ref} THEN "
            f"(CASE WHEN {proj} >= 0 THEN CAST(POWER(2, {np_ref} - 1 - {j}) AS BIGINT) "
            f"ELSE 0 END) ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


_Q34_CANDIDATES = f"""
    WITH p0 AS (
      SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(COUNT(*), 1) / 256.0)) AS INT)) AS np
      FROM embeddings
    ), p AS (
      -- guard: the plane sum below is unrolled to 16 terms; Spark's auto
      -- rule is uncapped, so past ~16.7M vectors this oracle would
      -- silently drop the extra plane bits. Fail loudly instead.
      SELECT CASE WHEN np > 16
                  THEN CAST(error('q34 oracle: auto plane count ' || np
                                  || ' exceeds the unrolled max of 16 — '
                                  || 'extend _bucket_sql_auto(max_planes)')
                            AS INT)
                  ELSE np END AS np
      FROM p0
    ), b AS (
      SELECT vec_id AS id, embedding AS v,
             {_bucket_sql_auto("embedding", "p.np")} AS bucket
      FROM embeddings, p
    )
    SELECT a.id AS id_a, bb.id AS id_b, {_cosine_sql("a.v", "bb.v")} AS cosine
    FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id
"""


@query(
    # NOT isnan: engine cosines cross the pandas->Arrow seam, which maps
    # NaN to NULL, so degenerate (zero-norm / NaN-valued) pairs fail the
    # Spark-side `round(cos,6) >= t` filter; DuckDB's expression keeps a
    # true NaN, which orders ABOVE the threshold — guard it out so a
    # degenerate corpus cannot diverge (r8 ADVICE).
    "SELECT * FROM (" + _Q34_CANDIDATES
    + ") WHERE cosine >= 0.4 AND NOT isnan(cosine)"
)
def _q34_embedding_neardup(spark, sf):
    """Embedding-cosine near-dup pairs within hyperplane-LSH buckets.

    n_planes=None (r8): auto-scaled planes — max(4, ceil(log2(n/256)))
    — keep expected bucket occupancy ~256 at ANY corpus size, so the
    candidate pair volume grows linearly in n (the sf1 ladder caught
    both a fixed-8-plane recall collapse at sandbox scale — collision
    probability (1−θ/π)^8 ≈ 2.5% per cosine-0.4 pair — and a fixed-4-
    plane quadratic blowup at sf1). The oracle SQL mirrors the SAME
    auto rule (GREATEST(4, CEIL(LOG2(n/256))) with the plane count as a
    SQL scalar), so Spark and DuckDB agree at ANY corpus size —
    verified hash-identical at sf0.001, sf0.01 and the generated sf1
    fixtures (50k vectors, 8 planes)."""
    from polars_pipe_spark.functions.dedup import embedding_near_dups

    return embedding_near_dups(
        _t_par(spark, sf, "embeddings"), "embedding", "vec_id",
        threshold=0.4, n_planes=None,
    )


@query(f"""
    WITH RECURSIVE prs AS (
      {_Q25_BODY}
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ), nodes AS (
      SELECT DISTINCT s AS n FROM edges
    ), walk(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, walk.l FROM walk JOIN edges e ON walk.n = e.s
    )
    SELECT n AS doc_id, MIN(l) AS cluster_id FROM walk GROUP BY n
""")
def _q63_dedup_clusters(spark, sf):
    """Connected components over MinHash near-dup pairs: (A,B),(B,C)
    collapse into one cluster keyed by min doc id — iterative min-label
    propagation, oracle-checked against a recursive CTE."""
    from polars_pipe_spark.functions.dedup import dedup_clusters, minhash_near_dups

    pairs = minhash_near_dups(
        _t_par(spark, sf, "documents"), "text", "doc_id",
        shingle_k=3, sig_k=8, n_bands=4, threshold=0.2,
    ).select("id_a", "id_b").persist()
    out = dedup_clusters(pairs)
    return out.select(F.col("node").alias("doc_id"), "cluster_id")


@query(f"""
    WITH RECURSIVE prs AS (
      {_Q25_BODY}
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ), nodes AS (
      SELECT DISTINCT s AS n FROM edges
    ), walk(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, walk.l FROM walk JOIN edges e ON walk.n = e.s
    ), clusters AS (
      SELECT n AS doc_id, MIN(l) AS cluster_id FROM walk GROUP BY n
    ), losers AS (
      SELECT doc_id FROM clusters WHERE doc_id <> cluster_id
    )
    SELECT source, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    GROUP BY source
""")
def _q73_dedup_apply(spark, sf):
    """END-TO-END near-dedup: minhash pairs → connected components →
    keep the cluster representative (min doc_id) → the deduplicated
    corpus summary per source. The full 100 TB dedup recipe as one
    composable DAG (pairs and clusters never leave the cluster-id join)."""
    from polars_pipe_spark.functions.dedup import dedup_clusters, minhash_near_dups

    docs = _t_par(spark, sf, "documents")
    pairs = (
        minhash_near_dups(
            docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2
        )
        .select("id_a", "id_b")
        .persist()
    )
    clusters = dedup_clusters(pairs)  # (node, cluster_id = min id in comp)
    # drop every clustered doc that is not its cluster's representative
    losers = clusters.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS ws FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(ws) <= 3 THEN array_to_string(ws, ' ')
                  ELSE ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] END AS gram
      FROM toks, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS t(i)
    )
    SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM grams t JOIN grams b ON t.gram = b.gram
    WHERE t.doc_id % 197 <> 0 AND b.doc_id % 197 = 0
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
""")
def _q80_contamination(spark, sf):
    """Benchmark decontamination: train docs sharing >= 2 distinct word
    3-grams with any benchmark doc (benchmark = doc_id % 197 == 0, a
    stand-in eval set; the synthetic corpus's word-soup text makes high
    overlaps rare, so the threshold is low to keep the check non-trivial).
    Broadcast the small bench gram table — the train side never
    shuffles."""
    from polars_pipe_spark.functions.dedup import ngram_contamination

    docs = _t_par(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 197 == 0)
    train = docs.filter(F.col("doc_id") % 197 != 0)
    return ngram_contamination(
        train, bench, "text", "doc_id", k=3, min_overlap=2
    )


@query(f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    pos AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 6),
                    i -> md5(array_to_string(t[i:i+7], ' ')))) AS g
      FROM tok WHERE len(t) >= 8
    ),
    cnt AS (SELECT g, COUNT(*) AS n_occ FROM pos GROUP BY g),
    per AS (
      SELECT doc_id, COUNT(*) AS n_windows,
             SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM pos JOIN cnt USING (g) GROUP BY doc_id
    )
    SELECT d.doc_id AS id,
           CAST(COALESCE(p.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_windows,
           CAST(p.n_dup AS DOUBLE) / CAST(p.n_windows AS DOUBLE) AS dup_fraction
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
""")
def _q94_dup_spans(spark, sf):
    """Corpus-level duplicated-span statistics (ExactSubstr-lite): per
    document, the fraction of its word 8-gram windows occurring >1 time
    anywhere in the corpus. Grams md5-hashed before the shuffle."""
    from polars_pipe_spark.functions.dedup import dup_span_stats

    docs = _t_par(spark, sf, "documents")
    return dup_span_stats(docs, "text", "doc_id", k=8)


# q130: batch twin of the streaming minhash-group dedup (signature
# arithmetic identical to the q25 oracle fragments).
@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), dsh AS (
      SELECT doc_id, list_distinct({_SHINGLES3}) AS dsh FROM tok
    ), sig AS (
      SELECT doc_id,
             array_to_string((list_sort(list_transform(dsh, s -> md5(s))))[1:8], '|') AS sig
      FROM dsh
    )
    SELECT sig, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
    FROM sig GROUP BY sig
""")
def _q130_streaming_minhash_dedup(spark, sf):
    """Incremental near-dup detection as a real stream: minhash
    signatures computed per micro-batch, aggregated into
    (signature, n_docs, canonical_id) groups in complete mode — the
    stateful-streaming twin of the batch q24/q25 dedup path. Checked
    against the batch SQL oracle (same signature arithmetic)."""
    import tempfile

    from polars_pipe_spark.functions.dedup import minhash_signature

    path = f"{sf}/documents.parquet"
    batch = _t_par(spark, sf, "documents")
    if not os.path.isdir(path):
        staged = tempfile.mkdtemp(prefix="pps_mh_src_") + "/documents"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    sig = stream.select(
        "doc_id",
        F.array_join(minhash_signature("text", shingle_k=3, sig_k=8), "|").alias("sig"),
    )
    agg = sig.groupBy("sig").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id")
    )
    name = "pps_mh_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


# q132: mirrors functions/dedup.py::span_dedup — 20-token spans, first
# corpus-wide occurrence wins (owner = min doc_id*1e6 + pos), surviving
# spans string-agg'd back in position order.
@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sp AS (
      SELECT doc_id,
             list_transform(range(0, CAST(floor((len(toks) + 19) / 20.0) AS INT)),
                            i -> array_to_string(toks[i*20+1 : i*20+20], ' ')) AS spans
      FROM tok
    ), ex0 AS (
      SELECT doc_id, unnest(range(1, len(spans) + 1)) AS i, spans FROM sp
    ), ex AS (
      SELECT doc_id, i - 1 AS pos, spans[i] AS span, md5(spans[i]) AS skey FROM ex0
    ), own AS (
      SELECT skey, MIN(doc_id * 1000000 + pos) AS owner FROM ex GROUP BY skey
    ), k AS (
      SELECT ex.*, (doc_id * 1000000 + pos) = owner AS kept
      FROM ex JOIN own USING (skey)
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           -- BIGINT cast: DuckDB SUM(INT) is HUGEINT (decimal128(38,0)),
           -- Spark's conditional count is integral — the q22 type seam
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN kept THEN span END, ' ' ORDER BY pos), '') AS cleaned_text
    FROM k GROUP BY doc_id
""")
def _q132_span_dedup(spark, sf):
    """Span-level dedup APPLY: 20-token spans, keep the first corpus-wide
    occurrence of each distinct span, reassemble surviving text per doc
    (the removal step downstream of q94's dup_span_stats)."""
    from polars_pipe_spark.functions.dedup import span_dedup

    return span_dedup(_t_par(spark, sf, "documents"), "text", "doc_id", span_tokens=20)


# q144: q63's recursive-CTE clusters + per-cluster argmax on the shared
# quality fragment (max q, ties -> min doc_id, mirroring the struct max).
@query(f"""
    WITH RECURSIVE prs AS (
      {_Q25_BODY}
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ), nodes AS (
      SELECT DISTINCT s AS n FROM edges
    ), walk(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, walk.l FROM walk JOIN edges e ON walk.n = e.s
    ), clusters AS (
      SELECT n AS doc_id, MIN(l) AS cluster_id FROM walk GROUP BY n
    ), qual AS (
      SELECT doc_id,
             round(least(len(toks) / 100.0, 1.0) * 0.4
                   + least((CASE WHEN len(toks) > 0
                            THEN CAST(len(list_filter(toks, t -> t IN {_in_list(_MARKERS["en"])})) AS DOUBLE) / len(toks)
                            ELSE 0.0 END) * 5.0, 1.0) * 0.4
                   + (1.0 - least((CASE WHEN length(text) > 0
                            THEN CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS DOUBLE) / length(text)
                            ELSE 0.0 END) * 10.0, 1.0)) * 0.2, 6) AS q
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    ), ranked AS (
      SELECT cluster_id, c.doc_id, q,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY q DESC, c.doc_id ASC) AS rn
      FROM clusters c JOIN qual ON qual.doc_id = c.doc_id
    )
    SELECT cluster_id,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS rep_id,
           MAX(CASE WHEN rn = 1 THEN q END) AS rep_quality,
           COUNT(*) AS n_members
    FROM ranked GROUP BY cluster_id
""")
def _q144_quality_rep_dedup(spark, sf):
    """Quality-aware near-dup representative selection: clusters from
    MinHash pairs (q63's machinery), but the kept doc per cluster is the
    HIGHEST-quality member (ties → smallest id) instead of the smallest
    id — what a production corpus dedup actually keeps. Deterministic
    argmax via lexicographic struct max (q, -id)."""
    from polars_pipe_spark.functions.dedup import dedup_clusters, minhash_near_dups
    from polars_pipe_spark.functions.text import quality_score

    docs = _t_par(spark, sf, "documents")
    pairs = minhash_near_dups(
        docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2
    ).select("id_a", "id_b").persist()
    clusters = dedup_clusters(pairs)
    qual = docs.select(F.col("doc_id"), quality_score("text").alias("q"))
    j = clusters.join(qual, clusters.node == qual.doc_id).select(
        "node", "cluster_id", "q"
    )
    best = F.max(
        F.struct(F.col("q").alias("q"), (-F.col("node")).alias("negid"))
    )
    return j.groupBy("cluster_id").agg(
        (-best["negid"]).alias("rep_id"),
        best["q"].alias("rep_quality"),
        F.count(F.lit(1)).alias("n_members"),
    )


# q150: funnel counts — quality keeps via the q128 oracle, exact-dedup
# survivors via the q24 fingerprint, decontamination via q80's gram
# split, each stage strictly nested in the previous.
@query(f"""
    WITH kept AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN ({_q128_quality_classifier.oracle}) v USING (doc_id)
      WHERE v.verdict = 'keep'
    ), tg AS (
      SELECT doc_id, {_TOKS} AS ws FROM kept WHERE doc_id % 197 <> 0
    ), bg AS (
      SELECT doc_id, {_TOKS} AS ws FROM documents WHERE doc_id % 197 = 0
    ), tgrams AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(ws) <= 3 THEN array_to_string(ws, ' ')
                  ELSE ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] END AS gram
      FROM tg, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS t(i)
    ), bgrams AS (
      SELECT DISTINCT doc_id,
             CASE WHEN len(ws) <= 3 THEN array_to_string(ws, ' ')
                  ELSE ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] END AS gram
      FROM bg, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS t(i)
    ), contaminated AS (
      SELECT DISTINCT doc_id FROM (
        SELECT t.doc_id, b.doc_id AS bench_id
        FROM tgrams t JOIN bgrams b ON t.gram = b.gram
        GROUP BY t.doc_id, b.doc_id
        HAVING COUNT(*) >= 2
      )
    )
    SELECT '1_input' AS stage, COUNT(*) AS n_docs FROM documents
    UNION ALL
    SELECT '2_quality_keep', COUNT(*) FROM kept
    UNION ALL
    SELECT '3_exact_distinct', COUNT(DISTINCT md5({_NORM})) FROM kept
    UNION ALL
    SELECT '4_decontaminated', COUNT(*) FROM kept
    WHERE doc_id % 197 <> 0
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
""")
def _q150_corpus_funnel(spark, sf):
    """Corpus-prep funnel observability — the oracle-checked twin of
    examples/llm_corpus_prep.py: one row per pipeline stage with the
    surviving doc count. Stages: 1 input corpus; 2 quality-classifier
    keeps; 3 distinct contents among the keeps (exact-dedup survivors);
    4 kept train-slice docs (doc_id % 197 != 0) not sharing >= 2 word
    3-grams with the benchmark slice (doc_id % 197 == 0, q80's split)."""
    from polars_pipe_spark.functions.dedup import ngram_contamination
    from polars_pipe_spark.functions.text import doc_fingerprint, quality_classifier

    docs = _t_par(spark, sf, "documents")
    keep = quality_classifier("text")["verdict"] == "keep"
    # r14 (§1.2/§2.4): the union-of-aggregates form scanned documents 12
    # times and evaluated the quality classifier over the full corpus 4
    # times (the anti-join re-derived kept_train on BOTH sides). Stages
    # 1-3 now come out of ONE scan: count(*), the conditional keep /
    # keep-train counts, and count(DISTINCT fingerprint-of-keeps) (kept
    # docs always have non-null text — NULL text rejects as low_stopword —
    # so the fingerprint is never null and COUNT DISTINCT matches the
    # old distinct()+count). Stage 4 = n_kept_train − n_contaminated:
    # the contaminated ids are a SUBSET of kept_train by construction
    # (they are its ngram_contamination train side) and doc_id is the
    # table key, so the anti-join count equals the difference.
    # Classifier passes over the corpus: 4 → 2.
    per_doc = docs.select(
        keep.alias("__keep"),
        (F.col("doc_id") % 197 != 0).alias("__train"),
        doc_fingerprint("text").alias("__fp"),
    )
    counts = per_doc.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias("n_keep"),
        F.sum(
            F.when(F.col("__keep") & F.col("__train"), 1).otherwise(0)
        ).alias("n_kept_train"),
        F.count_distinct(
            F.when(F.col("__keep"), F.col("__fp"))
        ).alias("n_distinct_fp"),
    )
    kept_train = docs.filter(keep).filter(F.col("doc_id") % 197 != 0)
    bench = docs.filter(F.col("doc_id") % 197 == 0)
    n_contam = (
        ngram_contamination(kept_train, bench, "text", "doc_id", k=3, min_overlap=2)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return counts.crossJoin(n_contam).selectExpr(
        """stack(4,
             '1_input', n_input,
             '2_quality_keep', n_keep,
             '3_exact_distinct', n_distinct_fp,
             '4_decontaminated', n_kept_train - n_contaminated
           ) AS (stage, n_docs)"""
    )


# q155: q80's contamination rule + q151's novelty, rolled up per source;
# scaled divisions stay in BIGINT (operands bounded far under int64).
@query(f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ), base AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), bg AS (
      SELECT doc_id AS bench_id, unnest(list_distinct({_SHINGLES3})) AS gram
      FROM tok WHERE doc_id % 197 = 0
    ), tg AS (
      SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS gram
      FROM tok WHERE doc_id % 197 != 0
    ), contam AS (
      SELECT DISTINCT doc_id FROM (
        SELECT tg.doc_id, bg.bench_id, COUNT(*) AS n_shared
        FROM tg JOIN bg USING (gram) GROUP BY 1, 2
      ) WHERE n_shared >= 2
    ), csrc AS (
      SELECT source, COUNT(*) AS n_contaminated
      FROM contam JOIN documents USING (doc_id) GROUP BY source
    ), g AS (
      SELECT source, doc_id, unnest(list_distinct({_SHINGLES3})) AS gram FROM tok
    ), counts AS (
      SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
    ), nov AS (
      SELECT source, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_grams
      FROM g JOIN counts USING (gram) GROUP BY source
    )
    SELECT base.source, base.n_docs,
           COALESCE(csrc.n_contaminated, 0) AS n_contaminated,
           (COALESCE(csrc.n_contaminated, 0) * 1000000) // base.n_docs AS contaminated_micros,
           nov.n_grams, nov.n_unique_grams,
           (nov.n_unique_grams * 1000000) // nov.n_grams AS novelty_micros
    FROM base
    LEFT JOIN csrc USING (source)
    LEFT JOIN nov ON nov.source = base.source
""")
def _q155_corpus_health(spark, sf):
    """Per-domain corpus-health report (r4 north star): contamination
    (q80's benchmark-overlap rule) and n-gram novelty (q151) joined into
    ONE per-source artifact — the dashboard row a corpus owner reads
    before a training run. All-BIGINT cells via scaled integer division.

    Scale: contamination broadcasts the small benchmark gram table
    (q80); the final join is over a handful of source rows.

    r14 (§2.3/§2.4, the q151 rewrite applied per source): novelty used
    to explode the corpus TWICE and join at gram-instance grain.
    ``count() OVER (PARTITION BY gram)`` computes the identical df on
    ONE exploded stream — one explode, one gram shuffle, no join (see
    q151 for the measured variant comparison)."""
    from polars_pipe_spark.functions.dedup import ngram_contamination
    from polars_pipe_spark.functions.text import shingles

    docs = _t_par(spark, sf, "documents")
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))

    bench = docs.filter(F.col("doc_id") % 197 == 0)
    train = docs.filter(F.col("doc_id") % 197 != 0)
    contaminated = (
        ngram_contamination(train, bench, "text", "doc_id", k=3, min_overlap=2)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )

    g = docs.select(
        "source", F.explode(F.array_distinct(shingles("text", 3))).alias("gram")
    )
    novelty = (
        g.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique_grams"),
        )
    )
    return (
        base.join(contaminated, "source", "left")
        .join(novelty, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.expr(
                "(coalesce(n_contaminated, 0) * 1000000) DIV n_docs"
            ).alias("contaminated_micros"),
            "n_grams",
            "n_unique_grams",
            F.expr(
                "CAST((CAST(n_unique_grams AS DECIMAL(38,0)) * 1000000)"
                " DIV n_grams AS BIGINT)"
            ).alias("novelty_micros"),
        )
    )


# q158: same md5(norm) fingerprint as q23/q24; min-id-first within the
# batch, index membership wins over within-batch order.
@query(f"""
    WITH b AS (
      SELECT doc_id, md5({_NORM}) AS fingerprint
      FROM documents WHERE doc_id % 7 = 3
      UNION ALL
      SELECT doc_id + 1000000, md5({_NORM})
      FROM documents WHERE doc_id % 11 = 0
    ), idx AS (
      SELECT DISTINCT md5({_NORM}) AS fingerprint
      FROM documents WHERE doc_id % 7 != 3
    ), first AS (
      SELECT fingerprint, MIN(doc_id) AS first_id FROM b GROUP BY fingerprint
    ), tagged AS (
      SELECT b.doc_id,
             CASE WHEN idx.fingerprint IS NOT NULL THEN 'dup_of_index'
                  WHEN b.doc_id = first.first_id THEN 'new_unique'
                  ELSE 'dup_within_batch' END AS dedup_status
      FROM b
      JOIN first USING (fingerprint)
      LEFT JOIN idx USING (fingerprint)
    )
    SELECT dedup_status, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM tagged GROUP BY dedup_status
""")
def _q158_incremental_dedup(spark, sf):
    """Incremental-ingest dedup gate: the doc_id%7==3 slice arrives as a
    new batch against the fingerprint index built from the rest of the
    corpus; each batch row is classified new_unique / dup_of_index /
    dup_within_batch (functions/dedup.py::incremental_dedup) and the
    report aggregates per status. At scale the index side is the
    persisted fingerprint table — the corpus text is never rescanned on
    ingest, and bucketing the index by fingerprint makes the join
    shuffle-free batch after batch."""
    from polars_pipe_spark.functions.dedup import incremental_dedup
    from polars_pipe_spark.functions.text import normalize_text

    docs = _t_par(spark, sf, "documents")
    # fresh slice + a re-crawled slice (same text, re-keyed ids): the
    # re-ingest path guarantees all three statuses appear at any sf —
    # re-crawls of indexed docs → dup_of_index; ids ≡66 (mod 77) occur
    # in both slices → new_unique + dup_within_batch.
    batch = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    index = docs.filter(F.col("doc_id") % 7 != 3).select(
        F.md5(normalize_text("text")).alias("fingerprint")
    )
    tagged = incremental_dedup(batch, index, "text", "doc_id")
    return tagged.groupBy("dedup_status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# q162: same shingle fragment as q25, positions via generate_subscripts
# (base offset cancels in the ROWS window), same 8-nibble md5 arithmetic
# as the Spark _md5_int32 fold.
@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sh AS (
      SELECT doc_id, {_SHINGLES3} AS sh FROM tok
    ), grams AS (
      SELECT doc_id, generate_subscripts(sh, 1) AS pos, unnest(sh) AS gram FROM sh
    ), hashed AS (
      SELECT doc_id, pos, (strpos('0123456789abcdef', substr(md5(gram), 1, 1)) - 1) * 268435456 + (strpos('0123456789abcdef', substr(md5(gram), 2, 1)) - 1) * 16777216 + (strpos('0123456789abcdef', substr(md5(gram), 3, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(md5(gram), 4, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(md5(gram), 5, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(md5(gram), 6, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(md5(gram), 7, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(gram), 8, 1)) - 1) * 1 AS h FROM grams
    ), fp AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
      FROM hashed
    )
    SELECT doc_id, COUNT(*) AS n_fp,
           MIN(fingerprint) AS min_fp, MAX(fingerprint) AS max_fp
    FROM fp GROUP BY doc_id
""")
def _q162_winnow_fingerprints(spark, sf):
    """Winnowing (MOSS-style) local fingerprints per document: shingle
    hashes → per-doc sliding-window minimum → distinct, reported as
    per-doc fingerprint counts and extrema. The window partitions by
    doc (bounded by doc length, never corpus-wide); the variant keeps
    trailing partial windows on both engines for a total definition.
    See functions/dedup.py::winnow_fingerprints."""
    from polars_pipe_spark.functions.dedup import winnow_fingerprints

    docs = _t_par(spark, sf, "documents")
    fp = winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)
    return fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
    )


# q175: q63's recursive-CTE clusters + q53's md5-bucket split keyed on
# cluster id; the leak count is computed, not asserted as a literal.
@query(f"""
    WITH RECURSIVE prs AS (
      {_Q25_BODY}
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ), nodes AS (
      SELECT DISTINCT s AS n FROM edges
    ), walk(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, walk.l FROM walk JOIN edges e ON walk.n = e.s
    ), clusters AS (
      SELECT n AS doc_id, MIN(l) AS cluster_id FROM walk GROUP BY n
    ), tagged AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
             CASE WHEN {_md5_bucket_sql("CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)", 100)} < 10
                  THEN 'test' ELSE 'train' END AS split
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    ), leak AS (
      SELECT COUNT(*) AS n_leaky_clusters FROM (
        SELECT cluster_id FROM tagged GROUP BY cluster_id
        HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(leak.n_leaky_clusters AS BIGINT) AS n_leaky_clusters
    FROM tagged, leak GROUP BY split, leak.n_leaky_clusters
""")
def _q175_cluster_split(spark, sf):
    """Leakage-aware train/test split (wires
    functions/sampling.py::cluster_aware_split): near-dup clusters from
    the q25 MinHash pipeline are split as UNITS — keyed on cluster id,
    so no test document has a training near-copy. Report: per-split doc
    and cluster counts plus the leaky-cluster count, which both engines
    compute from their own split assignment (expected 0 — a hard check
    of the no-leakage invariant, not a literal)."""
    from polars_pipe_spark.functions.dedup import minhash_near_dups
    from polars_pipe_spark.functions.sampling import cluster_aware_split

    docs = _t_par(spark, sf, "documents")
    pairs = minhash_near_dups(
        docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2
    )
    tagged = cluster_aware_split(
        docs, "doc_id", pairs.select("id_a", "id_b"), test_fraction=0.1
    )
    leak = tagged.groupBy("cluster_id").agg(
        F.count_distinct("split").alias("__ns")
    ).filter(F.col("__ns") > 1).agg(
        F.count(F.lit(1)).alias("n_leaky_clusters")
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
    )


# q182: canonical = min doc_id per md5(norm) fingerprint (the q24
# rule); savings by integer division.
@query(f"""
    WITH fp AS (
      SELECT source, doc_id, n_chars, md5({_NORM}) AS fingerprint FROM documents
    ), canon AS (
      SELECT fingerprint, MIN(doc_id) AS canonical_id FROM fp GROUP BY fingerprint
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN fp.doc_id != canon.canonical_id
                    THEN n_chars ELSE 0 END) AS BIGINT) AS reclaimable_chars,
           CAST((SUM(CASE WHEN fp.doc_id != canon.canonical_id
                     THEN n_chars ELSE 0 END) * 1000000) // SUM(n_chars)
                AS BIGINT) AS savings_micros
    FROM fp JOIN canon USING (fingerprint)
    GROUP BY source
""")
def _q182_dedup_savings(spark, sf):
    """Dedup ROI report: bytes the exact-dedup pass saves, per source —
    every non-canonical copy's character count is reclaimable storage.
    One fingerprint groupBy (the q24 shape) joined back to tag
    canonicals; all-BIGINT micros share. The number a storage owner
    weighs against the dedup job's cost."""
    from polars_pipe_spark.functions.dedup import exact_dedup_groups
    from polars_pipe_spark.functions.text import doc_fingerprint

    docs = _t_par(spark, sf, "documents")
    groups = exact_dedup_groups(docs, "text", "doc_id").select(
        "fingerprint", "canonical_id"
    )
    tagged = docs.select(
        "source", "doc_id", "n_chars", doc_fingerprint("text").alias("fingerprint")
    ).join(groups, "fingerprint")
    return tagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.when(F.col("doc_id") != F.col("canonical_id"), F.col("n_chars"))
            .otherwise(0)
        ).alias("reclaimable_chars"),
    ).withColumn(
        "savings_micros",
        F.expr(
            "CAST((CAST(reclaimable_chars AS DECIMAL(38,0)) * 1000000)"
            " DIV total_chars AS BIGINT)"
        ),
    )


_Q25_INNER_NOCAP = _q25_inner(None)


# q183: classification from the corpus-wide q25 pairs (id_a < id_b)
# restricted to batch-involved rows — banding batch∪index equals
# banding the corpus, so the candidate sets coincide.
@query(f"""
    WITH prs AS (
      SELECT * FROM ({_Q25_INNER_NOCAP}) WHERE jaccard >= 0.2
    ), stat AS (
      SELECT b.doc_id,
             CASE WHEN EXISTS (
                    SELECT 1 FROM prs p
                    WHERE (p.id_a = b.doc_id AND p.id_b % 7 != 3)
                       OR (p.id_b = b.doc_id AND p.id_a % 7 != 3))
                  THEN 'dup_of_index'
                  WHEN EXISTS (
                    SELECT 1 FROM prs p
                    WHERE p.id_b = b.doc_id AND p.id_a % 7 = 3)
                  THEN 'dup_within_batch'
                  ELSE 'novel' END AS neardup_status
      FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 3) b
    )
    SELECT neardup_status, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM stat GROUP BY neardup_status
""")
def _q183_incremental_neardup(spark, sf):
    """Near-dup ingest gate (functions/dedup.py::incremental_near_dups):
    the doc_id%7==3 slice arrives as a new batch; its band keys join
    only against (index ∪ batch) bands, candidates verify with exact
    Jaccard ≥ 0.2 (q25's parameters), and each batch doc classifies as
    dup_of_index / dup_within_batch / novel. The oracle derives the
    identical classification from the corpus-wide q25 pair set
    restricted to batch-involved pairs — the candidate sets provably
    coincide, which is the point being checked."""
    from polars_pipe_spark.functions.dedup import incremental_near_dups

    docs = _t_par(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    index = docs.filter(F.col("doc_id") % 7 != 3)
    tagged = incremental_near_dups(
        batch, index, "text", "doc_id",
        shingle_k=3, sig_k=8, n_bands=4, threshold=0.2,
    )
    return tagged.groupBy("neardup_status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# q201: the unfiltered q25 candidate body aggregated into precision
@query(f"""
    WITH scored AS ({_Q25_INNER})
    SELECT COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           round(CAST(SUM(CASE WHEN jaccard >= 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS precision
    FROM scored
""")
def _q201_lsh_precision(spark, sf):
    """LSH candidate-quality evaluation, the PRECISION half of the
    q133 recall harness: of all pairs the banded minhash join proposes,
    how many survive exact Jaccard ≥ 0.2? One aggregate over the
    unfiltered candidate frame (threshold=0 path of minhash_near_dups) —
    the number that tells you whether banding parameters waste exact-
    verification work at 100 TB. Integer counts + one rounded ratio."""
    from polars_pipe_spark.functions.dedup import minhash_near_dups

    pairs = minhash_near_dups(
        _t_par(spark, sf, "documents"), "text", "doc_id",
        shingle_k=3, sig_k=8, n_bands=4, threshold=0.0,
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("jaccard") >= 0.2, 1).otherwise(0)).alias("n_true"),
        F.round(
            F.sum(F.when(F.col("jaccard") >= 0.2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("precision"),
    )


@query(f"""
    WITH g AS (
      SELECT doc_id AS id, source,
             list_distinct(list_transform(
               range(1, greatest(length({_NORM}) - 3, 1) + 1),
               i -> substr({_NORM}, i, 4))) AS grams
      FROM documents
    ),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             len(a.grams) AS ng_a, len(b.grams) AS ng_b,
             len(list_filter(a.grams, s -> list_contains(b.grams, s))) AS n_inter
      FROM g a JOIN g b ON a.source = b.source AND a.id < b.id
    )
    SELECT id_a, id_b,
           CAST(ng_a AS BIGINT) AS ng_a, CAST(ng_b AS BIGINT) AS ng_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST((n_inter * 1000000) // (ng_a + ng_b - n_inter) AS BIGINT)
             AS jaccard_micros,
           CAST((n_inter * 1000000) // least(ng_a, ng_b) AS BIGINT)
             AS containment_micros
    FROM p WHERE 5 * n_inter >= ng_a + ng_b
""")
def _q211_dedup_explain(spark, sf, max_pairs=100_000_000, sample_blocks=None):
    """Dedup EXPLAIN report: for every candidate near-dup pair (q27's
    same-source char-4-gram candidates at jaccard ≥ 0.25), the full
    evidence row a curation reviewer needs — both set sizes, the exact
    intersection, and integer-exact jaccard + containment in micro-units
    (the asymmetric containment signal flags quote-inside-a-page pairs
    that symmetric jaccard underrates). One candidate join produces ALL
    signals; no per-signal corpus rescan. All-BIGINT output: the ratio
    micros are integral divisions of exact counts, no float seam.

    Same pair-budget fence as q27 (:func:`_exact_pair_budget`): it is
    the same Θ(Σ C(n_block,2)) join."""
    keep = _exact_pair_budget(
        spark, sf, max_pairs, sample_blocks, "q211_dedup_explain"
    )
    g = _char_gram_frame(spark, sf, n=4)
    if keep is not None:
        g = g.filter(F.col("source").isin(keep))
    a, b = g.alias("a"), g.alias("b")
    band = (F.col("a.ng") <= 4 * F.col("b.ng")) & (
        F.col("b.ng") <= 4 * F.col("a.ng")
    )
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.id") < F.col("b.id"))
            & band,
        )
        .withColumn("n_inter", F.size(F.array_intersect("a.grams", "b.grams")))
        .filter(5 * F.col("n_inter") >= F.col("a.ng") + F.col("b.ng"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.ng").cast("long").alias("ng_a"),
            F.col("b.ng").cast("long").alias("ng_b"),
            F.col("n_inter").cast("long").alias("n_inter"),
        )
        .selectExpr(
            "id_a",
            "id_b",
            "ng_a",
            "ng_b",
            "n_inter",
            "CAST((n_inter * 1000000) DIV (ng_a + ng_b - n_inter) AS BIGINT)"
            " AS jaccard_micros",
            "CAST((n_inter * 1000000) DIV least(ng_a, ng_b) AS BIGINT)"
            " AS containment_micros",
        )
    )


# q234: clusters re-derived with q63's recursive CTE, survivor rule on top
@query(f"""
    WITH cl AS ({_q63_dedup_clusters.oracle}),
    sized AS (
      SELECT cl.doc_id, cl.cluster_id, d.n_chars
      FROM cl JOIN documents d ON cl.doc_id = d.doc_id
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY n_chars DESC, doc_id ASC) AS r
      FROM sized
    )
    SELECT CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs_in_clusters,
           CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_survivors,
           CAST(SUM(CASE WHEN r > 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_reclaimed
    FROM rk
""")
def _q234_dedup_survivorship(spark, sf):
    """Survivorship policy applied to the q63 near-dup clusters: per
    cluster keep the LONGEST document (ties to the lowest id — a total
    deterministic rule), and report the curation ledger: clusters,
    member docs, survivors, and exactly how many characters the
    collapse reclaims. The survivor pick is a window partitioned by
    cluster (bounded by cluster size); the oracle re-derives the
    clusters with q63's recursive CTE and applies the same rule."""
    from polars_pipe_spark.functions.dedup import dedup_clusters, minhash_near_dups

    docs = _t_par(spark, sf, "documents")
    pairs = minhash_near_dups(
        docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2,
    ).select("id_a", "id_b").persist()
    clusters = dedup_clusters(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    sized = clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = sized.withColumn("rk", F.row_number().over(w))
    return ranked.agg(
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_docs_in_clusters"),
        F.sum((F.col("rk") == 1).cast("long")).alias("n_survivors"),
        F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0)).alias(
            "chars_reclaimed"
        ),
    )


# q236: SemDeDup ledger re-derived in SQL — quantized integer-L2
# assignment to the pinned first-4 centroids (ties to lowest cid),
# the q34 hyperplane bucket, within-(cluster,bucket) cosine pairs,
# keep-min-id survivor rule.
@query(f"""
    WITH cm AS (
      SELECT vec_id AS cid,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS c
      FROM embeddings WHERE vec_id < 4
    ), v AS (
      SELECT vec_id AS id, embedding AS v,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS vm,
             {_bucket_sql("embedding", 8)} AS bucket
      FROM embeddings WHERE len(embedding) >= 64
    ), asg AS (
      SELECT id, v, bucket, CAST(cid AS BIGINT) AS cluster_id FROM (
        SELECT vv.id, vv.v, vv.bucket, cm.cid,
               row_number() OVER (PARTITION BY vv.id ORDER BY
                 list_sum(list_transform(range(1, 65), i ->
                   (vv.vm[CAST(i AS INT)] - cm.c[CAST(i AS INT)])
                   * (vv.vm[CAST(i AS INT)] - cm.c[CAST(i AS INT)]))) ASC,
                 cm.cid ASC) AS rn
        FROM v vv, cm
      ) WHERE rn = 1
    ), dropped AS (
      SELECT DISTINCT b.id AS id
      FROM asg a JOIN asg b
        ON a.cluster_id = b.cluster_id AND a.bucket = b.bucket AND a.id < b.id
      WHERE {_cosine_sql("a.v", "b.v")} >= 0.4
    )
    SELECT asg.cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(d.id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(d.id) AS BIGINT) AS n_survivors
    FROM asg LEFT JOIN dropped d ON asg.id = d.id
    GROUP BY asg.cluster_id
""")
def _q236_semantic_dedup(spark, sf):
    """SemDeDup-style semantic dedup ledger (Abbas et al. 2023) over the
    embeddings corpus: pinned-centroid integer-L2 assignment (centroids =
    the quantized first 4 stored vectors — the q168/q214 pretrained
    pattern; the 4-row collect is bounded and documented), hyperplane-
    bucket-blocked within-cluster cosine pairs (never an all-pairs
    enumeration), keep-min-id survivor rule. One row per cluster with
    members/dropped/survivors. The oracle re-derives assignment, buckets,
    pair set, and ledger in SQL over the same data."""
    from polars_pipe_spark.functions.dedup import semantic_dedup_ledger

    emb = _t_par(spark, sf, "embeddings")
    # quantize the pinned centroids IN SPARK (not Python round(), whose
    # half-even ties would diverge from F.round/duckdb round half-up)
    cent_rows = sorted(
        emb.filter(F.col("vec_id") < 4)
        .select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
            ).alias("q"),
        )
        .collect(),
        key=lambda r: r["vec_id"],
    )
    centroids = [[int(x) for x in r["q"]] for r in cent_rows]
    return semantic_dedup_ledger(
        emb, "embedding", "vec_id", centroids, threshold=0.4, n_planes=8
    )


# q241: triangles/triads over the SAME pair set as q63's clusters
# (the shared _Q25_BODY fragment at threshold 0.2); oriented a<b<c join
# counts each triangle once.
@query(f"""
    WITH prs AS (
      {_Q25_BODY}
    ), e AS (SELECT id_a, id_b FROM prs),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e ab
      JOIN e bc ON ab.id_b = bc.id_a
      JOIN e ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b
    ), deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e
      ) GROUP BY v
    ), st AS (
      SELECT COUNT(*) AS n_nodes,
             SUM((d * (d - 1)) // 2) AS n_triads
      FROM deg
    ), ec AS (SELECT COUNT(*) AS n_edges FROM e)
    SELECT CAST(st.n_nodes AS BIGINT) AS n_nodes,
           CAST(ec.n_edges AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles,
           CAST(st.n_triads AS BIGINT) AS n_triads,
           CASE WHEN st.n_triads > 0
                THEN ROUND(CAST(tri.n_triangles * 3 AS DOUBLE) / st.n_triads, 6)
                ELSE 0.0 END AS transitivity
    FROM st, ec, tri
""")
def _q241_dup_graph_triangles(spark, sf):
    """Distributed triangle counting + global transitivity on the
    near-dup graph (the graph-analytics step past q63's connected
    components: transitivity says whether near-dup clusters are cliques
    — true redundancy — or sparse chains threaded by a few hub docs).
    Standard oriented-triangle algorithm: edges are already id_a < id_b,
    so the two-hop join (a<b<c) followed by the closing-edge join counts
    each triangle exactly once — all equi-joins on ids, no enumeration
    beyond path-of-length-2 candidates. Triads Σ d(d−1)/2 stay integer
    (d(d−1) is even, DIV exact); transitivity = 3T/triads leaves as one
    double division."""
    from polars_pipe_spark.functions.dedup import minhash_near_dups

    docs = _t_par(spark, sf, "documents")
    e = (
        minhash_near_dups(
            docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2
        )
        .select("id_a", "id_b")
        .persist()
    )
    two_hop = (
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .join(
            e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c")),
            "b",
        )
    )
    tri = two_hop.join(
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c")),
        ["a", "c"],
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    deg = (
        e.select(F.col("id_a").alias("v"))
        .unionAll(e.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("(d * (d - 1)) DIV 2")).alias("n_triads"),
    )
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(tri))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.col("n_triads").cast("long").alias("n_triads"),
            F.when(F.col("n_triads") > 0,
                   F.round(
                       (F.col("n_triangles") * 3).cast("double")
                       / F.col("n_triads"), 6,
                   ))
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
    )


# q251: the oracle is the BRUTE-FORCE all-pairs hamming join over the
# q26 signature derivation — banding is lossless at hamming ≤ 3 < 4
# bands (pigeonhole), so the blocked set must EQUAL the exhaustive set;
# any missing pair is a recall bug, any extra a banding bug.
# r11 (found by the first full-registry sf0.1 oracle run — the exact
# wrong-answer-at-scale class this rung exists for): the old oracle was
# the brute-force all-pairs hamming join, which equals the banded result
# ONLY while no band bucket exceeds the max_band_members=1000 cap. At
# sf0.01 (500 docs / 16 values per 4-bit band) no bucket saturates and
# the two coincide — the green artifact hid the divergence. At sf0.1
# (5000 docs) the densest buckets exceed the cap, _cap_band_buckets
# drops them (the DOCUMENTED partial-drop contract: a WARNING, recall
# guarantee void for dropped members), and Spark correctly emits fewer
# pairs (1.18M vs 1.57M). The oracle now replays the FULL contract in
# SQL — banding, the per-bucket cap, candidate pairs through surviving
# buckets only, hamming verify — so it checks what the function
# promises at every corpus size; the brute-force equality remains true
# (and artifact-checked) in the unsaturated sf0.01 regime, where the
# cap filter keeps every bucket.
@query(f"""
    WITH sig AS ({_q26_simhash.oracle}),
    band AS (
      SELECT doc_id, simhash16, bn.b AS band_no,
             (simhash16 >> (bn.b * 4)) & 15 AS band_val
      FROM sig, LATERAL (SELECT unnest(range(0, 4)) AS b) bn
    ),
    keep AS (
      SELECT band_no, band_val
      FROM band GROUP BY band_no, band_val
      HAVING COUNT(*) <= 1000
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash16 AS sa, b.simhash16 AS sb
      FROM band a
      JOIN keep k ON k.band_no = a.band_no AND k.band_val = a.band_val
      JOIN band b ON b.band_no = a.band_no AND b.band_val = a.band_val
                 AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
""")
def _q251_simhash_banded(spark, sf):
    """Hamming-space LSH (Manku et al., WWW'07 — Google's web-dedup
    banding) over the q26 SimHash column: 16-bit signatures split into 4
    bit-bands, candidates from exact band equality, verified at hamming
    ≤ 3. Pigeonhole makes the blocking LOSSLESS while no band bucket
    hits the max_band_members=1000 cap (3 flipped bits damage ≤ 3 of 4
    bands, so one band always survives). The ORACLE replays the FULL
    documented contract — banding, per-bucket cap, candidates through
    surviving buckets only, hamming verify — in SQL (r11 fix: the old
    brute-force oracle equals this only in the unsaturated regime;
    sf0.1's densest 4-bit-band buckets exceed the cap and are dropped
    per the partial-drop contract). In the sf0.01 artifact no bucket
    saturates, so the oracle there IS the brute-force recall proof.
    functions/dedup.py::simhash_near_dups; band-bucket cap shared with
    the minhash path."""
    from polars_pipe_spark.functions.dedup import simhash_near_dups

    docs = _t_par(spark, sf, "documents")
    return simhash_near_dups(
        docs, "text", "doc_id", bits=16, n_bands=4, max_hamming=3
    )


# q252: the five PageRank rounds unrolled as CTEs (the q237-BPE pattern
# for iterative algorithms) over the shared q25 pair fragment; HUGEINT
# keeps the damped product exact.
def _pagerank_oracle_sql(iterations: int = 5) -> str:
    parts = [
        f"""
    WITH prs AS (
      {_Q25_BODY}
    ), e AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ), deg AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY s
    ), r0 AS (
      SELECT s AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg
    )"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", r{i} AS (
      SELECT d AS node,
             CAST(150000 + (CAST(850000 AS HUGEINT) * SUM(share)) // 1000000
                  AS BIGINT) AS rank_micro
      FROM (
        SELECT e.d, r.rank_micro // g.deg AS share
        FROM e JOIN deg g ON e.s = g.s
        JOIN r{i - 1} r ON r.node = e.s
      ) GROUP BY d
    )"""
        )
    parts.append(f"\n    SELECT node, rank_micro FROM r{iterations}")
    return "".join(parts)


@query(_pagerank_oracle_sql(5))
def _q252_pagerank(spark, sf):
    """Integer-exact PageRank (5 fixed iterations, damping 0.85) over the
    near-dup graph — hub scoring that flags template/boilerplate
    documents whose rank concentrates across many duplicate edges
    (functions/dedup.py::pagerank_exact). The recurrence is pure integer
    micro-arithmetic (share = rank DIV deg; damped inflow through
    DECIMAL(38,0)), so the SQL oracle replays all five rounds as
    unrolled CTEs and every node's rank must match to the micro."""
    from polars_pipe_spark.functions.dedup import minhash_near_dups, pagerank_exact

    docs = _t_par(spark, sf, "documents")
    pairs = minhash_near_dups(
        docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2
    ).select("id_a", "id_b")
    return pagerank_exact(pairs, iterations=5)


# q256: edges (cents equi-block + levenshtein verify) and the recursive
# closure replayed in SQL; singleton records resolve to themselves.
@query("""
    WITH RECURSIVE recs AS (
      SELECT c_custkey * 10 AS rec_id, lower(c_name) AS name,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
      UNION ALL
      SELECT c_custkey * 10 + 1,
             substr(lower(c_name), 1, 2) || substr(lower(c_name), 4),
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
      FROM customer WHERE c_custkey % 7 = 0
    ), prs AS (
      SELECT a.rec_id AS id_a, b.rec_id AS id_b
      FROM recs a JOIN recs b
        ON a.cents = b.cents AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION
      SELECT id_b, id_a FROM prs
    ), nodes AS (SELECT DISTINCT s AS n FROM edges),
    walk(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, walk.l FROM walk JOIN edges e ON walk.n = e.s
    ), cl AS (
      SELECT n AS rec_id, MIN(l) AS cluster_id FROM walk GROUP BY n
    ), resolved AS (
      SELECT r.rec_id, COALESCE(cl.cluster_id, r.rec_id) AS entity_id
      FROM recs r LEFT JOIN cl USING (rec_id)
    ), sizes AS (
      SELECT entity_id, COUNT(*) AS sz FROM resolved GROUP BY entity_id
    )
    SELECT CAST(SUM(sz) AS BIGINT) AS n_records,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_merged,
           CAST(MAX(sz) AS BIGINT) AS max_entity_size
    FROM sizes
""")
def _q256_entity_resolution(spark, sf):
    """End-to-end entity resolution (the MDM/record-linkage flow): a
    second source of records is staged in-query (every 7th customer gets
    a clone with a corrupted name — 3rd char dropped — same balance),
    then: (1) candidate pairs from an EQUI-join on the strong key
    (balance cents — blocking, never an all-pairs product), (2) verified
    with levenshtein ≤ 2 on the name, (3) transitive closure via q63's
    min-label propagation (functions/dedup.py::dedup_clusters), (4) the
    resolution ledger: records, entities, merged records, largest
    entity. The oracle re-derives the edges with DuckDB's levenshtein
    and replays the closure with a recursive CTE — every count
    value-checked."""
    from polars_pipe_spark.functions.dedup import dedup_clusters

    cust = _t(spark, sf, "customer").select(
        (F.col("c_custkey") * 10).alias("rec_id"),
        F.lower(F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    clones = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            (F.col("c_custkey") * 10 + 1).alias("rec_id"),
            F.concat(
                F.substring(F.lower(F.col("c_name")), 1, 2),
                F.substring(F.lower(F.col("c_name")), 4, 100),
            ).alias("name"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    records = cust.unionByName(clones).persist()
    a = records.alias("a")
    b = records.select(
        F.col("rec_id").alias("rec_b"),
        F.col("name").alias("name_b"),
        F.col("cents").alias("cents_b"),
    )
    edges = (
        a.join(b, (F.col("a.cents") == F.col("cents_b")) & (F.col("a.rec_id") < F.col("rec_b")))
        .filter(F.levenshtein(F.col("a.name"), F.col("name_b")) <= 2)
        .select(F.col("a.rec_id").alias("id_a"), F.col("rec_b").alias("id_b"))
    )
    clusters = dedup_clusters(edges).select(
        F.col("node").alias("rec_id"), "cluster_id"
    )
    # singletons (no edges) resolve to themselves
    resolved = records.join(clusters, "rec_id", "left").select(
        "rec_id", F.coalesce("cluster_id", F.col("rec_id")).alias("entity_id")
    )
    sizes = resolved.groupBy("entity_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.sum("sz").alias("n_records"),
        F.count(F.lit(1)).alias("n_entities"),
        (F.sum("sz") - F.count(F.lit(1))).alias("n_merged"),
        F.max("sz").alias("max_entity_size"),
    ).select(
        F.col("n_records").cast("long").alias("n_records"),
        F.col("n_entities").cast("long").alias("n_entities"),
        F.col("n_merged").cast("long").alias("n_merged"),
        F.col("max_entity_size").cast("long").alias("max_entity_size"),
    )


# q267: P/R/F1 replayed over the same recursive closure; predicted
# pairs via Σ sz·(sz−1)/2, tp via entity-of-orig = entity-of-clone.
@query("""
    WITH RECURSIVE recs AS (
      SELECT c_custkey * 10 AS rec_id, lower(c_name) AS name,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
      UNION ALL
      SELECT c_custkey * 10 + 1,
             substr(lower(c_name), 1, 2) || substr(lower(c_name), 4),
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
      FROM customer WHERE c_custkey % 7 = 0
    ), prs AS (
      SELECT a.rec_id AS id_a, b.rec_id AS id_b
      FROM recs a JOIN recs b
        ON a.cents = b.cents AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    ), edges AS (
      SELECT id_a AS s, id_b AS d FROM prs
      UNION SELECT id_b, id_a FROM prs
    ), nodes AS (SELECT DISTINCT s AS n FROM edges),
    walk(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.d, walk.l FROM walk JOIN edges e ON walk.n = e.s
    ), cl AS (SELECT n AS rec_id, MIN(l) AS cluster_id FROM walk GROUP BY n),
    resolved AS (
      SELECT r.rec_id, COALESCE(cl.cluster_id, r.rec_id) AS entity_id
      FROM recs r LEFT JOIN cl USING (rec_id)
    ), pred AS (
      SELECT SUM((sz * (sz - 1)) // 2) AS n_pred_pairs FROM (
        SELECT COUNT(*) AS sz FROM resolved GROUP BY entity_id)
    ), truth AS (
      SELECT c_custkey * 10 AS rec_orig, c_custkey * 10 + 1 AS rec_clone
      FROM customer WHERE c_custkey % 7 = 0
    ), tp AS (
      SELECT COUNT(*) AS n_true_pairs,
             SUM(CASE WHEN ra.entity_id = rb.entity_id THEN 1 ELSE 0 END) AS tp
      FROM truth t
      JOIN resolved ra ON ra.rec_id = t.rec_orig
      JOIN resolved rb ON rb.rec_id = t.rec_clone
    )
    SELECT CAST(n_pred_pairs AS BIGINT) AS n_pred_pairs,
           CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(tp AS BIGINT) AS tp,
           CAST((tp * 1000000) // n_pred_pairs AS BIGINT) AS precision_ppm,
           CAST((tp * 1000000) // n_true_pairs AS BIGINT) AS recall_ppm,
           CAST(((2 * tp) * 1000000) // (n_pred_pairs + n_true_pairs)
                AS BIGINT) AS f1_ppm
    FROM pred, tp
""")
def _q267_er_evaluation(spark, sf):
    """Entity-resolution EVALUATION harness — q256 runs the flow, this
    scores it against ground truth (the construction knows every true
    match: clone 10k+1 ↔ original 10k): pairwise precision/recall/F1
    over the predicted same-entity pairs, all exact-integer ppm. The
    standard ER metric (pairwise P/R) computed distributively: predicted
    pairs come from a per-entity size aggregate (Σ sz·(sz−1)/2 — never
    enumerating pairs), true-positive pairs from joining each record's
    predicted entity to its ground-truth partner's."""
    from polars_pipe_spark.functions.dedup import dedup_clusters

    cust = _t(spark, sf, "customer").select(
        (F.col("c_custkey") * 10).alias("rec_id"),
        F.lower(F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    clones = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            (F.col("c_custkey") * 10 + 1).alias("rec_id"),
            F.concat(
                F.substring(F.lower(F.col("c_name")), 1, 2),
                F.substring(F.lower(F.col("c_name")), 4, 100),
            ).alias("name"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    records = cust.unionByName(clones).persist()
    b = records.select(
        F.col("rec_id").alias("rec_b"),
        F.col("name").alias("name_b"),
        F.col("cents").alias("cents_b"),
    )
    edges = (
        records.alias("a")
        .join(
            b,
            (F.col("a.cents") == F.col("cents_b"))
            & (F.col("a.rec_id") < F.col("rec_b")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("name_b")) <= 2)
        .select(F.col("a.rec_id").alias("id_a"), F.col("rec_b").alias("id_b"))
    )
    clusters = dedup_clusters(edges).select(
        F.col("node").alias("rec_id"), "cluster_id"
    )
    resolved = records.join(clusters, "rec_id", "left").select(
        "rec_id", F.coalesce("cluster_id", F.col("rec_id")).alias("entity_id")
    ).persist()
    # predicted pairs = Σ sz·(sz−1)/2 over entities
    pred = resolved.groupBy("entity_id").agg(F.count(F.lit(1)).alias("sz")).agg(
        F.sum(F.expr("(sz * (sz - 1)) DIV 2")).alias("n_pred_pairs")
    )
    # ground truth: one true pair per clone (orig 10k, clone 10k+1)
    truth = clones.select(
        (F.col("rec_id") - 1).alias("rec_orig"), F.col("rec_id").alias("rec_clone")
    )
    tp = (
        truth.join(
            resolved.withColumnsRenamed({"rec_id": "rec_orig", "entity_id": "ea"}),
            "rec_orig",
        )
        .join(
            resolved.withColumnsRenamed({"rec_id": "rec_clone", "entity_id": "eb"}),
            "rec_clone",
        )
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.when(F.col("ea") == F.col("eb"), 1).otherwise(0)).alias("tp"),
        )
    )
    return (
        pred.crossJoin(F.broadcast(tp))
        .select(
            F.col("n_pred_pairs").cast("long").alias("n_pred_pairs"),
            F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
            F.col("tp").cast("long").alias("tp"),
            F.expr("CAST(tp * 1000000 AS BIGINT) DIV n_pred_pairs").alias(
                "precision_ppm"
            ),
            F.expr("CAST(tp * 1000000 AS BIGINT) DIV n_true_pairs").alias(
                "recall_ppm"
            ),
            F.expr(
                "CAST((2 * tp) * 1000000 AS BIGINT) DIV (n_pred_pairs + n_true_pairs)"
            ).alias("f1_ppm"),
        )
    )


# q272: both blocking strategies and the overlap classes replayed —
# sorted-neighborhood via the same blocked lead(1..3) windows.
@query("""
    WITH recs AS (
      SELECT c_custkey * 10 AS rec_id, lower(c_name) AS name,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
      UNION ALL
      SELECT c_custkey * 10 + 1,
             substr(lower(c_name), 1, 2) || substr(lower(c_name), 4),
             CAST(ROUND(c_acctbal * 100) AS BIGINT)
      FROM customer WHERE c_custkey % 7 = 0
    ), blk AS (
      SELECT rec_id, name, substr(name, 1, 1) AS blk FROM recs
    ), leads AS (
      SELECT rec_id, name,
             lead(rec_id, 1) OVER w AS nid1, lead(name, 1) OVER w AS nname1,
             lead(rec_id, 2) OVER w AS nid2, lead(name, 2) OVER w AS nname2,
             lead(rec_id, 3) OVER w AS nid3, lead(name, 3) OVER w AS nname3
      FROM blk
      WINDOW w AS (PARTITION BY blk ORDER BY name, rec_id)
    ), sn_raw AS (
      SELECT LEAST(rec_id, nid1) AS id_a, GREATEST(rec_id, nid1) AS id_b,
             name AS na, nname1 AS nb FROM leads WHERE nid1 IS NOT NULL
      UNION ALL
      SELECT LEAST(rec_id, nid2), GREATEST(rec_id, nid2), name, nname2
      FROM leads WHERE nid2 IS NOT NULL
      UNION ALL
      SELECT LEAST(rec_id, nid3), GREATEST(rec_id, nid3), name, nname3
      FROM leads WHERE nid3 IS NOT NULL
    ), sn AS (
      SELECT DISTINCT id_a, id_b FROM sn_raw WHERE levenshtein(na, nb) <= 2
    ), eqb AS (
      SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b
      FROM recs a JOIN recs b
        ON a.cents = b.cents AND a.rec_id < b.rec_id
      WHERE levenshtein(a.name, b.name) <= 2
    ), tagged AS (
      SELECT CASE WHEN sn.id_a IS NOT NULL AND eqb.id_a IS NOT NULL
                  THEN 'both'
                  WHEN sn.id_a IS NOT NULL THEN 'sorted_only'
                  ELSE 'cents_only' END AS found_by
      FROM sn FULL OUTER JOIN eqb USING (id_a, id_b)
    )
    SELECT found_by, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM tagged GROUP BY found_by
""")
def _q272_sorted_neighborhood(spark, sf):
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    third candidate-generation family after equi-key (q256) and LSH
    (q25): sort records by a key, compare each record only to its next
    w neighbors in sort order. Distributed form: the sort is PARTITIONED
    by the key's first character (the q265 blocked-sort pattern — never
    a global sort; cross-block neighbors are the documented forfeit),
    neighbors come from lead(1..3) over the keyed window, and
    levenshtein ≤ 2 verifies. The audit compares this strategy's
    verified pair set against q256's cents-equi-blocking on the same
    corrupted-clone corpus: per strategy-overlap class (both /
    sorted-only / cents-only) a pair count — the blocking-recall
    comparison an ER engineer actually runs. On this corpus the sets
    are DISJOINT, and that is the lesson: the mid-string corruption
    ('cu' + 'tomer…') sorts clones far from their originals, so
    name-sorted neighborhoods miss every true pair, while sequential
    serial-number names are lev-1 apart, so the loose verifier floods
    sorted-only with false matches — the textbook argument for
    multi-pass SNM over independent keys and for strong-key blocking."""
    w_size = 3
    cust = _t(spark, sf, "customer").select(
        (F.col("c_custkey") * 10).alias("rec_id"),
        F.lower(F.col("c_name")).alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    clones = (
        _t(spark, sf, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(
            (F.col("c_custkey") * 10 + 1).alias("rec_id"),
            F.concat(
                F.substring(F.lower(F.col("c_name")), 1, 2),
                F.substring(F.lower(F.col("c_name")), 4, 100),
            ).alias("name"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
    )
    records = cust.unionByName(clones).persist()
    blk = records.withColumn("blk", F.substring("name", 1, 1))
    w = Window.partitionBy("blk").orderBy("name", "rec_id")
    with_leads = blk.select(
        "rec_id",
        "name",
        *[
            F.lead("rec_id", i).over(w).alias(f"nid{i}")
            for i in range(1, w_size + 1)
        ],
        *[
            F.lead("name", i).over(w).alias(f"nname{i}")
            for i in range(1, w_size + 1)
        ],
    )
    sn_parts = [
        with_leads.select(
            F.least(F.col("rec_id"), F.col(f"nid{i}")).alias("id_a"),
            F.greatest(F.col("rec_id"), F.col(f"nid{i}")).alias("id_b"),
            F.col("name").alias("na"),
            F.col(f"nname{i}").alias("nb"),
        ).filter(F.col("id_b").isNotNull())
        for i in range(1, w_size + 1)
    ]
    sn_all = sn_parts[0]
    for p in sn_parts[1:]:
        sn_all = sn_all.unionByName(p)
    sn = (
        sn_all.filter(F.levenshtein("na", "nb") <= 2)
        .select("id_a", "id_b")
        .distinct()
    )
    b = records.select(
        F.col("rec_id").alias("rec_b"),
        F.col("name").alias("name_b"),
        F.col("cents").alias("cents_b"),
    )
    eqb = (
        records.alias("a")
        .join(
            b,
            (F.col("a.cents") == F.col("cents_b"))
            & (F.col("a.rec_id") < F.col("rec_b")),
        )
        .filter(F.levenshtein(F.col("a.name"), F.col("name_b")) <= 2)
        .select(F.col("a.rec_id").alias("id_a"), F.col("rec_b").alias("id_b"))
        .distinct()
    )
    tagged = (
        sn.withColumn("in_sn", F.lit(1))
        .join(eqb.withColumn("in_eq", F.lit(1)), ["id_a", "id_b"], "full_outer")
        .select(
            F.when(
                F.col("in_sn").isNotNull() & F.col("in_eq").isNotNull(), "both"
            )
            .when(F.col("in_sn").isNotNull(), "sorted_only")
            .otherwise("cents_only")
            .alias("found_by"),
        )
    )
    return tagged.groupBy("found_by").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# q273: weights over the same recursive-CTE clusters.
@query(f"""
    WITH cl AS ({_q63_dedup_clusters.oracle}),
    sized AS (
      SELECT cluster_id, COUNT(*) AS csize FROM cl GROUP BY cluster_id
    ), weighted AS (
      SELECT d.doc_id,
             COALESCE(s.csize, 1) AS cluster_size,
             CAST(1000000 // COALESCE(s.csize, 1) AS BIGINT) AS weight_micro
      FROM documents d
      LEFT JOIN cl ON cl.doc_id = d.doc_id
      LEFT JOIN sized s ON s.cluster_id = cl.cluster_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_in_clusters,
           CAST(SUM(weight_micro) AS BIGINT) AS total_weight_micro,
           CAST(COUNT(DISTINCT CASE WHEN cluster_size > 1
                      THEN weight_micro END) AS BIGINT) AS n_weight_levels
    FROM weighted
""")
def _q273_soft_dedup_weights(spark, sf):
    """SOFT deduplication — keep every document but down-weight
    duplicates so each near-dup cluster contributes one unit of training
    mass (weight = 1e6 DIV cluster_size micro-units; singletons keep
    1e6): the loss-weighting alternative to dropping (retains diversity
    within clusters while killing the over-representation that makes
    models memorize boilerplate). Clusters from the q63 connected
    components; the audit columns prove the invariant: Σ weights is
    within one floor-rounding unit per cluster of n_clusters·1e6. One
    join against the cluster map; docs outside any cluster pass through
    at full weight."""
    from polars_pipe_spark.functions.dedup import dedup_clusters, minhash_near_dups

    docs = _t_par(spark, sf, "documents")
    pairs = minhash_near_dups(
        docs, "text", "doc_id", shingle_k=3, sig_k=8, n_bands=4, threshold=0.2
    ).select("id_a", "id_b").persist()
    clusters = dedup_clusters(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    sized = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("csize"))
    weighted = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .join(sized, "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce("csize", F.lit(1)).cast("long").alias("cluster_size"),
            F.expr(
                "CAST(1000000 AS BIGINT) DIV CAST(COALESCE(csize, 1) AS BIGINT)"
            ).alias("weight_micro"),
        )
    )
    return weighted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0)).alias(
            "n_in_clusters"
        ),
        F.sum("weight_micro").alias("total_weight_micro"),
        F.countDistinct(
            F.when(F.col("cluster_size") > 1, F.col("weight_micro"))
        ).alias("n_weight_levels"),
    ).select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_in_clusters").cast("long").alias("n_in_clusters"),
        F.col("total_weight_micro").cast("long").alias("total_weight_micro"),
        F.col("n_weight_levels").cast("long").alias("n_weight_levels"),
    )


# q285: the band-cap saturation report — replays the exact minhash
# banding (same tok/dsh/sig/bands CTEs as _q25_inner) then aggregates
# bucket-size stats per band index at the production cap of 1000.
@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), dsh AS (
      SELECT doc_id, list_distinct({_SHINGLES3}) AS dsh FROM tok
    ), sig AS (
      SELECT doc_id, (list_sort(list_transform(dsh, s -> md5(s))))[1:8] AS sig FROM dsh
    ), bands AS (
      SELECT DISTINCT doc_id, unnest([
        concat_ws('|', '0', sig[1], sig[2]), concat_ws('|', '1', sig[3], sig[4]),
        concat_ws('|', '2', sig[5], sig[6]), concat_ws('|', '3', sig[7], sig[8])
      ]) AS band FROM sig
    ), bc AS (
      SELECT band, COUNT(*) AS n_members FROM bands GROUP BY band
    )
    SELECT CAST(string_split(band, '|')[1] AS BIGINT) AS band_idx,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN n_members > 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_cap,
           CAST(SUM(CASE WHEN n_members > 1000 THEN n_members ELSE 0 END) AS BIGINT)
             AS rows_dropped,
           CAST(MAX(n_members) AS BIGINT) AS max_members
    FROM bc GROUP BY 1
""")
def _q285_band_cap_report(spark, sf):
    """LSH band-cap saturation observability (r12 — the q251 lesson as
    a first-class query): per minhash band index, bucket count,
    over-cap bucket count at the production cap (1000), the (id, band)
    rows a capped candidate run would drop, and the largest bucket.
    The operational pre-flight for every banded-dedup recall claim at a
    new scale. No reference parity cite — extension surface
    (functions/dedup.py::band_cap_report)."""
    from polars_pipe_spark.functions.dedup import band_cap_report

    return band_cap_report(
        _t_par(spark, sf, "documents"), "text", "doc_id",
        shingle_k=3, sig_k=8, n_bands=4, max_band_members=1000,
    )
