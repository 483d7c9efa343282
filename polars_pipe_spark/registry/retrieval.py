"""Registry queries over ``functions.retrieval``: reranking, training pairs
and retrieval evaluation."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t_par
from polars_pipe_spark.registry._sql import _in_list, _MARKERS, _PUNCT_RE, _TOKS


# q125: mirrors functions/retrieval.py::bm25_topk term by term. Float
# constants (k1=1.2, b=0.75) go through CAST('…' AS DOUBLE) so DuckDB's
# decimal-literal parsing can't change the arithmetic type; per-term
# scores round to 6 decimals then sum as DECIMAL, so the totals are
# addition-order-free on both engines.
@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN ('hash', 'join', 'vector', 'stream')
      GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, len({_TOKS}) AS dl FROM documents
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(CAST('1.0' AS DOUBLE)
                  + (n_docs - df + CAST('0.5' AS DOUBLE)) / (df + CAST('0.5' AS DOUBLE)))
               * ((tf * CAST('2.2' AS DOUBLE))
                  / (tf + CAST('1.2' AS DOUBLE)
                          * (CAST('0.25' AS DOUBLE)
                             + (CAST('0.75' AS DOUBLE) * dl) / avgdl)))
             , 6) AS DECIMAL(14,6)) AS term_score
      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
    )
    SELECT doc_id, CAST(SUM(term_score) AS DECIMAL(18,6)) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
""")
def _q125_bm25_topk(spark, sf):
    """BM25 top-20 for a fixed bag-of-words query over ``documents``.

    Corpus stats (df/avgdl/N) are single aggregates broadcast to the
    scorers; the explode is term-filtered before any shuffle; per-term
    scores round to 6 decimals and sum as DECIMAL so the total is
    order-insensitive and oracle-exact.
    """
    from polars_pipe_spark.functions.retrieval import bm25_topk

    return bm25_topk(
        _t_par(spark, sf, "documents"), "text", "doc_id",
        ["hash", "join", "vector", "stream"], k=20,
    )


# q129: two-stage retrieval. The BM25 stage mirrors q125's oracle with a
# (query_id, term) VALUES table; the rerank mirrors retrieval.py::
# rerank_topk (double division of the decimal scores, binary-exact-ish
# weights interpolated via CAST to pin the arithmetic type).
@query(f"""
    WITH q(query_id, term) AS (
      VALUES (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'stream'),
             (3, 'filter'), (3, 'scan')
    ), tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, len({_TOKS}) AS dl FROM documents
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT query_id, tf.doc_id,
             CAST(SUM(CAST(round(
               ln(CAST('1.0' AS DOUBLE)
                  + (n_docs - df + CAST('0.5' AS DOUBLE)) / (df + CAST('0.5' AS DOUBLE)))
               * ((tf * CAST('2.2' AS DOUBLE))
                  / (tf + CAST('1.2' AS DOUBLE)
                          * (CAST('0.25' AS DOUBLE)
                             + (CAST('0.75' AS DOUBLE) * dl) / avgdl)))
             , 6) AS DECIMAL(14,6))) AS DECIMAL(18,6)) AS bm25
      FROM tf JOIN dfreq USING (term) JOIN q USING (term)
              JOIN dl USING (doc_id) CROSS JOIN corpus
      GROUP BY query_id, tf.doc_id
    ), qmax AS (
      SELECT query_id, MAX(bm25) AS qmax FROM scored GROUP BY query_id
    ), feat AS (
      SELECT doc_id,
             round(least(len(toks) / 100.0, 1.0) * 0.4
                   + least((CASE WHEN len(toks) > 0
                            THEN CAST(len(list_filter(toks, t -> t IN {_in_list(_MARKERS["en"])})) AS DOUBLE) / len(toks)
                            ELSE 0.0 END) * 5.0, 1.0) * 0.4
                   + (1.0 - least((CASE WHEN length(text) > 0
                            THEN CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS DOUBLE) / length(text)
                            ELSE 0.0 END) * 10.0, 1.0)) * 0.2, 6) AS quality,
             CAST(len(toks) AS DOUBLE) AS ntok
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    ), rer AS (
      SELECT query_id, doc_id, bm25,
             round(CAST(bm25 AS DOUBLE) / CAST(qmax AS DOUBLE) * CAST('0.6' AS DOUBLE)
                   + quality * CAST('0.3' AS DOUBLE)
                   + least(ntok / 200.0, 1.0) * CAST('0.1' AS DOUBLE), 6) AS rerank
      FROM scored JOIN qmax USING (query_id) JOIN feat USING (doc_id)
    )
    SELECT query_id, doc_id, bm25, rerank,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY rerank DESC, doc_id ASC) AS INT) AS rk
    FROM rer QUALIFY rk <= 10
""")
def _q129_rerank(spark, sf):
    """Two-stage retrieval: batch BM25 over 3 bag-of-words queries, then
    a cross-encoder-style feature rerank (normalised BM25 + quality +
    length prior), top-10 per query."""
    from polars_pipe_spark.functions.retrieval import rerank_topk

    queries = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "stream"),
         (3, "filter"), (3, "scan")],
        "query_id int, term string",
    )
    return rerank_topk(_t_par(spark, sf, "documents"), "text", "doc_id", queries, k=10)


# q134: positive = q129's rerank winner; negatives = per-query anti-join
# pool ordered by md5(query:doc) — fully deterministic, no seeds.
@query(f"""
    WITH q(query_id, term) AS (
      VALUES (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'stream'),
             (3, 'filter'), (3, 'scan')
    ), pos AS (
      SELECT query_id, doc_id AS pos_id FROM ({_q129_rerank.oracle}) WHERE rk = 1
    ), tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), cands AS (
      SELECT DISTINCT query_id, doc_id FROM tok JOIN q USING (term)
    ), pool AS (
      SELECT qd.query_id, qd.doc_id
      FROM (SELECT query_id, doc_id
            FROM (SELECT DISTINCT query_id FROM q) CROSS JOIN
                 (SELECT doc_id FROM documents)) qd
      ANTI JOIN cands ON cands.query_id = qd.query_id AND cands.doc_id = qd.doc_id
    ), negs AS (
      SELECT query_id, doc_id AS neg_id,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY md5(CAST(query_id AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) ASC,
                        doc_id ASC) AS INT) AS neg_rank
      FROM pool QUALIFY neg_rank <= 3
    )
    SELECT pos.query_id, pos_id, neg_id, neg_rank
    FROM pos JOIN negs ON pos.query_id = negs.query_id
""")
def _q134_training_pairs(spark, sf):
    """Retrieval training-pair generation: for each query, the reranked
    top-1 document as the positive and 3 deterministic hash-selected
    hard-ish negatives (docs matching NONE of the query's terms, ordered
    by md5(query:doc)). The negative pool is anti-joined, never sampled
    with a seed — reruns and repartitions give the identical dataset.

    The pool is nearly the whole corpus per query (few query_ids), so a
    single row_number window over it would funnel corpus-sized partitions
    through one reducer each (the q54 scale-killer shape — r3 ADVICE).
    Instead: salted two-phase top-k. Phase 1 ranks within (query_id,
    salt=hash(doc)%64) — 64-way parallel, each reducer sees corpus/64 —
    and keeps 3 per salt; phase 2 ranks the surviving ≤192 rows per query.
    Exact: the global top-3 by the md5 key is contained in the union of
    per-salt top-3s."""
    from polars_pipe_spark.functions.retrieval import bm25_scores, rerank_topk

    queries = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "stream"),
         (3, "filter"), (3, "scan")],
        "query_id int, term string",
    )
    docs = _t_par(spark, sf, "documents")
    pos = rerank_topk(docs, "text", "doc_id", queries, k=1).select(
        "query_id", F.col("doc_id").alias("pos_id")
    )
    cands = bm25_scores(docs, "text", "doc_id", queries).select(
        "query_id", "doc_id"
    )
    qids = queries.select("query_id").distinct()
    pool = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(qids))
        .join(cands, ["query_id", "doc_id"], "left_anti")
        .withColumn(
            "nk", F.md5(F.concat_ws(":", F.col("query_id"), F.col("doc_id")))
        )
        .withColumn("salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(64)))
    )
    w_salt = Window.partitionBy("query_id", "salt").orderBy(
        F.col("nk").asc(), F.col("doc_id").asc()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("nk").asc(), F.col("doc_id").asc()
    )
    negs = (
        pool.withColumn("r1", F.row_number().over(w_salt))
        .filter(F.col("r1") <= 3)
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select("query_id", F.col("doc_id").alias("neg_id"), "neg_rank")
    )
    return pos.join(negs, "query_id").select(
        "query_id", "pos_id", "neg_id", "neg_rank"
    )


# q173: relevance = doc holds ALL query terms; metrics by integer
# division over the q129 ranking CTE. HUGEINT sums/divs cast back.
@query(f"""
    WITH q(query_id, term) AS (
      VALUES (1, 'hash'), (1, 'join'), (2, 'vector'), (2, 'stream'),
             (3, 'filter'), (3, 'scan')
    ), topk AS (
      SELECT query_id, doc_id, rk FROM ({_q129_rerank.oracle})
    ), tok AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents
    ), nt AS (
      SELECT query_id, COUNT(DISTINCT term) AS n_terms FROM q GROUP BY query_id
    ), rel AS (
      SELECT t.query_id, t.doc_id FROM (
        SELECT q.query_id, tok.doc_id, COUNT(DISTINCT tok.term) AS n_hit
        FROM tok JOIN q USING (term) GROUP BY 1, 2
      ) t JOIN nt ON nt.query_id = t.query_id AND t.n_hit = nt.n_terms
    ), rel_total AS (
      SELECT query_id, COUNT(*) AS n_relevant FROM rel GROUP BY query_id
    ), per AS (
      SELECT topk.query_id,
             CAST(SUM(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_topk,
             CAST(MIN(CASE WHEN rel.doc_id IS NOT NULL THEN topk.rk END) AS BIGINT) AS first_rel_rank
      FROM topk LEFT JOIN rel
        ON rel.query_id = topk.query_id AND rel.doc_id = topk.doc_id
      GROUP BY topk.query_id
    )
    SELECT per.query_id,
           COALESCE(rel_total.n_relevant, 0) AS n_relevant,
           per.n_rel_topk, per.first_rel_rank,
           CAST(COALESCE(1000000 // per.first_rel_rank, 0) AS BIGINT) AS mrr_micros,
           CAST(CASE WHEN COALESCE(rel_total.n_relevant, 0) > 0
                THEN (per.n_rel_topk * 1000000) // rel_total.n_relevant
                ELSE 0 END AS BIGINT) AS recall_micros
    FROM per LEFT JOIN rel_total USING (query_id)
""")
def _q173_retrieval_eval(spark, sf):
    """Retrieval evaluation harness: MRR and recall@10 of the q129
    rerank pipeline against a deterministic relevance rule (a doc is
    relevant iff it contains ALL the query's terms). Integer-exact
    metrics (micros by integer division); per-query relevance joins are
    keyed on (query, doc) with the query side broadcast — the only
    corpus-scale work is the one tokenizing explode the relevance rule
    shares with BM25's shape."""
    from polars_pipe_spark.functions.retrieval import rerank_topk
    from polars_pipe_spark.functions.text import tokens

    queries = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "vector"), (2, "stream"),
         (3, "filter"), (3, "scan")],
        "query_id int, term string",
    )
    docs = _t_par(spark, sf, "documents")
    topk = rerank_topk(docs, "text", "doc_id", queries, k=10)
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    ).join(F.broadcast(queries), "term")
    nterms = queries.groupBy("query_id").agg(
        F.count_distinct("term").alias("n_terms")
    )
    rel = (
        tok.groupBy("query_id", "doc_id")
        .agg(F.count_distinct("term").alias("n_hit"))
        .join(F.broadcast(nterms), "query_id")
        .filter(F.col("n_hit") == F.col("n_terms"))
        .select("query_id", "doc_id")
        # persist: rel feeds the per-query totals AND the top-k hit join;
        # without it the tokenizing explode runs twice (r8 plan-sweep
        # multi-scan rule). Small frame: only all-terms-matching docs.
        .persist()
    )
    rel_total = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    hits = topk.join(
        rel.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left"
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce("is_rel", F.lit(0))).alias("n_rel_topk"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rk")))
        .cast("long")
        .alias("first_rel_rank"),
    )
    return (
        per_q.join(rel_total, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).alias("n_relevant"),
            "n_rel_topk",
            "first_rel_rank",
            F.coalesce(
                F.expr("1000000 DIV first_rel_rank"), F.lit(0)
            ).alias("mrr_micros"),
            F.when(
                F.coalesce(F.col("n_relevant"), F.lit(0)) > 0,
                F.expr("(n_rel_topk * 1000000) DIV n_relevant"),
            )
            .otherwise(F.lit(0))
            .alias("recall_micros"),
        )
    )
