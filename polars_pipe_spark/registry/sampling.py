"""Registry queries over ``functions.sampling``: hash splits, weighted and
stratified samples, packing and mixtures; plus the per-domain cap (q210)."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par
from polars_pipe_spark.registry._sql import (
    _in_list,
    _MARKERS,
    _md5_bucket_sql,
    _PUNCT_RE,
    _TOKS,
)


@query("""
    SELECT doc_id, source, n_chars,
           CASE WHEN ((((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 < 10 THEN 'test' ELSE 'train' END AS split,
           ((((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100 AS bucket
    FROM documents
""")
def _q53_hash_split(spark, sf):
    """Deterministic train/test split + hash sampling by key content
    (portable md5 buckets — rows never migrate between splits)."""
    from polars_pipe_spark.functions.sampling import md5_bucket, train_test_split

    docs = _t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    out = train_test_split(docs, "doc_id", test_fraction=0.1)
    return out.withColumn("bucket", md5_bucket("doc_id", 100))


@query(f"""
    WITH tok AS (
      SELECT source, doc_id, len({_TOKS}) AS n_tok FROM documents
    ), packed AS (
      SELECT source, n_tok,
             CAST(FLOOR(CAST(SUM(n_tok) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  ) - n_tok AS DOUBLE) / 512) AS BIGINT) AS bin_id
      FROM tok
    )
    SELECT source, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY source, bin_id
""")
def _q71_sequence_packing(spark, sf):
    """Context-window packing: greedy per-source bin assignment by running
    token offset (one window shuffle, no UDFs), aggregated per bin."""
    from polars_pipe_spark.functions.sampling import pack_sequences
    from polars_pipe_spark.functions.text import token_count

    df = _t_par(spark, sf, "documents").select(
        "source", "doc_id", token_count("text").alias("n_tok")
    )
    packed = pack_sequences(df, "n_tok", "doc_id", bin_tokens=512, part_col="source")
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
    )


@query("""
    WITH mixed AS (
      SELECT source, doc_id
      FROM documents
      WHERE ((((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16 + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 < FLOOR(CASE source WHEN 'src0' THEN 0.9
                                         WHEN 'src1' THEN 0.25
                                         ELSE 0.5 END * 1000)
    )
    SELECT source, COUNT(*) AS n_kept,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM mixed GROUP BY source
""")
def _q79_source_mixing(spark, sf):
    """Data-mixture reweighting: deterministically downsample each source
    to a target weight by content hash (stable under repartitioning and
    growth); broadcast weight map, pure-expression predicate at the
    scan."""
    from polars_pipe_spark.functions.sampling import mix_sources

    docs = _t_par(spark, sf, "documents")
    # weight two sources explicitly, leave the rest at default 0.5
    weights = {"src0": 0.9, "src1": 0.25}
    mixed = mix_sources(
        docs, "source", "doc_id", weights, default_weight=0.5, n_buckets=1000
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(f"""
    WITH tok AS (
      SELECT source, doc_id, text, len({_TOKS}) AS n_tok FROM documents
    ), packed AS (
      SELECT source, doc_id, text, n_tok,
             CAST(FLOOR(CAST(SUM(n_tok) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  ) - n_tok AS DOUBLE) / 512) AS BIGINT) AS bin_id
      FROM tok
    )
    SELECT source, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_fp
    FROM packed GROUP BY source, bin_id
""")
def _q84_packed_texts(spark, sf):
    """Materialised context-window packing: concatenate each bin's
    documents in doc_id order into the actual training sequence
    (fingerprinted with md5 so the output stays compact)."""
    from polars_pipe_spark.functions.sampling import packed_texts
    from polars_pipe_spark.functions.text import token_count

    docs = _t_par(spark, sf, "documents").select(
        "source", "doc_id", "text", token_count("text").alias("n_tok")
    )
    out = packed_texts(docs, "text", "n_tok", "doc_id", bin_tokens=512, part_col="source")
    return out.select(
        "source", "bin_id", "n_docs", "sum_tokens", F.md5("seq_text").alias("seq_fp")
    )


@query("""
    SELECT source, doc_id, lang FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) <= 5
""")
def _q86_stratified_sample(spark, sf):
    """Exactly-k-per-stratum deterministic sample: md5-content order
    within each source, so the same 5 docs win under any partitioning
    (and in the oracle)."""
    from polars_pipe_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf, "documents").select("source", "doc_id", "lang")
    return stratified_sample(docs, ["source"], "doc_id", k=5)


@query(f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    b AS (SELECT doc_id, {_md5_bucket_sql("tok", 16)} AS b FROM tok),
    counts AS (
      SELECT doc_id,
             [{", ".join(f"CAST(COALESCE(SUM(CASE WHEN b = {i} THEN 1 END), 0) AS BIGINT)" for i in range(16))}] AS features
      FROM b GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(c.features, [{", ".join("CAST(0 AS BIGINT)" for _ in range(16))}]) AS features
    FROM documents d LEFT JOIN counts c USING (doc_id)
""")
def _q108_feature_hashing(spark, sf):
    """Feature hashing (the HashingTF trick, MLlib-free and
    engine-portable): every token maps to one of 16 md5 buckets; each
    document becomes a dense 16-dim count vector — one explode + one
    16-column conditional aggregation, all JVM-side."""
    from polars_pipe_spark.functions.sampling import md5_bucket
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t")).select(
        "doc_id", md5_bucket("t", 16).alias("b")
    )
    counts = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("b") == i, 1).otherwise(0)).cast("long").alias(f"__f{i}")
            for i in range(16)
        ]
    )
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.array(
                *[F.coalesce(F.col(f"__f{i}"), F.lit(0).cast("long")) for i in range(16)]
            ).alias("features"),
        )
    )


# q127: mirrors functions/sampling.py::md5_unit + weighted_topk. The
# A-ES rank key ln(u)/w is derived from md5 nibbles of the key, so both
# engines draw the identical sample; n_chars <= 0 rows are excluded by
# the guard on both sides.
_Q127_VAL = "0"
for _i in range(1, 9):
    _Q127_VAL = (
        f"(({_Q127_VAL}) * 16 + (strpos('0123456789abcdef',"
        f" substr(md5(CAST(doc_id AS VARCHAR)), {_i}, 1)) - 1))"
    )


@query(f"""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (ln(CAST({_Q127_VAL} + 1 AS DOUBLE) / CAST(4294967297 AS DOUBLE))
                         / CAST(n_chars AS DOUBLE)) DESC,
                        doc_id ASC) AS rk
      FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
    ) WHERE rk <= 5
""")
def _q127_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement (A-ES): 5 docs
    per source, inclusion probability ∝ n_chars, rank key derived from a
    content-hash uniform so the draw reproduces across engines/reruns."""
    from polars_pipe_spark.functions.sampling import weighted_topk

    docs = _t_par(spark, sf, "documents")
    return weighted_topk(
        docs, "doc_id", "n_chars", 5, group_cols=["source"]
    ).select("doc_id", "source", "n_chars")


# q153: packing boundaries — bins cut on the running-token line, offset
# within bin = prec % bin_tokens; every integer step casts HUGEINT->BIGINT
# so physical types match Spark's LONG (the q22 lesson).
@query(f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ), t AS (
      SELECT doc_id, source, len(toks) AS ntok FROM tok
    ), p AS (
      SELECT source, doc_id, ntok,
             COALESCE(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prec
      FROM t
    )
    SELECT source,
           CAST(prec // 2048 AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           list_sort(list(CAST(prec % 2048 AS BIGINT))) AS boundaries
    FROM p
    GROUP BY source, CAST(prec // 2048 AS BIGINT)
""")
def _q153_pack_attention(spark, sf):
    """Tokenizer-aware sequence packing WITH cross-document attention-mask
    boundaries (r4 north star): one row per ~2048-token packed training
    sequence per source, carrying each member document's in-sequence
    start offset — the list a block-diagonal attention mask is built from
    at collate time. All-integer output; the boundary list is bounded by
    bin size, not corpus size."""
    from polars_pipe_spark.functions.sampling import pack_attention_bins
    from polars_pipe_spark.functions.text import token_count

    docs = _t_par(spark, sf, "documents").select(
        "doc_id", "source", token_count("text").alias("ntok")
    )
    return pack_attention_bins(
        docs, "ntok", "doc_id", bin_tokens=2048, part_col="source"
    )


# q157: sqrt(n*1e10) floored — IEEE sqrt is correctly rounded so both
# engines floor the same double; everything after is integer. DuckDB's
# windowed SUM(BIGINT) is HUGEINT → cast the divisions back (q22 lesson).
@query("""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_rows,
             CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE) * 1e10)) AS BIGINT) AS sqrt_e5
      FROM documents GROUP BY source
    )
    SELECT source, n_rows, sqrt_e5,
           CAST((sqrt_e5 * 1000000) // SUM(sqrt_e5) OVER () AS BIGINT) AS weight_ppm,
           CAST((sqrt_e5 * 100000) // SUM(sqrt_e5) OVER () AS BIGINT) AS target_rows
    FROM counts
""")
def _q157_temperature_mixture(spark, sf):
    """Temperature-scaled (alpha=0.5) domain-mixture weights — the
    multilingual/multi-domain rebalancing rule w_g ∝ n_g^alpha. The
    package function keeps the double `weight`; the hash-gated output
    here is the integer-exact projection (the q13 lesson: only
    BIGINT crosses the gate): sqrt scaled to 1e5 units and floored
    (exact while n_docs*1e10 < 2^53, i.e. n_docs < 9e5 per group —
    shrink the scale factor for bigger corpora; IEEE sqrt is correctly
    rounded so both engines floor the same double), then ppm shares and
    a 100k-row budget allocation by pure integer division."""
    from polars_pipe_spark.functions.sampling import temperature_weights

    docs = _t_par(spark, sf, "documents")
    tw = temperature_weights(docs, "source", alpha=0.5).select("source", "n_rows")
    return (
        tw.withColumn(
            "sqrt_e5",
            F.floor(F.sqrt(F.col("n_rows").cast("double") * F.lit(1e10))).cast("long"),
        )
        # windows over one-row-per-source frames: bounded by domain count
        .withColumn(
            "weight_ppm", F.expr("(sqrt_e5 * 1000000) DIV sum(sqrt_e5) OVER ()")
        )
        .withColumn(
            "target_rows", F.expr("(sqrt_e5 * 100000) DIV sum(sqrt_e5) OVER ()")
        )
        .select("source", "n_rows", "sqrt_e5", "weight_ppm", "target_rows")
    )


# q161: bins the q23-proven rounded quality double; SUM(len) is HUGEINT
# in DuckDB → cast (q22 lesson).
_Q161_TEMPLATE = f"""
    WITH tok AS (
      SELECT doc_id, text, {{toks}} AS toks FROM documents
    ), feat AS (
      SELECT len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, t -> t IN {{sw}})) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sr,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text) - length(regexp_replace(text, '{{punct}}', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr
      FROM tok
    ), scored AS (
      SELECT n_tokens,
             round(least(n_tokens / 100.0, 1.0) * 0.4
                   + least(sr * 5.0, 1.0) * 0.4
                   + (1.0 - least(pr * 10.0, 1.0)) * 0.2, 6) AS q
      FROM feat
    )
    SELECT LEAST(CAST(FLOOR(q * 10) AS BIGINT), 9) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM scored GROUP BY bin_id
"""


@query(_Q161_TEMPLATE.format(
    toks=_TOKS, sw=_in_list(_MARKERS["en"]), punct=_PUNCT_RE
))
def _q161_quality_bins(spark, sf):
    """Curriculum binning: fixed-width deciles over the [0,1] quality
    score with per-bin doc and token counts
    (functions/sampling.py::quality_bins). Fixed-width bins are a pure
    row expression + ordinary groupBy — no NTILE, no global sort, no
    one-reducer window. Cross-engine parity piggybacks on the q23-proven
    quality fragment: both engines bin the SAME rounded double, so
    floor/least agree bit-for-bit."""
    from polars_pipe_spark.functions.sampling import quality_bins
    from polars_pipe_spark.functions.text import quality_score, token_count

    docs = _t_par(spark, sf, "documents")
    return quality_bins(
        docs, quality_score("text"), n_bins=10, token_col=token_count("text")
    )


# q171: smallest-boundary bucket via CASE chain; overlong docs truncate
# to the top boundary. HUGEINT sums cast back.
@query(f"""
    WITH t AS (
      SELECT len({_TOKS}) AS ntok FROM documents
    ), b AS (
      SELECT CASE WHEN ntok <= 32 THEN 32 WHEN ntok <= 64 THEN 64
                  WHEN ntok <= 128 THEN 128 WHEN ntok <= 256 THEN 256
                  ELSE 512 END AS bucket,
             LEAST(ntok, 512) AS eff
      FROM t
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
           CAST(SUM(eff) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS capacity,
           CAST(COUNT(*) * bucket - SUM(eff) AS BIGINT) AS padding_waste
    FROM b GROUP BY bucket
""")
def _q171_padding_waste(spark, sf):
    """Length-bucketed batching efficiency: assign each document to the
    smallest boundary ≥ its token count (overlong docs truncate to the
    top bucket) and report per-bucket docs / real tokens / capacity /
    wasted padding — the table that picks a training run's bucket
    boundaries. All-BIGINT; one groupBy.
    See functions/sampling.py::length_bucket_stats."""
    from polars_pipe_spark.functions.sampling import length_bucket_stats
    from polars_pipe_spark.functions.text import token_count

    docs = _t_par(spark, sf, "documents")
    return length_bucket_stats(
        docs.select(token_count("text").cast("long").alias("ntok")),
        "ntok",
        [32, 64, 128, 256, 512],
    )


# q210: the oracle is the naive row_number window the salted two-level
# selection must exactly reproduce
@query("""
    WITH k AS (
      SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank,
             COUNT(*) OVER (PARTITION BY source) AS n_docs
      FROM k
    )
    SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM r WHERE rank <= 20
""")
def _q210_domain_caps(spark, sf):
    """Per-domain document cap (RefinedWeb/C4 keep-at-most-N-per-host):
    keep the 20 docs with the smallest deterministic md5 draw per
    source, reported with their rank and the domain's total. Selection
    is the SALTED two-level exact top-k (q199's pattern): per-(source,
    doc_id%32) partial sort-and-slice, then merge the ≤32×20 survivors
    — a monster domain never funnels through one reducer, which is the
    failure mode of the naive row_number window the oracle uses. The
    md5 draw makes the cap a uniform sample, reproducible across runs
    and engines (no rand())."""
    docs = _t_par(spark, sf, "documents")
    item = F.struct(
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.col("doc_id").alias("doc_id"),
    )
    partial = docs.groupBy("source", (F.col("doc_id") % 32).alias("salt")).agg(
        F.count(F.lit(1)).alias("n_part"),
        F.slice(F.array_sort(F.collect_list(item)), 1, 20).alias("top_part"),
    )
    merged = partial.groupBy("source").agg(
        F.sum("n_part").alias("n_docs"),
        F.slice(F.array_sort(F.flatten(F.collect_list("top_part"))), 1, 20).alias(
            "kept"
        ),
    )
    return merged.select(
        "source", "n_docs", F.posexplode("kept").alias("pos", "k")
    ).select(
        "source",
        (F.col("pos") + 1).cast("long").alias("rank"),
        F.col("k.doc_id").alias("doc_id"),
        "n_docs",
    )
