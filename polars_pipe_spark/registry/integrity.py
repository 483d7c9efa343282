"""Registry queries over ``functions.integrity``: checksums, sketches and
leakage audits."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par
from polars_pipe_spark.registry._sql import _cms_hash_sql, _hex_int_sql, _NORM, _TOKS


def _checksum_sql(table: str, cols: list[str]) -> str:
    rendered = ", ".join(f"COALESCE(CAST({c} AS VARCHAR), chr(0))" for c in cols)
    return f"""
    SELECT '{table}' AS table_name, COUNT(*) AS n_rows,
           CAST(SUM(CAST({_hex_int_sql("h", 12)} AS HUGEINT))
                % 4611686018427387904 AS BIGINT) AS checksum
    FROM (SELECT md5(concat_ws('|', {rendered})) AS h FROM {table})
    """


@query(" UNION ALL ".join(
    [
        _checksum_sql("documents", ["doc_id", "source", "lang"]),
        _checksum_sql("orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"]),
        _checksum_sql("lineitem", ["l_orderkey", "l_linenumber", "l_returnflag"]),
    ]
))
def _q190_table_checksum(spark, sf):
    """Order-invariant table checksums — the replication/migration
    validation primitive: sum of per-row 48-bit content hashes mod 2^62,
    so a repartitioned/compacted/sorted rewrite of the same rows yields
    the same value. One map-side-partial aggregate per table (the
    cheapest full-table verification possible); DECIMAL(38,0) carry so
    the sum never overflows at 100 TB row counts."""
    from polars_pipe_spark.functions.integrity import table_checksum

    specs = [
        ("documents", ["doc_id", "source", "lang"]),
        ("orders", ["o_orderkey", "o_orderstatus", "o_orderpriority"]),
        ("lineitem", ["l_orderkey", "l_linenumber", "l_returnflag"]),
    ]
    rows = [table_checksum(_t(spark, sf, n), cols, n) for n, cols in specs]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


_BUCKET100 = (
    "((((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100"
)


@query(f"""
    WITH lab AS (
      SELECT md5(substr({_NORM}, 1, 80)) AS fp,
             CASE WHEN {_BUCKET100} < 10 THEN 'test'
                  WHEN {_BUCKET100} < 20 THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    ), per AS (
      SELECT fp, split, COUNT(*) AS n_docs FROM lab GROUP BY 1, 2
    ), pairs AS (
      SELECT a.split AS split_a, b.split AS split_b,
             a.n_docs AS docs_a, b.n_docs AS docs_b
      FROM per a JOIN per b USING (fp) WHERE a.split < b.split
    )
    SELECT split_a, split_b, COUNT(*) AS n_shared_fingerprints,
           CAST(SUM(docs_a + docs_b) AS BIGINT) AS n_leaked_docs
    FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
""")
def _q191_split_leakage(spark, sf):
    """Train/val/test contamination audit: documents whose content
    fingerprint (md5 of the first 80 normalised chars — catches exact
    copies AND shared-prefix near-copies) appears on both sides of a
    split boundary. Group-by-fingerprint (near-unique key, no skew),
    pair enumeration only over the straddling fingerprints — never a
    corpus self-join."""
    from polars_pipe_spark.functions.integrity import split_leakage
    from polars_pipe_spark.functions.sampling import md5_bucket
    from polars_pipe_spark.functions.text import normalize_text

    docs = _t_par(spark, sf, "documents")
    bucket = md5_bucket("doc_id", 100)
    labeled = docs.select(
        F.md5(F.substring(normalize_text("text"), 1, 80)).alias("fp"),
        F.when(bucket < 10, F.lit("test"))
        .when(bucket < 20, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    return split_leakage(labeled, "fp", "split").orderBy("split_a", "split_b")


@query(f"""
    WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM tok)
    SELECT token, cnt, total FROM counts CROSS JOIN tot
    WHERE 1000000 * cnt > 1000 * total
""")
def _q193_heavy_hitters(spark, sf):
    """Exact frequency-floor heavy hitters: every token above 1000 ppm of
    the corpus token stream (the exact answer to the Misra–Gries
    question). Integer cross-multiply against a broadcast 1-row total —
    no float division, deterministic output set; the vocabulary count
    table is ≪ corpus at any scale."""
    from polars_pipe_spark.functions.integrity import heavy_hitters
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    return heavy_hitters(tok, "token", threshold_ppm=1000)


@query(f"""
    WITH tok AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ), cells AS (
      SELECT r.r AS row,
             {_cms_hash_sql("CAST(r.r AS VARCHAR) || ':' || token")} % 64 AS bucket
      FROM tok, (SELECT unnest(range(4)) AS r) r
    ), grid AS (
      SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cells GROUP BY row, bucket
    ), probes AS (
      SELECT unnest(['the','and','of','to','a','data','xyzzy-absent']) AS key
    ), pc AS (
      SELECT key, r.r AS row,
             {_cms_hash_sql("CAST(r.r AS VARCHAR) || ':' || key")} % 64 AS bucket
      FROM probes, (SELECT unnest(range(4)) AS r) r
    ), est AS (
      SELECT key, MIN(COALESCE(g.cnt, 0)) AS est
      FROM pc LEFT JOIN grid g USING (row, bucket)
      GROUP BY key
    ), exact AS (
      SELECT token AS key, CAST(COUNT(*) AS BIGINT) AS exact
      FROM tok GROUP BY token
    )
    SELECT est.key,
           CAST(COALESCE(exact.exact, 0) AS BIGINT) AS exact,
           CAST(est.est AS BIGINT) AS est,
           est.est >= COALESCE(exact.exact, 0) AS never_undercounts
    FROM est LEFT JOIN exact USING (key)
""")
def _q242_countmin_sketch(spark, sf):
    """Count-Min sketch audit over the token stream: build the 4×64
    mergeable counter grid in one corpus pass (functions/integrity.py::
    count_min_sketch — each row explodes to depth cells, one partial-agg
    groupBy on a ≤ depth·width key space), then point-estimate the
    stopword probe set against EXACT counts. md5-derived bucket hashes
    make every cell and every estimate engine-reproducible, so the
    oracle value-checks the whole grid-lookup path, and the
    ``never_undercounts`` column is the CMS one-sided guarantee checked
    per key, not assumed."""
    from polars_pipe_spark.functions.integrity import count_min_estimates
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    probes = spark.createDataFrame(
        [(w,) for w in ["the", "and", "of", "to", "a", "data", "xyzzy-absent"]],
        "token string",
    )
    return count_min_estimates(tok, "token", probes, width=64, depth=4)


# q243: white-box HLL mirrored cell for cell — register/rank from the
# same md5 hex parse, integer shiftleft denominator, identical double
# formula (incl. linear-counting branch).
@query(f"""
    WITH h AS (
      SELECT {_cms_hash_sql("CAST(user_id AS VARCHAR)")} AS h1,
             ({" + ".join(
                 f"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), {i + 9}, 1)) - 1) * {16 ** (7 - i)}"
                 for i in range(8)
             )}) AS h2,
             user_id
      FROM events
    ), rr AS (
      SELECT h1 % 64 AS reg,
             CASE WHEN h2 = 0 THEN 33 ELSE 33 - length(bin(h2)) END AS rank
      FROM h
    ), regs AS (
      SELECT reg, MAX(rank) AS m_r FROM rr GROUP BY reg
    ), fr AS (
      SELECT COALESCE(m_r, 0) AS m_r
      FROM (SELECT unnest(range(64)) AS reg) r LEFT JOIN regs USING (reg)
    ), s AS (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << (40 - m_r)) AS BIGINT) AS s_scaled,
             CAST(SUM(CASE WHEN m_r = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_regs
      FROM fr
    ), x AS (SELECT COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_exact
             FROM events)
    SELECT CAST(64 AS BIGINT) AS m,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           s.n_zero_regs, s.s_scaled,
           ROUND(CASE WHEN s.n_zero_regs > 0
                      AND ((0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
                           * CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE)
                           / CAST(s.s_scaled AS DOUBLE)) <= 2.5 * 64.0
                 THEN 64.0 * ln(64.0 / CAST(s.n_zero_regs AS DOUBLE))
                 ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
                      * CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE)
                      / CAST(s.s_scaled AS DOUBLE) END, 4) AS est
    FROM s, x
""")
def _q243_hll_registers(spark, sf):
    """From-scratch HyperLogLog over the events user population with
    EXPLICIT register state (functions/integrity.py::hll_cardinality) —
    q40's approx_count_distinct treats HLL++ as a black box; this one is
    white-box: md5-derived (register, rank), register-wise MAX (the
    merge law), an INTEGER harmonic-mean denominator via shiftleft, and
    the linear-counting small-range correction — every cell
    value-checked by the oracle, with the exact distinct count alongside
    as the audit column."""
    from polars_pipe_spark.functions.integrity import hll_cardinality

    ev = _t_par(spark, sf, "events")
    return hll_cardinality(ev, "user_id", m=64)


# q245: streaming/batch equivalence — the streaming grid must equal the
# batch-built sketch cell for cell (reuses q242's grid derivation).
@query(f"""
    WITH tok AS (
      SELECT unnest({_TOKS}) AS token FROM documents
    ), cells AS (
      SELECT r.r AS row,
             {_cms_hash_sql("CAST(r.r AS VARCHAR) || ':' || token")} % 64 AS bucket
      FROM tok, (SELECT unnest(range(4)) AS r) r
    )
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY row, bucket
""")
def _q245_streaming_cms(spark, sf):
    """Count-Min sketch maintained BY A STREAM — the mergeable-sketch
    property in its natural habitat: each micro-batch's (row, bucket)
    cell counts fold into the running grid by cell-wise SUM (a standard
    streaming aggregation in complete mode, no custom state store), so
    the final grid equals the batch-built sketch exactly. The oracle is
    the batch CMS grid over the same token stream — streaming/batch
    equivalence is the checked property (the q130/q32 pattern, applied
    to a sketch)."""
    import tempfile

    from polars_pipe_spark.functions.integrity import _cms_bucket
    from polars_pipe_spark.functions.text import tokens

    path = f"{sf}/documents.parquet"
    batch = _t_par(spark, sf, "documents")
    if not os.path.isdir(path):
        staged = tempfile.mkdtemp(prefix="pps_cms_src_") + "/documents"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    tok = stream.select(F.explode(tokens("text")).alias("token"))
    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_bucket(F.col("token"), r, 64).alias("bucket"),
                    )
                    for r in range(4)
                ]
            )
        ).alias("c")
    )
    grid = cells.groupBy(
        F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    name = "pps_cms_out"
    q = (
        grid.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.table(name)


# q246: grouped white-box HLL — same register math as q243, keyed by
# event_type; zero-register mass added arithmetically like the engine.
@query(f"""
    WITH h AS (
      SELECT event_type,
             {_cms_hash_sql("CAST(user_id AS VARCHAR)")} AS h1,
             ({" + ".join(
                 f"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), {i + 9}, 1)) - 1) * {16 ** (7 - i)}"
                 for i in range(8)
             )}) AS h2,
             user_id
      FROM events
    ), rr AS (
      SELECT event_type, h1 % 64 AS reg,
             CASE WHEN h2 = 0 THEN 33 ELSE 33 - length(bin(h2)) END AS rank,
             user_id
      FROM h
    ), regs AS (
      SELECT event_type, reg, MAX(rank) AS m_r FROM rr GROUP BY 1, 2
    ), s AS (
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (40 - m_r))
                  + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 40) AS BIGINT)
               AS s_scaled,
             CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs
      FROM regs GROUP BY event_type
    ), x AS (
      SELECT event_type,
             COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT s.event_type, CAST(64 AS BIGINT) AS m,
           CAST(x.n_exact AS BIGINT) AS n_exact,
           s.n_zero_regs, s.s_scaled,
           ROUND(CASE WHEN s.n_zero_regs > 0
                      AND ((0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
                           * CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE)
                           / CAST(s.s_scaled AS DOUBLE)) <= 2.5 * 64.0
                 THEN 64.0 * ln(64.0 / CAST(s.n_zero_regs AS DOUBLE))
                 ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
                      * CAST(CAST(1 AS BIGINT) << 40 AS DOUBLE)
                      / CAST(s.s_scaled AS DOUBLE) END, 4) AS est
    FROM s JOIN x USING (event_type)
""")
def _q246_grouped_hll(spark, sf):
    """Distinct users PER EVENT TYPE via the white-box grouped HLL
    (functions/integrity.py::hll_cardinality_by): one register set per
    group in two partial-agg shuffles — untouched registers never
    materialise; their 2^40 mass is added arithmetically. Exact distinct
    counts ride along per group as the audit column."""
    from polars_pipe_spark.functions.integrity import hll_cardinality_by

    ev = _t_par(spark, sf, "events")
    return hll_cardinality_by(ev, "event_type", "user_id", m=64)
