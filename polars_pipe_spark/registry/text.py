"""Registry queries over ``functions.text``: tokens, quality, language,
n-grams, BPE and cleaning; plus the byte-encoding and secret scans
(q192, q268)."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from polars_pipe_spark.registry import query
from polars_pipe_spark.registry._helpers import _t, _t_par
from polars_pipe_spark.registry._sql import (
    _cms_hash_sql,
    _hex_int_sql,
    _in_list,
    _LANG_PRED,
    _lang_score,
    _MARKERS,
    _NORM,
    _PUNCT_RE,
    _SHINGLES3,
    _TOKS,
)
from polars_pipe_spark.registry.integrity import _q193_heavy_hitters


@query(f"""
    WITH tok AS (
      SELECT doc_id, text, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ), feat AS (
      SELECT doc_id, text, norm, toks,
             len(toks) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS awl,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, t -> t IN {_in_list(_MARKERS["en"])})) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sr,
             {_lang_score("de")} AS s_de, {_lang_score("en")} AS s_en,
             {_lang_score("es")} AS s_es, {_lang_score("fr")} AS s_fr
      FROM tok
    )
    SELECT doc_id, n_tokens, n_bpe_tokens,
           round(awl, 6) AS avg_word_len,
           round(pr, 6) AS punct_ratio,
           round(sr, 6) AS stopword_ratio,
           round(least(n_tokens / 100.0, 1.0) * 0.4
                 + least(sr * 5.0, 1.0) * 0.4
                 + (1.0 - least(pr * 10.0, 1.0)) * 0.2, 6) AS quality,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred,
           md5(norm) AS fingerprint
    FROM feat
""")
def _q23_text_stats(spark, sf):
    """Text analysis bundle: token counts (whitespace + BPE-ish), word
    length, punctuation/stopword ratios, quality score, language-ID,
    fingerprint — all JVM-side expressions."""
    from polars_pipe_spark.functions.text import text_stats

    df = _t_par(spark, sf, "documents")
    return df.select("doc_id", *[e.alias(n) for n, e in text_stats("text").items()])


@query("""
    WITH tok AS (
      SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents WHERE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') != ''
    ), counts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    )
    SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) AS rk
    FROM counts QUALIFY rk <= 20
""")
def _q54_vocab_topk(spark, sf):
    """Vocabulary statistics: explode tokens, global top-20 by frequency
    (deterministic ties by token)."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    # orderBy().limit(k) plans TakeOrderedAndProject (per-partition top-k +
    # driver merge) — never a single-partition global sort of the whole
    # vocabulary (round-1 scale-killer: one reducer for a 100 TB corpus).
    # The rank window then runs over just the 20 surviving rows.
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
    # Deliberate unpartitioned window: it runs AFTER the limit, over a
    # frame whose cardinality is bounded at exactly 20 rows regardless of
    # corpus size. Do not copy this into an unbounded context.
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rk", F.row_number().over(w)).select("token", "n", "rk")


@query("""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS token
      FROM documents WHERE regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') != ''
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), dft AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), nd AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, dft.df,
             ROUND(tf.tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN dft ON tf.token = dft.token CROSS JOIN nd
    )
    SELECT doc_id, token, tf, df, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS INT) AS rk
    FROM scored QUALIFY rk <= 3
""")
def _q58_tfidf(spark, sf):
    """TF-IDF: term frequency per doc × inverse document frequency,
    top-3 terms per document (deterministic ties)."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    # tf is persisted because it is read twice (document-frequency agg +
    # the join back); persisting answers the "replans the tokenize lineage"
    # objection that originally motivated a window here. The window variant
    # (`F.count(...).over(Window.partitionBy("token"))`) funnels every row
    # of a stopword token through one reducer — the skewed-key shape that
    # dies at 100×. groupBy gets a map-side partial aggregate, so each
    # executor contributes one (token, partial_count) row regardless of
    # skew, and the join back is agg-sized, not corpus-sized.
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist()
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rk")
    )


@query("""
    WITH inj AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.0.1 seen' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN ' call +123-456-7890 today' ELSE '' END
             AS txt
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(txt, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4,
           len(regexp_extract_all(txt, '\\b\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS n_phone,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(txt,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
                 '\\b\\+?\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PHONE]', 'g')) AS scrubbed_md5
    FROM inj
""")
def _q69_pii_scrub(spark, sf):
    """PII scrubbing: count + redact emails/IPs/phones with pure regex
    expressions (full scan speed, no UDFs). Deterministic PII is injected
    into the synthetic docs (both engines inject identically) so the
    operator is actually exercised."""
    from polars_pipe_spark.functions.text import pii_counts, scrub_pii

    df = _t_par(spark, sf, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" ip 10.0.0.1 seen")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" call +123-456-7890 today")).otherwise(
            F.lit("")
        ),
    )
    base = df.select("doc_id", injected.alias("txt"))
    return base.select(
        "doc_id",
        *[e.alias(n) for n, e in pii_counts(F.col("txt")).items()],
        F.md5(scrub_pii(F.col("txt"))).alias("scrubbed_md5"),
    )


@query(f"""
    WITH lines AS (
      SELECT doc_id,
             string_split(regexp_replace(text, '\\. ', chr(10), 'g'), chr(10)) AS ls
      FROM documents
    ), dl AS (
      SELECT doc_id,
             CASE WHEN len(ls) <= 1 THEN 0.0
                  ELSE round(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls), 6)
             END AS dup_line_frac
      FROM lines
    ), tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM tok WHERE len(toks) >= 2
    ), per_gram AS (
      SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
    ), per_doc AS (
      SELECT doc_id,
             round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_ngram_frac
      FROM per_gram GROUP BY doc_id
    )
    SELECT dl.doc_id, dl.dup_line_frac, per_doc.top_ngram_frac
    FROM dl LEFT JOIN per_doc ON dl.doc_id = per_doc.doc_id
""")
def _q70_repetition_quality(spark, sf):
    """Gopher-style repetition signals: duplicate-line fraction (pure
    expression) + top-2-gram fraction (explode → two-level agg — linear,
    not the O(len²) per-row fold)."""
    from polars_pipe_spark.functions.text import dup_line_fraction, top_ngram_fraction

    df = _t_par(spark, sf, "documents")
    lined = df.select(
        "doc_id", F.regexp_replace("text", r"\. ", "\n").alias("txt")
    )
    dl = lined.select(
        "doc_id", F.round(dup_line_fraction(F.col("txt")), 6).alias("dup_line_frac")
    )
    tg = top_ngram_fraction(df.select("doc_id", "text"), "text", "doc_id", n=2)
    return dl.join(tg, "doc_id", "left")


@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    ), vocab AS (
      SELECT token FROM counts ORDER BY n DESC, token LIMIT 1000
    ), flagged AS (
      SELECT t.doc_id, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.token = v.token
    )
    SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(oov) AS BIGINT) AS n_oov,
           round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM flagged GROUP BY doc_id
""")
def _q72_oov_rate(spark, sf):
    """Tokenizer-vocabulary coverage: derive the top-1000-token vocab
    (deterministic tiebreak), broadcast it, and compute each document's
    out-of-vocabulary token rate in ONE agg over the flagged explode —
    the vocab side is TakeOrderedAndProject (per-partition top-k), the
    doc side never shuffles the token table twice."""
    from polars_pipe_spark.functions.text import tokens

    df = _t_par(spark, sf, "documents")
    tok = df.select("doc_id", F.explode(tokens("text")).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(1000)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "token", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tok"), 6).alias("oov_rate"),
        )
    )


@query(f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS tok FROM tok),
    ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    bi AS (
      SELECT unnest(toks[1:len(toks) - 1]) AS x,
             unnest(toks[2:len(toks)]) AS y
      FROM tok WHERE len(toks) >= 2
    ),
    bcnt AS (SELECT x, y, COUNT(*) AS c_xy FROM bi GROUP BY x, y),
    tot AS (
      SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ucnt) AS n_uni,
             (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bcnt) AS n_bi
    )
    SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(ux.c AS BIGINT) AS c_x, CAST(uy.c AS BIGINT) AS c_y,
           CAST(c_xy AS DOUBLE) * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)
             / (CAST(n_bi AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))
             AS pmi_ratio
    FROM bcnt JOIN ucnt ux ON ux.tok = x JOIN ucnt uy ON uy.tok = y CROSS JOIN tot
    ORDER BY c_xy DESC, x, y LIMIT 50
""")
def _q89_bigram_pmi(spark, sf):
    """Collocation mining: top-50 token bigrams by count with their PMI
    ratio (exact integer counts; the ratio is one identical double
    expression on both engines). Bigrams via posexplode + lead over
    (doc, pos) — no array gymnastics, one shuffle per counting pass."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("x"), F.col("nxt").alias("y"))
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .persist()  # tiny vocab-pair frame, read twice (totals + ranking)
    )
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    tot = uni.agg(F.sum("c").cast("long").alias("n_uni")).crossJoin(
        bi.agg(F.sum("c_xy").cast("long").alias("n_bi"))
    )
    ratio = (
        F.col("c_xy").cast("double")
        * F.col("n_uni").cast("double")
        * F.col("n_uni").cast("double")
        / (
            F.col("n_bi").cast("double")
            * F.col("c_x").cast("double")
            * F.col("c_y").cast("double")
        )
    )
    return (
        bi.join(uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x")), "x")
        .join(uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y")), "y")
        .crossJoin(F.broadcast(tot))
        .withColumn("pmi_ratio", ratio)
        .select("x", "y", "c_xy", "c_x", "c_y", "pmi_ratio")
        .orderBy(F.col("c_xy").desc(), "x", "y")
        .limit(50)
    )


@query(f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    lvl1 AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok)
    SELECT source, COUNT(*) AS n_types, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr
    FROM lvl1 GROUP BY source
""")
def _q95_lexical_diversity(spark, sf):
    """Per-source lexical diversity: type count, token count, hapax
    count, type-token ratio. Two-level aggregation — the (source, token)
    partial avoids a countDistinct Expand."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("tok"))
    lvl1 = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return lvl1.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias("ttr"),
    )


@query(f"""
    WITH tok AS (SELECT source, {_TOKS} AS t FROM documents),
    sg AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 6),
                    i -> md5(array_to_string(t[i:i+7], ' ')))) AS g
      FROM tok WHERE len(t) >= 8
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_grams
    FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2
""")
def _q111_source_overlap(spark, sf):
    """Cross-source contamination matrix: for every source pair, how
    many DISTINCT word 8-grams they share verbatim (who copies from
    whom). Grams md5-hashed and (source, gram)-deduplicated before the
    self-join, so the pair enumeration runs on the distinct-gram table,
    never raw positions."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    k = 8
    t = tokens("text")
    idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
    gram = F.when(
        F.size(t) >= k,
        F.transform(idx, lambda i: F.md5(F.array_join(F.slice(t, i, k), " "))),
    ).otherwise(F.array().cast("array<string>"))
    sg = (
        docs.select("source", F.explode(F.array(gram)).alias("__g"))
        .select("source", F.explode("__g").alias("g"))
        .distinct()
    )
    a, b = sg.alias("a"), sg.alias("b")
    return (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@query(f"""
    WITH tok AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), feat AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS ntok,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, t -> t IN {_in_list(_MARKERS["en"])})) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sr,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS awl,
             {_lang_score("de")} AS s_de, {_lang_score("en")} AS s_en,
             {_lang_score("es")} AS s_es, {_lang_score("fr")} AS s_fr
      FROM tok
    ), z AS (
      SELECT doc_id, ntok, sr, pr, awl,
             -1.5 + least(ntok / 200.0, 1.0) * 2.5
                  + least(sr * 5.0, 1.0) * 3.0
                  - least(pr * 10.0, 1.0) * 2.0
                  + (CASE WHEN awl >= 2.0 AND awl <= 12.0 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN ({_LANG_PRED}) = 'en' THEN 0.5 ELSE 0.0 END) AS z
      FROM feat
    ), p AS (
      SELECT doc_id, ntok, sr, pr, awl,
             round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
             CASE WHEN ntok < 10 THEN 'too_short'
                  WHEN sr < 0.01 THEN 'low_stopword'
                  WHEN pr > 0.2 THEN 'high_punct'
                  WHEN awl < 2.0 OR awl > 12.0 THEN 'weird_word_len'
                  ELSE 'ok' END AS reject_reason
      FROM z
    )
    SELECT doc_id, quality_prob, reject_reason,
           CASE WHEN reject_reason = 'ok' AND quality_prob >= 0.5
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM p
""")
def _q128_quality_classifier(spark, sf):
    """Document quality classifier: logistic composition of the
    text_stats features + Gopher-style hard reject rules, keep/drop
    verdict. Pure expressions over one scan."""
    from polars_pipe_spark.functions.text import quality_classifier

    docs = _t_par(spark, sf, "documents")
    cls = quality_classifier("text")
    return docs.select("doc_id", *[e.alias(n) for n, e in cls.items()])


# q131: unigram-LM scoring; per-token logprobs round to 6 then sum as
# DECIMAL; the scaled-integer average divides positives only (Spark DIV
# truncates toward zero, DuckDB // floors — equal only for >= 0).
@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), vocab AS (
      SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ), total AS (
      SELECT SUM(cnt) AS total FROM vocab
    ), lp AS (
      SELECT doc_id,
             CAST(round(ln(CAST(cnt AS DOUBLE) / total), 6) AS DECIMAL(14,6)) AS lp
      FROM tok JOIN vocab USING (term) CROSS JOIN total
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_toks,
             CAST(SUM(lp) AS DECIMAL(18,6)) AS sum_logprob
      FROM lp GROUP BY doc_id
    )
    SELECT doc_id, n_toks, sum_logprob,
           -(CAST(sum_logprob * -1000000 AS BIGINT) // n_toks) AS avg_lp_micros
    FROM agg
""")
def _q131_unigram_logprob(spark, sf):
    """Unigram-LM document scoring (perplexity-style quality signal):
    per-token log-probability against the corpus unigram distribution,
    rounded per token and decimal-summed per document. The token→vocab
    join shuffles on term (vocab is corpus-derived, not broadcastable in
    general); averages emit as scaled BIGINT via positive integer
    division so both engines floor identically."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    # r9 plan fix: aggregate to (doc, term, tf) FIRST — the tokenize +
    # explode runs ONCE (persisted at doc-term grain, far smaller than
    # raw tokens), the vocab derives from it with a map-side-combinable
    # second agg, and the term join probes distinct doc-terms instead of
    # every token. Identical output: summing tf copies of the per-token
    # rounded decimal lp equals tf × lp exactly (decimal × integer).
    # The old token-grain join re-ran the regex tokenizer on both join
    # inputs and shuffled every token occurrence (17.8 s at sf3).
    dt = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    vocab = dt.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lp = F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 6).cast(
        "decimal(14,6)"
    )
    scored = (
        dt.join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_toks"),
            F.sum(F.col("tf") * lp).cast("decimal(18,6)").alias("sum_logprob"),
        )
    )
    # logprobs are negative: negate before the integer division so both
    # engines divide positives (Spark DIV truncates toward zero, DuckDB
    # // floors — they only agree on non-negative operands).
    return scored.withColumn(
        "avg_lp_micros",
        F.expr("-(CAST(sum_logprob * -1000000 AS BIGINT) DIV n_toks)"),
    )


# q138: mirrors functions/text.py::clean_text over the same injected
# dirt; every regex is RE2-safe so Java and RE2 agree byte for byte.
_Q138_DIRTY = (
    "chr(1) || '  ' || text || "
    "CASE WHEN doc_id % 3 = 0 THEN ' !!!  wow,,,  ' ELSE ' .....  end;;; ' END"
)
_Q138_CLEAN = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(regexp_replace(" + _Q138_DIRTY + ", "
    r"'[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'), "
    "'!{2,}', '!', 'g'), "
    r"'\?{2,}', '?', 'g'), "
    "',{2,}', ',', 'g'), "
    "';{2,}', ';', 'g'), "
    r"'\.{4,}', '...', 'g'), "
    r"'\s+', ' ', 'g'))"
)


@query(f"""
    SELECT doc_id,
           {_Q138_CLEAN} AS clean_text,
           length({_Q138_DIRTY}) - length({_Q138_CLEAN}) AS n_removed_chars
    FROM documents
""")
def _q138_text_clean(spark, sf):
    """C4-style cleaning battery over deterministically-dirtied text
    (the synthetic corpus is already clean, so dirt is injected first to
    make the transformation observable): control-char strip, punctuation
    squeeze, whitespace collapse — all RE2-safe regexes that behave
    identically under Java regex and DuckDB."""
    from polars_pipe_spark.functions.text import clean_text

    docs = _t_par(spark, sf, "documents")
    dirty = F.concat(
        F.lit("\x01  "),
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" !!!  wow,,,  ")).otherwise(
            F.lit(" .....  end;;; ")
        ),
    )
    return docs.select(
        "doc_id",
        clean_text(dirty).alias("clean_text"),
        (F.length(dirty) - F.length(clean_text(dirty))).alias("n_removed_chars"),
    )


# q139: batch twin of the streaming quality gate — the q128 oracle
# joined back to documents for the source column, grouped.
@query(f"""
    SELECT d.source, v.verdict, COUNT(*) AS n_docs
    FROM ({_q128_quality_classifier.oracle}) v
    JOIN documents d USING (doc_id)
    GROUP BY d.source, v.verdict
""")
def _q139_streaming_quality_gate(spark, sf):
    """Quality-gated ingest as a real stream: the q128 classifier runs
    per micro-batch and keep/drop counts accumulate per source in
    complete mode — batch and stream share the one expression bundle,
    checked against the batch SQL oracle."""
    import tempfile

    from polars_pipe_spark.functions.text import quality_classifier

    path = f"{sf}/documents.parquet"
    batch = _t_par(spark, sf, "documents")
    if not os.path.isdir(path):
        staged = tempfile.mkdtemp(prefix="pps_qg_src_") + "/documents"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    agg = (
        stream.withColumn("verdict", quality_classifier("text")["verdict"])
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    name = "pps_qg_out"
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


# q146: sliding-window chunks — same count formula and 1-based slices.
@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sp AS (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN CAST(1 + floor((greatest(len(toks) - 20, 0) + 9) / 10.0) AS INT)
                  ELSE 0 END AS n_chunks,
             toks
      FROM tok
    ), ex AS (
      SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, toks FROM sp
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           len(toks[chunk_idx*10+1 : chunk_idx*10+20]) AS n_chunk_tokens,
           array_to_string(toks[chunk_idx*10+1 : chunk_idx*10+20], ' ') AS chunk_text
    FROM ex
""")
def _q146_rag_chunks(spark, sf):
    """Overlapping sliding-window chunking for retrieval indexing
    (size 20, stride 10): the RAG-ingestion twin of q132's disjoint
    spans. Token array materialised before the transform (HOF lambdas
    re-evaluate captured subexpressions per element)."""
    from polars_pipe_spark.functions.text import tokens

    size, stride = 20, 10
    tok_df = _t_par(spark, sf, "documents").select(
        "doc_id", tokens("text").alias("__toks")
    )
    t = F.col("__toks")
    n = F.size(t)
    n_chunks = F.when(
        n > 0,
        (F.lit(1) + F.floor((F.greatest(n - size, F.lit(0)) + (stride - 1))
                            / F.lit(float(stride)))).cast("int"),
    ).otherwise(F.lit(0))
    chunks = F.when(n_chunks > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(t, i * stride + 1, size),
    )).otherwise(F.array().cast("array<array<string>>"))
    return tok_df.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc_id", "chunk_idx",
        F.size("c").alias("n_chunk_tokens"),
        F.array_join("c", " ").alias("chunk_text"),
    )


# q151: novelty via the shared shingle fragment; df counts distinct
# (doc, gram) pairs so df = 1 means corpus-unique.
@query(f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS gram FROM tok
    ), counts AS (
      SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
    ), per AS (
      -- BIGINT casts: DuckDB SUM(INT) and HUGEINT `//` results are
      -- decimal128(38,0) while Spark emits integrals — the q22 type seam
      SELECT doc_id, COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
      FROM g JOIN counts USING (gram) GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_unique,
           CAST((n_unique * 1000000) // n_grams AS BIGINT) AS novelty_micros
    FROM per
""")
def _q151_ngram_novelty(spark, sf):
    """N-gram novelty scoring: per document, the fraction of its
    distinct 3-grams that appear in NO other document — the diversity
    signal complementary to OOV (token-level) and contamination
    (cross-split).

    r14 (§2.3/§2.4): the old form exploded the corpus TWICE (once for
    the gram-frequency aggregate, once for the join-back) and moved
    every gram instance through a join. ``count() OVER (PARTITION BY
    gram)`` computes the identical df on ONE exploded stream — one
    explode, one gram shuffle, no join (measured at sf1: 12.3 s → 6.7-
    8.9 s best-of-2; the scan-side ``size(array_distinct(...))``
    alternative was REJECTED — the projection alone cost 8.2 s, ~2× the
    4.5 s explode). The window partitions by a high-cardinality key but
    every partition is a df-sized group (corpus frequency of one gram) —
    bounded by duplication, not corpus size."""
    from polars_pipe_spark.functions.text import shingles

    docs = _t_par(spark, sf, "documents")
    g = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("gram")
    )
    per_doc = (
        g.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("gram"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return per_doc.withColumn(
        "novelty_micros", F.expr("(n_unique * 1000000) DIV n_grams")
    )


# q156: pair list per word via range(1, len) (empty for 1-char words, so
# no CASE needed — unnest of [] drops the row, matching Spark's IF guard).
@query(f"""
    WITH words AS (
      SELECT unnest({_TOKS}) AS w FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substring(w, CAST(i AS INT), 2))) AS pair
      FROM words
    )
    SELECT pair, COUNT(*) AS n FROM pairs
    GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50
""")
def _q156_bpe_pairs(spark, sf):
    """First BPE merge-round statistics: corpus-wide adjacent
    character-pair counts within whitespace tokens, top-50 by (count
    desc, pair asc) — a total order, so the 50-row set is deterministic.
    The merge LOOP of BPE training is a driver-side fold over these
    counts; ONE round is a single flatten-explode + groupBy whose
    shuffle input collapses under map-side partial aggregation, and the
    top-50 runs as TakeOrderedAndProject (no global sort
    materialisation)."""
    from polars_pipe_spark.functions.text import char_pair_counts

    docs = _t_par(spark, sf, "documents")
    return (
        char_pair_counts(docs, "text")
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(50)
    )


# q163: vocab = top-500 by (freq desc, token asc) — total order, so the
# LIMIT boundary is deterministic; HUGEINT sums/divisions cast back.
@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
        ORDER BY c DESC, token ASC LIMIT 500
      )
    ), per AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM tok t LEFT JOIN vocab v USING (token) GROUP BY t.doc_id
    )
    SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens,
           COALESCE(per.n_oov, 0) AS n_oov,
           CAST(CASE WHEN COALESCE(per.n_tokens, 0) > 0
                THEN (COALESCE(per.n_oov, 0) * 1000000) // per.n_tokens
                ELSE 0 END AS BIGINT) AS oov_micros
    FROM documents d LEFT JOIN per USING (doc_id)
""")
def _q163_oov_rate(spark, sf):
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    token counts against the top-500 corpus tokens (freq desc, token asc
    — a total order, so the vocab set is deterministic). One explode
    feeds both the vocab aggregate and the per-doc join; the vocab side
    is broadcast (bounded). See functions/text.py::oov_stats."""
    from polars_pipe_spark.functions.text import oov_stats, tokens

    docs = _t_par(spark, sf, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(500)
        .select("token")
    )
    return oov_stats(docs, "text", "doc_id", vocab)


# q169: first BPE merge = argmax weighted char pair (total tie order);
# the loop's monotonicity property asserts as a literal.
@query(f"""
    WITH words AS (
      SELECT unnest({_TOKS}) AS w FROM documents
    ), wf AS (
      SELECT w, COUNT(*) AS freq FROM words GROUP BY w
    ), pairs AS (
      SELECT substring(w, CAST(i AS INT), 1) AS l,
             substring(w, CAST(i + 1 AS INT), 1) AS r,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM wf)
      GROUP BY 1, 2
    )
    SELECT l AS first_left, r AS first_right, cnt AS first_count,
           CAST(8 AS BIGINT) AS n_merges, TRUE AS counts_nonincreasing
    FROM pairs ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
""")
def _q169_bpe_train(spark, sf):
    """BPE tokenizer training (8 merge rounds) as an oracle-checkable
    PROPERTY query: the iterative loop itself is not SQL-expressible
    (driver-fold over per-round aggregates, the q33 pattern), but its
    first merge IS — it must equal the corpus' top weighted char pair
    (cnt desc, left asc, right asc) — and the chosen counts must be
    non-increasing (a merge's derived pairs occur at most as often as
    the merge). See functions/text.py::bpe_train."""
    from polars_pipe_spark.functions.text import bpe_train

    docs = _t_par(spark, sf, "documents")
    merges = bpe_train(docs, "text", n_merges=8)
    noninc = all(
        merges[i][2] >= merges[i + 1][2] for i in range(len(merges) - 1)
    )
    row = [
        (merges[0][0], merges[0][1], merges[0][2], len(merges), bool(noninc))
    ]
    return spark.createDataFrame(
        row,
        "first_left string, first_right string, first_count long, "
        "n_merges long, counts_nonincreasing boolean",
    )


# q172: q157's sqrt source weights × q161's bin shares, pure integer
# division; windowed SUM is HUGEINT -> cast (q22 lesson).
@query(f"""
    WITH tok AS (
      SELECT source, {_TOKS} AS toks, text FROM documents
    ), feat AS (
      SELECT source, len(toks) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, t -> t IN {_in_list(_MARKERS["en"])})) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sr,
             CASE WHEN length(text) > 0
                  THEN CAST(length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS DOUBLE) / length(text)
                  ELSE 0.0 END AS pr
      FROM tok
    ), scored AS (
      SELECT source,
             LEAST(CAST(FLOOR(round(least(n_tokens / 100.0, 1.0) * 0.4
                   + least(sr * 5.0, 1.0) * 0.4
                   + (1.0 - least(pr * 10.0, 1.0)) * 0.2, 6) * 10) AS BIGINT), 9) AS bin_id
      FROM feat
    ), per AS (
      SELECT source, bin_id, COUNT(*) AS n_docs FROM scored GROUP BY source, bin_id
    ), src AS (
      SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_src,
             CAST(FLOOR(SQRT(CAST(SUM(n_docs) AS DOUBLE) * 1e10)) AS BIGINT) AS sqrt_e5
      FROM per GROUP BY source
    ), srcw AS (
      SELECT source, n_src,
             CAST((sqrt_e5 * 1000000) // SUM(sqrt_e5) OVER () AS BIGINT) AS src_rows
      FROM src
    )
    SELECT per.source, per.bin_id, per.n_docs, srcw.n_src,
           CAST((srcw.src_rows * per.n_docs) // srcw.n_src AS BIGINT) AS target_rows
    FROM per JOIN srcw USING (source)
""")
def _q172_mixing_schedule(spark, sf):
    """Curriculum mixing schedule: the per-(source, quality-decile) row
    allocation for a 1M-row training budget — temperature-scaled source
    weights (q157's sqrt rule) × within-source bin shares, all by
    integer division so the plan is exact and cross-engine. This is the
    artifact a sampler consumes; composes q157 + q161's primitives."""
    from polars_pipe_spark.functions.text import quality_score

    docs = _t_par(spark, sf, "documents")
    per = (
        docs.select(
            "source",
            F.least(
                F.floor(quality_score("text") * 10).cast("long"), F.lit(9)
            ).alias("bin_id"),
        )
        .groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    src = per.groupBy("source").agg(F.sum("n_docs").alias("n_src"))
    src = src.withColumn(
        "sqrt_e5",
        F.floor(F.sqrt(F.col("n_src").cast("double") * F.lit(1e10))).cast("long"),
    ).withColumn(
        "src_rows", F.expr("(sqrt_e5 * 1000000) DIV sum(sqrt_e5) OVER ()")
    )
    return (
        per.join(src, "source")
        .select(
            "source",
            "bin_id",
            "n_docs",
            "n_src",
            F.expr("(src_rows * n_docs) DIV n_src").alias("target_rows"),
        )
    )


# q179: margin from the sorted 4-score list (integer-exact); prediction
# reuses the q128 argmax fragment (same de→en→es→fr tie order as
# Spark's left-fold). HUGEINT sums/divs cast back.
@query(f"""
    WITH tok AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ), feat AS (
      SELECT doc_id, lang,
             {_lang_score("de")} AS s_de, {_lang_score("en")} AS s_en,
             {_lang_score("es")} AS s_es, {_lang_score("fr")} AS s_fr
      FROM tok
    ), scored AS (
      SELECT LEAST(l[4] - l[3], 5) AS conf_bin,
             ({_LANG_PRED}) = lang AS ok
      FROM (SELECT lang, s_de, s_en, s_es, s_fr,
                   list_sort([s_de, s_en, s_es, s_fr]) AS l FROM feat)
    )
    SELECT CAST(conf_bin AS BIGINT) AS conf_bin, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST((SUM(CASE WHEN ok THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS accuracy_micros
    FROM scored GROUP BY conf_bin
""")
def _q179_langid_calibration(spark, sf):
    """Classifier calibration table for the lang-ID heuristic: bin each
    document by its integer confidence margin (best marker count minus
    second-best, clamped to 5) and report accuracy against the table's
    true lang per bin — the reliability diagram a model owner reads
    before trusting the cheap classifier at scale. All-integer: marker
    scores are counts, the margin is exact, accuracy in micros."""
    from polars_pipe_spark.functions.text import lang_id, lang_scores

    docs = _t_par(spark, sf, "documents")
    sc = lang_scores("text")
    arr = F.array_sort(F.array(*[sc[lang] for lang in sorted(sc)]))
    margin = F.element_at(arr, -1) - F.element_at(arr, -2)
    scored = docs.select(
        F.least(margin, F.lit(5)).cast("long").alias("conf_bin"),
        (lang_id("text") == F.col("lang")).alias("__ok"),
    )
    return scored.groupBy("conf_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__ok"), 1).otherwise(0)).alias("n_correct"),
    ).withColumn(
        "accuracy_micros", F.expr("(n_correct * 1000000) DIV n_docs")
    )


# q185: snapshot-conditional counts from one explode; top-20 by the
# (total desc, token asc) total order; HUGEINT arithmetic cast back.
@query(f"""
    WITH tok AS (
      SELECT doc_id % 2 = 0 AS snap_a, unnest({_TOKS}) AS token FROM documents
    ), counts AS (
      SELECT token,
             CAST(SUM(CASE WHEN snap_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN NOT snap_a THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      FROM tok GROUP BY token
    ), top AS (
      SELECT token, c_a, c_b, c_a + c_b AS c_total FROM counts
      ORDER BY c_total DESC, token ASC LIMIT 20
    )
    SELECT token, c_a, c_b, c_total,
           CAST(((c_a - c_b) * (c_a - c_b) * 1000000) // c_total AS BIGINT) AS drift_micros
    FROM top
""")
def _q185_token_drift(spark, sf):
    """Token-distribution drift between two corpus snapshots (the even/
    odd doc halves standing in for week-over-week crawls): for the
    top-20 tokens of the union corpus (total order), a chi-square-style
    integer statistic per token — (c1-c2)²·1e6 / (c1+c2) — plus both
    counts. The table a corpus owner reads to spot a crawl-mix shift
    before it moves the trained model. One tokenizing explode feeds the
    snapshot-conditional counts; the top-20 runs as TakeOrdered."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2 == 0).alias("snap_a"),
        F.explode(tokens("text")).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("snap_a"), 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(~F.col("snap_a"), 1).otherwise(0)).alias("c_b"),
    )
    return (
        counts.withColumn("c_total", F.col("c_a") + F.col("c_b"))
        .orderBy(F.col("c_total").desc(), F.col("token").asc())
        .limit(20)
        .withColumn(
            "drift_micros",
            F.expr("((c_a - c_b) * (c_a - c_b) * 1000000) DIV c_total"),
        )
        .select("token", "c_a", "c_b", "c_total", "drift_micros")
    )


# q187: vocab-bounded per-doc pair fan-out; top-20 under a total order.
@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS token FROM documents
    ), vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY token
        ORDER BY c DESC, token ASC LIMIT 30
      )
    ), vt AS (
      SELECT doc_id, token FROM tok JOIN vocab USING (token)
    )
    SELECT a.token AS t_a, b.token AS t_b, COUNT(*) AS n_docs
    FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
    GROUP BY 1, 2
    ORDER BY n_docs DESC, t_a ASC, t_b ASC LIMIT 20
""")
def _q187_cooccurrence_pairs(spark, sf):
    """Top document-level token co-occurrence pairs, BOUNDED by vocab:
    only tokens from the top-30 corpus vocabulary pair up (per-doc pair
    fan-out ≤ C(30,2) regardless of document length — the quadratic
    all-token version is the scale trap), distinct per doc, counted
    corpus-wide, top-20 by (count desc, pair asc). The co-occurrence
    graph behind topic drift and collocation analyses."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(30)
        .select("token")
    )
    vt = tok.join(F.broadcast(vocab), "token")
    a = vt.select("doc_id", F.col("token").alias("t_a"))
    b = vt.select("doc_id", F.col("token").alias("t_b"))
    pairs = a.join(b, "doc_id").filter(F.col("t_a") < F.col("t_b"))
    return (
        pairs.groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("t_a").asc(), F.col("t_b").asc())
        .limit(20)
    )


@query("""
    SELECT doc_id,
           length(text) AS n_chars_raw,
           strlen(text) AS n_bytes,
           strlen(text) - length(text) AS n_multibyte_extra,
           strlen(text) = length(text) AS is_ascii,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
           length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
    FROM documents
""")
def _q192_byte_encoding_audit(spark, sf):
    """Byte-level encoding audit per document — the ingest health check
    before any tokenizer sees the text: char vs byte length (multibyte
    overhead), pure-ASCII flag, digit/uppercase populations. All exact
    integers from JVM string expressions; single scan, no shuffle."""
    docs = _t(spark, sf, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_raw"),
        F.octet_length(t).alias("n_bytes"),
        (F.octet_length(t) - F.length(t)).alias("n_multibyte_extra"),
        (F.octet_length(t) == F.length(t)).alias("is_ascii"),
        (F.length(t) - F.length(F.regexp_replace(t, "[0-9]", ""))).alias("n_digits"),
        (F.length(t) - F.length(F.regexp_replace(t, "[A-Z]", ""))).alias("n_upper"),
    )


@query(f"""
    WITH tok AS (SELECT {_TOKS} AS t FROM documents),
    big AS (
      SELECT unnest(t[1:len(t)-1]) AS lead, unnest(t[2:len(t)]) AS next
      FROM tok WHERE len(t) >= 2
    ), cnt AS (
      SELECT lead, next, COUNT(*) AS n_pair FROM big GROUP BY 1, 2
    ), leads AS (
      SELECT lead, CAST(SUM(n_pair) AS BIGINT) AS n_lead
      FROM cnt GROUP BY 1 ORDER BY n_lead DESC, lead LIMIT 20
    )
    SELECT c.lead, c.next, c.n_pair, l.n_lead,
           CAST(row_number() OVER (PARTITION BY c.lead
                                   ORDER BY c.n_pair DESC, c.next) AS INT) AS rk
    FROM cnt c JOIN leads l USING (lead) QUALIFY rk <= 3
""")
def _q194_bigram_transitions(spark, sf):
    """Token-level Markov transition table: for the top-20 lead tokens,
    the top-3 following tokens with exact numerator/denominator counts
    (the n-gram LM building block). Consecutive pairs come from one
    zip of the token array with its own tail (no positional self-join);
    the rank window runs only over the 20 surviving leads' rows."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    toks = docs.select(tokens("text").alias("t")).filter(F.size("t") >= 2)
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("lead"), b.alias("next")),
            )
        ).alias("bg")
    ).select(F.col("bg.lead").alias("lead"), F.col("bg.next").alias("next"))
    cnt = pairs.groupBy("lead", "next").agg(F.count(F.lit(1)).alias("n_pair"))
    leads = (
        cnt.groupBy("lead")
        .agg(F.sum("n_pair").alias("n_lead"))
        .orderBy(F.col("n_lead").desc(), F.col("lead").asc())
        .limit(20)
    )
    w = Window.partitionBy("lead").orderBy(F.col("n_pair").desc(), F.col("next").asc())
    return (
        cnt.join(F.broadcast(leads), "lead")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lead", "next", "n_pair", "n_lead", "rk")
    )


_SHINGLES5 = (
    "CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')] "
    "ELSE list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')) END"
)


@query(f"""
    WITH tok AS (SELECT doc_id AS id, source, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT id, source,
             list_sort(list_transform(
               list_distinct({_SHINGLES5}),
               s -> CAST({_hex_int_sql("md5(s)", 12)} AS BIGINT))) AS grams
      FROM tok
    ), gg AS (SELECT id, source, grams, len(grams) AS ng FROM g),
    ex AS (SELECT id, source, ng, unnest(grams) AS gram FROM gg),
    dfreq AS (SELECT gram, COUNT(*) AS gdf FROM ex GROUP BY gram),
    ranked AS (
      SELECT e.id, e.source, e.gram,
             row_number() OVER (PARTITION BY e.id
                                ORDER BY d.gdf ASC, e.gram ASC) AS rnk, e.ng
      FROM ex e JOIN dfreq d USING (gram)
    ),
    prefix AS (SELECT id, source, gram FROM ranked WHERE rnk <= ng // 5 + 1),
    cands AS (
      SELECT DISTINCT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
      FROM prefix a JOIN ex b
        ON a.gram = b.gram AND a.source = b.source AND a.id != b.id
    ), verify AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(ga.grams, x -> list_contains(gb.grams, x))) AS n_inter,
             least(ga.ng, gb.ng) AS mn
      FROM cands c
      JOIN gg ga ON ga.id = c.id_a
      JOIN gg gb ON gb.id = c.id_b
    )
    SELECT id_a, id_b, n_inter, round(CAST(n_inter AS DOUBLE) / mn, 6) AS containment
    FROM verify WHERE 5 * n_inter >= 4 * mn
""")
def _q196_containment_neardup(spark, sf):
    """EXACT asymmetric containment detection via a one-sided
    prefix-filtered overlap join (AllPairs/PPJoin family): every
    same-source pair with |A∩B| / min(|A|,|B|) ≥ 0.8 over word-5-shingle
    sets — the quote-inside-a-page case Jaccard size-banding cannot
    address. Each document indexes only its floor(ng/5)+1 RAREST
    shingles under a global (document-frequency, shingle) total order;
    by pigeonhole the SMALLER doc of any qualifying pair must expose a
    shared shingle in that prefix, and the probe side is the full
    posting list — so candidates come from a prefix⋈postings equi-join
    whose fan-out is bounded by the DF of rare shingles, with ZERO
    recall loss (brute-force equivalence pinned by a test). Word
    shingles, not char grams: the 5-token shingle space is large enough
    that "rare" is meaningful (most shingles are unique), where this
    corpus has only ~1k distinct char-4-grams. Threshold is the integer
    cross-multiply 5·i ≥ 4·min(ng)."""
    from polars_pipe_spark.functions.text import shingles

    df = _t_par(spark, sf, "documents")
    # 48-bit shingle hashes: intersections compare longs pre-shuffle
    # (the q132 span-dedup lesson), collision odds ~1e-3 corpus-wide
    hashed = F.transform(
        F.array_distinct(shingles("text", 5)),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
    )
    # persisted: read 5× downstream (DF table, prefix, postings, both
    # verify sides); 48-bit hashes keep the cached footprint tiny
    # (#shingles × 8 B) — contrast q27, where caching giant char-gram
    # arrays lost to recompute
    g = df.select(
        F.col("doc_id").alias("id"), F.col("source"), F.array_sort(hashed).alias("grams")
    ).withColumn("ng", F.size("grams")).persist()
    dfreq = (
        g.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gdf"))
    )
    exploded = g.select("id", "source", "ng", F.explode("grams").alias("gram")).join(
        dfreq, "gram"
    )
    # rank window partitioned per document — bounded by the doc's own
    # gram count, never corpus-sized.  prefix_len = ng - ceil(0.8·ng) + 1
    # = floor(ng/5) + 1 (pigeonhole bound for the 0.8 threshold).
    wr = Window.partitionBy("id").orderBy(F.col("gdf").asc(), F.col("gram").asc())
    prefix = (
        exploded.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= F.floor(F.col("ng") / 5) + 1)
        .select("id", "source", "gram")
    )
    postings = g.select("id", "source", F.explode("grams").alias("gram"))
    cands = (
        prefix.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )
    ga = g.select(F.col("id").alias("id_a"), F.col("grams").alias("g_a"), F.col("ng").alias("ng_a"))
    gb = g.select(F.col("id").alias("id_b"), F.col("grams").alias("g_b"), F.col("ng").alias("ng_b"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("g_a", "g_b")))
        .filter(5 * F.col("n_inter") >= 4 * F.least("ng_a", "ng_b"))
        .withColumn(
            "containment",
            F.round(F.col("n_inter").cast("double") / F.least("ng_a", "ng_b"), 6),
        )
        .select("id_a", "id_b", "n_inter", "containment")
    )


@query(f"""
    WITH post AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS token FROM documents
    ), agg AS (
      SELECT token, COUNT(*) AS df,
             list_sort(list(doc_id))[1:10] AS posting_sample
      FROM post GROUP BY token
    )
    SELECT token, df, posting_sample
    FROM agg ORDER BY df DESC, token LIMIT 50
""")
def _q199_inverted_index(spark, sf):
    """Inverted-index build for the top-50 document-frequency tokens:
    df count + a posting sample of the 10 smallest doc_ids. The posting
    cap uses SALTED two-level top-k (per-(token, doc_id%32) partial
    sort-and-slice, then merge the ≤32×10 survivors) so a stopword's
    postings never funnel through one reducer — the skew-safe exact
    top-k-per-key pattern; raise the salt fan-out with corpus size."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    post = docs.select(
        F.explode(F.array_distinct(tokens("text"))).alias("token"), "doc_id"
    )
    partial = (
        post.groupBy("token", (F.col("doc_id") % 32).alias("salt"))
        .agg(
            F.count(F.lit(1)).alias("df_part"),
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10).alias("sample_part"),
        )
    )
    merged = partial.groupBy("token").agg(
        F.sum("df_part").alias("df"),
        F.slice(F.array_sort(F.flatten(F.collect_list("sample_part"))), 1, 10).alias(
            "posting_sample"
        ),
    )
    return merged.orderBy(F.col("df").desc(), F.col("token").asc()).limit(50)


@query(f"""
    WITH tok AS (
      SELECT lang, {_TOKS} AS toks FROM documents
    ), feat AS (
      SELECT lang, {_lang_score("de")} AS s_de, {_lang_score("en")} AS s_en,
             {_lang_score("es")} AS s_es, {_lang_score("fr")} AS s_fr
      FROM tok
    )
    SELECT lang AS lang_true, ({_LANG_PRED}) AS lang_pred, COUNT(*) AS n
    FROM feat GROUP BY 1, 2 ORDER BY 1, 2
""")
def _q202_langid_confusion(spark, sf):
    """Language-ID confusion matrix against the corpus ground-truth
    labels — the eval artifact behind every lang-filter decision:
    (true, predicted, count) cells. Single scan + one grouped aggregate;
    the marker-argmax classifier is the same pure-expression lang_id the
    quality pipeline uses (tie order pinned de→en→es→fr)."""
    from polars_pipe_spark.functions.text import lang_id

    docs = _t_par(spark, sf, "documents")
    return (
        docs.groupBy(
            F.col("lang").alias("lang_true"), lang_id("text").alias("lang_pred")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_true", "lang_pred")
    )


# q203: the streaming complete-mode final state must equal the batch
# heavy-hitters answer exactly
@query(_q193_heavy_hitters.oracle)
def _q203_streaming_heavy_hitters(spark, sf):
    """The q193 heavy-hitters question answered by a REAL Structured
    Streaming query: token counts aggregated in complete mode across
    micro-batches (availableNow), then the frequency floor applied to
    the final state — the continuous-ingest version of corpus heavy
    hitters, checked against the same batch SQL oracle."""
    import tempfile

    from polars_pipe_spark.functions.text import tokens

    path = f"{sf}/documents.parquet"
    batch = _t_par(spark, sf, "documents")
    if not os.path.isdir(path):
        staged = tempfile.mkdtemp(prefix="pps_hh_src_") + "/documents"
        batch.write.mode("overwrite").parquet(staged)
        path = staged
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(path)
    tok = stream.select(F.explode(tokens("text")).alias("token"))
    agg = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    name = "pps_hh_out"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    counts = spark.table(name)
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.lit(1_000_000) * F.col("cnt") > F.lit(1000) * F.col("total"))
        .select("token", "cnt", "total")
    )


# q205: ground-truth oracle — the expected canonical URL is written
# analytically from the construction, not by re-implementing the
# normaliser (params a=1 < b=2 < ref=* after utm_* drops; host
# lowercased, www./:443 stripped)
@query("""
    WITH u AS (
      SELECT 'https://' || lower(source) || '.example'
             || CAST(doc_id % 3 AS VARCHAR) || '.com/p/'
             || CAST(doc_id AS VARCHAR) || '?a=1&b=2&ref=' || lang AS norm_url,
             'example' || CAST(doc_id % 3 AS VARCHAR) || '.com' AS domain
      FROM documents
    )
    SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT norm_url) AS BIGINT) AS n_distinct,
           MIN(norm_url) AS first_url
    FROM u GROUP BY domain
""")
def _q205_url_normalize(spark, sf):
    """URL canonicalisation for web-corpus dedup (C4/CCNet pre-step):
    lowercase scheme+host, strip www./default ports/fragments/utm_*
    params, sort surviving params — then group by registrable domain.
    The raw URLs are derived in-query from document columns (the
    testdata has no URL column), and the ORACLE asserts the expected
    canonical string analytically — ground truth, not a second
    implementation of the normaliser. All pure string/array
    expressions; per-domain counts are one grouped aggregate."""
    from polars_pipe_spark.functions.text import normalize_url, registrable_domain

    df = _t_par(spark, sf, "documents")
    raw = F.concat(
        F.lit("HTTPS://WWW."),
        F.upper("source"),
        F.lit(".Example"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit(".COM:443/p/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_campaign=c&ref="),
        F.col("lang"),
        F.lit("&b=2&a=1#frag"),
    )
    urls = df.select(
        "doc_id", normalize_url(raw).alias("norm_url")
    ).withColumn("domain", registrable_domain(F.col("norm_url")))
    return urls.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("norm_url").alias("n_distinct"),
        F.min("norm_url").alias("first_url"),
    )


@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS token FROM documents
    ), vocab AS (
      SELECT token, n_t FROM (
        SELECT token, COUNT(*) AS n_t FROM tok GROUP BY token
        ORDER BY n_t DESC, token ASC LIMIT 30
      )
    ), vt AS (
      SELECT doc_id, tok.token, n_t FROM tok JOIN vocab USING (token)
    ), pc AS (
      SELECT a.token AS t_a, b.token AS t_b, a.n_t AS n_a, b.n_t AS n_b,
             COUNT(*) AS n_ab
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2, 3, 4
    ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    rules AS (
      SELECT t_a AS antecedent, t_b AS consequent,
             n_a AS n_ante, n_b AS n_cons, n_ab FROM pc
      UNION ALL
      SELECT t_b, t_a, n_b, n_a, n_ab FROM pc
    )
    SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
           CAST((n_ab * 1000000) // n_docs AS BIGINT) AS support_ppm,
           CAST((n_ab * 1000000) // n_ante AS BIGINT) AS confidence_ppm,
           CAST((CAST(n_ab AS HUGEINT) * n_docs * 1000000)
                // (CAST(n_ante AS HUGEINT) * n_cons) AS BIGINT) AS lift_micros
    FROM rules, nd WHERE n_ab >= 5
    ORDER BY lift_micros DESC, antecedent ASC, consequent ASC LIMIT 20
""")
def _q216_association_rules(spark, sf):
    """Association rules over the q187 co-occurrence graph: both
    directed rules a→b from every vocab-bounded token pair, with
    integer-exact support/confidence ppm and lift in micro-units
    (DECIMAL(38,0)/HUGEINT through the cross-multiply, so the metric
    has no float seam at any corpus size). The market-basket classic,
    kept scale-safe the q187 way: only top-30-vocab tokens pair up, so
    the rule space is ≤ 30·29 rows and the final top-20 is a bounded
    TakeOrdered."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .orderBy(F.col("n_t").desc(), F.col("token").asc())
        .limit(30)
    )
    # persist: vt feeds both sides of the pair self-join, so without it
    # the full-corpus explode + vocab groupBy re-run once per side (r8
    # plan-sweep multi-scan rule). Bounded frame: only tokens in the
    # 30-term vocab survive the broadcast join.
    vt = tok.join(F.broadcast(vocab), "token").persist()
    a = vt.select("doc_id", F.col("token").alias("t_a"), F.col("n_t").alias("n_a"))
    b = vt.select("doc_id", F.col("token").alias("t_b"), F.col("n_t").alias("n_b"))
    pair_counts = (
        a.join(b, "doc_id")
        .filter(F.col("t_a") < F.col("t_b"))
        .groupBy("t_a", "t_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    fwd = pair_counts.select(
        F.col("t_a").alias("antecedent"), F.col("t_b").alias("consequent"),
        F.col("n_a").alias("n_ante"), F.col("n_b").alias("n_cons"), "n_ab",
    )
    rev = pair_counts.select(
        F.col("t_b").alias("antecedent"), F.col("t_a").alias("consequent"),
        F.col("n_b").alias("n_ante"), F.col("n_a").alias("n_cons"), "n_ab",
    )
    rules = fwd.unionByName(rev).crossJoin(F.broadcast(n_docs)).selectExpr(
        "antecedent", "consequent", "n_ab",
        "CAST((n_ab * 1000000) DIV n_docs AS BIGINT) AS support_ppm",
        "CAST((n_ab * 1000000) DIV n_ante AS BIGINT) AS confidence_ppm",
        "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_docs * 1000000)"
        " DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons) AS BIGINT) AS lift_micros",
    )
    return (
        rules.filter(F.col("n_ab") >= 5)
        .orderBy(
            F.col("lift_micros").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(20)
    )


@query(f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(list_distinct({_TOKS})) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token, n_x FROM (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_x FROM tok GROUP BY token
        ORDER BY n_x DESC, token ASC LIMIT 30
      )
    ),
    joint AS (
      SELECT tok.token, tok.source, vocab.n_x,
             CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM tok JOIN vocab USING (token) GROUP BY 1, 2, 3
    ),
    sc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_y
           FROM documents GROUP BY source),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT token, joint.source, n_xy, n_x, n_y, n,
           ROUND(LN(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS pmi
    FROM joint JOIN sc ON joint.source = sc.source, nd
    WHERE n_xy >= 5
""")
def _q225_token_source_pmi(spark, sf):
    """Pointwise mutual information between top-vocab tokens and
    sources — which tokens are domain MARKERS (PMI ≫ 0) vs universal
    filler (PMI ≈ 0)? All four counts (joint doc count, token docs,
    source docs, N) are exact integers from two grouped aggregates;
    PMI = ln(n_xy·N / (n_x·n_y)) is one fixed double expression over
    them, rounded to 6 (the q206 contract). Pair space bounded by
    top-30 vocab × sources; min joint support 5 keeps the log away
    from noise."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_x"))
        .orderBy(F.col("n_x").desc(), F.col("token").asc())
        .limit(30)
    )
    vt = tok.join(F.broadcast(vocab), "token")
    joint = vt.groupBy("token", "source", "n_x").agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    src_counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_y"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        joint.join(F.broadcast(src_counts), "source")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("n_xy") >= 5)
        .selectExpr(
            "token", "source", "n_xy", "n_x", "n_y", "n",
            "ROUND(LN(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)"
            " / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS pmi",
        )
    )


# q237: full BPE train+encode re-derived in SQL. Words are held as
# double-separator strings (each symbol wrapped chr(31)·sym·chr(31), so
# adjacent symbols carry TWO separators) — string replace() is then
# exactly the leftmost-non-overlapping adjacent-pair merge the Spark
# array fold performs ('aaaa' + merge(a,a) → [aa, aa], shared-boundary
# cases included). 8 mechanical CTE rounds: count weighted adjacent
# pairs, pick (cnt DESC, l, r) argmax, apply. Encode = symbol count of
# the final string per distinct word, joined to (doc, word) occurrences.
def _bpe_oracle_sql(n_merges: int = 8) -> str:
    s = "chr(31)"
    ss = f"{s}||{s}"

    def sym_split(d: str) -> str:
        return f"str_split(trim({d}, {s}), {ss})"

    parts = [
        f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents
    ), wf AS (
      SELECT w, COUNT(*) AS freq FROM toks GROUP BY w
    ), r0 AS (
      SELECT w, freq,
             regexp_replace(w, '(.)', {s} || '\\1' || {s}, 'g') AS d
      FROM wf
    )"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        parts.append(
            f""", p{i} AS (
      SELECT syms[CAST(j AS INT)] AS l, syms[CAST(j+1 AS INT)] AS r,
             SUM(freq) AS cnt
      FROM (SELECT freq, {sym_split("d")} AS syms,
                   unnest(range(1, len({sym_split("d")}))) AS j FROM r{p})
      GROUP BY 1, 2
    ), b{i} AS (SELECT l, r FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
    r{i} AS (
      SELECT w, freq,
             replace(d, {s}||l||{s}||{s}||r||{s}, {s}||l||r||{s}) AS d
      FROM r{p}, b{i}
    )"""
        )
    parts.append(
        f""", enc AS (
      SELECT w, len({sym_split("d")}) AS n_sym FROM r{n_merges}
    ), per AS (
      SELECT doc_id, w, COUNT(*) AS occ FROM toks GROUP BY 1, 2
    )
    SELECT per.doc_id,
           CAST(SUM(occ) AS BIGINT) AS n_words,
           CAST(SUM(length(per.w) * occ) AS BIGINT) AS n_chars,
           CAST(SUM(enc.n_sym * occ) AS BIGINT) AS n_bpe_symbols
    FROM per JOIN enc ON per.w = enc.w
    GROUP BY per.doc_id"""
    )
    return "".join(parts)


@query(_bpe_oracle_sql(8))
def _q237_bpe_encode(spark, sf):
    """BPE tokenizer APPLY (the encode half q169's training leaves open):
    train 8 merges on the corpus, encode every document with them, and
    report per-doc tokenization stats (words, pre-merge chars, post-merge
    symbol count). Encoding runs once per DISTINCT word and joins back to
    a (doc, word)-pre-aggregated stream — never a per-occurrence fold
    over the corpus (functions/text.py::bpe_encode_stats). The oracle
    re-derives the full 8-round training AND the encode in SQL over a
    double-separator string representation, so every merge decision and
    every per-doc count is value-checked, not just a property."""
    from polars_pipe_spark.functions.text import bpe_encode_stats

    docs = _t_par(spark, sf, "documents")
    return bpe_encode_stats(docs, "text", "doc_id", n_merges=8)


# q250: the CDC boundary rule replayed in SQL list ops — same rolling
# 3-gram md5-int, same (0 ++ bounds ++ n) chunk spans.
@query(f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks,
             list_filter(range(1, len(toks) + 1), i ->
               i >= 3 AND i < len(toks)
               AND {_cms_hash_sql("array_to_string(list_slice(toks, CAST(i - 2 AS INT), CAST(i AS INT)), ' ')")} % 16 = 0
             ) AS bounds
      FROM t WHERE len(toks) > 0
    ), bp AS (
      SELECT doc_id, toks,
             list_concat(list_concat([CAST(0 AS BIGINT)], bounds),
                         [CAST(len(toks) AS BIGINT)]) AS bpos
      FROM b
    ), ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(bpos)), j ->
               array_to_string(list_slice(toks,
                 CAST(bpos[CAST(j AS INT)] + 1 AS INT),
                 CAST(bpos[CAST(j + 1 AS INT)] AS INT)), ' '))) AS chunk
      FROM bp
    ), per AS (
      SELECT chunk, COUNT(*) AS n_occ,
             COUNT(DISTINCT doc_id) AS n_docs_with
      FROM ch GROUP BY chunk
    )
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM documents)
             AS n_docs,
           CAST(SUM(n_occ) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(((SUM(n_occ) - COUNT(*)) * 1000000) // SUM(n_occ) AS BIGINT)
             AS reuse_ppm
    FROM per
""")
def _q250_cdc_chunking(spark, sf):
    """Content-defined chunking dedup audit (functions/text.py::
    cdc_chunks — restic/LBFS-style): chunk boundaries fall where the
    rolling 3-gram hash ≡ 0 (mod 16), so boundaries are LOCAL-content
    functions and an early edit never re-splits the rest of the document
    (the property fixed-size chunking lacks; it is why CDC is the
    storage-dedup standard). The audit explodes every chunk, counts
    cross-document sharing, and reports the corpus reuse ratio — the
    storage a chunk-level dedup store would reclaim. One explode + one
    chunk-keyed partial-agg groupBy."""
    from polars_pipe_spark.functions.text import cdc_chunks_kernel

    docs = _t_par(spark, sf, "documents")
    # r9: the Arrow kernel twin of cdc_chunks — the expression form pays
    # an interpreted md5 per TOKEN inside F.filter (119 s at sf1);
    # boundaries/chunks identical, parity test-pinned.
    ch = docs.select(
        "doc_id",
        F.explode(cdc_chunks_kernel("text", window=3, mask=16)).alias("chunk"),
    )
    per_chunk = ch.groupBy("chunk").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.countDistinct("doc_id").alias("n_docs_with"),
    )
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        per_chunk.agg(
            F.sum("n_occ").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_distinct_chunks"),
            F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)).alias(
                "n_shared_chunks"
            ),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_distinct_chunks").cast("long").alias("n_distinct_chunks"),
            F.col("n_shared_chunks").cast("long").alias("n_shared_chunks"),
            F.expr(
                "CAST((n_chunks - n_distinct_chunks) * 1000000 AS BIGINT)"
                " DIV n_chunks"
            ).alias("reuse_ppm"),
        )
    )


# q254: phrase semantics replayed on the token lists directly (the
# oracle checks MEANING — adjacency counts — not the index layout).
@query(f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i ->
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])) AS bg
      FROM t WHERE len(toks) >= 2
    ), top3 AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_occ_bigram
      FROM bg GROUP BY bg
      ORDER BY n_occ_bigram DESC, bg ASC LIMIT 3
    ), hits AS (
      SELECT top3.bg, top3.n_occ_bigram, t.doc_id,
             len(list_filter(range(1, len(t.toks)), i ->
               t.toks[CAST(i AS INT)] = string_split(top3.bg, ' ')[1]
               AND t.toks[CAST(i + 1 AS INT)] = string_split(top3.bg, ' ')[2]))
               AS n_in_doc
      FROM top3, t
    )
    SELECT bg, n_occ_bigram,
           CAST(SUM(n_in_doc) AS BIGINT) AS n_occ_positional,
           CAST(SUM(CASE WHEN n_in_doc > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs,
           n_occ_bigram = CAST(SUM(n_in_doc) AS BIGINT) AS agree
    FROM hits GROUP BY bg, n_occ_bigram
""")
def _q254_phrase_search(spark, sf):
    """Positional inverted index + exact phrase query (the capability a
    positions-free index like q199 cannot express): postings are
    (token, doc_id, pos); a 2-word phrase matches where the two tokens'
    postings align at pos+1 WITHIN the same doc. The probe phrases are
    the corpus' own top-3 bigrams (TakeOrdered, deterministic ties), and
    the output CROSS-VALIDATES two independent derivations — adjacency-
    explode bigram counts vs positional-join occurrence counts — which
    must agree exactly; `agree` is computed, not asserted. Joins are
    token-then-(doc,pos) keyed; the probe side is 3 rows, broadcast.

    r14 (§2.3): the 3-row top3 frame is collected (bounded driver
    action, the q62/q236 pattern) and re-enters as literals, so BOTH
    posting probes become scan-side `isin` filters on the persisted
    posting list — the positional join used to shuffle the ENTIRE
    posting list on (doc, pos+1, token) keys when only rows whose token
    is one of 3 literal words can survive its t2 == w2 conjunct. The
    surviving join input is the filtered slice; result rows identical
    (the filter is implied by the join condition)."""
    from polars_pipe_spark.functions.text import shingles, tokens

    docs = _t_par(spark, sf, "documents")
    post = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "token")
    ).persist()
    bigrams = docs.select(F.explode(shingles("text", 2)).alias("bg"))
    top3_rows = (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n_occ_bigram"))
        .orderBy(F.col("n_occ_bigram").desc(), F.col("bg").asc())
        .limit(3)
        .select(
            "bg",
            "n_occ_bigram",
            F.split("bg", " ")[0].alias("w1"),
            F.split("bg", " ")[1].alias("w2"),
        )
        .collect()
    )
    if not top3_rows:
        schema = (
            "bg string, n_occ_bigram long, n_occ_positional long, "
            "n_docs long, agree boolean"
        )
        return spark.createDataFrame([], schema)
    top3 = spark.createDataFrame(
        top3_rows, "bg string, n_occ_bigram long, w1 string, w2 string"
    )
    w1s = [r["w1"] for r in top3_rows]
    w2s = [r["w2"] for r in top3_rows]
    p1 = (
        post.filter(F.col("token").isin(*w1s))
        .join(F.broadcast(top3), post.token == top3.w1)
        .select("bg", "n_occ_bigram", "doc_id", "pos", "w2")
    )
    hits = p1.join(
        post.filter(F.col("token").isin(*w2s)).select(
            F.col("doc_id").alias("d2"),
            F.col("pos").alias("p2"),
            F.col("token").alias("t2"),
        ),
        (F.col("doc_id") == F.col("d2"))
        & (F.col("p2") == F.col("pos") + 1)
        & (F.col("t2") == F.col("w2")),
    )
    return (
        hits.groupBy("bg", "n_occ_bigram")
        .agg(
            F.count(F.lit(1)).alias("n_occ_positional"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .select(
            "bg",
            F.col("n_occ_bigram").cast("long").alias("n_occ_bigram"),
            F.col("n_occ_positional").cast("long").alias("n_occ_positional"),
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_occ_bigram") == F.col("n_occ_positional")).alias("agree"),
        )
    )


# q264: same micro-quantized tf-idf weights (inner round-6 first, like
# the Spark chain), df cap, integer dots, one double norm division.
@query(f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), dfreq AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    w AS (
      SELECT tf.token, tf.doc_id,
             CAST(ROUND(ROUND(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df), 6)
                        * 1000000) AS BIGINT) AS w_micro
      FROM tf JOIN dfreq USING (token), nd
      WHERE dfreq.df <= 50
    ), norms AS (
      SELECT doc_id, SUM(w_micro * w_micro) AS norm2 FROM w GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(a.w_micro * b.w_micro) AS dot
      FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), scored AS (
      SELECT p.doc_a, p.doc_b,
             ROUND(CAST(p.dot AS DOUBLE)
                   / sqrt(CAST(na.norm2 AS DOUBLE)
                          * CAST(nb.norm2 AS DOUBLE)), 6) AS cosine
      FROM pairs p
      JOIN norms na ON na.doc_id = p.doc_a
      JOIN norms nb ON nb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, cosine, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_a
                                   ORDER BY cosine DESC, doc_b ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
""")
def _q264_sparse_cosine_topk(spark, sf):
    """SPARSE document-to-document cosine top-k through the inverted
    index — the lexical/sparse-retrieval counterpart of the dense ANN
    family (q28/q29/q33/q168): pairs meet only through SHARED TOKENS
    (token-keyed join), with the classic df-cap making the fanout
    bounded — tokens appearing in more than 50 documents are dropped
    from pairing (stopwords carry no similarity signal and would
    contribute O(df²) pairs; this is Elasticsearch's
    max_doc_freq idea). TF-IDF weights quantize to integer micros so the
    per-pair dot is an exact BIGINT sum; the one double step is the
    final norm division on identical operands. Top-3 per doc by keyed
    rank window."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).persist()
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(dfreq.filter(F.col("df") <= 50), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "doc_id",
            F.round(
                F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
                * 1_000_000
            )
            .cast("long")
            .alias("w_micro"),
        )
        .persist()
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w_micro") * F.col("w_micro")).alias("norm2")
    )
    pairs = (
        w.alias("a")
        .join(
            w.select(
                F.col("token").alias("token_b"),
                F.col("doc_id").alias("doc_b"),
                F.col("w_micro").alias("w_b"),
            ),
            (F.col("a.token") == F.col("token_b"))
            & (F.col("a.doc_id") < F.col("doc_b")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("doc_b"))
        .agg(F.sum(F.col("a.w_micro") * F.col("w_b")).alias("dot"))
    )
    scored = (
        pairs.join(norms.withColumnsRenamed({"doc_id": "doc_a", "norm2": "na"}), "doc_a")
        .join(norms.withColumnsRenamed({"doc_id": "doc_b", "norm2": "nb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    rk = Window.partitionBy("doc_a").orderBy(
        F.col("cosine").desc(), F.col("doc_b").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select("doc_a", "doc_b", "cosine", F.col("rk").cast("long").alias("rk"))
    )


# q265: identical blocked sort + lag + first-mismatch LCP in SQL.
@query(f"""
    WITH vocab AS (
      SELECT DISTINCT t AS term, substr(t, 1, 1) AS blk
      FROM (SELECT unnest({_TOKS}) AS t FROM documents)
    ), lagged AS (
      SELECT blk, term,
             lag(term) OVER (PARTITION BY blk ORDER BY term) AS prev
      FROM vocab
    ), coded AS (
      SELECT blk, term,
             CASE WHEN prev IS NULL THEN 0
                  ELSE COALESCE(
                    list_min(list_filter(
                      range(1, LEAST(length(term), length(prev)) + 1),
                      i -> substr(term, CAST(i AS INT), 1)
                           <> substr(prev, CAST(i AS INT), 1))) - 1,
                    LEAST(length(term), length(prev)))
             END AS lcp
      FROM lagged
    )
    SELECT blk, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(length(term)) AS BIGINT) AS raw_chars,
           CAST(SUM(lcp) AS BIGINT) AS saved_chars,
           CAST((SUM(lcp) * 1000000) // SUM(length(term)) AS BIGINT)
             AS saving_ppm
    FROM coded GROUP BY blk
""")
def _q265_front_coding(spark, sf):
    """Dictionary front coding (the term-dictionary compression inside
    Lucene/parquet dictionary pages): sort the vocabulary, store each
    term as (shared-prefix length with predecessor, suffix). Reported
    per first-character block: terms, raw chars, chars saved by prefix
    sharing, and the ppm saving. The sort is PARTITIONED by first
    character (≤ a few dozen blocks — never a global sort; the one
    cross-block comparison forfeited per block is the documented
    trade), and the shared-prefix length is a pure expression over
    lag(term) — no UDF."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .distinct()
        .withColumn("blk", F.substring("term", 1, 1))
    )
    w = Window.partitionBy("blk").orderBy("term")
    lagged = vocab.withColumn("prev", F.lag("term").over(w))
    # common prefix length via the first differing position: compare
    # char-by-char over the shorter length with a filtered sequence
    lcp = F.when(F.col("prev").isNull(), F.lit(0)).otherwise(
        F.coalesce(
            F.array_min(
                F.filter(
                    F.sequence(
                        F.lit(1),
                        F.least(F.length("term"), F.length("prev")),
                    ),
                    lambda i: F.col("term").substr(i, F.lit(1))
                    != F.col("prev").substr(i, F.lit(1)),
                )
            )
            - 1,
            F.least(F.length("term"), F.length("prev")),
        )
    )
    coded = lagged.withColumn("lcp", lcp)
    return (
        coded.groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(F.length("term")).alias("raw_chars"),
            F.sum("lcp").alias("saved_chars"),
        )
        .select(
            "blk",
            F.col("n_terms").cast("long").alias("n_terms"),
            F.col("raw_chars").cast("long").alias("raw_chars"),
            F.col("saved_chars").cast("long").alias("saved_chars"),
            F.expr(
                "CAST((CAST(saved_chars AS DECIMAL(38,0)) * 1000000)"
                " DIV raw_chars AS BIGINT)"
            ).alias("saving_ppm"),
        )
    )


# q266: the count-of-counts double aggregate and exact integer ratios.
@query(f"""
    WITH counts AS (
      SELECT t AS term, COUNT(*) AS r
      FROM (SELECT unnest({_TOKS}) AS t FROM documents) GROUP BY t
    ), fof AS (
      SELECT r, COUNT(*) AS n_r FROM counts GROUP BY r
    )
    SELECT CAST(SUM(n_r) AS BIGINT) AS vocab,
           CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
           CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT)
             AS n_hapax,
           CAST(COALESCE(SUM(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT)
             AS n_dis,
           CAST((COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) * 1000000)
                // SUM(r * n_r) AS BIGINT) AS unseen_mass_ppm,
           CAST(CASE WHEN COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) > 0
                THEN (2 * COALESCE(SUM(CASE WHEN r = 2 THEN n_r END), 0)
                      * 1000) // SUM(CASE WHEN r = 1 THEN n_r END)
                ELSE 0 END AS BIGINT) AS r_star_1_milli
    FROM fof
""")
def _q266_good_turing(spark, sf):
    """Good–Turing unseen-mass estimate from the frequency-of-
    frequencies table (the count-of-counts double aggregate every
    language model smoother starts from): P(unseen) ≈ N₁/N where N₁ is
    the hapax count. Output: vocabulary size, token mass, hapax/dis
    legomena, and the unseen-mass estimate in exact ppm — plus the
    Good–Turing r* for r=1 (2·N₂/N₁, milli-scaled integer), the
    smoothed count a hapax should really get."""
    from polars_pipe_spark.functions.text import tokens

    docs = _t_par(spark, sf, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    fof = counts.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    return fof.agg(
        F.sum("n_r").alias("vocab"),
        F.sum(F.col("r") * F.col("n_r")).alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r"))).alias("n1"),
        F.sum(F.when(F.col("r") == 2, F.col("n_r"))).alias("n2"),
    ).select(
        F.col("vocab").cast("long").alias("vocab"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n1", F.lit(0)).cast("long").alias("n_hapax"),
        F.coalesce("n2", F.lit(0)).cast("long").alias("n_dis"),
        F.expr(
            "CAST(COALESCE(n1, 0) * 1000000 AS BIGINT) DIV n_tokens"
        ).alias("unseen_mass_ppm"),
        F.expr(
            "CASE WHEN COALESCE(n1, 0) > 0 THEN "
            "CAST(2 * COALESCE(n2, 0) * 1000 AS BIGINT) DIV n1 "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("r_star_1_milli"),
    )


# q268: same plant rule, same RE2-safe patterns, same distinct-char
# entropy proxy; the recall boolean is computed, not asserted.
@query("""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 23 = 5
                  THEN text || ' api_key=' || md5(CAST(doc_id AS VARCHAR))
                  ELSE text END AS text2
      FROM documents
    ), cands AS (
      SELECT doc_id, unnest(regexp_extract_all(text2,
               '[A-Fa-f0-9]{32,}|[A-Za-z0-9+/]{28,}={0,2}')) AS cand
      FROM planted
    ), confirmed AS (
      SELECT doc_id, cand
      FROM cands
      WHERE len(list_distinct(string_split(cand, ''))) >= 10
    ), s AS (
      SELECT COUNT(*) AS n_secrets,
             COUNT(DISTINCT doc_id) AS n_docs_with_secrets
      FROM confirmed
    ), x AS (
      SELECT SUM(CASE WHEN doc_id % 23 = 5 THEN 1 ELSE 0 END) AS n_planted
      FROM documents
    )
    SELECT CAST(n_secrets AS BIGINT) AS n_secrets,
           CAST(n_docs_with_secrets AS BIGINT) AS n_docs_with_secrets,
           CAST(n_planted AS BIGINT) AS n_planted,
           n_docs_with_secrets = n_planted AS all_plants_found
    FROM s, x
""")
def _q268_secret_scan(spark, sf):
    """Pre-training secret/credential screening — the redaction pass a
    corpus runs before anything ships: flag tokens shaped like API keys
    or credentials (long base64-ish or hex runs) and confirm with a
    cheap INTEGER entropy proxy (distinct-character count ≥ 10 —
    dictionary words fail it, random keys pass). Candidates are planted
    deterministically in-query (every doc_id % 23 == 5 doc gets a
    synthetic hex credential derived from its md5) so detection has
    ground truth: the output's recall columns prove every plant is
    found and nothing legitimate fires. Pure regexp + array exprs; the
    patterns are RE2-safe so both engines match identically."""
    docs = _t_par(spark, sf, "documents")
    planted = docs.withColumn(
        "text2",
        F.when(
            F.col("doc_id") % 23 == 5,
            F.concat(
                F.col("text"),
                F.lit(" api_key="),
                F.md5(F.col("doc_id").cast("string")),
            ),
        ).otherwise(F.col("text")),
    )
    cands = planted.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.col("text2"), F.lit(r"[A-Fa-f0-9]{32,}|[A-Za-z0-9+/]{28,}={0,2}"), 0
            )
        ).alias("cand"),
    )
    confirmed = cands.withColumn(
        "distinct_chars", F.size(F.array_distinct(F.split(F.col("cand"), "")))
    ).filter(F.col("distinct_chars") >= 10)
    summary = confirmed.agg(
        F.count(F.lit(1)).alias("n_secrets"),
        F.countDistinct("doc_id").alias("n_docs_with_secrets"),
    )
    expected = docs.agg(
        F.sum(F.when(F.col("doc_id") % 23 == 5, 1).otherwise(0)).alias("n_planted")
    )
    return (
        summary.crossJoin(F.broadcast(expected))
        .select(
            F.col("n_secrets").cast("long").alias("n_secrets"),
            F.col("n_docs_with_secrets").cast("long").alias("n_docs_with_secrets"),
            F.col("n_planted").cast("long").alias("n_planted"),
            (F.col("n_docs_with_secrets") == F.col("n_planted")).alias(
                "all_plants_found"
            ),
        )
    )
