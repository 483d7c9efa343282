"""Text-analysis unit tests: exact expected values on tiny fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_pipe_spark.functions import text as tx


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "The cat and the dog."),
        (2, "  Der Hund und die Katze ist da.  "),
        (3, ""),
        (4, "word"),
        (5, "a b c d e f g h i j"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def vals(df, expr, name="v"):
    return {r.doc_id: r[name] for r in df.select("doc_id", expr.alias(name)).collect()}


class TestTokens:
    def test_token_count(self, docs):
        got = vals(docs, tx.token_count("text"))
        assert got == {1: 5, 2: 7, 3: 0, 4: 1, 5: 10}

    def test_bpe_token_count(self, docs):
        got = vals(docs, tx.bpe_token_count("text"))
        # doc1: The,cat,and,the,dog,. → 6
        assert got[1] == 6
        assert got[3] == 0

    def test_normalize(self, docs):
        got = vals(docs, tx.normalize_text("text"))
        assert got[1] == "the cat and the dog."
        assert got[2] == "der hund und die katze ist da."
        assert got[3] == ""


class TestQuality:
    def test_stopword_ratio(self, docs):
        got = vals(docs, tx.stopword_ratio("text"))
        assert got[1] == pytest.approx(3 / 5)  # the, and, the
        assert got[3] == 0.0

    def test_punct_ratio(self, docs):
        got = vals(docs, tx.punct_ratio("text"))
        assert got[1] == pytest.approx(1 / 20)
        assert got[3] == 0.0

    def test_quality_bounds(self, docs):
        got = vals(docs, tx.quality_score("text"))
        assert all(0.0 <= v <= 1.0 for v in got.values())

    def test_avg_word_len(self, docs):
        got = vals(docs, tx.avg_word_len("text"))
        assert got[5] == 1.0
        assert got[4] == 4.0


class TestLangId:
    def test_lang_id(self, docs):
        got = vals(docs, tx.lang_id("text"))
        assert got[1] == "en"
        assert got[2] == "de"
        assert got[3] == "unknown"

    def test_tie_breaks_by_sorted_lang(self, spark):
        # "de la" hits es(de? no): de∈es? markers es has 'de'; fr has 'de';
        # de-markers have none of these... craft a clean tie: "la" is in
        # both es and fr markers → tie 1-1 → first sorted lang wins (es).
        df = spark.createDataFrame([(1, "la")], "doc_id long, text string")
        assert vals(df, tx.lang_id("text"))[1] == "es"


class TestFingerprint:
    def test_fingerprint_normalised(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "  hello world "), (3, "other")],
            "doc_id long, text string",
        )
        got = vals(df, tx.doc_fingerprint("text"))
        assert got[1] == got[2] != got[3]

    def test_shingles(self, spark):
        df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "doc_id long, text string")
        got = vals(df, tx.shingles("text", 3))
        assert got[1] == ["a b c", "b c d"]
        assert got[2] == ["a b"]

    def test_shingles_tokenize_once(self, spark):
        """The token array is let-bound: the shingle lambda reads a lambda
        variable, so the expression holds tokens()' normalisation as often
        as tokens() alone, not once more per captured use."""
        per_tokens = str(tx.tokens("text")).count("regexp_replace")
        assert per_tokens > 0
        assert str(tx.shingles("text", 3)).count("regexp_replace") == per_tokens

    def test_let_matches_inline(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, ""), (3, None)], "doc_id long, text string"
        )
        inline = vals(df, F.size(tx.tokens("text")) * 10)
        assert vals(df, tx.let(tx.tokens("text"), lambda t: F.size(t) * 10)) == inline
        assert inline[1] == 30 and inline[2] == 0


class TestPII:
    def test_counts_and_scrub(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a.b@x.io or c@d.org, ip 10.0.0.1, call 123-456-7890 ok"),
                (2, "clean text"),
            ],
            "doc_id long, text string",
        )
        from pyspark.sql import functions as F

        out = df.select(
            "doc_id",
            *[e.alias(n) for n, e in tx.pii_counts("text").items()],
            tx.scrub_pii("text").alias("s"),
        ).collect()
        r = {x.doc_id: x for x in out}
        assert (r[1].n_email, r[1].n_ipv4, r[1].n_phone) == (2, 1, 1)
        assert r[1].s == "mail [EMAIL] or [EMAIL], ip [IP], call [PHONE] ok"
        assert (r[2].n_email, r[2].n_ipv4, r[2].n_phone) == (0, 0, 0)
        assert r[2].s == "clean text"


class TestRepetition:
    def test_dup_line_fraction(self, spark):
        df = spark.createDataFrame(
            [(1, "a\nb\na\nc"), (2, "x\ny"), (3, "solo"), (4, "")],
            "doc_id long, text string",
        )
        got = vals(df, tx.dup_line_fraction("text"))
        # excess-duplicate fraction: (n_lines - n_distinct) / n_lines
        assert got[1] == pytest.approx(0.25)  # [a,b,a,c]: (4-3)/4
        assert got[2] == 0.0
        assert got[3] == 0.0
        assert got[4] == 0.0

    def test_top_ngram_fraction(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a"), (2, "x"), (3, "p q r")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.top_ngram_frac
               for r in tx.top_ngram_fraction(df, "text", "doc_id", n=2).collect()}
        # doc1 grams: [a b, b a, a b, b a] -> top 2/4
        assert out[1] == pytest.approx(0.5)
        assert 2 not in out  # <2 tokens: no grams, absent
        assert out[3] == pytest.approx(1 / 2)  # [p q, q r] -> 1/2


class TestPacking:
    def test_pack_sequences_bins(self, spark):
        from polars_pipe_spark.functions.sampling import pack_sequences

        df = spark.createDataFrame(
            [("s", 1, 300), ("s", 2, 300), ("s", 3, 300), ("t", 4, 700)],
            "source string, doc_id long, n_tok int",
        )
        out = {r.doc_id: r.bin_id
               for r in pack_sequences(df, "n_tok", "doc_id", 512, "source").collect()}
        # s: offsets 0, 300, 600 -> bins 0, 0, 1 ; t: offset 0 -> bin 0
        assert out == {1: 0, 2: 0, 3: 1, 4: 0}

    def test_packed_texts_concat_in_id_order(self, spark):
        from polars_pipe_spark.functions.sampling import pack_sequences, packed_texts

        df = spark.createDataFrame(
            [("s", 2, "bbb", 300), ("s", 1, "aaa", 300), ("s", 3, "ccc", 300),
             ("t", 4, "ddd", 700)],
            "source string, doc_id long, text string, n_tok int",
        )
        out = {(r.source, r.bin_id): (r.n_docs, r.sum_tokens, r.seq_text)
               for r in packed_texts(df, "text", "n_tok", "doc_id", 512, "source").collect()}
        # same bin cuts as pack_sequences; text concatenated in doc_id order
        assert out == {
            ("s", 0): (2, 600, "aaa bbb"),
            ("s", 1): (1, 300, "ccc"),
            ("t", 0): (1, 700, "ddd"),
        }
        bins = {r.doc_id: r.bin_id
                for r in pack_sequences(df, "n_tok", "doc_id", 512, "source").collect()}
        assert bins == {1: 0, 2: 0, 3: 1, 4: 0}


class TestSourceMixing:
    def test_mix_sources_weights(self, spark):
        from polars_pipe_spark.functions.sampling import md5_bucket, mix_sources
        from pyspark.sql import functions as F

        df = spark.range(1000).select(
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("source"),
            F.col("id").alias("key"),
        )
        out = mix_sources(df, "source", "key", {"a": 0.2}, default_weight=0.8)
        counts = {r.source: r.c for r in out.groupBy("source").agg(F.count("*").alias("c")).collect()}
        # deterministic by content hash: exact counts are fixed forever
        assert 50 < counts["a"] < 150      # ~20% of 500
        assert 350 < counts["b"] < 450     # ~80% of 500
        # rows kept are exactly those under the bucket cut (determinism)
        kept_a = {r.key for r in out.filter("source = 'a'").collect()}
        exp_a = {r.key for r in df.filter("source = 'a'")
                 .filter(md5_bucket("key", 1000) < 200).collect()}
        assert kept_a == exp_a


class TestQualityClassifier:
    def test_verdicts_and_reasons(self, spark):
        from pyspark.sql import functions as F

        from polars_pipe_spark.functions.text import quality_classifier

        good = ("the quick brown fox jumps over the lazy dog and then it "
                "runs to the forest where it is happy and the day is long "
                "and the sun is warm in the sky over the green hills")
        rows = [
            (1, good),                       # keep: english, stopwords, mid length
            (2, ""),                         # too_short
            (3, "short text only here"),     # too_short (< 10 tokens)
            (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lambda mu nu xi omicron pi rho sigma tau upsilon"),  # low_stopword
            (5, "a !!! b ... c ??? d ,,, e ;;; f ::: g (((h))) i [j] k {l} "
                "m !!! n ... o ??? p ,,, q ;;; r ::: s !!! t"),       # high_punct
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        cls = quality_classifier("text")
        out = {r.doc_id: r for r in
               df.select("doc_id", *[e.alias(n) for n, e in cls.items()]).collect()}
        assert out[1].verdict == "keep" and out[1].reject_reason == "ok"
        assert out[2].reject_reason == "too_short"
        assert out[3].reject_reason == "too_short"
        assert out[4].reject_reason == "low_stopword"
        assert out[5].reject_reason == "high_punct"
        assert all(out[i].verdict == "drop" for i in (2, 3, 4, 5))
        # probability is a valid rounded sigmoid
        assert 0.0 < out[1].quality_prob < 1.0

    def test_threshold_gates_keep(self, spark):
        from polars_pipe_spark.functions.text import quality_classifier

        good = " ".join(["the cat sat on the mat and it was good"] * 5)
        df = spark.createDataFrame([(1, good)], ["doc_id", "text"])
        lax = quality_classifier("text", threshold=0.0)
        strict = quality_classifier("text", threshold=1.1)
        assert df.select(lax["verdict"].alias("v")).first().v == "keep"
        assert df.select(strict["verdict"].alias("v")).first().v == "drop"

    def test_filter_usage_and_null_text(self, spark):
        """r14: the classifier let-binds the token array via a HOF
        lambda; this pins (a) the FILTER call-site shape (the hot path
        the rewrite targets — a lambda binding must survive predicate
        position) and (b) NULL-text semantics: the ntok reason gate
        NULLs out but stopword_ratio's otherwise(0.0) fires →
        'low_stopword'; least() IGNORES the NULL ntok term so
        z = -1.5 + 2.5 = 1.0 → prob sigmoid(1) = 0.731059; verdict
        'drop'. All three verified bit-equal to the pre-r14 inline form
        on (NULL, empty, 1-token) inputs when this was written."""
        from polars_pipe_spark.functions.text import quality_classifier

        good = ("the quick brown fox jumps over the lazy dog and then it "
                "runs to the forest where it is happy and the day is long "
                "and the sun is warm in the sky over the green hills")
        df = spark.createDataFrame(
            [(1, good), (2, None), (3, "tiny")], "doc_id long, text string"
        )
        cls = quality_classifier("text")
        kept = [
            r.doc_id for r in df.filter(cls["verdict"] == "keep").collect()
        ]
        assert kept == [1]
        row2 = (
            df.filter("doc_id = 2")
            .select(*[e.alias(n) for n, e in cls.items()])
            .first()
        )
        assert row2.verdict == "drop"
        assert row2.reject_reason == "low_stopword"
        assert row2.quality_prob == 0.731059


class TestCleanText:
    def test_cleaning_battery(self, spark):
        from polars_pipe_spark.functions.text import clean_text

        rows = [
            (1, "\x01\x02 hello\x7f world \x1f"),
            (2, "wow!!! really??? yes,,, no;;;"),
            (3, "wait..... ok.. fine...."),
            (4, "  too   many\t\tspaces\n\nhere  "),
        ]
        df = spark.createDataFrame(rows, ["i", "t"])
        out = {r.i: r.c for r in df.select("i", clean_text("t").alias("c")).collect()}
        assert out[1] == "hello world"
        assert out[2] == "wow! really? yes, no;"
        # 4+ dots squeeze to ellipsis; 2-3 dots stay untouched
        assert out[3] == "wait... ok.. fine..."
        assert out[4] == "too many spaces here"


class TestCdcChunking:
    def chunks(self, spark, text):
        from polars_pipe_spark.functions.text import cdc_chunks

        df = spark.createDataFrame([(text,)], "text string")
        return df.select(cdc_chunks("text").alias("c")).collect()[0].c

    def test_chunks_reassemble_exactly(self, spark):
        text = "the quick brown fox jumps over the lazy dog " * 8
        ch = self.chunks(spark, text)
        from polars_pipe_spark.functions.text import normalize_text
        # space-joining the chunks recovers the normalised token stream
        assert " ".join(ch).split(" ") == text.split()

    def test_early_edit_preserves_later_chunks(self, spark):
        """THE content-defined property: prepending text changes only the
        leading chunk(s); every boundary decided by later local content
        stays, so the tail chunk sequence is identical (fixed-size
        chunking would shift every boundary)."""
        base = "alpha beta gamma delta epsilon zeta eta theta " * 12
        edited = "inserted words here " + base
        a, b = self.chunks(spark, base), self.chunks(spark, edited)
        # the suffixes agree: all but the first few chunks are shared
        k = 2  # tolerate the boundary-straddling head chunks
        assert a[k:] == b[len(b) - len(a) + k:]
        assert len(set(a) & set(b)) >= len(a) - k

    def test_empty_text(self, spark):
        assert self.chunks(spark, "") == []

    def test_cdc_kernel_matches_expression(self, spark):
        """r9: cdc_chunks_kernel (Arrow twin — the expression form pays
        an interpreted md5 per token, 119 s at sf1 for q250) must emit
        IDENTICAL chunks: same tokenisation, boundaries, spans — across
        edge shapes (empty, null, whitespace-mess, short-of-window,
        multiline, repeated content) and parameter choices."""
        from polars_pipe_spark.functions.text import cdc_chunks, cdc_chunks_kernel

        rows = [
            ("the quick brown fox jumps over the lazy dog " * 8,),
            ("  MIXED   Case\t\ttabs\nand newlines  here   ",),
            ("one two",),  # shorter than the window
            ("",),
            (None,),
            ("alpha beta gamma delta epsilon zeta eta theta " * 12,),
            ("x " * 200,),  # degenerate repeated token stream
        ]
        df = spark.createDataFrame(rows, "text string")
        for window, mask in [(3, 16), (2, 4), (1, 8)]:
            got = df.select(
                cdc_chunks("text", window, mask).alias("e"),
                cdc_chunks_kernel("text", window, mask).alias("k"),
            ).collect()
            for r in got:
                assert r.e == r.k, (window, mask, r.e, r.k)


def test_cdc_chunks_rejects_degenerate_params(spark):
    from polars_pipe_spark.functions.text import cdc_chunks

    with pytest.raises(ValueError, match="window"):
        cdc_chunks("text", window=0)
    with pytest.raises(ValueError, match="mask"):
        cdc_chunks("text", mask=0)
