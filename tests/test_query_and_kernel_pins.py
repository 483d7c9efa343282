"""Round-11 hardening: the four r10 ADVICE items + the `_t_par` probe
cheapening (r10 verdict task 5).

- `_stack_vectors`: ragged or null vector columns used to pass the
  single-row dim probe (`_rows_dim` / `_corpus_fits_closure`) and then
  die inside ``np.stack`` with an opaque shape error; the dense-vector
  contract is now raised as a named ValueError at the materialization
  site.
- decode_wav's unsupported-format diagnostic now lists G.711 u-law/
  A-law (fmt 7/6), which the decoder has supported since r10.
- fuzzy_join documents its call-time guard jobs + the
  localCheckpoint lineage-truncation tradeoff (the brute_force_topk
  'Eagerness note' pattern).
- q283 no longer threads a dead 'law' column through the mapInPandas
  schema (it is a pure function of doc_id, re-derived in the final
  select).
- `_t_par`'s under-parallelism gate sums the parquet footers' row-group
  counts over ``inputFiles()`` instead of ``df.rdd.getNumPartitions()``
  (which built the Java RDD graph for every table read).
"""

from __future__ import annotations

import pytest

from polars_pipe_spark.functions import similarity as sim


class TestStackVectorsContract:
    def test_ragged_raises_named_error(self):
        with pytest.raises(ValueError, match="ragged vector widths"):
            sim._stack_vectors([[1.0, 2.0], [1.0, 2.0, 3.0]], "cv")

    def test_null_raises_named_error(self):
        with pytest.raises(ValueError, match="null vector"):
            sim._stack_vectors([[1.0, 2.0], None], "cv")

    def test_uniform_stacks_float64(self):
        import numpy as np

        m = sim._stack_vectors([[1, 2], [3, 4]], "cv")
        assert m.dtype == np.float64 and m.shape == (2, 2)

    def test_gemm_path_ragged_corpus_is_diagnosable(self, spark):
        """A ragged corpus passes the rows×dim×8 byte budget (dim probed
        from ONE row) — the failure must be the named contract error,
        not np.stack's 'all input arrays must have the same shape'."""
        corpus = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        # max_collected_queries=0 forces the corpus-closure GEMM path,
        # whose driver-side collect materializes ALL corpus rows at once
        # (the small-query path streams per-batch, where a ragged corpus
        # can hide across batches — validated there too, best-effort)
        with pytest.raises(ValueError, match="ragged vector widths"):
            sim.brute_force_topk(
                corpus, q, vec_col="embedding", id_col="vec_id",
                query_id_col="vec_id", k=2, max_collected_queries=0,
            )


class TestWavDiagnosticListsG711:
    def test_unsupported_tag_message(self):
        from polars_pipe_spark.functions.multimodal import decode_wav, encode_wav

        wav = bytearray(encode_wav(b"\x00\x01" * 40, sample_rate=8000))
        # format tag lives at offset 20 in the canonical fmt chunk
        wav[20:22] = (85).to_bytes(2, "little")  # 0x55 = MPEG Layer 3
        with pytest.raises(NotImplementedError) as ei:
            decode_wav(bytes(wav))
        msg = str(ei.value)
        assert "G.711 u-law/A-law (fmt 7/6)" in msg
        assert "tag=85" in msg


class TestFuzzyJoinEagernessDocumented:
    def test_docstring_names_the_tradeoff(self):
        from polars_pipe_spark.operators.joins import fuzzy_join

        doc = fuzzy_join.__doc__
        assert "Eagerness note" in doc
        assert "localCheckpoint" in doc


class TestQ283SchemaHasNoDeadColumn:
    def test_law_not_in_mapinpandas_schema(self):
        import inspect

        from polars_pipe_spark.registry.multimodal import _q283_g711_decode

        src = inspect.getsource(_q283_g711_decode)
        assert "doc_id long, payload binary, law string" not in src
        # the output still carries law, derived from doc_id
        assert '"law"' in src or "'law'" in src


def _repartitioned(df) -> bool:
    return "Repartition" in df._jdf.queryExecution().logical().toString()


class TestTParProbe:
    def test_no_rdd_probe_in_t_par(self):
        import ast
        import inspect
        import textwrap

        from polars_pipe_spark.registry._helpers import _t_par

        tree = ast.parse(textwrap.dedent(inspect.getsource(_t_par)))
        rdd_attrs = [
            n for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "rdd"
        ]
        assert not rdd_attrs, "_t_par still touches .rdd"

    def test_small_table_still_repartitions(self, spark):
        from polars_pipe_spark.registry._helpers import _t_par

        df = _t_par(spark, "/root/testdata/sf0.001", "nation")
        par = spark.sparkContext.defaultParallelism
        # the gate must classify a one-file 25-row table as
        # under-parallel and round-robin it to full parallelism
        assert df.rdd.getNumPartitions() == par

    @staticmethod
    def _past_the_gate(spark, tmp_path):
        """One file of one row group, larger than defaultParallelism - 2
        open costs: Spark's split arithmetic gives it full parallelism."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        par = spark.sparkContext.defaultParallelism
        open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
        blob = os.urandom(max(par - 2, 0) * open_cost + (1 << 20))
        pq.write_table(pa.table({"b": [blob]}), tmp_path / "big.parquet",
                       compression="none")
        assert pq.read_metadata(tmp_path / "big.parquet").num_row_groups == 1
        return str(tmp_path)

    def test_table_past_the_size_gate_passes_through(self, spark, tmp_path):
        """The sf0.1 lineitem case: measured faster without the
        repartition, so it passes through."""
        from polars_pipe_spark.registry._helpers import _t_par

        sf = self._past_the_gate(spark, tmp_path)
        assert not _repartitioned(_t_par(spark, sf, "big"))

    def test_unsized_files_repartition(self, spark, tmp_path, monkeypatch):
        """A file whose size cannot be read makes the gate assume the
        small case: the cheap repartition, never a silent pass."""
        import os

        from polars_pipe_spark.registry._helpers import _t_par

        sf = self._past_the_gate(spark, tmp_path)

        def unreadable(path):
            raise OSError(path)

        monkeypatch.setattr(os.path, "getsize", unreadable)
        assert _repartitioned(_t_par(spark, sf, "big"))


class TestQ59MicroRounding:
    """r11: the sf0.1 oracle rung caught a real 7th-decimal .5 tie in
    q59's round(sum/count, 6) where Spark and DuckDB double-rounds
    disagree; the mean is now rounded in exact integer micro space
    (half-away-from-zero closed form) on both sides."""

    def test_exact_tie_rounds_away_from_zero(self, spark):
        # reproduce the sf0.1 label-9/dim-6 situation exactly:
        # sum(vd) = 0.616992, n = 192 -> mean = 0.0032135 precisely,
        # a .5 tie at the 7th decimal. Half-away-from-zero => 0.003214.
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [(0, i, v) for i, v in enumerate([0.003214] * 96 + [0.003213] * 96)],
            "label int, idx int, v double",
        )
        # 96*0.003214 + 96*0.003213 = 0.616992 over n=192
        agg = (
            df.withColumn("vd", F.col("v").cast("decimal(12,6)"))
            .groupBy("label")
            .agg(
                (F.sum("vd") * F.lit(1_000_000)).cast("decimal(28,0)").cast("long").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                (
                    F.floor((2 * F.abs(F.col("s")) + F.col("n")) / (2 * F.col("n")))
                    .cast("long")
                    .cast("double")
                    / F.lit(1_000_000.0)
                ).alias("mean_val")
            )
            .first()
        )
        assert agg["mean_val"] == 0.003214

    def test_q59_negative_means_are_signed_correctly(self, spark):
        import __spark_entry__ as entry

        out = entry.queries()["q59_label_centroids"](
            spark, "/root/testdata/sf0.001"
        ).toPandas()
        assert (out["mean_val"] < 0).any() and (out["mean_val"] > 0).any()
        # every mean is an exact micro multiple (the integer-space contract)
        import numpy as np

        micros = out["mean_val"].to_numpy() * 1e6
        assert np.allclose(micros, np.round(micros), atol=1e-6)


class TestQ251CapContract:
    """r11: simhash_near_dups' documented partial-drop contract (bands
    over max_band_members are dropped; pairs survive only through
    un-capped shared bands) — the semantics the q251 oracle now replays
    in SQL after the sf0.1 rung exposed the brute-force oracle's
    unsaturated-regime-only validity."""

    def test_capped_bucket_drops_only_unreachable_pairs(self, spark):
        from polars_pipe_spark.functions import dedup as dd

        # Three identical docs (their shared band buckets have 3
        # members, over the cap of 2) plus distinct filler docs that
        # keep OTHER buckets under the cap (so the collapse guard —
        # which fires only when EVERY bucket caps — stays quiet and the
        # partial-drop path runs). The triple's pairs must disappear
        # under the cap and reappear with the cap lifted.
        filler = [
            (10, "zebra quokka xylophone"), (11, "umbrella raincoat puddle"),
            (12, "quantum flux capacitor"), (13, "mountain river estuary"),
            (14, "violin cello orchestra"), (15, "pepper nutmeg clove"),
        ]
        docs = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "alpha beta gamma delta"), *filler],
            "doc_id long, text string",
        )
        capped = dd.simhash_near_dups(
            docs, "text", "doc_id", bits=16, n_bands=4, max_hamming=3,
            max_band_members=2,
        ).collect()
        uncapped = dd.simhash_near_dups(
            docs, "text", "doc_id", bits=16, n_bands=4, max_hamming=3,
            max_band_members=None,
        ).collect()
        assert len(uncapped) >= len(capped)
        got_capped = {(r.id_a, r.id_b) for r in capped}
        got_full = {(r.id_a, r.id_b) for r in uncapped}
        # identical-triple pairs exist in the uncapped run
        assert {(1, 2), (1, 3), (2, 3)} <= got_full
        # and are gone once every shared band bucket exceeds the cap
        assert not ({(1, 2), (1, 3), (2, 3)} & got_capped)
