"""Query-side helpers of the registry families: the table readers every
query scans through, the candidate frame and pair-budget fence the exact
char-gram pair queries (q27, q211) share, and q217's Benford table."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from polars_pipe_spark.sources import read_parquet_table

    # the driver may hand us a session it built itself — pin the one conf
    # the oracle comparison depends on; shuffle sizing stays the session's
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


def _t_par(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + round-robin repartition to full parallelism, GATED on the
    table being small.  Small testdata tables arrive as ONE file -> one
    scan partition; compute-heavy expression work (shingling, md5,
    per-pair set ops) would serialize on that single task, so a cheap
    repartition of the raw rows (a few MB) parallelises everything
    downstream.  At 100 TB the scan already has thousands of splits — an
    UNconditional round-robin repartition there is a full extra shuffle
    of the raw rows, not a no-op — so a large table passes through
    untouched.

    The gate is Spark's split arithmetic in closed form: with every file
    padded by ``openCostInBytes``, Spark sizes splits at no less than one
    open cost, so the frame passes through once the padded total exceeds
    ``defaultParallelism - 1`` open costs (12 MiB at 4 cores).  That
    counts byte ranges, not row groups: a large file of one row group
    still scans as one busy task and passes.  Repartitioning sf0.1
    lineitem (10.8 MB, one row group) measured slower for its scan- and
    join-bound callers (ROADMAP), so that case is left alone.  Driver-side
    file sizes only (no ``.rdd``, no job); a file whose size cannot be
    read errs toward the cheap repartition."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    try:
        padded = sum(
            os.path.getsize(unquote(urlparse(f).path)) + open_cost
            for f in df.inputFiles()
        )
    except OSError:
        padded = 0
    if padded > (par - 1) * open_cost:
        return df
    return df.repartition(par)


def _char_gram_frame(spark, sf, n=4):
    """Shared candidate-side frame for the char-gram set family (q27
    jaccard, q211 dedup-explain): (id, source, packed grams, ng)."""
    from polars_pipe_spark.functions.text import normalize_text

    if n != 4:
        raise ValueError("radix-256 gram packing below is 4-char-specific")

    df = _t_par(spark, sf, "documents")
    # materialise the normalised text first: the gram lambda references it
    # once PER GRAM, and inlining would re-run the regex normalisation
    # hundreds of times per document (same CSE pitfall as minhash bands)
    normed = df.select(
        F.col("doc_id").alias("id"), F.col("source"), normalize_text("text").alias("norm")
    )
    norm = F.col("norm")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
            lambda i: F.substring(norm, i, F.lit(n)),
        )
    )
    # Pack each 4-char gram into ONE long (radix-256 over the ascii
    # codes): the per-pair intersect then hashes/compares longs instead
    # of strings — measured 6.0s → 3.2s at sf0.1, identical pair counts.
    # Injective only for single-byte chars; this corpus is pure ASCII
    # (verified: length == octet_length for every doc). For general
    # Unicode keep the string grams (4 codepoints don't fit 63 bits).
    packed = F.transform(
        grams,
        lambda s: (
            F.ascii(F.substring(s, 1, 1)) * F.lit(16777216)
            + F.ascii(F.substring(s, 2, 1)) * F.lit(65536)
            + F.ascii(F.substring(s, 3, 1)) * F.lit(256)
            + F.ascii(F.substring(s, 4, 1))
        ).cast("long"),
    )
    # NO persist here, deliberately: grams is a thousands-element array
    # per row, and building the columnar cache of such arrays costs far
    # more than the one recompute the self-join needs (measured 4.4s →
    # 19.2s with persist at sf0.1). Contrast minhash, whose small
    # shingle-set/band frames DO win from caching.
    return normed.select(
        "id", "source", packed.alias("grams"), F.size(packed).alias("ng")
    )


def _exact_pair_budget(spark, sf, max_pairs, sample_blocks, query_name):
    """Estimate-then-fence for the EXACT all-pairs verify queries (q27,
    q211): one cheap column-pruned count agg over the documents table
    (bounded collect — one row per source block) gives Σ per-block
    C(n,2), the upper bound on pairs the blocking self-join can emit.

    Returns ``None`` when the estimate fits ``max_pairs`` (run the full
    corpus), or the list of allowed source blocks when ``sample_blocks``
    restricts the run; raises ``ValueError`` with the estimate when the
    work would exceed the budget and no escape hatch was given — a
    diagnosable contract instead of a silent multi-hour hang at sf3+
    (r8 VERDICT item 1; the ladder measured ~470k verified pairs/sec, so
    the default 100M budget caps the exact baseline at ~3.5 min — large
    enough that the sf1 validation rung (~62M pairs) still runs).

    ``sample_blocks=k`` keeps the k SMALLEST blocks (deterministic:
    ascending (count, source) order) — exact within the kept blocks, so
    the sampled run still validates the approximate paths pair-for-pair
    on its subset. Eagerness note: the count agg runs at CALL time.
    """
    counts = sorted(
        (
            (r["source"], r["n"])
            for r in _t_par(spark, sf, "documents")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
        key=lambda t: (t[1], t[0]),
    )
    if sample_blocks is not None:
        counts = counts[: max(int(sample_blocks), 0)]
    est = sum(n * (n - 1) // 2 for _, n in counts)
    if est > max_pairs:
        hatch = (
            "pass sample_blocks=<k> to run the k smallest source blocks, "
            "or raise max_pairs= explicitly"
            if sample_blocks is None
            else f"the {len(counts)} sampled blocks still exceed it — "
            "lower sample_blocks= or raise max_pairs="
        )
        raise ValueError(
            f"{query_name}: exact all-pairs verify would compare "
            f"~{est:,} candidate pairs, over the pair budget of "
            f"{max_pairs:,} ({hatch}). This query is the Θ(Σ C(n_block,2)) "
            "exact baseline that validates the LSH paths (q25/q196); at "
            "this corpus size use those instead."
        )
    return None if sample_blocks is None else [s for s, _ in counts]


_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}  # round(log10(1+1/d)*1e6) — identical literals on both engines
