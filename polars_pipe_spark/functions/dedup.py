"""Deduplication operators for training-data pipelines.

Five families, all designed for 100 TB scale:

- **Exact**: hash-groupBy on a content fingerprint — one shuffle with
  map-side partial aggregation.
- **MinHash + LSH**: bottom-k sketch (k smallest md5 hex digests of the
  word-shingle set — a single-hash-function minhash variant, Broder 1997
  "On the resemblance and containment of documents"). Bands of the
  signature are LSH keys; candidate pairs come from a self-join on band
  buckets (shuffle on band key — never an all-pairs product), then exact
  Jaccard verification on the candidates only. md5 is identical in Spark
  and DuckDB, so the whole path is oracle-checkable.
- **SimHash** (Charikar 2002): per-bit majority vote over token hashes,
  expressed as pure array/bit expressions (b-bit signature; hamming
  distance for near-dup).
- **N-gram Jaccard**: exact set similarity on candidate pairs.
- **Embedding cosine**: see functions/similarity.py (near-dup = cosine
  above threshold).

Scale notes: every self-join here is on a bucket/band key, so the shuffle
volume is O(n·bands) and the pair enumeration only happens inside
buckets. Skewed buckets (a very common band value) are handled by AQE
skew-join splitting; pair outputs are deduplicated with an id<id guard
(no (a,b)/(b,a) doubles, no self-pairs).
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_pipe_spark.session import shuffle_partitions

from polars_pipe_spark.functions.text import doc_fingerprint, let, shingles, tokens

logger = logging.getLogger(__name__)


def _cap_band_buckets(
    banded: DataFrame,
    max_band_members: int | None,
    *,
    check_collapse: bool = False,
) -> DataFrame:
    """Guardrail against degenerate LSH buckets: a band shared by B docs
    emits B·(B−1)/2 candidate pairs, so one pathological bucket (e.g.
    thousands of empty/boilerplate documents with identical signatures)
    turns the band self-join quadratic. Bands with more than
    ``max_band_members`` members are DROPPED from candidate generation —
    standard LSH practice (such bands carry no discriminative signal;
    their members are still reachable through their other, rarer bands,
    and truly identical documents belong to exact dedup anyway).

    The member count is a band-keyed partial aggregate (skew-tolerant)
    and the oversized-band set is at most |banded|/cap rows, so the
    anti-join side is broadcastable by construction. Dropped-band
    logging is gated on the logger level so the default path adds no
    extra Spark action.

    ``check_collapse=True`` (r5 ADVICE fix) pays one extra small
    aggregate over the band counts to detect the SILENT-RECALL-COLLAPSE
    failure mode: when the band-value space is tiny relative to the
    corpus (e.g. 16-bit simhash / 4 bands = 16 values per band beyond
    ~16k docs), EVERY bucket exceeds the cap, the anti-join removes all
    rows, and the function returns zero candidates while its caller
    advertises pigeonhole recall. That case now raises ``ValueError``
    with re-parameterisation guidance instead of silently returning an
    empty result; a partial drop under ``check_collapse`` logs a
    WARNING (it voids any lossless-recall guarantee for the dropped
    members). Callers with an unbounded band-value space (minhash —
    hash-valued bands can't uniformly saturate) keep the action-free
    path.
    """
    if max_band_members is None:
        return banded
    counts = banded.groupBy("band").agg(F.count(F.lit(1)).alias("__n_members"))
    if check_collapse:
        over_flag = F.col("__n_members") > max_band_members
        stats = counts.agg(
            F.count(F.lit(1)).alias("n_bands"),
            F.sum(over_flag.cast("long")).alias("n_over"),
            F.sum(F.when(over_flag, F.col("__n_members")).otherwise(0)).alias(
                "rows_over"
            ),
        ).first()
        if stats["n_bands"] and stats["n_over"] == stats["n_bands"]:
            raise ValueError(
                "LSH band cap collapse: every one of the "
                f"{stats['n_bands']} occupied band bucket(s) exceeds "
                f"max_band_members={max_band_members}, so candidate "
                "generation would silently return ZERO pairs. The band-value "
                "space is too small for this corpus — increase the signature "
                "bits (more values per band), raise max_band_members, or run "
                "exact dedup first to shrink identical-content mass."
            )
        if stats["n_over"]:
            logger.warning(
                "LSH band cap: dropping %d/%d oversized band bucket(s) "
                "covering %d (id, band) rows (cap=%d members/band) — "
                "lossless-recall guarantees do not apply to their members",
                stats["n_over"], stats["n_bands"], stats["rows_over"],
                max_band_members,
            )
    elif logger.isEnabledFor(logging.INFO):
        stats = counts.filter(F.col("__n_members") > max_band_members).agg(
            F.count(F.lit(1)).alias("n_bands"), F.sum("__n_members").alias("n_rows")
        ).first()
        if stats["n_bands"]:
            logger.info(
                "minhash LSH: dropped %d oversized band bucket(s) covering %d "
                "(id, band) rows (cap=%d members/band)",
                stats["n_bands"], stats["n_rows"], max_band_members,
            )
    over = counts.filter(F.col("__n_members") > max_band_members)
    return banded.join(F.broadcast(over.select("band")), "band", "left_anti")


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Content-identical groups: fingerprint → (fingerprint, canonical_id =
    min id, n_copies). One shuffle, map-side combine."""
    return (
        df.select(doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per identical content."""
    groups = exact_dedup_groups(df, text_col, id_col).filter(F.col("n_copies") >= 1)
    keep = groups.select(F.col("canonical_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash (bottom-k md5 sketch) + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(col: str | Column, shingle_k: int = 3, sig_k: int = 8) -> Column:
    """Bottom-k sketch: the sig_k lexicographically-smallest md5 digests of
    the document's word-shingle set. Deterministic, engine-portable."""
    sh = F.array_distinct(shingles(col, shingle_k))
    hashed = F.array_sort(F.transform(sh, lambda s: F.md5(s)))
    return F.slice(hashed, 1, sig_k)


def lsh_bands(signature: Column, n_bands: int, rows_per_band: int) -> Column:
    """Split a signature array into band-key strings 'i:h1|h2'."""
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    # F.get: 0-based, null (not ANSI error) past the end of
                    # short signatures; concat_ws skips the nulls
                    F.get(signature, b * rows_per_band + r)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    sig_k: int,
    n_bands: int,
) -> DataFrame:
    """The distinct ``(id, band)`` frame shared by candidate generation
    (:func:`minhash_lsh_candidates`) and the saturation report
    (:func:`band_cap_report`) — ONE definition so the report always
    audits exactly the banding the candidate path runs (r12 review
    finding: a drifted copy would make ``n_over_cap`` disagree with
    what :func:`_cap_band_buckets` actually drops).

    The signature is materialised as a column BEFORE banding: the band
    expression references the signature 2×sig_k times, and inlining it
    would re-run the whole shingle+md5+sort pipeline once per reference
    (no CSE through F.get). The explode (Generate) node keeps the
    projects from collapsing back together — signature runs once per
    row.

    r14: the trailing ``.distinct()`` is a LOGICAL no-op — every element
    of the ``lsh_bands`` array carries a distinct band-index prefix, so
    (id, band) rows are unique by construction — but it is KEPT
    deliberately: its exchange is the reuse point every downstream
    consumer shares (the cap count, both self-join sides). Removing it
    was A/B-tested and REJECTED: q25 at sf1 went 11.2 s → 77.2 s because
    each consumer then re-ran the whole shingle+md5+sort+band pipeline
    instead of reading the distinct's shuffle via ReusedExchange. (The
    simhash twin dropped its distinct ONLY by persisting the banded
    frame in the same change.)"""
    rows_per_band = sig_k // n_bands
    sig_df = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(text_col, shingle_k, sig_k).alias("sig"),
    )
    return sig_df.select(
        "id",
        F.explode(lsh_bands(F.col("sig"), n_bands, rows_per_band)).alias("band"),
    ).distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    sig_k: int = 8,
    n_bands: int = 4,
    max_band_members: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band.
    Returns (id_a, id_b) with id_a < id_b, distinct. Band buckets larger
    than ``max_band_members`` are dropped (see :func:`_cap_band_buckets`)."""
    banded = _minhash_banded(df, text_col, id_col, shingle_k, sig_k, n_bands)
    # NOT persisted despite the guardrail adding a third read of the
    # banding pipeline: measured at sf0.1 (best-of-3, same session),
    # recompute beats the columnar-cache write for this frame —
    # cap+persist 6.74s vs cap+recompute 6.41s vs no-cap 5.94s. The md5
    # banding is cheap; serializing the band strings into cache is not.
    banded = _cap_band_buckets(banded, max_band_members)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def band_cap_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    sig_k: int = 8,
    n_bands: int = 4,
    max_band_members: int = 1000,
) -> DataFrame:
    """LSH band-cap saturation report — the at-scale observability the
    q251 episode proved necessary (r12): per band index, how many
    distinct buckets exist, how many exceed ``max_band_members`` (and
    would be DROPPED by :func:`_cap_band_buckets` in the candidate
    path), how many (id, band) rows those drops cover, and the largest
    bucket. Run this BEFORE trusting any recall claim from the banded
    dedup family at a new scale: a nonzero ``n_over_cap`` means the
    lossless-recall guarantee is void for the dropped members, and a
    brute-force oracle for that corpus is invalid (the exact failure
    class the r11 sf0.1 artifact caught for q251).

    One extra shuffle over the banding pipeline (band-keyed partial
    count, then a ``n_bands``-row aggregate) — O(corpus) at any scale,
    never pairwise.

    Output: (band_idx, n_buckets, n_over_cap, rows_dropped,
    max_members), one row per band index.
    """
    banded = _minhash_banded(df, text_col, id_col, shingle_k, sig_k, n_bands)
    counts = banded.groupBy("band").agg(F.count(F.lit(1)).alias("n_members"))
    over = F.col("n_members") > max_band_members
    return (
        counts.withColumn(
            "band_idx", F.split(F.col("band"), "\\|").getItem(0).cast("long")
        )
        .groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(over.cast("long")).alias("n_over_cap"),
            F.sum(F.when(over, F.col("n_members")).otherwise(0)).alias(
                "rows_dropped"
            ),
            F.max("n_members").alias("max_members"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate (id_a, id_b) pairs.
    Joining the (small) shingle-set table twice — broadcast when it fits."""
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh"),
    )
    out = (
        candidates.join(sets.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sets.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        # |A∪B| = |A|+|B|-|A∩B| (sets are distinct) — skips a second
        # O(n+m) hash pass that array_union would cost
        .withColumn("n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter").cast("double") / F.col("n_union"), 6),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    sig_k: int = 8,
    n_bands: int = 4,
    threshold: float = 0.5,
    cache_intermediates: bool | str = "sets",
    max_band_members: int | None = 1000,
) -> DataFrame:
    """Full pipeline: LSH candidates → exact Jaccard → threshold.
    Band buckets larger than ``max_band_members`` are dropped before the
    self-join (see :func:`_cap_band_buckets`).

    The single-DAG formulation derives the signatures FROM the
    distinct-shingle sets (one tokenise+shingle pipeline feeding both the
    banding branch and the verification join) instead of recomputing
    shingles per branch. ``cache_intermediates`` picks what to persist
    in Spark's columnar cache (MEMORY_AND_DISK — spills/evicts
    gracefully at 100 TB; callers can ``spark.catalog.clearCache()``
    after consuming the result):

    - ``"sets"`` (default): persist only ``sets`` (read 3×: signatures
      + both verification joins).
    - ``"all"``/``True``: also persist ``banded`` (self-joined, read
      2×).
    - ``"none"``/``False``: pure recompute.

    Measured at sf0.1 under the driver's bench protocol (warm JVM,
    best-of-2, cache cleared per run): none 1.62s / sets 1.72s / all
    1.63s — all within noise, so the round-2 bench's 4.5s reading for
    ``"all"`` was environment noise, not the double-persist. ``"sets"``
    is the default anyway: it caches the one genuinely 3×-read frame
    while keeping the resident cache footprint minimal, which is what
    matters under executor memory pressure at real scale.

    NOTE ``localCheckpoint`` was measured SLOWER than recompute here
    (object-serialized RDD scans of big array columns defeat
    whole-stage codegen) — the columnar cache is the right tool."""
    cache = {True: "all", False: "none"}.get(cache_intermediates, cache_intermediates)
    if cache not in ("sets", "all", "none"):
        # a typo like "set"/"ALL" would otherwise silently run with no
        # persistence at all — a ~5x recompute with no error
        raise ValueError(
            f"cache_intermediates={cache_intermediates!r} not in "
            "{'sets', 'all', 'none', True, False}"
        )
    rows_per_band = sig_k // n_bands
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh"),
    )
    if cache in ("sets", "all"):
        sets = sets.persist()

    sig_df = sets.select(
        "id",
        F.slice(F.array_sort(F.transform("sh", lambda s: F.md5(s))), 1, sig_k).alias("sig"),
    )
    # the .distinct() is a logical no-op but the shared-exchange reuse
    # point for the cap count and both self-join sides — see
    # _minhash_banded's r14 note (removal A/B-rejected: q25 7x slower)
    banded = sig_df.select(
        "id", F.explode(lsh_bands(F.col("sig"), n_bands, rows_per_band)).alias("band")
    ).distinct()
    if cache == "all":
        banded = banded.persist()
    # guardrail after the (optional) persist; see minhash_lsh_candidates
    # for the measured recompute-vs-persist trade (recompute wins)
    banded = _cap_band_buckets(banded, max_band_members)
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    out = (
        cands.join(sets.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sets.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_inter"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter").cast("double") / F.col("n_union"), 6),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _hex_nibble_value(ch: Column) -> Column:
    """hex char → 0..15 via position in the hex alphabet (portable)."""
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def simhash(col: str | Column, bits: int = 16) -> Column:
    """b-bit SimHash over whitespace tokens: bit i is set iff the majority
    of token-md5s have bit i set. Bits come from the first b/4 hex chars
    of each token's md5 (portable nibble arithmetic — no engine-specific
    hash needed)."""
    nib_count = bits // 4

    def _simhash(t: Column) -> Column:
        # ``t`` is let-bound: the majority lambda below captures its size,
        # which would otherwise re-tokenize the text once per bit
        n = F.size(t)
        # per-token integer from the first `nib_count` md5 nibbles.
        # r14: ONE md5 + one conv(hex, 16, 10) per token — the previous
        # nibble fold re-evaluated F.md5(x) on every of its `nib_count`
        # iterations (HOF lambdas re-evaluate their body per element; the
        # md5 was the expensive part). conv of the leading nibbles is the
        # same integer by definition.
        tok_val = F.transform(
            t,
            lambda x: F.conv(F.substring(F.md5(x), 1, nib_count), 16, 10).cast(
                "long"
            ),
        )
        # ONE fold over the token values accumulating all `bits` counters at
        # once (array<int> acc, one zip_with per token) — the md5/nibble work
        # in tok_val is evaluated once per token, not once per bit (Catalyst
        # does not CSE the big transform expression across separate filters;
        # the old 16-pass form re-hashed every token 16×).
        masks = F.array(*[F.lit(1 << (bits - 1 - b)).cast("long") for b in range(bits)])
        counts = F.aggregate(
            tok_val,
            F.array_repeat(F.lit(0), bits),
            lambda acc, v: F.zip_with(
                acc,
                masks,
                lambda a, m: a + F.when(v.bitwiseAND(m) != F.lit(0), 1).otherwise(0),
            ),
        )
        # majority per bit → OR the mask in; sum of disjoint masks == bitwise OR
        return F.aggregate(
            F.zip_with(
                counts,
                masks,
                lambda c, m: F.when(c * 2 > n, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return let(tokens(col), _simhash)


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_band_members: int | None = 1000,
) -> DataFrame:
    """Hamming-space LSH near-dup pairs over SimHash signatures — the
    banding trick Manku/Jain/Das Sarma (WWW'07, Google's web dedup)
    applied to the :func:`simhash` column q26 emits: split the b-bit
    signature into ``n_bands`` equal bit-bands, self-join on exact band
    equality, verify candidates with ``bit_count(xor) <= max_hamming``.

    By pigeonhole the blocking is lossless whenever
    ``max_hamming < n_bands`` AND no band bucket hits the
    ``max_band_members`` cap: k differing bits can damage at most k
    bands, so at least one band is bit-identical and the pair IS a
    candidate. The recall-1.0 claim is therefore CONDITIONAL — a pair
    whose only surviving shared band sits in a capped (dropped) bucket
    is missed, so any cap drop voids the guarantee for the dropped
    members (a drop logs a WARNING). Same scale shape as
    :func:`minhash_lsh_candidates`: shuffle on band key only, oversized
    band buckets dropped via :func:`_cap_band_buckets`.

    SIZE THE SIGNATURE TO THE CORPUS: the band-value space is
    2^(bits/n_bands) buckets, so 16-bit/4-band (the test default) has
    only 16 values per band — fine for thousands of docs, saturated
    past ~16k docs (cap × 16 values), where EVERY bucket exceeds the
    cap and candidate generation would silently return zero pairs.
    That collapse now raises ``ValueError`` instead (r5 ADVICE fix —
    the check is one small aggregate over band counts). Production:
    ``bits=64, n_bands=4`` (Manku's setting, 65536 values per band)
    keeps buckets sparse at billions of docs.

    Returns ``(id_a, id_b, hamming)`` with id_a < id_b.
    """
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    band_bits = bits // n_bands
    sig_df = df.select(
        F.col(id_col).alias("id"), simhash(text_col, bits).alias("sig")
    )
    # r14 (guide §2.3/§2.4/§5): three structural fixes, result identical —
    #   - the band key is an INTEGER (band_index << band_bits | value,
    #     bijective with the old "idx:value" string), so the self-join
    #     shuffles and probes 8-byte longs instead of strings;
    #   - the old ``.distinct()`` was a full exchange doing NOTHING:
    #     explode emits exactly one row per band index, the key embeds
    #     the index, and ids are unique — (id, band) can never repeat;
    #   - the frame is persisted: the cap-check aggregate and BOTH
    #     self-join sides consumed it, so the signature pipeline (the
    #     per-token md5 fold — the expensive part) used to run 3×.
    banded = sig_df.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    (
                        F.shiftright("sig", b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        + F.lit(b << band_bits)
                    ).cast("long")
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).persist()
    # finite band-value space (2^band_bits values) CAN uniformly
    # saturate the cap — run the collapse check (raise, don't silently
    # return nothing)
    banded = _cap_band_buckets(banded, max_band_members, check_collapse=True)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_distance(F.col("a.sig"), F.col("b.sig"))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 10,
) -> DataFrame:
    """Transitive closure of near-dup pairs → (node, cluster_id) where
    cluster_id = min node id in the connected component. The canonical
    last step of near-dedup: pairs (A,B),(B,C) must collapse to ONE
    cluster {A,B,C}, not two.

    Iterative min-label propagation (the Spark-idiomatic connected
    components): each round joins labels across edges and keeps the
    per-node minimum; converges in O(component diameter) rounds — near-dup
    clusters are shallow, so a handful. Each round is one shuffle; the
    label frame is persisted per round and the loop stops early on a
    fixpoint (count of changed labels = 0).
    """
    # localCheckpoint (not persist): iterative self-joins grow the LOGICAL
    # plan every round even when data is cached, and Catalyst re-analyzes
    # the whole history each iteration — minutes of driver time by round
    # ~10. Checkpointing truncates the lineage so every round plans
    # against a flat scan.
    #
    # `edges` is EAGER (r15, fixing the r14 sf10 regression): round 1's
    # join job reads it through TWO branches — directly, and via the
    # lazy `labels` init — so with eager=False both branches race to
    # materialise it inside one job and the whole upstream pair pipeline
    # (typically an expensive near-dup candidate generator behind an
    # unfilled persist) can run twice ("Block rdd_N already exists"
    # warnings). Measured at sf10 (3a89632, paired, best-of-2):
    # all-lazy 77.5 s vs edges-eager 58.8 s (0.76x) vs all-eager 59.3 s
    # — eager `edges` restores the r13 time; the per-round label
    # checkpoints below keep eager=False (single first consumer, the
    # fixpoint aggregate, so no duplication — and one scheduled job per
    # round instead of two, the r14 win).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        upd = F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
        )
        # the change flag rides the update itself — the fixpoint test is
        # then a flat aggregate over the checkpointed frame instead of a
        # second label-to-label join per round
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                upd.alias("label"),
                (upd < F.col("label")).cast("int").alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.sum("chg")).first()[0]
        labels = new_labels
        if not changed:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (delegates to similarity module)
# ---------------------------------------------------------------------------


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int | None = 8,
    cache_intermediates: bool = True,
    target_occupancy: int = 256,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity, LSH-bucketed (random
    hyperplanes) so the pair join stays within buckets.

    ``n_planes=None`` auto-scales the plane count to the corpus:
    ``max(4, ceil(log2(n / target_occupancy)))``, so expected bucket
    occupancy stays ~``target_occupancy`` and the candidate pair volume
    grows LINEARLY in n (n·occupancy/2) instead of quadratically
    (n²/2^planes with any fixed plane count) — the r8 sf1 ladder
    finding: 50k vectors through 4 fixed planes meant 16 buckets and
    ~78M verify pairs. Costs one column-pruned ``count()`` pre-pass.
    More planes = lower per-pair recall (single-probe collision
    probability (1−θ/π)^planes); callers pinning recall pass an
    explicit ``n_planes`` and own the occupancy math.

    ``cache_intermediates`` is accepted for API compatibility but is a
    no-op since the grouped verify (below) consumes the bucketed frame
    exactly once."""
    from polars_pipe_spark.functions.similarity import (
        bucket_pairs_cosine,
        hyperplane_bucket,
    )

    if n_planes is None:
        n_rows = df.select(F.col(id_col)).count()
        n_planes = max(4, math.ceil(math.log2(max(1, n_rows) / target_occupancy)))

    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        hyperplane_bucket(vec_col, n_planes).alias("bucket"),
    )
    # Grouped pair-verify (r8 sf1 ladder, second q34 finding): the old
    # bucket SELF-JOIN + per-pair cosine kernel shipped both vectors to
    # Python once per PAIR (~3.3 GB Arrow traffic at sf1); the grouped
    # kernel ships each vector once and verifies in-numpy, bit-identical
    # cosine on survivors. round(6)-then-compare is unchanged.
    # bucket_pairs_cosine owns the AQE-exempt full-width repartition on
    # the bucket key (the bucketed frame is tiny in bytes, so AQE would
    # otherwise coalesce the verify to 1-2 partitions).
    return (
        bucket_pairs_cosine(b, ["bucket"], threshold)
        .withColumn("cosine", F.round(F.col("cosine"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup_ledger(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[int]],
    threshold: float = 0.4,
    n_planes: int = 8,
    quant: int = 1000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, find high-cosine pairs
    WITHIN each cluster, keep one representative per duplicate group, and
    report the per-cluster curation ledger.

    Adaptations for exact, distributed execution:

    - **Assignment** is the pinned-centroid integer-L2 argmin (the
      q168/q214 pretrained-quantiser pattern): ``centroids`` are
      quantized integer vectors (``round(x·quant)``), distances are
      exact BIGINT sums, ties go to the lowest centroid index — fully
      deterministic and oracle-reproducible, with no iterative training
      inside the query.
    - **Within-cluster pair search is blocked**, not all-pairs: members
      additionally carry a hyperplane-sign bucket, and the self-join runs
      on (cluster, bucket) — the same candidate-bounding strategy as
      :func:`embedding_near_dups`, so a 100 TB corpus never enumerates a
      cluster quadratically. (The paper's exact within-cluster pairwise
      cosine is recovered as bucket count → 0; the blocking is the scale
      knob.)
    - **Survivor rule**: a member is dropped iff it has a ≥ threshold
      cosine edge to a LOWER id in its (cluster, bucket) block — the
      keep-min-id rule used across this module, deterministic without
      iteration.

    Returns one row per cluster:
    ``(cluster_id, n_members, n_dropped, n_survivors)``.
    """
    from polars_pipe_spark.functions.similarity import (
        bucket_pairs_cosine,
        hyperplane_bucket,
    )

    if not centroids:
        raise ValueError("semantic_dedup_ledger: centroids must be non-empty")
    dim = len(centroids[0])
    if any(len(c) != dim for c in centroids):
        raise ValueError(
            "semantic_dedup_ledger: centroids must share one dimension "
            f"(got lengths {sorted({len(c) for c in centroids})})"
        )
    vm = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * quant).cast("long")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        vm.alias("__vm"),
        hyperplane_bucket(vec_col, n_planes).alias("bucket"),
    ).filter(F.size("__vm") >= dim)

    dists = []
    for c in centroids:
        terms = " + ".join(
            f"(element_at(__vm, {i + 1}) - ({int(c[i])}L))"
            f" * (element_at(__vm, {i + 1}) - ({int(c[i])}L))"
            for i in range(dim)
        )
        dists.append(f"({terms})")
    argmin = (
        f"array_min(zip_with(array({', '.join(dists)}), "
        f"sequence(0, {len(centroids) - 1}), (d, i) -> struct(d, i))).i"
    )
    # eager localCheckpoint, NOT persist (r5 ADVICE fix): the assigned
    # frame is read twice (self-join sides) so it must be materialised
    # once, but a .persist() here had no matching unpersist — the cache
    # manager pins cached plans until explicit unpersist, so repeated
    # calls in a long session accumulated cached blocks forever.
    # localCheckpoint blocks skip the cache manager and are released by
    # the ContextCleaner when the caller drops the returned frame.
    # explicit (cluster, bucket) partitioning at full shuffle width
    # BEFORE the checkpoint, same r8 ladder reasoning as
    # embedding_near_dups: the assigned frame is small in bytes, AQE
    # would coalesce the self-join exchange to ~1 partition, and the
    # quadratic pair fan-out + verify kernel would run serially.
    n_shuffle = shuffle_partitions(df.sparkSession)
    assigned = (
        base.withColumn("cluster_id", F.expr(argmin).cast("long"))
        .repartition(n_shuffle, "cluster_id", "bucket")
        .localCheckpoint(eager=True)
    )

    # grouped pair-verify on (cluster, bucket) — same r8 ladder
    # reasoning as embedding_near_dups: the old self-join shipped both
    # vectors to Python per candidate PAIR; bucket_pairs_cosine ships
    # each member once and verifies in-numpy with the identical
    # round(6)-then-compare contract
    dropped = (
        bucket_pairs_cosine(assigned, ["cluster_id", "bucket"], threshold)
        .filter(F.round(F.col("cosine"), 6) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dropped", F.lit(1)), "id", "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.coalesce(F.sum("__dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
        .withColumn("n_survivors", F.col("n_members") - F.col("n_dropped"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/test n-gram overlap)
# ---------------------------------------------------------------------------


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Decontamination: flag training documents that share at least
    ``min_overlap`` distinct word ``k``-grams with any benchmark document
    (the standard train/test leakage check for LLM corpora).

    Returns one row per contaminated (train, bench) pair:
    ``(train_id, bench_id, n_shared)``.

    Scale design: the benchmark side is small by construction (eval sets
    are thousands of documents, not billions), so its exploded gram table
    is broadcast — the 100 TB training side streams through a broadcast
    hash join on the gram with NO shuffle of train data; the only shuffle
    is the final (train_id, bench_id) count, whose cardinality is bounded
    by contaminated pairs, not corpus size. Grams are distinct per
    document, so ``count(*)`` after the join IS the distinct-overlap
    count.
    """
    t = train.select(
        F.col(id_col).alias("train_id"),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("gram"),
    )
    b = bench.select(
        F.col(id_col).alias("bench_id"),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("gram"),
    )
    return (
        t.join(F.broadcast(b), "gram")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def dup_span_stats(
    df: DataFrame, text_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Corpus-level duplicated-span statistics (ExactSubstr-lite,
    Lee et al. 2022's dedup signal at word granularity): for each
    document, the fraction of its word ``k``-gram windows that occur
    anywhere else in the corpus (including repeats within the same
    document — a window is "duplicated" when its gram text occurs >1
    time corpus-wide).

    Plan: one explode to (doc, position, md5(gram)) — grams are hashed
    to 32-hex md5 BEFORE the shuffle so the corpus-frequency groupBy and
    the join back move fixed-width keys, not k-word strings; corpus
    counts then re-join the gram stream (shuffle on the hash — both
    sides partition identically). Documents shorter than ``k`` words
    emit zero windows and report NULL dup_fraction.

    Output: (id, n_windows, n_dup_windows, dup_fraction).
    """

    def _grams(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(t) - (k - 1))
        return F.when(
            F.size(t) >= k,
            F.transform(idx, lambda i: F.md5(F.array_join(F.slice(t, i, k), " "))),
        ).otherwise(F.array().cast("array<string>"))

    gram = let(tokens(text_col), _grams)
    # Generate keeps the gram array materialised once per row
    grams = df.select(F.col(id_col).alias("id"), F.explode(F.array(gram)).alias("__g"))
    pos = grams.select("id", F.explode("__g").alias("g"))
    # persist (r14): ``pos`` feeds BOTH the corpus-count aggregate and
    # the join back, and with different column sets surviving pruning on
    # the two branches the exchanges never reuse: the captured q94 plan
    # ran the tokenize+md5+explode pipeline twice (3 documents scans).
    # The cache holds the exploded (id, md5-gram) stream once; both
    # consumers read it. A pre-aggregate to (id, gram, count) before the
    # persist was A/B-tested and LOST (1.12x at sf0.1 — the extra
    # aggregate costs more than the narrower cache saves on this data,
    # where within-document gram repeats are rare), so the per-occurrence
    # form stays. The counts join stays a JOIN (not a window) so AQE
    # skew handling still covers a pathologically hot boilerplate gram.
    pos = pos.persist()
    counts = pos.groupBy("g").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        pos.join(counts, "g")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_dup_windows"),
        )
    )
    all_docs = df.select(F.col(id_col).alias("id")).join(per_doc, "id", "left")
    return all_docs.select(
        "id",
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        (F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double")).alias(
            "dup_fraction"
        ),
    )


def span_dedup(
    df: DataFrame, text_col: str, id_col: str, span_tokens: int = 20
) -> DataFrame:
    """Span-level (paragraph-granularity) corpus dedup APPLY: split each
    document into fixed ``span_tokens``-token spans, keep only the FIRST
    corpus-wide occurrence of each distinct span (owner = smallest
    (doc, position)), and reassemble the surviving text per document —
    the ExactSubstr-style removal step downstream of ``dup_span_stats``.

    Scale shape: spans are md5-keyed BEFORE the ownership shuffle (32-char
    keys, not span text), ownership is one min-aggregation, and the
    reassembly groupBy collects only the per-document span structs.
    Documents with zero tokens produce no spans and drop out (mirrored by
    the oracle). Owner keys pack as ``id * 1e6 + pos`` — positions must
    stay below 1e6 (50M tokens/doc at the default span size).

    Output: (<id_col>, n_spans, n_kept, cleaned_text).
    """
    from polars_pipe_spark.functions.text import tokens

    # Materialise the token array as a column FIRST: subexpressions
    # inside a higher-order-function lambda are re-evaluated per element,
    # so inlining tokens() here would re-run the whole normalise+split
    # pipeline once per span (O(doc_len × n_spans) per doc). The Generate
    # node below keeps the projections from collapsing back together.
    tok_df = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
    t = F.col("__toks")
    n = F.size(t)
    n_spans = F.floor((n + span_tokens - 1) / F.lit(float(span_tokens))).cast("int")
    spans = F.when(n_spans > 0, F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(t, i * span_tokens + 1, span_tokens), " "),
    )).otherwise(F.array().cast("array<string>"))
    # persist (r14): ``ex`` feeds both the ownership aggregate and the
    # join back, and the two branches prune to different columns (the
    # aggregate needs no span text), so the exchanges never reuse — the
    # captured q132 plan tokenized and re-sliced the corpus twice. The
    # cache holds the exploded spans once; ownership and reassembly both
    # read it. The ownership join stays a JOIN so AQE skew handling
    # covers a hot boilerplate span.
    ex = (
        tok_df.select("id", F.posexplode(spans).alias("pos", "span"))
        .withColumn("skey", F.md5("span"))
        .persist()
    )
    own = ex.groupBy("skey").agg(
        F.min(F.col("id") * 1000000 + F.col("pos")).alias("owner")
    )
    kept = ex.join(own, "skey").withColumn(
        "kept", (F.col("id") * 1000000 + F.col("pos")) == F.col("owner")
    )
    return kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct(F.col("pos"), F.col("span")))
                    )
                ),
                lambda s: s["span"],
            ),
            " ",
        ).alias("cleaned_text"),
    ).withColumnRenamed("id", id_col)


def incremental_dedup(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    *,
    cache: bool = True,
) -> DataFrame:
    """Incremental-ingest dedup: classify every row of a NEW batch
    against an EXISTING corpus fingerprint index without rescanning the
    corpus text. Each batch row gets a ``dedup_status``:

    - ``new_unique``       — fingerprint unseen in index and first (min
      id) occurrence within the batch
    - ``dup_of_index``     — fingerprint already in the index
    - ``dup_within_batch`` — fingerprint new to the index but repeated
      inside the batch (every non-min-id copy)

    ``index`` needs only a ``fingerprint`` column (pass the persisted
    index table, not the corpus — at 100 TB the index is the only thing
    this touches). Fingerprints are md5 of the normalised text, the same
    key ``exact_dedup`` groups on, so a batch admitted as new_unique and
    appended to the index keeps the invariant.

    Scale: one shuffle on fingerprint for the within-batch min (the
    batch is the small side by construction), and one join against the
    index on fingerprint — the index side is pre-bucketable on
    fingerprint to make that join shuffle-free on ingest after ingest.
    """
    from polars_pipe_spark.functions.text import normalize_text

    fp = F.md5(normalize_text(text_col)).alias("fingerprint")
    # persist: b feeds the within-batch min AND the classify join — the
    # batch is small by construction, and without the pin its whole
    # lineage (possibly a union of ingest slices) runs twice (r8
    # plan-sweep multi-scan rule). ``cache=False`` is for callers whose
    # batch is already materialized and who can't unpersist the handle —
    # the streaming foreachBatch gate, where a per-micro-batch persist
    # would leak cached blocks batch after batch.
    b = batch.select(F.col(id_col), fp)
    if cache:
        b = b.persist()
    idx = index.select("fingerprint").distinct()
    first = b.groupBy("fingerprint").agg(F.min(id_col).alias("__first_id"))
    return (
        b.join(first, "fingerprint")
        .join(idx.withColumn("__in_idx", F.lit(1)), "fingerprint", "left")
        .select(
            F.col(id_col),
            "fingerprint",
            F.when(F.col("__in_idx").isNotNull(), F.lit("dup_of_index"))
            .when(F.col(id_col) == F.col("__first_id"), F.lit("new_unique"))
            .otherwise(F.lit("dup_within_batch"))
            .alias("dedup_status"),
        )
    )


def _md5_int32(c: Column) -> Column:
    """First 8 md5 nibbles of a string as a BIGINT in [0, 2^32) — the
    portable gram hash. Spark evaluates it as ONE ``conv(hex,16,10)``
    call (measurably cheaper than an 8-step substring/strpos chain on
    multi-million-gram explodes); a SQL oracle without conv() reproduces
    the identical VALUE with per-nibble strpos arithmetic — parity is on
    the number, not the expression."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local fingerprinting
    scheme): hash every word ``k``-shingle, slide a window of ``w``
    consecutive hashes over the document, and keep the minimum hash of
    each window. Guarantees every match of length ≥ w+k-1 shingles
    shares a fingerprint, with ~2/(w+1) selection density — the
    position-robust alternative to whole-doc fingerprints.

    Shape: posexplode of the shingle array, then a per-document sliding
    ``min`` window (``rowsBetween(0, w-1)`` over shingle position) and a
    distinct. The window partitions by document id — bounded by document
    length, never corpus-wide — and the distinct shuffles (id,
    fingerprint) pairs only. Returns (``id_col``, ``fingerprint``).
    """
    from pyspark.sql import Window

    from polars_pipe_spark.functions.text import shingles

    g = df.select(
        F.col(id_col),
        F.posexplode(shingles(text_col, k)).alias("pos", "gram"),
    ).select(F.col(id_col), "pos", _md5_int32(F.col("gram")).alias("h"))
    win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    return (
        g.select(F.col(id_col), F.min("h").over(win).alias("fingerprint"))
        .distinct()
    )


def incremental_near_dups(
    batch: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    sig_k: int = 8,
    n_bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup ingest gate — the MinHash twin of :func:`incremental_dedup`:
    classify every NEW batch document against the existing corpus without
    enumerating corpus×corpus pairs. Batch band keys equi-join only
    against (index ∪ batch) band keys, candidates verify with exact
    Jaccard, and each batch doc gets a ``neardup_status``:

    - ``dup_of_index``      — a verified index partner exists
    - ``dup_within_batch``  — no index partner, but a verified batch
      partner with a SMALLER id (each near-dup group's min id stays
      novel — deterministic without transitive closure)
    - ``novel``             — no verified partner

    ``index`` here carries text (this environment recomputes its sets);
    production persists the index's shingle sets + band keys, making
    every ingest's work O(batch) + one band equi-join — the candidate
    set is identical either way, which is what the oracle checks.

    Scale: band joins only (never all-pairs), the batch side is small by
    construction, and AQE splits hot bands.
    """
    rows_per_band = sig_k // n_bands

    def _prep(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        sets = df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(shingles(text_col, shingle_k)).alias("sh"),
        )
        sig = sets.select(
            "id",
            F.slice(
                F.array_sort(F.transform(F.col("sh"), lambda s: F.md5(s))),
                1,
                sig_k,
            ).alias("sig"),
        )
        # no .distinct(): (id, band) rows are unique by construction —
        # see _minhash_banded
        bands = sig.select(
            "id",
            F.explode(
                lsh_bands(F.col("sig"), n_bands, rows_per_band)
            ).alias("band"),
        )
        return sets, bands.withColumn("side", F.lit(tag))

    b_sets, b_bands = _prep(batch, "batch")
    _i_sets_unused, i_bands = _prep(index, "index")
    # persist the BATCH side only (r8 plan-sweep multi-scan rule):
    # b_bands feeds both the candidate probe and union_bands, b_sets
    # both the verify join and all_sets — without persist the batch's
    # shingle+signature pass runs twice per frame. The batch is small
    # by construction (one ingest slice), so pinning it is safe at any
    # corpus size; the INDEX side stays single-use and unpinned.
    b_sets, b_bands = b_sets.persist(), b_bands.persist()
    union_bands = b_bands.unionByName(i_bands)
    # r14 (§2.3/§8): cands is persisted (narrow id-pair rows) because it
    # now has TWO consumers — the verify join and the index-set pruning
    # below — and recomputing it would re-run the full index banding
    # pass. The verify join is INNER on pid, so the index's shingle SETS
    # only matter for candidate pids: instead of shingling the WHOLE
    # index a second time and shuffling every set array into the join,
    # semi-join the raw index rows down to candidate pids first and
    # shingle only those (AQE broadcasts the pid list when it is small).
    cands = (
        b_bands.select(F.col("id").alias("bid"), "band")
        .join(
            union_bands.select(
                F.col("id").alias("pid"), "band", "side"
            ),
            "band",
        )
        .filter(
            (F.col("side") == "index") | (F.col("pid") != F.col("bid"))
        )
        .select("bid", "pid", "side")
        .distinct()
        .persist()
    )
    index_pids = (
        cands.filter(F.col("side") == "index")
        .select(F.col("pid").alias(id_col))
        .distinct()
    )
    i_sets = index.join(index_pids, id_col, "leftsemi").select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh"),
    )
    all_sets = b_sets.unionByName(i_sets)
    verified = (
        cands.join(b_sets.withColumnsRenamed({"id": "bid", "sh": "sh_b"}), "bid")
        .join(all_sets.withColumnsRenamed({"id": "pid", "sh": "sh_p"}), "pid")
        .withColumn("n_inter", F.size(F.array_intersect("sh_b", "sh_p")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.size("sh_b") + F.size("sh_p") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    flags = verified.groupBy("bid").agg(
        F.max(F.when(F.col("side") == "index", 1).otherwise(0)).alias("__idx"),
        F.max(
            F.when(
                (F.col("side") == "batch") & (F.col("pid") < F.col("bid")), 1
            ).otherwise(0)
        ).alias("__smaller"),
    )
    return (
        batch.select(F.col(id_col))
        .join(flags.withColumnRenamed("bid", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__idx") == 1, F.lit("dup_of_index"))
            .when(F.col("__smaller") == 1, F.lit("dup_within_batch"))
            .otherwise(F.lit("novel"))
            .alias("neardup_status"),
        )
    )


def pagerank_exact(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 5,
    damping_ppm: int = 850_000,
) -> DataFrame:
    """Integer-exact PageRank over an undirected pair graph (Page/Brin
    1998) — hub scoring for near-dup graphs: a document connected to
    many duplicates concentrates rank, flagging template/boilerplate
    hubs that CC cluster size alone understates.

    EXACT-arithmetic recurrence (both engines replay it bit for bit —
    no float accumulation order anywhere): ranks live in micro-units,
    and one step is

        share(u)  = rank_t(u) DIV deg(u)                (integer floor)
        rank_t+1(v) = (1e6 − d_ppm) + (d_ppm · Σ_u→v share(u)) DIV 1e6

    with rank_0 = 1e6 per node. Fixed ``iterations`` (default 5) rather
    than convergence detection keeps the computation SQL-unrollable for
    the oracle, the q169-BPE pattern for iterative algorithms. Each
    round is one partial-agg shuffle on the destination node; the rank
    frame is ``localCheckpoint``-ed per round (the dedup_clusters
    lineage-truncation lesson).

    Returns ``(node, rank_micro)``.
    """
    if not 0 <= damping_ppm <= 1_000_000:
        raise ValueError(
            f"pagerank_exact: damping_ppm={damping_ppm} must be in [0, 1e6]"
        )
    if iterations < 0:
        raise ValueError(f"pagerank_exact: iterations={iterations} must be >= 0")
    edges = (
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionAll(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
        .persist()
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("s").alias("node"), F.lit(1_000_000).cast("long").alias("rank_micro")
    ).localCheckpoint()
    base = 1_000_000 - damping_ppm
    for _ in range(iterations):
        shares = (
            edges.join(deg, "s")
            .join(ranks.withColumnRenamed("node", "s"), "s")
            .select("d", F.expr("rank_micro DIV deg").alias("share"))
        )
        ranks = (
            shares.groupBy(F.col("d").alias("node"))
            .agg(F.sum("share").alias("inflow"))
            .select(
                "node",
                # the d·inflow product goes through DECIMAL(38,0): a
                # BIGINT product overflows once n·1e6·d_ppm passes 2^63
                # (n ≈ 1e7 nodes) — the q147 lesson; the quotient itself
                # is ≤ the graph's total rank mass, int64-safe to n≈9e12
                (
                    F.lit(base)
                    + F.expr(
                        f"CAST(CAST({damping_ppm} AS DECIMAL(38,0)) * inflow"
                        " AS DECIMAL(38,0)) DIV 1000000"
                    )
                ).cast("long").alias("rank_micro"),
            )
            .localCheckpoint()
        )
    # the final ranks frame is already materialised (localCheckpoint is
    # eager, lineage truncated), so the edge cache can be released HERE
    # instead of leaking for the session (r5 ADVICE fix)
    edges.unpersist()
    return ranks
