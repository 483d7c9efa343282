"""Join operators Spark lacks natively: as-of join, range join.

No reference implementation exists (the reference has no joins at all —
SURVEY.md §2.9); these are Spark-native extension operators designed for
scale.

As-of join strategy — union-merge, NOT a range cross-join:
both sides are unioned with a side tag, one hash shuffle on the key
partitions the merged stream, and a single ordered window carries the
most recent right-side row forward onto each left row
(``last(..., ignorenulls=True)``). Cost: one shuffle + one sort — the
same asymptotics as a sort-merge join, no candidate-pair explosion,
skew-safe under AQE. The per-key window never collapses to a single
partition because it is partitioned by the join key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_pipe_spark.session import shuffle_partitions


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    strict: bool = False,
    direction: str = "backward",
    tolerance: int | None = None,
) -> DataFrame:
    """For each left row, attach the adjacent right row within the same
    ``on`` key — pandas ``merge_asof`` semantics, left-outer (unmatched
    left rows keep nulls), still ONE shuffle via the union-merge trick:

    - ``direction="backward"`` (default): greatest ``right_ts <=
      left_ts`` (``<`` when ``strict``) — DuckDB ``ASOF JOIN``.
    - ``direction="forward"``: smallest ``right_ts >= left_ts`` (``>``
      when ``strict``) — the "next event after" lookup.
    - ``tolerance``: maximum allowed |left_ts − matched_ts|, in SECONDS
      (fractional allowed) for timestamp columns and raw units for
      numeric columns; matches farther away than the tolerance revert to
      null (merge_asof's ``tolerance=``). Timestamp deltas compare at
      FULL microsecond precision — Spark's native timestamp resolution,
      matching pandas ``merge_asof`` / DuckDB ``epoch()`` — not
      whole-second ``unix_timestamp`` truncation, which admitted matches
      up to ~1 s past the tolerance and made sub-second tolerances
      inexpressible (r5 ADVICE).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"asof_join: direction={direction!r} not in "
                         "('backward', 'forward')")
    keys = [on] if isinstance(on, str) else list(on)
    right_cols = right_cols or [c for c in right.columns if c not in keys]
    left_cols = [c for c in left.columns]

    payload = F.struct(*[F.col(c) for c in right_cols]).alias("__asof_payload")
    r = right.select(
        *keys,
        F.col(right_ts).alias("__asof_ts"),
        F.col(right_ts).alias("__asof_rts"),
        F.lit(0).alias("__asof_side"),
        payload,
    )
    l = left.select(
        *left_cols,
        F.col(left_ts).alias("__asof_ts"),
        F.lit(None).cast(dict(r.dtypes)["__asof_rts"]).alias("__asof_rts"),
        F.lit(1).alias("__asof_side"),
        F.lit(None).cast(r.schema["__asof_payload"].dataType).alias("__asof_payload"),
    )
    merged = l.unionByName(r, allowMissingColumns=True)

    if direction == "backward":
        # at equal timestamps the right row sorts first (side 0) for <=
        # semantics; sorts last for strict <
        side_order = (
            F.col("__asof_side").asc() if not strict else F.col("__asof_side").desc()
        )
        frame = (Window.unboundedPreceding, -1 if strict else 0)
        pick = F.last
    else:
        # forward: right at equal ts must sort AT/AFTER the left row to
        # land inside the following frame (non-strict); before it for >
        side_order = (
            F.col("__asof_side").desc() if not strict else F.col("__asof_side").asc()
        )
        frame = (1 if strict else 0, Window.unboundedFollowing)
        pick = F.first
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__asof_ts").asc(), side_order)
        .rowsBetween(*frame)
    )
    carried = merged.withColumn(
        "__asof_match", pick("__asof_payload", ignorenulls=True).over(w)
    ).withColumn("__asof_mts", pick("__asof_rts", ignorenulls=True).over(w))
    if tolerance is not None:
        is_ts = dict(merged.dtypes)["__asof_ts"].startswith("timestamp")
        if is_ts:
            # integer microseconds since epoch: exact at Spark's native
            # timestamp resolution, no double rounding, no second
            # truncation (r5 ADVICE)
            delta = F.abs(
                F.unix_micros("__asof_ts") - F.unix_micros("__asof_mts")
            )
            bound = F.lit(int(round(tolerance * 1_000_000))).cast("long")
        else:
            delta = F.abs(F.col("__asof_ts") - F.col("__asof_mts"))
            bound = F.lit(tolerance)
        carried = carried.withColumn(
            "__asof_match",
            F.when(delta <= bound, F.col("__asof_match")),
        )
    out = carried.filter(F.col("__asof_side") == 1).select(
        *left_cols,
        *[F.col(f"__asof_match.{c}").alias(c) for c in right_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    on: str | list[str] | None = None,
    bucket_width: float | None = None,
) -> DataFrame:
    """Point-in-interval join: left rows matched to right rows where
    ``right_lo <= left_point < right_hi``.

    With ``bucket_width`` set, both sides are bucketised so the join is an
    equi-join on (keys…, bucket) + a residual filter — Catalyst gets a
    hash join instead of a nested-loop range join. Right intervals are
    exploded across the buckets they span; choose bucket_width near the
    typical interval width so the explosion factor stays ~1-2.
    """
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    cond = (F.col(right_lo) <= F.col(left_point)) & (F.col(left_point) < F.col(right_hi))
    if bucket_width is None:
        for k in keys:
            cond = cond & (left[k] == right[k])
        return left.join(right, cond)

    lb = left.withColumn("__rj_bucket", F.floor(F.col(left_point) / bucket_width))
    rb = right.withColumn(
        "__rj_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bucket_width),
                F.floor((F.col(right_hi) - 1e-309) / bucket_width),
            )
        ),
    )
    joined = lb.join(rb, [*keys, "__rj_bucket"]).filter(cond)
    return joined.drop("__rj_bucket")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: LEFT (the skewed fact side) gets a random
    salt in [0, n_salts); RIGHT (the smaller side) is replicated once
    per salt value; the join runs on (keys..., salt), spreading every
    hot key over ``n_salts`` reducers. Results are identical to the
    plain join — the salt is dropped.

    When to use: a handful of keys carry an outsized share of rows AND
    the right side is too big to broadcast outright (broadcast would
    sidestep the shuffle entirely) AND AQE's skew-join splitting isn't
    enough (it splits oversized PARTITIONS, not a single monster KEY —
    one key hashing to one partition can't be split without salting).
    Cost: right side shipped ``n_salts``×; only 'inner' and 'left' make
    sense (every right row appears n_salts times pre-join, so
    right-preserving joins would need a dedup pass).

    The salt on the left is ``rand()``-derived (row-nondeterministic),
    which is safe exactly because the salt never affects WHICH rows
    match, only WHERE they are processed.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    salted_l = left.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    salted_r = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    return salted_l.join(salted_r, [*keys, "__salt"], how).drop("__salt")


def deletion_keys_udf(max_dist: int):
    """array<string> of every ≤max_dist-deletion variant of a string —
    the SymSpell blocking signature: two strings within Levenshtein
    distance k (ins/del/sub) ALWAYS share at least one ≤k-deletion
    variant, so an equi-join on these keys is a LOSSLESS candidate
    generator for a lev≤k verify (~1 + L + C(L,2) keys at k=2 for
    length L). Declared pandas-UDF seam (per-row string-slice fan-out).
    """
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    if max_dist not in (1, 2):
        raise ValueError(f"deletion_keys_udf: max_dist={max_dist} not in 1/2")

    @pandas_udf("array<string>")
    def keys(names: pd.Series) -> pd.Series:
        out = []
        for s in names:
            if s is None:
                out.append([])
                continue
            ks = {s}
            d1 = [s[:i] + s[i + 1 :] for i in range(len(s))]
            ks.update(d1)
            if max_dist >= 2:
                for t in d1:
                    ks.update(t[:j] + t[j + 1 :] for j in range(len(t)))
            out.append(sorted(ks))
        return pd.Series(out)

    return keys


def _deletion_variants_expr(col, max_dist: int):
    """array<string> of every ≤max_dist-deletion variant, WITH
    duplicates (deleting different positions of a repeated-character
    run yields the same string). Shared raw builder for the two public
    forms below. NULL input yields an empty array."""
    if max_dist not in (1, 2):
        raise ValueError(f"deletion keys: max_dist={max_dist} not in 1/2")
    s = F.col(col) if isinstance(col, str) else col
    length = F.length(s)
    empty = F.array().cast("array<string>")

    def del1(i):
        # drop character i (1-based)
        return F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, length))

    def del2(i, j):
        # drop characters i < j (1-based)
        return F.concat(
            s.substr(F.lit(1), i - 1),
            s.substr(i + 1, j - i - 1),
            s.substr(j + 1, length),
        )

    # sequence(a, b) counts DOWN when a > b, so every range is guarded
    parts = [F.array(s)]
    parts.append(
        F.when(
            length >= 1, F.transform(F.sequence(F.lit(1), length), del1)
        ).otherwise(empty)
    )
    if max_dist >= 2:
        parts.append(
            F.when(
                length >= 2,
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), length - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, length), lambda j: del2(i, j)
                        ),
                    )
                ),
            ).otherwise(empty)
        )
    return F.when(s.isNull(), empty).otherwise(F.concat(*parts))


def deletion_keys_expr(col, max_dist: int):
    """array<string> of every ≤max_dist-deletion variant of a string —
    the pure-JVM form of :func:`deletion_keys_udf`. The fan-out is
    nothing but substring slicing, so it compiles to higher-order
    functions inside WholeStageCodegen (guide §4.1: prefer built-ins)
    instead of shipping every name to a Python worker and an
    ~L²/2-element array<string> back per row (the ArrowEvalPython
    round-trip dominated q61 at sf10). Key SET identical to the UDF's
    — dedup via array_distinct here vs a Python set there; element
    ORDER may differ (sorted there, generation order here), which is
    immaterial to every caller (all explode + equi-join). NULL input
    yields an empty array, matching the UDF.

    Prefer :func:`deletion_key_hashes_expr` when the consumer joins on
    hashed keys anyway: ``array_distinct`` over STRINGS is the O(n²)
    pairwise-equality fallback (~15k UTF8String compares for the ~172
    lev-2 variants of an 18-char name), over longs the O(n) hashset
    path — measured at sf10, 32-way (a37cb25): keygen+explode
    15.99 s strings vs 14.99 s longs (0.94×, a constant-factor win; the
    per-row cost is ~0.2 ms either way, so PARALLELISM of this stage is
    what matters — see q61's _t_par note).
    """
    return F.array_distinct(_deletion_variants_expr(col, max_dist))


def deletion_key_hashes_expr(col, max_dist: int):
    """array<bigint>: xxhash64 of every DISTINCT ≤max_dist-deletion
    variant — hash FIRST, dedup on longs (r15, guide §1.2/§4.1).

    Value-identical to ``transform(deletion_keys_expr(col, d),
    xxhash64)`` as a SET: hashing is applied per variant either way, so
    the distinct hash set is the same whether duplicates are removed
    before or after hashing (two variants colliding in xxhash64 would
    collapse to one array element here, but an equi-join probes the
    same hash VALUE set regardless). Dedup on LongType takes Spark's
    O(n) OpenHashSet fast path instead of the O(n²) string fallback;
    measured at sf10, 32-way (a37cb25): keygen 15.99 → 14.99 s
    (0.94×) and the array rows carry 8-byte longs instead of ~17-char
    strings into the explode.
    """
    return F.array_distinct(
        F.transform(
            _deletion_variants_expr(col, max_dist), lambda k: F.xxhash64(k)
        )
    )


def assert_blocked_join_budget(
    left: DataFrame,
    right: DataFrame | None,
    keys: list[str],
    max_candidate_pairs: int,
    context: str = "blocked join",
) -> int:
    """Runtime entropy guard for blocked joins — the q27-fence pattern
    applied to candidate generation. A blocked equi-join's candidate
    volume is Σ_k |L_k|·|R_k|; when the blocking key has too little
    entropy for the corpus (r9: every generated name the same length →
    ONE block → a 232M-pair product on a single task, ~30 min at sf1,
    invisible until the sweep), the join degenerates SILENTLY. This
    estimates the volume with one group-count aggregate per side plus a
    count-join (linear, skew-tolerant partial aggs — no candidate row is
    ever materialised) and raises a diagnosable ``ValueError`` naming
    the estimate, the largest block, and the budget, instead of hanging.

    ``right=None`` declares a SELF-join on ``left``: the per-key counts
    are computed in ONE pass and squared, halving the guard's cost for
    the common dedup shape.

    Returns the estimated candidate-pair count when within budget.
    """
    lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("__nl"))
    if right is None:
        per_key = lc.select(
            (F.col("__nl").cast("double") * F.col("__nl")).alias("__p")
        )
    else:
        rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("__nr"))
        per_key = lc.join(rc, keys).select(
            (F.col("__nl").cast("double") * F.col("__nr")).alias("__p")
        )
    stats = per_key.agg(
        F.sum("__p").alias("pairs"), F.max("__p").alias("max_block")
    ).first()
    pairs = int(stats["pairs"] or 0)
    if pairs > max_candidate_pairs:
        raise ValueError(
            f"{context}: candidate-pair budget exceeded — the blocking key "
            f"generates ~{pairs:,} candidate pairs (largest single block "
            f"~{int(stats['max_block']):,}) over the budget of "
            f"{max_candidate_pairs:,}. The blocking key has too little "
            "entropy for this corpus: choose a more discriminative block "
            "(or compose keys), shrink identical-key mass with exact dedup "
            "first, or raise max_candidate_pairs if the volume is intended."
        )
    return pairs


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    block_left: Column | str,
    block_right: Column | str,
    max_dist: int = 2,
    max_candidate_pairs: int | None = 100_000_000,
) -> DataFrame:
    """Blocked fuzzy (edit-distance) join — the entity-resolution
    primitive. Candidates come from an equi-join on (blocking key,
    ≤max_dist-DELETION signature): the SymSpell deletion keys are a
    LOSSLESS filter for lev≤max_dist, so the result is identical to the
    block-only join, but the candidate count is proportional to true
    near-pairs WITHIN each block instead of the block cross product —
    the expensive ``levenshtein`` verifies candidates, never an
    all-pairs predicate. Output: both key columns + ``edit_dist``.

    r9 scale fix (found by the sf1 full-registry sweep): the block-only
    candidate join is Σ_b |L_b|·|R_b| — q160's nation-25 blocking put
    ~6k names per block at sf1, a 450M-pair product whose per-pair
    levenshtein ran >30 min. Deletion signatures bound a bucket to
    strings within max_dist deletions of one another, so a low-entropy
    block key cannot degenerate the join; the left side is additionally
    repartitioned on the candidate key so a single-file input never
    serializes the verify onto one task. max_dist > 2 falls back to the
    block-only join (deletion fan-out grows combinatorially past 2 —
    callers at larger distances must pick discriminative blocks).

    Contract (r9): the output is DISTINCT per (block_key, left_key,
    right_key) — duplicate records with identical key strings collapse
    to one row (the deletion join would otherwise also multiply pairs
    by their shared-signature count). Join back on the key strings when
    record-level multiplicity matters.

    Entropy guard (r10): ``max_candidate_pairs`` (None disables) runs
    :func:`assert_blocked_join_budget` on the ACTUAL join keys before
    candidate generation — (block, deletion-signature) on the ≤2 path,
    block alone on the fallback — so a degenerate key (duplicate-heavy
    corpus, low-entropy block) raises a diagnosable ValueError with the
    pair estimate instead of silently hanging a task for 30+ minutes
    (the q61/q160 failure class).

    Eagerness note (r11, from ADVICE): with ``max_candidate_pairs``
    set (the default), the guard aggregate runs Spark jobs at CALL
    time — not at the first action on the result — and the exploded
    deletion-key frames are ``localCheckpoint(eager=False)``-ed so the
    guard and the join share one materialization. Lineage truncation
    is a fault-tolerance tradeoff: after executor loss the checkpointed
    blocks are NOT recomputed from source and the job fails instead
    (acceptable on a single-app cluster where the caller retries the
    action; pass ``max_candidate_pairs=None`` to keep the fully-lazy,
    recomputable plan at the cost of re-running the deletion-key UDF
    per consumer).
    """
    bl = F.col(block_left) if isinstance(block_left, str) else block_left
    br = F.col(block_right) if isinstance(block_right, str) else block_right
    # self-join detection lets the guard count each side once
    same_side = (
        left is right
        and left_col == right_col
        and (
            block_left is block_right
            or (
                isinstance(block_left, str)
                and isinstance(block_right, str)
                and block_left == block_right
            )
        )
    )
    if max_dist <= 2:
        # r14 (guide §4.1, §2.3): deletion keys come from JVM
        # higher-order functions (deletion_keys_expr) instead of the
        # pandas UDF — no Python boundary for the ~1+L+C(L,2)-element
        # fan-out — and the join carries xxhash64(key) longs instead of
        # key strings. Hashing is LOSSLESS here: SymSpell guarantees
        # every true lev≤max_dist pair already shares a key, collisions
        # can only ADD candidates, and the levenshtein verify drops
        # them; the guard's distinct-count estimate is unaffected
        # (64-bit collisions are negligible at any feasible key count).
        # r15: hash BEFORE the per-name dedup (deletion_key_hashes_expr)
        # so array_distinct runs on longs (O(n) hashset path, 0.94× the
        # string form at sf10) — the probed hash SET is identical.
        def dk(name_col):
            return F.explode(
                deletion_key_hashes_expr(name_col, max_dist)
            ).alias("__dk")

        n_shuffle = shuffle_partitions(left.sparkSession)
        # round-robin the COMPACT input before the deletion-key fan-out:
        # with a single-file input the whole explode (and the verify it
        # feeds) would otherwise run on ONE task (the r9 q61 lesson)
        l_in = left.select(
            bl.alias("__blk"), F.col(left_col).alias("__lk")
        ).repartition(n_shuffle)
        l_raw = l_in.select("__blk", "__lk", dk("__lk"))
        if max_candidate_pairs is not None:
            # the guard would otherwise re-run the ~170x explode once
            # per consumer: checkpoint the exploded frame lazily so
            # guard + join — and BOTH sides of a self-join — share one
            # materialization. max_candidate_pairs=None keeps the
            # fully-lazy unstored plan for callers who can't afford the
            # explode storage.
            l_raw = l_raw.localCheckpoint(eager=False)
        if same_side and max_candidate_pairs is not None:
            r = l_raw.select(
                "__blk", F.col("__lk").alias("__rk"), "__dk"
            )
        else:
            r_in = right.select(
                br.alias("__blk"), F.col(right_col).alias("__rk")
            ).repartition(n_shuffle)
            r = r_in.select("__blk", "__rk", dk("__rk"))
            if max_candidate_pairs is not None and not same_side:
                r = r.localCheckpoint(eager=False)
        if max_candidate_pairs is not None:
            # guard the PRE-join frames (partial aggs combine map-side;
            # the join-key exchange never runs for the guard)
            assert_blocked_join_budget(
                l_raw,
                None if same_side else r,
                ["__blk", "__dk"],
                max_candidate_pairs,
                "fuzzy_join",
            )
        l = l_raw.repartition(n_shuffle, "__blk", "__dk")
        dist = F.levenshtein(F.col("__lk"), F.col("__rk"))
        return (
            l.join(r, ["__blk", "__dk"])
            .select("__blk", "__lk", "__rk")
            .distinct()
            .where(dist <= max_dist)
            .select(
                F.col("__blk").alias("block_key"),
                F.col("__lk").alias("left_key"),
                F.col("__rk").alias("right_key"),
                dist.alias("edit_dist"),
            )
        )
    l = left.withColumn("__blk", bl)
    r = right.withColumn("__blk", br)
    if max_candidate_pairs is not None:
        assert_blocked_join_budget(
            l,
            None if same_side else r,
            ["__blk"],
            max_candidate_pairs,
            "fuzzy_join (block-only)",
        )
    dist = F.levenshtein(F.col(f"l.{left_col}"), F.col(f"r.{right_col}"))
    return (
        l.alias("l")
        .join(r.alias("r"), F.col("l.__blk") == F.col("r.__blk"))
        .where(dist <= max_dist)
        .select(
            F.col("l.__blk").alias("block_key"),
            F.col(f"l.{left_col}").alias("left_key"),
            F.col(f"r.{right_col}").alias("right_key"),
            dist.alias("edit_dist"),
        )
        .distinct()
    )


def _bucket_expr(cols: list[str], n_buckets: int) -> "F.Column":
    """Deterministic hash bucket in [0, n_buckets): md5 of the
    '|'-joined stringified keys, first 12 hex nibbles as an integer —
    the same cross-engine-reproducible idiom the sampling/checksum
    operators use (any engine with md5 + string ops can replicate it,
    unlike xxhash64)."""
    joined = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return (
        F.conv(F.substring(F.md5(joined), 1, 12), 16, 10).cast("long")
        % n_buckets
    )


def bloom_prune(
    left: DataFrame,
    right: DataFrame,
    left_on: str | list[str],
    right_on: str | list[str],
    n_buckets: int = 8192,
) -> DataFrame:
    """Runtime-filter (Bloom-style) pruning of a big probe side: keep
    only ``left`` rows whose key hash-bucket appears among ``right``'s
    key buckets. Guaranteed NO false negatives (every row that would
    join survives); false positives pass at a rate of roughly
    ``distinct(right keys) / n_buckets`` and are eliminated by the real
    join that follows.

    This is the manual form of Spark's own runtime bloom filter
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``), exposed as an
    operator so the pruning happens BEFORE an expensive shuffle the
    optimizer can't see through (e.g. ahead of an aggregation or a
    UDF-bearing stage). Build cost: one two-stage distinct-bucket
    aggregate over the (selective) build side — the broadcast payload is
    bounded by ``n_buckets`` longs regardless of data size; probe cost:
    a map-side filter, no shuffle. At 100 TB the probe side is never
    shuffled to discover it doesn't match.
    """
    lkeys = [left_on] if isinstance(left_on, str) else list(left_on)
    rkeys = [right_on] if isinstance(right_on, str) else list(right_on)
    if len(lkeys) != len(rkeys):
        raise ValueError("left_on and right_on must pair up")
    # Broadcast LEFT-SEMI hash join on the bucket value (r14): the old
    # form collected the buckets into ONE array column and probed with
    # array_contains under a BroadcastNestedLoopJoin — an O(n_buckets)
    # linear scan per probe row. The semi join builds the ≤ n_buckets
    # distinct bucket values into a broadcast hash relation instead, so
    # each probe row pays one hash lookup; membership semantics (and
    # therefore every surviving row) are identical, and the probe side
    # still sees no shuffle. The build side's distinct is a two-stage
    # hash aggregate whose map-side partials are already ≤ n_buckets
    # rows each.
    buckets = right.select(_bucket_expr(rkeys, n_buckets).alias("__b")).distinct()
    return left.join(
        F.broadcast(buckets),
        _bucket_expr(lkeys, n_buckets) == F.col("__b"),
        "left_semi",
    )


def bloom_prune_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str | list[str],
    right_on: str | list[str],
    how: str = "inner",
    n_buckets: int = 8192,
) -> DataFrame:
    """``bloom_prune`` the probe side, then run the exact equi-join.
    Result rows are identical to the plain join (the filter admits no
    false negatives); the join's shuffle moves only the candidate
    subset."""
    pruned = bloom_prune(left, right, left_on, right_on, n_buckets)
    lkeys = [left_on] if isinstance(left_on, str) else list(left_on)
    rkeys = [right_on] if isinstance(right_on, str) else list(right_on)
    cond = None
    for lk, rk in zip(lkeys, rkeys):
        c = pruned[lk] == right[rk]
        cond = c if cond is None else cond & c
    return pruned.join(right, cond, how)
