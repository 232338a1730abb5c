"""Deterministic sampling for training-data pipelines.

The reference has no sampling story (its producer replays everything);
these are the operators a 100 TB corpus needs before training: keep a
reproducible fraction per stratum, assign stable train/valid/test
splits, cap over-represented classes. All of them key off a HASH
BUCKET, never ``rand()``: the decision for a row is a pure function of
its id, so re-runs, retries, and both engines of the oracle agree
row-for-row, and adding data never reshuffles earlier decisions
(the property rand()-sampling loses).

Scale shape: ``stratified_sample`` and ``train_test_split`` are pure
per-row maps — zero shuffles at any data size, and the filter is
codegen'd into the scan. ``class_capped_sample`` is one window
shuffle on the class key; for classes too hot for one partition,
pre-filter with a stratified rate first (cap / approx class count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HASH_BUCKETS = 10_000


def hash_bucket(key: Column, n_buckets: int = HASH_BUCKETS) -> Column:
    """Deterministic bucket in [0, n_buckets): first 8 hex chars of
    md5(key) as an integer, mod n_buckets. md5 (not xxhash64) so the
    DuckDB oracle can reproduce it exactly; 32 bits >> bucket count,
    so the mod is uniform."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def sql_hash_bucket(key_expr: str, n_buckets: int = HASH_BUCKETS) -> str:
    """DuckDB twin of hash_bucket (hex parse via '0x' cast)."""
    return (
        f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {n_buckets})"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction: a row survives iff
    its hash bucket falls below rate * HASH_BUCKETS for its stratum.
    Unlisted strata get default_rate (0.0 = drop)."""
    thresh = F.lit(int(default_rate * HASH_BUCKETS))
    for value, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(rate * HASH_BUCKETS))
        ).otherwise(thresh)
    return df.filter(hash_bucket(F.col(key_col)) < thresh)


def train_test_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a stable split label by hash-bucket range:
    cumulative weight boundaries partition [0, HASH_BUCKETS). Weights
    must sum to 1; iteration order of the dict defines the ranges, so
    pass an ordered mapping like {"train": .8, "valid": .1, "test": .1}.
    """
    assert abs(sum(weights.values()) - 1.0) < 1e-9, "weights must sum to 1"
    b = hash_bucket(F.col(key_col))
    names = list(weights)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += weights[name]
        cond = b < F.lit(int(round(cum * HASH_BUCKETS)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # the last split takes the remaining bucket range, absorbing any
    # rounding drift in the boundaries
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, expr)


def class_capped_sample(
    df: DataFrame,
    class_col: str,
    key_col: str,
    cap: int,
) -> DataFrame:
    """At most ``cap`` rows per class, chosen deterministically: rank
    within the class by (hash bucket, key) — i.e. a reproducible
    pseudo-random draw — and keep the first ``cap``."""
    w = Window.partitionBy(class_col).orderBy(
        hash_bucket(F.col(key_col)), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def pps_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    scale: float,
) -> DataFrame:
    """Probability-proportional-to-size sampling: a row survives with
    probability min(1, weight/scale), decided by its hash bucket —
    deterministic like the other samplers (longer documents are kept
    more often, but the same document always gets the same answer).
    Zero-shuffle per-row map."""
    rate = F.least(
        F.lit(1.0), F.col(weight_col).cast("double") / F.lit(float(scale))
    )
    threshold = F.floor(rate * HASH_BUCKETS)
    return df.filter(hash_bucket(F.col(key_col)) < threshold)


def mixture_sample(
    df: DataFrame,
    class_col: str,
    key_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Domain-mixture sampling: draw the LARGEST corpus whose class
    shares match ``targets`` exactly (floor rounding), deterministic
    like the other samplers. The feasible total is bounded by the
    scarcest class, T = min over targeted classes of n_c / p_c; each
    class keeps its floor(p_c * T) lowest-(hash, key) rows. Classes
    absent from ``targets`` are dropped.

    Two passes at any scale: one count aggregate (|classes| rows,
    broadcast back as literals via a join), then the same per-class
    rank-and-cap window class_capped_sample uses. The caps come from
    DATA + targets, which is what separates a mixture draw from a
    fixed per-class cap.

    Edge semantics (declared): a targeted class with ZERO rows in the
    data simply contributes nothing — the feasible-total minimum runs
    over PRESENT classes, so the result is the largest mixture over
    the classes that exist rather than an empty corpus. Callers that
    need strict infeasibility should check the class inventory first.
    """
    tgt = [(c, float(p)) for c, p in sorted(targets.items()) if p > 0]
    tgt_df = df.sparkSession.createDataFrame(tgt, [class_col, "__p"])
    counts = (
        df.join(F.broadcast(tgt_df), class_col)
        .groupBy(class_col, "__p")
        .agg(F.count("*").alias("__n"))
    )
    total = counts.agg(
        F.min(F.col("__n").cast("double") / F.col("__p")).alias("__t")
    )
    caps = counts.crossJoin(F.broadcast(total)).select(
        class_col,
        F.floor(F.col("__p") * F.col("__t")).cast("long").alias("__cap"),
    )
    w = Window.partitionBy(class_col).orderBy(
        hash_bucket(F.col(key_col)), F.col(key_col)
    )
    return (
        df.join(F.broadcast(caps), class_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("__cap"))
        .select(*df.columns)
    )


def pps_wor_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    max_weight: int = 1024,
) -> DataFrame:
    """FIXED-SIZE probability-proportional-to-size sampling WITHOUT
    replacement — the exact sequential PPS-WOR distribution, derived
    hash-deterministically and libm-free.

    Construction: give every row ``w`` i.i.d. pseudo-uniform
    candidates (md5 of key|j for j in 1..w) and rank rows by their
    MINIMUM candidate. For i.i.d. continuous candidates this ordering
    realizes exact successive PPS-WOR: the global minimum lands in
    row A with probability w_A / W (symmetry over all W candidates),
    and conditioning on A's selection leaves the other rows'
    candidates i.i.d. above the cut — so the next pick has
    probability w_B / (W - w_A), and so on. The md5 hex candidates
    are deterministic pseudo-uniforms (declared semantics, like every
    sampler in this module) and compare identically in any engine —
    no pow/ln, whose last-ulp behavior is libm-specific, anywhere.

    Cost: one explode bounded by ``max_weight`` (weights above it
    raise — at production scale either bucket the weight into coarser
    units or switch to the exponential-race form and accept a libm
    dependency), one min-aggregate per row, one global top-k. The
    explode factor IS the weight, so keep weights in the tens-to-
    hundreds; the aggregate and top-k are the same shuffle shape as
    any ranked sample.

    Returns the k sampled rows as (rank, key, weight)."""
    w = F.col(weight_col).cast("long")
    keyed = df.select(
        F.col(key_col).alias("key"), w.alias("weight")
    ).filter(
        F.assert_true(
            (F.col("weight") >= 1) & (F.col("weight") <= max_weight),
            F.concat(
                F.lit(
                    "pps_wor_sample: weight outside [1, "
                    f"{max_weight}] (explode bound); bucket weights "
                    "coarser first. Got "
                ),
                F.col("weight").cast("string"),
            ),
        ).isNull()
    )
    cand = keyed.select(
        "key",
        "weight",
        F.explode(F.sequence(F.lit(1), F.col("weight"))).alias("j"),
    ).select(
        "key",
        "weight",
        F.md5(
            F.concat_ws(
                "|", F.col("key").cast("string"), F.col("j").cast("string")
            )
        ).alias("h"),
    )
    mins = cand.groupBy("key", "weight").agg(F.min("h").alias("min_h"))
    w_rank = Window.orderBy(F.asc("min_h"), F.asc("key"))
    return (
        mins.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("rank", "key", "weight")
    )


BOTTOMK_K = 8  # per-group sample size


def bottomk_sample_by_group(
    df: DataFrame,
    group: Column,
    unit: Column,
    k: int = BOTTOMK_K,
) -> DataFrame:
    """Deterministic bottom-k (KMV) sample per group: the ``k`` rows
    whose md5(unit) is smallest — uniform over units for a
    hash-random key, with three properties Bernoulli/rate sampling
    (stratified_sample) lacks:
    - EXACT sample size per group (k, or the group size if smaller);
    - MERGEABLE: bottom-k of a union = prune(union of bottom-ks), so
      partitions, partial files, and stream epochs combine exactly —
      this is the classic KMV sketch, and the k-th smallest hash
      doubles as a distinct-count estimator;
    - stable under growth: adding data only ever evicts, never
      reshuffles, earlier picks.

    Returns (g, unit, h) — h kept so downstream merges re-prune
    without recomputing hashes. Ties pinned by (h, unit); one window
    shuffle keyed by group (rank-limit pushes WindowGroupLimit, so
    per-group state in the exec is k rows)."""
    staged = df.select(
        group.alias("g"),
        unit.alias("unit"),
        F.md5(unit.cast("string")).alias("h"),
    ).filter(
        # NULL units hash to NULL, which sorts NULLS FIRST in Spark's
        # ascending window but NULLS LAST in DuckDB — and a NULL row
        # should never consume a sample slot. Excluded in both engines.
        F.col("unit").isNotNull()
    )
    w = Window.partitionBy("g").orderBy("h", "unit")
    return (
        staged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def bottomk_sample_maintain_stream(
    spark,
    df: DataFrame,
    group: Column,
    unit: Column,
    k: int = BOTTOMK_K,
    n_slices: int = 3,
    order_cols: list | None = None,
) -> DataFrame:
    """Streaming per-group bottom-k sample MAINTENANCE — the
    reservoir-sampling story for streams, without reservoir
    sampling's order-dependence: because bottom-k is mergeable
    (see bottomk_sample_by_group), each epoch prunes
    (state ∪ fresh-batch bottom-k) back to k per group, so state is
    bounded at groups × k rows FOREVER and the final epoch equals the
    batch sample over all data regardless of arrival order — the
    entry shares the batch oracle twin.

    Per-epoch invariant asserted (inside the materializing job):
    state never exceeds k rows per group."""
    from ..streaming.replay import maintain

    def prune(rows: DataFrame, g: Column, u: Column) -> DataFrame:
        # bottom-k, with the at-most-k invariant checked in the same
        # job that materializes the block (no separate count job)
        return (
            bottomk_sample_by_group(rows, g, u, k)
            .withColumn("_n", F.count("*").over(Window.partitionBy("g")))
            .filter(
                F.assert_true(
                    F.col("_n") <= k,
                    "bottomk_sample_maintain_stream: a group kept more "
                    f"than {k} rows — prune failed",
                ).isNull()
            )
            .drop("_n")
        )

    return maintain(
        spark,
        df,
        lambda b: prune(b, group, unit),
        lambda acc, *_: acc,
        order_cols=order_cols,
        n_slices=n_slices,
        merge=lambda acc, fresh: prune(
            acc.unionByName(fresh), F.col("g"), F.col("unit")
        ).localCheckpoint(eager=True),
    )


# ------------- stratified sampling under a TOTAL budget (batch+stream) ------

STRAT_BUDGET = 24  # total sample budget across all strata


def stratified_budget_alloc(
    counts: DataFrame, budget: int = STRAT_BUDGET
) -> DataFrame:
    """Largest-remainder (Hamilton) allocation of a total ``budget``
    across strata: given (g, w) weight rows — w = stratum size for
    proportional allocation, or any non-negative integer weight such
    as a scaled n_g*sd_g for Neyman-style allocation — returns
    (g, k_g) with k_g = floor(budget*w/W) plus one extra for the
    largest remainders until the floors sum to the budget. Integer-
    exact in both engines (non-negative operands, so Spark's
    truncating div == DuckDB's flooring //).

    The two 1-row totals broadcast; the remainder rank is an
    unpartitioned window over the STRATA table only (bounded by the
    number of strata, never data-proportional — the adjudicated
    small-table window class)."""
    tot = counts.agg(F.sum("w").alias("wtot"))
    base = counts.crossJoin(F.broadcast(tot)).select(
        "g",
        F.expr(f"({budget} * w) div wtot").alias("base"),
        F.expr(f"({budget} * w) % wtot").alias("rem"),
    )
    sb = base.agg(F.sum("base").alias("SB"))
    w_rank = Window.orderBy(F.desc("rem"), F.asc("g"))
    return (
        base.crossJoin(F.broadcast(sb))
        .withColumn("_r", F.row_number().over(w_rank))
        .select(
            "g",
            (
                F.col("base")
                + F.when(
                    F.col("_r") <= F.lit(budget) - F.col("SB"), 1
                ).otherwise(0)
            ).alias("k_g"),
        )
    )


def stratified_budget_sample(
    df: DataFrame,
    stratum: Column,
    unit: Column,
    budget: int = STRAT_BUDGET,
    weight_counts: DataFrame | None = None,
) -> DataFrame:
    """Stratified sample of EXACTLY ``budget`` rows total (when the
    data has them): allocate the budget across strata by largest-
    remainder proportional allocation (or caller-supplied (g, w)
    weights, e.g. Neyman), then take the k_g smallest md5(unit) per
    stratum — the deterministic bottom-k primitive, so the sample is
    mergeable, growth-stable, and shared with the streaming form.

    Scale shape: one count aggregate over the data, two 1-row totals
    + a strata-sized allocation table (broadcast into the rank
    filter), and ONE group-keyed window whose rank<=budget constant
    bound pushes WindowGroupLimit (per-group exec state is ``budget``
    rows); the variable k_g cut applies after the broadcast join.
    NULL units are excluded (same contract as
    bottomk_sample_by_group)."""
    staged = df.select(
        stratum.alias("g"),
        unit.alias("unit"),
        F.md5(unit.cast("string")).alias("h"),
    ).filter(F.col("unit").isNotNull())
    counts = (
        weight_counts
        if weight_counts is not None
        else staged.groupBy("g").agg(F.count("*").cast("long").alias("w"))
    )
    alloc = stratified_budget_alloc(counts, budget)
    w = Window.partitionBy("g").orderBy("h", "unit")
    ranked = (
        staged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= budget)  # constant bound -> group limit
    )
    return (
        ranked.join(F.broadcast(alloc), "g")
        .filter(F.col("_rn") <= F.col("k_g"))
        .select("g", "unit", "h")
    )


def stratified_budget_sample_maintain_stream(
    spark,
    df: DataFrame,
    stratum: Column,
    unit: Column,
    budget: int = STRAT_BUDGET,
    n_slices: int = 3,
    order_cols: list | None = None,
) -> DataFrame:
    """Streaming stratified-budget sample MAINTENANCE — the streaming
    reservoir/stratified story without reservoir order-dependence.
    State per stratum is (exact count, bottom-``budget`` rows): both
    mergeable, so each epoch folds the fresh batch in exactly
    (counts add; rows prune back to ``budget``), and state is bounded
    at strata x (budget + 1) rows FOREVER. The readout re-derives the
    allocation from the accumulated counts each epoch — a stratum's
    k_g moves as the mix drifts, and because the retained bottom-
    ``budget`` superset covers every k_g <= budget, the final epoch
    EQUALS the batch sample over all data regardless of arrival
    order (shares the batch oracle twin).

    Per-epoch invariant asserted: no stratum retains more than
    ``budget`` rows."""
    from ..streaming.replay import replay_fold

    state: dict = {"counts": None, "best": None, "result": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        staged = batch_df.select(
            stratum.alias("g"),
            unit.alias("unit"),
            F.md5(unit.cast("string")).alias("h"),
        ).filter(F.col("unit").isNotNull())
        fresh_counts = staged.groupBy("g").agg(
            F.count("*").cast("long").alias("w")
        )
        fresh_best = bottomk_sample_by_group(
            batch_df, stratum, unit, budget
        )
        if state["counts"] is None:
            counts, best = fresh_counts, fresh_best
        else:
            counts = (
                state["counts"]
                .unionByName(fresh_counts)
                .groupBy("g")
                .agg(F.sum("w").cast("long").alias("w"))
            )
            best = bottomk_sample_by_group(
                state["best"].unionByName(fresh_best),
                F.col("g"),
                F.col("unit"),
                budget,
            )
        counts = counts.localCheckpoint(eager=True)
        best = best.localCheckpoint(eager=True)
        over = (
            best.groupBy("g")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > budget)
            .limit(1)
            .count()
        )
        if over:
            raise AssertionError(
                f"stratified_budget_sample_maintain_stream: epoch "
                f"{epoch_id} left more than {budget} rows in a stratum"
            )
        alloc = stratified_budget_alloc(counts, budget)
        w = Window.partitionBy("g").orderBy("h", "unit")
        state["counts"] = counts
        state["best"] = best
        state["result"] = (
            best.withColumn("_rn", F.row_number().over(w))
            .join(F.broadcast(alloc), "g")
            .filter(F.col("_rn") <= F.col("k_g"))
            .select("g", "unit", "h")
        )

    replay_fold(
        spark,
        df,
        fold,
        n_slices=n_slices,
        order_cols=order_cols,
    )
    return state["result"]
