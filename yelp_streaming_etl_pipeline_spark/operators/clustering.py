"""Distributed k-means (Lloyd's algorithm) over embedding columns.

The iterative-ML shape on DataFrames: each iteration is
(1) assignment — every vector scored against the broadcast centroid
set, argmin via a partial aggregate (NOT a window: the aggregate
collapses the n x k cross product map-side before the exchange);
(2) update — per-(cluster, dimension) means via one posexplode +
hash aggregate, rebuilt into centroid arrays. The loop composes
lazily: no driver-side collect anywhere, the final plan is
``iters`` chained broadcast-join/aggregate stages (Spark MLlib
collects centers to the driver per iteration; we keep them
distributed and the broadcast does the same job).

EXACTNESS ACROSS ENGINES — the interesting part. Float means are
order-dependent (partial aggregation sums in partition-scheduling
order), which would make cluster assignments flap between runs and
engines. So the whole algorithm runs in QUANTIZED INTEGER space:

- each component is quantized once on input:
  ``floor(x * 10^qs + 0.5) + OFFSET`` as a 64-bit integer (OFFSET
  shifts everything positive, so the only cross-engine division
  below is on non-negative operands where Spark's truncating ``div``
  and DuckDB's flooring ``//`` agree);
- squared-euclidean distances are exact integer folds, and the
  OFFSET cancels in every difference, so it never needs removing;
- the centroid update is integer round-half-up WITHOUT floats:
  ``(2 * sum + n) div (2 * n)``, exact at any scale (a 100 TB
  cluster sum of 2e9-magnitude components stays under 2^63 up to
  ~4e9 members; past that the hi/lo two-long split of
  functions/rounding.py applies unchanged).

Ties (equal integer distances) break toward the lower centroid id —
pinned identically in the Spark ``min_by`` struct and the oracle's
``row_number`` ORDER BY. A centroid that captures no members drops
out (its group never materializes) — declared semantics.

Centroid seeding is the deterministic ``vec_id < k`` subsample to
keep the operator oracle-checkable end-to-end; swap k-means++ at
production scale without changing the iteration shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_QS = 6  # 1e-6 component resolution
KMEANS_OFFSET = 10**9


def quantize_vec(vec: Column, qs: int = KMEANS_QS) -> Column:
    """array<float> -> array<long>: stable per-component quantization
    shifted non-negative (see module docstring)."""
    m = F.lit(float(10**qs))
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * m + F.lit(0.5)).cast("long")
        + F.lit(KMEANS_OFFSET),
    )


def _sq_dist(a: Column, b: Column, dim: int | None = None) -> Column:
    """Exact integer squared-euclidean distance between long arrays.

    With ``dim`` (statically known width) the fold unrolls into flat
    codegen'd arithmetic — higher-order functions are CodegenFallback
    (interpreted per element), which dominates when the expression
    sits on an n_vecs x n_centroids joined table. Integer adds are
    exact in any order, so the unrolled form is trivially identical;
    only pass dim when every array is exactly that long."""
    if dim is not None:
        acc: Column = F.lit(0).cast("long")
        for i in range(1, dim + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            acc = acc + d * d
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign(base: DataFrame, cent: DataFrame) -> DataFrame:
    """(vid, qvec) x broadcast(cid, cvec) -> nearest centroid per vid
    via argmin partial aggregate; ties to the lower cid."""
    scored = base.crossJoin(F.broadcast(cent)).withColumn(
        "dist", _sq_dist(F.col("qvec"), F.col("cvec"))
    )
    best = F.min(F.struct(F.col("dist"), F.col("cid"))).alias("best")
    return (
        scored.groupBy("vid")
        .agg(best, F.first("qvec").alias("qvec"))
        .select(
            "vid",
            "qvec",
            F.col("best.cid").alias("cid"),
            F.col("best.dist").alias("dist"),
        )
    )


def _per_dim_stats(assigned: DataFrame) -> DataFrame:
    """Associative Lloyd-update state: per-(cluster, dim) integer
    (sum, count) partials — mergeable across any partitioning OR any
    micro-batch split, which is what makes the streaming maintenance
    exact (see kmeans_maintain_stream)."""
    return (
        assigned.select("cid", F.posexplode(F.col("qvec")).alias("j", "q"))
        .groupBy("cid", "j")
        .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
    )


def _cent_from_stats(per_dim: DataFrame) -> DataFrame:
    """(cid, j, s, n) -> centroid arrays via the exact integer
    round-half-up mean (2s + n) div (2n); operands are non-negative
    (KMEANS_OFFSET shift) so Spark div == DuckDB //."""
    return (
        per_dim.withColumn("cq", F.expr("(2 * s + n) div (2 * n)"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), F.col("cq")))
                ),
                lambda x: x.getField("cq"),
            ).alias("cvec")
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Per-(cluster, dim) integer round-half-up mean -> new centroid
    arrays. One explode + one hash aggregate + one rebuild."""
    return _cent_from_stats(_per_dim_stats(assigned))


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; returns the final assignment
    (vec_id, cluster_id, sq_dist) with sq_dist in exact quantized
    units (BIGINT)."""
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        quantize_vec(F.col(vec_col)).alias("qvec"),
    )
    cent = base.filter(F.col("vid") < k).select(
        F.col("vid").alias("cid"), F.col("qvec").alias("cvec")
    )
    for _ in range(iters):
        cent = _update(_assign(base, cent))
    final = _assign(base, cent)
    return final.select(
        F.col("vid").alias("vec_id"),
        F.col("cid").alias("cluster_id"),
        F.col("dist").alias("sq_dist"),
    )


def kmeans_maintain_stream(
    spark,
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    n_slices: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming k-means centroid MAINTENANCE: points arrive in
    ascending-id micro-batches; the first Lloyd update is maintained
    as genuinely ASSOCIATIVE per-(cluster, dim) (sum, count) state.

    Why iteration 1 streams exactly: its assignment target is the
    FIXED seed centroids (vid < k, pinned from the first batch), so a
    new point's seed-assignment never changes as the corpus grows —
    per epoch only the NEW points are assigned and their (sum, count)
    partials merged into state (epoch cost independent of accumulated
    size; merge is a keyed aggregate over <= k x dim state rows).
    Later iterations' targets move with the data, so each epoch
    finishes them (iters - 1 update/assign rounds) over the
    accumulated point set — the same bounded re-run discipline as
    kcore/LPA maintenance, with the expensive first sweep incremental.

    Per-epoch invariant: the state's per-dim point count must equal
    the accumulated corpus size (every point counted exactly once in
    exactly one cluster) — asserted each epoch.

    State story at 100 TB: the (cid, j, s, n) table IS the streaming
    state (k x dim rows, constant-size); in production it lives in
    the state store / a compacted table and the epoch merge is
    map-side. The final epoch's assignment equals batch kmeans_lloyd
    over all points, so the entry shares kmeans_clusters' oracle."""
    from ..streaming.replay import replay_fold

    state: dict = {"cent0": None, "stats": None, "pts": None, "result": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.select(
            F.col(id_col).alias("vid"),
            quantize_vec(F.col(vec_col)).alias("qvec"),
        ).localCheckpoint(eager=True)
        if state["cent0"] is None:
            cent0 = b.filter(F.col("vid") < k).select(
                F.col("vid").alias("cid"), F.col("qvec").alias("cvec")
            ).localCheckpoint(eager=True)
            n_seeds = cent0.count()
            if n_seeds != k:
                raise AssertionError(
                    f"kmeans_maintain_stream: first batch carries "
                    f"{n_seeds}/{k} seed centroids — ascending-id "
                    "staging must deliver ids < k in epoch 0"
                )
            state["cent0"] = cent0
        # associative iteration-1 maintenance: NEW points only
        fresh = _per_dim_stats(_assign(b, state["cent0"]))
        merged = (
            fresh
            if state["stats"] is None
            else state["stats"]
            .unionByName(fresh)
            .groupBy("cid", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        )
        state["stats"] = merged.localCheckpoint(eager=True)
        # lazy union of immutable per-epoch blocks (maintain's policy)
        state["pts"] = (
            b if state["pts"] is None else state["pts"].unionByName(b)
        )
        n_acc = state["pts"].count()
        counted = (
            state["stats"].filter(F.col("j") == 0)
            .agg(F.sum("n").alias("t"))
            .collect()[0]["t"]
        )
        if counted != n_acc:
            raise AssertionError(
                f"kmeans_maintain_stream: epoch {epoch_id} state counts "
                f"{counted} point(s) but {n_acc} accumulated — the "
                "associative partition invariant is broken"
            )
        # finish: centroids from state, then the moving iterations
        cent = _cent_from_stats(state["stats"])
        for _ in range(iters - 1):
            cent = _update(_assign(state["pts"], cent))
        state["result"] = _assign(state["pts"], cent).select(
            F.col("vid").alias("vec_id"),
            F.col("cid").alias("cluster_id"),
            F.col("dist").alias("sq_dist"),
        )

    replay_fold(
        spark,
        embeddings.select(id_col, vec_col),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    return state["result"]
