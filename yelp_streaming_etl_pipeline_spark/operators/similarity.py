"""Similarity search over embedding columns (north-star extension).

Operators over ``embeddings.embedding`` (array<float>, dim 64):

- cosine_topk          brute-force exact top-k: broadcast the (small)
                       query set against the corpus; per-(query, doc)
                       cosine via zip_with/aggregate — JVM-side, no
                       UDF. The exact baseline every ANN variant is
                       measured against.
- lsh_bucketed_topk    random-hyperplane LSH: b signed projections
                       against deterministic pseudo-random hyperplanes
                       -> bucket key; candidates = same-bucket docs
                       (multi-probe = hamming-1 neighbors optional).
                       At 100 TB the bucket key becomes the shuffle /
                       partition key and the quadratic term drops to
                       per-bucket size.
- cosine_neardup_pairs embedding near-duplicate pairs within a label
                       block (cosine >= tau).

Determinism: element values are cast float->double BEFORE any
arithmetic (exact conversion), accumulation is index-ordered, and both
the Spark and oracle sides use dot / sqrt(na * nb) in that exact
shape — bit-identical doubles, so ranking is stable across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two numeric arrays in double space.

    With ``dim`` (a statically known vector width) the fold unrolls
    into a flat arithmetic expression: higher-order functions
    (zip_with/aggregate) are CodegenFallback — evaluated interpreted,
    per element — which dominates CPU when the expression sits on an
    n_vecs x n_centroids joined table. The unrolled form is
    bit-identical to the fold: same 0.0 seed, same left-associated
    addition order, same per-element double casts. Callers pass dim
    only when every array is exactly that long (out-of-range
    element_at would throw under ANSI)."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + F.element_at(a, i).cast("double") * F.element_at(
                b, i
            ).cast("double")
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sqnorm(a: Column, dim: int | None = None) -> Column:
    """Sum of squares; ``dim`` unrolls exactly like _dot."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            e = F.element_at(a, i).cast("double")
            acc = acc + e * e
        return acc
    return F.aggregate(
        a,
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double") * v.cast("double"),
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return _dot(a, b, dim) / F.sqrt(_sqnorm(a, dim) * _sqnorm(b, dim))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` is expected to be small (it is broadcast); the corpus
    streams through a single codegen'd projection, then a per-query
    window picks the top k. Excludes self-matches.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


def hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component: interleaved
    cosines — fixed, seedless, reproducible anywhere (including SQL
    literals for the oracle)."""
    return [math.cos(0.7 * plane_idx + 1.3 * j + 0.1) for j in range(dim)]


def lsh_bucket_key(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-of-projection bucket key: one bit per hyperplane.

    The plane matrix is one nested array literal and the projection a
    zip_with/aggregate fold — a compact expression tree (a chained
    512-term add makes analysis+codegen the dominant cost). The fold
    starts at 0.0, so accumulation order matches the oracle's explicit
    t1+t2+...  exactly (0.0+t1 == t1 bitwise)."""
    planes = F.array(
        *[
            F.array(*[F.lit(w) for w in hyperplane(dim, p)])
            for p in range(n_planes)
        ]
    )
    bits = F.transform(
        planes,
        lambda plane: F.when(
            F.aggregate(
                F.zip_with(vec, plane, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's LSH bucket.

    Scale path: bucket key is the join/shuffle key; per-bucket corpus
    size ~ n / 2^planes. Recall < 1.0 by design — the exact
    cosine_topk is the correctness baseline; this is the throughput
    variant. Fewer than k same-bucket neighbors -> fewer rows.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_bucket_key(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket_key(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


IVF_CENTROID_MOD = 40  # vec_id % MOD == 0 -> coarse-quantizer centroid
IVF_NPROBE = 2


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_mod: int = IVF_CENTROID_MOD,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: coarse quantizer + inverted
    lists + nprobe.

    Structure (the FAISS IVF-Flat shape, expressed relationally):
      1. centroids — a deterministic subsample of the corpus stands in
         for k-means centers (id % centroid_mod == 0), keeping the
         whole index oracle-checkable; swap in KMeans fit offline at
         production scale without changing this query shape.
      2. inverted lists — every corpus vector is assigned to its
         nearest centroid via a BROADCAST of the (small) centroid set;
         the assignment becomes the partition key of the lists.
      3. search — each query probes its ``nprobe`` nearest centroids
         and scores exact cosine against ONLY those lists: the scored
         set shrinks from n to ~n * nprobe / n_centroids.

    At 100 TB the lists are bucketed/partitioned by ``centroid_id`` so
    a probe touches only matching partitions; the quadratic term never
    materializes. Recall < 1.0 by design (cosine_topk is the exact
    baseline)."""
    # centroid norms computed once per broadcast row, vector norms once
    # per corpus/query row — not once per (vec, centroid) pair; c_sim
    # stays dot / sqrt(n_v * n_c), bit-identical (same doubles through
    # the same combining expression), one dim-wide fold per pair
    # instead of three
    cent = corpus.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        _sqnorm(F.col(vec_col)).alias("_c_nrm"),
    )

    def cent_scored(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_v_nrm", _sqnorm(F.col("vec")))
            .crossJoin(F.broadcast(cent))
            .withColumn(
                "c_sim",
                _dot(F.col("vec"), F.col("cent_vec"))
                / F.sqrt(F.col("_v_nrm") * F.col("_c_nrm")),
            )
        )

    # List assignment is the scale-critical step: an argmax AGGREGATE
    # (max_by with partial/map-side combine), NOT a window — a window
    # would shuffle the whole n x n_centroids cross product, while the
    # partial aggregate collapses it to one row per vector before the
    # exchange. Tie-break (higher sim, then lower centroid_id) pinned
    # via lexicographic struct ordering to match the oracle's
    # row_number(ORDER BY sim DESC, centroid_id ASC).
    lists = (
        cent_scored(
            corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("vec"))
        )
        .groupBy("nid")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(F.col("c_sim"), (-F.col("centroid_id")).alias("nc")),
            ).alias("centroid_id"),
            F.first("vec").alias("vec"),
        )
        .select(F.col("nid").alias("neighbor_id"), "centroid_id", "vec")
    )
    # queries are the SMALL side: a window for the top-nprobe centroids
    # is fine there (the shuffle is |queries| * n_centroids rows)
    wq = Window.partitionBy("qid").orderBy(F.desc("c_sim"), F.asc("centroid_id"))
    probes = (
        cent_scored(
            queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("vec"))
        )
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= nprobe)
        .select(
            F.col("qid").alias("query_id"),
            "centroid_id",
            F.col("vec").alias("q_vec"),
        )
    )

    scored = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


def with_synthetic_vec_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Test-harness helper: plant deterministic duplicate vectors —
    exact copies (vec_id % 29 == 0 -> +100000) and jittered copies
    (+200000, per-component multiplicative jitter built from integer
    arithmetic only, so Spark and the SQL oracle agree bit-for-bit;
    cosine vs original ~0.99998). Mirrored in
    oracles.sql_vec_dup_corpus()."""
    exact = embeddings.filter(F.col(id_col) % 29 == 0).withColumn(
        id_col, F.col(id_col) + F.lit(100_000)
    )
    near = (
        embeddings.filter(F.col(id_col) % 29 == 0)
        .withColumn(id_col, F.col(id_col) + F.lit(200_000))
        .withColumn(
            vec_col,
            F.transform(
                F.sequence(F.lit(1), F.size(F.col(vec_col))),
                lambda i: (
                    F.element_at(F.col(vec_col), i.cast("int")).cast("double")
                    * (
                        F.lit(1.0)
                        + F.lit(0.001) * (((i * 37) % 13) - 6).cast("double")
                    )
                ).cast("float"),
            ),
        )
    )
    return embeddings.unionByName(exact).unionByName(near)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    tau: float = 0.9,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= tau within a blocking
    key. Quadratic within the block only (at scale: block = LSH bucket
    or cluster assignment)."""
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("vec"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.vid") < F.col("b.vid")),
    ).withColumn("sim", cosine(F.col("a.vec"), F.col("b.vec")))
    return (
        pairs.filter(F.col("sim") >= tau)
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.col("a.block").alias("block"),
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


def _flip_bit(bucket: Column, i: int, n: int) -> Column:
    ch = F.substring(bucket, i + 1, 1)
    flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(
        F.substring(bucket, 1, i), flipped, F.substring(bucket, i + 2, n - i - 1)
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multiprobe LSH top-k: each query probes its own bucket AND all
    hamming-1 neighbors (one flipped hyperplane sign), trading
    (n_planes+1)x more candidate comparisons for the recall lost to
    near-boundary projections. The probe fan-out happens on the tiny
    QUERY side (explode before the broadcast); the corpus is still
    scanned once with one bucket key per vector — at scale the join
    stays an equi-join on the bucket, so cost grows with probes x
    per-bucket size, never with corpus x queries."""
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            lsh_bucket_key(F.col(vec_col), dim, n_planes).alias("qb"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.col("qb"),
                    *[
                        _flip_bit(F.col("qb"), i, n_planes)
                        for i in range(n_planes)
                    ],
                )
            ),
        )
        .drop("qb")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        lsh_bucket_key(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


# ---------------- int8 quantized two-stage retrieval ----------------

def quantize_embedding(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization: q_i = floor(x_i * 127 /
    max|x| + 0.5); an all-zero vector quantizes to zeros. The scale is
    per-vector and positive, and cosine is per-vector scale-invariant,
    so cosine over the quantized ints approximates true cosine with no
    need to store the scale at all.

    The 100 TB lever: the embedding column drops from float32[dim] to
    int8[dim] — 4x less to scan, shuffle, and cache for the stage-1
    sweep; the float originals are fetched only for the tiny re-rank
    candidate set."""
    ma = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    q = F.transform(
        vec,
        lambda x: F.floor(
            x.cast("double") * F.lit(127.0) / ma + F.lit(0.5)
        ).cast("int"),
    )
    return F.when(ma > 0, q).otherwise(
        F.transform(vec, lambda x: F.lit(0))
    )


def _idot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_cosine(a: Column, b: Column) -> Column:
    """Cosine of two int8-quantized vectors — exact integer dots, one
    double division; zero vectors pin to -2.0 (sorts last)."""
    daa, dbb = _idot(a, a), _idot(b, b)
    return F.when(
        (daa > 0) & (dbb > 0),
        _idot(a, b).cast("double")
        / F.sqrt(daa.cast("double") * dbb.cast("double")),
    ).otherwise(F.lit(-2.0))


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval: (1) sweep the int8-quantized corpus for
    each query's top k*rerank_factor candidates (integer dot products
    over 4x-smaller rows), (2) re-rank ONLY those candidates with
    exact float cosine. Deterministic end to end, so the approximation
    is oracle-checkable, and the output schema matches cosine_topk.

    Scale shape: stage 1 is the same broadcast-queries sweep as
    cosine_topk but over quantized rows; stage 2 broadcasts the
    candidate list (|queries| * k * rerank_factor rows) back onto the
    float corpus — the full-precision column is read for a vanishing
    fraction of the corpus."""
    qz_c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        quantize_embedding(F.col(vec_col)).alias("c_q"),
    )
    qz_q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_embedding(F.col(vec_col)).alias("q_q"),
    )
    m = k * rerank_factor
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("neighbor_id")
    )
    cand = (
        qz_c.crossJoin(F.broadcast(qz_q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qsim", quantized_cosine(F.col("c_q"), F.col("q_q")))
        .withColumn("qrank", F.row_number().over(w1))
        .filter(F.col("qrank") <= m)
        .select("query_id", "neighbor_id")
    )

    c_full = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    q_full = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        c_full.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q_full), "query_id")
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


# ---------------- random-projection compression ----------------

RP_OUT_DIM = 16
RP_IN_DIM = 64
_RP_MULT = 2654435761  # Knuth multiplicative constant


def rp_sign(k: int, j: int) -> float:
    """Deterministic +-1 sign for output dim k / input dim j: bit 13
    of a Knuth-multiplied index hash. One Python function is the
    single source of truth — both the Spark plan and the DuckDB twin
    embed its values as literals, so there is no cross-dialect hash
    to keep in sync."""
    return 1.0 if ((k * 73 + j * 179) * _RP_MULT >> 13) & 1 == 0 else -1.0


def rp_matrix(out_dim: int = RP_OUT_DIM, in_dim: int = RP_IN_DIM):
    return [
        [rp_sign(k, j) for j in range(in_dim)] for k in range(out_dim)
    ]


def project_embeddings(
    df: DataFrame,
    out_dim: int = RP_OUT_DIM,
    in_dim: int = RP_IN_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection dimensionality reduction (Achlioptas
    2003: +-1 entries preserve inner products in expectation), 64->16
    doubles = 4x smaller vectors for downstream ANN/clustering.

    Scale shape: a PURE MAP — each output coordinate is an
    index-ordered fold over the row's own array against a literal
    sign vector (no join, no shuffle, no UDF); at 100 TB the cost is
    scan bandwidth. Output is exploded to (id, k, proj) rows so the
    result is a plain relational table.

    Determinism: float->double casts are exact, accumulation is
    index-ordered from 0.0, and the oracle twin unrolls the identical
    left-associated sum — bit-identical doubles on both sides.
    """
    mat = rp_matrix(out_dim, in_dim)
    vec = F.col(vec_col)
    projs = [
        F.aggregate(
            F.zip_with(
                vec,
                F.lit(mat[k]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for k in range(out_dim)
    ]
    return df.select(
        F.col(id_col), F.posexplode(F.array(*projs)).alias("k", "proj")
    )


# ---------------- semantic dedup (SemDeDup-style) ----------------

SEMDEDUP_CENTROID_MOD = 25
SEMDEDUP_TAU = 0.99


def semantic_dedup(
    embeddings: DataFrame,
    tau: float = SEMDEDUP_TAU,
    centroid_mod: int = SEMDEDUP_CENTROID_MOD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication in embedding space (the SemDeDup shape,
    Abbas et al. 2023): cluster by nearest centroid, then inside each
    cluster prune any vector that has a near-identical (cosine >=
    ``tau``) neighbor with a smaller id — greedy first-seen-wins,
    declared semantics.

    Scale shape: centroid assignment is a BROADCAST of the small
    centroid set + an argmax partial aggregate (one shuffle keyed by
    id); the quadratic similarity term runs WITHIN a cluster only, so
    the 100 TB cost is sum of per-cluster squares, never n^2 — the
    same blocking argument as cosine_neardup_pairs, with the cluster
    id as the learned blocking key. Centroids here are a
    deterministic corpus subsample (id % centroid_mod) to keep the
    whole operator oracle-checkable; swap an offline k-means fit at
    production scale without changing the query shape.

    Returns (vec_id, centroid_id, kept) for every input vector.
    """
    cent = embeddings.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
    )
    assigned = (
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        )
        .crossJoin(F.broadcast(cent))
        .withColumn("c_sim", cosine(F.col("vec"), F.col("cent_vec")))
        .groupBy("vid")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(
                    F.col("c_sim"), (-F.col("centroid_id")).alias("nc")
                ),
            ).alias("centroid_id"),
            F.first("vec").alias("vec"),
        )
    )
    # the assignment feeds three consumers (both self-join sides and
    # the final labeling) — persist it once instead of recomputing the
    # n x centroids argmax sweep three times; it is one slim row per
    # input vector, the same justified-persist shape as
    # corpus.training_corpus
    assigned = assigned.persist()
    a = assigned.alias("a")
    b = assigned.alias("b")
    pruned = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .filter(cosine(F.col("a.vec"), F.col("b.vec")) >= tau)
        .select(F.col("b.vid").alias("vid"))
        .distinct()
    )
    return (
        assigned.join(
            pruned.withColumn("is_dup", F.lit(True)), "vid", "left"
        )
        .select(
            F.col("vid").alias("vec_id"),
            "centroid_id",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
        )
    )


# ---------------- hard-negative mining ----------------

def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training hard negatives: for each query vector, the
    top-k most-similar corpus vectors with a DIFFERENT label — the
    highest-loss negatives for a contrastive or retrieval objective.

    Same scale shape as cosine_topk (queries broadcast, corpus
    streams, per-query window over k rows); swap the brute-force scan
    for the IVF/LSH candidate generators at production scale without
    changing the selection semantics."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(label_col).alias("n_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("n_label") != F.col("q_label"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.col("n_label").alias("neighbor_label"),
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


# ---------------- semantic decontamination ----------------

def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination: a corpus item is
    contaminated if its max cosine against ANY benchmark vector is
    >= tau — the semantic complement to n-gram `decontaminate`
    (paraphrased eval items that share no 8-gram still get caught).

    Returns every corpus row with (max_benchmark_sim, contaminated)
    so the caller can filter or audit. Scale shape: benchmark sets
    are small by nature -> broadcast; the corpus streams through one
    codegen'd projection and a per-id argmax partial aggregate. No
    corpus shuffle at all (the aggregate keys on the corpus id the
    scan already carries)."""
    b = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(vec_col).alias("b_vec")
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        )
        .crossJoin(F.broadcast(b))
        .filter(F.col("vid") != F.col("bench_id"))
        .withColumn("sim", cosine(F.col("vec"), F.col("b_vec")))
    )
    return (
        scored.groupBy("vid")
        .agg(F.max("sim").alias("max_sim"))
        .select(
            F.col("vid").alias("vec_id"),
            stable_round(F.col("max_sim"), 6).alias("max_benchmark_sim"),
            (F.col("max_sim") >= tau).alias("contaminated"),
        )
    )


def sharded_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shard_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sharded-index exact retrieval: per-shard top-k, then a global
    merge of the shard candidates — the distributed serving shape
    where the corpus lives as independent index shards.

    Correctness: under the total order (sim DESC, neighbor_id ASC)
    every global top-k neighbor is necessarily inside its own shard's
    top-k, so merging the per-shard candidate lists (k rows per
    (query, shard)) and re-ranking yields EXACTLY the global top-k —
    the oracle twin is the plain unsharded scan.

    100 TB shape: each shard is scanned independently (maps cleanly
    onto partition-local ranking — no cross-shard shuffle in phase 1
    when the corpus is stored partitioned by shard); the merge input
    is only ``k * n_shards`` rows per query. Phase 1's window is
    keyed (query_id, shard), phase 2's by query_id over the tiny
    candidate set.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(shard_col).alias("_shard"),
        F.col(vec_col).alias("c_vec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w_shard = Window.partitionBy("query_id", "_shard").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    cands = scored.withColumn(
        "_srank", F.row_number().over(w_shard)
    ).filter(F.col("_srank") <= k)
    w_global = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


# ---------------- MMR diversified top-k ----------------

MMR_LAMBDA = 0.75  # exact binary fraction: lam and 1-lam both exact


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 4,
    m: int = 16,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98): greedily pick ``k`` of each query's top-``m``
    cosine candidates, each step maximizing
    ``lam * sim(q, d) - (1 - lam) * max_{s in selected} sim(d, s)`` —
    relevance minus redundancy, the standard diverse-retrieval /
    diverse-sampling selector for training-data pipelines.

    Scale shape: the corpus is touched ONCE (the same broadcast-query
    scored scan as cosine_topk; swap in lsh_topk candidates at
    production scale — the selector only needs (query, candidate,
    sim, vec) rows). The greedy loop is k - 1 driver-built stages
    over the CANDIDATE table (|Q| * m rows, corpus-independent): per
    stage one equi-join onto the selected set, one max-aggregate, one
    argmax window. Everything deterministic: ``lam = 0.75`` keeps
    both mixing weights exact binary fractions, cosine uses the
    pinned left-fold (_dot), and every argmax tie-breaks by
    neighbor_id — the DuckDB twin unrolls the identical stages as
    CTEs and matches exactly.

    Returns (query_id, mmr_rank, neighbor_id, mmr_score)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= m)
        .select("query_id", "neighbor_id", "sim", "c_vec")
        .persist()
    )
    lam_c = F.lit(float(lam))
    pen_c = F.lit(float(1.0 - lam))
    pick1 = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    selected = (
        cand.withColumn("_r", F.row_number().over(pick1))
        .filter(F.col("_r") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "sim",
            "c_vec",
            F.lit(1).alias("mmr_rank"),
            (lam_c * F.col("sim")).alias("mmr_score"),
        )
    )
    for step in range(2, k + 1):
        sel = selected.select(
            F.col("query_id").alias("s_qid"),
            F.col("neighbor_id").alias("s_nid"),
            F.col("c_vec").alias("s_vec"),
        )
        remaining = cand.join(
            sel.select(
                F.col("s_qid").alias("query_id"),
                F.col("s_nid").alias("neighbor_id"),
            ),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        scored = (
            remaining.join(
                sel, remaining["query_id"] == sel["s_qid"]
            )
            .withColumn(
                "pair_sim", cosine(F.col("c_vec"), F.col("s_vec"))
            )
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.first("sim").alias("sim"),
                F.first("c_vec").alias("c_vec"),
                F.max("pair_sim").alias("pen"),
            )
            .withColumn(
                "mmr_score",
                lam_c * F.col("sim") - pen_c * F.col("pen"),
            )
        )
        w_step = Window.partitionBy("query_id").orderBy(
            F.desc("mmr_score"), F.asc("neighbor_id")
        )
        pick = (
            scored.withColumn("_r", F.row_number().over(w_step))
            .filter(F.col("_r") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "sim",
                "c_vec",
                F.lit(step).alias("mmr_rank"),
                "mmr_score",
            )
        )
        # |Q| * step rows: eager-checkpoint so the per-stage double
        # reference (penalty join + carry union) never recomputes and
        # lineage stays flat across stages
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    if k <= 1:
        # no loop iteration ran, so selected still lazily references
        # cand — materialize before releasing the cache
        selected = selected.localCheckpoint(eager=True)
    # every loop exit leaves selected eager-checkpointed (lineage cut),
    # so the candidate cache is loop-lifetime only — release it
    cand.unpersist()
    return selected.select(
        "query_id",
        "mmr_rank",
        "neighbor_id",
        stable_round(F.col("mmr_score"), 6).alias("mmr_score"),
    )


def _semdedup_assign(
    vecs: DataFrame, cent: DataFrame
) -> DataFrame:
    """(vid, vec) x broadcast centroids -> (vid, centroid_id, vec) via
    the same argmax-cosine partial aggregate as semantic_dedup."""
    return (
        vecs.crossJoin(F.broadcast(cent))
        .withColumn("c_sim", cosine(F.col("vec"), F.col("cent_vec")))
        .groupBy("vid")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(
                    F.col("c_sim"), (-F.col("centroid_id")).alias("nc")
                ),
            ).alias("centroid_id"),
            F.first("vec").alias("vec"),
        )
    )


def semantic_dedup_maintain_stream(
    spark,
    embeddings: DataFrame,
    tau: float = SEMDEDUP_TAU,
    centroid_mod: int = SEMDEDUP_CENTROID_MOD,
    n_slices: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup maintenance: vectors arrive in
    ascending-id micro-batches and each epoch decides (centroid_id,
    kept) for the NEW vectors only — never revisiting old ones.

    Why arrival order makes the prune incremental: semantic_dedup's
    rule is greedy first-seen-wins — vector b is pruned iff some
    SMALLER-id vector in b's cluster has cosine >= tau (whether or
    not that vector was itself pruned). Against a FIXED centroid set
    (the offline artifact — here the same deterministic corpus
    subsample the batch operator uses; an offline k-means codebook
    in production), a vector's cluster never changes, and with
    ascending-id staging every accumulated vector has a smaller id
    than every fresh one — so a fresh vector's verdict depends only
    on (accumulated cluster residents) + (smaller-id vectors in its
    own batch), both available at its arrival epoch. Verdicts are
    IMMUTABLE once emitted (asserted: ids arrive strictly ascending,
    so the output is append-only).

    Per-epoch cost: fresh x same-cluster residents — the identical
    blocked-quadratic bound as batch SemDeDup, paid incrementally;
    state is the accumulated (vid, centroid_id, vec) resident table
    (ALL arrivals, pruned or not, since pruned vectors still prune
    later near-copies in the batch semantics).

    Final (vec_id, centroid_id, kept) equals batch semantic_dedup
    over the full corpus, so the entry shares its oracle twin."""
    from ..streaming.replay import check_ordered_arrival, replay_fold

    cent = embeddings.filter(
        F.col(id_col) % centroid_mod == 0
    ).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
    ).localCheckpoint(eager=True)

    state: dict = {"residents": None, "out": None, "max_vid": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        fresh = _semdedup_assign(
            batch_df.select(
                F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
            ),
            cent,
        ).localCheckpoint(eager=True)
        # every fresh vid must exceed every resident's: the premise of
        # deciding fresh vectors against residents only
        state["max_vid"] = check_ordered_arrival(
            fresh, "vid", state["max_vid"], epoch_id
        )
        b_new = fresh.alias("b")

        def pair_cols(left: DataFrame) -> DataFrame:
            return (
                left.alias("a")
                .join(
                    b_new,
                    (F.col("a.centroid_id") == F.col("b.centroid_id"))
                    & (F.col("a.vid") < F.col("b.vid")),
                )
                .select(
                    F.col("a.vec").alias("a_vec"),
                    F.col("b.vec").alias("b_vec"),
                    F.col("b.vid").alias("b_vid"),
                )
            )

        cand = pair_cols(fresh)
        if state["residents"] is not None:
            cand = cand.unionByName(pair_cols(state["residents"]))
        pruned = (
            cand.filter(cosine(F.col("a_vec"), F.col("b_vec")) >= tau)
            .select(F.col("b_vid").alias("vid"))
            .distinct()
        )
        verdicts = (
            fresh.join(
                pruned.withColumn("is_dup", F.lit(True)), "vid", "left"
            )
            .select(
                "vid",
                "centroid_id",
                F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
            )
            .localCheckpoint(eager=True)
        )
        # lazy unions of immutable per-epoch blocks (maintain's policy)
        out, residents = verdicts, fresh
        if state["out"] is not None:
            out = state["out"].unionByName(verdicts)
            residents = state["residents"].unionByName(fresh)
        state["out"], state["residents"] = out, residents

    replay_fold(
        spark,
        embeddings.select(id_col, vec_col),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    return state["out"].select(
        F.col("vid").alias("vec_id"), "centroid_id", "kept"
    )


# ---------------- IVF-PQ: residual product quantization ----------------

PQ_M = 8              # subspaces (64 dims -> 8 x 8)
PQ_SUB = 8            # dims per subspace
PQ_CB_MOD = 20        # vec_id % MOD == 0 -> that doc's residual seeds the codebook
PQ_ADC_SCALE = 1 << 20  # ADC partials quantized to ints at this scale


def _residual(vec: Column, cent: Column) -> Column:
    """vec - centroid, element-wise, in exact double."""
    return F.zip_with(
        vec, cent, lambda x, y: x.cast("double") - y.cast("double")
    )


def _l2(a: Column, b: Column, dim: int | None = None) -> Column:
    """Squared L2 distance of two double arrays, index-ordered
    (engine-identical). ``dim`` unrolls the fold into flat codegen'd
    arithmetic — bit-identical (same seed/order), see _dot."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            acc = acc + d * d
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ddot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot of two double arrays, index-ordered; ``dim`` as in _dot."""
    if dim is not None:
        acc: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + F.element_at(a, i) * F.element_at(b, i)
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assert_pq_width(
    df: DataFrame, vec_col: str, dim: int, entry: str
) -> DataFrame:
    """``df`` with every ``vec_col`` asserted to hold exactly ``dim``
    (= n_sub * sub) elements: the unrolled sub-vector folds would read
    past a short vector's end. A filter that keeps every row, so the
    check runs inside the existing scan (no extra job); a NULL vector
    fails it too."""
    return df.filter(
        F.assert_true(
            F.size(vec_col) == dim,
            f"{entry}: every {vec_col} must hold exactly n_sub * sub = "
            f"{dim} elements",
        ).isNull()
    )


def _subspaces(res: Column, m: int = PQ_M, sub: int = PQ_SUB) -> Column:
    """Array of m subvectors: slice i covers dims [i*sub, (i+1)*sub)."""
    return F.array(*[F.slice(res, i * sub + 1, sub) for i in range(m)])


def _coarse_residuals(
    corpus: DataFrame,
    centroid_mod: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Coarse-quantizer stage shared by ivfpq_topk and
    pq_kmeans_codebooks: deterministic centroid subsample
    (id % centroid_mod == 0), argmax-cosine assignment via a
    partial-aggregate max_by over the broadcast centroid table, and
    the per-doc RESIDUAL vec - centroid. Returns (centroids,
    assigned) where assigned = (nid, centroid_id, res, vec).

    The norms of both cosine operands are computed ONCE PER SIDE
    (per corpus row / per broadcast centroid row) instead of once per
    (vec, centroid) pair — same double values, same combining
    expression dot / sqrt(n_a * n_b), so c_sim is bit-identical while
    the per-pair fold work drops from three dim-wide passes to one."""
    cent = corpus.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        _sqnorm(F.col(vec_col), dim).alias("_c_nrm"),
    )
    assigned = (
        corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("vec"),
            _sqnorm(F.col(vec_col), dim).alias("_v_nrm"),
        )
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "c_sim",
            _dot(F.col("vec"), F.col("cent_vec"), dim)
            / F.sqrt(F.col("_v_nrm") * F.col("_c_nrm")),
        )
        .groupBy("nid")
        .agg(
            F.max_by(
                F.struct("centroid_id", "cent_vec"),
                F.struct(F.col("c_sim"), (-F.col("centroid_id")).alias("nc")),
            ).alias("win"),
            F.first("vec").alias("vec"),
        )
        .select(
            "nid",
            F.col("win.centroid_id").alias("centroid_id"),
            _residual(F.col("vec"), F.col("win.cent_vec")).alias("res"),
            "vec",
        )
    )
    return cent, assigned


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_mod: int = IVF_CENTROID_MOD,
    nprobe: int = IVF_NPROBE,
    cb_mod: int = PQ_CB_MOD,
    rerank_factor: int = 4,
    n_sub: int = PQ_M,
    sub: int = PQ_SUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN top-k: coarse quantizer + residual product
    quantization + ADC scan + exact re-rank (the FAISS IVFPQ shape,
    expressed relationally — no index structure, no UDF).

    Pipeline:
      1. coarse: deterministic centroid subsample (id % centroid_mod
         == 0); every vector joins its argmax-cosine centroid and
         keeps the RESIDUAL vec - centroid (residual PQ quantizes
         what the coarse step couldn't explain).
      2. codebooks: the residuals of docs with id % cb_mod == 0 are
         split into PQ_M subvectors; subspace m's codebook is that
         column of subvectors (deterministic, so the whole index is
         oracle-checkable; swap in per-subspace k-means offline at
         production scale without changing the query shape).
      3. encode: per (doc, m), the argmin-L2 codeword id — the doc
         compresses to a centroid id + PQ_M small codes.
      4. ADC search: each query probes its nprobe nearest centroids;
         per (query, centroid, m, code) the partial dot
         q_sub . codeword is computed ONCE into a lookup table, then
         approx_dot(q, x) = q . c_x + sum_m table[m, code_m(x)].
         Partials are quantized to integers at PQ_ADC_SCALE before
         the cross-row sum so the reduction is associative and
         bit-identical in any engine / any partitioning.
      5. exact cosine re-rank of the top k*rerank_factor ADC
         candidates; output schema matches cosine_topk.

    Scale shape: the corpus is touched three times (assign, encode,
    ADC join) — every join is keyed or broadcast-small (centroids,
    codebooks, probe tables); the ADC join fans each probed doc out
    to PQ_M rows of (int code -> int partial) lookups, never to dim-
    width arithmetic. At 100 TB the encoded table (8 bytes of codes
    vs 256 bytes of floats) is the only thing scanned per query
    batch, partitioned by centroid_id so a probe reads nprobe /
    n_centroids of it."""
    # 1. coarse assign + residuals (argmax cosine over broadcast
    # centroids via partial-agg max_by; shared with
    # pq_kmeans_codebooks). Full-width folds stay higher-order-function
    # folds; only the sub-wide folds over _subspaces' slices unroll,
    # which is why every vector must hold exactly n_sub * sub elements.
    corpus = _assert_pq_width(corpus, vec_col, n_sub * sub, "ivfpq_topk")
    queries = _assert_pq_width(queries, vec_col, n_sub * sub, "ivfpq_topk")
    cent, assigned = _coarse_residuals(
        corpus, centroid_mod, id_col, vec_col
    )

    # 2. codebooks: one row per (m, code_id, codeword)
    cb = (
        assigned.filter(F.col("nid") % cb_mod == 0)
        .select(
            F.col("nid").alias("code_id"),
            F.posexplode(_subspaces(F.col("res"), n_sub, sub)).alias("m", "cw"),
        )
    )

    # 3. encode: per (doc, m) argmin-L2 codeword (ties -> lower id)
    codes = (
        assigned.select(
            "nid",
            "centroid_id",
            F.posexplode(_subspaces(F.col("res"), n_sub, sub)).alias("m", "sv"),
        )
        .join(F.broadcast(cb), "m")
        .withColumn("d2", _l2(F.col("sv"), F.col("cw"), dim=sub))
        .groupBy("nid", "m")
        .agg(
            F.max_by(
                F.col("code_id"),
                F.struct((-F.col("d2")).alias("nd"),
                         (-F.col("code_id")).alias("nc")),
            ).alias("code"),
            F.first("centroid_id").alias("centroid_id"),
        )
    )

    # 4a. probes: top-nprobe centroids per query + the base term q.c
    wq = Window.partitionBy("qid").orderBy(
        F.desc("c_sim"), F.asc("centroid_id")
    )
    probes = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(cent))
        .withColumn("c_sim", cosine(F.col("qv"), F.col("cent_vec")))
        .withColumn("c_rank", F.row_number().over(wq))
        .filter(F.col("c_rank") <= nprobe)
        .select(
            "qid",
            "centroid_id",
            "qv",
            # _dot(qv, cent_vec, dim) casts each element to double,
            # producing the same products in the same order as the old
            # _ddot over two transform(cast)-ed copies — bit-identical,
            # without materializing the cast arrays per pair
            F.floor(
                _dot(F.col("qv"), F.col("cent_vec"))
                * F.lit(float(PQ_ADC_SCALE))
                + F.lit(0.5)
            ).cast("long").alias("base_i"),
            F.transform(F.col("qv"), lambda x: x.cast("double")).alias(
                "q_dbl"
            ),
        )
    )

    # 4b. ADC lookup table: int partials per (query, centroid, m, code).
    # Partials are q_sub . codeword — subvectors of q ITSELF, the
    # standard FAISS IP-ADC form, so base + sum approximates
    # q.c + q.r_hat = q.(c + r_hat) ~= q.x. (Round 5 used subvectors
    # of the query residual q - c, which adds a per-doc -c.r_hat bias
    # to within-list ranking; fixed per ADVICE r5.)
    adc = (
        probes.select(
            "qid", "centroid_id", "base_i",
            F.posexplode(_subspaces(F.col("q_dbl"), n_sub, sub)).alias("m", "q_sub"),
        )
        .join(F.broadcast(cb), "m")
        .select(
            "qid", "centroid_id", "base_i", "m",
            F.col("code_id").alias("code"),
            F.floor(
                _ddot(F.col("q_sub"), F.col("cw"), dim=sub)
                * F.lit(float(PQ_ADC_SCALE))
                + F.lit(0.5)
            ).cast("long").alias("part_i"),
        )
    )

    # 4c. approximate scores: integer base + integer partial sum
    approx = (
        codes.join(
            F.broadcast(adc), ["centroid_id", "m", "code"]
        )
        .groupBy("qid", "nid")
        .agg((F.max("base_i") + F.sum("part_i")).alias("adc_i"))
        .filter(F.col("nid") != F.col("qid"))
    )
    m_rerank = k * rerank_factor
    w1 = Window.partitionBy("qid").orderBy(F.desc("adc_i"), F.asc("nid"))
    cand = (
        approx.withColumn("arank", F.row_number().over(w1))
        .filter(F.col("arank") <= m_rerank)
        .select("qid", "nid")
    )

    # 5. exact re-rank
    c_full = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("c_vec")
    )
    q_full = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec")
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        c_full.join(F.broadcast(cand), "nid")
        .join(F.broadcast(q_full), "qid")
        .withColumn("sim", cosine(F.col("q_vec"), F.col("c_vec")))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            F.col("nid").alias("neighbor_id"),
            stable_round(F.col("sim"), 6).alias("cosine_sim"),
        )
    )


# -------- PQ codebook TRAINING: per-subspace integer Lloyd --------

PQ_KM_ITERS = 2


def pq_kmeans_codebooks(
    corpus: DataFrame,
    iters: int = PQ_KM_ITERS,
    centroid_mod: int = IVF_CENTROID_MOD,
    cb_mod: int = PQ_CB_MOD,
    n_sub: int = PQ_M,
    sub: int = PQ_SUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the PQ codebooks properly: per-subspace k-means over the
    coarse residuals (the production step ivfpq_topk's docstring
    defers to — its deterministic-subsample codebook is the SEED
    here, refined by Lloyd iterations).

    All n_sub subspace problems train in ONE DataFrame job per
    iteration — "m" (the subspace index) simply joins/groups
    alongside the cluster key, so the plan shape is identical to
    clustering.py:kmeans_lloyd (broadcast-assign partial-agg argmin,
    posexplode + hash-agg update) with an extra key column; no
    per-subspace driver loop, no collect. Exactness: subvectors are
    quantized into integer space (clustering.py:quantize_vec) and
    the update is the integer round-half-up mean, so codebooks are
    bit-identical across engines/partitionings and the entry is
    oracle-checkable (ties -> lower code id, empty codes drop —
    declared semantics shared with kmeans_lloyd).

    Returns the trained codebooks exploded to scalar rows
    ``(m, code_id, n_members, dim_j, cq)`` — n_members from the
    assignment that produced the final centroids.

    Scale shape: per iteration the corpus-sized subvector table is
    scanned once for assign (codebooks broadcast: n_sub * n_codes
    rows) and once for update; everything else is codebook-sized. At
    100 TB the standard practice of training on a sample drops in by
    filtering ``corpus`` — the iteration shape is unchanged."""
    from .clustering import _sq_dist, quantize_vec

    if iters < 1:
        raise ValueError(
            "pq_kmeans_codebooks: iters must be >= 1 (n_members comes "
            "from the assignment that produced the final centroids)"
        )
    corpus = _assert_pq_width(
        corpus, vec_col, n_sub * sub, "pq_kmeans_codebooks"
    )
    _, assigned = _coarse_residuals(
        corpus, centroid_mod, id_col, vec_col
    )
    subs = assigned.select(
        "nid",
        F.posexplode(_subspaces(F.col("res"), n_sub, sub)).alias("m", "sv"),
    ).select("nid", "m", quantize_vec(F.col("sv")).alias("qvec"))
    # the iteration working set: scanned twice per Lloyd round (assign
    # + update) and re-rooted by every round's new centroid lineage —
    # materialize ONCE so the coarse-assign stage upstream never
    # re-executes (lazy localCheckpoint: first action pays it)
    subs = subs.localCheckpoint(eager=False)
    cent = subs.filter(F.col("nid") % cb_mod == 0).select(
        "m", F.col("nid").alias("cid"), F.col("qvec").alias("cvec")
    )
    sq = _sq_dist(F.col("qvec"), F.col("cvec"), dim=sub)
    for _ in range(iters):
        best = (
            subs.join(F.broadcast(cent), "m")
            .withColumn("dist", sq)
            .groupBy("nid", "m")
            .agg(
                F.min(F.struct(F.col("dist"), F.col("cid"))).alias("best"),
                F.first("qvec").alias("qvec"),
            )
            .select("nid", "m", F.col("best.cid").alias("cid"), "qvec")
        )
        per_dim = (
            best.select("m", "cid", F.posexplode(F.col("qvec")).alias("j", "q"))
            .groupBy("m", "cid", "j")
            .agg(F.sum("q").alias("s"), F.count("*").alias("n"))
            .withColumn("cq", F.expr("(2 * s + n) div (2 * n)"))
        )
        cent = per_dim.groupBy("m", "cid").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("j"), F.col("cq")))
                ),
                lambda x: x.getField("cq"),
            ).alias("cvec"),
            F.max("n").alias("n_members"),
        )
    return cent.select(
        F.col("m").cast("long").alias("m"),
        F.col("cid").alias("code_id"),
        "n_members",
        F.posexplode(F.col("cvec")).alias("dim_j", "cq"),
    ).select(
        "m",
        "code_id",
        "n_members",
        F.col("dim_j").cast("long").alias("dim_j"),
        "cq",
    )
