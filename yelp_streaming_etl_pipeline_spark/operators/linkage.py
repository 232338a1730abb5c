"""Record linkage / entity resolution (north-star extension).

The classic match pipeline a large-scale data-integration or
training-data attribution job needs, expressed Spark-first:

  1. NAME DICTIONARY — matching runs over DISTINCT names, not rows:
     at 100 TB the row table is billions but the name dictionary is
     millions, so the quadratic-ish pair stage touches the small
     table and rows rejoin by equality at the end.
  2. MULTI-PASS BLOCKING — candidate pairs come only from names
     sharing a block key; two passes (2-char prefix, 2-char suffix)
     union'd, so a corruption at either end of the string still
     lands the true pair in >= 1 block (single-pass blocking loses
     exactly the edits that touch its key).
  3. BOUNDED PAIR MATCH — levenshtein(a, b) <= max_dist inside each
     block; edit distance is exact integer arithmetic in every
     engine, so the match set is oracle-checkable.
  4. TRANSITIVE CLUSTERING — connected components (pointer-halving
     min-label propagation, operators/dedup.py:dedup_clusters) over
     the name-pair graph; every row inherits its name's cluster.

The reference has no linkage surface (hwong511/yelp-streaming-etl-
pipeline quality_engine.py stops at per-record checks); this module
is part of the Phase-2 LLM-pipeline library, with the synthetic
person corpus standing in for the people/merchant dimension a real
deployment would link.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_clusters

NAME_FIRST = [
    "maria", "john", "wei", "fatima", "ivan", "aisha",
    "carlos", "yuki", "lena", "omar", "priya", "sven",
]
NAME_LAST = [
    "garcia", "smith", "chen", "hassan", "petrov", "okafor",
    "silva", "tanaka", "muller", "ali", "patel", "larsen",
]
VARIANT_EVERY = 7          # every 7th person gets a corrupted twin
VARIANT_ID_OFFSET = 10_000_000
LEV_MAX_DIST = 2
# Per-block name cap: a block of m names costs ~m^2/2 levenshtein
# pairs, and low-entropy dictionaries (e.g. a corpus where every
# name starts "mc" / ends "ez") make one block key hot — the same
# straggler shape as an LSH hot bucket. 1024 caps any single block
# at ~0.5M pairs; at the 144-name synthetic dictionary it never
# binds, so entries keep their oracle twins bit-for-bit.
BLOCK_CAP = 1024


def synthetic_people(customer: DataFrame) -> DataFrame:
    """Deterministic person dimension derived from the customer
    table: ``name = FIRST[id % 12] + ' ' + LAST[(id // 12) % 12]``.
    144 distinct names over the key space — name collisions across
    different customers are intentional (they model exact-duplicate
    mentions of one entity)."""
    cid = F.col("c_custkey").cast("long")
    first = F.array(*[F.lit(x) for x in NAME_FIRST])
    last = F.array(*[F.lit(x) for x in NAME_LAST])
    return customer.select(
        cid.alias("person_id"),
        F.concat(
            F.element_at(first, (cid % 12 + 1).cast("int")),
            F.lit(" "),
            F.element_at(
                last, (F.floor(cid / 12).cast("long") % 12 + 1).cast("int")
            ),
        ).alias("name"),
    )


def with_name_variants(
    people: DataFrame, every: int = VARIANT_EVERY
) -> DataFrame:
    """Plant deterministic corrupted twins: every ``every``-th person
    re-appears under ``person_id + VARIANT_ID_OFFSET`` with ONE
    character dropped at position ``1 + id % length`` (1-based) — a
    typo anywhere in the string, including both blocking-key
    regions, so the match stage's multi-pass recall is exercised."""
    base = people.filter(F.col("person_id") % every == 0)
    p = (F.lit(1) + F.col("person_id") % F.length("name")).cast("int")
    corrupted = F.concat(
        F.expr("substring(name, 1, p - 1)"),
        F.expr("substring(name, p + 1, length(name))"),
    )
    variants = base.withColumn("p", p).select(
        (F.col("person_id") + VARIANT_ID_OFFSET).alias("person_id"),
        corrupted.alias("name"),
    )
    return people.unionByName(variants)


def _block_keys(name: Column) -> Column:
    """Two blocking passes as an array of keys: 2-char prefix and
    2-char suffix (tagged so a prefix key never equi-joins a suffix
    key)."""
    return F.array(
        F.concat(F.lit("p:"), F.substring(name, 1, 2)),
        F.concat(F.lit("s:"), F.substring(name, -2, 2)),
    )


def blocked_match_pairs(
    people: DataFrame,
    max_dist: int = LEV_MAX_DIST,
    block_cap: int | None = BLOCK_CAP,
) -> DataFrame:
    """Candidate generation + match over the DISTINCT-name
    dictionary. Returns ``(nid_a, nid_b, name_a, name_b, dist)``
    with ``nid_a < nid_b`` where nid is the minimum person_id
    carrying that name (the name's stable representative).

    Scale: pair generation is per-block quadratic over the name
    DICTIONARY (millions, not billions); levenshtein runs once per
    candidate pair, JVM-side. ``block_cap`` ENFORCES the hot-block
    bound (same discipline as the LSH sub-band path, dedup.py:360,
    and the co-supply part cap, graph.py:cosupply_edges): a block
    over the cap keeps only the ``block_cap`` names ranked first
    under a deterministic per-(block, name) md5 — arrival-order-free
    and engine-neutral, so per-block work is <= block_cap^2
    regardless of dictionary skew and the selection is mirrorable in
    the oracle twin. None disables the cap."""
    from pyspark.sql import Window

    names = (
        people.groupBy("name")
        .agg(F.min("person_id").alias("nid"))
        .withColumn("bk", F.explode(_block_keys(F.col("name"))))
    )
    if block_cap is not None:
        w_cap = Window.partitionBy("bk").orderBy("_h", "nid")
        names = (
            names.withColumn(
                "_h", F.md5(F.concat_ws("|", F.col("bk"), F.col("name")))
            )
            .withColumn("_br", F.row_number().over(w_cap))
            .filter(F.col("_br") <= block_cap)
            .drop("_h", "_br")
        )
    a = names.select(
        F.col("bk"), F.col("nid").alias("nid_a"), F.col("name").alias("name_a")
    )
    b = names.select(
        F.col("bk"), F.col("nid").alias("nid_b"), F.col("name").alias("name_b")
    )
    return (
        a.join(b, "bk")
        .filter(F.col("nid_a") < F.col("nid_b"))
        .withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .filter(F.col("dist") <= max_dist)
        .select("nid_a", "nid_b", "name_a", "name_b", "dist")
        .distinct()
    )


def entity_clusters(
    people: DataFrame, max_dist: int = LEV_MAX_DIST
) -> DataFrame:
    """Full linkage: every row gets its entity cluster id (the
    minimum person_id reachable through the name-match graph;
    unmatched names are their own singleton cluster). Returns
    ``(person_id, name, cluster_id)``."""
    pairs = blocked_match_pairs(people, max_dist)
    clusters = dedup_clusters(pairs, a_col="nid_a", b_col="nid_b")
    name_rep = people.groupBy("name").agg(F.min("person_id").alias("nid"))
    name_cluster = name_rep.join(
        clusters.withColumnRenamed("doc_id", "nid"), "nid", "left"
    ).select(
        "name",
        F.coalesce(F.col("cluster_id"), F.col("nid")).alias("cluster_id"),
    )
    return people.join(name_cluster, "name").select(
        "person_id", "name", "cluster_id"
    )


def entity_maintain_stream(
    spark,
    people: DataFrame,
    max_dist: int = LEV_MAX_DIST,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming entity-resolution MAINTENANCE with truly incremental
    match cost: person rows arrive in micro-batches; per epoch only
    the NEW dictionary names are matched — new x (accumulated + new)
    within blocks — because old x old pairs are already in state.
    Per-epoch pair work is |new names| x block-mates, independent of
    the accumulated dictionary size: the property that makes
    continuous linkage affordable at 100 TB (the naive recompute is
    quadratic in the total dictionary every epoch).

    nid stability: slices are staged in ascending person_id order,
    so a name's first occurrence carries its global-minimum id and
    the pair graph is never re-keyed retroactively. Clusters are
    recomputed per epoch from the accumulated pair set (the pair
    graph is dictionary-sized, tiny next to the row table; a
    production deploy would also maintain components incrementally —
    insert-only edges only ever MERGE clusters).

    Final epoch equals batch entity_clusters over all rows, so the
    entry shares sql_entity_clusters as its oracle twin. Staging/
    replay harness: streaming/replay.py (ascending-person_id slices).

    The fold matches UNCAPPED (batch ``block_cap`` equivalent None):
    a global md5-ranked block cap is not maintainable under
    insert-only folds — a name can fall out of the cap as its block
    fills, which would retract already-emitted pairs. Batch equality
    therefore holds whenever the cap does not bind (every block
    <= BLOCK_CAP names, true for the synthetic dictionary); capped
    maintenance needs retraction support, out of insert-only scope."""
    from ..streaming.replay import replay_fold

    state: dict = {"rows": None, "names": None, "pairs": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.localCheckpoint(eager=True)
        # lazy unions of immutable per-epoch blocks (maintain's policy)
        state["rows"] = (
            b if state["rows"] is None else state["rows"].unionByName(b)
        )
        # dictionary delta: names never seen before (nid = min id in
        # this epoch == global min, by the ordered staging)
        batch_names = b.groupBy("name").agg(F.min("person_id").alias("nid"))
        if state["names"] is None:
            fresh = batch_names
        else:
            fresh = batch_names.join(
                state["names"].select("name"), "name", "left_anti"
            )
        fresh = fresh.localCheckpoint(eager=True)
        acc_names = (
            fresh
            if state["names"] is None
            else state["names"].unionByName(fresh)
        )
        # incremental match: fresh x accumulated (which includes
        # fresh), blocked + levenshtein; old x old pairs are state
        fk = fresh.withColumn("bk", F.explode(_block_keys(F.col("name"))))
        ak = acc_names.withColumn("bk", F.explode(_block_keys(F.col("name"))))
        new_pairs = (
            fk.select(
                "bk", F.col("nid").alias("x_nid"), F.col("name").alias("x_name")
            )
            .join(
                ak.select(
                    "bk",
                    F.col("nid").alias("y_nid"),
                    F.col("name").alias("y_name"),
                ),
                "bk",
            )
            .filter(F.col("x_nid") != F.col("y_nid"))
            .select(
                F.least("x_nid", "y_nid").alias("nid_a"),
                F.greatest("x_nid", "y_nid").alias("nid_b"),
                F.when(F.col("x_nid") < F.col("y_nid"), F.col("x_name"))
                .otherwise(F.col("y_name"))
                .alias("name_a"),
                F.when(F.col("x_nid") < F.col("y_nid"), F.col("y_name"))
                .otherwise(F.col("x_name"))
                .alias("name_b"),
            )
            .withColumn("dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
            .filter(F.col("dist") <= max_dist)
            .distinct()
        )
        pairs = (
            new_pairs
            if state["pairs"] is None
            else state["pairs"].unionByName(new_pairs).distinct()
        ).localCheckpoint(eager=True)
        state["names"] = acc_names
        state["pairs"] = pairs

    replay_fold(
        spark,
        people,
        fold,
        n_slices=n_slices,
        order_cols=["person_id"],
    )
    clusters = dedup_clusters(state["pairs"], a_col="nid_a", b_col="nid_b")
    name_cluster = state["names"].join(
        clusters.withColumnRenamed("doc_id", "nid"), "nid", "left"
    ).select(
        "name",
        F.coalesce(F.col("cluster_id"), F.col("nid")).alias("cluster_id"),
    )
    return state["rows"].join(name_cluster, "name").select(
        "person_id", "name", "cluster_id"
    )
