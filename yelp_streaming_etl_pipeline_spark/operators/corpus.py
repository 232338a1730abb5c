"""Training-corpus assembly operators (SURVEY.md §7 extension family —
the reference stops at review cleaning; these are the operations an
LLM data pipeline runs downstream of it at 100 TB).

- ``token_budget_pack``: deterministic pseudo-random global order +
  exact prefix sum of token counts + shard assignment by token budget.
  The prefix sum is computed the scale-safe way: per-bucket windows
  plus a broadcast table of bucket offsets, never a single-partition
  global window.
- ``decontaminate``: flag corpus documents sharing any word n-gram
  with a benchmark/eval set (the contamination check run before
  training). Benchmark side is grams-distinct then broadcast; the
  corpus side streams through a map-side join — no corpus shuffle.
- ``training_corpus``: the end-to-end assembly — language filter,
  quality filter, exact dedup, decontamination, budget packing — as
  ONE composed lazy plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.lang_trigrams import with_trigram_lang_id
from ..functions.text_features import ws_trim
from .dedup import word_shingles
from .text_analysis import bpe_token_count, doc_fingerprint, text_quality_score

PACK_BUCKETS = 256  # bucket fan-out for the distributed prefix sum
DECON_NGRAM = 5  # word n-gram width for the contamination check


def _sort_key(id_col: Column) -> Column:
    """Deterministic pseudo-random global order: md5 of the id. Gives
    the shuffled document order training wants, reproducibly."""
    return F.md5(id_col.cast("string"))


def token_budget_pack(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_budget: int = 50_000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign documents to token-budget shards: order the corpus by a
    deterministic hash, prefix-sum the per-document token counts, and
    give each document the shard its starting offset falls in
    (``floor(cum_before / shard_budget)``) — every shard carries
    ~shard_budget tokens.

    The 100 TB shape: a naive ``sum().over(Window.orderBy(...))`` is a
    SINGLE-PARTITION window — one task sorts the world. Instead the
    hash order is decomposed by its own first byte into
    ``PACK_BUCKETS`` ranges: each bucket prefix-sums locally (ordinary
    partitioned window), a PACK_BUCKETS-row aggregate of bucket totals
    is prefix-summed on one (metadata-sized) partition, and the bucket
    base offsets broadcast back. Ordering by (bucket, sort_key, id)
    equals ordering by (sort_key, id) because the bucket is a prefix
    of the sort key — so the result is bit-identical to the global
    window at any parallelism.
    """
    sk = _sort_key(F.col(id_col))
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        sk.alias("_sk"),
        bpe_token_count(F.col(text_col)).cast("long").alias("tokens"),
    ).withColumn(
        "_bucket",
        F.conv(F.substring("_sk", 1, 2), 16, 10).cast("int"),
    )
    local_w = (
        Window.partitionBy("_bucket")
        .orderBy("_sk", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("_local_cum", F.sum("tokens").over(local_w))

    bucket_w = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        base.groupBy("_bucket")
        .agg(F.sum("tokens").alias("_btok"))
        .withColumn("_base", F.sum("_btok").over(bucket_w) - F.col("_btok"))
        .select("_bucket", "_base")
    )

    cum = F.col("_base") + F.col("_local_cum")
    return (
        local.join(F.broadcast(offsets), "_bucket")
        .select(
            F.col(id_col),
            F.col("tokens"),
            cum.alias("cum_tokens"),
            F.floor((cum - F.col("tokens")) / F.lit(shard_budget))
            .cast("long")
            .alias("shard_id"),
            *[F.col(c) for c in carry_cols],
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DECON_NGRAM,
) -> DataFrame:
    """Benchmark-overlap check: a document is contaminated when it
    shares at least one word ``n``-gram with any benchmark document.
    Returns docs' ids + ``n_hits`` (distinct overlapping grams) +
    ``contaminated``.

    Scale shape: the benchmark side (an eval set — thousands of rows,
    not billions) collapses to DISTINCT grams and broadcasts; the
    corpus side explodes its grams into a map-side broadcast join, so
    the corpus is never shuffled by gram. The only corpus-keyed
    shuffle is the per-doc hit count."""
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )
    hits = (
        docs.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
        )
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("int").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def corpus_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Delta for an incremental corpus append: the incoming documents
    that are neither exact duplicates (normalized-text fingerprint) of
    the existing corpus nor of each other (min-id survivor within the
    batch). Returns (id, text, fingerprint) of the accepted delta —
    what a pipeline appends, with first-seen-wins semantics across
    batches.

    Scale shape: one shuffle of the (small) incoming batch on its
    fingerprint; the existing side reduces to DISTINCT fingerprints
    before the anti join — at 100 TB that projection is the only thing
    read from the corpus (column pruning keeps payload bytes on disk),
    and a bloom-filter or bucketed layout on fingerprint turns the
    anti join into a pruned probe."""
    inc = incoming.select(
        F.col(id_col),
        F.col(text_col),
        doc_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    survivor = F.min(F.col(id_col)).over(Window.partitionBy("fingerprint"))
    fresh = inc.withColumn("_keep", F.col(id_col) == survivor).filter("_keep")
    seen = existing.select(
        doc_fingerprint(F.col(text_col)).alias("fingerprint")
    ).distinct()
    return fresh.join(seen, "fingerprint", "left_anti").select(
        id_col, text_col, "fingerprint"
    )


def ingest_stream_upsert(
    docs_stream: DataFrame,
    corpus_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming incremental ingestion: each micro-batch is deduped
    against the corpus-so-far (corpus_upsert) and appended. State is
    the corpus itself — re-read per batch as DISTINCT fingerprints —
    so a restart resumes exactly from what was durably appended
    (at-least-once append + first-seen-wins makes replays harmless:
    a replayed batch's docs are already fingerprint-dups). Returns
    the unstarted DataStreamWriter."""
    spark = docs_stream.sparkSession

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        import os

        if os.path.isdir(corpus_dir) and any(
            f.endswith(".parquet") for f in os.listdir(corpus_dir)
        ):
            existing = spark.read.parquet(corpus_dir).select(
                F.col(id_col), F.col(text_col)
            )
        else:
            existing = spark.createDataFrame([], batch_df.schema).select(
                F.col(id_col), F.col(text_col)
            )
        delta = corpus_upsert(existing, batch_df, text_col, id_col)
        delta.write.mode("append").parquet(corpus_dir)

    return docs_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )


def training_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    language: str = "en",
    min_lang_confidence: float = 0.5,
    min_quality: float = 0.5,
    shard_budget: int = 50_000,
) -> DataFrame:
    """End-to-end corpus build, one lazy plan: language gate (trigram
    classifier) -> quality gate -> exact dedup (normalized-text
    fingerprint, min-id survivor) -> decontamination -> token-budget
    shard packing. Returns (shard_id, doc_id, tokens, cum_tokens,
    quality_score)."""
    # cheap gate FIRST: quality is a handful of regexp counts; the
    # classifier (explode + join) then only scores survivors. The
    # filters are conjunctive, so ordering cannot change the result.
    quality_pass = docs.select(
        F.col(id_col),
        F.col(text_col),
        text_quality_score(F.col(text_col)).alias("quality_score"),
        doc_fingerprint(F.col(text_col)).alias("_fp"),
    ).filter(F.col("quality_score") >= min_quality)
    staged = with_trigram_lang_id(quality_pass, text_col, id_col).filter(
        (F.col("language") == language)
        & (F.col("language_confidence") >= min_lang_confidence)
    )

    # exact dedup: min-id survivor per normalized-text fingerprint
    survivor = F.min(F.col(id_col)).over(Window.partitionBy("_fp"))
    # persist: the surviving set feeds FOUR plan branches below
    # (decontamination grams + anti join + packing + the final join) —
    # without it each branch re-runs the classifier and gates
    unique = (
        staged.withColumn("_keep", F.col(id_col) == survivor)
        .filter("_keep")
        .persist()
    )

    clean = (
        unique.join(
            decontaminate(unique, benchmark, text_col, id_col).filter(
                "contaminated"
            ).select(id_col),
            id_col,
            "left_anti",
        )
    )

    return token_budget_pack(
        clean, text_col, id_col, shard_budget, carry_cols=("quality_score",)
    ).select("shard_id", id_col, "tokens", "cum_tokens", "quality_score")


# --------- hashed n-gram importance weighting (DSIR-style selection) --------

DSIR_BUCKETS = 1024  # hashed feature space (uni+bigrams share it)
_DSIR_SCALE_BITS = 16  # fixed-point resolution of the dyadic log2


def _hashed_gram_buckets(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(doc_id, b): one row per token OCCURRENCE — word unigrams and
    bigrams hashed into a shared n_buckets-dim feature space (the
    DSIR representation). Grams are built per doc as arrays via
    shifted slices + zip_with (never element_at in a lambda) and
    exploded as constant-width bucket ints — the shuffle never
    carries text."""
    from .sampling import hash_bucket

    words = F.split(ws_trim(F.lower(F.col(text_col))), r"\s+")
    base = (
        df.select(F.col(id_col).alias("doc_id"), words.alias("words"))
        .withColumn("nw", F.size("words"))
        .withColumn("m", F.greatest(F.col("nw") - 1, F.lit(0)))
    )
    bigrams = F.zip_with(
        F.slice("words", F.lit(1), F.col("m")),
        F.slice("words", F.lit(2), F.col("m")),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = base.withColumn(
        "grams", F.concat(F.col("words"), bigrams)
    )
    return grams.select(
        "doc_id", F.explode("grams").alias("g")
    ).select("doc_id", hash_bucket(F.col("g"), n_buckets).alias("b"))


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) scoring: rank RAW-corpus documents by how much more likely
    their hashed n-gram features are under the TARGET distribution
    than under the raw distribution — the standard recipe for
    steering a web-scale crawl toward a curated domain before
    training. Returns (doc_id, n_grams, dsir_score), score =
    sum over the doc's gram occurrences of
    floor(log2((c_t(b)+1)/(c_r(b)+1))) + n_grams *
    floor(log2((R+B)/(T+B))) — the add-1-smoothed log-likelihood
    ratio with the corpus-size term factored out as a constant.

    Integer-exact in both engines (no float log anywhere — same
    dyadic discipline as BM25): each floor(log2(x/y)) is
    bitlen(greatest((x << 16) div y, 1)) - 17, exact for ratios in
    [2^-16, 2^47) and saturating at the ends; x << 16 stays below
    2^63 for corpora under 2^46 gram occurrences (~10^13 tokens,
    documented bound).

    Scale shape: two hash aggregates build the bucket count tables
    (n_buckets rows each — broadcast), the raw gram stream joins the
    broadcast weight map, and one per-doc aggregate finishes; the
    only data-sized shuffle keys on doc_id."""
    # The raw gram stream collapses to per-(doc, bucket) COUNTS first
    # — the exact state shape dsir_maintain_stream keeps (proven
    # oracle-equal there): n_grams = sum(cnt), sw = sum(cnt * w), all
    # long arithmetic, identical to counting occurrences. Both count
    # tables are consumed twice downstream (c_t by the weight join
    # and the corpus total, counts by c_r and the score join) under
    # different keys, so each is materialized once (lazy
    # localCheckpoint) — without that every consumer re-runs the full
    # gram explode + hash of its corpus.
    t_grams = _hashed_gram_buckets(target, text_col, id_col, n_buckets)
    r_grams = _hashed_gram_buckets(raw, text_col, id_col, n_buckets)
    c_t = (
        t_grams.groupBy("b")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=False)  # <= n_buckets rows
    )
    counts = (
        r_grams.groupBy("doc_id", "b")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)  # <= |docs| x n_buckets narrow rows
    )
    return _dsir_scores(c_t, counts, n_buckets)


def _dsir_scores(
    c_t: DataFrame, counts: DataFrame, n_buckets: int
) -> DataFrame:
    """(doc_id, n_grams, dsir_score) from the target bucket counts
    ``c_t`` (b, ct) and the raw per-(doc, bucket) counts ``counts``
    (doc_id, b, cnt) — the scoring tail shared by the batch and
    streaming DSIR entries."""
    c_r = counts.groupBy("b").agg(F.sum("cnt").cast("long").alias("cr"))
    weights, const = _dsir_weights(c_t, c_r, n_buckets)
    return (
        counts.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("w")).alias("_sw"),
        )
        .crossJoin(F.broadcast(const))
        .select(
            "doc_id",
            "n_grams",
            (F.col("_sw") + F.col("n_grams") * F.col("cq"))
            .cast("long")
            .alias("dsir_score"),
        )
    )


def _dsir_weights(
    c_t: DataFrame, c_r: DataFrame, n_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """The (per-bucket weight table, 1-row corpus constant) pair of
    the DSIR score, from the two bucket count tables c_t(b, ct) /
    c_r(b, cr) — the half of dsir_importance the streaming
    maintenance form must re-derive per epoch (both move with
    raw-corpus totals while the target side stays fixed). Both
    outputs are n_buckets-bounded / 1-row — broadcast material."""
    # c_r feeds both the corpus total and the weight join; it is
    # <= n_buckets rows but its lineage re-aggregates the raw count
    # table per consumer — pin it once (no caller checkpoints it)
    c_r = c_r.localCheckpoint(eager=False)
    tot = (
        c_t.agg(F.sum("ct").alias("tt"))
        .crossJoin(c_r.agg(F.sum("cr").alias("rr")))
        .select(
            F.coalesce("tt", F.lit(0)).alias("tt"),
            F.coalesce("rr", F.lit(0)).alias("rr"),
        )
    )
    s = _DSIR_SCALE_BITS
    # only buckets PRESENT in raw can be hit by a raw gram
    weights = (
        c_r.join(c_t, "b", "left")
        .select(
            "b",
            (
                F.length(
                    F.bin(
                        F.greatest(
                            F.expr(
                                f"((coalesce(ct, 0) + 1) * {1 << s}) "
                                "div (cr + 1)"
                            ),
                            F.lit(1),
                        )
                    )
                ).cast("long")
                - F.lit(s + 1)
            ).alias("w"),
        )
    )
    const = tot.select(
        (
            F.length(
                F.bin(
                    F.greatest(
                        F.expr(
                            f"((rr + {n_buckets}) * {1 << s}) "
                            f"div (tt + {n_buckets})"
                        ),
                        F.lit(1),
                    )
                )
            ).cast("long")
            - F.lit(s + 1)
        ).alias("cq")
    )
    return weights, const


def dsir_maintain_stream(
    spark,
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming DSIR importance MAINTENANCE — the steer-the-crawl
    score kept current as the crawl arrives: the TARGET side (the
    curated domain) is fixed, so its bucket count table computes
    once up front (n_buckets rows, checkpointed); raw documents
    arriving in micro-batches are gram-hashed exactly once, at
    arrival, into the text-free (doc_id, b, cnt) bucket-count state
    appended per epoch (append-only-per-doc asserted).

    The score readout is NOT append-only: every per-bucket weight
    carries the raw corpus's own bucket count c_r(b) and the
    corpus-size constant carries the raw total — a new batch shifts
    EVERY document's score. So each epoch re-derives weights +
    scores from the accumulated count table (_dsir_weights + one
    doc-keyed aggregate over bounded-width rows, no text) — the
    bounded per-epoch-recompute discipline of the BM25/CDC
    maintenance forms, with the expensive text scan incremental.

    Final epoch equals batch dsir_importance over all arrived raw
    docs, so the entry shares its oracle twin."""
    from ..streaming.replay import maintain

    c_t = (
        _hashed_gram_buckets(target, text_col, id_col, n_buckets)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=True)
    )
    return maintain(
        spark,
        raw.select(F.col(id_col), F.col(text_col)),
        lambda b: _hashed_gram_buckets(b, text_col, id_col, n_buckets)
        .groupBy("doc_id", "b")
        .agg(F.count("*").cast("long").alias("cnt")),
        lambda acc, *_: _dsir_scores(c_t, acc, n_buckets),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


def dsir_topk(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """The k raw documents most target-like under the DSIR score
    (ties pinned by doc_id) — the selection step; compiles to
    TakeOrderedAndProject, never a global sort."""
    return (
        dsir_importance(raw, target, text_col, id_col, n_buckets)
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(k)
    )


def dsir_budget_pack(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_budget: int = 8_000,
    step: int = 8,
    n_bins: int = 1024,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Greedy importance-first token packing — DSIR's selection step
    under a TOKEN budget instead of a document count (what you
    actually hold when composing a training mix): documents are
    admitted in (dsir_score DESC, doc_id) order until the budget is
    spent; a document is kept iff its STARTING offset falls inside
    the budget (the shard-assignment convention of
    token_budget_pack). Returns every scored doc with its audit
    trail: (doc_id, dsir_score, tokens, cum_tokens, kept).

    The 100 TB shape is token_budget_pack's decomposed prefix sum
    with SCORE BINS as the buckets: bin = (score - min) div step is
    a monotone function of the sort key, so ordering by
    (bin DESC, score DESC, doc_id) equals ordering by
    (score DESC, doc_id) exactly — per-bin local windows (ordinary
    hash-partitioned), one bounded <= n_bins bin-total cumsum, bucket
    base offsets broadcast back; bit-identical to the naive global
    window (which is what the DuckDB twin runs). Caveat vs the hash
    buckets of token_budget_pack: score bins are not uniform — a hot
    bin concentrates its documents in one partition, and n_bins/step
    are the knobs (same class as salting)."""
    scores = dsir_importance(
        raw, target, text_col, id_col, n_buckets
    ).localCheckpoint(eager=True)
    mn = scores.agg(F.min("dsir_score").cast("long").alias("mn"))
    toks = raw.select(
        F.col(id_col).alias("doc_id"),
        bpe_token_count(F.col(text_col)).cast("long").alias("tokens"),
    )
    base = (
        scores.select("doc_id", "dsir_score")
        .join(toks, "doc_id")
        .crossJoin(F.broadcast(mn))
        .withColumn(
            "_bin",
            F.least(
                F.lit(n_bins - 1),
                F.expr(f"(dsir_score - mn) div {step}"),
            ).cast("long"),
        )
        # consumed by both the per-bin window and the bin-offset
        # aggregate under different keys; the subtree contains the
        # token-count scan + score join, so each extra consumer
        # re-tokenizes the corpus — materialize the narrow table once
        .localCheckpoint(eager=False)
    )
    local_w = (
        Window.partitionBy("_bin")
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("_lc", F.sum("tokens").over(local_w))
    bin_w = (
        Window.orderBy(F.desc("_bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )  # <= n_bins rows — the adjudicated bounded-window class
    offsets = (
        base.groupBy("_bin")
        .agg(F.sum("tokens").alias("_btok"))
        .withColumn(
            "_base", F.sum("_btok").over(bin_w) - F.col("_btok")
        )
        .select("_bin", "_base")
    )
    cum = F.col("_base") + F.col("_lc")
    return (
        local.join(F.broadcast(offsets), "_bin")
        .select(
            "doc_id",
            "dsir_score",
            "tokens",
            cum.cast("long").alias("cum_tokens"),
            ((cum - F.col("tokens")) < token_budget).alias("kept"),
        )
    )


def dsir_mixture_pack(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    token_budget: int = 8_000,
    step: int = 8,
    n_bins: int = 1024,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-weighted MIXTURE budget pack (SURVEY §9 r11 candidate
    (c)) — the full composition a training-mix builder runs: hold a
    SOURCE MIXTURE by token share while packing each source
    importance-first. The token budget splits across sources by
    largest-remainder allocation over each source's TOTAL token mass
    (stratified_budget_alloc with tokens as the weight — the
    proportional mixture), then WITHIN each source documents are
    admitted in (dsir_score DESC, doc_id) order until that source's
    budget is spent; a document is kept iff its starting offset
    inside its source falls under the source budget
    (dsir_budget_pack's shard-assignment convention, applied
    per-source). Returns every scored doc with its audit trail:
    (g, doc_id, dsir_score, tokens, cum_tokens, budget_g, kept) —
    cum_tokens is the within-source prefix sum.

    Integer-exact end to end: dsir_importance's dyadic scores, token
    counts, and the Hamilton allocation are all long arithmetic on
    non-negative operands (truncating div == flooring //).

    100 TB shape: dsir_budget_pack's decomposed prefix sum with the
    source as an EXTRA partition key — per-(source, score-bin) local
    windows (ordinary hash-partitioned), one bin-offset cumsum
    PARTITIONED BY source over the <= n_sources x n_bins bin-total
    table (bounded, and not even an unpartitioned window), bucket
    base offsets broadcast back. Bit-identical to the naive
    per-source global window (the DuckDB twin) by the same
    monotone-bin argument: bin = (score - min) div step is monotone
    in score, so (bin DESC, score DESC, doc_id) == (score DESC,
    doc_id) within each source. The allocation's remainder rank is
    over the STRATA table only (bounded)."""
    scores = dsir_importance(
        raw, target, text_col, id_col, n_buckets
    ).localCheckpoint(eager=True)
    toks = raw.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("g"),
        bpe_token_count(F.col(text_col)).cast("long").alias("tokens"),
    )
    return _dsir_mixture_pack_from_scores(
        scores, toks, token_budget, step, n_bins
    )


def _dsir_mixture_pack_from_scores(
    scores: DataFrame,
    toks: DataFrame,
    token_budget: int,
    step: int,
    n_bins: int,
) -> DataFrame:
    """The allocation + per-source decomposed-prefix-sum tail of
    dsir_mixture_pack over prepared scores(doc_id, dsir_score) and
    toks(doc_id, g, tokens) — shared by the batch operator and the
    streaming maintenance form (which re-derives scores per epoch
    while tokens/group labels are fixed at arrival)."""
    from .sampling import stratified_budget_alloc

    mn = scores.agg(F.min("dsir_score").cast("long").alias("mn"))
    base = (
        scores.select("doc_id", "dsir_score")
        .join(toks, "doc_id")
        .crossJoin(F.broadcast(mn))
        .withColumn(
            "_bin",
            F.least(
                F.lit(n_bins - 1),
                F.expr(f"(dsir_score - mn) div {step}"),
            ).cast("long"),
        )
        # THREE consumers (allocation counts, per-(source, bin)
        # window, bin-offset aggregate) under different keys; the
        # subtree contains the token-count scan + score join —
        # materialize once (see dsir_budget_pack)
        .localCheckpoint(eager=False)
    )
    counts = base.groupBy("g").agg(
        F.sum("tokens").cast("long").alias("w")
    )
    alloc = stratified_budget_alloc(counts, token_budget).select(
        "g", F.col("k_g").cast("long").alias("budget_g")
    )
    local_w = (
        Window.partitionBy("g", "_bin")
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("_lc", F.sum("tokens").over(local_w))
    bin_w = (
        Window.partitionBy("g")
        .orderBy(F.desc("_bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )  # <= n_bins rows per source, source-partitioned
    offsets = (
        base.groupBy("g", "_bin")
        .agg(F.sum("tokens").alias("_btok"))
        .withColumn(
            "_base", F.sum("_btok").over(bin_w) - F.col("_btok")
        )
        .select("g", "_bin", "_base")
    )
    cum = F.col("_base") + F.col("_lc")
    return (
        local.join(F.broadcast(offsets), ["g", "_bin"])
        .join(F.broadcast(alloc), "g")
        .select(
            "g",
            "doc_id",
            "dsir_score",
            "tokens",
            cum.cast("long").alias("cum_tokens"),
            "budget_g",
            ((cum - F.col("tokens")) < F.col("budget_g")).alias("kept"),
        )
    )


def dsir_mixture_pack_maintain_stream(
    spark,
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    token_budget: int = 8_000,
    step: int = 8,
    n_bins: int = 1024,
    n_buckets: int = DSIR_BUCKETS,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming MIXTURE-pack maintenance — the live training-mix
    composer: dsir_maintain_stream's incremental scoring (fixed
    target bucket table; arriving docs gram-hashed once into
    append-only (doc_id, b, cnt) state; weights re-derived per
    epoch) composed with the mixture-pack tail. Token counts and
    source labels are computed exactly once at arrival (fixed
    per-doc facts, appended state); everything downstream of the
    scores — the largest-remainder source budgets, the per-source
    packing order, every kept verdict — moves with EVERY epoch (a
    new batch shifts all scores AND all source token masses), so
    the tail re-derives per epoch from the two accumulated tables.

    Final epoch equals batch dsir_mixture_pack over all arrived
    docs, so the entry shares its oracle twin."""
    from ..streaming.replay import check_ordered_arrival, replay_fold

    c_t = (
        _hashed_gram_buckets(target, text_col, id_col, n_buckets)
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=True)
    )
    state: dict = {"counts": None, "toks": None, "max_id": None, "result": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        fresh = (
            _hashed_gram_buckets(batch_df, text_col, id_col, n_buckets)
            .groupBy("doc_id", "b")
            .agg(F.count("*").cast("long").alias("cnt"))
            .localCheckpoint(eager=True)
        )
        fresh_toks = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).alias("g"),
            bpe_token_count(F.col(text_col)).cast("long").alias("tokens"),
        ).localCheckpoint(eager=True)
        state["max_id"] = check_ordered_arrival(
            fresh, "doc_id", state["max_id"], epoch_id
        )
        # lazy unions of immutable per-epoch blocks (maintain's policy)
        acc, acc_toks = fresh, fresh_toks
        if state["counts"] is not None:
            acc = state["counts"].unionByName(fresh)
            acc_toks = state["toks"].unionByName(fresh_toks)
        state["counts"], state["toks"] = acc, acc_toks
        scores = (
            _dsir_scores(c_t, acc, n_buckets)
            .select("doc_id", "dsir_score")
            .localCheckpoint(eager=True)
        )
        state["result"] = _dsir_mixture_pack_from_scores(
            scores, acc_toks, token_budget, step, n_bins
        )

    replay_fold(
        spark,
        raw.select(F.col(id_col), F.col(text_col), F.col(group_col)),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    return state["result"]


def dsir_quota_sample(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    budget: int = 24,
    step: int = 8,
    n_bins: int = 1024,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR -> mixture composition (SURVEY §9.3d): the
    quality_quota_sample pattern with DSIR importance as the score —
    what a pipeline runs to steer a crawl toward a target domain
    WHILE holding a source mixture: score every raw doc
    (dsir_importance), derive ONE data-dependent cut keeping at least
    half the corpus from the TOP (most target-like — the mirror image
    of the quality cut, which keeps low perplexity), re-derive the
    per-source mixture from the survivors, allocate the budget by
    largest remainder over post-cut counts, and draw each source's
    quota with the deterministic md5 bottom-k. Returns one row per
    sampled unit: (g, unit, thr_score, k_g) — thr_score reported in
    RAW score units for audit.

    DSIR scores are negative log-ratio sums, so the binning shifts by
    the corpus minimum first (1-row broadcast; shifted scores
    non-negative, keeping Spark's truncating div == DuckDB's flooring
    //). The threshold is max(bin*step) with 2 * top-down-cumulative
    >= total over the clamped bin table — the keep-high mirror of
    quality_quota_sample's keep-low rule, sharing its degenerate-
    clamp caveat at the TOP bin.

    Scale shape: dsir_importance's broadcast weight tables + one
    doc-keyed aggregate, a bounded bin window, three 1-row/strata
    broadcasts, and one group-keyed rank with a constant bound
    (WindowGroupLimit) — no new shuffle classes."""
    from pyspark.sql import Window

    from .sampling import stratified_budget_alloc

    scores = dsir_importance(
        raw, target, text_col, id_col, n_buckets
    ).localCheckpoint(eager=True)
    mn = scores.agg(F.min("dsir_score").cast("long").alias("mn"))
    shifted = scores.crossJoin(F.broadcast(mn)).select(
        "doc_id", (F.col("dsir_score") - F.col("mn")).alias("s")
    )
    binned = (
        shifted.select(
            F.least(F.lit(n_bins - 1), F.expr(f"s div {step}"))
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = binned.agg(F.sum("n").cast("long").alias("t"))
    cum_w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )  # <= n_bins rows — the adjudicated bounded-window class
    thr = (
        binned.withColumn("cum", F.sum("n").over(cum_w))
        .crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("t"))
        .agg(F.max(F.col("bin") * step).cast("long").alias("thr_shift"))
        .crossJoin(F.broadcast(mn))
        .select(
            "thr_shift",
            (F.col("thr_shift") + F.col("mn"))
            .cast("long")
            .alias("thr_score"),
        )
    )
    lab = shifted.join(
        raw.select(
            F.col(id_col).alias("doc_id"), F.col(group_col).alias("g")
        ),
        "doc_id",
    )
    staged = (
        lab.crossJoin(F.broadcast(thr))
        .filter(F.col("s") >= F.col("thr_shift"))
        .select(
            "g",
            F.col("doc_id").alias("unit"),
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            "thr_score",
        )
        .filter(F.col("unit").isNotNull())
    )
    counts = staged.groupBy("g").agg(F.count("*").cast("long").alias("w"))
    alloc = stratified_budget_alloc(counts, budget)
    w = Window.partitionBy("g").orderBy("h", "unit")
    ranked = staged.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= budget  # constant bound -> WindowGroupLimit
    )
    return (
        ranked.join(F.broadcast(alloc), "g")
        .filter(F.col("_rn") <= F.col("k_g"))
        .select(
            "g",
            "unit",
            "thr_score",
            F.col("k_g").cast("long").alias("k_g"),
        )
    )
