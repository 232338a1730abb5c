"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full validation gauntlet (clean →
validate → score → route) over synthetic reviews derived from the
sf0.001 documents fixture.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 (+ §7 extensions); the driver compares each Spark
result against the DuckDB oracle at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yelp_streaming_etl_pipeline_spark import oracles as O
from yelp_streaming_etl_pipeline_spark.functions import language as LANG
from yelp_streaming_etl_pipeline_spark.functions import text_features as TF
from yelp_streaming_etl_pipeline_spark.functions.rounding import (
    exact_sum,
    quantize,
    sql_exact_avg as XA,
    sql_exact_sum as XS,
    sql_exact_sum_over as XSO,
    sql_quantize as SQZ,
    sql_stable_round as SR,
    stable_round as ROUND,
)
from yelp_streaming_etl_pipeline_spark.operators import cdc as CDC
from yelp_streaming_etl_pipeline_spark.operators import (
    corpus_quality as CQ,
)
from yelp_streaming_etl_pipeline_spark.operators import dedup as DD
from yelp_streaming_etl_pipeline_spark.operators import gauntlet as G
from yelp_streaming_etl_pipeline_spark.operators import pii as PII
from yelp_streaming_etl_pipeline_spark.operators import relational as REL
from yelp_streaming_etl_pipeline_spark.operators import sampling as SAMP
from yelp_streaming_etl_pipeline_spark.operators import similarity as SIM
from yelp_streaming_etl_pipeline_spark.operators import sketches as SK
from yelp_streaming_etl_pipeline_spark.operators import stats as ST
from yelp_streaming_etl_pipeline_spark.operators import text_analysis as TA
from yelp_streaming_etl_pipeline_spark.sources.events import (
    convert_event_ts,
    read_events,
    read_events_stream,
)
from yelp_streaming_etl_pipeline_spark.sources.reviews import (
    NOW_LITERAL,
    synthetic_reviews,
)
from yelp_streaming_etl_pipeline_spark.sources.tables import read_fixture
from yelp_streaming_etl_pipeline_spark.streaming import joins as SJ
from yelp_streaming_etl_pipeline_spark.streaming.replay import (
    drain,
    stage_ordered_slices,
)

SF0001 = "/root/testdata/sf0.001"


def _ensure_conf(spark: SparkSession) -> SparkSession:
    """Make results independent of the caller's session defaults:
    UTC timestamps (oracle comparison) and nanos-as-long parquet
    reads (events.parquet uses TIMESTAMP(NANOS))."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def _now() -> F.Column:
    return F.to_timestamp(F.lit(NOW_LITERAL))


_BPE_ARTIFACT_DIR: list[str] = []


def _bpe_artifact_dir(entry: str = "spans") -> str:
    """One per-process BPE artifact directory, reused across
    invocations (export_bpe writes mode=overwrite), so bench passes
    and probes don't accumulate tempdirs (ADVICE r9). Each ENTRY gets
    its own subdirectory: the exported-vocab read is lazy, so two
    entries sharing one path could clobber each other if a caller
    builds several query DataFrames before executing any."""
    if not _BPE_ARTIFACT_DIR:
        import tempfile

        _BPE_ARTIFACT_DIR.append(tempfile.mkdtemp(prefix="bpe_artifact_"))
    return f"{_BPE_ARTIFACT_DIR[0]}/{entry}"


_STAGED_CACHE: dict[tuple[int, str], DataFrame] = {}


def _staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gauntlet-annotated synthetic reviews with scores (all rows).

    Persisted once per (session, sf_dir): the reference computes the
    gauntlet ONCE and routes it to several sinks (faust_app.py:131-170)
    — the accepted/issues/counts/summary/stats queries here are
    projections of that single pass, so they share the materialized
    intermediate instead of recomputing the whole expression tree."""
    key = (id(spark), sf_dir)
    cached = _STAGED_CACHE.get(key)
    if cached is not None:
        return cached
    reviews = synthetic_reviews(_ensure_conf(spark), sf_dir)
    validated = G.validate_reviews(reviews, _now())
    staged = G.score_reviews(validated, _now()).persist()
    _STAGED_CACHE[key] = staged
    return staged


def entry(spark: SparkSession) -> DataFrame:
    accepted, _rejected, _issues = G.clean_reviews(
        synthetic_reviews(_ensure_conf(spark), SF0001), _now()
    )
    return accepted


# ---------------- queries ----------------

def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t_cpu(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        TF.word_count(t).alias("word_count"),
        TF.char_count(t).alias("char_count"),
        TF.sentence_count(t).alias("sentence_count"),
        TF.avg_word_length(t).alias("avg_word_length"),
        TF.caps_ratio(t).alias("caps_ratio"),
        TF.punct_ratio(t).alias("punct_ratio"),
        TF.digit_ratio(t).alias("digit_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t_cpu(spark, sf_dir, "documents")
    return LANG.with_lang_id(
        d.select("doc_id", "text"), "text", id_col="doc_id"
    ).select("doc_id", "language", "language_confidence")


def q_clean_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = _staged(spark, sf_dir)
    return G.select_cleaned(staged.filter(F.col("is_accepted")), _now())


def _issues_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _staged(spark, sf_dir)
        .select(F.explode("issues").alias("i"))
        .select("i.*")
    )


def q_quality_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _issues_df(spark, sf_dir)


def q_issue_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.issue_type_counts(_issues_df(spark, sf_dir))


def q_acceptance_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.acceptance_summary(_staged(spark, sf_dir))


def q_review_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.full_review_stats(_staged(spark, sf_dir), by_business=True)


def q_review_stats_overall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNGROUPED shape of the declared ReviewStats aggregate —
    models.py:101-127 makes business_id Optional, so both grouped and
    global rollups are part of the reference surface."""
    return ST.full_review_stats(_staged(spark, sf_dir), by_business=False)


def _attribution_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The stream-join entries' two sides, each its own read of the
    events fixture stream: clicks (user_id, click_ts, click_id) and
    purchases (user_id, purchase_ts, purchase_id, amount)."""

    def side(event_type: str, cols: dict[str, str]) -> DataFrame:
        ev = read_events_stream(_ensure_conf(spark), sf_dir)
        return ev.filter(F.col("event_type") == event_type).select(
            "user_id", *[F.col(src).alias(dst) for src, dst in cols.items()]
        )

    clicks = side("click", {"ts": "click_ts", "event_id": "click_id"})
    purchases = side(
        "purchase",
        {"ts": "purchase_ts", "event_id": "purchase_id", "value": "amount"},
    )
    return clicks, purchases


def q_attributed_purchases_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (attribution) run to completion with
    trigger(availableNow). The events fixture is ONE file -> one
    micro-batch, and inner-join matches emit within the batch they
    arrive in, so the emitted set is deterministic: every (purchase,
    prior click within 30 min) pair — fully oracle-checkable."""
    return drain(SJ.attribute_purchases(*_attribution_sides(spark, sf_dir)))


def q_attributed_purchases_semi_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT SEMI interval join (streaming/joins.py
    attribute_purchases_semi): purchases with ANY prior click within
    30 min emit exactly once — completing the stream-join family
    (inner, left outer, full outer, semi). One-file replay -> matches
    emit in-batch; the oracle is the EXISTS form of the interval
    join."""
    return drain(
        SJ.attribute_purchases_semi(*_attribution_sides(spark, sf_dir))
    )


def q_topic_roundtrip_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 producer + S5 consumer EXECUTED end to end: the synthetic
    review table is streamed into the file-backed topic shim (keyed by
    business_id, JSON payload — the exact projection the real Kafka
    sink sends, topology.kafka_payload) and consumed back through the
    shared Kafka decode (filetopic.decode_review_records). The oracle
    is the source-table derivation itself: a lossless broker round
    trip returns exactly the input rows. The source, topic and
    producer checkpoint share one temp dir, removed once the consumer
    has drained the topic into memory."""
    import shutil
    import tempfile

    from yelp_streaming_etl_pipeline_spark.streaming import filetopic as FT

    spark = _ensure_conf(spark)
    corpus = synthetic_reviews(spark, sf_dir).drop(
        "language", "language_confidence"
    )
    root = tempfile.mkdtemp(prefix="topic_roundtrip_")
    try:
        corpus.coalesce(1).write.mode("overwrite").parquet(f"{root}/src")
        FT.write_file_topic_keyed(
            spark.readStream.schema(corpus.schema).parquet(f"{root}/src"),
            f"{root}/topic",
            f"{root}/ckpt_prod",
            key_col="business_id",
            timestamp_col="ingestion_timestamp",
        ).trigger(availableNow=True).start().awaitTermination()
        return drain(
            FT.decode_review_records(
                FT.read_file_topic_stream(spark, f"{root}/topic")
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------- training-corpus assembly (SURVEY.md §7 extension) -----------

def _benchmark_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in eval set: every 101st document."""
    return _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 101 == 0)


def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yelp_streaming_etl_pipeline_spark.operators import corpus as CP

    return CP.token_budget_pack(
        _t(spark, sf_dir, "documents"), shard_budget=50_000
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yelp_streaming_etl_pipeline_spark.operators import corpus as CP

    return CP.decontaminate(
        _t(spark, sf_dir, "documents"), _benchmark_docs(spark, sf_dir)
    )


def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yelp_streaming_etl_pipeline_spark.operators import corpus as CP

    return CP.training_corpus(
        _t_cpu(spark, sf_dir, "documents"),
        _benchmark_docs(spark, sf_dir),
        shard_budget=50_000,
    )


_MIXTURE_TARGETS = {"en": 0.5, "es": 0.2, "fr": 0.2, "de": 0.1}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture draw over the documents' language column: the
    largest corpus matching the declared shares (zh deliberately
    absent from the targets -> dropped)."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        mixture_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mixture_sample(d, "lang", "doc_id", _MIXTURE_TARGETS)


def q_corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-append delta: existing corpus = 2/3 of documents;
    the incoming batch = the remaining third plus re-keyed copies of
    every 7th document (exact-text dups that must be rejected against
    whichever side already holds the text)."""
    from yelp_streaming_etl_pipeline_spark.operators import corpus as CP

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    existing = d.filter(F.col("doc_id") % 3 != 0)
    incoming = d.filter(F.col("doc_id") % 3 == 0).unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"), "text"
        )
    )
    return CP.corpus_upsert(existing, incoming).select("doc_id", "fingerprint")


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-window exact substring dedup, span discovery
    (operators/dedup.py exact_substring_spans — the Lee-et-al.
    duplicated-substring family in a shuffle-native bounded form):
    every 8-token window is hashed; windows recurring >= 2 times
    corpus-wide merge into maximal per-doc spans. Runs over the
    near-dup corpus, whose planted exact/near copies guarantee long
    duplicated spans. One hash-count shuffle (no pair join) + doc-
    keyed window merge."""
    return DD.exact_substring_spans(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id"
    )


def q_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level removal over the same corpus (operators/dedup.py
    exact_substring_removal): drop every token position covered by a
    duplicated 8-token window; per doc returns token/removed counts +
    md5 of the surviving text. Linear: covered starts explode into
    <= 8x constant-width position rows, survivors selected by a
    (doc, pos) anti join and re-assembled with one doc-keyed
    sort-aggregate."""
    return DD.exact_substring_removal(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id"
    )


def q_exact_substring_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming exact-substring span maintenance (operators/dedup.py
    exact_substring_maintain_stream): each arriving doc is window-
    hashed once into text-free (doc_id, pos, h) state; duplication is
    corpus-global, so the span readout is re-derived per epoch from
    the accumulated table (retro-flagging earlier docs when a twin
    arrives). Final epoch equals batch exact_substring_spans, sharing
    its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_maintain_stream,
    )

    return exact_substring_maintain_stream(
        _ensure_conf(spark),
        _doc_corpus_cpu(spark, sf_dir).select("doc_id", "text"),
    )


def q_exact_substring_removal_maintenance_stream_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming BPE token-space REMOVAL maintenance (operators/
    dedup.py exact_substring_removal_maintain_stream_bpe): the fixed
    artifact vocab tokenizes arriving docs once; state carries the
    piece sequences (the tokenized corpus itself) plus the window
    table, and the deduped corpus re-emits per epoch — removal is
    corpus-global and retroactive. Final epoch equals batch
    exact_substring_removal_bpe, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_removal_maintain_stream_bpe,
    )

    return exact_substring_removal_maintain_stream_bpe(
        _ensure_conf(spark),
        _doc_corpus_cpu(spark, sf_dir).select("doc_id", "text"),
        export_path=_bpe_artifact_dir("removal_stream"),
    )


def q_exact_substring_maintenance_stream_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming BPE token-space span maintenance (operators/dedup.py
    exact_substring_maintain_stream_bpe): the tokenizer artifact
    round-trips through parquet ONCE up front, then each arriving doc
    is vocab-joined + window-hashed once into text-free
    (doc_id, pos, h) state under the fixed broadcast vocab; the span
    readout re-derives per epoch (duplication is corpus-global).
    Final epoch equals batch exact_substring_spans_bpe, sharing its
    oracle twin — ship the vocab, dedup any stream against it."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_maintain_stream_bpe,
    )

    return exact_substring_maintain_stream_bpe(
        _ensure_conf(spark),
        _doc_corpus_cpu(spark, sf_dir).select("doc_id", "text"),
        export_path=_bpe_artifact_dir("spans_stream"),
    )


def q_exact_substring_spans_bytes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BYTE-level exact-substring span discovery (operators/dedup.py
    exact_substring_spans_bytes): every 32-byte window of the raw
    UTF-8 encoding is hashed (no tokenization / lowering — the form
    Lee et al. run over raw training bytes, catching duplicated
    markup and whitespace runs the word tokenizer normalizes away);
    windows recurring >= 2 times corpus-wide merge into maximal
    per-doc spans with 1-based byte offsets. Same shuffle shape as
    the token variant: one hash-count aggregate, no pair join."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_spans_bytes,
    )

    return exact_substring_spans_bytes(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id"
    )


def q_exact_substring_removal_bytes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-level span removal (operators/dedup.py
    exact_substring_removal_bytes): drop every byte position covered
    by a duplicated 32-byte window; per doc returns byte/removed
    counts + md5 of the hex image of the surviving bytes. Linear:
    per-byte hex pairs come from the split-once char array (never
    per-position substr), survivors via a (doc, pos) anti join,
    reassembly one doc-keyed sort-aggregate."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_removal_bytes,
    )

    return exact_substring_removal_bytes(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id"
    )


def q_paragraph_dedup_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CCNet paragraph dedup (operators/dedup.py
    paragraph_dedup_maintain_stream): the stitched-pages corpus
    arrives in page_id order, making keep-first append-only — each
    epoch keeps only paragraphs whose normalized hash is absent from
    the text-free seen-hash state (within-batch ties ranked first),
    emits its docs' results once, and asserts ordered arrival. Final
    epoch equals batch paragraph_dedup, sharing its twin."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        paragraph_dedup_maintain_stream,
    )

    return paragraph_dedup_maintain_stream(
        _ensure_conf(spark), _pages_corpus(spark, sf_dir)
    )


def _pages_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stitched multi-paragraph 'pages': 3 docs per page joined by
    blank lines, doc 0's text appended to every even page as a
    repeated boilerplate footer (the fixture texts carry no newlines;
    mirrored exactly in _sql_paragraph_dedup)."""
    d = _t_cpu(spark, sf_dir, "documents").select("doc_id", "text")
    pages = (
        d.groupBy(F.expr("doc_id div 3").alias("page_id"))
        .agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
    )
    footer = d.filter(F.col("doc_id") == 0).select(
        F.col("text").alias("ftext")
    )
    return pages.crossJoin(F.broadcast(footer)).select(
        F.col("page_id").alias("doc_id"),
        F.when(
            F.col("page_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\n\n"), F.col("ftext")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_exact_substring_spans_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring span dedup in BPE TOKEN space (operators/
    dedup.py exact_substring_spans_bpe): the repo's BPE learner is
    trained on the near-dup corpus, the segmented-word vocab is
    round-tripped through a parquet artifact (train once, ship,
    dedup anywhere), every document becomes its BPE piece sequence
    via one BROADCAST vocab join (plan-asserted), and the Lee-et-al
    window/count/merge machinery runs over token positions — dedup
    in the space the training loop actually repeats."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_spans_bpe,
    )

    return exact_substring_spans_bpe(
        _doc_corpus_cpu(spark, sf_dir),
        "text",
        "doc_id",
        export_path=_bpe_artifact_dir("spans"),
    )


def q_exact_substring_removal_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-substring REMOVAL in BPE token space (operators/dedup.py
    exact_substring_removal_bpe) — the spans entry's completion: every
    BPE token position covered by a duplicated window drops, and the
    surviving pieces rehash per doc, so the output is directly the
    deduped tokenized corpus. Same artifact round trip (vocab via
    parquet), same broadcast vocab join, same gap-slicing reassembly
    discipline as the byte family — no covered-position explode, no
    pair join."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        exact_substring_removal_bpe,
    )

    return exact_substring_removal_bpe(
        _doc_corpus_cpu(spark, sf_dir),
        "text",
        "doc_id",
        export_path=_bpe_artifact_dir("removal"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-level dedup (operators/dedup.py
    paragraph_dedup): documents are stitched into multi-paragraph
    'pages' (3 docs per page, blank-line separated; doc 0's text
    appended to every even page as a repeated boilerplate footer —
    the fixture texts carry no newlines, so the corpus is built, and
    mirrored exactly in the twin). Duplicate paragraphs drop
    corpus-wide keeping the smallest (doc_id, pos) occurrence — the
    keep-first rank is a hash-PARTITIONED window, never a global
    sort."""
    return DD.paragraph_dedup(_pages_corpus(spark, sf_dir))


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM cross-entropy quality scores
    (operators/corpus_quality.py bigram_lm_scores, Wenzek et al.
    2020): rank the even-doc_id half of documents by
    millibits-per-bigram under a bigram model counted from the
    odd-doc_id half — the dyadic-integer form of the perplexity gate
    CCNet / RedPajama / FineWeb run before training. Two count
    aggregates build the model; the scored bigram stream equi-joins
    it; one doc-keyed aggregate finishes."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        bigram_lm_scores,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return bigram_lm_scores(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )


def q_kn_bigram_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram-LM quality scores (operators/
    corpus_quality.py kn_bigram_scores, Kneser & Ney 1995): the
    even-doc_id half ranked by millibits-per-bigram under a
    KN-smoothed model counted from the odd half — absolute
    discounting (D = 3/4) interpolated with the continuation
    distribution, the smoothing real LM gates use where
    bigram_lm_scores is the raw-MLE baseline. Integer-exact: one
    rational per bigram, exact floor-log2 via the scale-bits trick."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        kn_bigram_scores,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return kn_bigram_scores(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )


def q_kn_bigram_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Kneser-Ney model maintenance (operators/
    corpus_quality.py kn_bigram_maintain_stream): the odd-half
    reference arrives in micro-batches into the distinct-bigram
    count state (mass-conservation asserted); discount mass,
    continuation fanins/fanouts and the type count all move with
    every new distinct pair, so the scored half re-ranks per epoch.
    Final epoch equals batch kn_bigram_scores, sharing its twin."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        kn_bigram_maintain_stream,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return kn_bigram_maintain_stream(
        _ensure_conf(spark),
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )


def q_bigram_lm_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming bigram-LM model maintenance (operators/
    corpus_quality.py bigram_lm_maintain_stream): the reference half
    arrives in micro-batches, each doc bigram-extracted once into the
    distinct-bigram count state (bounded by bigram vocabulary, not
    corpus length; mass conservation asserted per epoch); weights and
    the OOV floor re-derive per epoch because corpus totals move them.
    Final epoch equals batch bigram_lm_scores, sharing its twin."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        bigram_lm_maintain_stream,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return bigram_lm_maintain_stream(
        _ensure_conf(spark),
        d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text"),
        d.filter(F.col("doc_id") % 2 == 0),
    )


def q_lm_filter_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating characteristic of the CCNet bigram-LM filter against
    PLANTED corruption (operators/corpus_quality.py score_roc_table
    over bigram_lm_scores): even docs are scored both clean and in a
    word-REVERSED variant (bigram-OOV garbage the LM must flag,
    id + 10M) against the odd-doc model; per 8-millibit threshold the
    confusion counts of 'flag BAD iff mbits >= thr' are integer-exact
    and the sweep window runs over the <= 1024-row bin table only —
    the calibration table a pipeline reads before picking its
    perplexity cut."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        bigram_lm_scores, norm_words, score_roc_table,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 1)
    clean = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    corrupted = clean.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(norm_words(F.col("text")), lambda w: F.reverse(w)),
        ).alias("text"),
    )
    scored = bigram_lm_scores(ref, clean.unionByName(corrupted))
    labeled = scored.select(
        "mbits_per_bigram",
        (F.col("doc_id") >= 10_000_000).alias("is_bad"),
    )
    return score_roc_table(labeled, "mbits_per_bigram", "is_bad")


def q_unigram_em_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Viterbi scores under the REFINED unigram
    inventory (operators/tokenizer.py unigram_em_scores) — EM round
    2's E-step, closing the SentencePiece loop: prune/re-quantize via
    the recovered paths, then segment every word AGAIN under the kept
    pieces. Same schema as unigram_lm_scores, directly comparable
    round over round; still two corpus passes, all DP work on the
    distinct-word table."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_em_scores,
    )

    return unigram_em_scores(_t_cpu(spark, sf_dir, "documents"))


def q_lm_filter_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source survival curves under the bigram-LM quality cut
    (operators/corpus_quality.py quality_cut_mix_shift): for every
    source and occupied millibit bin, how many of that source's even
    docs survive 'keep iff mbits < thr' under the odd-doc model — the
    mixture-shift table read before applying one global perplexity
    threshold (a single cut silently reweights sources; CCNet filters
    per language for this reason). Group-partitioned bounded-bin
    cumulative sums only."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        bigram_lm_scores, quality_cut_mix_shift,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    scored = bigram_lm_scores(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )
    lab = scored.join(d.select("doc_id", "source"), "doc_id")
    return quality_cut_mix_shift(lab, "mbits_per_bigram", "source")


def q_quality_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end quality-cut-then-rebalance-then-sample step
    (operators/corpus_quality.py quality_quota_sample) — what a
    CCNet/DCLM pipeline runs AFTER reading lm_filter_roc and
    lm_filter_mix_shift: even docs scored under the odd-doc bigram
    model, the tightest millibit threshold keeping >= half the scored
    corpus derived from the bounded bin table, a 24-doc budget
    re-allocated across sources by largest remainder over the
    POST-CUT counts, and each source's quota drawn by deterministic
    md5 bottom-k. Chains score -> cut -> allocation -> draw,
    integer-exact."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        bigram_lm_scores, quality_quota_sample,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    scored = bigram_lm_scores(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
    )
    lab = scored.join(d.select("doc_id", "source"), "doc_id")
    return quality_quota_sample(
        lab, "mbits_per_bigram", "source", "doc_id"
    )


def q_unigram_em_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM hard-EM (Viterbi-EM) refinement pass
    (operators/tokenizer.py unigram_em_refine — SentencePiece's
    estimate-then-prune step in engine-exact integer form): Viterbi
    paths are RECOVERED per distinct word (full-dp fold + argmax
    self-join + bounded backtrace fold), integer piece usage is
    accumulated along them, and multigram pieces the optimal
    segmentations never touch are pruned; weights re-quantize on the
    same dyadic log2 scheme as the seed inventory."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_em_refine,
    )

    return unigram_em_refine(_t_cpu(spark, sf_dir, "documents"))


def q_unigram_em_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SentencePiece trainer loop (operators/tokenizer.py
    unigram_em_loop): 3 chained hard-EM rounds — Viterbi-segment every
    distinct word under the current inventory, accumulate integer
    usage along the recovered paths, re-quantize dyadically, prune
    multigrams the optimal segmentations never touch, feed the kept
    inventory into the next round. One inventory-delta row per round;
    convergence shows as n_pruned -> 0 and vit_total going flat. One
    corpus pass total; each round's DP runs on the distinct-word
    table. The twin chains one full forward-DP + path-recovery CTE
    block per round (MATERIALIZED nodes so DuckDB's CTE inlining
    doesn't re-execute earlier rounds per reference)."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_em_loop,
    )

    return unigram_em_loop(_t_cpu(spark, sf_dir, "documents"))


def q_unigram_em_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SIZE-SCHEDULED trainer loop (operators/tokenizer.py
    unigram_em_schedule) — real SentencePiece's shrinking factor: each
    of 3 hard-EM rounds keeps the top multigram pieces by Viterbi
    usage, pruning toward n_target = max(64, ceil(n_multi * 3/4));
    single chars never prune (coverage), weights re-quantize
    dyadically. One delta row per round with the schedule's n_target
    carried; one corpus pass total, the rank runs over the bounded
    piece inventory. The twin chains per-round DP/path blocks with
    rank-pruned vocab bodies (MATERIALIZED hot nodes)."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_em_schedule,
    )

    return unigram_em_schedule(_t_cpu(spark, sf_dir, "documents"))


def q_unigram_em_schedule_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc Viterbi scores under the size-scheduled trainer's
    FINAL inventory (operators/tokenizer.py
    unigram_em_schedule_scores) — the shipped-model readout after 3
    shrink rounds, same rollup schema as unigram_lm_scores /
    unigram_em_scores so the three model generations compare
    directly. One corpus pass; the twin chains the schedule blocks
    plus one final DP whose vocab is the kept inventory."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_em_schedule_scores,
    )

    return unigram_em_schedule_scores(_t_cpu(spark, sf_dir, "documents"))


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection step (operators/corpus.py dsir_topk): the 50
    most target-like raw documents by importance score, ties pinned by
    doc_id — compiles to TakeOrderedAndProject over the scored table."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_topk,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_topk(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) Viterbi tokenization scores
    (operators/tokenizer.py unigram_lm_scores): optimal-DP
    segmentation of every distinct word under dyadic log2-frequency
    piece weights — the Viterbi counterpart of the greedy WordPiece
    entry, completing the tokenizer family. All DP work runs over the
    distinct-word table with a constant 4-slot fold accumulator; the
    piece inventory broadcasts."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_lm_scores,
    )

    return unigram_lm_scores(_t_cpu(spark, sf_dir, "documents"))


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance scores (operators/corpus.py
    dsir_importance, Xie et al. 2023): rank the even-doc_id half of
    documents by target-likeness against the odd-doc_id half —
    integer-exact dyadic log-likelihood ratios over a 1024-bucket
    hashed uni+bigram space; bucket weight tables broadcast, the only
    data-sized shuffle keys on doc_id."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_importance,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_importance(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def q_duplicated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup over the near-dup corpus: content-defined
    chunks (rolling-hash boundaries) whose exact text recurs."""
    return DD.duplicated_passages(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id"
    )


def q_cdc_chunk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking near-dup pairs (operators/dedup.py
    cdc_chunk_pairs): rolling-hash cut points -> per-doc chunk-hash
    sets -> document-frequency-capped equi-join on chunk_hash -> doc
    pairs with >= 2 shared chunks + jaccard. Runs over the near-dup
    corpus PLUS insertion-shifted variants (a snippet spliced at char
    200, doc_id % 13 -> +3_000_000) — the duplicate class that shifts
    every fixed-window shingle but leaves CDC chunks outside the
    edited one intact."""
    return DD.cdc_chunk_pairs(
        DD.with_insertion_shifted_dups(_doc_corpus_cpu(spark, sf_dir)),
        "text",
        "doc_id",
    )


def q_cdc_maintenance_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC near-dup maintenance (operators/dedup.py
    cdc_maintain_stream): the spliced near-dup corpus arrives in three
    ascending-id micro-batches; each doc is rolling-hash CHUNKED once
    at arrival (append-only hash state, asserted), while the df-cap +
    pair join re-derives per epoch because corpus-wide frequencies
    move. Final pair set equals batch cdc_chunk_pairs, sharing its
    oracle twin."""
    spark = _ensure_conf(spark)
    return DD.cdc_maintain_stream(
        spark,
        DD.with_insertion_shifted_dups(_doc_corpus_cpu(spark, sf_dir)),
        "text",
        "doc_id",
    )


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level keep-first dedup with removal readout (operators/
    dedup.py cdc_chunk_dedup) over the spliced near-dup corpus:
    content-defined chunks tile each normalized document (no
    min-length filter), corpus-wide duplicate chunks drop keeping
    the smallest (doc_id, pos), and the per-doc readout carries
    counts + the md5 of the surviving text — paragraph_dedup
    generalized to content-defined cuts, so an insertion-shifted
    copy keeps only the chunk containing its splice."""
    return DD.cdc_chunk_dedup(
        DD.with_insertion_shifted_dups(_doc_corpus_cpu(spark, sf_dir)),
        "text",
        "doc_id",
    )


def q_cdc_chunk_dedup_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming chunk-level keep-first dedup (operators/dedup.py
    cdc_chunk_dedup_maintain_stream): the spliced corpus arrives in
    ascending-id micro-batches (asserted), making keep-first
    append-only — arriving chunks survive iff absent from the
    accumulated hash state, per-epoch cost O(batch) plus one
    O(state) read. Final epoch equals batch cdc_chunk_dedup, sharing
    its oracle twin."""
    spark = _ensure_conf(spark)
    return DD.cdc_chunk_dedup_maintain_stream(
        spark,
        DD.with_insertion_shifted_dups(
            _doc_corpus_cpu(spark, sf_dir)
        ).select("doc_id", "text"),
    )


def q_kmeans_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming k-means centroid maintenance (operators/clustering.py
    kmeans_maintain_stream): embeddings arrive in three ascending-id
    micro-batches; the first Lloyd update is maintained as associative
    per-(cluster, dim) (sum, count) state — per epoch only NEW points
    are assigned to the pinned seed centroids and merged — with the
    remaining iterations finished over the accumulated set per epoch.
    Final assignment equals batch kmeans_lloyd, sharing
    kmeans_clusters' oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.clustering import (
        kmeans_maintain_stream,
    )

    spark = _ensure_conf(spark)
    return kmeans_maintain_stream(
        spark, read_fixture(spark, sf_dir, "embeddings", spread=True)
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yelp_streaming_etl_pipeline_spark.functions.lang_trigrams import (
        with_lm_score,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return with_lm_score(d.select("doc_id", "text"), "text", "doc_id")


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.hourly_stats(read_events(_ensure_conf(spark), sf_dir))


def q_distinct_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.distinct_daily_users(read_events(_ensure_conf(spark), sf_dir))


def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.event_type_pivot(read_events(_ensure_conf(spark), sf_dir))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.value_percentiles(read_events(_ensure_conf(spark), sf_dir))


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.props_extract_stats(read_events(_ensure_conf(spark), sf_dir))


def q_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.returning_users(read_events(_ensure_conf(spark), sf_dir))


def q_lapsed_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.lapsed_users(read_events(_ensure_conf(spark), sf_dir))


def q_sliding_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.sliding_hourly_stats(read_events(_ensure_conf(spark), sf_dir))


def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.top_bigrams(_t_cpu(spark, sf_dir, "documents"))


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.tfidf_keywords(_t_cpu(spark, sf_dir, "documents"))


# ---------------- relational library (SURVEY.md §7 Phase 2) ----------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_fixture(_ensure_conf(spark), sf_dir, name)


def _t_cpu(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture read for CPU-bound-per-row pipelines (regex, shingles,
    hashes, vector math): spread small single-split scans over cores."""
    return read_fixture(_ensure_conf(spark), sf_dir, name, spread=True)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.revenue_by_nation(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.top_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.customers_without_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_parts_with_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.parts_with_shipments(
        _t(spark, sf_dir, "part"), _t(spark, sf_dir, "lineitem")
    )


def q_supplier_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.supplier_running_revenue(_t(spark, sf_dir, "lineitem"))


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.rollup_revenue(_t(spark, sf_dir, "lineitem"))


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.cube_revenue(_t(spark, sf_dir, "lineitem"))


def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.customer_value_quartiles(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.top_orders_per_segment(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.salted_event_counts(read_events(_ensure_conf(spark), sf_dir))


def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.numeric_profile(_t(spark, sf_dir, "lineitem"))


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.order_priority_counts(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.sessionize_events(read_events(_ensure_conf(spark), sf_dir))


def q_purchase_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the same user's most recent
    click at-or-before it (same-timestamp ties -> max event_id,
    resolved inside the window sort — no pre-dedup shuffle)."""
    ev = read_events(_ensure_conf(spark), sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return REL.asof_join(
        purchases, clicks, "user_id", right_cols=("event_id",)
    ).filter(F.col("prior_event_id").isNotNull())


def q_click_purchase_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join: (click, purchase) pairs by the same user
    within 5 minutes, as an equi-join on (user, time-bucket)."""
    ev = read_events(_ensure_conf(spark), sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return REL.interval_pairs(clicks, purchases, "user_id", 300).select(
        F.col("l_event_id").alias("click_id"),
        F.col("user_id"),
        F.col("r_event_id").alias("purchase_id"),
        "gap_us",
    )


def q_attributed_purchases_outer_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join run to completion with
    trigger(availableNow): matches emit in-batch; null-click rows
    emit in the final no-data micro-batch for every unmatched
    purchase whose event time fell below the global watermark
    (min over both inputs of ms-floored max event time, minus 1 h).
    Purchases younger than the watermark stay in state unemitted —
    correct streaming semantics, mirrored exactly by the oracle."""
    return drain(
        SJ.attribute_purchases_outer(*_attribution_sides(spark, sf_dir))
    )


def q_attributed_purchases_full_outer_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join (completes the join
    matrix: inner / left outer / full outer): matches emit in-batch;
    unmatched purchases null-emit below the global watermark;
    unmatched clicks null-emit below (watermark - attribution
    window), the bound at which no future purchase can attribute to
    them. Both eviction bounds empirically verified against Spark's
    derived state watermarks and mirrored in the oracle."""
    return drain(
        SJ.attribute_purchases_full_outer(*_attribution_sides(spark, sf_dir))
    )


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState) run
    to completion over the events fixture with trigger(availableNow).

    The fixture is one file -> ONE micro-batch, so the emitted set is
    deterministic: every session closed by a later in-batch event —
    i.e. all sessions except each user's final (still-open) one. That
    makes this streaming operator fully oracle-checkable."""
    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        sessionize_stream,
    )

    closed = drain(
        sessionize_stream(read_events_stream(_ensure_conf(spark), sf_dir))
    )
    return closed.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        ROUND(F.col("session_value"), 2).alias("session_value"),
    )


# ------------- dedup / similarity / text-analysis (SURVEY.md §7 Phase 4) -----

def _doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.with_synthetic_near_dups(_t(spark, sf_dir, "documents"))


def _doc_corpus_cpu(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.with_synthetic_near_dups(_t_cpu(spark, sf_dir, "documents"))


def _dup_review_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.with_replayed_duplicates(
        synthetic_reviews(_ensure_conf(spark), sf_dir)
    )


def q_dedup_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors, _ = DD.dedup_reviews(_dup_review_corpus(spark, sf_dir), _now())
    return survivors


def q_duplicate_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, issues = DD.dedup_reviews(_dup_review_corpus(spark, sf_dir), _now())
    return issues


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 streaming dedup (applyInPandasWithState, 2-h event-time TTL)
    run to completion over the replayed-duplicate corpus. The corpus
    is staged as ONE parquet file so trigger(availableNow) sees a
    single micro-batch — the state function sorts each key's rows by
    (source, ingestion_timestamp), so every row's first/duplicate tag
    is deterministic and matches the batch oracle's ranking."""
    import shutil
    import tempfile

    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        dedup_reviews_stream,
    )

    d = tempfile.mkdtemp(prefix="dup_corpus_")
    try:
        _dup_review_corpus(spark, sf_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        stream = spark.readStream.schema(
            spark.read.parquet(d).schema
        ).parquet(d)
        return drain(dedup_reviews_stream(stream)).select(
            "review_id", "date", "business_id", "source", "is_duplicate"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_doc_corpus(spark, sf_dir), "text", "doc_id")


def q_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id", 0.5
    )


def q_windowed_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (W2/A1 shape) run to
    completion with trigger(availableNow) and APPEND output: only
    windows finalized by the watermark are emitted. One-file fixture
    -> one data batch, so the emitted set is deterministic: windows
    whose end (ms) <= final watermark (max event time ms - 1 h)."""
    return drain(
        read_events_stream(_ensure_conf(spark), sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def _sliding_type_counts(ev: DataFrame, delay: str) -> DataFrame:
    """Per-event-type counts over sliding 2-h windows advancing
    hourly, watermarked ``delay`` behind the stream's event time."""
    return (
        ev.withWatermark("ts", delay)
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def _top3_per_window(counts: DataFrame) -> DataFrame:
    """The top-3 event types per window, ties broken by type name."""
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3
    )


def q_trending_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending detector: sliding 2-h windows advancing
    hourly, per-event-type counts aggregated BY THE STREAM (append
    mode, so only watermark-closed windows emit), then the top-3
    types per window ranked on the emitted result. Ranking is a
    batch step over the closed-window table because streaming
    aggregations can't host a row_number — the handoff is the
    documented pattern for leaderboards over streams.

    Scale shape: the streaming agg is keyed (window, event_type) with
    partial aggregation per micro-batch and state bounded by the
    watermark horizon; the rank runs over one row per (window, type)
    — already tiny."""
    ev = read_events_stream(_ensure_conf(spark), sf_dir)
    return _top3_per_window(drain(_sliding_type_counts(ev, "1 hour")))


def q_enriched_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to a static
    user-tier dimension (broadcast — no stream-side shuffle, the
    standard dimension-enrichment shape), then a watermarked tumbling
    aggregate per (window, tier) in append mode. The static side is
    re-read per micro-batch by Spark, which is exactly how a slowly-
    changing dim behaves under this join.

    The tier dim derives deterministically from the fixture's user
    ids so the oracle can rebuild it (a real deployment swaps in a
    JDBC/parquet dim table without changing the plan)."""
    tiers = (
        read_events(_ensure_conf(spark), sf_dir)
        .select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.element_at(
                F.array(F.lit("bronze"), F.lit("silver"), F.lit("gold")),
                (F.col("user_id") % 3 + 1).cast("int"),
            ),
        )
    )
    return drain(
        read_events_stream(_ensure_conf(spark), sf_dir)
        .withWatermark("ts", "1 hour")
        .join(F.broadcast(tiers), "user_id")
        .groupBy(F.window("ts", "1 hour"), "tier")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "tier",
            "n_events",
            "total_value",
        )
    )


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log compaction: the user's current state is their latest event
    (ties broken by event_id)."""
    ev = read_events(_ensure_conf(spark), sf_dir)
    return CDC.compact_latest(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "ts", "event_type"
    )


def q_user_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 over each user's event history: validity window per event."""
    ev = read_events(_ensure_conf(spark), sf_dir)
    return CDC.scd2_intervals(ev, ["user_id"], "ts", "event_id").select(
        "user_id", "event_id", "event_type", "valid_from", "valid_to",
        "is_current",
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lowercased whitespace tokens of documents.text (the corpus the
    count-min sketch counts)."""
    return (
        _t_cpu(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(TF.ws_trim(F.lower(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .filter(F.length("term") > 0)
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(_ensure_conf(spark), sf_dir)
    return SK.value_histogram(ev, F.col("value"))


def q_histogram_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(_ensure_conf(spark), sf_dir)
    return SK.histogram_median(SK.value_histogram(ev, F.col("value")))


def q_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SK.cms_counters(_doc_tokens(spark, sf_dir), F.col("term"))


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SK.cms_heavy_hitters(_doc_tokens(spark, sf_dir), F.col("term"), 20)


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit HyperLogLog register table over event ids — the
    mergeable sketch itself, hash-compared register-for-register.
    Spread read: md5-per-row is CPU-bound and keys off event_id only
    (no timestamp semantics), so the single-split fixture scan is
    round-robined across cores."""
    ev = _t_cpu(spark, sf_dir, "events")
    return SK.hll_registers(ev, F.col("event_id"))


def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t_cpu(spark, sf_dir, "events")
    return SK.hll_estimate(SK.hll_registers(ev, F.col("event_id")))


SAMPLE_RATES = {"src0": 0.5, "src1": 0.25}
SAMPLE_DEFAULT_RATE = 0.1
SPLIT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}
CLASS_CAP = 10


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SAMP.stratified_sample(
        _t(spark, sf_dir, "documents"),
        "source",
        SAMPLE_RATES,
        "doc_id",
        default_rate=SAMPLE_DEFAULT_RATE,
    ).select("doc_id", "source")


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SAMP.train_test_split(
        _t(spark, sf_dir, "documents"), "doc_id", SPLIT_WEIGHTS
    ).select("doc_id", "split")


def q_class_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SAMP.class_capped_sample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", CLASS_CAP
    ).select("doc_id", "lang")


PPS_SCALE = 400.0


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SAMP.pps_sample(
        _t(spark, sf_dir, "documents"), "n_chars", "doc_id", PPS_SCALE
    ).select("doc_id", "n_chars")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = DD.minhash_lsh_pairs(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id", 0.5
    )
    return DD.dedup_clusters(pairs)


def q_dedup_corpus_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline in one plan: detect near-dup pairs
    (MinHash+LSH), resolve transitive clusters (label propagation),
    prune every non-survivor (left_anti), report kept rows per source
    — the complete corpus-dedup shape a training pipeline runs."""
    corpus = _doc_corpus_cpu(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(corpus, "text", "doc_id", 0.5)
    losers = (
        DD.dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    kept = corpus.join(losers, "doc_id", "left_anti")
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_table(_doc_corpus_cpu(spark, sf_dir), "text", "doc_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_pairs(_doc_corpus_cpu(spark, sf_dir), "text", "doc_id")


def q_simhash_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming SimHash near-dup maintenance (operators/dedup.py
    simhash_maintain_stream): each arriving doc is signature-hashed
    once into text-free (doc_id, simhash) state (append-only per doc,
    asserted); the band-join + exact-Hamming readout is corpus-global
    so it re-derives per epoch, retro-pairing earlier docs. Final
    epoch equals batch simhash_pairs, sharing its twin."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        simhash_maintain_stream,
    )

    return simhash_maintain_stream(
        _ensure_conf(spark),
        _doc_corpus_cpu(spark, sf_dir).select("doc_id", "text"),
    )


def q_neardup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id", "source", 2, 0.3
    )


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TA.analyze_documents(_t_cpu(spark, sf_dir, "documents"))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.quantized_rerank_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0)
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.lsh_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") % 100 == 0)
    )


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified top-k (operators/similarity.py mmr_topk):
    greedy relevance-minus-redundancy selection over each query's
    top-16 cosine candidates — corpus scanned once, greedy stages run
    on the |Q|*16 candidate table only; DuckDB twin unrolls the
    identical stages as CTEs."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.mmr_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.py:ivfpq_topk): coarse
    quantizer + residual product quantization (8x8-dim codebooks from
    a deterministic residual subsample) + integer-quantized ADC scan
    + exact cosine re-rank of the top-20 ADC candidates. The encoded
    corpus is 8 one-byte codes + a centroid id per doc — the 100 TB
    scan object — and the ADC partial sums are scaled BIGINTs, so the
    whole approximate index is value-checkable against DuckDB."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_audio_meta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of media_dims_audit (operators/multimodal.py
    audio_meta_audit): payloads carry REAL canonical 44-byte PCM WAV
    headers; Spark parses sample rate / channels / data size from
    the little-endian bytes natively and derives the duration, then
    audits it against the metadata struct. The DuckDB twin recomputes
    the counts from the id arithmetic alone — agreement requires the
    byte-level parse to be right."""
    import yelp_streaming_etl_pipeline_spark.operators.multimodal as MM2

    spark = _ensure_conf(spark)
    return MM2.audio_meta_audit(MM2.synthetic_audio_media(spark, 512))


def q_pq_codebooks_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ codebooks (operators/similarity.py:
    pq_kmeans_codebooks): per-subspace k-means over the coarse
    residuals — the production codebook-training step ivfpq_topk's
    deterministic-subsample codebook stands in for. All 8 subspace
    problems train in one DataFrame job per Lloyd iteration (subspace
    index m rides along every join/group key); integer-quantized
    arithmetic makes the trained codebooks bit-identical across
    engines. Output: (m, code_id, n_members, dim_j, cq) scalar rows."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.pq_kmeans_codebooks(emb)


def q_payload_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob chunk manifest (operators/multimodal.py
    payload_chunk_manifest): fixed-size segments + per-segment
    sha256-of-hex over the synthetic media corpus (chunk_bytes=96 so
    every payload splits into 2-4 segments with ragged tails). The
    storage layout multi-GB payloads need for parallel fetch/verify;
    payload bytes never survive past the map side."""
    from yelp_streaming_etl_pipeline_spark.operators import multimodal as MM

    return MM.payload_chunk_manifest(
        MM.synthetic_media(_ensure_conf(spark), 256), chunk_bytes=96
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: synthetic binary payloads ->
    Arrow-batched mapInPandas extract -> (content hash, first feature).
    The fake decode kernel is deterministic, so even this Python-side
    stage is value-checked against DuckDB."""
    from yelp_streaming_etl_pipeline_spark.operators import multimodal as MM

    feats = MM.extract_features(MM.synthetic_media(_ensure_conf(spark), 256))
    return feats.select(
        "media_id",
        "content_sha",
        ROUND(F.element_at(F.col("features"), 1).cast("double"), 6).alias("f0"),
    )


def q_media_dims_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal transform (operators/multimodal.py): payloads
    carry genuine PNG signature+IHDR and JPEG SOI/APP0/SOF0 header
    bytes; dimensions are parsed back out with NATIVE column
    expressions only (binary substring -> hex -> conv; the JPEG
    marker walk is an unrolled F.aggregate fold) and audited against
    the typed metadata struct. The DuckDB twin recomputes the
    expected per-format agreement counts from the generator's id
    arithmetic — Spark only reproduces them by correctly parsing the
    actual bytes, including planted corrupt payloads and planted
    metadata drift."""
    from yelp_streaming_etl_pipeline_spark.operators import multimodal as MM

    return MM.media_dims_audit(
        MM.synthetic_image_media(_ensure_conf(spark), 512)
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.cosine_neardup_pairs(
        SIM.with_synthetic_vec_dups(_t_cpu(spark, sf_dir, "embeddings")),
        tau=0.99,
    )


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CQ.quality_classifier(_t_cpu(spark, sf_dir, "documents"))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CQ.gopher_quality(_t_cpu(spark, sf_dir, "documents"))


def q_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CQ.repetition_profile(_t_cpu(spark, sf_dir, "documents"))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CQ.chunk_documents(_t_cpu(spark, sf_dir, "documents"))


# z-order layout bounds: approximate per-dimension ranges declared as
# engine constants (bucketize clamps out-of-range values, so these only
# set resolution, not correctness); mirrored in the oracle twin.
ZORDER_VALUE_BOUNDS = (0.0, 400.0)
ZORDER_USER_BOUNDS = (0.0, 1024.0)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yelp_streaming_etl_pipeline_spark.functions import zorder as Z

    ev = _t(spark, sf_dir, "events").select("event_id", "value", "user_id")
    return Z.zorder_layout(
        ev,
        "value",
        "user_id",
        *ZORDER_VALUE_BOUNDS,
        *ZORDER_USER_BOUNDS,
    ).select("event_id", "bucket_a", "bucket_b", "zkey")


def _sql_zorder_layout() -> str:
    from yelp_streaming_etl_pipeline_spark.functions import zorder as Z

    a, b, key = Z.sql_zorder_layout(
        "value", "user_id", *ZORDER_VALUE_BOUNDS, *ZORDER_USER_BOUNDS
    )
    return f"""
WITH bucketed AS (
  SELECT event_id, {a} AS a, {b} AS b FROM events
)
SELECT event_id, a AS bucket_a, b AS bucket_b, ({key}) AS zkey
FROM bucketed"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.hard_negatives(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations on HLL sketches: click-user vs purchase-user
    cardinalities, register-max union, inclusion-exclusion
    intersection — all from the 256-row register tables alone."""
    ev = _t_cpu(spark, sf_dir, "events")
    return SK.hll_set_ops(
        ev.filter(F.col("event_type") == "click"),
        F.col("user_id"),
        ev.filter(F.col("event_type") == "purchase"),
        F.col("user_id"),
    )


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from count-min sketches: per-salt inner
    product of the clicks/purchases user_id counter tables; min over
    salts never undercounts |clicks JOIN purchases|."""
    ev = _t_cpu(spark, sf_dir, "events")
    return SK.cms_join_size(
        ev.filter(F.col("event_type") == "click"),
        F.col("user_id").cast("string"),
        ev.filter(F.col("event_type") == "purchase"),
        F.col("user_id").cast("string"),
    )


def q_hll_registers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance in Structured Streaming: the
    explicit HLL register table kept by a streaming
    groupBy(bucket).agg(max(rho)) in COMPLETE output mode — max is
    associative/commutative, so the streaming state IS the sketch and
    the final table equals the batch build bit-for-bit (same oracle
    as hll_registers). State is bounded at 256 rows forever."""
    ev = read_events_stream(_ensure_conf(spark), sf_dir)
    return drain(SK.hll_registers(ev, F.col("event_id")), "complete")


def q_fingerprint_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental fingerprint maintenance, distributed end to end:
    checksum(base) + checksum(delta) == checksum(base + delta)
    (mod 2^61) because the reduce is a plain hash sum — the property
    that lets a 100 TB replica audit update in O(delta) instead of
    re-scanning. The entry computes all three checksums over an
    event split (base = even ids, delta = odd ids) plus the modular
    identity's residual, which must be 0."""
    from yelp_streaming_etl_pipeline_spark.operators import (
        integrity as IG,
    )

    ev = read_events(_ensure_conf(spark), sf_dir)

    def cols() -> list:
        return [
            F.col("event_id"),
            F.unix_micros(F.col("ts")),
            F.col("user_id"),
            F.col("event_type"),
            quantize(F.col("value")),
            F.col("props"),
        ]

    base = IG.table_fingerprint(
        ev.filter(F.col("event_id") % 2 == 0), cols(), "base"
    )
    delta = IG.table_fingerprint(
        ev.filter(F.col("event_id") % 2 == 1), cols(), "delta"
    )
    full = IG.table_fingerprint(ev, cols(), "full")
    u = base.unionByName(delta).unionByName(full)
    wide = u.groupBy().pivot(
        "table_name", ["base", "delta", "full"]
    ).agg(
        F.first("checksum").alias("checksum"),
        F.first("n_rows").alias("n_rows"),
    )
    return wide.select(
        F.col("base_checksum"),
        F.col("delta_checksum"),
        F.col("full_checksum"),
        (F.col("base_n_rows") + F.col("delta_n_rows")).alias("n_rows"),
        (
            (F.col("base_checksum") + F.col("delta_checksum"))
            % F.lit(IG.FP_MOD)
            - F.col("full_checksum")
        ).alias("residual"),
    )


def q_cosupply_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier communities by synchronous label propagation over the
    mutual-kNN co-supply graph (operators/graph.py) — deterministic
    via simultaneous rounds + min-label tie-break."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        cosupply_communities,
    )

    return cosupply_communities(_t(spark, sf_dir, "lineitem"))


def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned join: the build side is the FILTERED orders subset
    ('F' status); its 128-row bloom register table broadcasts and
    prunes lineitem BEFORE the shuffle (pure map — no exchange added),
    so only probable matches pay shuffle cost. False positives are
    removed by the equi-join itself, so the result is EXACTLY the
    plain filtered join the oracle runs — bloom pruning is
    result-transparent, which is the whole point: at 100 TB the
    filter cuts the shuffled fact-side volume to ~the true match rate
    (plus the documented FP rate) for the price of one broadcast.
    This hand-built prefilter is the explicit form of Spark's runtime
    row-group bloom pushdown, usable where that doesn't reach (e.g.
    non-parquet sources, pre-shuffle pruning)."""
    od = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority")
    )
    li = _t(spark, sf_dir, "lineitem")
    regs = SK.bloom_registers(od, _bloom_key("o_orderkey"))
    pruned = SK.bloom_might_contain(
        li, _bloom_key("l_orderkey"), regs
    ).filter(F.col("might_contain"))
    joined = pruned.join(
        od, pruned["l_orderkey"] == od["o_orderkey"]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        exact_sum(F.col("l_extendedprice"), 2).alias("revenue"),
    )


def q_partition_overwrite_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Idempotent single-partition backfill: events written
    partitioned by day, then ONE day rewritten through DYNAMIC
    partition overwrite (only partitions present in the incoming
    frame are replaced; every other day's files are untouched) — the
    reprocess-one-bad-day operation every partitioned 100 TB table
    needs. The backfill doubles that day's values; the read-back
    aggregate proves exactly one partition changed."""
    import tempfile

    ev = read_events(_ensure_conf(spark), sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = tempfile.mkdtemp(prefix="events_by_day_")
    ev.write.partitionBy("day").mode("overwrite").parquet(out)
    target_day = "2024-01-02"
    fixed = (
        ev.filter(F.col("day") == target_day)
        .withColumn("value", F.col("value") * 2)
    )
    (
        fixed.write.partitionBy("day")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    # partition-directory values come back type-inferred as DATE;
    # normalize to the string key the oracle groups by
    return back.groupBy(
        F.col("day").cast("string").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        exact_sum(F.col("value"), 2).alias("day_value"),
    )


def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit in one pass per table: key
    uniqueness (exact distinct vs count), referential integrity
    (orphan counts via anti-join semantics), and null rates — the
    contract checks a warehouse load runs before publishing. Each
    check is one aggregate or one broadcast-able anti-join; output is
    a fixed handful of (check, n_violations) rows."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    checks = []

    def _row(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check"),
            F.col("n").cast("long").alias("n_violations"),
        )

    checks.append(
        _row(
            "orders_pk_duplicates",
            od.groupBy("o_orderkey")
            .count()
            .filter(F.col("count") > 1)
            .agg(F.count("*").alias("n")),
        )
    )
    checks.append(
        _row(
            "lineitem_orphan_orderkeys",
            li.join(
                od.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count("*").alias("n")),
        )
    )
    checks.append(
        _row(
            "orders_orphan_custkeys",
            od.join(
                cu.select("c_custkey"),
                od["o_custkey"] == F.col("c_custkey"),
                "left_anti",
            ).agg(F.count("*").alias("n")),
        )
    )
    checks.append(
        _row(
            "lineitem_null_quantity",
            li.filter(F.col("l_quantity").isNull()).agg(
                F.count("*").alias("n")
            ),
        )
    )
    checks.append(
        _row(
            "orders_negative_totalprice",
            od.filter(F.col("o_totalprice") < 0).agg(
                F.count("*").alias("n")
            ),
        )
    )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def q_schema_evolution_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet schema evolution: two writer generations (the second
    adds a column) land in one dataset; a mergeSchema read unifies
    them with nulls backfilling the old generation — the lake-table
    reality every long-lived 100 TB dataset hits. Reduced per lang
    over both generations; the oracle reconstructs the same union
    with NULL n_chars for generation 1."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="io_evo_")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang"
    ).write.mode("overwrite").parquet(f"{d}/gen=1")
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.mode("overwrite").parquet(f"{d}/gen=2")
    back = spark.read.option("mergeSchema", "true").parquet(d)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count("n_chars").alias("n_with_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written bucketBy(8,
    custkey) + sortBy and read back as tables, so the join needs NO
    shuffle exchange on either side (asserted by the plan test) —
    the storage-layout answer to repeated big-to-big joins at 100 TB,
    where pre-bucketing amortizes one shuffle across every future
    join on the key. Result is the plain join aggregate the oracle
    runs."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="bucketed_")
    tag = os.path.basename(d)  # unique per call, a valid identifier
    od_t, cu_t = f"orders_b_{tag}", f"customer_b_{tag}"
    (
        _t(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .option("path", f"{d}/orders")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(od_t)
    )
    (
        _t(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .option("path", f"{d}/customer")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(cu_t)
    )
    od = spark.table(od_t)
    cu = spark.table(cu_t)
    joined = od.join(cu, od["o_custkey"] == cu["c_custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice"), 2).alias("total_revenue"),
    )


def q_table_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent replication-audit fingerprints
    (operators/integrity.py) for three tables in one result: per-row
    md5 over null-tagged, type-normalized encodings (epoch micros for
    timestamps, quantized integers for doubles — never raw float
    formatting), summed mod 2^61. Equal checksums across engines /
    clusters / rewrites certify equal row multisets without sorting
    or shipping either side."""
    from yelp_streaming_etl_pipeline_spark.operators import (
        integrity as IG,
    )

    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    ev = read_events(_ensure_conf(spark), sf_dir)
    fps = [
        IG.table_fingerprint(
            li,
            [
                F.col("l_orderkey"),
                F.col("l_partkey"),
                F.col("l_suppkey"),
                F.col("l_linenumber"),
                quantize(F.col("l_quantity")),
                quantize(F.col("l_extendedprice")),
                F.col("l_returnflag"),
                F.col("l_linestatus"),
                F.unix_micros(
                    F.col("l_shipdate").cast("timestamp_ltz")
                ),
            ],
            "lineitem",
        ),
        IG.table_fingerprint(
            od,
            [
                F.col("o_orderkey"),
                F.col("o_custkey"),
                F.col("o_orderstatus"),
                quantize(F.col("o_totalprice")),
                F.unix_micros(
                    F.col("o_orderdate").cast("timestamp_ltz")
                ),
                F.col("o_orderpriority"),
            ],
            "orders",
        ),
        IG.table_fingerprint(
            ev,
            [
                F.col("event_id"),
                F.unix_micros(F.col("ts")),
                F.col("user_id"),
                F.col("event_type"),
                quantize(F.col("value")),
                F.col("props"),
            ],
            "events",
        ),
    ]
    out = fps[0]
    for f in fps[1:]:
        out = out.unionByName(f)
    return out


SQL_SURFACE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""


def q_sql_surface_groupingsets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Identical-text two-engine SQL: explicit GROUPING SETS with
    grouping() indicator columns — the generalization rollup_revenue
    and cube_revenue exercise through the DataFrame API, here through
    the shared ANSI text (one aggregate pass expanded over the three
    grouping sets in both engines)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_GROUPING_SETS)


SQL_SURFACE_LATERAL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
WHERE c.c_custkey % 50 = 0"""


def q_sql_surface_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL: correlated LATERAL subquery
    with per-outer-row ORDER BY + LIMIT (top-2 orders per sampled
    customer) — Catalyst decorrelates the lateral top-k into a
    window-ranked join; DuckDB runs the same text via its lateral
    join machinery. Deterministic: the inner order is a total order
    (totalprice desc, orderkey asc)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_SURFACE_LATERAL)


def q_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by lift (operators/text_analysis.py) — PMI
    without the log, one IEEE division over exact BIGINT products."""
    return TA.bigram_lift(_t_cpu(spark, sf_dir, "documents"))


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL source format round-tripped: synthetic
    reviews written back out in the raw Yelp JSON-lines shape
    (rating -> stars, formatted date string) and re-read through the
    S1/S2 lenient reader (sources/reviews.py:read_yelp_jsonlines —
    PERMISSIVE mode, stars -> rating, defaults). Reduced to one audit
    row over the roundtrip-stable columns (date is excluded: rows
    with missing dates take the reader's fallback-to-now, correctly
    nondeterministic). Sums of integral doubles are exact at any
    partition order, so the hash compare is safe."""
    import tempfile

    from yelp_streaming_etl_pipeline_spark.sources.reviews import (
        read_yelp_jsonlines,
        synthetic_reviews,
    )

    raw = synthetic_reviews(_ensure_conf(spark), sf_dir).select(
        "review_id",
        "business_id",
        "user_id",
        F.col("rating").alias("stars"),
        "text",
        F.date_format("date", "yyyy-MM-dd HH:mm:ss").alias("date"),
        "useful",
        "funny",
        "cool",
    )
    path = tempfile.mkdtemp(prefix="io_jsonl_")
    raw.write.mode("overwrite").json(path)
    back = read_yelp_jsonlines(spark, path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count(F.col("text")).alias("n_texts"),
        F.sum("rating").alias("sum_stars"),
        F.sum("useful").cast("long").alias("sum_useful"),
        F.sum("funny").cast("long").alias("sum_funny"),
        F.sum("cool").cast("long").alias("sum_cool"),
        F.count_distinct("business_id").alias("n_businesses"),
    )


def _native_sessions(ev: DataFrame) -> DataFrame:
    """Per-user gap sessions (30 min) by the native session_window
    aggregate under a 10-min watermark."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            ROUND(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def q_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window aggregate
    (dynamic merging session windows in the state store) — the
    built-in complement of the applyInPandasWithState sessionizer in
    q_sessionize_stream. Append mode emits a session once the
    watermark passes its end; session_window's end is last event +
    gap, and windows merge while the next event starts at or before
    the current end (touching windows merge) — both mirrored exactly
    in the oracle (new session iff the inter-event gap is strictly
    > 30 min, emission iff end-in-ms < final watermark)."""
    return drain(
        _native_sessions(read_events_stream(_ensure_conf(spark), sf_dir))
    )


def q_cms_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: the CMS counter table maintained by a
    streaming groupBy(salt, bucket).count() in COMPLETE output mode —
    counts sum associatively, so the streaming state IS the sketch
    (bounded at depth*width rows forever) and equals the batch build
    bit-for-bit. The top-k readout then probes the streamed state
    with the candidate list (here the distinct user ids, batch-read —
    the external-candidate point-query shape). Trending-terms at
    production: same plan, term = token or entity."""
    ev = read_events_stream(_ensure_conf(spark), sf_dir)
    counters = drain(
        SK.cms_counters(ev, F.col("user_id").cast("string")), "complete"
    )
    terms = (
        read_events(_ensure_conf(spark), sf_dir)
        .select(F.col("user_id").cast("string").alias("term"))
        .distinct()
    )
    return SK.cms_topk_from_counters(counters, terms, k=10)


def q_ann_sharded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-index exact retrieval (operators/similarity.py):
    per-label-shard top-k + global candidate merge — provably equal
    to the unsharded scan, which is what the oracle runs."""
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.sharded_topk(emb, emb.filter(F.col("vec_id") % 100 == 0))


def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plan: target (media_id, frame_ts_ms)
    pairs exploded from duration METADATA only — the shuffle carries
    no payload bytes; decode happens downstream per pair."""
    from yelp_streaming_etl_pipeline_spark.operators import multimodal as MM

    plan = MM.frame_sample_plan(MM.synthetic_media(_ensure_conf(spark), 256))
    return plan.select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


def _sql_frame_sample_plan(n: int = 256, every_ms: int = 1000) -> str:
    """Twin: rebuild the synthetic video rows (i % 3 = 2, duration =
    1000 * (i % 30)) and explode the same inclusive sequence."""
    return f"""
WITH m AS (
  SELECT i AS media_id, 1000 * (i % 30) AS duration_ms
  FROM generate_series(0, {n - 1}) g(i) WHERE i % 3 = 2
)
SELECT media_id,
       unnest(generate_series(0, greatest(duration_ms - 1, 0),
                              {every_ms})) AS frame_ts_ms
FROM m"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the top-4 merge rules
    learned from the documents corpus (operators/tokenizer.py) —
    iterative pair-count/argmax/greedy-merge over the distinct-word
    frequency table, engine-exact via the even-offset-in-run rule."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        bpe_train,
    )

    return bpe_train(_t_cpu(spark, sf_dir, "documents"))


SQL_SURFACE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority"""


def q_sql_surface_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI SQL surface: this TPC-H-Q4-shaped query text runs
    UNMODIFIED on both engines — spark.sql() here, DuckDB verbatim as
    its own oracle. Exercises correlated-EXISTS decorrelation:
    Catalyst rewrites the subquery to a left-semi join with the
    mixed equi + non-equi condition (plan-audited)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_Q4)


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize under the learned BPE merges: per-doc alpha-word and
    BPE token counts — one explode + one vocabulary-table join."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        bpe_token_counts,
    )

    return bpe_token_counts(_t_cpu(spark, sf_dir, "documents"))


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: teleport restricted to every 50th
    customer — importance-from-seeds over the shared-supplier
    structure (crawl-frontier / seed-expansion form)."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        personalized_pagerank_bipartite,
    )

    return personalized_pagerank_bipartite(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group distinct-count sketches: distinct users per event
    type from per-type HLL register tables — <= 256 exact-integer
    rows per group shuffled at any input scale."""
    ev = _t_cpu(spark, sf_dir, "events")
    return SK.hll_estimate_by_group(
        SK.hll_registers_by_group(
            ev, F.col("event_type"), F.col("user_id")
        )
    )


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user two-sided CUSUM drift alarms (operators/timeseries.py
    cusum_changepoints): exact-integer Page recurrence over the
    pinned (ts, event_id) order — persistent small shifts accumulate
    to alarms that zscore's point detector misses."""
    from yelp_streaming_etl_pipeline_spark.operators.timeseries import (
        cusum_changepoints,
    )

    return cusum_changepoints(
        read_events(_ensure_conf(spark), sf_dir)
    ).select(
        F.col("key").alias("user_id"),
        "n_events",
        "n_alarms",
        "max_cusum_pos",
        "max_cusum_neg",
    )


def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resampling with forward fill (operators/
    timeseries.py resample_ffill): slots floored on epoch integers,
    last-observation-wins per slot totally ordered by (ts, event_id),
    per-key grid spans, gaps filled by last(ignorenulls) — the
    regular-grid gap-fill staple between raw events and
    fixed-interval features."""
    from yelp_streaming_etl_pipeline_spark.operators.timeseries import (
        resample_ffill,
    )

    return resample_ffill(read_events(_ensure_conf(spark), sf_dir)).select(
        F.col("key").alias("user_id"), "slot", "value", "n_obs", "is_gap"
    )


def q_table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column stats over lineitem (operators/
    integrity.py table_stats_profile): row/null counts, NATIVE
    min/max canonicalized post-aggregation, HLL ndv per column —
    two passes total (one partial-combinable aggregate + one melted
    grouped sketch), regardless of column count."""
    from yelp_streaming_etl_pipeline_spark.operators.integrity import (
        table_stats_profile,
    )

    def as_str(c):
        return c.cast("string")

    def dec2(c):
        return ROUND(c, 2).cast("decimal(18,2)").cast("string")

    def ts(c):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")

    # spread read: the melted HLL pass is CPU-bound per row (md5 +
    # rho per column value), and the single sf0.1 parquet file would
    # otherwise land on 1-2 input partitions
    li = _t_cpu(spark, sf_dir, "lineitem")
    specs = [
        ("l_orderkey", F.col("l_orderkey"), as_str),
        ("l_suppkey", F.col("l_suppkey"), as_str),
        ("l_returnflag", F.col("l_returnflag"), as_str),
        ("l_shipdate", F.col("l_shipdate"), ts),
        ("l_quantity", F.col("l_quantity"), dec2),
    ]
    return table_stats_profile(li, specs)


def q_event_zscores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier detection: events > 3 sigma from their
    type's mean, with engine-exact moments (integer sums of the
    quantized value; see operators/timeseries.py)."""
    from yelp_streaming_etl_pipeline_spark.operators.timeseries import (
        zscore_anomalies,
    )

    return zscore_anomalies(read_events(_ensure_conf(spark), sf_dir))


def q_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values with a totally pinned fold order
    (sorted by ts, event_id; seed = first value; alpha = 1/8)."""
    from yelp_streaming_etl_pipeline_spark.operators.timeseries import (
        ewma_by_key,
    )

    return ewma_by_key(read_events(_ensure_conf(spark), sf_dir))


# ---------------- round-4 additions ----------------

def q_lang_id_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-capped language ID (opt-in cost knob): classification on
    the first 256 chars only — language is decided early in natural
    text, and the cap bounds per-row work on long documents. Full-text
    lang_id stays the checked default."""
    d = _t_cpu(spark, sf_dir, "documents")
    return LANG.with_lang_id(
        d.select("doc_id", "text"), "text", id_col="doc_id",
        max_chars=256,
    ).select("doc_id", "language", "language_confidence")


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank: (cust, supp) pair MULTIPLICITY as the integer
    edge weight, contribution (r * w) div W_src — interaction strength
    drives rank, and the edge build keeps its single shuffle."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        pagerank_weighted_bipartite,
    )

    return pagerank_weighted_bipartite(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_quantile_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental quantile-sketch maintenance in Structured
    Streaming, completing the mergeable-sketch streaming trio (HLL:
    hll_registers_stream, CMS: cms_topk_stream): the HDR register
    table kept by a streaming groupBy(bucket).agg(min lb, min width,
    count) in COMPLETE output mode — every register aggregate is
    associative/commutative, so the streaming state IS the sketch
    (bounded at ~64 x 64 rows forever) and the final table equals the
    batch build bit-for-bit (same oracle as quantile_sketch)."""
    ev = read_events_stream(_ensure_conf(spark), sf_dir)
    return drain(SK.quantile_sketch_registers(ev, F.col("value")), "complete")


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable rank-based quantile sketch (HDR-histogram-style) over
    events.value: fixed log-scaled buckets (data-range INDEPENDENT,
    unlike value_histogram's equi-width bins), registers merge by
    addition, guaranteed relative error 2^-6 — the robust 100 TB
    quantile answer. Register table is engine-exact integers."""
    return SK.quantile_sketch_registers(
        read_events(_ensure_conf(spark), sf_dir), F.col("value")
    )


def q_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 read off the quantile sketch's register table —
    pure arithmetic over a few hundred register rows."""
    regs = SK.quantile_sketch_registers(
        read_events(_ensure_conf(spark), sf_dir), F.col("value")
    )
    return SK.quantile_sketch_estimate(regs)


def q_bpe_merges_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE at production shape: byte-level alphabet — words are raw
    whitespace tokens, tokens are UTF-8 bytes as fixed-width hex pairs
    (hex(encode(w)) is the pinned byte<->int map, identical across
    engines) — no ASCII gate, any script tokenizes."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        bpe_train,
    )

    return bpe_train(
        _t_cpu(spark, sf_dir, "documents"), alphabet="bytes"
    )


def q_bpe_bytes_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level tokenize through the ARTIFACT path: merges + vocab
    written to parquet, re-read, then the corpus joined against the
    re-read segmented-word table — train once, ship, tokenize
    anywhere."""
    import tempfile

    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        bpe_token_counts,
    )

    return bpe_token_counts(
        _t_cpu(spark, sf_dir, "documents"),
        alphabet="bytes",
        export_path=tempfile.mkdtemp(prefix="bpe_artifact_"),
    )


def q_events_hourly_update_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The windowed stats aggregate in UPDATE output mode — the
    reference's continuously-updated stats table (faust_app.py:173-189):
    every micro-batch emits the windows it changed; the sink upserts,
    so the latest row per window IS the table. Run to completion under
    availableNow the upserted table equals the batch aggregate (the
    events_hourly oracle verbatim). drain's update sink stamps each
    epoch and the upsert is the latest-epoch row per window —
    distributed, no driver collect, correct at any micro-batch split."""
    from yelp_streaming_etl_pipeline_spark.functions.rounding import (
        exact_avg,
    )

    agg = (
        read_events_stream(_ensure_conf(spark), sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count("*").alias("total"),
            exact_sum(F.col("value"), 2).alias("total_value"),
            exact_avg(F.col("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "total",
            "total_value",
            "avg_value",
        )
    )
    return drain(agg, "update", key="window_start")


def q_user_value_ewma_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA via applyInPandasWithState: two scalars of state
    per key forever — the bounded-state fold that removes the batch
    operator's hot-key collect_list ceiling. Events are staged into
    key-partitioned files (each user's history in exactly one file —
    the per-key-ordered delivery a keyed Kafka topic provides) and
    consumed one file per micro-batch, so the stream fold reproduces
    the batch fold bit-for-bit and shares user_value_ewma's oracle."""
    import shutil
    import tempfile

    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        ewma_stream,
    )

    spark = _ensure_conf(spark)
    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    stage_dir = tempfile.mkdtemp(prefix="ewma_src_")
    try:
        ev.repartition(4, "user_id").write.mode("overwrite").parquet(
            stage_dir
        )
        stream = (
            spark.readStream.schema(spark.read.parquet(stage_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        return drain(ewma_stream(stream), "update", key="key")
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def q_quantile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile sketches: p50/p90/p99 of value per event
    type off (group, bucket)-keyed HDR registers — the per-domain
    latency-quantile shape, <= a few hundred exact-integer rows per
    group at any input size."""
    ev = read_events(_ensure_conf(spark), sf_dir)
    regs = SK.quantile_sketch_registers_by_group(
        ev, F.col("event_type"), F.col("value")
    )
    return SK.quantile_sketch_estimate_by_group(regs)


SQL_SURFACE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey AS ck, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count"""


def q_sql_surface_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second identical-text two-engine SQL query (TPC-H-Q13 shape,
    adapted to the fixture's columns): customer order-count
    distribution through an OUTER join with a mixed equi + filter ON
    condition — exercises Catalyst's outer-join + two-level aggregate
    planning on the same text DuckDB runs verbatim."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_SURFACE_Q13)


SQL_SURFACE_Q2 = """
SELECT p.p_partkey, p.p_brand, l.l_suppkey,
       l.l_extendedprice AS min_price
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 15
  AND l.l_extendedprice = (
    SELECT min(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey)"""


def q_sql_surface_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q2 shape, adapted to the
    fixture's columns): cheapest line per part via a CORRELATED SCALAR
    subquery — Catalyst decorrelates it into an aggregate + join;
    DuckDB runs the same text through its own unnesting. Widens the
    decorrelation coverage sql_surface_q4's correlated EXISTS
    started."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_Q2)


SQL_SURFACE_Q21 = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE l1.l_returnflag = 'R'
  AND o.o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s.s_name"""


def q_sql_surface_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q21 shape, adapted:
    l_returnflag = 'R' is the problem marker in place of the missing
    receipt/commit dates): suppliers who were the SOLE flagged
    supplier on a finished multi-supplier order — a correlated EXISTS
    and NOT EXISTS against the same fact table in one query, the
    decorrelation double-whammy Q21 is famous for."""
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_SURFACE_Q21)


SQL_SURFACE_Q3 = """
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
       o.o_orderpriority,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1996-01-01'
  AND l.l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
ORDER BY revenue_cents DESC, o.o_orderkey ASC
LIMIT 10"""


def q_sql_surface_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q3 shipping-priority
    shape): 3-way selective join + grouped revenue + deterministic
    global top-10 (revenue DESC with key tie-break, so LIMIT is
    stable under any partitioning). Revenue is floor-quantized to
    integer cents PER ROW before the sum — the one double product is
    a single IEEE expression both engines evaluate identically, and
    the order-dependent aggregation happens on exact BIGINTs."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q3)


SQL_SURFACE_Q5 = """
SELECT n.n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name"""


def q_sql_surface_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q5 local-supplier-volume
    shape): the 6-table snowflake join whose distinguishing edge is
    the NON-hierarchical c_nationkey = s_nationkey condition closing
    a cycle in the join graph — the classic join-order stress test;
    Catalyst must pick a bushy/reordered plan and broadcast the tiny
    nation/region dims."""
    for t in ("customer", "orders", "lineitem", "supplier",
              "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q5)


SQL_SURFACE_Q10 = """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue_cents DESC, c.c_custkey ASC
LIMIT 20"""


def q_sql_surface_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q10 returned-item
    shape): selective fact filter -> 4-way join -> wide GROUP BY
    (keys include the non-functional c_name carried through) ->
    deterministic top-20. The returnflag filter pushes below the
    joins in both engines (plan-audited on the Spark side)."""
    for t in ("customer", "orders", "lineitem", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q10)


SQL_SURFACE_Q14 = """
SELECT 100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'STANDARD%'
                        THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
       / CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) AS standard_revenue_pct,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1996-02-01'"""


def q_sql_surface_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q14 promo-revenue
    shape): conditional aggregation (CASE inside sum) computing a
    revenue share. Both sums are exact integer cents; the single
    double division at the end is one IEEE op — deterministic in
    both engines with no stable-round needed."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q14)


SQL_SURFACE_Q19 = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity >= 1 AND l.l_quantity <= 30)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 25
       AND l.l_quantity >= 10 AND l.l_quantity <= 40)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity >= 20 AND l.l_quantity <= 50)"""


def q_sql_surface_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q19 discounted-revenue
    shape): disjunctive mixed-table predicates over an equi-join —
    the OR branches each combine a dim attribute range with a fact
    attribute range, so the optimizer can only push the common
    equi-key and must evaluate the disjunction post-join; exercises
    predicate handling the conjunctive entries never touch."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q19)


SQL_SURFACE_Q22 = """
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS acctbal_cents
FROM customer c
WHERE CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) > (
    SELECT avg(CAST(floor(c2.c_acctbal * 100.0 + 0.5) AS BIGINT))
    FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey"""


def q_sql_surface_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q22 global-sales-
    opportunity shape, lapsed form: no orders SINCE a date, which is
    non-empty in the fixture): an UNCORRELATED scalar aggregate
    subquery (global mean balance, exact integer cents so the
    average is an exact rational both engines agree on) AND a
    correlated NOT EXISTS anti-join with an extra date predicate —
    the two subquery decorrelations composed in one WHERE clause."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q22)


SQL_SURFACE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l.l_shipdate)"""


def q_pps_wor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k PPS sampling WITHOUT replacement (operators/sampling.py
    pps_wor_sample): rows ranked by the minimum of weight-many md5
    pseudo-uniforms — the exact sequential PPS-WOR distribution,
    libm-free and engine-identical. Weight = 1 + totalprice div
    10000 (range ~1..60); k = 100 orders."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        pps_wor_sample,
    )

    od = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.lit(1)
            + F.floor(F.col("o_totalprice") / F.lit(10000.0)).cast("long")
        ).alias("w"),
    )
    return pps_wor_sample(od, "w", "o_orderkey", k=100)


def q_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native UNPIVOT (DataFrame.melt -> a single Expand node, one
    pass over the fact table — never four self-scans): the four
    lineitem measures become (measure, value) rows, then one
    aggregate per measure with cents-exact sums. The DuckDB twin is
    the four-way UNION ALL the Expand is equivalent to."""
    li = _t(spark, sf_dir, "lineitem")
    melted = li.melt(
        ids=["l_orderkey"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    cents = F.floor(F.col("val") * 100.0 + 0.5).cast("long")
    return (
        melted.groupBy("measure")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents).alias("sum_cents"),
        )
    )


def q_sql_surface_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q7 volume-shipping
    shape): the same dim table (nation) joined TWICE under different
    roles with a symmetric OR'd pair filter, plus EXTRACT(year)
    grouping — self-dim aliasing and disjunctive cross-role
    predicates in one plan."""
    for t in ("supplier", "lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q7)


SQL_SURFACE_Q17 = """
SELECT CAST(sum(CAST(l1.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l1 JOIN part p ON p.p_partkey = l1.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l1.l_quantity < 0.2 * (
    SELECT avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l1.l_partkey)"""


def q_sql_surface_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q17 small-quantity-order
    shape): correlated scalar AVG subquery against the SAME fact
    table being filtered — Catalyst decorrelates to an aggregate +
    self-join. Quantities are integral doubles, so the avg is an
    exact rational and the 0.2 * avg comparison is deterministic in
    both engines."""
    for t in ("lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q17)


SQL_SURFACE_Q8 = """
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_5' THEN CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)
                ELSE 0 END) AS DOUBLE)
       / CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) AS mkt_share,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY EXTRACT(year FROM o.o_orderdate)"""


def q_sql_surface_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q8 market-share shape):
    a 7-table join with the nation dim in two roles (customer's
    region restricts the market, supplier's nation is the share
    numerator) feeding a conditional-sum / total-sum ratio per year.
    Both sums are exact integer cents; the one double division per
    group is deterministic."""
    for t in ("lineitem", "orders", "customer", "supplier",
              "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q8)


SQL_SURFACE_Q12 = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag = 'R'
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus"""


def q_sql_surface_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q12 shipping-priority
    shape, returnflag standing in for the missing shipmode):
    complementary IN / NOT IN conditional counts over a filtered
    join — the dual-CASE pivot aggregation pattern."""
    for t in ("orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q12)


SQL_SURFACE_Q16 = """
SELECT p.p_brand, p.p_type,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45'
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type"""


def q_sql_surface_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q16 shape): supplier
    diversity per (brand, type) with a NOT IN exclusion subquery —
    Catalyst plans it as a null-aware anti join; count(DISTINCT) adds
    the two-phase distinct-aggregate expansion."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(SQL_SURFACE_Q16)


SQL_SURFACE_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_base_cents,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus"""


def q_sql_surface_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q1 pricing-summary
    shape): the canonical single-table scan-heavy aggregate — four
    chained-arithmetic sums, a count, and one derived average over a
    date-bounded scan, grouped by the two status flags. All sums are
    exact integer cents; the average is the one double division per
    group (exact-int / exact-int, deterministic in both engines).
    Completes the 22-query TPC-H SQL surface together with Q6/Q9/
    Q11/Q15/Q20 (partsupp-dependent shapes adapted: no partsupp in
    the test data).

    Scale: a pure scan + partial-agg pipeline — six groups total, so
    the final exchange carries ~6 rows per partition; whole-stage
    codegen covers the entire plan below the exchange."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_Q1)


SQL_SURFACE_Q6 = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24"""


def q_sql_surface_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q6 forecasting-revenue
    shape): a global no-group aggregate under a four-predicate
    conjunctive filter (date range + discount band + quantity cap).
    The discount band compares against the literal column values
    stored in parquet, so the double comparisons are exact in both
    engines.

    Scale: every predicate reaches the parquet scan as a pushed
    filter (date + numeric range are all pushable); the aggregate is
    a single scalar — zero-width shuffle."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_Q6)


SQL_SURFACE_Q9 = """
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)
                - CAST(l.l_quantity AS BIGINT) * CAST(floor(p.p_retailprice * 10.0 + 0.5) AS BIGINT)) AS BIGINT) AS profit_cents
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)"""


def q_sql_surface_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q9 product-type-profit
    shape, adapted: no partsupp table in the test data, so unit cost
    is 10% of p_retailprice — in cents, floor(p_retailprice*10.0
    +0.5) — instead of ps_supplycost): a five-table star join with a
    substring LIKE part filter, per-(nation, order-year) profit =
    revenue minus cost, both legs exact integer cents.

    Scale: the infix '%widget%' predicate can't use stats but DOES
    prune part before the join; the three dim joins (supplier, part
    after filter, nation) broadcast; only orders<->lineitem is a
    data-sized shuffle join keyed on orderkey."""
    for t in ("lineitem", "supplier", "part", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q9)


SQL_SURFACE_Q11 = """
SELECT l.l_partkey,
       CAST(sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_3'
GROUP BY l.l_partkey
HAVING sum(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100.0 + 0.5) AS BIGINT))
     > (SELECT sum(CAST(floor(l2.l_extendedprice * (1.0 - l2.l_discount) * 100.0 + 0.5) AS BIGINT)) / 500
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        WHERE n2.n_name = 'NATION_3')"""


def q_sql_surface_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q11 important-stock
    shape, adapted: no partsupp, so "stock value" is the shipped
    line value per part from one nation's suppliers): HAVING
    compared against an UNCORRELATED scalar subquery that re-runs
    the same filtered aggregate globally — the group-vs-global-
    fraction pattern. Integer-cents sums; the /500 fraction is a
    double in both engines (exact: the sums are far below 2^52).

    Scale: Catalyst evaluates the scalar subquery once (a broadcast
    scalar), so the fact table is scanned twice but never joined to
    itself row-wise; both scans share the pushed nation filter via
    the broadcast supplier dim."""
    for t in ("lineitem", "supplier", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q11)


SQL_SURFACE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue_cents
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)"""


def q_sql_surface_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q15 top-supplier shape):
    a CTE referenced TWICE — once as the join input, once inside the
    scalar MAX subquery — selecting the supplier(s) at the quarterly
    revenue maximum. Ties surface every argmax row in both engines
    (no LIMIT), keeping the result order-insensitively exact.

    Scale: the CTE aggregate is supplier-cardinality (small); Spark
    evaluates the two references as two plans over the same pushed-
    filter scan unless the CTE is materialized — either way the max
    is a scalar broadcast, never a sort of the full table."""
    for t in ("lineitem", "supplier"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q15)


SQL_SURFACE_Q20 = """
SELECT s.s_suppkey, s.s_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_8'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey FROM lineitem l
    WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING sum(CAST(l.l_quantity AS BIGINT)) > (
        SELECT 0.5 * sum(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
          AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l2.l_shipdate < TIMESTAMP '1997-01-01'))"""


def q_sql_surface_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q20 potential-promotion
    shape, adapted: the availqty-vs-half-demand test runs over
    shipped quantities since there is no partsupp): THREE nesting
    levels — an IN whose subquery contains another IN (prefix-LIKE
    part filter) AND a HAVING against a CORRELATED scalar subquery
    on the grouping key (supplier's share of a part's annual volume
    > half). Catalyst decorrelates the scalar into an aggregate
    join and plans both INs as (left-)semi joins.

    Scale: every subquery aggregates before joining — the correlated
    scalar becomes a per-partkey aggregate (part-cardinality), the
    outer IN a semi join on suppkey (supplier-cardinality); nothing
    data-sized crosses a nested-loop boundary."""
    for t in ("supplier", "nation", "lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_SURFACE_Q20)


SQL_SURFACE_Q18 = """
SELECT c.c_custkey, o.o_orderkey, CAST(count(*) AS BIGINT) AS n_lines
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 150)
GROUP BY c.c_custkey, o.o_orderkey"""


def q_sql_surface_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical-text two-engine SQL (TPC-H-Q18 large-volume-customer
    shape): IN over an aggregated-HAVING subquery on the same fact
    table — a semi join against a grouped derivation. Quantities are
    integral doubles in the fixture, so the BIGINT cast sums exactly
    in both engines and no float aggregation reaches the output."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_SURFACE_Q18)


def q_cosupply_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier local clustering coefficient over the co-supply
    graph (operators/graph.py) — degree + triangles + 2T/(d(d-1))."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        cosupply_clustering,
    )

    return cosupply_clustering(_t(spark, sf_dir, "lineitem"))


def q_cosupply_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts over the mutual-kNN co-supply
    graph (operators/graph.py cosupply_edges: top-k co-suppliers by
    shared-part count, kept only when mutual) — wedge-join triangle
    enumeration, the clustering-coefficient numerator."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        cosupply_triangles,
    )

    return cosupply_triangles(_t(spark, sf_dir, "lineitem"))


def q_cosupply_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the mutual-kNN co-supply graph (operators/graph.py
    kcore_nodes): round-synchronous degree peeling to the fixpoint,
    convergence ENFORCED by an assert on the residual degrees —
    unrolled-CTE DuckDB twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        cosupply_kcore,
    )

    return cosupply_kcore(_t(spark, sf_dir, "lineitem"))


def q_kcore_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming k-core maintenance (operators/graph.py
    kcore_maintain_stream): the mutual-kNN co-supply edge list
    arrives as THREE mtime-ordered micro-batches; each epoch folds
    the new edges into accumulated state and re-peels, with the
    insert-only monotonicity invariant (prior core subset-of next
    core) asserted per epoch via an anti-join. The final epoch's
    core equals the batch k-core over all edges, so the entry shares
    sql_cosupply_kcore as its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        cosupply_edges, kcore_maintain_stream,
    )

    spark = _ensure_conf(spark)
    edges = cosupply_edges(_t(spark, sf_dir, "lineitem"))
    return kcore_maintain_stream(spark, edges).select(
        F.col("node").alias("s_suppkey"), F.col("core_degree")
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb boilerplate-line removal (operators/
    corpus_quality.py drop_boilerplate_lines): lines whose corpus
    document-frequency exceeds 5% are site chrome and are stripped
    from every page, the rest reassembled in order. Runs over the
    planted-boilerplate corpus (footer in 100% of docs, promo line
    in 50%) so both planted lines vanish and every content line
    survives."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus_quality import (
        drop_boilerplate_lines, with_synthetic_boilerplate,
    )

    return drop_boilerplate_lines(
        with_synthetic_boilerplate(_t_cpu(spark, sf_dir, "documents"))
    )


def q_lpa_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming community maintenance (operators/graph.py
    lpa_maintain_stream): the co-supply edge stream arrives as three
    micro-batches; each epoch re-runs synchronous LPA over the
    accumulated graph with a totality invariant (every accumulated
    node labeled exactly once) asserted per epoch. The final epoch
    equals batch cosupply_communities, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        cosupply_edges, lpa_maintain_stream,
    )

    spark = _ensure_conf(spark)
    edges = cosupply_edges(_t(spark, sf_dir, "lineitem"))
    return lpa_maintain_stream(spark, edges).select(
        F.col("node").alias("s_suppkey"),
        F.col("label").alias("community"),
    )


def q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (operators/linkage.py):
    distinct-name dictionary -> two-pass blocking (2-char prefix +
    suffix, so a one-char corruption at either end still lands the
    true pair in >= 1 block) -> levenshtein <= 2 match -> pointer-
    halving connected components -> rows inherit their name's
    cluster. Runs over the synthetic person dimension with planted
    one-char-dropped variants; recursive-CTE reachability oracle."""
    from yelp_streaming_etl_pipeline_spark.operators.linkage import (
        entity_clusters, synthetic_people, with_name_variants,
    )

    people = with_name_variants(
        synthetic_people(_t(spark, sf_dir, "customer"))
    )
    return entity_clusters(people)


def q_entity_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming entity-resolution maintenance (operators/linkage.py
    entity_maintain_stream): person rows arrive in three ascending-id
    micro-batches; per epoch only the NEW dictionary names are
    matched (new x accumulated within blocks) because old x old
    pairs are already state — per-epoch match cost independent of
    dictionary size. Ordered staging pins every name's representative
    id, so the final pair graph and clusters equal the batch
    entity_clusters run, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.linkage import (
        entity_maintain_stream, synthetic_people, with_name_variants,
    )

    spark = _ensure_conf(spark)
    people = with_name_variants(
        synthetic_people(_t(spark, sf_dir, "customer"))
    )
    return entity_maintain_stream(spark, people)


def q_neardup_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming MinHash-LSH near-dup maintenance (operators/dedup.py
    neardup_maintain_stream): documents arrive in three ascending-id
    micro-batches; per epoch, signatures/bands are computed for the
    NEW docs only and the band join is fresh x accumulated — old x
    old pairs are already state, so per-epoch candidate work is
    independent of the accumulated corpus size. Final pair set equals
    batch minhash_lsh_pairs, sharing neardup_minhash's oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        neardup_maintain_stream,
    )

    spark = _ensure_conf(spark)
    return neardup_maintain_stream(
        spark, _doc_corpus_cpu(spark, sf_dir), "text", "doc_id", 0.5
    )


def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance from every 100th customer through
    the customer–supplier graph (operators/graph.py) — frontier-loop
    iteration checked against a recursive-CTE oracle."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        bipartite_bfs_levels,
    )

    return bipartite_bfs_levels(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing (MOSS) document fingerprints with engine-exact
    packed-argmin selection (operators/dedup.py) — per-doc fingerprint
    count + order-independent checksum."""
    return DD.winnowing_fingerprints(_t_cpu(spark, sf_dir, "documents"))


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicitly salted fact-to-dim join (operators/relational.py) —
    row-identical to the plain join the oracle runs; the salt only
    changes the partitioning."""
    return REL.salted_skew_join(read_events(_ensure_conf(spark), sf_dir))


def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (operators/dedup.py):
    df-capped fingerprint equi-join + integer overlap-coefficient
    threshold — the local-fingerprint complement of the MinHash and
    SimHash near-dup families."""
    return DD.winnow_neardup_pairs(_t_cpu(spark, sf_dir, "documents"))


def _watermark_dedup(stream: DataFrame, delay: str) -> DataFrame:
    """Native dropDuplicatesWithinWatermark on (review_id, date),
    projected to columns every replica of a review shares."""
    return (
        stream.withWatermark("date", delay)
        .dropDuplicatesWithinWatermark(["review_id", "date"])
        .select("review_id", "date", "business_id", "user_id", "rating")
    )


def q_dedup_watermark_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming dedup via the NATIVE dropDuplicatesWithinWatermark
    operator (state-store backed, watermark-bounded TTL) over the
    replayed-duplicate corpus — the built-in complement of the
    applyInPandasWithState dedup in q_dedup_stream. The projected
    columns exclude the replica-varying source/ingestion_timestamp
    fields, so whichever physical replica survives inside the batch,
    the emitted row is value-identical and matches the batch DISTINCT
    oracle."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="dup_wm_corpus_")
    try:
        _dup_review_corpus(spark, sf_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        stream = spark.readStream.schema(
            spark.read.parquet(d).schema
        ).parquet(d)
        return drain(_watermark_dedup(stream, "2 hours"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


_QSK_CTE = """qv AS (
  SELECT CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS q FROM events
),
st AS (
  SELECT q, greatest(length(bin(q)) - 1 - 6, 0) AS s FROM qv
),
bk AS (
  SELECT CAST(s * 64 + (q >> s) AS BIGINT) AS bucket,
         CAST((q >> s) << s AS BIGINT) AS lb,
         CAST(1::BIGINT << s AS BIGINT) AS width
  FROM st
),
regs AS (
  SELECT bucket, CAST(min(lb) AS BIGINT) AS lb_q,
         CAST(min(width) AS BIGINT) AS width_q, count(*) AS n
  FROM bk GROUP BY bucket
)"""


def _sql_quantile_sketch() -> str:
    """Twin of sketches.quantile_sketch_registers: the HDR bucket
    derivation in integer arithmetic — the exponent from the length
    of bin(q) (no padding/prefix in either engine), shifts for the
    sub-bucket split."""
    return f"""
WITH {_QSK_CTE}
SELECT bucket, lb_q, width_q, n FROM regs"""


def _sql_quantile_estimate() -> str:
    """Twin of sketches.quantile_sketch_estimate: rank ceil(p * N)
    against the cumulative register counts, bucket-midpoint value."""
    return f"""
WITH {_QSK_CTE},
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM regs),
cum AS (
  SELECT bucket, lb_q, width_q,
         CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n
  FROM regs
),
ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
tgt AS (
  SELECT p, CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) AS rnk
  FROM ps CROSS JOIN tot
),
hit AS (
  SELECT p, min(bucket) AS bucket
  FROM tgt JOIN cum ON cum_n >= rnk GROUP BY p
)
SELECT p, CAST(lb_q + (width_q - 1) // 2 AS DOUBLE) / 1000.0 AS est
FROM hit JOIN cum USING (bucket)"""


def _sql_quantile_by_type() -> str:
    """Twin of sketches.quantile_sketch_*_by_group over
    (event_type, value)."""
    return """
WITH qv AS (
  SELECT event_type AS g,
         CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS q
  FROM events
),
st AS (
  SELECT g, q, greatest(length(bin(q)) - 1 - 6, 0) AS s FROM qv
),
bk AS (
  SELECT g, CAST(s * 64 + (q >> s) AS BIGINT) AS bucket,
         CAST((q >> s) << s AS BIGINT) AS lb,
         CAST(1::BIGINT << s AS BIGINT) AS width
  FROM st
),
regs AS (
  SELECT g, bucket, CAST(min(lb) AS BIGINT) AS lb_q,
         CAST(min(width) AS BIGINT) AS width_q, count(*) AS n
  FROM bk GROUP BY g, bucket
),
tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS total FROM regs GROUP BY g),
cum AS (
  SELECT g, bucket, lb_q, width_q,
         CAST(sum(n) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT)
           AS cum_n
  FROM regs
),
ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p),
tgt AS (
  SELECT g, p, CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) AS rnk
  FROM tot CROSS JOIN ps
),
hit AS (
  SELECT t.g, t.p, min(c.bucket) AS bucket
  FROM tgt t JOIN cum c ON t.g = c.g AND c.cum_n >= t.rnk
  GROUP BY t.g, t.p
)
SELECT h.g, h.p,
       CAST(c.lb_q + (c.width_q - 1) // 2 AS DOUBLE) / 1000.0 AS est
FROM hit h JOIN cum c ON h.g = c.g AND h.bucket = c.bucket"""


def _sql_event_zscores(cut: float = 3.0) -> str:
    z = "(CAST(q AS DOUBLE) - mean_q) / std_q"
    return f"""
WITH qv AS (
  SELECT event_id, event_type, value,
         CAST(floor(value * 1000.0 + 0.5) AS HUGEINT) AS q
  FROM events
),
stats AS (
  SELECT event_type AS g,
         CAST(sum(q) AS DOUBLE) / count(*) AS mean_q,
         CAST(sum(q * q) AS DOUBLE) / count(*) AS m2_q
  FROM qv GROUP BY event_type
),
sv AS (
  -- variance first, positivity BEFORE sqrt (near-constant groups can
  -- produce a tiny negative double; DuckDB's sqrt errors on it, Spark
  -- yields NaN) — mirrors operators/timeseries.py:zscore_anomalies
  SELECT g, mean_q, m2_q - mean_q * mean_q AS var_q FROM stats
),
s2 AS (
  SELECT g, mean_q, sqrt(var_q) AS std_q FROM sv WHERE var_q > 0
)
SELECT event_id, event_type, value,
       {SR(z, 6)} AS zscore
FROM qv JOIN s2 ON qv.event_type = s2.g
WHERE abs({z}) > {cut!r}"""


def _sql_user_value_ewma() -> str:
    fold = (
        "list_reduce(list(value ORDER BY ts, event_id), "
        "(acc, x) -> 0.125 * x + 0.875 * acc)"
    )
    return f"""
SELECT user_id AS key, count(*) AS n_events,
       {SR(fold, 6)} AS ewma
FROM events GROUP BY user_id"""


def q_user_value_ewma_segmented(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hot-key-safe EWMA (operators/timeseries.py
    ewma_by_key_segmented): the linear recurrence composed as affine
    (A, B) segment pairs — per-task state is
    max(segment_size, n/segment_size) instead of one n-sized array,
    so a 1e8-event key cannot OOM an executor. segment_size=16 here
    so MULTI-segment composition is exercised at sf0.01 (~40 events
    per key); the DuckDB twin replays the identical segmented IEEE op
    sequence via in-order list_reduce at both levels."""
    from yelp_streaming_etl_pipeline_spark.operators.timeseries import (
        ewma_by_key_segmented,
    )

    return ewma_by_key_segmented(
        read_events(_ensure_conf(spark), sf_dir), segment_size=16
    )


def _sql_user_value_ewma_segmented(segment_size: int = 16) -> str:
    """Twin of ewma_by_key_segmented — same per-event affine pairs
    (seed -> (0, x), else -> (0.875, 0.125*x)), same in-order
    left-fold compose (acc first) within segments and across segment
    pairs. All arithmetic pinned to DOUBLE so both engines run the
    identical IEEE sequence."""
    compose = (
        "(acc, p) -> struct_pack(pa := p.pa * acc.pa, "
        "pb := p.pa * acc.pb + p.pb)"
    )
    fold2 = (
        "list_reduce(list(struct_pack(pa := sp.pa, pb := sp.pb) "
        f"ORDER BY seg), {compose}).pb"
    )
    return f"""
WITH ordered AS (
  SELECT user_id AS key, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events),
pairs AS (
  SELECT key, rn, (rn - 1) // {segment_size} AS seg,
         CASE WHEN rn = 1 THEN CAST(0.0 AS DOUBLE)
              ELSE CAST(0.875 AS DOUBLE) END AS pa,
         CASE WHEN rn = 1 THEN x
              ELSE CAST(0.125 AS DOUBLE) * x END AS pb
  FROM ordered),
segs AS (
  SELECT key, seg, count(*) AS n,
         list_reduce(list(struct_pack(pa := pa, pb := pb)
                          ORDER BY rn), {compose}) AS sp
  FROM pairs GROUP BY key, seg)
SELECT key, CAST(sum(n) AS BIGINT) AS n_events,
       {SR(fold2, 6)} AS ewma
FROM segs GROUP BY key"""


def q_pagerank_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the customer–supplier bipartite
    interaction graph (operators/graph.py) — the iterative-graph
    shape as chained join/agg stages, BIGINT-exact vs the unrolled
    DuckDB CTE twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        pagerank_bipartite,
    )

    return pagerank_bipartite(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_pagerank_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming PageRank maintenance (operators/graph.py
    pagerank_maintain_stream): the undirected customer-supplier pair
    list arrives in three micro-batches; each epoch symmetrizes the
    accumulated pairs and re-runs the fixed-iters PageRank (the only
    batch-exact strategy — same argument as LPA), with totality and
    mass-conservation invariants asserted per epoch. Final epoch
    equals batch pagerank_bipartite, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        _decode_nodes, bipartite_pairs, pagerank_maintain_stream,
    )

    spark = _ensure_conf(spark)
    pairs = bipartite_pairs(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    return _decode_nodes(pagerank_maintain_stream(spark, pairs))


def q_pagerank_weighted_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming WEIGHTED PageRank maintenance (operators/graph.py
    pagerank_weighted_maintain_stream): raw customer-supplier pair
    occurrences (the orders x lineitem join rows, duplicates =
    interaction strength) arrive in three micro-batches; state is the
    distinct-pair multiplicity table merged by union+sum (weight-mass
    conservation asserted), and each epoch re-runs the weighted
    PageRank. Final epoch equals batch pagerank_weighted, sharing its
    twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        _decode_nodes, pagerank_weighted_maintain_stream,
    )

    spark = _ensure_conf(spark)
    occ = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
    )
    return _decode_nodes(pagerank_weighted_maintain_stream(spark, occ))


def q_personalized_pagerank_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming PERSONALIZED PageRank maintenance (operators/graph.py
    personalized_pagerank_maintain_stream): the distinct pair stream
    accumulates while rank mass flows from the fixed every-50th-
    customer seed set; epochs whose accumulated nodes contain no seed
    emit an empty table (declared), and the seed share re-normalizes
    as seeds enter. Final epoch equals batch personalized_pagerank,
    sharing its twin."""
    from yelp_streaming_etl_pipeline_spark.operators.graph import (
        _decode_nodes, bipartite_pairs,
        personalized_pagerank_maintain_stream,
    )

    spark = _ensure_conf(spark)
    pairs = bipartite_pairs(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 50 == 0)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    return _decode_nodes(
        personalized_pagerank_maintain_stream(spark, pairs, seeds)
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yelp_streaming_etl_pipeline_spark.operators.clustering import (
        kmeans_lloyd,
    )

    return kmeans_lloyd(_t_cpu(spark, sf_dir, "embeddings"))


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling for corpus curation: cap each k-means
    cluster at a fixed budget so dense regions of embedding space
    can't dominate the training mix — the cluster-balanced draw
    composes kmeans_lloyd (exact integer assignments) with the
    deterministic hash-rank capped sampler, both already
    oracle-checked in isolation."""
    from yelp_streaming_etl_pipeline_spark.operators.clustering import (
        kmeans_lloyd,
    )

    km = kmeans_lloyd(_t_cpu(spark, sf_dir, "embeddings")).select(
        "vec_id", "cluster_id"
    )
    return SAMP.class_capped_sample(km, "cluster_id", "vec_id", cap=25)


def _sql_cluster_balanced_sample(cap: int = 25) -> str:
    km = O.sql_kmeans_lloyd()
    return f"""
SELECT vec_id, cluster_id FROM (
  SELECT vec_id, cluster_id,
         row_number() OVER (
           PARTITION BY cluster_id
           ORDER BY {O._sql_hash_bucket('vec_id')}, vec_id
         ) AS rn
  FROM ({km}) km
) WHERE rn <= {cap}"""


def q_io_roundtrip_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink format breadth: the documents table written to ORC
    and CSV (header + explicit schema, the lenient-read discipline of
    the JSON-lines source) and read back, each reduced to the same
    audit row. Both legs run real write->read paths through temp dirs;
    the oracle reduces the original table, so any loss or mangling in
    either format's round trip shows up as a value mismatch."""
    import tempfile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = []
    for fmt in ("orc", "csv"):
        path = tempfile.mkdtemp(prefix=f"io_{fmt}_")
        w = docs.write.mode("overwrite")
        r = spark.read
        if fmt == "csv":
            w = w.option("header", "true")
            r = r.option("header", "true").schema(
                "doc_id long, lang string, n_chars long"
            )
        getattr(w, fmt)(path)
        back = getattr(r, fmt)(path)
        out.append(
            back.groupBy("lang")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .select(F.lit(fmt).alias("format"), "lang", "n_rows", "sum_chars")
        )
    return out[0].unionByName(out[1])


def _sql_io_roundtrip_formats() -> str:
    arms = []
    for fmt in ("orc", "csv"):
        arms.append(
            f"SELECT '{fmt}' AS format, lang, count(*) AS n_rows,\n"
            f"       CAST(sum(n_chars) AS BIGINT) AS sum_chars\n"
            f"FROM documents GROUP BY lang"
        )
    return "\nUNION ALL\n".join(arms)


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t_cpu(spark, sf_dir, "embeddings")
    return SIM.semantic_decontaminate(
        emb, emb.filter(F.col("vec_id") % 100 == 0)
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.event_funnel(read_events(_ensure_conf(spark), sf_dir))


def q_user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return REL.user_cohorts(read_events(_ensure_conf(spark), sf_dir))


def _sql_event_funnel() -> str:
    s1, s2, s3 = REL.FUNNEL_STEPS
    return f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = '{s1}' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS ts2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = '{s2}' AND e.ts > s1.ts1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS ts3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = '{s3}' AND e.ts > s2.ts2
  GROUP BY e.user_id
)
SELECT 1 AS step, '{s1}' AS event_type, count(*) AS n_users FROM s1
UNION ALL
SELECT 2, '{s2}', count(*) FROM s2
UNION ALL
SELECT 3, '{s3}', count(*) FROM s3"""


def _sql_user_cohorts() -> str:
    return """
WITH wk AS (
  SELECT user_id, date_trunc('week', ts) AS week FROM events
),
fs AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id),
active AS (SELECT DISTINCT user_id, week FROM wk)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT)
         AS week_offset,
       count(*) AS n_active
FROM active JOIN fs USING (user_id)
GROUP BY 1, 2"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.semantic_dedup(
        SIM.with_synthetic_vec_dups(_t_cpu(spark, sf_dir, "embeddings"))
    )


def q_semantic_dedup_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SemDeDup maintenance (operators/similarity.py
    semantic_dedup_maintain_stream): the vec-dup corpus arrives in
    three ascending-id micro-batches; per epoch only the NEW vectors
    are assigned (fixed offline centroid subsample) and judged
    against same-cluster residents — verdicts are immutable
    (append-only asserted). Final output equals batch semantic_dedup,
    sharing its oracle twin."""
    spark = _ensure_conf(spark)
    return SIM.semantic_dedup_maintain_stream(
        spark,
        SIM.with_synthetic_vec_dups(
            read_fixture(spark, sf_dir, "embeddings", spread=True)
        ),
    )


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.project_embeddings(_t_cpu(spark, sf_dir, "embeddings"))


def q_pii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PII.pii_profile(
        PII.pii_corpus(_t_cpu(spark, sf_dir, "documents"))
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return PII.pii_redact(
        PII.pii_corpus(_t_cpu(spark, sf_dir, "documents"))
    )


def _bloom_key(col: str) -> F.Column:
    return F.col(col).cast("string")


def q_bloom_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return SK.bloom_registers(
        cust.filter(F.col("c_mktsegment") == "BUILDING"),
        _bloom_key("c_custkey"),
    )


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    regs = SK.bloom_registers(
        cust.filter(F.col("c_mktsegment") == "BUILDING"),
        _bloom_key("c_custkey"),
    )
    return SK.bloom_might_contain(
        cust, _bloom_key("c_custkey"), regs
    ).select("c_custkey", "might_contain")


def q_dedup_quality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: within each transitive
    near-dup cluster keep the HIGHEST-quality document (ties: lowest
    doc_id) instead of the arbitrary min-id — the selection policy a
    real training-corpus dedup uses. Unclustered docs survive as
    their own cluster."""
    from pyspark.sql import Window

    corpus = _doc_corpus_cpu(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(corpus, "text", "doc_id", 0.5)
    clusters = DD.dedup_clusters(pairs)
    scored = corpus.select(
        "doc_id", TA.text_quality_score(F.col("text")).alias("quality")
    )
    labeled = scored.join(clusters, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "quality")
    )


def _time_ordered_stream(spark: SparkSession, d: str) -> DataFrame:
    """The event slices staged in ``d`` (stage_ordered_slices over
    (ts, event_id)) replayed one file per micro-batch: Spark's file
    stream source orders by modification time, so delivery order IS
    time order. Test-staging scaffolding only — the production source
    is a keyed Kafka topic, which provides the same ordering."""
    return convert_event_ts(
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def q_session_window_multibatch_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-batch session-window state: the native session_window
    aggregate consumed as FOUR time-ordered micro-batches
    (maxFilesPerTrigger=1 over mtime-ordered slice files), so session
    state is retained, extended, and merged ACROSS batches instead of
    inside one. Spark rejects update mode for session windows
    ([STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION], probed), so
    append is the cross-batch variant that exists. With time-ordered
    delivery no event is ever late (batch k+1 events all >= max ts of
    batch k > watermark) and any session evicted between batches has
    a > 40-min gap to every later event — so incremental emission
    equals the single-batch plan and shares its oracle
    (sql_session_window_stream: batch gap-sessionization filtered to
    end < final watermark)."""
    import shutil

    ev = read_events(_ensure_conf(spark), sf_dir).select(
        "event_id", "ts", "user_id", "value"
    )
    d = stage_ordered_slices(ev, ["ts", "event_id"], 4)
    try:
        return drain(_native_sessions(_time_ordered_stream(spark, d)))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_dedup_watermark_multibatch_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-batch state retention for the native watermark dedup:
    the replayed-duplicate corpus arrives as four micro-batches
    (round-robin staged, so replicas routinely land in DIFFERENT
    batches than their originals) and dropDuplicatesWithinWatermark
    must drop them from state populated in an EARLIER batch — the
    retention behavior the single-batch entry can't exercise. The
    watermark delay (3650 days) exceeds the fixture's time span, so
    no key ever expires mid-replay and the emitted set equals the
    batch DISTINCT oracle regardless of delivery order (projection is
    replica-invariant, same as dedup_watermark_stream)."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="dup_wm_mb_")
    try:
        _dup_review_corpus(spark, sf_dir).repartition(4).write.mode(
            "overwrite"
        ).parquet(d)
        stream = (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        return drain(_watermark_dedup(stream, "3650 days"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_trending_update_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-count leaderboard through UPDATE output mode: the same
    2-h/1-h per-type counts as trending_stream, but emitted as
    per-batch UPSERTS into drain's epoch-versioned parquet sink
    instead of waiting for watermark closure — completing the
    output-mode matrix for the sliding-count family
    (append: trending_stream; complete: cms_topk_stream). Events
    arrive as four micro-batches; a window touched in several batches
    re-emits with a larger count each time, and the sink's
    latest-epoch-wins readout (the standard idempotent-upsert
    compaction) recovers the final counts — equal to the batch counts
    over ALL windows because counts only grow and the 30-day
    watermark delay spans the fixture (nothing dropped as late, no
    state evicted before its last update). Top-3 ranking runs over
    the compacted table, one row per (window, type)."""
    import shutil

    ev = read_events(_ensure_conf(spark), sf_dir).select(
        "event_id", "ts", "event_type"
    )
    d = stage_ordered_slices(ev, ["ts", "event_id"], 4)
    try:
        compacted = drain(
            _sliding_type_counts(_time_ordered_stream(spark, d), "30 days"),
            "update",
            key=["window_start", "event_type"],
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return _top3_per_window(compacted)


# ---------------- round-7 additions ----------------

def q_wordpiece_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece/unigram-LM tokenization scoring (operators/
    tokenizer.py wordpiece_doc_scores): greedy longest-match
    segmentation of every distinct word against a corpus-derived
    top-256 piece vocab (integer log2-frequency weights), folded as
    engine-exact integer consume-and-jump state; per doc the word /
    piece / UNK counts and the quantized LM score — the tokenizer-fit
    diagnostics (fertility, OOV rate) an LLM pipeline runs before
    training."""
    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        wordpiece_doc_scores,
    )

    return wordpiece_doc_scores(_t_cpu(spark, sf_dir, "documents"))


def q_table_stats_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep ANALYZE profile over lineitem (operators/integrity.py
    table_stats_profile_deep): the base row/null/min/max/ndv stats
    PLUS per-column quartiles (weighted HDR quantile sketch) and the
    exact top-5 heavy hitters — still exactly two corpus passes; the
    melted per-value counts table (ndv-sized) is materialized once
    and feeds HLL, quantile, and heavy-hitter readouts."""
    from yelp_streaming_etl_pipeline_spark.functions.rounding import (
        quantize,
    )
    from yelp_streaming_etl_pipeline_spark.operators.integrity import (
        table_stats_profile_deep,
    )

    def as_str(c):
        return c.cast("string")

    def dec2(c):
        return ROUND(c, 2).cast("decimal(18,2)").cast("string")

    def ts(c):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")

    li = _t_cpu(spark, sf_dir, "lineitem")
    specs = [
        ("l_orderkey", F.col("l_orderkey"), as_str),
        ("l_suppkey", F.col("l_suppkey"), as_str),
        ("l_returnflag", F.col("l_returnflag"), as_str),
        ("l_shipdate", F.col("l_shipdate"), ts),
        ("l_quantity", F.col("l_quantity"), dec2),
    ]
    nums = {
        "l_orderkey": quantize(F.col("l_orderkey"), 3),
        "l_suppkey": quantize(F.col("l_suppkey"), 3),
        "l_quantity": quantize(F.col("l_quantity"), 3),
    }
    return table_stats_profile_deep(li, specs, nums)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 retrieval (operators/text_analysis.py
    bm25_topk): top-20 documents for the corpus's 5 most frequent
    terms, with dyadic Lucene-style idf (bit length of the floored
    ratio) and rational tf saturation (k1=1.2, b=0.75) — no float log
    or division anywhere, magnitudes bounded by per-doc quantities,
    top-k compiles to TakeOrderedAndProject."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_topk,
    )

    return bm25_topk(_t_cpu(spark, sf_dir, "documents"))


def q_bm25_topk_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval in BPE token space (operators/text_analysis.py
    bm25_topk_bpe): the repo's BPE learner trains on the documents
    corpus, the segmented-word vocab round-trips through the parquet
    artifact, documents become piece postings through one broadcast
    vocab join, and the shared integer-exact BM25 readout ranks
    against the corpus's top piece terms — retrieval over the same
    term space the training loop consumes."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_topk_bpe,
    )

    return bm25_topk_bpe(
        _t_cpu(spark, sf_dir, "documents"),
        export_path=_bpe_artifact_dir("bm25"),
    )


def q_bm25_cross_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus BM25 (operators/text_analysis.py bm25_cross_topk)
    — the eval-mining shape: query terms from the odd-doc_id half's
    token stream, document frequencies / lengths / avgdl from the
    even half being ranked. The target side reduces to 5 broadcast
    rows before touching the ranked corpus; shared integer-exact
    readout, TakeOrderedAndProject top-k."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_cross_topk,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return bm25_cross_topk(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def q_bm25_cross_topk_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus BM25 in BPE piece space (operators/
    text_analysis.py bm25_cross_topk_bpe): one vocab trained on the
    even half (artifact round trip), both halves tokenized under it
    via broadcast joins, query pieces from the odd half, stats from
    the even half being ranked — eval-mining in the model's own token
    space; target OOV words drop under the fixed vocab."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_cross_topk_bpe,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return bm25_cross_topk_bpe(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        export_path=_bpe_artifact_dir("bm25_cross"),
    )


def _sql_bm25_cross_topk_bpe(
    n_merges: int = 4, n_query_terms: int = 5, k: int = 20
) -> str:
    """Twin of text_analysis.bm25_cross_topk_bpe: the BPE chain
    trains on the even (ranked) half, both halves tokenize under
    vocab{n} by inner join, the shared readout takes qterms from the
    target-side piece stream."""
    rdw = O._sql_bpe_words("char", "rdocs").format(ids="doc_id,")
    tdw = O._sql_bpe_words("char", "tdocs").format(ids="doc_id,")
    return f"""
WITH rdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
tdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
{O._sql_bpe_cte(n_merges, "char", "rdocs")},
dw AS (
  SELECT doc_id, w FROM ({rdw}
),
w AS MATERIALIZED (
  SELECT doc_id, unnest(s.toks) AS term
  FROM dw JOIN vocab{n_merges} s USING (w)
),
tdw AS (
  SELECT doc_id, w FROM ({tdw}
),
qw AS (
  SELECT doc_id, unnest(s.toks) AS term
  FROM tdw JOIN vocab{n_merges} s USING (w)
),
{_sql_bm25_readout(n_query_terms, k, qterms_src="qw")}"""


def q_bm25_maintenance_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BM25 index maintenance (operators/text_analysis.py
    bm25_maintain_stream): documents arrive in micro-batches, each
    tokenized exactly once into the text-free (doc_id, term, tf)
    postings state; the top-k readout is re-derived per epoch because
    the query-term set, document frequencies and avgdl all move with
    corpus totals. Final epoch equals batch bm25_topk, sharing its
    oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_maintain_stream,
    )

    return bm25_maintain_stream(
        _ensure_conf(spark), _t_cpu(spark, sf_dir, "documents")
    )


def q_bm25_maintenance_stream_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming BM25 postings maintenance in BPE piece space
    (operators/text_analysis.py bm25_maintain_stream_bpe) — the
    ship-the-tokenizer retrieval shape: the vocab trains once up
    front and round-trips through the parquet artifact, then stays
    FIXED; arriving documents tokenize into piece postings under the
    broadcast artifact exactly once, the text-free postings state
    appends per epoch (append-only-per-doc asserted), and the
    integer-exact top-k readout re-derives per epoch. Final epoch
    equals batch bm25_topk_bpe (same corpus trains the vocab),
    sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_maintain_stream_bpe,
    )

    return bm25_maintain_stream_bpe(
        _ensure_conf(spark),
        _t_cpu(spark, sf_dir, "documents"),
        export_path=_bpe_artifact_dir("bm25m"),
    )


def q_cdc_chunk_pairs_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs from content-defined chunks in BPE PIECE space
    (operators/dedup.py cdc_chunk_pairs_bpe): the BPE vocab trains on
    the near-dup corpus and round-trips through the parquet artifact,
    documents become piece sequences through one broadcast vocab
    join, boundaries are content-defined over 4-piece rolling-md5
    windows (1/16 density), and the pair readout is the shared
    df-capped chunk-set tail — CDC dedup measured in the tokenizer's
    own units."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        cdc_chunk_pairs_bpe,
    )

    return cdc_chunk_pairs_bpe(
        _doc_corpus_cpu(spark, sf_dir),
        export_path=_bpe_artifact_dir("cdc"),
    )


def q_cdc_maintenance_stream_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming CDC-chunk maintenance in BPE piece space (operators/
    dedup.py cdc_maintain_stream_bpe): fixed artifact vocab, arriving
    docs tokenize+chunk exactly once into distinct (doc_id,
    chunk_hash) state, pair readout re-derived per epoch (df cap and
    jaccard denominators move with corpus-wide frequencies). Final
    epoch equals batch cdc_chunk_pairs_bpe, sharing its oracle
    twin."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        cdc_maintain_stream_bpe,
    )

    return cdc_maintain_stream_bpe(
        _ensure_conf(spark),
        _doc_corpus_cpu(spark, sf_dir).select("doc_id", "text"),
        export_path=_bpe_artifact_dir("cdcm"),
    )


def q_dsir_mixture_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-weighted mixture budget pack (operators/corpus.py
    dsir_mixture_pack): even docs scored against the odd half; the
    8k-token budget splits across sources by largest-remainder
    allocation over each source's token mass, then each source packs
    importance-first under its own budget via the per-(source, bin)
    decomposed prefix sum — the full hold-the-mixture training-mix
    composition, integer-exact, bit-identical to the twin's naive
    per-source window."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_mixture_pack,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_mixture_pack(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def q_unigram_schedule_export_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Schedule-trained tokenizer EXPORT parity (operators/
    tokenizer.py unigram_em_schedule_scores with export_path): the
    size-scheduled trainer's FINAL inventory round-trips through the
    parquet artifact (export_unigram write + re-read) and the corpus
    scores under the re-read artifact — the train-once/ship step for
    the unigram family, proving the shipped model reproduces the
    in-memory one (equality pytest) and the DuckDB twin (this
    entry; same twin as unigram_em_schedule_scores)."""
    import tempfile

    from yelp_streaming_etl_pipeline_spark.operators.tokenizer import (
        unigram_em_schedule_scores,
    )

    if not _UNIGRAM_ARTIFACT_DIR:
        _UNIGRAM_ARTIFACT_DIR.append(
            tempfile.mkdtemp(prefix="unigram_artifact_")
        )
    return unigram_em_schedule_scores(
        _t_cpu(spark, sf_dir, "documents"),
        export_path=_UNIGRAM_ARTIFACT_DIR[0],
    )


_UNIGRAM_ARTIFACT_DIR: list = []


def q_bm25_cross_maintenance_stream_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming cross-corpus BM25 maintenance in BPE piece space
    (operators/text_analysis.py bm25_cross_maintain_stream_bpe) —
    the live eval-mining monitor: vocab artifact AND target (odd
    half) postings fixed up front, ranked-side (even half) docs
    arrive and tokenize once into append-only piece postings,
    df/dl/avgdl re-derived per epoch against the fixed broadcast
    query-piece set. Final epoch equals batch bm25_cross_topk_bpe,
    sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.text_analysis import (
        bm25_cross_maintain_stream_bpe,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return bm25_cross_maintain_stream_bpe(
        _ensure_conf(spark),
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        export_path=_bpe_artifact_dir("bm25xm"),
    )


def q_dsir_mixture_pack_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming mixture-pack maintenance (operators/corpus.py
    dsir_mixture_pack_maintain_stream): dsir_maintenance_stream's
    incremental scoring composed with the mixture-pack tail — token
    counts and source labels fixed at arrival, source budgets and
    every kept verdict re-derived per epoch (scores AND token masses
    move with each batch). Final epoch equals batch
    dsir_mixture_pack, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_mixture_pack_maintain_stream,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_mixture_pack_maintain_stream(
        _ensure_conf(spark),
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def q_dsir_maintenance_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming DSIR importance maintenance (operators/corpus.py
    dsir_maintain_stream): the fixed target (odd half) bucket table
    computes once; even-half docs arrive and gram-hash once into
    append-only (doc_id, b, cnt) state; per-bucket weights and the
    corpus-size constant re-derive per epoch (they move with raw
    totals — a new batch re-scores every document). Final epoch
    equals batch dsir_importance, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_maintain_stream,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_maintain_stream(
        _ensure_conf(spark),
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty vs a reference corpus (operators/
    dedup.py ngram_novelty): fraction of a document's distinct word
    5-grams absent from the reference — the decontamination /
    memorization diagnostic for mixing a new source into an existing
    corpus. Deterministic split: odd doc_ids scored against the even
    half as reference."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        ngram_novelty,
    )

    docs = _t_cpu(spark, sf_dir, "documents")
    return ngram_novelty(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
    )


def q_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-k (KMV) sample per event type (operators/
    sampling.py bottomk_sample_by_group): the 8 events with smallest
    md5(event_id) per type — exact-size, mergeable, growth-stable
    sampling (the properties rate-based stratified_sample lacks);
    one group-keyed window with WindowGroupLimit pushdown."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        bottomk_sample_by_group,
    )

    ev = read_events(_ensure_conf(spark), sf_dir)
    return bottomk_sample_by_group(
        ev, F.col("event_type"), F.col("event_id")
    )


def q_bottomk_sample_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-k sample maintenance (operators/sampling.py
    bottomk_sample_maintain_stream): per epoch, prune (state ∪ fresh
    bottom-k) back to k per group — state bounded at groups × k rows
    forever; mergeability makes the final epoch equal the batch
    sample regardless of arrival order, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        bottomk_sample_maintain_stream,
    )

    ev = read_events(_ensure_conf(spark), sf_dir).select(
        "event_type", "event_id"
    )
    return bottomk_sample_maintain_stream(
        _ensure_conf(spark),
        ev,
        F.col("event_type"),
        F.col("event_id"),
        order_cols=["event_id"],
    )


def q_stratified_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample with a TOTAL budget (operators/sampling.py
    stratified_budget_sample): 24 events allocated across event types
    by largest-remainder proportional allocation, each stratum filled
    with its k_g smallest md5(event_id) — exact-size, mergeable,
    deterministic. One count agg + one group-limit window; the
    strata-sized allocation table broadcasts."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        stratified_budget_sample,
    )

    ev = read_events(_ensure_conf(spark), sf_dir)
    return stratified_budget_sample(
        ev, F.col("event_type"), F.col("event_id")
    )


def q_stratified_budget_sample_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming stratified-budget sample maintenance (operators/
    sampling.py stratified_budget_sample_maintain_stream): per-stratum
    state is (exact count, bottom-24 rows) — both mergeable, so state
    stays bounded at strata x 24 forever while the per-epoch readout
    re-derives the allocation from the accumulated counts; the final
    epoch equals the batch sample, sharing its oracle twin."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        stratified_budget_sample_maintain_stream,
    )

    ev = read_events(_ensure_conf(spark), sf_dir).select(
        "event_type", "event_id"
    )
    return stratified_budget_sample_maintain_stream(
        _ensure_conf(spark),
        ev,
        F.col("event_type"),
        F.col("event_id"),
        order_cols=["event_id"],
    )


def _sql_stratified_budget_sample(budget: int = 24) -> str:
    """Twin of stratified_budget_sample over events: identical md5
    rank key and NULL-unit exclusion, identical largest-remainder
    allocation (non-negative operands, so Spark div == DuckDB //),
    remainder ties pinned by stratum name."""
    return f"""
WITH staged AS (
  SELECT event_type AS g, event_id AS unit,
         md5(CAST(event_id AS VARCHAR)) AS h
  FROM events WHERE event_id IS NOT NULL
),
counts AS (
  SELECT g, CAST(count(*) AS BIGINT) AS w FROM staged GROUP BY g
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM counts),
basealloc AS (
  SELECT g, ({budget} * w) // wtot AS base,
         ({budget} * w) % wtot AS rem
  FROM counts CROSS JOIN tot
),
sb AS (SELECT CAST(sum(base) AS BIGINT) AS sbase FROM basealloc),
alloc AS (
  SELECT g,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, g)
                       <= {budget} - sbase
                     THEN 1 ELSE 0 END AS k_g
  FROM basealloc CROSS JOIN sb
),
ranked AS (
  SELECT g, unit, h,
         row_number() OVER (PARTITION BY g ORDER BY h, unit) AS rn
  FROM staged
)
SELECT r.g, r.unit, r.h
FROM ranked r JOIN alloc a USING (g) WHERE r.rn <= a.k_g"""


def _sql_bottomk_sample(k: int = 8) -> str:
    """Twin of bottomk_sample_by_group over events: identical md5
    key, identical (h, unit) tie order, rank <= k, and the same
    NULL-unit exclusion (Spark/DuckDB default NULL sort orders differ,
    and NULL units must not consume sample slots)."""
    return f"""
SELECT g, unit, h FROM (
  SELECT event_type AS g, event_id AS unit,
         md5(CAST(event_id AS VARCHAR)) AS h,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
  FROM events
  WHERE event_id IS NOT NULL
) WHERE rn <= {k}"""


def _sql_ngram_novelty(n: int = 5) -> str:
    """Twin of q_ngram_novelty: the table-parameterized shingle CTEs
    over the odd/even halves, md5-keyed left join, same exact ratio."""
    s_cte = O.sql_doc_shingles_cte(n, "s_docs", "s_")
    r_cte = O.sql_doc_shingles_cte(n, "r_docs", "r_")
    nov = SR(
        "1.0 - CAST(n_seen AS DOUBLE) / CAST(n_grams AS DOUBLE)", 6
    )
    return f"""
WITH s_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
r_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
{s_cte},
{r_cte},
sh AS (
  SELECT doc_id, md5(g) AS h
  FROM (SELECT doc_id, unnest(shingles) AS g FROM s_sh)
),
ref AS (
  SELECT DISTINCT md5(g) AS h
  FROM (SELECT unnest(shingles) AS g FROM r_sh)
),
agg AS (
  SELECT sh.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(ref.h) AS BIGINT) AS n_seen
  FROM sh LEFT JOIN ref ON sh.h = ref.h
  GROUP BY sh.doc_id
)
SELECT doc_id, n_grams, n_seen, {nov} AS novelty FROM agg"""


def _sql_bm25_readout(
    n_query_terms: int = 5, k: int = 20, qterms_src: str = "w"
) -> str:
    """The postings->top-k half of the BM25 twins, over a CTE
    ``w(doc_id, term)``: dyadic idf via length(bin(...)), the same
    integer rational saturation, pinned top-k order (score DESC,
    doc_id ASC), and the same BM25_DL_CAP=500000 dl/tf clamp
    (int64-overflow guard, bit-identical below the cap). Shared by
    the word-space, BPE-piece-space, and cross-corpus twins
    (``qterms_src`` names the CTE the query-term set derives from —
    the cross form points it at the target corpus's stream)."""
    return f"""dl AS (
  SELECT doc_id, least(CAST(count(*) AS BIGINT), 500000) AS dl
  FROM w GROUP BY doc_id
),
tot AS (
  SELECT CAST(sum(dl) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS N
  FROM dl
),
consts AS (SELECT (10 * T) // N AS A, N FROM tot),
qterms AS (
  SELECT term FROM (
    SELECT term, count(*) AS cnt FROM {qterms_src} GROUP BY term
  ) ORDER BY cnt DESC, term LIMIT {n_query_terms}
),
tf AS (
  SELECT doc_id, term, least(CAST(count(*) AS BIGINT), 500000) AS tf
  FROM w JOIN qterms USING (term) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
idf AS (
  SELECT term,
         CAST(length(bin((2 * N + 2) // (2 * df + 1))) AS BIGINT)
           AS idf_q,
         A
  FROM dfreq CROSS JOIN consts
),
scored AS (
  SELECT t.doc_id,
         (i.idf_q * 22 * t.tf * i.A * 1000) //
           (10 * i.A * t.tf + 3 * i.A + 90 * d.dl) AS s
  FROM tf t JOIN idf i USING (term) JOIN dl d USING (doc_id)
)
SELECT doc_id, CAST(sum(s) AS BIGINT) AS bm25_q,
       CAST(count(*) AS BIGINT) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY bm25_q DESC, doc_id LIMIT {k}"""


def _sql_bm25_topk(n_query_terms: int = 5, k: int = 20) -> str:
    """Twin of text_analysis.bm25_topk: identical whitespace
    tokenization feeding the shared readout (_sql_bm25_readout)."""
    return f"""
WITH w AS (
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                                     '\\s+')) AS term
    FROM documents
  ) WHERE term <> ''
),
{_sql_bm25_readout(n_query_terms, k)}"""


def _sql_bm25_cross_topk(n_query_terms: int = 5, k: int = 20) -> str:
    """Twin of text_analysis.bm25_cross_topk over the odd/even
    documents halves: ranked-corpus stream w (even docs), target
    stream qw (odd docs) feeding only the qterms CTE via the shared
    readout's qterms_src hook; df/dl/avgdl stay derived from w."""
    stream = """
  SELECT doc_id, term FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(lower(coalesce(text, ''))),
                                     '\\s+')) AS term
    FROM documents WHERE doc_id % 2 = {par}
  ) WHERE term <> ''"""
    return f"""
WITH w AS ({stream.format(par=0)}
),
qw AS ({stream.format(par=1)}
),
{_sql_bm25_readout(n_query_terms, k, qterms_src="qw")}"""


def _sql_bm25_topk_bpe(
    n_merges: int = 4, n_query_terms: int = 5, k: int = 20
) -> str:
    """Twin of text_analysis.bm25_topk_bpe: the BPE learner chain
    (O._sql_bpe_cte over documents), each doc's alpha words joined to
    the learned segmented-word vocab and exploded into pieces (inner
    join — OOV words drop identically in both engines), then the
    shared BM25 readout over the piece postings. The postings CTE is
    MATERIALIZED — the readout reads w three times (dl, qterms, tf)
    and DuckDB inlines plain CTEs per reference."""
    dw = O._sql_bpe_words("char").format(ids="doc_id,")
    return f"""
WITH {O._sql_bpe_cte(n_merges, "char", "documents")},
dw AS (
  SELECT doc_id, w FROM ({dw}
),
w AS MATERIALIZED (
  SELECT doc_id, unnest(s.toks) AS term
  FROM dw JOIN vocab{n_merges} s USING (w)
),
{_sql_bm25_readout(n_query_terms, k)}"""


def q_dedup_eval_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup detection-quality eval (operators/dedup.py dedup_eval):
    MinHash-LSH pairs over the planted near-dup corpus scored against
    the exact planted ground truth (exact copies, near copies, and
    the induced copy-of-copy pairs) — one row of
    expected/detected/true-positive counts + precision/recall/f1.
    The QA gate a dedup detector must clear before running at
    corpus scale. Planted recall is the hard signal (1.0 at sf0.01);
    precision-vs-planted is a LOWER BOUND — the synthetic corpus
    draws from a small vocabulary, so some detected extras are
    genuine natural near-dups, counted against precision here
    because the planted set is the only certain ground truth."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        dedup_eval,
        planted_near_dup_pairs,
    )

    detected = DD.minhash_lsh_pairs(
        _doc_corpus_cpu(spark, sf_dir), "text", "doc_id", 0.5
    ).select("doc_a", "doc_b")
    expected = planted_near_dup_pairs(
        _t_cpu(spark, sf_dir, "documents").select("doc_id")
    )
    return dedup_eval(detected, expected)


def _sql_dedup_eval_minhash() -> str:
    """Twin of q_dedup_eval_minhash: the neardup_minhash pair SQL as a
    subquery, the modular planted-pair ground truth, and the same
    integer-ratio precision/recall/f1 (f1 = 2TP/(det+exp))."""
    det_sql = O.sql_minhash_lsh_pairs(0.5)
    return f"""
WITH det AS (
  SELECT DISTINCT doc_a, doc_b FROM ({det_sql})
),
exp AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
    FROM documents WHERE doc_id % 31 = 0
    UNION ALL
    SELECT doc_id, doc_id + 2000000 FROM documents WHERE doc_id % 17 = 0
    UNION ALL
    SELECT doc_id + 1000000, doc_id + 2000000
    FROM documents WHERE doc_id % 527 = 0
  )
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_detected FROM det),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_expected FROM exp),
tp AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true_pos
  FROM det JOIN exp USING (doc_a, doc_b)
)
SELECT n_expected, n_detected, n_true_pos,
  CASE WHEN n_detected > 0
       THEN {SR('CAST(n_true_pos AS DOUBLE) / CAST(n_detected AS DOUBLE)', 6)}
       ELSE 0.0 END AS precision,
  CASE WHEN n_expected > 0
       THEN {SR('CAST(n_true_pos AS DOUBLE) / CAST(n_expected AS DOUBLE)', 6)}
       ELSE 0.0 END AS recall,
  CASE WHEN n_detected + n_expected > 0
       THEN {SR('2.0 * CAST(n_true_pos AS DOUBLE) / CAST(n_detected + n_expected AS DOUBLE)', 6)}
       ELSE 0.0 END AS f1
FROM ne CROSS JOIN nd CROSS JOIN tp"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict order matters: the driver evaluates the FIRST 50 entries.

    Round-11 window (priority order, per VERDICT r10 directive #1 and
    the standing cycle plan):
    (a) the 12 entries NEW this round, never driver-checked:
    streaming mixture-pack maintenance (incremental DSIR scores +
    per-epoch pack tail);
    interpolated Kneser-Ney bigram-LM scores (batch + count-state
    maintenance stream); chunk-level keep-first CDC dedup with
    removal readout (batch + ordered-arrival maintenance stream);
    streaming
    DSIR importance maintenance (fixed target, append-only bucket
    counts); streaming cross-corpus BM25 maintenance in BPE piece
    space (fixed vocab + fixed target query pieces); the
    DSIR-weighted MIXTURE budget pack; streaming BM25 postings
    maintenance in BPE piece space under the fixed parquet-artifact
    vocab; content-defined chunking lifted to BPE piece space (batch
    pairs + the fixed-vocab maintenance stream); and the
    schedule-trained unigram tokenizer EXPORT-parity entry;
    (b) the 5 entries whose code or twin text changed this round
    with identical results: exact_substring_removal_bpe (result now
    eagerly checkpointed + token cache unpersisted — ADVICE r10),
    paragraph_dedup_maintenance_stream (empty-corpus guard returns a
    typed empty DataFrame), unigram_em_scores (twin tail now the
    shared _sql_uv_scores_tail), cdc_chunk_pairs (twin pair tail now
    the shared _sql_chunk_pair_tail), unigram_em_schedule_scores
    (export_path parameter added, default path unchanged);
    (c) the r4/r5-stamped backlog, oldest-first (stamp round, then
    in-file order of the stamping round's CORRECTNESS artifact): all
    15 r4-stamped entries, then the r5 block. 12 + 5 + 33 = 50
    (the r5 tail from pagerank_weighted / topic_roundtrip_reviews /
    events_hourly / pps_sample onward slips to round 12's window
    head).

    CYCLE PLAN (245 entries, 50-entry window): past position 50 the
    order is the remaining backlog oldest-first — the r5 tail, the
    r6/r7/r8 blocks, then the displaced r9/r10-stamped blocks
    (freshest stamps) last. Every entry is re-proven every round by
    the local full gate (scripts/check_oracle.py + check_vanilla.py
    over all 238) and by pytest units added with each change.
    """
    return {
        "kn_bigram_scores": q_kn_bigram_scores,
        "kn_bigram_maintenance_stream": q_kn_bigram_maintenance_stream,
        "cdc_chunk_dedup": q_cdc_chunk_dedup,
        "cdc_chunk_dedup_maintenance_stream": (
            q_cdc_chunk_dedup_maintenance_stream
        ),
        "dsir_mixture_pack_maintenance_stream": (
            q_dsir_mixture_pack_maintenance_stream
        ),
        "dsir_maintenance_stream": q_dsir_maintenance_stream,
        "bm25_cross_maintenance_stream_bpe": (
            q_bm25_cross_maintenance_stream_bpe
        ),
        "dsir_mixture_pack": q_dsir_mixture_pack,
        "bm25_maintenance_stream_bpe": q_bm25_maintenance_stream_bpe,
        "cdc_chunk_pairs_bpe": q_cdc_chunk_pairs_bpe,
        "cdc_maintenance_stream_bpe": q_cdc_maintenance_stream_bpe,
        "unigram_schedule_export_scores": q_unigram_schedule_export_scores,
        "exact_substring_removal_bpe": q_exact_substring_removal_bpe,
        "paragraph_dedup_maintenance_stream": q_paragraph_dedup_maintenance_stream,
        "unigram_em_scores": q_unigram_em_scores,
        "cdc_chunk_pairs": q_cdc_chunk_pairs,
        "unigram_em_schedule_scores": q_unigram_em_schedule_scores,
        "top_orders_per_segment": q_top_orders_per_segment,
        "order_priority_counts": q_order_priority_counts,
        "latest_event_per_user": q_latest_event_per_user,
        "user_event_intervals": q_user_event_intervals,
        "lang_id_prefix": q_lang_id_prefix,
        "quantile_sketch": q_quantile_sketch,
        "quantile_estimate": q_quantile_estimate,
        "bpe_merges_bytes": q_bpe_merges_bytes,
        "bpe_bytes_token_counts": q_bpe_bytes_token_counts,
        "events_hourly_update_stream": q_events_hourly_update_stream,
        "user_value_ewma_stream": q_user_value_ewma_stream,
        "quantile_by_type": q_quantile_by_type,
        "sql_surface_q13": q_sql_surface_q13,
        "sql_surface_q2": q_sql_surface_q2,
        "sql_surface_q21": q_sql_surface_q21,
        "sql_surface_q20": q_sql_surface_q20,
        "kcore_maintenance_stream": q_kcore_maintenance_stream,
        "boilerplate_lines": q_boilerplate_lines,
        "lpa_maintenance_stream": q_lpa_maintenance_stream,
        "entity_clusters": q_entity_clusters,
        "entity_maintenance_stream": q_entity_maintenance_stream,
        "neardup_maintenance_stream": q_neardup_maintenance_stream,
        "pq_codebooks_kmeans": q_pq_codebooks_kmeans,
        "measures_unpivot": q_measures_unpivot,
        "pps_wor_sample": q_pps_wor_sample,
        "attributed_purchases_full_outer_stream": q_attributed_purchases_full_outer_stream,
        "mmr_topk": q_mmr_topk,
        "cosupply_kcore": q_cosupply_kcore,
        "cosupply_triangles": q_cosupply_triangles,
        "cosupply_clustering": q_cosupply_clustering,
        "cosupply_communities": q_cosupply_communities,
        "pagerank_nodes": q_pagerank_nodes,
        "personalized_pagerank": q_personalized_pagerank,
        "pagerank_weighted": q_pagerank_weighted,
        "topic_roundtrip_reviews": q_topic_roundtrip_reviews,
        "events_hourly": q_events_hourly,
        "pps_sample": q_pps_sample,
        "duplicate_issues": q_duplicate_issues,
        "lapsed_users": q_lapsed_users,
        "train_test_split": q_train_test_split,
        "stratified_sample": q_stratified_sample,
        "dedup_corpus_prune": q_dedup_corpus_prune,
        "simhash_pairs": q_simhash_pairs,
        "kmeans_maintenance_stream": q_kmeans_maintenance_stream,
        "semantic_dedup_maintenance_stream": q_semantic_dedup_maintenance_stream,
        "quantile_sketch_stream": q_quantile_sketch_stream,
        "pagerank_maintenance_stream": q_pagerank_maintenance_stream,
        "events_resample_ffill": q_events_resample_ffill,
        "cusum_changepoints": q_cusum_changepoints,
        "attributed_purchases_semi_stream": q_attributed_purchases_semi_stream,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "customer_quartiles": q_customer_quartiles,
        "audio_meta_audit": q_audio_meta_audit,
        "sliding_hourly_stats": q_sliding_hourly_stats,
        "salted_event_counts": q_salted_event_counts,
        "value_histogram": q_value_histogram,
        "histogram_median": q_histogram_median,
        "numeric_profile": q_numeric_profile,
        "pricing_summary": q_pricing_summary,
        "cube_revenue": q_cube_revenue,
        "doc_chunks": q_doc_chunks,
        "bloom_registers": q_bloom_registers,
        "bloom_probe": q_bloom_probe,
        "dedup_quality_prune": q_dedup_quality_prune,
        "cms_counters": q_cms_counters,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "simhash_signatures": q_simhash,
        "neardup_ngram": q_neardup_ngram,
        "ann_cosine_topk": q_ann_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        "media_features": q_media_features,
        "decontaminate": q_decontaminate,
        "lm_score": q_lm_score,
        "corpus_upsert": q_corpus_upsert,
        "mixture_sample": q_mixture_sample,
        "ann_quantized_topk": q_ann_quantized_topk,
        "hll_registers": q_hll_registers,
        "hll_estimate": q_hll_estimate,
        "revenue_by_nation": q_revenue_by_nation,
        "top_customers": q_top_customers,
        "supplier_running_revenue": q_supplier_running_revenue,
        "rollup_revenue": q_rollup_revenue,
        "wordpiece_doc_scores": q_wordpiece_doc_scores,
        "table_stats_deep": q_table_stats_deep,
        "dedup_eval_minhash": q_dedup_eval_minhash,
        "ngram_novelty": q_ngram_novelty,
        "cdc_maintenance_stream": q_cdc_maintenance_stream,
        "duplicated_passages": q_duplicated_passages,
        "trending_stream": q_trending_stream,
        "io_roundtrip_formats": q_io_roundtrip_formats,
        "pii_profile": q_pii_profile,
        "pii_redact": q_pii_redact,
        "zorder_layout": q_zorder_layout,
        "frame_sample_plan": q_frame_sample_plan,
        "hll_set_ops": q_hll_set_ops,
        "cms_join_size": q_cms_join_size,
        "embedding_project": q_embedding_project,
        "semantic_dedup": q_semantic_dedup,
        "kmeans_clusters": q_kmeans_clusters,
        "hard_negatives": q_hard_negatives,
        "cluster_balanced_sample": q_cluster_balanced_sample,
        "semantic_decontaminate": q_semantic_decontaminate,
        "event_funnel": q_event_funnel,
        "enriched_events_stream": q_enriched_events_stream,
        "user_cohorts": q_user_cohorts,
        "hll_registers_stream": q_hll_registers_stream,
        "hll_by_type": q_hll_by_type,
        "attributed_purchases_outer_stream": q_attributed_purchases_outer_stream,
        "sql_surface_q4": q_sql_surface_q4,
        "user_value_ewma": q_user_value_ewma,
        "bpe_token_counts": q_bpe_token_counts,
        "event_zscores": q_event_zscores,
        "bpe_merges": q_bpe_merges,
        "review_stats": q_review_stats,
        "review_stats_overall": q_review_stats_overall,
        "acceptance_summary": q_acceptance_summary,
        "props_extract": q_props_extract,
        "sessionize_events": q_sessionize_events,
        "token_budget_pack": q_token_budget_pack,
        "training_corpus": q_training_corpus,
        "windowed_events_stream": q_windowed_events_stream,
        "attributed_purchases_stream": q_attributed_purchases_stream,
        "lang_id": q_lang_id,
        "clean_reviews": q_clean_reviews,
        "quality_issues": q_quality_issues,
        "issue_counts": q_issue_counts,
        "event_type_pivot": q_event_type_pivot,
        "value_percentiles": q_value_percentiles,
        "click_purchase_5min": q_click_purchase_5min,
        "returning_users": q_returning_users,
        "top_bigrams": q_top_bigrams,
        "tfidf_keywords": q_tfidf_keywords,
        "customers_without_orders": q_customers_without_orders,
        "parts_with_shipments": q_parts_with_shipments,
        "quality_quota_sample": q_quality_quota_sample,
        "exact_substring_spans": q_exact_substring_spans,
        "exact_substring_removal": q_exact_substring_removal,
        "exact_substring_maintenance_stream": q_exact_substring_maintenance_stream,
        "simhash_maintenance_stream": q_simhash_maintenance_stream,
        "bfs_levels": q_bfs_levels,
        "salted_skew_join": q_salted_skew_join,
        "dedup_watermark_stream": q_dedup_watermark_stream,
        "cms_topk_stream": q_cms_topk_stream,
        "ann_sharded_topk": q_ann_sharded_topk,
        "sql_surface_q16": q_sql_surface_q16,
        "sql_surface_q18": q_sql_surface_q18,
        "session_window_stream": q_session_window_stream,
        "bigram_lift": q_bigram_lift,
        "jsonl_roundtrip": q_jsonl_roundtrip,
        "sql_surface_groupingsets": q_sql_surface_groupingsets,
        "sql_surface_lateral": q_sql_surface_lateral,
        "table_fingerprints": q_table_fingerprints,
        "schema_evolution_read": q_schema_evolution_read,
        "bucketed_join": q_bucketed_join,
        "partition_overwrite_backfill": q_partition_overwrite_backfill,
        "constraint_audit": q_constraint_audit,
        "bloom_pruned_join": q_bloom_pruned_join,
        "fingerprint_incremental": q_fingerprint_incremental,
        "dedup_clusters": q_dedup_clusters,
        "session_window_multibatch_stream": q_session_window_multibatch_stream,
        "dedup_watermark_multibatch_stream": q_dedup_watermark_multibatch_stream,
        "trending_update_stream": q_trending_update_stream,
        "media_dims_audit": q_media_dims_audit,
        "user_value_ewma_segmented": q_user_value_ewma_segmented,
        "sql_surface_q3": q_sql_surface_q3,
        "sql_surface_q5": q_sql_surface_q5,
        "sql_surface_q10": q_sql_surface_q10,
        "sql_surface_q14": q_sql_surface_q14,
        "sql_surface_q19": q_sql_surface_q19,
        "sql_surface_q22": q_sql_surface_q22,
        "sql_surface_q7": q_sql_surface_q7,
        "sql_surface_q17": q_sql_surface_q17,
        "sql_surface_q8": q_sql_surface_q8,
        "sql_surface_q12": q_sql_surface_q12,
        "sql_surface_q1": q_sql_surface_q1,
        "sql_surface_q6": q_sql_surface_q6,
        "sql_surface_q9": q_sql_surface_q9,
        "sql_surface_q11": q_sql_surface_q11,
        "sql_surface_q15": q_sql_surface_q15,
        "exact_substring_removal_maintenance_stream_bpe": q_exact_substring_removal_maintenance_stream_bpe,
        "bm25_cross_topk_bpe": q_bm25_cross_topk_bpe,
        "bm25_cross_topk": q_bm25_cross_topk,
        "exact_substring_maintenance_stream_bpe": q_exact_substring_maintenance_stream_bpe,
        "dsir_budget_pack": q_dsir_budget_pack,
        "unigram_em_schedule": q_unigram_em_schedule,
        "bm25_topk_bpe": q_bm25_topk_bpe,
        "dsir_quota_sample": q_dsir_quota_sample,
        "exact_substring_spans_bpe": q_exact_substring_spans_bpe,
        "unigram_em_loop": q_unigram_em_loop,
        "unigram_em_refine": q_unigram_em_refine,
        "unigram_lm_scores": q_unigram_lm_scores,
        "bm25_topk": q_bm25_topk,
        "exact_substring_spans_bytes": q_exact_substring_spans_bytes,
        "exact_substring_removal_bytes": q_exact_substring_removal_bytes,
        "bigram_lm_scores": q_bigram_lm_scores,
        "bigram_lm_maintenance_stream": q_bigram_lm_maintenance_stream,
        "paragraph_dedup": q_paragraph_dedup,
        "pagerank_weighted_maintenance_stream": q_pagerank_weighted_maintenance_stream,
        "personalized_pagerank_maintenance_stream": q_personalized_pagerank_maintenance_stream,
        "lm_filter_roc": q_lm_filter_roc,
        "lm_filter_mix_shift": q_lm_filter_mix_shift,
        "stratified_budget_sample": q_stratified_budget_sample,
        "stratified_budget_sample_stream": q_stratified_budget_sample_stream,
        "dsir_importance": q_dsir_importance,
        "dsir_topk": q_dsir_topk,
        "bm25_maintenance_stream": q_bm25_maintenance_stream,
        "bottomk_sample": q_bottomk_sample,
        "bottomk_sample_stream": q_bottomk_sample_stream,
        "sessionize_stream": q_sessionize_stream,
        "dedup_stream": q_dedup_stream,
        "dedup_reviews": q_dedup_reviews,
        "dedup_exact": q_dedup_exact,
        "neardup_minhash": q_neardup_minhash,
        "class_capped_sample": q_class_capped_sample,
        "purchase_prior_click": q_purchase_prior_click,
        "text_features": q_text_features,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "winnow_neardup": q_winnow_neardup,
        "text_analysis": q_text_analysis,
        "repetition_profile": q_repetition_profile,
        "quality_classifier": q_quality_classifier,
        "gopher_quality": q_gopher_quality,
        "payload_chunk_manifest": q_payload_chunk_manifest,
        "table_stats_profile": q_table_stats_profile,
        "distinct_daily_users": q_distinct_daily_users,
    }


# ---------------- oracles ----------------

def _sql_text_features() -> str:
    return f"""
SELECT doc_id,
  {O.sql_word_count('text')} AS word_count,
  {O.sql_char_count('text')} AS char_count,
  {O.sql_sentence_count('text')} AS sentence_count,
  {O.sql_avg_word_length('text')} AS avg_word_length,
  {O.sql_caps_ratio('text')} AS caps_ratio,
  {O.sql_punct_ratio('text')} AS punct_ratio,
  {O.sql_digit_ratio('text')} AS digit_ratio
FROM documents"""


def _sql_lang_id(prefix: int | None = None) -> str:
    """Twin of the trigram-default classifier: trigram scores computed
    once in a derived table (each 100-entry profile map literal appears
    exactly once), marker-heuristic fallback for zero-score rows.
    ``prefix`` mirrors the engine's ``max_chars`` knob — every stage
    (trigrams, zh scan, fallback) reads only the first N chars."""
    from yelp_streaming_etl_pipeline_spark.functions import (
        lang_trigrams as LT,
    )

    src = f"substr(text, 1, {prefix})" if prefix is not None else "text"
    fb_lang, fb_conf = O.sql_lang_id(src)
    lc = LT.sql_norm(src)
    tris = LT.sql_trigram_array("lc")
    zh = O.rc(f"lower(coalesce({src}, ''))", O.LANG_ZH_CLASS)
    score_cols = ", ".join(
        f"{LT.sql_trigram_score('tris', lang)} AS s_{lang}"
        for lang in LT.LANG_ORDER
    )
    lang_expr, conf_expr = LT.sql_decide(
        "zh",
        {lang: f"s_{lang}" for lang in LT.LANG_ORDER},
        fb_lang,
        fb_conf,
    )
    return f"""
WITH norm AS (
  SELECT *, {lc} AS lc FROM documents
),
tri AS (
  SELECT *, {tris} AS tris, {zh} AS zh FROM norm
),
scored AS (
  SELECT *, {score_cols} FROM tri
)
SELECT doc_id, {lang_expr} AS language, {conf_expr} AS language_confidence
FROM scored"""


def _sql_mixture_sample() -> str:
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        sql_hash_bucket,
    )

    vals = ", ".join(
        f"('{c}', CAST({p!r} AS DOUBLE))"
        for c, p in sorted(_MIXTURE_TARGETS.items())
    )
    hb = sql_hash_bucket("doc_id")
    return f"""
WITH tgt(lang, p) AS (VALUES {vals}),
counts AS (
  SELECT d.lang, t.p, count(*) AS n
  FROM documents d JOIN tgt t ON d.lang = t.lang
  GROUP BY d.lang, t.p
),
tot AS (SELECT min(CAST(n AS DOUBLE) / p) AS t FROM counts),
caps AS (
  SELECT lang, CAST(floor(p * t) AS BIGINT) AS cap FROM counts, tot
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {hb}, doc_id) AS rn
  FROM documents
)
SELECT r.doc_id, r.lang
FROM ranked r JOIN caps c ON r.lang = c.lang
WHERE r.rn <= c.cap"""


def _sql_corpus_upsert() -> str:
    norm = O.sql_norm_text("text")
    return f"""
WITH existing AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
),
incoming AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
inc AS (
  SELECT doc_id, text, md5({norm}) AS fingerprint FROM incoming
),
fresh AS (
  SELECT * FROM inc
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fingerprint)
),
seen AS (
  SELECT DISTINCT md5({norm}) AS fingerprint FROM existing
)
SELECT f.doc_id, f.fingerprint
FROM fresh f
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fingerprint = f.fingerprint)"""


def _sql_dsir_importance(n_buckets: int = 1024) -> str:
    """Twin of corpus.dsir_importance over the odd/even documents
    halves: identical md5 bucketing, identical dyadic log2
    (length(bin(greatest((x << 16) // y, 1))) - 17), identical add-1
    smoothing and factored corpus-size constant."""
    from yelp_streaming_etl_pipeline_spark.operators.sampling import (
        sql_hash_bucket,
    )

    wst = O.sql_ws_trim("lower(text)")
    bucket = sql_hash_bucket("g", n_buckets)
    s = 1 << 16

    def grams(side: str) -> str:
        return f"""{side}_grams AS (
  SELECT doc_id, {bucket} AS b FROM (
    SELECT doc_id,
           unnest(list_concat(words,
             [words[i] || ' ' || words[i + 1]
              FOR i IN generate_series(1, len(words) - 1)])) AS g
    FROM (
      SELECT doc_id, string_split_regex({wst}, '\\s+') AS words
      FROM {side}_docs
    )
  )
)"""

    return f"""
WITH t_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
r_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
{grams("t")},
{grams("r")},
ctab AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM t_grams GROUP BY b),
crab AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM r_grams GROUP BY b),
tot AS (
  SELECT (SELECT coalesce(CAST(sum(ct) AS BIGINT), 0) FROM ctab) AS tt,
         (SELECT coalesce(CAST(sum(cr) AS BIGINT), 0) FROM crab) AS rr
),
wts AS (
  SELECT crab.b,
         CAST(length(bin(greatest(
           ((coalesce(ctab.ct, 0) + 1) * {s}) // (crab.cr + 1), 1)))
           AS BIGINT) - 17 AS w
  FROM crab LEFT JOIN ctab ON crab.b = ctab.b
),
konst AS (
  SELECT CAST(length(bin(greatest(
           ((rr + {n_buckets}) * {s}) // (tt + {n_buckets}), 1)))
           AS BIGINT) - 17 AS cq
  FROM tot
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(w) AS BIGINT) AS sw
  FROM r_grams JOIN wts USING (b) GROUP BY doc_id
)
SELECT doc_id, n_grams,
       CAST(sw + n_grams * cq AS BIGINT) AS dsir_score
FROM agg CROSS JOIN konst"""


def q_dsir_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy importance-first token packing (operators/corpus.py
    dsir_budget_pack): even docs scored against the odd half are
    admitted in (dsir_score DESC, doc_id) order until an 8k-token
    budget is spent — DSIR selection under the budget a training mix
    actually holds. The exact prefix sum decomposes over monotone
    SCORE BINS (per-bin windows + a bounded bin-offset cumsum +
    broadcast), bit-identical to the twin's naive global window."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_budget_pack,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_budget_pack(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def _sql_dsir_budget_pack(token_budget: int = 8_000) -> str:
    """Twin of the dsir_budget_pack entry: the dsir twin as a
    MATERIALIZED scores CTE, the same regex token count, and the
    NAIVE global prefix sum over (dsir_score DESC, doc_id) — the
    engine's bin-decomposed form is bit-identical by the monotone-
    bucket argument (documented at the operator)."""
    tok = O.sql_bpe_token_count("text")
    return f"""
WITH dsir AS MATERIALIZED ({_sql_dsir_importance()}),
toks AS (
  SELECT doc_id, CAST({tok} AS BIGINT) AS tokens
  FROM documents WHERE doc_id % 2 = 0
),
j AS (
  SELECT d.doc_id, d.dsir_score, t.tokens
  FROM dsir d JOIN toks t USING (doc_id)
),
cum AS (
  SELECT doc_id, dsir_score, tokens,
         sum(tokens) OVER (ORDER BY dsir_score DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM j
)
SELECT doc_id, dsir_score, tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       (cum_tokens - tokens < {token_budget}) AS kept
FROM cum"""


def q_dsir_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR -> mixture composition (operators/corpus.py
    dsir_quota_sample): even docs scored for target-likeness against
    the odd half, the tightest cut keeping at least half the corpus
    from the TOP derived over the min-shifted bounded bin table, a
    24-doc budget re-allocated across sources by largest remainder
    over the post-cut counts, and each source's quota drawn by
    deterministic md5 bottom-k. The importance-weighted counterpart
    of quality_quota_sample — chains score -> cut -> allocation ->
    draw, integer-exact."""
    from yelp_streaming_etl_pipeline_spark.operators.corpus import (
        dsir_quota_sample,
    )

    d = _t_cpu(spark, sf_dir, "documents")
    return dsir_quota_sample(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def _sql_dsir_quota_sample(
    budget: int = 24, step: int = 8, n_bins: int = 1024
) -> str:
    """Twin of the dsir_quota_sample entry: the dsir_importance twin
    as a MATERIALIZED scores CTE (it is read by the min-shift, the
    bin table, and the survivor filter — DuckDB inlines plain CTEs
    per reference), the keep-high threshold max(bin*step) with
    2 * top-down cumulative >= total, and the allocation/draw blocks
    mirroring _sql_quality_quota_sample exactly."""
    return f"""
WITH dsir AS MATERIALIZED ({_sql_dsir_importance()}),
mn AS (SELECT CAST(min(dsir_score) AS BIGINT) AS mn FROM dsir),
shifted AS (
  SELECT doc_id, dsir_score - mn AS s FROM dsir CROSS JOIN mn
),
binned AS (
  SELECT CAST(least({n_bins - 1}, s // {step}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM shifted GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM binned),
thr AS (
  SELECT CAST(max(bin * {step}) AS BIGINT) AS thr_shift,
         CAST(max(bin * {step}) + mn AS BIGINT) AS thr_score
  FROM (
    SELECT bin,
           sum(n) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
             AS cum
    FROM binned
  ) c CROSS JOIN tot CROSS JOIN mn
  WHERE 2 * c.cum >= t
  GROUP BY mn
),
lab AS (
  SELECT sh.doc_id, sh.s, d.source AS g
  FROM shifted sh JOIN documents d USING (doc_id)
),
staged AS (
  SELECT l.g, l.doc_id AS unit,
         md5(CAST(l.doc_id AS VARCHAR)) AS h, t.thr_score
  FROM lab l CROSS JOIN thr t
  WHERE l.s >= t.thr_shift AND l.doc_id IS NOT NULL
),
counts AS (
  SELECT g, CAST(count(*) AS BIGINT) AS w FROM staged GROUP BY g
),
wtot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM counts),
basealloc AS (
  SELECT g, ({budget} * w) // wtot AS base,
         ({budget} * w) % wtot AS rem
  FROM counts CROSS JOIN wtot
),
sb AS (SELECT CAST(sum(base) AS BIGINT) AS sbase FROM basealloc),
alloc AS (
  SELECT g,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, g)
                       <= {budget} - sbase
                     THEN 1 ELSE 0 END AS k_g
  FROM basealloc CROSS JOIN sb
),
ranked AS (
  SELECT g, unit, h, thr_score,
         row_number() OVER (PARTITION BY g ORDER BY h, unit) AS rn
  FROM staged
)
SELECT r.g, CAST(r.unit AS BIGINT) AS unit, r.thr_score,
       CAST(a.k_g AS BIGINT) AS k_g
FROM ranked r JOIN alloc a USING (g) WHERE r.rn <= a.k_g"""


def _sql_dsir_mixture_pack(token_budget: int = 8_000) -> str:
    """Twin of the dsir_mixture_pack entry: the dsir twin as a
    MATERIALIZED scores CTE, the same regex token count labeled with
    the source, largest-remainder allocation of the token budget
    over per-source token mass (the _sql_dsir_quota_sample
    allocation block with tokens as the weight), and the NAIVE
    per-source prefix sum over (dsir_score DESC, doc_id) — the
    engine's per-(source, bin) decomposed form is bit-identical by
    the monotone-bin argument (documented at the operator)."""
    tok = O.sql_bpe_token_count("text")
    return f"""
WITH dsir AS MATERIALIZED ({_sql_dsir_importance()}),
toks AS (
  SELECT doc_id, source AS g, CAST({tok} AS BIGINT) AS tokens
  FROM documents WHERE doc_id % 2 = 0
),
j AS (
  SELECT t.g, d.doc_id, d.dsir_score, t.tokens
  FROM dsir d JOIN toks t USING (doc_id)
),
counts AS (
  SELECT g, CAST(sum(tokens) AS BIGINT) AS w FROM j GROUP BY g
),
wtot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM counts),
basealloc AS (
  SELECT g, ({token_budget} * w) // wtot AS base,
         ({token_budget} * w) % wtot AS rem
  FROM counts CROSS JOIN wtot
),
sb AS (SELECT CAST(sum(base) AS BIGINT) AS sbase FROM basealloc),
alloc AS (
  SELECT g,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, g)
                       <= {token_budget} - sbase
                     THEN 1 ELSE 0 END AS budget_g
  FROM basealloc CROSS JOIN sb
),
cum AS (
  SELECT g, doc_id, dsir_score, tokens,
         sum(tokens) OVER (PARTITION BY g
                           ORDER BY dsir_score DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM j
)
SELECT c.g, c.doc_id, c.dsir_score, c.tokens,
       CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
       CAST(a.budget_g AS BIGINT) AS budget_g,
       (c.cum_tokens - c.tokens < a.budget_g) AS kept
FROM cum c JOIN alloc a USING (g)"""


def _sql_exspan_cov_ctes(L: int = 8, min_occ: int = 2) -> str:
    """Shared CTE chain corpus -> ... -> cov(doc_id, pos) for the
    exact-substring twins: identical tokenization (ws-trim + lower +
    split on \\s+), identical window hashing (md5 of the space-joined
    L-token window), duplicated iff >= min_occ occurrences."""
    wst = O.sql_ws_trim("lower(text)")
    gram = " || ' ' || ".join(f"words[i + {j}]" for j in range(L))
    return f"""corpus AS ({O.NEAR_DUP_CORPUS_SQL}),
base AS (
  SELECT doc_id, string_split_regex({wst}, '\\s+') AS words FROM corpus
),
sized AS (SELECT doc_id, words, len(words) AS nw FROM base),
wins AS (
  SELECT doc_id, i AS pos, md5({gram}) AS h
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(1, nw - {L - 1})) AS i
    FROM sized WHERE nw >= {L}
  )
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= {min_occ}),
cov AS (SELECT doc_id, pos FROM wins JOIN dup USING (h))"""


def _sql_exact_substring_spans(L: int = 8) -> str:
    """Twin of dedup.exact_substring_spans: same lag-based equal-
    length interval merge (new span iff pos - lag(pos) > L), same
    1-based positions; span_id cast from DuckDB's HUGEINT sum."""
    return f"""
WITH {_sql_exspan_cov_ctes(L)},
flg AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                > {L}
              THEN 1 ELSE 0 END AS ns
  FROM cov
),
sp AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flg
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       CAST(min(pos) AS BIGINT) AS start_pos,
       CAST(max(pos) + {L - 1} AS BIGINT) AS end_pos,
       CAST(max(pos) + {L - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM sp GROUP BY doc_id, span_id"""


def _sql_bpe_dtoks_ctes(n_merges: int = 4) -> str:
    """Shared CTE prefix corpus -> bpe -> dwpos -> dtoks -> sized for
    every BPE piece-sequence twin (exact-substring cov chain, CDC
    piece chunking): the BPE learner chain (O._sql_bpe_cte trained on
    the near-dup corpus CTE), each doc's alpha words replaced in
    order by their learned pieces (inner join — OOV words drop out
    identically in both engines). dtoks is MATERIALIZED: DuckDB
    inlines plain CTEs per reference and every consumer reads sized
    more than once."""
    wst = O.sql_ws_trim("lower(COALESCE(text, ''))")
    return f"""corpus AS ({O.NEAR_DUP_CORPUS_SQL}),
{O._sql_bpe_cte(n_merges, "char", "corpus")},
dwpos AS (
  SELECT doc_id, wpos, w FROM (
    SELECT doc_id, i AS wpos, ws[i] AS w
    FROM (
      SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i
      FROM (
        SELECT doc_id, string_split_regex({wst}, '\\s+') AS ws
        FROM corpus
      )
    )
  ) WHERE regexp_matches(w, '^[a-z]+$')
),
dtoks AS MATERIALIZED (
  SELECT d.doc_id, flatten(list(s.toks ORDER BY d.wpos)) AS toks
  FROM dwpos d JOIN vocab{n_merges} s USING (w)
  GROUP BY d.doc_id
),
sized AS (SELECT doc_id, toks, len(toks) AS nt FROM dtoks)"""


def _sql_exspan_bpe_cov_ctes(
    n_merges: int = 4, L: int = 8, min_occ: int = 2
) -> str:
    """Shared CTE chain corpus -> ... -> wins -> dup -> cov for the
    BPE token-space exact-substring twins: the shared piece-sequence
    prefix (_sql_bpe_dtoks_ctes), then length-L windows over the
    flattened piece sequence, duplicated iff >= min_occ occurrences.
    The window key is the space-joined piece window (Spark groups on
    xxhash64 of the same string — identical grouping, mechanism
    declared divergent). wins is MATERIALIZED: the removal twin
    reads it from several consumers."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(L))
    return f"""{_sql_bpe_dtoks_ctes(n_merges)},
wins AS MATERIALIZED (
  SELECT doc_id, i AS pos, {gram} AS wkey
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1, nt - {L - 1})) AS i
    FROM sized WHERE nt >= {L}
  )
),
dup AS (
  SELECT wkey FROM wins GROUP BY wkey HAVING count(*) >= {min_occ}
),
cov AS (SELECT doc_id, pos FROM wins JOIN dup USING (wkey))"""


def _sql_exact_substring_spans_bpe(
    n_merges: int = 4, L: int = 8, min_occ: int = 2
) -> str:
    """Twin of dedup.exact_substring_spans_bpe over the shared BPE
    cov chain (_sql_exspan_bpe_cov_ctes); the span merge is the same
    single-lag equal-length interval rule as the token twin."""
    return f"""
WITH {_sql_exspan_bpe_cov_ctes(n_merges, L, min_occ)},
flg AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                > {L}
              THEN 1 ELSE 0 END AS ns
  FROM cov
),
sp AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flg
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       CAST(min(pos) AS BIGINT) AS start_tok,
       CAST(max(pos) + {L - 1} AS BIGINT) AS end_tok,
       CAST(max(pos) + {L - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_windows
FROM sp GROUP BY doc_id, span_id"""


def _sql_exact_substring_removal_bpe(
    n_merges: int = 4, L: int = 8, min_occ: int = 2
) -> str:
    """Twin of dedup.exact_substring_removal_bpe over the shared BPE
    cov chain: covered starts expand to token positions, survivors
    via NOT EXISTS anti join over the per-piece stream, re-assembly
    with an ordered string_agg; md5('') when everything was
    duplicated. Docs with no in-vocab word emit nothing (dtoks is an
    inner join — mirrored on the engine side)."""
    return f"""
WITH {_sql_exspan_bpe_cov_ctes(n_merges, L, min_occ)},
covpos AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT doc_id,
           unnest(generate_series(pos, pos + {L - 1})) AS tpos
    FROM cov
  )
),
ptoks AS (
  SELECT doc_id, i AS tpos, toks[i] AS piece
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1, nt)) AS i
    FROM sized
  )
),
kept AS (
  SELECT t.doc_id, t.tpos, t.piece FROM ptoks t
  WHERE NOT EXISTS (
    SELECT 1 FROM covpos c
    WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos
  )
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(piece, ' ' ORDER BY tpos)) AS cleaned_hash
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id, CAST(s.nt AS BIGINT) AS n_tokens,
       CAST(s.nt - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.cleaned_hash, md5('')) AS cleaned_hash
FROM sized s LEFT JOIN reb r USING (doc_id)"""


def _sql_paragraph_dedup() -> str:
    """Twin of dedup.paragraph_dedup over the stitched-pages corpus:
    identical page construction (3 docs per page joined by blank
    lines, doc 0's text appended to even pages), identical normalized
    paragraph hash, identical keep-first (doc_id, pos) rank."""
    norm = (
        "md5(regexp_replace(lower("
        + O.sql_ws_trim("para")
        + "), '\\s+', ' ', 'g'))"
    )
    return f"""
WITH pages AS (
  SELECT doc_id // 3 AS page_id,
         string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
  FROM documents GROUP BY doc_id // 3
),
footer AS (SELECT text AS ftext FROM documents WHERE doc_id = 0),
corpus AS (
  SELECT page_id AS doc_id,
         CASE WHEN page_id % 2 = 0
              THEN text || chr(10) || chr(10) || ftext
              ELSE text END AS text
  FROM pages CROSS JOIN footer
),
paras AS (
  SELECT doc_id, pos, para, {norm} AS ph
  FROM (
    SELECT doc_id, i AS pos, ps[i] AS para
    FROM (
      SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i
      FROM (
        SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
        FROM corpus
      )
    )
  ) WHERE trim(para) <> ''
),
ranked AS (
  SELECT doc_id, pos, para, ph,
         row_number() OVER (PARTITION BY ph ORDER BY doc_id, pos) AS rn
  FROM paras
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(para, chr(10) || chr(10) ORDER BY pos))
           AS cleaned_hash
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
  FROM paras GROUP BY doc_id
)
SELECT b.doc_id, b.n_paras,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(b.n_paras - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(r.cleaned_hash, md5('')) AS cleaned_hash
FROM base b LEFT JOIN reb r USING (doc_id)"""


def _sql_blm_ws() -> str:
    """Normalized word-array expression over a column named text."""
    norm = O.sql_norm_text("text")
    return (
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split({norm}, ' ') END"
    )


def _sql_bigram_lm_core(sws_sql: str) -> str:
    """Shared CTE chain rws/sws/.../scores for the bigram-LM twins:
    identical normalization (lower + ws-collapse), identical dyadic
    weights q = bitlen(cb) - bitlen(cu), identical OOV floor
    -bitlen(TB); millibits division is (//) on non-negative operands,
    matching Spark's truncating div. ``sws_sql`` supplies the scored
    (doc_id, ws) set; the reference model is always the odd half."""
    ws = _sql_blm_ws()
    bg = """
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
    FROM {src} WHERE len(ws) >= 2
  )"""
    return f"""rws AS (
  SELECT doc_id, {ws} AS ws FROM documents WHERE doc_id % 2 = 1
),
sws AS ({sws_sql}),
rbg AS ({bg.format(src='rws')}),
sbg AS ({bg.format(src='sws')}),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
  FROM rbg GROUP BY w1, w2
),
uni AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM rbg GROUP BY w1),
wts AS (
  SELECT b.w1, b.w2,
         CAST(length(bin(b.cb)) - length(bin(u.cu)) AS BIGINT) AS q
  FROM big b JOIN uni u USING (w1)
),
tb AS (
  SELECT CAST(-length(bin(greatest(count(*), 1))) AS BIGINT) AS q_oov
  FROM rbg
),
j AS (
  SELECT s.doc_id, coalesce(w.q, tb.q_oov) AS q, w.q AS q_raw
  FROM sbg s
  LEFT JOIN wts w ON s.w1 = w.w1 AND s.w2 = w.w2
  CROSS JOIN tb
),
scores AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CASE WHEN q_raw IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov,
         CAST(sum(q) AS BIGINT) AS lm_q_sum,
         CAST(((-CAST(sum(q) AS BIGINT)) * 1000)
              // CAST(count(*) AS BIGINT) AS BIGINT) AS mbits_per_bigram
  FROM j GROUP BY doc_id
)"""


def _sql_bigram_lm_scores() -> str:
    """Twin of corpus_quality.bigram_lm_scores over the even/odd
    documents split (see _sql_bigram_lm_core)."""
    sws = (
        f"SELECT doc_id, {_sql_blm_ws()} AS ws FROM documents "
        f"WHERE doc_id % 2 = 0"
    )
    return f"""
WITH {_sql_bigram_lm_core(sws)}
SELECT doc_id, n_bigrams, n_oov, lm_q_sum, mbits_per_bigram
FROM scores"""


def _sql_kn_bigram_scores() -> str:
    """Twin of corpus_quality.kn_bigram_scores over the odd/even
    documents split: identical normalization and bigram streams as
    the MLE twin, the KN stats derived from the distinct-bigram
    table (per-w1 totals+fanouts, per-w2 fanins, type count), the
    single-rational quantization with D = 3/4, and the exact
    floor(log2(num/den)) via bitlen((num << 16) // den) - 17
    saturating at 2^-16 — all on non-negative BIGINTs so // matches
    Spark's truncating div."""
    ws = _sql_blm_ws()
    bg = """
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
    FROM {src} WHERE len(ws) >= 2
  )"""
    return f"""
WITH rws AS (
  SELECT doc_id, {ws} AS ws FROM documents WHERE doc_id % 2 = 1
),
sws AS (
  SELECT doc_id, {ws} AS ws FROM documents WHERE doc_id % 2 = 0
),
rbg AS ({bg.format(src='rws')}),
sbg AS ({bg.format(src='sws')}),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
  FROM rbg GROUP BY w1, w2
),
uni AS (
  SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
         CAST(count(*) AS BIGINT) AS n1l
  FROM big GROUP BY w1
),
cont AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM big GROUP BY w2
),
types AS (
  SELECT greatest(CAST(count(*) AS BIGINT), 1) AS nbt FROM big
),
j AS (
  SELECT s.doc_id,
         CAST(CASE WHEN u.cu IS NOT NULL THEN
           greatest(4 * coalesce(b.cb, 0) - 3, 0) * t.nbt
             + 3 * u.n1l * coalesce(c.n1r, 0)
         ELSE coalesce(c.n1r, 0) END AS BIGINT) AS num,
         CAST(CASE WHEN u.cu IS NOT NULL THEN 4 * u.cu * t.nbt
         ELSE t.nbt END AS BIGINT) AS den,
         CASE WHEN b.cb IS NULL THEN 1 ELSE 0 END AS oov
  FROM sbg s
  LEFT JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN uni u ON s.w1 = u.w1
  LEFT JOIN cont c ON s.w2 = c.w2
  CROSS JOIN types t
),
qt AS (
  SELECT doc_id,
         CAST(length(bin(greatest((num * 65536) // den, 1)))
              AS BIGINT) - 17 AS q,
         oov
  FROM j
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST(sum(q) AS BIGINT) AS kn_q_sum,
       CAST(((-CAST(sum(q) AS BIGINT)) * 1000)
            // CAST(count(*) AS BIGINT) AS BIGINT) AS mbits_per_bigram
FROM qt GROUP BY doc_id"""


def _sql_lm_filter_mix_shift(step: int = 8, n_bins: int = 1024) -> str:
    """Twin of the lm_filter_mix_shift entry: the batch bigram-LM
    scores of the even docs join back to documents for the source,
    then a source-PARTITIONED cumulative count over the bounded bin
    table mirrors corpus_quality.quality_cut_mix_shift exactly."""
    sws = (
        f"SELECT doc_id, {_sql_blm_ws()} AS ws FROM documents "
        f"WHERE doc_id % 2 = 0"
    )
    kf = O.sql_stable_round(
        "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)", 6
    )
    return f"""
WITH {_sql_bigram_lm_core(sws)},
lab AS (
  SELECT d.source AS g, s.mbits_per_bigram AS sc
  FROM scores s JOIN documents d USING (doc_id)
),
binned AS (
  SELECT g, CAST(least({n_bins - 1}, sc // {step}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM lab GROUP BY 1, 2
),
tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS n_docs FROM binned GROUP BY g),
swp AS (
  SELECT b.g, CAST((b.bin + 1) * {step} AS BIGINT) AS thr_score,
         t.n_docs,
         CAST(sum(b.n) OVER (PARTITION BY b.g ORDER BY b.bin
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS n_kept
  FROM binned b JOIN tot t USING (g)
)
SELECT g AS source, thr_score, n_docs, n_kept, {kf} AS keep_frac
FROM swp"""


def _sql_quality_quota_sample(
    budget: int = 24, step: int = 8, n_bins: int = 1024
) -> str:
    """Twin of the quality_quota_sample entry: the batch bigram-LM
    scores join back for the source, the data-derived threshold is
    min((bin+1)*step) with 2*cum >= total over the clamped bin table,
    survivors re-count per source, the largest-remainder allocation
    mirrors _sql_stratified_budget_sample's idiom exactly (rem DESC,
    g tie order), and the draw is the shared md5 (h, unit) rank."""
    sws = (
        f"SELECT doc_id, {_sql_blm_ws()} AS ws FROM documents "
        f"WHERE doc_id % 2 = 0"
    )
    return f"""
WITH {_sql_bigram_lm_core(sws)},
lab AS (
  SELECT s.doc_id, s.mbits_per_bigram AS sc, d.source AS g
  FROM scores s JOIN documents d USING (doc_id)
),
binned AS (
  SELECT CAST(least({n_bins - 1}, sc // {step}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n
  FROM lab GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM binned),
thr AS (
  SELECT CAST(min((bin + 1) * {step}) AS BIGINT) AS thr_score
  FROM (
    SELECT bin,
           sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
    FROM binned
  ) c CROSS JOIN tot
  WHERE 2 * c.cum >= t
),
staged AS (
  SELECT l.g, l.doc_id AS unit,
         md5(CAST(l.doc_id AS VARCHAR)) AS h, t.thr_score
  FROM lab l CROSS JOIN thr t
  WHERE l.sc < t.thr_score AND l.doc_id IS NOT NULL
),
counts AS (
  SELECT g, CAST(count(*) AS BIGINT) AS w FROM staged GROUP BY g
),
wtot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM counts),
basealloc AS (
  SELECT g, ({budget} * w) // wtot AS base,
         ({budget} * w) % wtot AS rem
  FROM counts CROSS JOIN wtot
),
sb AS (SELECT CAST(sum(base) AS BIGINT) AS sbase FROM basealloc),
alloc AS (
  SELECT g,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, g)
                       <= {budget} - sbase
                     THEN 1 ELSE 0 END AS k_g
  FROM basealloc CROSS JOIN sb
),
ranked AS (
  SELECT g, unit, h, thr_score,
         row_number() OVER (PARTITION BY g ORDER BY h, unit) AS rn
  FROM staged
)
SELECT r.g, CAST(r.unit AS BIGINT) AS unit, r.thr_score,
       CAST(a.k_g AS BIGINT) AS k_g
FROM ranked r JOIN alloc a USING (g) WHERE r.rn <= a.k_g"""


def _sql_lm_filter_roc(step: int = 8, n_bins: int = 1024) -> str:
    """Twin of the lm_filter_roc entry: the scored set is the even
    docs plus a word-REVERSED copy of each (id + 10M — bigram-OOV
    garbage the LM must flag); per 8-millibit threshold the confusion
    counts of 'flag BAD iff mbits >= thr' sweep out of one bounded
    bin table, mirroring corpus_quality.score_roc_table — including
    its documented clamping caveat: the final row (thr = n_bins*step)
    under-counts tp when scores overflow the bin range, identically
    in both engines (see the operator docstring, ADVICE r8)."""
    ws = _sql_blm_ws()
    sws = f"""
  SELECT doc_id, ws FROM (
    SELECT doc_id, {ws} AS ws FROM documents WHERE doc_id % 2 = 0
  )
  UNION ALL
  SELECT doc_id + 10000000, list_transform(ws, x -> reverse(x)) AS ws
  FROM (
    SELECT doc_id, {ws} AS ws FROM documents WHERE doc_id % 2 = 0
  )"""
    prec = O.sql_stable_round(
        "CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)", 6
    )
    rec = O.sql_stable_round("CAST(tp AS DOUBLE) / CAST(pp AS DOUBLE)", 6)
    f1 = O.sql_stable_round(
        "CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + (pp - tp) AS DOUBLE)",
        6,
    )
    return f"""
WITH {_sql_bigram_lm_core(sws)},
lab AS (
  SELECT mbits_per_bigram AS s, doc_id >= 10000000 AS y FROM scores
),
binned AS (
  SELECT CAST(least({n_bins - 1}, s // {step}) AS BIGINT) AS bin,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM lab GROUP BY 1
),
tot AS (
  SELECT CAST(coalesce(sum(n_pos), 0) AS BIGINT) AS pp,
         CAST(coalesce(sum(n_neg), 0) AS BIGINT) AS nn
  FROM binned
),
swp AS (
  SELECT CAST((bin + 1) * {step} AS BIGINT) AS thr_score,
         CAST(coalesce(sum(n_pos) OVER (
           ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS tp,
         CAST(coalesce(sum(n_neg) OVER (
           ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS fp
  FROM binned
)
SELECT thr_score, tp, fp,
       CAST(pp - tp AS BIGINT) AS fn,
       CAST(nn - fp AS BIGINT) AS tn,
       CASE WHEN tp + fp > 0 THEN {prec} END AS precision,
       CASE WHEN pp > 0 THEN {rec} END AS recall,
       CASE WHEN 2 * tp + fp + (pp - tp) > 0 THEN {f1} END AS f1
FROM swp CROSS JOIN tot"""


def _sql_exspan_bytes_cov_ctes(L: int = 32, min_occ: int = 2) -> str:
    """Shared CTE chain corpus -> b -> wins -> dup -> cov for the
    byte-level exact-substring twins: windows are keyed by the hex
    image of the L raw UTF-8 bytes at each 1-based byte offset
    (substr over the ASCII hex string at 2i-1, length 2L — the same
    byte<->hex-pair map the BPE byte twins pin), duplicated iff
    >= min_occ occurrences. Spark keys on a numpy Horner polynomial
    rolling hash of the raw byte window (mapInPandas, wraparound mod
    2^64 — dedup._byte_window_hash_table) instead of its hex image —
    an internal mechanism divergence with identical grouping up to
    the declared ~n^2/2^65 hash-collision odds (a false duplicate
    marking at ~1e-9 rate, noise for a dedup filter)."""
    return f"""corpus AS ({O.NEAR_DUP_CORPUS_SQL}),
b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM corpus
),
wins AS (
  SELECT doc_id, i AS pos, substr(hx, 2 * i - 1, {2 * L}) AS wkey
  FROM (
    SELECT doc_id, hx,
           unnest(generate_series(1, nb - {L - 1})) AS i
    FROM b WHERE nb >= {L}
  )
),
dup AS (
  SELECT wkey FROM wins GROUP BY wkey HAVING count(*) >= {min_occ}
),
cov AS (SELECT doc_id, pos FROM wins JOIN dup USING (wkey))"""


def _sql_exact_substring_spans_bytes(L: int = 32, min_occ: int = 2) -> str:
    """Twin of dedup.exact_substring_spans_bytes over the shared byte
    cov chain; the span merge is the same single-lag equal-length
    interval rule as the token twin."""
    return f"""
WITH {_sql_exspan_bytes_cov_ctes(L, min_occ)},
flg AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                IS NULL
              OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                > {L}
              THEN 1 ELSE 0 END AS ns
  FROM cov
),
sp AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flg
)
SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       CAST(min(pos) AS BIGINT) AS start_byte,
       CAST(max(pos) + {L - 1} AS BIGINT) AS end_byte,
       CAST(max(pos) + {L - 1} - min(pos) + 1 AS BIGINT) AS span_bytes,
       CAST(count(*) AS BIGINT) AS n_windows
FROM sp GROUP BY doc_id, span_id"""


def _sql_exact_substring_removal_bytes(L: int = 32, min_occ: int = 2) -> str:
    """Twin of dedup.exact_substring_removal_bytes: covered starts
    expand to byte positions, survivors via NOT EXISTS over the
    per-byte hex-pair table, re-assembly with an ordered string_agg
    over hex pairs (Spark and DuckDB share the uppercase-hex byte
    map); md5('') when everything was duplicated or the text is
    empty."""
    return f"""
WITH {_sql_exspan_bytes_cov_ctes(L, min_occ)},
covpos AS (
  SELECT DISTINCT doc_id, bpos FROM (
    SELECT doc_id,
           unnest(generate_series(pos, pos + {L - 1})) AS bpos
    FROM cov
  )
),
bts AS (
  SELECT doc_id, i AS bpos, substr(hx, 2 * i - 1, 2) AS hp
  FROM (
    SELECT doc_id, hx, unnest(generate_series(1, nb)) AS i
    FROM b WHERE nb >= 1
  )
),
kept AS (
  SELECT t.doc_id, t.bpos, t.hp FROM bts t
  WHERE NOT EXISTS (
    SELECT 1 FROM covpos c
    WHERE c.doc_id = t.doc_id AND c.bpos = t.bpos
  )
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(hp, '' ORDER BY bpos)) AS cleaned_hash
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id, CAST(s.nb AS BIGINT) AS n_bytes,
       CAST(s.nb - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.cleaned_hash, md5('')) AS cleaned_hash
FROM b s LEFT JOIN reb r USING (doc_id)"""


def _sql_exact_substring_removal(L: int = 8) -> str:
    """Twin of dedup.exact_substring_removal: covered starts expand
    to token positions, survivors via NOT EXISTS anti join,
    re-assembly with an ordered string_agg; md5('') when everything
    was duplicated."""
    return f"""
WITH {_sql_exspan_cov_ctes(L)},
covpos AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT doc_id,
           unnest(generate_series(pos, pos + {L - 1})) AS tpos
    FROM cov
  )
),
toks AS (
  SELECT doc_id, i AS tpos, words[i] AS token
  FROM (
    SELECT doc_id, words,
           unnest(generate_series(1, nw)) AS i
    FROM sized
  )
),
kept AS (
  SELECT t.doc_id, t.tpos, t.token FROM toks t
  WHERE NOT EXISTS (
    SELECT 1 FROM covpos c
    WHERE c.doc_id = t.doc_id AND c.tpos = t.tpos
  )
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(token, ' ' ORDER BY tpos)) AS cleaned_hash
  FROM kept GROUP BY doc_id
)
SELECT s.doc_id, CAST(s.nw AS BIGINT) AS n_tokens,
       CAST(s.nw - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(r.cleaned_hash, md5('')) AS cleaned_hash
FROM sized s LEFT JOIN reb r USING (doc_id)"""


def _sql_duplicated_passages() -> str:
    """Twin of dedup.duplicated_passages over the near-dup corpus."""
    norm = O.sql_norm_text("text")
    return f"""
WITH corpus AS ({O.NEAR_DUP_CORPUS_SQL}),
nrm AS (
  SELECT doc_id, {norm} AS s FROM corpus
),
st AS (
  SELECT doc_id, s,
    -- list_sort: DuckDB's list_distinct does NOT preserve order, and
    -- slicing below needs ascending starts (Spark's array_distinct
    -- keeps first-occurrence order, already ascending)
    list_sort(list_distinct(list_prepend(1,
      CASE WHEN len(s) >= 9 THEN
        [CAST(i AS INTEGER) FOR i IN
           generate_series(2, greatest(2, len(s) - 7))
         IF ((('0x' || substr(md5(substr(s, CAST(i AS INTEGER), 8)), 1, 8))::BIGINT % 64) = 0)]
      ELSE [] END))) AS starts
  FROM nrm
),
ch AS (
  SELECT doc_id,
         unnest([substr(s, starts[k],
                        coalesce(starts[k + 1], len(s) + 1) - starts[k])
                 FOR k IN generate_series(1, len(starts))]) AS chunk
  FROM st
)
SELECT md5(chunk) AS chunk_hash,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences,
       min(len(chunk)) AS chunk_len,
       min(doc_id) AS example_doc_id
FROM ch
WHERE len(chunk) >= 16
GROUP BY 1
HAVING count(*) >= 2"""


def _sql_table_stats_profile() -> str:
    """Twin of q_table_stats_profile: per-column scalar aggregates
    (UNION ALL) + the grouped-HLL ndv over melted canonical strings,
    reusing oracles' register/rho/estimate machinery verbatim."""
    from yelp_streaming_etl_pipeline_spark.operators.sketches import (
        HLL_BUCKETS, _linear_counting_lut,
    )

    m = HLL_BUCKETS
    scale = (0.7213 / (1.0 + 1.079 / m)) * m * m
    raw = (
        f"(CAST({scale!r} AS DOUBLE) / "
        f"(sum(pow(2.0, -max_rho)) + ({m} - count(*))))"
    )
    v = f"CAST({m} - count(*) AS INTEGER)"
    lut = "[" + ", ".join(f"{x!r}" for x in _linear_counting_lut()) + "]"
    est = (
        f"CASE WHEN {raw} <= {2.5 * m!r} AND {v} > 0 "
        f"THEN ({lut})[{v}] ELSE {raw} END"
    )
    canon = {
        "l_orderkey": "CAST(l_orderkey AS VARCHAR)",
        "l_suppkey": "CAST(l_suppkey AS VARCHAR)",
        "l_returnflag": "CAST(l_returnflag AS VARCHAR)",
        "l_shipdate": "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')",
        "l_quantity": (
            f"CAST(CAST({SR('l_quantity', 2)} AS DECIMAL(18,2)) AS VARCHAR)"
        ),
    }

    def canon_of(name: str, expr: str) -> str:
        return canon[name].replace(name, expr) if name != "l_returnflag" \
            else f"CAST({expr} AS VARCHAR)"

    base_parts = []
    val_parts = []
    for name, c in canon.items():
        mn = canon_of(name, f"min({name})")
        mx = canon_of(name, f"max({name})")
        base_parts.append(
            f"SELECT '{name}' AS col_name, count(*) AS n_rows,\n"
            f"  CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_nulls,\n"
            f"  {mn} AS min_val, {mx} AS max_val FROM lineitem"
        )
        val_parts.append(
            f"SELECT '{name}' AS g, {c} AS v FROM lineitem"
        )
    base_sql = "\n  UNION ALL ".join(base_parts)
    vals_sql = "\n  UNION ALL ".join(val_parts)
    return f"""
WITH base AS (
  {base_sql}
),
vals AS (
  {vals_sql}
),
h AS (
  SELECT g, md5(v) AS h FROM vals WHERE v IS NOT NULL
),
parts AS (
  SELECT g, ('0x' || substr(h, 1, 2))::INTEGER AS bucket,
         regexp_replace(substr(h, 3, 6), '^0+', '') AS stripped
  FROM h
),
regs AS (
  SELECT g, bucket, max(CAST({O._HLL_RHO_CASE} AS INTEGER)) AS max_rho
  FROM parts GROUP BY g, bucket
),
ndv AS (
  SELECT g, {SR(est, 2)} AS ndv_est FROM regs GROUP BY g
)
SELECT base.col_name, base.n_rows, base.n_nulls,
       base.min_val, base.max_val,
       coalesce(ndv.ndv_est, 0.0) AS ndv_est
FROM base LEFT JOIN ndv ON ndv.g = base.col_name"""


def _sql_table_stats_deep(k: int = 5) -> str:
    """Twin of q_table_stats_deep: the base profile CTEs plus the
    collapsed per-value counts table feeding weighted HDR quantile
    registers (sum(cnt) per bucket == raw count(*)) and the exact
    top-k heavy hitters (count DESC, value ASC; string_agg in rank
    order)."""
    from yelp_streaming_etl_pipeline_spark.operators.sketches import (
        HLL_BUCKETS, _linear_counting_lut,
    )

    m = HLL_BUCKETS
    scale = (0.7213 / (1.0 + 1.079 / m)) * m * m
    raw = (
        f"(CAST({scale!r} AS DOUBLE) / "
        f"(sum(pow(2.0, -max_rho)) + ({m} - count(*))))"
    )
    v = f"CAST({m} - count(*) AS INTEGER)"
    lut = "[" + ", ".join(f"{x!r}" for x in _linear_counting_lut()) + "]"
    est = (
        f"CASE WHEN {raw} <= {2.5 * m!r} AND {v} > 0 "
        f"THEN ({lut})[{v}] ELSE {raw} END"
    )
    canon = {
        "l_orderkey": "CAST(l_orderkey AS VARCHAR)",
        "l_suppkey": "CAST(l_suppkey AS VARCHAR)",
        "l_returnflag": "CAST(l_returnflag AS VARCHAR)",
        "l_shipdate": "strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')",
        "l_quantity": (
            f"CAST(CAST({SR('l_quantity', 2)} AS DECIMAL(18,2)) AS VARCHAR)"
        ),
    }
    num = {
        "l_orderkey": "CAST(floor(l_orderkey * 1000.0 + 0.5) AS BIGINT)",
        "l_suppkey": "CAST(floor(l_suppkey * 1000.0 + 0.5) AS BIGINT)",
        "l_quantity": "CAST(floor(l_quantity * 1000.0 + 0.5) AS BIGINT)",
    }

    def canon_of(name: str, expr: str) -> str:
        return canon[name].replace(name, expr) if name != "l_returnflag" \
            else f"CAST({expr} AS VARCHAR)"

    base_parts = []
    val_parts = []
    for name, c in canon.items():
        mn = canon_of(name, f"min({name})")
        mx = canon_of(name, f"max({name})")
        base_parts.append(
            f"SELECT '{name}' AS col_name, count(*) AS n_rows,\n"
            f"  CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_nulls,\n"
            f"  {mn} AS min_val, {mx} AS max_val FROM lineitem"
        )
        nexpr = num.get(name, "CAST(NULL AS BIGINT)")
        val_parts.append(
            f"SELECT '{name}' AS g, {c} AS v, {nexpr} AS num FROM lineitem"
        )
    base_sql = "\n  UNION ALL ".join(base_parts)
    vals_sql = "\n  UNION ALL ".join(val_parts)
    return f"""
WITH base AS (
  {base_sql}
),
vals AS (
  {vals_sql}
),
counts AS (
  SELECT g, v, num, CAST(count(*) AS BIGINT) AS cnt
  FROM vals WHERE v IS NOT NULL GROUP BY g, v, num
),
h AS (
  SELECT g, md5(v) AS h FROM counts
),
parts AS (
  SELECT g, ('0x' || substr(h, 1, 2))::INTEGER AS bucket,
         regexp_replace(substr(h, 3, 6), '^0+', '') AS stripped
  FROM h
),
regs AS (
  SELECT g, bucket, max(CAST({O._HLL_RHO_CASE} AS INTEGER)) AS max_rho
  FROM parts GROUP BY g, bucket
),
ndv AS (
  SELECT g, {SR(est, 2)} AS ndv_est FROM regs GROUP BY g
),
qv AS (
  SELECT g, num AS q, cnt FROM counts WHERE num IS NOT NULL
),
st AS (
  SELECT g, q, cnt, greatest(length(bin(q)) - 1 - 6, 0) AS s FROM qv
),
bk AS (
  SELECT g, CAST(s * 64 + (q >> s) AS BIGINT) AS bucket,
         CAST((q >> s) << s AS BIGINT) AS lb,
         CAST(1::BIGINT << s AS BIGINT) AS width,
         cnt
  FROM st
),
qregs AS (
  SELECT g, bucket, CAST(min(lb) AS BIGINT) AS lb_q,
         CAST(min(width) AS BIGINT) AS width_q,
         CAST(sum(cnt) AS BIGINT) AS n
  FROM bk GROUP BY g, bucket
),
tot AS (SELECT g, CAST(sum(n) AS BIGINT) AS total FROM qregs GROUP BY g),
cum AS (
  SELECT g, bucket, lb_q, width_q,
         CAST(sum(n) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT)
           AS cum_n
  FROM qregs
),
ps AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS p),
tgt AS (
  SELECT g, p, CAST(ceil(p * CAST(total AS DOUBLE)) AS BIGINT) AS rnk
  FROM tot CROSS JOIN ps
),
hit AS (
  SELECT t.g, t.p, min(c.bucket) AS bucket
  FROM tgt t JOIN cum c ON t.g = c.g AND c.cum_n >= t.rnk
  GROUP BY t.g, t.p
),
quants AS (
  SELECT h.g, h.p,
         CAST(c.lb_q + (c.width_q - 1) // 2 AS DOUBLE) / 1000.0 AS est
  FROM hit h JOIN cum c ON h.g = c.g AND h.bucket = c.bucket
),
qp AS (
  SELECT g,
         max(CASE WHEN p = 0.25 THEN est END) AS p25,
         max(CASE WHEN p = 0.5 THEN est END) AS p50,
         max(CASE WHEN p = 0.75 THEN est END) AS p75
  FROM quants GROUP BY g
),
vc AS (
  SELECT g, v, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM counts GROUP BY g, v
),
rk AS (
  SELECT g, v, cnt, row_number() OVER
    (PARTITION BY g ORDER BY cnt DESC, v ASC) AS rnk
  FROM vc
),
tk AS (
  SELECT g, string_agg(v || ':' || CAST(cnt AS VARCHAR), '|'
                       ORDER BY rnk) AS topk
  FROM rk WHERE rnk <= {k} GROUP BY g
)
SELECT base.col_name, base.n_rows, base.n_nulls,
       base.min_val, base.max_val,
       coalesce(ndv.ndv_est, 0.0) AS ndv_est,
       qp.p25, qp.p50, qp.p75, tk.topk
FROM base
LEFT JOIN ndv ON ndv.g = base.col_name
LEFT JOIN qp ON qp.g = base.col_name
LEFT JOIN tk ON tk.g = base.col_name"""


def _sql_cusum_changepoints(slack_q: int = 500, h_q: int = 5000) -> str:
    """Twin of cusum_changepoints: identical quantization, floor-div
    mean, and integer fold. DuckDB's list_reduce seeds with the FIRST
    element — whose state fields are zeros and whose value is never
    applied — exactly the Spark side's declared fold-from-second
    semantics.

    FIELD-ORDER CONSTRAINT (verified against duckdb 1.0): from the
    second lambda application on, list_reduce evaluates the result
    struct's fields IN ORDER with the accumulator mutated in place —
    a later field reading acc.cp sees the cp just written this step
    (the first application snapshots, later ones do not). The struct
    is therefore ordered so every field reads only acc fields not yet
    written this step (al/mcp/mcn read pre-update cp/cn; cp/cn write
    last) — an ordering that is ALSO correct under pure snapshot
    semantics, so the twin does not depend on the quirk."""
    q = "CAST(" + SQZ("value", 3) + " AS BIGINT)"
    elem = (
        "{'al': CAST(0 AS BIGINT), 'mcp': CAST(0 AS BIGINT), "
        "'mcn': CAST(0 AS BIGINT), 'cp': CAST(0 AS BIGINT), "
        "'cn': CAST(0 AS BIGINT), 'q': q}"
    )
    cp_raw = f"greatest(0, acc.cp + x.q - mu - {slack_q})"
    cn_raw = f"greatest(0, acc.cn + (mu - x.q) - {slack_q})"
    step = (
        "{"
        f"'al': acc.al + (CASE WHEN {cp_raw} >= {h_q} THEN 1 ELSE 0 END)"
        f" + (CASE WHEN {cn_raw} >= {h_q} THEN 1 ELSE 0 END), "
        f"'mcp': greatest(acc.mcp, {cp_raw}), "
        f"'mcn': greatest(acc.mcn, {cn_raw}), "
        f"'cp': CASE WHEN {cp_raw} >= {h_q} THEN 0 ELSE {cp_raw} END, "
        f"'cn': CASE WHEN {cn_raw} >= {h_q} THEN 0 ELSE {cn_raw} END, "
        "'q': x.q}"
    )
    return f"""
WITH qd AS (
  SELECT user_id, ts, event_id, {q} AS q FROM events
),
g AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(q) AS BIGINT) // count(*) AS mu,
         list({elem} ORDER BY ts, event_id) AS l
  FROM qd GROUP BY user_id
),
f AS (
  SELECT user_id, n_events,
         list_reduce(l, (acc, x) -> {step}) AS st
  FROM g
)
SELECT user_id, n_events,
       CAST(st.al AS BIGINT) AS n_alarms,
       CAST(st.mcp AS BIGINT) AS max_cusum_pos,
       CAST(st.mcn AS BIGINT) AS max_cusum_neg
FROM f"""


def _sql_payload_chunk_manifest(n: int = 256, cb: int = 96) -> str:
    """Twin of payload_chunk_manifest over the synthetic media
    arithmetic (payload = sha256 digest repeated 4 + i%7 times).
    DuckDB lacks BLOB substring, so the twin slices the LOWERCASE-HEX
    encoding at 2 chars/byte — byte offsets align exactly with
    Spark's native binary slicing."""
    hc = 2 * cb
    return f"""
WITH m AS (
  SELECT i AS media_id,
         repeat(unhex(sha256('media-' || CAST(i AS VARCHAR))), 4 + i % 7)
           AS payload
  FROM generate_series(0, {n - 1}) t(i)
),
hx AS (
  SELECT media_id, lower(hex(payload)) AS hp,
         octet_length(payload) AS len
  FROM m
),
idx AS (
  SELECT media_id, hp,
         unnest(generate_series(
           0, CAST(ceil(len / {cb}.0) AS BIGINT) - 1)) AS ci
  FROM hx
)
SELECT media_id,
       CAST(ci AS INTEGER) AS chunk_idx,
       CAST(ci * {cb} AS BIGINT) AS offset,
       CAST(length(substring(hp, CAST(ci * {hc} + 1 AS BIGINT), {hc})) / 2
            AS BIGINT) AS nbytes,
       sha256(substring(hp, CAST(ci * {hc} + 1 AS BIGINT), {hc}))
         AS chunk_sha
FROM idx"""


def _sql_events_resample_ffill(every_minutes: int = 60) -> str:
    """Twin of resample_ffill over events: identical epoch-integer
    slot floor (non-negative, so // == div), identical total order
    for last-observation-wins, per-key generate_series grid,
    last_value IGNORE NULLS forward fill."""
    step = every_minutes * 60 * 1_000_000
    return f"""
WITH obs AS (
  SELECT user_id,
         make_timestamp((epoch_us(ts) // {step}) * {step}) AS slot,
         ts, event_id, value
  FROM events
),
per_slot AS (
  SELECT user_id, slot, value AS v_last, n_obs FROM (
    SELECT *,
           row_number() OVER (PARTITION BY user_id, slot
                              ORDER BY ts DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY user_id, slot) AS n_obs
    FROM obs
  ) WHERE rn = 1
),
spans AS (
  SELECT user_id, min(slot) AS lo, max(slot) AS hi
  FROM per_slot GROUP BY user_id
),
grid AS (
  SELECT user_id,
         unnest(generate_series(lo, hi,
                                INTERVAL {every_minutes} MINUTE)) AS slot
  FROM spans
)
SELECT g.user_id, g.slot,
       last_value(p.v_last IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       CAST(coalesce(p.n_obs, 0) AS BIGINT) AS n_obs,
       (p.slot IS NULL) AS is_gap
FROM grid g LEFT JOIN per_slot p
  ON p.user_id = g.user_id AND p.slot = g.slot"""


def _sql_cdc_corpus_st_ctes() -> str:
    """Shared CTE prefix corpus -> nrm -> st(doc_id, s, starts) for
    the char-space CDC twins: the near-dup corpus plus
    insertion-shifted variants (splice at char 200, %13 ->
    +3_000_000, applied to the WHOLE near-dup union as Spark's
    with_insertion_shifted_dups does), normalized text, and the
    content-defined cut positions (md5 of the 8-gram at i, 0 mod
    64)."""
    norm = O.sql_norm_text("text")
    return f"""corpus0 AS ({O.NEAR_DUP_CORPUS_SQL}),
corpus AS (
  SELECT doc_id, text FROM corpus0
  UNION ALL
  SELECT doc_id + 3000000,
         substr(text, 1, 200)
           || ' xq inserted snippet shifts everything after it '
           || substr(text, 201)
  FROM corpus0 WHERE doc_id % 13 = 0
),
nrm AS (
  SELECT doc_id, {norm} AS s FROM corpus
),
st AS (
  SELECT doc_id, s,
    list_sort(list_distinct(list_prepend(1,
      CASE WHEN len(s) >= 9 THEN
        [CAST(i AS INTEGER) FOR i IN
           generate_series(2, greatest(2, len(s) - 7))
         IF ((('0x' || substr(md5(substr(s, CAST(i AS INTEGER), 8)), 1, 8))::BIGINT % 64) = 0)]
      ELSE [] END))) AS starts
  FROM nrm
)"""


def _sql_cdc_chunk_pairs() -> str:
    """Twin of dedup.cdc_chunk_pairs over the shared spliced-corpus
    chunker prefix (_sql_cdc_corpus_st_ctes); df cap 64, min shared
    2, shared pair tail."""
    return f"""
WITH {_sql_cdc_corpus_st_ctes()},
ch AS (
  SELECT doc_id,
         unnest([substr(s, starts[k],
                        coalesce(starts[k + 1], len(s) + 1) - starts[k])
                 FOR k IN generate_series(1, len(starts))]) AS chunk
  FROM st
),
sets AS (
  SELECT DISTINCT doc_id, md5(chunk) AS chunk_hash
  FROM ch WHERE len(chunk) >= 16
),
{_sql_chunk_pair_tail()}"""


def _sql_cdc_chunk_dedup() -> str:
    """Twin of dedup.cdc_chunk_dedup over the same spliced corpus:
    positioned chunks (NO min-length filter — chunks tile the doc),
    keep-first rank over (doc_id, pos) per content hash, ordered
    string_agg reassembly; md5('') when everything was duplicated."""
    return f"""
WITH {_sql_cdc_corpus_st_ctes()},
ch AS (
  SELECT doc_id, CAST(k AS BIGINT) AS pos,
         substr(s, starts[CAST(k AS INTEGER)],
                coalesce(starts[CAST(k AS INTEGER) + 1], len(s) + 1)
                  - starts[CAST(k AS INTEGER)]) AS chunk
  FROM (
    SELECT doc_id, s, starts,
           unnest(generate_series(1, len(starts))) AS k
    FROM st
  )
),
chh AS (
  SELECT doc_id, pos, chunk, md5(chunk) AS ch
  FROM ch WHERE len(chunk) > 0
),
kept AS (
  SELECT doc_id, pos, chunk FROM (
    SELECT *, row_number() OVER (PARTITION BY ch
                                 ORDER BY doc_id, pos) AS rn
    FROM chh
  ) WHERE rn = 1
),
reb AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(chunk, '' ORDER BY pos)) AS cleaned_hash
  FROM kept GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
  FROM chh GROUP BY doc_id
)
SELECT b.doc_id, b.n_chunks,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(b.n_chunks - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(r.cleaned_hash, md5('')) AS cleaned_hash
FROM base b LEFT JOIN reb r USING (doc_id)"""


def _sql_chunk_pair_tail(max_df: int = 64, min_shared: int = 2) -> str:
    """The df-cap + pair-join + jaccard tail shared by the char- and
    BPE-piece-space CDC twins, over a prepared ``sets(doc_id,
    chunk_hash)`` CTE — the twin of dedup._pairs_from_chunk_sets."""
    return f"""dfc AS (
  SELECT chunk_hash FROM sets GROUP BY chunk_hash
  HAVING count(*) <= {max_df}
),
kept AS (
  SELECT s.doc_id, s.chunk_hash FROM sets s JOIN dfc USING (chunk_hash)
),
sizes AS (
  SELECT doc_id, count(*) AS n_chunks FROM kept GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM kept a JOIN kept b
    ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_chunks,
       {SR('CAST(shared AS DOUBLE) / (sa.n_chunks + sb.n_chunks - shared)', 6)}
         AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = pairs.doc_a
JOIN sizes sb ON sb.doc_id = pairs.doc_b"""


def _sql_cdc_chunk_pairs_bpe(
    n_merges: int = 4,
    gram: int = 4,
    mod: int = 32,
    min_len: int = 16,
) -> str:
    """Twin of dedup.cdc_chunk_pairs_bpe over the near-dup corpus:
    the shared BPE piece-sequence prefix (_sql_bpe_dtoks_ctes — same
    tokenization as the exact-substring BPE twins), content-defined
    boundaries where the rolling md5 of the space-joined
    ``gram``-piece window hits 0 mod ``mod`` (the char twin's cut
    rule lifted to pieces), chunks shorter than ``min_len`` pieces
    dropped inside the comprehension, then the shared pair tail."""
    win = " || ' ' || ".join(
        f"toks[CAST(i AS INTEGER) + {j}]" for j in range(gram)
    )
    return f"""
WITH {_sql_bpe_dtoks_ctes(n_merges)},
st AS (
  SELECT doc_id, toks, nt,
    list_sort(list_distinct(list_prepend(1,
      CASE WHEN nt >= {gram + 1} THEN
        [CAST(i AS INTEGER) FOR i IN
           generate_series(2, greatest(2, nt - {gram - 1}))
         IF ((('0x' || substr(md5({win}), 1, 8))::BIGINT % {mod}) = 0)]
      ELSE [] END))) AS starts
  FROM sized
),
ch AS (
  SELECT doc_id,
         unnest([array_to_string(
                   toks[starts[k]:coalesce(starts[k + 1], nt + 1) - 1],
                   ' ')
                 FOR k IN generate_series(1, len(starts))
                 IF coalesce(starts[k + 1], nt + 1) - starts[k]
                    >= {min_len}]) AS chunk
  FROM st
),
sets AS (
  SELECT DISTINCT doc_id, md5(chunk) AS chunk_hash FROM ch
),
{_sql_chunk_pair_tail()}"""


def _sql_lm_score() -> str:
    """Twin of with_lm_score: same scored derived table as lang_id,
    best score per trigram, stable-rounded."""
    from yelp_streaming_etl_pipeline_spark.functions import (
        lang_trigrams as LT,
    )
    from yelp_streaming_etl_pipeline_spark.functions.rounding import (
        sql_stable_round,
    )

    lc = LT.sql_norm("text")
    tris = LT.sql_trigram_array("lc")
    score_cols = ", ".join(
        f"{LT.sql_trigram_score('tris', lang)} AS s_{lang}"
        for lang in LT.LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LT.LANG_ORDER) + ")"
    n_tris = "greatest(len(lc) - 2, 0)"
    raw = (
        f"(CASE WHEN {n_tris} > 0 THEN CAST({best} AS DOUBLE) / "
        f"CAST({n_tris} AS DOUBLE) ELSE 0.0 END)"
    )
    return f"""
WITH norm AS (
  SELECT *, {lc} AS lc FROM documents
),
tri AS (
  SELECT *, {tris} AS tris FROM norm
),
scored AS (
  SELECT *, {score_cols} FROM tri
)
SELECT doc_id,
       CAST({n_tris} AS BIGINT) AS n_trigrams,
       {sql_stable_round(raw, 4)} AS lm_score
FROM scored"""


def _sql_clean_reviews() -> str:
    return f"WITH {O.gauntlet_cte()} {O.accepted_select()}"


def _sql_quality_issues() -> str:
    return f"WITH {O.gauntlet_cte()} {O.issues_select()}"


def _sql_issue_counts() -> str:
    return (
        f"WITH {O.gauntlet_cte()}, iss AS ({O.issues_select()}) "
        "SELECT issue_type, count(*) AS n FROM iss GROUP BY issue_type "
        "ORDER BY n DESC, issue_type"
    )


def _sql_acceptance_summary() -> str:
    return f"""
WITH {O.gauntlet_cte()}
SELECT count(*) AS processed,
  CAST(sum(CASE WHEN fatal_stage IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS accepted,
  CAST(sum(CASE WHEN fatal_stage IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rejected,
  {SR('CAST(sum(CASE WHEN fatal_stage IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 100.0', 6)} AS acceptance_rate_pct
FROM staged"""


def _sql_review_stats(by_business: bool = True) -> str:
    now = f"TIMESTAMP '{NOW_LITERAL}'"
    comp = O.sql_completeness(
        ["review_id", "business_id", "user_id", "text_clean", "rating", "date"],
        ["useful", "funny", "cool"],
    )
    val = O.sql_validity("text_clean", "rating")
    fresh = O.sql_freshness("date", now)
    spam = O.sql_spam_score("text_clean", "text")
    dq = O.sql_dq_score(comp, val, fresh, spam)
    biz_col = "  business_id," if by_business else ""
    group_by = "GROUP BY 1, 2, 3" if by_business else "GROUP BY 1, 2"
    return f"""
WITH {O.gauntlet_cte()},
scored AS (
  SELECT *,
    (fatal_stage IS NULL) AS is_accepted,
    {dq} AS dq,
    {O.sql_word_count('text_clean')} AS wc,
    {O.sql_sentence_count('text_clean')} AS sc,
    (p4 AND (fatal_stage IS NULL OR fatal_stage > 4)) AS has_wrong_lang
  FROM staged
)
SELECT
  date_trunc('hour', date) AS window_start,
  date_trunc('hour', date) + INTERVAL 1 HOUR AS window_end,
{biz_col}
  count(*) AS total_reviews,
  CAST(sum(CASE WHEN is_accepted THEN 1 ELSE 0 END) AS BIGINT) AS valid_reviews,
  CAST(sum(CASE WHEN is_accepted THEN 0 ELSE 1 END) AS BIGINT) AS rejected_reviews,
  {XA('CASE WHEN is_accepted THEN dq END', 6)} AS avg_quality_score,
  CAST(sum(CASE WHEN fatal_stage = 5 THEN 1 ELSE 0 END) AS BIGINT) AS spam_count,
  CAST(sum(CASE WHEN has_wrong_lang THEN 1 ELSE 0 END) AS BIGINT) AS wrong_language_count,
  CAST(sum(CASE WHEN is_accepted AND rating >= 1.0 AND rating < 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS rating_1_count,
  CAST(sum(CASE WHEN is_accepted AND rating >= 2.0 AND rating < 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS rating_2_count,
  CAST(sum(CASE WHEN is_accepted AND rating >= 3.0 AND rating < 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS rating_3_count,
  CAST(sum(CASE WHEN is_accepted AND rating >= 4.0 AND rating < 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS rating_4_count,
  CAST(sum(CASE WHEN is_accepted AND rating >= 5.0 AND rating < 6.0 THEN 1 ELSE 0 END) AS BIGINT) AS rating_5_count,
  {XA('CASE WHEN is_accepted THEN rating END', 6)} AS avg_rating,
  {XA('CASE WHEN is_accepted THEN wc END', 6)} AS avg_word_count,
  {XA('CASE WHEN is_accepted THEN sc END', 6)} AS avg_sentence_count
FROM scored
{group_by}"""


def _sql_attributed_purchases_stream() -> str:
    """One-batch inner stream-stream join == the plain interval join
    (inclusive 30-minute attribution window before each purchase)."""
    return """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS amount,
       c.event_id AS click_id, c.ts AS click_ts
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND epoch_us(c.ts) <= epoch_us(p.ts)
 AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000"""


def _sql_attributed_purchases_semi_stream() -> str:
    """One-batch left-semi stream-stream join == EXISTS over the
    inclusive 30-minute attribution interval."""
    return """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
       p.value AS amount
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click' AND c.user_id = p.user_id
      AND epoch_us(c.ts) <= epoch_us(p.ts)
      AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000)"""


def _sql_attributed_purchases_outer_stream() -> str:
    """Twin of q_attributed_purchases_outer_stream: the inner matches
    plus a null-click row per unmatched purchase evicted by the
    global watermark. Watermark arithmetic mirrors Spark exactly:
    event-time stats track max in ms (epoch_us // 1000), the global
    value is the min over both withWatermark nodes, and eviction is
    strict-less-than after the 1 h delay."""
    return """
WITH c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
         value AS amount
  FROM events WHERE event_type = 'purchase'
),
matches AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, p.amount,
         c.click_id, c.click_ts
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
   AND epoch_us(c.click_ts) >= epoch_us(p.purchase_ts) - 1800000000
),
wm AS (
  SELECT least((SELECT epoch_us(max(click_ts)) // 1000 FROM c),
               (SELECT epoch_us(max(purchase_ts)) // 1000 FROM p))
         - 3600000 AS w_ms
),
nulls AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, p.amount,
         CAST(NULL AS BIGINT) AS click_id,
         CAST(NULL AS TIMESTAMP) AS click_ts
  FROM p CROSS JOIN wm
  WHERE epoch_us(p.purchase_ts) // 1000 < wm.w_ms
    AND NOT EXISTS (
      SELECT 1 FROM matches m WHERE m.purchase_id = p.purchase_id
    )
)
SELECT * FROM matches
UNION ALL
SELECT * FROM nulls"""


def _sql_attributed_purchases_full_outer_stream() -> str:
    """Twin of q_attributed_purchases_full_outer_stream: inner
    matches + null-click rows for watermark-evicted unmatched
    purchases (purchase_ts < wm) + null-purchase rows for unmatched
    clicks past attribution reach (click_ts < wm - 30 min). Same
    ms-floored min-over-inputs watermark arithmetic as the
    left-outer twin; the click bound subtracts the window because a
    click at T only matches purchases in [T, T + window]."""
    return """
WITH c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
         value AS amount
  FROM events WHERE event_type = 'purchase'
),
matches AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, p.amount,
         c.click_id, c.click_ts
  FROM p JOIN c
    ON c.user_id = p.user_id
   AND epoch_us(c.click_ts) <= epoch_us(p.purchase_ts)
   AND epoch_us(c.click_ts) >= epoch_us(p.purchase_ts) - 1800000000
),
wm AS (
  SELECT least((SELECT epoch_us(max(click_ts)) // 1000 FROM c),
               (SELECT epoch_us(max(purchase_ts)) // 1000 FROM p))
         - 3600000 AS w_ms
),
pnulls AS (
  SELECT p.user_id, p.purchase_id, p.purchase_ts, p.amount,
         CAST(NULL AS BIGINT) AS click_id,
         CAST(NULL AS TIMESTAMP) AS click_ts
  FROM p CROSS JOIN wm
  WHERE epoch_us(p.purchase_ts) // 1000 < wm.w_ms
    AND NOT EXISTS (
      SELECT 1 FROM matches m WHERE m.purchase_id = p.purchase_id
    )
),
cnulls AS (
  SELECT c.user_id, CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS TIMESTAMP) AS purchase_ts,
         CAST(NULL AS DOUBLE) AS amount,
         c.click_id, c.click_ts
  FROM c CROSS JOIN wm
  WHERE epoch_us(c.click_ts) // 1000 < wm.w_ms - 1800000
    AND NOT EXISTS (
      SELECT 1 FROM matches m WHERE m.click_id = c.click_id
    )
)
SELECT * FROM matches
UNION ALL
SELECT * FROM pnulls
UNION ALL
SELECT * FROM cnulls"""


def _sql_topic_roundtrip_reviews() -> str:
    """A lossless produce->consume round trip returns exactly the
    source table, so the oracle is the synthetic-review derivation."""
    return f"""
WITH reviews AS ({O.SYNTH_REVIEWS_SQL})
SELECT review_id, business_id, user_id, rating, text, date,
       useful, funny, cool, source, ingestion_timestamp
FROM reviews"""


_PACK_BUDGET = 50_000


def _sql_pack_tail(src: str, budget: int, extra_cols: str = "") -> str:
    """Shared packing arithmetic: global (md5(doc_id), doc_id) order +
    running token sum + shard of the starting offset. The oracle uses
    the plain single-partition window the Spark side decomposes into
    bucket-local windows + broadcast offsets (operators/corpus.py)."""
    return f"""
SELECT doc_id, tokens,
       CAST(sum(tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(floor(CAST(sum(tokens) OVER w - tokens AS DOUBLE) / {float(budget)!r})
            AS BIGINT) AS shard_id{extra_cols}
FROM {src}
WINDOW w AS (ORDER BY sk, doc_id ROWS UNBOUNDED PRECEDING)"""


def _sql_token_budget_pack() -> str:
    tok = O.sql_bpe_token_count("text")
    return f"""
WITH tb AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sk,
         CAST({tok} AS BIGINT) AS tokens
  FROM documents
){_sql_pack_tail('tb', _PACK_BUDGET)}"""


def _sql_decontaminate() -> str:
    return f"""
WITH {O.sql_doc_shingles_cte(5, 'documents', 'dc').lstrip()},
bgrams AS (
  SELECT DISTINCT unnest(shingles) AS gram FROM dcsh WHERE doc_id % 101 = 0
),
hits AS (
  SELECT d.doc_id, count(DISTINCT d.gram) AS n_hits
  FROM (SELECT doc_id, unnest(shingles) AS gram FROM dcsh) d
  JOIN bgrams b USING (gram)
  GROUP BY d.doc_id
)
SELECT dd.doc_id,
       CAST(COALESCE(h.n_hits, 0) AS INTEGER) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM documents dd LEFT JOIN hits h USING (doc_id)"""


def _sql_training_corpus() -> str:
    quality = O.sql_quality_score("text")
    norm = O.sql_norm_text("text")
    tok = O.sql_bpe_token_count("text")
    bench_src = "(SELECT doc_id, text FROM documents WHERE doc_id % 101 = 0)"
    return f"""
WITH lid AS ({_sql_lang_id()}),
tcq AS (
  SELECT d.doc_id, d.text, l.language, l.language_confidence,
         {quality} AS quality_score, md5({norm}) AS fp
  FROM documents d JOIN lid l ON d.doc_id = l.doc_id
),
gated AS (
  SELECT * FROM tcq
  WHERE language = 'en' AND language_confidence >= 0.5
    AND quality_score >= 0.5
),
uniq AS (
  SELECT * FROM gated
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
),
{O.sql_doc_shingles_cte(5, 'uniq', 'u').lstrip()},
{O.sql_doc_shingles_cte(5, bench_src, 'tb').lstrip()},
cont AS (
  SELECT DISTINCT dg.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS gram FROM ush) dg
  JOIN (SELECT DISTINCT unnest(shingles) AS gram FROM tbsh) bg USING (gram)
),
clean AS (
  SELECT u.* FROM uniq u
  WHERE NOT EXISTS (SELECT 1 FROM cont c WHERE c.doc_id = u.doc_id)
),
packed AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sk,
         CAST({tok} AS BIGINT) AS tokens, quality_score
  FROM clean
)
SELECT shard_id, doc_id, tokens, cum_tokens, quality_score
FROM ({_sql_pack_tail('packed', _PACK_BUDGET, ', quality_score')})"""


def _sql_events_hourly() -> str:
    return f"""
SELECT date_trunc('hour', ts) AS window_start,
       count(*) AS total,
       {XS('value', 2)} AS total_value,
       {XA('value', 6)} AS avg_value
FROM events GROUP BY 1 ORDER BY 1"""


def _sql_distinct_daily_users() -> str:
    return """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS distinct_users
FROM events GROUP BY 1"""


def _sql_event_type_pivot() -> str:
    from yelp_streaming_etl_pipeline_spark.operators.stats import EVENT_TYPES

    cols = ", ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {t}"
        for t in EVENT_TYPES
    )
    return f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, {cols}
FROM events GROUP BY 1"""


def _sql_value_percentiles() -> str:
    return f"""
SELECT event_type,
       {SR('quantile_cont(value, 0.5)', 6)} AS p50,
       {SR('quantile_cont(value, 0.9)', 6)} AS p90
FROM events GROUP BY event_type"""


def _sql_props_extract() -> str:
    k = "CAST(props->>'k' AS BIGINT)"
    return f"""
SELECT event_type, count(*) AS n, CAST(sum({k}) AS BIGINT) AS sum_k,
       {SR(f'CAST(sum({k}) AS DOUBLE) / count({k})', 6)} AS avg_k
FROM events GROUP BY event_type"""


def _sql_returning_users() -> str:
    return """
SELECT DISTINCT user_id FROM events WHERE day(ts) % 2 = 0
INTERSECT
SELECT DISTINCT user_id FROM events WHERE day(ts) % 2 = 1"""


def _sql_lapsed_users() -> str:
    return """
SELECT DISTINCT user_id FROM events WHERE day(ts) % 2 = 0
EXCEPT
SELECT DISTINCT user_id FROM events WHERE day(ts) % 2 = 1"""


def _sql_sliding_hourly_stats() -> str:
    return f"""
WITH fanout AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts)
           - (k * INTERVAL '15 minutes') AS window_start,
         value
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
)
SELECT window_start,
       window_start + INTERVAL '1 hour' AS window_end,
       count(*) AS n_events,
       {XS('value', 2)} AS total_value
FROM fanout GROUP BY window_start"""


def _sql_top_bigrams(k: int = 20) -> str:
    wst = O.sql_ws_trim("lower(text)")
    return f"""
WITH base AS (
  SELECT doc_id, {wst} AS lt,
         string_split_regex({wst}, '\\s+') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 2
         THEN list_distinct([words[i] || ' ' || words[i + 1]
                             FOR i IN generate_series(1, len(words) - 1)])
         ELSE [lt] END AS grams
  FROM base
),
x AS (SELECT unnest(grams) AS bigram FROM g)
SELECT bigram, count(*) AS doc_freq
FROM x GROUP BY bigram
ORDER BY doc_freq DESC, bigram ASC
LIMIT {k}"""


def _sql_tfidf_keywords(k: int = 3) -> str:
    wst = O.sql_ws_trim("lower(text)")
    return f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex({wst}, '\\s+')) AS term
  FROM documents
),
t AS (SELECT doc_id, term FROM tok WHERE len(term) > 0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM t GROUP BY 1),
tot AS (SELECT count(*) AS n_docs FROM documents),
s AS (
  SELECT doc_id, term,
         (tf * CAST(n_docs AS DOUBLE)) / doc_freq AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN tot
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term ASC) AS rank
  FROM s
)
SELECT doc_id, rank, term, {SR('score', 6)} AS score
FROM r WHERE rank <= {k}"""


_REV = "l_extendedprice * (1 - l_discount)"


def _sql_pricing_summary() -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
  {XS('l_quantity', 2)} AS sum_qty,
  {XS('l_extendedprice', 2)} AS sum_base_price,
  {XS(_REV, 4)} AS sum_disc_price,
  {XS(f'{_REV} * (1 + l_tax)', 6)} AS sum_charge,
  {XA('l_quantity', 6)} AS avg_qty,
  {XA('l_extendedprice', 6)} AS avg_price,
  {XA('l_discount', 6)} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def _sql_revenue_by_nation() -> str:
    return f"""
SELECT n_name, {XS(_REV, 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name"""


def _sql_top_customers() -> str:
    return f"""
WITH totals AS (
  SELECT o_custkey, {XS('o_totalprice', 2)} AS total_spent,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT c_custkey, c_name, c_mktsegment, total_spent, n_orders
  FROM totals JOIN customer ON o_custkey = c_custkey
),
r AS (
  SELECT *, row_number() OVER (ORDER BY total_spent DESC, c_custkey ASC)
            AS rank
  FROM j
)
SELECT rank, c_custkey, c_name, c_mktsegment, total_spent, n_orders
FROM r WHERE rank <= 10"""


def _sql_customers_without_orders() -> str:
    return """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""


def _sql_parts_with_shipments() -> str:
    return """
SELECT p_partkey, p_name, p_brand, p_size FROM part
WHERE p_size >= 30
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)"""


def _sql_supplier_running_revenue() -> str:
    win = (
        "PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber"
    )
    frame = f"{win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
  {XSO(_REV, frame, 4)} AS running_revenue,
  row_number() OVER ({win}) AS seq
FROM lineitem"""


def _sql_rollup_revenue() -> str:
    return f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {XS(_REV, 4)} AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


def _sql_cube_revenue() -> str:
    return f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {XS(_REV, 4)} AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)"""


def _sql_customer_quartiles() -> str:
    return f"""
WITH totals AS (
  SELECT o_custkey, {XS('o_totalprice', 2)} AS total_spent
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT c_custkey, c_mktsegment, total_spent
  FROM totals JOIN customer ON o_custkey = c_custkey
)
SELECT c_custkey, c_mktsegment, total_spent,
       ntile(4) OVER (ORDER BY total_spent DESC, c_custkey ASC) AS quartile
FROM j"""


def _sql_top_orders_per_segment(k: int = 3) -> str:
    return f"""
SELECT c_mktsegment, rank, o_orderkey, o_custkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_custkey,
         {SR('o_totalprice', 2)} AS o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank <= {k}"""


def _sql_salted_event_counts() -> str:
    # deliberately the PLAIN aggregation: the salted two-phase plan
    # must produce identical results
    return f"""
SELECT user_id, count(*) AS n_events,
       {XS('value', 2)} AS total_value
FROM events GROUP BY user_id"""


def _sql_numeric_profile() -> str:
    from yelp_streaming_etl_pipeline_spark.functions.rounding import (
        sql_quantize,
    )

    cols = []
    for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]:
        x = f"CAST({c} AS DOUBLE)"
        # moments over per-row quantized integers — mirrors
        # relational.numeric_profile's order-independent arithmetic
        q = sql_quantize(x)
        s = f"CAST(sum({q}) AS DOUBLE)"
        ss = f"CAST(sum({q} * {q}) AS DOUBLE)"
        n = f"count({x})"
        mean = f"({s} / {n} / 1000000.0)"
        var = (
            f"((({ss} - {s} * {s} / {n}) / ({n} - 1))"
            f" / (1000000.0 * 1000000.0))"
        )
        cols += [
            f"{SR(f'min({x})', 4)} AS {c}_min",
            f"{SR(f'max({x})', 4)} AS {c}_max",
            f"{SR(mean, 4)} AS {c}_mean",
            f"{SR(var, 4)} AS {c}_var",
        ]
    return "SELECT " + ", ".join(cols) + " FROM lineitem"


def _sql_order_priority_counts() -> str:
    return """
SELECT o_orderpriority, count(*) AS order_count FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY o_orderpriority"""


def _sql_sessionize_events() -> str:
    win = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
WITH e AS (
  SELECT *, lag(ts) OVER ({win}) AS prev_ts FROM events
),
s AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL
                      OR date_diff('second', prev_ts, ts) > 1800
                THEN 1 ELSE 0 END)
            OVER ({win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_seq
  FROM e
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
  min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events, {XS('value', 2)} AS session_value
FROM s GROUP BY user_id, session_seq"""


def _sql_purchase_prior_click() -> str:
    """Declarative twin of asof_join: join every purchase to ALL
    earlier same-user clicks, then argmax by click ts. Quadratic per
    key — fine as an sf0.01 oracle, exactly what the union-window
    implementation avoids at scale."""
    return """
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       max_by(c.event_id, c.ts) AS prior_event_id,
       max(c.ts) AS prior_ts
FROM p JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
GROUP BY 1, 2, 3"""


def _sql_click_purchase_5min() -> str:
    return """
SELECT c.event_id AS click_id, c.user_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND epoch_us(p.ts) > epoch_us(c.ts)
 AND epoch_us(p.ts) <= epoch_us(c.ts) + 300000000"""


def _sql_windowed_events_stream() -> str:
    """Append-mode emission = hourly agg restricted to windows closed
    by the final watermark (max event ms - 1 h; Spark tracks event
    times in ms)."""
    we_ms = (
        "(epoch_us(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour')"
        " // 1000)"
    )
    return f"""
WITH wm AS (
  SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       count(*) AS n_events,
       {XS('value', 2)} AS total_value
FROM events
GROUP BY 1, 2
HAVING {we_ms} <= (SELECT wm_ms FROM wm)"""


def _sql_enriched_events_stream() -> str:
    """Twin of q_enriched_events_stream: the tier dim is a pure
    function of user_id (the stream-static join adds no rows because
    the dim is built from the stream's own distinct users), so the
    oracle is the windowed agg with the tier expression inline, under
    the same append-mode watermark closure."""
    we_ms = (
        "(epoch_us(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour')"
        " // 1000)"
    )
    return f"""
WITH wm AS (
  SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events
)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       CASE user_id % 3 WHEN 0 THEN 'bronze' WHEN 1 THEN 'silver'
            ELSE 'gold' END AS tier,
       count(*) AS n_events,
       {XS('value', 2)} AS total_value
FROM events
GROUP BY 1, 2
HAVING {we_ms} <= (SELECT wm_ms FROM wm)"""


def _sql_trending_stream() -> str:
    """Sliding 2-h/1-h windows via a 2-way fanout (each event belongs
    to the two hour-aligned windows covering it), append-mode closure
    at the final watermark (max event ms - 1 h), then top-3 types per
    window with the same (count desc, type asc) tie-break."""
    we_ms = "(epoch_us(window_start + INTERVAL '2 hours') // 1000)"
    return f"""
WITH wm AS (
  SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms FROM events
),
fanout AS (
  SELECT time_bucket(INTERVAL '1 hour', ts)
           - (k * INTERVAL '1 hour') AS window_start,
         event_type
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
),
counts AS (
  SELECT window_start, event_type, count(*) AS n_events
  FROM fanout GROUP BY 1, 2
  HAVING {we_ms} <= (SELECT wm_ms FROM wm)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY n_events DESC, event_type ASC
  ) AS rank
  FROM counts
)
SELECT window_start, window_start + INTERVAL '2 hours' AS window_end,
       event_type, n_events, rank
FROM ranked WHERE rank <= 3"""


def _sql_trending_update_stream() -> str:
    """Twin of q_trending_update_stream: the same 2-way sliding
    fanout as _sql_trending_stream but over ALL windows — update
    mode with a latest-epoch-wins sink recovers every window's final
    count, not just the watermark-closed ones, so the closure HAVING
    disappears and only the ranking remains."""
    return """
WITH fanout AS (
  SELECT time_bucket(INTERVAL '1 hour', ts)
           - (k * INTERVAL '1 hour') AS window_start,
         event_type
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
),
counts AS (
  SELECT window_start, event_type, count(*) AS n_events
  FROM fanout GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY n_events DESC, event_type ASC
  ) AS rank
  FROM counts
)
SELECT window_start, window_start + INTERVAL '2 hours' AS window_end,
       event_type, n_events, rank
FROM ranked WHERE rank <= 3"""


def _sql_value_histogram() -> str:
    return f"""
WITH b AS (SELECT min(value) AS vmin, max(value) AS vmax FROM events),
binned AS (
  SELECT least(31, CAST(floor((value - vmin) / ((vmax - vmin) / 32))
                   AS INTEGER)) AS bin,
         vmin, (vmax - vmin) / 32 AS step
  FROM events CROSS JOIN b
)
SELECT bin,
       {SR('vmin + bin * step', 6)} AS lo,
       {SR('vmin + (bin + 1) * step', 6)} AS hi,
       count(*) AS n
FROM binned GROUP BY bin, vmin, step"""


def _sql_histogram_median() -> str:
    return f"""
WITH hist AS ({_sql_value_histogram()}),
c AS (
  SELECT *, sum(n) OVER (ORDER BY bin) AS cum, sum(n) OVER () AS total
  FROM hist
)
SELECT {SR('(lo + hi) / 2.0', 6)} AS median_est
FROM c WHERE cum * 2 >= total ORDER BY bin LIMIT 1"""


def _sql_latest_event_per_user() -> str:
    return """
SELECT user_id, event_id, ts, event_type FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn FROM events
) WHERE rn = 1"""


def _sql_user_event_intervals() -> str:
    win = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
SELECT user_id, event_id, event_type,
       ts AS valid_from,
       lead(ts) OVER ({win}) AS valid_to,
       (lead(ts) OVER ({win}) IS NULL) AS is_current
FROM events"""


def _sql_sessionize_stream() -> str:
    """Closed sessions emitted by the stream: every non-final session
    per user (closed by a later in-batch event), PLUS final sessions
    flushed by the event-time timeout in the trailing no-data
    micro-batch — those whose timeout (last event + 30 min, in ms)
    fell below the final watermark (max event time - 10 min, Spark
    truncates event times to ms)."""
    win = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
WITH e AS (
  SELECT *, lag(ts) OVER ({win}) AS prev_ts FROM events
),
s AS (
  SELECT *, sum(CASE WHEN prev_ts IS NULL
                      OR date_diff('second', prev_ts, ts) > 1800
                THEN 1 ELSE 0 END)
            OVER ({win} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_seq
  FROM e
),
wm AS (
  SELECT (max(epoch_us(ts)) // 1000) - 600000 AS wm_ms FROM events
),
sess AS (
  SELECT user_id, session_seq,
    min(ts) AS session_start, max(ts) AS session_end,
    count(*) AS n_events, {SR('sum(value)', 2)} AS session_value
  FROM s GROUP BY user_id, session_seq
),
ranked AS (
  SELECT *, max(session_seq) OVER (PARTITION BY user_id) AS final_seq
  FROM sess
)
SELECT user_id, session_start, session_end, n_events, session_value
FROM ranked
WHERE session_seq < final_seq
   OR ((epoch_us(session_end) // 1000) + 1800000
       < (SELECT wm_ms FROM wm))"""


_DUP_RANKED_CTE = """
dup AS (
  SELECT * FROM reviews
  UNION ALL
  SELECT review_id, business_id, user_id, rating, text, date,
         useful, funny, cool, 'zz_replay' AS source,
         ingestion_timestamp, language, language_confidence
  FROM reviews WHERE user_id = 'u7'
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY review_id, date
            ORDER BY source ASC, ingestion_timestamp ASC) AS rn
  FROM dup
)"""

_REVIEW_COLS = (
    "review_id, business_id, user_id, rating, text, date, useful, funny, "
    "cool, source, ingestion_timestamp, language, language_confidence"
)


def _sql_dedup_reviews() -> str:
    return (
        f"WITH reviews AS ({O.SYNTH_REVIEWS_SQL}), {_DUP_RANKED_CTE.lstrip()} "
        f"SELECT {_REVIEW_COLS} FROM ranked WHERE rn = 1"
    )


def _sql_dedup_stream() -> str:
    return (
        f"WITH reviews AS ({O.SYNTH_REVIEWS_SQL}), {_DUP_RANKED_CTE.lstrip()} "
        f"SELECT review_id, date, business_id, source, "
        f"CASE WHEN rn = 1 THEN 'first' ELSE 'duplicate' END AS is_duplicate "
        f"FROM ranked"
    )


def _sql_fingerprint_incremental() -> str:
    """The same three checksums + the modular-identity residual (0)
    computed in one pass each."""
    enc = (
        "('0x' || substr(md5(concat_ws('|',"
        " COALESCE(CAST(event_id AS VARCHAR), chr(0)),"
        " COALESCE(CAST(epoch_us(ts) AS VARCHAR), chr(0)),"
        " COALESCE(CAST(user_id AS VARCHAR), chr(0)),"
        " COALESCE(CAST(event_type AS VARCHAR), chr(0)),"
        " COALESCE(CAST(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)"
        " AS VARCHAR), chr(0)),"
        " COALESCE(CAST(props AS VARCHAR), chr(0)))), 1, 8))::BIGINT"
    )
    m = 1 << 61
    return f"""
WITH h AS (SELECT event_id, {enc} AS hv FROM events),
b AS (SELECT CAST(COALESCE(sum(hv), 0) % {m} AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM h WHERE event_id % 2 = 0),
d AS (SELECT CAST(COALESCE(sum(hv), 0) % {m} AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS n
      FROM h WHERE event_id % 2 = 1),
f AS (SELECT CAST(COALESCE(sum(hv), 0) % {m} AS BIGINT) AS c FROM h)
SELECT b.c AS base_checksum, d.c AS delta_checksum,
       f.c AS full_checksum,
       CAST(b.n + d.n AS BIGINT) AS n_rows,
       CAST((b.c + d.c) % {m} - f.c AS BIGINT) AS residual
FROM b, d, f"""


def _sql_bloom_pruned_join() -> str:
    """The plain filtered join — bloom pruning only removes rows the
    join would drop anyway."""
    return f"""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
       {XS('l.l_extendedprice')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY o.o_orderpriority"""


def _sql_partition_overwrite_backfill() -> str:
    """Events with exactly the target day's values doubled, reduced
    per day — what the dynamic overwrite must leave on disk."""
    return f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       {XS("CASE WHEN strftime(ts, '%Y-%m-%d') = '2024-01-02'"
           " THEN value * 2 ELSE value END")} AS day_value
FROM events GROUP BY 1"""


def _sql_constraint_audit() -> str:
    return """
SELECT 'orders_pk_duplicates' AS check,
       CAST((SELECT count(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey
          HAVING count(*) > 1)) AS BIGINT) AS n_violations
UNION ALL
SELECT 'lineitem_orphan_orderkeys',
       CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
          SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          AS BIGINT)
UNION ALL
SELECT 'orders_orphan_custkeys',
       CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS (
          SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
          AS BIGINT)
UNION ALL
SELECT 'lineitem_null_quantity',
       CAST((SELECT count(*) FROM lineitem WHERE l_quantity IS NULL)
          AS BIGINT)
UNION ALL
SELECT 'orders_negative_totalprice',
       CAST((SELECT count(*) FROM orders WHERE o_totalprice < 0)
          AS BIGINT)"""


def _sql_schema_evolution_read() -> str:
    """Union of the two writer generations with NULL n_chars
    backfilling generation 1 (doc_id even), reduced per lang."""
    return """
WITH merged AS (
  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(n_chars) AS BIGINT) AS n_with_chars,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM merged GROUP BY lang"""


def _sql_bucketed_join() -> str:
    """The plain join aggregate — bucketing changes only the physical
    layout, never the result."""
    return f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       {XS('o_totalprice')} AS total_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment"""


def _sql_jsonl_roundtrip() -> str:
    """Reduction of the synthetic reviews over the roundtrip-stable
    columns (the JSONL write->lenient-read legs are lossless for
    them; sums of integral/half-integral doubles are exact)."""
    return f"""
WITH reviews AS ({O.SYNTH_REVIEWS_SQL})
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(text) AS BIGINT) AS n_texts,
       sum(rating) AS sum_stars,
       CAST(sum(useful) AS BIGINT) AS sum_useful,
       CAST(sum(funny) AS BIGINT) AS sum_funny,
       CAST(sum(cool) AS BIGINT) AS sum_cool,
       CAST(count(DISTINCT business_id) AS BIGINT) AS n_businesses
FROM reviews"""


def _sql_dedup_watermark_stream() -> str:
    """DISTINCT over the replica-invariant projection: the replayed
    rows differ from their originals only in source (and share
    ingestion_timestamp), so native watermark dedup on
    (review_id, date) projects to exactly this set whichever replica
    the state store keeps."""
    return (
        f"WITH reviews AS ({O.SYNTH_REVIEWS_SQL}), {_DUP_RANKED_CTE.lstrip()} "
        f"SELECT DISTINCT review_id, date, business_id, user_id, rating "
        f"FROM dup"
    )


def _sql_duplicate_issues() -> str:
    now = f"TIMESTAMP '{NOW_LITERAL}'"
    return f"""
WITH reviews AS ({O.SYNTH_REVIEWS_SQL}), {_DUP_RANKED_CTE.lstrip()}
SELECT review_id, 'duplicate' AS issue_type, 'review_id' AS field_name,
       CAST(review_id AS VARCHAR) AS og_value,
       'unique (review_id, date)' AS expected_range,
       7 AS severity, {now} AS detected_at,
       'deduplication' AS detection_range
FROM ranked WHERE rn > 1"""


def _sql_pps_wor_sample(k: int = 100) -> str:
    """Twin of q_pps_wor_sample: same weight derivation, same
    md5(key|j) candidates via LATERAL generate_series, same
    (min_hash, key) ranking."""
    return f"""
WITH keyed AS (
  SELECT o_orderkey AS key,
         1 + CAST(floor(o_totalprice / 10000.0) AS BIGINT) AS weight
  FROM orders),
expl AS (
  SELECT key, weight, unnest(generate_series(1, weight)) AS j
  FROM keyed),
cand AS (
  SELECT key, weight,
         md5(CAST(key AS VARCHAR) || '|' || CAST(j AS VARCHAR)) AS h
  FROM expl),
mins AS (
  SELECT key, weight, min(h) AS min_h FROM cand GROUP BY key, weight)
SELECT rank, key, weight FROM (
  SELECT *, row_number() OVER (ORDER BY min_h ASC, key ASC) AS rank
  FROM mins)
WHERE rank <= {k}"""


def _sql_measures_unpivot() -> str:
    """Twin of q_measures_unpivot: the UNION-ALL expansion the
    Expand node computes, aggregated identically (cents quantization
    BEFORE the order-dependent sum)."""
    arms = "\nUNION ALL\n".join(
        f"SELECT l_orderkey, '{c}' AS measure, {c} AS val FROM lineitem"
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    return f"""
WITH m AS ({arms})
SELECT measure, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(val * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM m GROUP BY measure"""


def _sql_media_dims_audit(n: int = 512) -> str:
    """Twin of q_media_dims_audit: the generator plants corrupt
    payloads at i % 13 == 0 and one-pixel metadata drift at
    i % 11 == 0 (format alternates png/jpeg by parity); the audit
    counts follow from that arithmetic alone. Spark arrives at the
    same numbers only via the byte-level header parse."""
    return f"""
WITH m AS (
  SELECT i,
         CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         (i % 13 = 0) AS corrupt,
         (i % 11 = 0) AS drift
  FROM generate_series(0, {n - 1}) t(i))
SELECT format,
  CAST(count(*) AS BIGINT) AS n_media,
  CAST(sum(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT)
    AS n_parsed,
  CAST(sum(CASE WHEN NOT corrupt AND NOT drift THEN 1 ELSE 0 END)
    AS BIGINT) AS n_match,
  CAST(sum(CASE WHEN NOT corrupt AND drift THEN 1 ELSE 0 END)
    AS BIGINT) AS n_meta_mismatch,
  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unparseable
FROM m GROUP BY format"""


def _sql_audio_meta_audit(n: int = 512) -> str:
    """Twin of q_audio_meta_audit: the generator corrupts payloads at
    i % 13 == 0 and drifts metadata duration +1 ms at i % 11 == 0;
    sample rate is 8000 + (i % 5) * 4000. The audit counts follow
    from that arithmetic; Spark reaches the same numbers only via
    the little-endian WAV header parse."""
    return f"""
WITH m AS (
  SELECT i,
         8000 + (i % 5) * 4000 AS sr,
         (i % 13 = 0) AS corrupt,
         (i % 11 = 0) AS drift
  FROM generate_series(0, {n - 1}) t(i))
SELECT CASE WHEN corrupt THEN NULL ELSE sr END AS sample_rate,
  CAST(count(*) AS BIGINT) AS n_media,
  CAST(sum(CASE WHEN NOT corrupt THEN 1 ELSE 0 END) AS BIGINT)
    AS n_parsed,
  CAST(sum(CASE WHEN NOT corrupt AND NOT drift THEN 1 ELSE 0 END)
    AS BIGINT) AS n_match,
  CAST(sum(CASE WHEN NOT corrupt AND drift THEN 1 ELSE 0 END)
    AS BIGINT) AS n_meta_mismatch,
  CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unparseable
FROM m GROUP BY 1"""


def _sql_media_features(n: int = 256) -> str:
    """Mirrors operators/multimodal.py: payload = sha256('media-i')
    digest repeated 4 + i%7 times; content hash over lowercase hex;
    f0 = first digest byte / 255 as float32."""
    hexmap = "0123456789abcdef"
    byte0 = (
        f"((strpos('{hexmap}', substr(content_sha, 1, 1)) - 1) * 16 "
        f"+ strpos('{hexmap}', substr(content_sha, 2, 1)) - 1)"
    )
    f0 = f"CAST(CAST({byte0} / 255.0 AS FLOAT) AS DOUBLE)"
    return f"""
WITH m AS (
  SELECT i AS media_id,
         repeat(unhex(sha256('media-' || CAST(i AS VARCHAR))), 4 + i % 7)
           AS payload
  FROM generate_series(0, {n - 1}) t(i)
),
c AS (
  SELECT media_id, sha256(lower(hex(payload))) AS content_sha FROM m
)
SELECT media_id, content_sha, {SR(f0, 6)} AS f0 FROM c"""


def oracle_sql() -> dict[str, str]:
    return {
        # round-4 additions
        "lang_id_prefix": _sql_lang_id(prefix=256),
        "pagerank_weighted": O.sql_pagerank_weighted_bipartite(),
        "quantile_sketch": _sql_quantile_sketch(),
        "quantile_estimate": _sql_quantile_estimate(),
        "bpe_merges_bytes": O.sql_bpe_train(alphabet="bytes"),
        "bpe_bytes_token_counts": O.sql_bpe_token_counts(
            alphabet="bytes"
        ),
        # update-mode upserted table == the batch hourly aggregate
        "events_hourly_update_stream": _sql_events_hourly(),
        # key-ordered delivery => stream fold == batch fold (same twin)
        "user_value_ewma_stream": _sql_user_value_ewma(),
        "quantile_by_type": _sql_quantile_by_type(),
        "sql_surface_q13": SQL_SURFACE_Q13,
        "sql_surface_q2": SQL_SURFACE_Q2,
        "sql_surface_q21": SQL_SURFACE_Q21,
        "cosupply_triangles": O.sql_cosupply_triangles(),
        "bfs_levels": O.sql_bipartite_bfs_levels(),
        "winnowing_fingerprints": O.sql_winnowing_fingerprints(),
        "salted_skew_join": O.sql_salted_skew_join(),
        "winnow_neardup": O.sql_winnow_neardup_pairs(),
        "dedup_watermark_stream": _sql_dedup_watermark_stream(),
        "cms_topk_stream": O.sql_cms_topk_stream(),
        "ann_sharded_topk": O.sql_ann_topk(),
        "sql_surface_q16": SQL_SURFACE_Q16,
        "sql_surface_q3": SQL_SURFACE_Q3,
        "sql_surface_q5": SQL_SURFACE_Q5,
        "sql_surface_q10": SQL_SURFACE_Q10,
        "sql_surface_q14": SQL_SURFACE_Q14,
        "sql_surface_q19": SQL_SURFACE_Q19,
        "sql_surface_q22": SQL_SURFACE_Q22,
        "sql_surface_q7": SQL_SURFACE_Q7,
        "sql_surface_q17": SQL_SURFACE_Q17,
        "sql_surface_q8": SQL_SURFACE_Q8,
        "sql_surface_q12": SQL_SURFACE_Q12,
        "sql_surface_q1": SQL_SURFACE_Q1,
        "sql_surface_q6": SQL_SURFACE_Q6,
        "sql_surface_q9": SQL_SURFACE_Q9,
        "sql_surface_q11": SQL_SURFACE_Q11,
        "sql_surface_q15": SQL_SURFACE_Q15,
        "sql_surface_q20": SQL_SURFACE_Q20,
        "ann_ivfpq_topk": O.sql_ann_ivfpq_topk(),
        "kcore_maintenance_stream": O.sql_cosupply_kcore(),
        "boilerplate_lines": O.sql_drop_boilerplate_lines(),
        "lpa_maintenance_stream": O.sql_cosupply_communities(),
        "entity_clusters": O.sql_entity_clusters(),
        "entity_maintenance_stream": O.sql_entity_clusters(),
        "neardup_maintenance_stream": O.sql_minhash_lsh_pairs(0.5),
        "pq_codebooks_kmeans": O.sql_pq_kmeans_codebooks(),
        "audio_meta_audit": _sql_audio_meta_audit(),
        "measures_unpivot": _sql_measures_unpivot(),
        "pps_wor_sample": _sql_pps_wor_sample(),
        "sql_surface_q18": SQL_SURFACE_Q18,
        "cosupply_clustering": O.sql_cosupply_clustering(),
        "session_window_stream": O.sql_session_window_stream(),
        "session_window_multibatch_stream": O.sql_session_window_stream(),
        "dedup_watermark_multibatch_stream": _sql_dedup_watermark_stream(),
        "trending_update_stream": _sql_trending_update_stream(),
        "bigram_lift": O.sql_bigram_lift(),
        "jsonl_roundtrip": _sql_jsonl_roundtrip(),
        "sql_surface_groupingsets": SQL_SURFACE_GROUPING_SETS,
        "sql_surface_lateral": SQL_SURFACE_LATERAL,
        "table_fingerprints": O.sql_table_fingerprints(),
        "schema_evolution_read": _sql_schema_evolution_read(),
        "bucketed_join": _sql_bucketed_join(),
        "partition_overwrite_backfill": (
            _sql_partition_overwrite_backfill()
        ),
        "constraint_audit": _sql_constraint_audit(),
        "bloom_pruned_join": _sql_bloom_pruned_join(),
        "cosupply_communities": O.sql_cosupply_communities(),
        "fingerprint_incremental": _sql_fingerprint_incremental(),
        "pii_profile": O.sql_pii_profile(),
        "pii_redact": O.sql_pii_redact(),
        "zorder_layout": _sql_zorder_layout(),
        "embedding_project": O.sql_project_embeddings(),
        "semantic_dedup": O.sql_semantic_dedup(),
        "trending_stream": _sql_trending_stream(),
        "kmeans_clusters": O.sql_kmeans_lloyd(),
        # streaming maintenance converges to the identical batch
        # fixed point, so it shares the batch twin
        "kmeans_maintenance_stream": O.sql_kmeans_lloyd(),
        "cdc_chunk_pairs": _sql_cdc_chunk_pairs(),
        "semantic_dedup_maintenance_stream": O.sql_semantic_dedup(),
        "quantile_sketch_stream": _sql_quantile_sketch(),
        "pagerank_maintenance_stream": O.sql_pagerank_bipartite(),
        "cdc_maintenance_stream": _sql_cdc_chunk_pairs(),
        "events_resample_ffill": _sql_events_resample_ffill(),
        "payload_chunk_manifest": _sql_payload_chunk_manifest(),
        "cusum_changepoints": _sql_cusum_changepoints(),
        "attributed_purchases_semi_stream": (
            _sql_attributed_purchases_semi_stream()
        ),
        "table_stats_profile": _sql_table_stats_profile(),
        "table_stats_deep": _sql_table_stats_deep(),
        "hard_negatives": O.sql_hard_negatives(),
        "cluster_balanced_sample": _sql_cluster_balanced_sample(),
        "quality_classifier": O.sql_quality_classifier(),
        "enriched_events_stream": _sql_enriched_events_stream(),
        "semantic_decontaminate": O.sql_semantic_decontaminate(),
        "event_funnel": _sql_event_funnel(),
        "user_cohorts": _sql_user_cohorts(),
        "io_roundtrip_formats": _sql_io_roundtrip_formats(),
        "pagerank_nodes": O.sql_pagerank_bipartite(),
        "hll_set_ops": O.sql_hll_set_ops(),
        "cms_join_size": O.sql_cms_join_size(),
        "attributed_purchases_outer_stream": (
            _sql_attributed_purchases_outer_stream()
        ),
        "attributed_purchases_full_outer_stream": (
            _sql_attributed_purchases_full_outer_stream()
        ),
        "event_zscores": _sql_event_zscores(),
        "user_value_ewma": _sql_user_value_ewma(),
        "user_value_ewma_segmented": _sql_user_value_ewma_segmented(),
        "hll_registers_stream": O.sql_hll_registers(),
        "frame_sample_plan": _sql_frame_sample_plan(),
        "hll_by_type": O.sql_hll_by_group(),
        "personalized_pagerank": O.sql_personalized_pagerank_bipartite(),
        "bpe_merges": O.sql_bpe_train(),
        "bpe_token_counts": O.sql_bpe_token_counts(),
        "wordpiece_doc_scores": O.sql_wordpiece_doc_scores(),
        "bm25_topk": _sql_bm25_topk(),
        "bm25_topk_bpe": _sql_bm25_topk_bpe(),
        "bm25_cross_topk": _sql_bm25_cross_topk(),
        "bm25_cross_topk_bpe": _sql_bm25_cross_topk_bpe(),
        "bm25_maintenance_stream": _sql_bm25_topk(),
        "dedup_eval_minhash": _sql_dedup_eval_minhash(),
        "ngram_novelty": _sql_ngram_novelty(),
        "bottomk_sample": _sql_bottomk_sample(),
        "bottomk_sample_stream": _sql_bottomk_sample(),
        "stratified_budget_sample": _sql_stratified_budget_sample(),
        "stratified_budget_sample_stream": _sql_stratified_budget_sample(),
        "sql_surface_q4": SQL_SURFACE_Q4,
        "gopher_quality": O.sql_gopher_quality(),
        "repetition_profile": O.sql_repetition_profile(),
        "doc_chunks": O.sql_chunk_documents(),
        "bloom_registers": O.sql_bloom_registers(),
        "bloom_probe": O.sql_bloom_probe(),
        "dedup_quality_prune": O.sql_dedup_quality_prune(0.5),
        "text_features": _sql_text_features(),
        "lang_id": _sql_lang_id(),
        "clean_reviews": _sql_clean_reviews(),
        "quality_issues": _sql_quality_issues(),
        "issue_counts": _sql_issue_counts(),
        "acceptance_summary": _sql_acceptance_summary(),
        "review_stats": _sql_review_stats(),
        "review_stats_overall": _sql_review_stats(by_business=False),
        "attributed_purchases_stream": _sql_attributed_purchases_stream(),
        "topic_roundtrip_reviews": _sql_topic_roundtrip_reviews(),
        "token_budget_pack": _sql_token_budget_pack(),
        "decontaminate": _sql_decontaminate(),
        "training_corpus": _sql_training_corpus(),
        "lm_score": _sql_lm_score(),
        "corpus_upsert": _sql_corpus_upsert(),
        "mixture_sample": _sql_mixture_sample(),
        "ann_quantized_topk": O.sql_ann_quantized_topk(),
        "duplicated_passages": _sql_duplicated_passages(),
        "exact_substring_spans": _sql_exact_substring_spans(),
        "exact_substring_spans_bytes": _sql_exact_substring_spans_bytes(),
        "unigram_em_refine": O.sql_unigram_em_refine(),
        "bigram_lm_scores": _sql_bigram_lm_scores(),
        "bigram_lm_maintenance_stream": _sql_bigram_lm_scores(),
        "paragraph_dedup": _sql_paragraph_dedup(),
        "pagerank_weighted_maintenance_stream": (
            O.sql_pagerank_weighted_bipartite()
        ),
        "personalized_pagerank_maintenance_stream": (
            O.sql_personalized_pagerank_bipartite()
        ),
        "exact_substring_removal_bytes": (
            _sql_exact_substring_removal_bytes()
        ),
        "paragraph_dedup_maintenance_stream": _sql_paragraph_dedup(),
        "lm_filter_roc": _sql_lm_filter_roc(),
        "simhash_maintenance_stream": O.sql_simhash_pairs(),
        "lm_filter_mix_shift": _sql_lm_filter_mix_shift(),
        "unigram_em_scores": O.sql_unigram_em_scores(),
        "unigram_em_loop": O.sql_unigram_em_loop(),
        "unigram_em_schedule": O.sql_unigram_em_schedule(),
        "unigram_em_schedule_scores": O.sql_unigram_em_schedule_scores(),
        "exact_substring_spans_bpe": _sql_exact_substring_spans_bpe(),
        "exact_substring_removal_bpe": _sql_exact_substring_removal_bpe(),
        "quality_quota_sample": _sql_quality_quota_sample(),
        "exact_substring_removal": _sql_exact_substring_removal(),
        "exact_substring_maintenance_stream": _sql_exact_substring_spans(),
        "exact_substring_maintenance_stream_bpe": (
            _sql_exact_substring_spans_bpe()
        ),
        "exact_substring_removal_maintenance_stream_bpe": (
            _sql_exact_substring_removal_bpe()
        ),
        "dsir_importance": _sql_dsir_importance(),
        "dsir_quota_sample": _sql_dsir_quota_sample(),
        "dsir_budget_pack": _sql_dsir_budget_pack(),
        # round-11 additions
        "dsir_mixture_pack": _sql_dsir_mixture_pack(),
        # fixed-target stream == batch dsir_importance (same twin)
        "dsir_maintenance_stream": _sql_dsir_importance(),
        # incremental scores + per-epoch pack tail == batch pack
        "dsir_mixture_pack_maintenance_stream": _sql_dsir_mixture_pack(),
        # fixed vocab+target stream == batch bm25_cross_topk_bpe
        "bm25_cross_maintenance_stream_bpe": _sql_bm25_cross_topk_bpe(),
        "cdc_chunk_dedup": _sql_cdc_chunk_dedup(),
        "kn_bigram_scores": _sql_kn_bigram_scores(),
        # count-state stream == batch KN scores (same twin)
        "kn_bigram_maintenance_stream": _sql_kn_bigram_scores(),
        # ordered-arrival stream == batch cdc_chunk_dedup (same twin)
        "cdc_chunk_dedup_maintenance_stream": _sql_cdc_chunk_dedup(),
        # fixed-artifact-vocab stream == batch bm25_topk_bpe (same twin)
        "bm25_maintenance_stream_bpe": _sql_bm25_topk_bpe(),
        "cdc_chunk_pairs_bpe": _sql_cdc_chunk_pairs_bpe(),
        # fixed-artifact-vocab stream == batch cdc_chunk_pairs_bpe
        "cdc_maintenance_stream_bpe": _sql_cdc_chunk_pairs_bpe(),
        # artifact round trip reproduces the in-memory inventory
        "unigram_schedule_export_scores": (
            O.sql_unigram_em_schedule_scores()
        ),
        "unigram_lm_scores": O.sql_unigram_lm_scores(),
        "dsir_topk": _sql_dsir_importance()
        + "\nORDER BY dsir_score DESC, doc_id LIMIT 50",
        "events_hourly": _sql_events_hourly(),
        "distinct_daily_users": _sql_distinct_daily_users(),
        "event_type_pivot": _sql_event_type_pivot(),
        "value_percentiles": _sql_value_percentiles(),
        "props_extract": _sql_props_extract(),
        "returning_users": _sql_returning_users(),
        "lapsed_users": _sql_lapsed_users(),
        "sliding_hourly_stats": _sql_sliding_hourly_stats(),
        "top_bigrams": _sql_top_bigrams(),
        "tfidf_keywords": _sql_tfidf_keywords(),
        "pricing_summary": _sql_pricing_summary(),
        "revenue_by_nation": _sql_revenue_by_nation(),
        "top_customers": _sql_top_customers(),
        "customers_without_orders": _sql_customers_without_orders(),
        "parts_with_shipments": _sql_parts_with_shipments(),
        "supplier_running_revenue": _sql_supplier_running_revenue(),
        "rollup_revenue": _sql_rollup_revenue(),
        "cube_revenue": _sql_cube_revenue(),
        "customer_quartiles": _sql_customer_quartiles(),
        "top_orders_per_segment": _sql_top_orders_per_segment(),
        "salted_event_counts": _sql_salted_event_counts(),
        "numeric_profile": _sql_numeric_profile(),
        "order_priority_counts": _sql_order_priority_counts(),
        "sessionize_events": _sql_sessionize_events(),
        "purchase_prior_click": _sql_purchase_prior_click(),
        "click_purchase_5min": _sql_click_purchase_5min(),
        "sessionize_stream": _sql_sessionize_stream(),
        "windowed_events_stream": _sql_windowed_events_stream(),
        "dedup_reviews": _sql_dedup_reviews(),
        "duplicate_issues": _sql_duplicate_issues(),
        "dedup_stream": _sql_dedup_stream(),
        "dedup_exact": O.sql_dedup_exact(),
        "neardup_minhash": O.sql_minhash_lsh_pairs(0.5),
        "dedup_clusters": O.sql_dedup_clusters(0.5),
        "dedup_corpus_prune": O.sql_dedup_corpus_prune(0.5),
        "stratified_sample": O.sql_stratified_sample(
            SAMPLE_RATES, SAMPLE_DEFAULT_RATE
        ),
        "train_test_split": O.sql_train_test_split(SPLIT_WEIGHTS),
        "class_capped_sample": O.sql_class_capped_sample(CLASS_CAP),
        "pps_sample": O.sql_pps_sample(PPS_SCALE),
        "latest_event_per_user": _sql_latest_event_per_user(),
        "user_event_intervals": _sql_user_event_intervals(),
        "hll_registers": O.sql_hll_registers(),
        "hll_estimate": O.sql_hll_estimate(),
        "cms_counters": O.sql_cms_counters(),
        "cms_heavy_hitters": O.sql_cms_heavy_hitters(20),
        "value_histogram": _sql_value_histogram(),
        "histogram_median": _sql_histogram_median(),
        "simhash_signatures": O.sql_simhash(),
        "simhash_pairs": O.sql_simhash_pairs(),
        "neardup_ngram": O.sql_ngram_jaccard_pairs(2, 0.3),
        "text_analysis": O.sql_text_analysis(),
        "ann_cosine_topk": O.sql_ann_topk(),
        "mmr_topk": O.sql_mmr_topk(),
        "cosupply_kcore": O.sql_cosupply_kcore(),
        "ann_lsh_topk": O.sql_ann_lsh_topk(),
        "ann_lsh_multiprobe": O.sql_ann_lsh_multiprobe_topk(),
        "ann_ivf_topk": O.sql_ann_ivf_topk(),
        "embedding_neardup": O.sql_embedding_neardup(0.99),
        "media_features": _sql_media_features(),
        "media_dims_audit": _sql_media_dims_audit(),
    }
