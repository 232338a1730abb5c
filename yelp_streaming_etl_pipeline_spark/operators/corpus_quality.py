"""Corpus-quality heuristics for LLM training-data pipelines:
Gopher/C4-style rule filters, document repetition profiling, and
RAG-style chunking.

The rule family follows the published Gopher data-quality rules
(Rae et al. 2021, "Scaling Language Models: ...", Appendix A) and
C4's line-level filters (Raffel et al. 2020), with bounds re-declared
here as engine constants (the fixture corpus is short-doc, so the
word-count floor is 10 rather than Gopher's 50; every threshold is a
named constant below, mirrored verbatim in the DuckDB oracle).

Scale shape:
- ``gopher_quality`` is a pure per-row map — one whole-stage-codegen
  projection over the scan, no shuffle, 100 TB cost = scan bandwidth.
- ``repetition_profile`` does its line-level stats array-locally
  (bounded by the per-document length cap) and its n-gram stats via
  ONE explode + ONE hash aggregate keyed by (doc_id, n, gram) — the
  shuffle carries ~tokens-per-doc rows per document and the key space
  is dominated by doc_id, so there is no global hot key; the window
  and final aggregate reuse the same (doc_id, n) partitioning, and
  the join back to the per-doc base is on doc_id.
- ``chunk_documents`` is a per-row explode (no shuffle): chunk starts
  are computed from the token count, so each task emits its own
  chunks independently — exactly how a 1000-executor chunking job
  should behave.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round
from ..functions.text_features import ws_trim

# ---- Gopher-rule constants (adapted bounds; see module docstring) ----
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
# Gopher's "stop word" presence rule: the document must contain at
# least MIN_REQUIRED_HITS distinct words from this list.
GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_REQUIRED_HITS = 2

BULLET_LINE_REGEX = r"^[-*•‣▪]"
ELLIPSIS_LINE_REGEX = r"(\.\.\.|…)$"
SYMBOL_REGEX = r"(#|\.\.\.|…)"

# ---- repetition-profile constants ----
TOP_GRAM_NS = (2, 3)  # "most frequent n-gram" char-fraction rules
DUP_GRAM_N = 5  # "duplicated n-gram" char-fraction rule

# ---- chunking constants ----
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def norm_text(c: Column) -> Column:
    """Lowercased, whitespace-collapsed text (shared normalization)."""
    return F.regexp_replace(F.lower(ws_trim(c)), r"\s+", " ")


def norm_words(c: Column) -> Column:
    """Word array of the normalized text; empty array for empty/null
    text (split('') would yield [''])."""
    n = norm_text(c)
    return F.when(
        F.length(n) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(n, " "))


def _lines(c: Column) -> Column:
    """Trimmed, non-empty lines of the ORIGINAL text (line-level rules
    are about layout, so they run pre-normalization)."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(c, F.lit("")), r"\n"), lambda l: F.trim(l)
        ),
        lambda l: F.length(l) > 0,
    )


def _frac(num: Column, den: Column, scale: int = 4) -> Column:
    return stable_round(
        F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        ),
        scale,
    )


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher/C4 rule metrics + the pass/fail verdict.

    One projection pipeline: every metric is native Column arithmetic
    over the word/line arrays of the row — no shuffle, no UDF. The
    arrays are bound as projection attributes first so the ~7 metric
    expressions share ONE normalization instead of re-running the
    whole-document regex each (constant-factor, but measured ~3x at
    50k chars).
    Reference scope: the reference's quality gauntlet is per-review
    rules (quality_engine.py:223-358); this is the corpus-level
    analog a training-data pipeline runs (north-star extension).
    """
    t = F.col(text_col)
    df = df.withColumn("_gq_words", norm_words(t)).withColumn(
        "_gq_lines", _lines(t)
    )
    words = F.col("_gq_words")
    lines = F.col("_gq_lines")
    wc = F.size(words)
    nl = F.size(lines)
    # total word chars = len(norm) - (wc-1) separators (exact, no HOF)
    word_chars = F.when(wc > 0, F.length(norm_text(t)) - (wc - 1)).otherwise(
        F.lit(0)
    )
    mean_wl = stable_round(
        F.when(wc > 0, word_chars.cast("double") / wc).otherwise(F.lit(0.0)), 4
    )
    symbols = F.regexp_count(F.coalesce(t, F.lit("")), F.lit(SYMBOL_REGEX))
    bullet = F.size(F.filter(lines, lambda l: l.rlike(BULLET_LINE_REGEX)))
    ellipsis = F.size(F.filter(lines, lambda l: l.rlike(ELLIPSIS_LINE_REGEX)))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    required = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    hits = F.size(F.array_intersect(F.array_distinct(words), required))

    out = df.select(
        F.col(id_col),
        wc.cast("int").alias("word_count"),
        mean_wl.alias("mean_word_len"),
        _frac(symbols, wc).alias("symbol_word_ratio"),
        _frac(bullet, nl).alias("bullet_line_frac"),
        _frac(ellipsis, nl).alias("ellipsis_line_frac"),
        _frac(alpha_words, wc).alias("alpha_word_frac"),
        hits.cast("int").alias("required_word_hits"),
    )
    passes = (
        F.col("word_count").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        )
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_WORD_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_LINE_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_LINE_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("required_word_hits") >= GOPHER_MIN_REQUIRED_HITS)
    )
    return out.withColumn("passes_gopher", passes)


def _gram_structs(words: Column, n: int) -> Column:
    """Array of (n, gram) structs for all word n-grams; empty when the
    document has fewer than n words."""
    wc = F.size(words)
    return F.when(
        wc >= n,
        F.transform(
            F.sequence(F.lit(1), wc - (n - 1)),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.array_join(F.slice(words, i, n), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics (the Gopher repetition rules):

    - ``dup_word_frac``: 1 - distinct/total words (array-local).
    - ``dup_line_frac`` / ``dup_line_char_frac``: fraction of lines
      (by count / by characters) whose exact line value occurs more
      than once in the document. Array-local O(L^2) over the line
      array — bounded because documents are length-capped; the
      explode path below is the unbounded-cardinality one.
    - ``top{2,3}gram_char_frac``: chars of the most frequent word
      n-gram (count * gram length, counting all occurrences) over the
      normalized document length. Tie rule: among grams with the
      maximal count, the one with the largest char footprint wins
      (max over cnt*len — declared, engine-independent).
    - ``dup5gram_char_frac``: count-weighted chars of all 5-grams
      occurring more than once, over normalized length (overlapping
      occurrences counted per occurrence — declared semantics).

    Plan: per-row base metrics (no shuffle) LEFT JOIN one
    explode -> count -> window+aggregate pipeline keyed by
    (doc_id, n, gram); the window and both aggregates share the same
    partitioning so Catalyst plans a single exchange for the gram arm.
    """
    t = F.col(text_col)
    # Bind the normalized word/line arrays as REAL projection
    # attributes before anything references them from inside a HOF
    # lambda: inline subexpressions in interpreted HOFs re-evaluate
    # per element, so passing norm_words(t) (a regex normalize +
    # split of the whole document) straight into _gram_structs'
    # transform re-ran it once PER GRAM — measured 298 s for 64 x
    # 50k-char docs vs ~2 s bound (the longdoc bench probe exists to
    # catch exactly this class).
    staged = df.withColumn("_rp_words", norm_words(t)).withColumn(
        "_rp_lines", _lines(t)
    )
    words = F.col("_rp_words")
    lines = F.col("_rp_lines")
    wc = F.size(words)
    nl = F.size(lines)
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, l: acc + F.length(l)
    )
    # chars in lines whose value repeats (all occurrences counted).
    # The lambda references the BOUND lines attribute — the
    # accumulator stays a scalar (Spark's fold deep-copies the
    # accumulator per step, so an array in it would be O(L^2) copies)
    dup_line_chars = F.aggregate(
        F.array_distinct(lines),
        F.lit(0),
        lambda acc, d: acc
        + F.when(
            F.size(F.filter(lines, lambda x: x == d)) > 1,
            F.size(F.filter(lines, lambda x: x == d)) * F.length(d),
        ).otherwise(F.lit(0)),
    )
    base = staged.select(
        F.col(id_col),
        F.length(norm_text(t)).alias("total_chars"),
        _frac(wc - F.size(F.array_distinct(words)), wc).alias(
            "dup_word_frac"
        ),
        _frac(nl - F.size(F.array_distinct(lines)), nl).alias(
            "dup_line_frac"
        ),
        _frac(dup_line_chars, line_chars).alias("dup_line_char_frac"),
    )

    all_ns = sorted({*TOP_GRAM_NS, DUP_GRAM_N})
    fanned = staged.select(
        F.col(id_col),
        F.explode(
            F.concat(*[_gram_structs(words, n) for n in all_ns])
        ).alias("g"),
    ).select(id_col, "g.n", "g.gram")
    counted = fanned.groupBy(id_col, "n", "gram").agg(
        F.count("*").alias("cnt")
    )
    counted = counted.withColumn("chars", F.col("cnt") * F.length("gram"))
    w = Window.partitionBy(id_col, "n")
    counted = counted.withColumn("mc", F.max("cnt").over(w))
    per_n = counted.groupBy(id_col, "n").agg(
        F.max(F.when(F.col("cnt") == F.col("mc"), F.col("chars"))).alias(
            "top_chars"
        ),
        F.sum(F.when(F.col("cnt") > 1, F.col("chars")).otherwise(0)).alias(
            "dup_chars"
        ),
    )
    pivoted = per_n.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(
                f"top{n}_chars"
            )
            for n in TOP_GRAM_NS
        ],
        F.max(F.when(F.col("n") == DUP_GRAM_N, F.col("dup_chars"))).alias(
            "dupn_chars"
        ),
    )
    joined = base.join(pivoted, id_col, "left")
    out = joined.select(
        id_col,
        "dup_word_frac",
        "dup_line_frac",
        "dup_line_char_frac",
        *[
            _frac(
                F.coalesce(F.col(f"top{n}_chars"), F.lit(0)),
                F.col("total_chars"),
            ).alias(f"top{n}gram_char_frac")
            for n in TOP_GRAM_NS
        ],
        _frac(
            F.coalesce(F.col("dupn_chars"), F.lit(0)), F.col("total_chars")
        ).alias(f"dup{DUP_GRAM_N}gram_char_frac"),
    )
    return out


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Fixed-size overlapping token-window chunking (the RAG /
    context-window packing shape): chunks of ``chunk_tokens`` words
    starting every ``chunk_tokens - overlap`` words; the last chunk
    may be short, and a document never emits a chunk that would add
    no new words. Empty documents emit no chunks.

    Pure per-row explode — chunk starts derive from the row's own
    token count, so the operator is a map: no shuffle at any scale.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    t = F.col(text_col)
    words = norm_words(t)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.lit(1), F.col("wc") - overlap),
        F.lit(step),
    )
    fanned = (
        df.select(F.col(id_col), words.alias("words"), F.size(words).alias("wc"))
        .filter(F.col("wc") > 0)
        .select(
            id_col, "words", "wc", F.explode(starts).alias("start_word")
        )
    )
    return fanned.select(
        id_col,
        ((F.col("start_word") - 1) / step).cast("int").alias("chunk_idx"),
        F.col("start_word").cast("int"),
        F.least(
            F.lit(chunk_tokens), F.col("wc") - F.col("start_word") + 1
        ).cast("int").alias("n_tokens"),
        F.array_join(
            F.slice(F.col("words"), F.col("start_word"), chunk_tokens), " "
        ).alias("chunk_text"),
    )


# ---- hashed-n-gram linear quality classifier ----
# The CCNet/DCLM-style move: a tiny linear model over hashed bag-of-
# n-gram features, run as a RELATIONAL MAP (explode -> hash -> weight
# lookup -> per-doc sum). Weights here are a deterministic function of
# the feature bucket so the whole operator is oracle-checkable; a
# trained fastText weight table drops in as a broadcast join without
# changing the plan shape. Integer weights summed exactly => order-
# independent scores (no float accumulation anywhere).
QC_BUCKETS = 4096
QC_WMOD = 2_000_001  # weights span [-1e6, 1e6] after the offset
QC_WOFF = 1_000_000
_QC_MULT = 2654435761


def _qc_bucket(gram: Column) -> Column:
    """md5-derived feature bucket (same kernel as sampling.hash_bucket
    so the DuckDB twin reproduces it exactly)."""
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
        % QC_BUCKETS
    )


def _qc_weight(bucket: Column) -> Column:
    """Deterministic integer weight in [-QC_WOFF, QC_WOFF]."""
    return (bucket * F.lit(_QC_MULT)) % F.lit(QC_WMOD) - F.lit(QC_WOFF)


def quality_classifier(docs: DataFrame) -> DataFrame:
    """Per-document linear score over hashed word uni+bigrams.

    Returns (doc_id, n_grams, qc_score, qc_label): qc_score is the
    mean feature weight (stable-rounded double in [-1, 1]), qc_label
    the sign. Documents with no words score 0.0 / false.

    Scale shape: one explode + one hash aggregate keyed by doc_id
    (map-side partial combine); the weight "lookup" is arithmetic on
    the bucket id, so there is no join at all. At 100 TB the cost is
    the n-gram explode — identical to repetition_profile's bound.

    The word array is bound as a projection attribute BEFORE the
    bigram transform references it: an inline norm_words(text) inside
    the lambda re-runs the whole-document regex normalization once
    per bigram (interpreted HOFs re-evaluate inline subexpressions
    per element — the longdoc-probe trap class).
    """
    staged = docs.withColumn("_qc_words", norm_words(F.col("text")))
    words = F.col("_qc_words")
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(words, i), F.element_at(words, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(words, bigrams)
    exploded = staged.select(
        "doc_id", F.explode_outer(grams).alias("gram")
    )
    scored = exploded.withColumn(
        "wq",
        F.when(
            F.col("gram").isNull(), F.lit(None).cast("long")
        ).otherwise(_qc_weight(_qc_bucket(F.col("gram")))),
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("wq").alias("n_grams"),
        F.coalesce(F.sum("wq"), F.lit(0)).alias("s"),
    )
    score = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        stable_round(
            F.col("s").cast("double")
            / (F.col("n_grams").cast("double") * F.lit(float(QC_WOFF))),
            6,
        )
    )
    return agg.select(
        "doc_id",
        "n_grams",
        score.alias("qc_score"),
        (F.col("s") > 0).alias("qc_label"),
    )


# ---------------- boilerplate line removal (C4/RefinedWeb shape) ----------------

BOILER_MAX_DF_PCT = 5  # a line in > this % of docs is boilerplate
BOILER_LINE_A = "all rights reserved."
BOILER_LINE_B = "subscribe to our newsletter for updates"


def with_synthetic_boilerplate(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Test-harness corpus builder: turns the single-line synthetic
    documents into multi-line pages with PLANTED boilerplate — every
    doc gains a site-wide footer line (df = 100%) and even-id docs a
    second promo line (df = 50%), mirroring the terms-of-service /
    subscribe chrome that line-level dedup exists to strip. The
    content line keeps position 1 so reassembly order is exercised."""
    extra = F.when(
        F.col(id_col) % 2 == 0,
        F.concat(F.lit("\n"), F.lit(BOILER_LINE_B)),
    ).otherwise(F.lit(""))
    return docs.withColumn(
        text_col,
        F.concat(
            F.col(text_col), F.lit("\n"), F.lit(BOILER_LINE_A), extra
        ),
    )


def drop_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_pct: int = BOILER_MAX_DF_PCT,
) -> DataFrame:
    """Corpus-frequency line filter (the C4 / RefinedWeb boilerplate
    rule): a LINE that appears in more than ``max_df_pct`` percent of
    documents is site chrome (nav, footers, cookie banners), not
    content — drop it from every document and reassemble the rest in
    original order.

    Relational shape, one pass each way:
      1. posexplode(split(text, '\\n')) — (doc, pos, line);
      2. line document-frequency: one groupBy(line) with
         count(DISTINCT doc) (map-side partial, line-keyed shuffle);
      3. the boilerplate set (high-df lines only — tiny by
         construction: at most 100/max_df_pct distinct lines can
         exceed the threshold) broadcasts back as an anti-join;
      4. ordered reassembly per doc: collect (pos, line) structs,
         array_sort, join — one doc-keyed shuffle.
    The df comparison is integer-exact (line_df * 100 > pct * n_docs
    — no double ratio), and n_docs rides in as a broadcast 1-row
    aggregate, not a driver collect.

    At 100 TB: group/join on xxhash64(line) instead of the raw
    string to cut shuffle width ~10x (collision risk 2^-64 per pair;
    the raw-line form here keeps the operator value-checkable
    against engines without the same hash). Documents that are 100%
    boilerplate survive with empty clean_text (LEFT join from the
    original corpus), so downstream length filters see them rather
    than silently losing rows.

    Returns (id, clean_text, n_kept, n_dropped)."""
    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct("_id").alias("line_df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("line_df") * 100 > F.lit(max_df_pct) * F.col("n_docs"))
        .select("line")
    )
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    reassembled = (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    orig = docs.select(
        F.col(id_col).alias("_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
    )
    return (
        orig.join(reassembled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


# ---------------- CCNet-style bigram-LM cross-entropy filter ----------------
#
# Wenzek et al. 2020 ("CCNet: Extracting High Quality Monolingual
# Datasets from Web Crawl Data") rank web documents by the perplexity
# of a language model trained on a curated reference corpus and keep
# the low-perplexity head — THE standard LM-quality gate in web-scale
# training-data pipelines (CCNet, RedPajama, FineWeb all run one).
# Here the LM is a bigram model over the reference corpus and every
# log2 is the dyadic bitlen quantization the BM25/DSIR/unigram-LM
# family already pins, so both engines agree bit for bit:
#   q(w2|w1) = bitlen(cb(w1,w2)) - bitlen(cu(w1))   (<= 0 always,
#              since a bigram count never exceeds its prefix count)
#   OOV bigram -> -bitlen(TB), TB = total reference bigrams (the
#              ~log2(1/TB) floor probability)
# Cross-entropy in millibits/bigram = (-sum q) * 1000 div n_bigrams —
# non-negative operands, so truncating div == flooring // on both
# engines.


def _doc_bigrams(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, w1, w2): every ADJACENT word pair of the normalized
    text, in order of occurrence (not distinct — LM counts are over
    occurrences). Built per document as two shifted slices of the
    split-once word array zipped into structs — the constant-width
    shingle discipline; docs under 2 words emit nothing."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        norm_words(F.col(text_col)).alias("ws"),
    ).filter(F.size("ws") >= 2)
    pairs = F.zip_with(
        F.slice("ws", 1, F.size("ws") - 1),
        F.slice("ws", 2, F.size("ws") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return base.select(
        "doc_id", F.explode(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def _bigram_counts(bigrams: DataFrame) -> DataFrame:
    """The distinct-bigram count table (w1, w2, cb) — the whole model
    state of both bigram LMs."""
    return bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("cb")
    )


def bigram_lm_scores(
    reference: DataFrame,
    scored: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents by bigram-LM cross-entropy under a REFERENCE
    corpus model (the CCNet quality gate; see the section comment for
    the exact dyadic quantization). Returns one row per scored doc
    with >= 1 bigram: (doc_id, n_bigrams, n_oov, lm_q_sum,
    mbits_per_bigram) — lm_q_sum the summed quantized log2
    conditional likelihood (<= 0), mbits_per_bigram the integer
    millibits-per-bigram cross-entropy (lower = more reference-like;
    CCNet keeps the low-perplexity head). Sub-2-word docs are
    unscored, as in CCNet's paragraph gate.

    100 TB shape: the reference model is two count aggregates keyed
    by (w1, w2) and (w1); the prefix table joins the bigram table on
    w1 (both reference-sized); the scored bigram stream equi-joins
    the weight table on (w1, w2) — a plain shuffle join AQE will
    broadcast when the reference is small — and one doc_id-keyed
    aggregate finishes. No pair join, no window, no float log."""
    counts = (
        _bigram_counts(_doc_bigrams(reference, text_col, id_col))
        # the readout consumes the model table three times (prefix
        # totals, the weight join's build side, the OOV floor), and
        # different downstream keys defeat exchange reuse — without
        # this the reference-corpus bigram extraction executes three
        # times per scoring pass. Distinct-bigram-sized (vocabulary,
        # not corpus), post-exchange: the winning checkpoint class.
        # The streaming form maintains its own eager-checkpointed
        # state table and bypasses this builder.
        .localCheckpoint(eager=False)
    )
    return _bigram_lm_readout(
        counts, _doc_bigrams(scored, text_col, id_col)
    )


def _bigram_lm_readout(counts: DataFrame, sbg: DataFrame) -> DataFrame:
    """Score the (doc_id, w1, w2) bigram stream ``sbg`` against the
    reference model held ONLY as the distinct-bigram count table
    ``counts`` (w1, w2, cb) — prefix totals and the OOV floor derive
    from it, so it is the one piece of state the streaming form has
    to maintain."""
    uni = counts.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cu")
    )
    wts = counts.join(uni, "w1").select(
        "w1",
        "w2",
        (
            F.length(F.bin(F.col("cb"))) - F.length(F.bin(F.col("cu")))
        )
        .cast("long")
        .alias("q"),
    )
    tb = counts.agg(
        (-F.length(F.bin(F.greatest(F.sum("cb"), F.lit(1)))))
        .cast("long")
        .alias("q_oov")
    )
    joined = sbg.join(wts, ["w1", "w2"], "left").crossJoin(
        F.broadcast(tb)
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("q").isNull().cast("long")).alias("n_oov"),
            F.sum(F.coalesce(F.col("q"), F.col("q_oov")))
            .cast("long")
            .alias("lm_q_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            "lm_q_sum",
            F.expr("((-lm_q_sum) * 1000) div n_bigrams")
            .cast("long")
            .alias("mbits_per_bigram"),
        )
    )


def bigram_lm_maintain_stream(
    spark,
    reference: DataFrame,
    scored: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_slices: int = 3,
) -> DataFrame:
    """Streaming bigram-LM MAINTENANCE: the reference corpus arrives
    in micro-batches; each document is bigram-extracted exactly once,
    at arrival (the text scan is the dominant cost and never re-runs)
    — state is the distinct-bigram count table (w1, w2, cb), bounded
    by the reference's observed bigram VOCABULARY, not its length,
    and merged per epoch with one union + sum aggregate.

    The readout is NOT append-only: the dyadic weights and the OOV
    floor move with corpus totals as the model grows (one more
    occurrence can flip a bitlen), re-scoring every scored document —
    so each epoch re-derives the weight tables from the accumulated
    counts, the same bounded per-epoch-recompute discipline as BM25 /
    CDC maintenance. The scored corpus is fixed and extracted once.

    Per-epoch invariant asserted: total bigram mass in state equals
    the sum of arrived batch masses (count conservation through the
    merge).

    Final epoch equals batch bigram_lm_scores over the whole
    reference, so the entry shares its oracle twin."""
    from ..streaming.replay import count_merge, maintain

    sbg = _doc_bigrams(scored, text_col, id_col).localCheckpoint(
        eager=True
    )
    return maintain(
        spark,
        reference.select(F.col(id_col), F.col(text_col)),
        lambda b: _bigram_counts(_doc_bigrams(b, text_col, id_col)),
        lambda acc, *_: _bigram_lm_readout(acc, sbg),
        order_cols=[id_col],
        n_slices=n_slices,
        merge=count_merge(["w1", "w2"], "cb"),
    )


KN_SCALE_BITS = 16  # exact floor(log2(num/den)) down to 2^-16


def kn_bigram_scores(
    reference: DataFrame,
    scored: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated KNESER-NEY bigram-LM scores (Kneser & Ney 1995;
    the smoothing real LM quality gates use where bigram_lm_scores
    is the raw-MLE baseline) — integer-exact, no float log:

      P(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                 + D * N1+(w1,*)/c(w1) * Pcont(w2),
      Pcont(w2) = N1+(*,w2) / N1+(*,*),  D = 3/4

    with N1+(w1,*) the distinct continuations of w1, N1+(*,w2) the
    distinct left-contexts of w2, and N1+(*,*) the distinct bigram
    type count. Absolute discounting moves mass from seen bigrams to
    the continuation distribution — the fix for raw MLE's zero
    probability on unseen-but-plausible pairs (Pcont famously ranks
    'francisco' low despite its high unigram count: it follows only
    'san'). A bigram whose w1 was never seen backs off fully to
    Pcont(w2).

    Quantization: with D = 3/4 everything is one rational per
    bigram — seen w1: num = max(4c-3, 0)*T + 3*N1l(w1)*N1r(w2),
    den = 4*c(w1)*T (T the bigram type count); unseen w1:
    num = N1r(w2), den = T — and the per-bigram score is the EXACT
    floor(log2(num/den)) via the DSIR scale-bits trick
    (bitlen(greatest((num << 16) div den, 1)) - 17), saturating at
    2^-16. Documented bound: num < 2^47 — i.e. c(w1,w2) * T below
    ~2^45 — holds for any reference under ~2^22 distinct bigram
    types with counts under ~2^22; beyond that, shard the model.

    Returns per scored doc (>= 1 bigram): (doc_id, n_bigrams, n_oov
    [bigrams whose PAIR is unseen — the discount/backoff class],
    kn_q_sum, mbits_per_bigram).

    100 TB shape: the model is three keyed aggregates over the
    reference bigram stream (pair counts, per-w1 totals+fanouts,
    per-w2 fanins) plus a 1-row type count; the scored stream
    equi-joins them (AQE broadcasts small models) and one doc-keyed
    aggregate finishes. No pair join, no window, no float log."""
    big = (
        _bigram_counts(_doc_bigrams(reference, text_col, id_col))
        # _kn_readout consumes the pair-count table four times (uni
        # totals/fanouts, fanins, type count, the scored join) under
        # different keys — materialize the vocabulary-sized table once
        # so the reference bigram extraction runs once, not four
        # times. The streaming form passes its own eager-checkpointed
        # state and bypasses this builder.
        .localCheckpoint(eager=False)
    )
    return _kn_readout(big, _doc_bigrams(scored, text_col, id_col))


def _kn_readout(big: DataFrame, sbg: DataFrame) -> DataFrame:
    """Score the (doc_id, w1, w2) bigram stream against the KN model
    held ONLY as the distinct-bigram count table (w1, w2, cb) — the
    per-w1 totals/fanouts, per-w2 fanins, and the type count all
    re-derive from it, so it is the complete maintenance state
    (exactly _bigram_lm_readout's property, with the KN stats)."""
    s = KN_SCALE_BITS
    uni = big.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cu"),
        F.count("*").cast("long").alias("n1l"),
    )
    cont = big.groupBy("w2").agg(
        F.count("*").cast("long").alias("n1r")
    )
    types = big.agg(F.count("*").cast("long").alias("nbt"))
    joined = (
        sbg.join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
    )
    nbt1 = F.greatest(F.col("nbt"), F.lit(1))  # empty-reference guard
    num = F.when(
        F.col("cu").isNotNull(),
        F.greatest(4 * F.coalesce(F.col("cb"), F.lit(0)) - 3, F.lit(0))
        * nbt1
        + 3 * F.col("n1l") * F.coalesce(F.col("n1r"), F.lit(0)),
    ).otherwise(F.coalesce(F.col("n1r"), F.lit(0)))
    den = F.when(
        F.col("cu").isNotNull(), 4 * F.col("cu") * nbt1
    ).otherwise(nbt1)
    staged = joined.withColumn(
        "_num", num.cast("long")
    ).withColumn("_den", den.cast("long"))
    q = (
        F.length(
            F.bin(
                F.greatest(
                    F.expr(f"(_num * {1 << s}) div _den"), F.lit(1)
                )
            )
        ).cast("long")
        - F.lit(s + 1)
    )
    scored = staged.withColumn("_q", q).withColumn(
        "_oov", F.col("cb").isNull().cast("long")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_oov").cast("long").alias("n_oov"),
            F.sum("_q").cast("long").alias("kn_q_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_oov",
            "kn_q_sum",
            F.expr("((-kn_q_sum) * 1000) div n_bigrams")
            .cast("long")
            .alias("mbits_per_bigram"),
        )
    )


def kn_bigram_maintain_stream(
    spark,
    reference: DataFrame,
    scored: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_slices: int = 3,
) -> DataFrame:
    """Streaming KNESER-NEY model MAINTENANCE — the
    bigram_lm_maintain_stream discipline with the KN readout: the
    reference arrives in micro-batches, each doc bigram-extracted
    once at arrival; state is the distinct-bigram count table,
    merged per epoch with one union+sum (mass-conservation
    asserted). The KN stats are even MORE re-derive-bound than raw
    MLE: discount mass, continuation fanins/fanouts, and the type
    count all move with every new distinct pair, re-ranking every
    scored doc — so each epoch re-reads the accumulated table
    through _kn_readout. Final epoch equals batch kn_bigram_scores,
    so the entry shares its oracle twin."""
    from ..streaming.replay import count_merge, maintain

    sbg = _doc_bigrams(scored, text_col, id_col).localCheckpoint(
        eager=True
    )
    return maintain(
        spark,
        reference.select(F.col(id_col), F.col(text_col)),
        lambda b: _bigram_counts(_doc_bigrams(b, text_col, id_col)),
        lambda acc, *_: _kn_readout(acc, sbg),
        order_cols=[id_col],
        n_slices=n_slices,
        merge=count_merge(["w1", "w2"], "cb"),
    )


# ---------------- threshold-sweep filter evaluation (ROC table) ----------------

ROC_STEP = 8  # score units per bin
ROC_BINS = 1024  # bin count cap — the window below is CONSTANT-bounded


def score_roc_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    step: int = ROC_STEP,
    n_bins: int = ROC_BINS,
) -> DataFrame:
    """Operating-characteristic table of an INTEGER badness score
    against boolean ground-truth labels — the calibration sweep a
    pipeline runs before picking a filter threshold (CCNet keeps the
    low-perplexity head; WHERE to cut is an eval question). For every
    occupied score bin b the row reports the confusion counts of the
    rule "flag BAD iff score >= thr_score", thr_score = (b+1)*step —
    exactly the docs in bins > b, so the sweep is integer-exact.
    Precondition: the score is a NON-NEGATIVE integer (truncating div
    and flooring // agree only there; millibit cross-entropies are).

    Scale shape: one groupBy(bin) count aggregate (<= n_bins rows, a
    CONSTANT — scores clamp into the last bin), then cumulative sums
    over the bounded bin table (the adjudicated small-table window
    class, never data-proportional) crossed with a broadcast 1-row
    total. Returns (thr_score, tp, fp, fn, tn, precision, recall,
    f1); f1 via the single exact ratio 2tp/(2tp+fp+fn).

    CLAMPING CAVEAT (ADVICE r8): when any score >= n_bins*step, the
    overflow lands in the last bin, so the FINAL row (thr_score =
    n_bins*step) counts those docs as un-flagged even though their
    true score meets the threshold — its tp is a LOWER bound and its
    fn an upper bound under clamping (both engines share the
    behavior, deliberately, so the twin stays exact). Every
    non-final row is exact regardless — and a threshold you'd
    actually deploy sits in the occupied interior of the sweep, not
    at the clamp boundary. Size n_bins*step above the score range
    when the top row must be exact (heavily-OOV documents can exceed
    1024*8 millibits under the default bins)."""
    y = F.col(label_col).cast("boolean")
    binned = (
        df.select(
            F.least(
                F.lit(n_bins - 1),
                F.expr(f"{score_col} div {step}"),
            )
            .cast("long")
            .alias("bin"),
            y.alias("y"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.col("y").cast("long")).alias("n_pos"),
            F.sum((~F.col("y")).cast("long")).alias("n_neg"),
        )
        # consumed twice (totals + sweep) under different shapes, so
        # exchange reuse never fires and the whole upstream scored
        # build would execute twice; <= n_bins rows — materializing is
        # free relative to one rescore of the corpus
        .localCheckpoint(eager=False)
    )
    tot = binned.agg(
        F.coalesce(F.sum("n_pos"), F.lit(0)).alias("pp"),
        F.coalesce(F.sum("n_neg"), F.lit(0)).alias("nn"),
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    swept = (
        binned.crossJoin(F.broadcast(tot))
        .select(
            ((F.col("bin") + 1) * step).cast("long").alias("thr_score"),
            F.coalesce(F.sum("n_pos").over(w), F.lit(0))
            .cast("long")
            .alias("tp"),
            F.coalesce(F.sum("n_neg").over(w), F.lit(0))
            .cast("long")
            .alias("fp"),
            F.col("pp"),
            F.col("nn"),
        )
    )
    tp, fp = F.col("tp"), F.col("fp")
    fn = (F.col("pp") - tp).cast("long")
    tn = (F.col("nn") - fp).cast("long")
    safe = lambda num, den: F.when(  # noqa: E731
        den > 0, stable_round(num.cast("double") / den.cast("double"), 6)
    ).otherwise(F.lit(None).cast("double"))
    return swept.select(
        "thr_score",
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        tn.alias("tn"),
        safe(tp, tp + fp).alias("precision"),
        safe(tp, F.col("pp")).alias("recall"),
        safe(2 * tp, 2 * tp + fp + fn).alias("f1"),
    )


def quality_cut_mix_shift(
    df: DataFrame,
    score_col: str,
    group_col: str,
    step: int = ROC_STEP,
    n_bins: int = ROC_BINS,
) -> DataFrame:
    """Per-group SURVIVAL CURVE under a quality cut — the
    mixture-shift table a pipeline reads before applying one global
    perplexity threshold: a single corpus-wide cut silently reweights
    sources (CCNet keeps the low-perplexity head PER LANGUAGE for
    exactly this reason), and this table shows, for every group and
    occupied score bin, how many of the group's documents survive
    "keep iff score < thr_score", thr_score = (b+1)*step. Returns
    (group, thr_score, n_docs, n_kept, keep_frac); scores clamp into
    the final bin (its row aggregates the tail), and the score must
    be a non-negative integer — the score_roc_table disciplines.

    Scale shape: one (group, bin) count aggregate, a per-group total,
    and a group-PARTITIONED cumulative sum over <= n_bins rows per
    group — bounded windows, no data-proportional single partition."""
    binned = (
        df.select(
            F.col(group_col).alias("g"),
            F.least(
                F.lit(n_bins - 1), F.expr(f"{score_col} div {step}")
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("g", "bin")
        .agg(F.count("*").cast("long").alias("n"))
        # consumed twice (per-group totals + sweep); bounded at
        # |groups| x n_bins rows — same rationale as score_roc_table
        .localCheckpoint(eager=False)
    )
    tot = binned.groupBy("g").agg(
        F.sum("n").cast("long").alias("n_docs")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = binned.join(tot, "g").select(
        F.col("g").alias(group_col),
        ((F.col("bin") + 1) * step).cast("long").alias("thr_score"),
        "n_docs",
        F.sum("n").over(w).cast("long").alias("n_kept"),
    )
    return swept.select(
        group_col,
        "thr_score",
        "n_docs",
        "n_kept",
        stable_round(
            F.col("n_kept").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("keep_frac"),
    )


def quality_quota_sample(
    df: DataFrame,
    score_col: str,
    group_col: str,
    unit_col: str,
    budget: int = 24,
    step: int = ROC_STEP,
    n_bins: int = ROC_BINS,
) -> DataFrame:
    """The end-to-end "pick a cut, rebalance, sample" step a
    CCNet/DCLM-style pipeline runs after reading the ROC and
    mixture-shift tables: derive ONE global quality threshold from
    the data (the tightest cut keeping at least half the scored
    corpus — min thr_score with 2 * cumulative-kept >= total, over
    the same clamped step/n_bins binning as score_roc_table), keep
    the documents below it, re-derive the per-group mixture from the
    SURVIVORS (the cut silently reweights sources — that is the
    point of quality_cut_mix_shift), allocate a total sample budget
    across groups by largest remainder over the post-cut counts, and
    draw each group's quota with the deterministic bottom-k
    (md5-rank) primitive. Returns one row per sampled unit:
    (g, unit, thr_score, k_g) — the threshold and the group's quota
    carried for audit.

    Integer-exact in both engines (non-negative scores, truncating
    div == flooring //). Scale shape: one bin-count aggregate +
    cumulative sum over <= n_bins rows (bounded window), the 1-row
    threshold broadcast into the survivor filter, a strata-sized
    allocation table broadcast into the rank cut, and ONE group-keyed
    window with a constant rank bound (WindowGroupLimit) — the exact
    composition of score_roc_table's binning with
    stratified_budget_sample's draw, no new shuffle classes.

    Degenerate-clamp caveat (shared with score_roc_table): the
    threshold derivation counts CLAMPED bins, so if the chosen bin is
    the final one, docs clamped into it sit above the raw-score
    filter — both engines share the behavior; with the default
    1024 x 8 range the chosen cut sits in the occupied interior."""
    from .sampling import stratified_budget_alloc

    # the scored input feeds THREE independent consumers (threshold
    # binning, survivor counts, the ranked draw) whose differing keys
    # defeat exchange reuse — without this the whole upstream scoring
    # pipeline (e.g. a full bigram-LM model build + readout) executes
    # three times per call. Materialize the narrow projection once;
    # doc-sized but only three columns wide.
    df = df.select(score_col, group_col, unit_col).localCheckpoint(
        eager=False
    )
    binned = (
        df.select(
            F.least(F.lit(n_bins - 1), F.expr(f"{score_col} div {step}"))
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = binned.agg(F.sum("n").cast("long").alias("t"))
    cum_w = (
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    )  # <= n_bins rows — the adjudicated bounded-window class
    thr = (
        binned.withColumn("cum", F.sum("n").over(cum_w))
        .crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("t"))
        .agg(
            F.min((F.col("bin") + 1) * step).cast("long").alias("thr_score")
        )
    )
    staged = (
        df.crossJoin(F.broadcast(thr))
        .filter(F.col(score_col) < F.col("thr_score"))
        .select(
            F.col(group_col).alias("g"),
            F.col(unit_col).alias("unit"),
            F.md5(F.col(unit_col).cast("string")).alias("h"),
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
