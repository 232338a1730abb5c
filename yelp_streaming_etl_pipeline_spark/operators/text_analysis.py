"""Text-analysis operators for training-data pipelines (north-star
extension): token counting, document fingerprinting, quality scoring.

Everything is native Column arithmetic (one codegen'd map stage; the
100 TB cost is scan bandwidth). Language ID lives in
functions/language.py (same family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round
from ..functions.text_features import ws_trim

# BPE-ish pre-tokenization: letter runs, digit runs, single
# non-alphanumeric glyphs — the classic GPT-2-style pre-split shape,
# expressed RE2-and-Java-compatibly.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Compact English stopword set for quality scoring (public knowledge).
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "was", "on", "with", "as", "this", "at", "by",
]


def whitespace_token_count(c: Column) -> Column:
    t = ws_trim(c)
    return (
        F.when(c.isNull() | (F.length(t) == 0), F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("int")
    )


def bpe_token_count(c: Column) -> Column:
    """Count of BPE-style pre-tokens (letter runs / digit runs /
    punctuation glyphs)."""
    return F.regexp_count(F.coalesce(c, F.lit("")), F.lit(TOKEN_REGEX)).cast("int")


def doc_fingerprint(c: Column) -> Column:
    """Whole-document fingerprint: md5 of the normalized text
    (lowercase, whitespace collapsed)."""
    return F.md5(
        F.regexp_replace(F.lower(ws_trim(c)), r"\s+", " ")
    )


def winnow_norm_chars(c: Column) -> Column:
    """split(normalized_text, '') — the char array
    winnow_fingerprint_from_chars folds over. Must be projected as a
    BOUND attribute (its own select/withColumn stage) before the
    fold: attribute references inside a HOF lambda hit the
    materialized row value at O(1) per access, while INLINE
    subexpressions re-evaluate per element."""
    return F.split(
        F.regexp_replace(F.lower(ws_trim(c)), r"\s+", " "), ""
    )


def winnow_fingerprint_from_chars(chars: Column, gram: int = 8) -> Column:
    """Locality-sensitive fingerprint: the minimum md5 over all
    character 8-grams of the normalized text (a 1-fingerprint
    winnowing scheme — robust to local edits, cheap to compute).
    ``chars`` must be a BOUND attribute holding winnow_norm_chars(c).

    O(n * gram) per document. Two traps, both measured, both avoided:
    - ``substr(i, gram)`` walks the UTF8String from the head per call
      -> O(n^2) compute (the dedup._chunk_starts trap); windows are
      rebuilt from the array via slice + concat_ws instead;
    - anything DOCUMENT-SIZED inside the fold accumulator (the text,
      or the char array itself) is DEEP-COPIED by Spark's aggregate
      on every step (InternalRow.copyValue -> GenericArrayData/
      UTF8String.copy, confirmed by thread dump) -> O(n^2) copies;
      the accumulator here is only the 32-char running-minimum
      digest, and the array lives in the enclosing row.

    Window content is identical to the substr form for BMP text
    (split('') yields UTF-16 units; the corpus is BMP)."""
    n = F.size(chars)
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - (gram - 1))),
        F.lit(None).cast("string"),
        lambda acc, i: F.least(
            F.coalesce(acc, F.lit("g")),  # 'g' > any hex digest
            F.md5(F.concat_ws("", F.slice(chars, i, gram))),
        ),
    )


def stopword_ratio(c: Column) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    words = F.split(ws_trim(F.lower(F.coalesce(c, F.lit("")))), r"\s+")
    nw = F.size(words)
    sw = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return F.when(
        c.isNull() | (F.length(ws_trim(c)) == 0), F.lit(0.0)
    ).otherwise(sw.cast("double") / nw.cast("double"))


def text_quality_score(c: Column) -> Column:
    """Composite document-quality heuristic in [0,1]:
    + length in a healthy band, + some stopwords (natural language),
    - punctuation/digit-heavy. Weights are declared constants."""
    n = F.coalesce(F.length(c), F.lit(0))
    len_score = (
        F.when((n >= 200) & (n <= 8000), F.lit(1.0))
        .when(n < 200, n.cast("double") / F.lit(200.0))
        .otherwise(F.lit(8000.0) / n.cast("double"))
    )
    sw = stopword_ratio(c)
    sw_score = F.when(sw >= 0.05, F.lit(1.0)).otherwise(sw / F.lit(0.05))
    punct = F.regexp_count(F.coalesce(c, F.lit("")), F.lit(r"[^A-Za-z0-9\s]"))
    punct_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        punct.cast("double") / n
    )
    punct_score = F.when(punct_ratio <= 0.1, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (punct_ratio - F.lit(0.1)) * F.lit(2.0))
    )
    digits = F.regexp_count(F.coalesce(c, F.lit("")), F.lit("[0-9]"))
    digit_ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        digits.cast("double") / n
    )
    digit_score = F.when(digit_ratio <= 0.2, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (digit_ratio - F.lit(0.2)) * F.lit(2.0))
    )
    return stable_round(
        F.lit(0.4) * len_score
        + F.lit(0.2) * sw_score
        + F.lit(0.2) * punct_score
        + F.lit(0.2) * digit_score,
        4,
    )


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full text-analysis block over a documents table. The winnow
    char array is bound as its own projection stage first — see
    winnow_fingerprint_from_chars for why it must not be inlined."""
    t = F.col(text_col)
    staged = df.withColumn("_wchars", winnow_norm_chars(t))
    return staged.select(
        "doc_id",
        whitespace_token_count(t).alias("ws_tokens"),
        bpe_token_count(t).alias("bpe_tokens"),
        doc_fingerprint(t).alias("fingerprint"),
        winnow_fingerprint_from_chars(F.col("_wchars")).alias("winnow_fp"),
        stable_round(stopword_ratio(t), 6).alias("stopword_ratio"),
        text_quality_score(t).alias("quality_score"),
    )


def top_bigrams(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus n-gram statistics: document frequency of word bigrams,
    top-k. Global top-k compiles to TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows) — no full sort shuffle at any scale."""
    from .dedup import word_shingles

    exploded = df.select(
        F.explode(word_shingles(F.col(text_col), 2)).alias("bigram")
    )
    return (
        exploded.groupBy("bigram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("bigram"))
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-k keywords by tf-idf with LINEAR idf
    (n_docs / doc_freq, no logarithm): ln() is not guaranteed
    correctly-rounded and differs across libm implementations in the
    last ulp, which can flip ranks between engines — the linear
    variant is bit-exact everywhere and order-equivalent to log idf
    for ranking within a document when doc frequencies differ.

    Scale shape: tokenize ONCE into tf (doc, term) — tf rows are
    already the distinct (doc, term) pairs, so doc_freq is a count
    over a term-partitioned window on tf, not a second tokenization +
    groupBy + join. One shuffle for tf, one for the term window, a
    broadcast of the 1-row corpus count, and a per-doc window over
    that doc's terms only."""
    tokens = df.select(
        "doc_id",
        F.explode(
            F.split(ws_trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    ).filter(F.length("term") > 0)
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    total = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn(
            "doc_freq", F.count("*").over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs").cast("double")) / F.col("doc_freq"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", "rank", "term", stable_round(F.col("score"), 6).alias("score")
        )
    )


def bigram_lift(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Collocation mining by LIFT: ``(N * c(xy)) / (c(x) * c(y))`` —
    how much more often the bigram occurs than independence predicts.
    This is PMI without the logarithm: ln() is not correctly-rounded
    and differs across libm implementations in the last ulp (same
    reasoning as tfidf_keywords' linear idf), while lift is ONE IEEE
    division of exact BIGINT products — bit-identical in every
    engine, and order-equivalent to PMI for ranking.

    Occurrence counts (not document frequencies): bigrams with
    multiplicity via shifted-slice zip (evaluated once per row — see
    dedup.word_shingles for why not element_at-in-lambda), unigrams
    via one explode. ``min_count`` suppresses noise pairs; top-k by
    (lift desc, bigram asc) compiles to TakeOrderedAndProject.

    Scale shape: two hash aggregates (unigram, bigram counts), one
    broadcast of the 1-row total, two broadcast-able joins of bigram
    counts onto unigram counts keyed by word. Nothing quadratic.
    """
    from ..functions.rounding import stable_round
    from ..functions.text_features import ws_trim

    words = F.split(ws_trim(F.lower(F.col(text_col))), r"\s+")
    staged = df.select(words.alias("ws"))
    uni = (
        staged.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n"))
    m = F.size("ws") - 1
    pairs = (
        staged.filter(F.size("ws") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("ws", 1, m),
                    F.slice("ws", 2, m),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cxy"))
        .filter(F.col("cxy") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("cxy").alias("pair_count"),
            stable_round(
                (F.col("n") * F.col("cxy")).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("bigram"))
        .limit(k)
    )


BM25_K = 20  # documents returned
BM25_QUERY_TERMS = 5  # corpus-derived query size
BM25_DL_CAP = 500_000  # per-doc token clamp: keeps the int64 score
# numerator below 2^63 for ANY document length (see _bm25_from_postings)


def _bm25_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf): the tokenize-once postings table every
    BM25 readout derives from — per-doc length, corpus totals, query
    terms and document frequencies are ALL re-derivable from it by
    keyed aggregates (dl = sum tf per doc, term count = sum tf per
    term), so it is the complete text-free state for incremental
    maintenance."""
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
        ).alias("term"),
    ).filter(F.col("term") != "")
    return words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def _bm25_from_postings(
    postings: DataFrame,
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
    query_postings: DataFrame | None = None,
) -> DataFrame:
    """BM25 readout over an (accumulated) postings table — see
    bm25_topk for the integer-exact scoring derivation.

    dl and tf are clamped at BM25_DL_CAP (500k tokens ≈ 2 MB of text
    per document): with the clamp, the score numerator is bounded by
    64 * 22 * 1000 * CAP * 10*CAP ≈ 3.5e18 < 2^63, so int64 never
    overflows at ANY corpus size or document length. BM25's tf
    saturation makes the clamp semantically negligible (a 500k-token
    document scores within fixed-point resolution of an unclamped
    one), and below the cap values are bit-identical.

    ``query_postings`` (optional) sources the query-term set from a
    DIFFERENT corpus's postings (bm25_cross_topk); df/dl/avgdl stay
    derived from ``postings`` — the corpus being ranked."""
    dl = postings.groupBy("doc_id").agg(
        F.least(F.sum("tf"), F.lit(BM25_DL_CAP)).alias("dl")
    )
    totals = dl.agg(
        F.sum("dl").alias("T"), F.count("*").alias("N")
    )
    # A = (10 T) div N — avgdl in tenths of a token, one tiny row
    consts = totals.select(
        F.expr("(10 * T) div N").alias("A"), F.col("N")
    )
    qsrc = postings if query_postings is None else query_postings
    qterms = (
        qsrc.groupBy("term")
        .agg(F.sum("tf").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(n_query_terms)
        .select("term")
    )
    tf = postings.join(F.broadcast(qterms), "term").select(
        "doc_id",
        "term",
        F.least(F.col("tf"), F.lit(BM25_DL_CAP)).alias("tf"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = dfreq.crossJoin(F.broadcast(consts)).select(
        "term",
        F.length(
            F.bin(F.expr("(2 * N + 2) div (2 * df + 1)"))
        ).cast("long").alias("idf_q"),
        F.col("A"),
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.expr(
                "(idf_q * 22 * tf * A * 1000) div "
                "(10 * A * tf + 3 * A + 90 * dl)"
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("s").alias("bm25_q"), F.count("*").alias("n_terms"))
        .orderBy(F.desc("bm25_q"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
) -> DataFrame:
    """Integer-exact BM25 document ranking (k1 = 1.2, b = 0.75) — the
    lexical-retrieval staple a training-data pipeline runs for
    query-relevance filtering and eval-set mining. Self-contained: the
    query is the corpus's ``n_query_terms`` most frequent tokens
    (pinned count DESC, term ASC), so the entry needs no external
    input.

    Engine-exact scoring with NO float log or division (ln() is not
    correctly rounded across libms — same discipline as tfidf_keywords
    / bigram_lift):
    - idf_q: dyadic Lucene-style idf — bit length of the floored
      ratio (2N + 2) div (2 df + 1), i.e. floor(log2(1 +
      (N - df + 0.5)/(df + 0.5))) + 1; always >= 1, integer-exact;
    - avgdl quantized once to tenths: A = (10 T) div N;
    - tf saturation as one integer rational: with k1 = 6/5, b = 3/4,
      tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) scaled by 10*A gives
      num = 22 tf A, den = 10 A tf + 3 A + 90 dl — exact longs whose
      magnitude is bounded by PER-DOC quantities (never corpus
      totals), with dl/tf clamped at BM25_DL_CAP (500k tokens) so the
      bound holds unconditionally: no int64 overflow at any corpus
      size OR document length (clamp is bit-identical below the cap
      and within fixed-point resolution above it — tf saturation);
    - per-term score = (idf_q * 22 tf A * 1000) div den, summed per
      doc; the 1000 is fixed-point resolution.

    Scale shape: one tokenize+count pass (hash aggregates), query
    terms broadcast (n_query_terms rows), scoring touches only
    (doc, query-term) postings, and the top-k compiles to
    TakeOrderedAndProject — no global sort."""
    return _bm25_from_postings(
        _bm25_postings(df, text_col, id_col), n_query_terms, k
    )


def bm25_cross_topk(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
) -> DataFrame:
    """CROSS-CORPUS BM25 — the eval-mining / decontamination-audit
    shape: the query-term set comes from a TARGET corpus (its
    n_query_terms most frequent tokens, count DESC term ASC) while
    document frequencies, document lengths and avgdl come from the
    corpus being RANKED — "which of my training docs best match what
    the eval set talks about". Same integer-exact scoring as
    bm25_topk (shared _bm25_from_postings readout, BM25_DL_CAP
    clamp); a query term absent from the ranked corpus contributes
    no postings and silently drops, identically in both engines.

    Scale shape: one tokenize+count pass per corpus; the target-side
    aggregate reduces to n_query_terms broadcast rows, so the target
    corpus never shuffles against the ranked one — everything
    downstream is the shared readout (broadcast joins +
    TakeOrderedAndProject)."""
    return _bm25_from_postings(
        _bm25_postings(docs, text_col, id_col),
        n_query_terms,
        k,
        query_postings=_bm25_postings(target, text_col, id_col),
    )


def _bpe_piece_postings(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, term, tf) postings where terms are BPE PIECES: each
    doc's alpha words (dedup.bpe_token_stream's tokenization) join
    the broadcast segmented-word vocab and explode into their learned
    pieces — OOV words drop out (inner join, mirrored in the twin).
    The vocab is vocabulary-sized, never corpus-sized."""
    dw = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).filter(F.col("w").rlike("^[a-z]+$"))
    return (
        dw.join(F.broadcast(vocab.select("w", "toks")), "w")
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def bm25_topk_bpe(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
    export_path: str | None = None,
) -> DataFrame:
    """BM25 retrieval in BPE TOKEN space (SURVEY §9.3c) — retrieval
    over the SAME term space the training loop consumes: the repo's
    BPE learner trains on the corpus (or the segmented-word vocab
    round-trips through the parquet artifact via ``export_path`` —
    tokenizer.export_bpe's train-once/ship/retrieve-anywhere shape),
    documents become piece postings through one BROADCAST vocab join,
    and the integer-exact BM25 readout (_bm25_from_postings: dyadic
    idf, rational tf saturation, BM25_DL_CAP clamp) ranks documents
    against the corpus's top piece terms. Connects retrieval to the
    tokenizer family exactly as exact_substring_*_bpe connects dedup.

    Scale shape: one tokenize pass + broadcast vocab join feed a
    (doc, piece) hash aggregate; everything downstream is the shared
    postings readout — query terms broadcast, top-k compiles to
    TakeOrderedAndProject."""
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(docs, text_col, n_merges, export_path)
    return _bm25_from_postings(
        _bpe_piece_postings(docs, vocab, text_col, id_col),
        n_query_terms,
        k,
    )


def bm25_cross_topk_bpe(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
    export_path: str | None = None,
) -> DataFrame:
    """Cross-corpus BM25 in BPE PIECE space — one vocab, two corpora:
    the tokenizer artifact trains on the corpus being RANKED (and
    optionally round-trips through parquet via ``export_path``), BOTH
    corpora tokenize under it through broadcast vocab joins, the
    query-term set is the TARGET's most frequent pieces, and
    df/dl/avgdl come from the ranked side — "which training docs best
    match what the eval set talks about, measured in the model's own
    token space". Target words outside the ranked-corpus vocab drop
    (inner join, mirrored in the twin) — exactly the OOV behavior a
    fixed shipped tokenizer has on unseen text.

    Scale shape: the vocab broadcasts into both tokenize passes; the
    target side reduces to n_query_terms broadcast rows before
    touching the ranked corpus; shared integer-exact readout,
    TakeOrderedAndProject top-k."""
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(docs, text_col, n_merges, export_path)
    return _bm25_from_postings(
        _bpe_piece_postings(docs, vocab, text_col, id_col),
        n_query_terms,
        k,
        query_postings=_bpe_piece_postings(
            target, vocab, text_col, id_col
        ),
    )


def bm25_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming BM25 index MAINTENANCE: documents arrive in
    micro-batches; each doc is TOKENIZED exactly once, at arrival
    (the text scan is the dominant cost and never re-runs) — state is
    the compact text-free (doc_id, term, tf) postings table, appended
    per epoch.

    The readout is NOT append-only: the query-term set, document
    frequencies, and avgdl all move with corpus-wide totals as the
    corpus grows — a term can enter or leave the top-n query set,
    re-ranking every document. So each epoch re-derives the top-k
    from the accumulated postings (_bm25_from_postings — keyed
    aggregates + broadcast joins over term/tf rows, no text), the
    same bounded per-epoch-recompute discipline as CDC / k-core /
    LPA maintenance, with the expensive tokenization incremental.

    Per-epoch invariant asserted: postings state is append-only per
    doc — a doc's terms arrive in exactly one epoch.

    Final epoch equals batch bm25_topk over all docs, so the entry
    shares its oracle twin."""
    from ..streaming.replay import maintain

    return maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: _bm25_postings(b, text_col, id_col),
        lambda acc, *_: _bm25_from_postings(acc, n_query_terms, k),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


def bm25_maintain_stream_bpe(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
    n_slices: int = 3,
    export_path: str | None = None,
) -> DataFrame:
    """Streaming BM25 postings maintenance in BPE PIECE space
    (SURVEY §9 r11 candidate (b)) — the ship-the-tokenizer retrieval
    shape: the vocabulary is trained ONCE up front (optionally
    round-tripped through the parquet artifact via ``export_path`` —
    tokenizer.export_bpe's train-once/ship discipline) and stays
    FIXED for the life of the stream; arriving documents tokenize
    into piece postings under the broadcast artifact vocab exactly
    once, at arrival, and the text-free (doc_id, term, tf) postings
    state appends per epoch (bm25_maintain_stream's epoch
    discipline, same append-only-per-doc assertion).

    The readout is re-derived per epoch from the accumulated
    postings — query-piece set, document frequencies and avgdl all
    move with corpus totals — while the expensive tokenize+vocab
    join never re-runs: the bounded per-epoch-recompute discipline
    with the FIXED-vocab twist that makes the final epoch equal
    batch bm25_topk_bpe (the vocab is the one batch trains on this
    corpus), so the entry shares its oracle twin.

    Scale shape: vocab is vocabulary-sized and broadcast into each
    epoch's tokenize; postings state is term-keyed rows, unioned as
    immutable checkpointed blocks; readout is the shared
    integer-exact _bm25_from_postings (broadcast query terms,
    TakeOrderedAndProject top-k)."""
    from ..streaming.replay import maintain
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(df, text_col, n_merges, export_path)
    # the fixed artifact: materialize once, reuse every epoch
    vocab = vocab.localCheckpoint(eager=True)
    return maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: _bpe_piece_postings(b, vocab, text_col, id_col),
        lambda acc, *_: _bm25_from_postings(acc, n_query_terms, k),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


def bm25_cross_maintain_stream_bpe(
    spark,
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    n_query_terms: int = BM25_QUERY_TERMS,
    k: int = BM25_K,
    n_slices: int = 3,
    export_path: str | None = None,
) -> DataFrame:
    """Streaming CROSS-corpus BM25 maintenance in BPE piece space —
    the live eval-mining monitor: the tokenizer artifact AND the
    target (eval) corpus are both fixed up front — the vocab trains
    once on the ranked corpus (optional parquet round trip) and the
    target's piece postings compute once under it (checkpointed,
    reduced to the broadcast query-term source) — while ranked-side
    documents arrive in micro-batches, tokenizing into append-only
    piece postings exactly once at arrival.

    Per-epoch readout re-derives df/dl/avgdl from the accumulated
    ranked postings with the FIXED target postings as query source
    (_bm25_from_postings' query_postings hook): a new batch moves
    every document's score (df and avgdl are corpus-wide), the same
    bounded per-epoch-recompute discipline as the self-corpus form.
    Final epoch equals batch bm25_cross_topk_bpe (same corpus trains
    the vocab), so the entry shares its oracle twin."""
    from ..streaming.replay import maintain
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(docs, text_col, n_merges, export_path)
    vocab = vocab.localCheckpoint(eager=True)
    target_postings = _bpe_piece_postings(
        target, vocab, text_col, id_col
    ).localCheckpoint(eager=True)
    return maintain(
        spark,
        docs.select(F.col(id_col), F.col(text_col)),
        lambda b: _bpe_piece_postings(b, vocab, text_col, id_col),
        lambda acc, *_: _bm25_from_postings(
            acc, n_query_terms, k, query_postings=target_postings
        ),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )
