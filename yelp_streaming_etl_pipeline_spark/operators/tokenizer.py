"""Distributed BPE tokenizer training (byte-pair-encoding merges).

The canonical LLM-pipeline operator the reference lacks entirely:
learn the top-N merge rules from a corpus. The classic algorithm
iterates (count adjacent pairs -> pick argmax -> merge greedily
left-to-right); here each iteration is a handful of DataFrame stages
over the DISTINCT-WORD frequency table — the standard trick that
makes BPE tractable at corpus scale, because pair statistics only
depend on (word, frequency), and the word table is orders of
magnitude smaller than the corpus.

Per merge iteration:
1. adjacent-pair counts: one index explode over the token arrays +
   one hash aggregate weighted by word frequency;
2. argmax pair with a pinned total tie order
   (count DESC, left ASC, right ASC) — collected as ONE row to the
   driver (metadata-sized, like a broadcast threshold; it also lets
   the loop SHORT-CIRCUIT when pair counts run dry instead of
   cross-joining an empty argmax into the vocab, which would wipe
   every token array);
3. greedy merge application as ONE bounded array fold per word
   (whole-stage codegen, zero exchanges): a matching position merges
   iff its left token was not consumed by the previous merge — which
   accepts exactly the even offsets within each run of consecutive
   matching positions (for left != right runs are length 1, every
   match valid; for left == right, e.g. "aaaa" with merge a+a, the
   even-offset rule IS the greedy left-to-right semantics). Matches
   test the ORIGINAL token array, so merged output never re-matches
   within the round — engine-exact, no UDF, no recursion, no
   shuffle (round-11: this replaced a posexplode + three window
   specs + collect_list reassembly per round).

ALPHABETS — two initial segmentations, both engine-exact:

- ``char`` (demo default): words restricted to lowercase ASCII
  (``^[a-z]+$``), tokens = single characters. Character splitting of
  multi-byte text differs subtly between engines, hence the gate.
- ``bytes`` (production shape): words = any whitespace-separated
  token of the RAW text (no case folding — byte-level BPE operates
  on raw bytes, as GPT-2-style tokenizers do), tokens = UTF-8 bytes
  rendered as fixed-width uppercase hex pairs. The hex pair IS the
  pinned byte<->int map: ``hex(encode(w))`` produces the identical
  string in Spark and DuckDB for identical input, so no per-engine
  byte table is needed and merged tokens concatenate losslessly.

PERSIST HYGIENE — each iteration persists the vocab it scans twice
(pair counts + merge application) and unpersists the superseded one
as soon as the argmax job has materialized its successor's input;
lineage is truncated every ``CHECKPOINT_EVERY`` merges
(localCheckpoint — executor-local blocks; at cluster scale pass a
reliable checkpoint dir to ``spark.sparkContext.setCheckpointDir``
and flip ``reliable=True``) so a production-size merge table (10k+)
neither leaks cache nor grows an unbounded plan.

100 TB shape: the corpus is touched ONCE (word-frequency aggregate);
every iteration runs over the distinct-word table (bounded by
vocabulary size, not corpus size). n_merges is a fixed constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BPE_MERGES = 4
CHECKPOINT_EVERY = 16  # lineage-truncation cadence for big merge runs

MERGES_SCHEMA = (
    "merge_rank INT, left STRING, right STRING, pair_count BIGINT"
)


def _doc_words(
    docs: DataFrame, text_col: str, alphabet: str, id_cols: list[str]
) -> DataFrame:
    """``id_cols + (w,)``: whitespace words under the alphabet's rules
    (char: lowercased, ASCII-alpha gate; bytes: raw text, any
    non-empty token)."""
    if alphabet == "char":
        return docs.select(
            *id_cols,
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("w"),
        ).filter(F.col("w").rlike("^[a-z]+$"))
    if alphabet == "bytes":
        return docs.select(
            *id_cols,
            F.explode(
                F.split(
                    F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
                )
            ).alias("w"),
        ).filter(F.col("w") != "")
    raise ValueError(f"unknown alphabet: {alphabet!r}")


def _segment(w: F.Column, alphabet: str) -> F.Column:
    """Initial token array for a word column."""
    if alphabet == "char":
        return F.split(w, "")
    # fixed-width hex pairs of the UTF-8 bytes — the pinned byte map
    return F.regexp_extract_all(
        F.hex(F.encode(w, "UTF-8")), F.lit(".."), 0
    )


def word_freq_table(
    docs: DataFrame, text_col: str = "text", alphabet: str = "char"
) -> DataFrame:
    """(w, f): word frequencies — the one corpus-wide aggregate."""
    return (
        _doc_words(docs, text_col, alphabet, [])
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over token arrays, weighted by f."""
    n = F.size(F.col("toks"))
    idx = F.explode(F.sequence(F.lit(1), n - 1)).alias("i")
    pairs = vocab.filter(n >= 2).select("f", "toks", idx)
    return (
        pairs.select(
            F.element_at("toks", F.col("i")).alias("left"),
            F.element_at("toks", F.col("i") + 1).alias("right"),
            "f",
        )
        .groupBy("left", "right")
        .agg(F.sum("f").alias("pair_count"))
    )


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Greedily merge the (left, right) pair in every token array via
    ONE bounded array fold per word — a narrow map, no shuffle.

    The even-offset-in-run rule (see module docstring) IS greedy
    left-to-right pairing: walking positions once, a match at i merges
    iff position i was not consumed by a merge at i-1; within a run of
    consecutive matches that accepts exactly the even offsets, and
    matches are tested against the ORIGINAL token array (merged output
    never re-matches in the same round), identical to the windowed
    gaps-and-islands formulation this replaces. That formulation
    posexploded every token position through three window specs + a
    collect_list re-assembly PER MERGE ROUND — four shuffles of the
    token-position table each round; the fold does the same work
    inside whole-stage codegen with zero exchanges (guide §2.4).
    Per-word cost is O(n_tokens^2) in the copy-on-append accumulator —
    words are whitespace tokens, so n_tokens is small and bounded per
    word, never document- or corpus-sized."""
    toks = F.col("toks")
    merged = F.lit(left + right)
    out = F.aggregate(
        F.sequence(F.lit(1), F.size(toks)),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("skip"),
        ),
        lambda acc, i: F.when(
            acc["skip"],
            F.struct(acc["out"].alias("out"), F.lit(False).alias("skip")),
        )
        .when(
            (F.element_at(toks, i) == F.lit(left))
            & F.coalesce(
                F.get(toks, i) == F.lit(right), F.lit(False)
            ),
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit(True).alias("skip"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(
                    acc["out"], F.array(F.element_at(toks, i))
                ).alias("out"),
                F.lit(False).alias("skip"),
            )
        ),
        lambda acc: acc["out"],
    )
    return vocab.select("w", "f", out.alias("toks"))


def bpe_learn(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_MERGES,
    alphabet: str = "char",
) -> tuple[DataFrame, DataFrame]:
    """Learn the top ``n_merges`` BPE merge rules. Returns
    (merges, final_vocab): merges = (merge_rank, left, right,
    pair_count) in learning order; final_vocab = (w, f, toks) with
    every word segmented under the learned rules — the table a
    tokenize pass joins against.

    The per-iteration argmax is collected as ONE row (metadata, not
    data — the same category as a broadcast threshold): it feeds the
    merge application as two literals, lets the loop stop early when
    pair counts run dry (keeping the current segmentation as final,
    instead of wiping the vocab through a crossJoin with an empty
    table), and makes the returned merge table a local literal with
    no lineage to the iteration chain.
    """
    spark = docs.sparkSession
    vocab = word_freq_table(docs, text_col, alphabet).select(
        "w", "f", _segment(F.col("w"), alphabet).alias("toks")
    )
    merge_rows: list[tuple] = []
    prev: DataFrame | None = None
    for rank in range(n_merges):
        vocab = vocab.persist()
        best_rows = (
            _pair_counts(vocab)
            .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        # the argmax job materialized `vocab`'s cache; the table it
        # superseded is now safe to release
        if prev is not None:
            prev.unpersist()
        prev = vocab
        if not best_rows:
            break  # pair counts ran dry: current segmentation is final
        b = best_rows[0]
        merge_rows.append(
            (rank, b["left"], b["right"], int(b["pair_count"]))
        )
        vocab = _apply_merge(vocab, b["left"], b["right"])
        if (rank + 1) % CHECKPOINT_EVERY == 0:
            # truncate lineage on long merge runs; eager so the cache
            # chain behind it can be dropped immediately
            vocab = vocab.localCheckpoint()
            prev.unpersist()
            prev = None
    # non-eager: callers that only want `merges` (bpe_train) never pay
    # for materializing the final segmentation; the first consumer of
    # final_vocab both computes it once and truncates its lineage
    final_vocab = vocab.localCheckpoint(eager=False)
    if prev is not None:
        prev.unpersist()
    merges = spark.createDataFrame(merge_rows, schema=MERGES_SCHEMA)
    return merges, final_vocab


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_MERGES,
    alphabet: str = "char",
) -> DataFrame:
    """Learn the top ``n_merges`` BPE merge rules. Returns
    (merge_rank, left, right, pair_count) — one row per learned rule,
    in learning order."""
    return bpe_learn(docs, text_col, n_merges, alphabet)[0]


def export_bpe(
    merges: DataFrame, vocab: DataFrame, path: str
) -> tuple[str, str]:
    """Persist the learned artifacts — ``{path}/merges`` (the rule
    table) and ``{path}/vocab`` (the segmented word table) — as
    parquet, the real deployment shape: train once, ship the
    artifact, tokenize anywhere. Returns the two paths."""
    merges_path = f"{path}/merges"
    vocab_path = f"{path}/vocab"
    merges.write.mode("overwrite").parquet(merges_path)
    vocab.select("w", "f", "toks").write.mode("overwrite").parquet(
        vocab_path
    )
    return merges_path, vocab_path


def bpe_vocab(
    docs: DataFrame,
    text_col: str,
    n_merges: int,
    export_path: str | None,
    alphabet: str = "char",
) -> DataFrame:
    """The segmented-word table (w, f, toks) learned over ``docs``
    (bpe_learn). With ``export_path`` the learned artifacts are
    written there (export_bpe) and the vocab is re-read from parquet
    — the train-once / tokenize-anywhere path."""
    merges, vocab = bpe_learn(docs, text_col, n_merges, alphabet)
    if export_path is None:
        return vocab
    _, vocab_path = export_bpe(merges, vocab, export_path)
    return docs.sparkSession.read.parquet(vocab_path)


def tokenize_with_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alphabet: str = "char",
) -> DataFrame:
    """Tokenize a corpus against a (possibly re-read) segmented-word
    table: one explode + one vocabulary-sized join + one hash
    aggregate — the corpus is never re-segmented row by row. Returns
    (doc_id, n_words, n_bpe_tokens). (A broadcast map-row lookup was
    tried and reverted in round 11: Spark map element_at is a linear
    scan of the array-backed map — O(|vocab|) per word, not
    scale-safe for a vocabulary-sized map.)"""
    sizes = vocab.select("w", F.size("toks").alias("nt"))
    doc_w = _doc_words(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        alphabet,
        ["doc_id"],
    )
    return (
        doc_w.join(sizes, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("nt").alias("n_bpe_tokens"),
        )
    )


def bpe_token_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = BPE_MERGES,
    alphabet: str = "char",
    export_path: str | None = None,
) -> DataFrame:
    """Tokenize the corpus under the learned merges: per document,
    the word count and total BPE token count. With ``export_path``
    the learned artifacts are round-tripped through parquet first
    (write + re-read) — the train-once / tokenize-anywhere path."""
    vocab = bpe_vocab(docs, text_col, n_merges, export_path, alphabet)
    return tokenize_with_vocab(docs, vocab, text_col, id_col, alphabet)


# ---------------- WordPiece greedy longest-match scoring ----------------

WP_MAXLEN = 4  # longest piece, in chars (real vocabs cap piece length)
WP_VOCAB_K = 256  # corpus-derived piece vocabulary size
WP_MAX_WORD = 32  # words longer than this are [UNK] outright (HF's
#                   max_input_chars_per_word discipline) — it also
#                   bounds the per-word candidate scan at a CONSTANT,
#                   so no document or word length makes it superlinear
_WP_ENC = 1_000_000  # (best_len, piece_w) packed as bl * ENC + wq;
#                      piece_w = len(bin(cnt)) <= 63 << ENC, so the
#                      pack is collision-free and max() picks the
#                      LONGEST match first (WordPiece greedy order)


def _wp_candidates(short_words: DataFrame, maxlen: int) -> DataFrame:
    """(w, i, l, piece): every candidate window of length 1..maxlen at
    every position of every distinct word. Words are <= WP_MAX_WORD
    chars (enforced by callers), so the substr windows per word are
    bounded by a constant — the O(n^2)-substr trap that bit long
    documents (see dedup._chunk_starts) cannot bind here."""
    return (
        short_words.select(
            "w",
            F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i"),
        )
        .select(
            "w",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(maxlen), F.length("w") - F.col("i") + 1
                    ),
                )
            ).alias("l"),
        )
        .select(
            "w",
            "i",
            "l",
            F.col("w").substr(F.col("i"), F.col("l")).alias("piece"),
        )
    )


def wordpiece_vocab(
    words: DataFrame, k: int = WP_VOCAB_K, maxlen: int = WP_MAXLEN
) -> DataFrame:
    """(piece, piece_w): the top-``k`` character n-grams (lengths
    1..maxlen) of the corpus by frequency — a deterministic stand-in
    for a trained WordPiece/unigram-LM vocabulary, derived entirely
    in-engine (pinned tie order: count DESC, piece ASC).

    piece_w is the INTEGER log2-frequency weight
    ``length(bin(count))`` = floor(log2(count)) + 1 — the unigram-LM
    "log prob" quantized so every downstream fold is integer-exact
    across engines (bin() renders identically in Spark and DuckDB;
    no float log in any compared value).

    Scale shape: the gram aggregate runs over the DISTINCT-WORD table
    weighted by frequency (the same trick as BPE training), and the
    top-k is a TakeOrderedAndProject — never a global sort."""
    short = words.filter(F.length("w") <= WP_MAX_WORD)
    grams = (
        _wp_candidates(short.select("w"), maxlen)
        .join(short.select("w", "f"), "w")
        .groupBy("piece")
        .agg(F.sum("f").alias("cnt"))
    )
    return (
        grams.orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(k)
        .select(
            "piece",
            F.length(F.bin(F.col("cnt"))).cast("long").alias("piece_w"),
        )
    )


def wordpiece_word_stats(
    words: DataFrame, vocab: DataFrame, maxlen: int = WP_MAXLEN
) -> DataFrame:
    """Greedy longest-match (WordPiece) segmentation of every distinct
    word against ``vocab``, as an engine-exact integer fold. Returns
    (w, n_pieces, lm_score_q, is_unk):

    - at each position take the LONGEST vocab piece starting there
      (candidate windows left-join the broadcast vocab; per position
      the (len, weight) pair is packed into one integer so a plain
      max() picks the longest match);
    - the sequential consume-and-jump is a fold over the per-word
      position array: state {np, sq, unk, pos} advances pos by the
      matched length (or 1 on a miss, flagging unk) and only
      positions equal to pos consume — O(word length) integer ops;
    - WordPiece UNK semantics: ANY unmatched position makes the whole
      word a single [UNK] token (n_pieces 1, score 0), as does
      exceeding WP_MAX_WORD;
    - lm_score_q = sum of matched piece weights (quantized unigram-LM
      log2-frequency score).

    The fold's struct fields are ordered readers-first/writers-last
    (np/sq/unk read only pre-update pos; pos writes last) so the
    DuckDB twin's list_reduce is correct under both its snapshot and
    in-place-mutation semantics — see _sql_cusum_changepoints.

    Round-11 shape (the unigram-family discipline): the vocab is a
    top-k CONSTANT (k = WP_VOCAB_K pieces), so it travels as ONE
    broadcast map row (piece -> piece_w; the bounded-map linear scan
    is a constant, unlike a vocabulary-sized map) and the per-(word,
    position) packed best-match is an in-row expression — a length-l
    window starting at i is the unique substr(w, i, l), so the
    former _wp_candidates explode + broadcast join + two groupBys
    per call disappear (guide §2.4)."""
    short = words.select("w").filter(F.length("w") <= WP_MAX_WORD)
    pmap = vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("piece"), F.col("piece_w")))
        ).alias("_wpm")
    )

    def enc_of(i: F.Column):
        cands = [
            F.when(
                i + (n - 1) <= F.length("w"),
                F.lit(n).cast("long") * _WP_ENC
                + F.try_element_at(
                    F.col("_wpm"), F.col("w").substr(i, F.lit(n))
                ),
            )
            for n in range(1, maxlen + 1)
        ]
        best = cands[0] if len(cands) == 1 else F.greatest(*cands)
        return F.coalesce(best, F.lit(0).cast("long"))

    # two-stage transform so enc evaluates ONCE per position (the
    # inner HOF lambda is interpreted — an inlined enc would re-run
    # its map lookups per consuming field)
    es = F.transform(
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.struct(
                i.cast("int").alias("i"), enc_of(i).alias("enc")
            ),
        ),
        lambda x: F.struct(
            x["i"].alias("i"),
            F.floor(x["enc"] / _WP_ENC).cast("int").alias("bl"),
            F.pmod(x["enc"], F.lit(_WP_ENC)).cast("long").alias("wq"),
        ),
    )
    elems = short.crossJoin(F.broadcast(pmap)).select(
        "w", es.alias("es")
    )
    seed = F.struct(
        F.lit(0).cast("long").alias("np"),
        F.lit(0).cast("long").alias("sq"),
        F.lit(False).alias("unk"),
        F.lit(1).cast("int").alias("pos"),
    )

    def step(acc, x):
        consume = x["i"] == acc["pos"]
        hit = consume & (x["bl"] > 0)
        return F.struct(
            (acc["np"] + F.when(consume, 1).otherwise(0))
            .cast("long")
            .alias("np"),
            (acc["sq"] + F.when(hit, x["wq"]).otherwise(0))
            .cast("long")
            .alias("sq"),
            (acc["unk"] | (consume & (x["bl"] == 0))).alias("unk"),
            (
                acc["pos"]
                + F.when(consume, F.greatest(x["bl"], F.lit(1))).otherwise(0)
            )
            .cast("int")
            .alias("pos"),
        )

    folded = elems.select(
        "w", F.aggregate("es", seed, step).alias("st")
    )
    seg = folded.select(
        "w",
        F.when(F.col("st.unk"), 1)
        .otherwise(F.col("st.np"))
        .cast("long")
        .alias("n_pieces"),
        F.when(F.col("st.unk"), 0)
        .otherwise(F.col("st.sq"))
        .cast("long")
        .alias("lm_score_q"),
        F.col("st.unk").alias("is_unk"),
    )
    longw = (
        words.select("w")
        .filter(F.length("w") > WP_MAX_WORD)
        .select(
            "w",
            F.lit(1).cast("long").alias("n_pieces"),
            F.lit(0).cast("long").alias("lm_score_q"),
            F.lit(True).alias("is_unk"),
        )
    )
    return seg.unionByName(longw)


def wordpiece_doc_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WP_VOCAB_K,
    maxlen: int = WP_MAXLEN,
) -> DataFrame:
    """Per-document WordPiece/unigram-LM tokenization scores against
    a corpus-derived piece vocabulary: (doc_id, n_words, n_pieces,
    n_unk_words, lm_score_q). The tokens-per-word ratio (fertility)
    and the quantized LM score are the standard corpus-quality /
    tokenizer-fit diagnostics an LLM data pipeline runs before
    training.

    100 TB shape: the corpus is touched twice (word-frequency
    aggregate + doc-word join); ALL segmentation work runs over the
    distinct-word table (bounded by vocabulary, not corpus size), the
    piece vocab is a top-k constant broadcast, and the per-word fold
    is O(WP_MAX_WORD) integer ops."""
    words = word_freq_table(docs, text_col, "char")
    vocab = wordpiece_vocab(words, k, maxlen)
    stats = wordpiece_word_stats(words, vocab, maxlen)
    doc_w = _doc_words(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        "char",
        ["doc_id"],
    )
    return (
        doc_w.join(stats, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum(F.col("is_unk").cast("long")).alias("n_unk_words"),
            F.sum("lm_score_q").alias("lm_score_q"),
        )
    )


# ---------- unigram-LM (SentencePiece-style) Viterbi segmentation ----------

UV_VOCAB_K = 256  # multigram vocab size (every single char is always in)
UV_NEG = -1_000_000_000  # invalid-piece sentinel; dominates any real score
_UV_PACK = 256  # (score, pieces) pack radix; > WP_MAX_WORD piece count


def unigram_vocab(
    words: DataFrame, k: int = UV_VOCAB_K, maxlen: int = WP_MAXLEN
) -> DataFrame:
    """(piece, q, cnt): a unigram-LM piece inventory — EVERY single
    character of the corpus (full coverage, the base-alphabet
    discipline a real SentencePiece model keeps so any word is
    segmentable) plus the top-``k`` 2..maxlen-grams by frequency
    (count DESC, piece ASC, a TakeOrdered). q = length(bin(cnt)) is
    the integer log2-frequency weight — same dyadic quantization as
    wordpiece_vocab, so both engines agree exactly."""
    short = words.filter(F.length("w") <= WP_MAX_WORD)
    grams = (
        _wp_candidates(short.select("w"), maxlen)
        .join(short.select("w", "f"), "w")
        .groupBy("piece")
        .agg(F.sum("f").alias("cnt"))
    )
    multi = (
        grams.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(k)
    )
    return (
        grams.filter(F.length("piece") == 1)
        .unionByName(multi)
        .select(
            "piece",
            F.length(F.bin(F.col("cnt"))).cast("long").alias("q"),
            "cnt",
        )
    )


def _uv_model_row(vocab: DataFrame) -> DataFrame:
    """ONE row (_pq: map<piece, q>, Qc): the unigram-LM inventory as a
    broadcastable constant — alphabet + <= k multigrams, bounded by
    the vocab parameter, never data-proportional. Round-11: the DP
    candidate table this replaces (_wp_candidates explode + broadcast
    join + two groupBy exchanges per scoring pass) is now ONE in-row
    expression over the distinct-word table (guide §2.4 — the map row
    is the same memory class as the broadcast hash relation it
    replaces)."""
    return vocab.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("piece"), F.col("q")))
        ).alias("_pq"),
        F.length(F.bin(F.sum("cnt"))).cast("long").alias("Qc"),
    )


def _uv_es(maxlen: int) -> F.Column:
    """Per-word e-sorted DP element array — one struct per end
    position e = 1..len(w) with the packed contribution
    p_l = (q(substr ending at e, length l) - Qc) * 256 - 1 per length
    (UV_NEG when the piece is out-of-inventory or l > e). Requires
    columns ``w``, ``_pq``, ``Qc`` (crossJoin the broadcast
    _uv_model_row first). Identical values to the former
    candidates-join construction: a length-l window ending at e is
    the unique substr(w, e-l+1, l), so the old per-(w,e,l) max was
    over a single candidate."""
    neg = F.lit(UV_NEG).cast("long")

    def p_of(e: F.Column, n: int):
        return F.when(
            e >= n,
            F.coalesce(
                (
                    F.try_element_at(
                        F.col("_pq"),
                        F.col("w").substr(e - (n - 1), F.lit(n)),
                    )
                    - F.col("Qc")
                )
                * _UV_PACK
                - 1,
                neg,
            ).cast("long"),
        ).otherwise(neg)

    return F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda e: F.struct(
            e.cast("int").alias("e"),
            *[p_of(e, n).alias(f"p{n}") for n in range(1, maxlen + 1)],
        ),
    )


def unigram_word_stats(
    words: DataFrame, vocab: DataFrame, maxlen: int = WP_MAXLEN
) -> DataFrame:
    """VITERBI-optimal segmentation of every distinct word under the
    dyadic unigram LM: maximize sum over pieces of (q(piece) - Q),
    Q = length(bin(sum cnt over the vocab)) — i.e. the quantized
    log2 p(piece) = log2(cnt) - log2(T) — tie-broken toward FEWER
    pieces. This is the optimal-DP counterpart of the greedy
    longest-match in wordpiece_word_stats (real unigram-LM tokenizers
    are Viterbi, not greedy; the two differ whenever a long greedy
    match forces a bad remainder).

    Engine-exact mechanics: per (word, end-position) the four
    contributions p_l = (q - Q)*256 - 1 (l = 1..maxlen; -1 charges
    one piece, 256 > any piece count so max() orders (score, -pieces)
    lexicographically; invalid pieces get UV_NEG). The DP
    dp[e] = max_l(dp[e-l] + p_l(e)) folds left-to-right with a
    CONSTANT 4-slot accumulator (d1..d4 = dp[e-4..e-1] — never a
    word- or doc-sized acc, the F.aggregate deep-copy discipline).
    Single-char coverage by unigram_vocab makes every word reachable,
    so no unk path exists below WP_MAX_WORD. The rotation
    (d1,d2,d3,d4) <- (d2,d3,d4,new) reads every field before any is
    rewritten — circular under DuckDB list_reduce's in-place
    mutation, so the TWIN derives the same dp via a recursive CTE
    bounded at WP_MAX_WORD iterations (values identical, mechanism
    declared divergent).

    Returns (w, n_pieces, lm_score_q, is_long); words over
    WP_MAX_WORD chars mirror the wordpiece [UNK] discipline
    (1 piece, score 0)."""
    short = words.select("w").filter(F.length("w") <= WP_MAX_WORD)
    neg = F.lit(UV_NEG).cast("long")
    seed = F.struct(
        neg.alias("d1"),
        neg.alias("d2"),
        neg.alias("d3"),
        F.lit(0).cast("long").alias("d4"),
    )

    def step(acc, x):
        return F.struct(
            acc["d2"].alias("d1"),
            acc["d3"].alias("d2"),
            acc["d4"].alias("d3"),
            F.greatest(
                acc["d4"] + x["p1"],
                acc["d3"] + x["p2"],
                acc["d2"] + x["p3"],
                acc["d1"] + x["p4"],
            ).alias("d4"),
        )

    # round-11: the DP elements are an in-row expression against the
    # broadcast inventory row — no candidate explode, no join, no
    # groupBy (the word table is the only thing that moves)
    folded = short.crossJoin(F.broadcast(_uv_model_row(vocab))).select(
        "w", F.aggregate(_uv_es(maxlen), seed, step)["d4"].alias("packed")
    )
    pieces = F.lit(_UV_PACK) - F.pmod(F.col("packed"), F.lit(_UV_PACK))
    seg = folded.select(
        "w",
        pieces.cast("long").alias("n_pieces"),
        # exact division (packed + pieces is a multiple of the radix),
        # so truncating div == flooring // on the negative scores
        F.expr(
            f"(packed + ({_UV_PACK} - pmod(packed, {_UV_PACK})))"
            f" div {_UV_PACK}"
        )
        .cast("long")
        .alias("lm_score_q"),
        F.lit(False).alias("is_long"),
    )
    longw = (
        words.select("w")
        .filter(F.length("w") > WP_MAX_WORD)
        .select(
            "w",
            F.lit(1).cast("long").alias("n_pieces"),
            F.lit(0).cast("long").alias("lm_score_q"),
            F.lit(True).alias("is_long"),
        )
    )
    return seg.unionByName(longw)


def unigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = UV_VOCAB_K,
    maxlen: int = WP_MAXLEN,
) -> DataFrame:
    """Per-document unigram-LM (SentencePiece-style) Viterbi
    tokenization scores against a corpus-derived piece inventory:
    (doc_id, n_words, n_pieces, n_long_words, lm_score_q) — the
    optimal-segmentation counterpart of wordpiece_doc_scores,
    completing the tokenizer family (BPE char/byte learners, greedy
    WordPiece, Viterbi unigram).

    100 TB shape: identical to wordpiece_doc_scores — two corpus
    passes (word-frequency aggregate + doc-word join); ALL DP work
    runs over the distinct-word table, the piece inventory broadcasts,
    and the per-word fold is O(WP_MAX_WORD) integer ops with a
    constant 4-slot accumulator."""
    words = word_freq_table(docs, text_col, "char")
    vocab = unigram_vocab(words, k, maxlen)
    stats = unigram_word_stats(words, vocab, maxlen)
    doc_w = _doc_words(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        "char",
        ["doc_id"],
    )
    return (
        doc_w.join(stats, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum(F.col("is_long").cast("long")).alias("n_long_words"),
            F.sum("lm_score_q").alias("lm_score_q"),
        )
    )


# ------------- unigram-LM hard-EM (Viterbi-EM) refinement pass -------------

UV_EM_MIN_CNT = 1  # multigram pieces below this Viterbi usage are pruned


def unigram_viterbi_pieces(
    words: DataFrame, vocab: DataFrame, maxlen: int = WP_MAXLEN
) -> DataFrame:
    """(w, piece): the pieces of the VITERBI-optimal segmentation of
    every distinct short word — the path-RECOVERY counterpart of
    unigram_word_stats (which folds out only the packed score).

    Mechanics, all bounded by WP_MAX_WORD = 32 (never document- or
    corpus-sized):
    - forward pass: the same (score*256 - pieces) packed DP, but the
      fold keeps the FULL dp array (<= 36 longs, seeded with three
      UV_NEG pad slots so dp[e-1..e-4] are always addressable via
      element_at(acc, -1..-4); the per-step concat copies <= 36 longs
      — a constant, not the accumulator-deep-copy trap);
    - argmax recovery: dp is exploded to (w, e, dp) and every
      candidate (w, e, l, p) self-joins dp at e and e-l; l is on the
      optimal path iff dp[e] = dp[e-l] + p (always true for >= 1
      length per reachable e); ties take the LONGEST l — the packed
      score already makes (score, n_pieces) ties exact, so max(l) is
      the deterministic tie-break both engines share;
    - backtrace: per word, the (e -> l) picks collect into a <= 32
      entry map and a fixed WP_MAX_WORD-step fold walks e from
      length(w) to 0, emitting (start, len) slices; pieces substr out
      AFTER the fold (string substr is O(e) per step but e <= 32 — a
      constant).

    The recovered path's piece count and summed weight equal
    unigram_word_stats' n_pieces / lm_score_q exactly (asserted in
    tests) — the two entries are views of the same DP.

    Round-11 shape: the forward fold carries BACKPOINTERS — per end
    position e it records the longest length l achieving
    dp[e] = dp[e-l] + p_l (testing lengths 4..1, i.e. the same
    max-l tie-break the former candidates/dp self-join derived) —
    so path recovery is a second bounded fold over the in-row
    backpointer array. The previous shape materialized the candidate
    and dp tables (two eager localCheckpoints), self-joined them
    twice, and re-assembled picks through two groupBys per call; all
    of that is now a single zero-exchange map over the distinct-word
    table against the broadcast inventory row (guide §2.4). An OOV /
    out-of-range candidate (p = UV_NEG) can never satisfy the
    equality: single-char coverage bounds dp[e] far above any
    UV_NEG-carrying sum, exactly the argument the join form relied
    on for its >= 1-pick-per-reachable-e invariant."""
    short = words.select("w").filter(F.length("w") <= WP_MAX_WORD)
    neg = F.lit(UV_NEG).cast("long")
    seed = F.struct(
        neg.alias("d1"),
        neg.alias("d2"),
        neg.alias("d3"),
        F.lit(0).cast("long").alias("d4"),
        F.array().cast("array<int>").alias("bl"),
    )

    def step(acc, x):
        best = F.greatest(
            acc["d4"] + x["p1"],
            acc["d3"] + x["p2"],
            acc["d2"] + x["p3"],
            acc["d1"] + x["p4"],
        )
        bl = (
            F.when(acc["d1"] + x["p4"] == best, F.lit(4))
            .when(acc["d2"] + x["p3"] == best, F.lit(3))
            .when(acc["d3"] + x["p2"] == best, F.lit(2))
            .otherwise(F.lit(1))
        )
        return F.struct(
            acc["d2"].alias("d1"),
            acc["d3"].alias("d2"),
            acc["d4"].alias("d3"),
            best.alias("d4"),
            F.concat(acc["bl"], F.array(bl)).alias("bl"),
        )

    picked = short.crossJoin(F.broadcast(_uv_model_row(vocab))).select(
        "w",
        F.aggregate(_uv_es(maxlen), seed, step)["bl"].alias("bl"),
    )
    lp_at = lambda e: F.element_at("bl", e)  # noqa: E731
    bt = picked.select(
        "w",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(WP_MAX_WORD)),
            F.struct(
                F.length("w").cast("int").alias("e"),
                F.array().cast("array<struct<s:int,l:int>>").alias("ps"),
            ),
            lambda acc, _: F.when(
                acc["e"] > 0,
                F.struct(
                    (acc["e"] - lp_at(acc["e"])).cast("int").alias("e"),
                    F.concat(
                        acc["ps"],
                        F.array(
                            F.struct(
                                (acc["e"] - lp_at(acc["e"]) + 1)
                                .cast("int")
                                .alias("s"),
                                lp_at(acc["e"]).cast("int").alias("l"),
                            )
                        ),
                    ).alias("ps"),
                ),
            ).otherwise(acc),
        ).alias("acc"),
    )
    return bt.select(
        "w",
        F.explode(
            F.transform(
                F.col("acc")["ps"],
                lambda s: F.col("w").substr(s["s"], s["l"]),
            )
        ).alias("piece"),
    )


def unigram_em_refine(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = UV_VOCAB_K,
    maxlen: int = WP_MAXLEN,
    min_cnt: int = UV_EM_MIN_CNT,
) -> DataFrame:
    """One hard-EM (Viterbi-EM) refinement pass over the unigram-LM
    piece inventory — SentencePiece's estimate-then-prune step in
    engine-exact integer form. E-step: Viterbi-segment every distinct
    word under the seed inventory (unigram_viterbi_pieces) and
    accumulate INTEGER piece usage — the sum of word frequencies along
    the optimal paths, hard EM's expected counts. M-step: re-quantize
    each piece's weight from its usage (q_new = floor(log2 cnt) + 1,
    the seed's dyadic scheme) and PRUNE multigram pieces whose usage
    falls below ``min_cnt`` — pieces the optimal segmentations never
    (or rarely) touch, exactly the mass SentencePiece's EM loop sheds
    each round. Single-character pieces are never pruned (the
    base-alphabet coverage discipline keeps every word segmentable).
    Words over WP_MAX_WORD chars are [UNK] and contribute no usage,
    mirroring unigram_word_stats.

    Returns one row per SEED piece: (piece, plen, cnt0, q0, vit_cnt,
    q_new, kept) — cnt0/q0 the seed corpus count and weight, vit_cnt
    the Viterbi usage, q_new its dyadic re-quantization (0 when
    unused), kept the prune verdict.

    100 TB shape: two corpus passes (word-frequency aggregate feeds
    everything); ALL DP/backtrace work runs over the distinct-word
    table with constant per-word cost; the piece inventory (alphabet +
    k multigrams) broadcasts; the usage aggregate shuffles one row per
    (piece) — bounded by the inventory size."""
    # ONE corpus pass: the word-frequency aggregate feeds the vocab,
    # the DP, and the usage join — checkpoint it (distinct-word-sized)
    # so no consumer re-scans the corpus
    words = word_freq_table(docs, text_col, "char").localCheckpoint(
        eager=True
    )
    vocab = unigram_vocab(words, k, maxlen).localCheckpoint(eager=True)
    return _uv_refine(words, vocab, maxlen, min_cnt)


def _uv_refine(
    words: DataFrame, vocab: DataFrame, maxlen: int, min_cnt: int
) -> DataFrame:
    """The E+M core of unigram_em_refine over prepared (words, vocab)
    — shared with unigram_em_scores, which feeds the refined
    inventory back into a second Viterbi pass."""
    usage = (
        unigram_viterbi_pieces(words, vocab, maxlen)
        .join(words.select("w", "f"), "w")
        .groupBy("piece")
        .agg(F.sum("f").cast("long").alias("vit_cnt"))
    )
    refined = vocab.join(usage, "piece", "left").select(
        "piece",
        F.length("piece").cast("long").alias("plen"),
        F.col("cnt").cast("long").alias("cnt0"),
        F.col("q").cast("long").alias("q0"),
        F.coalesce(F.col("vit_cnt"), F.lit(0)).cast("long").alias(
            "vit_cnt"
        ),
    )
    return refined.select(
        "piece",
        "plen",
        "cnt0",
        "q0",
        "vit_cnt",
        F.when(
            F.col("vit_cnt") > 0, F.length(F.bin(F.col("vit_cnt")))
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("q_new"),
        (
            (F.col("plen") == 1) | (F.col("vit_cnt") >= min_cnt)
        ).alias("kept"),
    )


UV_EM_ROUNDS = 3  # declared EM round count for the full trainer loop


def unigram_em_loop(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = UV_VOCAB_K,
    maxlen: int = WP_MAXLEN,
    min_cnt: int = UV_EM_MIN_CNT,
    rounds: int = UV_EM_ROUNDS,
) -> DataFrame:
    """The FULL SentencePiece trainer loop (Kudo 2018) in engine-exact
    integer form: iterate the hard-EM estimate-then-prune pass
    ``rounds`` times — each round Viterbi-segments every distinct word
    under the CURRENT inventory (unigram_viterbi_pieces), accumulates
    integer piece usage, re-quantizes weights dyadically
    (q = floor(log2 usage) + 1), prunes multigram pieces below
    ``min_cnt`` usage, and feeds the refined inventory into the next
    round — the loop a real unigram-LM tokenizer trainer runs until
    its vocabulary stabilizes (unused single-char survivors keep
    weight 0 as strong-penalty coverage fallbacks, exactly as in
    unigram_em_scores' round 2).

    Emits the per-round INVENTORY DELTAS, one row per round r
    (1-based, the pass that consumed round r's inventory):
    (round, n_pieces, n_multi, n_kept, n_pruned, vit_total, q_mass) —
    n_pieces/n_multi the inventory sizes entering the round, n_kept /
    n_pruned the prune verdicts leaving it, vit_total the summed
    Viterbi usage (conserved: = sum over short-word occurrences of
    that round's optimal piece counts), q_mass the summed
    re-quantized weight of kept pieces. Convergence is visible as
    n_pruned -> 0 and vit_total/q_mass going flat round-over-round.

    100 TB shape: ONE corpus pass total (the word-frequency aggregate
    is checkpointed and reused); every round's E-step runs over the
    distinct-word table with constant per-word cost, the inventory
    (alphabet + <= k multigrams, shrinking monotonically) broadcasts,
    and each round's usage aggregate shuffles one row per piece.
    rounds is a declared constant, so the plan is a fixed R-fold
    chain with checkpoints truncating lineage between rounds."""
    words = word_freq_table(docs, text_col, "char").localCheckpoint(
        eager=True
    )
    vocab = unigram_vocab(words, k, maxlen).localCheckpoint(eager=True)
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        refined = _uv_refine(words, vocab, maxlen, min_cnt).localCheckpoint(
            eager=True
        )
        summary = refined.agg(
            F.count("*").cast("long").alias("n_pieces"),
            F.sum((F.col("plen") >= 2).cast("long"))
            .cast("long")
            .alias("n_multi"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.sum((~F.col("kept")).cast("long"))
            .cast("long")
            .alias("n_pruned"),
            F.sum("vit_cnt").cast("long").alias("vit_total"),
            F.sum(F.when(F.col("kept"), F.col("q_new")).otherwise(0))
            .cast("long")
            .alias("q_mass"),
        ).select(
            F.lit(r).cast("long").alias("round"),
            "n_pieces",
            "n_multi",
            "n_kept",
            "n_pruned",
            "vit_total",
            "q_mass",
        )
        out = summary if out is None else out.unionByName(summary)
        if r < rounds:
            vocab = (
                refined.filter(F.col("kept"))
                .select(
                    "piece",
                    F.col("q_new").alias("q"),
                    F.col("vit_cnt").alias("cnt"),
                )
                .localCheckpoint(eager=True)
            )
    return out


UV_SCHED_ROUNDS = 3  # rounds of the size-scheduled trainer
UV_SCHED_NUM, UV_SCHED_DEN = 3, 4  # shrinking factor 3/4 per round
UV_SCHED_TARGET = 64  # target multigram inventory size


def _em_schedule_round(
    words: DataFrame,
    vocab: DataFrame,
    maxlen: int,
    target_multi: int,
    shrink_num: int,
    shrink_den: int,
) -> DataFrame:
    """One size-scheduled E+M round over a prepared (words, vocab):
    Viterbi usage, dyadic re-quantization, and the rank prune toward
    n_target = max(target_multi, ceil(n_multi * num/den)). Returns
    the checkpointed refined table (piece, plen, vit_cnt, q_new,
    n_target, kept) — shared by the delta emitter
    (unigram_em_schedule) and the final-inventory scorer
    (unigram_em_schedule_scores)."""
    usage = (
        unigram_viterbi_pieces(words, vocab, maxlen)
        .join(words.select("w", "f"), "w")
        .groupBy("piece")
        .agg(F.sum("f").cast("long").alias("vit_cnt"))
    )
    # inventory-sized (alphabet + <= k multigrams): checkpoint so
    # the three consumers below never re-run the E-step
    base = (
        vocab.join(usage, "piece", "left")
        .select(
            "piece",
            F.length("piece").cast("long").alias("plen"),
            F.coalesce(F.col("vit_cnt"), F.lit(0))
            .cast("long")
            .alias("vit_cnt"),
            F.when(
                F.col("vit_cnt") > 0,
                F.length(F.bin(F.col("vit_cnt"))),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("q_new"),
        )
        .localCheckpoint(eager=True)
    )
    tgt = (
        base.filter(F.col("plen") >= 2)
        .agg(F.count("*").cast("long").alias("n_multi"))
        .select(
            F.greatest(
                F.lit(target_multi).cast("long"),
                F.expr(
                    f"({shrink_num} * n_multi + {shrink_den - 1}) "
                    f"div {shrink_den}"
                ).cast("long"),
            ).alias("n_target")
        )
    )
    w_rank = Window.orderBy(F.desc("vit_cnt"), F.asc("piece"))
    multis = (
        base.filter(F.col("plen") >= 2)
        .withColumn("rk", F.row_number().over(w_rank))
        .crossJoin(F.broadcast(tgt))
        .select(
            "piece",
            "plen",
            "vit_cnt",
            "q_new",
            "n_target",
            (
                (F.col("vit_cnt") > 0)
                & (F.col("rk") <= F.col("n_target"))
            ).alias("kept"),
        )
    )
    singles = base.filter(F.col("plen") == 1).crossJoin(
        F.broadcast(tgt)
    ).select(
        "piece",
        "plen",
        "vit_cnt",
        "q_new",
        "n_target",
        F.lit(True).alias("kept"),
    )
    return singles.unionByName(multis).localCheckpoint(eager=True)


def unigram_em_schedule(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = UV_VOCAB_K,
    maxlen: int = WP_MAXLEN,
    rounds: int = UV_SCHED_ROUNDS,
    target_multi: int = UV_SCHED_TARGET,
    shrink_num: int = UV_SCHED_NUM,
    shrink_den: int = UV_SCHED_DEN,
) -> DataFrame:
    """The SIZE-SCHEDULED trainer loop — real SentencePiece's
    shrinking factor (Kudo 2018; --shrinking_factor, default 0.75):
    instead of a fixed usage floor (unigram_em_loop's min_cnt), each
    round keeps the TOP multigram pieces by Viterbi usage, pruning
    toward a target vocabulary size — n_target =
    max(target_multi, ceil(n_multi * shrink_num / shrink_den)) with
    n_multi the multigram count ENTERING the round (ceil as
    (num*n + den-1) div den, integer-exact in both engines). A
    multigram survives iff its usage is positive AND its
    (usage DESC, piece ASC) rank is within n_target; single-char
    pieces are never pruned (base-alphabet coverage). Weights
    re-quantize dyadically from usage exactly as in the loop.

    Emits one row per round (the same delta schema as
    unigram_em_loop plus the schedule's n_target):
    (round, n_pieces, n_multi, n_target, n_kept, n_pruned, vit_total,
    q_mass).

    100 TB shape: identical to unigram_em_loop — ONE corpus pass
    total (checkpointed distinct-word table), per-round E-steps over
    distinct words, inventory broadcasts; the schedule adds only a
    rank over the MULTIGRAM INVENTORY (<= k rows, the adjudicated
    bounded-window class) and a 1-row target broadcast."""
    words = word_freq_table(docs, text_col, "char").localCheckpoint(
        eager=True
    )
    vocab = unigram_vocab(words, k, maxlen).localCheckpoint(eager=True)
    out: DataFrame | None = None
    for r in range(1, rounds + 1):
        refined = _em_schedule_round(
            words, vocab, maxlen, target_multi, shrink_num, shrink_den
        )
        summary = refined.agg(
            F.count("*").cast("long").alias("n_pieces"),
            F.sum((F.col("plen") >= 2).cast("long"))
            .cast("long")
            .alias("n_multi"),
            F.max("n_target").cast("long").alias("n_target"),
            F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
            F.sum((~F.col("kept")).cast("long"))
            .cast("long")
            .alias("n_pruned"),
            F.sum("vit_cnt").cast("long").alias("vit_total"),
            F.sum(F.when(F.col("kept"), F.col("q_new")).otherwise(0))
            .cast("long")
            .alias("q_mass"),
        ).select(
            F.lit(r).cast("long").alias("round"),
            "n_pieces",
            "n_multi",
            "n_target",
            "n_kept",
            "n_pruned",
            "vit_total",
            "q_mass",
        )
        out = summary if out is None else out.unionByName(summary)
        if r < rounds:
            vocab = (
                refined.filter(F.col("kept"))
                .select(
                    "piece",
                    F.col("q_new").alias("q"),
                    F.col("vit_cnt").alias("cnt"),
                )
                .localCheckpoint(eager=True)
            )
    return out


def export_unigram(vocab: DataFrame, path: str) -> str:
    """Persist a unigram-LM piece inventory — (piece, q, cnt) rows,
    the complete model state a Viterbi segmenter needs — as parquet
    at ``{path}/pieces``: the train-once/ship-the-artifact step for
    the unigram family, exactly what export_bpe is for the merge
    family. Returns the written path."""
    pieces_path = f"{path}/pieces"
    vocab.select("piece", "q", "cnt").write.mode("overwrite").parquet(
        pieces_path
    )
    return pieces_path


def unigram_em_schedule_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = UV_VOCAB_K,
    maxlen: int = WP_MAXLEN,
    rounds: int = UV_SCHED_ROUNDS,
    target_multi: int = UV_SCHED_TARGET,
    shrink_num: int = UV_SCHED_NUM,
    shrink_den: int = UV_SCHED_DEN,
    export_path: str | None = None,
) -> DataFrame:
    """Per-document Viterbi scores under the SIZE-SCHEDULED trainer's
    FINAL inventory — what you actually ship after running
    unigram_em_schedule: every distinct word re-segments with only
    the pieces that survived ``rounds`` shrink rounds, weighted by
    their last re-quantized usage, and the per-doc rollup has the
    same schema as unigram_lm_scores / unigram_em_scores (directly
    comparable across the seed, min-cnt-refined, and size-scheduled
    models).

    Equivalence anchor (pytest): with rounds=1 and an unreachable
    target the rank cut never binds, so the kept set is exactly
    'usage > 0 or single char' — identical to unigram_em_scores at
    min_cnt=1.

    ``export_path`` (SURVEY §9 r11 candidate (d)) round-trips the
    FINAL scheduled inventory through the parquet artifact
    (export_unigram write + re-read) before scoring — the
    train-once/ship step for the unigram family, completing what
    export_bpe does for BPE: the scores the shipped artifact
    produces are asserted equal to the in-memory inventory's
    (tests/test_tokenizer.py export-parity test), and the entry
    sharing this path proves it against the DuckDB twin.

    Scale shape: unigram_em_schedule's loop plus ONE more
    distinct-word DP and the doc-word join — still one corpus pass
    total (checkpointed word table); every inventory broadcasts
    (the re-read artifact is inventory-sized, never corpus-sized)."""
    words = word_freq_table(docs, text_col, "char").localCheckpoint(
        eager=True
    )
    vocab = unigram_vocab(words, k, maxlen).localCheckpoint(eager=True)
    for _ in range(rounds):
        refined = _em_schedule_round(
            words, vocab, maxlen, target_multi, shrink_num, shrink_den
        )
        vocab = (
            refined.filter(F.col("kept"))
            .select(
                "piece",
                F.col("q_new").alias("q"),
                F.col("vit_cnt").alias("cnt"),
            )
            .localCheckpoint(eager=True)
        )
    if export_path is not None:
        pieces_path = export_unigram(vocab, export_path)
        vocab = docs.sparkSession.read.parquet(pieces_path)
    stats = unigram_word_stats(words, vocab, maxlen)
    doc_w = _doc_words(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        "char",
        ["doc_id"],
    )
    return (
        doc_w.join(stats, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum(F.col("is_long").cast("long")).alias("n_long_words"),
            F.sum("lm_score_q").alias("lm_score_q"),
        )
    )


def unigram_em_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = UV_VOCAB_K,
    maxlen: int = WP_MAXLEN,
    min_cnt: int = UV_EM_MIN_CNT,
) -> DataFrame:
    """Per-document Viterbi scores under the REFINED inventory — EM
    round 2's E-step, closing the SentencePiece loop the repo builds
    piecewise (seed inventory -> Viterbi paths -> usage counts ->
    prune/re-quantize -> SEGMENT AGAIN): every distinct word is
    re-segmented with only the KEPT pieces, weighted by their
    re-quantized usage (q_new; unused single-char survivors carry
    weight 0 and act as strong-penalty coverage fallbacks), and the
    per-doc rollup has the same schema as unigram_lm_scores —
    directly comparable round over round (the refined model
    typically concentrates mass on fewer, higher-usage pieces).

    Scale shape: identical to unigram_em_refine plus ONE more
    distinct-word DP (constant per word) and the doc-word join; the
    word table and both inventories are checkpointed/broadcast —
    still two corpus passes total."""
    words = word_freq_table(docs, text_col, "char").localCheckpoint(
        eager=True
    )
    vocab = unigram_vocab(words, k, maxlen).localCheckpoint(eager=True)
    refined = _uv_refine(words, vocab, maxlen, min_cnt)
    vocab2 = refined.filter(F.col("kept")).select(
        "piece",
        F.col("q_new").alias("q"),
        F.col("vit_cnt").alias("cnt"),
    )
    stats = unigram_word_stats(words, vocab2, maxlen)
    doc_w = _doc_words(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        text_col,
        "char",
        ["doc_id"],
    )
    return (
        doc_w.join(stats, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum(F.col("is_long").cast("long")).alias("n_long_words"),
            F.sum("lm_score_q").alias("lm_score_q"),
        )
    )
