"""Deduplication operator family (north-star extension, SURVEY.md §7
Phase 4 / BASELINE.json LLM-data-pipeline ops).

The reference's only dedup is the streaming exact-key check
(/root/reference/streaming/faust_app.py:112-125, key = review_id:date).
A training-data pipeline needs the full family; each operator here is
designed for the 100 TB shape:

- exact_dedup         one hash-partition shuffle on the content hash;
                      map-side hash is cheap, survivors picked by
                      min-id (deterministic).
- minhash_lsh_pairs   shingle -> k salted-MinHash signatures -> banded
                      LSH keys -> candidate pairs via equi-join on the
                      band key (shuffle ~ n_docs * n_bands rows, NEVER
                      O(n^2)) -> exact Jaccard verification on the
                      candidates only.
- simhash_signatures  64-bit SimHash from token-hash bit sums — a pure
                      per-row map; near-dup = low Hamming distance.
- ngram_jaccard_pairs exact word-n-gram Jaccard within a blocking key
                      (source) — quadratic INSIDE the block only.
- embedding near-dup  see similarity.py (cosine >= tau within label
                      blocks).

Determinism notes (oracle parity): all hashing is md5-based (identical
in Spark and DuckDB); MinHash uses the lexicographic minimum of salted
md5 hex digests — a valid permutation family over a 128-bit space that
both engines order identically (lowercase-hex ASCII).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round
from ..functions.text_features import ws_trim

# MinHash/LSH parameters: 12 signatures in 4 bands of 3.
MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 3
SHINGLE_N = 3  # word 3-grams


def content_hash(c: Column) -> Column:
    """Normalized content hash: md5 of lowercased, whitespace-collapsed
    text."""
    return F.md5(F.regexp_replace(F.lower(ws_trim(c)), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct
    content, survivor = min id, with the duplicate count.

    100 TB shape: single shuffle keyed by the 128-bit hash; partial
    (map-side) min/count makes the shuffle carry one row per distinct
    hash per task.
    """
    return (
        df.select(
            content_hash(F.col(text_col)).alias("content_hash"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("_id").alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


def with_replayed_duplicates(
    df: DataFrame, filter_col: str = "user_id", filter_val: str = "u7"
) -> DataFrame:
    """Test-harness helper: replay a deterministic slice of reviews
    with source='zz_replay' — planted (review_id, date) duplicates for
    the dedup-with-issues operator. Mirrored in the SQL oracle."""
    replay = df.filter(F.col(filter_col) == filter_val).withColumn(
        "source", F.lit("zz_replay")
    )
    return df.unionByName(replay)


def dedup_reviews(
    df: DataFrame, now: Column
) -> tuple[DataFrame, DataFrame]:
    """W1 batch analog with issue emission: dedup on the reference's
    composite key (review_id, date) (faust_app.py:113; quirk §8.7 — the
    same id with a different date is NOT a duplicate), emitting one
    ``duplicate`` issue per dropped row (faust_app.py:115-124,
    severity 7) instead of silently discarding it.

    Survivor = first row by ``source`` (original sources sort before
    the replay marker) — deterministic, and at scale one hash-partition
    shuffle on the key; the window never sees more rows per key than
    that key's duplicates."""
    w = Window.partitionBy("review_id", "date").orderBy(
        F.col("source").asc(), F.col("ingestion_timestamp").asc()
    )
    ranked = df.withColumn("_rn", F.row_number().over(w))
    survivors = ranked.filter(F.col("_rn") == 1).drop("_rn")
    issues = ranked.filter(F.col("_rn") > 1).select(
        F.col("review_id"),
        F.lit("duplicate").alias("issue_type"),
        F.lit("review_id").alias("field_name"),
        F.col("review_id").cast("string").alias("og_value"),
        F.lit("unique (review_id, date)").alias("expected_range"),
        F.lit(7).cast("int").alias("severity"),
        now.alias("detected_at"),
        F.lit("deduplication").alias("detection_range"),
    )
    return survivors, issues


def word_shingles(c: Column, n: int = SHINGLE_N) -> Column:
    """Distinct word n-gram shingles as array<string>. Documents with
    fewer than n words get a single shingle = whole trimmed text.

    Built from n shifted slices combined with zip_with — NOT from
    element_at(words, i) inside a transform lambda: higher-order
    functions are interpreted, so expressions referenced inside a
    lambda re-evaluate per element (the split() would run once per
    shingle per word — catastrophic). Slice arguments are evaluated
    once per row."""
    words = F.split(ws_trim(F.lower(c)), r"\s+")
    nw = F.size(words)
    m = F.greatest(nw - (n - 1), F.lit(0))
    shifted = [F.slice(words, j + 1, m) for j in range(n)]
    grams = shifted[0]
    for nxt in shifted[1:]:
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(nw >= n, F.array_distinct(grams)).otherwise(
        F.array(ws_trim(F.lower(c)))
    )


def minhash_signature(shingles: Column, k: int = MINHASH_K) -> Column:
    """array<string> of k MinHash signatures from a DIGESTS column
    (array of per-shingle md5 hex; materialize it as its own column —
    passing the md5-transform expression inline would re-evaluate it k
    times, since interpreted HOF arguments get no subexpression
    elimination).

    Signature i is the lexicographic minimum of the digest's 15-hex-
    char WINDOW at offset i (ordering by a different offset of the
    same 128-bit digest per signature — the one-permutation-hashing
    family: ~k× cheaper than k salted digests). A window is ordered
    by the same leading chars as a full rotation by i, and 15 hex
    chars = 60 bits make argmin ties vanishingly rare, so it selects
    the same minimum as the rotation at a third of the string
    allocations (one substring vs concat of two)."""
    digests = shingles

    def window(i: int):
        return lambda h: F.substring(h, i + 1, 15)

    return F.array(
        *[F.array_min(F.transform(digests, window(i))) for i in range(k)]
    )


def lsh_band_keys(sig: Column) -> Column:
    """array<string> of band keys: md5 of the concatenated signature
    rows in each band."""
    keys = []
    for b in range(LSH_BANDS):
        parts = [
            F.element_at(sig, b * LSH_ROWS_PER_BAND + r + 1)
            for r in range(LSH_ROWS_PER_BAND)
        ]
        keys.append(F.md5(F.concat_ws("|", F.lit(str(b)), *parts)))
    return F.array(*keys)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact-Jaccard
    verification of the candidates.

    Scale shape: the expensive self-join is on the band key — each doc
    contributes LSH_BANDS rows, and only docs agreeing on an entire
    band collide, so the join output is ~(candidate pairs), not n^2.
    The exact Jaccard check then touches candidates only.
    """
    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            word_shingles(F.col(text_col)).alias("shingles"),
        )
        # separate projections: digests referenced 12x, sig 4x — the
        # multi-reference keeps Catalyst from collapse-inlining them
        .withColumn("digests", F.transform(F.col("shingles"), lambda s: F.md5(s)))
        .withColumn("sig", minhash_signature(F.col("digests")))
        .select(
            "doc_id", "shingles", lsh_band_keys(F.col("sig")).alias("bks")
        )
        .cache()  # scanned three times (band self-join x2 + shingle
        # re-attach); REMOVING this re-runs the corpus+signature
        # lineage per scan (measured ~2x slower in the round-2 shape —
        # beware that same-session A/B tests of "no cache" are
        # invalid, the cache manager substitutes cached data into
        # matching uncached plans)
    )
    # Round-11 (guide §2.3/§8: shuffle keys, not payloads): the band
    # self-join and the pair dedup move ONLY (doc_id, band_key) rows —
    # the round-10 shape exploded the doc-sized shingle array into
    # every one of its LSH_BANDS band rows and shuffled it through
    # both join sides AND the dropDuplicates exchange. The shingle
    # payload now attaches AFTER the candidate set is deduped, one
    # doc-keyed join per pair side.
    banded = base.select("doc_id", F.explode("bks").alias("band_key"))
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = base.select("doc_id", "shingles")
    cand = (
        cand.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.withColumn("jaccard", stable_round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# per hex nibble value, its 4 bits MSB-first mapped to +1/-1
_NIBBLE_PM1 = [
    [1 if (v >> (3 - b)) & 1 else -1 for b in range(4)] for v in range(16)
]


def simhash_signature(token_hashes: Column, bits: int = 64) -> Column:
    """64-bit SimHash as a bit-string column, from an array of token
    md5-hex digests.

    Per token, the first 16 hex digits supply 64 deterministic bits;
    bit j contributes +1/-1 to accumulator j; the signature bit is 1
    iff the sum is positive. ONE aggregate with an array<int>
    accumulator (zip_with add) — a single pass over the tokens and a
    compact expression tree, vs 64 separate aggregates. Pure per-row
    map (no shuffle) — the canonical petabyte-safe fingerprint.

    Bit extraction is a per-hex-char table lookup (ascii -> nibble
    index -> ±1 quadruple, flattened): 16 cheap ops per token instead
    of 64 instr/pow/mod evaluations.
    """
    nibble_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in _NIBBLE_PM1]
    )

    def bits_of(h: Column) -> Column:
        # array<int> of ±1 for bit positions 0..bits-1, MSB-first
        def nibble(i: Column) -> Column:
            a = F.ascii(h.substr(i, F.lit(1)))
            # '0'-'9' -> 0-9, 'a'-'f' -> 10-15
            return F.when(a <= 57, a - 48).otherwise(a - 87)

        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(bits // 4)),
                lambda i: F.element_at(nibble_lit, nibble(i) + 1),
            )
        )

    sums = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, b: a + b),
    )
    return F.array_join(
        F.transform(
            sums, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
        "",
    )


def token_md5s(c: Column) -> Column:
    """Distinct-token md5 digests for a text column."""
    tokens = F.array_distinct(
        F.split(ws_trim(F.lower(F.coalesce(c, F.lit("")))), r"\s+")
    )
    return F.transform(tokens, lambda t: F.md5(t))


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        simhash_signature(token_md5s(F.col(text_col))).alias("simhash"),
    )


SIMHASH_CHUNK_BITS = 16  # band width for the banded hamming join
SIMHASH_MAX_HAMMING = 3  # <= bands-1 differing bits guarantees a shared band


def simhash_hamming(a: Column, b: Column, bits: int = 64) -> Column:
    """Hamming distance between two equal-length bit-string signatures,
    computed 16 bits at a time (conv -> xor -> bit_count stays inside
    signed-long range; a full 64-bit conv would overflow on a set sign
    bit)."""
    total = F.lit(0)
    for i in range(bits // SIMHASH_CHUNK_BITS):
        ai = F.conv(F.substring(a, i * SIMHASH_CHUNK_BITS + 1, SIMHASH_CHUNK_BITS), 2, 10).cast("long")
        bi = F.conv(F.substring(b, i * SIMHASH_CHUNK_BITS + 1, SIMHASH_CHUNK_BITS), 2, 10).cast("long")
        total = total + F.bit_count(ai.bitwiseXOR(bi))
    return total


# Band-bucket size above which we sub-band. A bucket of m rows costs
# ~m^2/2 join work; 4096 caps an unrefined bucket at ~8M row-pairs (a
# bounded, parallelizable chunk), while a true pathological bucket
# (10^5-10^6 rows on a low-entropy 100 TB corpus — quadrillions of
# pairs) is forced through the exact-recall sub-band refinement.
# Measured on the dup-heavy sf0.1 fixture: refining its merely-warm
# buckets (max ~1.8k rows) INCREASES candidates ~2x (cluster members
# share most remainder bytes), so the threshold deliberately leaves
# warm buckets on the plain band join.
SIMHASH_HOT_BUCKET = 4096


def _simhash_banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, c0..c3, band_key) — one row per (doc, band). The four
    16-bit chunk longs double as band keys and hamming inputs."""
    n_chunks = 64 // SIMHASH_CHUNK_BITS
    chunk_cols = [f"c{i}" for i in range(n_chunks)]
    return sigs.select(
        "doc_id",
        *[
            F.conv(
                F.substring(
                    "simhash", i * SIMHASH_CHUNK_BITS + 1, SIMHASH_CHUNK_BITS
                ),
                2,
                10,
            )
            .cast("long")
            .alias(f"c{i}")
            for i in range(n_chunks)
        ],
    ).select(
        "doc_id",
        *chunk_cols,
        F.explode(
            F.array(
                *[
                    F.lit(i << SIMHASH_CHUNK_BITS) + F.col(f"c{i}")
                    for i in range(n_chunks)
                ]
            )
        ).alias("band_key"),
    )


def _simhash_candidates(
    banded: DataFrame, hot_threshold: int = SIMHASH_HOT_BUCKET
) -> DataFrame:
    """Candidate (doc_a, doc_b, hamming) rows from the banded table,
    skew-proofed with EXACT recall.

    A low-entropy corpus makes one band value hot (e.g. a near-constant
    chunk), and per-bucket join work is quadratic — the classic LSH
    straggler/OOM at scale. Fix: split the join by bucket size.

    - cold buckets (<= hot_threshold docs): plain band equi-join.
    - hot buckets: re-key each row by the 6 BYTES of the three chunks
      the band does NOT cover. A pair at hamming <= 3 that shares this
      band has <= 3 flipped bits spread over those 48 bits, which can
      ruin at most 3 of the 6 bytes — so the pair still agrees on >= 3
      sub-keys (pigeonhole). Non-duplicates with diverse remainders
      spread across 256 values per byte position, so the hot bucket
      fans out instead of going quadratic. The only bucket that stays
      quadratic is one whose members agree on band AND remainder bytes
      — i.e. genuine near-duplicates, where the OUTPUT itself is
      quadratic and no exact algorithm can do better.

    The band-key histogram used for the split has a bounded domain
    (4 bands x 2^16 values = 262,144 keys) so it broadcasts at ANY
    corpus size.

    Emission contract: each pair surfaces AT MOST once (at its first
    agreeing band — see earlier_band_match) and at LEAST once when its
    hamming distance is <= 3 (pigeonhole over the remainder bytes; a
    pair agreeing on two bands always shares a remainder byte, namely
    the other agreeing chunk's). Pairs at hamming > 3 may not surface
    from hot buckets — they are bound for the hamming filter anyway,
    so simhash_pairs' output is exact for max_hamming <= 3.
    """
    n_chunks = 64 // SIMHASH_CHUNK_BITS
    chunk_cols = [f"c{i}" for i in range(n_chunks)]
    hot_keys = (
        banded.groupBy("band_key")
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") > hot_threshold)
        .select("band_key")
    )
    cold = banded.join(F.broadcast(hot_keys), "band_key", "left_anti")
    hot = banded.join(F.broadcast(hot_keys), "band_key")

    def hamming(a, b):
        return sum(
            F.bit_count(F.col(f"{a}.{c}").bitwiseXOR(F.col(f"{b}.{c}")))
            for c in chunk_cols
        ).cast("int")

    def earlier_band_match(band_i):
        """True when the pair also agrees on a band BEFORE this one.
        Filtering on its negation emits each pair exactly once — at
        its first agreeing band — which replaces a post-hoc
        groupBy(doc_a, doc_b) dedup SHUFFLE with a codegen'd filter
        (both paths apply the same rule, so exactly one band emits)."""
        m = F.lit(False)
        for j in range(n_chunks):
            m = m | (
                (F.lit(j) < band_i)
                & (F.col(f"a.c{j}") == F.col(f"b.c{j}"))
            )
        return m

    ca, cb = cold.alias("a"), cold.alias("b")
    cold_pairs = (
        ca.join(
            cb,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(
            ~earlier_band_match(
                F.shiftright(F.col("a.band_key"), SIMHASH_CHUNK_BITS)
            )
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming("a", "b").alias("hamming"),
        )
    )

    # sub-key = band_key (18 bits) | byte position (3 bits) | byte (8)
    band_i = F.shiftright(F.col("band_key"), SIMHASH_CHUNK_BITS)
    all_bytes = F.array(
        *[
            F.struct(
                F.lit(k * 2 + hi).alias("pos"),
                F.shiftright(F.col(f"c{k}"), 8 * (1 - hi))
                .bitwiseAND(F.lit(255))
                .alias("val"),
            )
            for k in range(n_chunks)
            for hi in (0, 1)
        ]
    )
    rest_bytes = F.filter(
        all_bytes, lambda s: F.shiftright(s["pos"], 1) != band_i
    )
    sub = F.explode(rest_bytes).alias("s")
    hot_keyed = hot.select(
        "doc_id",
        *chunk_cols,
        "band_key",
        sub,
    ).select(
        "doc_id",
        *chunk_cols,
        (
            F.shiftleft(F.col("band_key"), 11)
            + F.shiftleft(F.col("s.pos"), 8)
            + F.col("s.val")
        ).alias("sub_key"),
    )
    ha, hb = hot_keyed.alias("a"), hot_keyed.alias("b")

    # First-match filter: a dup-ish pair agrees on several remainder
    # bytes and would otherwise be emitted once per agreeing byte (up
    # to 6x); keep only the collision at the SMALLEST agreeing byte
    # position so each pair surfaces once per band, like the cold path.
    def byte_of(side: str, p: int):
        k, hi = divmod(p, 2)
        return F.shiftright(F.col(f"{side}.c{k}"), 8 * (1 - hi)).bitwiseAND(
            F.lit(255)
        )

    band_i = F.shiftright(F.col("a.sub_key"), 11 + SIMHASH_CHUNK_BITS)
    pos = F.shiftright(F.col("a.sub_key"), 8).bitwiseAND(F.lit(7))
    earlier_match = F.lit(False)
    for p in range(8):
        earlier_match = earlier_match | (
            (F.lit(p) < pos)
            & (F.lit(p >> 1) != band_i)
            & (byte_of("a", p) == byte_of("b", p))
        )

    hot_pairs = (
        ha.join(
            hb,
            (F.col("a.sub_key") == F.col("b.sub_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(~earlier_match & ~earlier_band_match(band_i))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming("a", "b").alias("hamming"),
        )
    )
    return cold_pairs.unionByName(hot_pairs)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    hot_threshold: int = SIMHASH_HOT_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs via banded SimHash + exact Hamming verify.

    The 64-bit signature is split into 4 chunks of 16 bits; candidate
    pairs must agree on at least one whole chunk (pigeonhole: any pair
    within Hamming distance 3 shares one of 4 chunks, so recall is
    EXACT for max_hamming <= 3). Scale shape mirrors minhash_lsh_pairs:
    the self-join is on the chunk key — ~n_docs * 4 rows shuffled,
    never O(n^2) — and the exact Hamming check touches candidates only.
    Hot band buckets are sub-banded on the remaining bytes with exact
    recall (see _simhash_candidates) so a skewed corpus cannot produce
    a quadratic straggler.
    """
    sigs = simhash_table(df, text_col, id_col)
    # signature computation is the CPU cost; scanned three times below
    # (histogram + cold/hot joins)
    banded = _simhash_banded(sigs).cache()
    # No pair-dedup aggregation: _simhash_candidates emits each pair
    # exactly once (first-agreeing-band rule), so the near-dup output
    # needs no shuffle beyond the band join itself.
    return _simhash_candidates(banded, hot_threshold).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    hot_threshold: int = SIMHASH_HOT_BUCKET,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming SimHash near-dup MAINTENANCE — the last dedup family
    to gain one: each arriving document is signature-hashed exactly
    once, at arrival (the per-doc token-hash bit sums are the dominant
    cost and never re-run) — state is the compact text-free
    (doc_id, simhash) table held as one immutable checkpointed block
    PER EPOCH and unioned lazily, so per-epoch materialization is
    O(batch), never O(total state).

    The pair readout is corpus-GLOBAL (a new document pairs with any
    earlier one sharing a band chunk — retro-pairing, as in the
    exact-substring and CDC maintenance), so each epoch re-derives
    banded candidates + exact Hamming verification from the
    accumulated signature table — band-keyed equi-joins over 64-bit
    signatures with the same hot-bucket sub-banding as batch, never
    text. Final epoch equals batch simhash_pairs over all docs, so
    the entry shares its oracle twin. Append-only-per-doc asserted
    per epoch (ordered arrival)."""
    from ..streaming.replay import maintain

    return maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: simhash_table(b, text_col, id_col),
        lambda acc, *_: _simhash_candidates(
            _simhash_banded(acc), hot_threshold
        ).filter(F.col("hamming") <= max_hamming),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    n: int = 2,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity between documents sharing a
    blocking key. Quadratic only within the block — the blocking key is
    the scale lever (at 100 TB: block on URL host, language, cluster id
    from LSH, ...)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(block_col).alias("block"),
        word_shingles(F.col(text_col), n).alias("grams"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    jac = inter.cast("double") / union.cast("double")
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.block").alias("block"),
            stable_round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs: every document
    in a transitive duplicate cluster gets the cluster's minimum doc id
    as its label (the survivor). The step a real dedup pipeline needs
    between pair detection (minhash_lsh_pairs et al.) and row pruning.

    Iterative min-label propagation WITH pointer halving: each round
    every node takes the minimum label among itself and its neighbors,
    then jumps to its label's label (path compression). Plain
    propagation converges in O(diameter) rounds — a 1M-link chain
    would need 1M rounds; the halving step makes it O(log diameter),
    so ``max_iter=20`` covers any component of diameter up to ~2^20.
    That bound is what makes the loop safe at 100x scale: iteration
    count grows with the LOG of the worst component, not its size.

    Each round is two distributed joins + one aggregate; the driver
    only orchestrates iterations and checks convergence (count of
    changed labels), so the data never leaves the cluster. Lineage is
    truncated per round (localCheckpoint) — without it the plan
    doubles every iteration. Raises ``RuntimeError`` if labels are
    still moving after ``max_iter`` rounds — a silently-unconverged
    result would prune the wrong survivors.

    ``stats``: pass a dict to receive {"iterations": n} for
    convergence tests.

    ``checkpoint_dir``: by default per-round lineage truncation uses
    ``localCheckpoint`` — blocks live on EXECUTORS, so on a real
    multi-node cluster one executor loss kills the query mid-
    iteration. For cluster deployments pass a reliable location
    (HDFS/object store); the rounds then truncate through
    ``checkpoint()`` and survive executor loss at the cost of one
    round-trip to stable storage per round. Local mode (this repo's
    test/bench target) keeps the fast default.
    """
    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
            return df.checkpoint()
        return df.localCheckpoint()

    # materialize the detected pairs ONCE, before anything scans them
    # twice: the union below reads edges in both directions, and the
    # per-round joins re-scan sym — without the checkpoints the full
    # pair-detection pipeline (minhash + LSH + verify) re-runs per scan
    edges = _ckpt(
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    )
    sym = _ckpt(
        edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    )
    labels = _ckpt(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    iterations = 0
    for _ in range(max_iter):
        iterations += 1
        neighbor = sym.join(
            labels, sym["b"] == labels["node"]
        ).select(
            sym["a"].alias("node"),
            "label",
            F.lit(None).cast(dict(labels.dtypes)["label"]).alias("old"),
        )
        # carry each node's previous label through the aggregate so
        # convergence is a filter on the materialized result — no
        # extra join per round
        merged = (
            labels.withColumn("old", F.col("label"))
            .unionByName(neighbor)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max("old").alias("old"),
            )
        )
        # pointer halving: jump every node to its label's label. This
        # is the step that turns O(diameter) propagation into
        # O(log diameter) — labels are node ids, so the lookup is a
        # self-join on the freshly merged table.
        lab = merged.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        jumped = _ckpt(
            merged.join(lab, merged["label"] == lab["_ln"], "left")
            .select(
                "node",
                F.coalesce(F.col("_ll"), F.col("label")).alias("label"),
                "old",
            )
        )
        changed = jumped.filter(F.col("label") != F.col("old")).limit(1).count()
        labels = jumped.select("node", "label")
        if changed == 0:
            converged = True
            break
    if stats is not None:
        stats["iterations"] = iterations
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds 2^max_iter, or the pair input "
            "is degenerate; raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def with_synthetic_near_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Test-harness helper: union deterministic exact copies
    (doc_id % 31 == 0 -> +1_000_000) and near copies with a token
    appended (doc_id % 17 == 0 -> +2_000_000), so dedup operators have
    planted positives. Mirrored in oracles.sql_near_dup_corpus()."""
    exact = (
        df.filter(F.col(id_col) % 31 == 0)
        .withColumn(id_col, F.col(id_col) + F.lit(1_000_000))
    )
    near = (
        df.filter(F.col(id_col) % 17 == 0)
        .withColumn(id_col, F.col(id_col) + F.lit(2_000_000))
        .withColumn(text_col, F.concat(F.col(text_col), F.lit(" zq extra near dup token")))
    )
    return df.unionByName(exact).unionByName(near)


# ---------------- content-defined chunking / passage-level dedup ----------

CDC_GRAM = 8  # rolling window width for boundary detection
CDC_MOD = 64  # expected chunk length (1/64 boundary density)
CDC_MIN_CHUNK = 16  # ignore sub-chunks too short to be meaningful


def _chunk_starts(chars: Column, n: Column) -> Column:
    """Ascending chunk-start positions for normalized text given as a
    BOUND char-array column ``chars`` (``split(s, '')`` materialized as
    a real attribute — inline subexpressions inside a HOF lambda are
    re-evaluated per element) and ``n`` its element count.

    Content-defined boundaries: position i starts a new chunk when the
    md5 of the 8-gram at i hashes to 0 mod CDC_MOD. Because the cut
    decision depends only on a LOCAL window, an edit to a document
    shifts chunk boundaries only near the edit — distant chunks keep
    their identity, which is what makes chunk-hash dedup robust where
    fixed-width blocks are not (the rsync/LBFS trick). Position 1 is
    always a start; texts shorter than the window are one chunk.

    O(n) per document, avoiding BOTH quadratic traps:
    - each window is rebuilt from the array via ``slice`` +
      ``concat_ws`` (O(GRAM) each), never via ``s.substr(i, GRAM)``
      whose UTF8String forward-walk from the string head makes the
      scan O(n^2) compute (the trap lang_trigrams fixed in round 3,
      33x at 12k chars);
    - the boundary list comes from ``F.filter`` over the position
      sequence, never from an ``F.aggregate`` fold accumulating an
      array — Spark's fold DEEP-COPIES the accumulator every step
      (InternalRow.copyValue), so a growing array in the accumulator
      is O(n^2/CDC_MOD) copies.
    Unicode note: ``split('')`` yields UTF-16 code units while
    ``substr`` counts codepoints — window CONTENT (hence every md5
    cut decision and the DuckDB oracle twin) is identical for
    BMP-only text, which the normalized corpus is."""
    bounds = F.when(
        n >= CDC_GRAM + 1,
        F.filter(
            F.sequence(F.lit(2), F.greatest(F.lit(2), n - (CDC_GRAM - 1))),
            lambda i: F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("", F.slice(chars, i, CDC_GRAM))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(CDC_MOD),
            )
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.concat(F.array(F.lit(1).cast("int")), bounds)
    )


def with_insertion_shifted_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Test-harness helper: union INSERTION-SHIFTED near copies — a
    snippet spliced into the middle of the text (doc_id % 13 == 0 ->
    +3_000_000). Every fixed-window representation (shingles, simhash
    tokens, winnowing k-grams) sees all post-insertion positions
    shifted; content-defined chunk boundaries re-synchronize right
    after the edit, so only the chunk containing the splice changes.
    Mirrored in the corpus CTE of _sql_cdc_chunk_pairs
    (__spark_entry__.py)."""
    t = F.col(text_col)
    spliced = F.concat(
        t.substr(F.lit(1), F.lit(200)),
        F.lit(" xq inserted snippet shifts everything after it "),
        t.substr(F.lit(201), F.length(t)),
    )
    ins = (
        df.filter(F.col(id_col) % 13 == 0)
        .withColumn(id_col, F.col(id_col) + F.lit(3_000_000))
        .withColumn(text_col, spliced)
    )
    return df.unionByName(ins)


def cdc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = CDC_MIN_CHUNK,
) -> DataFrame:
    """(doc_id, chunk) rows: normalized text split at content-defined
    boundaries (_chunk_starts), sub-``min_len`` fragments dropped.
    Pure per-row map — chunking never shuffles. Shared by
    duplicated_passages (occurrence counts) and cdc_chunk_pairs
    (doc-pair similarity)."""
    norm = F.regexp_replace(F.lower(ws_trim(F.col(text_col))), r"\s+", " ")
    staged = (
        df.select(F.col(id_col).alias("doc_id"), norm.alias("_s"))
        # bind the char array ONCE as a real attribute (layered
        # Projects): both the boundary scan and chunk extraction
        # index it via element_at/slice at O(1) per access, keeping
        # the whole chunker O(len) per document
        .withColumn("_chars", F.split(F.col("_s"), ""))
        .withColumn(
            "_starts",
            _chunk_starts(F.col("_chars"), F.size(F.col("_chars"))),
        )
    )
    chars, starts = F.col("_chars"), F.col("_starts")
    k_seq = F.sequence(F.lit(1), F.size(starts))
    # chunk k spans [starts[k], starts[k+1]) in char-array space; the
    # last chunk runs to the end of the array
    chunk_at = lambda k: F.concat_ws(  # noqa: E731
        "",
        F.slice(
            chars,
            F.element_at(starts, k),
            F.coalesce(F.try_element_at(starts, k + 1), F.size(chars) + 1)
            - F.element_at(starts, k),
        ),
    )
    return staged.select(
        "doc_id",
        F.explode(F.transform(k_seq, chunk_at)).alias("chunk"),
    ).filter(F.length("chunk") >= min_len)


CDC_MAX_DF = 64  # chunks shared by more docs than this are boilerplate
CDC_MIN_SHARED = 2  # pair evidence threshold


def cdc_chunk_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = CDC_MIN_CHUNK,
    max_df: int = CDC_MAX_DF,
    min_shared: int = CDC_MIN_SHARED,
) -> DataFrame:
    """Near-duplicate DOC PAIRS from shared content-defined chunks —
    the insertion-robust complement to MinHash/SimHash/winnowing: an
    edit that splices text into a document shifts every fixed-window
    shingle after it, but CDC boundaries re-synchronize at the next
    content-defined cut, so all chunks outside the edited one still
    match exactly (the rsync/LBFS trick, applied to corpus dedup).

    Scale discipline (same as minhash_lsh_pairs / winnow_neardup_pairs
    — candidate generation is NEVER all-pairs):
    - per-doc chunk SETS (distinct hashes), so the join key space is
      content, not positions;
    - document-frequency cap: chunks appearing in more than ``max_df``
      docs are template/boilerplate chrome and are dropped BEFORE the
      pair join — every bucket's pair fan-out is <= max_df^2
      regardless of corpus skew;
    - the pair join is an equi-join on chunk_hash; each surviving
      bucket contributes its own pairs only.

    Returns (doc_a, doc_b, shared_chunks, jaccard) for pairs sharing
    at least ``min_shared`` capped chunks; jaccard is over the capped
    chunk sets."""
    # materialize the chunk sets ONCE: the tail references them from
    # four consumers (df-cap aggregate, both self-join sides via kept,
    # per-doc sizes) and the per-position rolling-hash chunk scan is
    # by far the dominant cost — without this it re-runs per consumer
    sets = (
        cdc_chunks(df, text_col, id_col, min_len)
        .select("doc_id", F.md5("chunk").alias("chunk_hash"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _pairs_from_chunk_sets(sets, max_df, min_shared)


def _pairs_from_chunk_sets(
    sets: DataFrame,
    max_df: int = CDC_MAX_DF,
    min_shared: int = CDC_MIN_SHARED,
) -> DataFrame:
    """df-cap + pair join + jaccard over a distinct (doc_id,
    chunk_hash) set table — the corpus-frequency-dependent tail of
    cdc_chunk_pairs, shared with the streaming maintenance (which
    must re-derive it per epoch: both the cap and the capped per-doc
    set sizes move with corpus-wide document frequencies)."""
    dfc = sets.groupBy("chunk_hash").agg(F.count("*").alias("_df"))
    # kept feeds three consumers (both pair-join sides + sizes);
    # materialize so the cap join runs once, not per consumer
    kept = sets.join(
        dfc.filter(F.col("_df") <= max_df).select("chunk_hash"),
        "chunk_hash",
    ).localCheckpoint(eager=True)
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    a = kept.select(
        F.col("chunk_hash"), F.col("doc_id").alias("doc_a")
    )
    b = kept.select(
        F.col("chunk_hash"), F.col("doc_id").alias("doc_b")
    )
    pairs = (
        a.join(b, "chunk_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= min_shared)
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_chunks").alias("_na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_chunks").alias("_nb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_chunks",
            stable_round(
                F.col("shared_chunks")
                / (F.col("_na") + F.col("_nb") - F.col("shared_chunks")),
                6,
            ).alias("jaccard"),
        )
    )


def cdc_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = CDC_MIN_CHUNK,
    max_df: int = CDC_MAX_DF,
    min_shared: int = CDC_MIN_SHARED,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming CDC near-dup MAINTENANCE: documents arrive in
    micro-batches; each doc is CHUNKED exactly once, at arrival —
    the O(len) rolling-hash boundary scan is the dominant cost and
    never re-runs (state is the compact distinct (doc_id, chunk_hash)
    table, appended per epoch).

    The pair derivation, unlike MinHash-LSH maintenance, is NOT
    append-only: both the document-frequency cap and the capped
    per-doc set sizes (the jaccard denominator) move with CORPUS-WIDE
    frequencies — a chunk under the cap can cross it as the corpus
    grows, retracting every pair it alone justified. So each epoch
    re-derives the pair set from the accumulated hash table
    (_pairs_from_chunk_sets — cheap keyed joins over hashes, no text),
    the same bounded per-epoch-recompute discipline as k-core/LPA
    maintenance, with the expensive text scan incremental.

    Per-epoch invariant asserted: chunk-set state is append-only per
    doc — a doc's hashes arrive in exactly one epoch.

    Final epoch equals batch cdc_chunk_pairs over all docs, so the
    entry shares its oracle twin."""
    from ..streaming.replay import maintain

    return maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: cdc_chunks(b, text_col, id_col, min_len)
        .select("doc_id", F.md5("chunk").alias("chunk_hash"))
        .distinct(),
        lambda acc, *_: _pairs_from_chunk_sets(acc, max_df, min_shared),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


def _cdc_chunks_pos(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, pos, chunk, ch): every content-defined chunk with its
    1-based position and md5 content hash — the FULL partition of the
    normalized text (no min-length filter, unlike cdc_chunks), so a
    keep-first removal can reconstruct the cleaned text exactly by
    concatenating survivors in order. Same O(len) bound-attribute
    chunker as cdc_chunks."""
    norm = F.regexp_replace(F.lower(ws_trim(F.col(text_col))), r"\s+", " ")
    staged = (
        df.select(F.col(id_col).alias("doc_id"), norm.alias("_s"))
        .withColumn("_chars", F.split(F.col("_s"), ""))
        .withColumn(
            "_starts",
            _chunk_starts(F.col("_chars"), F.size(F.col("_chars"))),
        )
    )
    chars, starts = F.col("_chars"), F.col("_starts")
    k_seq = F.sequence(F.lit(1), F.size(starts))
    chunk_at = lambda k: F.concat_ws(  # noqa: E731
        "",
        F.slice(
            chars,
            F.element_at(starts, k),
            F.coalesce(F.try_element_at(starts, k + 1), F.size(chars) + 1)
            - F.element_at(starts, k),
        ),
    )
    return (
        staged.select(
            "doc_id",
            F.posexplode(F.transform(k_seq, chunk_at)).alias(
                "pos0", "chunk"
            ),
        )
        .filter(F.length("chunk") > 0)
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "chunk",
            F.md5("chunk").alias("ch"),
        )
    )


def cdc_chunk_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Chunk-level keep-first DEDUP with a removal readout — the
    insertion-robust boilerplate remover: the normalized text
    partitions into content-defined chunks (no min-length filter —
    chunks tile the document), duplicate chunks drop CORPUS-WIDE
    keeping the smallest (doc_id, pos) occurrence, and the per-doc
    readout is (doc_id, n_chunks, n_kept, n_dropped, cleaned_hash)
    with cleaned_hash = md5 of the surviving chunks concatenated in
    order (md5('') when everything was duplicated) — paragraph_dedup
    generalized from author-chosen blank-line boundaries to
    content-defined cuts, so a full-document copy loses EVERYTHING
    to its original and an insertion-shifted copy loses everything
    except the chunk containing the splice (boundaries
    re-synchronize — the CDC property, now driving removal instead
    of pair detection).

    Scale shape: the chunk scan is a pure per-row map (O(len),
    bound-attribute discipline); keep-first is a hash-PARTITIONED
    rank on the chunk-content hash (never a global sort); the
    readout is two doc-keyed aggregates. Same shuffle classes as
    paragraph_dedup."""
    chunks = _cdc_chunks_pos(df, text_col, id_col)
    return _chunk_dedup_result(chunks, _chunk_keep_first(chunks))


def _chunk_keep_first(chunks: DataFrame) -> DataFrame:
    """Smallest-(doc_id, pos) occurrence per chunk-content hash — a
    hash-PARTITIONED rank, never a global sort (the _keep_first rule
    on the ch column)."""
    w = Window.partitionBy("ch").orderBy("doc_id", "pos")
    return chunks.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )


def _chunk_dedup_result(
    chunks: DataFrame, kept: DataFrame
) -> DataFrame:
    """Per-doc removal readout shared by cdc_chunk_dedup and its
    maintenance stream: chunk counts + md5 of the surviving chunks
    concatenated in original order (the _paragraph_result shape with
    '' as the joiner — chunks tile the text, so survivors re-form
    the cleaned text exactly)."""
    reb = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
            )
        ).alias("cleaned_hash"),
    )
    base = chunks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks")
    )
    return base.join(reb, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(F.col("cleaned_hash"), F.md5(F.lit(""))).alias(
            "cleaned_hash"
        ),
    )


def cdc_chunk_dedup_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_slices: int = 3,
) -> DataFrame:
    """Streaming chunk-level keep-first dedup — the sharded form:
    documents arrive in doc_id order (replay_fold's determinism
    contract), which makes keep-first APPEND-ONLY: an arriving chunk
    survives iff its content hash is not already in the seen-hash
    state, and no later arrival can retro-displace an earlier
    winner. State is the text-free hash set plus the already-emitted
    per-doc results, held as IMMUTABLE per-epoch checkpointed blocks
    unioned lazily (the paragraph_dedup_maintain_stream discipline
    exactly): per-epoch materialization is O(batch) — the fresh
    chunks, result rows, and hash delta — while the anti-join reads
    the accumulated blocks without rewriting them.

    Ordered-arrival precondition ASSERTED per epoch. Final epoch
    equals batch cdc_chunk_dedup, so the entry shares its twin."""
    from functools import reduce

    from ..streaming.replay import check_ordered_arrival, replay_fold

    state: dict = {"seen_parts": [], "max_id": None, "result_parts": []}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        chunks = _cdc_chunks_pos(
            batch_df, text_col, id_col
        ).localCheckpoint(eager=True)
        state["max_id"] = check_ordered_arrival(
            batch_df, id_col, state["max_id"], epoch_id
        )
        kept = _chunk_keep_first(chunks)
        if state["seen_parts"]:
            seen = reduce(DataFrame.unionByName, state["seen_parts"])
            kept = kept.join(seen, "ch", "left_anti")
        res = _chunk_dedup_result(chunks, kept).localCheckpoint(
            eager=True
        )
        state["seen_parts"].append(
            chunks.select("ch").distinct().localCheckpoint(eager=True)
        )
        state["result_parts"].append(res)

    replay_fold(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    if not state["result_parts"]:
        id_type = df.schema[id_col].dataType.simpleString()
        schema = (
            f"doc_id {id_type}, n_chunks long, n_kept long, "
            "n_dropped long, cleaned_hash string"
        )
        return spark.createDataFrame([], schema)
    return reduce(DataFrame.unionByName, state["result_parts"])


CDC_GRAM_BPE = 4  # rolling window width, in BPE pieces
CDC_MOD_BPE = 32  # expected chunk length in pieces (1/32 density)
CDC_MIN_CHUNK_BPE = 16  # drop chunks shorter than this many pieces
# With ~2-3 pieces per word under a 4-merge vocab, expected chunks run
# ~12 words and the minimum ~6 — the same effective content length as
# the char chunker's 64-char expectation / 16-char floor, so chance
# chunk collisions between unrelated docs stay negligible (a shared
# chunk needs an identical ~min_len+gram piece run INCLUDING matching
# cut windows, not just shared vocabulary).


def _bpe_piece_chunk_sets(
    toks: DataFrame,
    gram: int = CDC_GRAM_BPE,
    mod: int = CDC_MOD_BPE,
    min_len: int = CDC_MIN_CHUNK_BPE,
) -> DataFrame:
    """Distinct (doc_id, chunk_hash) sets from content-defined
    chunking in BPE PIECE space: over each doc's piece sequence
    (bpe_token_stream's (doc_id, words)), piece index i starts a new
    chunk when md5 of the space-joined ``gram``-piece window at i
    hits 0 mod ``mod`` — _chunk_starts' rsync/LBFS rule lifted from
    chars to the tokenizer's own units, so boundaries re-synchronize
    after an edit measured in TOKENS (what a training pipeline
    dedups). Chunks shorter than ``min_len`` pieces drop; the chunk
    key is md5 of the space-joined pieces.

    O(n_pieces) per doc and a pure per-row map: ``words`` is already
    a bound attribute (no inline-subexpression re-evaluation), each
    window is slice+concat_ws (never substr-from-head), and the
    boundary list is an F.filter over the position sequence (never a
    fold accumulating an array) — the same two quadratic traps
    _chunk_starts documents, avoided the same way."""
    n = F.size("words")
    staged = toks.withColumn(
        "_starts",
        F.array_distinct(
            F.concat(
                F.array(F.lit(1).cast("int")),
                F.when(
                    n >= gram + 1,
                    F.filter(
                        F.sequence(
                            F.lit(2),
                            F.greatest(F.lit(2), n - (gram - 1)),
                        ),
                        lambda i: F.pmod(
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            " ",
                                            F.slice(
                                                F.col("words"), i, gram
                                            ),
                                        )
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("long"),
                            F.lit(mod),
                        )
                        == 0,
                    ),
                ).otherwise(F.array().cast("array<int>")),
            )
        ),
    ).withColumn("_n", F.size("words"))
    starts = F.col("_starts")
    np_at = lambda k: (  # noqa: E731
        F.coalesce(F.try_element_at(starts, k + 1), F.col("_n") + 1)
        - F.element_at(starts, k)
    )
    chunk_at = lambda k: F.struct(  # noqa: E731
        np_at(k).alias("np"),
        F.concat_ws(
            " ",
            F.slice(F.col("words"), F.element_at(starts, k), np_at(k)),
        ).alias("chunk"),
    )
    k_seq = F.sequence(F.lit(1), F.size(starts))
    return (
        staged.select(
            "doc_id",
            F.explode(F.transform(k_seq, chunk_at)).alias("c"),
        )
        .filter(F.col("c.np") >= min_len)
        .select("doc_id", F.md5("c.chunk").alias("chunk_hash"))
        .distinct()
    )


def cdc_chunk_pairs_bpe(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    min_len: int = CDC_MIN_CHUNK_BPE,
    max_df: int = CDC_MAX_DF,
    min_shared: int = CDC_MIN_SHARED,
    export_path: str | None = None,
) -> DataFrame:
    """Near-duplicate doc pairs from content-defined chunks in BPE
    PIECE space — cdc_chunk_pairs with the chunker lifted into the
    learned tokenizer's units: the BPE vocab trains on the corpus
    (or round-trips through the parquet artifact via
    ``export_path``), documents become piece sequences through ONE
    BROADCAST vocab join (bpe_token_stream), chunk boundaries are
    content-defined over pieces, and the pair readout is the shared
    df-capped _pairs_from_chunk_sets tail — never all-pairs.

    Scale shape: tokenize+chunk is one broadcast-join map pass; the
    chunk-set table is checkpointed once (the rolling-hash scan is
    the dominant cost and the tail reads it from four consumers);
    pair fan-out bounded by max_df^2 per chunk bucket."""
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(docs, text_col, n_merges, export_path)
    toks = bpe_token_stream(docs, vocab, text_col, id_col)
    sets = _bpe_piece_chunk_sets(
        toks, CDC_GRAM_BPE, CDC_MOD_BPE, min_len
    ).localCheckpoint(eager=True)
    return _pairs_from_chunk_sets(sets, max_df, min_shared)


def cdc_maintain_stream_bpe(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    min_len: int = CDC_MIN_CHUNK_BPE,
    max_df: int = CDC_MAX_DF,
    min_shared: int = CDC_MIN_SHARED,
    n_slices: int = 3,
    export_path: str | None = None,
) -> DataFrame:
    """Streaming CDC-chunk maintenance in BPE PIECE space (SURVEY §9
    r11 candidate (a)): the vocab is trained ONCE up front and stays
    FIXED (optionally round-tripped through the parquet artifact —
    the ship-the-tokenizer shape shared with
    bm25_maintain_stream_bpe); arriving documents tokenize and chunk
    under the broadcast artifact exactly once, at arrival, into the
    text-free distinct (doc_id, chunk_hash) state, appended per
    epoch with the append-only-per-doc assertion.

    The pair readout re-derives per epoch from the accumulated hash
    table (_pairs_from_chunk_sets): both the document-frequency cap
    and the jaccard denominators move with corpus-wide frequencies —
    cdc_maintain_stream's bounded per-epoch-recompute discipline,
    with the expensive tokenize+rolling-hash scan incremental. Final
    epoch equals batch cdc_chunk_pairs_bpe (the fixed vocab is the
    one batch trains), so the entry shares its oracle twin."""
    from ..streaming.replay import maintain
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(df, text_col, n_merges, export_path)
    vocab = vocab.localCheckpoint(eager=True)
    return maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: _bpe_piece_chunk_sets(
            bpe_token_stream(b, vocab, text_col, id_col),
            CDC_GRAM_BPE,
            CDC_MOD_BPE,
            min_len,
        ),
        lambda acc, *_: _pairs_from_chunk_sets(acc, max_df, min_shared),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


def duplicated_passages(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int = CDC_MIN_CHUNK,
) -> DataFrame:
    """Sub-document duplicate detection: content-defined chunks whose
    exact text recurs — within one document or across documents.
    Returns (chunk_hash, n_docs, n_occurrences, chunk_len,
    example_doc_id) for every chunk seen at least twice. The
    passage-level complement to whole-document dedup: boilerplate
    headers, quoted blocks, and templated spans surface here even when
    no two documents are near-duplicates as wholes.

    Scale shape: chunking is a per-row map (no shuffle); the only
    shuffle keys (chunk_hash) — ~len/CDC_MOD rows per document, each
    carrying a hash + a handful of ints, never the chunk text past the
    map side. HOF-safety: norm/starts are materialized columns before
    any lambda references them (interpreted HOFs re-evaluate captured
    EXPRESSIONS per element; re-evaluating a column reference is
    free) — see cdc_chunks."""
    chunks = cdc_chunks(df, text_col, id_col, min_len)
    return (
        chunks.select(
            "doc_id",
            F.md5("chunk").alias("chunk_hash"),
            F.length("chunk").alias("_len"),
        )
        .groupBy("chunk_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("_len").alias("chunk_len"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


# ------------------------- winnowing fingerprints -------------------------

WINNOW_K = 8  # k-gram length in characters
WINNOW_W = 4  # window size in k-grams
_WINNOW_POS = 1 << 20  # position-encoding radix for the packed argmin


def winnowing_fp_set(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character k-gram,
    slide a window of ``w`` consecutive k-gram hashes, and keep the
    minimum hash per window (ties -> rightmost occurrence). Guarantees
    at least one shared fingerprint for any match of length
    ``w + k - 1``, while storing ~``2/(w+1)`` of all gram hashes —
    the robust local fingerprinting scheme behind plagiarism / near-dup
    detection at corpus scale.

    Selection is made engine-exact with a packed argmin: each gram row
    carries ``c = h * 2^20 + (2^20 - pos)`` so ``min(c)`` over the
    window frame simultaneously takes the smallest hash and, on ties,
    the RIGHTMOST position — one window pass, no argmax join. ``h`` is
    the usual 32-bit md5 prefix (< 2^32), so ``c < 2^52`` stays exact
    in a BIGINT/double anywhere. Document positions must be < 2^20;
    chunk longer inputs first (operators/corpus_quality.chunk_documents).

    Returns the DISTINCT ``(doc_id, fp_hash)`` selection. The
    selection is a map + one per-doc window (single shuffle keyed by
    doc_id); nothing global. Documents shorter than ``w + k - 1``
    chars have no full window and are excluded — declared semantics,
    mirrored by the oracle twin.
    """
    d = (
        documents.filter(F.length("text") >= k + w - 1)
        .select("doc_id", "text", F.length("text").alias("n"))
        # ENFORCED guard for the packed-argmin radix: positions must
        # fit in 2^20 or the min selection silently corrupts in both
        # engines (the oracle could not catch it). assert_true inside
        # a filter (returns NULL -> row kept) can't be pruned away.
        .filter(
            F.assert_true(
                F.col("n") < F.lit(_WINNOW_POS),
                F.concat(
                    F.lit(
                        "winnowing_fp_set: document length must be < "
                        f"{_WINNOW_POS} chars (packed-argmin radix); "
                        "chunk longer inputs first. Got "
                    ),
                    F.col("n").cast("string"),
                ),
            ).isNull()
        )
    )
    # k-gram windows come from a split-once char array via slice +
    # concat_ws (O(k) per gram) — substring(text, pos, k) walks the
    # UTF8String from the head per call, turning the whole scan
    # O(n^2) per document (the _chunk_starts / trigram trap; window
    # content is identical for BMP text). The array rides the
    # pipelined explode->project and is dropped before the shuffle.
    grams = d.withColumn("_chars", F.split("text", "")).select(
        "doc_id",
        "n",
        "_chars",
        F.explode(
            F.sequence(F.lit(1), F.col("n") - (k - 1))
        ).alias("pos"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("", F.slice(F.col("_chars"), F.col("pos"), k))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    packed = grams.select(
        "doc_id",
        "n",
        "pos",
        (h * F.lit(_WINNOW_POS) + (F.lit(_WINNOW_POS) - F.col("pos"))).alias(
            "ck"
        ),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        packed.withColumn("mck", F.min("ck").over(win))
        .filter(F.col("pos") <= F.col("n") - (k - 1) - (w - 1))
        .select(
            "doc_id",
            F.expr(f"mck div {_WINNOW_POS}").alias("fp_hash"),
        )
        .distinct()
    )


def winnowing_fingerprints(
    documents: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """Per-document summary of the winnowing selection: fingerprint
    count plus an order-independent checksum (sum), min and max of
    the selected hashes — sensitive to every fingerprint without
    shipping the full (doc, hash) set."""
    return winnowing_fp_set(documents, k=k, w=w).groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.sum("fp_hash").alias("fp_checksum"),
        F.min("fp_hash").alias("fp_min"),
        F.max("fp_hash").alias("fp_max"),
    )


WINNOW_MAX_DF = 64  # drop fingerprints shared by more docs than this


def winnow_neardup_pairs(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = WINNOW_MAX_DF,
) -> DataFrame:
    """Fingerprint-overlap near-duplicate pairs: candidate pairs are
    documents sharing at least one winnowing fingerprint (equi-join on
    the fingerprint hash — never all-pairs), kept when the shared
    count clears an overlap-coefficient threshold of 1/4, tested with
    the integer cross-multiplication ``4 * shared >= least(n_a, n_b)``.

    Fingerprints appearing in more than ``max_df`` documents are
    dropped before the join (boilerplate/stop-gram removal) — the
    same hot-bucket discipline as LSH sub-banding: it bounds the
    per-fingerprint join fan-out, so bucket cost is ``max_df^2`` at
    worst, independent of corpus size. Returns
    ``(doc_a, doc_b, shared_fp, n_fp_a, n_fp_b)`` with
    ``doc_a < doc_b`` canonical.
    """
    fps = winnowing_fp_set(documents, k=k, w=w).persist()
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    rare = (
        fps.groupBy("fp_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp_hash")
    )
    kept = fps.join(rare, "fp_hash")
    a = kept.select(
        F.col("fp_hash"), F.col("doc_id").alias("doc_a")
    )
    b = kept.select(
        F.col("fp_hash"), F.col("doc_id").alias("doc_b")
    )
    shared = (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fp"))
    )
    na = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
    )
    nb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
    )
    out = (
        shared.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            4 * F.col("shared_fp")
            >= F.least(F.col("n_fp_a"), F.col("n_fp_b"))
        )
        .select("doc_a", "doc_b", "shared_fp", "n_fp_a", "n_fp_b")
    )
    res = out.localCheckpoint()
    fps.unpersist()
    return res


def neardup_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str,
    id_col: str,
    jaccard_threshold: float = 0.5,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup MAINTENANCE with truly
    incremental match cost: documents arrive in micro-batches; per
    epoch, signatures and band keys are computed for the NEW docs
    only, and the band join is fresh x accumulated — old x old pairs
    are already in state. Per-epoch candidate work is
    |new docs| x band-mates, independent of the accumulated corpus
    size (the naive recompute re-signs and re-joins the whole corpus
    every epoch — quadratic-in-epochs total work at 100 TB ingest).

    State is three dictionary-shaped tables, held as checkpointed
    per-epoch blocks (a compacted keyed state table in production):
    - docs  (doc_id, shingles)   — one row per doc, shingles stored
      ONCE (not x LSH_BANDS as the batch path's banded cache does);
    - bands (doc_id, band_key)   — LSH_BANDS rows per doc;
    - pairs (doc_a, doc_b, jaccard) — the verified output so far.

    Completeness: a pair surfaces exactly in its LATER member's
    arrival epoch (the later member is on the fresh side; band keys
    are deterministic per doc), so the final pair set equals batch
    minhash_lsh_pairs over all rows and the entry shares its oracle
    twin. A candidate that fails the Jaccard check can never
    resurface: both members are old in every later epoch.
    """
    from ..streaming.replay import replay_fold

    state: dict = {"docs": None, "bands": None, "pairs": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        base = (
            batch_df.select(
                F.col(id_col).alias("doc_id"),
                word_shingles(F.col(text_col)).alias("shingles"),
            )
            .withColumn(
                "digests", F.transform(F.col("shingles"), lambda s: F.md5(s))
            )
            .withColumn("sig", minhash_signature(F.col("digests")))
        )
        fresh_docs = base.select("doc_id", "shingles").localCheckpoint(
            eager=True
        )
        fresh_bands = base.select(
            "doc_id", F.explode(lsh_band_keys(F.col("sig"))).alias("band_key")
        ).localCheckpoint(eager=True)
        # lazy unions of immutable per-epoch blocks (maintain's policy)
        acc_docs, acc_bands = fresh_docs, fresh_bands
        if state["docs"] is not None:
            acc_docs = state["docs"].unionByName(fresh_docs)
            acc_bands = state["bands"].unionByName(fresh_bands)
        cand = (
            fresh_bands.alias("a")
            .join(
                acc_bands.alias("b"),
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        sh_a = acc_docs.select(
            F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
        )
        sh_b = acc_docs.select(
            F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
        )
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
        new_pairs = (
            cand.join(sh_a, "doc_a")
            .join(sh_b, "doc_b")
            .withColumn(
                "jaccard",
                stable_round(inter.cast("double") / union.cast("double"), 6),
            )
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
        pairs = (
            new_pairs
            if state["pairs"] is None
            else state["pairs"].unionByName(new_pairs)
        ).localCheckpoint(eager=True)
        state["docs"] = acc_docs
        state["bands"] = acc_bands
        state["pairs"] = pairs

    replay_fold(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    return state["pairs"]


def dedup_eval(detected: DataFrame, expected: DataFrame) -> DataFrame:
    """Detection-quality scoring against planted ground truth — the QA
    gate a dedup pipeline runs before trusting a detector at corpus
    scale: join the detected pair set against the expected (planted)
    pair set and report ONE row
    (n_expected, n_detected, n_true_pos, precision, recall, f1).

    Both inputs are canonical (doc_a < doc_b) pair tables; each is
    distinct-ed defensively. f1 uses the integer identity
    2*TP / (n_detected + n_expected) — equal to the harmonic mean of
    precision and recall, but computed from one exact integer ratio
    (single stable_round, no compounding of rounded doubles).

    Scale shape: two distincts + one equi-join on the pair key + three
    1-row aggregates broadcast-crossed together — pair-set sized, never
    corpus sized."""
    from ..functions.rounding import stable_round

    det = detected.select("doc_a", "doc_b").distinct()
    exp = expected.select("doc_a", "doc_b").distinct()
    n_det = det.agg(F.count("*").alias("n_detected"))
    n_exp = exp.agg(F.count("*").alias("n_expected"))
    n_tp = det.join(exp, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_true_pos")
    )
    joined = (
        n_exp.crossJoin(F.broadcast(n_det)).crossJoin(F.broadcast(n_tp))
    )
    tp = F.col("n_true_pos").cast("double")
    safe = lambda num, den: F.when(  # noqa: E731
        den > 0, stable_round(num / den.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return joined.select(
        "n_expected",
        "n_detected",
        "n_true_pos",
        safe(tp, F.col("n_detected")).alias("precision"),
        safe(tp, F.col("n_expected")).alias("recall"),
        safe(
            F.lit(2.0) * tp,
            F.col("n_detected") + F.col("n_expected"),
        ).alias("f1"),
    )


def planted_near_dup_pairs(base_ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Ground-truth pair table for with_synthetic_near_dups: exact
    copies (id, id+1e6) for id % 31 == 0, near copies (id, id+2e6)
    for id % 17 == 0, and — when both plants hit the same doc
    (id % 527 == 0) — the induced copy-of-copy pair (id+1e6, id+2e6),
    which is a genuine near-dup and must not count against
    precision."""
    ids = base_ids.select(F.col(id_col).alias("doc_id"))
    e1 = ids.filter(F.col("doc_id") % 31 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 1_000_000).alias("doc_b"),
    )
    e2 = ids.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 2_000_000).alias("doc_b"),
    )
    e3 = ids.filter(F.col("doc_id") % 527 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_a"),
        (F.col("doc_id") + 2_000_000).alias("doc_b"),
    )
    return e1.unionByName(e2).unionByName(e3)


NOVELTY_N = 5  # word n-gram width for novelty scoring


def ngram_novelty(
    scored: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = NOVELTY_N,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    fraction of a document's distinct word n-grams that the reference
    has never seen — the decontamination/memorization diagnostic an
    LLM pipeline runs when mixing a new source into an existing
    corpus (novelty ~0 = the document is already represented; ~1 =
    genuinely new text). Returns (doc_id, n_grams, n_seen, novelty).

    word_shingles already emits DISTINCT per-doc grams (and the whole
    trimmed text for sub-n-word docs — declared, mirrored by the
    twin). Scale shape: one md5-keyed equi-join of the scored gram
    table against the reference's distinct gram-hash set (shuffle
    carries hashes, never text; AQE may broadcast a small reference),
    then one per-doc hash aggregate."""
    sh = scored.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("_g"),
    ).select("doc_id", F.md5("_g").alias("h"))
    ref = (
        reference.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("_g")
        )
        .select(F.md5("_g").alias("h"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    joined = sh.join(ref, "h", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("_seen").alias("n_seen"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen",
            stable_round(
                F.lit(1.0)
                - F.col("n_seen").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


# ------------- suffix-window exact substring dedup (span removal) -----------
#
# The Lee-et-al. ("Deduplicating Training Data Makes Language Models
# Better") exact duplicated-SUBSTRING family, in an engine-exact bounded
# form: instead of a corpus-global suffix array (pointer-chasing,
# memory-resident, hostile to a shuffle-based engine), every length-L
# token window is hashed and a window is "duplicated" iff its hash
# occurs >= min_occ times corpus-wide. Any duplicated substring of
# >= L tokens is covered (all its L-windows recur); per document the
# covered windows merge into maximal spans, and removal drops exactly
# the covered token positions. Complements CDC passage dedup
# (document-pair discovery) with span-LEVEL removal.
#
# Scale shape: the only global shuffle keys on the 32-char window hash
# (a count aggregate — no pair join, so hot boilerplate windows cost
# one combiner row, no df-cap needed); span merging and removal are
# doc_id-partitioned window/aggregate ops. Exploded rows carry
# (doc_id, pos, hash) — never the words array or the document text.

EXSPAN_L = 8  # duplicated-substring threshold, in word tokens
EXSPAN_MIN_OCC = 2  # corpus-wide occurrences for "duplicated"


def _window_hash_table(
    df: DataFrame, text_col: str, id_col: str, L: int = EXSPAN_L
) -> DataFrame:
    """(doc_id, pos, h): xxhash64 of EVERY length-L token window,
    stride 1, pos 1-based. Windows are built per document as ONE array
    via L shifted slices + zip_with (the word_shingles discipline —
    never element_at inside a lambda), hashed inside a transform whose
    lambda touches only its own element, then posexploded — so the
    per-document cost is O(n_tokens * L) and exploded rows are
    constant-width.

    Hash choice (round-9 constant-factor pass): the hash only ever
    serves as a GROUP KEY for the corpus-wide recurrence count — it
    never reaches any output — so the oracle twin groups on md5 of
    the same window text (identical grouping, mechanism declared
    divergent) and the engine is free to use the cheapest native
    64-bit hash. xxhash64 emits an 8-byte LONG instead of md5's
    32-char hex string: the (doc_id, pos, h) shuffle row shrinks
    ~2.5x and the per-window hash cost drops (no hex-string
    materialization, no MessageDigest). A 64-bit key collides two
    distinct windows with probability ~n^2/2^65 (~1e-6 at 10^7
    windows; at 100 TB a false 'duplicated' marking at ~1e-9 rate is
    noise for a dedup filter — and md5-truncation would carry the
    same risk)."""
    words = F.split(ws_trim(F.lower(F.col(text_col))), r"\s+")
    return _array_window_hash_table(
        df.select(F.col(id_col).alias("doc_id"), words.alias("words")), L
    )


def _array_window_hash_table(base: DataFrame, L: int) -> DataFrame:
    """(doc_id, pos, h) window-hash rows from a prepared
    (doc_id, words: array<string>) table — the shared core of
    _window_hash_table, also fed by the BPE token-space variant
    (exact_substring_spans_bpe). See _window_hash_table for the
    construction and hash-choice disciplines."""
    base = (
        base.withColumn("nw", F.size("words"))
        .filter(F.col("nw") >= L)
        .withColumn("m", F.col("nw") - (L - 1))
    )
    grams = F.slice("words", F.lit(1), F.col("m"))
    for j in range(1, L):
        grams = F.zip_with(
            grams,
            F.slice("words", F.lit(j + 1), F.col("m")),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    hashes = base.withColumn(
        "win_h", F.transform(grams, lambda g: F.xxhash64(g))
    )
    return hashes.select(
        "doc_id", F.posexplode("win_h").alias("pos0", "h")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")


def _covered_window_starts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
) -> DataFrame:
    """(doc_id, pos) of every window whose hash recurs >= min_occ
    times corpus-wide (within-document repeats count, as in Lee et
    al.). One hash-keyed count aggregate + one equi-join back."""
    return _cov_from_window_table(
        _window_hash_table(df, text_col, id_col, L), min_occ
    )


def _cov_from_window_table(
    wins: DataFrame, min_occ: int = EXSPAN_MIN_OCC
) -> DataFrame:
    """(doc_id, pos) covered starts from an (accumulated) window-hash
    table — the readout half of _covered_window_starts, shared with
    the streaming maintenance form.

    Round-11 measured note (kept as-is after two rejected rewrites):
    the formatted plan shows NO exchange reuse between the aggregate
    side and the probe side — the O(n_tokens * L) tokenize+hash pass
    executes TWICE per call (plans/r11/exact_substring_spans_before
    .txt: two full Generate subtrees). Both fixes measured SLOWER
    than tolerating the recompute at sf0.1: (a) count(*) over
    partitionBy(h) computes the table once with one exchange but
    WindowExec must SORT every token row by hash — 2.4x slower than
    this sort-free hash-aggregate + shuffled-hash join; (b) a lazy
    localCheckpoint of `wins` computes it once into executor blocks
    but the block-store write+read of the full token-row table costs
    more than re-running the codegen'd map-side tokenize (~15-35%
    slower across the family). The double compute is map-side only
    (scan + split + hash, no exchange), so it scales linearly and
    adds no shuffle at any corpus size.

    The duplicated-hash set is DATA-PROPORTIONAL (distinct recurring
    windows), so it must never broadcast: AQE's post-aggregate size
    estimate undershoots string tables and OOM'd the driver building
    a ~10M-hash broadcast at the 10x probe — pin a shuffled hash
    join (the scale-correct plan at any corpus size)."""
    dup = (
        wins.groupBy("h")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_occ)
        .select("h")
    )
    return wins.join(dup.hint("shuffle_hash"), "h").select(
        "doc_id", "pos"
    )


def _spans_from_cov(cov: DataFrame, L: int = EXSPAN_L) -> DataFrame:
    """Merge covered window starts into maximal spans — see
    exact_substring_spans for the lag-based equal-length interval
    merge derivation."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    flagged = cov.withColumn(
        "ns",
        F.when(prev.isNull() | (F.col("pos") - prev > L), 1).otherwise(0),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("ns").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return spans.groupBy("doc_id", "span_id").agg(
        F.min("pos").cast("long").alias("start_pos"),
        (F.max("pos") + (L - 1)).cast("long").alias("end_pos"),
        (F.max("pos") + (L - 1) - F.min("pos") + 1)
        .cast("long")
        .alias("span_tokens"),
        F.count("*").alias("n_windows"),
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
) -> DataFrame:
    """Maximal duplicated-substring spans per document: merge
    overlapping-or-adjacent duplicated L-token windows into
    (doc_id, span_id, start_pos, end_pos, span_tokens, n_windows),
    positions 1-based in the document's whitespace token sequence.

    Because every interval has the same length L, the running max of
    span ends is always lag(pos) + L - 1, so the classic sorted
    interval merge reduces to one lag(): a new span starts iff
    pos - lag(pos) > L. Both window functions are doc_id-partitioned
    (no global window)."""
    return _spans_from_cov(
        _covered_window_starts(df, text_col, id_col, L, min_occ), L
    )


def exact_substring_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
    n_slices: int = 3,
) -> DataFrame:
    """Streaming exact-substring span MAINTENANCE: documents arrive
    in micro-batches; each doc is tokenized + window-hashed exactly
    once, at arrival (the O(n_tokens * L) text scan is the dominant
    cost and never re-runs) — state is the compact text-free
    (doc_id, pos, h) window-hash table, appended per epoch.

    The readout is NOT append-only: duplication is a corpus-GLOBAL
    predicate (a window unique today becomes duplicated the moment
    its twin arrives, retro-flagging the earlier document), so each
    epoch re-derives the duplicated-hash set and the span merge from
    the accumulated table — keyed count + join + doc-partitioned
    windows over hashes, never text. Same bounded per-epoch-recompute
    discipline as CDC / BM25 maintenance.

    Per-epoch invariant asserted: window state is append-only per doc
    — a doc's windows arrive in exactly one epoch.

    Final epoch equals batch exact_substring_spans over all docs, so
    the entry shares its oracle twin."""
    from ..streaming.replay import maintain

    return maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: _window_hash_table(b, text_col, id_col, L),
        lambda acc, *_: _spans_from_cov(
            _cov_from_window_table(acc, min_occ), L
        ),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )


EXSPAN_BL = 32  # byte-level duplicated-substring threshold, in BYTES


def _byte_window_hash_table(
    df: DataFrame, text_col: str, id_col: str, L: int = EXSPAN_BL
) -> DataFrame:
    """(doc_id, pos, h): xxhash64 of EVERY length-L BYTE window of the
    raw UTF-8 encoding, stride 1, pos = 1-based byte offset. Unlike
    the token variant there is no tokenization, lowering, or
    whitespace collapse — byte windows are case- and layout-sensitive,
    the form Lee et al. run over raw training bytes (catches
    duplicated markup / code / whitespace runs the word tokenizer
    normalizes away).

    Per-document cost is O(n_bytes * L) with NO quadratic risk: the
    encode() runs once into a bound column and substr on BINARY is a
    direct byte-offset slice (O(L) per window — binary is fixed-width
    addressable, unlike STRING substr's O(pos) UTF-8 walk), so the
    transform lambda touches only its own O(L) slice. Exploded rows
    are constant-width (doc_id, pos, hash) — never the payload.

    Hash choice (round-9 constant-factor pass, VERDICT r8 obs #1):
    this table emits ~1 row per input BYTE — the heaviest per-byte
    cost in the repo — and the hash only ever serves as a GROUP KEY
    (it never reaches any output; the twin groups on the raw hex
    window image, mechanism declared divergent), so the engine side
    is free to pick the cheapest computation. Built-in Column ops
    cannot express stride-1 byte windows without an interpreted HOF
    lambda per position (~2 us/byte measured — the md5->xxhash64
    swap moved the longdoc probe 6.48 -> 6.41 s because interpreter
    overhead, not the hash, dominates), so this is the documented
    case (b) for an Arrow-batched vectorized UDF: mapInPandas with a
    NUMPY Horner polynomial rolling hash — L fused multiply-adds
    over uint64 vectors (wraparound mod 2^64 is the modulus; base
    odd, so windows differing anywhere differ in h with
    ~n^2/2^65 collision odds — a false 'duplicated' marking at
    ~1e-9 rate at 100 TB is noise for a dedup filter). Measured r9
    longdoc 64x50k: spans 6.48 -> 2.7 s, removal 7.41 -> 3.1 s. The
    (doc_id, pos, h) shuffle row is 3 longs (~24 B/row vs ~56 with
    the md5 hex string — ~24x the input in shuffled bytes instead of
    ~55x). Stride stays 1: stride-s windows only match when both
    copies of a duplicate sit at the same phase mod s, so any
    stride > 1 silently loses phase-misaligned duplicates — not a
    semantics-preserving option (SURVEY §9 r9)."""
    import numpy as np
    import pandas as pd

    B = 1099511628211  # FNV-1a 64-bit prime (odd -> full period mod 2^64)

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("t"),
    )

    def gen(batches):
        for pdf in batches:
            ids, poss, hs = [], [], []
            for doc_id, t in zip(pdf["doc_id"].to_numpy(), pdf["t"]):
                # a null id arrives as NaN after Arrow's long->float
                # promotion; np.full would raise inside the executor
                if t is None or doc_id != doc_id:
                    continue
                b = np.frombuffer(
                    t.encode("utf-8"), dtype=np.uint8
                ).astype(np.uint64)
                n = b.size
                if n < L:
                    continue
                m = n - L + 1
                # Horner fold: h = ((b[0]*B + b[1])*B + ...) over each
                # length-L window, all m windows advanced per step —
                # L vectorized multiply-adds, wraparound IS the mod
                with np.errstate(over="ignore"):
                    h = np.zeros(m, dtype=np.uint64)
                    base = np.uint64(B)
                    for k in range(L):
                        h = h * base + b[k : k + m]
                ids.append(np.full(m, doc_id, dtype=np.int64))
                poss.append(np.arange(1, m + 1, dtype=np.int64))
                hs.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        "h": np.concatenate(hs),
                    }
                )

    return src.mapInPandas(gen, "doc_id long, pos long, h long")


def exact_substring_spans_bytes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = EXSPAN_BL,
    min_occ: int = EXSPAN_MIN_OCC,
) -> DataFrame:
    """BYTE-level maximal duplicated-substring spans — the raw-bytes
    variant of exact_substring_spans (Lee et al. run their suffix-array
    pass over bytes, not word tokens): every L-byte window whose hash
    recurs >= min_occ times corpus-wide is covered; covered windows
    merge into maximal per-document spans via the same single-lag
    equal-length interval merge. Returns (doc_id, span_id, start_byte,
    end_byte, span_bytes, n_windows), offsets 1-based in the UTF-8
    byte sequence — directly usable to slice the original encoded
    payload.

    Scale shape identical to the token form: one global shuffle keyed
    on the window hash (count aggregate, no pair join), then
    doc-partitioned merge windows; state rows carry hashes, never
    bytes."""
    spans = _spans_from_cov(
        _cov_from_window_table(
            _byte_window_hash_table(df, text_col, id_col, L), min_occ
        ),
        L,
    )
    return spans.select(
        "doc_id",
        "span_id",
        F.col("start_pos").alias("start_byte"),
        F.col("end_pos").alias("end_byte"),
        F.col("span_tokens").alias("span_bytes"),
        "n_windows",
    )


def bpe_token_stream(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, words): each document's BPE TOKEN sequence — the
    alpha words in document order, each replaced by its pieces from
    the segmented-word vocab table (tokenizer.bpe_learn's
    final_vocab, possibly re-read from the exported parquet
    artifact). The vocab is explicitly broadcast: it is bounded by
    the distinct-word vocabulary, never the corpus. Words outside
    the vocab (none when the vocab was trained on this corpus) drop
    out of the stream, positions compacting — mirrored in the twin.

    Round-11 note: a broadcast MAP-row lookup (word -> pieces inside
    a transform lambda) was tried and REVERTED — Spark's map values
    are array-backed, so element_at is a LINEAR scan of the whole
    vocabulary per word: O(|corpus words| * |vocab|), a scale-killer
    the broadcast HASH join does not have (and it measured ~20%
    slower on the downstream window-hash entries at sf0.1, since the
    pieces expression re-evaluates per downstream array reference
    once projection collapse inlines it)."""
    dw = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("wpos", "w"),
    ).filter(F.col("w").rlike("^[a-z]+$"))
    return (
        dw.join(F.broadcast(vocab.select("w", "toks")), "w")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wpos", "toks"))),
                    lambda s: s["toks"],
                )
            ).alias("words")
        )
    )


def exact_substring_spans_bpe(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
    export_path: str | None = None,
) -> DataFrame:
    """Exact-substring span dedup in BPE TOKEN space — what an LLM
    pipeline actually ships: Lee-et-al windows over the LEARNED
    tokenizer's token ids instead of whitespace words, so duplicated
    training SEQUENCES (the thing repeated at training time) are what
    gets flagged, and span offsets are directly usable against the
    tokenized corpus. The tokenizer is the repo's BPE learner
    (tokenizer.bpe_learn, n_merges rules over the same corpus); with
    ``export_path`` the segmented-word vocab is round-tripped through
    parquet first (train once, ship the artifact, dedup anywhere —
    the deployment shape of tokenizer.export_bpe).

    Returns (doc_id, span_id, start_tok, end_tok, span_tokens,
    n_windows), positions 1-based in the document's BPE token
    sequence.

    Scale shape: the vocab join is an explicit BROADCAST
    (vocabulary-sized, plan-asserted); windows/merge reuse the token
    family's machinery — one xxhash64-keyed count aggregate (no pair
    join), doc-partitioned interval merge. Connects the tokenizer and
    dedup families end to end."""
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(docs, text_col, n_merges, export_path)
    toks = bpe_token_stream(docs, vocab, text_col, id_col)
    spans = _spans_from_cov(
        _cov_from_window_table(_array_window_hash_table(toks, L), min_occ),
        L,
    )
    return spans.select(
        "doc_id",
        "span_id",
        F.col("start_pos").alias("start_tok"),
        F.col("end_pos").alias("end_tok"),
        "span_tokens",
        "n_windows",
    )


def exact_substring_removal_bpe(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
    export_path: str | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact-substring REMOVAL in BPE TOKEN space — the natural
    completion of exact_substring_spans_bpe (SURVEY §9.3a): drop
    every BPE token position covered by a duplicated L-token window
    and hash what survives, so the output is directly the deduped
    TOKENIZED corpus an LLM pipeline feeds to training. Returns
    (doc_id, n_tokens, n_removed, cleaned_hash) with n_tokens the
    doc's BPE piece count, cleaned_hash = md5 of the space-joined
    surviving pieces in order (md5('') when everything was
    duplicated); docs whose text yields no in-vocab word emit
    nothing (inner vocab join, mirrored in the twin).

    Same deployment shape as the spans entry: the BPE learner trains
    on the corpus (or the vocab round-trips through the parquet
    artifact via ``export_path``), documents become piece sequences
    through ONE BROADCAST vocab join, and the window/count machinery
    is the shared _array_window_hash_table — no pair join anywhere.

    Scale shape: GAP SLICING, never a covered-position explode — the
    union of covered positions IS the merged spans, so survivors are
    the complement gaps, each an O(gap) direct slice of the per-doc
    piece array (the exact_substring_removal_bytes discipline). The
    token stream feeds both the window table and the reassembly: in
    the default ``materialize=True`` path it is persist()ed so the
    vocab join computes once, the result is eagerly
    localCheckpoint()ed, and the cache is unpersist()ed before
    returning (ADVICE r10: repeated library calls must not
    accumulate cached token streams — the winnow_neardup
    discipline). ``materialize=False`` skips both the persist and
    the checkpoint, returning the fully-lazy plan (the vocab join
    recomputes once per branch) — the plan-audit path, where the
    broadcast-join lineage must stay visible end to end."""
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(docs, text_col, n_merges, export_path)
    toks = bpe_token_stream(docs, vocab, text_col, id_col)
    if not materialize:
        spans = _spans_from_cov(
            _cov_from_window_table(
                _array_window_hash_table(toks, L), min_occ
            ),
            L,
        )
        return _removal_from_toks_and_spans(toks, spans)
    toks = toks.persist()
    spans = _spans_from_cov(
        _cov_from_window_table(_array_window_hash_table(toks, L), min_occ),
        L,
    )
    res = _removal_from_toks_and_spans(toks, spans).localCheckpoint()
    toks.unpersist()
    return res


def _removal_from_toks_and_spans(
    toks: DataFrame, spans: DataFrame
) -> DataFrame:
    """Gap-slicing removal readout over a prepared (doc_id, words)
    piece table and its merged spans — the shared tail of
    exact_substring_removal_bpe and its streaming maintenance form.
    Survivors are the complement GAPS between consecutive spans; each
    gap slices the piece array directly (never a covered-position
    explode)."""
    sp = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("start_pos").alias("sp"),
                    F.col("end_pos").alias("ep"),
                )
            )
        ).alias("sps"),
        F.sum("span_tokens").cast("long").alias("n_cov"),
    )
    joined = toks.withColumn(
        "n_tokens", F.size("words").cast("long")
    ).join(sp, "doc_id", "left").select(
        "doc_id",
        "words",
        "n_tokens",
        F.coalesce(
            F.col("sps"), F.array().cast("array<struct<sp:long,ep:long>>")
        ).alias("sps"),
        F.coalesce(F.col("n_cov"), F.lit(0)).cast("long").alias("n_cov"),
    )
    gs = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform(F.col("sps"), lambda s: s["ep"] + 1),
    )
    ge = F.concat(
        F.transform(F.col("sps"), lambda s: s["sp"] - 1),
        F.array(F.col("n_tokens")),
    )
    gaps = F.filter(
        F.zip_with(
            gs, ge, lambda a, b: F.struct(a.alias("gs"), b.alias("ge"))
        ),
        lambda g: g["ge"] >= g["gs"],
    )
    kept = F.concat_ws(
        " ",
        F.transform(
            gaps,
            lambda g: F.array_join(
                F.slice(
                    "words",
                    g["gs"].cast("int"),
                    (g["ge"] - g["gs"] + 1).cast("int"),
                ),
                " ",
            ),
        ),
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        F.col("n_cov").alias("n_removed"),
        F.md5(kept).alias("cleaned_hash"),
    )


def exact_substring_maintain_stream_bpe(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
    n_slices: int = 3,
    export_path: str | None = None,
) -> DataFrame:
    """Streaming exact-substring span maintenance in BPE TOKEN space
    — the deployment shape of the BPE dedup family end to end: the
    tokenizer artifact is trained ONCE up front (and optionally
    round-tripped through parquet via ``export_path`` — ship the
    vocab, dedup any stream against it), then documents arrive in
    micro-batches and are vocab-joined + window-hashed exactly once
    at arrival under the FIXED broadcast vocab; state is the compact
    text-free (doc_id, pos, h) token-window table, appended per
    epoch.

    As in the word/byte forms, the readout is corpus-GLOBAL (a
    window unique today becomes duplicated when its twin arrives,
    retro-flagging the earlier document), so each epoch re-derives
    the duplicated-hash set and span merge from the accumulated
    table — hashes only, never text or pieces. Append-only-per-doc
    invariant asserted per epoch.

    The fixed vocab here is trained on the replayed corpus itself
    (the replay re-feeds a known reference corpus, as every
    maintenance entry does), so the final epoch equals batch
    exact_substring_spans_bpe and the entry shares its oracle twin
    — in production the artifact would predate the stream."""
    from ..streaming.replay import maintain
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(df, text_col, n_merges, export_path)
    vocab = vocab.localCheckpoint(eager=True)
    spans = maintain(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        lambda b: _array_window_hash_table(
            bpe_token_stream(b, vocab, text_col, id_col), L
        ),
        lambda acc, *_: _spans_from_cov(
            _cov_from_window_table(acc, min_occ), L
        ),
        order_cols=[id_col],
        n_slices=n_slices,
        key="doc_id",
    )
    return spans.select(
        "doc_id",
        "span_id",
        F.col("start_pos").alias("start_tok"),
        F.col("end_pos").alias("end_tok"),
        "span_tokens",
        "n_windows",
    )


def exact_substring_removal_maintain_stream_bpe(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 4,
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
    n_slices: int = 3,
    export_path: str | None = None,
) -> DataFrame:
    """Streaming exact-substring REMOVAL maintenance in BPE token
    space — the full deployed loop: vocab artifact trained once up
    front, arriving docs tokenized + window-hashed once, and the
    deduped TOKENIZED corpus re-emitted per epoch. Unlike the spans
    form, the state here carries each doc's PIECE SEQUENCE alongside
    the window-hash table — removal must re-slice survivors, and the
    tokenized corpus IS what the pipeline stores anyway (state is
    the output's own size, appended once per doc, never rewritten).

    Removal verdicts are corpus-global and retroactive (an early
    doc's tokens start dropping when a late twin arrives), so the
    gap-slicing readout re-derives per epoch from the accumulated
    (toks, wins) pair — the shared _removal_from_toks_and_spans
    tail. Append-only-per-doc invariant asserted on the window
    state. Final epoch equals batch exact_substring_removal_bpe,
    sharing its oracle twin."""
    from ..streaming.replay import check_ordered_arrival, replay_fold
    from .tokenizer import bpe_vocab

    vocab = bpe_vocab(df, text_col, n_merges, export_path)
    vocab = vocab.localCheckpoint(eager=True)

    state: dict = {"toks": None, "wins": None, "max_id": None, "result": None}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        toks = bpe_token_stream(
            batch_df, vocab, text_col, id_col
        ).localCheckpoint(eager=True)
        wins = _array_window_hash_table(toks, L).localCheckpoint(eager=True)
        state["max_id"] = check_ordered_arrival(
            wins, "doc_id", state["max_id"], epoch_id
        )
        # lazy unions of immutable per-epoch blocks (maintain's policy)
        if state["wins"] is not None:
            toks = state["toks"].unionByName(toks)
            wins = state["wins"].unionByName(wins)
        state["toks"], state["wins"] = toks, wins
        state["result"] = _removal_from_toks_and_spans(
            toks, _spans_from_cov(_cov_from_window_table(wins, min_occ), L)
        )

    replay_fold(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    return state["result"]


def exact_substring_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = EXSPAN_L,
    min_occ: int = EXSPAN_MIN_OCC,
) -> DataFrame:
    """Span-level removal: drop every token position covered by a
    duplicated window; return (doc_id, n_tokens, n_removed,
    cleaned_hash) with cleaned_hash = md5 of the space-joined
    surviving tokens (md5('') when everything was duplicated).

    Round-11 shape — GAP SLICING via the shared
    _removal_from_toks_and_spans tail (the removal_bytes /
    removal_bpe discipline): the union of covered positions IS the
    merged spans, so survivors are the complement gaps, each an
    O(gap) direct slice of the per-doc words array. The round-10
    shape materialized covered POSITIONS (explode of each window
    start into L rows + distinct), posexploded every token, left-anti
    joined, and re-assembled docs through a collect_list aggregate —
    three corpus-token-sized exchanges that gap slicing does not pay
    (guide §2.3/§2.4; n_removed = sum of span lengths == the distinct
    covered-position count, since merged spans are disjoint)."""
    words = F.split(ws_trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc_id"), words.alias("words")
    )
    spans = _spans_from_cov(
        _covered_window_starts(df, text_col, id_col, L, min_occ), L
    )
    return _removal_from_toks_and_spans(base, spans)


def exact_substring_removal_bytes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    L: int = EXSPAN_BL,
    min_occ: int = EXSPAN_MIN_OCC,
) -> DataFrame:
    """BYTE-level span removal — the raw-bytes counterpart of
    exact_substring_removal: drop every byte position covered by a
    duplicated L-byte window and hash what survives. Returns
    (doc_id, n_bytes, n_removed, cleaned_hash) with cleaned_hash =
    md5 of the HEX image of the surviving bytes in order (the pinned
    byte<->hex-pair map both engines share); md5('') when everything
    was duplicated or the text is empty; docs shorter than one window
    have no duplicated window and keep every byte.

    Scale shape — GAP SLICING, not per-byte rows: the union of
    covered positions is exactly the merged spans' intervals, so the
    survivors are the complement GAPS between consecutive spans.
    Per document the sorted span list aggregates into one bounded
    array (<= n_bytes/L spans), the gap intervals come from zipping
    span ends against next starts, and each gap slices the
    split-once hex CHAR ARRAY (O(gap) direct-index copy — never
    per-position substr on a string, never an O(n_bytes * L)
    covered-position explode: the first cut of this operator did
    that and OOM'd the 10x probe at 550M exploded rows)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.hex(F.encode(F.col(text_col), "UTF-8")).alias("hx"),
    ).withColumn("nb", (F.length("hx") / 2).cast("long"))
    spans = _spans_from_cov(
        _cov_from_window_table(
            _byte_window_hash_table(df, text_col, id_col, L), min_occ
        ),
        L,
    )
    sp = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("start_pos").alias("sp"),
                    F.col("end_pos").alias("ep"),
                )
            )
        ).alias("sps"),
        F.sum("span_tokens").cast("long").alias("n_cov"),
    )
    joined = base.join(sp, "doc_id", "left").select(
        "doc_id",
        "hx",
        "nb",
        F.coalesce(
            F.col("sps"), F.array().cast("array<struct<sp:long,ep:long>>")
        ).alias("sps"),
        F.coalesce(F.col("n_cov"), F.lit(0)).cast("long").alias("n_cov"),
    )
    # gap starts = 1 then each span end + 1; gap ends = each span
    # start - 1 then nb; empty gaps filter out
    gs = F.concat(
        F.array(F.lit(1).cast("long")),
        F.transform(F.col("sps"), lambda s: s["ep"] + 1),
    )
    ge = F.concat(
        F.transform(F.col("sps"), lambda s: s["sp"] - 1),
        F.array(F.col("nb")),
    )
    gaps = F.filter(
        F.zip_with(
            gs,
            ge,
            lambda a, b: F.struct(a.alias("gs"), b.alias("ge")),
        ),
        lambda g: g["ge"] >= g["gs"],
    )
    staged = joined.withColumn(
        "cs", F.split(F.col("hx"), "(?!^)")
    ).withColumn("gaps", gaps)
    kept_hex = F.concat_ws(
        "",
        F.transform(
            F.col("gaps"),
            lambda g: F.array_join(
                F.slice(
                    "cs",
                    (g["gs"] * 2 - 1).cast("int"),
                    ((g["ge"] - g["gs"] + 1) * 2).cast("int"),
                ),
                "",
            ),
        ),
    )
    return staged.select(
        "doc_id",
        F.col("nb").alias("n_bytes"),
        F.col("n_cov").alias("n_removed"),
        F.md5(kept_hex).alias("cleaned_hash"),
    )


# ---------------- CCNet paragraph-level dedup (keep-first) ----------------


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet's FIRST dedup step (Wenzek et al. 2020, before LM
    scoring): drop duplicate PARAGRAPHS corpus-wide, keeping only the
    first occurrence — paragraphs compare by the md5 of their
    normalized text (lowercased, whitespace-collapsed), and "first"
    is the smallest (doc_id, pos), so the verdict is deterministic
    and order-free. Returns (doc_id, n_paras, n_kept, n_dropped,
    cleaned_hash) with cleaned_hash = md5 of the surviving paragraphs
    re-joined by blank lines in their original order (md5('') when
    every paragraph was a repeat); docs with no non-empty paragraph
    emit nothing.

    100 TB shape: one shuffle keyed by the 128-bit paragraph hash for
    the keep-first rank (a hash-PARTITIONED window — hot boilerplate
    paragraphs are one partition each, never a global sort), then a
    doc-keyed sort-aggregate reassembles survivors. Paragraph text
    rides only the doc-keyed path; the hash path could drop it
    entirely under a two-pass variant if paragraphs were huge."""
    paras = _paragraphs(df, text_col, id_col)
    return _paragraph_result(paras, _keep_first(paras))


def _paragraphs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, pos, para, ph): non-empty paragraphs with their
    1-based position and normalized content hash."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), r"\n\n")).alias(
                "pos0", "para"
            ),
        )
        .filter(F.trim(F.col("para")) != "")
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            "para",
            content_hash(F.col("para")).alias("ph"),
        )
    )


def _keep_first(paras: DataFrame) -> DataFrame:
    """The smallest-(doc_id, pos) occurrence per paragraph hash — a
    hash-PARTITIONED rank, never a global sort."""
    w = Window.partitionBy("ph").orderBy("doc_id", "pos")
    return paras.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )


def _paragraph_result(paras: DataFrame, kept: DataFrame) -> DataFrame:
    """Per-doc readout: paragraph counts + md5 of the surviving
    paragraphs re-joined by blank lines in original order."""
    reb = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
            )
        ).alias("cleaned_hash"),
    )
    base = paras.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras")
    )
    return base.join(reb, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_paras") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(F.col("cleaned_hash"), F.md5(F.lit(""))).alias(
            "cleaned_hash"
        ),
    )


def paragraph_dedup_maintain_stream(
    spark,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_slices: int = 3,
) -> DataFrame:
    """Streaming CCNet paragraph dedup — the sharded form CCNet
    actually runs: documents arrive in doc_id order (replay_fold's
    determinism contract: 'first occurrence wins' folds see
    occurrences in global order), which makes keep-first APPEND-ONLY
    — an arriving paragraph survives iff its normalized hash is not
    already in the seen-hash state, and no later arrival can
    retro-displace an earlier winner. State is the text-free hash set
    plus the already-emitted per-doc results, each held as IMMUTABLE
    per-epoch checkpointed blocks unioned lazily (ADVICE r8): the only
    per-epoch materialization is the fresh batch's paragraphs, result
    rows, and hash delta — O(batch) — while the anti-join against the
    accumulated hash set reads the checkpointed blocks without ever
    rewriting them, so per-epoch cost is delta work plus one O(state)
    READ, never an O(state) copy. Within-batch ties resolve by the
    same (doc_id, pos) rank BEFORE consulting the state, so a batch
    containing both copies keeps exactly the first.

    Ordered-arrival precondition ASSERTED per epoch: every arriving
    doc_id exceeds the largest already processed.

    Final epoch equals batch paragraph_dedup over all docs, so the
    entry shares its oracle twin."""
    from functools import reduce

    from ..streaming.replay import check_ordered_arrival, replay_fold

    state: dict = {"seen_parts": [], "max_id": None, "result_parts": []}

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        paras = _paragraphs(batch_df, text_col, id_col).localCheckpoint(
            eager=True
        )
        state["max_id"] = check_ordered_arrival(
            batch_df, id_col, state["max_id"], epoch_id
        )
        kept = _keep_first(paras)
        if state["seen_parts"]:
            # lazy union of immutable epoch blocks — an O(state) READ
            # for the anti join, never an O(state) re-materialization;
            # cross-epoch hash repeats are harmless under left_anti
            seen = reduce(DataFrame.unionByName, state["seen_parts"])
            kept = kept.join(seen, "ph", "left_anti")
        res = _paragraph_result(paras, kept).localCheckpoint(eager=True)
        state["seen_parts"].append(
            paras.select("ph").distinct().localCheckpoint(eager=True)
        )
        state["result_parts"].append(res)

    replay_fold(
        spark,
        df.select(F.col(id_col), F.col(text_col)),
        fold,
        n_slices=n_slices,
        order_cols=[id_col],
    )
    if not state["result_parts"]:
        # zero epochs (empty corpus): an EMPTY result with the real
        # readout schema, so callers can chain DataFrame methods
        # unconditionally (ADVICE r10 — the old None return just
        # traded the reduce() TypeError for an AttributeError)
        id_type = df.schema[id_col].dataType.simpleString()
        schema = (
            f"doc_id {id_type}, n_paras long, n_kept long, "
            "n_dropped long, cleaned_hash string"
        )
        return spark.createDataFrame([], schema)
    return reduce(DataFrame.unionByName, state["result_parts"])
