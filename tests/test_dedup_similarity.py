"""Dedup-family and similarity-search behavior tests on planted data."""

from __future__ import annotations

from pyspark.sql import functions as F

from yelp_streaming_etl_pipeline_spark.operators import dedup as DD
from yelp_streaming_etl_pipeline_spark.operators import similarity as SIM

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 1
    (4, "completely different content about database query engines and joins"),
    (5, "spark structured streaming processes unbounded data with watermarks"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark):
    out = DD.exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_survivor = {r["survivor_id"]: r["n_copies"] for r in out}
    assert by_survivor[1] == 2  # doc 2 collapsed into doc 1
    assert len(out) == 4


def test_minhash_lsh_finds_planted_pairs(spark):
    pairs = DD.minhash_lsh_pairs(_docs(spark), "text", "doc_id", 0.3).collect()
    found = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert found.get((1, 2)) == 1.0  # exact dup
    assert (1, 3) in found and 0.3 <= found[(1, 3)] < 1.0  # near dup
    assert (4, 5) not in found


def test_simhash_distance_ordering(spark):
    t = DD.simhash_table(_docs(spark), "text", "doc_id").collect()
    sig = {r["doc_id"]: r["simhash"] for r in t}
    assert sig[1] == sig[2]  # identical text -> identical signature

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert ham(sig[1], sig[3]) < ham(sig[1], sig[4])
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sig.values())


def test_simhash_pairs_banded(spark):
    pairs = DD.simhash_pairs(_docs(spark), "text", "doc_id").collect()
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    assert found.get((1, 2)) == 0  # identical signatures collide on every band
    # unrelated docs must not appear within hamming 3
    assert (4, 5) not in found
    for (a, b), h in found.items():
        assert h <= DD.SIMHASH_MAX_HAMMING


def test_simhash_hamming_matches_python(spark):
    t = DD.simhash_table(_docs(spark), "text", "doc_id")
    a, b = t.alias("a"), t.alias("b")
    out = (
        a.crossJoin(b)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            DD.simhash_hamming(F.col("a.simhash"), F.col("b.simhash"))
            .cast("int")
            .alias("h"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .collect()
    )
    for r in out:
        expected = sum(x != y for x, y in zip(r["sa"], r["sb"]))
        assert r["h"] == expected, (r["x"], r["y"])


def test_dedup_clusters_transitive(spark):
    # pairs (1,2) and (2,3) but never (1,3): transitivity must still
    # put all three in cluster 1, and singletons keep their own label
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    out = {r["doc_id"]: r["cluster_id"] for r in DD.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_clusters_chain_convergence(spark):
    # a length-8 path graph exercises multi-round label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 18)], ["doc_a", "doc_b"]
    )
    out = {r["doc_id"]: r["cluster_id"] for r in DD.dedup_clusters(pairs).collect()}
    assert set(out) == set(range(10, 19))
    assert set(out.values()) == {10}


def test_dedup_clusters_pathological_chain_log_rounds(spark):
    # A 200-link path graph has diameter 200 — plain min-label
    # propagation would need 200 rounds and silently mislabel at the
    # default max_iter=20. Pointer halving must converge in
    # O(log2(diameter)) rounds, well inside the default bound, and
    # label every node with the chain's minimum id.
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    stats: dict = {}
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in DD.dedup_clusters(pairs, stats=stats).collect()
    }
    assert set(out) == set(range(n + 1))
    assert set(out.values()) == {0}
    # log2(200) ~ 7.6; allow slack for propagation/halving interleave
    assert stats["iterations"] <= 12, stats


def test_dedup_clusters_raises_when_unconverged(spark):
    # max_iter=1 cannot finish a length-8 chain: the guard must fail
    # loudly instead of returning partially propagated labels
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        DD.dedup_clusters(pairs, max_iter=1)


def test_ngram_jaccard_blocked(spark):
    df = _docs(spark).withColumn("src", F.lit("s1"))
    pairs = DD.ngram_jaccard_pairs(df, "text", "doc_id", "src", 2, 0.3).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in found and (1, 3) in found


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.cosine_topk(df, df.filter(F.col("vec_id") == 1), k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in out]
    assert ranked == [(1, 2), (2, 3)]
    assert out[0]["cosine_sim"] > 0.99


def test_lsh_bucket_recall_on_planted_dup(spark):
    base = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    corpus = SIM.with_synthetic_vec_dups(base.withColumn("label", F.lit(0)))
    # planted exact copy of vec 0 is id 100000 -> same bucket, sim 1.0
    out = SIM.lsh_bucketed_topk(
        corpus, corpus.filter(F.col("vec_id") == 0), k=3, dim=8
    ).collect()
    assert any(r["neighbor_id"] == 100000 and r["cosine_sim"] == 1.0 for r in out)


def test_ivf_topk_finds_near_neighbors(spark):
    base = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    # centroids = ids % 10 == 0; query vec 3 probes its 2 nearest lists
    out = SIM.ivf_topk(
        base,
        base.filter(F.col("vec_id") == 3),
        k=3,
        centroid_mod=10,
        nprobe=2,
    ).collect()
    assert len(out) == 3
    assert [r["rank"] for r in out] == [1, 2, 3]
    # vectors repeat with period 11 in this construction: vec 14 == vec 3
    # exactly, so an exact twin must surface with sim 1.0 if its list is
    # probed; at minimum the top hit is a strong neighbor
    assert out[0]["cosine_sim"] > 0.9


def test_pq_entries_reject_short_vectors(spark):
    """A vector shorter than n_sub * sub must raise at both PQ entry
    points, not read NULLs past its end into the rankings."""
    import pytest

    rows = [(i, [float((i + j) % 5) for j in range(64)]) for i in range(16)]
    rows[5] = (5, rows[5][1][:63])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="n_sub \\* sub = 64"):
        SIM.ivfpq_topk(df, df.filter(F.col("vec_id") < 2)).collect()
    with pytest.raises(Exception, match="n_sub \\* sub = 64"):
        SIM.pq_kmeans_codebooks(df).collect()


def test_ivfpq_topk_recall_and_shape(spark):
    # 16-dim corpus, 2 subspaces of 8: exercises the full coarse ->
    # residual -> codebook -> ADC -> rerank path at toy scale
    base = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(16)])
         for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    qs = base.filter(F.col("vec_id") < 3)
    out = SIM.ivfpq_topk(
        base, qs, k=3, centroid_mod=10, nprobe=2, cb_mod=5,
        n_sub=2, sub=8,
    )
    rows = out.collect()
    # k rows per query, ranks contiguous, rerank scores are EXACT
    # cosines so the top hit must be a strong neighbor (period-11
    # construction repeats vectors exactly)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for q, rs in per_q.items():
        assert sorted(x["rank"] for x in rs) == [1, 2, 3]
        top = [x for x in rs if x["rank"] == 1][0]
        assert top["cosine_sim"] > 0.9
    # the ADC stage is a pruning stage over EXACT rerank scores:
    # every returned (q, n) must appear in the exact top-3*4 pool
    exact = SIM.cosine_topk(base, qs, k=12)
    pool = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    for r in rows:
        assert (r["query_id"], r["neighbor_id"]) in pool


def test_embedding_neardup_pairs(spark):
    base = spark.createDataFrame(
        [
            (i, [float((i * 5 + j) % 9 - 4) for j in range(8)], i % 2)
            for i in range(29, 60, 1)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = SIM.with_synthetic_vec_dups(base)
    pairs = SIM.cosine_neardup_pairs(corpus, tau=0.99).collect()
    keys = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert (29, 100029) in keys  # exact copy
    assert (29, 200029) in keys  # jittered copy still > 0.99


def test_multiprobe_recall_dominates_single_probe(spark):
    base = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    qs = base.filter(F.col("vec_id") < 4)
    single = SIM.lsh_bucketed_topk(base, qs, k=3, dim=8)
    multi = SIM.lsh_multiprobe_topk(base, qs, k=3, dim=8)
    exact = SIM.cosine_topk(base, qs, k=3)

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = hits(exact)
    rec_single = len(hits(single) & truth)
    rec_multi = len(hits(multi) & truth)
    # probing hamming-1 buckets can only widen the candidate set
    assert rec_multi >= rec_single
    # and per query the top-1 similarity never degrades
    top1_s = {r["query_id"]: r["cosine_sim"] for r in single.collect() if r["rank"] == 1}
    top1_m = {r["query_id"]: r["cosine_sim"] for r in multi.collect() if r["rank"] == 1}
    for qid, s in top1_s.items():
        assert top1_m.get(qid, -2.0) >= s


def test_simhash_hot_bucket_subbanding_exact_and_bounded(spark):
    """Skew property: a low-entropy corpus (one constant chunk => one
    hot band bucket) must NOT produce a quadratic candidate stream,
    and the skew-proofed output must equal the brute-force hamming
    pairs exactly (the sub-banding is recall-exact by pigeonhole)."""
    import random

    rng = random.Random(7)
    n = 400
    rows = []
    for i in range(n):
        # chunk 0 constant (hot band); chunks 1-3 random => remainders
        # diverse, so true near-dup pairs are rare
        c = [0x1234] + [rng.getrandbits(16) for _ in range(3)]
        sig = "".join(format(v, "016b") for v in c)
        rows.append((f"d{i:04d}", sig))
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"])

    banded = DD._simhash_banded(sigs)
    candidates = DD._simhash_candidates(banded, hot_threshold=64)
    n_cand = candidates.count()
    # naive band join emits C(400,2)=79800 rows from the hot band alone
    assert n_cand < 25_000, n_cand

    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in DD._simhash_candidates(banded, hot_threshold=64)
        .filter(F.col("hamming") <= DD.SIMHASH_MAX_HAMMING)
        .groupBy("doc_a", "doc_b")
        .agg(F.min("hamming").alias("hamming"))
        .collect()
    }
    # brute force over all pairs
    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    sig_by_id = dict(rows)
    ids = sorted(sig_by_id)
    want = {
        (a, b, ham(sig_by_id[a], sig_by_id[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(sig_by_id[a], sig_by_id[b]) <= DD.SIMHASH_MAX_HAMMING
    }
    assert got == want


def test_quantized_rerank_recall_and_exactness_of_scores(spark):
    """The int8 two-stage retrieval must (a) return EXACT cosine values
    for whatever it returns (re-rank runs on floats), and (b) recover
    nearly all of the exact top-k (int8 error is far below typical
    neighbor gaps; the re-rank margin absorbs boundary cases)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = SIM.cosine_topk(emb, queries)
    quant = SIM.quantized_rerank_topk(emb, queries)

    def hits(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = hits(exact)
    got = hits(quant)
    assert len(got & truth) >= 0.9 * len(truth)

    # scores for common pairs are identical (same float arithmetic)
    ex = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in exact.collect()
    }
    for r in quant.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in ex:
            assert r["cosine_sim"] == ex[key]


def test_duplicated_passages_edit_locality(spark):
    """Content-defined chunking's reason to exist: a shared interior
    passage is detected even when the documents differ BEFORE it (a
    fixed-width blocker would misalign); truly disjoint text yields
    nothing."""
    shared = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the quiet green forest before sunset arrives tonight"
    )
    docs = spark.createDataFrame(
        [
            (1, shared),
            (2, "totally unrelated body of text with nothing in common"),
            (3, "a long and different introduction comes first here " + shared),
        ],
        ["doc_id", "text"],
    )
    out = DD.duplicated_passages(docs, "text", "doc_id").collect()
    assert len(out) >= 1
    assert all(r["n_docs"] == 2 and r["example_doc_id"] == 1 for r in out)

    disjoint = spark.createDataFrame(
        [(1, "alpha " * 40), (2, "omega " * 40)], ["doc_id", "text"]
    )
    within = DD.duplicated_passages(disjoint, "text", "doc_id")
    # repeated text WITHIN one doc is also surfaced (n_docs=1, n_occ>1)
    assert within.filter("n_docs > 1").count() == 0


def test_random_projection_preserves_inner_products(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(SIM.RP_IN_DIM)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    proj = {
        (r["vec_id"], r["k"]): r["proj"]
        for r in SIM.project_embeddings(df).collect()
    }
    # shape: every (id, k) present, exploded relational output
    assert len(proj) == 40 * SIM.RP_OUT_DIM
    # JL/sign-projection property: scaled projected dot approximates
    # the original dot well enough to preserve gross geometry
    import math

    orig = {i: [float(x) for x in v] for i, v in rows}

    def pdot(a, b):
        pa = [proj[(a, k)] for k in range(SIM.RP_OUT_DIM)]
        pb = [proj[(b, k)] for k in range(SIM.RP_OUT_DIM)]
        return sum(x * y for x, y in zip(pa, pb)) / SIM.RP_OUT_DIM

    def odot(a, b):
        return sum(x * y for x, y in zip(orig[a], orig[b]))

    # self inner products (norms) stay within 2x for most vectors
    ok = sum(
        1 for i in range(40) if 0.3 < pdot(i, i) / odot(i, i) < 3.0
    )
    assert ok >= 30, ok


def test_random_projection_exact_fold_semantics(spark):
    # one known vector: projection must equal the index-ordered fold
    vec = [float(j % 5 - 2) for j in range(SIM.RP_IN_DIM)]
    df = spark.createDataFrame(
        [(1, vec)], "vec_id long, embedding array<float>"
    )
    got = {
        r["k"]: r["proj"] for r in SIM.project_embeddings(df).collect()
    }
    mat = SIM.rp_matrix()
    import numpy as np

    for k in range(SIM.RP_OUT_DIM):
        acc = 0.0
        for j in range(SIM.RP_IN_DIM):
            acc += float(np.float32(vec[j])) * mat[k][j]
        assert got[k] == acc, (k, got[k], acc)


def test_random_projection_plan_is_map_only(spark):
    df = spark.createDataFrame(
        [(1, [0.0] * SIM.RP_IN_DIM)], "vec_id long, embedding array<float>"
    )
    plan = (
        SIM.project_embeddings(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_semantic_dedup_prunes_planted_dups_only(spark):
    import random

    rng = random.Random(11)
    base = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(50)
    ]
    # plant an exact copy of vec 0 with a LARGER id: it must be pruned
    rows = base + [(500, list(base[0][1]))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in SIM.semantic_dedup(df, tau=0.99).collect()}
    assert len(out) == 51  # every input vector present exactly once
    assert out[0]["kept"]  # the earlier twin survives
    assert not out[500]["kept"]  # the later twin is pruned
    # the twins share a cluster; random vectors are untouched
    assert out[500]["centroid_id"] == out[0]["centroid_id"]
    assert sum(1 for r in out.values() if not r["kept"]) == 1


def test_hard_negatives_excludes_same_label(spark):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)], i % 3)
        for i in range(30)
    ]
    # plant a same-label near-twin and a diff-label near-twin of vec 0
    rows.append((100, [v * 1.001 for v in rows[0][1]], 0))  # label 0 == q
    rows.append((101, [v * 1.002 for v in rows[0][1]], 1))  # label 1 != q
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = SIM.hard_negatives(
        df, df.filter(F.col("vec_id") == 0), k=3
    ).collect()
    assert len(out) == 3
    assert all(r["neighbor_label"] != 0 for r in out)
    # the diff-label twin is the rank-1 hard negative; the same-label
    # twin must not appear at all
    assert out[0]["neighbor_id"] == 101 or any(
        r["neighbor_id"] == 101 and r["rank"] == 1 for r in out
    )
    assert all(r["neighbor_id"] != 100 for r in out)


def test_semantic_decontaminate_flags_planted_twin(spark):
    import random

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(20)]
    rows.append((300, [v * 1.0001 for v in rows[0][1]]))  # twin of bench vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bench = df.filter(F.col("vec_id") == 0)
    out = {r["vec_id"]: r for r in SIM.semantic_decontaminate(df, bench).collect()}
    assert out[300]["contaminated"]
    assert out[300]["max_benchmark_sim"] > 0.999
    assert sum(1 for r in out.values() if r["contaminated"]) == 1
    assert 0 not in out  # the benchmark vector itself is excluded


# ------------------------- winnowing fingerprints -------------------------

import hashlib

from yelp_streaming_etl_pipeline_spark.operators.dedup import (
    winnowing_fingerprints,
)


def _py_winnow(text, k=8, w=4):
    """Sequential model of the declared packed-argmin semantics."""
    n = len(text)
    if n < k + w - 1:
        return None
    radix = 1 << 20
    hs = [
        int(
            hashlib.md5(text[p : p + k].encode("utf-8")).hexdigest()[:8],
            16,
        )
        for p in range(n - k + 1)
    ]
    sel = set()
    for q in range(len(hs) - w + 1):
        packed = [
            hs[q + j] * radix + (radix - (q + j + 1)) for j in range(w)
        ]
        sel.add(min(packed) // radix)
    return sorted(sel)


def test_winnowing_matches_sequential_model(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "abcabcabcabcabcabcabc"),  # heavy repetition -> few fps
        (3, "héllo wörld — unicode grams stay character-aligned!!"),
        (4, "short"),  # below k+w-1: excluded
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_fp"], r["fp_checksum"], r["fp_min"], r["fp_max"])
        for r in winnowing_fingerprints(df).collect()
    }
    assert 4 not in got
    for doc_id, text in docs[:3]:
        fps = _py_winnow(text)
        assert got[doc_id] == (
            len(fps),
            sum(fps),
            min(fps),
            max(fps),
        ), doc_id


def test_winnowing_guarantee_shared_fingerprint(spark):
    # any shared substring of length >= w + k - 1 = 11 must yield at
    # least one common fingerprint (the winnowing guarantee)
    shared = "COMMONSEGMENT_XYZ"
    a = "prefix-one " + shared + " tail-a"
    b = "another lead " + shared + " end-b"
    fa, fb = set(_py_winnow(a)), set(_py_winnow(b))
    assert fa & fb, "winnowing guarantee violated in the model"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in winnowing_fingerprints(df).collect()}
    assert rows[1]["n_fp"] == len(fa) and rows[2]["n_fp"] == len(fb)


def test_winnow_neardup_pairs_finds_planted_neardup(spark):
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        winnow_neardup_pairs,
    )

    base = (
        "the training corpus needs robust local fingerprints to find "
        "copied passages even when a few words change in the middle"
    )
    docs = [
        (1, base),
        (2, base.replace("few words", "couple of tokens")),  # near-dup
        (3, "completely unrelated text about distributed query engines "
            "and shuffle partitioning strategies at scale"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_fp"]
        for r in winnow_neardup_pairs(df).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(3 not in p for p in pairs)


def test_winnow_neardup_df_cap_drops_boilerplate(spark):
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        winnow_neardup_pairs,
    )

    # every doc shares the same boilerplate header; with max_df below
    # the corpus size the header fingerprints are dropped and no pair
    # clears the threshold on unique content alone
    header = "STANDARD LICENSE HEADER do not remove this notice "
    docs = [
        (i, header + f"unique content body number {i} with distinct text")
        for i in range(1, 6)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    with_cap = winnow_neardup_pairs(df, max_df=2).collect()
    without_cap = winnow_neardup_pairs(df, max_df=1000).collect()
    assert len(with_cap) < len(without_cap)


def test_sharded_topk_equals_unsharded(spark):
    """Per-shard top-k + merge must reproduce the global exact top-k,
    including across shard boundaries and with duplicate vectors."""
    import random

    from yelp_streaming_etl_pipeline_spark.operators.similarity import (
        cosine_topk,
        sharded_topk,
    )

    rng = random.Random(7)
    rows = []
    for i in range(60):
        vec = [rng.uniform(-1, 1) for _ in range(8)]
        if i % 10 == 0 and i > 0:
            vec = rows[i - 1][1]  # duplicate vector -> cosine ties
        rows.append((i, vec, i % 4))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    queries = df.filter("vec_id % 20 = 0")
    got = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in sharded_topk(df, queries, k=3).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine_sim"])
        for r in cosine_topk(df, queries, k=3).collect()
    )
    assert got == want and len(got) == 9


def test_winnowing_rejects_overlong_document(spark):
    import pytest

    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        winnowing_fp_set,
    )

    # a document at the packed-argmin radix would silently corrupt
    # the min selection in BOTH engines -> must raise, not drop
    df = spark.createDataFrame(
        [(1, "x" * (1 << 20))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="2\\^20|winnowing|assert"):
        winnowing_fp_set(df).collect()


def test_mmr_demotes_redundant_candidates(spark):
    from yelp_streaming_etl_pipeline_spark.operators.similarity import (
        mmr_topk,
    )

    # corpus: a and a2 nearly identical (highest sim to q), b less
    # relevant but diverse. Plain top-2 would be {a, a2}; at lam=0.5
    # the near-duplicate's ~1.0 redundancy penalty must demote it
    # below b.
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.97, 0.24, 0.0]),        # a
        (2, [0.97, 0.239, 0.01]),      # a2 ~ duplicate of a
        (3, [0.8, 0.0, 0.6]),          # b: diverse
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_topk(
        df, df.filter("vec_id = 0"), k=2, m=3, lam=0.5
    ).collect()
    picks = {r["mmr_rank"]: r["neighbor_id"] for r in out}
    assert picks[1] in (1, 2)     # most relevant first
    assert picks[2] == 3          # diversity beats the near-duplicate


def test_neardup_maintain_stream_matches_batch(spark):
    # 9 docs across 3 micro-batches; near-dup pairs span batches
    # (6 dups 1, 9 dups 3) — the incremental fold must find every
    # cross-batch pair and exactly equal the batch run
    rows = DOCS + [
        (6, "the quick brown fox jumps over the lazy dog near the river bank"),
        (7, "some unrelated text about tokenizers and byte pair encoding"),
        (8, "yet another unrelated document mentioning vector similarity"),
        (9, "the quick brown fox jumps over the lazy dog near the river delta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = DD.neardup_maintain_stream(spark, df, "text", "doc_id", 0.3, 3)
    batch = DD.minhash_lsh_pairs(df, "text", "doc_id", 0.3)
    g = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert g == b
    assert (1, 6, 1.0) in g  # cross-batch exact dup found


def test_cdc_chunk_pairs_survive_insertion_shift(spark):
    """The CDC pair detector's reason to exist: splicing a snippet
    into the middle of a long document shifts every fixed-window
    representation after the edit, but the chunk sets still overlap
    heavily, so the (original, edited) pair is emitted with high
    jaccard. Fully disjoint docs share nothing."""
    import random

    rng = random.Random(11)
    words = ["alpha", "bravo", "carol", "delta", "echos", "fotra",
             "golfy", "hotel", "indix", "julep"]
    base = " ".join(rng.choice(words) for _ in range(400))
    edited = base[:1200] + " spliced interruption phrase " + base[1200:]
    other = " ".join(rng.choice(words) for _ in range(400))
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    out = DD.cdc_chunk_pairs(docs, "text", "doc_id").collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["jaccard"] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_cdc_chunk_pairs_df_cap_drops_boilerplate(spark):
    """A chunk present in more docs than max_df is template chrome:
    it must not generate pairs (the bucket would fan out N^2)."""
    footer = "shared boilerplate footer line that exceeds the df cap " * 3
    docs = spark.createDataFrame(
        [(i, f"unique body text {i} " * 20 + footer) for i in range(8)],
        "doc_id long, text string",
    )
    # footer chunk(s) appear in all 8 docs; with max_df=4 no pair may
    # be justified by footer chunks alone
    out = DD.cdc_chunk_pairs(docs, "text", "doc_id", max_df=4).collect()
    assert out == []


def test_semantic_dedup_maintain_stream_equals_batch(spark):
    """The incremental maintenance must reproduce batch SemDeDup
    exactly: same (vec_id, centroid_id, kept) triples after replaying
    the corpus as three ascending-id micro-batches — including a
    transitive case (dup of a dup) where the middle vector is itself
    pruned but still prunes the later copy."""
    import random

    rng = random.Random(11)
    base = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(50)
    ]
    # two later copies of vec 0: BOTH pruned in batch semantics (the
    # pruned id-500 copy still prunes id-501)
    rows = base + [(500, list(base[0][1])), (501, list(base[0][1]))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    batch = {
        (r["vec_id"], r["centroid_id"], r["kept"])
        for r in SIM.semantic_dedup(df, tau=0.99).collect()
    }
    streamed = {
        (r["vec_id"], r["centroid_id"], r["kept"])
        for r in SIM.semantic_dedup_maintain_stream(
            spark, df, tau=0.99
        ).collect()
    }
    assert streamed == batch
    kept = {v: k for v, _, k in streamed}
    assert kept[0] and not kept[500] and not kept[501]


def test_cdc_maintain_stream_equals_batch_with_retraction(spark):
    """Streaming CDC maintenance must equal batch cdc_chunk_pairs —
    including the df-cap retraction case: a chunk that is under the
    cap in an early epoch but crosses it once later docs arrive must
    justify NO pair in the final output (per-epoch re-derivation,
    not append-only pair state)."""
    import random

    rng = random.Random(7)
    words = ["alpha", "bravo", "carol", "delta", "echos", "fotra",
             "golfy", "hotel", "indix", "julep"]

    def doc(seed):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(300))

    shared = doc("shared-template")
    # docs 1,2 share the template (pair candidate in epoch 1); docs
    # 3..8 also carry it, pushing every template chunk's df over the
    # cap (max_df=4) by the final epoch
    rows = [(i, shared + " tail " + doc(i)) for i in range(1, 9)]
    # plus one genuine near-dup pair with ids in different batches
    base = doc("genuine")
    rows += [(10, base), (20, base[:800] + " splice " + base[800:])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        (r["doc_a"], r["doc_b"], r["shared_chunks"], r["jaccard"])
        for r in DD.cdc_chunk_pairs(df, "text", "doc_id", max_df=4).collect()
    }
    streamed = {
        (r["doc_a"], r["doc_b"], r["shared_chunks"], r["jaccard"])
        for r in DD.cdc_maintain_stream(
            spark, df, "text", "doc_id", max_df=4
        ).collect()
    }
    assert streamed == batch
    pair_ids = {(a, b) for a, b, _, _ in streamed}
    assert (10, 20) in pair_ids  # the genuine cross-batch pair survives


def test_cdc_chunk_dedup_full_copy_and_insertion_copy(spark):
    """Chunk-level keep-first removal: a full copy loses EVERY chunk
    to its original (cleaned_hash == md5('')); an insertion-shifted
    copy keeps only the chunk(s) containing the splice (boundaries
    re-synchronize); the original keeps everything."""
    import hashlib
    import random

    rng = random.Random(11)
    words = ["alpha", "bravo", "carol", "delta", "echos", "fotra",
             "golfy", "hotel", "indix", "julep"]
    base = " ".join(rng.choice(words) for _ in range(400))
    edited = base[:1200] + " spliced interruption phrase " + base[1200:]
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, edited)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in DD.cdc_chunk_dedup(docs).collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    # doc 1 keeps everything: cleaned text == its normalized text
    assert got[1]["n_dropped"] == 0
    assert got[1]["cleaned_hash"] == hashlib.md5(
        base.lower().encode()
    ).hexdigest()
    # doc 2 (exact copy) loses every chunk
    assert got[2]["n_kept"] == 0
    assert got[2]["cleaned_hash"] == empty_md5
    # doc 3 keeps only the spliced region: a small fraction of chunks
    assert 0 < got[3]["n_kept"] <= 3
    assert got[3]["n_dropped"] >= got[3]["n_chunks"] - 3


def test_cdc_chunk_dedup_stream_equals_batch(spark):
    """Doc-id-ordered arrival makes chunk keep-first append-only:
    the maintained results equal batch cdc_chunk_dedup, including a
    cross-epoch duplicate (doc 9 repeats doc 1's text)."""
    import random

    rng = random.Random(5)
    words = ["alpha", "bravo", "carol", "delta", "echos", "fotra"]
    t1 = " ".join(rng.choice(words) for _ in range(300))
    t2 = " ".join(rng.choice(words) for _ in range(300))
    df = spark.createDataFrame(
        [(1, t1), (2, t2), (5, t2[:900] + " zz " + t2[900:]), (9, t1)],
        "doc_id long, text string",
    )
    batch = sorted(map(tuple, DD.cdc_chunk_dedup(df).collect()))
    stream = sorted(
        map(
            tuple,
            DD.cdc_chunk_dedup_maintain_stream(
                spark, df, n_slices=3
            ).collect(),
        )
    )
    assert stream == batch
    got = {r[0]: r for r in batch}
    assert got[9][2] == 0  # the late full copy loses everything


def test_cdc_chunk_pairs_bpe_survive_insertion_shift(spark):
    """Piece-space CDC keeps the char detector's reason to exist: an
    insertion measured in TOKENS shifts every downstream piece
    position, but content-defined boundaries over the piece stream
    re-synchronize after the edit, so the (original, edited) pair is
    emitted with high jaccard while disjoint docs share nothing."""
    import random

    rng = random.Random(11)
    words = ["alpha", "bravo", "carol", "delta", "echos", "fotra",
             "golfy", "hotel", "indix", "julep"]
    base_words = [rng.choice(words) for _ in range(400)]
    edited = (
        base_words[:200] + ["spliced", "interruption"] + base_words[200:]
    )
    other = [rng.choice(words) for _ in range(400)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(base_words)),
            (2, " ".join(edited)),
            (3, " ".join(other)),
        ],
        "doc_id long, text string",
    )
    out = DD.cdc_chunk_pairs_bpe(docs).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["jaccard"] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_cdc_maintain_stream_bpe_equals_batch_fixed_vocab(spark):
    """Streaming piece-space CDC maintenance under the fixed
    parquet-artifact vocab equals batch cdc_chunk_pairs_bpe — the
    vocab is the one batch trains on the full corpus, and the pair
    readout (df cap + jaccard denominators) re-derives per epoch."""
    import random
    import tempfile

    words = ["alpha", "bravo", "carol", "delta", "echos", "fotra",
             "golfy", "hotel", "indix", "julep"]

    def doc(seed):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(300))

    base = doc("genuine")
    rows = [(i, doc(i)) for i in range(1, 7)]
    rows += [(10, base), (20, base[:800] + " splice " + base[800:])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        (r["doc_a"], r["doc_b"], r["shared_chunks"], r["jaccard"])
        for r in DD.cdc_chunk_pairs_bpe(df).collect()
    }
    path = tempfile.mkdtemp(prefix="cdc_bpe_")
    streamed = {
        (r["doc_a"], r["doc_b"], r["shared_chunks"], r["jaccard"])
        for r in DD.cdc_maintain_stream_bpe(
            spark, df, export_path=path
        ).collect()
    }
    assert streamed == batch
    assert (10, 20) in {(a, b) for a, b, _, _ in streamed}


def test_dedup_eval_hand_fixture(spark):
    """dedup_eval on literal pair tables: 4 expected, 3 detected,
    2 true positives -> P=2/3, R=1/2, f1=2*2/(3+4)=4/7; duplicate
    input rows must not inflate counts; empty detected set -> all
    zero ratios, no division error."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import dedup_eval

    exp = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "doc_a long, doc_b long"
    )
    det = spark.createDataFrame(
        [(1, 2), (3, 4), (9, 10), (1, 2)], "doc_a long, doc_b long"
    )
    r = dedup_eval(det, exp).collect()[0]
    assert (r["n_expected"], r["n_detected"], r["n_true_pos"]) == (4, 3, 2)
    assert r["precision"] == round(2 / 3, 6)
    assert r["recall"] == 0.5
    assert r["f1"] == round(4 / 7, 6)

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    r0 = dedup_eval(empty, exp).collect()[0]
    assert (r0["n_detected"], r0["precision"], r0["recall"], r0["f1"]) == (
        0, 0.0, 0.0, 0.0,
    )


def test_ngram_novelty_hand_fixture(spark):
    """n=2 word-bigram novelty against an explicit reference: full
    overlap -> 0.0, no overlap -> 1.0, half overlap -> 0.5; a
    sub-n-word doc falls back to its whole trimmed text as the single
    gram (word_shingles semantics)."""
    from yelp_streaming_etl_pipeline_spark.operators.dedup import (
        ngram_novelty,
    )

    ref = spark.createDataFrame(
        [(100, "a b c"), (101, "x y")], "doc_id long, text string"
    )
    scored = spark.createDataFrame(
        [
            (1, "a b c"),      # grams {a b, b c} both in ref -> 0.0
            (2, "p q r"),      # grams {p q, q r} unseen -> 1.0
            (3, "a b p q"),    # {a b, b p, p q}: 1 of 3 seen
            (4, "zz"),         # sub-n: single gram "zz", unseen -> 1.0
            (5, "x y"),        # sub-n in REF too ("x y" is its gram)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in ngram_novelty(scored, ref, n=2).collect()
    }
    assert (got[1]["n_grams"], got[1]["n_seen"], got[1]["novelty"]) == (2, 2, 0.0)
    assert (got[2]["n_grams"], got[2]["n_seen"], got[2]["novelty"]) == (2, 0, 1.0)
    assert (got[3]["n_grams"], got[3]["n_seen"]) == (3, 1)
    assert got[3]["novelty"] == round(1 - 1 / 3, 6)
    assert got[4]["novelty"] == 1.0
    assert got[5]["novelty"] == 0.0  # ref's own sub-n gram matches


def test_exact_substring_spans_hand_fixture(spark):
    """Two docs share a 12-token passage at different offsets: each
    yields one merged span of 12 tokens (5 overlapping 8-windows);
    an unrelated doc and a sub-window doc yield nothing."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    common = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, common + " unique tail one two three"),
            (2, "prefix words here " + common + " different ending tokens"),
            (3, "totally unrelated text with no duplicated window at all present here ok"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: r
        for r in DD.exact_substring_spans(df).collect()
    }
    assert set(spans) == {1, 2}
    assert (spans[1]["start_pos"], spans[1]["end_pos"]) == (1, 12)
    assert (spans[2]["start_pos"], spans[2]["end_pos"]) == (4, 15)
    assert all(
        r["span_tokens"] == 12 and r["n_windows"] == 5
        for r in spans.values()
    )


def test_exact_substring_spans_within_doc_repeat_and_merge(spark):
    """Within-document repetition counts toward min_occ (Lee et al.
    semantics), and overlapping windows merge into ONE maximal span."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    eight = "a1 a2 a3 a4 a5 a6 a7 a8"
    df = spark.createDataFrame(
        [(1, eight + " filler x y z w v u t " + eight)],
        "doc_id long, text string",
    )
    spans = DD.exact_substring_spans(df).orderBy("span_id").collect()
    assert [(r["start_pos"], r["end_pos"]) for r in spans] == [
        (1, 8),
        (17, 24),
    ]


def test_exact_substring_spans_bpe_matches_python_reference(spark):
    """Token-space spans must equal a full Python reference pipeline
    built from the SAME learned vocab: per doc, replace each alpha
    word in order by its pieces, slide length-L windows, mark windows
    whose joined content recurs >= 2 times corpus-wide, merge into
    maximal spans — exact row-set equality."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD
    from yelp_streaming_etl_pipeline_spark.operators import tokenizer as TK

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, common + " unique tail one two three"),
        (2, "prefix words here " + common + " different ending tokens"),
        (3, "totally unrelated text with no duplicated window at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    L = DD.EXSPAN_L
    got = sorted(
        tuple(r) for r in DD.exact_substring_spans_bpe(df).collect()
    )
    # Python reference from the same learned segmentation
    _, vocab = TK.bpe_learn(df, "text", 4, "char")
    seg = {r["w"]: list(r["toks"]) for r in vocab.collect()}
    streams = {
        doc_id: [
            p
            for w in text.strip().lower().split()
            if w.isascii() and w.isalpha()
            for p in seg[w]
        ]
        for doc_id, text in rows
    }
    from collections import Counter

    wins = {
        doc_id: [
            " ".join(toks[i : i + L]) for i in range(len(toks) - L + 1)
        ]
        for doc_id, toks in streams.items()
    }
    occ = Counter(w for ws in wins.values() for w in ws)
    expected = []
    for doc_id, ws in wins.items():
        cov = [i + 1 for i, w in enumerate(ws) if occ[w] >= 2]
        span_id, prev, start = 0, None, None
        groups = []
        for pos in cov:
            if prev is None or pos - prev > L:
                groups.append([pos, pos, 1])
            else:
                groups[-1][1] = pos
                groups[-1][2] += 1
            prev = pos
        for sid, (s, e, nw) in enumerate(groups, 1):
            expected.append(
                (doc_id, sid, s, e + L - 1, e + L - 1 - s + 1, nw)
            )
    assert got == sorted(expected), (got, sorted(expected))
    assert any(r[0] in (1, 2) for r in got)  # shared passage flagged


def test_exact_substring_removal_bpe_matches_python_reference(spark):
    """Token-space removal must equal a full Python reference built
    from the SAME learned vocab: per doc, tokenize into pieces, mark
    every position covered by a length-L window whose joined content
    recurs >= 2 times corpus-wide, and md5 the space-joined
    survivors — exact row-set equality, md5('') when everything was
    covered."""
    import hashlib
    from collections import Counter

    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD
    from yelp_streaming_etl_pipeline_spark.operators import tokenizer as TK

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, common + " unique tail one two three"),
        (2, "prefix words here " + common + " different ending tokens"),
        (3, "totally unrelated text with no duplicated window at all"),
        (4, common),  # fully covered -> md5('')
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    L = DD.EXSPAN_L
    got = sorted(
        tuple(r) for r in DD.exact_substring_removal_bpe(df).collect()
    )
    _, vocab = TK.bpe_learn(df, "text", 4, "char")
    seg = {r["w"]: list(r["toks"]) for r in vocab.collect()}
    streams = {
        doc_id: [
            p
            for w in text.strip().lower().split()
            if w.isascii() and w.isalpha()
            for p in seg[w]
        ]
        for doc_id, text in rows
    }
    wins = {
        doc_id: [
            " ".join(toks[i : i + L]) for i in range(len(toks) - L + 1)
        ]
        for doc_id, toks in streams.items()
    }
    occ = Counter(w for ws in wins.values() for w in ws)
    expected = []
    for doc_id, toks in streams.items():
        covered = set()
        for i, w in enumerate(wins[doc_id]):
            if occ[w] >= 2:
                covered.update(range(i, i + L))
        kept = [p for i, p in enumerate(toks) if i not in covered]
        expected.append(
            (
                doc_id,
                len(toks),
                len(covered),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        )
    assert got == sorted(expected), (got, sorted(expected))
    by_id = {t[0]: t for t in got}
    assert by_id[4][3] == hashlib.md5(b"").hexdigest()
    assert by_id[3][2] == 0  # untouched doc keeps everything
    assert by_id[1][2] > 0 and by_id[2][2] > 0


def test_exact_substring_removal_hand_fixture(spark):
    """Removal drops exactly the covered positions and hashes the
    surviving text; docs with no duplicated window keep everything;
    an all-duplicate doc hashes to md5('')."""
    import hashlib

    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    common = "w1 w2 w3 w4 w5 w6 w7 w8"
    df = spark.createDataFrame(
        [
            (1, common + " keep these three"),
            (2, common),
            (3, "all fresh tokens stay put here ok yes"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.exact_substring_removal(df).collect()}
    assert (out[1]["n_tokens"], out[1]["n_removed"]) == (11, 8)
    assert out[1]["cleaned_hash"] == hashlib.md5(
        b"keep these three"
    ).hexdigest()
    assert (out[2]["n_tokens"], out[2]["n_removed"]) == (8, 8)
    assert out[2]["cleaned_hash"] == hashlib.md5(b"").hexdigest()
    assert (out[3]["n_tokens"], out[3]["n_removed"]) == (8, 0)
    assert out[3]["cleaned_hash"] == hashlib.md5(
        b"all fresh tokens stay put here ok yes"
    ).hexdigest()


def test_exact_substring_stream_equals_batch_with_retroflag(spark):
    """Maintenance semantics: doc 1 (epoch 1) only becomes covered
    when its twin doc 9 arrives in a later epoch — the per-epoch
    re-derivation retro-flags it; final epoch equals batch."""
    from pyspark.sql import functions as F

    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    common = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    rows = [
        (1, common + " early doc tail"),
        (4, "middle filler document with fresh tokens only here"),
        (9, "late twin prefix " + common),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(
        map(tuple, DD.exact_substring_spans(df).collect())
    )
    stream = sorted(
        map(
            tuple,
            DD.exact_substring_maintain_stream(
                spark, df, n_slices=3
            ).collect(),
        )
    )
    assert stream == batch
    assert {r[0] for r in batch} == {1, 9}  # both twins flagged


def test_exact_substring_stream_bpe_equals_batch(spark):
    """BPE token-space maintenance: the fixed-artifact vocab join +
    per-epoch re-derivation must reproduce batch spans exactly,
    including retro-flagging an early doc when its twin arrives in a
    later epoch."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, common + " early unique tail one two"),
        (4, "middle filler document with fresh tokens only here"),
        (9, "late twin prefix words " + common),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(
        map(tuple, DD.exact_substring_spans_bpe(df).collect())
    )
    stream = sorted(
        map(
            tuple,
            DD.exact_substring_maintain_stream_bpe(
                spark, df, n_slices=3
            ).collect(),
        )
    )
    assert stream == batch
    assert {r[0] for r in batch} == {1, 9}  # both twins flagged


def test_exact_substring_removal_stream_bpe_equals_batch(spark):
    """BPE removal maintenance: the per-epoch gap-slicing readout
    over accumulated (toks, wins) state must equal batch removal,
    including the retroactive re-slicing of an early doc once its
    twin arrives in a later epoch."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, common + " early unique tail one two"),
        (4, "middle filler document with fresh tokens only here"),
        (9, "late twin prefix words " + common),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(
        map(tuple, DD.exact_substring_removal_bpe(df).collect())
    )
    stream = sorted(
        map(
            tuple,
            DD.exact_substring_removal_maintain_stream_bpe(
                spark, df, n_slices=3
            ).collect(),
        )
    )
    assert stream == batch
    removed = {r[0]: r[2] for r in batch}
    assert removed[1] > 0 and removed[9] > 0 and removed[4] == 0


def test_exact_substring_spans_bytes_hand_fixture(spark):
    """Two docs share a 36-byte passage at different BYTE offsets —
    one behind a 2-byte multibyte char ('ö'), one behind a 1-byte
    ASCII prefix: spans report 1-based byte offsets into the UTF-8
    encoding, not character offsets."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    s = "0123456789abcdefghijklmnopqrstuvwxyz"  # 36 distinct bytes
    df = spark.createDataFrame(
        [
            (1, "ö" + s + "!!"),  # 'ö' is 2 UTF-8 bytes -> s at byte 3
            (2, "#" + s + "**"),  # '#' is 1 byte        -> s at byte 2
            (3, "completely different content with no shared window."),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: r
        for r in DD.exact_substring_spans_bytes(df).collect()
    }
    assert set(spans) == {1, 2}
    assert (spans[1]["start_byte"], spans[1]["end_byte"]) == (3, 38)
    assert (spans[2]["start_byte"], spans[2]["end_byte"]) == (2, 37)
    # 36-byte span = 5 overlapping 32-byte windows
    assert all(
        r["span_bytes"] == 36 and r["n_windows"] == 5
        for r in spans.values()
    )


def test_exact_substring_spans_bytes_case_sensitive_no_normalize(spark):
    """Unlike the token variant, byte windows are raw: case differences
    break the match (no lowering, no whitespace collapse)."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    up = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    df = spark.createDataFrame(
        [(1, "x " + up + " y"), (2, "z " + up.lower() + " w")],
        "doc_id long, text string",
    )
    assert DD.exact_substring_spans_bytes(df).count() == 0
    # the token variant WOULD match these after lowering (9 tokens
    # of 1 word each < L=8 windows though — so assert via the byte
    # variant on an exact-case twin instead)
    df2 = spark.createDataFrame(
        [(1, "x " + up + " y"), (2, "z " + up + " w")],
        "doc_id long, text string",
    )
    assert DD.exact_substring_spans_bytes(df2).count() == 2


def test_paragraph_dedup_keep_first(spark):
    """Duplicate paragraphs drop corpus-wide keeping the smallest
    (doc_id, pos); the hash is over NORMALIZED text (case/whitespace
    folded) but survivors re-join with their RAW text; docs with no
    non-empty paragraph emit nothing."""
    import hashlib

    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [
            (1, "Alpha para\n\nShared para\n\nBeta para"),
            (2, "Shared para\n\nGamma para"),
            (3, "shared   PARA\n\ndelta"),
            (4, "\n\n   \n\n"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in DD.paragraph_dedup(df).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_paras"], got[1]["n_kept"], got[1]["n_dropped"]) == (
        3, 3, 0,
    )
    assert (got[2]["n_paras"], got[2]["n_kept"], got[2]["n_dropped"]) == (
        2, 1, 1,
    )
    assert got[2]["cleaned_hash"] == hashlib.md5(b"Gamma para").hexdigest()
    assert (got[3]["n_paras"], got[3]["n_kept"], got[3]["n_dropped"]) == (
        2, 1, 1,
    )
    assert got[3]["cleaned_hash"] == hashlib.md5(b"delta").hexdigest()


def test_paragraph_dedup_all_duplicate_doc(spark):
    """A doc made entirely of already-seen paragraphs keeps nothing
    and hashes to md5('')."""
    import hashlib

    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "one\n\ntwo"), (2, "one\n\ntwo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in DD.paragraph_dedup(df).collect()}
    assert (got[2]["n_kept"], got[2]["n_dropped"]) == (0, 2)
    assert got[2]["cleaned_hash"] == hashlib.md5(b"").hexdigest()
    assert got[1]["n_kept"] == 2


def test_exact_substring_removal_bytes_hand_fixture(spark):
    """Removal drops exactly the covered BYTE positions; the cleaned
    hash is md5 of the uppercase-hex image of the surviving bytes;
    docs shorter than one window keep everything."""
    import hashlib

    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    s = "0123456789abcdefghijklmnopqrstuvwxyz"  # 36 distinct bytes
    d1 = "ö" + s + "!!"
    d2 = "#" + s + "**"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, "tiny")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in DD.exact_substring_removal_bytes(df).collect()
    }

    def hx(txt):
        return txt.encode("utf-8").hex().upper()

    # doc 1: bytes 3..38 covered ('ö' = 2 bytes) -> survivors are the
    # first 2 bytes and the trailing '!!'
    assert (got[1]["n_bytes"], got[1]["n_removed"]) == (40, 36)
    assert got[1]["cleaned_hash"] == hashlib.md5(
        hx("ö").encode() + hx("!!").encode()
    ).hexdigest()
    assert (got[2]["n_bytes"], got[2]["n_removed"]) == (39, 36)
    assert got[2]["cleaned_hash"] == hashlib.md5(
        hx("#").encode() + hx("**").encode()
    ).hexdigest()
    # below one window: nothing covered, full hex survives
    assert (got[3]["n_bytes"], got[3]["n_removed"]) == (4, 0)
    assert got[3]["cleaned_hash"] == hashlib.md5(
        hx("tiny").encode()
    ).hexdigest()


def test_paragraph_dedup_stream_equals_batch(spark):
    """Doc-id-ordered arrival makes keep-first append-only: the
    maintained results must equal batch paragraph_dedup, including a
    cross-epoch duplicate (doc 9 repeats doc 1's paragraph)."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [
            (1, "alpha one\n\nshared footer"),
            (2, "beta two\n\ngamma three"),
            (5, "delta four\n\nbeta two"),
            (9, "shared footer\n\nepsilon five"),
        ],
        "doc_id long, text string",
    )
    batch = sorted(map(tuple, DD.paragraph_dedup(df).collect()))
    stream = sorted(
        map(
            tuple,
            DD.paragraph_dedup_maintain_stream(
                spark, df, n_slices=3
            ).collect(),
        )
    )
    assert stream == batch
    got = {r[0]: r for r in batch}
    assert got[9][3] == 1  # its copy of doc 1's paragraph dropped
    assert got[5][3] == 1  # its copy of doc 2's paragraph dropped


def test_paragraph_dedup_stream_empty_corpus_empty_df(spark):
    """Zero-epoch (empty) corpus returns an EMPTY DataFrame with the
    real readout schema, never None (ADVICE r10) — callers chain
    DataFrame methods unconditionally."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    df = spark.createDataFrame([], "doc_id long, text string")
    out = DD.paragraph_dedup_maintain_stream(spark, df, n_slices=3)
    assert out is not None
    assert out.columns == [
        "doc_id", "n_paras", "n_kept", "n_dropped", "cleaned_hash"
    ]
    assert out.count() == 0


def test_simhash_stream_equals_batch_with_retropair(spark):
    """Maintenance over a 3-slice replay must equal batch
    simhash_pairs at the final epoch, including a retro-pair: a
    late-arriving twin (doc 9) of an early doc (doc 1)."""
    from yelp_streaming_etl_pipeline_spark.operators import dedup as DD

    text = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (1, text + "alpha"),
        (4, "completely different content about spark shuffles here"),
        (6, "another unrelated document with its own tokens entirely"),
        (9, text + "alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = sorted(map(tuple, DD.simhash_pairs(df, "text", "doc_id").collect()))
    stream = sorted(
        map(
            tuple,
            DD.simhash_maintain_stream(
                spark, df, n_slices=3
            ).collect(),
        )
    )
    assert stream == batch
    assert any(r[0] == 1 and r[1] == 9 for r in batch)  # retro-pair found
