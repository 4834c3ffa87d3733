"""Dedup operator tests on hand-built corpora with known duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_flags,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),        # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),      # near dup of 1
    (4, "completely different content about spark engines"),
    (5, "spark engines about completely different content"),   # same word set as 4
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(docs):
    rows = {r.doc_id: r for r in exact_dedup_flags(docs).collect()}
    assert rows[1].group_size == 2 and rows[2].group_size == 2
    assert rows[1].is_canonical and not rows[2].is_canonical
    assert rows[3].group_size == 1 and rows[3].is_canonical
    assert rows[1].content_hash == rows[2].content_hash


def test_exact_dedup_keeps_null_text_rows(spark):
    """A NULL text has no content hash to group on: the row is kept as
    its own canonical singleton instead of vanishing from the output
    (which a downstream left-anti join would report as a dropped
    duplicate)."""
    docs = spark.createDataFrame(
        [(1, "same"), (2, None), (3, "same"), (4, None), (5, "other")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in exact_dedup_flags(docs).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    for d in (2, 4):
        assert rows[d].content_hash is None
        assert rows[d].group_size == 1 and rows[d].is_canonical is True
    assert rows[1].group_size == 2 and rows[1].is_canonical
    assert rows[3].group_size == 2 and rows[3].is_canonical is False
    assert rows[5].group_size == 1 and rows[5].is_canonical


def test_ngram_jaccard(docs):
    pairs = {(r.i, r.j): r.jaccard
             for r in ngram_jaccard_pairs(docs, n=3).collect()}
    assert pairs[(1, 2)] == pytest.approx(1.0)          # identical
    assert 0.3 < pairs[(1, 3)] < 1.0                    # one word changed
    assert (1, 4) not in pairs                          # nothing shared


def test_minhash_lsh_finds_dups(docs):
    got = {(r.i, r.j): r for r in
           minhash_lsh_pairs(docs, verify_threshold=0.9).collect()}
    assert (1, 2) in got and got[(1, 2)].jaccard == pytest.approx(1.0)
    assert got[(1, 2)].est_jaccard == pytest.approx(1.0)
    # word-set-identical docs 4/5 must also collide (shingle_n=1)
    assert (4, 5) in got


def test_simhash_near_pairs(docs):
    got = {(r.i, r.j): r.hamming
           for r in simhash_pairs(docs, max_hamming=16).collect()}
    assert got[(1, 2)] == 0            # identical text, identical fingerprint
    assert got[(4, 5)] == 0            # same word multiset
    assert got[(1, 3)] <= 6            # near dup: small hamming distance
    assert got[(1, 4)] > got[(1, 2)]   # unrelated docs further apart


def test_embedding_neardup(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"])
    got = embedding_neardup_pairs(vecs, threshold=0.95).collect()
    assert [(r.i, r.j) for r in got] == [(1, 2)]


def test_decontaminate_flags_overlap(spark):
    from python_vector_db___ai_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated words nothing shared here at all"),
         (3, "the quick brown fox sat still")],
        ["doc_id", "text"])
    benchmark = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps high")], ["doc_id", "text"])
    got = {r.doc_id: r for r in decontaminate(train, benchmark, n=3).collect()}
    # doc 1 shares 'the quick brown', 'quick brown fox', 'brown fox jumps'
    assert got[1].n_hit_shingles == 3 and got[1].n_benchmark_docs == 1
    # doc 3 shares the first two trigrams only
    assert got[3].n_hit_shingles == 2
    assert 2 not in got                      # clean doc not flagged
    assert 0 < got[3].contamination <= 1.0


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two")], ["doc_id", "text"])
    row = df.select(word_shingles(F.col("text"), 3).alias("sh")).collect()[0]
    assert row.sh == []   # shorter than n -> empty, not a down-counting sequence


def test_dedup_components_chain_and_canonical(spark, components_path):
    """Min-label propagation: a 4-chain + a disjoint pair + a singleton
    resolve to the right components within the round budget, and the
    bounded-round contract is visible when rounds is too small — on
    both the driver path and the Spark round loop."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3),    # chain 0-1-2-3
         (4, 5)],                   # pair
        "i long, j long")
    for path in ("driver", "spark"):
        with components_path(path):
            got = {r.doc_id: r for r in
                   dedup_components(pairs, ids, rounds=3).collect()}
            # rounds=1: doc 3 is 3 hops from id 0 -> only reaches label 2
            one = {r.doc_id: r.component_id for r in
                   dedup_components(pairs, ids, rounds=1).collect()}
        assert {r for r in got} == set(range(7))
        for d in (0, 1, 2, 3):
            assert got[d].component_id == 0
            assert got[d].component_size == 4
        assert got[0].is_canonical and not got[3].is_canonical
        for d in (4, 5):
            assert got[d].component_id == 4
            assert got[d].component_size == 2
        assert got[6].component_id == 6 and got[6].component_size == 1
        assert got[6].is_canonical
        assert one[3] == 2 and one[1] == 0 and one[2] == 1


def test_dedup_components_round_budget_converged(spark, components_path):
    """On the registered MinHash pair graph the 5-round budget is a
    fixpoint: one extra round changes nothing (the convergence claim
    behind the bounded-round contract), on both paths."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components
    from python_vector_db___ai_spark.operators.dedup import minhash_lsh_pairs
    from python_vector_db___ai_spark.session import load_table
    from pyspark.sql import functions as F

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .filter(F.col("doc_id") < 150))
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4,
                              verify_threshold=0.9).select("i", "j").cache()
    ids = docs.select("doc_id")
    for path in ("driver", "spark"):
        with components_path(path):
            five = {(r.doc_id, r.component_id) for r in
                    dedup_components(pairs, ids, rounds=5).collect()}
            six = {(r.doc_id, r.component_id) for r in
                   dedup_components(pairs, ids, rounds=6).collect()}
        assert five == six


def test_dedup_components_driver_path_few_jobs_no_state(spark):
    """A small graph takes the driver path: a handful of Spark jobs in
    all (not ~9 per round), and no cached or checkpointed RDD outlives
    the collected output."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    sc = spark.sparkContext
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30, 2)] + [(1, 2), (39, 0)],
        "i long, j long")
    before = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup("test-dedup-components-jobs", "dedup_components")
    try:
        rows = dedup_components(pairs, ids, rounds=5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-dedup-components-jobs")
    assert set(sc._jsc.getPersistentRDDs().keys()) - before == set()
    assert 1 <= len(jobs) <= 10
    got = {r.doc_id: (r.component_id, r.component_size) for r in rows}
    assert len(got) == 40
    assert got[0] == got[1] == got[2] == got[3] == got[39] == (0, 5)
    assert got[4] == got[5] == (4, 2) and got[35] == (35, 1)
    assert all(r.converged is True for r in rows)


def _new_persisted(sc, before: set) -> set:
    return set(sc._jsc.getPersistentRDDs().keys()) - before


def test_dedup_components_releases_minhash_signature_cache(
        spark, docs, components_path):
    """``minhash_lsh_pairs`` persists nothing, and after the collect
    ``dedup_components``' driver path leaves nothing persisted, its
    Spark path only what its result reads (the edge list and the last
    round's labels)."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    sc = spark.sparkContext
    for path, left in (("driver", 0), ("spark", 2)):
        before = set(sc._jsc.getPersistentRDDs().keys())
        pairs = minhash_lsh_pairs(docs, verify_threshold=0.5)
        assert pairs.count() > 0
        assert _new_persisted(sc, before) == set()
        with components_path(path):
            rows = dedup_components(pairs, docs.select("doc_id"),
                                    rounds=3).collect()
        assert len(_new_persisted(sc, before)) == left, path
        assert {r.doc_id: r.component_id for r in rows}[2] == 1


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_components"])
def test_registered_minhash_queries_leave_nothing_persisted(spark, name):
    """The registered MinHash queries collect without leaving a cached
    or checkpointed RDD behind."""
    from python_vector_db___ai_spark.plans.queries import all_queries
    from tests.conftest import SF_DIR

    spark.catalog.clearCache()   # a cache an earlier test left is no proof
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    assert all_queries()[name].spark_fn(spark, SF_DIR).collect()
    assert _new_persisted(sc, before) == set()


def test_minhash_lsh_pairs_runs_in_few_jobs(spark):
    """Sign + band, the bucket-verify kernel and the pair dedup: one
    job per exchange-bounded stage, no count barrier or cache fill."""
    from python_vector_db___ai_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(docs, shingle_n=3, verify_threshold=0.7)
    sc = spark.sparkContext
    sc.setJobGroup("test-minhash-jobs", "minhash_lsh_pairs")
    try:
        pairs.toArrow()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-minhash-jobs")
    assert 1 <= len(jobs) <= 4


@pytest.mark.parametrize("exact_strings", [False, True])
def test_minhash_lsh_pairs_docs_without_shingles(spark, exact_strings):
    """Docs without shingles (fewer words than ``shingle_n``, empty or
    NULL text) share the empty-slice bucket: they pair with each other
    at Jaccard NULL and est_jaccard 0 (a NULL slot never matches)
    instead of failing the job on 0/0, and a verify threshold drops
    them.  A NULL id never pairs."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "foo bar"), (3, ""), (4, None),
         (5, "a b c d"), (6, "a b c d"), (None, "a b c d")],
        "doc_id long, text string")
    got = {(r.i, r.j): (r.est_jaccard, r.jaccard) for r in
           minhash_lsh_pairs(df, shingle_n=3,
                             exact_strings=exact_strings).collect()}
    empty = [1, 2, 3, 4]
    assert got == {**{(i, j): (0.0, None) for i in empty for j in empty
                      if i < j},
                   (5, 6): (1.0, 1.0)}
    verified = minhash_lsh_pairs(df, shingle_n=3, verify_threshold=0.5,
                                 exact_strings=exact_strings).collect()
    assert [(r.i, r.j) for r in verified] == [(5, 6)]


def test_minhash_incremental_flags_docs_without_shingles(spark):
    """An increment doc without shingles meets the corpus's shingle-less
    docs in the empty-slice bucket: they count as candidates with a NULL
    Jaccard, never as dups, and the job does not fail on 0/0."""
    from python_vector_db___ai_spark.operators.dedup import (
        minhash_incremental_flags,
    )

    corpus = spark.createDataFrame(
        [(1, "hello world"), (2, "alpha beta gamma delta")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "foo bar"), (11, "alpha beta gamma delta")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           minhash_incremental_flags(new, corpus, shingle_n=3).collect()}
    assert out[10].n_candidates == 1 and out[10].n_dups == 0
    assert out[10].best_jaccard is None and out[10].is_dup is False
    assert out[11].is_dup and out[11].best_match == 2


def test_dedup_components_spark_path_keeps_only_last_round(
        spark, components_path):
    """Above the cap each round's checkpoint is released once the next
    one is materialized: a 7-round call leaves the last round's labels
    and, for the convergence probe, the edge list — not one RDD per
    round."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    sc = spark.sparkContext
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)],
                                  "i long, j long")
    with components_path("spark"):
        for check, left in ((True, 2), (False, 1)):
            before = set(sc._jsc.getPersistentRDDs().keys())
            rows = dedup_components(pairs, ids, rounds=7,
                                    convergence_check=check).collect()
            assert len(_new_persisted(sc, before)) == left, check
            got = {r.doc_id: r.component_id for r in rows}
            assert [got[i] for i in range(12)] == \
                [0] * 8 + [1, 2, 10, 11]


def test_embedding_neardup_blas_equals_expr(spark):
    """The broadcast-matmul all-pairs form returns exactly the
    expression θ-join's pairs (round-6 values, i<j, thresholded)."""
    from python_vector_db___ai_spark.operators.dedup import (
        embedding_neardup_pairs,
    )
    from python_vector_db___ai_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    expr = {(r.i, r.j): r.cosine for r in
            embedding_neardup_pairs(emb, threshold=0.0)
            .withColumn("cosine", F.round("cosine", 6))
            .filter(F.col("cosine") >= 0.4).collect()}
    blas = {(r.i, r.j): r.cosine for r in
            embedding_neardup_pairs(emb, threshold=0.4,
                                    impl="blas").collect()}
    assert set(expr) == set(blas)
    for k in expr:
        assert expr[k] == pytest.approx(blas[k], abs=1e-9)


def test_semantic_decontaminate(spark):
    """Embedding-space decontamination flags exactly the training
    vectors within threshold of a benchmark vector, with correct hit
    counts and nearest ids (verified against a numpy replay)."""
    import numpy as np

    from python_vector_db___ai_spark.operators.dedup import (
        semantic_decontaminate,
    )
    from python_vector_db___ai_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    bench = emb.filter(F.col("vec_id") % 17 == 3)
    train = emb.filter(F.col("vec_id") % 17 != 3)

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    is_b = ids % 17 == 3
    S = np.round(V[~is_b] @ V[is_b].T, 6)
    t_ids, b_ids = ids[~is_b], ids[is_b]
    order = np.argsort(b_ids)
    S, b_ids = S[:, order], b_ids[order]
    # threshold below the observed max so a non-trivial subset flags
    thr = float(np.quantile(S.max(axis=1), 0.9))

    got = {r.vec_id: r for r in
           semantic_decontaminate(train, bench, threshold=thr).collect()}
    want_flagged = {int(t_ids[i]) for i in range(len(t_ids))
                    if (S[i] >= thr).any()}
    assert set(got) == want_flagged
    assert want_flagged            # threshold chosen so hits exist
    for i, t in enumerate(t_ids):
        if int(t) in got:
            r = got[int(t)]
            assert r.n_benchmark_hits == int((S[i] >= thr).sum())
            j = int(np.argmax(S[i]))
            assert r.nearest_benchmark_id == int(b_ids[j])
            assert r.max_cosine == pytest.approx(S[i, j], abs=1e-9)

def test_dedup_components_convergence_flag(spark, components_path):
    """A path graph with diameter > rounds must trip the converged
    flag; enough rounds must clear it, on both paths.  (Round-budget
    under-merge is no longer silent.)"""
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "i long, j long")   # path 0-..-7

    for path in ("driver", "spark"):
        with components_path(path):
            short = dedup_components(pairs, ids, rounds=2).collect()
            enough = dedup_components(pairs, ids, rounds=7).collect()
            # opt-out keeps the legacy 4-column shape
            cols = dedup_components(pairs, ids, rounds=2,
                                    convergence_check=False).columns
        assert all(r.converged is False for r in short)
        assert all(r.converged is True for r in enough)
        assert all(r.component_id == 0 for r in enough)
        assert "converged" not in cols


def test_minhash_max_bucket_drops_hot_buckets(spark):
    """Identical docs share every band bucket; a cap below the family
    size drops those buckets (degenerate stop-buckets) so the
    self-join never sees the quadratic family."""
    from python_vector_db___ai_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(5)]
    rows += [(10, "one two three four five six"),
             (11, "one two three four five six")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_lsh_pairs(df, num_hashes=16, bands=4, shingle_n=3)
    assert uncapped.count() == 10 + 1  # C(5,2) + the size-2 family
    capped = minhash_lsh_pairs(df, num_hashes=16, bands=4, shingle_n=3,
                               max_bucket=3)
    got = {(r.i, r.j) for r in capped.collect()}
    assert got == {(10, 11)}  # the small family survives, the hot one goes


def test_minhash_incremental_flags(spark):
    from python_vector_db___ai_spark.operators.dedup import (
        minhash_incremental_flags,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"),   # exact dup of 1
         (11, "zeta eta theta iota kappa")],       # nothing similar
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           minhash_incremental_flags(new, corpus).collect()}
    assert out[10].is_dup and out[10].best_match == 1
    assert out[10].best_jaccard == 1.0 and out[10].n_dups == 1
    assert not out[11].is_dup and out[11].best_match is None
    assert out[11].n_candidates == 0


def test_simhash_map_only_equals_agg_form(spark):
    """The round-7 map-only SimHash pass must agree with the explode +
    hash-agg reference on the real corpus and edge docs; the only
    intended difference is wordless docs (agg drops the row, map-only
    emits NULL — identical after the callers' left join)."""
    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_fingerprints_agg,
    )
    from python_vector_db___ai_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    got = {r.doc_id: r.simhash
           for r in simhash_fingerprints(docs).collect()}
    want = {r.doc_id: r.simhash
            for r in simhash_fingerprints_agg(docs).collect()}
    assert {k: v for k, v in got.items() if v is not None} == want

    edge = spark.createDataFrame(
        [(1, ""), (2, " \t "), (3, "Hello HELLO hello x"),
         (4, "a"), (5, "a b a b a"), (6, None)],
        "doc_id long, text string")
    g2 = {r.doc_id: r.simhash
          for r in simhash_fingerprints(edge).collect()}
    w2 = {r.doc_id: r.simhash
          for r in simhash_fingerprints_agg(edge).collect()}
    assert set(g2) == {1, 2, 3, 4, 5, 6}
    assert g2[1] is None and g2[2] is None and g2[6] is None
    assert {k: v for k, v in g2.items() if v is not None} == w2


def test_simhash_map_only_plan_is_shuffle_free(spark):
    from python_vector_db___ai_spark.operators.dedup import (
        simhash_fingerprints,
    )
    from python_vector_db___ai_spark.plans.explain import (
        count_exchanges,
        formatted_plan,
    )
    from python_vector_db___ai_spark.session import load_table
    from tests.conftest import SF_DIR

    spark.catalog.clearCache()
    df = simhash_fingerprints(load_table(spark, SF_DIR, "documents"))
    assert count_exchanges(df) == 0, formatted_plan(df)


def test_minhash_affine_family_mixes():
    """Regression guard for the near-monotonic affine trap (round 8):
    with a modulus far above the 30-bit base domain, ``(a*h + b) mod
    P`` wraps at most once and is otherwise monotonic in ``h`` — every
    signature slot then picks the same min-base-hash shingle, the
    slots collapse, and LSH banding degenerates into giant buckets
    (observed as an OOM in the 1M-doc sweep's candidate self-join
    before the modulus was fixed to 2^31 - 1).  Two checks, no Spark:
    every ``a`` must sweep the product across many multiples of P,
    and over a deterministic shingle-hash sample the per-slot argmins
    must not all coincide with the base argmin."""
    import numpy as np

    from python_vector_db___ai_spark.functions.hashing import (
        MINHASH_MASK,
        MINHASH_P,
        minhash_consts,
    )
    from python_vector_db___ai_spark.functions.pytext import (
        stable_hash64_py,
    )

    consts = minhash_consts(16)
    for a, b in consts:
        assert 1 <= a < MINHASH_P and 0 <= b < MINHASH_P
        # the product must cross many multiples of P over the domain,
        # else the map is near-monotonic in h
        assert (a * MINHASH_MASK) // MINHASH_P > 100
    hs = np.array([stable_hash64_py(f"shingle:{i}") & MINHASH_MASK
                   for i in range(64)], dtype=np.int64)
    sigs = (hs[:, None] * np.array([a for a, _ in consts])
            + np.array([b for _, b in consts])) % MINHASH_P
    argmins = sigs.argmin(axis=0)
    base_argmin = int(hs.argmin())
    assert len(set(argmins.tolist())) >= 8, argmins
    assert (argmins == base_argmin).sum() <= 3, argmins


def test_minhash_arrow_equals_expr_form(spark):
    """The round-7 map-only MinHash signing must agree with the
    pure-expression reference bit-for-bit — shingle arrays (order
    included: dict.fromkeys vs array_distinct), all 16 min-hashes,
    and the NULL conventions for empty/short/NULL texts — at both
    shingle_n=1 and shingle_n=3."""
    from python_vector_db___ai_spark.operators.dedup import (
        minhash_signature,
        minhash_signature_expr,
    )
    from python_vector_db___ai_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    edge = spark.createDataFrame(
        [(100001, ""), (100002, " \t "), (100003, None),
         (100004, "a"), (100005, "a b"), (100006, "B b A a b"),
         (100007, "one two three four"),
         (100008, "café naïve café"),
         (100009, "nb sp is not ascii whitespace")],
        "doc_id long, text string")
    both = docs.select("doc_id", "text").unionByName(edge)
    for n in (1, 3):
        got = {r._id: (r.shingles, r.sig)
               for r in minhash_signature(both, shingle_n=n).collect()}
        want = {r._id: (r.shingles, r.sig)
                for r in minhash_signature_expr(both, shingle_n=n).collect()}
        assert got == want, f"shingle_n={n}"


def test_minhash_arrow_plan_is_map_only(spark):
    from python_vector_db___ai_spark.operators.dedup import (
        minhash_signature,
    )
    from python_vector_db___ai_spark.plans.explain import (
        count_exchanges,
        formatted_plan,
    )
    from python_vector_db___ai_spark.session import load_table
    from tests.conftest import SF_DIR

    spark.catalog.clearCache()
    df = minhash_signature(load_table(spark, SF_DIR, "documents"))
    assert count_exchanges(df) == 0, formatted_plan(df)


def test_minhash_hashed_verify_equals_exact_strings(spark):
    """r9 scale knob: the default hashed-shingle verify (sh64 — 64-bit
    stable_hash64 sets) must produce the SAME pairs with the SAME
    est/true Jaccard values as the exact string-shingle verify — the
    hashing is injective on this corpus, so only the shuffle
    representation changes."""
    from python_vector_db___ai_spark.session import load_table
    from pyspark.sql import functions as F

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .filter(F.col("doc_id") < 200))
    kw = dict(num_hashes=16, bands=4, shingle_n=3, verify_threshold=0.5)
    hashed = {(r.i, r.j): (r.est_jaccard, r.jaccard) for r in
              minhash_lsh_pairs(docs, **kw).collect()}
    exact = {(r.i, r.j): (r.est_jaccard, r.jaccard) for r in
             minhash_lsh_pairs(docs, exact_strings=True, **kw).collect()}
    assert hashed == exact
    assert len(hashed) > 0


def test_decontaminate_hashed_equals_string_keyed(spark):
    """Differential (r10 scale rework): the xxhash64-keyed default
    returns exactly the string-keyed (collision-free) rows on the
    fixture corpus, including the carried-through-explode shingle
    counts in the contamination denominators."""
    from python_vector_db___ai_spark.operators.dedup import decontaminate
    from python_vector_db___ai_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 3)
    benchmark = docs.filter(F.col("doc_id") % 10 == 3)
    fast = sorted(map(tuple, decontaminate(train, benchmark,
                                           n=5).collect()))
    exact = sorted(map(tuple, decontaminate(train, benchmark, n=5,
                                            exact_strings=True).collect()))
    assert fast == exact
    assert len(fast) > 0


def test_let_bound_shingles_match_inline_form(spark):
    """functions/expr.py ``let`` parity: the let-bound shingle/gram
    builders must return exactly what inline expression substitution
    returns, including NULL text, empty text, and texts shorter than
    the shingle width (the O(words**2) fix changes evaluation count,
    never values)."""
    from python_vector_db___ai_spark.functions.expr import let
    from python_vector_db___ai_spark.operators.dedup import (
        hashed_word_shingles,
        word_shingles,
        words_col,
    )

    rows = [(1, None), (2, ""), (3, "   "), (4, "a b"),
            (5, "One two THREE four five one two three"),
            (6, "x " * 40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    n = 3
    ws = words_col(F.col("text"))
    inline_str = F.when(
        F.size(ws) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n))))
    ).otherwise(F.array().cast("array<string>"))
    # r15 keying: words hashed once, gram key = xxhash64 of the long
    # slice (inline substitution of the same expression tree)
    hws = F.transform(ws, lambda w: F.xxhash64(w))
    inline_hash = F.when(
        F.size(hws) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(hws) - (n - 1)),
            lambda i: F.xxhash64(F.slice(hws, i, n))))
    ).otherwise(F.array().cast("array<bigint>"))

    got = df.select(
        "doc_id",
        word_shingles(F.col("text"), n).alias("s"),
        hashed_word_shingles(F.col("text"), n).alias("h"),
        inline_str.alias("s0"), inline_hash.alias("h0")).collect()
    for r in got:
        assert r.s == r.s0, r
        assert r.h == r.h0, r

    # let itself: NULL value flows through as a bound NULL.
    out = df.select(let(F.col("text"),
                        lambda t: F.length(t)).alias("n")).collect()
    ref = df.select(F.length("text").alias("n")).collect()
    assert out == ref
