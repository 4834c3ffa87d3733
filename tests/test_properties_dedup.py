"""Randomized differential tests for the corpus-dedup operators.

Each test replays the operator's documented semantics in plain Python
over hypothesis-generated corpora and demands exact agreement — the
same discipline test_properties.py applies to the behavioral and
retrieval operators.  The corpora draw words from a 4-token vocabulary
so cross-document n-gram collisions (the interesting case) are dense.

Covers the families whose plans were rewritten for scale in rounds
7-8 and until now were locked only by hand-computed fixtures + the
sf0.01 oracle: crossdoc_dup_ngrams (single-shuffle solo-mass form),
span_dedup (one-aggregate keeper), dedup_components (bounded-round
min-label propagation; its driver path is also checked row-for-row
against its Spark round loop), decontaminate (postings equi-join),
minhash_lsh_pairs (one-pass bucket-verify kernel).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from hypothesis import example, given, settings, strategies as st

from python_vector_db___ai_spark.functions.pytext import round_half_up

_word = st.sampled_from(["aa", "bb", "cc", "dd"])
_doc = st.lists(_word, min_size=0, max_size=10)
_corpus = st.lists(_doc, min_size=1, max_size=8)


def _mk_docs(sp, corpus):
    return sp.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        "doc_id long, text string")


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@settings(max_examples=10, deadline=None)
@given(corpus=_corpus)
def test_crossdoc_dup_ngrams_matches_python(sp, corpus):
    """The single-shuffle solo-mass form (round-8 plan) equals a direct
    Python count of positions whose n-gram occurs in >= 2 documents,
    and the xxhash64-keyed default equals the exact-string form."""
    from python_vector_db___ai_spark.operators.quality import (
        crossdoc_dup_ngrams,
    )

    n = 2
    docs = _mk_docs(sp, corpus)
    got = {r.doc_id: r for r in crossdoc_dup_ngrams(docs, n=n).collect()}
    exact = {r.doc_id: r
             for r in crossdoc_dup_ngrams(docs, n=n,
                                          exact_strings=True).collect()}

    owners: dict[tuple, set] = {}
    for i, ws in enumerate(corpus):
        for p in range(max(len(ws) - n + 1, 0)):
            owners.setdefault(tuple(ws[p:p + n]), set()).add(i)
    assert set(got) == set(range(len(corpus)))
    for i, ws in enumerate(corpus):
        grams = [tuple(ws[p:p + n])
                 for p in range(max(len(ws) - n + 1, 0))]
        dup = sum(1 for g in grams if len(owners[g]) >= 2)
        r = got[i]
        assert (r.n_grams, r.dup_grams) == (len(grams), dup)
        want = round_half_up(dup / len(grams), 6) if grams else 0.0
        assert r.crossdoc_dup_frac == pytest.approx(want, abs=1e-12)
        e = exact[i]
        assert (e.n_grams, e.dup_grams, e.crossdoc_dup_frac) == \
            (r.n_grams, r.dup_grams, r.crossdoc_dup_frac)


@settings(max_examples=10, deadline=None)
@given(corpus=_corpus, window=st.integers(min_value=1, max_value=4))
def test_span_dedup_matches_python(sp, corpus, window):
    """The one-aggregate keeper (min struct(doc_id, span_id) per span
    key) equals a global-first-occurrence replay, down to the residual
    md5 of each document's surviving text."""
    from python_vector_db___ai_spark.operators.substring import span_dedup

    docs = _mk_docs(sp, corpus)
    got = {r.doc_id: r for r in span_dedup(docs, window=window).collect()}

    spans_by_doc = {}
    keeper: dict[str, tuple] = {}
    for i, ws in enumerate(corpus):
        n_spans = math.ceil(len(ws) / window)
        spans = [" ".join(ws[s * window:(s + 1) * window])
                 for s in range(n_spans)]
        spans_by_doc[i] = spans
        for sid, sp_text in enumerate(spans):
            if (i, sid) < keeper.get(sp_text, (len(corpus), 0)):
                keeper[sp_text] = (i, sid)

    assert set(got) == set(range(len(corpus)))
    for i, spans in spans_by_doc.items():
        kept = [s for sid, s in enumerate(spans) if keeper[s] == (i, sid)]
        dropped = [s for sid, s in enumerate(spans) if keeper[s] != (i, sid)]
        r = got[i]
        assert r.n_spans == len(spans)
        assert r.n_dropped == len(dropped)
        assert r.words_dropped == sum(len(s.split(" ")) for s in dropped)
        assert r.chars_dropped == sum(len(s) for s in dropped)
        assert r.residual_hash == hashlib.md5(
            " ".join(kept).encode()).hexdigest()


@settings(max_examples=10, deadline=None)
@given(edges=st.sets(
    st.tuples(st.integers(min_value=0, max_value=5),
              st.integers(min_value=0, max_value=5)),
    min_size=0, max_size=10))
def test_dedup_components_matches_union_find(sp, components_path, edges):
    """With a round budget >= the graph diameter bound (|V| - 1, so
    propagation must converge), the min-label components equal a
    union-find ground truth: component_id is the member minimum, sizes
    match, exactly the minimum is canonical, and the convergence flag
    reports True — on both the driver path and the Spark round loop."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    n = 6
    edges = {(i, j) for i, j in edges if i != j}
    ids = sp.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = sp.createDataFrame(list(edges), "i long, j long")

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in edges:
        parent[find(i)] = find(j)
    comp_min: dict[int, int] = {}
    for v in range(n):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    members: dict[int, list] = {}
    for v in range(n):
        members.setdefault(comp_min[find(v)], []).append(v)

    for path in ("driver", "spark"):
        with components_path(path):
            out = dedup_components(pairs, ids, rounds=n - 1).collect()
        assert len(out) == n
        for row in out:
            want_cid = comp_min[find(row.doc_id)]
            assert row.component_id == want_cid
            assert row.component_size == len(members[want_cid])
            assert row.is_canonical == (row.doc_id == want_cid)
            assert row.converged is True


@settings(max_examples=6, deadline=None)
@given(ids=st.sets(st.integers(min_value=0, max_value=9), max_size=10),
       pairs=st.lists(st.tuples(st.integers(min_value=0, max_value=11),
                                st.integers(min_value=0, max_value=11)),
                      max_size=14),
       rounds=st.integers(min_value=0, max_value=6))
# a path longer than the round budget: converged is false
@example(ids=set(range(8)), pairs=[(i, i + 1) for i in range(7)], rounds=2)
# duplicate, reversed and self pairs
@example(ids=set(range(5)), pairs=[(0, 1), (1, 0), (0, 1), (2, 2), (3, 2)],
         rounds=1)
# endpoints outside ids, ids without edges, a NULL id
@example(ids={0, 1, 2, 5, 7, None}, pairs=[(0, 10), (10, 1), (2, 11), (1, 2)],
         rounds=3)
# empty pairs
@example(ids={0, 1, 2}, pairs=[], rounds=0)
@example(ids={0, 1, 2}, pairs=[], rounds=6)
def test_dedup_components_driver_equals_spark_loop(sp, components_path, ids,
                                                  pairs, rounds):
    """The driver path (NumPy rounds over the edge-touching nodes, a
    broadcast left join back onto ``ids``) returns exactly the rows of
    the Spark round loop, the ``converged`` flag included."""
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    pairs_df = sp.createDataFrame(pairs, "i long, j long")
    ids_df = sp.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = {}
    for path in ("driver", "spark"):
        with components_path(path):
            rows[path] = sorted(tuple(r) for r in dedup_components(
                pairs_df, ids_df, rounds=rounds).collect())
    assert rows["driver"] == rows["spark"]
    assert [r[0] for r in rows["driver"]] == sorted(i for i in ids
                                                    if i is not None)


@settings(max_examples=8, deadline=None)
@given(corpus=st.lists(st.lists(st.sampled_from(["aa", "bb", "cc", "Σ"]),
                                min_size=0, max_size=8),
                       min_size=1, max_size=6),
       shingle_n=st.integers(min_value=1, max_value=2))
def test_minhash_signature_expr_matches_python(sp, corpus, shingle_n):
    """Third-angle lock on the r8 signing rewrite: the pure-expression
    signature (the shape the SQL oracles replicate, and the form the
    Arrow pass is row-equality-locked against in test_dedup) must equal
    an independent Python replay of the whole chain — md5 base hash,
    30-bit mask, Carter-Wegman affine maps mod 2^31-1, min over
    distinct shingles."""
    from python_vector_db___ai_spark.functions.hashing import (
        MINHASH_MASK,
        MINHASH_P,
        minhash_consts,
    )
    from python_vector_db___ai_spark.functions.pytext import (
        stable_hash64_py,
        word_shingles_py,
    )
    from python_vector_db___ai_spark.operators.dedup import (
        minhash_signature_expr,
    )

    k = 4
    docs = _mk_docs(sp, corpus)
    got = {r["_id"]: r for r in
           minhash_signature_expr(docs, num_hashes=k,
                                  shingle_n=shingle_n).collect()}
    consts = minhash_consts(k)
    assert set(got) == set(range(len(corpus)))
    for i, ws in enumerate(corpus):
        text = " ".join(ws)
        shingles = word_shingles_py(text, shingle_n)
        assert got[i].shingles == shingles
        if not shingles:
            assert list(got[i].sig) == [None] * k
            continue
        bases = [stable_hash64_py(s) & MINHASH_MASK for s in shingles]
        want = [min((a * h + b) % MINHASH_P for h in bases)
                for a, b in consts]
        assert list(got[i].sig) == want


@pytest.mark.parametrize("exact_strings", [False, True])
@settings(max_examples=6, deadline=None)
@given(corpus=_corpus, shingle_n=st.integers(min_value=1, max_value=2))
# two docs without shingles: Jaccard NULL, est 0
@example(corpus=[[], []], shingle_n=1)
# a hot bucket over the cap beside a family under it
@example(corpus=[["aa", "bb"]] * 3 + [["cc"], ["cc"]], shingle_n=1)
def test_minhash_lsh_pairs_matches_python(sp, exact_strings, corpus,
                                          shingle_n):
    """The one-pass bucket-verify kernel equals a plain-Python replay
    over the expression form's signatures: pairs are the ``i < j`` docs
    sharing a band slice in a bucket of at most ``max_bucket`` docs,
    ``est_jaccard`` is equal (non-NULL) slots / ``num_hashes``, and
    ``jaccard`` is exact over the shingle sets, NULL for two empty
    sets and dropped by a verify threshold."""
    from functools import reduce

    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature_expr,
    )

    k, bands = 8, 4
    rows = k // bands
    docs = _mk_docs(sp, corpus)
    sigs = {r["_id"]: (set(r.shingles), list(r.sig)) for r in
            minhash_signature_expr(docs, num_hashes=k,
                                   shingle_n=shingle_n).collect()}
    configs = [(mb, vt) for mb in (None, 2) for vt in (None, 0.5)]
    got: dict = {c: {} for c in configs}
    frames = [minhash_lsh_pairs(docs, num_hashes=k, bands=bands,
                                shingle_n=shingle_n, max_bucket=mb,
                                verify_threshold=vt,
                                exact_strings=exact_strings)
              .withColumn("cfg", F.lit(n))
              for n, (mb, vt) in enumerate(configs)]
    for r in reduce(lambda a, b: a.unionByName(b), frames).collect():
        pair = (r.i, r.j)
        assert pair not in got[configs[r.cfg]]
        got[configs[r.cfg]][pair] = (r.est_jaccard, r.jaccard)

    buckets: dict = {}
    for i, (_, sig) in sigs.items():
        for b in range(bands):
            key = (b, tuple(sig[b * rows:(b + 1) * rows]))
            buckets.setdefault(key, []).append(i)
    for mb, vt in configs:
        want = {}
        for members in buckets.values():
            if mb is not None and len(members) > mb:
                continue
            for i in members:
                for j in members:
                    if i >= j:
                        continue
                    (sa, ga), (sb, gb) = sigs[i], sigs[j]
                    est = sum(x is not None and x == y
                              for x, y in zip(ga, gb)) / k
                    union = len(sa | sb)
                    jac = len(sa & sb) / union if union else None
                    if vt is None or (jac is not None and jac >= vt):
                        want[(i, j)] = (est, jac)
        assert got[(mb, vt)] == want, (mb, vt)


@settings(max_examples=10, deadline=None)
@given(train=_corpus, bench=_corpus)
def test_decontaminate_matches_python(sp, train, bench):
    """The postings equi-join decontamination equals a set-algebra
    replay: hit shingles, distinct benchmark docs touched, and the
    contamination ratio per flagged training doc."""
    from python_vector_db___ai_spark.operators.dedup import decontaminate

    n = 2
    tr_df = _mk_docs(sp, train)
    bm_df = _mk_docs(sp, bench)
    got = {r.doc_id: r for r in decontaminate(tr_df, bm_df, n=n).collect()}

    def shingles(ws):
        return {" ".join(ws[p:p + n])
                for p in range(max(len(ws) - n + 1, 0))}

    bm_sh = {i: shingles(ws) for i, ws in enumerate(bench)}
    flagged = {}
    for i, ws in enumerate(train):
        sh = shingles(ws)
        hit = {s for s in sh if any(s in b for b in bm_sh.values())}
        if hit:
            nb = sum(1 for b in bm_sh.values() if b & sh)
            flagged[i] = (len(hit), nb,
                          round_half_up(len(hit) / max(len(sh), 1), 6))
    assert set(got) == set(flagged)
    for i, (nh, nb, cont) in flagged.items():
        r = got[i]
        assert (r.n_hit_shingles, r.n_benchmark_docs) == (nh, nb)
        assert r.contamination == pytest.approx(cont, abs=1e-12)
