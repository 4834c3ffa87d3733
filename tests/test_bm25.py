"""BM25 + RRF fusion tests with hand-computed expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators.bm25 import (
    bm25_scores,
    bm25_topk,
    rrf_fuse,
)

DOCS = [
    (1, "spark engine spark"),       # tf(spark)=2, dl=3
    (2, "spark sql"),                # tf(spark)=1, dl=2
    (3, "duck database"),            # no match
    (4, "engine room"),              # tf(engine)=1, dl=2
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _bm25(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_bm25_hand_computed(docs):
    got = {r.doc_id: r.bm25
           for r in bm25_scores(docs, ["spark"]).collect()}
    avgdl = (3 + 2 + 2 + 2) / 4
    assert set(got) == {1, 2}
    assert got[1] == pytest.approx(_bm25(2, 2, 4, 3, avgdl), abs=1e-9)
    assert got[2] == pytest.approx(_bm25(1, 2, 4, 2, avgdl), abs=1e-9)
    assert got[1] > got[2]   # higher tf wins


def test_bm25_multi_term_and_ranking(docs):
    rows = bm25_topk(docs, ["spark", "engine"], k=10).collect()
    ranks = {r.doc_id: r.rank for r in rows}
    assert set(ranks) == {1, 2, 4}
    assert ranks[1] == 1     # matches both terms, tf(spark)=2


def test_rrf_fusion(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "rank"])
    got = {r.doc_id: r.rrf for r in rrf_fuse(a, b, k0=60, k=10).collect()}
    assert got[2] == pytest.approx(round(1 / 62 + 1 / 61, 6))  # in both
    assert got[1] == pytest.approx(round(1 / 61, 6))
    assert got[3] == pytest.approx(round(1 / 62, 6))
    # doc in both systems outranks single-system docs
    assert got[2] > got[1] > got[3]


def test_bm25_duplicate_query_terms_weighted(spark):
    """A repeated query term contributes once per occurrence (classic
    bag-of-terms BM25): ['fast','fast'] doubles the term's score."""
    from python_vector_db___ai_spark.operators.bm25 import bm25_scores
    df = spark.createDataFrame(
        [(1, "fast cars go fast"), (2, "slow boats")],
        ["doc_id", "text"])
    one = {r.doc_id: r.bm25 for r in bm25_scores(df, ["fast"]).collect()}
    two = {r.doc_id: r.bm25 for r in
           bm25_scores(df, ["fast", "fast"]).collect()}
    assert two[1] == pytest.approx(2 * one[1], rel=1e-9)


def test_bm25_batch_matches_single(docs):
    """A 1-row query table must reproduce the single-query scores
    exactly (same weighting, same idf, same length normalization)."""
    from python_vector_db___ai_spark.operators.bm25 import bm25_scores_batch

    spark = docs.sparkSession
    terms = ["spark", "engine"]
    single = {r.doc_id: r.bm25 for r in bm25_scores(docs, terms).collect()}
    qtable = spark.createDataFrame([(7, terms)],
                                   "query_id long, terms array<string>")
    batch = {r.doc_id: r.bm25
             for r in bm25_scores_batch(docs, qtable).collect()}
    assert batch == pytest.approx(single, abs=1e-12)


def test_bm25_prebuilt_dictionary_identical(docs):
    """The three index-feeding forms — inline tokenize, prebuilt
    (postings, lengths), and prebuilt (postings, lengths, term_df
    dictionary) — must produce BIT-identical scores for both the
    single-query and the batch scorer: the dictionary's build-time df
    equals the matched-derived count because a term's matched postings
    are all its postings."""
    from python_vector_db___ai_spark.operators.bm25 import (
        bm25_index,
        bm25_scores_batch,
        doc_lengths,
        term_df,
    )

    spark = docs.sparkSession
    post, dls = bm25_index(docs), doc_lengths(docs)
    tdf = term_df(post)
    terms = ["spark", "engine", "missingterm"]
    single = [
        {r.doc_id: r.bm25 for r in bm25_scores(docs, terms,
                                               prebuilt=pb).collect()}
        for pb in (None, (post, dls), (post, dls, tdf))]
    assert single[1] == pytest.approx(single[0], abs=1e-12)
    assert single[2] == pytest.approx(single[0], abs=1e-12)
    qtable = spark.createDataFrame(
        [(0, ["spark"]), (1, ["engine", "duck"])],
        "query_id long, terms array<string>")
    batch = [
        {(r.query_id, r.doc_id): r.bm25
         for r in bm25_scores_batch(docs, qtable, prebuilt=pb).collect()}
        for pb in (None, (post, dls), (post, dls, tdf))]
    assert batch[1] == pytest.approx(batch[0], abs=1e-12)
    assert batch[2] == pytest.approx(batch[0], abs=1e-12)


def test_bm25_batch_per_query_isolation(docs):
    """Each query scores independently: a term in query A must not leak
    into query B's scores, and repeated terms weight by multiplicity."""
    from python_vector_db___ai_spark.operators.bm25 import bm25_scores_batch

    spark = docs.sparkSession
    qtable = spark.createDataFrame(
        [(0, ["spark"]), (1, ["spark", "spark"]), (2, ["room"])],
        "query_id long, terms array<string>")
    rows = bm25_scores_batch(docs, qtable).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.doc_id] = r.bm25
    # q0 and q1 match docs 1,2 only; q2 matches doc 4 only
    assert set(by_q[0]) == {1, 2} and set(by_q[2]) == {4}
    # doubled term = doubled score (bag-of-terms weighting)
    for d in (1, 2):
        assert by_q[1][d] == pytest.approx(2 * by_q[0][d], abs=1e-12)


def test_rrf_fuse_batch_per_query(spark):
    from python_vector_db___ai_spark.operators.bm25 import rrf_fuse_batch

    a = spark.createDataFrame([(0, 10, 1), (0, 11, 2), (1, 20, 1)],
                              ["query_id", "doc_id", "rank"])
    b = spark.createDataFrame([(0, 10, 1), (1, 21, 1)],
                              ["query_id", "doc_id", "rank"])
    out = rrf_fuse_batch(a, b, k0=60, k=10)
    got = {(r.query_id, r.doc_id): r.rrf for r in out.collect()}
    assert got[(0, 10)] == pytest.approx(round(2 / 61, 6))
    assert got[(0, 11)] == pytest.approx(round(1 / 62, 6))
    assert got[(1, 20)] == pytest.approx(round(1 / 61, 6))
    assert got[(1, 21)] == pytest.approx(round(1 / 61, 6))
    # ranks are per-query: both q1 docs tie on score, id breaks the tie
    ranks = {(r.query_id, r.doc_id): r.rank for r in out.collect()}
    assert ranks[(1, 20)] == 1 and ranks[(1, 21)] == 2


def test_term_cooccurrence_pmi_gating_and_values(spark):
    import math

    from python_vector_db___ai_spark.operators.bm25 import (
        term_cooccurrence_pmi,
    )

    # 4 docs; "a b" co-occur in 3; "stop" is in every doc (df cap
    # kicks it out at max_df_frac=0.75); "rare" df=1 < min_df=2.
    docs = spark.createDataFrame(
        [(1, "a b stop"), (2, "a b stop"), (3, "a b stop rare"),
         (4, "stop")],
        "doc_id long, text string")
    out = term_cooccurrence_pmi(docs, min_df=2, max_df_frac=0.75,
                                min_pair=2, k=10)
    rows = {(r.term_a, r.term_b): r for r in out.collect()}
    assert set(rows) == {("a", "b")}
    r = rows[("a", "b")]
    assert (r.n_ab, r.df_a, r.df_b) == (3, 3, 3)
    assert r.pmi == round(math.log(3 * 4 / (3 * 3)), 6)


def test_disk_index_serves_identical_topk_batch(spark, tmp_path):
    """save_bm25_index -> load_bm25_index must serve bm25_topk_batch
    bit-identically to the in-flight build (same postings algebra,
    self-consistent dictionary), including a doc with no terms in the
    lengths table (it shifts N and avgdl)."""
    from python_vector_db___ai_spark.operators.bm25 import (
        bm25_topk_batch,
        load_bm25_index,
        save_bm25_index,
    )

    rows = DOCS + [(5, "   ")]  # term-less doc: in lengths, not postings
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(0, ["spark", "engine"]), (1, ["sql"]), (2, ["nosuchterm"])],
        "query_id long, terms array<string>")

    fresh = sorted(map(tuple,
                       bm25_topk_batch(docs, queries, k=3).collect()))
    idx = save_bm25_index(docs, str(tmp_path / "bm25"))
    from_disk = sorted(map(tuple,
                           bm25_topk_batch(docs, queries, k=3,
                                           prebuilt=idx).collect()))
    assert from_disk == fresh
    assert len(from_disk) > 0

    # reload from a fresh reader too (the cross-session path)
    idx2 = load_bm25_index(spark, str(tmp_path / "bm25"))
    again = sorted(map(tuple,
                       bm25_topk_batch(docs, queries, k=3,
                                       prebuilt=idx2).collect()))
    assert again == fresh

    # lengths side carries the term-less doc (N=5, not 4)
    assert idx[1].count() == 5

    # the term filter reaches the postings SCAN as a pushed filter —
    # the row-group-pruning contract the sorted-by-term layout exists
    # for.  Match loosely (r11 ADVICE): v1 scans render
    # "PushedFilters: [In(term, ...)]", DSv2 renders
    # "PushedFilters: [term IN (...)]" — require only that a
    # pushed-filters section exists and mentions the term column with
    # an IN-style predicate.
    from python_vector_db___ai_spark.plans.explain import formatted_plan

    explained = formatted_plan(
        idx[0].filter(F.col("term").isin(["spark", "engine"])))
    lowered = explained.lower()
    assert "pushedfilters" in lowered, explained[:2000]
    pushed = lowered.split("pushedfilters", 1)[1][:400]
    assert "term" in pushed and "in" in pushed, explained[:2000]


def test_save_postings_plan_one_exchange_no_aggregate(spark):
    """The standing-index postings build shuffles the corpus exactly
    once, and what it shuffles is ALREADY-AGGREGATED postings (r13):
    per-doc tf comes from the map-side run-length encode, so the one
    term-keyed exchange carries one row per (doc, distinct term) —
    the volume a shuffle-side combine would have bought, minus the
    HashAggregate pair entirely — and the id-derived salt in the
    exchange key bounds any one term's rows per reduce task under
    Zipfian skew.  r12 shuffled the RAW token stream (no combine,
    tf-factor bytes, hot-term hotspot — r12 ADVICE); r11 paid two
    corpus-sized shuffles."""
    import re

    from python_vector_db___ai_spark.operators.bm25 import (
        _save_postings_frame,
    )
    from python_vector_db___ai_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    build = _save_postings_frame(docs, "text", "doc_id", 4)
    plan = build._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange (\w+)\(([^,)]+)", plan)
    assert len(exchanges) == 1, plan[:2000]
    assert exchanges[0][0] == "hashpartitioning"
    assert exchanges[0][1].startswith("term")
    assert "pmod" in plan, plan[:2000]
    assert "HashAggregate" not in plan, plan[:2000]


def test_doc_term_freqs_matches_explode_groupby(spark):
    """Differential pin for the r13 run-length-encode postings: the
    map-only (id, dl, term, tf) frame is value-identical to the
    explode + groupBy form across the edge cases (repeats, case
    folding, multi-space, empty string, NULL text, single token)."""
    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.bm25 import (
        _doc_term_freqs,
        _exploded_terms,
    )

    docs = spark.createDataFrame(
        [(1, "a b a c b a"), (2, "z"), (3, ""), (4, None),
         (5, "x x x x"), (6, "A a A"), (7, "  b   a  ")],
        ["doc_id", "text"])
    got = sorted(tuple(r) for r in _doc_term_freqs(docs).collect())
    ref = sorted(tuple(r) for r in (
        _exploded_terms(docs)
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .select("doc_id", "dl", "term", "tf")).collect())
    assert got == ref and len(got) == 8


def test_term_pushdown_gated_on_disk_index(spark, tmp_path):
    """The batch scorer pushes its query-term isin into the postings
    scan ONLY for a load_bm25_index-provenance frame (sorted-by-term
    row groups make it prune there); the in-flight path keeps the
    r11 join-only plan — the literal was measured pure overhead
    (+0.6-0.8 s on the sf0.1 hybrid) with nothing prunable behind it."""
    from python_vector_db___ai_spark.operators.bm25 import (
        bm25_scores_batch,
        save_bm25_index,
    )
    from python_vector_db___ai_spark.plans.explain import formatted_plan

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    qtable = spark.createDataFrame([(0, ["spark", "engine"])],
                                   "query_id long, terms array<string>")

    idx = save_bm25_index(docs, str(tmp_path / "bm"))
    disk_plan = formatted_plan(
        bm25_scores_batch(docs, qtable, prebuilt=idx)).lower()
    assert "pushedfilters" in disk_plan
    pushed = [seg[:200] for seg in disk_plan.split("pushedfilters")[1:]]
    assert any("term" in seg and "in" in seg for seg in pushed), pushed

    inflight_plan = formatted_plan(bm25_scores_batch(docs, qtable))
    assert "IN (spark" not in inflight_plan \
        and "INSET" not in inflight_plan, inflight_plan[:1500]
    # values identical across the two plans
    a = sorted(map(tuple, bm25_scores_batch(docs, qtable,
                                            prebuilt=idx).collect()))
    b = sorted(map(tuple, bm25_scores_batch(docs, qtable).collect()))
    assert a == b

    # explicit disk_backed kwarg overrides the provenance inference
    # both ways (r12 ADVICE: the attribute silently drops off any
    # transformed handle, so the contract is also in the signature)
    # (in-flight postings are no parquet scan, so there is nothing to
    # push INTO — the forced literal appears as a plain filter)
    forced_on = formatted_plan(bm25_scores_batch(
        docs, qtable, disk_backed=True))
    assert "INSET" in forced_on or "IN (spark" in forced_on, \
        forced_on[:1500]
    forced_off = formatted_plan(bm25_scores_batch(
        docs, qtable, prebuilt=idx, disk_backed=False))
    assert "INSET" not in forced_off \
        and "IN (spark" not in forced_off, forced_off[:1500]
    c = sorted(map(tuple, bm25_scores_batch(
        docs, qtable, prebuilt=idx, disk_backed=False).collect()))
    assert c == a


def _zipf_docs(spark, n_docs: int = 2000, hot_share: float = 0.3):
    """Deterministic Zipf-shaped corpus: the hot term appears in
    ``hot_share`` of all docs (stopword mass — the df ≈ n_docs shape
    the uniform bench vocabulary never produces), a mid tier follows
    a 1/rank-ish document frequency, and a per-doc unique tail keeps
    token volume comparable to the bench corpus's ~10 terms/doc."""
    rows = []
    for i in range(n_docs):
        toks = []
        if i % 10 < int(hot_share * 10):          # 30% of docs
            toks.append("hotterm")
        toks.append(f"mid{i % 7}")                 # df ~ n/7 each
        toks.append(f"mid{(i * 3) % 29}")          # df ~ n/29
        toks.append(f"low{i % 211}")               # df ~ n/211
        toks += [f"u{i}a", f"u{i}b", f"u{i}c"]     # unique tail
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_save_exchange_salt_bounds_hot_term_under_zipf(spark):
    """Skew proof for the salted standing-index exchange (r13 VERDICT
    directive: the bench corpus's uniform vocabulary never exercises
    the bound).  On a corpus whose top term sits in 30% of docs:

    * UNSALTED term-hash partitioning lands every posting of the hot
      term on ONE reduce task (the Zipf hotspot the salt exists for);
    * the salted exchange spreads them over >1 and <= BM25_TERM_SALT
      tasks with the max task near 1/SALT of the hot term's postings;
    * the salted frame is value-identical to the map-only postings
      (the salt only moves rows between files, never changes them).
    """
    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.bm25 import (
        BM25_TERM_SALT,
        _doc_term_freqs,
        _save_postings_frame,
    )

    docs = _zipf_docs(spark)
    n_hot = docs.filter(F.col("text").contains("hotterm")).count()
    assert n_hot == 600                       # 30% of 2000

    # 128 partitions: wide enough that the 8 (term, salt) keys land in
    # distinct partitions (at narrow widths two salt keys can share a
    # partition — the per-task max is then 2x the even share, still
    # bounded, but the clean width shows the per-key bound itself).
    salted = _save_postings_frame(docs, "text", "doc_id", 128)
    per_task = (salted.withColumn("_pid", F.spark_partition_id())
                .filter(F.col("term") == "hotterm")
                .groupBy("_pid").count().collect())
    tasks = len(per_task)
    max_rows = max(r["count"] for r in per_task)
    assert 1 < tasks <= BM25_TERM_SALT, per_task
    # near 1/SALT: binomial spread over 8 salts (mean 75, sd ~8) stays
    # well under 1.6x the even share; one task would read 600.
    assert max_rows <= (n_hot / BM25_TERM_SALT) * 1.6, per_task

    unsalted = (_doc_term_freqs(docs)
                .repartition(32, F.col("term"))
                .select("doc_id", "term", "tf", "dl"))
    hot_unsalted = (unsalted.withColumn("_pid", F.spark_partition_id())
                    .filter(F.col("term") == "hotterm")
                    .groupBy("_pid").count().collect())
    assert len(hot_unsalted) == 1 and hot_unsalted[0]["count"] == n_hot

    # value identity: the salt is placement-only
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, _doc_term_freqs(docs)
                   .select("doc_id", "term", "tf", "dl").collect()))
    assert a == b and len(a) == salted.count()


EDGE_DOCS = DOCS + [
    (5, "   "),                      # term-less: in lengths, not postings
    (6, None),                       # NULL text: counted in N, no dl
    (7, "Spark SQL Engine"),         # upper-case text
]
EDGE_QUERIES = [
    (0, ["spark", "engine", "spark"]),   # repeated term: qtf 2
    (1, ["SQL"]),                        # upper-case term
    (2, ["room", None]),                 # NULL inside the terms array
    (3, []),                             # empty terms array
    (4, ["nosuchterm"]),                 # only unknown terms
    (5, None),                           # NULL terms array
]


def _reference_scores(rows, queries, k1=1.2, b=0.75):
    """Pure-Python BM25 over the same conventions: N counts every doc,
    avgdl averages the docs that have a length (NULL text has none),
    query terms lower-cased with NULLs skipped, bag weighting."""
    toks = {d: (t.lower().split() if t is not None else None)
            for d, t in rows}
    n = len(toks)
    lens = [len(w) for w in toks.values() if w is not None]
    avgdl = sum(lens) / len(lens)
    df = {}
    for w in toks.values():
        for t in set(w or ()):
            df[t] = df.get(t, 0) + 1
    out = {}
    for q, terms in queries:
        qtf = {}
        for t in terms or ():
            if t is not None:
                qtf[t.lower()] = qtf.get(t.lower(), 0) + 1
        for d, w in toks.items():
            s = 0.0
            hit = False
            for t, c in qtf.items():
                tf = (w or []).count(t)
                if tf:
                    hit = True
                    idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    s += c * idf * tf * (k1 + 1) / (
                        tf + k1 * (1 - b + b * len(w) / avgdl))
            if hit:
                out[(q, d)] = s
    return out


def test_disk_index_matches_inflight_edge_cases(spark, tmp_path):
    """The saved index (manifest stats as literals, isin pushdown) and
    the in-flight scorers (one stats aggregate at construction) return
    identical rows, and both match a pure-Python BM25, across the
    edge cases: a term-less doc, a NULL-text doc, a repeated query
    term, upper-case text and terms, a NULL inside a terms array, an
    empty and a NULL terms array, a query of unknown terms only, an
    empty query table, and an int32 ``query_id``."""
    from pyspark.sql.types import IntegerType

    from python_vector_db___ai_spark.operators.bm25 import (
        BM25Index,
        bm25_index,
        bm25_scores_batch,
        bm25_topk_batch,
        doc_lengths,
        save_bm25_index,
        term_df,
    )

    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(
        EDGE_QUERIES, "query_id int, terms array<string>")
    idx = save_bm25_index(docs, str(tmp_path / "bm25"))
    assert isinstance(idx, BM25Index)
    post = bm25_index(docs)
    forms = {"disk": idx, "inflight": None,
             "tuple": (post, doc_lengths(docs), term_df(post)),
             "pair": (post, doc_lengths(docs))}

    tops = {name: bm25_topk_batch(docs, queries, k=10, prebuilt=pb)
            for name, pb in forms.items()}
    rows = {name: sorted(map(tuple, top.collect()))
            for name, top in tops.items()}
    assert rows["disk"] and all(r == rows["disk"] for r in rows.values())
    for top in tops.values():
        assert top.schema["query_id"].dataType == IntegerType()

    ref = _reference_scores(EDGE_DOCS, EDGE_QUERIES)
    for pb in forms.values():
        got = {(r.query_id, r.doc_id): r.bm25 for r in
               bm25_scores_batch(docs, queries, prebuilt=pb).collect()}
        assert got.keys() == ref.keys()
        for key, want in ref.items():
            assert got[key] == pytest.approx(want, rel=1e-12), key
    assert {q for q, _ in ref} == {0, 1, 2}
    # qtf 2: "spark" counts twice in query 0
    assert ref[(0, 2)] == pytest.approx(
        2 * _reference_scores(EDGE_DOCS, [(0, ["spark"])])[(0, 2)])

    empty = spark.createDataFrame([], "query_id int, terms array<string>")
    for pb in forms.values():
        assert bm25_topk_batch(docs, empty, prebuilt=pb).collect() == []


def test_manifest_stats_equal_lengths_aggregate(spark, tmp_path):
    """The stats the manifest records on the lengths write equal a
    fresh aggregate over the saved lengths bit for bit, and
    ``sum_dl / n_dl`` is Spark's ``avg(dl)`` exactly."""
    import json

    from python_vector_db___ai_spark.operators.bm25 import (
        BM25_INDEX_VERSION,
        save_bm25_index,
    )

    rows = EDGE_DOCS + [(10 + i, " ".join("w" * (1 + i % 3)
                                          for _ in range(i % 11)))
                        for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = tmp_path / "bm25"
    idx = save_bm25_index(docs, str(path))
    agg = idx.lengths.agg(F.count(F.lit(1)), F.count("dl"), F.sum("dl"),
                          F.avg("dl")).first()
    assert (idx.n_docs, idx.n_dl, idx.sum_dl) == tuple(agg[:3])
    assert idx.sum_dl / idx.n_dl == agg[3]
    assert idx.n_docs == len(rows) == idx.n_dl + 1

    meta = json.loads((path / "_MANIFEST.json").read_text())
    assert meta["version"] == BM25_INDEX_VERSION
    assert (meta["n_docs"], meta["n_dl"], meta["sum_dl"]) == tuple(agg[:3])
    assert set(meta["schemas"]) == {"postings", "lengths", "term_df"}
    for frame, part in ((idx.postings, "postings"),
                        (idx.lengths, "lengths"),
                        (idx.term_df, "term_df")):
        assert frame.schema == spark.read.parquet(str(path / part)).schema


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_saved_index_job_counts(spark, tmp_path):
    """Reloading runs no Spark job (no schema inference, stats from
    the manifest); saving runs at most 7; a batch over the loaded
    index runs one construction job, the query-table collect."""
    from python_vector_db___ai_spark.operators.bm25 import (
        bm25_topk_batch,
        load_bm25_index,
        save_bm25_index,
    )

    docs = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(
        EDGE_QUERIES, "query_id int, terms array<string>").coalesce(1)
    path = str(tmp_path / "bm25")
    _, save_jobs = _jobs(spark, "bm25-save",
                         lambda: save_bm25_index(docs, path))
    idx, load_jobs = _jobs(spark, "bm25-load",
                           lambda: load_bm25_index(spark, path))
    top, construct_jobs = _jobs(
        spark, "bm25-construct",
        lambda: bm25_topk_batch(docs, queries, k=3, prebuilt=idx))
    assert (load_jobs, construct_jobs) == (0, 1)
    assert 1 <= save_jobs <= 7
    assert top.count() > 0


def test_load_refuses_incomplete_index(spark, tmp_path):
    """A missing, truncated or wrong-version manifest is refused, and
    so is a directory whose rewrite failed part-way (the old manifest
    is deleted before any part is rewritten)."""
    from python_vector_db___ai_spark.operators.bm25 import (
        BM25_INDEX_VERSION,
        _manifest,
        _write_text,
        load_bm25_index,
        save_bm25_index,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = tmp_path / "bm25"
    save_bm25_index(docs, str(path))
    manifest = path / "_MANIFEST.json"
    good = manifest.read_text()
    load_bm25_index(spark, str(path))

    # rewritten through the same Hadoop FileSystem, so its checksum
    # file stays consistent and only the content is wrong
    def rewrite(text: str) -> None:
        _write_text(_manifest(spark, str(path)), text)

    rewrite(good[: len(good) // 2])
    with pytest.raises(ValueError, match="not a complete BM25 index"):
        load_bm25_index(spark, str(path))
    rewrite(good.replace(f'"version": {BM25_INDEX_VERSION}',
                         '"version": 999'))
    with pytest.raises(ValueError, match="version 999"):
        load_bm25_index(spark, str(path))
    manifest.unlink()
    with pytest.raises(ValueError, match="not a complete BM25 index"):
        load_bm25_index(spark, str(path))

    rewrite(good)
    load_bm25_index(spark, str(path))
    broken = docs.withColumn("text", F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        save_bm25_index(broken, str(path))
    assert not manifest.exists()
    with pytest.raises(ValueError, match="not a complete BM25 index"):
        load_bm25_index(spark, str(path))
