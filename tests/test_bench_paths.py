"""Regression guards for bench-path plan shapes: BM25 stays one plan
(no eager driver jobs while composing), and prebuilt BM25 indexes
score identically to the fresh path."""

from __future__ import annotations

from python_vector_db___ai_spark.operators.bm25 import bm25_scores
from python_vector_db___ai_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_bm25_compose_runs_no_jobs(spark):
    """Building the BM25 plan must not trigger Spark jobs (the old
    implementation collected n_docs/avgdl eagerly — two jobs per
    compose).  Execution happens only at the action."""
    docs = load_table(spark, SF_DIR, "documents")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    scored = bm25_scores(docs, ["fast", "key"])   # compose only
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert scored.count() >= 0                    # and it still executes


def test_bm25_empty_corpus_yields_empty(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_scores(empty, ["anything"]).count() == 0


def test_bm25_prebuilt_matches_fresh(spark):
    """The bench's dedup_scale sweep scores its 20-query batch against
    a cached (postings, lengths) index — results must be identical to
    the tokenize-inline path."""
    from python_vector_db___ai_spark.operators.bm25 import (
        bm25_topk_batch,
        doc_lengths,
        term_postings,
    )

    docs = load_table(spark, SF_DIR, "documents")
    qtable = spark.createDataFrame(
        [(0, ["the", "fast"]), (1, ["key", "value", "the"])],
        "query_id long, terms array<string>")
    fresh = bm25_topk_batch(docs, qtable, k=5).collect()
    pre = (term_postings(docs), doc_lengths(docs))
    built = bm25_topk_batch(docs, qtable, k=5, prebuilt=pre).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, built))
    assert len(fresh) > 0


def test_bm25_dl_index_matches_fresh(spark):
    """The dl-carrying inverted index (bm25_index) skips the lengths
    join at score time — results must be bit-identical to the fresh
    path, in both the batch and the single-query form."""
    from python_vector_db___ai_spark.operators.bm25 import (
        bm25_index,
        bm25_topk,
        bm25_topk_batch,
        doc_lengths,
    )

    docs = load_table(spark, SF_DIR, "documents")
    pre = (bm25_index(docs), doc_lengths(docs))
    assert "dl" in pre[0].columns

    qtable = spark.createDataFrame(
        [(0, ["the", "fast"]), (1, ["key", "value", "the"])],
        "query_id long, terms array<string>")
    fresh = bm25_topk_batch(docs, qtable, k=5).collect()
    built = bm25_topk_batch(docs, qtable, k=5, prebuilt=pre).collect()
    assert sorted(map(tuple, fresh)) == sorted(map(tuple, built))
    assert len(fresh) > 0

    fresh1 = bm25_topk(docs, ["the", "fast"], k=5).collect()
    built1 = bm25_topk(docs, ["the", "fast"], k=5, prebuilt=pre).collect()
    assert sorted(map(tuple, fresh1)) == sorted(map(tuple, built1))
    assert len(fresh1) > 0
