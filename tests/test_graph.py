"""PageRank invariant and known-value tests."""

from __future__ import annotations

import pytest

from python_vector_db___ai_spark.operators.graph import (
    pagerank,
    shared_shingle_edges,
)


def test_pagerank_star_graph_known_values(spark):
    # star: 0 is the hub of 1..4; hub rank must dominate
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], ["i", "j"])
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    r = {row["doc_id"]: row["rank"] for row in
         pagerank(edges, nodes, iters=20, damping=0.85).collect()}
    # python replay of the exact variant (no dangling redistribution)
    pr = {i: 1 / 5 for i in range(5)}
    deg = {0: 4, 1: 1, 2: 1, 3: 1, 4: 1}
    adj = {0: [1, 2, 3, 4], 1: [0], 2: [0], 3: [0], 4: [0]}
    for _ in range(20):
        new = {}
        for v in range(5):
            m = sum(pr[u] / deg[u] for u in adj if v in adj[u])
            new[v] = 0.15 / 5 + 0.85 * m
        pr = new
    for v in range(5):
        assert r[v] == pytest.approx(pr[v], rel=1e-9)
    assert r[0] > r[1] == pytest.approx(r[2], rel=1e-12)


def test_pagerank_isolated_nodes_hold_teleport_floor(spark):
    edges = spark.createDataFrame([(0, 1)], ["i", "j"])
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    r = {row["doc_id"]: row["rank"] for row in
         pagerank(edges, nodes, iters=5, damping=0.85).collect()}
    assert r[2] == pytest.approx(0.15 / 4)
    assert r[3] == pytest.approx(r[2])
    assert r[0] == pytest.approx(r[1])
    assert r[0] > r[2]


def test_pagerank_keeps_only_last_round(spark):
    """Each round's checkpoint is released once the next one is
    materialized, and the edge list after the last round: a 7-round
    call leaves only the returned ranks persisted."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([(i, i + 1) for i in range(6)], ["i", "j"])
    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    before = set(sc._jsc.getPersistentRDDs().keys())
    ranks = pagerank(edges, nodes, iters=7).collect()
    assert len(set(sc._jsc.getPersistentRDDs().keys()) - before) == 1
    assert sorted(r["doc_id"] for r in ranks) == list(range(8))


def test_shared_shingle_edges_df_cap_blocks_hot_gram(spark):
    # 30 docs share one boilerplate 5-gram; only docs 0/1 truly overlap
    boiler = "the quick brown fox jumps"
    rows = [(i, boiler + f" filler{i} a b c d") for i in range(30)]
    rows[1] = (1, rows[0][1])  # exact dup of doc 0 -> >= 3 shared grams
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    edges = shared_shingle_edges(docs, n=5, min_common=3, max_df=20)
    got = {(r["i"], r["j"]) for r in edges.collect()}
    assert got == {(0, 1)}  # the hot gram never drove 30x30 pairs
