"""Distributed HNSW approximate nearest neighbors (SURVEY §2.9 X3/X4).

The reference builds one in-process HNSW graph
(day_6/day6_complete.py:132-153 build, 184-237 search).  A single
navigable-small-world graph has no 100-TB equivalent — the graph is a
pointer structure — so the Spark-native shape is **partition-local
graphs + global merge**, the same pattern hnswlib-on-Spark deployments
use:

* the corpus is hash-partitioned on the id key; each partition builds
  its own HNSW graph (numpy, in-memory, ephemeral — a real deployment
  persists the per-partition graphs as an index artifact);
* the (small-by-contract) query batch is broadcast; every partition
  answers each query from its local graph with an ``ef_search`` beam;
* per-partition top-``k`` candidates shuffle (``n_queries × k`` rows
  per partition — never the vectors), and a per-query window keeps the
  global top-``k``.

Recall behaves like single-node HNSW on each shard: a neighbor is
missed only if the shard that OWNS it misses it locally, so the merged
recall is >= the per-shard recall.  Scale: adding executors adds
shards of bounded size; build is embarrassingly parallel and search
cost per query is ``P × ef`` distance evaluations for ``P``
partitions.

Implementation is pure numpy (hnswlib is not in the container) and
deterministic: node levels derive from md5 of the id (not an RNG),
insertion order is ascending id, and all candidate ties break on id —
two runs over the same partitioning produce identical rows, which is
what the pytest determinism check asserts.
"""

from __future__ import annotations

import hashlib
import heapq
import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators._kernels import (
    id_array,
    local_topk,
    small_side,
    vector_matrix,
)
from python_vector_db___ai_spark.operators._ranking import topk_window

_MAX_LEVEL = 8


def _node_level(node_id: int, m_l: float) -> int:
    """Deterministic HNSW level: md5-derived uniform -> geometric
    (``floor(-ln(u) * mL)``), capped.  Replaces the paper's RNG so the
    graph — and therefore the search result — is reproducible."""
    h = int(hashlib.md5(f"hnsw:{node_id}".encode()).hexdigest()[:16], 16)
    u = (h + 1) / float(1 << 64)          # (0, 1]
    return min(int(-math.log(u) * m_l), _MAX_LEVEL)


def _search_layer(V, nbrs, entry_points, q, ef):
    """Beam search one layer: max-sim beam of width ``ef`` starting
    from ``entry_points``.  Returns [(sim, node)] sorted best-first
    (ties -> lower id first).

    Round-7 measurement: batching each node expansion's distance
    evaluations into one ``V[new] @ q`` gemv is 1.7x over per-neighbor
    Python dots at 20k nodes/ef=64 (and ~16% off the 400k build);
    gemv vs per-row ddot accumulation differs only in the last float
    bit (max |Δ| 2.2e-16 over 200 queries, top-10 ids identical), and
    every consumer — build, upsert replay, persisted search — shares
    this one implementation, so bit-level self-consistency holds."""
    visited = set(entry_points)
    # best: min-heap on (sim, -node) so the worst survivor pops first
    # and on equal sim the HIGHER id is evicted before the lower one.
    best = [(float(V[e] @ q), -e) for e in entry_points]
    heapq.heapify(best)
    # cand: max-heap via negation; on equal sim the lower id expands
    # first.  best already stores (sim, -node), so only the sim flips.
    cand = [(-s, n) for s, n in best]
    heapq.heapify(cand)
    while cand:
        neg_s, neg_n = heapq.heappop(cand)
        if -neg_s < best[0][0] and len(best) >= ef:
            break
        # Batch the neighbor-list distance evaluations into one gemv
        # (V[new] @ q) instead of one Python-level dot per candidate —
        # the push/evict walk below runs in the exact same list order
        # with the exact same tie-breaks, so the beam is unchanged.
        new = [nb for nb in nbrs[-neg_n] if nb not in visited]
        if not new:
            continue
        visited.update(new)
        # .tolist() converts the gemv result to Python floats in one C
        # call (bit-identical to per-element float()).
        sims = (V[new] @ q).tolist()
        for nb, s in zip(new, sims):
            if len(best) < ef or s > best[0][0] or (s == best[0][0]
                                                   and -nb > best[0][1]):
                heapq.heappush(best, (s, -nb))
                heapq.heappush(cand, (-s, -nb))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted(((s, -n) for s, n in best), key=lambda t: (-t[0], t[1]))


def _select_neighbors(V, found, M):
    """The HNSW paper's diversity heuristic (Algorithm 4): walking the
    candidates best-first (``found`` carries each candidate's
    similarity to the node being linked), keep one only if it is
    closer to that node than to every already-kept neighbor.  On
    clustered data (exactly the near-duplicate corpora a dedup
    pipeline feeds this) plain "M closest" links a node only into its
    own clique and the graph disconnects; the heuristic forces edges
    that bridge clusters.  Skipped candidates backfill if fewer than
    ``M`` survive.

    Round-8 measurement: ONE ``V[nodes] @ V[nodes].T`` gemm up front
    replaces the per-candidate ``V[sel] @ V[node]`` gemv (up to
    ``ef`` gemvs per call, ~890k calls per 12.5k-node partition
    build); the greedy walk then reads precomputed entries.  1.9x on
    the clustered bench corpus (where overflow re-selects are dense),
    and the produced graph is IDENTICAL on both the random and the
    clustered 5k test corpora — gemm-vs-gemv last-bit drift did not
    flip a single ``<=`` comparison; as with the r7 gemv batching,
    every consumer (build, upsert replay, persisted search) shares
    this one implementation, so bit-level self-consistency holds
    regardless."""
    if not found:
        return []
    nodes = [n for _, n in found]
    G = V[nodes] @ V[nodes].T
    pos = {n: i for i, n in enumerate(nodes)}
    sel: list[int] = []
    seli: list[int] = []
    for s, node in found:
        if len(sel) >= M:
            break
        gi = pos[node]
        keep = True
        for kj in seli:
            if G[kj, gi] > s:
                keep = False
                break
        if keep:
            sel.append(node)
            seli.append(gi)
    if len(sel) < M:
        chosen = set(sel)
        for _, node in found:
            if len(sel) >= M:
                break
            if node not in chosen:
                sel.append(node)
    return sel


def _insert_node(V, nbrs, entry, top, i, li, M, ef_construction):
    """Insert node ``i`` (level ``li``) into an existing multi-layer
    NSW whose layer lists already have a slot for ``i``.  Mutates
    ``nbrs`` in place; returns the (possibly promoted) (entry, top).
    This is the loop body of ``_build_graph``, factored out so the
    persisted-index upsert path (``index_store.hnsw_upsert``) replays
    EXACTLY the build-time insertion — appending nodes in the same
    order a fresh build would visit them reproduces the fresh graph
    bit-for-bit."""
    max_m0 = 2 * M
    ep = [entry]
    for layer in range(top, li, -1):
        ep = [_search_layer(V, nbrs[layer], ep, V[i], 1)[0][1]]
    for layer in range(min(li, top), -1, -1):
        cap = max_m0 if layer == 0 else M
        found = _search_layer(V, nbrs[layer], ep, V[i],
                              ef_construction)
        sel = _select_neighbors(V, found, M)
        nbrs[layer][i] = sel
        for s in sel:
            lst = nbrs[layer][s]
            lst.append(i)
            if len(lst) > cap:
                # re-select with the same diversity heuristic
                # (ties -> lower id via the sort key); one gemv for
                # the overfull list's similarities
                ranked = sorted(
                    zip((V[lst] @ V[s]).tolist(), lst),
                    key=lambda t: (-t[0], t[1]))
                del lst[:]
                lst.extend(_select_neighbors(V, ranked, cap))
        ep = [found[0][1]]
    if li > top:
        entry, top = i, li
    return entry, top


def _build_graph(V, M, ef_construction, m_l):
    """Insert nodes 0..n-1 (ascending == ascending id) into a
    multi-layer NSW.  Returns (levels' neighbor lists, entry point,
    top level)."""
    n = len(V)
    levels = [_node_level(i, m_l) for i in range(n)]
    nbrs = [[[] for _ in range(n)] for _ in range(max(levels) + 1)]
    entry, top = 0, levels[0]
    for i in range(1, n):
        entry, top = _insert_node(V, nbrs, entry, top, i, levels[i],
                                  M, ef_construction)
    return nbrs, entry, top


def _unit_rows(V):
    """Rows scaled to unit norm; (near-)zero rows pass through."""
    n = np.linalg.norm(V, axis=1)
    return V / np.where(n > 1e-12, n, 1.0)[:, None]


def _graph_topk(V, ids, nbrs, entry, top, Q, q_ids, k, ef_search,
                round_to, names):
    """Answer every query row of ``Q`` from one partition graph — the
    layered beam walk, then ``local_topk`` over the beam — as one
    RecordBatch ``names``.  Scores are rounded BEFORE the local
    k-truncation and ties break on (rounded score DESC, id ASC), the
    ordering the global merge and the DuckDB oracles apply: cutting on
    raw floats can keep the wrong member of a rounds-equal tie at the
    k boundary.  Shared by ``hnsw_knn`` and the persisted-index
    ``index_store.hnsw_search``."""
    if len(V) == 1:
        return local_topk(np.round(Q @ V[0], round_to)[:, None], ids,
                          q_ids, k, True, names)
    rbs = []
    for qi in range(len(Q)):
        q = Q[qi]
        ep = [entry]
        for layer in range(top, 0, -1):
            ep = [_search_layer(V, nbrs[layer], ep, q, 1)[0][1]]
        sims, nodes = zip(*_search_layer(V, nbrs[0], ep, q,
                                         max(ef_search, k)))
        rbs.append(local_topk(np.round([sims], round_to),
                              ids[list(nodes)], q_ids[qi:qi + 1], k, True,
                              names))
    return pa.RecordBatch.from_arrays(
        [pa.concat_arrays([rb.column(i) for rb in rbs]) for i in range(3)],
        names=list(names))


def hnsw_knn(queries: DataFrame, corpus: DataFrame, k: int = 10,
             M: int = 8, ef_construction: int = 64, ef_search: int = 64,
             metric: str = "cosine",
             query_id: str = "query_id", query_vec: str = "query_vec",
             corpus_id: str = "vec_id", corpus_vec: str = "embedding",
             n_partitions: int | None = None,
             round_to: int = 6) -> DataFrame:
    """Batch k-NN via partition-local HNSW graphs + global merge.

    Returns ``(query_id, corpus_id, score, rank)`` — the same contract
    as ``knn_join_blas`` / ``ivf_search`` so
    ``recall_against_exact`` composes directly.
    """
    if metric not in ("cosine", "dot"):
        raise ValueError(f"unsupported metric {metric!r}")
    q_ids, Q = small_side(
        queries, query_id, query_vec, "hnsw_knn queries",
        hint="The query side is small by contract; batch it if larger.")
    spark = corpus.sparkSession
    if not len(q_ids):
        return spark.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, score double, "
                "rank long")
    if metric == "cosine":
        Q = _unit_rows(Q)
    bc = spark.sparkContext.broadcast((q_ids, Q))
    m_l = 1.0 / math.log(M)

    part = corpus.select(corpus_id, corpus_vec)
    if n_partitions:
        part = part.repartition(n_partitions, F.col(corpus_id))

    def kernel(batches):
        rbs = [rb for rb in batches if rb.num_rows]
        if not rbs:
            return
        t = pa.Table.from_batches(rbs)
        ids = id_array(t.column(0))
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = vector_matrix(t.column(1), "hnsw_knn")[order]
        if metric == "cosine":
            V = _unit_rows(V)
        nbrs, entry, top = (_build_graph(V, M, ef_construction, m_l)
                            if len(V) > 1 else (None, 0, 0))
        q_ids_, Q_ = bc.value
        yield _graph_topk(V, ids, nbrs, entry, top, Q_, q_ids_, k,
                          ef_search, round_to, (query_id, corpus_id, "score"))

    local = part.mapInArrow(
        kernel, schema=f"{query_id} long, {corpus_id} long, score double")
    return topk_window(local, k, query_id, corpus_id, score_col="score")
