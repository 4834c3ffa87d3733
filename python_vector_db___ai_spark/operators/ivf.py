"""IVF (inverted-file) approximate nearest-neighbor search + recall
harness (SURVEY §2.9 X2/X5/X6/X7).

The reference's ``IndexIVFFlat`` (day_6/day6_complete.py:102-130:
KMeans quantizer, nlist clusters, search probes nprobe=10) maps to
Spark as a **table-layout choice, not an index structure**:

* centroids = per-cluster mean vectors — one posexplode + two hash
  aggregations (distributed; never collects vectors to the driver);
* at query time, score each query against the (tiny, broadcast)
  centroid table, keep the top ``nprobe`` clusters, then equi-join the
  corpus on ``cluster_id`` — when the corpus is written partitioned or
  bucketed by ``cluster_id``, Catalyst turns that join into partition
  pruning, so a 1000-executor scan reads only nprobe/nlist of the data;
* the exact scan (operators/search.knn_join) is the recall oracle
  (X6, day_6/day6_complete.py:249-263).

Cluster assignments come either from an existing column (the test
tables ship a ``label``) or from the trained coarse quantizer:
:func:`kmeans_centroids` (spherical k-means on a driver-side sample,
mirroring the FAISS quantizer training) + :func:`assign_clusters`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.inline import inline_table
from python_vector_db___ai_spark.functions.vector import DESCENDING_METRICS
from python_vector_db___ai_spark.operators.search import score_column


def build_centroids(corpus: DataFrame, cluster_col: str = "label",
                    vec_col: str = "embedding",
                    round_to: int | None = 6) -> DataFrame:
    """Per-cluster mean vector -> ``(cluster_col, centroid array<double>)``.

    ``round_to`` rounds each component so downstream probe scores are
    reproducible across engines and run-to-run partial-sum orderings.
    """
    pos = corpus.select(
        F.col(cluster_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"))
    cp = (pos.groupBy(cluster_col, "pos")
          .agg(F.avg("val").alias("c")))
    if round_to is not None:
        cp = cp.withColumn("c", F.round("c", round_to))
    return (cp.groupBy(cluster_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(F.col(cluster_col),
                    F.transform("pc", lambda s: s["c"]).alias("centroid")))


def probe_clusters(queries: DataFrame, centroids: DataFrame, nprobe: int = 3,
                   metric: str = "cosine", query_id: str = "query_id",
                   query_vec: str = "query_vec",
                   cluster_col: str = "label",
                   round_to: int | None = 6) -> DataFrame:
    """Top-``nprobe`` clusters per query (the IVF coarse quantizer step).
    Returns ``(query_id, query_vec, cluster_col)`` — tiny, broadcastable.

    MAP-ONLY since r14 (guide §2.4): the previous form crossJoined the
    broadcast centroids and ranked with a ``row_number`` window
    partitioned by ``query_id`` — an exchange + sort of the whole
    *queries* side, which at spill-assignment scale (the embedding
    near-dup pipeline probes the full corpus) is a corpus-sized
    shuffle that exists only to pick nprobe winners out of ~nlist
    scored candidates per row.  Folding the centroid table into ONE
    broadcast array row and taking the per-row top-``nprobe`` with
    ``array_sort`` + ``slice`` removes that exchange outright.  The
    score is the same column-expression tree evaluated per array
    element (bit-identical values), the tie-break is the same
    (rounded score, then ``cluster_col`` ascending), and null scores
    order exactly as the window's default null ordering did
    (descending → nulls last, ascending → nulls first).
    """
    desc = metric in DESCENDING_METRICS

    def _scored(c):
        s, _ = score_column(metric, F.col(query_vec), c["c"])
        if round_to is not None:
            s = F.round(s, round_to)
        return F.struct(s.alias("s"), c["l"].alias("l"))

    def _cmp(a, b):
        tie = (F.when(a["l"] < b["l"], F.lit(-1))
               .when(a["l"] > b["l"], F.lit(1))
               .otherwise(F.lit(0)))
        better = a["s"] > b["s"] if desc else a["s"] < b["s"]
        worse = a["s"] < b["s"] if desc else a["s"] > b["s"]
        # window parity: desc() = nulls last, asc() = nulls first
        a_null, b_null = a["s"].isNull(), b["s"].isNull()
        return (F.when(a_null & b_null, tie)
                .when(a_null, F.lit(1) if desc else F.lit(-1))
                .when(b_null, F.lit(-1) if desc else F.lit(1))
                .when(better, F.lit(-1))
                .when(worse, F.lit(1))
                .otherwise(tie))

    cents_row = centroids.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col(cluster_col).alias("l"),
            F.col("centroid").alias("c")))).alias("_cents"))
    top = F.slice(F.array_sort(F.transform(F.col("_cents"), _scored), _cmp),
                  1, nprobe)
    return (queries.crossJoin(F.broadcast(cents_row))
            .select(F.col(query_id), F.col(query_vec),
                    F.explode(top).alias("_t"))
            .select(query_id, query_vec,
                    F.col("_t")["l"].alias(cluster_col)))


def ivf_search(queries: DataFrame, corpus: DataFrame,
               centroids: DataFrame | None = None, nprobe: int = 3,
               k: int = 10, metric: str = "cosine",
               query_id: str = "query_id", query_vec: str = "query_vec",
               corpus_id: str = "id", corpus_vec: str = "embedding",
               cluster_col: str = "label",
               round_to: int | None = 6,
               dedup_candidates: bool = False) -> DataFrame:
    """IVF search: probe -> prune (equi-join on cluster) -> exact score
    within the probed clusters -> per-query top-k.

    Scans ~``nprobe/nlist`` of the corpus; with the corpus partitioned
    by ``cluster_col`` the pruning happens at the scan.  Each Arrow
    batch of the pruned scan is scored against its cluster's probing
    queries with one NumPy matmul, keeping local top-k before the final
    merge (same trick as ``search.knn_join_blas``, identical results).

    ``dedup_candidates=True`` drops duplicate (query, candidate) pairs
    before ranking — required when the corpus was spill-assigned to
    multiple clusters (:func:`assign_clusters` with ``spill > 1``), so a
    vector living in two probed clusters cannot occupy two rank slots.
    """
    if centroids is None:
        centroids = build_centroids(corpus, cluster_col, corpus_vec, round_to)
    desc_order = metric in ("cosine", "inner_product", "euclidean_similarity")
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc() if desc_order else F.col("score").asc(),
        F.col(corpus_id).asc())

    # The probe table is driver-small by contract (it gets collected
    # either way); for the cosine quantizer compute it directly on the
    # driver — same rounding + (score desc, cluster asc) tie-break as
    # probe_clusters — turning the probe crossJoin + window + collect
    # (two Spark jobs) into one numpy matmul, so the whole search is a
    # single job.
    if metric == "cosine":
        probes = _probe_rows_driver(queries, centroids, nprobe, query_id,
                                    query_vec, cluster_col, round_to)
    else:
        probes = probe_clusters(queries, centroids, nprobe, metric,
                                query_id, query_vec, cluster_col, round_to)
    scored = _pruned_matmul_topk(
        probes, corpus, k, metric, query_id, query_vec,
        corpus_id, corpus_vec, cluster_col, round_to or 6, desc_order)
    if dedup_candidates:
        # Scores of duplicates are identical (same rounded kernel), so
        # any one row per (query, candidate) is the right survivor.
        scored = scored.dropDuplicates([query_id, corpus_id])
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "score", "rank"))


def _probe_rows_driver(queries: DataFrame, centroids: DataFrame,
                       nprobe: int, query_id: str, query_vec: str,
                       cluster_col: str,
                       round_to: int | None) -> list[dict]:
    """Driver-side cosine probe ranking — same convention as
    probe_clusters and every BLAS kernel in this repo: round-to-6
    scores ranked with a stable (score desc, cluster asc) order via
    stable argsort over id-sorted centroids, computed as one numpy
    matmul instead of a crossJoin + window Spark job.  Both inputs
    are small by contract (guarded).  (As with the other kernels,
    numpy and JVM summation/rounding agree at 6 decimals in practice;
    a value landing exactly on a rounding boundary is the shared
    theoretical caveat, not specific to this path.)"""
    import numpy as np

    from python_vector_db___ai_spark.operators._guards import collect_small

    qrows = collect_small(
        queries.select(query_id, query_vec), "ivf_search queries",
        hint="Query batches are small by contract; batch the queries.")
    crows = sorted(collect_small(
        centroids, "ivf_search centroids",
        hint="nlist must stay driver-small."), key=lambda r: r[cluster_col])
    if not qrows or not crows:
        return []
    labs = [r[cluster_col] for r in crows]
    C = np.array([r["centroid"] for r in crows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    Q = np.array([r[query_vec] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        S = (Q @ C.T) / np.outer(qn, cn)
    S[(np.outer(qn <= 1e-12, np.ones(len(C), bool)))
      | (np.outer(np.ones(len(Q), bool), cn <= 1e-12))] = 0.0
    if round_to is not None:
        S = np.round(S, round_to)
    order = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
    return [
        {query_id: qrows[qi][query_id], query_vec: qrows[qi][query_vec],
         cluster_col: labs[ci]}
        for qi in range(len(qrows)) for ci in order[qi]
    ]


def _pruned_matmul_topk(probes, corpus: DataFrame, k: int,
                        metric: str, query_id: str, query_vec: str,
                        corpus_id: str, corpus_vec: str, cluster_col: str,
                        round_to: int, desc: bool) -> DataFrame:
    """The scale-shaped IVF kernel: never materializes (query, candidate)
    pair rows.  The probe table (n_queries x nprobe — tiny; a DataFrame
    to collect or pre-collected rows from :func:`_probe_rows_driver`)
    is broadcast; the corpus scan is filtered to the union of probed
    clusters (partition pruning on a cluster-partitioned table); each
    Arrow batch groups rows by cluster and runs one BLAS matmul against
    just that cluster's probing queries, emitting local top-k per query.
    Arrow transfer = pruned corpus rows, once.
    """
    import numpy as np
    import pandas as pd

    if metric not in ("cosine", "l2", "inner_product", "neg_inner_product",
                      "euclidean_similarity"):
        raise ValueError(f"metric {metric!r} not supported by the pruned "
                         "BLAS kernel")

    from python_vector_db___ai_spark.operators._guards import collect_small

    if isinstance(probes, DataFrame):
        probe_rows = collect_small(
            probes, "ivf_search probe table",
            hint="nprobe x n_queries must stay driver-small; batch the "
                 "queries.")
    else:
        probe_rows = probes
    by_label: dict = {}
    for r in probe_rows:
        by_label.setdefault(r[cluster_col], []).append(
            (r[query_id], np.array(r[query_vec], dtype=np.float64)))
    qmap = {
        lab: (np.array([q for q, _ in rows], dtype=np.int64),
              np.stack([v for _, v in rows]))
        for lab, rows in by_label.items()
    }
    labels = sorted(by_label)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(qmap)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for lab, sub in pdf.groupby(cluster_col, sort=False):
                entry = bc.value.get(lab)
                if entry is None:
                    continue
                q_ids, Q = entry
                C = np.array(sub[corpus_vec].tolist(), dtype=np.float64)
                c_ids = sub[corpus_id].to_numpy(dtype=np.int64)
                if metric == "cosine":
                    qn = np.linalg.norm(Q, axis=1)
                    cn = np.linalg.norm(C, axis=1)
                    denom = np.outer(qn, cn)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        S = (Q @ C.T) / denom
                    S[(np.outer(qn <= 1e-12, np.ones(len(C), bool)))
                      | (np.outer(np.ones(len(Q), bool), cn <= 1e-12))] = 0.0
                elif metric in ("l2", "euclidean_similarity"):
                    sq = (np.sum(Q * Q, axis=1)[:, None]
                          + np.sum(C * C, axis=1)[None, :] - 2.0 * (Q @ C.T))
                    S = np.sqrt(np.clip(sq, 0.0, None))
                    if metric == "euclidean_similarity":
                        S = 1.0 / (1.0 + S)
                elif metric == "neg_inner_product":
                    S = -(Q @ C.T)
                else:           # inner_product (validated above)
                    S = Q @ C.T
                S = np.round(S, round_to)
                kk = min(k, len(c_ids))
                for qi in range(len(q_ids)):
                    keys = -S[qi] if desc else S[qi]
                    order = np.lexsort((c_ids, keys))[:kk]
                    out.append(pd.DataFrame({
                        query_id: np.full(len(order), q_ids[qi]),
                        corpus_id: c_ids[order],
                        "score": S[qi][order]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    pruned = (corpus.filter(F.col(cluster_col).isin(labels))
              .select(cluster_col, corpus_id, corpus_vec))
    return pruned.mapInPandas(
        kernel, schema=f"{query_id} long, {corpus_id} long, score double")


def _score_pairs_blas(pairs: DataFrame, k: int, metric: str, query_id: str,
                      query_vec: str, corpus_id: str, corpus_vec: str,
                      round_to: int, desc: bool) -> DataFrame:
    """Vectorized (query, candidate) pair scoring + per-batch local
    top-k — the Arrow-side half of the pruned IVF scan."""
    import numpy as np

    if metric not in ("cosine", "l2", "inner_product", "neg_inner_product",
                      "euclidean_similarity"):
        raise ValueError(f"metric {metric!r} not supported by the BLAS path")

    def op(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.array(pdf[query_vec].tolist(), dtype=np.float64)
            C = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
            dot = np.einsum("ij,ij->i", Q, C)
            if metric == "cosine":
                qn = np.linalg.norm(Q, axis=1)
                cn = np.linalg.norm(C, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = dot / (qn * cn)
                s[(qn <= 1e-12) | (cn <= 1e-12)] = 0.0
            elif metric in ("l2", "euclidean_similarity"):
                s = np.sqrt(np.clip(
                    np.einsum("ij,ij->i", Q, Q)
                    + np.einsum("ij,ij->i", C, C) - 2.0 * dot, 0.0, None))
                if metric == "euclidean_similarity":
                    s = 1.0 / (1.0 + s)
            elif metric == "neg_inner_product":
                s = -dot
            else:
                s = dot
            out = pdf[[query_id, corpus_id]].copy()
            out["score"] = np.round(s, round_to)
            out = out.sort_values(
                [query_id, "score", corpus_id],
                ascending=[True, not desc, True])
            yield out.groupby(query_id, sort=False).head(k)

    return pairs.mapInPandas(
        op, schema=f"{query_id} long, {corpus_id} long, score double")


def recall_against_exact(approx: DataFrame, exact: DataFrame,
                         query_id: str = "query_id",
                         corpus_id: str = "id") -> DataFrame:
    """Recall@k of an approximate result vs the exact scan (X6) —
    ``|approx ∩ exact| / |exact|`` per query via a semi-join (J2)."""
    hits = (approx.select(query_id, corpus_id)
            .join(exact.select(query_id, corpus_id), [query_id, corpus_id],
                  "left_semi")
            .groupBy(query_id).agg(F.count("*").cast("long").alias("n_hits")))
    totals = (exact.groupBy(query_id)
              .agg(F.count("*").cast("long").alias("n_exact")))
    return (totals.join(hits, query_id, "left")
            .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
            .select(query_id, "n_exact", "n_hits",
                    F.round(F.col("n_hits") / F.col("n_exact"), 6)
                    .alias("recall")))


def _lloyd(X, n_codes: int, iters: int, seed: int):
    """Seeded, fixed-iteration Lloyd's k-means (numpy, deterministic) —
    the one quantizer trainer of the package: the IVF coarse quantizer
    (:func:`kmeans_centroids`) and the PQ codebooks (``pq.pq_train``).
    Returns (n_codes, dim) centroids.  The distance step is
    ``||x||^2 + ||c||^2 - 2 X C^T`` — an n x n_codes matrix, never the
    n x n_codes x dim broadcast.  Empty clusters re-seed from the
    farthest points — the standard FAISS-style fixup, deterministic
    because distances and indices are."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(X)
    init = rng.choice(n, size=min(n_codes, n), replace=False)
    C = X[np.sort(init)].copy()
    if len(C) < n_codes:                      # tiny sample: pad with jitter
        pad = X[rng.integers(0, n, n_codes - len(C))] + 1e-6
        C = np.vstack([C, pad])
    xx = np.einsum("ij,ij->i", X, X)
    for _ in range(iters):
        d = (xx[:, None] + np.einsum("ij,ij->i", C, C)[None, :]
             - 2.0 * (X @ C.T))
        assign = d.argmin(1)
        empties = []
        for c in range(n_codes):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(0)
            else:
                empties.append(c)
        if empties:
            # each empty cluster re-seeds from a DISTINCT far point
            # (farthest-first order) — seeding them all from the same
            # argmax would collapse them into permanently-dead
            # duplicate codes
            far_order = np.argsort(-d.min(1), kind="stable")
            for e, c in enumerate(empties):
                C[c] = X[far_order[e % len(far_order)]]
    return C


def _vector_matrix(vecs, what: str):
    """An Arrow list column of equal-length numeric vectors -> a
    zero-copy ``(n, dim)`` numpy matrix of its storage type (``n > 0``).
    ``flatten()`` honours a sliced array's offsets (``.values`` does
    not).  A null or ragged vector raises ``ValueError``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    n = len(vecs)
    flat = vecs.flatten()
    if vecs.null_count or flat.null_count:
        raise ValueError(f"{what}: null vector or vector element")
    lens = pc.list_value_length(vecs)
    dim = pc.min(lens).as_py()
    if pc.max(lens).as_py() != dim:
        raise ValueError(f"{what}: ragged vectors (lengths differ)")
    return flat.to_numpy(zero_copy_only=False).reshape(n, dim)


def kmeans_centroids(corpus: DataFrame, nlist: int = 10, seed: int = 42,
                     vec_col: str = "embedding",
                     cluster_col: str = "cluster_id",
                     max_iter: int = 8) -> DataFrame:
    """Train the IVF coarse quantizer and return its centroids as a
    ``(cluster_col, centroid array<double>)`` frame — the same shape
    :func:`build_centroids` produces, so :func:`probe_clusters` /
    :func:`ivf_search` work with either quantizer.

    Spherical k-means on the driver: :func:`_lloyd` (``max_iter``
    iterations) over the L2-normalized vectors of a sample of
    ``min(n, 256 * nlist, SMALL_SIDE_CAP)`` rows — FAISS's
    train-on-sample rule, capped like every driver-small side.  Lloyd
    over unit vectors optimizes the cosine objective that
    :func:`assign_clusters` and the probe rank by.  The sample is a
    seeded Bernoulli ``sample`` cut by ``limit``, collected as Arrow —
    identical for the same input files, partitioning and ``seed``.
    Only the count and the sample scan run Spark jobs.
    """
    import numpy as np

    from python_vector_db___ai_spark.operators._guards import SMALL_SIDE_CAP
    from python_vector_db___ai_spark.operators.pq import _maybe_normalize

    vecs = corpus.select(vec_col)
    n = vecs.count()
    m = min(n, 256 * nlist, SMALL_SIDE_CAP)
    if m < n:
        vecs = vecs.sample(fraction=m / n, seed=seed)
    sample = vecs.limit(m).toArrow().column(0)
    if len(sample) == 0:
        raise ValueError("kmeans_centroids: empty corpus")
    X = _maybe_normalize(_vector_matrix(sample, "kmeans_centroids")
                         .astype(np.float64, copy=False), True)
    C = _lloyd(X, nlist, max_iter, seed)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(C)]
    # VALUES-inlined LocalRelation: the centroids are deterministic
    # (fixed seed over the same input), so the inlined rows
    # canonicalize stably across rebuilds and downstream cached
    # frames (assignments, search results) stay matchable — an
    # RDD-backed literal here invalidated every dependent cache on
    # each rebuild (see functions/inline.py).
    return inline_table(corpus.sparkSession, rows,
                        f"{cluster_col} int, centroid array<double>")


def assign_clusters(corpus: DataFrame, centroids: DataFrame,
                    spill: int = 1, metric: str = "cosine",
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    cluster_col: str = "cluster_id",
                    round_to: int | None = 6) -> DataFrame:
    """Assign each corpus vector to its ``spill`` nearest centroids —
    IVF list assignment with replication.  ``spill > 1`` is the
    standard boundary-pair recall fix: storage grows ``spill``×, and
    queries keep finding near neighbors that straddle a cluster edge.
    Returns ``(id_col, vec_col, cluster_col)`` with ``spill`` rows per
    vector; write it partitioned by ``cluster_col`` for pruning.

    Each Arrow batch is read as one ``(n, dim)`` matrix, scored against
    the broadcast centroid matrix in one matmul, and emitted as flat
    Arrow arrays — no per-row Python object on either side.  A null or
    ragged vector raises ``ValueError`` in the task.
    """
    import numpy as np
    import pyarrow as pa

    if metric != "cosine":
        raise ValueError("assign_clusters implements cosine only")
    from python_vector_db___ai_spark.operators._guards import collect_small

    crows = sorted(collect_small(
        centroids, "assign_clusters centroids",
        hint="nlist must stay driver-small; a quantizer this large "
             "should be an IVF-of-IVF (coarse quantize the centroids)."),
        key=lambda r: r[cluster_col])
    cids = np.array([r[cluster_col] for r in crows], dtype=np.int32)
    C = np.array([r["centroid"] for r in crows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((cids, C, cn))

    def op(batches):
        cids_, C_, cn_ = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            V = _vector_matrix(rb.column(1), "assign_clusters").astype(
                np.float64, copy=False)
            vn = np.linalg.norm(V, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (V @ C_.T) / np.outer(vn, cn_)
            S[(np.outer(vn <= 1e-12, np.ones(len(C_), bool)))
              | (np.outer(np.ones(len(V), bool), cn_ <= 1e-12))] = 0.0
            if round_to is not None:
                S = np.round(S, round_to)
            # stable argsort on -S: ties resolve to the lower cluster id
            # because C_ rows are sorted by id — same (score desc,
            # cluster asc) tie-break as probe_clusters.
            order = np.argsort(-S, axis=1, kind="stable")[:, :spill]
            m = order.shape[1]
            dim = V.shape[1]
            rep = np.repeat(np.arange(len(V)), m)
            vec_out = pa.ListArray.from_arrays(
                pa.array(np.arange(len(rep) + 1, dtype=np.int32) * dim),
                pa.array(V[rep].ravel()))
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).take(pa.array(rep)).cast(pa.int64()),
                 vec_out, pa.array(cids_[order].ravel())],
                names=[id_col, vec_col, cluster_col])

    return corpus.select(id_col, vec_col).mapInArrow(
        op, schema=f"{id_col} long, {vec_col} array<double>, "
                   f"{cluster_col} int")


def kmeans_silhouette_sweep(corpus: DataFrame, k_values=range(2, 8),
                            seed: int = 42,
                            vec_col: str = "embedding") -> DataFrame:
    """X7: KMeans k sweep scored by silhouette
    (day_5/day5_complete.py:165-207 KMeans + silhouette_score).

    The sweep is MLlib-internal (no SQL oracle), so the result carries
    its own invariants as checked columns: ``silhouette_in_range``
    (silhouette ∈ [-1, 1] by definition) and ``inertia_non_increasing``
    (more clusters should lower the fitted within-cluster SSE; a 5%
    tolerance absorbs k-means++ local optima — independent inits per k
    give no strict ordering guarantee, so this is a seeded-sweep
    diagnostic, not a mathematical invariant).  Both hold uniformly on
    the shipped data — pytest asserts them, and any downstream reader
    can re-assert without re-fitting.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.functions import array_to_vector

    feats = corpus.withColumn("_features",
                              array_to_vector(F.col(vec_col).cast("array<double>"))) \
                  .cache()
    rows = []
    evaluator = ClusteringEvaluator(featuresCol="_features",
                                    predictionCol="_p", metricName="silhouette")
    prev_inertia = None
    for k in k_values:
        model = KMeans(k=k, seed=seed, featuresCol="_features",
                       predictionCol="_p").fit(feats)
        pred = model.transform(feats)
        sil = float(evaluator.evaluate(pred))
        inertia = float(model.summary.trainingCost)
        rows.append((int(k), sil, inertia,
                     -1.0 <= sil <= 1.0,
                     prev_inertia is None or inertia <= prev_inertia * 1.05))
        prev_inertia = inertia
    feats.unpersist()
    spark = corpus.sparkSession
    return spark.createDataFrame(
        rows, "k int, silhouette double, inertia double, "
              "silhouette_in_range boolean, inertia_non_increasing boolean")
