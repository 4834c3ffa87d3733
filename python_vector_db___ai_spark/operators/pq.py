"""Product quantization (PQ) — the memory tier of the ANN family
(SURVEY §2.9; the FAISS ``IndexIVFPQ`` analog of the reference's
day-6 index zoo, re-expressed Spark-first).

At 100 TB the corpus cannot hold full-precision vectors in executor
memory: a 64-dim float64 row is 512 bytes, its 8-subspace/256-code PQ
code is 8 bytes — 64× compression.  The pieces:

* :func:`pq_train` — deterministic Lloyd's k-means per subspace on a
  driver-side sample (guarded; seeded numpy, fixed iterations — the
  FAISS train-on-sample pattern, and deterministic so every test and
  engine reproduces the codebooks bit-for-bit).  The trainer is
  ``ivf._lloyd``, the same one that trains the IVF coarse quantizer.
* :func:`pq_encode` — one Arrow pass: per subspace, argmin distance to
  the (broadcast) codebook → all m byte codes packed into one
  ``bigint`` column (flat fixed-width Arrow transfer).
* :func:`pq_reconstruction_error` — per-row L2 error of the decoded
  approximation; the quantization-quality audit.
* :func:`pq_adc_search` — asymmetric distance computation: each query
  builds an ``m × n_codes`` lookup table of squared subvector
  distances once, each Arrow batch scores its rows with numpy gathers
  (no decode, no full vectors), keeps local top-k, and a final window
  merges — the same bounded-shuffle shape as ``knn_join_blas``.

Codes travel instead of vectors, so the scan reads ``m`` bytes per row
regardless of dimension.  Like the binary sketch, PQ is an approximate
tier: measure recall with ``ivf.recall_against_exact``, re-rank the
top candidates with full vectors when the table keeps them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators._kernels import (
    descending,
    id_array,
    local_topk,
    small_side,
    vector_matrix,
)
from python_vector_db___ai_spark.operators._ranking import topk_window
from python_vector_db___ai_spark.operators.ivf import (
    _lloyd,
    _probe_rows_driver,
    _score_pairs_blas,
)


def _maybe_normalize(V, normalize: bool):
    if not normalize:
        return V
    n = np.linalg.norm(V, axis=1, keepdims=True)
    return np.divide(V, n, out=np.zeros_like(V), where=n > 1e-12)


def pq_train(corpus: DataFrame, m: int = 8, n_codes: int = 256,
             iters: int = 10, seed: int = 42, sample_rows: int = 4096,
             vec_col: str = "embedding", id_col: str = "vec_id",
             normalize: bool = False):
    """Train per-subspace codebooks on a deterministic corpus sample.
    Returns ``(m, sub_dim, codebooks, normalize)`` with codebooks
    shaped ``(m, n_codes, sub_dim)``.

    ``normalize=True`` l2-normalizes vectors inside the numpy kernels
    (train/encode/search all honor the flag), making ADC-L2 ordering
    equal cosine ordering — WITHOUT a Spark-side normalization pass,
    which would be a per-row interpreted higher-order-function walk
    over the whole corpus."""
    _, X = small_side(corpus.orderBy(id_col).limit(sample_rows), id_col,
                      vec_col, "pq_train sample")
    X = _maybe_normalize(X, normalize)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books = np.stack([
        _lloyd(X[:, j * sub:(j + 1) * sub], n_codes, iters, seed + j)
        for j in range(m)
    ])
    return m, sub, books, normalize


def _unpack_codes(packed, m: int):
    """(rows,) int64 -> (rows, m) int64 byte codes."""
    return (packed[:, None] >> (8 * np.arange(m))[None, :]) & 0xFF


def _adc_lut(books, Q):
    """LUT[q, j, c] = squared L2 distance of query q's j-th subvector
    to codebook j's centroid c — the per-query ADC tables (shared by
    the flat and IVF-pruned search paths)."""
    mm, n_codes, sub = books.shape
    lut = np.empty((len(Q), mm, n_codes))
    for j in range(mm):
        Xj = Q[:, j * sub:(j + 1) * sub]
        lut[:, j, :] = (((Xj[:, None, :] - books[j][None, :, :]) ** 2)
                        .sum(-1))
    return lut


def _adc_dist(lut, qrows, packed, round_to: int):
    """ADC L2 distances ``(len(qrows), n)``: LUT row ``qrows[i]`` against
    each packed code, ``dist[i, r] = sqrt(sum_j lut[qrows[i], j,
    code[r, j]])`` rounded — numpy gathers, no vector touched."""
    codes = _unpack_codes(packed, lut.shape[1])
    sub = np.arange(lut.shape[1])[None, :]
    d = np.stack([lut[q, sub, codes].sum(1) for q in qrows])
    return np.round(np.sqrt(np.clip(d, 0.0, None)), round_to)


def pq_encode(corpus: DataFrame, codebooks, vec_col: str = "embedding",
              id_col: str = "vec_id", code_col: str = "pq_code") -> DataFrame:
    """Attach the PQ code column: per subspace, the index of the
    nearest codebook centroid, all ``m`` byte codes packed
    little-endian into ONE ``bigint`` — a flat fixed-width column, so
    the ADC scan's Arrow transfer is a plain int64 vector with no
    per-row list materialization (requires ``m <= 8`` and
    ``n_codes <= 256``, i.e. codes fit 8 bytes — the standard PQ8
    configuration)."""
    m, _, books, normalize = codebooks
    if m > 8 or books.shape[1] > 256:
        raise ValueError("packed codes need m <= 8 and n_codes <= 256")
    bc = corpus.sparkSession.sparkContext.broadcast((books, normalize))

    def kernel(batches):
        B, norm_ = bc.value
        mm, n_codes, sub = B.shape
        for rb in batches:
            if not rb.num_rows:
                continue
            V = _maybe_normalize(vector_matrix(rb.column(1), "pq_encode"),
                                 norm_)
            packed = np.zeros(len(V), dtype=np.int64)
            for j in range(mm):
                Xj = V[:, j * sub:(j + 1) * sub]
                # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
                d = (-2.0 * Xj @ B[j].T
                     + (B[j] ** 2).sum(1)[None, :])
                packed |= d.argmin(1).astype(np.int64) << (8 * j)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).cast(pa.int64()), pa.array(packed)],
                names=[id_col, code_col])

    return corpus.select(id_col, vec_col).mapInArrow(
        kernel, schema=f"{id_col} long, {code_col} long")


def pq_reconstruction_error(corpus: DataFrame, codebooks,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Per-row L2 reconstruction error of the PQ approximation —
    ``(id_col, l2_error)`` — the audit that justifies a codebook size."""
    m, _, books, normalize = codebooks
    bc = corpus.sparkSession.sparkContext.broadcast((books, normalize))

    def kernel(batches):
        B, norm_ = bc.value
        mm, n_codes, sub = B.shape
        for rb in batches:
            if not rb.num_rows:
                continue
            V = _maybe_normalize(
                vector_matrix(rb.column(1), "pq_reconstruction_error"),
                norm_)
            err2 = np.zeros(len(V))
            for j in range(mm):
                Xj = V[:, j * sub:(j + 1) * sub]
                d = (-2.0 * Xj @ B[j].T + (B[j] ** 2).sum(1)[None, :])
                code = d.argmin(1)
                err2 += ((Xj - B[j][code]) ** 2).sum(1)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).cast(pa.int64()),
                 pa.array(np.round(np.sqrt(err2), 6))],
                names=[id_col, "l2_error"])

    return corpus.select(id_col, vec_col).mapInArrow(
        kernel, schema=f"{id_col} long, l2_error double")


def pq_adc_search(queries: DataFrame, encoded: DataFrame, codebooks,
                  k: int = 10, query_id: str = "query_id",
                  query_vec: str = "query_vec", corpus_id: str = "vec_id",
                  code_col: str = "pq_code",
                  round_to: int = 6) -> DataFrame:
    """Approximate per-query top-k by L2 over PQ codes (ADC).

    Each query precomputes its ``m × n_codes`` table of squared
    subvector distances on the driver (queries are small by contract);
    each Arrow batch of the *code* table sums table entries with numpy
    gathers — never touching a vector — and emits local top-k; one
    small window merges.  Returns
    ``(query_id, corpus_id, adc_dist, rank)``.
    """
    m, _, books, normalize = codebooks
    q_ids, Q = small_side(
        queries, query_id, query_vec, "pq_adc_search queries",
        hint="Batch the query set; the LUTs are per-query.")
    if not len(q_ids):
        return encoded.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, adc_dist double, "
                "rank long")
    lut = _adc_lut(books, _maybe_normalize(Q, normalize))
    bc = encoded.sparkSession.sparkContext.broadcast((q_ids, lut))

    def kernel(batches):
        q_ids_, lut_ = bc.value
        for rb in batches:
            if rb.num_rows:
                yield local_topk(
                    _adc_dist(lut_, np.arange(len(q_ids_)),
                              id_array(rb.column(1)), round_to),
                    id_array(rb.column(0)), q_ids_, k, False,
                    (query_id, corpus_id, "adc_dist"))

    local = encoded.select(corpus_id, code_col).mapInArrow(
        kernel, schema=f"{query_id} long, {corpus_id} long, adc_dist double")
    return topk_window(local, k, query_id, corpus_id,
                       score_col="adc_dist", desc=False)


def ivfpq_search(queries: DataFrame, corpus: DataFrame,
                 encoded_assigned: DataFrame, centroids: DataFrame,
                 codebooks, nprobe: int = 5, k: int = 10,
                 overfetch: int = 5, query_id: str = "query_id",
                 query_vec: str = "query_vec", corpus_id: str = "vec_id",
                 vec_col: str = "embedding", code_col: str = "pq_code",
                 cluster_col: str = "cluster_id",
                 round_to: int = 6) -> DataFrame:
    """IVF + PQ composed (the FAISS ``IndexIVFPQ``): the coarse
    quantizer prunes the scan to ``nprobe`` clusters per query, the
    ADC lookup tables score only the pruned *codes*, and the final
    exact re-rank touches ``k × overfetch`` full vectors per query.

    ``encoded_assigned``: ``(corpus_id, cluster_col, code_col)`` —
    ``ivf.assign_clusters`` output joined with :func:`pq_encode`
    (write it partitioned by ``cluster_col``; the cluster filter then
    prunes at the scan).  Scan cost per query:
    ``nprobe/nlist × n × 8 bytes`` of codes + ``k × overfetch``
    vectors — at 100 TB, the only full-width reads are the re-rank's.
    """
    m, _, books, normalize = codebooks
    q_ids, Q, qi, labs = _probe_rows_driver(queries, centroids, nprobe,
                                            query_id, query_vec,
                                            cluster_col, round_to)
    if not len(qi):
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, score double, "
                "rank long")
    # per cluster -> the rows of Q (and of the LUT) that probe it
    probing = {lab: qi[labs == lab] for lab in np.unique(labs)}
    lut = _adc_lut(books, _maybe_normalize(Q, normalize))
    kk = k * overfetch
    bc = corpus.sparkSession.sparkContext.broadcast((probing, q_ids, lut))

    def kernel(batches):
        probing_, q_ids_, lut_ = bc.value
        for rb in batches:
            if not rb.num_rows:
                continue
            blabs = rb.column(0).to_numpy()
            c_ids = id_array(rb.column(1))
            packed = id_array(rb.column(2))
            for lab in np.unique(blabs):
                qs = probing_.get(lab)
                if qs is None:
                    continue
                rows = blabs == lab
                yield local_topk(
                    _adc_dist(lut_, qs, packed[rows], round_to),
                    c_ids[rows], q_ids_[qs], kk, False,
                    (query_id, corpus_id, "adc_dist"))

    pruned = (encoded_assigned
              .filter(F.col(cluster_col).isin(sorted(probing)))
              .select(cluster_col, corpus_id, code_col))
    local = pruned.mapInArrow(
        kernel, schema=f"{query_id} long, {corpus_id} long, adc_dist double")
    # spill assignment can surface a vector from two probed clusters
    # with the same code distance — key-dedup first
    cand = topk_window(local.dropDuplicates([query_id, corpus_id]), kk,
                       query_id, corpus_id, score_col="adc_dist",
                       desc=False).select(query_id, corpus_id)
    pairs = (corpus.select(F.col(corpus_id), F.col(vec_col).alias("_cvec"))
             .join(F.broadcast(cand), corpus_id)
             .join(F.broadcast(queries.select(query_id, query_vec)),
                   query_id))
    scored = _score_pairs_blas(
        pairs, "cosine" if normalize else "l2", query_id, query_vec,
        corpus_id, "_cvec", round_to)
    return topk_window(scored, k, query_id, corpus_id,
                       desc=bool(normalize))


def pq_search_rerank(queries: DataFrame, corpus: DataFrame, encoded,
                     codebooks, k: int = 10, overfetch: int = 5,
                     metric: str = "l2", query_id: str = "query_id",
                     query_vec: str = "query_vec",
                     corpus_id: str = "vec_id",
                     vec_col: str = "embedding",
                     round_to: int = 6) -> DataFrame:
    """The complete PQ search path: ADC over the 8-byte codes selects
    ``k × overfetch`` candidates per query, then only those rows'
    full vectors are read and exactly re-ranked (the FAISS
    ADC-then-refine pattern).  Full-vector touches per query =
    ``k × overfetch``, independent of corpus size."""
    cand = (pq_adc_search(queries, encoded, codebooks, k=k * overfetch,
                          query_id=query_id, query_vec=query_vec,
                          corpus_id=corpus_id, round_to=round_to)
            .select(query_id, corpus_id))
    pairs = (corpus.select(F.col(corpus_id), F.col(vec_col).alias("_cvec"))
             .join(F.broadcast(cand), corpus_id)
             .join(F.broadcast(queries.select(query_id, query_vec)),
                   query_id))
    scored = _score_pairs_blas(pairs, metric, query_id, query_vec,
                               corpus_id, "_cvec", round_to)
    return topk_window(scored, k, query_id, corpus_id,
                       desc=descending(metric))
