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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators._guards import collect_small
from python_vector_db___ai_spark.operators.ivf import _lloyd


def _maybe_normalize(V, normalize: bool):
    import numpy as np

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
    import numpy as np

    rows = collect_small(
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_rows),
        "pq_train sample")
    X = _maybe_normalize(
        np.array([r[vec_col] for r in rows], dtype=np.float64), normalize)
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
    import numpy as np

    return (packed[:, None] >> (8 * np.arange(m))[None, :]) & 0xFF


def _adc_lut(books, Q):
    """LUT[q, j, c] = squared L2 distance of query q's j-th subvector
    to codebook j's centroid c — the per-query ADC tables (shared by
    the flat and IVF-pruned search paths)."""
    import numpy as np

    mm, n_codes, sub = books.shape
    lut = np.empty((len(Q), mm, n_codes))
    for j in range(mm):
        Xj = Q[:, j * sub:(j + 1) * sub]
        lut[:, j, :] = (((Xj[:, None, :] - books[j][None, :, :]) ** 2)
                        .sum(-1))
    return lut


def pq_encode(corpus: DataFrame, codebooks, vec_col: str = "embedding",
              id_col: str = "vec_id", code_col: str = "pq_code") -> DataFrame:
    """Attach the PQ code column: per subspace, the index of the
    nearest codebook centroid, all ``m`` byte codes packed
    little-endian into ONE ``bigint`` — a flat fixed-width column, so
    the ADC scan's Arrow transfer is a plain int64 vector with no
    per-row list materialization (requires ``m <= 8`` and
    ``n_codes <= 256``, i.e. codes fit 8 bytes — the standard PQ8
    configuration)."""
    import numpy as np

    m, _, books, normalize = codebooks
    if m > 8 or books.shape[1] > 256:
        raise ValueError("packed codes need m <= 8 and n_codes <= 256")
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((books, normalize))

    def op(batches):
        B, norm_ = bc.value
        mm, n_codes, sub = B.shape
        for pdf in batches:
            if pdf.empty:
                continue
            V = _maybe_normalize(
                np.array(pdf[vec_col].tolist(), dtype=np.float64), norm_)
            packed = np.zeros(len(V), dtype=np.int64)
            for j in range(mm):
                Xj = V[:, j * sub:(j + 1) * sub]
                # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c
                d = (-2.0 * Xj @ B[j].T
                     + (B[j] ** 2).sum(1)[None, :])
                packed |= d.argmin(1).astype(np.int64) << (8 * j)
            out = pdf[[id_col]].copy()
            out[code_col] = packed
            yield out

    return corpus.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, {code_col} long")


def pq_reconstruction_error(corpus: DataFrame, codebooks,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Per-row L2 reconstruction error of the PQ approximation —
    ``(id_col, l2_error)`` — the audit that justifies a codebook size."""
    import numpy as np
    import pandas as pd

    m, _, books, normalize = codebooks
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((books, normalize))

    def op(batches):
        B, norm_ = bc.value
        mm, n_codes, sub = B.shape
        for pdf in batches:
            if pdf.empty:
                continue
            V = _maybe_normalize(
                np.array(pdf[vec_col].tolist(), dtype=np.float64), norm_)
            err2 = np.zeros(len(V))
            for j in range(mm):
                Xj = V[:, j * sub:(j + 1) * sub]
                d = (-2.0 * Xj @ B[j].T + (B[j] ** 2).sum(1)[None, :])
                code = d.argmin(1)
                err2 += ((Xj - B[j][code]) ** 2).sum(1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "l2_error": np.round(np.sqrt(err2), 6)})

    return corpus.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, l2_error double")


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
    import numpy as np
    import pandas as pd

    m, _, books, normalize = codebooks
    qrows = collect_small(
        queries.select(query_id, query_vec), "pq_adc_search queries",
        hint="Batch the query set; the LUTs are per-query.")
    if not qrows:
        return encoded.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, adc_dist double, "
                "rank long")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = _maybe_normalize(
        np.array([r[1] for r in qrows], dtype=np.float64), normalize)
    mm = books.shape[0]
    lut = _adc_lut(books, Q)
    sc = encoded.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, lut))

    def op(batches):
        q_ids_, lut_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            codes = _unpack_codes(
                pdf[code_col].to_numpy(dtype=np.int64), mm)
            c_ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            kk = min(k, len(c_ids))
            out = []
            for qi in range(len(q_ids_)):
                # gather: dist[row] = sum_j lut[qi, j, codes[row, j]]
                d = lut_[qi, np.arange(mm)[None, :], codes].sum(1)
                d = np.round(np.sqrt(np.clip(d, 0.0, None)), round_to)
                order = np.lexsort((c_ids, d))[:kk]
                out.append(pd.DataFrame({
                    query_id: np.full(len(order), q_ids_[qi]),
                    corpus_id: c_ids[order],
                    "adc_dist": d[order]}))
            yield pd.concat(out, ignore_index=True)

    local = encoded.select(corpus_id, code_col).mapInPandas(
        op, schema=f"{query_id} long, {corpus_id} long, adc_dist double")
    from python_vector_db___ai_spark.operators._ranking import topk_window

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
    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.operators.ivf import (
        _probe_rows_driver,
        _score_pairs_blas,
    )

    m, _, books, normalize = codebooks
    probe_rows = _probe_rows_driver(queries, centroids, nprobe,
                                    query_id, query_vec, cluster_col,
                                    round_to)
    if not probe_rows:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, score double, "
                "rank long")
    # per-cluster -> which queries probe it
    probing: dict = {}
    qvecs: dict = {}
    for r in probe_rows:
        probing.setdefault(r[cluster_col], []).append(r[query_id])
        qvecs[r[query_id]] = r[query_vec]
    q_ids = np.array(sorted(qvecs), dtype=np.int64)
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    Q = _maybe_normalize(
        np.array([qvecs[int(q)] for q in q_ids], dtype=np.float64),
        normalize)
    mm = books.shape[0]
    lut = _adc_lut(books, Q)
    kk = k * overfetch
    labels = sorted(probing)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((probing, qpos, lut))

    def kernel(batches):
        probing_, qpos_, lut_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for lab, sub_pdf in pdf.groupby(cluster_col, sort=False):
                qs = probing_.get(lab)
                if not qs:
                    continue
                codes = _unpack_codes(
                    sub_pdf[code_col].to_numpy(dtype=np.int64), mm)
                c_ids = sub_pdf[corpus_id].to_numpy(dtype=np.int64)
                take = min(kk, len(c_ids))
                for q in qs:
                    d = lut_[qpos_[q], np.arange(mm)[None, :],
                             codes].sum(1)
                    d = np.round(np.sqrt(np.clip(d, 0.0, None)),
                                 round_to)
                    order = np.lexsort((c_ids, d))[:take]
                    out.append(pd.DataFrame({
                        query_id: np.full(len(order), q),
                        corpus_id: c_ids[order],
                        "adc_dist": d[order]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    pruned = (encoded_assigned
              .filter(F.col(cluster_col).isin(labels))
              .select(cluster_col, corpus_id, code_col))
    local = pruned.mapInPandas(
        kernel, schema=f"{query_id} long, {corpus_id} long, adc_dist double")
    wc = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc(), F.col(corpus_id).asc())
    cand = (local
            # spill assignment can surface a vector from two probed
            # clusters with the same code distance — key-dedup first
            .dropDuplicates([query_id, corpus_id])
            .withColumn("_r", F.row_number().over(wc))
            .filter(F.col("_r") <= kk)
            .select(query_id, corpus_id))
    pairs = (corpus.select(F.col(corpus_id), F.col(vec_col).alias("_cvec"))
             .join(F.broadcast(cand), corpus_id)
             .join(F.broadcast(queries.select(query_id, query_vec)),
                   query_id))
    scored = _score_pairs_blas(
        pairs.select(query_id, corpus_id, query_vec, "_cvec"),
        k, "cosine" if normalize else "l2", query_id, query_vec,
        corpus_id, "_cvec", round_to, bool(normalize))
    from python_vector_db___ai_spark.operators._ranking import topk_window

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
    from python_vector_db___ai_spark.operators.ivf import _score_pairs_blas

    cand = (pq_adc_search(queries, encoded, codebooks, k=k * overfetch,
                          query_id=query_id, query_vec=query_vec,
                          corpus_id=corpus_id, round_to=round_to)
            .select(query_id, corpus_id))
    pairs = (corpus.select(F.col(corpus_id), F.col(vec_col).alias("_cvec"))
             .join(F.broadcast(cand), corpus_id)
             .join(F.broadcast(queries.select(query_id, query_vec)),
                   query_id))
    desc = metric in ("cosine", "inner_product", "euclidean_similarity")
    scored = _score_pairs_blas(
        pairs.select(query_id, corpus_id, query_vec, "_cvec"),
        k, metric, query_id, query_vec, corpus_id, "_cvec", round_to, desc)
    from python_vector_db___ai_spark.operators._ranking import topk_window

    return topk_window(scored, k, query_id, corpus_id, desc=desc)
