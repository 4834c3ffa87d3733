"""Binary-sketch approximate nearest neighbors (SURVEY §2.9 X3/X4
substitute).

HNSW has no distributed equivalent (SURVEY §7 hard parts); the scale
substitute here bounds the candidate set per query *by construction*.
:func:`sketch_knn` keeps a wide (e.g. 256-bit) sign-random-projection
**sketch** per vector, pre-ranks by Hamming distance, and scores exactly
only the global top-``L`` candidates per query.  The Hamming pass reads
``n_bits/8`` bytes per row (flat ``_sk0..`` bigint columns, not the
vector) and reduces to one 0/1 matmul per Arrow batch with local top-L,
so the shuffle carries ``n_queries × L`` rows per partition; the exact
(full-vector) scan fraction is exactly ``L / n`` — the same candidate
accounting ``ivf_scan_frac`` uses.  On the unstructured sf0.1 corpus
this reaches recall ~0.96 at a 10% exact scan.

The hyperplanes are engine-internal, so sketch checks are rows-only (no
SQL oracle) and recall is measured against the exact scan by
``operators.ivf.recall_against_exact``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_vector_db___ai_spark.operators._guards import collect_small


def _infer_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector width without an eager job when ``dim`` is given; else one
    bounded lookup that raises cleanly on an empty frame."""
    if dim is not None:
        return int(dim)
    row = df.select(vec_col).limit(1).collect()
    if not row or row[0][0] is None:
        raise ValueError(
            f"cannot infer vector dim from empty {vec_col!r}; pass dim=")
    return len(row[0][0])


def _pack_bits(bits):
    """(rows, n_bits) bool -> (rows, n_bits//64) int64, little-endian
    bit order inside each word."""
    import numpy as np

    packed = np.packbits(bits, axis=1, bitorder="little")
    return packed.view("<i8")


def _unpack_bits(words, n_bits: int):
    """(rows, n_words) int64 -> (rows, n_bits) uint8 in {0,1}."""
    import numpy as np

    u8 = np.ascontiguousarray(words, dtype="<i8").view(np.uint8)
    return np.unpackbits(u8, axis=1, bitorder="little")[:, :n_bits]


def sketch_build(corpus: DataFrame, n_bits: int = 256, seed: int = 42,
                 corpus_id: str = "vec_id", vec_col: str = "embedding",
                 dim: int | None = None):
    """Attach a packed ``n_bits``-bit SRP sketch to the corpus as
    ``n_bits/64`` FLAT bigint columns ``_sk0.._sk{w-1}`` — 32
    bytes/row at 256 bits.  Flat fixed-width columns, not an
    ``array<long>``: the Hamming scan then transfers plain int64
    vectors through Arrow with no per-row list materialization (the
    same trap the packed PQ codes avoid).  Persist the frame (ideally
    as parquet columns next to the vectors) and reuse across query
    batches; the sketch pass is the index build.
    """
    import numpy as np

    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    n_words = n_bits // 64
    rng = np.random.default_rng(seed)
    d = _infer_dim(corpus, vec_col, dim)
    H = rng.standard_normal((n_bits, d))
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast(H)

    def op(batches):
        Hm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            words = _pack_bits(V @ Hm.T > 0)
            out = pdf.copy()
            for w in range(n_words):
                out[f"_sk{w}"] = words[:, w]
            yield out

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in corpus.schema.fields)
    sk_fields = ", ".join(f"_sk{w} long" for w in range(n_words))
    sk = corpus.mapInPandas(op, schema=f"{fields}, {sk_fields}")
    return H, sk


def sketch_knn(queries: DataFrame, corpus: DataFrame, k: int = 10,
               n_bits: int = 256, L: int = 200, seed: int = 42,
               metric: str = "cosine",
               query_id: str = "query_id", query_vec: str = "query_vec",
               corpus_id: str = "vec_id", vec_col: str = "embedding",
               round_to: int = 6, prebuilt=None,
               dim: int | None = None) -> DataFrame:
    """Approximate per-query top-k via SRP-sketch Hamming pre-ranking.

    Two stages, both with bounded shuffles:

    1. **Hamming pre-rank** — each corpus partition unpacks its packed
       sketches once, computes Hamming distance to every (broadcast)
       query sketch with one 0/1 matmul, and emits its LOCAL top-``L``
       per query; a window keeps the global top-``L``.  Shuffle =
       ``n_queries × L`` rows per partition, each row 3 longs.
    2. **Exact re-rank** — the ``n_queries × L`` candidate ids
       equi-join back to the corpus vectors (candidate side broadcast),
       exact BLAS scoring, per-query top-k.  Full-vector scan fraction
       is exactly ``L / n``.

    Ties in Hamming distance break on ascending ``corpus_id`` in both
    the local and global selection, so the candidate set is
    deterministic.  ``prebuilt``: ``(H, corpus_with_sketch)`` from
    :func:`sketch_build`.
    """
    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.operators.ivf import _score_pairs_blas
    from pyspark.sql import Window

    if prebuilt is not None:
        H, sk = prebuilt
    else:
        H, sk = sketch_build(corpus, n_bits, seed, corpus_id, vec_col,
                             dim=dim)

    qrows = collect_small(
        queries.select(query_id, query_vec), "sketch_knn queries",
        hint="Batch the query set.")
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} long, {corpus_id} long, score double, "
                "rank long")
    q_ids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([r[1] for r in qrows], dtype=np.float64)
    qbits = (Q @ H.T > 0).astype(np.float32)      # (nq, n_bits) in {0,1}
    qsum = qbits.sum(axis=1)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, qbits, qsum))

    n_words = n_bits // 64

    def local_toplmap(batches):
        q_ids_, qb_, qs_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            words = np.stack(
                [pdf[f"_sk{w}"].to_numpy(dtype=np.int64)
                 for w in range(n_words)], axis=1)
            cb = _unpack_bits(words, n_bits).astype(np.float32)
            c_ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            # hamming = |q| + |c| - 2 q·c  (0/1 vectors)
            ham = (qs_[:, None] + cb.sum(axis=1)[None, :]
                   - 2.0 * (qb_ @ cb.T)).astype(np.int64)
            kk = min(L, len(c_ids))
            out = []
            for qi in range(len(q_ids_)):
                order = np.lexsort((c_ids, ham[qi]))[:kk]
                out.append(pd.DataFrame({
                    query_id: np.full(len(order), q_ids_[qi]),
                    corpus_id: c_ids[order],
                    "_ham": ham[qi][order]}))
            yield pd.concat(out, ignore_index=True)

    local = sk.select(corpus_id,
                      *[f"_sk{w}" for w in range(n_words)]).mapInPandas(
        local_toplmap, schema=f"{query_id} long, {corpus_id} long, _ham long")
    wham = Window.partitionBy(query_id).orderBy(
        F.col("_ham").asc(), F.col(corpus_id).asc())
    cand = (local.withColumn("_hr", F.row_number().over(wham))
            .filter(F.col("_hr") <= L)
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
