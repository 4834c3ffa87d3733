"""Deduplication queries over the ``documents`` / ``embeddings`` tables.

Every VALUE-compared hash the Spark side computes is md5-derived
(functions/hashing.py), so the DuckDB oracles below rebuild the exact
same signatures and fingerprints in SQL.  LSH band buckets are the
one exception: they are only compared for equality and never emitted,
so the engine keys them with ``xxhash64`` while the oracles use md5
over the same slice string — identical equivalence classes, hence
identical candidate pairs (operators/dedup.py: ``_band_frame``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.hashing import (
    MINHASH_P,
    minhash_base_sql,
    minhash_consts,
    stable_hash_sql,
)
from python_vector_db___ai_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_flags,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_pairs,
)
from python_vector_db___ai_spark.plans.q_vector import _cos_sql
from python_vector_db___ai_spark.plans.queries import register
from python_vector_db___ai_spark.session import load_table

# DuckDB: lowercased whitespace tokens, empties dropped (= dedup.words_col)
_WORDS = ("list_filter(regexp_split_to_array(lower({t}), '\\s+'), "
          "w -> w <> '')")


def _shingles_sql(t: str, n: int) -> str:
    ws = _WORDS.format(t=t)
    if n == 1:
        return f"list_distinct({ws})"
    return (f"CASE WHEN len({ws}) >= {n} THEN list_distinct("
            f"list_transform(range(1, len({ws}) - {n - 1} + 1), "
            f"i -> array_to_string(({ws})[i:i+{n - 1}], ' '))) "
            f"ELSE [] END")


_SH_BITS = 16


def _simhash_sql() -> str:
    ws = _WORDS.format(t="text")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h & {1 << j}) > 0 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(_SH_BITS))
    fp = " + ".join(f"CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END"
                    for j in range(_SH_BITS))
    return f"""
WITH w AS (
  SELECT doc_id, unnest({ws}) AS word FROM documents
), h AS (
  SELECT doc_id, {stable_hash_sql('word')} AS h FROM w
), sums AS (
  SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


@register(
    "dedup_exact_simhash",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents
), g AS (
  SELECT content_hash, count(*)::BIGINT AS group_size,
         min(doc_id) AS keep_id
  FROM h GROUP BY content_hash
), flags AS (
  SELECT h.doc_id, h.content_hash,
         CASE WHEN h.content_hash IS NULL THEN 1
              ELSE g.group_size END::BIGINT AS group_size,
         h.content_hash IS NULL OR h.doc_id = g.keep_id AS is_canonical
  FROM h LEFT JOIN g USING (content_hash)
), fp AS ({_simhash_sql()})
SELECT f.doc_id, f.content_hash, f.group_size, f.is_canonical, fp.simhash
FROM flags f LEFT JOIN fp ON fp.doc_id = f.doc_id
""",
    doc="exact dedup via content hash (canonical-member flags, one hash "
        "groupBy) joined with the per-doc 16-bit SimHash fingerprint "
        "(explode + groupBy, one shuffle) — one per-doc dedup profile",
)
def dedup_exact_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flags = exact_dedup_flags(docs)
    fp = simhash_fingerprints(docs, bits=_SH_BITS)
    return flags.join(fp, "doc_id", "left") \
        .select("doc_id", "content_hash", "group_size", "is_canonical",
                "simhash")


_NGRAM_N = 3
_NGRAM_DOCS = 150
_NGRAM_TOPK = 25
_NGRAM_MAXDF = 100


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH d0 AS (
  SELECT doc_id, {_shingles_sql('text', _NGRAM_N)} AS sh
  FROM documents WHERE doc_id < {_NGRAM_DOCS}
), post AS (
  SELECT doc_id, unnest(sh) AS s FROM d0
), keep AS (
  SELECT s FROM post GROUP BY s HAVING count(*) <= {_NGRAM_MAXDF}
), d AS (
  SELECT doc_id, list(s) AS sh
  FROM post JOIN keep USING (s) GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS i, b.doc_id AS j,
         round(len(list_intersect(a.sh, b.sh)) * 1.0
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
               6) AS jaccard
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.sh, b.sh)) >= 1
)
SELECT i, j, jaccard FROM pairs
ORDER BY jaccard DESC, i ASC, j ASC LIMIT {_NGRAM_TOPK}
""",
    doc="n-gram Jaccard near-dup: top pairs by trigram-shingle similarity "
        "(shingle equi-join, no crossJoin) with the stop-shingle df cap "
        f"active (max_df={_NGRAM_MAXDF}) — the checked plan IS the scale plan",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _NGRAM_DOCS))
    pairs = ngram_jaccard_pairs(docs, n=_NGRAM_N, max_df=_NGRAM_MAXDF)
    return (pairs.select("i", "j", F.round("jaccard", 6).alias("jaccard"))
            .orderBy(F.col("jaccard").desc(), F.col("i").asc(), F.col("j").asc())
            .limit(_NGRAM_TOPK))


_MH_HASHES = 16
_MH_BANDS = 4
_MH_DOCS = 150
_MH_VERIFY = 0.9


def _minhash_oracle() -> str:
    rows = _MH_HASHES // _MH_BANDS
    ws = _WORDS.format(t="text")
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) "
        f"AS s{s}"
        for s, (a, b) in enumerate(minhash_consts(_MH_HASHES)))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat_ws('_', {', '.join(f's{b * rows + i}' for i in range(rows))})) "
        f"AS bucket FROM sig"
        for b in range(_MH_BANDS))
    est = " + ".join(f"CASE WHEN a.s{s} = b.s{s} THEN 1 ELSE 0 END"
                     for s in range(_MH_HASHES))
    return f"""
WITH d AS (
  SELECT doc_id, list_distinct({ws}) AS sh
  FROM documents WHERE doc_id < {_MH_DOCS}
), dh AS (
  SELECT doc_id, sh,
         list_transform(sh, w -> {minhash_base_sql("w")}) AS hs
  FROM d
), sig AS (
  SELECT doc_id, sh, {sig_exprs} FROM dh
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id < b.doc_id
)
SELECT c.i, c.j,
       round(({est}) / {_MH_HASHES}.0, 6) AS est_jaccard,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM cand c
JOIN sig a ON a.doc_id = c.i
JOIN sig b ON b.doc_id = c.j
WHERE len(list_intersect(a.sh, b.sh)) * 1.0
      / len(list_distinct(list_concat(a.sh, b.sh))) >= {_MH_VERIFY}
"""


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    doc="MinHash(16) + LSH(4 bands) candidate pairs, Jaccard-verified >= 0.9",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _MH_DOCS))
    # exact_strings=True: the gate compares against the string-keyed
    # Jaccard oracle, so keep the gated plan collision-free; the bench
    # sweep exercises the hashed-verify scale default (crossdoc rule).
    out = minhash_lsh_pairs(docs, num_hashes=_MH_HASHES, bands=_MH_BANDS,
                            shingle_n=1, verify_threshold=_MH_VERIFY,
                            exact_strings=True)
    return out.select("i", "j",
                      F.round("est_jaccard", 6).alias("est_jaccard"),
                      F.round("jaccard", 6).alias("jaccard"))


_SH_MAXHAM = 3
_SH_DOCS = 200


def _simhash_pairs_sql() -> str:
    base = _simhash_sql().replace("FROM documents",
                                  f"FROM documents WHERE doc_id < {_SH_DOCS}")
    return f"""
WITH fp AS ({base})
SELECT a.doc_id AS i, b.doc_id AS j,
       bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= {_SH_MAXHAM}
"""


@register(
    "dedup_simhash_pairs",
    oracle=_simhash_pairs_sql(),
    doc=f"SimHash near-dup pairs within hamming {_SH_MAXHAM} of 16 bits",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _SH_DOCS))
    return simhash_pairs(docs, bits=_SH_BITS, max_hamming=_SH_MAXHAM)


_COS_THRESHOLD = 0.4
_CC_ROUNDS = 5


def _components_oracle() -> str:
    """Unroll the bounded-round min-label propagation: round ``r``
    joins round ``r-1``'s labels over the symmetric edge list and
    takes the min — the exact replay of operators.dedup.
    dedup_components's rounds (fixed rounds, so both engines stop at
    the same state; its driver path and its Spark loop give the same
    rows), plus one extra round whose only job is the global
    ``converged`` flag (did any label still move?).

    The edge list is the union of the Jaccard-verified MinHash pairs
    and the exact-dup star edges (each non-canonical doc linked to its
    content-hash group's min id), so the components — and the keep
    list derived from them — cover byte-identical and near-dup copies
    in one pass."""
    steps = []
    for r in range(1, _CC_ROUNDS + 2):      # +1 convergence-probe round
        steps.append(f"""l{r} AS (
  SELECT l._a, least(l._label, coalesce(min(nb._label), l._label)) AS _label
  FROM l{r - 1} l
  LEFT JOIN edges e ON e._a = l._a
  LEFT JOIN l{r - 1} nb ON nb._a = e._b
  GROUP BY l._a, l._label
)""")
    chain = ",\n".join(steps)
    last = f"l{_CC_ROUNDS}"
    probe = f"l{_CC_ROUNDS + 1}"
    return f"""
WITH mh_pairs AS ({_minhash_oracle()}),
ids AS (SELECT doc_id FROM documents WHERE doc_id < {_MH_DOCS}),
h AS (
  SELECT doc_id, md5(text) AS ch FROM documents WHERE doc_id < {_MH_DOCS}
),
g AS (SELECT ch, min(doc_id) AS keep_id FROM h GROUP BY ch),
ex_edges AS (
  SELECT g.keep_id AS i, h.doc_id AS j
  FROM h JOIN g USING (ch) WHERE h.doc_id <> g.keep_id
),
all_pairs AS (
  SELECT i, j FROM mh_pairs UNION SELECT i, j FROM ex_edges
),
edges AS (
  SELECT i AS _a, j AS _b FROM all_pairs
  UNION
  SELECT j AS _a, i AS _b FROM all_pairs
),
l0 AS (SELECT doc_id AS _a, doc_id AS _label FROM ids),
{chain},
sizes AS (
  SELECT _label, count(*)::BIGINT AS component_size
  FROM {last} GROUP BY _label
),
conv AS (
  SELECT coalesce(bool_and(a._label = b._label), true) AS converged
  FROM {last} a JOIN {probe} b ON a._a = b._a
),
doc_sz AS (
  SELECT doc_id, strlen(text)::BIGINT AS doc_bytes
  FROM documents WHERE doc_id < {_MH_DOCS}
)
SELECT l._a AS doc_id, l._label AS component_id, s.component_size,
       l._a = l._label AS is_canonical, c.converged, d.doc_bytes,
       (CASE WHEN l._a = l._label THEN 0 ELSE d.doc_bytes END)::BIGINT
         AS reclaimed_bytes
FROM {last} l
JOIN sizes s USING (_label)
CROSS JOIN conv c
JOIN doc_sz d ON d.doc_id = l._a
"""


@register(
    "dedup_components",
    oracle=_components_oracle(),
    doc="the end-to-end dedup keep list a pretraining pipeline consumes: "
        "exact-dup star edges (content hash) UNION Jaccard-verified "
        "MinHash near-dup pairs -> connected components via bounded-round "
        f"min-label propagation ({_CC_ROUNDS} rounds: in NumPy on the "
        "driver while the edge list fits SMALL_SIDE_CAP, one equi-join + "
        "min-agg per round above it) -> per-doc keep/drop (is_canonical), "
        "a global "
        "convergence flag (one probe round: did any label still move?), "
        "and reclaimed_bytes accounting for every dropped doc; oracle "
        "unrolls the identical iteration",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.functions.hashing import md5_hex
    from python_vector_db___ai_spark.operators.dedup import dedup_components

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _MH_DOCS))
    mh = (minhash_lsh_pairs(docs, num_hashes=_MH_HASHES, bands=_MH_BANDS,
                            shingle_n=1, verify_threshold=_MH_VERIFY,
                            exact_strings=True)
          .select("i", "j"))
    # Exact dups as star edges (keep_id -> member): O(n) rows, and the
    # star keeps component diameter at 2 regardless of group size.
    hashed = docs.select("doc_id", md5_hex(F.col("text")).alias("_ch"))
    groups = hashed.groupBy("_ch").agg(F.min("doc_id").alias("_keep"))
    ex_edges = (hashed.join(groups, "_ch")
                .filter(F.col("doc_id") != F.col("_keep"))
                .select(F.col("_keep").alias("i"), F.col("doc_id").alias("j")))
    comp = dedup_components(mh.unionByName(ex_edges).distinct(),
                            docs.select("doc_id"), rounds=_CC_ROUNDS)
    doc_sz = docs.select("doc_id",
                         F.octet_length("text").cast("long").alias("doc_bytes"))
    return (comp.join(doc_sz, "doc_id")
            .select("doc_id", "component_id", "component_size",
                    "is_canonical", "converged", "doc_bytes",
                    F.when(F.col("is_canonical"), F.lit(0))
                    .otherwise(F.col("doc_bytes")).cast("long")
                    .alias("reclaimed_bytes")))


_DECON_N = 3          # word-soup corpus: trigram shingles give signal
_DECON_MOD = 17       # benchmark = docs with doc_id % 17 == 3 (~6%)


@register(
    "decontam_ngram_overlap",
    oracle=f"""
WITH tr AS (
  SELECT doc_id, {_shingles_sql('text', _DECON_N)} AS sh
  FROM documents WHERE doc_id % {_DECON_MOD} <> 3
), bm AS (
  SELECT doc_id, {_shingles_sql('text', _DECON_N)} AS sh
  FROM documents WHERE doc_id % {_DECON_MOD} = 3
), trp AS (SELECT doc_id AS tid, unnest(sh) AS sh FROM tr),
bmp AS (SELECT doc_id AS bid, unnest(sh) AS sh FROM bm),
hits AS (
  SELECT tid, count(DISTINCT sh)::BIGINT AS n_hit_shingles,
         count(DISTINCT bid)::BIGINT AS n_benchmark_docs
  FROM trp JOIN bmp USING (sh) GROUP BY tid
)
SELECT h.tid AS doc_id, h.n_hit_shingles, h.n_benchmark_docs,
       round(h.n_hit_shingles * 1.0 / greatest(len(t.sh), 1), 6)
         AS contamination
FROM hits h JOIN tr t ON t.doc_id = h.tid
WHERE h.n_hit_shingles >= 1
""",
    doc="training-data decontamination: flag training docs whose word "
        f"{_DECON_N}-gram shingles overlap the held-out benchmark subset "
        "(the standard pretraining n-gram decontamination check; "
        "postings-shaped shingle equi-join, no pairs materialized)",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.dedup import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % _DECON_MOD != 3)
    benchmark = docs.filter(F.col("doc_id") % _DECON_MOD == 3)
    # exact_strings pins the collision-free string shingles on the
    # oracle-gated configuration (crossdoc precedent, r8 ADVICE); the
    # xxhash64 default is the scale path, differential-tested equal.
    return decontaminate(train, benchmark, n=_DECON_N,
                         exact_strings=True)


_PRUNE_SPILL = 2


@register(
    "dedup_embedding_pruned",
    oracle=f"""
SELECT 'exact_theta' AS branch, i, j, cosine FROM (
  WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  )
  SELECT a.vec_id AS i, b.vec_id AS j,
         round({_cos_sql('a.v', 'b.v')}, 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round({_cos_sql('a.v', 'b.v')}, 6) >= {_COS_THRESHOLD}
)
UNION ALL
SELECT 'pruned' AS branch, i, j, cosine FROM (
WITH cl AS (
  SELECT label, pos, round(avg(v), 6) AS c FROM (
    SELECT label, unnest(embedding::DOUBLE[]) AS v,
           generate_subscripts(embedding, 1) - 1 AS pos
    FROM embeddings
  ) GROUP BY label, pos
), cent AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM cl GROUP BY label
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), assigned AS (
  SELECT vec_id, label FROM (
    SELECT v.vec_id, cent.label,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY round({_cos_sql('v.ev', 'cent.centroid')}, 6) DESC,
                      cent.label ASC) AS r
    FROM v CROSS JOIN cent
  ) WHERE r <= {_PRUNE_SPILL}
), cand AS (
  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
  FROM assigned a JOIN assigned b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT c.i, c.j, round({_cos_sql('va.ev', 'vb.ev')}, 6) AS cosine
FROM cand c
JOIN v va ON va.vec_id = c.i
JOIN v vb ON vb.vec_id = c.j
WHERE round({_cos_sql('va.ev', 'vb.ev')}, 6) >= {_COS_THRESHOLD}
)
""",
    doc="embedding near-dup, both tiers in one check: the exact "
        "θ-join pairs >= 0.4 (P5/P6 small-sf oracle form) UNION the "
        "IVF-pruned scale path (top-2 cluster assignment, candidate "
        "equi-join on the cluster key, cosine verify, no θ-join) — "
        "branch column tells them apart; the pruned branch must be a "
        "subset of the exact branch by construction",
)
def dedup_embedding_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.dedup import (
        embedding_neardup_pruned,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    exact = (embedding_neardup_pairs(emb, threshold=_COS_THRESHOLD,
                                     impl="blas")
             .select(F.lit("exact_theta").alias("branch"),
                     "i", "j", "cosine"))
    pruned = (embedding_neardup_pruned(emb, threshold=_COS_THRESHOLD,
                                       spill=_PRUNE_SPILL)
              .select(F.lit("pruned").alias("branch"), "i", "j", "cosine"))
    return exact.unionByName(pruned)


_INC_DOCS = 400
_INC_MOD = 5          # doc_id % 5 == 0 -> the "new batch"; else corpus
_INC_VERIFY = 0.9


def _minhash_incremental_oracle() -> str:
    rows = _MH_HASHES // _MH_BANDS
    ws = _WORDS.format(t="text")
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P})) "
        f"AS s{s}"
        for s, (a, b) in enumerate(minhash_consts(_MH_HASHES)))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat_ws('_', {', '.join(f's{b * rows + i}' for i in range(rows))})) "
        f"AS bucket FROM sig"
        for b in range(_MH_BANDS))
    return f"""
WITH d AS (
  SELECT doc_id, list_distinct({ws}) AS sh
  FROM documents WHERE doc_id < {_INC_DOCS}
), dh AS (
  SELECT doc_id, sh,
         list_transform(sh, w -> {minhash_base_sql("w")}) AS hs
  FROM d
), sig AS (
  SELECT doc_id, sh, {sig_exprs} FROM dh
), banded AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id % {_INC_MOD} = 0 AND b.doc_id % {_INC_MOD} <> 0
), verified AS (
  SELECT c.i, c.j,
         round(len(list_intersect(a.sh, b.sh)) * 1.0
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jr
  FROM cand c
  JOIN sig a ON a.doc_id = c.i
  JOIN sig b ON b.doc_id = c.j
), per_doc AS (
  SELECT i, count(*)::BIGINT AS n_candidates,
         sum(CASE WHEN jr >= {_INC_VERIFY} THEN 1 ELSE 0 END)::BIGINT
           AS n_dups
  FROM verified GROUP BY i
), best AS (
  SELECT i, j AS best_match, jr AS best_jaccard FROM (
    SELECT i, j, jr,
           row_number() OVER (PARTITION BY i ORDER BY jr DESC, j ASC) AS rn
    FROM verified
  ) WHERE rn = 1
)
SELECT n.doc_id,
       coalesce(p.n_candidates, 0)::BIGINT AS n_candidates,
       coalesce(p.n_dups, 0)::BIGINT AS n_dups,
       b.best_match, b.best_jaccard,
       coalesce(b.best_jaccard >= {_INC_VERIFY}, FALSE) AS is_dup
FROM (SELECT doc_id FROM d WHERE doc_id % {_INC_MOD} = 0) n
LEFT JOIN per_doc p ON p.i = n.doc_id
LEFT JOIN best b ON b.i = n.doc_id
"""


@register(
    "dedup_incremental_minhash",
    oracle=_minhash_incremental_oracle(),
    doc="incremental (new-batch vs corpus) MinHash+LSH dedup: the "
        "increment's band buckets equi-join the standing corpus index, "
        "so daily dedup cost scales with the increment, never corpus² — "
        "per new doc: candidate/dup counts, best verified match, keep flag",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.dedup import (
        minhash_incremental_flags,
    )

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < _INC_DOCS))
    new = docs.filter(F.col("doc_id") % _INC_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _INC_MOD != 0)
    return minhash_incremental_flags(new, corpus,
                                     num_hashes=_MH_HASHES,
                                     bands=_MH_BANDS,
                                     verify_threshold=_INC_VERIFY)


_SD_MOD = 50        # every 50th vector leaks (perturbed) into the eval set
_SD_THRESH = 0.9
_SD_NOISE = 0.1
_SD_DIM = 64
_SD_OFFSET = 1_000_000


def _sd_noise_sql(src: str, i: str) -> str:
    h = stable_hash_sql(f"concat({src}, ':', {i})")
    return f"(({h} % 2000) / 1000.0 - 1.0) * {_SD_NOISE}"


@register(
    "decontam_semantic",
    oracle=f"""
WITH b AS (
  SELECT vec_id + {_SD_OFFSET} AS bid,
         list_transform(range(1, {_SD_DIM} + 1),
                        i -> embedding[i]::DOUBLE
                             + {_sd_noise_sql('vec_id', 'i')}) AS bv
  FROM embeddings WHERE vec_id % {_SD_MOD} = 0
), t AS (
  SELECT vec_id, embedding::DOUBLE[] AS tv FROM embeddings
), s AS (
  SELECT t.vec_id, b.bid,
         round({{cos}}, 6) AS c
  FROM t, b
), hits AS (
  SELECT vec_id,
         count(*) FILTER (WHERE c >= {_SD_THRESH})::BIGINT
           AS n_benchmark_hits,
         max(c) AS max_cosine
  FROM s GROUP BY vec_id
), nearest AS (
  SELECT vec_id, bid AS nearest_benchmark_id
  FROM (SELECT vec_id, bid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, bid ASC) AS rn
        FROM s) WHERE rn = 1
)
SELECT h.vec_id, h.n_benchmark_hits, h.max_cosine,
       n.nearest_benchmark_id
FROM hits h JOIN nearest n USING (vec_id)
WHERE h.n_benchmark_hits > 0
""".replace("{cos}", _cos_sql('t.tv', 'b.bv')),
    doc="semantic decontamination: training vectors within cosine "
        f"{_SD_THRESH} of ANY eval vector.  The eval set is a "
        "deterministically perturbed copy of every 50th corpus vector "
        "(planted paraphrase-leakage, the day-6 noise idiom), so the "
        "check fires on real hits.  Engine: eval matrix broadcast, one "
        "matmul per training partition — the training side never "
        "shuffles; oracle: the exact cross join (eval side small by "
        "contract)",
)
def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.functions.hashing import stable_hash64
    from python_vector_db___ai_spark.operators.dedup import (
        semantic_decontaminate,
    )

    emb = load_table(spark, sf_dir, "embeddings")

    def noise(i):
        return ((stable_hash64(
            F.concat(F.col("src_id").cast("string"), F.lit(":"),
                     i.cast("string"))) % 2000) / F.lit(1000.0) - 1.0) \
            * _SD_NOISE

    # NB: the noise must hash the SOURCE id.  Naming the offset id
    # "vec_id" in the same select would shadow the input column for
    # the noise expression (lateral column alias resolution), so the
    # source id is carried under a distinct name first.
    benchmark = (emb.filter(F.col("vec_id") % _SD_MOD == 0)
                 .select(F.col("vec_id").alias("src_id"), "embedding")
                 .select((F.col("src_id") + _SD_OFFSET).alias("vec_id"),
                         F.transform(
                             F.sequence(F.lit(1), F.lit(_SD_DIM)),
                             lambda i: F.element_at(
                                 F.col("embedding"), i).cast("double")
                             + noise(i)).alias("embedding")))
    return semantic_decontaminate(emb, benchmark, threshold=_SD_THRESH)


_PR_N = 5           # 5-gram shingles: only planted dups share them
_PR_MIN_COMMON = 3
_PR_MAX_DF = 20
_PR_ITERS = 5
_PR_DAMPING = 0.85
_PR_TOPK = 20


def _pagerank_oracle() -> str:
    """Unrolled MATERIALIZED-CTE replay of the fixed-iteration
    PageRank (same technique as the BPE merge oracle): each round is
    one join+aggregate CTE.  The teleport constant is embedded as the
    repr of the engine's python float so both engines share the exact
    double (1.0 - 0.85 != literal-decimal 0.15 at the last ulp)."""
    tele = repr(1.0 - _PR_DAMPING)
    sql = f"""
WITH g AS MATERIALIZED (
  SELECT doc_id, unnest({_shingles_sql('text', _PR_N)}) AS gram
  FROM documents
), dfq AS MATERIALIZED (
  SELECT gram FROM (SELECT gram, count(*) AS c FROM g GROUP BY gram)
  WHERE c <= {_PR_MAX_DF}
), kept AS MATERIALIZED (
  SELECT doc_id, gram FROM g JOIN dfq USING (gram)
), e AS MATERIALIZED (
  SELECT a.doc_id AS i, b.doc_id AS j
  FROM kept a JOIN kept b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= {_PR_MIN_COMMON}
), dir AS MATERIALIZED (
  SELECT i AS src, j AS dst FROM e UNION SELECT j AS src, i AS dst FROM e
), walk AS MATERIALIZED (
  SELECT dir.src, dir.dst, deg.deg
  FROM dir JOIN (SELECT src, count(*)::DOUBLE AS deg
                 FROM dir GROUP BY src) deg USING (src)
), nn AS MATERIALIZED (SELECT count(*)::BIGINT AS c FROM documents),
r0 AS MATERIALIZED (
  SELECT doc_id AS node, 1.0 / (SELECT c FROM nn) AS r FROM documents
)"""
    for t in range(1, _PR_ITERS + 1):
        p = t - 1
        sql += f""",
r{t} AS MATERIALIZED (
  SELECT s.node,
         ({tele} / (SELECT c FROM nn))
         + {_PR_DAMPING} * coalesce(x.m, 0.0) AS r
  FROM r0 s LEFT JOIN (
    SELECT w.dst AS node, sum(r.r / w.deg) AS m
    FROM walk w JOIN r{p} r ON r.node = w.src
    GROUP BY w.dst) x ON s.node = x.node
)"""
    return sql + f"""
SELECT node AS doc_id,
       round(r * (SELECT c FROM nn), 6) AS rank_norm
FROM r{_PR_ITERS}
ORDER BY rank_norm DESC, doc_id ASC
LIMIT {_PR_TOPK}
"""


@register(
    "graph_pagerank_dups",
    oracle=_pagerank_oracle(),
    doc="PageRank over the shared-shingle similarity graph (the "
        "authority score for canonical-doc selection): one equi-join "
        "+ one hash agg per iteration, localCheckpoint lineage "
        "truncation, stop-shingle df cap BEFORE the pair fan-out; "
        "oracle unrolls the fixed-point loop as MATERIALIZED CTEs",
)
def graph_pagerank_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from python_vector_db___ai_spark.operators.graph import (
        pagerank,
        shared_shingle_edges,
    )

    docs = load_table(spark, sf_dir, "documents")
    edges = shared_shingle_edges(docs, n=_PR_N,
                                 min_common=_PR_MIN_COMMON,
                                 max_df=_PR_MAX_DF)
    n = docs.count()
    ranks = pagerank(edges, docs.select("doc_id"), iters=_PR_ITERS,
                     damping=_PR_DAMPING)
    return (ranks.select("doc_id",
                         F.round(F.col("rank") * n, 6).alias("rank_norm"))
            .orderBy(F.col("rank_norm").desc(), F.col("doc_id").asc())
            .limit(_PR_TOPK))
