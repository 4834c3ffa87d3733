"""Deduplication operators for large-scale training-data pipelines.

Five families, each chosen for a different scale/precision trade-off:

* **exact** — md5 content hash, one groupBy.  O(n), the 100-TB default.
* **n-gram Jaccard** — shingle explode → equi-join on shingle → count
  aggregation.  Shuffles on the shingle key (never a crossJoin), so it
  scales as sum of postings-list sizes; ``max_df`` drops ubiquitous
  shingles to kill join skew, the standard stop-shingle trick.
* **MinHash + LSH banding** — per-doc signature of ``num_hashes``
  md5-derived min-hashes, grouped into bands; docs sharing any band
  bucket become candidates (equi-join on the bucket key), then true
  Jaccard verifies.  Candidate generation is O(n · bands) — the scale
  path for near-dup at 100 TB.
* **SimHash** — 16/32-bit sign-of-sums fingerprint; near-dups =
  fingerprint pairs within ``max_hamming`` (bit_count(xor)).
* **embedding cosine** — semantic near-dup over the embedding column;
  exact pairwise here, IVF/LSH-pruned in ``operators.ivf`` at scale.

All hashing goes through ``functions.hashing.stable_hash64`` (md5-based)
so the DuckDB oracle reproduces every bucket and signature bit-for-bit.
Everything is whole-stage-codegen'd expressions except the two
row-local fingerprint passes (MinHash signatures, SimHash), which run
as map-only Arrow batches with per-worker hash caches — bit-exact
Python replicas of the same md5 primitives (``functions/pytext.py``),
proven row-equal to their kept expression forms in
``tests/test_dedup.py``.  No row-at-a-time UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_vector_db___ai_spark.functions.hashing import md5_hex, stable_hash64
from python_vector_db___ai_spark.functions.vector import cosine_similarity

# Per-worker bound on the MinHash shingle-hash cache.  At ~200 B/entry
# (50-100 B shingle key + int + dict slot), 2^18 entries is ~50 MB per
# Python worker → ~1.6 GB across local[32], which fits beside the 8 GB
# JVM heap the bench runs with.  (2^20 would permit ~6 GB aggregate
# Python RSS on wide-vocabulary corpora.)
SHINGLE_CACHE_MAX = 1 << 18


def words_col(text: Column) -> Column:
    """Lower-cased whitespace tokens, empty strings dropped."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != "")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    ``n=1`` degenerates to the distinct word set.  Built from
    ``sequence`` + ``slice`` + ``concat_ws`` — pure expressions.  The
    word array is let-bound (``functions/expr.py``) so the slicing
    lambda reads a bound variable instead of re-tokenizing the text
    once per gram position (interpreted lambdas have no invariant
    hoisting — the inline form was O(words²) per doc).
    """
    from python_vector_db___ai_spark.functions.expr import let

    if n == 1:
        return F.array_distinct(words_col(text))

    def build(ws: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        )
        # sequence(1, x) counts DOWN when x < 1 — guard short texts.
        return F.when(F.size(ws) >= n, F.array_distinct(grams)) \
                .otherwise(F.array().cast("array<string>"))

    return let(words_col(text), build)


def exact_dedup_flags(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: every row annotated with its group
    hash, group size, and whether it is the canonical (min-id) member.

    A NULL text has no content to match: its row comes out with a NULL
    ``content_hash``, ``group_size`` 1 and ``is_canonical`` true (kept,
    never counted as a duplicate).

    Keep ``is_canonical`` rows to dedup; one hash-shuffle total.
    """
    hashed = df.select(F.col(id_col), md5_hex(F.col(text_col)).alias("content_hash"))
    groups = (hashed.groupBy("content_hash")
              .agg(F.count("*").cast("long").alias("group_size"),
                   F.min(id_col).alias("_keep")))
    no_text = F.col("content_hash").isNull()
    return (hashed.join(groups, "content_hash", "left")
            .select(id_col, "content_hash",
                    F.when(no_text, F.lit(1).cast("long"))
                    .otherwise(F.col("group_size")).alias("group_size"),
                    (no_text | (F.col(id_col) == F.col("_keep")))
                    .alias("is_canonical")))


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, text_col: str = "text",
                        id_col: str = "doc_id",
                        max_df: int | None = 1000) -> DataFrame:
    """All (i < j) pairs sharing >= 1 retained shingle, with exact
    Jaccard over the retained n-gram shingle sets.  Returns
    ``(i, j, jaccard)``.

    ``max_df`` drops shingles occurring in more than that many docs
    before the join — the stop-shingle trick: a single ubiquitous
    shingle otherwise turns the postings self-join quadratic at scale.
    The bound is ON by default (1000); pass ``None`` only for small
    diagnostic corpora where unbounded fan-out is acceptable.
    """
    sh = df.select(F.col(id_col).alias("_id"),
                   F.explode(word_shingles(F.col(text_col), n)).alias("sh"))
    if max_df is not None:
        dfreq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
        sh = (sh.join(dfreq.filter(F.col("_df") <= max_df), "sh")
              .select("_id", "sh"))
    sizes = sh.groupBy("_id").agg(F.count("*").cast("long").alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, "sh")
             .filter(F.col("a._id") < F.col("b._id"))
             .groupBy(F.col("a._id").alias("i"), F.col("b._id").alias("j"))
             .agg(F.count("*").cast("long").alias("inter")))
    return (inter
            .join(sizes.select(F.col("_id").alias("i"), F.col("sz").alias("sza")), "i")
            .join(sizes.select(F.col("_id").alias("j"), F.col("sz").alias("szb")), "j")
            .select("i", "j",
                    (F.col("inter").cast("double")
                     / (F.col("sza") + F.col("szb") - F.col("inter"))).alias("jaccard")))


def minhash_signature(df: DataFrame, num_hashes: int = 16,
                      shingle_n: int = 1, text_col: str = "text",
                      id_col: str = "doc_id",
                      hashed_shingles: bool = False,
                      include_shingles: bool = True) -> DataFrame:
    """Per-doc MinHash signature as a MAP-ONLY Arrow pass — zero
    shuffles: ``sig[k] = min over shingles of (a_k * h30(shingle) +
    b_k) mod P`` — ONE md5 per distinct shingle (the 30-bit base
    hash), then ``num_hashes`` Carter-Wegman affine maps
    (``functions/hashing.py: minhash_consts``).  Returns
    ``(_id, shingles, sig)`` (shingles NULL for NULL text, sig
    all-NULL for shingle-less docs, matching the expression form).

    ``hashed_shingles=True`` swaps the string-shingle column for
    ``sh64`` — the DISTINCT full-64-bit ``stable_hash64`` values of
    the shingles (sorted) — the lean verify-set representation: at
    ~100 shingles/doc the column is ~800 B of longs instead of ~2 KB
    of strings, which shrinks the signature cache AND (the real win)
    the per-pair shuffle volume of the Jaccard verify join ~2.5×.
    Jaccard over the hashed sets equals Jaccard over the strings
    absent 64-bit collisions (same documented trade as
    ``quality.crossdoc_dup_ngrams``; the md5-derived ``stable_hash64``
    is DuckDB-replayable if an oracle ever needs the hashed form).

    ``include_shingles=False`` drops the verify-set column entirely —
    ``(_id, sig)`` only — for callers that never verify from the
    signature frame (the narrow standing-index build; see the comment
    on ``op`` below for why pruning can't do this).

    Signing is row-local, so the right 100-TB plan is one corpus scan.
    The r7 family hashed every (shingle, seed) pair with md5 — 16 md5s
    per distinct shingle — and profiling (r7 directive #4) showed that
    WAS the MinHash pipeline's dominant cost (~80% of 1M-doc wall).
    Here each distinct shingle's base hash is computed once per worker
    and cached (Zipf makes the vocabulary far smaller than the token
    stream); the affine derivation is one vectorized numpy broadcast
    per doc.  The Python side replays the Java ``\\s`` tokenizer,
    ``array_distinct`` order, and ``stable_hash64`` bit-exactly via
    ``functions/pytext.py``, so the DuckDB oracles keep hash-matching.
    Row-equality with the expression form is locked in
    ``tests/test_dedup.py``.
    """
    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.functions.hashing import (
        MINHASH_MASK,
        MINHASH_P,
        minhash_consts,
    )
    from python_vector_db___ai_spark.functions.pytext import (
        stable_hash64_py,
        word_shingles_py,
    )

    consts = minhash_consts(num_hashes)
    A = np.array([a for a, _ in consts], dtype=np.int64)
    B = np.array([b for _, b in consts], dtype=np.int64)
    hash_cache: dict[str, int] = {}

    sh_col = "sh64" if hashed_shingles else "shingles"
    sh_type = "array<bigint>" if hashed_shingles else "array<string>"
    none_sig = [None] * num_hashes

    # ``include_shingles=False`` emits only (_id, sig) — the narrow
    # standing-index build (save_minhash_index persists exactly these
    # two columns anyway, and skipping the shingle column here also
    # skips Arrow-transferring ~2 KB of strings per doc from the
    # Python workers: corpus-sized traffic the index build never
    # needed).  Downstream column pruning can NOT do this — the
    # mapInPandas schema is fixed, so an unused column is still
    # computed and serialized by every worker.
    #
    # BATCHED since r14 (guide §4.2: hand whole batches to vectorized
    # native code).  The r13 kernel ran one (m, k) affine broadcast +
    # min + Python-int conversion PER DOC — at ~52 shingles/doc the
    # numpy call overhead dominated the arithmetic (profiled 176 µs/doc
    # total, of which only ~58 µs was the md5 loop).  Now the batch's
    # base hashes go through a CHUNKED (≤8192-shingle) affine pass +
    # ``minimum.reduceat`` segment-min; list conversions use
    # ``.tolist()`` (C loop) instead of per-element ``int(x)``.
    # Chunking matters: a whole-batch (Σm, k) affine allocates
    # ~70 MB×4 of int64 temporaries per 10k-doc batch, and with 32
    # concurrent Python workers that thrashed memory so badly the 1M
    # sweep read sign=62 s (vs 7.9 committed); ≤1 MB chunk temps stay
    # cache-resident and time at 0.06 s per batch where the per-doc
    # loop took 0.45 s.  Values are bit-identical: same int64
    # arithmetic, same per-doc segments (row-equality with the
    # expression form stays pinned in ``tests/test_dedup.py``).
    affine_chunk = 8192

    def op(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            sh_lists = [word_shingles_py(t, shingle_n)
                        for t in pdf[text_col]]
            if len(hash_cache) > SHINGLE_CACHE_MAX:   # bound worker memory
                hash_cache.clear()
            flat: list[int] = []
            append = flat.append
            get = hash_cache.get
            lens = np.empty(len(sh_lists), dtype=np.int64)
            for i, s_list in enumerate(sh_lists):
                if s_list:
                    lens[i] = len(s_list)
                    for s in s_list:
                        h = get(s)
                        if h is None:
                            h = hash_cache[s] = stable_hash64_py(s)
                        append(h)
                else:
                    lens[i] = 0
            full = np.array(flat, dtype=np.int64)
            sigs: list = [none_sig] * len(sh_lists)
            nz = np.flatnonzero(lens)
            if nz.size:
                ends = np.cumsum(lens)
                starts = (ends - lens)[nz]
                seg_ends = ends[nz]
                n_seg = len(nz)
                mins = np.empty((n_seg, num_hashes), dtype=np.int64)
                i0 = 0
                while i0 < n_seg:
                    # group whole segments until ~affine_chunk shingles
                    i1 = i0
                    lim = starts[i0] + affine_chunk
                    while i1 < n_seg and seg_ends[i1] <= lim:
                        i1 += 1
                    if i1 == i0:      # one segment larger than a chunk
                        i1 = i0 + 1
                    lo, hi = starts[i0], seg_ends[i1 - 1]
                    hs = full[lo:hi] & MINHASH_MASK
                    # (m, 1) * (k,) -> (m, k); values < 2^62: exact
                    # int64, in-place += / %= to avoid extra temps.
                    aff = hs[:, None] * A
                    aff += B
                    aff %= MINHASH_P
                    mins[i0:i1] = np.minimum.reduceat(
                        aff, starts[i0:i1] - lo, axis=0)
                    i0 = i1
                mins_l = mins.tolist()
                for row, j in enumerate(nz):
                    sigs[j] = mins_l[row]
            cols = {"_id": pdf[id_col].to_numpy()}
            if include_shingles:
                if hashed_shingles:
                    # FULL 64-bit hashes for the verify-set column:
                    # the 30-bit MinHash base would spuriously
                    # intersect at corpus-scale vocabularies
                    # (m²/2³¹ collisions).
                    ends_l = ends.tolist() if nz.size else []
                    sh_out: list = [s_list if s_list is None else []
                                    for s_list in sh_lists]
                    for j in nz:
                        seg = full[ends_l[j] - int(lens[j]):ends_l[j]]
                        sh_out[j] = np.unique(seg).tolist()
                    cols[sh_col] = sh_out
                else:
                    cols[sh_col] = sh_lists
            cols["sig"] = sigs
            yield pd.DataFrame(cols)

    schema = (f"_id long, {sh_col} {sh_type}, sig array<long>"
              if include_shingles else "_id long, sig array<long>")
    return df.select(id_col, text_col).mapInPandas(op, schema=schema)


def minhash_signature_expr(df: DataFrame, num_hashes: int = 16,
                           shingle_n: int = 1, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Pure-expression form of :func:`minhash_signature` — the
    whole-stage-codegen'd differential reference (and the shape the
    SQL oracles replicate)."""
    from python_vector_db___ai_spark.functions.hashing import (
        MINHASH_P,
        minhash_base,
        minhash_consts,
    )

    sh = word_shingles(F.col(text_col), shingle_n)

    def _affine(a: int, b: int):
        # NB: a default-arg lambda won't do — PySpark passes the array
        # index to any second lambda parameter.
        return lambda h: (F.lit(a).cast("long") * h + F.lit(b)) \
            % F.lit(MINHASH_P)

    # Three-step select: the shingle expression (split + filter +
    # n-gram transform) is aliased ONCE, the md5 base-hash array is
    # aliased ONCE, and the 16 min-affine expressions read the alias.
    # Inlining would make each row re-tokenize (and re-md5) the text
    # 16 times — CollapseProject keeps the aliases because they are
    # referenced many times and the expressions are non-cheap.
    base = df.select(F.col(id_col).alias("_id"), sh.alias("shingles"))
    hashed = base.select(
        "_id", "shingles",
        F.transform(F.col("shingles"), minhash_base).alias("_h30"))
    sig = F.array(*[
        F.array_min(F.transform(F.col("_h30"), _affine(a, b)))
        for a, b in minhash_consts(num_hashes)
    ])
    return hashed.select("_id", "shingles", sig.alias("sig"))


def _band_frame(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """LSH banding of a signature frame: ``(_id, band, bucket)`` where
    the bucket keys the band's hash slice.

    The bucket is only ever compared for EQUALITY (same band, same
    bucket → candidate pair), so any injective-enough function of the
    slice induces the same candidate sets: the engine uses
    ``xxhash64`` over the joined slice (8-byte shuffle key, JVM
    codegen) while the DuckDB oracles keep ``md5`` of the same string
    — both collapse exactly the equal slices (a cross-engine VALUE
    match is never required because buckets stay internal).  The
    ``_``-join is unambiguous: signature values are decimal digits, so
    the separator cannot collide across slot boundaries."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        band_slice = F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        band_cols.append(F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.concat_ws("_", *[band_slice[i] for i in range(rows_per_band)]))
            .alias("bucket")))
    return (sigs.select("_id",
                        F.explode(F.array(*band_cols)).alias("bb"))
            .select("_id", "bb.band", "bb.bucket"))


def minhash_build_index(corpus: DataFrame, num_hashes: int = 16,
                        bands: int = 4, shingle_n: int = 1,
                        text_col: str = "text",
                        id_col: str = "doc_id"
                        ) -> tuple[DataFrame, DataFrame]:
    """The standing corpus-side LSH index as two parquet-writable
    frames: ``(sigs, banded)`` — per-doc shingle sets + signatures,
    and the banded bucket table the increment equi-joins against.
    Persist with :func:`save_minhash_index`; a daily dedup job then
    never re-signs the corpus (build once per corpus version, exactly
    like the ANN artifacts in ``index_store``)."""
    sigs = minhash_signature(corpus, num_hashes, shingle_n,
                             text_col, id_col)
    return sigs, _band_frame(sigs, num_hashes, bands)


def save_minhash_index(sigs: DataFrame, path: str,
                       num_hashes: int = 16,
                       bands: int = 4,
                       stage_timings: dict | None = None,
                       ) -> tuple[DataFrame, DataFrame]:
    """Write the corpus LSH index: NARROW signatures (``_id`` + the
    ``num_hashes``-long ``sig`` array — nothing else), plus the bucket
    table partitioned by band (so an increment probing one band prunes
    the others' files).  The banded table is derived from the PERSISTED
    signatures (write → reload → band → write), so the signature pass
    runs exactly once and nothing corpus-sized is cached during the
    build — r10: caching the two corpus-sized frames on a heap already
    holding the docs cache made the 2M-doc index build swing 17–77 s
    run-to-run from eviction/GC pressure; the disk-backed build is
    stable and IS the production artifact path.  Returns the loaded
    ``(sigs, banded)`` pair, ready for
    :func:`minhash_incremental_flags`'s ``corpus_index``.

    Why narrow (r11 VERDICT directive #2): the r11 index persisted the
    per-doc SHINGLE SETS next to the signatures so the probe's Jaccard
    verify could read them back — but the shingle column is
    corpus-text-sized (≈5× the bytes of the signature array: 52.7 MB
    vs 10.4 MB at 100k bench docs), and that corpus-sized write was
    exactly where the 2M build's 14.5–31.6 s same-code spread lived.
    An index stores signatures; the verify step fetches the FEW
    candidate docs' text from the corpus at probe time instead
    (:func:`minhash_incremental_flags` recomputes shingles for
    candidate ids only — string-exact Jaccard, values identical to the
    in-flight path, locked by ``tests/test_index_store.py``).  Any
    extra column on ``sigs`` (``shingles``/``sh64``) is dropped at
    write time.

    ``stage_timings``, when a dict, receives the build split (r10
    VERDICT directive #3): ``sigs_write_sec`` (the shingle/sign pass +
    the signature parquet write), ``band_write_sec`` (reload sigs from
    disk, band, partitioned bucket-table write), ``reload_sec`` (lazy
    reader construction, ~0), plus ``sigs_files``/``bands_files``
    part-file counts and ``sigs_bytes``/``bands_bytes`` on-disk sizes
    (the narrowing claim must be auditable from the artifact).  The
    file/byte walk assumes a LOCAL filesystem path — on hdfs://s3a://
    URIs the parquet writes succeed but the os.walk probe reports 0."""
    import time as _time

    t0 = _time.perf_counter()
    sigs.select("_id", "sig").write.parquet(f"{path}/sigs",
                                            mode="overwrite")
    t1 = _time.perf_counter()
    spark = sigs.sparkSession
    disk_sigs = spark.read.parquet(f"{path}/sigs")
    _band_frame(disk_sigs, num_hashes, bands) \
        .write.partitionBy("band").parquet(f"{path}/bands",
                                           mode="overwrite")
    t2 = _time.perf_counter()
    out = load_minhash_index(spark, path)
    t3 = _time.perf_counter()
    if stage_timings is not None:
        import os as _os

        def _nfiles(root: str) -> int:
            return sum(1 for _, _, fs in _os.walk(root)
                       for f in fs if f.endswith(".parquet"))

        def _nbytes(root: str) -> int:
            return sum(_os.path.getsize(_os.path.join(r, f))
                       for r, _, fs in _os.walk(root) for f in fs
                       if f.endswith(".parquet"))

        stage_timings["sigs_write_sec"] = round(t1 - t0, 3)
        stage_timings["band_write_sec"] = round(t2 - t1, 3)
        stage_timings["reload_sec"] = round(t3 - t2, 3)
        stage_timings["sigs_files"] = _nfiles(f"{path}/sigs")
        stage_timings["bands_files"] = _nfiles(f"{path}/bands")
        stage_timings["sigs_bytes"] = _nbytes(f"{path}/sigs")
        stage_timings["bands_bytes"] = _nbytes(f"{path}/bands")
    return out


def load_minhash_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    banded = spark.read.parquet(f"{path}/bands") \
        .select("_id", F.col("band").cast("int"), "bucket")
    return spark.read.parquet(f"{path}/sigs"), banded


def minhash_incremental_flags(new_docs: DataFrame, corpus: DataFrame,
                              num_hashes: int = 16, bands: int = 4,
                              shingle_n: int = 1,
                              verify_threshold: float = 0.9,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              corpus_index: tuple[DataFrame, DataFrame]
                              | None = None) -> DataFrame:
    """Incremental (new-batch vs. existing-corpus) MinHash dedup —
    the continual-ingest shape a production pipeline actually runs
    daily: only the increment is signed and banded fresh; the corpus
    side is the standing LSH index (pass the persisted artifact as
    ``corpus_index`` = :func:`load_minhash_index` output; without it
    the index is recomputed in-flight, the oracle-checked
    configuration).

    Candidates come from an equi-join of the increment's band buckets
    against the corpus index — cost scales with the INCREMENT, never
    corpus², which is what makes dedup sustainable when the corpus is
    100 TB and the day's crawl is 0.1% of it.  Each candidate is
    Jaccard-verified on true shingle sets; the per-doc best match
    rounds before ranking with a corpus-id tie-break.

    Verify-set sourcing: a :func:`save_minhash_index` artifact is
    NARROW (``_id`` + ``sig`` only — r11 directive #2: persisting
    corpus-sized shingle sets was the index build's variance source),
    so when the corpus index carries no shingle column the corpus
    side's shingle sets are recomputed AT PROBE TIME for the candidate
    ids only — a semi-join of the corpus text down to the (increment-
    fan-in-sized) candidate set, then the same ``word_shingles``
    expression the signer tokenizes with.  String-exact Jaccard either
    way; values are identical to the in-flight path
    (``tests/test_index_store.py`` roundtrip).  An index frame that
    DOES carry ``shingles`` (e.g. :func:`minhash_build_index` output
    passed straight through) is used as-is, skipping the recompute.

    Returns one row per new doc: ``(doc_id, n_candidates, n_dups,
    best_match, best_jaccard, is_dup)``.
    """
    cached: list[DataFrame] = []
    new_sigs = minhash_signature(new_docs, num_hashes, shingle_n,
                                 text_col, id_col).cache()
    cached.append(new_sigs)
    if corpus_index is not None:
        corp_sigs, corp_banded = corpus_index
    else:
        corp_sigs = minhash_signature(corpus, num_hashes, shingle_n,
                                      text_col, id_col).cache()
        cached.append(corp_sigs)
        corp_banded = _band_frame(corp_sigs, num_hashes, bands)
    cand = (_band_frame(new_sigs, num_hashes, bands).alias("a")
            .join(corp_banded.alias("b"),
                  ["band", "bucket"])
            .select(F.col("a._id").alias("i"), F.col("b._id").alias("j"))
            .distinct())
    if "shingles" in corp_sigs.columns:
        corp_verify = corp_sigs.select(F.col("_id").alias("j"),
                                       F.col("shingles").alias("shb"))
    else:
        # Narrow standing index: fetch candidate docs' text from the
        # corpus (semi-join — only candidate rows survive the scan)
        # and re-shingle just those.  Cost ∝ candidates, not corpus.
        # `cand` is consumed twice on this path (the semi-join's id
        # list here and the verify join below) — cache it so the
        # increment-vs-corpus bucket join + distinct runs once (r12
        # ADVICE; same lifetime convention as new_sigs above).
        cand = cand.cache()
        cached.append(cand)
        cand_js = cand.select(F.col("j").alias(id_col)).distinct()
        corp_verify = (corpus.join(cand_js, id_col, "semi")
                       .select(F.col(id_col).alias("j"),
                               word_shingles(F.col(text_col), shingle_n)
                               .alias("shb")))
    verified = (cand
                .join(new_sigs.select(F.col("_id").alias("i"),
                                      F.col("shingles").alias("sha")), "i")
                .join(corp_verify, "j")
                .select("i", "j",
                        F.round(F.size(F.array_intersect("sha", "shb"))
                                .cast("double")
                                / F.size(F.array_union("sha", "shb")), 6)
                        .alias("jr")))
    per_doc = verified.groupBy("i").agg(
        F.count("*").cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("jr") >= verify_threshold, 1).otherwise(0))
        .cast("long").alias("n_dups"))
    w = Window.partitionBy("i").orderBy(F.col("jr").desc(), F.col("j").asc())
    best = (verified.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("i", F.col("j").alias("best_match"),
                    F.col("jr").alias("best_jaccard")))
    out = (new_sigs.select(F.col("_id").alias("i"))
           .join(per_doc, "i", "left").join(best, "i", "left")
           .select(F.col("i").alias(id_col),
                   F.coalesce("n_candidates", F.lit(0)).cast("long")
                   .alias("n_candidates"),
                   F.coalesce("n_dups", F.lit(0)).cast("long")
                   .alias("n_dups"),
                   "best_match", "best_jaccard",
                   F.coalesce(F.col("best_jaccard") >= verify_threshold,
                              F.lit(False)).alias("is_dup")))
    # Live cache handles (increment sigs, optional in-flight corpus
    # sigs, optional candidate frame) ride along on the result so a
    # long-running ingest loop can unpersist them once the returned
    # frame is materialized — the per-call caches would otherwise
    # accumulate in executor storage for the session's lifetime (r13
    # ADVICE; same handle convention as ``_cached_frames`` in
    # :func:`pop_cached_frames`).
    out._cached_frames = cached
    return out


def pop_cached_frames(stage_timings: dict) -> list[DataFrame]:
    """Strip the reserved ``_cached_frames`` key (live DataFrame
    handles :func:`minhash_lsh_pairs` exposes in profile mode so the
    caller can unpersist them between reps) from a ``stage_timings``
    dict, returning the frames.  Call this before JSON-serializing the
    dict — the handles are not serializable and would otherwise pin
    executor cache memory for as long as the dict lives."""
    return stage_timings.pop("_cached_frames", [])


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 1, text_col: str = "text",
                      id_col: str = "doc_id",
                      verify_threshold: float | None = None,
                      max_bucket: int | None = None,
                      stage_timings: dict | None = None,
                      prune_candidate_ids: bool = False,
                      exact_strings: bool = False) -> DataFrame:
    """LSH-banded candidate pairs with estimated and true Jaccard.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows;
    band bucket = md5 of the band's hash values; candidates = distinct
    (i < j) sharing any bucket.  Returns
    ``(i, j, est_jaccard, jaccard)``, optionally filtered to
    ``jaccard >= verify_threshold``.

    ``exact_strings``: by default the Jaccard VERIFY join carries each
    side's shingle set as DISTINCT 64-bit ``stable_hash64`` values
    (``minhash_signature(hashed_shingles=True)``) — ~2.5× less shuffle
    volume per candidate pair and long-vs-long set intersection, the
    knob that matters when candidate pairs grow with duplicate-family
    size (the 2M-doc sweep's verify stage shuffles millions of pairs).
    Jaccard values are identical to the string form absent 64-bit
    collisions (same documented trade, same escape hatch, as
    ``crossdoc_dup_ngrams``); ``exact_strings=True`` keeps the
    string-keyed verify for the oracle-gated registered queries, and
    the two forms are proven pair-identical on the fixture corpus in
    ``tests/test_dedup.py``.

    ``max_bucket`` drops band buckets holding more than that many docs
    BEFORE the self-join — the stop-bucket treatment every
    production-scale MinHash dedup needs (same idea as the ``max_df``
    stop-shingle cap in :func:`ngram_jaccard_pairs`): a degenerate
    bucket of ``g`` docs alone contributes ``g·(g-1)/2`` candidate
    pairs, so one hot bucket can dominate the whole job's shuffle.
    Pairs inside a dropped bucket usually still surface through one of
    the other ``bands-1`` bucketings; truly identical docs belong to
    the exact-dup (content-hash) pass anyway.  ``None`` (default)
    keeps every bucket — the oracle-checked configuration of the
    registered queries.

    ``stage_timings`` (optional dict) is filled with ``sign_sec``,
    ``band_sec`` and ``n_candidates`` by materializing each stage —
    profiling mode for the bench sweep; leave ``None`` in production
    plans (no extra barriers).  Round-8 profiling finding (r7
    directive #4): SIGNING dominated — ~80% of the 1M-doc wall went
    to the 16-md5s-per-shingle hash family, now replaced by one md5 +
    affine derivation (see :func:`minhash_signature`); banding + the
    capped self-join is join-bound at parquet-scan speed, and the
    verify join is minor because the signature frame is already
    cached.

    ``prune_candidate_ids=True`` semi-joins the signature frame down
    to the ids that survive banding before the verify join — the
    right call on a real cluster where candidates are a sliver of the
    corpus (the verify join then never shuffles corpus-sized shingle
    arrays).  OFF by default: in the copy-salted bench corpus banding
    marks most docs as candidates, so the prune measured neutral at
    1M docs (48–81 s, within run variance of 48–55 s without) while
    adding heap pressure at the 8g local bench config.
    """
    import time as _time

    # The signature frame feeds banding AND both sides of the verify
    # join — cache it so the 16 md5 min-hashes run once per doc.  (At
    # cluster scale this would be a checkpoint/table write instead.)
    sigs = minhash_signature(df, num_hashes, shingle_n, text_col, id_col,
                             hashed_shingles=not exact_strings) \
        .cache()
    cached = [sigs]
    sh_col = "shingles" if exact_strings else "sh64"
    if stage_timings is not None:
        t0 = _time.perf_counter()
        sigs.count()
        stage_timings["sign_sec"] = round(_time.perf_counter() - t0, 3)
    banded = _band_frame(sigs, num_hashes, bands)
    if max_bucket is not None:
        keep = (banded.groupBy("band", "bucket")
                .agg(F.count("*").alias("_bn"))
                .filter(F.col("_bn") <= max_bucket)
                .select("band", "bucket"))
        banded = banded.join(keep, ["band", "bucket"])
    cand = (banded.alias("a")
            .join(banded.alias("b"), ["band", "bucket"])
            .filter(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("i"), F.col("b._id").alias("j"))
            .distinct())
    if stage_timings is not None:
        # cache only in profile mode: the count barrier would otherwise
        # recompute the banding self-join for the verify pass.
        cand = cand.cache()
        cached.append(cand)
        t0 = _time.perf_counter()
        stage_timings["n_candidates"] = cand.count()
        stage_timings["band_sec"] = round(_time.perf_counter() - t0, 3)
        # Spark's cache manager matches by CANONICALIZED PLAN, not by
        # DataFrame object — a later rebuild of the same pipeline over
        # the same input silently reads these entries (r11 finding:
        # sweep rep 2/3 signed 2M docs in 0.06 s because rep 1's sigs
        # cache was still resident).  Hand the internal cached frames
        # to the profiling caller so it can unpersist between reps.
        # "_cached_frames" is a RESERVED key holding live DataFrame
        # handles — strip it with :func:`pop_cached_frames` before
        # JSON-serializing the dict (r11 ADVICE).
        stage_timings["_cached_frames"] = cached
    src = sigs
    if prune_candidate_ids:
        ids = (cand.select(F.col("i").alias("_id"))
               .union(cand.select(F.col("j").alias("_id")))
               .distinct())
        src = sigs.join(ids, "_id", "left_semi")
    left = src.select(F.col("_id").alias("i"), F.col(sh_col).alias("sha"),
                      F.col("sig").alias("siga"))
    right = src.select(F.col("_id").alias("j"), F.col(sh_col).alias("shb"),
                       F.col("sig").alias("sigb"))
    est = (F.size(F.filter(F.zip_with(F.col("siga"), F.col("sigb"),
                                      lambda x, y: x == y), lambda m: m))
           .cast("double") / num_hashes)
    true_j = (F.size(F.array_intersect(F.col("sha"), F.col("shb"))).cast("double")
              / F.size(F.array_union(F.col("sha"), F.col("shb"))))
    out = (cand.join(left, "i").join(right, "j")
           .select("i", "j", est.alias("est_jaccard"), true_j.alias("jaccard")))
    if verify_threshold is not None:
        out = out.filter(F.col("jaccard") >= verify_threshold)
    # The caches ride on the result (same handle convention as
    # :func:`minhash_incremental_flags`): :func:`dedup_components`
    # unpersists them once it has read its edge list, and any other
    # consumer can do the same after materializing ``out``.
    out._cached_frames = cached
    return out


def simhash_fingerprints(df: DataFrame, bits: int = 16,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash as a single MAP-ONLY Arrow pass — zero
    shuffles.  Returns ``(id_col, simhash)`` (NULL for wordless docs,
    matching the agg form's dropped-then-left-joined rows).

    The fingerprint is row-local (a function of one doc's own word
    counts), so the right 100-TB plan is one scan with per-batch
    counting, not explode → groupBy(doc, word) → groupBy(doc) (two
    shuffles of the exploded vocabulary; kept below as
    :func:`simhash_fingerprints_agg`, proven row-equal in
    ``tests/test_dedup.py``).  The Python side replays
    ``stable_hash64`` and the Java ``\\s`` tokenizer bit-exactly
    (``functions/pytext.py``), so the DuckDB oracle keeps
    hash-matching; the md5 is still computed once per distinct
    (doc, word) with ±count weighting.
    """
    import numpy as np
    import pandas as pd
    from collections import Counter

    from python_vector_db___ai_spark.functions.pytext import (
        java_ws_split,
        stable_hash64_py,
    )

    hash_cache: dict[str, int] = {}
    bit_idx = np.arange(bits, dtype=np.int64)

    # BATCHED since r14 (guide §4.2): the r13 kernel ran a Python
    # inner loop of ``bits`` (16) sum updates per DISTINCT WORD — ~720
    # interpreted ops per doc, ~4.6 ms/doc.  Now each batch flattens
    # every doc's (word-hash, count) pairs and computes all per-bit
    # ±count sums in one chunked numpy pass: ``(h >> j) & 1`` selects
    # the sign, ``add.reduceat`` folds per-doc segments.  Integer
    # arithmetic throughout (exact), same md5-once-per-distinct-word
    # caching — row-equality with the explode+agg form stays pinned in
    # ``tests/test_dedup.py``.
    chunk = 8192

    def op(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            n_rows = len(pdf)
            hashes: list[int] = []
            counts: list[int] = []
            happend, cappend = hashes.append, counts.append
            get = hash_cache.get
            lens = np.zeros(n_rows, dtype=np.int64)
            if len(hash_cache) > (1 << 20):   # bound worker memory
                hash_cache.clear()
            for i, t in enumerate(pdf[text_col]):
                if t is None:   # NULL text — the agg form's explode
                    continue    # drops the row; callers left-join NULL
                words = java_ws_split(t)
                if not words:
                    continue
                cnt = Counter(words)
                lens[i] = len(cnt)
                for w, c in cnt.items():
                    h = get(w)
                    if h is None:
                        h = hash_cache[w] = stable_hash64_py(w)
                    happend(h)
                    cappend(c)
            out = np.full(n_rows, np.int64(0))
            mask = lens > 0
            nz = np.flatnonzero(mask)
            if nz.size:
                H = np.array(hashes, dtype=np.int64)
                C = np.array(counts, dtype=np.int64)
                ends = np.cumsum(lens)
                starts = (ends - lens)[nz]
                seg_ends = ends[nz]
                n_seg = len(nz)
                sums = np.empty((n_seg, bits), dtype=np.int64)
                i0 = 0
                while i0 < n_seg:
                    i1 = i0
                    lim = starts[i0] + chunk
                    while i1 < n_seg and seg_ends[i1] <= lim:
                        i1 += 1
                    if i1 == i0:
                        i1 = i0 + 1
                    lo, hi = starts[i0], seg_ends[i1 - 1]
                    # ±count per bit: (2*bit - 1) * count, exact int64
                    sgn = (((H[lo:hi, None] >> bit_idx) & 1) * 2 - 1)
                    sgn *= C[lo:hi, None]
                    sums[i0:i1] = np.add.reduceat(
                        sgn, starts[i0:i1] - lo, axis=0)
                    i0 = i1
                out[nz] = ((sums > 0).astype(np.int64)
                           << bit_idx).sum(axis=1)
            # masked constructor instead of a per-row listcomp (r15:
            # 4.7 ms -> 0.004 ms per 10k-row batch, bit-equal; the
            # mask argument marks NA positions)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "simhash": pd.arrays.IntegerArray(out, ~mask)})

    return df.select(id_col, text_col).mapInPandas(
        op, schema=f"{id_col} long, simhash long")


def simhash_fingerprints_agg(df: DataFrame, bits: int = 16,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """The explode + hash-agg form of :func:`simhash_fingerprints` —
    kept as the differential reference (``tests/test_dedup.py``).
    NB: drops wordless docs entirely (callers left-join), where the
    map-only form emits a NULL row.

    The md5-derived hash is computed once per DISTINCT (doc, word) and
    its ±1 bit contributions weighted by the occurrence count —
    algebraically identical to hashing every occurrence (exact integer
    sums), at one md5 per vocabulary entry instead of per token.
    """
    ws = df.select(F.col(id_col),
                   F.explode(words_col(F.col(text_col))).alias("w"))
    counted = (ws.groupBy(id_col, "w")
               .agg(F.count("*").alias("_cnt"))
               .withColumn("h", stable_hash64(F.col("w"))))
    aggs = [
        F.sum(F.when(F.col("h").bitwiseAND(F.lit(1 << j)) > 0,
                     F.col("_cnt")).otherwise(-F.col("_cnt"))).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = counted.groupBy(id_col).agg(*aggs)
    fp = sum(
        (F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
         for j in range(bits)),
        F.lit(0),
    ).cast("long")
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(df: DataFrame, bits: int = 16, max_hamming: int = 3,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(i < j) fingerprint pairs within ``max_hamming`` bits — EXACT
    result via pigeonhole chunk-blocking, no θ-join.

    The fingerprint splits into ``max_hamming + 1`` bit chunks; two
    fingerprints within ``h`` bits of each other must agree on at least
    one chunk (pigeonhole), so candidates = the equi-join on
    ``(chunk_index, chunk_value)`` and the final bit_count filter only
    verifies candidates.  Lossless, and candidate volume scales with
    bucket occupancy instead of n² — the same banding shape as
    MinHash-LSH.
    """
    n_chunks = max_hamming + 1
    base = bits // n_chunks
    extra = bits % n_chunks        # first `extra` chunks get one more bit
    fps = simhash_fingerprints(df, bits, text_col, id_col)

    # chunk c covers bit offset [off, off + width): value = (fp >> off)
    # & ((1 << width) - 1).  Pure integer expressions, oracle-friendly.
    chunk_structs = []
    off = 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        val = F.shiftright(F.col("simhash"), off).bitwiseAND(
            F.lit((1 << width) - 1))
        chunk_structs.append(F.struct(F.lit(c).alias("ci"), val.alias("cv")))
        off += width
    chunked = (fps.select(F.col(id_col), F.col("simhash"),
                          F.explode(F.array(*chunk_structs)).alias("ch"))
               .select(id_col, "simhash", "ch.ci", "ch.cv"))
    a = chunked.select(F.col(id_col).alias("i"), F.col("simhash").alias("fa"),
                       "ci", "cv")
    b = chunked.select(F.col(id_col).alias("j"), F.col("simhash").alias("fb"),
                       "ci", "cv")
    cand = (a.join(b, ["ci", "cv"])
            .filter(F.col("i") < F.col("j"))
            .select("i", "j", "fa", "fb")
            .distinct())
    return (cand
            .withColumn("hamming",
                        F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("i", "j", "hamming"))


def hashed_word_shingles(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles keyed by ``xxhash64`` — no gram
    string is ever materialized, which shrinks every downstream row to
    one long.  Since r15 each word is hashed ONCE (a bound
    ``transform(words, xxhash64)`` array) and the gram key is
    ``xxhash64`` of the fixed-width long slice — the r8 string-slice
    form hashed every word's bytes ~n times and allocated an n-string
    slice per gram position (guide §2.3/§4.2; measured with the same
    keying on the crossdoc explode: 37.9 → 34.9 s at 2M docs/94M
    grams).  Shingle values differ from the r8 keys but the
    equivalence classes are the same as :func:`word_shingles` modulo
    64-bit collisions (P ~ m²/2⁶⁵ for m distinct grams; the
    oracle-gated queries pin ``exact_strings=True`` and the
    differential test proves the two forms' classes identical on the
    fixture corpus)."""
    from python_vector_db___ai_spark.functions.expr import let

    if n == 1:
        return F.array_distinct(
            F.transform(words_col(text), lambda w: F.xxhash64(w)))

    def build(hs: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(hs) - (n - 1)),
            lambda i: F.xxhash64(F.slice(hs, i, n)),
        )
        return F.when(F.size(hs) >= n, F.array_distinct(grams)) \
                .otherwise(F.array().cast("array<bigint>"))

    # let-bound hashed words: the slicing lambda must not re-tokenize
    # (or re-hash) per gram position (word_shingles / functions/expr).
    return let(F.transform(words_col(text), lambda w: F.xxhash64(w)),
               build)


def decontaminate(train: DataFrame, benchmark: DataFrame, n: int = 5,
                  min_hits: int = 1, text_col: str = "text",
                  id_col: str = "doc_id",
                  exact_strings: bool = False) -> DataFrame:
    """Training-data decontamination: flag training documents whose
    word-``n``-gram shingles overlap a held-out benchmark/eval set
    (the standard pretraining-corpus n-gram decontamination check).

    Postings-shaped: explode shingles on both sides, equi-join on the
    shingle key (the fixed-size benchmark side broadcasts — asserted
    in ``tests/test_plans.py``), aggregate per training doc — the same
    inverted-index layout as the Jaccard dedup, so it scales as the
    sum of postings-list sizes, never pairs.  Returns one row per
    contaminated training doc:
    ``(id_col, n_hit_shingles, n_benchmark_docs, contamination)``
    where ``contamination`` = hit shingles / doc's distinct shingles.

    r10 scale rework (the 2M-doc sweep exposed the training side
    shingling the corpus TWICE — once for sizes, once for postings —
    plus a join back, the same shape the r9 bm25 ``dl`` fix removed):
    the distinct-shingle count now rides THROUGH the explode as a
    column, so the corpus is shingled exactly once and the sizes join
    is gone; and the default shingle key is ``xxhash64`` of the word
    slice (:func:`hashed_word_shingles` — no gram strings), with
    ``exact_strings=True`` keeping the collision-free string form for
    the oracle-gated query.  Measured at 2M docs: 206 → see
    BENCH_FULL ``decontam_ngram_sec``.
    """
    shingles = (word_shingles if exact_strings
                else hashed_word_shingles)
    tr = train.select(F.col(id_col).alias("_tid"),
                      shingles(F.col(text_col), n).alias("_sh"))
    tr_post = tr.select("_tid", F.size("_sh").alias("_nsh"),
                        F.explode("_sh").alias("sh"))
    bm_post = (benchmark
               .select(F.col(id_col).alias("_bid"),
                       F.explode(shingles(F.col(text_col), n))
                       .alias("sh")))
    hits = (tr_post.join(bm_post, "sh")
            .groupBy("_tid", "_nsh")
            .agg(F.countDistinct("sh").cast("long").alias("n_hit_shingles"),
                 F.countDistinct("_bid").cast("long")
                 .alias("n_benchmark_docs")))
    return (hits.filter(F.col("n_hit_shingles") >= min_hits)
            .select(F.col("_tid").alias(id_col), "n_hit_shingles",
                    "n_benchmark_docs",
                    F.round(F.col("n_hit_shingles")
                            / F.greatest(F.col("_nsh"), F.lit(1)), 6)
                    .alias("contamination")))


def dedup_components(pairs: DataFrame, ids: DataFrame, rounds: int = 5,
                     id_col: str = "doc_id",
                     convergence_check: bool = True) -> DataFrame:
    """Connected components of the near-dup pair graph — the step that
    turns pairwise dedup output into actionable *groups* (keep one doc
    per component, drop the rest), which is how MinHash dedup is
    actually applied to a pretraining corpus.

    Bounded-round **min-label propagation**: every doc starts labeled
    with its own id; each round replaces the label with the minimum
    over itself and its neighbors' labels.  ``rounds`` is a fixed
    contract (not convergence-detected), so the result is deterministic
    and a SQL oracle can replay the exact same unrolled iteration.
    After ``r`` rounds every doc within ``r`` hops of its component's
    minimum id has adopted it; near-dup components are dense (verified
    pairs are near-cliques), so small ``rounds`` converges.  The
    alternating large-star/small-star scheme (Kiveris et al., SoCC
    2014) drops in here if chain diameters ever grow beyond ``rounds``.

    With ``convergence_check`` (default), one extra propagation round
    runs after the loop and a global ``converged`` column reports
    whether any label would still change — a graph with diameter >
    ``rounds`` no longer under-merges *silently*; the caller sees the
    flag and can raise ``rounds``.

    Returns ``(id_col, component_id, component_size, is_canonical[,
    converged])`` for every non-null id in ``ids`` (singletons form
    their own component).  Precondition: ``ids`` is distinct (every
    caller passes a key column); component sizes count distinct ids.

    Labels exist only for ids, so the pairs are first restricted to
    those whose two endpoints are both in ``ids`` — the rows are those
    of the unrestricted graph.  That edge list is materialized once (a
    lazy ``localCheckpoint``, so the upstream pair generator runs once
    whichever path follows) and at most ``SMALL_SIDE_CAP + 1`` of its
    rows are read back as Arrow:

    * **Driver path** (edges fit the cap — every ingest batch, the
      registered query, the 250k-doc sweep notch): the ``rounds``
      min-label steps and the probe step run in NumPy over the
      edge-touching nodes (an ``np.minimum.at`` scatter per round over
      both edge directions, the same min over self and neighbors as a
      Spark round).  Ids without an edge never change label, so the
      output is ``ids`` LEFT JOIN a broadcast ``(node, label, size)``
      literal table, untouched ids coming out as ``(id, id, 1, true)``,
      and ``converged`` is a literal.  The checkpoint is released
      before returning: no Spark job per round, no state left behind.
    * **Spark path** (more edges than the cap — the 100-TB case): each
      round is one equi-join + one min-aggregation on the id key, and
      each round's label frame is materialized (``localCheckpoint``)
      before the next round reads it.  Without this the round-``r``
      plan embeds the round-``r-1`` plan several times over (the join
      AND the agg AND the convergence probe), so lineage — and
      recompute — grows exponentially in ``rounds``.  A cluster
      deployment would use reliable ``checkpoint()`` instead (same
      semantics, survives executor loss).  Round ``r-1``'s checkpoint
      is released as soon as round ``r``'s is materialized, so what
      stays persisted is what the returned frame reads: the last
      round's labels and, for the convergence probe, the edge list.

    Either path unpersists the caches ``pairs`` hands over as
    ``_cached_frames`` (:func:`minhash_lsh_pairs`' signature cache)
    once the edge list has been read: nothing downstream reads them.

    Both paths give identical rows (differential-tested in
    ``tests/test_properties_dedup.py``).
    """
    from python_vector_db___ai_spark.operators._guards import SMALL_SIDE_CAP

    keys = ids.select(F.col(id_col).alias("_k"))
    und = (pairs.select(F.col("i").alias("_a"), F.col("j").alias("_b"))
           .join(keys, F.col("_a") == F.col("_k"), "left_semi")
           .join(keys, F.col("_b") == F.col("_k"), "left_semi")
           .localCheckpoint(eager=False))
    small = und.limit(SMALL_SIDE_CAP + 1).toArrow()
    if small.num_rows <= SMALL_SIDE_CAP:
        _release_checkpoint(und)
        _release_cached(pairs)
        return _components_on_driver(small, ids, rounds, id_col,
                                     convergence_check)

    edges = (und.unionByName(und.select(F.col("_b").alias("_a"),
                                        F.col("_a").alias("_b")))
             .distinct().localCheckpoint())
    _release_checkpoint(und)
    _release_cached(pairs)
    labels = ids.select(F.col(id_col).alias("_a"),
                        F.col(id_col).cast("long").alias("_label"))

    def _propagate(lbl: DataFrame) -> DataFrame:
        nbr = (edges
               .join(lbl.select(F.col("_a").alias("_b"),
                                F.col("_label").alias("_nl")), "_b")
               .groupBy("_a").agg(F.min("_nl").alias("_mn")))
        return (lbl.join(nbr, "_a", "left")
                .select("_a",
                        F.least(F.col("_label"),
                                F.coalesce(F.col("_mn"), F.col("_label")))
                        .alias("_label")))

    for r in range(rounds):
        nxt = _propagate(labels).localCheckpoint()
        if r:
            _release_checkpoint(labels)
        labels = nxt
    sizes = labels.groupBy("_label").agg(
        F.count("*").cast("long").alias("component_size"))
    out = (labels.join(sizes, "_label")
           .select(F.col("_a").alias(id_col),
                   F.col("_label").alias("component_id"),
                   "component_size",
                   (F.col("_a") == F.col("_label")).alias("is_canonical")))
    if not convergence_check:
        _release_checkpoint(edges)
        return out
    # One extra round: if any label would still move, the graph has
    # diameter > rounds and the grouping is incomplete.  The flag is a
    # 1-row aggregate broadcast onto every output row — an O(1) join.
    nxt = (_propagate(labels)
           .select(F.col("_a"), F.col("_label").alias("_next")))
    conv = (labels.join(nxt, "_a")
            .agg(F.min((F.col("_next") == F.col("_label")).cast("boolean"))
                 .alias("converged")))
    return out.crossJoin(F.broadcast(conv))


def _release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a ``localCheckpoint``-ed frame now,
    instead of whenever a JVM GC lets the ContextCleaner find it."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _release_cached(pairs: DataFrame) -> None:
    """Unpersist the caches a pair generator hands over on its result
    (``_cached_frames``, e.g. :func:`minhash_lsh_pairs`' signatures)."""
    for frame in getattr(pairs, "_cached_frames", ()):
        frame.unpersist()


def _components_on_driver(edges, ids: DataFrame, rounds: int, id_col: str,
                          convergence_check: bool) -> DataFrame:
    """``dedup_components``' rounds in NumPy over a driver-resident
    edge list (an Arrow table of ``_a``/``_b`` pairs, either direction,
    repeats allowed — the min over neighbors ignores both)."""
    import numpy as np
    import pyarrow as pa

    m = edges.num_rows
    nodes, inv = np.unique(np.concatenate([edges.column("_a").to_numpy(),
                                           edges.column("_b").to_numpy()]),
                           return_inverse=True)
    src, dst = inv, np.concatenate([inv[m:], inv[:m]])   # both directions

    def step(lbl):
        nxt = lbl.copy()
        np.minimum.at(nxt, src, lbl[dst])
        return nxt

    labels = nodes.astype(np.int64)
    for _ in range(rounds):
        labels = step(labels)
    _, comp, size = np.unique(labels, return_inverse=True, return_counts=True)
    table = F.broadcast(ids.sparkSession.createDataFrame(pa.table(
        {"_node": nodes, "_label": labels, "_size": size[comp]})))
    cid = F.coalesce(F.col("_label"), F.col(id_col).cast("long"))
    out = (ids.select(id_col).filter(F.col(id_col).isNotNull())
           .join(table, F.col(id_col) == F.col("_node"), "left")
           .select(id_col, cid.alias("component_id"),
                   F.coalesce(F.col("_size"), F.lit(1).cast("long"))
                   .alias("component_size"),
                   (F.col(id_col) == cid).alias("is_canonical")))
    if not convergence_check:
        return out
    return out.withColumn("converged",
                          F.lit(bool(np.array_equal(step(labels), labels))))


def semantic_decontaminate(train: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           round_to: int = 6) -> DataFrame:
    """Semantic decontamination: flag training vectors whose embedding
    is within ``threshold`` cosine of ANY benchmark/eval vector — the
    embedding-space complement of the n-gram :func:`decontaminate`
    (catches paraphrased eval leakage that shingle overlap misses).

    The benchmark side is small by contract (an eval set), so it
    broadcasts and each training partition scores its rows against the
    benchmark matrix in one matmul, emitting one row per contaminated
    training vector: ``(id_col, n_benchmark_hits, max_cosine,
    nearest_benchmark_id)``.  Training side streams — never shuffles,
    never pairs.
    """
    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.operators._guards import collect_small

    brows = collect_small(
        benchmark.select(id_col, vec_col).orderBy(id_col),
        "semantic_decontaminate benchmark",
        hint="The benchmark side is an eval set; batch it if larger.")
    if not brows:
        return train.sparkSession.createDataFrame(
            [], f"{id_col} long, n_benchmark_hits long, "
                "max_cosine double, nearest_benchmark_id long")
    b_ids = np.array([r[id_col] for r in brows], dtype=np.int64)
    B = np.array([r[vec_col] for r in brows], dtype=np.float64)
    bn = np.linalg.norm(B, axis=1)
    sc = train.sparkSession.sparkContext
    bc = sc.broadcast((b_ids, B, bn))

    def op(batches):
        b_ids_, B_, bn_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            T = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            t_ids = pdf[id_col].to_numpy(dtype=np.int64)
            tn = np.linalg.norm(T, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (T @ B_.T) / np.outer(tn, bn_)
            S[(np.outer(tn <= 1e-12, np.ones(len(B_), bool)))
              | (np.outer(np.ones(len(T), bool), bn_ <= 1e-12))] = 0.0
            S = np.round(S, round_to)
            hit = S >= threshold
            n_hits = hit.sum(1)
            keep = n_hits > 0
            if not keep.any():
                continue
            # nearest = max cosine, ties to the lower benchmark id
            # (stable argmax over id-sorted columns)
            nearest = np.argmax(S[keep], axis=1)
            yield pd.DataFrame({
                id_col: t_ids[keep],
                "n_benchmark_hits": n_hits[keep].astype(np.int64),
                "max_cosine": S[keep, nearest],
                "nearest_benchmark_id": b_ids_[nearest]})

    return train.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, n_benchmark_hits long, "
                   "max_cosine double, nearest_benchmark_id long")


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.9,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            impl: str = "expr",
                            round_to: int = 6) -> DataFrame:
    """(i < j) pairs with cosine >= threshold — semantic near-dup.

    Exact O(n^2) form, kept as the small-sf oracle;
    :func:`embedding_neardup_pruned` is the registered scale path.

    ``impl="expr"`` is the pure-Column θ-join (row-at-a-time
    higher-order-function cosine — fine for oracle-sized corpora,
    quadratic *interpreted* work beyond that).  ``impl="blas"``
    broadcasts the (guarded, id-sorted) corpus matrix and scores each
    partition's rows against it in one matmul, emitting only the
    upper-triangle pairs at or above the rounded threshold — same
    values (round-to-6 before the comparison, like the oracle), ~100×
    less Python interpretation.
    """
    if impl == "expr":
        a = df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("j"), F.col(vec_col).alias("vb"))
        return (a.join(b, F.col("i") < F.col("j"))
                .withColumn("cosine",
                            cosine_similarity(F.col("va"), F.col("vb")))
                .filter(F.col("cosine") >= threshold)
                .select("i", "j", "cosine"))

    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.operators._guards import collect_small

    rows = collect_small(
        df.select(id_col, vec_col).orderBy(id_col),
        "embedding_neardup_pairs corpus",
        hint="The all-pairs form is the small-sf oracle; use "
             "embedding_neardup_pruned for large corpora.")
    if not rows:
        return df.sparkSession.createDataFrame(
            [], "i long, j long, cosine double")
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    V = np.array([r[vec_col] for r in rows], dtype=np.float64)
    vn = np.linalg.norm(V, axis=1)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, V, vn))

    def op(batches):
        ids_, V_, vn_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            an = np.linalg.norm(A, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (A @ V_.T) / np.outer(an, vn_)
            S[(np.outer(an <= 1e-12, np.ones(len(V_), bool)))
              | (np.outer(np.ones(len(A), bool), vn_ <= 1e-12))] = 0.0
            S = np.round(S, round_to)
            keep = (ids_[None, :] > a_ids[:, None]) & (S >= threshold)
            r, c = np.nonzero(keep)
            yield pd.DataFrame({"i": a_ids[r], "j": ids_[c],
                                "cosine": S[r, c]})

    return df.select(id_col, vec_col).mapInPandas(
        op, schema="i long, j long, cosine double")


def embedding_neardup_pruned(df: DataFrame, threshold: float = 0.4,
                             spill: int = 2, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             cluster_col: str = "label",
                             round_to: int = 6) -> DataFrame:
    """IVF-pruned semantic near-dup: no θ-join anywhere in the plan.

    Each vector is assigned its top-``spill`` nearest cluster centroids
    (cluster + spill blocking — the standard recall fix for boundary
    pairs); candidates are the *equi-join* on the cluster key; the
    cosine filter only verifies candidates.  With the corpus
    partitioned by cluster this is a co-partitioned self-join — the
    100-TB shape.  Deterministic (rounded centroid means + rounded
    scores + id tie-breaks) so a DuckDB oracle reproduces the exact
    candidate set.
    """
    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.operators.ivf import (
        build_centroids,
        probe_clusters,
    )

    cents = build_centroids(df, cluster_col, vec_col, round_to)
    assigned = probe_clusters(
        df.select(F.col(id_col).alias("_pid"),
                  F.col(vec_col).alias("_pvec")),
        cents, nprobe=spill, metric="cosine", query_id="_pid",
        query_vec="_pvec", cluster_col=cluster_col, round_to=round_to)

    # Within-cluster pair generation + cosine verify as one grouped
    # Arrow kernel: the shuffle moves each vector once per assigned
    # cluster (spill× the corpus, NOT the pair count), and the O(m²)
    # scoring runs as a single matmul per cluster.  At 100-TB scale,
    # cap cluster sizes (finer quantizer) so a group fits an executor.
    def within_cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"i": [], "j": [], "cosine": []})
        pdf = pdf.sort_values("_pid")
        ids = pdf["_pid"].to_numpy(dtype=np.int64)
        V = np.array(pdf["_pvec"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(V, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (V @ V.T) / np.outer(nrm, nrm)
        bad = nrm <= 1e-12
        S[bad, :] = 0.0
        S[:, bad] = 0.0
        S = np.round(S, round_to)
        iu = np.triu_indices(len(ids), 1)      # rows id-sorted -> i < j
        keep = S[iu] >= threshold
        return pd.DataFrame({"i": ids[iu[0][keep]],
                             "j": ids[iu[1][keep]],
                             "cosine": S[iu][keep]})

    pairs = (assigned.groupBy(cluster_col)
             .applyInPandas(within_cluster_pairs,
                            schema="i long, j long, cosine double"))
    # spill overlap can emit a pair from two clusters.  The two copies
    # come from different per-cluster matmuls whose BLAS blocking can
    # differ in the last bit, and a value at a round-to-6 boundary
    # could then round differently — so dedup on the (i, j) KEY (max
    # keeps the result deterministic), never on the full row.
    return pairs.groupBy("i", "j").agg(F.max("cosine").alias("cosine"))
