"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
**compact** JSON line (< ~1.5 KB — the driver keeps only a 2,000-char
stdout tail, so the parseable line must fit there whole)::

    {"metric": "headline_total", "value": N, "core_total": N,
     "unit": "sec", "rebalance": "1", "parallelism": 32,
     "queries": {...}, "ann": {...recalls/scan-fracs...},
     "detail": "BENCH_FULL.json", ...}

``core_total`` sums the FROZEN ``CORE_QUERIES`` list (round-over-round
comparable); ``value``/``headline_total`` sums the growing HEADLINE
list.  The full detail (ANN build/search split, the four scale sweeps,
all params including the rebalance flag) is written to
``BENCH_FULL.json`` next to this file and committed per round.

Timing is end-to-end per query (logical plan build + execution +
collect), after a session warm-up action, mirroring the reference's
batch-search timing (day_6/day6_complete.py:86-99 times the whole
100-query ``index.search`` call).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from python_vector_db___ai_spark.plans.queries import all_queries  # noqa: E402
from python_vector_db___ai_spark.session import get_spark  # noqa: E402

# FROZEN core set (round-7 VERDICT directive #2): the 21 queries the
# r5/r6 headline shared.  This list must NEVER change across rounds —
# ``core_total`` is the one number comparable round-over-round (the
# growing HEADLINE list's ``headline_total`` moves when coverage
# grows, for reasons unrelated to speed).  The r6 reference value,
# recomputed from BENCH_r06.json over exactly this list: 35.18 s.
CORE_QUERIES = [
    "knn_exact_batch",
    "ivf_search_cosine",
    "ann_recall_ivf",
    "topk_similar_pairs",
    "ir_metrics_per_query",
    "dedup_exact_simhash",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_embedding_pruned",
    "text_profile",
    "text_repetition",
    "chunk_chars_fixed",
    "embed_cache_hits",
    "rag_end_to_end",
    "events_sessionization",
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "bm25_rrf_hybrid",
    "embedding_quantize_int8",
    "events_funnel_steps",
    "events_active_users_rolling",
]

# Every headline query is timed median-of-3 (round-6 VERDICT
# directive #6): driver-run timings showed ~2x run-to-run noise on
# single executions (flagship 2.23 s BENCH_FULL vs 4.53 s driver run
# 13 min later, same commit), and a first same-round r7 run still
# showed 1.7x swings on single-run entries.  ~100 s extra wall-clock
# buys round-over-round comparable numbers.
N_RUNS = 3

# Record-eligibility loadavg gate (r13 directive #3): a run started
# at or above either threshold is marked calm=false in its artifact
# and is NOT eligible to carry a level or slope claim of record.
CALM_LOAD1 = 0.5
CALM_LOAD15 = 2.0
_LOADAVG_START: list | None = None


def _git_head() -> str | None:
    import subprocess
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=Path(__file__).resolve().parent,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        return None


def timed_median(build_and_collect, n_runs: int = N_RUNS):
    """Median-of-n wall time; returns ``(median_sec, last_result)``.
    Every SEARCH timing in the ann/scale sweeps goes through this (r7
    directive #2: ``hnsw_search_sec`` spanned 2.0–9.4 s across
    same-commit runs when timed once); build timings stay single-shot
    — a build is one job per corpus version, and re-running it would
    triple sweep wall for a number whose variance nobody disputed.

    ``build_and_collect`` must CONSTRUCT the DataFrame and collect it
    (a zero-arg closure over the operator call).  Re-collecting one
    prebuilt DataFrame object would reuse its already-materialized
    shuffle map stages across runs (Spark skips stages for the same
    RDD lineage), timing only the result stage — observed as sweep
    "medians" of ~30 ms for second-scale searches."""
    runs = []
    res = None
    for _ in range(n_runs):
        t0 = time.perf_counter()
        res = build_and_collect()
        runs.append(time.perf_counter() - t0)
    # Per-call spread (r8 directive #5): callers copy this next to the
    # median they record, so a drifted driver-vs-committed median is
    # attributable to run variance (wide spread) vs a plan change
    # (tight spread, shifted level).
    timed_median.last_runs = [round(x, 4) for x in sorted(runs)]
    return sorted(runs)[len(runs) // 2], res

def _stage_ids_snapshot(spark):
    """Cheap snapshot of the (stageId, attemptId) pairs currently in
    Spark's AppStatusStore — taken OUTSIDE a timed window so
    :func:`_stage_metrics_since` can attribute a timed region's wall
    seconds to executor CPU vs GC vs blocked time afterwards.  Uses
    the status store through py4j (works with the UI disabled);
    internal API, so fail-soft: any reflection mismatch returns None
    and the caller records nothing instead of failing the bench."""
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        empty = jvm.java.util.ArrayList()
        quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(empty, False, False, quantiles, empty)
        return {(stages.apply(i).stageId(), stages.apply(i).attemptId())
                for i in range(stages.size())}
    except Exception:
        return None


def _stage_metrics_since(spark, before):
    """Executor-metric totals over stages that COMPLETED after the
    ``before`` snapshot, plus the heaviest stage for attribution.
    Interpretation: ``run_ms`` ~ ``cpu_ms`` x tasks-per-core means the
    stage was CPU-bound; ``run_ms`` >> ``cpu_ms`` means tasks sat
    blocked (I/O, allocation stall); ``gc_ms`` is the collector's
    share.  A slope dispute (is the 2x-data notch >2x wall because of
    the engine or the machine?) reduces to comparing these per
    factor: executor totals that scale linearly while wall does not
    are scheduling/contention, not plan cost."""
    if before is None:
        return None
    try:
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        empty = jvm.java.util.ArrayList()
        quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = store.stageList(empty, False, False, quantiles, empty)
        new = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if (s.stageId(), s.attemptId()) in before:
                continue
            if str(s.status()) != "COMPLETE":
                continue
            new.append({
                "stage_id": s.stageId(),
                "name": str(s.name())[:72],
                "tasks": s.numCompleteTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": int(s.executorCpuTime() / 1e6),
                "gc_ms": s.jvmGcTime(),
                "input_mb": round(s.inputBytes() / 1e6, 1),
                "output_mb": round(s.outputBytes() / 1e6, 1),
                "shuffle_write_mb": round(s.shuffleWriteBytes() / 1e6, 1),
                "spill_disk_mb": round(s.diskBytesSpilled() / 1e6, 1),
            })
        if not new:
            return None
        tot = {}
        for f in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_mb",
                  "output_mb", "shuffle_write_mb", "spill_disk_mb"):
            v = sum(s[f] for s in new)
            tot[f] = round(v, 1) if isinstance(v, float) else v
        tot["n_stages"] = len(new)
        tot["top_stage"] = max(new, key=lambda s: s["run_ms"])
        return tot
    except Exception:
        return None


def sweep_timed(entry: dict, key: str, fn, reps: int = 1, pre=None,
                post=None):
    """Scale-sweep timing with optional runs-triples (r10 VERDICT
    directive #1: the committed sweep rows were single samples taken
    at the end of a long run, and disagreed with the driver's own
    readings by 22–112% on unchanged code — every slope claim of
    record must come from committed medians).

    Runs ``fn`` (a zero-arg closure that CONSTRUCTS the plan, executes
    it, and returns a dict of non-timing fields — same rebuild rule as
    :func:`timed_median`) ``reps`` times; records ``<key>_sec`` = the
    median wall time and, when reps > 1, ``<key>_sec_runs`` = the
    sorted [min, median, max] triple.  ``pre`` runs before each rep
    OUTSIDE the timed window (cache teardown between trials, so rep N
    never reads rep N-1's materialization).  ``post`` runs after each
    rep, also OUTSIDE the timed window (stage-metric deltas, which
    cost py4j round trips that must not pollute the measurement).
    Non-timing fields come from the last rep (the outputs are
    deterministic across reps)."""
    runs = []
    for _ in range(reps):
        if pre is not None:
            pre()
        t0 = time.perf_counter()
        fields = fn()
        runs.append((round(time.perf_counter() - t0, 3), fields))
        if post is not None:
            post()
    # Committed fields come from the MEDIAN-timed rep, not the last one
    # executed: sub-timings must decompose the committed total (r11
    # finding: last-rep sign_sec 32.8 s rode next to a 29.0 s median
    # total and the derived verify remainder went negative).
    runs.sort(key=lambda r: r[0])
    sec, fields = runs[len(runs) // 2]
    entry[f"{key}_sec"] = sec
    if len(runs) > 1:
        entry[f"{key}_sec_runs"] = [r[0] for r in runs]
    if fields:
        entry.update(fields)


def _top_reps(factor, factors) -> int:
    """Reps for one sweep notch: the top TWO factors get runs-triples
    (median-of-3 committed numbers), lower notches stay single-shot —
    they only sketch the curve.  Both slope endpoints need medians
    because the slope of record is the ratio of the top two notches
    (r11 finding: a single-shot 1M crossdoc reading swung 38.9 → 74.8 s
    across runs of unchanged code, flipping the 1M→2M slope between
    1.1× and 2.1×; the 2M medians were tight the whole time).
    ``SPARK_GRAFT_SWEEP_REPS`` overrides the repeated-notch count."""
    if factor not in factors[-2:]:
        return 1
    return int(os.environ.get("SPARK_GRAFT_SWEEP_REPS", "3"))


# Headline set: one per operator family (SURVEY §2 coverage).
HEADLINE = [
    "knn_exact_batch",         # J1/T2 exact batch kNN, 3 metrics (BLAS local top-k)
    "ivf_search_cosine",       # X2 IVF pruned ANN search
    "ann_recall_ivf",          # X6 recall harness (approx + exact)
    "topk_similar_pairs",      # T3 all-pairs top-k (cosine + euclidean-sim)
    "ir_metrics_per_query",    # W1-W6 ranking metrics
    "dedup_exact_simhash",     # exact dedup groupBy + SimHash fingerprints
    "dedup_minhash_lsh",       # MinHash+LSH banding
    "dedup_simhash_pairs",     # SimHash pairs via pigeonhole blocking
    "dedup_embedding_pruned",  # IVF-pruned semantic near-dup
    "text_profile",            # language ID + quality + token counts
    "text_repetition",         # Gopher repetition gates (explode + hash agg)
    "chunk_chars_fixed",       # char chunker (pure expressions)
    "embed_cache_hits",        # embedding pipeline (mock model + cache join)
    "rag_end_to_end",          # RAG context -> prompt -> answer
    "events_sessionization",   # gap sessionization window
    "tpch_q1_pricing",         # relational aggregation
    "tpch_q3_topk",            # 3-way join + top-k
    "bm25_rrf_hybrid",         # lexical retrieval + RRF fusion
    "embedding_quantize_int8", # int8 quantization error stats
    "events_funnel_steps",     # sequential funnel (chained user aggs)
    "events_active_users_rolling",  # exact DAU/WAU (bounded fan-out)
    "term_cooccurrence_pmi",   # df-gated collocation postings self-join
    "dedup_incremental_minhash",    # new-batch vs corpus LSH dedup
    "corpus_span_dedup",       # exact-substring span dedup (hash-agg keeper)
    "bpe_train_merges",        # BPE vocab induction (1 corpus pass + merges)
    "pipeline_corpus_to_tokens",    # end-to-end dedup->gate->span->yield
    "embedding_covariance",    # PCA input: one Arrow pass to d^2 partials
]


def main() -> None:
    # The testdata ships single-row-group parquet (scans cannot split
    # below a row group → every query's scan stage would run on ONE
    # core); rebalance inputs so the bench exercises the parallel
    # plan a multi-split 100-TB table would produce.
    os.environ.setdefault("SPARK_GRAFT_REBALANCE", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.removeprefix("sf") or "0.1")
    # Machine state at start, for the artifact's noise context (1-min
    # load > ~1 before the bench's own work begins means the run is
    # contending with something and its totals read 15-25% high).
    global _LOADAVG_START
    _LOADAVG_START = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # Warm-up: JVM codegen, Python worker pool, and parquet footers
    # don't belong to any query — prime each execution path once.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb.count()
    emb.limit(64).mapInPandas(lambda it: it, schema=emb.schema).count()
    (emb.limit(64)
     .withColumn("_r", F.row_number().over(Window.orderBy("vec_id")))
     .count())

    # Flagship warm-up: one untimed execution so the first timed query
    # doesn't pay first-plan costs the rest of the list never sees
    # (round-6 VERDICT directive #6: driver-run flagship was 2x the
    # same-commit BENCH_FULL value).
    qs["knn_exact_batch"].spark_fn(spark, sf_dir).collect()

    # SPARK_GRAFT_SKIP_QUERIES=1 skips the headline-query loop (and
    # the warm-up already ran, which is cheap) — for targeted sweep
    # probes (e.g. the 4M crossdoc/decontam notch, r11 directive #6)
    # whose artifact is a tagged side-sample, never the file of
    # record.
    skip_queries = os.environ.get("SPARK_GRAFT_SKIP_QUERIES") == "1"

    timings: dict[str, float] = {}
    # min/median/max of each query's N_RUNS timings (r8 directive #5):
    # lets a >1.3x driver-vs-committed delta be attributed to run
    # variance (wide spread) vs a plan regression (tight spread).
    query_spread: dict[str, list[float]] = {}
    # Per-run GC milliseconds aligned to the sorted wall times (r9
    # directive #4: bm25_rrf_hybrid's [2.36, 2.53, 5.54] spread was
    # the one unattributed outlier).  local[n] runs driver and
    # executors in ONE JVM, so the delta of the JVM-wide cumulative
    # collection time across a timed run is exactly that run's GC
    # bill — a slow run with a matching GC spike is collection
    # pressure, not a plan regression.
    query_gc_ms: dict[str, list[int]] = {}

    def jvm_gc_ms() -> int:
        beans = (spark._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size()))

    # Execution-order wall times (r9 directive #4, the other half):
    # probing bm25_rrf_hybrid 6x in order gave [8.98, 2.87, 2.56,
    # 2.74, 2.71, 2.84] — the spread outlier is DETERMINISTICALLY the
    # first execution (first-plan analysis + codegen of the largest
    # registered plan), which the median already excludes.  The
    # ordered list makes that attribution visible per query without
    # changing the frozen timing protocol (a per-query warm-up would
    # shift every median and break core_total's round-over-round
    # comparability).
    query_runs_order: dict[str, list[float]] = {}
    for name in HEADLINE:
        if name not in qs or skip_queries:
            continue
        runs = []
        for _ in range(N_RUNS):
            gc0 = jvm_gc_ms()
            t0 = time.perf_counter()
            df = qs[name].spark_fn(spark, sf_dir)
            df.collect()
            runs.append((time.perf_counter() - t0, jvm_gc_ms() - gc0))
            # Teardown OUTSIDE the timed window (r14 VERDICT directive
            # #2, measurement honesty): operators that .cache() an
            # intermediate expose it via the `_cached_frames` handle on
            # the returned frame; without this unpersist, runs 2-3
            # would read run 1's materialization through the cache
            # manager (canonicalized-plan match) AND the frames would
            # leak into every later query's memory budget.  The r14
            # sweep got this teardown (bench.py wau_pre); the headline
            # loop now applies the same rule.
            for f in getattr(df, "_cached_frames", []):
                f.unpersist(blocking=True)
        query_runs_order[name] = [round(r[0], 4) for r in runs]
        runs.sort()
        timings[name] = round(runs[len(runs) // 2][0], 4)
        query_spread[name] = [round(r[0], 4) for r in runs]
        query_gc_ms[name] = [r[1] for r in runs]

    # Post-loop leak observability (r14 VERDICT directive #2): count
    # the RDDs still persisted once the headline loop ends.  Queries
    # that .cache() intermediates WITHOUT exposing a `_cached_frames`
    # handle (bm25_rrf_hybrid's six, text_profile's scan, ...) have
    # left their frames registered since the r5 protocol froze — this
    # records that surface per run instead of silently carrying it.
    # The `_cached_frames`-exposed frames (WAU day_sets) must NOT be in
    # here; the teardown above unpersists them blocking.
    try:
        cached_rdds_after_headline = (
            spark.sparkContext._jsc.getPersistentRDDs().size())
    except Exception:
        cached_rdds_after_headline = None

    ann = {} if skip_queries else ann_benchmark(spark, sf_dir)

    factors = [int(x) for x in os.environ.get(
        "SPARK_GRAFT_SCALE_FACTORS", "10,50,200").split(",") if x]
    scale = scale_benchmark(spark, sf_dir, factors) if factors else []

    # factor 400 (2M docs) added r9 (r8 directive #4): the minhash /
    # crossdoc / bm25 plans were structurally rewritten in r8, so their
    # near-linearity needed re-proving one notch past the 1M point the
    # OLD plans were measured at.
    doc_factors = [int(x) for x in os.environ.get(
        "SPARK_GRAFT_DOC_FACTORS", "10,50,200,400").split(",") if x]
    dedup_scale = (dedup_scale_benchmark(spark, sf_dir, doc_factors)
                   if doc_factors else [])

    ev_factors = [int(x) for x in os.environ.get(
        "SPARK_GRAFT_EVENT_FACTORS", "10,50,200").split(",") if x]
    events_scale = (events_scale_benchmark(spark, sf_dir, ev_factors)
                    if ev_factors else [])

    emb_factors = [int(x) for x in os.environ.get(
        "SPARK_GRAFT_EMB_FACTORS", "10,50,200").split(",") if x]
    embedding_scale = (embedding_scale_benchmark(spark, sf_dir,
                                                 emb_factors)
                       if emb_factors else [])

    # bm25_rrf_hybrid first-execution attribution (r10 directive #4):
    # a FRESH process (cold cache manager, bench warm-up replicated)
    # forces each cached frame in dependency order, so the artifact
    # names which phase the ~9 s first run lives in.  Runs after all
    # timed work — the subprocess's second JVM never overlaps a timed
    # window — and stays out of the timing protocol (warming bm25's
    # caches in THIS session would flip query_runs_order[bm25][0] from
    # a cold to a warm reading and break round-over-round spreads).
    bm25_first_run: dict
    if skip_queries:
        bm25_first_run = {"skipped": True}
    else:
        try:
            import subprocess

            proc = subprocess.run(
                [sys.executable,
                 str(Path(__file__).resolve().parent
                     / "tools" / "probe_bm25_phases.py"), sf_dir],
                capture_output=True, text=True, timeout=900)
            bm25_first_run = json.loads(proc.stdout.splitlines()[-1])
        except Exception as e:  # attribution is evidence, never a failure
            bm25_first_run = {"error": repr(e)}

    # Promote the exact-vs-IVF crossover into the headline table at the
    # LARGEST measured scale (>=100k rows) — the regime where the
    # pruned scan earns its keep decisively rather than within noise
    # (recall for the promoted entry is in the matching scale[]
    # record, 1.0 on the inflated corpus — well above the 0.95 bar).
    big = [e for e in scale if e["corpus_rows"] >= 100_000]
    if big:
        e = big[-1]
        label = f"{e['corpus_rows'] // 1000}k"
        timings[f"knn_exact_{label}"] = e["exact_sec"]
        timings[f"ivf_search_{label}"] = e["ivf_sec"]

    total = round(sum(timings.values()), 4)
    core_total = round(sum(timings[q] for q in CORE_QUERIES
                           if q in timings), 4)
    # Self-describing params (round-6 ADVICE): the bench runs with the
    # documents table rebalanced (single-row-group testdata cannot
    # parallelize a scan below one task — see README "Benchmark
    # methodology"), so the artifact must say so.
    params = {
        "rebalance": os.environ.get("SPARK_GRAFT_REBALANCE", "0"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "timing": f"median_of_{N_RUNS}",
        # Noise context: 1/5/15-min load averages at bench start (the
        # 1-min value should be ~0 on a clean run) and at artifact
        # assembly (dominated by the bench's own work).
        "loadavg_start": globals().get("_LOADAVG_START"),
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # Record-eligibility, asserted by the bench itself (r13
        # directive #3): a run is "calm" iff it STARTED below the
        # declared loadavg gate (1-min < 0.5 AND 15-min < 2.0 — the
        # thresholds the r11-r13 level adjudications converged on).
        # Record = median core of calm-qualified HEAD-matched runs;
        # a non-calm run self-documents as ineligible instead of
        # being relitigated next round.
        "calm_gate": {"load1_lt": CALM_LOAD1, "load15_lt": CALM_LOAD15},
        "calm": bool(_LOADAVG_START
                     and _LOADAVG_START[0] < CALM_LOAD1
                     and _LOADAVG_START[2] < CALM_LOAD15),
        # HEAD-matching is part of record-eligibility — stamp it so
        # "median of HEAD-matched runs" is checkable from artifacts.
        "git_head": _git_head(),
        # RDDs still persisted when the headline loop ended (r14
        # directive #2): the `_cached_frames`-exposed frames are torn
        # down per run; this counts the handle-less protocol caches.
        "cached_rdds_after_headline": cached_rdds_after_headline,
    }
    full = {
        "metric": "headline_total",
        "value": total,
        "core_total": core_total,
        "core_queries": CORE_QUERIES,
        "unit": "sec",
        "queries": timings,
        # [min, median, max] of each headline query's N_RUNS timings
        "query_spread": query_spread,
        # per-run JVM GC milliseconds, aligned to query_spread's
        # sorted wall times (outlier attribution, r9 directive #4)
        "query_gc_ms": query_gc_ms,
        # the same runs in EXECUTION order: a max that is always run 1
        # is first-plan analysis/codegen, not run variance
        "query_runs_order": query_runs_order,
        "params": params,
        "ann": ann,
        "scale": scale,
        "dedup_scale": dedup_scale,
        "events_scale": events_scale,
        "embedding_scale": embedding_scale,
        # cold-process phase split of the suite's largest first-run
        # outlier (r10 directive #4); see tools/probe_bm25_phases.py
        "bm25_first_run": bm25_first_run,
        "sf": sf,
    }
    # Full detail goes to a committed artifact; stdout carries a
    # COMPACT final line.  The driver's capture keeps only a 2,000-char
    # tail of stdout, so the parseable line must fit there whole —
    # five rounds of BENCH_r*.json were `parsed: null` because the
    # full object (~4.5 KB) was truncated mid-way.
    # Only the canonical sf0.1 run may overwrite the committed
    # artifact — a quick sf0.001 smoke must not clobber the numbers
    # README and the judge quote (that exact accident happened once).
    # Cross-run slope samples must be artifact-backed (r11 directive
    # #5): SPARK_GRAFT_BENCH_TAG=r12b writes BENCH_FULL_r12b.json so
    # the second/third HEAD-matched samples behind a "cross-run
    # median" claim are committed JSON, recomputable by anyone.  A
    # block-restricted or queries-skipped run is forced onto a tagged
    # name so a partial run can never shadow the file of record.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "")
    if not tag and (skip_queries
                    or os.environ.get("SPARK_GRAFT_DEDUP_BLOCKS")):
        tag = "partial"
    detail_name = ("BENCH_FULL.json" if sf == 0.1
                   else f"BENCH_FULL_sf{sf}.json")
    if tag:
        detail_name = detail_name.replace(".json", f"_{tag}.json")
        full["sample_tag"] = tag
    with open(Path(__file__).resolve().parent / detail_name,
              "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    compact = {
        "metric": "headline_total",
        "value": total,
        "core_total": core_total,
        "unit": "sec",
        "sf": sf,
        "rebalance": params["rebalance"],
        "parallelism": params["default_parallelism"],
        # record-eligibility self-documents even in the compact line
        # (a driver run launched on a loaded machine is not a level)
        "calm": params["calm"],
        "loadavg_start": params["loadavg_start"],
        "queries": timings,
        "ann": {k: ann[k] for k in (
            "corpus_rows", "exact_sec",
            "ivf_sec", "ivf_recall", "ivf_scan_frac",
            "sketch_sec", "sketch_recall", "sketch_scan_frac",
            "pq_sec", "pq_recall", "pq_vec_scan_frac",
            "hnsw_build_sec", "hnsw_search_sec", "hnsw_recall",
        ) if k in ann},
        "detail": detail_name,
    }
    if dedup_scale:
        e = dedup_scale[-1]
        compact["dedup_scale_top"] = {k: e[k] for k in (
            "doc_rows", "minhash_lsh_sec", "components_sec",
            "repetition_sec", "crossdoc_sec", "bm25_batch_sec",
            "pagerank_sec") if k in e}
    if events_scale:
        e = events_scale[-1]
        compact["events_scale_top"] = {k: e[k] for k in (
            "event_rows", "funnel_sec", "wau_sec", "transition_sec",
            "asof_sec") if k in e}
    if embedding_scale:
        e = embedding_scale[-1]
        compact["emb_scale_top"] = {k: e[k] for k in (
            "corpus_rows", "decontam_sec", "covariance_sec") if k in e}
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # never ship an unparseable tail — shed detail, keep the contract
        compact.pop("dedup_scale_top", None)
        compact.pop("events_scale_top", None)
        compact.pop("emb_scale_top", None)
        compact["ann"] = {k: compact["ann"][k]
                          for k in ("ivf_recall", "sketch_recall",
                                    "pq_recall", "hnsw_recall")
                          if k in compact["ann"]}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


def ann_benchmark(spark, sf_dir: str) -> dict:
    """The day-6 benchmark shape (BASELINE.md): a 100-query batch kNN
    at k=10, exact vs IVF vs LSH, with recall@10 measured against the
    exact scan.

    The IVF operating point mirrors the reference's quantizer tuning
    (day_6/day6_complete.py:105-115 ``nlist = min(100, n/10)``, scaled
    up because the synthetic corpus has weaker cluster structure) plus
    spill-2 list assignment — each vector stored in its two nearest
    lists — which is what lifts recall@10 to ~0.85 at <= 30% scan on a
    corpus whose true neighbors ignore the label column.  The reported
    ``ivf_scan_frac`` is measured (distinct candidates / (queries ×
    corpus)), not assumed.
    """
    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.ivf import (
        assign_clusters,
        ivf_search,
        kmeans_centroids,
        recall_against_exact,
    )
    from python_vector_db___ai_spark.operators.search import knn_join_blas
    from python_vector_db___ai_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    n_queries = min(100, n)
    queries = (emb.filter(F.col("vec_id") < n_queries)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))

    out: dict = {"n_queries": n_queries, "k": 10, "corpus_rows": n}

    def run_exact():
        return knn_join_blas(queries, emb, k=10, metric="cosine",
                             corpus_id="vec_id").collect()
    sec, exact_rows = timed_median(run_exact)
    out["exact_sec"] = round(sec, 4)
    out["exact_sec_runs"] = timed_median.last_runs
    exact = knn_join_blas(queries, emb, k=10, metric="cosine",
                          corpus_id="vec_id")
    exact_cached = spark.createDataFrame(exact_rows, exact.schema).cache()

    # IVF: KMeans quantizer + spill-2 assignment, build timed separately
    # like the reference's build-vs-search split (day6_performance_summary.csv).
    nlist = min(200, max(10, n // 10))
    spill = 2
    nprobe = max(1, int(round(nlist * 0.15)))
    out["ivf_params"] = {"nlist": nlist, "spill": spill, "nprobe": nprobe}
    t0 = time.perf_counter()
    cents = kmeans_centroids(emb, nlist=nlist, seed=42).cache()
    cents.count()
    assigned = assign_clusters(emb, cents, spill=spill,
                               cluster_col="cluster_id").cache()
    assigned.count()
    out["ivf_build_sec"] = round(time.perf_counter() - t0, 4)

    def run_ivf():
        return ivf_search(queries, assigned, centroids=cents,
                          nprobe=nprobe, k=10, metric="cosine",
                          corpus_id="vec_id", corpus_vec="embedding",
                          cluster_col="cluster_id",
                          dedup_candidates=True).collect()
    sec, ivf_rows = timed_median(run_ivf)
    out["ivf_sec"] = round(sec, 4)
    out["ivf_sec_runs"] = timed_median.last_runs
    ivf = ivf_search(queries, assigned, centroids=cents, nprobe=nprobe,
                     k=10, metric="cosine", corpus_id="vec_id",
                     corpus_vec="embedding", cluster_col="cluster_id",
                     dedup_candidates=True)
    ivf_cached = spark.createDataFrame(ivf_rows, ivf.schema)
    out["ivf_recall"] = round(
        recall_against_exact(ivf_cached, exact_cached, corpus_id="vec_id")
        .agg(F.avg("recall")).collect()[0][0], 4)
    # Measured scan fraction: distinct (query, vector) candidates the
    # pruned search touches, over queries x corpus.
    from python_vector_db___ai_spark.operators.ivf import probe_clusters

    probes = probe_clusters(queries, cents, nprobe=nprobe,
                            cluster_col="cluster_id")
    n_cand = (probes.select("query_id", "cluster_id")
              .join(assigned.select("vec_id", "cluster_id"), "cluster_id")
              .select("query_id", "vec_id").distinct().count())
    out["ivf_scan_frac"] = round(n_cand / (n_queries * n), 4)

    # Binary-sketch Hamming filter (the high-recall approximate tier):
    # 256-bit SRP sketch, Hamming top-L pre-rank, exact re-rank of L
    # candidates per query.  The exact-scan fraction is L/n by
    # construction — the same candidate accounting as ivf_scan_frac;
    # the Hamming pass reads 32 bytes/row, not the vectors.
    from python_vector_db___ai_spark.operators.lsh import sketch_build, sketch_knn

    L = max(20, n // 10)
    # Build/search split like the reference's day_6 summary: the sketch
    # column is a reusable index artifact, so time it once and hand the
    # prebuilt sketch to the timed search (search-vs-search comparison).
    t0 = time.perf_counter()
    Hs, skc = sketch_build(emb, n_bits=256)
    skc = skc.cache()
    skc.count()
    out["sketch_build_sec"] = round(time.perf_counter() - t0, 4)
    def run_sk():
        return sketch_knn(queries, emb, k=10, n_bits=256, L=L,
                          prebuilt=(Hs, skc)).collect()
    sec, sk_rows = timed_median(run_sk)
    out["sketch_sec"] = round(sec, 4)
    out["sketch_sec_runs"] = timed_median.last_runs
    sk = sketch_knn(queries, emb, k=10, n_bits=256, L=L, prebuilt=(Hs, skc))
    sk_cached = spark.createDataFrame(sk_rows, sk.schema)
    out["sketch_recall"] = round(
        recall_against_exact(sk_cached, exact_cached, corpus_id="vec_id")
        .agg(F.avg("recall")).collect()[0][0], 4)
    out["sketch_scan_frac"] = round(L / n, 4)

    # Product quantization + exact re-rank: 8-byte codes (64x vector
    # compression) scanned with ADC lookup tables, then k x overfetch
    # full-vector touches per query.  normalize=True inside the numpy
    # kernels makes ADC-L2 ordering == cosine ordering without a
    # Spark-side (per-row interpreted) normalization pass.
    from python_vector_db___ai_spark.operators.pq import (
        pq_encode,
        pq_search_rerank,
        pq_train,
    )

    overfetch = 20
    t0 = time.perf_counter()
    books = pq_train(emb, m=8, n_codes=128, iters=8, normalize=True)
    enc = pq_encode(emb, books).cache()
    enc.count()
    out["pq_build_sec"] = round(time.perf_counter() - t0, 4)
    def run_pq():
        return pq_search_rerank(queries, emb, enc, books, k=10,
                                overfetch=overfetch,
                                metric="cosine").collect()
    sec, pq_rows = timed_median(run_pq)
    out["pq_sec"] = round(sec, 4)
    out["pq_sec_runs"] = timed_median.last_runs
    pq = pq_search_rerank(queries, emb, enc, books, k=10,
                          overfetch=overfetch, metric="cosine")
    pq_cached = spark.createDataFrame(pq_rows, pq.schema)
    out["pq_recall"] = round(
        recall_against_exact(pq_cached, exact_cached, corpus_id="vec_id")
        .agg(F.avg("recall")).collect()[0][0], 4)
    out["pq_vec_scan_frac"] = round(10 * overfetch / n, 4)
    enc.unpersist()

    # Distributed HNSW (X3/X4) with the PERSISTED index artifact
    # (operators/index_store.py): build writes per-partition graphs to
    # parquet once per corpus version; search loads the artifact and
    # never touches the build path — the same build-vs-search split
    # the reference's day_6 summary reports (build 11.95 s amortized,
    # search per batch).
    import shutil
    import tempfile

    from python_vector_db___ai_spark.operators.index_store import (
        hnsw_build_index,
        hnsw_load,
        hnsw_save,
        hnsw_search,
    )

    idx_dir = tempfile.mkdtemp(prefix="bench_hnsw_")
    try:
        t0 = time.perf_counter()
        hnsw_save(hnsw_build_index(emb, n_partitions=32), idx_dir + "/g")
        out["hnsw_build_sec"] = round(time.perf_counter() - t0, 4)
        def run_hn():
            return hnsw_search(queries,
                               hnsw_load(spark, idx_dir + "/g"),
                               k=10).collect()
        sec, hn_rows = timed_median(run_hn)
        out["hnsw_search_sec"] = round(sec, 4)
        out["hnsw_search_sec_runs"] = timed_median.last_runs
        hn = hnsw_search(queries, hnsw_load(spark, idx_dir + "/g"), k=10)
        # r10 (r9 directive #5): ef→recall curve from the SAME
        # persisted artifact, the tradeoff the reference's day-6
        # sweep published (day_6/day6_complete.py:184-237).
        ef_curve = {}
        for ef in (16, 32, 64, 128):
            hn_ef = hnsw_search(queries, hnsw_load(spark, idx_dir + "/g"),
                                k=10, ef_search=ef)
            ef_curve[str(ef)] = round(
                recall_against_exact(hn_ef, exact_cached,
                                     corpus_id="vec_id")
                .agg(F.avg("recall")).collect()[0][0], 4)
        out["hnsw_ef_recall"] = ef_curve
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    hn_cached = spark.createDataFrame(hn_rows, hn.schema)
    out["hnsw_recall"] = round(
        recall_against_exact(hn_cached, exact_cached, corpus_id="vec_id")
        .agg(F.avg("recall")).collect()[0][0], 4)
    # The recall above IS the production knob — hnsw_search defaults
    # to ef_search=64 everywhere in this file — but the artifact must
    # SAY so, and quantify how far the ef=64 hit rows sit from the
    # exact rows (recall counts id membership; the lifecycle oracle's
    # exhaustive beam is row-exact, and at sf0.1 ef=64 diverges on a
    # handful of tie-dense rows).
    out["hnsw_ef_search"] = 64
    out["hnsw_recall_production"] = out["hnsw_recall"]
    hn_ids = hn_cached.select("query_id", "vec_id")
    ex_ids = exact_cached.select("query_id", "vec_id")
    out["hnsw_rows_diverging_from_exact"] = (
        hn_ids.exceptAll(ex_ids).count())
    out["hnsw_result_rows"] = hn_ids.count()
    skc.unpersist()
    emb.unpersist()
    # Release everything this section pinned: `assigned` holds
    # spill x corpus rows WITH vectors — leaking it kept a corpus-sized
    # block in the executor heap through every later sweep (GC noise).
    assigned.unpersist()
    cents.unpersist()
    exact_cached.unpersist()
    return out


def scale_benchmark(spark, sf_dir: str, factors) -> list:
    """Exact vs the ANN tiers on the inflated corpus (noisy replicas,
    tools/scale_probe.py): the regime where the corpus outgrows a
    single scan and the ANN paths earn their keep.  The inflated data
    is cluster-structured (copies stay near their source), which is
    also the realistic near-dup retrieval workload.

    The quantizer is KMeans trained once on the *base* corpus — the
    standard sample-train-then-assign pattern (FAISS trains IVF on a
    corpus sample too) — and copies are list-assigned with one BLAS
    pass, so the quantizer cost does not grow with the factor.
    """
    import tempfile

    from pyspark.sql import functions as F

    from tools.scale_probe import inflate
    from python_vector_db___ai_spark.operators.ivf import (
        assign_clusters,
        ivf_search,
        kmeans_centroids,
        recall_against_exact,
    )
    from python_vector_db___ai_spark.operators.search import knn_join_blas
    from python_vector_db___ai_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # 10-query batch: the per-query-latency regime (the reference's
    # search benchmarks are single-query too).  A batch much larger
    # than nlist/nprobe would probe every list and prune nothing — at
    # real scale nlist is thousands, here it is bounded by the 2k base.
    queries = (emb.filter(F.col("vec_id") < 10)
               .select((F.col("vec_id") * 10 ** 6).alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    n_base = emb.count()
    nlist = min(200, max(10, n_base // 10))
    nprobe = 5
    cents = kmeans_centroids(emb, nlist=nlist, seed=42).cache()
    cents.count()
    results = []
    for factor in factors:
        tmp = tempfile.mkdtemp(prefix=f"bench_scale_{factor}_")
        inflate(emb, factor).write.parquet(tmp, mode="overwrite")
        corpus = spark.read.parquet(tmp).cache()
        n = corpus.count()
        entry = {"factor": factor, "corpus_rows": n,
                 "ivf_params": {"nlist": nlist, "nprobe": nprobe}}

        def run_exact():
            return knn_join_blas(queries, corpus, k=10, metric="cosine",
                                 corpus_id="vec_id").collect()
        sec, exact_rows = timed_median(run_exact)
        entry["exact_sec"] = round(sec, 3)
        entry["exact_sec_runs"] = timed_median.last_runs
        exact = knn_join_blas(queries, corpus, k=10, metric="cosine",
                              corpus_id="vec_id")
        exact_cached = spark.createDataFrame(exact_rows, exact.schema).cache()

        t0 = time.perf_counter()
        assigned = assign_clusters(corpus, cents, spill=1,
                                   cluster_col="cluster_id").cache()
        assigned.count()
        entry["ivf_build_sec"] = round(time.perf_counter() - t0, 3)
        def run_ivf():
            return ivf_search(queries, assigned, centroids=cents,
                              nprobe=nprobe, k=10, metric="cosine",
                              corpus_id="vec_id",
                              cluster_col="cluster_id").collect()
        sec, ivf_rows = timed_median(run_ivf)
        entry["ivf_sec"] = round(sec, 3)
        entry["ivf_sec_runs"] = timed_median.last_runs
        ivf = ivf_search(queries, assigned, centroids=cents, nprobe=nprobe,
                         k=10, metric="cosine", corpus_id="vec_id",
                         cluster_col="cluster_id")
        ivf_df = spark.createDataFrame(ivf_rows, ivf.schema)
        entry["ivf_recall"] = round(
            recall_against_exact(ivf_df, exact_cached, corpus_id="vec_id")
            .agg(F.avg("recall")).collect()[0][0], 4)

        # Binary-sketch Hamming tier at scale: prebuilt sketch column,
        # exact re-rank capped at L rows/query (L/n exact-scan frac).
        from python_vector_db___ai_spark.operators.lsh import (
            sketch_build,
            sketch_knn,
        )

        Ls = 500
        t0 = time.perf_counter()
        Hs, skc = sketch_build(corpus, n_bits=256)
        skc = skc.cache()
        skc.count()
        entry["sketch_build_sec"] = round(time.perf_counter() - t0, 3)
        def run_sk():
            return sketch_knn(queries, corpus, k=10, n_bits=256, L=Ls,
                              prebuilt=(Hs, skc)).collect()
        sec, sk_rows = timed_median(run_sk)
        entry["sketch_sec"] = round(sec, 3)
        entry["sketch_sec_runs"] = timed_median.last_runs
        sk = sketch_knn(queries, corpus, k=10, n_bits=256, L=Ls,
                        prebuilt=(Hs, skc))
        sk_df = spark.createDataFrame(sk_rows, sk.schema)
        entry["sketch_recall"] = round(
            recall_against_exact(sk_df, exact_cached, corpus_id="vec_id")
            .agg(F.avg("recall")).collect()[0][0], 4)
        entry["sketch_scan_frac"] = round(Ls / n, 4)

        # PQ memory tier at scale: the ADC pass reads 8 bytes/row; the
        # re-rank touches k x overfetch vectors/query regardless of n.
        from python_vector_db___ai_spark.operators.pq import (
            pq_encode,
            pq_search_rerank,
            pq_train,
        )

        # normalize=True in the kernels: ADC-L2 order == cosine order,
        # so recall compares directly against the cosine exact scan.
        overfetch = 20
        t0 = time.perf_counter()
        books = pq_train(corpus, m=8, n_codes=128, iters=8,
                         normalize=True)
        enc = pq_encode(corpus, books).cache()
        enc.count()
        entry["pq_build_sec"] = round(time.perf_counter() - t0, 3)
        def run_pq():
            return pq_search_rerank(queries, corpus, enc, books, k=10,
                                    overfetch=overfetch,
                                    metric="cosine").collect()
        sec, pq_rows = timed_median(run_pq)
        entry["pq_sec"] = round(sec, 3)
        entry["pq_sec_runs"] = timed_median.last_runs
        pq = pq_search_rerank(queries, corpus, enc, books, k=10,
                              overfetch=overfetch, metric="cosine")
        pq_df = spark.createDataFrame(pq_rows, pq.schema)
        entry["pq_recall"] = round(
            recall_against_exact(pq_df, exact_cached, corpus_id="vec_id")
            .agg(F.avg("recall")).collect()[0][0], 4)
        entry["pq_vec_scan_frac"] = round(10 * overfetch / n, 4)

        # Distributed HNSW at scale with the persisted artifact:
        # ~n/32 vectors per partition-local graph, build written to
        # parquet once (amortized per corpus version), search-only
        # timed against the loaded artifact.
        import shutil

        from python_vector_db___ai_spark.operators.index_store import (
            hnsw_build_index,
            hnsw_load,
            hnsw_save,
            hnsw_search,
        )

        idx_dir = tempfile.mkdtemp(prefix=f"bench_hnsw_{factor}_")
        try:
            t0 = time.perf_counter()
            hnsw_save(hnsw_build_index(corpus, n_partitions=32),
                      idx_dir + "/g")
            entry["hnsw_build_sec"] = round(time.perf_counter() - t0, 3)
            def run_hn():
                return hnsw_search(queries,
                                   hnsw_load(spark, idx_dir + "/g"),
                                   k=10).collect()
            sec, hn_rows = timed_median(run_hn)
            entry["hnsw_search_sec"] = round(sec, 3)
            entry["hnsw_search_sec_runs"] = timed_median.last_runs
            hn = hnsw_search(queries, hnsw_load(spark, idx_dir + "/g"),
                             k=10)
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)
        hn_df = spark.createDataFrame(hn_rows, hn.schema)
        # ef_search=64 (hnsw_search default) — the production beam, so
        # every sweep scale's recall is the one a user gets at the
        # production knob (r9 directive #5); the labeled alias below
        # makes that explicit in the artifact.
        entry["hnsw_ef_search"] = 64
        entry["hnsw_recall"] = round(
            recall_against_exact(hn_df, exact_cached, corpus_id="vec_id")
            .agg(F.avg("recall")).collect()[0][0], 4)
        entry["hnsw_recall_production"] = entry["hnsw_recall"]

        # Composed IVFPQ: coarse pruning (reusing the factor's cluster
        # assignment) + ADC over the pruned codes + exact re-rank —
        # per query: nprobe/nlist of the 8-byte codes, k x overfetch
        # vectors.
        from python_vector_db___ai_spark.operators.pq import ivfpq_search

        ea = (assigned.select("vec_id", "cluster_id")
              .join(enc, "vec_id").cache())
        ea.count()
        def run_ipq():
            return ivfpq_search(queries, corpus, ea, cents, books,
                                nprobe=nprobe, k=10,
                                overfetch=overfetch).collect()
        sec, ipq_rows = timed_median(run_ipq)
        entry["ivfpq_sec"] = round(sec, 3)
        entry["ivfpq_sec_runs"] = timed_median.last_runs
        ipq = ivfpq_search(queries, corpus, ea, cents, books,
                           nprobe=nprobe, k=10, overfetch=overfetch)
        ipq_df = spark.createDataFrame(ipq_rows, ipq.schema)
        entry["ivfpq_recall"] = round(
            recall_against_exact(ipq_df, exact_cached, corpus_id="vec_id")
            .agg(F.avg("recall")).collect()[0][0], 4)
        ea.unpersist()
        corpus.unpersist()
        assigned.unpersist()
        skc.unpersist()
        enc.unpersist()
        exact_cached.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
        results.append(entry)
    cents.unpersist()
    return results


def dedup_scale_benchmark(spark, sf_dir: str, factors) -> list:
    """Throughput scaling for the dedup/text corpus-quality family —
    the operators whose 100-TB story previously rested on plan shape
    alone.  The corpus is inflated with ``tools.scale_probe.
    inflate_docs`` (copy-specific word salting: pair counts grow
    ~linearly, no quadratic per-family blowup) and each operator is
    timed end to end, reduced to one driver row:

    * MinHash+LSH banding (pairs materialized + counted),
    * exact-dup star edges ∪ MinHash pairs -> connected components,
    * Gopher repetition gates (per-doc explode + hash-agg),
    * cross-doc duplicated n-grams (postings join on the gram key —
      the spot to watch for hot-shingle skew at scale),
    * BM25 index build + worst-case top-df 20-query batch (the
      maintained inverted-index path),
    * PageRank over the MinHash near-dup graph (join-per-round,
      rank-mass conservation emitted as the invariant).

    Near-linear ``*_sec`` growth across factors is the scale claim
    these rows substantiate.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.functions.hashing import md5_hex
    from python_vector_db___ai_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
        minhash_signature,
    )
    from python_vector_db___ai_spark.operators.quality import (
        crossdoc_dup_ngrams,
        repetition_metrics,
    )
    from python_vector_db___ai_spark.session import load_table
    from tools.scale_probe import inflate_docs

    # SPARK_GRAFT_DEDUP_BLOCKS: comma list restricting which sweep
    # blocks run — for targeted extra-notch probes (r11 directive #6:
    # one 4M-doc reading of crossdoc+decontam should not pay for the
    # whole family).  Empty/unset = all blocks (the artifact of
    # record).  Block keys: minhash, components, repetition, crossdoc,
    # span_dedup, bpe_freq, bm25, pagerank, incremental, decontam.
    # components/pagerank consume the minhash pairs frame, so asking
    # for either implies minhash.
    only = {b.strip() for b in os.environ.get(
        "SPARK_GRAFT_DEDUP_BLOCKS", "").split(",") if b.strip()}
    if only & {"components", "pagerank"}:
        only.add("minhash")

    def want(key: str) -> bool:
        return not only or key in only

    docs0 = load_table(spark, sf_dir, "documents")
    n_base_docs = docs0.count()
    results = []
    for factor in factors:
        tmp = tempfile.mkdtemp(prefix=f"bench_docs_{factor}_")
        inflate_docs(docs0, factor).write.parquet(tmp, mode="overwrite")
        # The inflated file is small on disk (tens of MB of text), so a
        # size-based parquet split would hand the whole corpus to ONE
        # task; spread it across the executors like a real multi-file
        # 100-TB table would arrive.  The split count scales with the
        # corpus past 2M docs (r13): a real table splits by
        # maxPartitionBytes, so docs-per-split stays constant — a flat
        # repartition(32) under-split the 4M notch to 125k docs/task,
        # leaving map-only stages (the MinHash sign pass) zero
        # scheduling slack: one stalled task stretched the whole stage
        # (the 4M sigs-write reps read [23.8, 37.6, 34.1] s with
        # perfectly linear bytes).  62.5k docs/split keeps factors
        # <= 400 at exactly the r10-r12 width (32), preserving
        # committed-slope comparability at the 1M->2M notch of record.
        par = spark.sparkContext.defaultParallelism
        n_splits = max(par, n_base_docs * factor // 62500)
        docs = spark.read.parquet(tmp).repartition(n_splits).cache()
        n = docs.count()
        # Top-notch rows carry [min, median, max] runs-triples (r10
        # directive #1); each rep rebuilds its plan per timed_median's
        # rebuild rule, with cache teardown between reps where a rep
        # materializes one.
        reps = _top_reps(factor, factors)
        entry = {"factor": factor, "doc_rows": n}
        if reps > 1:
            entry["sweep_reps"] = reps

        # 3-word shingles + a hot-bucket cap: the production MinHash
        # configuration.  With unigram shingles the copy-salting moves
        # Jaccard between a doc's copies only to ~0.67, which still
        # LSH-collides ~60% of each copy family — candidate pairs then
        # grow quadratically in the factor and the verify (not the
        # banding) becomes the whole job.  3-shingles put salted
        # copies at J~0.25 (collision ~2%) while true within-stratum
        # near-dups stay at J~1; max_bucket skips any residual
        # degenerate bucket.
        #
        # Stage split: the timed total is one uninstrumented run of the
        # operator (sign, band and the bucket-verify kernel in one
        # plan).  After the reps, outside the timed window, one noop
        # write of the signing pass gives minhash_sign_sec and one
        # count of the verify_threshold=None frame gives the distinct
        # candidate pairs entering the verify; minhash_verify_sec is
        # the remainder (band + verify).
        mh_cfg = dict(num_hashes=16, bands=4, shingle_n=3, max_bucket=1000)
        mh_holder: dict = {}

        def mh_pre():
            if "mh" in mh_holder:
                mh_holder["mh"].unpersist(blocking=True)

        def mh_run():
            mh_t = (minhash_lsh_pairs(docs, verify_threshold=0.9, **mh_cfg)
                    .select("i", "j").cache())
            mh_holder["mh"] = mh_t
            return {"minhash_pairs": mh_t.count()}

        mh = None
        if want("minhash"):
            sweep_timed(entry, "minhash_lsh", mh_run, reps, pre=mh_pre)
            mh = mh_holder["mh"]
            n_cand = minhash_lsh_pairs(docs, **mh_cfg).count()
            # explicit alias per r12 VERDICT #2: the pair count entering
            # the verify (deterministic for a given corpus+config —
            # band-hash collisions, not timing)
            entry["minhash_candidates"] = entry["verify_candidates"] = n_cand
            t0 = time.perf_counter()
            (minhash_signature(docs, 16, 3, hashed_shingles=True)
             .write.format("noop").mode("overwrite").save())
            entry["minhash_sign_sec"] = round(time.perf_counter() - t0, 3)
            entry["minhash_verify_sec"] = round(
                entry["minhash_lsh_sec"] - entry["minhash_sign_sec"], 3)
            # normalized verify cost (r12 VERDICT #2): flat-or-falling
            # µs/candidate across notches re-proves that the verify
            # SLOPE is candidate-pair growth (quadratic in duplicate-
            # family size on the copy-salted corpus — a corpus
            # property), not per-pair cost growth in the verify.
            if n_cand:
                entry["minhash_verify_us_per_cand"] = round(
                    entry["minhash_verify_sec"] / n_cand * 1e6, 3)

        def components_run():
            hashed = docs.select("doc_id",
                                 md5_hex(F.col("text")).alias("_ch"))
            groups = hashed.groupBy("_ch").agg(
                F.min("doc_id").alias("_keep"))
            ex_edges = (hashed.join(groups, "_ch")
                        .filter(F.col("doc_id") != F.col("_keep"))
                        .select(F.col("_keep").alias("i"),
                                F.col("doc_id").alias("j")))
            comp = dedup_components(mh.unionByName(ex_edges).distinct(),
                                    docs.select("doc_id"), rounds=5)
            row = comp.agg(
                F.count("*").alias("n"),
                F.sum(F.col("is_canonical").cast("long")).alias("kept")
            ).collect()[0]
            return {"kept_docs": int(row["kept"])}

        if mh is not None and want("components"):
            sweep_timed(entry, "components", components_run, reps)

        def repetition_run():
            rep = repetition_metrics(docs).agg(
                F.avg("dup_5gram_frac").alias("a"),
                F.avg("unigram_entropy").alias("b")).collect()[0]
            return {"avg_dup_5gram_frac": round(float(rep["a"]), 4)}

        if want("repetition"):
            sweep_timed(entry, "repetition", repetition_run, reps)

        # The gram-key exchange is sized by the operator itself since
        # r10 (rows-based policy: GRAMS_PER_PARTITION positions per
        # reduce task, embedded in the plan as repartition(N, gkey)) —
        # the r9 bench-local session-conf override is gone, so nothing
        # here can leak a bumped shuffle setting into the iterative
        # ops (r9 ADVICE).  plan_info records the policy's decision in
        # the artifact; the sizing job hits the cached docs (and is
        # re-run per rep — it is part of the operator's documented
        # end-to-end cost).
        def crossdoc_run():
            info: dict = {}
            cd = crossdoc_dup_ngrams(docs, n=8, plan_info=info).agg(
                F.sum("n_grams").alias("g"),
                F.avg("crossdoc_dup_frac").alias("f")).collect()[0]
            return {"crossdoc_grams": int(cd["g"]),
                    "crossdoc_shuffle_partitions":
                        info["shuffle_partitions"]}

        if want("crossdoc"):
            sweep_timed(entry, "crossdoc", crossdoc_run, reps)

        # span-level exact-substring dedup: same postings shape (one
        # hash agg on the span key + join back), reduced to one row.
        from python_vector_db___ai_spark.operators.substring import span_dedup

        def span_run():
            sp = span_dedup(docs, window=10).agg(
                F.sum("n_dropped").alias("d"),
                F.sum("chars_dropped").alias("c")).collect()[0]
            return {"span_dropped": int(sp["d"])}

        if want("span_dedup"):
            sweep_timed(entry, "span_dedup", span_run, reps)

        # BPE's corpus-scale half (the word-frequency pass); the merge
        # loop runs on the bounded vocabulary and doesn't grow with n.
        from python_vector_db___ai_spark.operators.bpe import word_frequencies

        if want("bpe_freq"):
            sweep_timed(
                entry, "bpe_freq",
                lambda: {"bpe_vocab_rows": word_frequencies(docs).count()},
                reps)

        # BM25 retrieval at scale: the maintained inverted-index
        # story, timed in three pieces — the in-flight executor-heap
        # index BUILD (one explode + ONE (doc, dl, term) hash agg over
        # the corpus, results .cache()d; kept as the comparison
        # number), a 20-query BATCH against the prebuilt index (ONE
        # postings scan: term equi-join + per-query window; dl rides
        # the postings and df comes from the dictionary, so the batch
        # neither re-joins the corpus-sized lengths table nor re-scans
        # postings for df), and the DISK standing-index build
        # (save_bm25_index + one reload-scored batch) — the build
        # slope OF RECORD since r12 (r11 directive #1: the heap build
        # was the one robustly super-linear block, 2.35–2.47× at
        # 1M→2M, because corpus-sized postings pinned on a heap
        # already holding the docs cache evict/GC-thrash; the
        # persisted artifact is what a 100-TB corpus maintains
        # anyway).  Query terms are the corpus's own top-df terms —
        # the worst case for the postings join, since every term
        # matches the maximum number of documents.
        if want("bm25"):
            from python_vector_db___ai_spark.operators.bm25 import (
                bm25_index,
                bm25_topk_batch,
                doc_lengths,
                save_bm25_index,
                term_df,
            )

            bm_holder: dict = {}

            def bm_pre():
                for key in ("post", "dls", "tdf"):
                    if key in bm_holder:
                        bm_holder[key].unpersist(blocking=True)

            def bm_index_run():
                post = bm25_index(docs).cache()
                dls = doc_lengths(docs).cache()
                tdf = term_df(post).cache()
                post.count(), dls.count(), tdf.count()
                bm_holder.update(post=post, dls=dls, tdf=tdf)
                return None

            sweep_timed(entry, "bm25_index", bm_index_run, reps,
                        pre=bm_pre)
            post, dls, tdf = (bm_holder["post"], bm_holder["dls"],
                              bm_holder["tdf"])
            top_terms = [r["term"] for r in
                         (tdf.orderBy(F.col("df").desc(),
                                      F.col("term").asc())
                          .limit(60).collect())]
            # Cycle modulo the vocabulary so every query carries
            # exactly 3 terms even if the corpus has < 60 distinct
            # terms (a silent short slice would quietly weaken the
            # stated worst-case top-df workload).
            assert top_terms, "bm25 batch: empty vocabulary"
            qtable = spark.createDataFrame(
                [(qi, [top_terms[(3 * qi + o) % len(top_terms)]
                       for o in range(3)]) for qi in range(20)],
                "query_id long, terms array<string>")
            sweep_timed(
                entry, "bm25_batch",
                lambda: {"bm25_batch_rows": bm25_topk_batch(
                    docs, qtable, k=10,
                    prebuilt=(post, dls, tdf)).count()},
                reps)
            post.unpersist()
            dls.unpersist()
            tdf.unpersist()

            # Disk standing-index build + first reload-scored batch:
            # nothing cached, nothing on the heap — the timed unit is
            # write(postings+lengths+term_df) → reload → score the
            # same worst-case 20-query batch (proves the artifact
            # usable, and row-group pruning on the term-sorted layout
            # is what the batch half exercises).  Each rep clears the
            # artifact directory OUTSIDE the timed window so rep N
            # never times rep N-1's deletes.
            bm_disk_dir = tempfile.mkdtemp(
                prefix=f"bench_bm25idx_{factor}_")
            bm_disk_stage_runs: list = []

            bm_snap: dict = {}

            def bm_disk_pre():
                shutil.rmtree(bm_disk_dir, ignore_errors=True)
                # Flush the writeback queue OUTSIDE the timed window:
                # by the top notches several GB of earlier sweep
                # output sit dirty in the page cache, and reps that
                # start behind that backlog time the kernel's flush,
                # not the operator (observed: same-code disk-build
                # reps [31.8, 43.7, 56.6] with the spread confined to
                # write-heavy blocks).
                os.sync()
                bm_snap["ids"] = _stage_ids_snapshot(spark)

            def bm_disk_run():
                stages: dict = {}
                pre3 = save_bm25_index(docs, bm_disk_dir,
                                       stage_timings=stages)
                rows = bm25_topk_batch(docs, qtable, k=10,
                                       prebuilt=pre3).count()
                bm_disk_stage_runs.append(stages)
                return {"bm25_disk_batch_rows": rows}

            def bm_disk_post():
                m = _stage_metrics_since(spark, bm_snap.pop("ids", None))
                if m is not None and bm_disk_stage_runs:
                    bm_disk_stage_runs[-1]["spark_stage_metrics"] = m

            try:
                sweep_timed(entry, "bm25_index_disk", bm_disk_run,
                            reps, pre=bm_disk_pre, post=bm_disk_post)
                entry["bm25_index_disk_stage_runs"] = bm_disk_stage_runs
            finally:
                shutil.rmtree(bm_disk_dir, ignore_errors=True)

        # PageRank over the MinHash near-dup graph (the canonical-pick
        # refinement): per-round cost is one equi-join + one hash agg
        # over |edges| + |nodes| rows, so the near-linear pair growth
        # above bounds this too.  rank_sum is the retained-mass
        # invariant: dangling (isolated) nodes drop their damped mass,
        # so (1-damping) <= rank_sum <= 1, and because the inflated
        # corpus keeps the SAME dup-family structure at every factor
        # the value should be scale-invariant across rows.
        from python_vector_db___ai_spark.operators.graph import pagerank

        def pagerank_run():
            pr = pagerank(mh, docs.select("doc_id"), iters=3).agg(
                F.sum("rank").alias("s")).collect()[0]
            return {"pagerank_rank_sum": round(float(pr["s"]), 6)}

        if mh is not None and want("pagerank"):
            sweep_timed(entry, "pagerank", pagerank_run, reps)

        # Incremental minhash at the factor's corpus size (r9
        # directive #7 — never measured above 1M docs): a FIXED-size
        # 5k increment (the base corpus, id-offset) flagged against
        # the factor's standing LSH index.  The index build is the
        # per-corpus-version amortized cost (timed separately); the
        # incremental flags call is the daily-crawl path whose cost
        # must scale with the increment + bucket fan-in, never
        # corpus².
        from python_vector_db___ai_spark.operators.dedup import (
            decontaminate,
            minhash_incremental_flags,
            save_minhash_index,
        )

        # inflate_docs(docs0, 1) is the copy-0 stratum — textually
        # EQUAL to the corpus's copy-0 docs, so the increment really
        # contains duplicates and the verify/is_dup path does real
        # work (the raw base text would not: copy salting rewrites
        # every 5th word, putting all base-vs-copy Jaccards below the
        # 0.9 verify threshold).  The standing index is the PERSISTED
        # parquet artifact, not a cache: caching two corpus-sized
        # frames on a heap already holding the docs cache made the 2M
        # build swing 17-77 s run-to-run (eviction/GC), and disk is
        # what a daily job loads anyway.
        mh_idx = tempfile.mkdtemp(prefix=f"bench_mhidx_{factor}_")
        idx_holder: dict = {}
        idx_stage_runs: list = []

        idx_snap: dict = {}

        def idx_pre():
            # Same writeback flush as bm_disk_pre: the standing-index
            # build is a corpus-sized parquet write, and its r11 spread
            # was exactly this dirty-page backlog.
            os.sync()
            idx_snap["ids"] = _stage_ids_snapshot(spark)

        def idx_post():
            # Executor-side attribution for the rep that just ran
            # (r14: the 2M->4M sigs-write wall slope read 1.9-2.4x
            # across calm runs on identical code and exactly-linear
            # bytes; run-vs-cpu-vs-gc totals per factor say whether
            # that is plan cost or machine contention).
            m = _stage_metrics_since(spark, idx_snap.pop("ids", None))
            if m is not None and idx_stage_runs:
                idx_stage_runs[-1]["spark_stage_metrics"] = m

        def idx_run():
            # include_shingles=False: the narrow build (r11 directive
            # #2).  The r11 sigs write persisted corpus-sized shingle
            # sets next to the signatures — 5× the bytes and ~2 KB of
            # Python→JVM Arrow traffic per doc — and that write was
            # where the 2M build's 14.5–31.6 s same-code spread lived.
            # The probe recomputes candidate shingles from the corpus
            # instead (minhash_incremental_flags, values identical).
            stages: dict = {}
            idx_holder["index"] = save_minhash_index(
                minhash_signature(docs, 16, 3, include_shingles=False),
                mh_idx, num_hashes=16, bands=4, stage_timings=stages)
            idx_stage_runs.append(stages)
            return None

        # Per-rep increments shift the id offset so each rep signs a
        # FRESH plan (minhash_incremental_flags caches the increment's
        # signatures internally; an identical plan would silently hit
        # rep 1's cache and time only the probe join).  The flag
        # counts are offset-invariant.
        inc_rep = iter(range(64))

        def inc_run():
            off = 10 ** 9 + next(inc_rep) * 10 ** 6
            inc = inflate_docs(docs0, 1).select(
                (F.col("doc_id") + off).alias("doc_id"),
                "text", "lang", "source", "n_chars")
            flags = minhash_incremental_flags(
                inc, docs, num_hashes=16, bands=4, shingle_n=3,
                verify_threshold=0.9,
                corpus_index=idx_holder["index"])
            inc_row = flags.agg(
                F.count("*").alias("n"),
                F.sum(F.col("is_dup").cast("long")).alias("d")
            ).collect()[0]
            # Drop this rep's internal caches (increment sigs + cand)
            # so repeated probes don't pin frames across reps.
            for fr in getattr(flags, "_cached_frames", []):
                fr.unpersist()
            return {"incremental_new_docs": int(inc_row["n"]),
                    "incremental_dups": int(inc_row["d"] or 0)}

        if want("incremental"):
            try:
                sweep_timed(entry, "incremental_index", idx_run, reps,
                            pre=idx_pre, post=idx_post)
                # Build split per rep (r10 directive #3 — the 2M build
                # read 16–38 s across runs with no attribution): which
                # of sign+write / reload+band+write the spread lives
                # in, the part-file counts that would expose a
                # partitionBy small-files explosion, and (since r12)
                # the on-disk byte sizes proving the narrow layout.
                entry["incremental_index_stage_runs"] = idx_stage_runs
                sweep_timed(entry, "incremental", inc_run, reps)
            finally:
                shutil.rmtree(mh_idx, ignore_errors=True)

        # N-gram decontamination at the factor's corpus size (same
        # directive): fixed 100-doc benchmark side (eval sets don't
        # grow with the corpus) — the plan must broadcast the
        # benchmark postings, so the training side is one explode +
        # map-side join, cost ∝ training postings.
        if want("decontam"):
            bench_docs = (inflate_docs(docs0, 1).limit(100)
                          .select((F.col("doc_id") + 2 * 10 ** 9)
                                  .alias("doc_id"), "text"))
            sweep_timed(
                entry, "decontam_ngram",
                lambda: {"decontam_ngram_hits": int(
                    decontaminate(docs, bench_docs, n=5).count())},
                reps)

        if mh is not None:
            mh.unpersist()
        docs.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
        results.append(entry)
    return results


def events_scale_benchmark(spark, sf_dir: str, factors) -> list:
    """Throughput scaling for the behavioral/event family.  The events
    table is inflated with ``tools.scale_probe.inflate_events`` (each
    copy is a fresh user population, so per-user state stays bounded)
    and each operator is timed end to end:

    * sequential funnel (single-pass per-user array walk),
    * exact DAU / trailing-WAU (bounded fan-out + count-distinct),
    * Markov transition matrix (per-user lag window),
    * backward as-of join (union-and-carry, one shuffle).

    Near-linear ``*_sec`` growth across factors substantiates the
    family's 100-TB claims the same way dedup_scale does for text.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.asof import asof_join
    from python_vector_db___ai_spark.operators.behavior import (
        funnel_steps,
        rolling_active_users,
        transition_matrix,
    )
    from python_vector_db___ai_spark.session import load_table
    from tools.scale_probe import inflate_events

    ev0 = load_table(spark, sf_dir, "events")
    results = []
    for factor in factors:
        tmp = tempfile.mkdtemp(prefix=f"bench_events_{factor}_")
        inflate_events(ev0, factor).write.parquet(tmp, mode="overwrite")
        par = spark.sparkContext.defaultParallelism
        ev = spark.read.parquet(tmp).repartition(par).cache()
        n = ev.count()
        reps = _top_reps(factor, factors)
        entry = {"factor": factor, "event_rows": n}
        if reps > 1:
            entry["sweep_reps"] = reps

        def funnel_run():
            fun = funnel_steps(
                ev, ["signup", "view", "click", "purchase"]).collect()
            return {"funnel_final_users": int(fun[-1]["n_users"])}

        sweep_timed(entry, "funnel", funnel_run, reps)

        # rolling_active_users caches its per-user day-set frame; tear
        # it down between reps (same rule as the minhash block — the
        # cache manager matches canonicalized plans, so rep 2 would
        # otherwise read rep 1's materialization and the committed
        # median would collapse to cached-read cost).
        wau_holder: dict = {}

        def wau_pre():
            for f in wau_holder.pop("c", []):
                f.unpersist(blocking=True)

        def wau_run():
            df = rolling_active_users(ev)
            wau = df.agg(F.max("wau").alias("m")).collect()[0]
            wau_holder["c"] = getattr(df, "_cached_frames", [])
            return {"max_wau": int(wau["m"])}

        sweep_timed(entry, "wau", wau_run, reps, pre=wau_pre)
        for f in wau_holder.pop("c", []):
            f.unpersist(blocking=True)

        def transition_run():
            transition_matrix(ev).collect()
            return None

        sweep_timed(entry, "transition", transition_run, reps)

        def asof_run():
            purchases = ev.filter(F.col("event_type") == "purchase") \
                .select("event_id", "user_id", "ts")
            clicks = (ev.filter(F.col("event_type") == "click")
                      .groupBy("user_id", "ts")
                      .agg(F.min("event_id").alias("click_id")))
            matched = asof_join(purchases, clicks, on="user_id",
                                right_cols=["click_id"])
            return {"asof_matched": matched.filter(
                F.col("asof_click_id").isNotNull()).count()}

        sweep_timed(entry, "asof", asof_run, reps)

        # exact vs approx percentile: substantiates the documented
        # 100-TB scale path of events_value_percentiles (t-digest
        # partial aggs vs the exact sort-based form) with a measured
        # error bound at this volume.
        pctl: dict = {}

        def pctl_exact_run():
            exact = ev.groupBy("event_type").agg(
                F.expr("percentile(value, 0.99)").alias("p99"))
            pctl["exact"] = {r["event_type"]: r["p99"]
                             for r in exact.collect()}
            return None

        def pctl_approx_run():
            approx = ev.groupBy("event_type").agg(
                F.expr("approx_percentile(value, 0.99, 10000)")
                .alias("p99"))
            pctl["approx"] = {r["event_type"]: r["p99"]
                              for r in approx.collect()}
            return None

        sweep_timed(entry, "pctl_exact", pctl_exact_run, reps)
        sweep_timed(entry, "pctl_approx", pctl_approx_run, reps)
        entry["pctl_max_rel_err"] = round(max(
            abs(pctl["approx"][k] - v) / max(abs(v), 1e-9)
            for k, v in pctl["exact"].items()), 6)

        ev.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
        results.append(entry)
    return results


def embedding_scale_benchmark(spark, sf_dir: str, factors) -> list:
    """Throughput scaling for the embedding-statistics family whose
    100-TB claims were previously shape-only (round-6 VERDICT
    directive #5):

    * semantic decontamination — eval matrix broadcast, one matmul
      per training partition, training side never shuffles; the eval
      set stays FIXED-SIZE across factors (eval sets don't grow with
      the corpus), so cost must scale with training rows only;
    * d×d covariance — one Arrow pass reducing each partition to
      (n, Σx, XᵀX) partials, executors × O(d²) transfer.

    Near-linear ``*_sec`` growth across factors is the claim these
    rows substantiate.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from python_vector_db___ai_spark.operators.dedup import (
        semantic_decontaminate,
    )
    from python_vector_db___ai_spark.operators.pca import covariance_matrix
    from python_vector_db___ai_spark.session import load_table
    from tools.scale_probe import inflate

    emb = load_table(spark, sf_dir, "embeddings")
    # Fixed eval set: 40 base vectors with offset ids.  Copies of
    # these vectors exist at every factor, so the decontamination
    # check always fires on real hits.
    benchmark = (emb.filter(F.col("vec_id") % 50 == 0).limit(40)
                 .select((F.col("vec_id") + 10 ** 9).alias("vec_id"),
                         "embedding").cache())
    benchmark.count()
    results = []
    for factor in factors:
        tmp = tempfile.mkdtemp(prefix=f"bench_embscale_{factor}_")
        try:
            inflate(emb, factor).write.parquet(tmp, mode="overwrite")
            corpus = spark.read.parquet(tmp).cache()
            n = corpus.count()
            reps = _top_reps(factor, factors)
            entry = {"factor": factor, "corpus_rows": n}
            if reps > 1:
                entry["sweep_reps"] = reps

            sweep_timed(
                entry, "decontam",
                lambda: {"decontam_hits": int(semantic_decontaminate(
                    corpus, benchmark, threshold=0.9).count())},
                reps)

            def covariance_run():
                covariance_matrix(corpus).count()
                return None

            sweep_timed(entry, "covariance", covariance_run, reps)

            corpus.unpersist()
            results.append(entry)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    benchmark.unpersist()
    return results


if __name__ == "__main__":
    main()
