"""Regenerate PLANS.md: formatted physical plans of the headline
queries, so the pushdown/broadcast/pruning claims are reviewable
without running Spark.  Usage: python tools/dump_plans.py"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from python_vector_db___ai_spark.plans.explain import formatted_plan
from python_vector_db___ai_spark.plans.queries import all_queries
from python_vector_db___ai_spark.session import get_spark

SHOWCASE = [
    ("knn_exact_batch",
     "BLAS batch kNN: ONE corpus pass serves cosine/L2/dot (each Arrow "
     "batch read once by a MapInArrow kernel, per-metric local top-k) "
     "+ the perturbed parity branch; one small shuffle merges per "
     "(metric, query)"),
    ("ivf_search_cosine",
     "IVF: centroid aggregation, broadcast probes, cluster-pruned scan, "
     "per-cluster matmul MapInArrow kernel"),
    ("search_filtered",
     "filtered search lifecycle: metadata filter pushed to the scan, "
     "TakeOrderedAndProject for the top-k"),
    ("tpch_q3_topk",
     "3-way join: broadcast dimension, shuffle on the fact key, partial "
     "aggregation before the exchange"),
    ("chunk_chars_fixed",
     "char chunker: one narrow WholeStageCodegen stage, zero shuffles"),
    ("dedup_exact_simhash",
     "exact dedup: single hash-aggregate exchange on the content hash"),
    ("dedup_embedding_pruned",
     "pruned semantic near-dup: coarse-quantizer broadcast, cluster "
     "equi-shuffle, within-cluster Arrow pair kernel - no theta-join"),
    ("text_profile",
     "per-doc text profile: one wide codegen'd scan for the per-doc "
     "columns; per-lang distinct stats as one hash aggregation "
     "broadcast back - NO window over the skewed lang key"),
    ("dedup_minhash_lsh",
     "MinHash near-dup pairs in one bucket-verify pass: the map-only "
     "Arrow signing feeds an explode of band rows carrying signature "
     "and shingle set, ONE exchange on (band, bucket), a MapInArrow "
     "kernel that sorts each partition and verifies every pair of a "
     "bucket in place, then the verify threshold and one aggregate "
     "dropping pairs found in several bands - no self-join, no verify "
     "join, no cache"),
    ("dedup_components",
     "dedup keep list: exact-dup star edges + MinHash pairs (the "
     "one-pass bucket-verify plan above), "
     "bounded-round min-label propagation run on the driver (the edge "
     "list fits SMALL_SIDE_CAP), so the plan is the id scan LEFT JOIN a "
     "broadcast (node, label, size) literal table with the convergence "
     "flag as a literal; above the cap each round is one equi-join + "
     "min-aggregation on the id key"),
    ("bm25_rrf_hybrid",
     "hybrid retrieval: ONE cached inverted index (dl-carrying postings "
     "+ lengths + term-df dictionary) feeds the batch BM25 branch, and "
     "the single-query branches are filtered from the batch - the query "
     "table is a driver-built (query_id, term, qtf) LocalRelation "
     "joined to the dictionary's df and broadcast into a single "
     "postings scan (dl riding the postings); corpus stats are score "
     "literals, no cross join; WindowGroupLimit per-query top-k; one "
     "shared batch kNN for the vector side"),
    ("data_health_report",
     "melted monitoring report: ONE cached (event_type, half, bin) "
     "aggregate serves both the histogram branch (half-marginal) and "
     "the PSI branch; split/chunk branches keep their own pruned "
     "documents scans; melt is a generator expression, union "
     "shuffle-free"),
    ("events_asof_attribution",
     "backward as-of join via union-and-carry: ONE exchange on the key "
     "feeding a per-key sort + last(ignorenulls) window - no inequality "
     "join operator anywhere in the plan"),
    ("events_funnel_steps",
     "sequential funnel as a single-pass array walk: one scan, one "
     "shuffle on user_id, aggregate() carries per-step first-reach "
     "state - the chained-join form planned 26 scans of events"),
    ("events_active_users_rolling",
     "exact DAU/WAU: bounded (user, day) fan-out explode + one hash "
     "count-distinct - no inequality join, no sliding-distinct window"),
    ("dedup_incremental_minhash",
     "incremental dedup: the increment's band buckets equi-join the "
     "standing corpus index; WindowGroupLimit picks each new doc's "
     "best verified match"),
    ("term_cooccurrence_pmi",
     "PMI collocations: df-gated postings (cached) self-join on doc_id "
     "- the [min_df, max_df_frac] gate runs BEFORE the quadratic pair "
     "fan-out"),
    ("crossdoc_dup_ngrams",
     "cross-doc duplicated n-gram mass: ONE operator-sized exchange "
     "(repartition(N, gkey) from the rows-based GRAMS_PER_PARTITION "
     "policy, REPARTITION_BY_NUM in the plan) satisfying the hash "
     "aggregation's required distribution, solo-mass via min==max - no "
     "join-back, no second exchange, no inferred filter under the "
     "Generate.  This registered query pins exact_strings=True "
     "(collision-free string gram keys, the oracle-gated form); the "
     "scale default hashes each gram to one xxhash64 long, "
     "differential-tested pair-identical"),
    ("decontam_ngram_overlap",
     "benchmark decontamination: corpus shingled ONCE (doc size rides "
     "the explode), benchmark postings broadcast - cost scales with "
     "the training corpus, never the join product.  String shingle "
     "keys here (exact_strings=True, the oracle-gated form); xxhash64 "
     "keys are the scale default"),
    ("corpus_span_dedup",
     "exact-substring span dedup: spans built by pure expressions "
     "(sequence+slice, no explode-regroup), keeper chosen by "
     "partial_min inside ONE hash aggregation on the span key (no "
     "window over the skewed key), broadcast join back"),
    ("pipeline_corpus_to_tokens",
     "the whole pretraining pipeline in one plan: content-hash keeper "
     "aggregate, min-words gate, span-dedup subplan over survivors, "
     "per-source reduce - two pruned scans, zero driver collects"),
    ("embedding_covariance",
     "distributed covariance: one Arrow pass reduces each partition "
     "to (n, sum, X^T X) - the treeAggregate shape; collect volume is "
     "executors x O(d^2), independent of row count"),
]


def main() -> None:
    spark = get_spark("plan-dump", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    sf_dir = "/root/testdata/sf0.001"
    out = ["# PLANS — physical plans of headline queries",
           "",
           "Generated by `python tools/dump_plans.py` (sf0.001, local[4]).",
           "Things to check: `PushedFilters`/`PartitionFilters` on scans,",
           "`ReadSchema` column pruning, `BroadcastHashJoin` for small",
           "sides, and how few `Exchange` operators each plan needs.",
           ""]
    for name, blurb in SHOWCASE:
        df = qs[name].spark_fn(spark, sf_dir)
        out.append(f"## {name}")
        out.append("")
        out.append(blurb + ".")
        out.append("")
        out.append("```")
        out.append(formatted_plan(df).strip())
        out.append("```")
        out.append("")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
