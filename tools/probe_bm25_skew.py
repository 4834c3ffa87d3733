"""Skew probe for the salted BM25 standing-index exchange.

The bench corpus has a uniform vocabulary, so the committed build
numbers never exercise the Zipf guard (`operators/bm25.py:
BM25_TERM_SALT` — hot-term postings bounded to <= SALT reduce tasks).
This probe builds two corpora of EXACTLY equal postings volume (same
n_docs, 10 distinct terms per doc) that differ only in the cross-doc
term distribution:

* ``uniform`` — every term's df ~ a few hundred (the bench shape);
* ``zipf``    — one stopword-mass term in 30% of all docs plus a
  1/rank-ish mid tier (the shape real text has and the salt is for).

It times :func:`save_bm25_index` (the full disk artifact: postings +
lengths + term_df) reps times on each and reports the median ratio —
the claim of record is **skew/uniform <= ~1.2** (an unsalted term-hash
exchange would serialize the hot term's postings through one task and
blow the ratio up).  Appends one row to ``PROBES_<tag>.json`` when
``SPARK_GRAFT_PROBE_TAG`` is set, same artifact convention as
``probe_query.py``.

Usage::

    SPARK_GRAFT_PROBE_TAG=r14 python tools/probe_bm25_skew.py [n_docs] [reps]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from python_vector_db___ai_spark.operators.bm25 import (  # noqa: E402
    BM25_TERM_SALT,
    save_bm25_index,
)
from python_vector_db___ai_spark.session import get_spark  # noqa: E402


def uniform_corpus(spark, n_docs: int) -> DataFrame:
    """10 distinct terms per doc, every term df ~ n_docs/100000."""
    terms = [F.format_string(f"w%d", (F.col("id") * 10 + j) % 100000)
             for j in range(10)]
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ", *terms).alias("text")))


def zipf_corpus(spark, n_docs: int) -> DataFrame:
    """10 distinct terms per doc, Zipf-shaped df: ``hotterm`` in 30%
    of docs (df = 0.3 * n_docs — stopword mass), a mid tier at
    df ~ n/7 .. n/997, and a per-doc unique tail padding every doc to
    exactly 10 postings so volume matches :func:`uniform_corpus`."""
    i = F.col("id")
    hot = (i % 10) < 3
    shared = [F.format_string("mid%d", i % 7),
              F.format_string("mid2_%d", (i * 3) % 29),
              F.format_string("low%d", i % 211),
              F.format_string("low2_%d", (i * 7) % 997)]
    uniq = [F.format_string(f"u%d_{j}", i) for j in range(6)]
    toks = F.when(hot, F.concat_ws(" ", F.lit("hotterm"), *shared,
                                   *uniq[:5])) \
            .otherwise(F.concat_ws(" ", *shared, *uniq))
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), toks.alias("text")))


def time_build(docs: DataFrame, path: str, reps: int) -> list[float]:
    runs = []
    for _ in range(reps):
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        save_bm25_index(docs, path)
        runs.append(round(time.perf_counter() - t0, 3))
    shutil.rmtree(path, ignore_errors=True)
    return runs


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    loadavg_start = [round(x, 2) for x in os.getloadavg()]

    spark = get_spark("bm25-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    uni = uniform_corpus(spark, n_docs).cache()
    zpf = zipf_corpus(spark, n_docs).cache()
    n_u, n_z = uni.count(), zpf.count()
    assert n_u == n_z == n_docs
    # equal postings volume by construction: 10 distinct terms per doc
    base = "/tmp/bm25_skew_probe"
    # warm both paths once (parquet committers, codegen)
    time_build(uni.limit(10_000), f"{base}/warm", 1)

    uni_runs = time_build(uni, f"{base}/uni", reps)
    zpf_runs = time_build(zpf, f"{base}/zpf", reps)
    med_u = statistics.median(uni_runs)
    med_z = statistics.median(zpf_runs)

    try:
        head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                              cwd=ROOT, capture_output=True,
                              text=True).stdout.strip()
    except OSError:
        head = None
    row = {
        "probe": "bm25_skew_build",
        "n_docs": n_docs,
        "postings_rows_per_corpus": n_docs * 10,
        "hot_term_df": int(n_docs * 3 // 10),
        "uniform_build_sec_runs": uni_runs,
        "zipf_build_sec_runs": zpf_runs,
        "uniform_build_sec": med_u,
        "zipf_build_sec": med_z,
        "skew_over_uniform": round(med_z / med_u, 3),
        "term_salt": BM25_TERM_SALT,
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "git_head": head,
        "ts": round(time.time(), 1),
    }
    print(json.dumps(row))

    tag = os.environ.get("SPARK_GRAFT_PROBE_TAG", "")
    if tag:
        path = ROOT / f"PROBES_{tag}.json"
        try:
            rows = json.loads(path.read_text()) if path.exists() else []
            if not isinstance(rows, list):
                rows = []
        except (json.JSONDecodeError, OSError):
            rows = []
        rows.append(row)
        tmp = path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(rows, indent=1) + "\n")
        os.replace(tmp, path)
        print(f"appended to {path.name} ({len(rows)} rows)",
              file=sys.stderr)


if __name__ == "__main__":
    main()
