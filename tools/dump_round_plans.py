"""Dump ``explain("formatted")`` of registered queries to
``plans/r<round>/<query>_<tag>.txt`` (optimization-round evidence).

Usage: python tools/dump_round_plans.py <round> <before|after> [query ...]
``<round>`` is the round number (``15`` writes ``plans/r15/``).
Defaults to the bench HEADLINE list.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# Plan snapshots must show the same plan shape the bench exercises
# (rebalanced documents scan).
os.environ.setdefault("SPARK_GRAFT_REBALANCE", "1")


def main() -> None:
    rnd = int(sys.argv[1])
    tag = sys.argv[2]
    assert tag in ("before", "after"), "tag must be before|after"
    import bench
    from python_vector_db___ai_spark.plans.explain import formatted_plan
    from python_vector_db___ai_spark.plans.queries import all_queries
    from python_vector_db___ai_spark.session import get_spark

    spark = get_spark(f"dump_r{rnd}_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sys.argv[3:] or bench.HEADLINE
    outdir = ROOT / "plans" / f"r{rnd}"
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        if name not in qs:
            print(f"skip {name}: not registered")
            continue
        df = qs[name].spark_fn(spark, sf_dir)
        text = formatted_plan(df)
        path = outdir / f"{name}_{tag}.txt"
        path.write_text(text + "\n")
        print(f"wrote {path} ({len(text)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
