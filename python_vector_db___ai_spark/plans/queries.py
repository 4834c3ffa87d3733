"""Registry of driver-checkable queries.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent ANSI-SQL oracle string for DuckDB (or ``None`` for
genuinely non-SQL-expressible operators → rows-only check).

Conventions that keep the cross-engine value-hash stable:
* every float output column is ``round(x, N)`` in BOTH engines;
* every ranking rounds the score BEFORE ``row_number`` and tie-breaks on
  an id column;
* integer outputs are cast to BIGINT on the Spark side (DuckDB windows
  and counts default to BIGINT).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(name, fn, oracle, doc)
        return fn
    return deco


# The round driver samples the FIRST 50 registry entries (dict order)
# for its DuckDB correctness gate each round and commits the result as
# CORRECTNESS_r<round>.json (one row per checked query).  The order is
# derived from those artifacts so every entry's oracle-gate evidence
# stays at most one round old: entries never checked first, then by
# the round of their newest row, oldest first; ties keep registry
# order.  With no artifact the order is the registry order.
GATE_WINDOW = 50
_ROOT = Path(__file__).resolve().parents[2]


def newest_rounds(root: Path) -> dict[str, int]:
    """Query name -> newest round with a row in ``root``'s
    ``CORRECTNESS_r<round>.json`` artifacts."""
    newest: dict[str, int] = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)", path.stem)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name in json.loads(path.read_text()):
            newest[name] = max(newest.get(name, rnd), rnd)
    return newest


def gate_order(names: list[str], newest: dict[str, int]) -> list[str]:
    """``names`` oldest oracle-gate evidence first (see GATE_WINDOW)."""
    return sorted(names, key=lambda n: newest.get(n, -1))


_NEWEST_ROUND = newest_rounds(_ROOT)


def __getattr__(name: str):
    # DRIVER_PRIORITY needs the full registry, which the q_* modules
    # fill only when all_queries() imports them.
    if name == "DRIVER_PRIORITY":
        return list(all_queries())[:GATE_WINDOW]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that register queries.
    from python_vector_db___ai_spark.plans import (  # noqa: F401
        q_ann,
        q_behavior,
        q_crud,
        q_dedup,
        q_extra,
        q_extra2,
        q_hybrid,
        q_metrics,
        q_misc,
        q_olap,
        q_pack,
        q_parity,
        q_pipeline,
        q_text,
        q_tokenize,
        q_vector,
        q_versioned,
    )
    return {n: _REGISTRY[n]
            for n in gate_order(list(_REGISTRY), _NEWEST_ROUND)}
