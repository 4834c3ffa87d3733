"""Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005).

The mergeable fixed-memory frequency sketch — at 100 TB the
heavy-hitter question ("which tokens/URLs/users dominate?") is
answered without a corpus-wide groupBy on an unbounded key space:
each partition folds its tokens into a depth×width counter table,
tables merge by element-wise addition (executors × O(depth·width)
transfer, the same treeAggregate shape as ``operators/pca.py``), and
any key's count is estimated as the min over its depth cells.

Guarantees: ``estimate >= true count`` is DETERMINISTIC (collisions
only ADD; the registered query emits it as an invariant column next
to the exact, oracle-checked counts).  The upper bound
``estimate <= true + ε·N`` with ε = e/width is PROBABILISTIC — it
holds with probability ≈ 1 − e^−depth per key over the hash draws,
so an unlucky corpus/hash interaction can exceed it while the sketch
is still behaving to spec.  It is therefore asserted as an advisory
invariant in ``tests/test_cms.py`` (where the fixed md5 hashes make
it a reproducible fact of the test corpus), NOT emitted as a
hash-checked oracle column.

Hashes are md5-derived per row (seed r), so the sketch is
bit-reproducible across engines and runs.

Reference analog: none (the reference keeps exact in-memory dicts,
e.g. day_8 collection stats) — this is the fixed-memory extension the
task brief's 100-TB pipeline needs.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

DEPTH = 4
WIDTH = 1024


def _cell(row: int, token: str, width: int) -> int:
    h = hashlib.md5(f"s{row}:{token}".encode()).hexdigest()
    return int(h[:15], 16) % width


def cms_build(tokens: DataFrame, token_col: str = "token",
              depth: int = DEPTH, width: int = WIDTH):
    """Build the merged depth×width sketch from a token column.

    One Arrow pass; each partition yields a single flattened partial
    table, combined driver-side (guarded) — no shuffle of the tokens
    themselves.  Returns ``(table ndarray, n_tokens)``.
    """
    import numpy as np
    import pandas as pd

    from python_vector_db___ai_spark.operators._guards import collect_small

    def op(batches):
        tab = np.zeros((depth, width), dtype=np.int64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf[token_col].value_counts()
            n += int(vc.sum())
            for tok, c in vc.items():
                for r in range(depth):
                    tab[r, _cell(r, tok, width)] += int(c)
        if n:
            yield pd.DataFrame({"n": [n], "tab": [tab.ravel().tolist()]})

    partials = tokens.select(token_col).mapInPandas(
        op, schema="n long, tab array<long>")
    rows = collect_small(partials, "count-min partial sketches",
                         hint="One row per partition expected.")
    tab = np.zeros(depth * width, dtype=np.int64)
    n_tokens = 0
    for r in rows.to_pylist():
        tab += np.array(r["tab"], dtype=np.int64)
        n_tokens += r["n"]
    return tab.reshape(depth, width), n_tokens


def cms_estimate(table, token: str) -> int:
    """Point estimate: min over the token's depth cells."""
    depth, width = table.shape
    return int(min(table[r, _cell(r, token, width)] for r in range(depth)))
