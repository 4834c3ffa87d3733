"""Guard against per-operator copies of the shared vector kernels.

The BLAS search, probe and scoring operators read vectors, score and
select top-k through ``operators/_kernels.py``.  A private
``np.lexsort`` top-k loop or a ``pdf[col].tolist()`` vector read in one
of them is the duplication that module replaced.
"""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = (Path(__file__).resolve().parent.parent
             / "python_vector_db___ai_spark" / "operators")
PORTED = ("search", "ivf", "pq", "lsh", "dedup", "hnsw", "index_store")
# the persisted-HNSW build and upsert keep their pandas graph
# construction; only their search moved to the shared kernels
TOLIST_EXEMPT = {"index_store"}


def _offences(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not isinstance(node, ast.Attribute):
            continue
        if (node.attr == "lexsort" and isinstance(node.value, ast.Name)
                and node.value.id == "np"):
            found.append(f"{path.stem}:{node.lineno} np.lexsort")
        # pdf[col].tolist(): a pandas column read one object per vector
        if (node.attr == "tolist" and isinstance(node.value, ast.Subscript)
                and path.stem not in TOLIST_EXEMPT):
            found.append(f"{path.stem}:{node.lineno} <frame>[col].tolist()")
    return found


def test_ported_operators_use_shared_kernels():
    offences = [o for name in PORTED
                for o in _offences(OPERATORS / f"{name}.py")]
    assert offences == []


def test_guard_sees_the_patterns(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text("order = np.lexsort((a, b))\n"
                     "V = np.array(pdf['v'].tolist())\n"
                     "ok = (V @ q).tolist()\n")
    assert len(_offences(probe)) == 2
