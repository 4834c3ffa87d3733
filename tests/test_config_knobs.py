"""Guard against environment-knob creep in the package.

An operator setting read from the environment is a second code path
that tests and benchmarks never select.  The package reads exactly two:
``SPARK_GRAFT_CPUS`` (deployment parallelism) and
``SPARK_GRAFT_REBALANCE`` (the bench's documents-scan rebalance, which
the test session unsets).  Everything else is a module constant.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "python_vector_db___ai_spark"
ALLOWED = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_REBALANCE"}


def _knobs_read(path: Path) -> set[str]:
    """Whole-string ``SPARK_GRAFT_*`` literals in one source file (names
    mentioned inside docstrings or comments do not count)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return {node.value for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and re.fullmatch(r"SPARK_GRAFT_\w+", node.value)}


def test_package_reads_only_deployment_knobs():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _knobs_read(path):
            found.setdefault(name, []).append(
                str(path.relative_to(PACKAGE)))
    assert set(found) == ALLOWED, found
