from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from python_vector_db___ai_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"

# Plan-shape tests assert the pristine scan; the bench-only input
# rebalance flag must never leak into the test session's environment.
os.environ.pop("SPARK_GRAFT_REBALANCE", None)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def components_path():
    """Context manager selecting one of ``dedup_components``' two paths.

    ``"driver"`` leaves ``SMALL_SIDE_CAP`` alone, so the small test
    graphs take the driver path; ``"spark"`` sets it to -1, which
    admits no edge list, not even an empty one, so every call takes
    the Spark round loop.
    """
    from contextlib import contextmanager

    from python_vector_db___ai_spark.operators import _guards

    @contextmanager
    def select(path: str):
        with pytest.MonkeyPatch.context() as mp:
            if path == "spark":
                mp.setattr(_guards, "SMALL_SIDE_CAP", -1)
            yield

    return select
