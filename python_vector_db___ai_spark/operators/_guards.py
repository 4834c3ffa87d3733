"""Small-side contract guards.

Several operators collect a "small by contract" side to the driver and
broadcast it inside a closure (query batches, probe tables, centroid
sets).  Correct for the reference's workloads (100-query batches,
day_6/day6_complete.py:86-99), but nothing used to stop a caller from
passing a 10M-row frame and silently OOMing the driver.  Every such
collect now goes through :func:`collect_small`, which fails fast with
a pointer at the distributed alternative.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

# Generous for a driver (100k rows x a ~1 KB vector ~ 100 MB) while
# catching the "passed the corpus by accident" class of mistake.
SMALL_SIDE_CAP = 100_000


def collect_small(df: DataFrame, what: str, cap: int = SMALL_SIDE_CAP,
                  hint: str | None = None) -> pa.Table:
    """Collect ``df`` as an Arrow table asserting it is small by contract.

    ``limit(cap + 1)`` bounds the transfer, so even a huge frame costs
    one extra row, not an OOM; ``toArrow`` reads every partition in one
    job (``collect`` runs an incremental take, one job per round of
    partitions).  Raises ``ValueError`` with an actionable message when
    the cap is exceeded.
    """
    rows = df.limit(cap + 1).toArrow()
    if rows.num_rows > cap:
        msg = (f"{what}: expected a small side (<= {cap} rows) but got "
               f"more; collecting it would flood the driver.")
        if hint:
            msg += f" {hint}"
        raise ValueError(msg)
    return rows
