"""In-memory span tracer for the benchmark's traced run.

Spans are recorded around the calls the benchmark makes into the
program's layers, from the benchmark's own files, using public pyspark
calls only.  Each span gets its own Spark job group, so the jobs it
fires are read back from ``statusTracker`` when it ends.  Nothing is
written until the run ends.

With ``enabled=False`` every method keeps the call's behaviour and
records nothing, so the untraced run executes the same plans.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    batch: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, batch: int | None = None):
        """Record ``name`` around the block; nests under the open span."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if batch is None and parent:
            batch = parent.batch
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  batch, time.perf_counter())
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.sid)
        self._stack.append(sp)
        group = f"perfbench-span-{sp.sid}"
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            if parent:
                self.sc.setJobGroup(f"perfbench-span-{parent.sid}",
                                    parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------- layer call helpers
    def construct(self, layer: str, fn, *args, **kwargs):
        """Call a function that returns a DataFrame (``construct_s``)."""
        with self.span(f"{layer}.construct"):
            return fn(*args, **kwargs)

    def call(self, layer: str, fn, *args, field: str = "s", **kwargs):
        """Call a function that plans and executes in one go (``s``, or
        ``exec`` when the call is all execution, like a model fit)."""
        with self.span(f"{layer}.{field}"):
            return fn(*args, **kwargs)

    def write(self, layer: str, writer, path: str) -> None:
        """Run a DataFrameWriter's parquet write (``exec_s``)."""
        with self.span(f"{layer}.exec"):
            writer.parquet(path)

    def collect(self, layer: str, df):
        """Plan (``plan_s``) then collect (``exec_s``) ``df``.

        Forcing the executed plan first is what splits planning from
        execution; ``collect`` then reuses the same query execution.
        """
        if not self.enabled:
            return df.collect()
        with self.span(f"{layer}.plan"):
            df._jdf.queryExecution().executedPlan()
        with self.span(f"{layer}.exec"):
            return df.collect()

    # ----------------------------------------------------------- summary
    def self_time(self, sp: Span) -> float:
        """Duration minus the union of its children's intervals."""
        ivs = sorted((self.spans[c].start, self.spans[c].end)
                     for c in sp.children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def _subtree(self, sp: Span):
        yield sp
        for c in sp.children:
            yield from self._subtree(self.spans[c])

    def summary(self, op_names: set[str]) -> dict[str, float]:
        """Per-layer metrics from every span under an op span.

        ``<layer>.<fn>.<field>``: median seconds per call for time
        fields, mean Spark jobs per call for ``<...>.jobs`` (all jobs of
        the call: construct + plan + exec) and ``<...>.construct_jobs``
        (jobs fired while the DataFrame was being built).
        Also per op name: ``op.<name>.s`` (median wall),
        ``op.<name>.self_s`` (time inside the op outside every layer
        call: the benchmark's own glue), ``op.<name>.jobs`` and
        ``op.<name>.construct_jobs`` (jobs fired while building), plus
        ``trace.selfsum_err_frac``: the largest gap, as a share of wall,
        between an op's wall time and the sum of the self times in its
        subtree.
        """
        times: dict[str, list[float]] = {}
        jobs: dict[str, list[int]] = {}
        err = 0.0
        for op in self.spans:
            if op.name not in op_names or op.parent is not None:
                continue
            wall = op.end - op.start
            total = 0.0
            op_jobs = op_cjobs = 0
            call_jobs: dict[tuple[str, int], int] = {}
            for sp in self._subtree(op):
                st = self.self_time(sp)
                total += st
                op_jobs += sp.jobs
                if sp is op:
                    continue
                layer, fld = sp.name.rsplit(".", 1)
                key = {"construct": "construct_s", "plan": "plan_s",
                       "exec": "exec_s", "s": "s"}[fld]
                times.setdefault(f"{layer}.{key}", []).append(
                    sp.end - sp.start)
                if fld == "construct":
                    jobs.setdefault(f"{layer}.construct_jobs",
                                    []).append(sp.jobs)
                    op_cjobs += sp.jobs
                # one call = its construct span + the plan/exec that follow
                n = call_jobs.get((layer, op.sid), 0)
                call_jobs[(layer, op.sid)] = n + sp.jobs
            for (layer, _), n in call_jobs.items():
                jobs.setdefault(f"{layer}.jobs", []).append(n)
            times.setdefault(f"op.{op.name}.s", []).append(wall)
            times.setdefault(f"op.{op.name}.self_s", []).append(
                self.self_time(op))
            jobs.setdefault(f"op.{op.name}.jobs", []).append(op_jobs)
            jobs.setdefault(f"op.{op.name}.construct_jobs",
                            []).append(op_cjobs)
            err = max(err, abs(total - wall) / wall)
        out = {k: statistics.median(v) for k, v in times.items()}
        out.update({k: sum(v) / len(v) for k, v in jobs.items()})
        out["trace.selfsum_err_frac"] = err
        return out
