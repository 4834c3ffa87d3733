"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_search --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  One process, one client thread, a
closed loop on ``local[N]`` (N = min(2, nproc)).  The last line of
stdout is the result object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the run stamp and side numbers.
``--trace 1`` reports the per-layer metrics instead of the end-to-end
ones and writes every span to ``.perfbench_out/``.  See METHODOLOGY.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ann_search", "rag_ingest")
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _first_line(cmd: list[str], stream: str) -> str | None:
    try:
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=20)
        return (getattr(p, stream).strip().splitlines() or [None])[0]
    except (OSError, subprocess.SubprocessError):
        return None


def stamp(args) -> dict:
    """What a noisy run needs to be explained from its own output."""
    import pyspark

    head = (_first_line(["git", "rev-parse", "HEAD"], "stdout")
            if (ROOT / ".git").exists() else None)
    return {"git_head": head,
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "local_n": CPUS,
            "driver_memory": DRIVER_MEM, "pyspark": pyspark.__version__,
            "loadavg_start": list(os.getloadavg())}


def host_speed() -> float:
    """Median seconds of a fixed single-threaded Python loop: a yardstick
    of how fast the host runs at the moment, for the run stamp only."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal), or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def cpu_shares(t0: list[int] | None) -> dict:
    """Shares of all CPU time since ``t0`` that were busy, idle and stolen
    by the host; a run slowed by its neighbours shows a high steal share."""
    t1 = cpu_ticks()
    if t0 is None or t1 is None:
        return {}
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"cpu_busy_frac": (d[0] + d[1] + d[2] + d[5] + d[6]) / total,
            "cpu_idle_frac": (d[3] + d[4]) / total,
            "cpu_steal_frac": d[7] / total}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


class Run:
    """State shared by a workload: session, tracer, temp root, tallies."""

    def __init__(self, args, spark, tracer, tmp: str):
        self.args = args
        self.spark = spark
        self.tr = tracer
        self.tmp = tmp
        self.attempted = 0
        self.bad: set[tuple[str, int]] = set()
        self.errors: list[str] = []
        # per op type: (wall seconds, work units) of every timed op
        self.ops: dict[str, list[tuple[float, int]]] = {}
        # traced run: op walls by (op type, traced?) for the overhead
        self.walls: dict[tuple[str, bool], list[float]] = {}
        # traced run: samples of layer numbers measured outside op spans
        self.layer: dict[str, list[float]] = {}

    @property
    def failed(self) -> int:
        return len(self.bad)

    def check(self, key: tuple[str, int], ok: bool, what: str) -> bool:
        """Record one output check of op ``key``; a failed check marks
        the op as failed (once, however many of its checks fail)."""
        if not ok:
            self.bad.add(key)
            self.errors.append(f"{key[0]}[{key[1]}]: {what}")
        return ok

    def op(self, name: str, batch: int, fn):
        """Time one op of type ``name``; returns its result or None.

        ``fn()`` returns ``(work_units, result)``.  An op that raises
        counts as attempted and failed and adds no time or work.
        """
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span(name, batch=batch):
                units, result = fn()
        except Exception as e:  # keep the loop going; report the failure
            self.check((name, batch), False, f"{type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t0
        self.walls.setdefault((name, self.tr.enabled), []).append(dt)
        self.ops.setdefault(name, []).append((dt, units))
        return result

    def rate(self, name: str) -> float:
        """Median over the ops of type ``name`` of work units per second;
        a median keeps one op slowed by a neighbour from moving it.
        0 when every op of the type failed."""
        if name not in self.ops:
            return 0.0
        return statistics.median(u / s for s, u in self.ops[name])


def loop(run: Run, min_rounds: int, round_fn,
         max_rounds: int | None = None) -> int:
    """Closed loop: call ``round_fn(r)`` for r = 0, 1, ... until both
    ``min_rounds`` rounds are done and ``--seconds`` have passed, or the
    generated inputs run out after ``max_rounds``; returns rounds played.

    The traced run traces even rounds only; the odd rounds are its
    untraced reference for ``trace.overhead_frac``.
    """
    traced = run.tr.enabled
    t0 = time.perf_counter()
    r = 0
    while (max_rounds is None or r < max_rounds) and (
            r < min_rounds or time.perf_counter() - t0 < run.args.seconds):
        run.tr.enabled = traced and r % 2 == 0
        round_fn(r)
        r += 1
    run.tr.enabled = traced
    return r


def overhead_frac(run) -> float:
    """Mean over op types of (traced mean wall / untraced mean wall) - 1."""
    fracs = []
    for name in run.ops:
        on, off = run.walls.get((name, True)), run.walls.get((name, False))
        if on and off:
            fracs.append(statistics.fmean(on) / statistics.fmean(off) - 1)
    return statistics.fmean(fracs) if fracs else 0.0


def stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched (and with it the Python
    workers) to exit; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM runs the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    # The program under test is the package at the checkout root; Spark's
    # Python workers import it too, so it goes on their path as well.
    if not (ROOT / "python_vector_db___ai_spark" / "__init__.py").is_file():
        print("perfbench: python_vector_db___ai_spark not found under "
              f"{ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                       .split(os.pathsep) if p])

    tmp_parent = ROOT / ".perfbench_tmp"
    tmp_parent.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_parent)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: else the JVM writes a perf-data file to the system
    # temp directory, outside the checkout
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        f"'-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # one BLAS thread per Python worker: N workers with a BLAS pool each
    # would run more threads than the host gives the run
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]          # package defaults only
    tempfile.tempdir = None

    spark = None
    try:
        import workloads
        from spans import Tracer

        from python_vector_db___ai_spark.session import get_spark

        info = stamp(args)
        info["host_speed_start_s"] = host_speed()
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(args, spark, tracer, tmp)
        metrics, per_layer, side = getattr(workloads, args.workload)(
            run, T_START)
        per_layer["session.start_s"] = session_s
        per_layer["trace.overhead_frac"] = overhead_frac(run)
        per_layer["spark.persisted_rdds_end"] = float(
            spark.sparkContext._jsc.sc().getPersistentRDDs().size())
        info.update(side)
        info["loadavg_end"] = list(os.getloadavg())
        info.update(cpu_shares(ticks0))
        info["host_speed_end_s"] = host_speed()
        # a JVM of its own: asked after the workload, so not in setup_s
        info["java"] = _first_line(["java", "-version"], "stderr")
        info["failed_frac"] = run.failed / max(run.attempted, 1)
        info["errors"] = run.errors[:20]
        info["ops"] = {k: {"walls": [s for s, _ in v],
                           "units": [u for _, u in v]}
                       for k, v in run.ops.items()}
        if args.trace:
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            path = out_dir / f"trace-{args.workload}-{args.seed}.json"
            path.write_text(json.dumps(
                {"stamp": info, "per_layer": per_layer,
                 "spans": [s.__dict__ for s in tracer.spans]}))
            info["trace_file"] = str(path.relative_to(ROOT))
            reported = {k: (float(per_layer.get(k, 0.0)), unit)
                        for k, unit in workloads.PER_LAYER.items()}
        else:
            reported = metrics
        print(json.dumps(info))
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": unit}
                        for k, (v, unit) in reported.items()}}))
        return 0
    finally:
        try:
            if spark is not None:
                stop(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                tmp_parent.rmdir()
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
