"""SparkSession factory tuned for the repo's workloads.

Local-mode testing uses ``local[N]``; the configs below are chosen so the
same code path scales to a multi-executor cluster: AQE enabled (runtime
shuffle-partition coalescing + skew-join splitting), Arrow for every
pandas interchange, and shuffle partitions sized to cores rather than the
200 default.

Python workers start from ``_worker_daemon`` (``spark.python.daemon.module``)
instead of ``pyspark.daemon``.  Before every task PySpark calls
``importlib.invalidate_caches()``, and on Python 3.11 that re-reads the
central directory of ``pyspark.zip`` once per cached zip importer (16 of
them).  cProfile of one reused worker put ``setup_spark_files`` at
0.81 s of a 0.81 s task, nearly all of it in
``zipimport._read_directory`` (profiler-inflated; ~0.25 s unprofiled),
so a one-row ``mapInArrow`` job cost 0.30 s against 0.03-0.05 s for a
plain collect.  The daemon re-reads an archive only when it changed.
The package root goes on the workers' ``PYTHONPATH`` so the daemon
imports whatever the driver's working directory is.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Directory holding the package, for the Python workers' import path.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "python_vector_db___ai_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` overrides parallelism (driver contract); shuffle
    partitions default to the core count — at cluster scale you would set
    this to ~2-3x total executor cores and let AQE coalesce.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static confs: they take effect only when this call starts the
        # SparkContext.  Spark merges executorEnv.PYTHONPATH with its own.
        .config("spark.python.daemon.module",
                "python_vector_db___ai_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # InferFiltersFromGenerate rewrites every `explode(expr)` into
        # Filter(size(expr) > 0 AND isnotnull(expr)) + Generate(expr).
        # For a STORED array column that inferred filter is nearly
        # free; for the COMPUTED arrays this engine explodes everywhere
        # (word shingles, n-gram keys, postings, chunk structs) it
        # re-evaluates the generator expression two extra times per
        # row — and lambda-bearing expressions don't whole-stage-
        # codegen, so no subexpression elimination rescues it.
        # Measured at 1M docs: n-gram decontamination 83-99 s -> 27-29 s
        # (the exact 3x the triple evaluation predicts).  Disabling the
        # rule only drops an inferred optimization; plans stay correct
        # (the full oracle gate re-verified green under the exclusion).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    return builder.getOrCreate()


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize_events_ts(df):
    """Normalize ``events.ts`` to a session-TZ (UTC) microsecond TIMESTAMP
    no matter how the generator wrote the parquet.

    The driver's testdata has shipped ``ts`` as both TIMESTAMP(NANOS)
    (reads as long nanos under ``nanosAsLong``) and plain ``timestamp[us]``
    (reads as TIMESTAMP_NTZ).  Branch on the dtype actually read so either
    flavor — and a future plain TIMESTAMP — yields the identical column the
    DuckDB oracle (naive UTC) sees.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # Integer division: epoch nanos (~1.7e18) exceed double's 53-bit
        # mantissa, so a float `/ 1000` can land one microsecond off.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        # Session TZ is pinned to UTC, so this cast reinterprets the naive
        # wall-clock as the same UTC instant DuckDB assumes.
        return df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


# Per-process cache of each table file's Spark-INFERRED schema: the
# catalog stand-in.  Every ``spark.read.parquet(path)`` without a
# schema runs a driver-side footer-inference job (~40-60 ms) at plan
# CONSTRUCTION time; a query that loads two tables pays ~0.1 s per
# build before any data moves.  A real 100-TB deployment reads these
# tables through a catalog (Hive/Iceberg) whose schema is metadata,
# not a per-query scan — this dict is that metadata.  Only the schema
# (a StructType derived deterministically from the file) is cached;
# every execution still reads all data from the parquet inputs.
_SCHEMA_CACHE: dict[str, object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (see TESTDATA.md).

    ``events.ts`` arrives in whatever flavor the generator used that round
    (int64 nanos or timestamp[us]); ``normalize_events_ts`` maps both onto
    one canonical microsecond TIMESTAMP column.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Timestamp semantics must match the DuckDB oracle (naive UTC)
    # regardless of which session the driver hands us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cached_schema = _SCHEMA_CACHE.get(path)
    reader = spark.read
    if cached_schema is not None:
        reader = reader.schema(cached_schema)
    if name == "events":
        # Harmless for micro/NTZ files; makes TIMESTAMP(NANOS) readable
        # (vectorized reader rejects nanos otherwise).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader.parquet(path)
        if cached_schema is None:
            _SCHEMA_CACHE[path] = raw.schema
        df = normalize_events_ts(raw)
    else:
        df = reader.parquet(path)
        if cached_schema is None:
            _SCHEMA_CACHE[path] = df.schema
    # Opt-in (SPARK_GRAFT_REBALANCE=1) input rebalancing, documents
    # only: the testdata ships each table as ONE single-row-group
    # parquet file, so a scan — and all expression-heavy text work
    # above it — runs as one task no matter how many cores the
    # session has (a parquet scan cannot split below a row group).
    # A real 100-TB table arrives in thousands of splits; the bench
    # sets the flag so local runs exercise the same parallel plan.
    # Only `documents` pays off: its queries are dominated by per-row
    # expression pipelines (explodes, span building, shingling),
    # while the small dimension/vector tables lose more to the extra
    # exchange than they gain.  Default OFF so plan-shape tests see
    # the pristine scan.
    if name == "documents" and os.environ.get("SPARK_GRAFT_REBALANCE") == "1":
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict:
    """Load every table and register each as a temp view of the same name."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
