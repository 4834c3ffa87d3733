"""Structured Streaming ingest (SURVEY §2.10).

The reference's only streaming surface is incremental single-row REST
inserts (day_8/endpoints.py:13-49); the Spark-native shape is a
micro-batched stream: ``readStream -> transform -> foreachBatch(upsert)``
with event-time windows for ingest-rate stats.  ``Trigger.availableNow``
drains a static source through the *streaming* engine, which is how the
driver-checkable queries below stay deterministic: the same windowed
aggregation, executed by the micro-batch planner, must equal the batch
answer.

At scale this is the continuous-ingest path: watermarks bound state,
``foreachBatch`` writes through the CRUD upsert (Delta MERGE in a real
deployment), and the windowed stats stream feeds monitoring.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema pinned from the
    batch read — streaming sources cannot infer).  ``ts`` arrives in
    whatever flavor the generator wrote (long nanos or TIMESTAMP_NTZ);
    ``normalize_events_ts`` maps both onto the canonical microsecond
    TIMESTAMP the batch path produces."""
    from python_vector_db___ai_spark.session import normalize_events_ts

    # Pin the session timezone like load_table does: the TIMESTAMP_NTZ
    # branch of normalize_events_ts casts naive wall-clock through the
    # session zone, so a non-UTC session handed to the streaming path
    # would shift every ts away from the DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    stream = (spark.readStream
              .schema(batch.schema)
              .format("parquet")
              .option("pathGlobFilter", "events.parquet")
              .load(sf_dir))
    return normalize_events_ts(stream)


def hourly_event_counts(events: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time window per event_type: count +
    value sum.  Works on both batch and streaming DataFrames (the
    streaming side adds the watermark to bound state)."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (events
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("value_sum"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_sum"))


def run_stream_to_completion(streaming_df: DataFrame,
                             query_name: str | None = None,
                             output_mode: str = "complete") -> DataFrame:
    """Drain a streaming aggregation with availableNow into a memory
    sink and return the final result as a batch DataFrame.  Joins and
    non-aggregating transforms drain in ``append`` mode."""
    import shutil

    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (streaming_df.writeStream
             .format("memory")
             .queryName(name)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        # the drained memory sink no longer needs its checkpoint
        shutil.rmtree(ckpt, ignore_errors=True)
    return streaming_df.sparkSession.table(name)


# Explicit per-generation commit marker written by _fold_batch itself;
# deliberately NOT Hadoop's optional _SUCCESS (r10 ADVICE #1).  On a
# real cluster this becomes a marker object on the shared store, same
# protocol.
_COMMIT_SENTINEL = "_INGEST_COMMITTED"

_INGEST_STATE_SCHEMA = ("user_id long, last_ts_us long, "
                        "last_event_id long, last_event_type string, "
                        "last_value double, last_e0 double, "
                        "n_events long")


def _ingest_reduce(df: DataFrame) -> DataFrame:
    """Associative per-user reduction shared by the per-batch step and
    the standing-table merge: keep the lexicographic max of the state
    struct (its leading fields are ``(last_ts_us, last_event_id)``, so
    this IS last-write-wins with an id tie-break) and sum the event
    counts.  Associativity + commutativity make the final state
    independent of how the engine split the stream into micro-batches."""
    return (df.groupBy("user_id")
            .agg(F.max("s").alias("s"),
                 F.sum("n_events").cast("long").alias("n_events")))


def _fold_batch(spark: SparkSession, state_root: str, state: dict,
                upd: DataFrame, batch_id: int) -> None:
    """Idempotent merge of one micro-batch's per-user reduction into
    the standing table, keyed on ``batch_id`` (r9 ADVICE):
    ``foreachBatch`` is at-least-once, and the per-user reduction is
    associative but NOT idempotent — a replayed micro-batch merged a
    second time would double-count ``n_events``.  A replayed
    ``batch_id`` finds its generation already durably committed and
    just repoints the state at it.

    Commit marker: an EXPLICIT sentinel written by this function after
    ``write.parquet`` returns — not Hadoop's ``_SUCCESS``, which only
    exists when ``mapreduce.fileoutputcommitter.marksuccessfuljobs``
    is true (default, but commonly disabled in prod) and whose absence
    would silently turn every replay into a double-count (r10 ADVICE
    #1).  A torn write (death between the parquet job and the sentinel
    write) leaves no sentinel, so the replay recomputes the merge and
    ``mode("overwrite")`` replaces the torn generation."""
    gen = os.path.join(state_root, f"gen_{batch_id}")
    sentinel = os.path.join(gen, _COMMIT_SENTINEL)
    if os.path.exists(sentinel):
        state["path"] = gen
        return
    if state["path"] is not None:
        standing = spark.read.parquet(state["path"])
        upd = _ingest_reduce(standing.unionByName(upd))
    upd.write.mode("overwrite").parquet(gen)
    with open(sentinel, "w") as fh:
        fh.write("committed\n")
    state["path"] = gen


def ingest_foreachbatch(spark: SparkSession, sf_dir: str,
                        embed_dim: int = 8) -> DataFrame:
    """S9/S10 streaming ingest: drain the events stream through
    ``foreachBatch``, embedding each micro-batch's ``props`` payload
    with the mock embedder and MERGING the batch into a standing
    per-user table (last write wins on ``(ts, event_id)``, cumulative
    event counts) — the reference's insert-endpoint analog
    (day_8/endpoints.py:13-49) with Spark micro-batch semantics.  Each
    batch writes a new parquet generation of the standing table, the
    plain-parquet emulation of Delta ``MERGE INTO`` (same shape as
    ``operators/crud.py: upsert``); at 100 TB the generations become a
    real MERGE against a partitioned sink and the reduction is
    unchanged.

    Returns the FINAL standing-table state, one row per user:
    ``(user_id, last_ts_us, last_event_id, last_event_type,
    last_value, last_e0, n_events)`` — deterministic regardless of
    micro-batch boundaries (the merge is associative), so a DuckDB
    window/groupBy replay over the raw events hash-matches it
    (r8 VERDICT directive #2c)."""
    import shutil

    from python_vector_db___ai_spark.operators._guards import collect_small
    from python_vector_db___ai_spark.operators.embedding import mock_embedding

    def batch_update(batch_df: DataFrame) -> DataFrame:
        emb = mock_embedding(F.col("props"), dim=embed_dim)
        return _ingest_reduce(
            batch_df.select(
                "user_id",
                F.struct(
                    F.unix_micros("ts").alias("last_ts_us"),
                    F.col("event_id").alias("last_event_id"),
                    F.col("event_type").alias("last_event_type"),
                    F.round("value", 6).alias("last_value"),
                    F.round(F.element_at(emb, 1), 6).alias("last_e0"),
                ).alias("s"),
                F.lit(1).cast("long").alias("n_events")))

    state_root = tempfile.mkdtemp(prefix="ingest_state_")
    state: dict = {"path": None}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _fold_batch(spark, state_root, state,
                    batch_update(batch_df), batch_id)

    stream = read_events_stream(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (stream.writeStream
             .foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        if state["path"] is None:
            # no micro-batches -> an EMPTY typed frame, not a
            # fabricated row
            return spark.createDataFrame([], _INGEST_STATE_SCHEMA)
        final = spark.read.parquet(state["path"]).select(
            "user_id", "s.last_ts_us", "s.last_event_id",
            "s.last_event_type", "s.last_value", "s.last_e0", "n_events")
        # the standing table is per-user (small by contract for the
        # driver check; at scale it stays in the sink unread)
        rows = collect_small(
            final, "ingest_foreachbatch final state",
            hint="Per-user state; at scale read the sink directly.")
        return spark.createDataFrame(rows.to_pylist(), _INGEST_STATE_SCHEMA)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(state_root, ignore_errors=True)


def stream_stream_attribution_join(spark: SparkSession, sf_dir: str,
                                   trigger_type: str = "click",
                                   convert_type: str = "purchase",
                                   lookback: str = "2 hours",
                                   watermark: str = "4 hours") -> DataFrame:
    """Stream-stream interval self-join (§2.10): every conversion event
    paired with the same user's trigger events in the preceding
    ``lookback`` — the streaming attribution join.

    Both sides carry a watermark so the join state is bounded: a
    buffered trigger row is dropped once the conversion-side watermark
    passes its timestamp + lookback (Spark derives the eviction bound
    from the interval condition).  State is keyed by ``user_id`` —
    the same key both sides shuffle on, one exchange each.

    Returns the *streaming* joined frame; drain with
    ``run_stream_to_completion(..., output_mode='append')``.
    """
    ev = read_events_stream(spark, sf_dir)
    trig = (ev.filter(F.col("event_type") == trigger_type)
            .select(F.col("user_id"),
                    F.col("ts").alias("trigger_ts"),
                    F.col("event_id").alias("trigger_id"))
            .withWatermark("trigger_ts", watermark))
    conv = (ev.filter(F.col("event_type") == convert_type)
            .select(F.col("user_id").alias("conv_user"),
                    F.col("ts").alias("conv_ts"),
                    F.col("event_id").alias("conv_id"))
            .withWatermark("conv_ts", watermark))
    cond = (
        (F.col("user_id") == F.col("conv_user"))
        & (F.col("trigger_ts") <= F.col("conv_ts"))
        & (F.col("trigger_ts")
           >= F.col("conv_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return (conv.join(trig, cond, "inner")
            .select(F.col("conv_id"), F.col("trigger_id"),
                    F.col("conv_user").alias("user_id"),
                    ((F.unix_micros("conv_ts")
                      - F.unix_micros("trigger_ts")) / 1_000_000.0)
                    .alias("secs_before")))
