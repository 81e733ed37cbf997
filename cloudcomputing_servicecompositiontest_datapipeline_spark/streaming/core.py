"""Structured-Streaming layer (SURVEY.md §2.10).

Reference semantics being re-expressed:

- T1: async invocations drop one JSON record each into S3; a later batch pull
  drains the bucket completely and compiles a report
  (``lambda_function_async.py:20-30``, ``s3pull.py:46-94,114-125``).  Spark
  form: a file stream consumed with ``Trigger.AvailableNow`` — same
  "drain-everything-now" semantics, but incremental and restartable
  (checkpointed), so at 100 TB a new compile only reads new files.
- T3: Inspector ``cpuPolls`` timestamped samples → event-time tumbling
  windows.
- T5: container-lifetime sessionization (runs sharing ``uuid``) →
  ``session_window`` with an inactivity gap.
- T4/late data: the reference has no watermark concept — its late-data answer
  is full batch recompute (``compile_results.py:62-72``).  We take watermarks
  in streaming mode and keep batch recompute as ground truth, matching the
  reference's own architecture (SURVEY.md §7.3).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: State-store partitions of a keyed stateful stream (see
#: :func:`bounded_state_partitions`).
STATE_PARTITIONS = 8
#: serializes overlapping bounded_state_partitions set/restore windows
_STATE_PARTITIONS_LOCK = threading.Lock()


@contextmanager
def bounded_state_partitions(spark: SparkSession):
    """Run a keyed stateful stream with a BOUNDED state-partition count.

    A stateful streaming stage materializes exactly
    ``spark.sql.shuffle.partitions`` state-store partitions — streaming
    plans never AQE-coalesce — and every partition pays store open +
    commit (delta file + fsync) per micro-batch even when it holds zero
    keys.  The monitors here carry O(1) state for at most a few hundred
    keys, so batch-engine shuffle width (sized for corpus shuffles) is the
    wrong unit; measured on the burst monitor the 32-partition drain spent
    65 s of task time at 0.8 s of CPU — pure per-partition store overhead.
    State partitioning is a keyspace/throughput decision, so it has its own
    width, :data:`STATE_PARTITIONS` (8 — generous for these key counts at
    any input scale; production checkpoints pin whatever the first run
    chose, making this a start-time decision there too).

    Session-global conf set/restore.  A process-wide lock serializes
    overlapping wrapped drains (the multi-tenant caveat the r10 docstring
    deferred): without it two concurrent drains can interleave
    set/restore and permanently pin the session's shuffle.partitions to
    the bounded value.  Concurrent UNWRAPPED queries on the same session
    still see the bounded value while a drain holds it — value-safe (the
    engine's outputs are partitioning-independent, driver-attested under
    200-partition sessions), perf-neutral for plan-only work.
    ``get(key, None)`` / ``unset`` keeps an untouched session
    untouched."""
    key = "spark.sql.shuffle.partitions"
    with _STATE_PARTITIONS_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, str(STATE_PARTITIONS))
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


def available_now_compile(
    spark: SparkSession,
    json_dir: str,
    schema: StructType,
    *,
    checkpoint: str,
    output_dir: str,
) -> DataFrame:
    """T1: drain a directory of one-JSON-per-run files (the S3 bucket
    analogue) into a durable parquet table with available-now semantics;
    returns the compiled (cumulative) DataFrame.  The stream is checkpointed:
    a re-drain reads only files that arrived since the last one — the
    incremental version of the reference's full bucket pull."""
    stream = spark.readStream.schema(schema).json(json_dir)
    q = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(output_dir)


def tumbling_windowed_agg(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """T3: event-time tumbling window counts/sums.  Works on both batch and
    streaming inputs (same plan); with a streaming input the watermark bounds
    state and drops data later than its horizon."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    group = [F.window(F.col("ts"), window).alias("win")] + [
        F.col(k) for k in (keys or [])
    ]
    return df.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").try_cast("decimal(28,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


def sliding_windowed_agg(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """T3 sliding variant: overlapping windows (each event lands in
    window/slide buckets)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "2 hours")
    return df.groupBy(F.window(F.col("ts"), window, slide).alias("win")).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def session_windowed_counts(
    events: DataFrame,
    *,
    gap: str = "5 minutes",
) -> DataFrame:
    """T5: sessionization — events of one ``user_id`` within ``gap`` of each
    other share a session (container-lifetime analogue: runs sharing a
    uuid)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", "30 minutes")
    return df.groupBy(
        F.session_window(F.col("ts"), gap).alias("session"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))


def stream_exact_dedup(
    docs: DataFrame,
    *,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup (dedup-on-arrival): drop any document whose
    normalized content hash was already seen within the watermark horizon.

    The ingest-side counterpart of operators/dedup.py:exact_dedup for a
    training-data pipeline: duplicates are discarded as they arrive instead
    of in a later batch pass.  ``dropDuplicatesWithinWatermark`` keys state
    by the content hash and evicts entries older than the watermark, so
    state is bounded by (arrival rate x horizon), not corpus size — the
    property that keeps this viable on an unbounded 100 TB feed.  The batch
    exact_dedup pass remains ground truth across horizons (same
    batch-recompute posture as T4).
    """
    from ..operators.dedup import normalized_text

    hashed = docs.withColumn(
        "content_hash", F.sha2(normalized_text(F.col("text")), 256)
    )
    return (
        hashed.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
        .select("doc_id", "content_hash", "ts")
    )
