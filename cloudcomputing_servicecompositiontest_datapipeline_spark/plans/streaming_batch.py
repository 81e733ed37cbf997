"""Event-time window declared queries (SURVEY.md §2.10): the batch-expressible
faces of the streaming layer, oracle-checked against equivalent bucket SQL.
The same plans run on a streaming input (tests drive them through a real
file-stream with Trigger.AvailableNow — see tests/test_streaming.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_root
from ..sources import star
from ..streaming import (
    available_now_compile,
    bounded_state_partitions,
    session_windowed_counts,
    sliding_windowed_agg,
    tumbling_windowed_agg,
)
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.table(spark, sf_dir, "events")


@query(
    "events_tumbling_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           cast(round(sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as decimal(28,4))), 2) AS double) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: event-time tumbling windows (1h) per event type — the batch face
    of the cpuPolls time-series aggregation (Inspector.py:150-174).  Same
    plan + watermark is the streaming face."""
    ev = _events(spark, sf_dir)
    out = tumbling_windowed_agg(ev, window="1 hour", keys=["event_type"])
    return out.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "events_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT to_timestamp(floor(epoch(ts) / 3600) * 3600) AS ws FROM events
      UNION ALL
      SELECT to_timestamp(floor((epoch(ts) - 1800) / 3600) * 3600 + 1800) AS ws FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events
    FROM starts GROUP BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 sliding variant: 1h windows every 30min — each event lands in two
    windows (the oracle enumerates both aligned starts explicitly)."""
    ev = _events(spark, sf_dir)
    out = sliding_windowed_agg(ev, window="1 hour", slide="30 minutes")
    return out.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events",
    )


@query(
    "events_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 300
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    islands AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked)
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM islands GROUP BY user_id, session_id
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: sessionization (container lifetime analogue —
    report_generator.py:209-213): 5-minute inactivity gap; the oracle is the
    classic gaps-and-islands rewrite.  Second-precision session starts (the
    fixture's timestamps carry micros; session_window keeps them — strftime
    truncates identically on both engines)."""
    ev = _events(spark, sf_dir)
    out = session_windowed_counts(ev, gap="5 minutes")
    return out.select(
        "user_id",
        F.date_format(F.col("session.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
    )


@query("streaming_available_now")
def streaming_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the async-S3 drain (s3pull.py:46-94) as a REAL file stream: events
    are staged as one-JSON-per-batch files, then drained with
    Trigger.AvailableNow into a memory sink and aggregated like a report.
    Rows-only (streaming trigger isn't SQL-expressible)."""
    ev = _events(spark, sf_dir)
    workdir = tempfile.mkdtemp(dir=scratch_root(), prefix="sg_stream_")
    json_dir = os.path.join(workdir, "runs")
    ev.select(
        "event_id", "user_id", "event_type", "value", F.col("ts").cast("string").alias("ts")
    ).coalesce(4).write.mode("overwrite").json(json_dir)
    schema = (
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, ts STRING"
    )
    from pyspark.sql.types import _parse_datatype_string

    compiled = available_now_compile(
        spark,
        json_dir,
        _parse_datatype_string(schema),
        checkpoint=os.path.join(workdir, "ckpt"),
        output_dir=os.path.join(workdir, "compiled"),
    )
    return compiled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("uses"),
        F.round(F.sum(F.col("value").try_cast("decimal(28,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@query("streaming_dedup_on_arrival")
def streaming_dedup_on_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dedup-on-arrival) as a real file stream over the
    documents table: docs staged as JSON, drained with Trigger.AvailableNow
    through dropDuplicatesWithinWatermark on the normalized content hash
    (streaming/core.py:stream_exact_dedup).  Rows-only: which duplicate
    survives depends on micro-batch arrival order; the batch exact-dedup
    query remains the hash-checked ground truth."""
    from ..streaming.core import stream_exact_dedup

    docs = star.table(spark, sf_dir, "documents")
    workdir = tempfile.mkdtemp(dir=scratch_root(), prefix="sg_dedup_stream_")
    json_dir = os.path.join(workdir, "docs")
    docs.select(
        "doc_id", "text", F.lit("2024-01-01 00:00:00").alias("ts")
    ).coalesce(4).write.mode("overwrite").json(json_dir)
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING, ts STRING")
        .json(json_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_exact_dedup(stream, watermark="10 minutes")
    name = "sg_dedup_sink"
    # see streaming/core.py:bounded_state_partitions
    with bounded_state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("n_kept")
    )


@query("streaming_stateful_lifetimes")
def streaming_stateful_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 custom-state form: per-container lifetime tracking via
    ``applyInPandasWithState`` on a real file stream (events staged as JSON,
    drained with Trigger.AvailableNow).  State per key = run count /
    cold-start count / first-last event time; the memory sink's last update
    per key is the final summary (partestcpu.sh:174-196 semantics).
    Rows-only: state-store operators aren't SQL-expressible; cross-batch
    state accumulation is asserted in tests/test_streaming.py."""
    from ..streaming.stateful import container_lifetimes

    ev = _events(spark, sf_dir)
    workdir = tempfile.mkdtemp(dir=scratch_root(), prefix="sg_stateful_")
    json_dir = os.path.join(workdir, "events")
    ev.select(
        F.col("user_id").cast("string").alias("uuid"),
        (F.col("event_type") == "signup").cast("int").alias("newcontainer"),
        F.col("ts"),
    ).coalesce(4).write.mode("overwrite").json(json_dir)
    stream = (
        spark.readStream.schema("uuid STRING, newcontainer INT, ts TIMESTAMP")
        .json(json_dir)
    )
    out = container_lifetimes(stream)
    name = "sg_stateful_sink"
    # see streaming/core.py:bounded_state_partitions
    with bounded_state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    sunk = spark.table(name)
    # last update per key = the final state summary
    from pyspark.sql import Window

    w = Window.partitionBy("uuid").orderBy(F.col("runs").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("uuid", "runs", "cold_starts", "recycled")
    )


@query("streaming_source_quota")
def streaming_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X34: per-source admission quota on a REAL file stream — documents
    staged as JSON, drained with Trigger.AvailableNow through the
    applyInPandasWithState counter (streaming/stateful.py:source_quota_admit,
    cap=10/source), then summarized per source.  Rows-only: which docs are
    admitted depends on micro-batch arrival order; the cap itself is exact
    (n_admitted == min(cap, per-source total), pinned in tests)."""
    from ..streaming.stateful import source_quota_admit

    docs = star.table(spark, sf_dir, "documents")
    workdir = tempfile.mkdtemp(dir=scratch_root(), prefix="sg_quota_stream_")
    json_dir = os.path.join(workdir, "docs")
    docs.select("doc_id", "source").coalesce(4).write.mode("overwrite").json(json_dir)
    stream = spark.readStream.schema("doc_id BIGINT, source STRING").json(json_dir)
    out = source_quota_admit(stream, cap=10)
    name = "sg_quota_sink"
    # see streaming/core.py:bounded_state_partitions — ~20 sources of O(1)
    # state don't need batch-shuffle-width state partitions
    with bounded_state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.max("kept_rank").alias("max_rank"),
        )
    )


@query("streaming_burst_monitor")
def streaming_burst_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 online burst monitor on a REAL file stream: events staged as
    JSON, hourly counts per type (the X63 windowing) streamed through the
    Welford-state z-scorer (streaming/stateful.py:burst_monitor — state is
    three numbers per type, bounded forever), drained with
    Trigger.AvailableNow, summarized per type.  Rows-only: online z-scores
    depend on arrival order by construction (each window is judged against
    only its PAST); the state-machine semantics are pinned in pytest
    including a cross-drain state-carryover case."""
    from ..streaming.stateful import burst_monitor

    ev = star.table(spark, sf_dir, "events")
    workdir = tempfile.mkdtemp(dir=scratch_root(), prefix="sg_burst_stream_")
    json_dir = os.path.join(workdir, "ev")
    counts = (
        ev.groupBy(
            F.col("event_type"), F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    counts.coalesce(2).write.mode("overwrite").json(json_dir)
    stream = spark.readStream.schema(
        "event_type STRING, bucket_ts TIMESTAMP, n_events BIGINT"
    ).json(json_dir)
    out = burst_monitor(stream)
    name = "sg_burst_sink"
    # bounded_state_partitions: a handful of event types doesn't need the
    # batch engine's shuffle width in state-store partitions (each one
    # costs open+commit+fsync per micro-batch; see streaming/core.py)
    with bounded_state_partitions(spark):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("is_burst"), 1).otherwise(0)).cast("long").alias("n_bursts"),
            F.max("n_windows_seen").cast("long").alias("max_seen"),
        )
    )
