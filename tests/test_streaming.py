"""Streaming-layer tests: real file streams with Trigger.AvailableNow,
event-time windows with watermark + late-data drop."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from cloudcomputing_servicecompositiontest_datapipeline_spark.streaming import (
    available_now_compile,
    session_windowed_counts,
    tumbling_windowed_agg,
)

SCHEMA = "run_id BIGINT, uuid STRING, value DOUBLE, ts STRING"


@pytest.fixture()
def run_dir(tmp_path):
    d = tmp_path / "runs"
    d.mkdir()
    for i in range(6):
        rec = {"run_id": i, "uuid": f"c{i % 2}", "value": float(i), "ts": f"2024-01-01 00:0{i}:00"}
        (d / f"run{i}.json").write_text(json.dumps(rec))
    return str(d)


def test_available_now_drains_all_then_incrementally(spark, run_dir, tmp_path):
    ckpt, outdir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    out = available_now_compile(
        spark, run_dir, _parse_datatype_string(SCHEMA), checkpoint=ckpt, output_dir=outdir
    )
    assert out.count() == 6
    # a new record lands in the "bucket"; the re-drain is incremental (only
    # the new file is read, cumulative table now holds all 7)
    with open(os.path.join(run_dir, "run7.json"), "w") as f:
        json.dump({"run_id": 7, "uuid": "c1", "value": 7.0, "ts": "2024-01-01 00:07:00"}, f)
    out2 = available_now_compile(
        spark, run_dir, _parse_datatype_string(SCHEMA), checkpoint=ckpt, output_dir=outdir
    )
    assert {r.run_id for r in out2.collect()} == set(range(6)) | {7}


def test_streaming_tumbling_window_counts_match_batch(spark, run_dir, tmp_path):
    stream = (
        spark.readStream.schema(_parse_datatype_string(SCHEMA))
        .json(run_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = tumbling_windowed_agg(stream, window="2 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_win")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["win"].start.strftime("%H:%M"): r.n_events
        for r in spark.table("t_win").collect()
    }
    assert got == {"00:00": 2, "00:02": 2, "00:04": 2}


def test_watermark_drops_late_data(spark, tmp_path):
    d = tmp_path / "late"
    d.mkdir()
    # batch 1: on-time records advance the watermark far ahead
    with open(d / "a.json", "w") as f:
        for i in range(3):
            f.write(json.dumps({"run_id": i, "uuid": "c0", "value": 1.0, "ts": f"2024-01-01 02:0{i}:00"}) + "\n")
    stream = (
        spark.readStream.schema(_parse_datatype_string(SCHEMA))
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    ckpt, outdir = str(tmp_path / "ckpt_late"), str(tmp_path / "out_late")

    def drain():
        stream = (
            spark.readStream.schema(_parse_datatype_string(SCHEMA))
            .json(str(d))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = tumbling_windowed_agg(stream, window="1 minute", watermark="5 minutes")
        out = agg.select(F.col("win.start").alias("ws"), "n_events")
        q = (
            out.writeStream.format("parquet").option("path", outdir)
            .option("checkpointLocation", ckpt).outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    # batch 2: a record an hour older than the watermark horizon → dropped
    with open(d / "b.json", "w") as f:
        f.write(json.dumps({"run_id": 9, "uuid": "c0", "value": 1.0, "ts": "2024-01-01 01:00:00"}) + "\n")
    drain()
    # a third drain gives finalized on-time windows a chance to flush
    with open(d / "c.json", "w") as f:
        f.write(json.dumps({"run_id": 10, "uuid": "c0", "value": 1.0, "ts": "2024-01-01 03:00:00"}) + "\n")
    drain()
    emitted = spark.read.parquet(outdir).collect()
    assert all(r.ws.hour != 1 for r in emitted)  # late 01:00 window never emitted
    assert any(r.ws.hour == 2 for r in emitted)  # on-time windows were emitted


def test_stateful_container_lifetimes_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-container state persists across
    micro-batches (runs accumulate, cold starts counted once)."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.streaming.stateful import (
        container_lifetimes,
    )

    d = tmp_path / "stateful"
    d.mkdir()
    schema = "run_id BIGINT, uuid STRING, newcontainer INT, ts TIMESTAMP"
    with open(d / "a.json", "w") as f:
        f.write(json.dumps({"run_id": 0, "uuid": "c0", "newcontainer": 1, "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(json.dumps({"run_id": 1, "uuid": "c0", "newcontainer": 0, "ts": "2024-01-01 00:01:00"}) + "\n")
    ckpt = str(tmp_path / "ckpt_state")

    def drain(qname):
        stream = spark.readStream.schema(_parse_datatype_string(schema)).json(str(d))
        out = container_lifetimes(stream)
        rows = {}

        def sink(batch_df, _epoch):
            for r in batch_df.collect():
                rows[r.uuid] = r

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return rows

    got = drain("t_state1")
    assert got["c0"].runs == 2 and got["c0"].cold_starts == 1 and got["c0"].recycled
    # batch 2: one more run on c0 and a fresh container c1
    with open(d / "b.json", "w") as f:
        f.write(json.dumps({"run_id": 2, "uuid": "c0", "newcontainer": 0, "ts": "2024-01-01 00:05:00"}) + "\n")
        f.write(json.dumps({"run_id": 3, "uuid": "c1", "newcontainer": 1, "ts": "2024-01-01 00:05:00"}) + "\n")
    got2 = drain("t_state2")
    assert got2["c0"].runs == 3  # state carried across drains
    assert got2["c1"].runs == 1 and not got2["c1"].recycled


def test_session_window_batch(spark):
    rows = [
        (0, "u1", 1.0, "2024-01-01 00:00:00"),
        (1, "u1", 1.0, "2024-01-01 00:03:00"),   # same session (< 5 min gap)
        (2, "u1", 1.0, "2024-01-01 01:00:00"),   # new session
        (3, "u2", 1.0, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["run_id", "user_id", "value", "ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = session_windowed_counts(df, gap="5 minutes")
    got = sorted((r.user_id, r.n_events) for r in out.collect())
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_stream_exact_dedup_within_watermark(spark, tmp_path):
    """Duplicate content arriving across micro-batches within the watermark
    horizon is dropped; distinct content passes through."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.streaming.core import stream_exact_dedup

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "the quick brown fox", "ts": "2024-01-01 00:00:00"},
        {"doc_id": 2, "text": "The  quick brown fox ", "ts": "2024-01-01 00:01:00"},  # dup after normalize
        {"doc_id": 3, "text": "something else entirely", "ts": "2024-01-01 00:02:00"},
    ]
    for r in rows:
        with open(src / f"doc{r['doc_id']}.json", "w") as f:
            json.dump(r, f)
    stream = (
        spark.readStream.schema("doc_id INT, text STRING, ts STRING")
        .option("maxFilesPerTrigger", 1)  # one doc per micro-batch
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = stream_exact_dedup(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kept = {r.doc_id for r in spark.table("dedup_stream").collect()}
    assert 3 in kept and len(kept) == 2  # one of {1,2} survives, never both
    assert kept - {1, 2, 3} == set()


def test_streaming_source_quota_admits_across_batches(spark, tmp_path):
    """X34 per-source admission quota: state (kept counter) persists across
    micro-batches — batch 2's rows only fill the REMAINING room, and ranks
    continue where batch 1 stopped."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.streaming.stateful import (
        source_quota_admit,
    )

    d = tmp_path / "quota"
    d.mkdir()
    schema = "doc_id BIGINT, source STRING"
    with open(d / "a.json", "w") as f:
        for i in range(2):
            f.write(json.dumps({"doc_id": i, "source": "s0"}) + "\n")
        f.write(json.dumps({"doc_id": 100, "source": "s1"}) + "\n")
    ckpt = str(tmp_path / "ckpt_quota")

    def drain():
        stream = spark.readStream.schema(_parse_datatype_string(schema)).json(str(d))
        out = source_quota_admit(stream, cap=3)
        rows = []

        def sink(batch_df, _epoch):
            rows.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return rows

    first = drain()
    assert sorted((r.source, r.doc_id, r.kept_rank) for r in first) == [
        ("s0", 0, 1), ("s0", 1, 2), ("s1", 100, 1)
    ]
    # batch 2: three more s0 docs (only ONE seat left) + one more s1
    with open(d / "b.json", "w") as f:
        for i in range(2, 5):
            f.write(json.dumps({"doc_id": i, "source": "s0"}) + "\n")
        f.write(json.dumps({"doc_id": 101, "source": "s1"}) + "\n")
    second = drain()
    assert sorted((r.source, r.doc_id, r.kept_rank) for r in second) == [
        ("s0", 2, 3),            # fills the last seat; docs 3,4 dropped
        ("s1", 101, 2),
    ]


def test_streaming_burst_monitor_welford_across_batches(spark, tmp_path):
    """X69 online burst monitor: each window scores against only its PAST
    (first two windows never flag — no variance yet), a spike after a
    steady run flags, and the Welford state carries across drains so the
    second drain's z uses the first drain's history."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.streaming.stateful import (
        burst_monitor,
    )

    d = tmp_path / "burst"
    d.mkdir()
    schema = "event_type STRING, bucket_ts TIMESTAMP, n_events BIGINT"

    def write(fn, rows):
        with open(d / fn, "w") as f:
            for h, n in rows:
                f.write(
                    json.dumps(
                        {
                            "event_type": "t",
                            "bucket_ts": f"2024-01-01T{h:02d}:00:00",
                            "n_events": n,
                        }
                    )
                    + "\n"
                )

    ckpt = str(tmp_path / "ckpt_burst")

    def drain():
        stream = spark.readStream.schema(_parse_datatype_string(schema)).json(str(d))
        out = burst_monitor(stream, z_threshold=2.0)
        rows = []

        def sink(batch_df, _epoch):
            rows.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink).outputMode("append")
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return rows

    # steady run: 10,11,10,11 — slight jitter so std > 0
    write("a.json", [(0, 10), (1, 11), (2, 10), (3, 11)])
    first = {r.bucket_ts.hour: r for r in drain()}
    assert not first[0].is_burst and first[0].z_score is None  # no history
    assert not first[1].is_burst and first[1].z_score is None  # n<2 still
    assert first[2].z_score is not None and not first[2].is_burst
    assert [first[h].n_windows_seen for h in range(4)] == [1, 2, 3, 4]
    # drain 2: a spike — judged against the carried-over steady history
    write("b.json", [(4, 60)])
    second = {r.bucket_ts.hour: r for r in drain()}
    assert second[4].is_burst and second[4].z_score > 2.0
    assert second[4].n_windows_seen == 5  # state carried across drains


def test_stateful_lifetimes_survive_null_timestamps(spark, tmp_path):
    """A timestampless record arrives in the kernel as NaT, and
    astype('int64') on NaT raises — one bad record must not kill the
    lifetime tracker's task.  NULL event times are excluded from the
    first/last window but still count as runs."""
    import json as _json

    from pyspark.sql.types import _parse_datatype_string

    from cloudcomputing_servicecompositiontest_datapipeline_spark.streaming.stateful import (
        container_lifetimes,
    )

    d = tmp_path / "stateful_nullts"
    d.mkdir()
    schema = "run_id BIGINT, uuid STRING, newcontainer INT, ts TIMESTAMP"
    with open(d / "a.json", "w") as f:
        f.write(_json.dumps({"run_id": 0, "uuid": "c0", "newcontainer": 1, "ts": "2024-01-01 00:00:00"}) + "\n")
        f.write(_json.dumps({"run_id": 1, "uuid": "c0", "newcontainer": 0, "ts": None}) + "\n")
        f.write(_json.dumps({"run_id": 2, "uuid": "c1", "newcontainer": 1, "ts": None}) + "\n")
    stream = spark.readStream.schema(_parse_datatype_string(schema)).json(str(d))
    rows = {}

    def sink(batch_df, _epoch):
        for r in batch_df.collect():
            rows[r.uuid] = r

    q = (
        container_lifetimes(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_nullts"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert rows["c0"].runs == 2 and rows["c0"].first_us is not None
    assert rows["c1"].runs == 1 and rows["c1"].first_us is None  # all-NaT group
