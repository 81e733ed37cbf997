"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.10 T5/T6 custom-state form).

Operator: per-container lifetime tracker — the streaming form of the
reference's container bookkeeping (``partestcpu.sh:174-196`` counts runs,
cold starts and recycled containers per uuid; ``report_generator.py:209-213``
dedups by container).  State per key: run count, cold-start count, first/last
event time.  Emits one updated summary row per key per batch; state (not the
stream) is what lives across batches — bounded by key cardinality + timeout,
not stream length.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: (runs, cold_starts, first_ts_us, last_ts_us)
STATE_SCHEMA = "runs LONG, cold_starts LONG, first_us LONG, last_us LONG"
OUTPUT_SCHEMA = (
    "uuid STRING, runs LONG, cold_starts LONG, first_us LONG, last_us LONG, recycled BOOLEAN"
)


def _track(
    key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    runs, cold, first_us, last_us = (
        state.get if state.exists else (0, 0, None, None)
    )
    for pdf in pdfs:
        runs += len(pdf)
        if "newcontainer" in pdf:
            cold += int(pdf["newcontainer"].fillna(0).sum())
        # dropna BEFORE the int64 view: a NULL event time arrives as NaT,
        # and astype("int64") on NaT raises — one timestampless record
        # must not kill the lifetime tracker's task
        ts_us = (pdf["ts"].dropna().astype("int64") // 1000) if "ts" in pdf else None
        if ts_us is not None and len(ts_us):
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
    state.update((runs, cold, first_us, last_us))
    yield pd.DataFrame(
        {
            "uuid": [key[0]],
            "runs": [runs],
            "cold_starts": [cold],
            "first_us": [first_us],
            "last_us": [last_us],
            # container reuse happened iff more runs than cold starts
            "recycled": [runs > max(cold, 1)],
        }
    )


def container_lifetimes(events: DataFrame) -> DataFrame:
    """Apply the stateful tracker per container ``uuid``.  Works on a streaming
    input (state persists across micro-batches via the state store)."""
    return events.groupBy("uuid").applyInPandasWithState(
        _track,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# X34: streaming per-source admission quota — the arrival-time form of the
# batch per-source cap (operators/curation.py:per_source_cap).  A live ingest
# can't rank a source's documents by quality before admitting (future docs
# haven't arrived), so the streaming contract is first-come-first-admitted:
# state per source = (kept, seen); a batch's rows are admitted in id order
# until the cap, the rest dropped.  State is two longs per source — bounded
# by source cardinality, not stream length.

QUOTA_STATE_SCHEMA = "kept LONG, seen LONG"
QUOTA_OUTPUT_SCHEMA = "source STRING, doc_id LONG, kept_rank LONG"


def source_quota_admit(
    docs: DataFrame,
    *,
    cap: int,
) -> DataFrame:
    """Admit at most ``cap`` documents per source across the whole stream,
    first-come-first-admitted (id order inside a micro-batch for
    determinism).  Emits only the ADMITTED rows with their per-source
    admission rank (append semantics).  Streaming-only like every
    applyInPandasWithState operator (Spark rejects it on batch frames); the
    batch analogue is operators/curation.py:per_source_cap, which can rank
    by quality because the whole corpus is visible."""

    def admit(
        key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        kept, seen = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            seen += len(pdf)
            room = cap - kept
            if room > 0:
                take = pdf.head(room)
                n = len(take)
                yield pd.DataFrame(
                    {
                        "source": [key[0]] * n,
                        "doc_id": take["doc_id"].to_numpy(),
                        "kept_rank": range(kept + 1, kept + 1 + n),
                    }
                )
                kept += n
        state.update((kept, seen))

    return docs.groupBy("source").applyInPandasWithState(
        admit,
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


BURST_STATE_SCHEMA = "n LONG, mean DOUBLE, m2 DOUBLE"
BURST_OUTPUT_SCHEMA = (
    "event_type STRING, bucket_ts TIMESTAMP, n_events LONG, z_score DOUBLE, "
    "is_burst BOOLEAN, n_windows_seen LONG"
)


def burst_monitor(
    counts: DataFrame,
    *,
    z_threshold: float = 2.0,
) -> DataFrame:
    """X69 ONLINE burst monitor — the streaming face of
    ``features.burst_detection``: per event type, maintain running
    mean/variance of the windowed counts via Welford's algorithm (state =
    THREE numbers per type, bounded forever) and flag each arriving window
    whose count z-scores past the threshold against the statistics of all
    PREVIOUS windows.  The batch twin scores against the full-corpus stats;
    online scoring can only use the past — that asymmetry is inherent to
    streaming and documented here rather than papered over.

    Input is the windowed count stream (``groupBy(type, window).count()``
    upstream); this operator adds the anomaly state machine.  First window
    of a type never flags (no history).  100 TB/unbounded-stream shape:
    state per key is O(1) — no window buffer, no count history."""

    def score(
        key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            pdf = pdf.sort_values("bucket_ts")
            out = {k: [] for k in ("bucket_ts", "n_events", "z_score", "is_burst", "n_seen")}
            for _, row in pdf.iterrows():
                x = float(row["n_events"])
                if n >= 2:
                    var = m2 / n
                    std = var**0.5
                    z = (x - mean) / std if std > 0 else None
                else:
                    z = None
                out["bucket_ts"].append(row["bucket_ts"])
                out["n_events"].append(int(x))
                out["z_score"].append(z)
                out["is_burst"].append(bool(z is not None and z >= z_threshold))
                # Welford update AFTER scoring: the window never judges itself
                n += 1
                d = x - mean
                mean += d / n
                m2 += d * (x - mean)
                out["n_seen"].append(n)
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(out["n_events"]),
                    "bucket_ts": out["bucket_ts"],
                    "n_events": out["n_events"],
                    "z_score": out["z_score"],
                    "is_burst": out["is_burst"],
                    "n_windows_seen": out["n_seen"],
                }
            )
        state.update((n, mean, m2))

    return counts.groupBy("event_type").applyInPandasWithState(
        score,
        outputStructType=BURST_OUTPUT_SCHEMA,
        stateStructType=BURST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
