"""Tracing for the benchmark's traced passes.

Spans are recorded from outside the engine, around the calls into each
layer's public entry points, and kept in memory until the run ends:

- one root span per query execution, with children ``plans.build`` (the
  registry function), ``catalyst`` (forcing the physical plan) and
  ``exec`` (the noop-sink write);
- Spark jobs and stages from the status store, SQL-execution metrics from
  the SQL status store and micro-batch progress from a
  ``StreamingQueryListener``.  None of them needs the UI.

With one serial client every job, stage and micro-batch that starts inside
a root span's time window belongs to that span.  :func:`fold` turns a
pass's spans into the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import time
from collections.abc import Iterator
from typing import Any

from pyspark.sql.streaming import StreamingQueryListener

#: slack for comparing JVM millisecond timestamps with Python span clocks
_SLACK_S = 0.002


class Tracer:
    """Spans in memory: ``{id, parent, name, start, end, attrs}`` with
    epoch-second times (the clock the JVM stamps jobs with)."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs: Any) -> Iterator[dict]:
        s = {
            "id": len(self.spans),
            "parent": None if parent is None else parent["id"],
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


class ProgressListener(StreamingQueryListener):
    """Collects micro-batch progress of every streaming query."""

    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.batches.append(
            {
                "start": start,
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def catalyst_phases(df) -> dict[str, int]:
    """Force the DataFrame's physical plan; return the query-plan tracker's
    analysis / optimization / planning durations in ms."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = int(opt.get().durationMs()) if opt.isDefined() else 0
    return out


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def read_jobs(spark) -> list[dict[str, Any]]:
    """Every job the status store retains, with its stages' metrics."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        start = _epoch(j.submissionTime())
        if start is None:
            continue
        stages = []
        for sid in conv.asJava(j.stageIds()):
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j error: the stage aged out of the store
                continue
            s_start = _epoch(s.submissionTime())
            if s_start is None:  # skipped: its shuffle output was reused
                continue
            stages.append(
                {
                    "id": sid,
                    "start": s_start,
                    "end": _epoch(s.completionTime()) or s_start,
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "gc_ms": s.jvmGcTime(),
                    "input_bytes": s.inputBytes(),
                    "input_rows": s.inputRecords(),
                    "output_bytes": s.outputBytes(),
                    "output_rows": s.outputRecords(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.diskBytesSpilled(),
                    "peak_mem_bytes": s.peakExecutionMemory(),
                }
            )
        jobs.append(
            {
                "id": j.jobId(),
                "start": start,
                "end": _epoch(j.completionTime()) or start,
                "stages": stages,
            }
        )
    return jobs


def read_sql_metrics(spark, windows: list[tuple[float, float]]) -> list[dict[str, Any]]:
    """Operator-level SQL metrics of every SQL execution submitted inside
    one of ``windows``: ``{start, description, metrics: {name: value}}``."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for x in conv.asJava(store.executionsList()):
        start = x.submissionTime() / 1000.0
        if not any(lo - _SLACK_S <= start <= hi + _SLACK_S for lo, hi in windows):
            continue
        names = {m.accumulatorId(): m.name() for m in conv.asJava(x.metrics())}
        values = conv.asJava(store.executionMetrics(x.executionId()))
        out.append(
            {
                "start": start,
                "description": x.description(),
                "metrics": {names.get(k, str(k)): values.get(k) for k in values.keySet()},
            }
        )
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _within(t: float, span: dict) -> bool:
    return span["start"] - _SLACK_S <= t <= span["end"] + _SLACK_S


def attach(tracer: Tracer, jobs: list[dict], batches: list[dict], sql: list[dict]) -> None:
    """Attach jobs, micro-batches and SQL executions to the root span whose
    window holds their start, and to the child span within it."""
    for root in (s for s in tracer.spans if s["parent"] is None):
        kids = {c["name"]: c for c in tracer.children(root)}
        for key, items in (("jobs", jobs), ("batches", batches), ("sql", sql)):
            mine = [x for x in items if _within(x["start"], root)]
            root["attrs"][key] = mine
            for child in kids.values():
                child["attrs"][key] = [x for x in mine if _within(x["start"], child)]


PER_LAYER_SUMS = (
    "plans.build_s", "plans.build_self_s", "plans.eager_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.wall_s", "exec.gap_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.failed_tasks",
    "sources.input_bytes", "sources.input_rows", "sources.output_bytes", "sources.output_rows",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms",
)

_STAGE_SUMS = {
    "exec.tasks": "tasks", "exec.failed_tasks": "failed_tasks",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes", "exec.spill_bytes": "spill_bytes",
    "sources.input_bytes": "input_bytes", "sources.input_rows": "input_rows",
    "sources.output_bytes": "output_bytes", "sources.output_rows": "output_rows",
}

_BATCH_MS = {
    "streaming.trigger_ms": "triggerExecution", "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning", "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets", "streaming.latest_offset_ms": "latestOffset",
}


def self_times(tracer: Tracer, root: dict) -> dict[str, float]:
    """Self time of the root and of each child: a root's own time outside its
    children, build time outside eager jobs, exec time with no stage running."""
    kids = {c["name"]: c for c in tracer.children(root)}
    dur = {n: c["end"] - c["start"] for n, c in kids.items()}
    build, exe = kids["plans.build"], kids["exec"]
    job_iv = [(j["start"], j["end"]) for j in build["attrs"].get("jobs", [])]
    stage_iv = [
        (s["start"], s["end"]) for j in exe["attrs"].get("jobs", []) for s in j["stages"]
    ]
    return {
        "root": (root["end"] - root["start"]) - sum(dur.values()),
        "plans.build": dur["plans.build"] - _covered(job_iv, build["start"], build["end"]),
        "catalyst": dur["catalyst"],
        "exec": dur["exec"] - _covered(stage_iv, exe["start"], exe["end"]),
    }


def fold(tracer: Tracer, roots: list[dict]) -> dict[str, float]:
    """Per-layer metrics summed over ``roots`` (one pass's query executions).

    ``exec.*`` work and ``sources.*`` counters cover every Spark job the
    query ran, eager ones during plan build included; ``plans.eager_jobs``
    counts the jobs submitted during build."""
    m = dict.fromkeys(PER_LAYER_SUMS, 0.0)
    m["exec.peak_mem_bytes"] = 0.0
    for root in roots:
        kids = {c["name"]: c for c in tracer.children(root)}
        selfs = self_times(tracer, root)
        m["plans.build_s"] += kids["plans.build"]["end"] - kids["plans.build"]["start"]
        m["plans.build_self_s"] += selfs["plans.build"]
        m["plans.eager_jobs"] += len(kids["plans.build"]["attrs"].get("jobs", []))
        for phase, ms in root["attrs"].get("catalyst_ms", {}).items():
            m[f"catalyst.{phase}_ms"] += ms
        m["exec.wall_s"] += kids["exec"]["end"] - kids["exec"]["start"]
        m["exec.gap_s"] += selfs["exec"]
        jobs = root["attrs"].get("jobs", [])
        m["exec.jobs"] += len(jobs)
        for s in (s for j in jobs for s in j["stages"]):
            m["exec.stages"] += 1
            m["exec.run_s"] += s["run_ms"] / 1e3
            m["exec.cpu_s"] += s["cpu_ns"] / 1e9
            m["exec.gc_s"] += s["gc_ms"] / 1e3
            m["exec.peak_mem_bytes"] = max(m["exec.peak_mem_bytes"], s["peak_mem_bytes"])
            for metric, key in _STAGE_SUMS.items():
                m[metric] += s[key]
        for b in root["attrs"].get("batches", []):
            m["streaming.batches"] += 1
            for metric, key in _BATCH_MS.items():
                m[metric] += b["duration_ms"].get(key, 0)
    m["exec.cpu_share"] = m["exec.cpu_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0
    return m
