"""Nested Inspector-record ingestion (SAAF run records).

The reference's run records carry ``cpuPolls``
(jupyter_workspace/src/Inspector.py): a list of timestamped poll structs
appended by ``pollCPUStats`` (Inspector.py:144-174): ``{time: epoch-ms,
cpuTotal: {cpuUser, cpuNice, ...}}``; ``inspectCPUDelta``
(Inspector.py:213-229) derives ``<metric>Delta`` = last poll − first poll.

Spark-first design: the nesting maps to ``ArrayType(StructType)`` columns,
and the flatten is pure built-in expressions (``array_sort`` +
``element_at`` ±1, ``size``) — row-local, shuffle-free, whole-stage
codegen'd; no UDFs, so at 100 TB the flatten costs one projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Poll metrics inside ``cpuTotal`` (Inspector.py:149 ``cpuValues``).
CPU_POLL_METRICS = [
    "cpuUser",
    "cpuNice",
    "cpuKernel",
    "cpuIdle",
    "cpuIOWait",
    "cpuIrq",
    "cpuSoftIrq",
    "cpuSteal",
    "cpuGuest",
    "cpuGuestNice",
]


def flatten_cpu_polls(
    df: DataFrame, metrics: list[str] | None = None
) -> DataFrame:
    """``inspectCPU`` + ``inspectCPUDelta`` (Inspector.py:190-229): stamp each
    run with the first poll's absolute metrics and the last−first deltas,
    plus ``totalPolls``; drop the nested column afterwards (the reference
    keeps flat attributes only unless ``processCPUPolls`` opts in)."""
    metrics = CPU_POLL_METRICS if metrics is None else metrics
    polls = F.array_sort(F.col("cpuPolls"))  # time is field 0 → time order
    # empty-poll guard: element_at on an empty array is a runtime error
    # under ANSI mode (the Spark 4 default), not NULL — a run record with
    # zero polls must flatten to NULL metrics, not kill the job
    has = F.size(F.col("cpuPolls")) > 0
    first = F.when(has, F.element_at(polls, 1))
    last = F.when(has, F.element_at(polls, -1))
    cols = [F.col(c) for c in df.columns if c != "cpuPolls"]
    for m in metrics:
        f = first.getField("cpuTotal").getField(m)
        l = last.getField("cpuTotal").getField(m)
        cols.append(f.alias(m))
        cols.append((l - f).alias(f"{m}Delta"))
    cols.append(F.size(F.col("cpuPolls")).alias("totalPolls"))
    cols.append(
        (last.getField("time") - first.getField("time")).alias(
            "pollSpanMs"
        )
    )
    return df.select(*cols)
