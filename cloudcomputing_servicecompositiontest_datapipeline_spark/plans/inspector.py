"""Declared query for nested Inspector-record ingestion (SURVEY.md §2:
S-ingest of ``cpuPolls``-shaped ArrayType(Struct) columns).

The fixture tables are flat parquet, so the query BUILDS the nested form
first (collect each user's events into a time-ordered poll array — the
Inspector's append loop, Inspector.py:144-174), then flattens it back with
the same last−first delta rule as ``inspectCPUDelta`` (Inspector.py:219-229).
The DuckDB oracle never nests: it computes the identical result directly
with ``arg_min``/``arg_max`` — so the hash check proves the nest→flatten
roundtrip is lossless.

Scale note: the nest side is one hash-aggregation on the group key (the
only shuffle); the flatten side is row-local expressions.  A 100 TB run
store arrives ALREADY nested (one record per run), so production skips the
nest stage entirely and pays zero shuffles — exercised on real nested JSON
in tests/test_api_io.py::test_read_nested_runs_flatten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.inspector import flatten_cpu_polls
from ..sources import star
from .registry import query


@query(
    "inspector_nested_poll_agg",
    oracle="""
    SELECT user_id,
           count(*) AS totalPolls,
           arg_min(value, event_id) AS cpuUser,
           arg_max(value, event_id) - arg_min(value, event_id) AS cpuUserDelta
    FROM events GROUP BY user_id
    """,
)
def inspector_nested_poll_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested runs roundtrip: events → per-user ``cpuPolls`` array of
    ``{time, cpuTotal}`` structs → :func:`flatten_cpu_polls` → per-run
    first-poll value + last−first delta (Inspector.py:144-229).  ``event_id``
    plays the poll timestamp (unique per user → a total order both engines
    agree on); ``value`` plays cpuUser."""
    ev = star.table(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.collect_list(
            F.struct(
                F.col("event_id").alias("time"),
                F.struct(F.col("value").alias("cpuUser")).alias("cpuTotal"),
            )
        ).alias("cpuPolls")
    )
    flat = flatten_cpu_polls(nested, metrics=["cpuUser"])
    return flat.select("user_id", "totalPolls", "cpuUser", "cpuUserDelta")
