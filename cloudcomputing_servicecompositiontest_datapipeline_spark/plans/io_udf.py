"""Declared queries for the IO round-trips (S1/S4/S6/S7), the UDF/UDAF
surface (F1-F5), and the remaining projection/set operators (P15/P16/U3).
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import sql_dsum, dsum
from ..functions.udf import grouped_apply, register_sql_function
from ..session import scratch_root
from ..sources import io as sio
from ..sources import star
from .registry import query


@query(
    "io_csv_roundtrip",
    oracle=f"""
    SELECT l_returnflag, count(*) AS n, {sql_dsum("l_extendedprice", "sum_price")}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S4: CSV sink → CSV scan round-trip preserves values exactly
    (shortest-repr doubles survive the text hop); the aggregate over the
    round-tripped data must hash-match the oracle computed on the original."""
    li = star.table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    path = os.path.join(tempfile.mkdtemp(dir=scratch_root(), prefix="sg_csv_"), "lineitem_csv")
    sio.write_csv(li, path)
    back = sio.read_csv(spark, path, schema="l_returnflag STRING, l_extendedprice DOUBLE")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice", "sum_price")
    )


@query(
    "io_json_runs_roundtrip",
    oracle=f"""
    SELECT event_type, count(*) AS n, {sql_dsum("value", "sum_value")}
    FROM events GROUP BY event_type
    """,
)
def io_json_runs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S7: JSON-record sink → source round-trip (the run{i}.json folder
    flow, report_generator.py:446-485)."""
    ev = star.table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = os.path.join(tempfile.mkdtemp(dir=scratch_root(), prefix="sg_json_"), "runs")
    sio.write_runs(ev, path)
    back = sio.read_runs(spark, path, schema="event_id BIGINT, event_type STRING, value DOUBLE")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "sum_value")
    )


@query(
    "udf_user_function",
    oracle="""
    SELECT event_id, value * 2.0 + 1.0 AS scored
    FROM events
    """,
)
def udf_user_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: arbitrary per-record user code as a vectorized pandas UDF
    (yourFunction analogue, handler.py:2-19).  Arrow-batched; deterministic
    arithmetic so the oracle can check the full pipeline."""
    ev = star.table(spark, sf_dir, "events")

    @F.pandas_udf("double")
    def score(v: pd.Series) -> pd.Series:
        return v * 2.0 + 1.0

    return ev.select("event_id", score(F.col("value")).alias("scored"))


@query(
    "udf_sql_registered",
    oracle="""
    SELECT event_type, count(*) AS n_hot
    FROM events WHERE value * 2.0 + 1.0 > 30 GROUP BY event_type
    """,
)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: user function published into the SQL namespace
    (spark.udf.register — the engine's @cloud_function analogue)."""

    def score(v: pd.Series) -> pd.Series:
        return v * 2.0 + 1.0

    register_sql_function(spark, "sg_score", score)
    star.table(spark, sf_dir, "events").createOrReplaceTempView("events_udf")
    return spark.sql(
        "SELECT event_type, count(*) AS n_hot FROM events_udf "
        "WHERE sg_score(value) > 30 GROUP BY event_type"
    )


@query(
    "udaf_grouped_custom",
    oracle="""
    SELECT event_type, count(*) AS n,
           min(value) AS min_value, max(value) AS max_value,
           max(value) - min(value) AS value_range
    FROM events GROUP BY event_type
    """,
)
def udaf_grouped_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: custom per-group reduction via grouped applyInPandas
    (report_generator.py:308-326's config-dispatched reductions, beyond
    avg/sum/list)."""
    ev = star.table(spark, sf_dir, "events").select("event_type", "value")

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(v)],
                "min_value": [v.min()],
                "max_value": [v.max()],
                "value_range": [v.max() - v.min()],
            }
        )

    return grouped_apply(
        ev,
        ["event_type"],
        reduce_group,
        "event_type string, n long, min_value double, max_value double, value_range double",
    )


@query(
    "rename_transitions",
    oracle="""
    SELECT event_id AS run_id, event_type AS stage_name, value AS runtime
    FROM events
    """,
)
def rename_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15: attribute rename between pipeline stages
    (transitions {"message": "name"}, experiment_caller.py:190-193)."""
    return (
        star.table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .withColumnRenamed("event_id", "run_id")
        .withColumnRenamed("event_type", "stage_name")
        .withColumnRenamed("value", "runtime")
    )


@query(
    "payload_merge_defaults",
    oracle="""
    WITH defaults AS (
      SELECT 'view' AS event_type, 100.0 AS default_value, 'fallback' AS source
    )
    SELECT e.event_id,
           coalesce(e.value, d.default_value) AS value,
           coalesce(nullif(e.props, ''), d.source) AS props_resolved
    FROM events e LEFT JOIN defaults d ON e.event_type = d.event_type
    """,
)
def payload_merge_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16: payload/dict merge with child-over-parent priority
    ({**parent, **payload}, experiment_orchestrator.py:117-128) — per-column
    coalesce after a broadcast join of the defaults document."""
    ev = star.table(spark, sf_dir, "events")
    defaults = ev.sparkSession.createDataFrame(
        [("view", 100.0, "fallback")], ["event_type", "default_value", "source"]
    )
    d = F.broadcast(defaults)
    return (
        ev.join(d, "event_type", "left")
        .select(
            "event_id",
            F.coalesce(ev.value, d.default_value).alias("value"),
            F.coalesce(F.nullif(ev.props, F.lit("")), d.source).alias("props_resolved"),
        )
    )


@query(
    "payload_cycling",
    oracle="""
    SELECT i AS run_idx,
           ['a','b','c'][cast(i % 3 AS integer) + 1] AS payload
    FROM range(10) t(i)
    """,
)
def payload_cycling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: payload-list cycling to match the run count
    (payloadList += payload, experiment_caller.py:274-276) — sequence +
    explode + modular indexing instead of a driver loop."""
    payloads = F.array(F.lit("a"), F.lit("b"), F.lit("c"))
    return (
        spark.range(10)
        .select(F.col("id").alias("run_idx"))
        .select(
            "run_idx",
            F.element_at(payloads, (F.col("run_idx") % 3).cast("int") + 1).alias("payload"),
        )
    )
