"""Window-function declared queries (SURVEY.md §2.6 + native extensions:
rank/dense_rank/ntile/lead/lag, range frames, top-k per group)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import star
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.table(spark, sf_dir, "events")


@query(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           round(value - coalesce(lag(value) OVER w, 0.0), 2) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 previous-stage access (report_generator.py:154-156) + native lead.
    Values carry two decimals, so the rounded delta is boundary-safe."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2).alias(
            "delta"
        ),
    )


@query(
    "window_rank_topk",
    oracle="""
    SELECT user_id, event_id, value, rnk FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
      FROM events)
    WHERE rnk <= 3
    """,
)
def window_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native top-k per group (SURVEY.md §2.6 extensions): row_number with a
    deterministic tiebreak, filtered to k — Spark pushes the k-limit into the
    window sort at scale (rank-limit optimization)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.select("user_id", "event_id", "value", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "window_rank_kinds",
    oracle="""
    SELECT event_id,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER (ORDER BY event_id) AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
    """,
)
def window_rank_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native rank family (declared extensions, SURVEY.md §2.6).

    The ``ntile(4)`` quartile deliberately uses an UNPARTITIONED window: a
    total-order quantile is inherently a single-task sort, kept here as the
    bounded demo of the semantics (allowlisted in tools/plan_audit.py).  At
    corpus scale use the histogram-CDF forms instead — X47
    ``value_deciles`` (per-value counts + running sum, no global sort) for
    global quantile bins, or X14 per-group ``row_number``/``WindowGroupLimit``
    for partitioned ranks."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(Window.orderBy("event_id")).alias("quartile"),
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER (PARTITION BY user_id ORDER BY event_id
                          RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS n_recent,
           cast(round(sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as decimal(28,4))) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   RANGE BETWEEN 500 PRECEDING AND CURRENT ROW), 2) AS double) AS sum_recent
    FROM events
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native range frame (rangeBetween) — sliding lookback by key distance,
    decimal-exact sum for hash stability."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id").rangeBetween(-500, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_recent"),
        F.round(F.sum(F.col("value").try_cast("decimal(28,4)")).over(w), 2)
        .cast("double")
        .alias("sum_recent"),
    )
