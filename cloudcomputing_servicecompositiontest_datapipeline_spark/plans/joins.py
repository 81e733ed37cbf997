"""Declared queries for join-shaped reference operators (SURVEY.md §2.4) over
``events``: intervals are ``[ts, ts + value seconds]`` in epoch microseconds
(exact integers on both engines), ``user_id`` plays the vm/container id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import binned_runtime_overlap, runtime_overlap, tenancy_annotate
from ..sources import star
from .registry import query

#: Interval bounds in epoch micros (bigint → exact on both engines).
#: The seconds→micros conversion must FLOOR the double product on both
#: engines: a bare cast truncates in Spark but rounds in DuckDB, so values
#: whose ×1e6 product is not exactly representable (e.g. 39.83) would put
#: the end a microsecond apart and flip floor-scaled overlap terms.
_ORACLE_START = "epoch_us(ts)"
_ORACLE_END = "epoch_us(ts) + cast(floor(value * 1000000.0) AS bigint)"


def _intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = star.table(spark, sf_dir, "events")
    start = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        start.alias("start_us"),
        (start + F.floor(F.col("value") * 1000000.0)).alias("end_us"),
    )


@query(
    "overlap_selfjoin",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, user_id, {_ORACLE_START} AS start_us, {_ORACLE_END} AS end_us
      FROM events
    )
    SELECT a.event_id,
           coalesce(sum(CASE WHEN b.event_id IS NULL THEN 0 ELSE cast(floor(
             cast(least(b.end_us, a.end_us) - greatest(b.start_us, a.start_us) AS double)
             / greatest(a.end_us - a.start_us, 1) * 1000000) AS bigint) END), 0)
           / 1000000.0 AS overlap_score
    FROM iv a LEFT JOIN iv b
      ON a.user_id = b.user_id
     AND b.start_us < a.end_us AND b.end_us > a.start_us
     AND a.event_id != b.event_id
    GROUP BY a.event_id
    """,
)
def overlap_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 runtimeOverlap (report_generator.py:92-112) with ``overlapFilter =
    user_id`` (test/README.md:20): equi+range self-join shuffled on the filter
    key — per-key quadratic instead of globally quadratic, which is what makes
    the operator feasible at 100 TB (SURVEY.md §4.1)."""
    iv = _intervals(spark, sf_dir)
    return runtime_overlap(
        iv,
        id_col="event_id",
        start_col="start_us",
        end_col="end_us",
        overlap_filter="user_id",
    )


@query(
    "overlap_global_demo",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, {_ORACLE_START} AS start_us, {_ORACLE_END} AS end_us
      FROM events WHERE event_id < 500
    )
    SELECT a.event_id,
           coalesce(sum(CASE WHEN b.event_id IS NULL THEN 0 ELSE cast(floor(
             cast(least(b.end_us, a.end_us) - greatest(b.start_us, a.start_us) AS double)
             / greatest(a.end_us - a.start_us, 1) * 1000000) AS bigint) END), 0)
           / 1000000.0 AS overlap_score
    FROM iv a LEFT JOIN iv b
      ON b.start_us < a.end_us AND b.end_us > a.start_us
     AND a.event_id != b.event_id
    GROUP BY a.event_id
    """,
)
def overlap_global_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 in the reference's literal form — NO overlapFilter, all-pairs
    (report_generator.py:92-112 loops over every j≠i).  DEMO, by name: the
    plan is a broadcast-nested-loop, so the input is hard-bounded (filter to
    event_id < 500 AND the operator's required demo_max_rows cap).  The real
    no-key path over unbounded data is ``overlap_global_binned``; the keyed
    production form is ``overlap_selfjoin``."""
    iv = _intervals(spark, sf_dir).filter(F.col("event_id") < 500)
    return runtime_overlap(
        iv,
        id_col="event_id",
        start_col="start_us",
        end_col="end_us",
        overlap_filter=None,
        demo_max_rows=500,
    )


@query(
    "overlap_global_binned",
    oracle=f"""
    WITH iv AS (
      SELECT event_id, {_ORACLE_START} AS start_us, {_ORACLE_END} AS end_us
      FROM events
    )
    SELECT a.event_id,
           coalesce(sum(CASE WHEN b.event_id IS NULL THEN 0 ELSE cast(floor(
             cast(least(b.end_us, a.end_us) - greatest(b.start_us, a.start_us) AS double)
             / greatest(a.end_us - a.start_us, 1) * 1000000) AS bigint) END), 0)
           / 1000000.0 AS overlap_score
    FROM iv a LEFT JOIN iv b
      ON b.start_us < a.end_us AND b.end_us > a.start_us
     AND a.event_id != b.event_id
    GROUP BY a.event_id
    """,
)
def overlap_global_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 with NO overlapFilter over the FULL table — the scale path
    overlap_global cannot take.  binned_runtime_overlap cuts time into
    10-minute buckets (> the 490 s max interval, so each row replicates to
    at most 2 buckets), pairs meet only inside a shared bucket (equi-join,
    shuffled on bucket), and each pair counts once in the bucket holding the
    later start.  Result-identical to the all-pairs oracle; the plan is a
    SortMergeJoin, not the BNLJ that makes overlap_global bounded-input-only."""
    iv = _intervals(spark, sf_dir)
    return binned_runtime_overlap(
        iv,
        id_col="event_id",
        start_col="start_us",
        end_col="end_us",
        bin_width=600_000_000,
    )


@query(
    "tenancy_annotate",
    oracle="""
    SELECT event_id, user_id,
           concat(event_type, ' - ', cast(count(*) OVER (PARTITION BY user_id) AS varchar)) AS tenancy
    FROM events
    """,
)
def tenancy_annotate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/W3 tenancy annotate-back (report_generator.py:231-255): the
    reference's build-dict-then-stamp second pass is one window exchange."""
    ev = star.table(spark, sf_dir, "events")
    return tenancy_annotate(ev, "user_id", "event_type").select(
        "event_id", "user_id", "tenancy"
    )


@query(
    "pipeline_cumulative",
    oracle="""
    WITH staged AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS stage
      FROM events
    )
    SELECT user_id, event_id, stage,
           cast(round(sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as decimal(28,4))) OVER (
             PARTITION BY user_id ORDER BY stage
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS double) AS value_pipeline
    FROM staged
    """,
)
def pipeline_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3+W1+A8+O4: pipeline-stage alignment and cumulative ``X + "Pipeline"``
    running sums (report_generator.py:115-164): stage order is the per-thread
    event order; running sum is decimal-exact so the hash is stable."""
    ev = star.table(spark, sf_dir, "events")
    stage_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn("stage", F.row_number().over(stage_w))
        .select(
            "user_id",
            "event_id",
            "stage",
            F.round(
                F.sum(F.col("value").try_cast("decimal(28,4)")).over(cum_w), 2
            ).cast("double").alias("value_pipeline"),
        )
    )


@query(
    "join_config_stamp",
    oracle="""
    SELECT e.event_id, e.user_id, r.r_name AS endpoint
    FROM events e JOIN region r ON e.user_id % 5 = r.r_regionkey
    """,
)
def join_config_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: stamp per-run config attributes onto every record
    (experiment_caller.py:98-99) — a broadcast equi-join of a tiny config
    dimension onto the fact stream (explicit ``broadcast()`` hint: the config
    side is always driver-small)."""
    ev = star.table(spark, sf_dir, "events")
    region = star.table(spark, sf_dir, "region")
    return ev.join(
        F.broadcast(region), ev.user_id % 5 == region.r_regionkey
    ).select("event_id", "user_id", F.col("r_name").alias("endpoint"))


@query(
    "join_asof_last_click",
    oracle="""
    SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
           epoch_us(c.ts) AS last_click_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of backward join: stamp each purchase with the user's latest click
    at-or-before it (point-in-time enrichment).  Implementation is
    operators/joins.py:asof_backward_join — union + running window, one
    shuffle on user_id, no inequality-join candidate blowup; the oracle is
    DuckDB's native ASOF LEFT JOIN (an independent implementation of the
    same semantics).  Timestamps as epoch micros (exact ints both engines)."""
    from ..operators.joins import asof_backward_join

    ev = star.table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("purchase_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("click_us")
    )
    return asof_backward_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="purchase_us",
        right_ts="click_us",
        out_col="last_click_us",
    )


@query(
    "funnel_click_to_purchase",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'click') AS first_click,
             min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id)
    SELECT count(*) AS n_users,
           count(first_click) AS n_clicked,
           count(CASE WHEN first_purchase > first_click THEN 1 END) AS n_converted
    FROM f
    """,
)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-funnel analysis: users who clicked, then purchased strictly
    after their first click.  One shuffle (groupBy user) then a 1-row global
    agg — the per-entity-then-global pattern that holds at any event volume."""
    ev = star.table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_click").alias("n_clicked"),
        F.count(
            F.when(F.col("first_purchase") > F.col("first_click"), 1)
        ).alias("n_converted"),
    )


@query(
    "retention_week_over_week",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id, cast(date_trunc('week', ts) AS date) AS w FROM events)
    SELECT cast(a.w AS varchar) AS week_start, count(*) AS n_retained
    FROM wk a JOIN wk b ON a.user_id = b.user_id AND b.w = a.w + INTERVAL 7 DAY
    GROUP BY a.w
    """,
)
def retention_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users active in week W who are also active in W+1.
    The distinct (user, week) grid is tiny relative to raw events (one
    map-side distinct prunes before the self-join on user_id+week)."""
    ev = star.table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("w")
    ).distinct()
    nxt = wk.select(
        F.col("user_id").alias("u2"), F.date_sub(F.col("w"), 7).alias("w2")
    )
    return (
        wk.join(nxt, (wk.user_id == F.col("u2")) & (wk.w == F.col("w2")))
        .groupBy(F.col("w").cast("string").alias("week_start"))
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )


@query(
    "events_cumulative_distinct_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(cast(ts AS date)) AS d FROM events GROUP BY user_id),
    daily AS (
      SELECT d, count(*) AS new_users FROM first_seen GROUP BY d)
    SELECT cast(d AS varchar) AS day, new_users,
           cast(sum(new_users) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cum_users
    FROM daily
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-cumulative distinct users by day — the growth-curve staple.
    NOT an expanding count(DISTINCT) window (quadratic in days, full
    re-scan per day): each user reduces to a first-seen day (one partial
    agg), days reduce to new-user counts, and the cumulative sum runs over
    the tiny per-day series.  EXACT at any scale — the expensive distinct
    collapses map-side; only |days| rows reach the running-sum window."""
    ev = star.table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d"))
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").cast("string").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@query(
    "skew_key_report",
    oracle="""
    WITH per_key AS (
      SELECT coalesce(cast(event_type AS varchar), '<null>') AS key_value,
             count(*) AS n_rows
      FROM events GROUP BY 1),
    enriched AS (
      SELECT key_value, n_rows,
             n_rows / sum(n_rows) OVER () AS share,
             n_rows / avg(n_rows) OVER () AS skew_ratio
      FROM per_key)
    SELECT key_value, n_rows,
           floor(share * 1000000 + 0.5) / 1000000 AS share,
           floor(skew_ratio * 1000000 + 0.5) / 1000000 AS skew_ratio
    FROM enriched
    ORDER BY n_rows DESC, key_value LIMIT 10
    """,
)
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (operators/skew.py:skew_key_report): hottest keys
    with row share and hot/average ratio — run before picking salting /
    AQE skew-join / broadcast.  The fact reduces to per-key counts in one
    partial-agg shuffle; totals are a broadcast one-row aggregate and the
    top-k is a distributed TakeOrdered — no single-task window even when
    the diagnosed key is high-cardinality."""
    from ..operators.skew import skew_key_report as _report

    ev = star.table(spark, sf_dir, "events")
    out = _report(ev, "event_type", top_k=10)
    mult = 1000000.0
    return out.select(
        "key_value",
        "n_rows",
        (F.floor(F.col("share") * mult + 0.5) / mult).alias("share"),
        (F.floor(F.col("skew_ratio") * mult + 0.5) / mult).alias("skew_ratio"),
    )
