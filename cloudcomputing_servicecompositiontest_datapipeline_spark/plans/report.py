"""FaaS-Runner report-engine declared queries over the ``events`` fixture
(FIXTURES.md §F2: ``events`` plays the runs table — ``user_id`` is the
container/VM analogue, ``event_type`` the cpuType-like category, ``value`` the
runtime-like metric, ``event_id`` the ingest ordinal).

Covers SURVEY.md §2 rows: A1-A7, A9, A10, A12-A14, P6-P10, P12-P13, P17-P18,
D3, U1/U2, O1 — each cited to the reference in its docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DEC, davg, dsum, fround, sql_davg, sql_dsum, sql_fround
from ..operators.report import ReportConfig, invalidator_filter, report, schema_unify, warmup_filter
from ..sources import star
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.table(spark, sf_dir, "events")


@query(
    "report_group_avg",
    oracle=f"""
    SELECT event_type, count(*) AS uses, {sql_davg("value", "avg_value")}
    FROM events GROUP BY event_type
    """,
)
def report_group_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A3: per-category uses count and Decimal-exact rounded mean
    (report_generator.py:337-339,372-381)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("uses"), davg("value", "avg_value")
    )


@query(
    "report_group_sum",
    oracle=f"""
    SELECT event_type, {sql_dsum("value", "sum_value")} FROM events GROUP BY event_type
    """,
)
def report_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: showAsSum column per category (report_generator.py:363-371)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(dsum("value", "sum_value"))


@query(
    "report_show_as_list",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS event_type_list,
           count(DISTINCT event_type) AS n_distinct
    FROM events GROUP BY user_id
    """,
)
def report_show_as_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+D3+A4+O3: sorted distinct value list per group plus distinct count
    (report_generator.py:352-362,384).  Emitted as a comma-joined string —
    the reference's CSV cell form, and scalar so the result hashes cleanly
    (ArrayType output crashed the r1 driver canonicalizer)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
            "event_type_list"
        ),
        F.countDistinct("event_type").alias("n_distinct"),
    )


@query(
    "report_show_as_list_bounded",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type)))[1:3], ',') AS event_type_list,
           least(count(DISTINCT event_type), 3) AS n_listed
    FROM events WHERE event_type IS NOT NULL GROUP BY user_id
    """,
)
def report_show_as_list_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/D3 scale path: the same sorted-distinct capped list as
    report_show_as_list but with aggregation state bounded by the cap —
    distinct → WindowGroupLimit (row_number <= cap pruned map-side) →
    collect_list of at most cap values, instead of collect_set buffering
    every distinct value per group before the slice.  The single-pass
    collect_set form stays the default for the reference's bounded
    monitoring dimensions; this is the high-cardinality-column form
    (operators/report.py:capped_distinct_list; plan + equality pinned in
    tests/test_report_ops.py)."""
    ev = _events(spark, sf_dir)
    from ..operators.report import capped_distinct_list

    return capped_distinct_list(ev, "user_id", "event_type", cap=3)


@query(
    "report_multi_group",
    oracle=f"""
    SELECT event_type, user_id, count(*) AS uses,
           {sql_fround(f"cast(sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as {DEC})) AS double) / count(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as {DEC}))", 2)} AS avg_value
    FROM events GROUP BY GROUPING SETS ((event_type), (user_id))
    """,
)
def report_multi_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: one grouped breakdown per outputGroups key in a single pass via
    GROUPING SETS (report_generator.py:261-284; SURVEY.md §4.2 rewrite) —
    avoids re-scanning the fact table once per key at 100 TB."""
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("events_mg")
    return spark.sql(
        f"""
        SELECT event_type, user_id, count(*) AS uses,
               cast(floor((cast(sum(try_cast(value AS {DEC})) AS double) / count(try_cast(value AS {DEC}))) * 100.0 + 0.5) / 100.0 AS double) AS avg_value
        FROM events_mg GROUP BY GROUPING SETS ((event_type), (user_id))
        """
    )


@query(
    "report_global_zall",
    oracle=f"""
    SELECT 'Final Results:' AS zAll, count(*) AS uses,
           {sql_davg("value", "avg_value")}, {sql_dsum("value", "sum_value")},
           count(DISTINCT user_id) AS unique_users
    FROM events GROUP BY 1
    """,
)
def report_global_zall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+P9: whole-table aggregate via the constant ``zAll`` key
    (experiment_caller.py:88; test/README.md:25)."""
    ev = _events(spark, sf_dir)
    return (
        ev.withColumn("zAll", F.lit("Final Results:"))
        .groupBy("zAll")
        .agg(
            F.count(F.lit(1)).alias("uses"),
            davg("value", "avg_value"),
            dsum("value", "sum_value"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


@query(
    "report_invalidator_warmup",
    oracle=f"""
    SELECT event_type, count(*) AS uses, {sql_davg("value", "avg_value")}
    FROM events
    WHERE NOT coalesce(cast(event_type AS varchar) = 'error', false)
      AND event_id >= 1000
    GROUP BY event_type
    """,
)
def report_invalidator_warmup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12+P13: invalidator row-drop (report_generator.py:203-225) composed
    with the warm-up buffer filter (experiment_orchestrator.py:225-231);
    ``event_id`` plays the iteration ordinal.  Both predicates push down to
    the parquet scan."""
    ev = _events(spark, sf_dir)
    ev = warmup_filter(ev, 1000, iteration_col="event_id")
    ev = invalidator_filter(ev, {"event_type": "error"})
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("uses"), davg("value", "avg_value")
    )


@query(
    "report_union_sentinel",
    oracle="""
    WITH a AS (SELECT event_id, user_id, value, NULL AS props FROM events WHERE event_id % 2 = 0),
         b AS (SELECT event_id, user_id, NULL AS value, props FROM events WHERE event_id % 2 = 1),
         u AS (SELECT event_id, user_id,
                      coalesce(value, -999999999999) AS value,
                      props, event_id % 2 AS iteration
               FROM (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b))
    SELECT iteration, count(*) AS uses,
           floor((cast(sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as decimal(28,4))) AS double) / count(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as decimal(28,4)))) * 100.0 + 0.5) / 100.0 AS avg_value
    FROM u GROUP BY iteration
    """,
)
def report_union_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17+U1/U2: union-of-keys schema across batches with the reference's
    ``-999999999999`` sentinel for missing values (report_generator.py:78-87)
    and iteration tagging (experiment_orchestrator.py:222-237).  The sentinel
    deliberately poisons the odd iteration's average, as in the reference."""
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id", "value")
    b = ev.filter(F.col("event_id") % 2 == 1).select("event_id", "user_id", "props")
    u = schema_unify([a, b], use_sentinel=True).withColumn(
        "iteration", F.col("event_id") % 2
    )
    return u.groupBy("iteration").agg(
        F.count(F.lit(1)).alias("uses"), davg("value", "avg_value")
    )


@query(
    "report_derive_row",
    oracle="""
    SELECT event_id,
           round(value - user_id * 0.1, 2) AS latency,
           concat(event_type, ' - Model ', cast(user_id AS varchar)) AS cpu_type_model,
           replace(replace(props, ',', ';'), chr(10), '\\n') AS sanitized,
           cast(event_id % 10 AS integer) AS thread_id
    FROM events
    """,
)
def report_derive_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7+P8+P10+P18: row-level derives — latency arithmetic
    (experiment_caller.py:92-93), cpuType model concat (:95-96), CSV-safety
    sanitize (:113-117), thread-id tagging (:85-87), round-2 (:163).

    ``value - user_id*0.1`` plays roundTripTime − runtime; the true result has
    two decimals, so round(…,2) never sits on a .xx5 boundary where Spark
    (decimal-string HALF_UP) and DuckDB (binary) would disagree."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.round(F.col("value") - F.col("user_id") * 0.1, 2).alias("latency"),
        F.concat(
            F.col("event_type"), F.lit(" - Model "), F.col("user_id").cast("string")
        ).alias("cpu_type_model"),
        F.regexp_replace(
            F.regexp_replace("props", ",", ";"), "\n", r"\\n"
        ).alias("sanitized"),
        (F.col("event_id") % 10).cast("int").alias("thread_id"),
    )


@query(
    "report_cold_start_count",
    oracle="""
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS new_containers,
           count(*) AS uses
    FROM events GROUP BY user_id
    """,
)
def report_cold_start_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: conditional count of cold starts (partestcpu.sh:166;
    ``sum_newcontainer`` in reports) — ``signup`` plays newcontainer=1.
    Both engines cast the conditional sum to 64-bit explicitly: DuckDB's
    sum(int) yields HUGEINT, which the driver canonicalizer stringifies
    differently from Spark's BIGINT (the one r1 hash mismatch)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("long")
        .alias("new_containers"),
        F.count(F.lit(1)).alias("uses"),
    )


@query(
    "report_variance_uses",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id, count(*) AS uses
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           count(*) AS containers,
           {sql_fround(f"cast(sum(cast(uses AS {DEC})) AS double) / count(*)", 4)} AS mean_uses,
           {sql_fround(
               f"cast(sum(cast(uses * uses AS {DEC})) AS double) / count(*)"
               f" - (cast(sum(cast(uses AS {DEC})) AS double) / count(*))"
               f" * (cast(sum(cast(uses AS {DEC})) AS double) / count(*))", 4)} AS var_uses
    FROM per_user GROUP BY event_type
    """,
)
def report_variance_uses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: population variance of uses-per-container (partestcpu.sh:186-189,
    283-309), computed with decimal-exact moments so the hash is
    order-insensitive (E[X²] − E[X]² on exact sums)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("uses"))
    s1 = F.sum(F.col("uses").cast(DEC)).cast("double")
    s2 = F.sum((F.col("uses") * F.col("uses")).cast(DEC)).cast("double")
    n = F.count(F.lit(1))
    return per_user.groupBy("event_type").agg(
        n.alias("containers"),
        fround(s1 / n, 4).alias("mean_uses"),
        fround(s2 / n - (s1 / n) * (s1 / n), 4).alias("var_uses"),
    )


@query(
    "report_linear_regression",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(cast(l_quantity AS decimal(19,4))) AS sx,
             sum(cast(l_extendedprice AS decimal(19,4))) AS sy,
             sum(cast(l_quantity AS decimal(19,4)) * cast(l_extendedprice AS decimal(19,4))) AS sxy,
             sum(cast(l_quantity AS decimal(19,4)) * cast(l_quantity AS decimal(19,4))) AS sxx,
             sum(cast(l_extendedprice AS decimal(19,4)) * cast(l_extendedprice AS decimal(19,4))) AS syy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           floor((cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
                 / (cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double))
                 * 1000000.0 + 0.5) / 1000000.0 AS slope,
           floor((cast(sxx AS double) * cast(sy AS double) - cast(sx AS double) * cast(sxy AS double))
                 / (cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double))
                 * 1000000.0 + 0.5) / 1000000.0 AS intercept,
           floor((cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
                 * (cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
                 / ((cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double))
                    * (cast(n AS double) * cast(syy AS double) - cast(sy AS double) * cast(sy AS double)))
                 * 1000000.0 + 0.5) / 1000000.0 AS r2
    FROM s
    """,
)
def report_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Performance-modeling analogue: per-group simple OLS (slope, intercept,
    r²) of extendedprice on quantity — the reference's research arm fits
    runtime-prediction regressions the same way (research.md:19, ~3.49% MAPE;
    research/performance_modeling/IC2E Data.csv).  Multiple regression is the
    same normal-equations pattern over more exact-sum moments.

    Determinism: all five moments are EXACT decimal sums (one partial-agg
    shuffle, order-insensitive); the closed-form solution is then a fixed
    tree of IEEE double ops, identical on both engines, floor-rounded at
    1e-6.  No iterative fitting, no driver-side math — scales as one
    aggregation regardless of row count."""
    li = star.table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    # degenerate-group guards: a group where every x (or every y) is equal
    # has den = 0 (resp. zero y-variance) — slope/intercept/r2 are then
    # undefined (NULL), not an ANSI DIVIDE_BY_ZERO runtime error
    return s.select(
        "l_returnflag",
        "n",
        F.when(den != 0, fround(num / den, 6)).alias("slope"),
        F.when(den != 0, fround((sxx * sy - sx * sxy) / den, 6)).alias("intercept"),
        F.when(
            den * (n * syy - sy * sy) != 0,
            fround(num * num / (den * (n * syy - sy * sy)), 6),
        ).alias("r2"),
    )


@query(
    "report_summary_cost",
    oracle=f"""
    SELECT count(*) AS runs,
           count(DISTINCT user_id) AS containers,
           {sql_davg("value", "avg_runtime")},
           {sql_fround(f"cast(sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as {DEC})) AS double) / 1000 * 0.00001667 * (3008.0/1024)", 6)} AS total_cost
    FROM events
    """,
)
def report_summary_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+A13: the partest summary scalar row with GB-second cost model
    (partestcpu.sh:22-24,421-427): $0.00001667/GB-s at 3008 MB; ``value``
    plays runtime-ms."""
    ev = _events(spark, sf_dir)
    return ev.agg(
        F.count(F.lit(1)).alias("runs"),
        F.countDistinct("user_id").alias("containers"),
        davg("value", "avg_runtime"),
        fround(
            F.sum(F.col("value").try_cast(DEC)).cast("double")
            / 1000
            * 0.00001667
            * (3008.0 / 1024),
            6,
        ).alias("total_cost"),
    )


@query(
    "report_tenancy_histogram",
    oracle=f"""
    WITH per_user AS (
      SELECT event_type, user_id, count(*) AS uses,
             sum(try_cast((CASE WHEN isnan(cast(value as double)) THEN NULL ELSE value END) as {DEC})) AS sum_value
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, uses AS tenancy, count(*) AS n_tenants,
           {sql_fround("cast(sum(sum_value) AS double) / sum(uses)", 2)} AS avg_value_per_use
    FROM per_user GROUP BY event_type, uses
    """,
)
def report_tenancy_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11+A12: tenancy histogram — group by (category, uses) composite and
    normalize averages per tenant (partestcputenancy.sh:448-470)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("uses"),
        F.sum(F.col("value").try_cast(DEC)).alias("sum_value"),
    )
    return per_user.groupBy("event_type", "uses").agg(
        F.count(F.lit(1)).alias("n_tenants"),
        fround(F.sum("sum_value").cast("double") / F.sum("uses"), 2).alias(
            "avg_value_per_use"
        ),
    ).withColumnRenamed("uses", "tenancy")


@query(
    "report_full",
    oracle=f"""
    SELECT event_type, count(*) AS uses,
           {sql_davg("event_id", "avg_event_id")},
           {sql_dsum("value", "sum_value")},
           array_to_string(list_slice(list_sort(list_distinct(list(user_id))), 1, 10000), ',') AS user_id_list
    FROM events
    WHERE NOT coalesce(cast(event_type AS varchar) = 'error', false)
    GROUP BY event_type
    """,
)
def report_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite report plan end-to-end via :func:`operators.report.report`
    driven by a ReportConfig, mirroring the reference's fixed pipeline
    (report_generator.py:21-431): invalidators → per-category section with
    uses / avg-of-every-numeric / showAsSum / showAsList.  The showAsList
    column is emitted comma-joined (the reference's CSV cell form,
    report_generator.py:359-362) so the declared result is all-scalar.
    Since r8 the section column set is reference-exact: a showAsSum /
    showAsList attribute carries its sum/list INSTEAD of an avg
    (report_generator.py:297-326), so avg_user_id / avg_value are gone.
    The oracle mirrors the engine's ``list_cap`` scale guard (sorted list
    sliced to 10,000 entries) — found by the sf1.0 run, where 15k distinct
    users per type crossed the cap and the unsliced oracle diverged."""
    ev = _events(spark, sf_dir)
    cfg = ReportConfig(
        output_groups=["event_type"],
        show_as_list=["user_id"],
        show_as_sum=["value"],
        invalidators={"event_type": "error"},
    )
    section = report(ev, cfg)["event_type"]
    return section.withColumn(
        "user_id_list",
        F.array_join(F.transform("user_id_list", lambda x: x.cast("string")), ","),
    )


@query(
    "report_dedup_containers",
    oracle="""
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def report_dedup_containers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: duplicate-container removal — first occurrence per container id
    (report_generator.py:209-213); ``user_id`` plays uuid, ``event_id`` is
    the deterministic ingest order."""
    from ..operators.transform import first_wins_dedup

    ev = _events(spark, sf_dir)
    return first_wins_dedup(ev, "user_id", F.col("event_id")).select(
        "user_id", "event_id", "event_type"
    )


@query(
    "report_validity_gate",
    oracle="""
    SELECT count(*) AS n_valid FROM events WHERE props IS NOT NULL
    """,
)
def report_validity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: row validity gate — record kept only if the version field is
    present (experiment_caller.py:101-102); ``props`` plays version."""
    from ..operators.report import validity_gate

    ev = _events(spark, sf_dir)
    return validity_gate(ev, version_col="props").agg(F.count(F.lit(1)).alias("n_valid"))


@query(
    "report_combine_sheets",
    oracle=f"""
    WITH a AS (SELECT *, 0 AS iteration, concat(cast(user_id AS varchar), '[0]') AS user_key
               FROM events WHERE event_id % 2 = 0),
         b AS (SELECT *, 1 AS iteration, concat(cast(user_id AS varchar), '[1]') AS user_key
               FROM events WHERE event_id % 2 = 1)
    SELECT user_key, count(*) AS uses, {sql_davg("value", "avg_value")}
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    GROUP BY user_key
    """,
)
def report_combine_sheets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + §7.3 zTenancy caveat: iteration-tagged union with the
    iteration-scoped vm key ``vmID[iteration]`` — the tenancy grouping must
    use it so containers from different iterations never merge
    (experiment_orchestrator.py:222-237, report_generator.py:252-255)."""
    from ..operators.report import combine_sheets

    ev = _events(spark, sf_dir).withColumn("user_key", F.col("user_id").cast("string"))
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    combined = combine_sheets([a, b], vm_col="user_key")
    return combined.groupBy(F.col("user_key_iter").alias("user_key")).agg(
        F.count(F.lit(1)).alias("uses"), davg("value", "avg_value")
    )


@query(
    "skew_salted_agg",
    oracle=f"""
    SELECT event_type, count(*) AS uses, {sql_dsum("value", "sum_value")}
    FROM events GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew posture (SURVEY.md §4.2): two-phase salted aggregation — a hot
    key spreads over N reducers in phase 1, partials combine in phase 2.
    The oracle is the PLAIN group-by: the rewrite must be result-identical."""
    from ..operators.skew import salted_count_sum

    ev = _events(spark, sf_dir)
    return salted_count_sum(ev, "event_type", "value", salts=8)


@query(
    "report_approx_stats",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS median_value
    FROM events GROUP BY event_type
    """,
)
def report_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-at-scale, declared as its EXACT twin so the driver can hash it:
    count(DISTINCT) + percentile_disc (both engines return an actual data
    element — no interpolation, so doubles hash identically).  The 100 TB
    scale path swaps in the sketches — approx_count_distinct (HLL) and
    percentile_approx (KLL-ish) — which are engine-specific by design;
    their accuracy vs these exact values is asserted in
    tests/test_report_ops.py."""
    ev = _events(spark, sf_dir)
    ev.createOrReplaceTempView("events_apx")
    return spark.sql(
        """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS median_value
        FROM events_apx GROUP BY event_type
        """
    )


@query(
    "incremental_agg_merge",
    oracle=f"""
    SELECT event_type, cast(count(*) AS bigint) AS uses,
           {sql_dsum("value", "sum_value")}
    FROM events GROUP BY event_type
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance twin of A2/A3: per-day PARTIAL aggregates
    (count + exact decimal sum — the stored artifact an incremental pipeline
    persists per ingest) merged to per-category totals by re-aggregating the
    partials only.  The oracle is the direct group-by over raw — the merge
    must be result-identical, which decimal sums guarantee (associative;
    double sums are not).  At 100 TB each day's raw is scanned once at
    ingest; every later rollup touches ~365 partial rows per group, not
    rows-of-raw.  Complements sketch_distinct_rollup (same pattern for
    distinct counts, where partials must be HLL sketches)."""
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").try_cast(DEC)).alias("psum"),
    )
    return daily.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("uses"),
        F.round(F.sum("psum"), 2).cast("double").alias("sum_value"),
    )


def _hll_oracle_sql() -> str:
    """DuckDB recomputation of the portable-HLL pipeline (built from the
    SAME constants as functions/sketch.py, so the two can't drift): 32-bit
    md5 hash → register index (top p bits, integer division) / rank
    (bit-length of the low window via a generated integer CASE ladder —
    the r8 driver red traced to ``length(bin(...))``, whose zero-padding
    on integer types is engine-version-sensitive), max-merge per
    (event_type, register), z_num as an exact INTEGER sum Σ 2^(RMAX−reg),
    floored raw estimate under the identical pre-scaled alpha_m·m²·2^RMAX
    double literal — every hashed column integer except that one
    deterministic IEEE divide+floor on exactly-representable inputs."""
    from ..functions.sketch import (
        HLL_ALPHA_MM_SCALED,
        HLL_M,
        HLL_POW2_INT,
        _HLL_RMAX,
        _HLL_W,
        hll_bitlen_sql,
    )

    win = 1 << _HLL_W
    pow2_values = ", ".join(f"({r}, {v})" for r, v in enumerate(HLL_POW2_INT))
    return f"""
    WITH src AS (
      SELECT event_type, cast(ts AS date) AS day,
             cast(('0x' || substr(md5(cast(user_id AS varchar)), 1, 8)) AS bigint) AS h
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    regs AS (
      SELECT event_type, h // {win} AS idx,
             max(CASE WHEN h % {win} = 0 THEN {_HLL_RMAX}
                      ELSE {_HLL_RMAX} - {hll_bitlen_sql(f"(h % {win})")} END) AS reg
      FROM src GROUP BY 1, 2),
    p2(r, v) AS (VALUES {pow2_values}),
    days AS (SELECT event_type, count(DISTINCT day) AS n_sketches FROM src GROUP BY 1),
    agg AS (
      SELECT regs.event_type,
             {HLL_M} - count(*) AS zero_registers,
             cast(({HLL_M} - count(*)) AS bigint) * {HLL_POW2_INT[0]}
               + sum(cast(p2.v AS bigint)) AS z_num
      FROM regs JOIN p2 ON p2.r = regs.reg GROUP BY 1)
    SELECT a.event_type,
           cast(d.n_sketches AS bigint) AS n_sketches,
           cast(a.zero_registers AS bigint) AS zero_registers,
           cast(a.z_num AS bigint) AS z_num,
           cast(floor({HLL_ALPHA_MM_SCALED!r} / cast(a.z_num AS double)) AS bigint) AS est_users
    FROM agg a JOIN days d ON d.event_type = a.event_type
    ORDER BY a.event_type
    """


@query("sketch_distinct_rollup", oracle=_hll_oracle_sql())
def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-HLL rollup (A4 as a stored artifact): one HLL register
    array per (event_type, day) over ``user_id`` — kilobytes each — then an
    element-wise-max merge per event_type that estimates distinct users
    WITHOUT re-touching raw rows.  This is the store-and-merge architecture
    the reference's report engine lacks (it recounts distinct from raw on
    every report compile, report_generator.py:384); at 100 TB only the
    register column moves through the rollup shuffle.

    This declared query runs the engine-portable md5_32 HLL twin
    (functions/sketch.py:hll_portable_registers) so the whole
    registers→max-merge→estimate pipeline is DuckDB-oracle-checked —
    upgraded from rows-only in r8, completing the sketch trio (CM =
    frequency, hist = quantile, HLL = distinct) under the hash gate.
    The twin's merge law and accuracy vs exact counts are pinned in
    tests/test_report_ops.py.
    Rows with NULL user_id or NULL ts are excluded (a dated sketch store
    needs both); the estimate is the RAW alpha_m·m²/Z — the linear-counting
    small-range branch needs libm's ln, the one step the two engines don't
    share bit-for-bit, so it lives in hll_portable_estimate's callers."""
    from ..functions import sketch

    ev = (
        _events(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .withColumn("day", F.to_date("ts"))
    )
    daily = sketch.hll_portable_registers(ev, "user_id", ["event_type", "day"])
    est = sketch.hll_portable_rollup(daily, ["event_type"]).withColumnRenamed(
        "estimate", "est_users"
    )
    return est.select(
        "event_type", "n_sketches", "zero_registers", "z_num", "est_users"
    ).orderBy("event_type")


@query(
    "sketch_frequency_heavy_hitters",
    # The CM pipeline is exactly recomputable in SQL under the md5_32 bucket
    # hash: merge is an element-wise sum, so the merged sketch's cell
    # (r, b) equals the GLOBAL count of events whose row-r bucket is b, and
    # the point query is min over r of the queried item's cell.  The oracle
    # skips the array materialization and reads those cell counts directly —
    # same numbers, the estimate≥truth bound and collision overcounts
    # included.
    oracle="""
    WITH cells AS (
      SELECT r.range AS r,
             cast(('0x' || substr(md5(r.range || ':' || event_type), 1, 8)) AS bigint) % 256 AS b,
             count(*) AS n
      FROM events, range(4) r GROUP BY 1, 2),
    probes AS (
      SELECT t.event_type, r.range AS r,
             cast(('0x' || substr(md5(r.range || ':' || t.event_type), 1, 8)) AS bigint) % 256 AS b
      FROM (SELECT DISTINCT event_type FROM events) t, range(4) r)
    SELECT p.event_type, min(coalesce(c.n, 0)) AS cm_estimate
    FROM probes p LEFT JOIN cells c ON c.r = p.r AND c.b = p.b
    GROUP BY p.event_type ORDER BY p.event_type
    """,
)
def sketch_frequency_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency rollup (functions/sketch.py:cm_sketch) — the
    frequency twin of sketch_distinct_rollup: one CM counter array per day
    over event_type, element-wise-sum-merged into a global sketch WITHOUT
    re-touching raw rows, then point-queried for each event type's
    estimated total.  The merge law (sum of shard sketches == sketch of
    union, element-wise) and the never-undercount bound are pinned in
    tests/test_report_ops.py::test_cm_sketch_frequency_bounds_and_merge_law.
    Output: (event_type, cm_estimate) — deterministic, estimate >= truth.

    Buckets are engine-portable md5 hashes, so the whole
    sketch→merge→point-query pipeline is DuckDB-oracle-checked (upgraded
    from rows-only in r8).  An xxhash64 bucket mode was removed because no
    query used it.

    Plan note: the probe crossJoin plans as a BroadcastNestedLoopJoin whose
    broadcast side is the ONE merged-sketch row — a kilobyte fanned out to
    every probe row, the intended shape (not an all-pairs hazard)."""
    from ..functions.sketch import cm_merge, cm_query, cm_sketch

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    daily = cm_sketch(ev, "event_type", ["day"])
    merged = cm_merge(daily)
    types = ev.select("event_type").distinct()
    return (
        cm_query(types.crossJoin(merged), F.col("event_type"))
        .select("event_type", "cm_estimate")
        .orderBy("event_type")
    )


@query(
    "sketch_quantile_rollup",
    # The sketch is approximate vs the TRUE quantile but fully DETERMINISTIC
    # given (lo, hi, n_bins): bin = clamp(floor((v-lo)/width)), estimate =
    # upper edge of the first bin whose cumulative count reaches p·total.
    # That whole pipeline is plain arithmetic both engines evaluate in IEEE
    # double, so the oracle recomputes it exactly in SQL — note the bin GRID
    # must include EMPTY bins (leading zero-count bins still contribute
    # cum=0 < target positions to the `below` count, mirroring the Spark
    # side's fixed 64-slot array).  width = (1000-0)/64 = 15.625, exact in
    # binary, so floor()/multiply round-trips identically.
    oracle="""
    WITH vals AS (
      SELECT event_type,
             least(63, greatest(0, CAST(floor((value - 0.0) / 15.625) AS int))) AS bin
      FROM events WHERE NOT (value IS NULL OR isnan(value) OR abs(value) > 1e308)),
    counts AS (SELECT event_type, bin, count(*) AS n FROM vals GROUP BY 1, 2),
    grid AS (
      SELECT et.event_type, g.bin, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT event_type FROM vals) et
      CROSS JOIN (SELECT CAST(range AS int) AS bin FROM range(64)) g
      LEFT JOIN counts c ON c.event_type = et.event_type AND c.bin = g.bin),
    cum AS (
      SELECT event_type, bin,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS c,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM grid),
    below AS (
      SELECT event_type,
             count(*) FILTER (WHERE CAST(c AS double) < CAST(total AS double) * 0.5) AS b50,
             count(*) FILTER (WHERE CAST(c AS double) < CAST(total AS double) * 0.95) AS b95
      FROM cum GROUP BY event_type)
    SELECT event_type,
           least(1000.0, (b50 + 1) * 15.625) AS p50_est,
           least(1000.0, (b95 + 1) * 15.625) AS p95_est
    FROM below ORDER BY event_type
    """,
)
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile member of the mergeable-sketch trio (functions/sketch.py:
    hist_sketch): per-day equi-width histograms of event value, element-wise
    -sum-merged per event type WITHOUT re-touching raw rows, then p50/p95
    read off the merged counters (error <= one bin width — pinned in
    tests/test_report_ops.py::test_hist_sketch_merge_law_and_quantile_bound;
    fixed bin edges make the merge exact, so there is no batch-boundary
    drift).  Approximate vs the true quantile but DETERMINISTIC given the
    bin config, so unlike the HLL/CM siblings it DOES have a cross-engine
    oracle: the SQL twin recomputes the identical histogram CDF.  Output:
    (event_type, p50_est, p95_est)."""
    from ..functions.sketch import hist_merge, hist_quantile, hist_sketch

    lo, hi = 0.0, 1000.0
    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    daily = hist_sketch(ev, "value", ["event_type", "day"], lo=lo, hi=hi)
    merged = hist_merge(daily, ["event_type"])
    p50 = hist_quantile(merged, 0.5, lo=lo, hi=hi).withColumnRenamed(
        "quantile_est", "p50_est"
    )
    both = hist_quantile(p50, 0.95, lo=lo, hi=hi).withColumnRenamed(
        "quantile_est", "p95_est"
    )
    return both.select("event_type", "p50_est", "p95_est").orderBy("event_type")


@query(
    "report_regression_mape",
    oracle="""
    WITH tr AS (
      SELECT l_returnflag,
             cast(l_quantity AS decimal(19,4)) AS x,
             cast(l_extendedprice AS decimal(19,4)) AS y
      FROM lineitem WHERE l_linenumber % 2 = 0),
    s AS (
      SELECT l_returnflag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM tr GROUP BY 1),
    m AS (
      SELECT l_returnflag,
             (cast(n AS double) * cast(sxy AS double) - cast(sx AS double) * cast(sy AS double))
               / (cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double)) AS slope,
             (cast(sxx AS double) * cast(sy AS double) - cast(sx AS double) * cast(sxy AS double))
               / (cast(n AS double) * cast(sxx AS double) - cast(sx AS double) * cast(sx AS double)) AS intercept
      FROM s),
    te AS (
      SELECT l.l_returnflag,
             abs((m.slope * cast(l.l_quantity AS double) + m.intercept)
                 - cast(l.l_extendedprice AS double))
               / cast(l.l_extendedprice AS double) AS ape
      FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      WHERE l.l_linenumber % 2 = 1 AND l.l_extendedprice > 0)
    SELECT l_returnflag, cast(count(*) AS bigint) AS n_test,
           floor(cast(sum(cast(ape AS decimal(28,12))) AS double) / count(*)
                 * 1000000 + 0.5) / 1000000 AS mape
    FROM te GROUP BY 1
    """,
)
def report_regression_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73 prediction-quality eval, the reference's headline research claim
    re-expressed (research.md:19: CPU-TA + regression predicts runtime at
    ~3.49% MAPE): fit per-group OLS on a held-out TRAIN half (even line
    numbers), score MAPE on the TEST half — the fit/eval split the
    reference's performance-modeling pipeline runs.

    Scale shape: one exact-decimal moment aggregate over train (|groups|
    rows, broadcast back), a row-local prediction on test, one MAPE
    aggregate — two shuffles total, both partial-agg; APE terms are
    engine-identical doubles decimal-accumulated (psi pattern)."""
    li = star.table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,4)")
    y = F.col("l_extendedprice").cast("decimal(18,4)")
    tr = li.filter(F.col("l_linenumber") % 2 == 0)
    s = tr.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    den = n * sxx - sx * sx
    # constant-x train group: model undefined -> NULL slope/intercept (and
    # NULL mape downstream), not an ANSI DIVIDE_BY_ZERO; DuckDB's x/0 is
    # NULL so the oracle agrees without a CASE
    m = s.select(
        "l_returnflag",
        F.when(den != 0, (n * sxy - sx * sy) / den).alias("_slope"),
        F.when(den != 0, (sxx * sy - sx * sxy) / den).alias("_intercept"),
    )
    te = (
        li.filter((F.col("l_linenumber") % 2 == 1) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(m), "l_returnflag")
        .select(
            "l_returnflag",
            (
                F.abs(
                    (
                        F.col("_slope") * F.col("l_quantity").cast("double")
                        + F.col("_intercept")
                    )
                    - F.col("l_extendedprice").cast("double")
                )
                / F.col("l_extendedprice").cast("double")
            ).alias("_ape"),
        )
    )
    return te.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        (
            F.floor(
                F.sum(F.col("_ape").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("mape"),
    )
