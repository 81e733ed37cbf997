"""Feature-engineering aggregations over event streams (SURVEY.md §2.12):
the per-entity rollup features a training pipeline derives from behavioral
logs — time-decayed activity, recency, intensity.

Scale posture: every feature here reduces to ONE partial-agg shuffle keyed
by the entity id; global anchors (e.g. the corpus max timestamp) are
single-row broadcasts, never windows; per-row terms are quantized onto an
exact integer grid BEFORE summation so the aggregate is fold-order- and
libm-independent (Java Math.exp and glibc exp genuinely differ at ulp level
— measured 867/10000 rows bitwise-different on the sf0.01 events — so
hash-stable decay math must not sum raw doubles).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def decayed_activity(
    events: DataFrame,
    *,
    half_life_hours: float = 24.0,
) -> DataFrame:
    """X46 exponentially time-decayed activity score per entity:
    ``score = Σ value·2^(-Δt/half_life)`` with Δt measured to the corpus max
    timestamp — the classic recency-weighted engagement/quality feature
    (standard in feature stores; exponential decay keeps the feature
    incrementally maintainable: old_score · decay + new_batch).

    One single-row max-timestamp broadcast + one groupBy(user) partial-agg
    shuffle.  Per-row terms round to a 1e-6 integer grid and
    sum EXACTLY in decimal(38,0) — a 1-ulp libm divergence in exp() can
    only flip a term at a grid boundary (P ≈ 7e-9/row), so the result is
    reproducible across engines and partitionings.

    Rows with a NULL timestamp or value are EXCLUDED up front (documented:
    they cannot be decay-weighted, and counting them in n_events while the
    score skipped them would make the two columns disagree)."""
    events = events.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    lam = math.log(2.0) / half_life_hours
    mult = 1e6
    mx = events.agg(F.max("ts").alias("_mx"))
    dmic = F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("_mx"))
    term = F.col("value") * F.exp(F.lit(-lam) * (dmic / F.lit(3.6e9)))
    grid = F.floor(term * mult + 0.5).cast("decimal(38,0)")
    return (
        events.crossJoin(F.broadcast(mx))
        .groupBy(F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(grid).cast("double") / mult).alias("decayed_score"),
            (F.floor(F.min(dmic) / F.lit(3.6e9) * mult + 0.5) / mult).alias(
                "hours_since_last"
            ),
        )
    )


def robust_stats_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """X48 robust per-group statistics: exact median and MAD (median
    absolute deviation) of ``value_col`` per group — the outlier-resistant
    monitoring pair (mean/stddev are blown up by exactly the anomalies one
    monitors for).

    Two passes, both reducing to |groups| rows: exact percentile per group
    (Spark's ``percentile`` aggregate), then the deviation pass re-joins
    the per-group median (broadcast — |groups| is bounded for a monitoring
    dimension) and takes the median of |x − med|.  Rounded 1e-6 for
    engine-stable hashing.

    Non-finite values (NaN/±Inf) are EXCLUDED from the percentile inputs —
    Spark's percentile sorts NaN above every double, so one broken reading
    would drag the median/MAD of its whole group — by mapping them to NULL
    inside the aggregate (percentile ignores NULLs on both engines).  ``n``
    stays the group's TOTAL row count (its population, the denominator a
    monitor reports against)."""
    from ..functions.guards import finite_d

    mult = 1e6

    def r6(c):
        return F.floor(c * mult + 0.5) / mult

    v = F.when(finite_d(F.col(value_col)), F.col(value_col))
    med = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.percentile(v, F.lit(0.5)).alias("_med"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = (
        df.join(F.broadcast(med), df[group_col].eqNullSafe(F.col("_g")))
        .select("_g", "n", "_med", F.abs(v - F.col("_med")).alias("_ad"))
        .groupBy("_g", "n", "_med")
        .agg(F.percentile(F.col("_ad"), F.lit(0.5)).alias("_mad"))
    )
    return dev.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        r6(F.col("_med")).alias("median"),
        r6(F.col("_mad")).alias("mad"),
    )


def cohort_retention(
    events: DataFrame,
) -> DataFrame:
    """X49 cohort-retention matrix: users bucketed by first-seen day, then
    distinct active users per (cohort_day, day_offset) — the standard
    product-analytics rollup, and a representative two-level aggregation
    (per-entity min, re-join, distinct count).

    One groupBy(user) shuffle for first-seen, one shuffle back on the user
    key to tag events (at 100 TB both shuffles hash-partition on the same
    key, so AQE coalesces them into co-partitioned exchanges), then a
    partial-agg distinct count keyed by the (cohort, offset) pair — whose
    cardinality is days², not events.

    Events with a NULL user or timestamp are EXCLUDED up front (documented:
    an anonymous or unstamped event belongs to no cohort; silently letting
    the join/count drop them would hide the data-quality issue — surface it
    with profile/constraint checks upstream)."""
    events = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    day = F.to_date(F.col("ts"))
    first_seen = events.groupBy(F.col("user_id").alias("_u")).agg(
        F.min(day).alias("cohort_day")
    )
    tagged = events.join(
        first_seen, events["user_id"] == F.col("_u")
    ).select(
        "cohort_day",
        F.datediff(day, F.col("cohort_day")).alias("day_offset"),
        F.col("user_id").alias("_uid"),
    )
    return (
        tagged.groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("_uid").alias("n_active_users"))
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "day_offset",
            F.col("n_active_users").cast("long").alias("n_active_users"),
        )
    )


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    *,
    k: float = 3.0,
) -> DataFrame:
    """X48b robust outlier flagging: |x − median| > k·MAD per group (the
    modified z-score rule, resistant to the outliers it hunts — a stddev
    threshold would be inflated by them).  Reuses
    :func:`robust_stats_by_group`'s |groups|-row table as a broadcast; the
    flagging pass is row-local.  Groups with MAD = 0 flag any deviation
    (a constant stream moving at all is anomalous).  A NaN/±Inf value is
    ALWAYS flagged (a measurement that claims to exist and is garbage is
    the broken-sensor case a monitor exists for) with a NULL robust_z —
    never a NaN score, which would poison downstream hashing/sorting; NULL
    values stay unflagged (legitimate missing data).  Returns only the
    flagged rows with their robust z-score."""
    from ..functions.guards import bad_measurement_d

    mult = 1e6
    stats = robust_stats_by_group(df, group_col, value_col)
    bad = bad_measurement_d(df[value_col])
    dev = F.abs(F.col(value_col) - F.col("median"))
    flagged = F.when(bad, F.lit(True)).otherwise(
        F.when(F.col("mad") > 0, dev > F.lit(k) * F.col("mad")).otherwise(dev > 0)
    )
    score = F.when(
        bad, F.lit(None).cast("double")
    ).otherwise(
        F.when(F.col("mad") > 0, F.floor(dev / F.col("mad") * mult + 0.5) / mult)
    )
    return (
        df.join(
            F.broadcast(stats.select(F.col(group_col).alias("_g"), "median", "mad")),
            df[group_col].eqNullSafe(F.col("_g")),
        )
        .filter(flagged)
        .select(
            F.col(id_col),
            df[group_col],
            F.col(value_col),
            "median",
            "mad",
            score.alias("robust_z"),
        )
    )


def funnel_conversion(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """X53 ordered-funnel conversion: how many users performed the ``steps``
    event types IN ORDER (first occurrence of each step strictly after the
    previous step's first occurrence) — the standard product funnel, and a
    representative conditional-aggregation shape.

    ONE groupBy(user) pass computes every step's first-occurrence timestamp
    as a conditional ``min``; the order predicate is row-local on that
    |users|-row frame; the final rollup is a single tiny aggregate per
    step.  No self-joins, no windows — cost is one user-keyed shuffle at
    any scale.  Output: (step_index, step, n_users, conversion_rate vs
    step 1, rounded 1e-6).  ``steps`` must be DISTINCT event types — a
    repeated step would compare a first-occurrence timestamp to itself and
    report zero conversions, which is a spec error, not a funnel."""
    if len(set(steps)) != len(steps) or not steps:
        raise ValueError("steps must be a non-empty list of distinct event types")
    firsts = events.groupBy(F.col("user_id").alias("_u")).agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"_t{i}")
            for i, s in enumerate(steps)
        ]
    )
    reached = [F.col("_t0").isNotNull()]
    for i in range(1, len(steps)):
        reached.append(reached[i - 1] & (F.col(f"_t{i}") > F.col(f"_t{i-1}")))
    counts = firsts.agg(
        *[F.sum(r.cast("long")).alias(f"_n{i}") for i, r in enumerate(reached)]
    )
    mult = 1000000.0
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step_index"),
                F.lit(s).alias("step"),
                F.col(f"_n{i}").alias("n_users"),
                # nobody entered the funnel: rate NULL, not ANSI x/0 error
                F.when(
                    F.col("_n0") > 0,
                    F.floor(
                        F.col(f"_n{i}").cast("double") / F.col("_n0") * mult + 0.5
                    )
                    / mult,
                ).alias("conversion_rate"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


def _dense_counts(
    events: DataFrame, type_col: str, ts_col: str, bucket: str
) -> DataFrame | None:
    """Shared densification for the rate monitors (X63 burst, X79 CUSUM):
    (event_type, bucket_ts, n_events) on a DENSE per-type time axis —
    missing buckets are real zeros.  One (type, bucket) count aggregate
    (reduce side |types|·|buckets|, never events); the axis is GENERATED
    per type from two driver-collected timestamps (explode of a
    literal-bounded sequence — no BroadcastNestedLoopJoin) and the count
    join broadcasts (metadata-sized after the aggregate).  Returns None on
    an empty/all-NULL input."""
    t = F.date_trunc(bucket, F.col(ts_col))
    counts = (
        events.select(F.col(type_col).alias("event_type"), t.alias("bucket_ts"))
        .groupBy("event_type", "bucket_ts")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    bounds = events.agg(
        F.date_trunc(bucket, F.min(ts_col)).alias("mn"),
        F.date_trunc(bucket, F.max(ts_col)).alias("mx"),
    ).first()
    if bounds["mn"] is None:
        return None
    axis = F.explode(
        F.sequence(
            F.lit(bounds["mn"]), F.lit(bounds["mx"]), F.expr(f"interval 1 {bucket}")
        )
    )
    return (
        counts.select("event_type")
        .distinct()
        .select("event_type", axis.alias("bucket_ts"))
        .join(F.broadcast(counts), ["event_type", "bucket_ts"], "left")
        .select(
            "event_type",
            "bucket_ts",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        )
    )


def burst_detection(
    events: DataFrame,
    *,
    z_threshold: float = 2.0,
) -> DataFrame:
    """X63 rate-burst detection: bucket each event type's stream onto a
    DENSE time axis (missing buckets count as 0 — without densification a
    quiet stream's mean is inflated and bursts hide), then z-score every
    bucket against its type's own mean/std.  The ops-monitor face of the
    drift family: "did some event type spike this hour?".

    100 TB shape: one (type, bucket) count aggregate — reduce side is
    |types|·|buckets| rows, never events.  Densification GENERATES the
    axis per type (explode of a literal-bounded sequence — two timestamps
    to the driver, the bounded-collect pattern) instead of cross-joining an
    axis table, so there is no BroadcastNestedLoopJoin anywhere; the type
    list reuses the already-reduced counts frame and the count/stat joins
    broadcast (everything after the first aggregate is metadata-sized).
    Mean/std come from exact integer count sums via the explicit
    sum/sum-of-squares formula (NOT the engines' stddev builtins, whose
    accumulation algorithms differ), so the doubles are engine-identical.
    A constant-rate type (std 0) yields NULL z and never flags."""
    dense = _dense_counts(events, "event_type", "ts", "hour")
    if dense is None:
        # no usable time axis (empty / all-NULL timestamps): schema-only
        # empty frame — emitting one zero row per event would blow a
        # degenerate input back up to corpus size
        return events.limit(0).select(
            F.col("event_type").alias("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(None).cast("double").alias("z_score"),
            F.lit(False).alias("is_burst"),
        )
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_nb"),
        F.sum("n_events").cast("long").alias("_s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("_ss"),
    )
    mean = F.col("_s").cast("double") / F.col("_nb")
    var = F.col("_ss").cast("double") / F.col("_nb") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    mult = 1e6
    z = F.when(
        std > 0,
        F.floor((F.col("n_events") - mean) / std * mult + 0.5) / mult,
    )
    return (
        dense.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "bucket_ts",
            "n_events",
            z.alias("z_score"),
            F.coalesce(z >= z_threshold, F.lit(False)).alias("is_burst"),
        )
    )


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """X66 deterministic bootstrap confidence intervals for a per-group
    mean — the error bars an eval/monitoring report should carry before
    anyone acts on a metric delta.  Subsample-bootstrap form: each of 50
    replicates ``b`` samples the rows whose md5("boot0":b:id) draw falls
    in the lower half (a pure function — no RNG state, reproducible across
    engines/partitionings/re-runs), the statistic is the replicate mean,
    and the CI is the [5%, 95%] quantile band of the replicate means.

    100 TB shape: ONE pass — each row map-side explodes to its 50
    membership trials (compute-only B× blow-up, no join, no
    BroadcastNestedLoopJoin) and the shuffle carries |groups|·50 partial
    sums, never rows.  Replicate draws PACK 8 per md5 (each 128-bit digest
    yields eight 16-bit draws, indexed by ``replicate % 8`` on
    md5("boot0" : replicate//8 : id)) — 8× fewer digests than
    one-hash-per-trial for identical statistics.  Replicate means
    decimal-accumulate (order-insensitive); the quantile band runs over
    50 bounded values per group.  A replicate
    that samples zero rows of a group contributes no mean (consistently on
    both engines)."""
    from ..sources.star import ensure_parallelism

    thr = 1 << 15  # half the 16-bit draw range
    mult = 1e6
    df = df.filter(F.col(value_col).isNotNull())
    n_hashes = 7  # 50 replicates at 8 draws per digest
    hashed = ensure_parallelism(df).select(
        F.col(group_col).alias("group"),
        F.col(value_col).cast("double").alias("_v"),
        F.col(id_col).cast("string").alias("_id"),
    ).select(
        "group",
        "_v",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("_j"),
        F.col("_id"),
    ).select(
        "group",
        "_v",
        "_j",
        F.md5(
            F.concat_ws(":", F.lit("boot0"), F.col("_j").cast("string"), F.col("_id"))
        ).alias("_h"),
    )
    base = hashed.select(
        "group",
        "_v",
        "_j",
        "_h",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_i"),
    ).select(
        "group",
        "_v",
        (F.col("_j") * 8 + F.col("_i")).alias("_b"),
        F.conv(F.substring(F.col("_h"), F.col("_i") * 4 + 1, 4), 16, 10)
        .cast("long")
        .alias("_draw"),
    ).filter(F.col("_b") < 50)
    rep_means = (
        base.filter(F.col("_draw") < F.lit(thr))
        .groupBy("group", "_b")
        .agg(
            (
                F.floor(
                    F.sum(F.col("_v").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1))
                    * 1e9
                    + 0.5
                )
                / 1e9
            ).alias("_m")
        )
    )
    band = rep_means.groupBy("group").agg(
        F.count(F.lit(1)).cast("int").alias("n_replicates"),
        (F.floor(F.expr("percentile(_m, 0.05)") * mult + 0.5) / mult).alias("ci_lo"),
        (F.floor(F.expr("percentile(_m, 0.95)") * mult + 0.5) / mult).alias("ci_hi"),
    )
    point = df.groupBy(F.col(group_col).alias("group")).agg(
        (
            F.floor(
                F.sum(F.col(value_col).cast("decimal(28,12)")).cast("double")
                / F.count(F.col(value_col))
                * mult
                + 0.5
            )
            / mult
        ).alias("mean")
    )
    return point.join(band, "group", "left").select(
        "group", "mean", "ci_lo", "ci_hi", F.coalesce("n_replicates", F.lit(0)).alias("n_replicates")
    )


def transition_matrix(
    events: DataFrame,
) -> DataFrame:
    """X76 event transition matrix (first-order Markov estimate): per-user
    chronological event streams reduced to (from_type -> to_type)
    transition counts and row-normalized probabilities — the behavioral
    fingerprint behind funnel design, next-action models, and bot
    detection (bots have degenerate transition rows).

    100 TB shape: ONE window shuffle keyed by the user (lead over the
    per-user ordered stream — state per task is one user's events), then a
    |types|² aggregate; probabilities from exact integer counts against
    broadcast row totals.  Ordering ties break on the event id (total
    order, engine-deterministic)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        events.select(
            F.col("user_id"),
            F.col("ts"),
            F.col("event_id"),
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("_row_n")
    )
    mult = 1e6
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.floor(F.col("n_transitions").cast("double") / F.col("_row_n") * mult + 0.5)
            / mult
        ).alias("probability"),
    )


def survival_curve(
    events: DataFrame,
    *,
    horizon_hours: float = 24.0,
) -> DataFrame:
    """X77 Kaplan-Meier retention/survival estimate (public standard) over
    user lifetimes: lifetime = hours between a user's first and last event;
    a user is CHURNED (an observed "death") if their last event is more
    than ``horizon_hours`` before the corpus end, else right-CENSORED
    (still alive when observation stopped) — the estimator that handles
    censoring correctly where a naive "avg lifetime" is biased low.

    S(t) = Π_{t_i <= t} (1 − d_i/n_i) over observed churn times t_i with
    d_i churns and n_i at-risk (lifetime >= t_i).

    100 TB shape: ONE per-user aggregate (first/last), then everything
    operates on the |users|-reduced table: churn-time counts reduce to
    |distinct lifetimes| rows and the cumulative product runs as a window
    over THAT tiny table (log-domain: decimal-accumulated Σln terms, one
    exp + round per output row — the per-term lns are engine-identical
    doubles and the sum is order-insensitive, the psi discipline)."""
    mult = 1e6
    ev = events.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    per_user = ev.groupBy(F.col("user_id")).agg(
        F.min("ts").alias("_first"), F.max("ts").alias("_last")
    )
    # corpus end as an EPOCH DOUBLE computed engine-side (collecting a
    # datetime and calling .timestamp() would re-interpret it in the local
    # machine tz — a hostile-session divergence).  The end timestamp and
    # the user total FOLD into the plan as one-row broadcasts (r10): each
    # was a separate action + corpus pass per plan build; the arithmetic
    # is unchanged (same doubles through the same ops, the empty-input
    # 0.0 default via coalesce instead of Python).
    end_agg = ev.agg(
        F.coalesce(F.max(F.col("ts")).cast("double"), F.lit(0.0)).alias("_end")
    )
    life = (
        F.col("_last").cast("double") - F.col("_first").cast("double")
    ) / 3600.0
    churned = (
        F.col("_end") - F.col("_last").cast("double")
    ) / 3600.0 > F.lit(float(horizon_hours))
    users = per_user.crossJoin(F.broadcast(end_agg)).select(
        (F.floor(life * mult + 0.5) / mult).alias("lifetime_h"),
        churned.alias("_churned"),
    )
    tot = users.agg(F.count(F.lit(1)).alias("_n_total"))
    deaths = (
        users.filter(F.col("_churned"))
        .groupBy("lifetime_h")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # at-risk n_i = users with lifetime >= t_i: total minus those below —
    # computed from the lifetime histogram of ALL users (tiny)
    hist = users.groupBy("lifetime_h").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy(F.col("lifetime_h").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    below = hist.select(
        "lifetime_h", (F.sum("c").over(w) - F.col("c")).alias("_below")
    ).crossJoin(F.broadcast(tot))
    curve = (
        deaths.join(below, "lifetime_h")
        .select(
            "lifetime_h",
            "d",
            (F.col("_n_total") - F.col("_below")).cast("long").alias("n_at_risk"),
        )
        .withColumn(
            # d == n_at_risk (the whole risk set churns at t_i) would be
            # ln(0): Spark yields NULL and the window sum would silently
            # SKIP it, inflating survival.  Such a row is necessarily the
            # LAST churn time (nobody outlives it), so guard the ln and
            # emit survival 0.0 directly on that row.
            "_ln",
            F.when(
                F.col("d") < F.col("n_at_risk"),
                F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")),
            ).cast("decimal(28,12)"),
        )
    )
    wcum = Window.orderBy(F.col("lifetime_h").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return curve.select(
        "lifetime_h",
        "d",
        "n_at_risk",
        F.when(F.col("d") >= F.col("n_at_risk"), F.lit(0.0))
        .otherwise(
            F.floor(F.exp(F.sum("_ln").over(wcum).cast("double")) * mult + 0.5) / mult
        )
        .alias("survival"),
    )


def ab_test_zscores(
    events: DataFrame,
    assign: F.Column,
) -> DataFrame:
    """X78 two-sample z-test per group: mean difference between an A and a
    B arm (``assign`` = boolean Column, True → B) scored as
    z = (mean_B − mean_A) / sqrt(var_A/n_A + var_B/n_B) — the first-pass
    significance read of any experiment dashboard (|z| >= 1.96 ≈ p<.05
    two-sided under normality; the p-value itself needs erf, which neither
    engine exposes as a builtin, so the statistic is the contract).

    ONE partial-agg shuffle: per (group, arm) exact integer-free moment
    sums — means/variances from sum and sum-of-squares of doubles
    decimal-accumulated, so the statistic is engine-identical.  Variances
    are SAMPLE variances (the n/(n-1) Bessel correction on the moment
    form), matching the classical Welch denominator — population variance
    would inflate |z| for small arms and make the 1.96 flag
    anti-conservative."""
    mult = 1e6
    dec = "decimal(28,8)"
    m = F.col("value").cast("double")
    s = (
        events.filter(m.isNotNull())
        .groupBy(F.col("event_type").alias("group"))
        .agg(
            F.sum(F.when(~assign, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(assign, 1).otherwise(0)).cast("long").alias("n_b"),
            F.sum(F.when(~assign, m).otherwise(0.0).cast(dec)).alias("_sa"),
            F.sum(F.when(assign, m).otherwise(0.0).cast(dec)).alias("_sb"),
            F.sum(F.when(~assign, m * m).otherwise(0.0).cast(dec)).alias("_ssa"),
            F.sum(F.when(assign, m * m).otherwise(0.0).cast(dec)).alias("_ssb"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("_sa").cast("double") / na
    mb = F.col("_sb").cast("double") / nb
    # The n>1 guards must wrap the variance LEAVES, not just the outer
    # when(): codegen subexpression elimination hoists va/vb (they appear
    # in both the condition and the branch) and evaluates them EAGERLY,
    # so an unguarded 1/(n-1) still raises ANSI DIVIDE_BY_ZERO for an
    # empty or single-row arm even though the And short-circuits.
    va = F.when(na > 1, (F.col("_ssa").cast("double") / na - ma * ma) * na / (na - 1))
    vb = F.when(nb > 1, (F.col("_ssb").cast("double") / nb - mb * mb) * nb / (nb - 1))
    z = (mb - ma) / F.sqrt(va / na + vb / nb)

    def r6(c):
        return F.floor(c * mult + 0.5) / mult

    return s.select(
        "group",
        "n_a",
        "n_b",
        # empty-arm guard: a group with only one arm has no mean for the
        # other (NULL, not an ANSI DIVIDE_BY_ZERO crash — sa/0.0 errors
        # under Spark 4's default ANSI mode)
        F.when(F.col("n_a") > 0, r6(ma)).alias("mean_a"),
        F.when(F.col("n_b") > 0, r6(mb)).alias("mean_b"),
        F.when((F.col("n_a") > 1) & (F.col("n_b") > 1) & (va + vb > 0), r6(z)).alias(
            "z_score"
        ),
        F.coalesce(
            F.when(
                (F.col("n_a") > 1) & (F.col("n_b") > 1) & (va + vb > 0),
                F.abs(z) >= 1.96,
            ),
            F.lit(False),
        ).alias("significant"),
    )


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """X79 CUSUM changepoint scores (Page 1954, public standard): per event
    type, the one-sided cumulative-sum statistic over the dense bucketed
    rate — S_t = max(0, S_{t-1} + (x_t − mean − k)) with k = 0.5·std,
    flagged when S_t crosses 4·std.  CUSUM accumulates small persistent shifts a
    per-bucket z-score (X63) never sees — the level-shift detector next to
    the spike detector.

    The sequential recursion has the classic closed form
    S_t = cum_t − min(0, min_{j<=t} cum_j) with cum the running sum of
    drifts — TWO stacked windows per type (running sum, then running min),
    no iterative loop.  Window frames accumulate in bucket order on both
    engines, so the running doubles are engine-identical.

    100 TB shape: everything after the one (type, bucket) count aggregate
    operates on |types|·|buckets| metadata-sized rows; the windows
    partition by the type."""
    dense = _dense_counts(events, "event_type", "ts", "hour")
    if dense is None:
        # schema-only empty frame, same rationale as burst_detection
        return events.limit(0).select(
            F.col("event_type").alias("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(None).cast("double").alias("cusum"),
            F.lit(False).alias("is_shift"),
        )
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("_nb"),
        F.sum("n_events").cast("long").alias("_s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("_ss"),
    )
    mean = F.col("_s").cast("double") / F.col("_nb")
    var = F.col("_ss").cast("double") / F.col("_nb") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    joined = dense.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "bucket_ts",
        "n_events",
        (F.col("n_events") - mean - F.lit(0.5) * std).alias("_d"),
        (F.lit(4.0) * std).alias("_h"),
    )
    wrun = Window.partitionBy("event_type").orderBy(F.col("bucket_ts").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # running sum staged into a column first: the running MIN then windows
    # over the materialized _cum (nested window expressions don't compose)
    cum = F.sum("_d").over(wrun)
    staged = joined.select(
        "event_type", "bucket_ts", "n_events", "_h", cum.alias("_cum")
    )
    s = F.col("_cum") - F.least(F.lit(0.0), F.min("_cum").over(wrun))
    mult = 1e6
    return staged.select(
        "event_type",
        "bucket_ts",
        "n_events",
        (F.floor(s * mult + 0.5) / mult).alias("cusum"),
        F.coalesce((s > F.col("_h")) & (F.col("_h") > 0), F.lit(False)).alias("is_shift"),
    )


def rolling_rate(
    events: DataFrame,
    *,
    window_buckets: int = 7,
) -> DataFrame:
    """X82 rolling-rate smoother: per-type trailing moving average of the
    dense bucketed event rate plus the ratio of each bucket to its own
    trailing mean — the dashboard line that sits under the X63/X79 anomaly
    flags (the smoother shows the level; the detectors flag departures).

    Shares the dense (type, bucket) axis with the other rate monitors (one
    count aggregate, generated axis); the trailing window is a rows-frame
    per type over metadata-sized rows, its mean from exact integer sums."""
    dense = _dense_counts(events, "event_type", "ts", "hour")
    if dense is None:
        # schema-only empty frame, same rationale as burst_detection
        return events.limit(0).select(
            F.col("event_type").alias("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
            F.lit(0).cast("long").alias("n_events"),
            F.lit(None).cast("double").alias("trailing_avg"),
            F.lit(None).cast("double").alias("ratio_to_avg"),
        )
    w = Window.partitionBy("event_type").orderBy(F.col("bucket_ts").asc()).rowsBetween(
        -(window_buckets - 1), Window.currentRow
    )
    mult = 1e6
    avg = F.sum("n_events").over(w).cast("double") / F.count(F.lit(1)).over(w)
    return dense.select(
        "event_type",
        "bucket_ts",
        "n_events",
        (F.floor(avg * mult + 0.5) / mult).alias("trailing_avg"),
        F.when(
            avg > 0, F.floor(F.col("n_events") / avg * mult + 0.5) / mult
        ).alias("ratio_to_avg"),
    )
