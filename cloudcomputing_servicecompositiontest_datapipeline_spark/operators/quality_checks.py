"""Declarative data-quality constraint checking (Deequ-style, single pass).

A training-data pipeline gates every ingest batch on constraints — key
uniqueness, completeness, value domains, length floors — before the batch
may join the corpus.  The reference validates records one rule at a time
inside the transform loop (``Transform.java:229-260`` null/format guards);
this operator lifts validation to a declarative table-level report.

Scale design: ALL checks compile into ONE aggregate pass over the table
(map-side partial + final), so a 100 TB batch is scanned once regardless of
how many constraints are declared.  The per-check rows come from exploding
the single aggregate row — driver never touches data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def constraint_report(
    df: DataFrame,
    *,
    unique: str | None = None,
    not_null: list[str] | None = None,
    row_checks: dict[str, Column] | None = None,
) -> DataFrame:
    """One row per declared check: ``(check_name, violations, passed)``.

    ``unique``: column whose values must be distinct (violations = extra
    copies).  ``not_null``: completeness per column.  ``row_checks``: named
    boolean columns where TRUE marks a VIOLATING row.
    """
    aggs: list[Column] = []
    names: list[str] = []

    if unique is not None:
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(unique)).cast("long").alias(f"unique_{unique}")
        )
        names.append(f"unique_{unique}")
    # sum() over an empty table is NULL — coalesce so an empty batch reads
    # as zero violations (all checks pass), not as unknown
    for c in not_null or []:
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .cast("long")
            .alias(f"not_null_{c}")
        )
        names.append(f"not_null_{c}")
    for nm, cond in (row_checks or {}).items():
        aggs.append(
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast("long").alias(nm)
        )
        names.append(nm)
    if not aggs:
        raise ValueError("no checks declared")

    one = df.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(nm).alias("check_name"),
                F.col(nm).cast("long").alias("violations"),
            )
            for nm in names
        ]
    )
    return (
        one.select(F.explode(packed).alias("c"))
        .select(
            "c.check_name",
            "c.violations",
            (F.col("c.violations") == 0).alias("passed"),
        )
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Column-profile report (the ANALYZE TABLE / Deequ-profile analogue a
    curation pipeline runs before declaring constraints): one output row per
    profiled column — ``(col_name, n_rows, n_null, n_distinct, min_value,
    max_value)``, min/max rendered as strings so heterogeneous column types
    share one report schema.

    Scale design: every statistic for every column folds into ONE aggregate
    over ONE scan.  Distinct counts are exact ``count(distinct c)`` — Spark
    plans the multi-distinct via a single Expand (still one scan, but the
    expand multiplies rows by the column count).

    Dirty-data stance (deliberate, opposite of the monitoring operators'
    finite guards): a NaN in a double column SURFACES as ``max_value =
    'NaN'`` — both engines order NaN above every double, so the profile is
    oracle-consistent, and a profiler's job is to SHOW the corruption that
    the downstream psi/robust/sketch operators will then exclude.
    """
    if not cols:
        raise ValueError("no columns to profile")
    aggs: list[Column] = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs += [
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0))
            .cast("long")
            .alias(f"__null_{c}"),
            F.countDistinct(c).cast("long").alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    packed = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(packed).alias("p")).select("p.*")


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    col: str,
    *,
    bins: int = 10,
) -> DataFrame:
    """X38 distribution-drift report between two corpus snapshots for one
    numeric column: equi-width bin shares over the COMBINED min/max range,
    Population Stability Index  PSI = sum (p_new - p_old) * ln(p_new/p_old)
    and Jensen-Shannon divergence per bin, plus the totals row — the
    monitor a data pipeline runs when a new crawl/ingest batch arrives
    (PSI > 0.2 is the classic "investigate" threshold; both metrics are
    public standards).

    Scale shape: ONE tiny min/max aggregate over the union (2 rows ->
    broadcast), then each snapshot reduces map-side to ``bins`` counts --
    the shuffle carries bins rows per partition, never data rows.  Shares
    are smoothed by 1e-6 so empty bins stay finite; all math is double with
    floor-rounding, hence oracle-checkable.

    NULL **and non-finite (NaN/±Inf)** values of ``col`` are excluded from
    the bin shares (they have no position on the numeric axis — and worse,
    Spark orders NaN above every double, so ONE NaN row reaching the
    min/max pass makes the bin width NaN on BOTH snapshots and the monitor
    silently reads psi=0.0 forever) but are SURFACED in ``n_null_old`` /
    ``n_null_new`` so a batch that suddenly arrives half-missing cannot
    drift silently.  Two empty snapshots yield the zero row (counts 0,
    psi/js 0.0), not a crash."""
    from pyspark.sql import functions as F

    from ..functions.guards import finite_d, nonfinite_d

    c = F.col(col).cast("double")
    both = old.select(c.alias("_v")).unionByName(new.select(c.alias("_v")))
    # The min/max stats FOLD into the plan (1-row aggregate broadcast onto
    # each binning pass — the _exact_quantiles_reduced shape): the former
    # .first() was a whole extra job + corpus pass per execution (r10),
    # and the two broadcast subtrees are canonically identical so exchange
    # reuse computes the stats pass once.  Arithmetic is unchanged bit for
    # bit: the same doubles flow through the same (v−mn)/width floor, the
    # all-NULL/empty default (mn=mx=0.0 → width 1.0) and the zero-width
    # fallback live in a CASE instead of Python.
    # FINITE values only: an unfiltered max absorbs any NaN (Spark sorts it
    # above every double) and a single ±Inf makes the width infinite.
    stats = (
        both.filter(finite_d(F.col("_v")))
        .agg(
            F.coalesce(F.min("_v"), F.lit(0.0)).alias("_mn"),
            F.coalesce(F.max("_v"), F.lit(0.0)).alias("_mx"),
        )
        .select(
            "_mn",
            F.when(
                (F.col("_mx") - F.col("_mn")) / F.lit(float(bins)) == 0.0, F.lit(1.0)
            )
            .otherwise((F.col("_mx") - F.col("_mn")) / F.lit(float(bins)))
            .alias("_w"),
        )
    )

    def binned(df: DataFrame, label: str) -> DataFrame:
        # NULLs AND non-finite values land in sentinel bin -1 (counted in
        # the SAME single pass, split out below); the all_bins join keeps
        # only real bins
        return (
            df.select(c.alias("_v"))
            .crossJoin(F.broadcast(stats))
            .select(
                F.when(nonfinite_d(F.col("_v")), F.lit(-1))
                .otherwise(
                    F.least(
                        F.lit(bins - 1),
                        F.floor((F.col("_v") - F.col("_mn")) / F.col("_w")).cast("int"),
                    )
                )
                .alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(f"n_{label}"))
        )

    o = binned(old, "old")
    n = binned(new, "new")
    # one-row null-count frames off the already-reduced bin tables
    nulls_o = o.filter(F.col("bin") == -1).agg(
        F.coalesce(F.sum("n_old"), F.lit(0)).cast("long").alias("n_null_old")
    )
    nulls_n = n.filter(F.col("bin") == -1).agg(
        F.coalesce(F.sum("n_new"), F.lit(0)).cast("long").alias("n_null_new")
    )
    all_bins = old.sparkSession.range(bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        all_bins.join(o, "bin", "left")
        .join(n, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    tot = joined.agg(
        F.sum("n_old").alias("_to"), F.sum("n_new").alias("_tn")
    )
    mult = 1e6

    def r6(x):
        return F.floor(x * mult + 0.5) / mult

    # empty-snapshot guard: a zero total means every share is 0 (then
    # smoothed by 1e-6), not an ANSI division error
    p = F.when(F.col("_to") > 0, F.col("n_old") / F.col("_to")).otherwise(0.0) + 1e-6
    q = F.when(F.col("_tn") > 0, F.col("n_new") / F.col("_tn")).otherwise(0.0) + 1e-6
    m = (p + q) / 2
    per_bin = (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_old",
            "n_new",
            ((q - p) * F.log(q / p)).alias("_psi"),
            (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("_js"),
        )
    )
    # decimal-accumulate the per-bin terms so the sum is order-insensitive
    # (terms themselves are engine-identical doubles; only the fold order
    # would otherwise differ between engines/partitionings)
    dec = "decimal(28,12)"
    return (
        per_bin.agg(
            F.sum("n_old").cast("long").alias("n_old"),
            F.sum("n_new").cast("long").alias("n_new"),
            r6(F.sum(F.col("_psi").cast(dec)).cast("double")).alias("psi"),
            r6(F.sum(F.col("_js").cast(dec)).cast("double")).alias("js_divergence"),
        )
        .crossJoin(F.broadcast(nulls_o))
        .crossJoin(F.broadcast(nulls_n))
    )


def categorical_drift(old: DataFrame, new: DataFrame, col: str) -> DataFrame:
    """X38 categorical twin: per-value share drift with PSI attribution per
    value (which category moved) -- one count aggregate per snapshot on the
    value, full-outer joined; no binning needed."""
    from pyspark.sql import functions as F

    o = old.groupBy(F.col(col).alias("value")).agg(F.count(F.lit(1)).alias("n_old"))
    n = new.groupBy(F.col(col).alias("value")).agg(F.count(F.lit(1)).alias("n_new"))
    joined = o.join(n, "value", "full_outer").select(
        "value",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    tot = joined.agg(F.sum("n_old").alias("_to"), F.sum("n_new").alias("_tn"))
    mult = 1e6
    # empty-snapshot guard: a zero total means every share is 0 (then
    # smoothed by 1e-6), not an ANSI division error
    p = F.when(F.col("_to") > 0, F.col("n_old") / F.col("_to")).otherwise(0.0) + 1e-6
    q = F.when(F.col("_tn") > 0, F.col("n_new") / F.col("_tn")).otherwise(0.0) + 1e-6
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "value",
            "n_old",
            "n_new",
            (F.floor((q - p) * F.log(q / p) * mult + 0.5) / mult).alias("psi_term"),
        )
    )
