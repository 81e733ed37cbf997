"""Skew-handling utilities (SURVEY.md §4.2 / 100 TB posture).

AQE's skew-join splitting handles most runtime skew; these utilities cover
aggregation skew on a hot key (two-phase salted aggregation) and report the
key skew that decides a mitigation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_sum(
    df: DataFrame, key: str, value: str, *, salts: int = 8
) -> DataFrame:
    """Two-phase skewed aggregation: shuffle on (key, salt) first so one hot
    key spreads over ``salts`` reducers, then combine partials.  Exact same
    result as a plain groupBy (count + decimal-exact sum are associative);
    declared-query oracle checks that equivalence."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(value).cast("decimal(28,4)")).alias("_s"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("_n").alias("uses"),
        F.round(F.sum("_s"), 2).cast("double").alias(f"sum_{value}"),
    )


def skew_key_report(df: DataFrame, key: str, *, top_k: int = 10) -> DataFrame:
    """Key-skew diagnostic — what you run BEFORE choosing a mitigation
    (salting, AQE skew-join, broadcast): the ``top_k`` hottest keys with
    their row share and the hot-key/average-key ratio.  One partial-agg
    shuffle on the key (the same cost profile as the join being diagnosed);
    the ordered window runs over the per-key counts only.

    Output: (key_value, n_rows, share, skew_ratio) — share = n/total,
    skew_ratio = n/avg_rows_per_key; a ratio ≫ 1 on the top row is the
    signal that a plain shuffle on this key will straggle.

    NULL keys are folded to the '<null>' sentinel so the top-k tie-break is
    engine-independent (Spark orders NULLs first ascending, most others
    last).  Totals come from a one-row aggregate broadcast back over the
    per-key counts — an empty-partition window here would funnel every
    per-key row through a single task, which for the high-cardinality keys
    this diagnostic targets is itself the straggler it's trying to find.
    top-k is orderBy().limit() (distributed TakeOrdered), not a global
    row_number window."""
    per_key = df.groupBy(
        F.coalesce(F.col(key).cast("string"), F.lit("<null>")).alias("key_value")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = per_key.agg(
        F.sum("n_rows").alias("_total"), F.avg("n_rows").alias("_avg")
    )
    return (
        per_key.crossJoin(F.broadcast(totals))
        .select(
            "key_value",
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (F.col("n_rows") / F.col("_avg")).alias("skew_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), "key_value")
        .limit(top_k)
    )
