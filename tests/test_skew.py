"""Skew-utility tests: salted rewrites must be result-identical to plain ops."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.skew import (
    salted_count_sum,
)


def _skewed_df(spark):
    # 90% of rows share one hot key
    rows = [("hot" if i % 10 else f"cold{i}", float(i % 7)) for i in range(1000)]
    return spark.createDataFrame(rows, ["k", "v"])


def test_salted_agg_matches_plain_groupby(spark):
    df = _skewed_df(spark)
    plain = {
        r.k: (r.uses, r.sum_v)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("uses"),
            F.round(F.sum(F.col("v").cast("decimal(28,4)")), 2).cast("double").alias("sum_v"),
        )
        .collect()
    }
    salted = {r.k: (r.uses, r.sum_v) for r in salted_count_sum(df, "k", "v").collect()}
    assert salted == plain
