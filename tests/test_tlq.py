"""TLQ transform-stage unit tests (reference: Transform.java semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.operators.transform import (
    first_wins_dedup,
)


def test_first_wins_dedup_keeps_first_in_order(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (2, 8, "d")], ["k", "ord", "v"]
    )
    out = {r.k: r.v for r in first_wins_dedup(df, "k", F.col("ord")).collect()}
    assert out == {1: "b", 2: "c"}


def test_entry_smoke(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() > 0
    assert "gross_margin" in df.columns
