"""Bloom-prefiltered anti-join (operators/bloom.py): exactness vs the plain
anti-join, FPR sanity, and the zero-shuffle / zero-Python plan guarantee
on the definite-fresh branch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import bloom as bl


@pytest.fixture(scope="module")
def keysets(spark):
    corpus = spark.range(0, 3000).select(F.concat(F.lit("k"), F.col("id")).alias("key"))
    incoming = spark.range(2000, 8000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"), F.col("id")
    )
    return corpus, incoming


def test_prefiltered_anti_join_exact(keysets):
    corpus, incoming = keysets
    expected = sorted(r["id"] for r in incoming.join(corpus, "key", "left_anti").collect())
    got = sorted(r["id"] for r in bl.prefiltered_anti_join(incoming, corpus, "key").collect())
    assert got == expected  # exact anti-join semantics: no FNs, FPs re-verified


def test_no_false_negatives_and_low_fpr(keysets):
    corpus, incoming = keysets
    words = bl.bloom_build(corpus, F.col("key"))
    maybe = incoming.filter(bl.might_contain(words, F.col("key"))).count()
    true_dups = 1000  # ids 2000..2999 overlap
    assert maybe >= true_dups  # every true member flagged (no false negatives)
    # 2^17 bits / 3000 keys ≈ 44 bits/key → FPR should be tiny
    assert (maybe - true_dups) / 5000 < 0.01


def test_fresh_branch_is_map_only(keysets):
    corpus, incoming = keysets
    words = bl.bloom_build(corpus, F.col("key"))
    plan = (
        incoming.filter(~bl.might_contain(words, F.col("key")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # definite-fresh rows never shuffle
    assert "Python" not in plan  # literal probe stays in codegen


def test_empty_corpus_passes_everything(spark):
    corpus = spark.range(0).select(F.col("id").cast("string").alias("key"))
    incoming = spark.range(50).select(F.col("id").cast("string").alias("key"))
    out = bl.prefiltered_anti_join(incoming, corpus, "key")
    assert out.count() == 50
