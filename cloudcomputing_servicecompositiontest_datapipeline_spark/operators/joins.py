"""Join-shaped derivations from the reference (SURVEY.md §2.4).

J1 ``runtimeOverlap`` (report_generator.py:92-112): for each run *i*, the sum
over all other runs *j* of ``clamp(overlap(j, i), 0) / max(len_i, 1)`` — the
reference computes this as an O(n²) nested Python loop; we express it as a
self-join with a range predicate plus an optional equality predicate
(``overlapFilter``, test/README.md:20) that turns it into an equi+range join
Spark can shuffle by key (without it the plan is a broadcast-nested-loop —
fine for small n, quadratic at scale, which is why the engine requires/strongly
prefers the filter key at 100 TB).

J2 tenancy annotate-back (report_generator.py:231-255): two-pass
dict-build-then-stamp becomes a single window ``count(*) over (partition by
vm)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def runtime_overlap(
    df: DataFrame,
    *,
    id_col: str,
    start_col: str,
    end_col: str,
    overlap_filter: str | None = None,
    demo_max_rows: int | None = None,
) -> DataFrame:
    """J1: per-row overlap score.

    Mirrors report_generator.py:97,100,108-109 exactly: zero-length intervals
    divide by ``max(len, 1)``; a row never overlaps itself.  Per-pair ratios
    are floor-scaled to integers before summing so the aggregate is exact and
    order-insensitive (doubles would make the hash shuffle-dependent).
    Returns ``id_col, overlap_score`` (score = sum of pair ratios scaled by
    10^6, / 10^6).

    Without ``overlap_filter`` the plan is an all-pairs broadcast-nested-loop
    — quadratic, demo-only — so that form now REQUIRES ``demo_max_rows``: a
    hard ``limit()`` on the input so no caller can point it at big data.  The
    unbounded no-key scale path is :func:`binned_runtime_overlap`."""
    if overlap_filter is None:
        if demo_max_rows is None:
            raise ValueError(
                "runtime_overlap without overlap_filter is all-pairs "
                "(BroadcastNestedLoopJoin, quadratic): pass demo_max_rows to "
                "hard-bound the input, or use binned_runtime_overlap for the "
                "unbounded no-key scale path"
            )
        df = df.limit(demo_max_rows)
    a, b = df.alias("a"), df.alias("b")
    cond: Column = (
        (F.col(f"b.{start_col}") < F.col(f"a.{end_col}"))
        & (F.col(f"b.{end_col}") > F.col(f"a.{start_col}"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    )
    if overlap_filter:
        cond = (F.col(f"a.{overlap_filter}") == F.col(f"b.{overlap_filter}")) & cond
    overlap = F.least(F.col(f"b.{end_col}"), F.col(f"a.{end_col}")) - F.greatest(
        F.col(f"b.{start_col}"), F.col(f"a.{start_col}")
    )
    length = F.greatest(F.col(f"a.{end_col}") - F.col(f"a.{start_col}"), F.lit(1))
    # least/greatest SKIP nulls, so a partner-less (null-extended) row would
    # otherwise score a bogus self-overlap — gate on the b side being present.
    term = F.when(
        F.col(f"b.{id_col}").isNull(), F.lit(0).cast("long")
    ).otherwise(F.floor(overlap.cast("double") / length * 1_000_000).cast("long"))
    joined = a.join(b, cond, "left")
    return (
        joined.groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg((F.coalesce(F.sum(term), F.lit(0)) / F.lit(1e6)).alias("overlap_score"))
    )


def tenancy_annotate(df: DataFrame, vm_col: str, type_col: str) -> DataFrame:
    """J2/W3: stamp each row with ``"<type> - <uses>"`` where uses is the
    row count of its vm/container partition (report_generator.py:241-251)."""
    w = Window.partitionBy(vm_col)
    return df.withColumn(
        "tenancy",
        F.concat_ws(" - ", F.col(type_col), F.count(F.lit(1)).over(w).cast("string")),
    )


def asof_backward_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    out_col: str = "asof_ts",
) -> DataFrame:
    """As-of (backward) join: for each left row, the latest ``right_ts`` of
    the same ``key`` with ``right_ts <= left_ts`` (null if none) — the
    point-in-time lookup Spark lacks as a primitive (time-series enrichment:
    "state as of this event").

    Expressed as union + running window instead of an inequality join: both
    sides shuffle ONCE on the key, sort by (ts, side) within the partition,
    and a running ``max(right ts)`` answers every left row in one pass —
    O(n log n) per key group and no quadratic candidate space, the shape that
    survives 100 TB (an inequality join would be a per-key nested loop; a
    naive broadcast of the right side would not fit).  Ties at equal ts sort
    the right row first, preserving <= semantics.
    """
    row_t = F.struct(*[F.col(c) for c in left.columns])
    l = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        row_t.alias("_row"),
    )
    r = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l.schema["_row"].dataType).alias("_row"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_t", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        l.unionByName(r)
        .withColumn(out_col, F.max(F.when(F.col("_side") == 0, F.col("_t"))).over(w))
        .filter(F.col("_side") == 1)
        .select("_row.*", out_col)
    )


def binned_runtime_overlap(
    df: DataFrame,
    *,
    id_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """J1 WITHOUT an equality key, scale-safe: the binned interval self-join.

    ``overlap_global``'s literal all-pairs form is a broadcast-nested-loop —
    quadratic, bounded-input-only.  This operator computes the SAME scores
    with a shuffleable equi-join: time is cut into ``bin_width`` buckets,
    each interval replicates to the buckets it spans (``sequence`` +
    ``explode`` — cost |interval|/W per row), candidate pairs meet only
    inside a shared bucket, and each pair is counted exactly once, in the
    canonical bucket holding ``max(start_a, start_b)`` (both intervals
    provably replicate there).  Choose ``bin_width`` ≳ the typical interval
    so replication stays O(1) per row; partner-less rows keep score 0 via
    the final left join.
    """
    w = F.lit(bin_width)
    binned = df.select(
        F.col(id_col),
        F.col(start_col),
        F.col(end_col),
        F.explode(
            F.sequence(F.floor(F.col(start_col) / w), F.floor(F.col(end_col) / w))
        ).alias("bin"),
    )
    a, b = binned.alias("a"), binned.alias("b")
    cond = (
        (F.col("a.bin") == F.col("b.bin"))
        & (F.col(f"b.{start_col}") < F.col(f"a.{end_col}"))
        & (F.col(f"b.{end_col}") > F.col(f"a.{start_col}"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        # count each pair once: only in the bin containing the later start
        & (
            F.floor(F.greatest(F.col(f"a.{start_col}"), F.col(f"b.{start_col}")) / w)
            == F.col("a.bin")
        )
    )
    overlap = F.least(F.col(f"b.{end_col}"), F.col(f"a.{end_col}")) - F.greatest(
        F.col(f"b.{start_col}"), F.col(f"a.{start_col}")
    )
    length = F.greatest(F.col(f"a.{end_col}") - F.col(f"a.{start_col}"), F.lit(1))
    term = F.floor(overlap.cast("double") / length * 1_000_000).cast("long")
    scores = (
        a.join(b, cond, "inner")
        .groupBy(F.col(f"a.{id_col}").alias(id_col))
        .agg(F.sum(term).alias("scaled"))
    )
    return (
        df.select(id_col)
        .join(scores, id_col, "left")
        .select(
            id_col,
            (F.coalesce(F.col("scaled"), F.lit(0)) / F.lit(1e6)).alias(
                "overlap_score"
            ),
        )
    )
