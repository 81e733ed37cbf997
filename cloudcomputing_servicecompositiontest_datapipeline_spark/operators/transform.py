"""TLQ Transform-stage row operators: first-wins dedup and a global ordinal.

Reference: ``java_template/src/main/java/lambda/Transform.java`` dedups rows
by Order ID keeping the *first occurrence in file order*
(Transform.java:49,58-59,292-294).  The decode and derive columns of the
stage live with the ``tlq_*`` queries (``plans/tlq.py``).

First-wins dedup needs an explicit deterministic order
(Spark's ``dropDuplicates`` keeps an arbitrary row — SURVEY.md §7.3): we use a
``row_number`` window over an ordinal column.  At 100 TB the window shuffles once
on the dedup key — same cost as any groupBy on that key; AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_wins_dedup(
    df: DataFrame, key: str | list[str], order: str | Column | list[Column]
) -> DataFrame:
    """D1/D2 first-occurrence dedup: keep the first row per key in ``order``
    (Transform.java:292-294 via HashSet; report_generator.py:209-213 for uuid).

    ``order`` must be a deterministic total order within each key (an ingest
    ordinal, a monotonically_increasing_id taken on a single ordered read, or any
    unique column).  One shuffle on the key; survives scale-out because the
    window is per-key, not global.
    """
    keys = [key] if isinstance(key, str) else list(key)
    orders = order if isinstance(order, list) else [order]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*orders)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def global_ordinal(
    df: DataFrame, order_cols: list[Column | str], *, out_col: str = "pos", partitions: int | None = None
) -> DataFrame:
    """Global 1-based rank over ``order_cols`` WITHOUT the single-partition
    window (`Window.orderBy` with no partition moves every row to one task —
    the classic global-sort anti-pattern).

    The distributed shape: range-partition on the sort key so partition
    *i*'s keys all precede partition *i+1*'s, rank within each partition,
    then add per-partition offsets (a tiny count-per-partition aggregate,
    broadcast back).  Two narrow passes over one shuffle — the same plan
    ``zipWithIndex`` uses, expressed in the DataFrame API.  ``order_cols``
    must be a total order for the result to be deterministic.
    """
    n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = df.repartitionByRange(int(n), *cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranged.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_rn") + F.col("_offset")).cast("int"))
        .drop("_pid", "_rn", "_offset")
    )
