"""TLQ (Transform-Load-Query) declared queries, transplanted onto the driver's
star schema per FIXTURES.md §F1.

Reference semantics: ``Transform.java`` performs dedup (D1), priority decode
(P3), gross-margin ratio (P1), date-diff (P2), invalid-date substitution (P4);
``LoadData.java:137-152`` the typed cast projection (P5).  The fixtures carry
TPC-H-style priorities (``1-URGENT``..``5-LOW``) so the decode table maps those
codes, mirroring the L/M/H/C switch at Transform.java:272-287.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import sql_davg
from ..operators.transform import first_wins_dedup
from ..sources import star
from .registry import query

#: P3 decode table for the fixture's priority domain (Transform.java:65-79 analogue).
FIXTURE_PRIORITY_DECODE = {
    "1-URGENT": "Urgent",
    "2-HIGH": "High",
    "3-MEDIUM": "Medium",
    "4-NOT SPECIFIED": "Not Specified",
    "5-LOW": "Low",
}

_DECODE_SQL_CASE = (
    "CASE o_orderpriority "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in FIXTURE_PRIORITY_DECODE.items())
    + " ELSE o_orderpriority END"
)


def _decode_priority_col() -> F.Column:
    out = None
    for code, label in FIXTURE_PRIORITY_DECODE.items():
        cond = F.col("o_orderpriority") == code
        out = F.when(cond, label) if out is None else out.when(cond, label)
    return out.otherwise(F.col("o_orderpriority"))


@query(
    "tlq_transform",
    oracle=f"""
    WITH dedup AS (
      SELECT *, row_number() OVER (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
      FROM lineitem
    )
    SELECT d.l_orderkey AS order_id,
           d.l_linenumber AS line_number,
           {_DECODE_SQL_CASE} AS order_priority,
           round(d.l_extendedprice * (1 - d.l_discount) / d.l_extendedprice, 6) AS gross_margin,
           datediff('day', o.o_orderdate, d.l_shipdate) AS order_processing_time
    FROM dedup d JOIN orders o ON d.l_orderkey = o.o_orderkey
    WHERE rn = 1
    """,
)
def tlq_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full Transform stage (D1+P1+P2+P3) on lineitem⋈orders.

    First-wins dedup keeps the first line per order in linenumber order
    (Transform.java:292-294 HashSet first-occurrence semantics made
    deterministic per SURVEY.md §7.3); the orders side broadcasts or
    sort-merge-joins on the same key the dedup window shuffled on, so Catalyst
    reuses the partitioning (one shuffle of lineitem total at scale).
    """
    li = star.table(spark, sf_dir, "lineitem")
    orders = star.table(spark, sf_dir, "orders")
    # (linenumber, partkey, suppkey, extendedprice) is a total order within an
    # order — the fixture plants duplicate (orderkey, linenumber) pairs
    # (FIXTURES.md §F5) so linenumber alone would be a nondeterministic tiebreak.
    deduped = first_wins_dedup(
        li,
        "l_orderkey",
        [F.col("l_linenumber"), F.col("l_partkey"), F.col("l_suppkey"), F.col("l_extendedprice")],
    )
    return (
        deduped.join(orders, deduped.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_number"),
            _decode_priority_col().alias("order_priority"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) / F.col("l_extendedprice"), 6
            ).alias("gross_margin"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("order_processing_time"),
        )
    )


@query(
    "tlq_dedup_first_wins",
    oracle="""
    SELECT o_custkey AS cust, o_orderkey AS first_order, o_totalprice AS first_price
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) rn FROM orders)
    WHERE rn = 1
    """,
)
def tlq_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 in isolation: first order per customer in orderkey order
    (Transform.java:49,58-59 HashSet first-wins, deterministic tiebreak)."""
    orders = star.table(spark, sf_dir, "orders")
    return first_wins_dedup(orders, "o_custkey", F.col("o_orderkey")).select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("first_order"),
        F.col("o_totalprice").alias("first_price"),
    )


@query(
    "tlq_decode_priority",
    oracle=f"""
    SELECT o_orderpriority AS code, {_DECODE_SQL_CASE.replace('o_orderpriority', 'o_orderpriority')} AS decoded,
           count(*) AS uses
    FROM orders GROUP BY 1, 2
    """,
)
def tlq_decode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 categorical decode (Transform.java:272-287) + uses count."""
    orders = star.table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("o_orderpriority").alias("code"), _decode_priority_col().alias("decoded")
        )
        .groupBy("code", "decoded")
        .agg(F.count(F.lit(1)).alias("uses"))
    )


@query(
    "tlq_invalid_date",
    oracle="""
    SELECT o_orderkey AS order_id,
           coalesce(cast(cast(try_strptime(
             CASE WHEN o_orderkey % 100 = 0 THEN '13/45/2020'
                  ELSE strftime(o_orderdate, '%m/%d/%Y') END, '%m/%d/%Y') AS date) AS varchar),
             'INVALID DATE') AS parsed_date
    FROM orders
    """,
)
def tlq_invalid_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 invalid-value substitution: unparsable MM/dd/yyyy date becomes the
    literal "INVALID DATE" (Transform.java:106-108).  One in every 100 keys is
    given a deliberately bogus date string to exercise the failure path."""
    orders = star.table(spark, sf_dir, "orders")
    datestr = F.when(F.col("o_orderkey") % 100 == 0, F.lit("13/45/2020")).otherwise(
        F.date_format(F.col("o_orderdate"), "MM/dd/yyyy")
    )
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.coalesce(
            F.try_to_date(datestr, "MM/dd/yyyy").cast("string"),
            F.lit("INVALID DATE"),
        ).alias("parsed_date"),
    )


@query(
    "tlq_typed_cast",
    oracle="""
    SELECT l_orderkey AS order_id,
           l_linenumber AS line_number,
           cast(l_quantity AS integer) AS units_sold,
           cast(cast(l_extendedprice AS decimal(18,2)) AS varchar) AS unit_price_dec,
           cast(cast(l_tax AS varchar) AS double) AS tax_roundtrip
    FROM lineitem
    """,
)
def tlq_typed_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 typed cast projection (LoadData.java:137-152): string→int/double/
    decimal casts, including a string round-trip like the reference's
    stringly-typed CSV→SQL load."""
    li = star.table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_quantity").cast("int").alias("units_sold"),
        # decimal rendered as string: engines agree on '123.40' text, but
        # pandas-side Decimal-vs-float64 representations would not hash alike
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string").alias("unit_price_dec"),
        F.col("l_tax").cast("string").cast("double").alias("tax_roundtrip"),
    )


@query(
    "tlq_processing_time_stats",
    oracle=f"""
    SELECT {_DECODE_SQL_CASE} AS order_priority,
           {sql_davg("datediff('day', o.o_orderdate, l.l_shipdate)", "avg_processing_days")},
           min(datediff('day', o.o_orderdate, l.l_shipdate)) AS min_days,
           max(datediff('day', o.o_orderdate, l.l_shipdate)) AS max_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def tlq_processing_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 date-diff derive aggregated per decoded priority — the TLQ "Query"
    stage the reference delegates to an external DBMS (SURVEY.md §3.2)."""
    from ..functions.exact import davg

    li = star.table(spark, sf_dir, "lineitem")
    orders = star.table(spark, sf_dir, "orders")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(_decode_priority_col().alias("order_priority"), days.alias("days"))
        .groupBy("order_priority")
        .agg(
            davg("days", "avg_processing_days"),
            F.min("days").alias("min_days"),
            F.max("days").alias("max_days"),
        )
    )
