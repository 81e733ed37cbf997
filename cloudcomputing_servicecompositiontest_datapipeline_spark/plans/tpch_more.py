"""Remaining TPC-H-style query shapes (SURVEY.md §2.4 note / §2.5 extensions).

The reference's downstream "Query" stage delegates to an external DBMS
(SURVEY.md §3.2, `LoadData.java:131-160` loads a SQL table and stops), so the
full standard-SQL shape family is part of our engine's declared surface.  The
fixtures lack `partsupp` and commit/receipt dates, so Q9/Q11/Q16/Q20/Q21 are
*adapted*: same plan shape (correlated subqueries, nested IN, multi-EXISTS,
share-of-total HAVING), expressed over the available columns.

Scale notes per query are in the docstrings; the common rules:
dimension sides broadcast, fact-fact joins shuffle on their keys, and all
money aggregates run through the decimal-exact helpers in functions/exact.py
so oracle hashes are partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DEC, dsum, fround, sql_dsum, sql_fround
from ..sources import star
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return star.table(spark, sf_dir, name)


def _rev():
    """Revenue expression (built lazily — Column exprs need a live session)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_SQL_REV = "l_extendedprice * (1 - l_discount)"


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount", "revenue")}, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= timestamp '1997-01-01' AND l_shipdate < timestamp '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan→filter→global agg.  The whole predicate
    pushes to the parquet scan (PushedFilters on shipdate/discount/quantity);
    at 100 TB this is the min-cost plan — no shuffle beyond the 1-row
    partial-agg exchange."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {sql_dsum("volume", "revenue")}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year, {_SQL_REV.replace('l_', 'l.l_')} AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair filter across both ends of
    the order chain.  Nation/supplier/customer broadcast; the only big
    shuffle is orders⋈lineitem on orderkey.  The disjunctive nation predicate
    is applied post-join (it spans both sides)."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(_rev(), "revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_fround(f"cast(sum(CASE WHEN nation = 'NATION_3' THEN cast(volume AS {DEC}) ELSE cast(0 AS {DEC}) END) AS double)"
                       f" / cast(sum(cast(volume AS {DEC})) AS double)", 6)} AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             {_SQL_REV.replace('l_', 'l.l_')} AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — conditional-sum ratio per
    year.  The part filter is the selective one and prunes lineitem early via
    the broadcast-hash join; ratio division is floor-rounded for cross-engine
    hash stability (see functions/exact.py:fround)."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = _rev().cast(DEC)
    target = F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0).cast(DEC))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            fround(
                F.sum(target).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {sql_dsum("amount", "sum_profit")}
    FROM (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table, so supply cost is proxied
    as 10% of retail price — same join tree and profit-expression shape).
    Both engines evaluate the amount expression in identical IEEE double ops,
    so the decimal-exact sum hash-matches."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = _rev() - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= timestamp '1997-01-01'
      AND o.o_orderdate < timestamp '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.  The
    date-window prunes orders at the scan; lineitem's returnflag filter also
    pushes down.  orderkey tiebreak on the LIMIT keeps it hash-stable."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q11_important_parts",
    oracle=f"""
    WITH vals AS (
      SELECT l.l_partkey, sum(cast(l.l_extendedprice * l.l_quantity AS {DEC})) AS v
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_5'
      GROUP BY l.l_partkey)
    SELECT l_partkey, cast(round(v, 2) AS double) AS part_value
    FROM vals
    WHERE cast(v AS double) > (SELECT cast(sum(v) AS double) * 0.001 FROM vals)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: part value from shipped volume instead of
    partsupp stock): share-of-total HAVING — a grouped aggregate filtered
    against a scalar subquery over the same aggregate.  The 1-row threshold
    broadcasts; the grouped side is computed once and reused (no second
    scan)."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    vals = (
        l.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
               l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)).alias("v"))
    )
    total = vals.agg((F.sum("v").cast("double") * F.lit(0.001)).alias("threshold"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("v").cast("double") > F.col("threshold"))
        .select("l_partkey", F.round("v", 2).cast("double").alias("part_value"))
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {sql_dsum(_SQL_REV, "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= timestamp '1997-01-01' AND l_shipdate < timestamp '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: view-over-aggregate + scalar-max equality.  The
    revenue aggregate is computed once; the 1-row max broadcasts back onto
    it.  Ties all surface (same as the SQL), keeping the result
    deterministic."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_rev(), "total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier relationships observed via lineitem
    instead of partsupp): negated filters + NOT-IN exclusion list + distinct
    count per part attribute.  The exclusion side is tiny (complaint
    suppliers) → broadcast anti join, never a shuffle."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    l = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT {sql_fround(f"cast(sum(cast(l.l_extendedprice AS {DEC})) AS double) / 7.0", 2)} AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2'
      AND l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average threshold.  Expressed as
    aggregate-then-rejoin (what Catalyst decorrelates to): per-part avg over
    the full fact, broadcast back, filter, global sum.  l_quantity is
    integral so avg = exact-sum/count is order-invariant across engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    per_part = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(per_part), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            fround(
                F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


@query(
    "q20_excess_shippers",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'large%'
          AND l.l_shipdate >= timestamp '1997-01-01'
          AND l.l_shipdate < timestamp '1998-01-01'
        GROUP BY l.l_suppkey
        HAVING sum(l.l_quantity) > 50)
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: shipped volume instead of partsupp avail
    stock): nested IN over a grouped-HAVING subquery, then a dimension
    filter.  The inner aggregate's qualifying-supplier list is small →
    broadcast semi join."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("large%"))
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    qualifying = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(qualifying), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R' AND n.n_name = 'NATION_2'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: returnflag='R' marks the "late" line instead
    of receipt>commit dates): the sole-blame pattern — EXISTS another
    supplier on the order, NOT EXISTS another *failing* supplier.  Planned as
    a left-semi + left-anti join pair on orderkey with a suppkey-inequality
    residual; both reuse the orderkey shuffle partitioning."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("l2_ok"), F.col("l_suppkey").alias("l2_sk")
    ).alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("l3_ok"), F.col("l_suppkey").alias("l3_sk"))
        .alias("l3")
    )
    base = (
        l1.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l1.l_orderkey") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2_ok"))
            & (F.col("l1.l_suppkey") != F.col("l2_sk")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3_ok"))
            & (F.col("l1.l_suppkey") != F.col("l3_sk")),
            "left_anti",
        )
    )
    return (
        base.join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            F.col("l1.l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH sold AS (
      SELECT l.l_partkey, l.l_suppkey,
             min(l.l_extendedprice / l.l_quantity) AS unit_price
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey, l.l_suppkey),
    best AS (SELECT l_partkey, min(unit_price) AS best_price FROM sold GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_brand, s.s_name, n.n_name,
           {sql_fround("sold.unit_price", 4)} AS unit_price
    FROM part p
    JOIN sold ON p.p_partkey = sold.l_partkey
    JOIN best ON sold.l_partkey = best.l_partkey AND sold.unit_price = best.best_price
    JOIN supplier s ON sold.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size = 15
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: cheapest observed unit price from lineitem
    instead of partsupp supply cost): per-part minimum over a region-filtered
    supplier set, then join-back to recover the winning suppliers' details —
    the aggregate-then-rejoin decorrelation Catalyst applies to Q2's
    correlated subquery.  Both mins are over identical IEEE doubles, so the
    equality join-back is exact on both engines."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    euro_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    sold = (
        l.join(F.broadcast(euro_supp.select("s_suppkey")), l.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    best = sold.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_price").alias("best_price")
    )
    return (
        sold.join(
            best,
            (sold.l_partkey == F.col("bk")) & (sold.unit_price == F.col("best_price")),
        )
        .join(F.broadcast(p), sold.l_partkey == p.p_partkey)
        .join(F.broadcast(euro_supp), sold.l_suppkey == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "n_name",
            fround(F.col("unit_price"), 4).alias("unit_price"),
        )
    )
