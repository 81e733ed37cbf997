"""Native star-schema declared queries (SURVEY.md §2.4 note, §2.5 extensions,
§2.7-§2.9): the standard SQL surface a user of the reference's downstream
"Query" stage (SURVEY.md §3.2 — it delegates to an external DBMS) would run,
expressed Spark-first.  Dimension joins broadcast; fact aggregations are
decimal-exact for hash stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DEC, davg, dsum, dsum_exact, sql_davg, sql_dsum
from ..sources import star
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return star.table(spark, sf_dir, name)


def _mk_ratio_oracle() -> str:
    """DuckDB twin of q14's conditional-sum ratio (decimal sums, floor-round)."""
    rev = f"cast(l.l_extendedprice * (1 - l.l_discount) AS {DEC})"
    promo = f"CASE WHEN starts_with(p.p_type, 'PROMO') THEN {rev} ELSE cast(0 AS {DEC}) END"
    return (
        f"floor(cast(sum({promo}) AS double) / cast(sum({rev}) AS double)"
        f" * 100 * 10000 + 0.5) / 10000 AS promo_revenue_pct"
    )


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_quantity", "sum_qty")},
           {sql_dsum("l_extendedprice", "sum_base_price")},
           {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           cast(round(sum(cast(l_extendedprice AS decimal(18,2))
                          * (1 - cast(l_discount AS decimal(4,2)))
                          * (1 + cast(l_tax AS decimal(4,2)))), 2) AS double) AS sum_charge,
           {sql_davg("l_quantity", "avg_qty")},
           {sql_davg("l_extendedprice", "avg_price")},
           {sql_davg("l_discount", "avg_disc", 4)},
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the canonical scan→filter→hash-agg
    plan.  Predicate pushes to parquet; partial aggregation runs map-side so
    the shuffle carries one row per (flag,status) per partition at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # charge has 6 true fractional digits → build it in exact decimal
    # arithmetic (decimal-cast inputs) instead of casting the double product.
    charge_dec = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
    )
    # Fixture parquet has ~3 row groups → 3 scan tasks; fan out post-filter so
    # the 9-aggregate decimal math uses every core.  No-op at real scale,
    # where the fact already has ≥ cores partitions (SCALING.md).
    filtered = star.ensure_parallelism(
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    )
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum_exact(charge_dec, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", 4),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey AS order_id,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < timestamp '1998-01-01'
      AND l.l_shipdate > timestamp '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, order_id
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dim filter → fact join → agg → top-k.
    Customer (dim) broadcasts; order-by carries a deterministic orderkey
    tiebreak so LIMIT is hash-stable."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_orderkey").alias("order_id"), "o_orderdate", "o_orderpriority"
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), "order_id")
        .limit(10)
    )


@query(
    "q5_local_supplier",
    oracle=f"""
    SELECT n.n_name,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= timestamp '1996-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join through the full dimension chain.  All four
    dims broadcast; only fact-fact (orders⋈lineitem) shuffles at scale, and
    Catalyst/AQE reorders the join tree."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), (c.c_custkey == o.o_custkey))
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native left outer join with join-side predicate (count preserves
    zero-match customers)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi_anti",
    oracle="""
    SELECT 'with_urgent' AS side, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'without_urgent' AS side, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native left-semi and left-anti joins (EXISTS / NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_urgent").alias("side"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("without_urgent").alias("side"), "n")
    )
    return semi.unionByName(anti)


@query(
    "join_full_outer",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1),
         ss AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT coalesce(cc.nk, ss.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native full outer join over pre-aggregated sides."""
    c = _t(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = _t(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return c.join(s, c.nk == s.nk, "full").select(
        F.coalesce(c.nk, s.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "setop_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 native intersect (distinct semantics)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .intersect(ev.filter(F.col("event_type") == "purchase").select("user_id"))
    )


@query(
    "setop_except",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 native except (distinct semantics)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "view")
        .select("user_id")
        .subtract(ev.filter(F.col("event_type") == "error").select("user_id"))
    )


@query(
    "rollup_region_nation",
    oracle=f"""
    SELECT r.r_name, n.n_name, count(*) AS n_cust, {sql_davg("c.c_acctbal", "avg_bal")}
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ROLLUP over the dimension hierarchy (SURVEY.md §2.5 ext)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_cust"), davg("c_acctbal", "avg_bal"))
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native CUBE (SURVEY.md §2.5 ext)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


@query(
    "having_filter",
    oracle=f"""
    SELECT o_custkey, count(*) AS n_orders, {sql_dsum("o_totalprice", "total_spent")}
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native HAVING (post-aggregation filter)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_spent"))
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "distinct_multi",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native multi-argument distinct count (SURVEY.md §2.5 ext; the
    at-scale variant is approx_count_distinct, exercised rows-only)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
    )


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 global top-k: Spark plans TakeOrderedAndProject (no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q4_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= timestamp '1997-01-01'
      AND o.o_orderdate < timestamp '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS against the fact table → left-semi join."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q12_shipmode_case_agg",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= timestamp '1997-01-01' AND l.l_shipdate < timestamp '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_shipmode_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation over a fact join."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q14_promo_ratio",
    oracle=f"""
    SELECT {_mk_ratio_oracle()}
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= timestamp '1997-09-01' AND l.l_shipdate < timestamp '1997-10-01'
    """,
)
def q14_promo_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio (promo revenue share), decimal
    sums + floor-rounded double division for hash stability."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0).cast(DEC))
    num = F.sum(promo).cast("double")
    den = F.sum(rev).cast("double")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg((F.floor(num / den * 100 * 10000 + 0.5) / 10000).alias("promo_revenue_pct"))
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}, count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity >= 25)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates across both join sides."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 25))
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q22_balance_anti",
    oracle=f"""
    WITH avg_bal AS (SELECT {sql_davg("c_acctbal", "ab")} FROM customer WHERE c_acctbal > 0)
    SELECT c.c_nationkey, count(*) AS numcust, {sql_dsum("c.c_acctbal", "totacctbal")}
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    GROUP BY c.c_nationkey
    """,
)
def q22_balance_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + anti join (customers with
    above-average balance and no pending orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    ab = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg("c_acctbal", "ab"))
    )
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
    )


@query(
    "window_distribution_funcs",
    oracle="""
    SELECT event_id,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(event_id) OVER w AS first_id,
           last_value(event_id) OVER (PARTITION BY event_type ORDER BY value, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native distribution window functions: percent_rank/cume_dist (ratios
    of ints — identical doubles on both engines) + first/last value frames."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("event_id").over(w).alias("first_id"),
        F.last("event_id").over(wfull).alias("last_id"),
    )


@query(
    "json_struct_roundtrip",
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') AS integer) + 1 AS k_plus,
           json_extract_string('{"nested": {"deep": "v"}}', '$.nested.deep') AS deep_val
    FROM events
    """,
)
def json_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 JSON depth: from_json into a typed struct then field access, and
    a nested-path extraction (experiment_caller.py:84 record parsing)."""
    ev = _t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select(
        "event_id",
        (parsed.getField("k") + 1).alias("k_plus"),
        F.get_json_object(F.lit('{"nested": {"deep": "v"}}'), "$.nested.deep").alias(
            "deep_val"
        ),
    )


@query(
    "explode_posexplode",
    oracle="""
    SELECT doc_id,
           generate_subscripts(string_split(text, ' ')[1:4], 1) - 1 AS pos,
           unnest(string_split(text, ' ')[1:4]) AS token
    FROM documents
    """,
)
def explode_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 array fan-out: posexplode (explode with position) — payload
    fan-out shape (U3 / experiment_caller payload cycling)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.slice(F.split(F.col("text"), " "), 1, 4)
    return d.select("doc_id", F.posexplode(toks).alias("pos", "token"))


@query(
    "subquery_cheapest_part",
    oracle="""
    SELECT p.p_brand, p.p_partkey, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (
      SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)
    """,
)
def subquery_cheapest_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native correlated scalar subquery (TPC-H Q2 shape): cheapest part per
    brand, join-back form.  Catalyst decorrelates to an aggregate + join."""
    p = _t(spark, sf_dir, "part")
    p.createOrReplaceTempView("part_sq")
    return spark.sql(
        """
        SELECT p.p_brand, p.p_partkey, p.p_retailprice
        FROM part_sq p
        WHERE p.p_retailprice = (
          SELECT min(p2.p_retailprice) FROM part_sq p2 WHERE p2.p_brand = p.p_brand)
        """
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — per-customer order counts,
    then the distribution of those counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT o.o_orderkey, o.o_totalprice, {sql_dsum("l.l_quantity", "total_qty")}
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING — Catalyst plans a
    left-semi join against the aggregated subquery."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "bk"), o.o_orderkey == F.col("bk"), "left_semi")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity", "total_qty"))
    )


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           trim(p_name) AS name_trim,
           substring(p_type, 1, 5) AS type_prefix,
           concat_ws(' - Model ', p_brand, cast(p_size AS varchar)) AS brand_model,
           length(p_name) AS name_len,
           contains(p_type, 'BRUSHED') AS is_brushed,
           starts_with(p_name, 'a') AS starts_a,
           regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
           replace(p_type, ' ', '_') AS type_snake,
           printf('%s/%d', p_brand, p_size) AS brand_size_fmt
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 string surface: upper (Request.java:20-22), trim (Inspector.py:111),
    substring/regexp_extract (Inspector.py:311-312), concat_ws
    (experiment_caller.py:96), contains/startswith (Inspector.py:163),
    replace (experiment_caller.py:116-117), format_string (HelloMain.java:36-37)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.trim("p_name").alias("name_trim"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(" - Model ", F.col("p_brand"), F.col("p_size").cast("string")).alias(
            "brand_model"
        ),
        F.length("p_name").alias("name_len"),
        F.col("p_type").contains("BRUSHED").alias("is_brushed"),
        F.col("p_name").startswith("a").alias("starts_a"),
        F.regexp_extract("p_brand", "#([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.format_string("%s/%d", F.col("p_brand"), F.col("p_size")).alias(
            "brand_size_fmt"
        ),
    )


@query(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS yr, month(o_orderdate) AS mo, day(o_orderdate) AS dy,
           quarter(o_orderdate) AS qtr,
           cast(cast(date_trunc('month', o_orderdate) AS date) AS varchar) AS month_start,
           datediff('day', timestamp '1995-01-01', o_orderdate) AS days_since_epoch_start,
           isodow(o_orderdate) AS iso_weekday,
           cast(cast(last_day(cast(o_orderdate AS date)) AS date) AS varchar) AS month_end,
           strftime(o_orderdate, '%m/%d/%Y') AS us_date
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 date surface: MM/dd/yyyy formatting (Transform.java:97), datediff
    (Transform.java:104), truncation/parts (partestcpu.sh:350-352 uptime
    arithmetic analogue).  Spark weekday() is Mon=0 → +1 matches DuckDB
    isodow (Mon=1)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("month_start"),
        F.datediff("o_orderdate", F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_epoch_start"
        ),
        (F.weekday("o_orderdate") + 1).alias("iso_weekday"),
        F.last_day("o_orderdate").cast("string").alias("month_end"),
        F.date_format("o_orderdate", "MM/dd/yyyy").alias("us_date"),
    )


@query(
    "scalar_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey,
           abs(l_discount - l_tax) AS abs_diff,
           round(l_quantity * l_quantity, 2) AS qty_sq,
           l_partkey % 7 AS pk_mod,
           greatest(l_discount, l_tax) AS max_rate,
           least(l_discount, l_tax) AS min_rate,
           cast(floor(l_extendedprice) AS BIGINT) AS price_floor,
           cast(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
           round(sqrt(l_quantity), 6) AS qty_sqrt,
           cast(sign(l_discount - 0.05) AS INTEGER) AS disc_sign
    FROM lineitem
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 math surface: divide/multiply (P1/A10), round (P18), max/clamp
    (report_generator.py:97), squared deviation (partestcpu.sh:187-188),
    modulo (experiment_caller.py:105).  sqrt is IEEE correctly-rounded so it
    hash-matches; transcendentals (exp/log) are excluded from oracle checks
    because libm results differ across engines."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.abs(F.col("l_discount") - F.col("l_tax")).alias("abs_diff"),
        F.round(F.col("l_quantity") * F.col("l_quantity"), 2).alias("qty_sq"),
        (F.col("l_partkey") % 7).alias("pk_mod"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], '|') AS first_tokens,
           array_to_string(string_split(text, ' ')[1:3], '|') AS head_joined,
           list_contains(string_split(text, ' '), 'spark') AS has_spark
    FROM documents
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 array surface: split (Transform.java:122-128 delimiter scan),
    size/len, sorted distinct (showAsList), slice, join, membership."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(F.slice(F.sort_array(F.array_distinct(toks)), 1, 5), "|").alias(
            "first_tokens"
        ),
        F.array_join(F.slice(toks, 1, 3), "|").alias("head_joined"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )


@query(
    "scalar_json_funcs",
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') AS integer) AS k_val,
           json_extract_string(props, '$.missing') AS missing_val
    FROM events
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 JSON surface: parse response text to record fields
    (experiment_caller.py:84 ast.literal_eval → get_json_object)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
    )


@query(
    "scalar_variant_ingest",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS integer)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS integer)) AS integer) AS max_k
    FROM events GROUP BY event_type
    """,
)
def scalar_variant_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 JSON surface, Spark-4-native form: semi-dynamic records ingested
    as VARIANT (``parse_json``) and fielded with ``variant_get`` — the
    modern engine shape for the reference's union-of-keys run records
    (report_generator.py:78-87): shredded-on-read, no schema inference pass,
    unknown keys stay queryable.  Aggregates cast to fixed widths so both
    engines hash identically."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "scalar_map_struct_funcs",
    oracle="""
    SELECT event_id,
           array_to_string(map_keys(MAP {'type': event_type, 'uid': cast(user_id AS varchar)}), ',') AS meta_keys,
           MAP {'type': event_type, 'uid': cast(user_id AS varchar)}['type'][1] AS type_val,
           struct_pack(e := event_id, u := user_id).e AS s_event,
           cast(struct_pack(e := event_id, u := user_id).u AS bigint) AS s_user
    FROM events
    """,
)
def scalar_map_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 map/struct surface: dynamic key→value carrier like the run
    record's map form (Inspector.py:138-139; P16 map merge) — create_map,
    map_keys, element_at lookup, struct build + field access."""
    ev = _t(spark, sf_dir, "events")
    meta = F.create_map(
        F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string")
    )
    s = F.struct(F.col("event_id").alias("e"), F.col("user_id").alias("u"))
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(meta), ",").alias("meta_keys"),
        F.element_at(meta, "type").alias("type_val"),
        s.getField("e").alias("s_event"),
        s.getField("u").alias("s_user"),
    )


@query(
    "conditional_funcs",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_bucket,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT') AS seg_defaulted,
           if(c_nationkey % 2 = 0, 'even', 'odd') AS nation_parity
    FROM customer
    """,
)
def conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 conditional surface: CASE/WHEN decode (P3), coalesce defaulting
    (faas_runner.py:163-167), nullif, if/otherwise."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("DEFAULT")).alias(
            "seg_defaulted"
        ),
        F.when(F.col("c_nationkey") % 2 == 0, "even").otherwise("odd").alias(
            "nation_parity"
        ),
    )


@query(
    "percentile_stats",
    oracle=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           {sql_davg("l_quantity", "avg_qty")}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native exact percentile/median (SURVEY.md §2.5 ext): both engines use
    linear interpolation for continuous quantiles.  At 100 TB the engine's
    scale path is approx_percentile (rows-only variant)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        davg("l_quantity", "avg_qty"),
    )


@query(
    "pivot_event_types",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'error') AS n_error
    FROM events GROUP BY user_id
    """,
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot (wide per-category columns — the report generator's
    per-category section layout as one table, `report_generator.py:261-284`
    analogue).  Explicit value list keeps the pivot a single pass (no
    distinct-values pre-scan) — the form that scales."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error"])
        .count()
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("n_click"),
            F.coalesce("view", F.lit(0)).alias("n_view"),
            F.coalesce("purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("error", F.lit(0)).alias("n_error"),
        )
    )


@query(
    "unpivot_event_counts",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click') AS n_click,
             count(*) FILTER (WHERE event_type = 'view') AS n_view
      FROM events GROUP BY user_id)
    SELECT user_id, 'n_click' AS metric, n_click AS n FROM wide
    UNION ALL
    SELECT user_id, 'n_view' AS metric, n_view AS n FROM wide
    """,
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native unpivot/melt (wide → long): the inverse reshape of
    pivot_event_types — report_splitter.py's sections-to-rows direction.
    ``unpivot`` is a narrow op (row-local expansion, no shuffle)."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
    )
    return wide.unpivot("user_id", ["n_click", "n_view"], "metric", "n")


@query(
    "events_time_rollup",
    oracle=f"""
    SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
           count(*) AS n_events, {sql_dsum("value", "sum_value")},
           CASE WHEN d IS NULL AND m IS NULL AND y IS NULL THEN 'total'
                WHEN d IS NULL AND m IS NULL THEN 'year'
                WHEN d IS NULL THEN 'month' ELSE 'day' END AS grain
    FROM events
    GROUP BY ROLLUP (year(ts), month(ts), day(ts))
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup (the continuous-aggregate
    shape): ONE pass over events produces day, month, year, and grand-total
    grains via ROLLUP — Spark expands grouping sets inside a single
    aggregate, so the fact is scanned once no matter how many grains.  The
    grain label derives from the NULL pattern (every grouping column is
    non-null in the fixture, so NULL means rolled-up).  At 100 TB the
    coarser grains cost one extra partial-agg row per (day-partition) —
    this is the batch form whose stored-partial twin is
    incremental_agg_merge."""
    ev = _t(spark, sf_dir, "events")
    y, m, d = F.year("ts"), F.month("ts"), F.dayofmonth("ts")
    out = (
        ev.rollup(y.alias("y"), m.alias("m"), d.alias("d"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
    )
    grain = (
        F.when(F.col("d").isNull() & F.col("m").isNull() & F.col("y").isNull(), "total")
        .when(F.col("d").isNull() & F.col("m").isNull(), "year")
        .when(F.col("d").isNull(), "month")
        .otherwise("day")
    )
    return out.withColumn("grain", grain)


@query(
    "scalar_fuzzy_funcs",
    oracle="""
    SELECT s_suppkey,
           levenshtein(s_name, 'Supplier#000000001') AS lev_to_first,
           levenshtein(upper(s_name), upper(s_name)) AS lev_self,
           floor((1.0 - levenshtein(s_name, 'Supplier#000000001')
                  / greatest(length(s_name), length('Supplier#000000001')))
                 * 1000000 + 0.5) / 1000000 AS edit_similarity
    FROM supplier
    """,
)
def scalar_fuzzy_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 fuzzy-matching surface — the entity-resolution primitive a
    data-integration pipeline dedups dirty keys with: edit distance and its
    normalized similarity ratio (1 - lev/max_len), all row-local JVM
    expressions.  At scale fuzzy joins NEVER run levenshtein all-pairs —
    candidates come from blocking (n-gram Jaccard / MinHash, §2.12) and only
    candidate pairs are scored, same verify-the-candidates shape as
    minhash_near_dups."""
    s = _t(spark, sf_dir, "supplier")
    target = F.lit("Supplier#000000001")
    lev = F.levenshtein(F.col("s_name"), target)
    ratio = 1.0 - lev / F.greatest(F.length("s_name"), F.length(target))
    return s.select(
        "s_suppkey",
        lev.alias("lev_to_first"),
        F.levenshtein(F.upper("s_name"), F.upper("s_name")).alias("lev_self"),
        (F.floor(ratio * 1000000 + 0.5) / 1000000).alias("edit_similarity"),
    )
