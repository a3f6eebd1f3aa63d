"""TPC-H-style analytic queries over the driver star schema.

These are the engine's headline batch-analytics workload (BENCH target,
BASELINE.md): multi-join, filter-pushdown, partial-agg shapes that the
reference never needed but that define the engine at 100 TB. Date
constants are tuned to the driver data range (1995-01 .. 2001-11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import (
    ratio_round,
    ratio_round_big,
    ratio_round_big_sql,
    ratio_round_sql,
)
from ..io_util import load
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)

# Discounted revenue in exact integer units of 1/10000: cents x (100 -
# discount percent). A double sum of price * (1 - discount) can land on a
# half cent that Spark (HALF_UP on the shortest decimal string) and
# DuckDB (the binary value) round apart; the integer sum rounds the same
# in both through functions/rounding.
_REV_UNITS_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def _rev_units():
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return cents * (100 - F.round(F.col("l_discount") * 100).cast("long"))


@_register(
    "q1_pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 1) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary). Single scan + partial aggregation: the
    filter pushes to parquet, the group-by has 6 keys so the map-side
    combine reduces ~everything before the shuffle."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@_register(
    "q3_shipping_priority",
    sql=f"""
    SELECT o_orderkey,
           {ratio_round_sql(f"sum({_REV_UNITS_SQL})", "10000", 2)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY sum({_REV_UNITS_SQL}) DESC, o_orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dim filter -> broadcast ->
    fact join -> top-k. o_orderdate is emitted as a formatted string so the
    value-hash is timestamp-encoding agnostic."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_units()).alias("_rev"))
        .orderBy(F.desc("_rev"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            ratio_round(F.col("_rev"), F.lit(10000), 2).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@_register(
    "q5_local_supplier_volume",
    sql=f"""
    SELECT n_name,
           {ratio_round_big_sql(f"sum({_REV_UNITS_SQL})", "10000", 2)} AS revenue
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey   = c_custkey
      JOIN lineitem ON l_orderkey  = o_orderkey
      JOIN supplier ON l_suppkey   = s_suppkey AND s_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way join. All dimension
    sides broadcast; only lineitem x orders shuffles, and AQE picks the
    final join order at runtime."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    # per-nation sums pass ratio_round's 2^53 input bound by sf1
    return joined.groupBy("n_name").agg(
        ratio_round_big(F.sum(_rev_units()), F.lit(10000), 2).alias("revenue")
    )


@_register(
    "q6_forecast_revenue",
    sql="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue): pure scan+filter+global agg; every
    predicate reaches the parquet reader (PushedFilters)."""
    li = load(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@_register(
    "q18_large_orders",
    sql="""
    SELECT c_custkey, o_orderkey, round(sum_qty, 1) AS total_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    ) big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): HAVING sub-aggregate then join —
    the aggregate shrinks the fact side before any join happens."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", F.round("sum_qty", 1).alias("total_qty"))
    )


@_register(
    "q4_order_priority",
    sql="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS as a
    LEFT SEMI join with a non-equi residual. The semi join never
    materializes lineitem columns, and the date filter prunes orders
    before the shuffle. (Reference has no subqueries at all; this is a
    §2.6 engine extension. l_commitdate/l_receiptdate are absent from
    the driver schema, so the EXISTS tests late shipment instead.)"""
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@_register(
    "q7_nation_volume",
    sql="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(extract(year FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations). The disjunctive
    nation-pair predicate is applied after broadcast-joining both nation
    legs; everything except lineitem x orders is a broadcast join."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@_register(
    "q8_market_share",
    sql="""
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): 8-way join + conditional-ratio
    aggregate. The p_type filter makes part highly selective, so joining
    it first prunes lineitem before the orders shuffle. Only the
    constant-size dims (nation/region) carry broadcast HINTS —
    customer/supplier/part scale with the corpus, so size-based
    selection + AQE broadcast them at test SF and correctly fall back
    to shuffle joins at 100 TB (a forced hint would OOM there)."""
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    return joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
            / F.sum(vol),
            6,
        ).alias("mkt_share")
    )


@_register(
    "q9_profit_by_nation_year",
    sql="""
    SELECT nation, o_year, round(sum(amount), 2) AS profit
    FROM (
      SELECT n_name AS nation,
             CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS amount
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation x year). The LIKE
    filter on part is evaluated before broadcast, so the substring match
    never touches the fact table. (Driver schema has no partsupp /
    ps_supplycost, so profit reduces to discounted revenue.)"""
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select("p_partkey")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = load(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
    )


@_register(
    "q10_returned_items",
    sql="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter + returnflag filters
    both push to the scans, then top-20 customers by lost revenue.
    Ordered by the UNrounded sum with c_custkey tiebreak so the limit
    boundary is deterministic across engines."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"))
        .orderBy(F.desc("_rev"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round("_rev", 2).alias("revenue"),
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
    )


@_register(
    "q13_customer_distribution",
    sql="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    with an ON-clause residual (the filter must NOT eliminate orderless
    customers), two-level aggregation. count(o_orderkey) over the null
    rows yields the 0 bucket."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@_register(
    "q14_promo_effect",
    sql="""
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): single month of lineitem broadcast-
    joined to part, conditional-ratio global aggregate."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0)))
            / F.sum(vol),
            4,
        ).alias("promo_revenue")
    )


@_register(
    "q15_top_supplier",
    sql="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev_d
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(round(rev_d, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE rev_d = (SELECT max(rev_d) FROM revenue)
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): scalar-subquery max against a reused
    aggregate. The agg shrinks lineitem to one row per supplier; the max
    arrives via a broadcast nested-loop of a 1-row aggregate, so the
    revenue relation is computed once and never re-scanned.

    Round 11 (found by the sf1.0 oracle gate): revenue accumulates in
    DECIMAL, not DOUBLE. The 2-decimal inputs lift exactly onto the
    decimal grid, so the per-supplier sum is order-independent and the
    `= max` equality is EXACT in both engines — the float form missed
    ties whose last-ulp sums differed by partition order (Spark found
    7 of 10 replicated winners; DuckDB's parallel multi-file scan
    re-evaluated the CTE for the scalar subquery with a different sum
    order and matched ZERO rows)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev_expr = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev_expr).alias("rev_d")
    )
    mx = rev.agg(F.max("rev_d").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev_d") == F.col("_mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("rev_d", 2).cast("double").alias("total_revenue"),
        )
    )


@_register(
    "q16_supplier_count",
    sql="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier-relationship count): COUNT DISTINCT over
    a join result — Spark plans it as expand + two-level aggregate, so
    the distinct dedup happens map-side before the final shuffle.
    (No partsupp in the driver schema; lineitem supplies the
    part-supplier pairs.)"""
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "q17_small_quantity",
    sql="""
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): correlated scalar
    subquery decorrelated into a per-part average joined back. The
    thresholds are computed only for the brand's parts (semi-join
    pushdown of the correlation domain) and broadcast."""
    pb = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    thresholds = (
        li.join(pb, li.l_partkey == pb.p_partkey, "left_semi")
        .groupBy("l_partkey")
        .agg((0.2 * F.avg("l_quantity")).alias("_qty_cut"))
        .withColumnRenamed("l_partkey", "_tp")
    )
    return (
        li.join(pb, li.l_partkey == pb.p_partkey)
        .join(F.broadcast(thresholds), F.col("l_partkey") == F.col("_tp"))
        .filter(F.col("l_quantity") < F.col("_qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@_register(
    "q19_disjunctive_pushdown",
    sql="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicates across both join sides).
    Catalyst extracts the common l_quantity range [1,30] and the part-
    side disjunction (brand/size) below the join, so both scans are
    pruned even though the full predicate straddles the join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@_register(
    "q22_idle_customers",
    sql="""
    SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY n_name
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (wealthy customers gone idle): global scalar
    average broadcast via a 1-row cross join, then LEFT ANTI against
    recent orders. The anti join ships only o_custkey after the date
    filter prunes the orders scan. (No c_phone in the driver schema, so
    grouping is by nation instead of country code; 'idle' = no order
    since 1999 because every driver customer has some order.)"""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@_register(
    "q12_ship_delay_priority",
    sql="""
    SELECT delay_class,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM (
      SELECT o_orderpriority,
             CASE WHEN l_shipdate <  o_orderdate THEN 'early'
                  WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY THEN 'late'
                  ELSE 'on_time' END AS delay_class
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY delay_class
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / order priority): fact-fact join
    followed by a pivot-style conditional aggregation. The driver schema
    has no l_shipmode/l_commitdate/l_receiptdate, so the grouping key is
    a derived ship-delay class (pure timestamp comparisons — no
    day-boundary functions, keeping Spark and DuckDB bit-identical) and
    the CASE-sums split line counts by order priority. Shape notes: the
    year filter pushes to the lineitem scan; both CASE branches ride the
    same shuffle (3 groups, map-side partial collapses ~everything)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn(
            "delay_class",
            F.when(F.col("l_shipdate") < F.col("o_orderdate"), "early")
            .when(
                F.col("l_shipdate")
                >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
                "late",
            )
            .otherwise("on_time"),
        )
        .groupBy("delay_class")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q21_suppliers_kept_waiting",
    sql="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 75 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 75 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the classic
    EXISTS + NOT-EXISTS double self-correlation on lineitem, rewritten
    for scale as one aggregation plus one window — per (orderkey,
    suppkey) compute late-row counts, then per-order supplier counts as
    window aggregates over that result; a supplier "kept the order
    waiting" iff it was late, the order had another supplier, and no
    other supplier was late. The naive EXISTS plan scans and shuffles
    lineitem three times; this scans it once (the window reuses the
    aggregated ~|order×supplier| rows, not raw lineitem). The oracle
    deliberately keeps the doubly-correlated EXISTS form — two
    independent formulations must agree row-for-row. ('late' = shipped
    >75 days after order date; l_receiptdate/l_commitdate are absent
    from the driver schema.)"""
    from pyspark.sql import Window

    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS")
    ).cast("int")
    flags = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(late).alias("late_rows"))
    )
    per_order = Window.partitionBy("l_orderkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flags.withColumn("n_supp", F.count("*").over(per_order))
        .withColumn(
            "n_late_supp",
            F.sum((F.col("late_rows") > 0).cast("int")).over(per_order),
        )
        .filter(
            (F.col("late_rows") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the driver schema has no partsupp table, which kept
# TPC-H q2/q11/q20 off the board (COVERAGE.md "recorded, not actionable").
# But partsupp is a pure FUNCTION of (part, supplier-count): derive it
# deterministically in BOTH engines — 4 suppliers per part on the ring
# (partkey + i*(S/4)) mod S (0-based keys), and availqty/supplycost from
# the engine's md5 family, so the DuckDB oracle computes the identical
# 4*|part| rows and all three queries get full hash-verified rows.
# The stride is exactly S/4 (the official dbgen shape minus its pk/S
# term): for S >= 4 that makes the 4 suppkeys provably distinct
# (d*(S//4) is in (0, S) for d in 1..3), preserving the partsupp
# (ps_partkey, ps_suppkey) primary-key invariant the queries assume —
# the dbgen-faithful stride collided whenever (S/4 + pk/S) % S == 0,
# e.g. 60 parts at sf0.001 (ADVICE r3). Supply cost is carried as
# integer CENTS so q11's HAVING threshold compares exact integers (a
# double sum would be addition-order dependent right at the cutoff).

from ..functions.hashing import md5_long, md5_long_sql  # noqa: E402


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").select("p_partkey")
    scount = load(spark, sf_dir, "supplier").agg(F.count("*").alias("s"))
    base = part.crossJoin(F.broadcast(scount)).select(
        "p_partkey",
        "s",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
    )
    pk, s, i = F.col("p_partkey"), F.col("s"), F.col("i")
    suppkey = (pk + i * F.floor(s / 4)) % s
    salt = F.concat(pk.cast("string"), F.lit(":ps"), i.cast("string"))
    aq = md5_long(F.concat(salt, F.lit(":aq"))) % 9999 + 1
    cents = md5_long(F.concat(salt, F.lit(":sc"))) % 99900 + 100
    return base.select(
        pk.alias("ps_partkey"),
        suppkey.cast("long").alias("ps_suppkey"),
        aq.alias("ps_availqty"),
        cents.alias("ps_cost_cents"),
        (cents / 100.0).alias("ps_supplycost"),
    )


_PS_SALT = "concat(CAST(p_partkey AS VARCHAR), ':ps', CAST(i AS VARCHAR)"
_PARTSUPP_CTE = f"""
    ps AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey + i * (s // 4)) % s AS ps_suppkey,
             {md5_long_sql(_PS_SALT + ", ':aq')")} % 9999 + 1 AS ps_availqty,
             {md5_long_sql(_PS_SALT + ", ':sc')")} % 99900 + 100 AS ps_cost_cents
      FROM part
      CROSS JOIN (SELECT count(*) AS s FROM supplier)
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i)
    )
"""


@_register(
    "q2_min_cost_supplier",
    sql=f"""
    WITH {_PARTSUPP_CTE},
    eu AS (
      SELECT ps_partkey, ps_cost_cents, s_acctbal, s_name, n_name
      FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    best AS (
      SELECT eu.*, min(ps_cost_cents) OVER (PARTITION BY ps_partkey) AS mn
      FROM eu
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
           p_partkey, p_brand,
           round(ps_cost_cents / 100.0, 2) AS ps_supplycost
    FROM best JOIN part ON p_partkey = ps_partkey
    WHERE ps_cost_cents = mn AND p_size = 15
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
    """,
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) over the derived partsupp:
    for each size-15 part, the EUROPE supplier(s) quoting the minimum
    supply cost. The correlated min-subquery of the official text is a
    per-part window min here (one pass; the oracle uses the same window
    form). Region/nation broadcast (constant dims); supplier is
    SF-scaling so its join is left to AQE; partsupp joins on its
    8-byte keys."""
    from pyspark.sql.window import Window

    ps = derived_partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    # supplier scales with SF (10k rows per SF-unit) — no broadcast
    # hint, AQE decides; nation/region are constant-size dims
    eu = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("ps_partkey", "ps_cost_cents", "s_acctbal", "s_name", "n_name")
    )
    w = Window.partitionBy("ps_partkey")
    best = eu.withColumn("mn", F.min("ps_cost_cents").over(w)).filter(
        F.col("ps_cost_cents") == F.col("mn")
    )
    return (
        best.join(p, best.ps_partkey == p.p_partkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.round(F.col("ps_cost_cents") / 100.0, 2).alias("ps_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@_register(
    "q11_important_stock",
    sql=f"""
    WITH {_PARTSUPP_CTE},
    nat AS (
      SELECT ps_partkey, ps_cost_cents * ps_availqty AS v
      FROM ps
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
    ),
    tot AS (SELECT sum(v) AS total FROM nat)
    SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_cents
    FROM nat CROSS JOIN tot
    GROUP BY ps_partkey, total
    HAVING sum(v) * 2000 > total
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock) over the derived partsupp: per-part
    stock value held by NATION_3 suppliers, kept when above 1/2000 of
    the national total. All arithmetic in integer cents, so the HAVING
    cutoff is exact in both engines (a double sum is addition-order
    dependent exactly at the threshold). The grand total is a 1-row
    broadcast; sum * 2000 stays under int64 up to ~sf100."""
    ps = derived_partsupp(spark, sf_dir)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    # supplier is SF-scaling: un-hinted (the repo convention); the
    # nation filter IS hinted (constant-size dim)
    nat = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    tot = nat.agg(F.sum("v").alias("total"))
    return (
        nat.groupBy("ps_partkey")
        .agg(F.sum("v").alias("value_cents"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 2000 > F.col("total"))
        .select("ps_partkey", "value_cents")
    )


@_register(
    "q20_potential_promotion",
    sql=f"""
    WITH {_PARTSUPP_CTE},
    qty AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT ps_suppkey
      FROM ps
      JOIN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%') pp
        ON ps_partkey = pp.p_partkey
      LEFT JOIN qty ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      WHERE ps_availqty > 0.5 * coalesce(q, 0)
    )
    SELECT s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    JOIN cand ON s_suppkey = ps_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
    ORDER BY s_name
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion) over the derived partsupp:
    NATION_1 suppliers of 'bolt' parts whose stock exceeds half of what
    they actually shipped of that part in 1997. The official nested
    IN/correlated-subquery stack is a semi-join pipeline here: shipped
    quantities pre-aggregate per (part, supplier) — exact, since
    l_quantity is integral — then a left join + filter + distinct
    yields candidate suppliers. l_quantity sums are exact doubles
    (integer-valued), so the 0.5x threshold is engine-stable."""
    ps = derived_partsupp(spark, sf_dir)
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("q"))
    bolt = load(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey"
    )
    cand = (
        ps.join(bolt, ps.ps_partkey == bolt.p_partkey)
        .join(
            qty,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
            "left",
        )
        .filter(F.col("ps_availqty") > 0.5 * F.coalesce(F.col("q"), F.lit(0.0)))
        .select("ps_suppkey")
        .distinct()
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        s.join(cand, s.s_suppkey == cand.ps_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )
