"""Joins and aggregations: SURVEY.md section 2 IDs J1-J3, J5, A1-A3, A5-A7
plus the declared engine extensions (rollup, set ops, semi/anti joins,
ranking windows, approx distinct).

Scale stance: every dimension join uses an explicit broadcast() hint (the
dims are KB-to-MB sized at any SF; the fact side never shuffles for them).
Group-bys rely on partial aggregation (map-side combine) + AQE coalescing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import rank as _rank
from pyspark.sql.window import Window

from ..functions.rounding import ratio_round_sql
from ..io_util import load, scratch_dir
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


# ---------------------------------------------------------------- joins
@_register(
    "j1_stream_dim_join",
    sql="""
    SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def j1_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (consumers/models/line.py:47-54): fact->dimension lookup with
    inner-join drop semantics for unknown keys. Broadcast hash join: the
    dimension ships to every executor, the 100 TB fact side never shuffles."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@_register(
    "j2_seed_lookup",
    sql="""
    SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 1) AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def j2_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (producers/models/turnstile_hardware.py:22-33): per-entity seed
    lookup, aggregated per seed attribute."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 1).alias("total_qty"))
    )


@_register(
    "j3_derived_key_join",
    sql="""
    WITH curve AS (
      SELECT CAST(hour(ts) AS INTEGER) AS hr, round(avg(value), 4) AS hourly_avg
      FROM events GROUP BY 1
    )
    SELECT event_type, count(*) AS n, round(sum(hourly_avg), 2) AS sum_hourly_avg
    FROM (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr FROM events) e
    JOIN curve USING (hr)
    GROUP BY event_type
    """,
)
def j3_derived_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (producers/models/turnstile_hardware.py:48-51): join on a derived
    key (hour-of-day) against a tiny curve table — here the curve itself is
    derived from the stream, then broadcast back against it."""
    e = load(spark, sf_dir, "events")
    curve = e.groupBy(F.hour("ts").alias("hr")).agg(
        F.round(F.avg("value"), 4).alias("hourly_avg")
    )
    enriched = e.select("event_type", F.hour("ts").alias("hr")).join(
        F.broadcast(curve), "hr"
    )
    return enriched.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("hourly_avg"), 2).alias("sum_hourly_avg")
    )


@_register(
    "j5_snapshot_assembly",
    sql="""
    SELECT c_custkey, c_name,
           CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
           round(coalesce(o.total_spend, 0), 2) AS total_spend
    FROM customer
    LEFT JOIN (
      SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total_spend
      FROM orders GROUP BY o_custkey
    ) o ON c_custkey = o_custkey
    """,
)
def j5_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (consumers/models/station.py:26-43, status.html:29-39): the
    dashboard snapshot join — dimension LEFT JOIN derived aggregates with
    missing entries defaulted (na.fill == the template's 0/'---' default)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), F.sum("o_totalprice").alias("total_spend")
    )
    return (
        c.join(agg, c.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
            F.round(F.coalesce("total_spend", F.lit(0.0)), 2).alias("total_spend"),
        )
    )


@_register(
    "j6_asof_join",
    sql="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
    FROM events e
    ASOF LEFT JOIN o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: as-of (point-in-time) join — each event paired with
    the user's latest order at-or-before the event time. Uses the
    union+window formulation (operators/asof.asof_join_union — no join
    fan-out; the join+max_by form is asof_join, asserted equal in
    tests). DuckDB verifies with its native ASOF JOIN. Orders are
    pre-reduced to one row per (custkey, orderdate) so ties cannot make
    the pick ambiguous."""
    from ..operators.asof import asof_join_union

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join_union(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderkey"],
    )
    return out.select("event_id", "user_id", F.col("o_orderkey").alias("asof_orderkey"))


@_register(
    "j7_range_join",
    sql="""
    WITH bins AS (
      SELECT i * 10.0 AS lo, (i + 1) * 10.0 AS hi,
             concat('bin_', CAST(i AS VARCHAR)) AS bin_name
      FROM (SELECT unnest(generate_series(0, 9)) AS i)
    )
    SELECT bin_name, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events JOIN bins ON value >= lo AND value < hi
    GROUP BY bin_name
    """,
)
def j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: interval (range) join — events binned into [lo, hi)
    ranges via a broadcast bins table (operators/asof.range_join).
    The bucketed large-by-large decomposition is range_join_bucketed,
    asserted equal in tests/test_asof_join.py."""
    from ..operators.asof import range_join

    e = load(spark, sf_dir, "events").select("value")
    bins = spark.range(10).select(
        (F.col("id") * 10.0).alias("lo"),
        ((F.col("id") + 1) * 10.0).alias("hi"),
        F.concat(F.lit("bin_"), F.col("id").cast("string")).alias("bin_name"),
    )
    return (
        range_join(e, bins, "value", "lo", "hi")
        .groupBy("bin_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@_register(
    "j8_asof_low_card",
    # day_avg rides the exact integer-cents grid (round 10): a float
    # avg rounded to 4 landed EXACTLY on a .00005 half at sf0.001
    # (38.37875 -> Spark 38.3788, DuckDB 38.3787 — the shortest-decimal
    # vs binary rounding split functions/rounding.py documents); the
    # 2-decimal source values lift losslessly to cents and the average
    # half-up-rounds in integers, identical in both engines.
    sql=f"""
    WITH r AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             {ratio_round_sql(
                 "CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)",
                 "100 * count(*)", 4
             )} AS day_avg
      FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT e.event_id, e.event_type, r.day_avg AS asof_day_avg
    FROM events e
    ASOF LEFT JOIN r ON e.event_type = r.event_type AND e.ts >= r.day
    """,
)
def j8_asof_low_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: as-of join in the LOW-cardinality-key regime — every
    event picks up the latest daily reference value for its type
    (few keys, corpus-deep history: the few-symbols/huge-ticks shape).
    Served by operators/asof.stratified_asof — the union formulation's
    per-key running window replaced by the two-pass range-partitioned
    struct carry, so a key's entire history never funnels through one
    task; the right side is pre-reduced to unique (key, day). DuckDB
    verifies with its native ASOF JOIN."""
    from ..operators.asof import stratified_asof

    e = load(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    from ..functions.rounding import ratio_round

    r = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("rk"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
            F.count("*").alias("n"),
        )
        .select(
            "rk",
            "day",
            ratio_round(F.col("cents"), F.lit(100) * F.col("n"), 4).alias(
                "day_avg"
            ),
        )
    )
    out = stratified_asof(e, r, "event_type", "rk", "ts", "day", ["day_avg"])
    return out.select(
        "event_id", "event_type", F.col("day_avg").alias("asof_day_avg")
    )


# --------------------------------------------------------- aggregations
@_register(
    "a1_group_count",
    sql="SELECT user_id, count(*) AS count FROM events GROUP BY user_id",
)
def a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (consumers/ksql.py:24-40): the KSQL TURNSTILE_SUMMARY running
    count per key — batch form; streaming form in streaming/views.py."""
    return load(spark, sf_dir, "events").groupBy("user_id").agg(F.count("*").alias("count"))


@_register(
    "a2_latest_per_key",
    sql="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def a2_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (consumers/faust_stream.py:52-57): last-write-wins keyed table.
    max_by over a unique (ts, event_id) ordering struct. Plans as a
    partial+final SortAggregate (struct buffers are not hash-aggregable):
    the map-side partial collapses each partition to one row per key, so
    the shuffle carries keys, not events — the window formulation
    shuffles and sorts EVERY row."""
    e = load(spark, sf_dir, "events")
    packed = F.struct("event_id", "event_type")
    return (
        e.groupBy("user_id")
        .agg(F.max_by(packed, F.struct("ts", "event_id")).alias("m"))
        .select(
            "user_id",
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.event_type").alias("last_event_type"),
        )
    )


@_register(
    "a3_latest_global",
    sql="""
    SELECT event_id, event_type, round(value, 4) AS value
    FROM events ORDER BY ts DESC, event_id DESC LIMIT 1
    """,
)
def a3_latest_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (consumers/models/weather.py:17-30): latest global value (the
    weather 'now' scalar). TakeOrderedAndProject — O(n) scan, no sort."""
    e = load(spark, sf_dir, "events")
    return (
        e.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", "event_type", F.round("value", 4).alias("value"))
    )


@_register(
    "a5_distinct",
    sql="""
    SELECT event_type, min(event_id) AS first_event_id
    FROM events GROUP BY event_type
    """,
)
def a5_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (producers/models/line.py:27-35): distinct values with a stable
    'first seen' marker standing in for file order."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.min("event_id").alias("first_event_id"))


@_register(
    "a6_first_per_group",
    sql="""
    SELECT event_type, event_id AS first_event_id, user_id AS first_user_id
    FROM events
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) = 1
    """,
)
def a6_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 (producers/models/turnstile_hardware.py:25-33): first-row-per-group
    (iloc[0] semantics made deterministic by (ts, event_id) ordering);
    min_by partial aggregate, not a sort window (see a2)."""
    e = load(spark, sf_dir, "events")
    packed = F.struct("event_id", "user_id")
    return (
        e.groupBy("event_type")
        .agg(F.min_by(packed, F.struct("ts", "event_id")).alias("m"))
        .select(
            "event_type",
            F.col("m.event_id").alias("first_event_id"),
            F.col("m.user_id").alias("first_user_id"),
        )
    )


@_register(
    "a7_fanout_explode",
    sql="""
    SELECT n_name, count(*) AS n_copies
    FROM (
      SELECT n_name, unnest(generate_series(1, (n_nationkey % 3) + 1)) AS i
      FROM nation
    )
    GROUP BY n_name
    """,
)
def a7_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 (producers/models/turnstile.py:41-59): count-as-event-multiplicity.
    The generator side explodes n copies; A1-style count recovers n."""
    n = load(spark, sf_dir, "nation")
    exploded = n.select(
        "n_name", F.explode(F.sequence(F.lit(1), (F.col("n_nationkey") % 3) + 1)).alias("i")
    )
    return exploded.groupBy("n_name").agg(F.count("*").alias("n_copies"))


# ----------------------------------------------------------- extensions
@_register(
    "x_rollup",
    sql="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n, round(sum(l_quantity), 1) AS total_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def x_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SURVEY section 2.6 tail): hierarchical ROLLUP aggregate.
    Source columns are non-null so coalesce('ALL') marks subtotal rows
    identically in both engines."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 1).alias("total_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "total_qty",
        )
    )


@_register(
    "x_set_ops",
    sql="""
    SELECT 'both' AS op, n FROM
      (SELECT c_nationkey AS n FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only' AS op, n FROM
      (SELECT c_nationkey AS n FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'supplier_only' AS op, n FROM
      (SELECT s_nationkey AS n FROM supplier EXCEPT SELECT c_nationkey FROM customer)
    """,
)
def x_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: INTERSECT / EXCEPT / UNION ALL (the reference's closest
    analog is the dashboard's blue+green+red fan-in, status.html:29)."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n"))
    both = c.intersect(s).select(F.lit("both").alias("op"), "n")
    # plain EXCEPT is set-semantics: distinct left minus right
    c_only = c.subtract(s).select(F.lit("customer_only").alias("op"), "n")
    s_only = s.subtract(c).select(F.lit("supplier_only").alias("op"), "n")
    return both.unionAll(c_only).unionAll(s_only)


@_register(
    "x_semi_anti_join",
    sql="""
    SELECT 'with_orders' AS cohort, c_mktsegment, count(*) AS n FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'without_orders' AS cohort, c_mktsegment, count(*) AS n FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def x_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: left-semi and left-anti joins (EXISTS / NOT EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(F.lit("with_orders").alias("cohort"), "c_mktsegment", "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(F.lit("without_orders").alias("cohort"), "c_mktsegment", "n")
    )
    return semi.unionAll(anti)


@_register(
    "x_window_rank",
    sql="""
    SELECT c_mktsegment, rnk, o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rnk <= 2
    """,
)
def x_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: per-group top-k via ranking window (unique tie-break).

    Scale shape: the rnk <= 2 filter lets Catalyst infer a
    WindowGroupLimit, and the physical plan runs it in PARTIAL mode
    below the exchange — each input partition keeps only its top-2 per
    segment before any data moves, so the c_mktsegment exchange carries
    <= n_partitions * |segments| * k rows (flat in corpus size), not
    the joined corpus. That is the built-in JVM form of the mergeable
    partial top-k (operators/similarity.partition_topk); pinned by
    tests/test_plan_contracts.py."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    # no broadcast hint: customer scales with SF; stats/AQE decide
    joined = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "c_mktsegment", "rnk", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
        )
    )


@_register(
    "x_salted_agg",
    sql="""
    SELECT event_type, count(*) AS count FROM events GROUP BY event_type
    """,
)
def x_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (scale hygiene): skew-tolerant two-phase salted count
    over the low-cardinality (hence hot-keyed) event_type column. The
    oracle's plain GROUP BY proves the decomposition is exact — salting
    changes the shuffle layout, never the result (operators/skew.py).
    event_id is the unique row key, so the salt is its deterministic
    xxhash64 — retry-safe even if this agg is ever fed from a shuffle
    output (see skew._salt_expr for the monotonically_increasing_id
    retry caveat)."""
    from ..operators import skew

    return skew.salted_count(
        load(spark, sf_dir, "events"), ["event_type"], unique_col="event_id"
    )


@_register("x_approx_distinct")  # no oracle: HLL sketches differ across engines
def x_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: approx_count_distinct (HyperLogLog++). Engine-specific
    sketch, so rows-only driver check; pytest asserts <2% relative error
    against the exact count."""
    e = load(spark, sf_dir, "events")
    return e.agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )


@_register(
    "x_cube",
    sql="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n, round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def x_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SURVEY section 2.6 tail): full CUBE — all 2^k grouping
    sets in one pass via Expand, so the fact table is scanned once, not
    2^k times. Source columns are non-null, so coalesce('ALL') labels
    subtotal rows identically in both engines."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
            "total_price",
        )
    )


@_register(
    "x_window_lead_lag",
    sql="""
    SELECT o_orderkey, o_custkey,
           round(lag(o_totalprice)  OVER w, 2) AS prev_price,
           round(lead(o_totalprice) OVER w, 2) AS next_price,
           round(sum(o_totalprice)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW), 2) AS running_total,
           ntile(4) OVER w AS quartile
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def x_window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: lead/lag/ntile/running-sum analytics over one shared
    window spec — all four functions share a single sort+shuffle on
    (o_custkey, o_orderdate, o_orderkey); the orderkey tiebreak makes
    frame contents deterministic across engines."""
    from pyspark.sql.window import Window

    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.round(F.sum("o_totalprice").over(w_run), 2).alias("running_total"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_register(
    "x_percentiles",
    sql="""
    SELECT l_returnflag,
           round(median(l_extendedprice), 4) AS med_price,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4)
             AS p90_price,
           round(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity), 1)
             AS p50_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def x_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: exact median / interpolated and discrete percentiles.
    Exact percentiles need the full value multiset per group — fine for
    3 groups; at 100 TB swap in approx_percentile (t-digest sketch,
    mergeable map-side) which this query deliberately does NOT use so
    the oracle can hash-match exactly."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("med_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(
            F.expr("percentile_approx(l_quantity, 0.5, 2147483647)"), 1
        ).alias("p50_qty_disc"),
    )


@_register(
    "x_skew_report",
    sql="""
    WITH kc AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1),
    stats AS (
      SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt,
             ((((sum(cnt)) * 20000 + (count(*))) // (2 * (count(*)))) / 10000.0) AS avg_cnt,
             round(percentile_cont(0.99) WITHIN GROUP (ORDER BY cnt), 2) AS p99_cnt
      FROM kc
    ),
    top AS (
      SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rk
      FROM kc
    )
    SELECT t.rk, t.key AS hot_key, CAST(t.cnt AS BIGINT) AS hot_cnt,
           s.n_keys, s.n_rows, s.max_cnt, s.avg_cnt, s.p99_cnt,
           ((((t.cnt * s.n_keys) * 200 + (s.n_rows)) // (2 * (s.n_rows))) / 100.0) AS skew_ratio
    FROM top t CROSS JOIN stats s WHERE t.rk <= 5
    """,
)
def x_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: join-key skew diagnostic — the profiling pass a
    100 TB pipeline runs before picking a join strategy: per-key count
    distribution (keys/rows/max/avg/exact p99) plus the top-5 heavy
    hitters and their skew ratio vs the mean. One groupBy on the key;
    the stats side is a 1-row broadcast. Informs salting factors and
    AQE skew thresholds; exact percentile kept so the oracle
    hash-matches (swap in approx_percentile at scale, as
    x_approx_percentiles demonstrates)."""

    kc = load(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("key")
    ).agg(F.count("*").alias("cnt"))
    kc = kc.localCheckpoint(eager=False)
    from ..functions.rounding import ratio_round

    stats = kc.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_cnt"),
        ratio_round(F.sum("cnt"), F.count("*"), 4).alias("avg_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 2).alias("p99_cnt"),
    )
    # orderBy+limit plans TakeOrderedAndProject (distributed partial
    # top-k) — never a global row_number sort over the corpus-scaling
    # key table; the rank attach then runs on 5 rows (bounded, no
    # WindowExec — operators/rank.attach_bounded_rank)
    top = _rank.attach_bounded_rank(
        kc.orderBy(F.desc("cnt"), F.asc("key")).limit(5),
        [F.desc("cnt"), F.asc("key")],
        rank_col="rk",
    ).select(
        "rk", F.col("key").alias("hot_key"), F.col("cnt").cast("long").alias("hot_cnt")
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "rk", "hot_key", "hot_cnt", "n_keys", "n_rows", "max_cnt", "avg_cnt",
        "p99_cnt",
        ratio_round(F.col("hot_cnt") * F.col("n_keys"), F.col("n_rows"), 2).alias(
            "skew_ratio"
        ),
    )


def _zorder_bits(n_bits: int = 8):
    """(spark_expr_builder, sql_expr) for interleaving two n_bit ints —
    generated together so both engines compute identical z-values."""
    sql_terms = []
    for i in range(n_bits):
        sql_terms.append(f"(((x >> {i}) & 1) << {2 * i})")
        sql_terms.append(f"(((y >> {i}) & 1) << {2 * i + 1})")
    sql = " + ".join(sql_terms)

    def spark_expr(x, y):
        z = F.lit(0).cast("long")
        for i in range(n_bits):
            z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
            z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        return z

    return spark_expr, sql


_Z_SPARK, _Z_SQL = _zorder_bits(8)


@_register(
    "x_zorder_layout",
    sql=f"""
    WITH k AS (
      SELECT (user_id % 256) AS x, (event_id % 256) AS y FROM events
    ),
    z AS (SELECT x, y, ({_Z_SQL}) AS zval FROM k)
    SELECT CAST(zval // 1024 AS BIGINT) AS z_file, count(*) AS n,
           CAST(min(x) AS BIGINT) AS x_lo, CAST(max(x) AS BIGINT) AS x_hi,
           CAST(min(y) AS BIGINT) AS y_lo, CAST(max(y) AS BIGINT) AS y_hi
    FROM z GROUP BY 1
    """,
)
def x_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: Z-order (Morton) data layout — interleave the bits of
    two filter keys and range-partition files by the z-value, so every
    file covers a TIGHT range of BOTH dimensions and a predicate on
    either one prunes most files (linear layouts prune on the leading
    key only). The query emits the per-file min/max stats a lakehouse
    manifest would carry; `tests/test_registry.py` asserts the pruning
    property — every z-file's x-range and y-range spans are bounded,
    unlike a single-key sort. The bit-interleave expression is
    generated once for both engines; all map-side + one groupBy."""
    ev = load(spark, sf_dir, "events")
    x = F.pmod(F.col("user_id"), F.lit(256)).cast("long")
    y = F.pmod(F.col("event_id"), F.lit(256)).cast("long")
    z = _Z_SPARK(x, y)
    return (
        ev.select(x.alias("x"), y.alias("y"), z.alias("zval"))
        .groupBy(F.floor(F.col("zval") / 1024).cast("long").alias("z_file"))
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
    )


@_register("x_approx_percentiles")  # rows-only: Spark's GK sketch has no DuckDB twin
def x_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: the sketch path x_percentiles' docstring promises for
    100 TB — approx_percentile (Greenwald-Khanna, mergeable map-side:
    no full value multiset ever colocates, unlike exact percentile).
    Accuracy is pinned in tests/test_registry.py: every approx decile
    must land within the exact neighboring deciles. Rows-only (the
    sketch is Spark-specific; DuckDB's approx_quantile uses t-digest
    with different determinism)."""
    li = load(spark, sf_dir, "lineitem")
    qs = [i / 10 for i in range(1, 10)]
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            F.round(F.expr(f"approx_percentile(l_extendedprice, {q}, 1000)"), 2)
            .alias(f"p{int(q * 100)}")
            for q in qs
        ],
    )


@_register(
    "x_fuzzy_name_match",
    sql="""
    WITH p AS (
      SELECT p_partkey AS k, lower(p_name) AS nm,
             split_part(lower(p_name), ' ', 1) || ' ' ||
             split_part(lower(p_name), ' ', 2) AS blk
      FROM part
    ),
    ok AS (SELECT blk FROM p GROUP BY blk HAVING count(*) <= 10000),
    pb AS (SELECT p.k, p.nm, p.blk FROM p JOIN ok USING (blk)),
    pairs AS (
      SELECT a.k AS k, levenshtein(a.nm, b.nm) AS d
      FROM pb a JOIN pb b ON a.blk = b.blk AND a.k <> b.k
    )
    SELECT k AS p_partkey, count(*) AS n_matches,
           CAST(min(d) AS INTEGER) AS min_dist
    FROM pairs WHERE d <= 3 GROUP BY k
    """,
)
def x_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: entity-resolution fuzzy matching — for each part, how
    many OTHER parts have a name within Levenshtein distance 3, plus
    the closest distance. Candidate pairs come from equality blocking
    on the first two name words (never an all-pairs cross join: the
    distance filter only ever sees within-block pairs), with a
    mirrored block-size cap so a degenerate hot prefix can't produce
    an m^2 blowup at scale; edit distance is the built-in levenshtein,
    identical in both engines.

    Round 12 — the scale fix the sf1.0 gate demanded (37x wall for 10x
    rows in r11): COLLAPSE DUPLICATES BEFORE THE QUADRATIC. Distance
    is a function of the NAME, not the row, so the DP runs over
    distinct (blk, nm) groups; each group carries its row count c and
    the row-level answer is recovered arithmetically —
      n_matches(row in group g) = (c_g - 1)                # d=0 twins
                                + sum(c_h : h != g, d(g,h) <= 3)
      min_dist = 0 if c_g > 1 else min(d over matched h)
    — then a broadcast join fans the per-name aggregate back onto the
    row frame. DP pair count is now quadratic in DISTINCT names per
    block, not rows: under corpus replication (the sf1.0 fixture, and
    any dedup-worthy corpus) the distinct-name front is invariant, so
    DP work stays FLAT while the old row-level join grew 100x. This is
    exact (levenshtein(a,b) depends only on the strings), so the
    row-level oracle SQL is unchanged and hash parity proves the
    rewrite. The per-entity aggregate keeps output rows linear in the
    table, not in the pair count."""
    p = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.lower(F.col("p_name")).alias("nm"),
        F.concat_ws(
            " ",
            F.split_part(F.lower(F.col("p_name")), F.lit(" "), F.lit(1)),
            F.split_part(F.lower(F.col("p_name")), F.lit(" "), F.lit(2)),
        ).alias("blk"),
    ).localCheckpoint(eager=False)
    # Distinct-name groups with multiplicity; block row-mass via sum(c)
    # reproduces the row-level hot-block cap (mirrored in the oracle's
    # HAVING count(*) <= 10000) without a second scan.
    names = p.groupBy("blk", "nm").agg(F.count("*").alias("c"))
    ok = (
        names.groupBy("blk")
        .agg(F.sum("c").alias("m"))
        .filter(F.col("m") <= 10000)
        .select("blk")
    )
    nb = names.join(F.broadcast(ok), "blk").localCheckpoint(eager=False)
    # Name-level candidate pairs: tiny frame (distinct names per block),
    # spread uniformly so the DPs parallelize; the build side is a
    # broadcast (distinct names of a dimension table fit at any SF —
    # for a fact-sized corpus bucket both sides on blk instead).
    probe = nb.repartition(spark.sparkContext.defaultParallelism, F.col("nm"))
    a, b = probe.alias("a"), F.broadcast(nb).alias("b")
    # Two LOSSLESS prunes on the d <= 3 threshold (round 9): the length
    # bound (|len(a)-len(b)| > 3 implies d > 3, integer compare in
    # codegen) and the banded 3-arg levenshtein (early-exits the DP,
    # returns -1 past the band). The oracle keeps the unbounded form +
    # post-filter: hash-equality proves both prunes exact.
    cross = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.nm") != F.col("b.nm"))
        & (F.abs(F.length("a.nm") - F.length("b.nm")) <= 3),
    ).select(
        F.col("a.blk").alias("blk"),
        F.col("a.nm").alias("nm"),
        F.levenshtein(F.col("a.nm"), F.col("b.nm"), 3).alias("d"),
        F.col("b.c").alias("c_other"),
    )
    other = (
        cross.filter(F.col("d") >= 0)
        .groupBy("blk", "nm")
        .agg(F.sum("c_other").alias("n_other"), F.min("d").alias("min_other"))
    )
    per_name = (
        nb.join(other, ["blk", "nm"], "left")
        .select(
            "blk",
            "nm",
            (F.col("c") - F.lit(1) + F.coalesce("n_other", F.lit(0))).alias(
                "n_matches"
            ),
            F.when(F.col("c") > 1, F.lit(0))
            .otherwise(F.col("min_other"))
            .cast("int")
            .alias("min_dist"),
        )
        .filter(F.col("n_matches") > 0)
    )
    return p.join(F.broadcast(per_name), ["blk", "nm"]).select(
        F.col("k").alias("p_partkey"), "n_matches", "min_dist"
    )


@_register(
    "x_ntile_bucketing",
    sql="""
    SELECT event_type, decile, count(*) AS n,
           round(min(value), 4) AS lo, round(max(value), 4) AS hi
    FROM (
      SELECT event_type, value,
             ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
               AS decile
      FROM events
    )
    GROUP BY event_type, decile
    """,
)
def x_ntile_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: quantile (decile) bucketing per group — the feature-
    binning pass of a feature-engineering pipeline. ntile cuts on
    integer row ranks (total order pinned by (value, event_id)), so
    bucket membership is deterministic and engine-independent — no
    interpolated quantile boundaries to disagree on.

    Round 6: ranks come from operators/rank.stratified_rank (range-
    partitioned two-pass distributed rank), not `ntile() OVER
    (PARTITION BY event_type)` — a handful of event types means the
    window form shuffles the ENTIRE corpus into |event_type| tasks and
    fully sorts each. ntile is then pure integer rank arithmetic: with
    n = 10*q + r rows, buckets 1..r hold q+1 rows and the rest hold q
    (the SQL-standard split), so
      decile(rk) = ceil(rk/(q+1))                  for rk <= r*(q+1)
                 = r + ceil((rk - r*(q+1))/q)      otherwise
    computed with integer `div` (no float rank math). The `div`s in the
    not-taken CASE branch are guarded, so q = 0 (n < 10) never divides
    by zero."""
    from ..operators.rank import stratified_rank

    ev = load(spark, sf_dir, "events").select("event_type", "value", "event_id")
    ranked = stratified_rank(ev, ["event_type"], ["value", "event_id"])
    big = F.col("_r") * (F.col("_q") + 1)  # rows in the (q+1)-sized buckets
    decile = (
        F.when(F.col("rnk") <= big, F.expr("(rnk + _q) div (_q + 1)"))
        .otherwise(F.col("_r") + F.expr("(rnk - _r * (_q + 1) + _q - 1) div _q"))
        .cast("int")
    )
    return (
        ranked.withColumn("_q", F.expr("n_stratum div 10"))
        .withColumn("_r", F.col("n_stratum") % 10)
        .withColumn("decile", decile)
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@_register(
    "x_pivot",
    sql="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS total_f
    FROM orders GROUP BY o_orderpriority
    """,
)
def x_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: PIVOT (wide conditional aggregation). The pivot value
    list is given explicitly so the plan is a single pass — without it
    Spark runs an extra distinct job to discover the columns, an
    anti-pattern at 100 TB. DuckDB oracle is the equivalent CASE-sum
    form (pivot is syntactic sugar over exactly that plan)."""
    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.coalesce("F_total", F.lit(0.0)).alias("total_f"),
    )


@_register(
    "x_unpivot",
    sql="""
    SELECT l_returnflag, measure, round(val, 1) AS val FROM (
      SELECT l_returnflag, 'qty' AS measure, sum(l_quantity) AS val
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'disc' AS measure, sum(l_discount) AS val
      FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def x_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: UNPIVOT / melt (wide -> long), the inverse of x_pivot.
    Aggregates first (3 rows), then unpivots — the Generate runs on the
    tiny aggregated side, never on raw lineitem. Oracle is the UNION
    ALL rendering (what unpivot desugars to relationally)."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        F.sum("l_discount").alias("disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["qty", "disc"], "measure", "_val"
    ).select("l_returnflag", "measure", F.round("_val", 1).alias("val"))


@_register(
    "x_stats_moments",
    sql="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: second-moment statistics (stddev/variance/correlation/
    covariance) — the profiling surface a data-quality pass runs before
    training. All are single-pass partial-aggregable (sum, sum-of-
    squares, cross products), so the plan is the same map-side-combine
    shape as a plain sum at any scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
    )


@_register(
    "x_array_agg",
    sql="""
    SELECT n_name,
           array_to_string(list_sort(list(s_name)), ',') AS suppliers,
           count(*) AS n_supp
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def x_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: grouped list aggregation (collect_list). collect_list
    is order-nondeterministic under parallelism, so the engine always
    sorts before exposing the array (sort_array) — the only way the op
    is well-defined on a cluster. Emitted as a joined string so the
    value-hash is array-encoding agnostic across engines."""
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias(
                "suppliers"
            ),
            F.count("*").alias("n_supp"),
        )
    )


@_register(
    "x_window_frames",
    sql="""
    SELECT l_orderkey, l_linenumber,
           round(sum(l_quantity) OVER w_run, 1) AS running_qty,
           round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) OVER w_move
                 / 100.0, 2) AS move_sum_price,
           round(100.0 * l_quantity / sum(l_quantity) OVER w_full, 2)
             AS pct_of_order
    FROM lineitem
    WHERE l_orderkey % 11 = 0
    WINDOW
      w_run AS (PARTITION BY l_orderkey ORDER BY l_linenumber, CAST(concat('0x', substr(md5(concat_ws('|', CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), CAST(CAST(round(l_quantity * 100, 0) AS BIGINT) AS VARCHAR), CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR))), 1, 14)) AS BIGINT)
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      w_move AS (PARTITION BY l_orderkey ORDER BY l_linenumber, CAST(concat('0x', substr(md5(concat_ws('|', CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR), CAST(CAST(round(l_quantity * 100, 0) AS BIGINT) AS VARCHAR), CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS VARCHAR))), 1, 14)) AS BIGINT)
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      w_full AS (PARTITION BY l_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def x_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: explicit window frames — running total (unbounded
    preceding), moving sum over the last 3 rows (computed on integer
    cents — a moving *average* of doubles lands on exact half-cent
    rounding boundaries where engines disagree), and percent-of-partition
    (full frame). All three windows share one partitioning key, so
    Catalyst plans a single Exchange+Sort feeding two pipelined Window
    operators (ordered frames vs the order-free full frame) — verified:
    the executed plan has exactly one shuffle."""
    from ..functions.hashing import md5_long

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 11 == 0)
    # (l_orderkey, l_linenumber) is NOT unique in the driver testdata
    # (10k+ duplicate groups at sf0.1), and a ROWS frame ordered on a
    # non-unique key is tie-order nondeterministic — sf0.01 happened to
    # agree with DuckDB, sf0.1 did not (caught by the routine sf0.1
    # gate). Tie-break on an engine-identical content hash of the
    # summed columns: rows still tied under it are byte-identical in
    # every input the frames aggregate, so any order yields the same
    # row multiset.
    tiebreak = md5_long(
        F.concat_ws(
            "|",
            F.col("l_partkey").cast("string"),
            F.col("l_suppkey").cast("string"),
            F.round(F.col("l_quantity") * 100, 0).cast("bigint").cast("string"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast("string"),
        )
    )
    by_line = Window.partitionBy("l_orderkey").orderBy("l_linenumber", tiebreak)
    w_run = by_line.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_move = by_line.rowsBetween(-2, Window.currentRow)
    w_full = Window.partitionBy("l_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_quantity").over(w_run), 1).alias("running_qty"),
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).over(
                w_move
            )
            / 100.0,
            2,
        ).alias("move_sum_price"),
        F.round(
            F.lit(100.0) * F.col("l_quantity") / F.sum("l_quantity").over(w_full), 2
        ).alias("pct_of_order"),
    )


@_register(
    "x_grouping_sets",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def x_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: GROUPING SETS beyond rollup/cube — an explicit lattice
    of aggregation levels computed in one scan (Spark expands the sets
    with a single Expand operator feeding one hash aggregate, so the
    fact table is scanned once regardless of how many levels are asked
    for). grouping() markers disambiguate 'NULL because aggregated
    away' from genuine NULL data."""
    o = load(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@_register(
    "x_scalar_subquery",
    sql="""
    SELECT c_mktsegment,
           count(*) AS n_above,
           count(CASE WHEN c_acctbal > 7500.0 THEN 1 END) AS n_high,
           round(sum(CASE WHEN c_nationkey % 2 = 0 THEN c_acctbal END), 2)
             AS even_nation_bal,
           round(min(c_acctbal), 2) AS min_above
    FROM customer
    WHERE c_acctbal > (SELECT round(avg(c_acctbal), 2) FROM customer)
    GROUP BY c_mktsegment
    """,
)
def x_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: uncorrelated scalar subquery + conditional aggregation.
    In Spark the scalar is a one-row aggregate broadcast into the filter
    (BroadcastNestedLoopJoin over a single row — free at any scale; the
    fact side streams through unfiltered until the scalar arrives via
    AQE). Conditional aggregates are the sum(CASE WHEN) form, which
    stays partial-aggregable. The scalar is rounded to 2 decimals on
    both engines so a last-ulp difference in the double average cannot
    flip rows at the comparison boundary."""
    c = load(spark, sf_dir, "customer")
    threshold = c.agg(F.round(F.avg("c_acctbal"), 2).alias("_thr"))
    return (
        c.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("_thr"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_above"),
            F.count(F.when(F.col("c_acctbal") > 7500.0, 1)).alias("n_high"),
            F.round(
                F.sum(F.when(F.col("c_nationkey") % 2 == 0, F.col("c_acctbal"))), 2
            ).alias("even_nation_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_above"),
        )
    )


@_register(
    "x_decimal_agg",
    sql="""
    SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS exact_revenue,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
             AS exact_discounted
    FROM lineitem GROUP BY l_returnflag
    """,
)
def x_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: exact DECIMAL aggregation — the money path. Doubles
    accumulate rounding error that depends on partition count and merge
    order, so at 1000 executors a double sum is nondeterministic in the
    last ulp; casting to DECIMAL(18,2) first makes the sum exact and
    order-independent (Spark widens to DECIMAL(28,2) internally, still
    hash-aggregable with map-side partials). The final cast back to
    DOUBLE is only for a hash-stable cross-engine comparison."""
    li = load(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(price).cast("double"), 2).alias("exact_revenue"),
        F.round(F.sum(price * disc).cast("double"), 4).alias("exact_discounted"),
    )


@_register(
    "x_null_safe_join",
    sql="""
    WITH e AS (
      SELECT event_id,
             CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id % 7 END AS grp
      FROM events
    ), d AS (
      SELECT CASE WHEN g = -1 THEN NULL ELSE g END AS grp,
             concat('seg_', CAST(g AS VARCHAR)) AS seg
      FROM (SELECT unnest(generate_series(-1, 6)) AS g)
    )
    SELECT seg, count(*) AS n, CAST(min(event_id) AS BIGINT) AS min_event
    FROM e JOIN d ON e.grp IS NOT DISTINCT FROM d.grp
    GROUP BY seg
    """,
)
def x_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: null-safe equality join (<=> / IS NOT DISTINCT FROM) —
    NULL keys match each other instead of silently dropping, the
    semantics a sessionless/unknown-user bucket needs. Spark plans
    eqNullSafe as an ordinary equi-join key (hashable, broadcastable);
    it does NOT degrade to a nested-loop join."""
    e = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("user_id") % 10 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 7)
        .alias("grp"),
    )
    d = spark.range(-1, 7).select(
        F.when(F.col("id") == -1, F.lit(None)).otherwise(F.col("id")).alias("grp"),
        F.concat(F.lit("seg_"), F.col("id").cast("string")).alias("seg"),
    )
    return (
        e.join(F.broadcast(d), e.grp.eqNullSafe(d.grp))
        .groupBy("seg")
        .agg(F.count("*").alias("n"), F.min("event_id").alias("min_event"))
    )


@_register(
    "x_union_by_name",
    sql="""
    SELECT src, count(*) AS n, count(bal) AS n_with_bal,
           round(sum(coalesce(bal, 0)), 2) AS sum_bal, min(name) AS min_name
    FROM (
      SELECT c_custkey AS ent_id, c_name AS name, c_acctbal AS bal,
             'cust' AS src
      FROM customer
      UNION ALL BY NAME
      SELECT s_suppkey AS ent_id, s_name AS name, 'supp' AS src
      FROM supplier
    )
    GROUP BY src
    """,
)
def x_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: schema-evolution-tolerant union (unionByName with
    allowMissingColumns) — the operation a shard-merging ingest needs
    when old shards lack columns newer ones carry. Columns are matched
    by NAME, not position; absent columns become NULL (visible here as
    count(bal) < count(*) on the supplier side). Verified against
    DuckDB's UNION ALL BY NAME."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ent_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.lit("cust").alias("src"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("ent_id"),
        F.col("s_name").alias("name"),
        F.lit("supp").alias("src"),
    )
    return (
        c.unionByName(s, allowMissingColumns=True)
        .groupBy("src")
        .agg(
            F.count("*").alias("n"),
            F.count("bal").alias("n_with_bal"),
            F.round(F.sum(F.coalesce("bal", F.lit(0))), 2).alias("sum_bal"),
            F.min("name").alias("min_name"),
        )
    )


@_register(
    "x_nulls_ordering",
    sql="""
    SELECT c_custkey,
           rank() OVER (ORDER BY bal ASC NULLS FIRST, c_custkey) AS rnk_nf,
           rank() OVER (ORDER BY bal DESC NULLS LAST, c_custkey) AS rnk_nl
    FROM (SELECT c_custkey,
                 CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
          FROM customer WHERE c_custkey % 9 = 0)
    """,
)
def x_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: explicit NULLS FIRST / NULLS LAST ordering, made
    observable through rank values. The engines DISAGREE on defaults
    (Spark: nulls first on ASC; DuckDB: nulls last everywhere), so the
    engine's rule is that ordered operators always state null placement
    explicitly — this query pins that both placements are honored.

    Round 6: a GLOBAL rank is the one ranking no partition key can
    save — `rank() OVER (ORDER BY ...)` plans a single-partition sort
    of the whole (SF-scaling) table. Both rankings now ride
    operators/rank.stratified_rank with NO strata (the whole frame is
    one stratum spread by the range partitioner): null placement is
    encoded in derived sort keys (NULL -> -inf for ASC NULLS FIRST;
    NULL -> +inf with negated balance for DESC NULLS LAST — balances
    are finite doubles, so the sentinels are strictly outside the value
    domain), and the unique c_custkey tie-break makes rank() equal to
    the distributed row_number. The two rankings co-join on the
    customer key."""
    from ..operators.rank import stratified_rank

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 9 == 0)
    bal = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    src = c.select("c_custkey", bal.alias("bal"))
    k_nf = F.when(F.col("bal").isNull(), F.lit(float("-inf"))).otherwise(
        F.col("bal")
    )
    k_nl = F.when(F.col("bal").isNull(), F.lit(float("inf"))).otherwise(
        -F.col("bal")
    )
    nf = stratified_rank(
        src.select("c_custkey", k_nf.alias("_k")), [], ["_k", "c_custkey"],
        rank_col="rnk_nf",
    ).select("c_custkey", F.col("rnk_nf").cast("int").alias("rnk_nf"))
    nl = stratified_rank(
        src.select("c_custkey", k_nl.alias("_k")), [], ["_k", "c_custkey"],
        rank_col="rnk_nl",
    ).select("c_custkey", F.col("rnk_nl").cast("int").alias("rnk_nl"))
    return nf.join(nl, "c_custkey").select("c_custkey", "rnk_nf", "rnk_nl")


_PR_ITERS = 3
# far above any c_custkey (150k*SF): customer/supplier node spaces
# must stay disjoint or the symmetrized graph silently merges entities
_PR_SUPP_OFFSET = 10**12

_PR_EDGES_SQL = f"""
    half AS (
      SELECT DISTINCT o_custkey AS src,
             l_suppkey + {_PR_SUPP_OFFSET} AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT src, dst FROM half
      UNION ALL
      SELECT dst AS src, src AS dst FROM half
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)
"""


def _pr_iter_sql(prev: str, cur: str) -> str:
    """One integer power-iteration step as a DuckDB CTE."""
    return f"""
    {cur} AS (
      SELECT e.dst AS node,
             150000 + (85 * sum(r.rank_micro // d.outdeg)) // 100
               AS rank_micro
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""


@_register(
    "x_pagerank_exact",
    sql=f"""
    WITH {_PR_EDGES_SQL},
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg),
    {_pr_iter_sql('r0', 'r1')},
    {_pr_iter_sql('r1', 'r2')},
    {_pr_iter_sql('r2', 'r3')}
    SELECT node, CAST(rank_micro AS BIGINT) AS rank_micro
    FROM r3 ORDER BY rank_micro DESC, node LIMIT 20
    """,
)
def x_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: PageRank (Page, Brin, Motwani & Winograd 1999,
    damping 0.85) over the customer<->supplier transaction graph
    (edges = distinct customer-supplier pairs through
    orders |x| lineitem, symmetrized) — the iterative-graph family
    beyond connected components: 3 power iterations of
    rank' = 0.15 + 0.85 * sum(rank/outdeg over in-neighbors), top-20.
    The ORACLE-VERIFIED twin of the float x_pagerank (rows-only,
    numpy-pinned): integer arithmetic makes the iteration itself
    hash-matchable against DuckDB's recursive-CTE-free chained form.

    Cross-engine determinism: INTEGER PageRank in micro-units — the
    per-edge contribution is rank_micro div outdeg (floor) and the
    damping step is (85 * sum) div 100 + 150000, so every iteration is
    exact int64 arithmetic with identical flooring in both engines (no
    float accumulation order to disagree on). Every node in this
    symmetrized graph has outdeg >= 1, so no dangling-mass term.

    Scale shape: the edge list is localCheckpoint-ed once (built from
    one orders |x| lineitem join + distinct) with the degree table
    joined in ONCE up front; each iteration is then one hash join of
    the rank frame (|nodes| rows) with the contribution-ready edge
    list on the src key plus one partial-aggregable groupBy(dst) —
    the standard distributed PageRank step, N iterations = N
    join+agg rounds, nothing driver-side. Top-20 via orderBy+limit
    (TakeOrderedAndProject)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    half = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _PR_SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # degree joined once: iterations reuse this frame, so each step is
    # a single join on the rank key
    ed = edges.join(deg, "src").localCheckpoint(eager=False)
    rank = deg.select(
        F.col("src").alias("node"), F.lit(1_000_000).cast("long").alias("rank_micro")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ed.join(rank, ed.src == rank.node)
            .select(
                "dst",
                F.expr("rank_micro div outdeg").alias("c"),
            )
        )
        rank = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(
                (F.lit(150_000) + F.expr("(85 * sum(c)) div 100"))
                .cast("long")
                .alias("rank_micro")
            )
            # cut lineage per round like the BFS/SSSP/temporal loops:
            # without this the plan accretes one join+agg layer per
            # iteration (caught by test_graph_probe's lineage bound)
            .localCheckpoint(eager=False)
        )
    return rank.orderBy(F.desc("rank_micro"), F.asc("node")).limit(20)


@_register(
    "x_bitmap_distinct",
    sql="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           count(*) AS n_rows
    FROM orders GROUP BY o_orderpriority
    """,
)
def x_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: EXACT distinct customers per order priority via
    bitmap-word aggregation (operators/bitmap.py) instead of
    COUNT(DISTINCT): ids bucket into 32-bit words, `bit_or` merges
    map-side, `sum(bit_count(word))` folds the count. The exchange
    carries |id-domain|/32 words per group rather than the full
    (group, id) pair multiset Spark's two-stage distinct shuffles —
    the Roaring-bitmap shape for dense id domains, all built-in JVM
    aggregates. The oracle is plain COUNT(DISTINCT): a hash match
    proves the bitmap path exact."""
    from ..operators import bitmap

    o = load(spark, sf_dir, "orders")
    words = bitmap.bitmap_words(o, ["o_orderpriority"], "o_custkey")
    return bitmap.distinct_counts(words, ["o_orderpriority"])


@_register(
    "x_bitmap_overlap",
    sql=f"""
    WITH s AS (SELECT DISTINCT o_orderpriority AS g, o_custkey AS id FROM orders),
    d AS (SELECT g, count(*) AS nd FROM s GROUP BY g),
    pairs AS (
      SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_inter
      FROM s a JOIN s b ON a.id = b.id AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT g_a, g_b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(da.nd + db.nd - n_inter AS BIGINT) AS n_union,
           {ratio_round_sql("n_inter", "da.nd + db.nd - n_inter", 4)} AS jaccard
    FROM pairs JOIN d da ON g_a = da.g JOIN d db ON g_b = db.g
    WHERE n_inter > 0
    """,
)
def x_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: pairwise audience overlap (|A∩B|, |A∪B|, Jaccard)
    between order-priority customer sets, computed from bitmap WORDS:
    the self-join keys on word index and `bit_count(word_a & word_b)`
    counts the intersection, so the exchange is O(|id-domain|/32 ×
    groups) — never the O(ids²-ish) raw-id self-join the oracle runs.
    The segment-overlap query every audience engine serves, exact, no
    UDF. Oracle: inner-join-on-id ground truth."""
    from ..operators import bitmap

    o = load(spark, sf_dir, "orders")
    words = bitmap.bitmap_words(o, ["o_orderpriority"], "o_custkey")
    return bitmap.pairwise_overlap(words, "o_orderpriority")


def bucketed_tables(spark: SparkSession, sf_dir: str, n_buckets: int = 8):
    """Write lineitem + orders as Hive-bucketed tables on the join key
    and return (lineitem_df, orders_df, cleanup_fn). Bucketing is the
    co-located-join layout the brief calls out: both sides hash into
    the same bucket scheme at WRITE time, so every later equi-join on
    the bucket key is exchange-free — at 100 TB the fact-fact join
    becomes bucket-local file zips instead of a full-table shuffle
    (pick ~4096 buckets there; 8 keeps the fixture readable). Tables
    are session-scoped externals under a tempdir: DataFrameWriter
    only materializes bucket metadata through saveAsTable."""
    import os
    import shutil

    tmp = scratch_dir("bucketed_")
    tag = os.path.basename(tmp).removeprefix("bucketed_")
    li_tbl, o_tbl = f"bk_lineitem_{tag}", f"bk_orders_{tag}"

    # round 13 (guide §2.6 overlap independent jobs): the two bucketed
    # ingest writes share no inputs or outputs, so they run from a
    # two-thread pool and the smaller write back-fills executors freed
    # by the larger one's tail (write phase 2.70 -> ~1.9 s warm A/B on
    # this box). Job descriptions are thread-local, so each job stays
    # correctly labelled; the in-memory catalog handles concurrent
    # saveAsTable. On a cluster this is the standard concurrent-ingest
    # shape — actions were only sequential because the driver called
    # them sequentially.
    def _write(cols: list[str], key: str, src: str, name: str):
        spark.sparkContext.setJobDescription(f"bucketed ingest: {src}")
        (
            load(spark, sf_dir, src)
            .select(*cols)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", f"{tmp}/{src}")
            .mode("overwrite")
            .saveAsTable(name)
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                _write, ["l_orderkey", "l_quantity"], "l_orderkey",
                "lineitem", li_tbl,
            ),
            pool.submit(
                _write, ["o_orderkey", "o_orderpriority"], "o_orderkey",
                "orders", o_tbl,
            ),
        ]
        for f in futs:
            f.result()

    def cleanup():
        spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        shutil.rmtree(tmp, ignore_errors=True)

    return spark.table(li_tbl), spark.table(o_tbl), cleanup


@_register(
    "x_bucketed_join",
    sql="""
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_quantity), 1) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def x_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: SHUFFLE-FREE fact-fact equi-join via bucketed tables.
    Both sides are written bucketed by the join key (bucketed_tables),
    so the SortMergeJoin consumes bucket-aligned scans directly —
    tests/test_plan_contracts.py pins ZERO Exchange nodes below the
    join (vs >= 2 for the same join over plain parquet). This is the
    layout answer to "is there a shuffle here that becomes the
    bottleneck at 100x": pay the partitioning once at ingest, amortize
    it over every downstream join on the key. Result is materialized
    before the session tables drop; oracle is the plain join."""
    li, o, cleanup = bucketed_tables(spark, sf_dir)
    try:
        out = (
            li.hint("merge")
            .join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum("l_quantity"), 1).alias("total_qty"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        cleanup()


@_register(
    "x_dq_checks",
    sql="""
    SELECT 'orders_pk_unique' AS chk,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST(count(*) AS BIGINT)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders_price_positive',
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_discount_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0
                    END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_ts_not_null',
           CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
)
def x_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: DATA-QUALITY constraint validation (the
    dbt-test/Great-Expectations shape) — six declarative checks over
    three tables folded into one violations report: primary-key
    uniqueness, referential integrity (anti-join), value positivity,
    two domain-range checks, and a null-rate check. Each
    check is one partial-aggregable scan or one anti semi-join — the
    report costs one pass per table at any scale, and a violating ROW
    never leaves its executor (only counts move). On the synthetic
    fixture every check passes (all-zero violations), which the oracle
    hash-verifies — the point is the harness, not planted dirt; a
    planted-violation variant is pinned in tests/test_registry.py."""
    return dq_report(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "events"),
    )


def dq_report(o: DataFrame, li: DataFrame, ev: DataFrame) -> DataFrame:
    """The x_dq_checks constraint battery over caller-supplied frames —
    split out so tests can plant violations and assert the report
    counts them (tests/test_registry.py)."""

    def one(name, df):
        return df.select(F.lit(name).alias("chk"), F.col("v").cast("long").alias("n_violations"))

    checks = [
        one(
            "orders_pk_unique",
            o.agg((F.count("*") - F.countDistinct("o_orderkey")).alias("v")),
        ),
        one(
            "lineitem_fk_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count("*").alias("v")
            ),
        ),
        one(
            "orders_price_positive",
            o.agg(
                F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("v")
            ),
        ),
        one(
            "lineitem_discount_range",
            li.agg(
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
        one(
            "events_ts_not_null",
            ev.agg(F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("v")),
        ),
        one(
            "lineitem_qty_range",
            li.agg(
                F.sum(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@_register(
    "x_bloom_semi_join",
    sql="""
    SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
           count(*) AS n_orders,
           CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_checksum
    FROM orders o
    SEMI JOIN (SELECT c_custkey FROM customer
               WHERE c_mktsegment = 'AUTOMOBILE') c
      ON o.o_custkey = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
)
def x_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (round 8): BLOOM-FILTER SEMI-JOIN PUSHDOWN — the
    technique that makes a selective dimension filter reach a
    100 TB fact scan when even the filtered keys are too many to
    broadcast as rows. A fixed-size bloom built over the filtered
    dimension keys ships ONE bitmap to every executor; the fact side
    drops non-matching rows map-side BEFORE the shuffle the exact join
    needs; the exact left-semi join then removes the bloom's false
    positives, so the result is IDENTICAL to the plain semi join
    (which is the full oracle — the bloom sandwich is provably
    pass-through: no false negatives). At 100 TB the pre-filter is the
    difference between shuffling the whole fact table and shuffling
    ~the matching fraction; Spark's runtime-filter feature does this
    opportunistically where its cost model fires, this operator pins
    the shape EXPLICITLY (selectivity known to the pipeline author,
    FPP budget chosen, application guaranteed).

    Plan shape: dim filter -> distributed bitmap fold (one m-bit bitmap
    per partition, driver ORs them — operators/membership.bloom_build,
    the e4_contamination_bloom machinery) -> ONE broadcast bitmap ->
    map-side probe drops non-members pre-shuffle -> left-semi join
    removes false positives -> partial agg. The pre-filter's actual
    pruning is pinned in tests (sandwich: pre-filtered count sits
    between the semi-join result and the raw scan, strictly below the
    scan)."""
    from ..operators import membership

    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    bitmap = membership.bloom_build(
        cust.select(F.xxhash64("c_custkey").alias("k")), "k", m_bits=1 << 18
    )
    pre = membership.bloom_probe(
        orders.withColumn("k", F.xxhash64("o_custkey")),
        "k",
        bitmap,
        m_bits=1 << 18,
    ).filter(F.col("bloom_member"))
    exact = pre.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    )
    return (
        exact.groupBy(
            F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias("month")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_orderkey") % 1000003).alias("key_checksum"),
        )
        .orderBy("month")
    )
