"""Round-9 analytics extensions: mergeable sketches, MERGE INTO
semantics, deterministic sampling, time-series diagnostics, categorical
association, k-NN classification, and corpus keyword extraction.

Everything here follows the engine's two cross-engine disciplines:

* integer-exact arithmetic end to end (md5_long hashes, scaled-integer
  ratios via functions/rounding, DECIMAL(38,0) <-> HUGEINT for the
  products that outgrow int64), so every query carries a FULL DuckDB
  value oracle;
* mergeable partial aggregates only — sketches merge with max/sum,
  moments with sum, samples with bottom-k — so each plan is one or two
  shuffles of group-size rows no matter the corpus size.

The window-lint rules hold: no unpartitioned Window (global orderings
go through operators/rank.attach_bounded_rank on bounded frames),
no CartesianProduct (one-row total frames join via broadcast), no
row-at-a-time Python UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.rounding import ratio_round_big, ratio_round_big_sql
from ..io_util import load
from ..operators.rank import attach_bounded_rank
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


def _div_round_int(num: Column, den: Column, decimals: int = 6) -> Column:
    """Integer-valued HALF-UP round(num/den * 10^decimals) as BIGINT —
    :func:`~..functions.rounding.ratio_round_big` without the final
    float division, for values that must be SUMMED afterwards (a sum of
    exact integers is order-independent; a sum of rounded doubles is
    not). ``num`` may be negative, ``den`` positive; DECIMAL(38,0)
    arithmetic exactly as ratio_round_big."""
    p = 10**decimals
    a = F.abs(num).cast("decimal(38,0)") * F.lit(2 * p) + den.cast("decimal(38,0)")
    b = den.cast("decimal(38,0)") * F.lit(2)
    q = ((a - F.pmod(a, b)) / b).cast("long")
    return F.when(num < 0, -q).otherwise(q)


def _div_round_int_sql(num: str, den: str, decimals: int = 6) -> str:
    """DuckDB rendering of :func:`_div_round_int` (HUGEINT // floor
    division on the magnitude, sign re-applied, result BIGINT)."""
    p = 10**decimals
    return (
        f"CAST((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END)"
        f" * ((ABS(CAST(({num}) AS HUGEINT)) * {2 * p} + ({den}))"
        f" // (2 * CAST(({den}) AS HUGEINT))) AS BIGINT)"
    )


# ------------------------------------------------------------------ HLL
# model constants + register/estimate kernels live in operators/sketch
# (shared with the streaming maintenance twin); the oracle SQL below
# embeds the SAME values, so twins and batch hash against one model.
from ..operators import sketch as _sketch

_HLL_M = _sketch.HLL_M
_HLL_EST_NUM = _sketch.HLL_EST_NUM
_HLL_LC_CUTOVER = _sketch.HLL_LC_CUTOVER

_HLL_RANK_SQL = (
    "CASE WHEN h // 256 > 0 THEN 49 - length(bin(h // 256)) ELSE 49 END"
)

# V empty registers -> round(m*ln(m/V)): the ln() both engines would
# disagree on (last-ulp libm differences) is precomputed once and
# embedded as identical integer literals in the Spark plan and the
# oracle SQL — the correction stays fully value-oracled without a
# cross-engine float.
_HLL_LC_SQL = "lc(v, lc_est) AS (VALUES " + ", ".join(
    f"({v}, {e})" for v, e in _sketch.hll_lc_table()
) + ")"


@_register(
    "x_hll_union_estimate",
    sql=f"""
    WITH b AS (
      SELECT event_type AS scope,
             {md5_long_sql("CAST(user_id AS VARCHAR)", salt="|hll")} AS h
      FROM events
      UNION ALL
      SELECT CASE WHEN user_id % 2 = 0 THEN 'u_even' ELSE 'u_odd' END AS scope,
             {md5_long_sql("CAST(user_id AS VARCHAR)", salt="|hll")} AS h
      FROM events
    ),
    regs AS (
      SELECT scope, h % 256 AS bucket, MAX({_HLL_RANK_SQL}) AS r
      FROM b GROUP BY 1, 2
    ),
    regs_all AS (
      SELECT scope, bucket, r FROM regs
      UNION ALL
      SELECT 'u_even+u_odd' AS scope, bucket, MAX(r) AS r
      FROM regs WHERE scope IN ('u_even', 'u_odd') GROUP BY bucket
    ),
    per_scope AS (
      SELECT scope,
             count(*) AS n_registers,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - r)) AS BIGINT)
               + (256 - count(*)) * (CAST(1 AS BIGINT) << 49) AS s_scaled
      FROM regs_all GROUP BY scope
    ),
    exact AS (
      SELECT event_type AS scope, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
      UNION ALL
      SELECT CASE WHEN user_id % 2 = 0 THEN 'u_even' ELSE 'u_odd' END,
             count(DISTINCT user_id)
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'u_even+u_odd', count(DISTINCT user_id) FROM events
    ),
    {_HLL_LC_SQL},
    raw AS (
      SELECT scope, n_registers, 256 - n_registers AS n_empty,
             {ratio_round_big_sql(
                 str(_HLL_EST_NUM), "1000000 * CAST(s_scaled AS HUGEINT)", 0
             )} AS raw_est
      FROM per_scope
    )
    SELECT r.scope, r.n_registers,
           CASE WHEN r.n_empty > 0 AND r.raw_est <= {_HLL_LC_CUTOVER}
                THEN CAST(lc.lc_est AS DOUBLE) ELSE r.raw_est END AS est_hll,
           n_exact
    FROM raw r
    JOIN exact e ON r.scope = e.scope
    LEFT JOIN lc ON lc.v = r.n_empty
    ORDER BY r.scope
    """,
)
def x_hll_union_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: deterministic HyperLogLog (Flajolet et al. 2007) with
    a FULL value oracle — per-event-type distinct-user estimates plus a
    REGISTER-LEVEL union merge of two DISJOINT scopes (even/odd user
    ids, ~n/2 each, whose merged sketch must estimate ~n), next to the
    exact counts for honest error reporting.

    Determinism: the 56-bit md5_long hash splits into an 8-bit bucket
    and a 48-bit rank window; rank = 49 - length(bin(w)) is the
    leading-zero count in pure integer ops both engines evaluate
    identically. The harmonic sum is scaled by 2^49 so every register
    contributes an exact integer 2^(49-r) (empty registers 2^49), and
    the alpha*m^2 estimate divides once through DECIMAL(38,0)/HUGEINT.
    The standard small-range correction (raw <= 2.5m and empty
    registers present -> linear counting m*ln(m/V)) is a 256-entry
    INTEGER lookup precomputed in _hll_lc_table and embedded as
    identical literals in both plans — the only ln() in the operator
    never runs inside an engine. No float enters until the final exact
    int->double conversion.

    Scale shape: THE mergeable-sketch discipline — groupBy(scope,
    bucket) max(rank) is a partial-aggregable map-side combine, the
    sketch is 256 rows per scope regardless of corpus size, and the
    u_even+u_odd union merges REGISTERS (max of maxes over 512 rows),
    never re-reading the data: at 100 TB per-day/per-partition sketches
    roll up associatively the same way. 10 TB of user ids -> 2 KB of
    registers per scope."""
    e = load(spark, sf_dir, "events")
    parity_scope = F.when(F.col("user_id") % 2 == 0, "u_even").otherwise("u_odd")
    # ONE corpus scan feeds every scope: each event contributes its
    # row to the event-type scope AND its user-parity scope via a
    # 2-element explode (a union of two selects would scan twice)
    base = e.select(
        F.explode(F.array(F.col("event_type"), parity_scope)).alias("scope"),
        "user_id",
    )
    regs = _sketch.hll_registers(base, ["scope"], "user_id")
    regs_union = (
        regs.filter(F.col("scope").isin("u_even", "u_odd"))
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .select(F.lit("u_even+u_odd").alias("scope"), "bucket", "r")
    )
    est = _sketch.hll_estimate(regs.unionByName(regs_union), ["scope"])
    exact = base.groupBy("scope").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    exact_union = e.agg(F.countDistinct("user_id").alias("n_exact")).select(
        F.lit("u_even+u_odd").alias("scope"), "n_exact"
    )
    return (
        est.join(F.broadcast(exact.unionByName(exact_union)), "scope")
        .select("scope", "n_registers", "est_hll", "n_exact")
        .orderBy("scope")
    )


# ----------------------------------------------------------- MERGE INTO
_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


@_register(
    "x_merge_into",
    sql=f"""
    WITH t AS (
      SELECT o_orderkey AS k, {_CENTS} AS cents
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    s AS (
      SELECT o_orderkey AS k, {_CENTS} + 500 AS new_cents,
             CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    m AS (
      SELECT CASE
               WHEN s.k IS NULL THEN 'kept'
               WHEN t.k IS NULL AND s.op = 'U' THEN 'inserted'
               WHEN t.k IS NULL THEN 'noop'
               WHEN s.op = 'D' THEN 'deleted'
               ELSE 'updated'
             END AS action,
             CASE
               WHEN s.k IS NULL THEN t.cents
               WHEN t.k IS NULL AND s.op = 'U' THEN s.new_cents
               WHEN t.k IS NULL THEN CAST(0 AS BIGINT)
               WHEN s.op = 'D' THEN t.cents
               ELSE s.new_cents
             END AS cents
      FROM t FULL OUTER JOIN s ON t.k = s.k
    )
    SELECT action, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM m GROUP BY action ORDER BY action
    """,
)
def x_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: full MERGE INTO semantics (SQL:2003 / Delta-Lake
    shape) as ONE shuffled full-outer join — WHEN MATCHED AND op='D'
    THEN DELETE, WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED AND op='U'
    THEN INSERT, WHEN NOT MATCHED [BY SOURCE] THEN keep — over a
    deterministic target/source split of orders. Output is the
    per-action row count and cents checksum, value-pinning every branch
    (deleted rows are accounted before they drop; not-matched 'D' rows
    are the MERGE no-op branch).

    Prices enter as exact cents (round(price*100): TPC-H prices carry
    two decimals, so the double sits ~1e-9 from the integer, far from
    any .5 boundary — both engines agree).

    Scale shape: MERGE at 100 TB is exactly this plan — one
    partitioned-hash full outer join on the table key plus a
    map-side-combinable action aggregate; with the target bucketed on
    the key (x_bucketed_join) the shuffle halves to the source side."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    t = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("cents")
    )
    s = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        (cents + 500).alias("new_cents"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
    )
    m = t.join(s, "k", "full_outer").select(
        F.when(F.col("op").isNull(), "kept")
        .when(F.col("cents").isNull() & (F.col("op") == "U"), "inserted")
        .when(F.col("cents").isNull(), "noop")
        .when(F.col("op") == "D", "deleted")
        .otherwise("updated")
        .alias("action"),
        F.when(F.col("op").isNull(), F.col("cents"))
        .when(F.col("cents").isNull() & (F.col("op") == "U"), F.col("new_cents"))
        .when(F.col("cents").isNull(), F.lit(0).cast("long"))
        .when(F.col("op") == "D", F.col("cents"))
        .otherwise(F.col("new_cents"))
        .alias("out_cents"),
    )
    return (
        m.groupBy("action")
        .agg(F.count("*").alias("n"), F.sum("out_cents").alias("sum_cents"))
        .orderBy("action")
    )


# --------------------------------------------------- deterministic sample
@_register(
    "x_reservoir_sample",
    sql=f"""
    WITH b AS (
      SELECT event_type, event_id,
             {md5_long_sql("CAST(event_id AS VARCHAR)", salt="|smp")} AS h
      FROM events
    )
    SELECT scope, rnk, event_id, h FROM (
      SELECT event_type AS scope, event_id, h,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY h, event_id) AS INTEGER) AS rnk
      FROM b
    ) WHERE rnk <= 20
    UNION ALL
    SELECT '__global__' AS scope, rnk, event_id, h FROM (
      SELECT event_id, h,
             CAST(row_number() OVER (ORDER BY h, event_id) AS INTEGER) AS rnk
      FROM b
    ) WHERE rnk <= 50
    """,
)
def x_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: deterministic uniform sampling WITHOUT replacement —
    the bottom-k-by-hash reservoir (Vitter's Algorithm R's mergeable
    cousin): rank rows by a salted md5_long of the key and keep the k
    smallest, per event_type (k=20) and globally (k=50).

    Why bottom-k instead of rand(): the sample is (a) deterministic
    across engines (full value oracle, no RNG), (b) MERGEABLE — the
    bottom-k of a union is the bottom-k of the per-partition bottom-ks,
    so executors keep k rows each and the driver-side merge is k*P
    rows, and (c) stable under reruns/backfills (the same rows sample
    every time — critical for reproducible training subsets).

    Scale shape: the per-type sample is a partitioned window (one
    shuffle on event_type); the global sample is orderBy(h).limit(k) —
    Spark plans TakeOrderedAndProject, the per-partition-top-k + merge
    this operator is named after. No unpartitioned Window node."""
    from ..operators.similarity import grouped_topk

    e = load(spark, sf_dir, "events")
    b = e.select(
        "event_type",
        "event_id",
        md5_long(F.col("event_id").cast("string"), salt="|smp").alias("h"),
    )
    # mergeable partial bottom-k, NOT a per-type row_number window: with
    # a handful of event types the window form shuffles the whole corpus
    # into |types| unsplittable tasks; grouped_topk's exchange is
    # n_partitions * types * k rows at any scale
    per_type = grouped_topk(
        b, 20, order_col="h", ascending=True,
        group_col="event_type", id_col="event_id",
    ).select(F.col("event_type").alias("scope"), "rnk", "event_id", "h")
    g = b.orderBy("h", "event_id").limit(50)
    global_k = attach_bounded_rank(g, [F.asc("h"), F.asc("event_id")]).select(
        F.lit("__global__").alias("scope"), "rnk", "event_id", "h"
    )
    return per_type.unionByName(global_k)


# ------------------------------------------------------- autocorrelation
_ACF_NUM = "n * n * sxy - n * sx * (sh + st) + p * sx * sx"
_ACF_DEN = "n * (n * sxx - sx * sx)"


@_register(
    "x_autocorr_lags",
    sql=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx FROM daily
    ),
    lags AS (
      SELECT CAST(lag AS INTEGER) AS lag
      FROM (SELECT unnest(range(1, 8)) AS lag)
    ),
    pairs AS (
      SELECT l.lag, count(*) AS p,
             sum(a.x * b.x) AS sxy, sum(a.x) AS sh, sum(b.x) AS st
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.lag
      GROUP BY l.lag
    )
    SELECT lag, p AS n_pairs,
           {ratio_round_big_sql(_ACF_NUM, _ACF_DEN, 6)} AS acf
    FROM pairs CROSS JOIN tot
    ORDER BY lag
    """,
)
def x_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: sample autocorrelation of the daily event-count
    series at calendar lags 1..7 — the seasonality diagnostic every
    metrics pipeline runs before forecasting (lag-7 spikes = weekly
    cycle). Defined on CALENDAR lags (join day+L = day), so missing
    days pair with nothing instead of silently shifting the series.

    Exact-integer form, window-free: acf(L) = sum((x_t-mu)(x_{{t+L}}-mu))
    / sum((x_t-mu)^2) with mu = Sx/n expands to
    (n^2*Sxy - n*Sx*(Sh+St) + p*Sx^2) / (n*(n*Sxx - Sx^2)) — every term
    an integer moment, divided once through DECIMAL(38,0)/HUGEINT
    (exact to any SF), never an ordered window: the lag pairing is an
    equi-join on day+L, which Spark hashes like any other join.

    Scale shape: the corpus collapses to one row per day FIRST
    (partial-aggregable count), so the lag join runs on ~365 rows/year
    regardless of corpus size; the 7-lag expansion broadcasts."""
    e = load(spark, sf_dir, "events")
    # the tiny daily aggregate feeds three consumers (totals + both lag
    # sides): lazily localCheckpoint so the corpus scans once
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    tot = daily.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        "lag", F.date_add("day", F.col("lag")).alias("jday"), F.col("x").alias("xa")
    )
    b = daily.select(F.col("day").alias("jday"), F.col("x").alias("xb"))
    pairs = a.join(b, "jday").groupBy("lag").agg(
        F.count("*").alias("p"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
        F.sum("xa").alias("sh"),
        F.sum("xb").alias("st"),
    )
    j = pairs.crossJoin(F.broadcast(tot))
    n, sx, sxx, p, sxy, sh, st = [
        F.col(c).cast("decimal(38,0)")
        for c in ("n", "sx", "sxx", "p", "sxy", "sh", "st")
    ]
    num = n * n * sxy - n * sx * (sh + st) + p * sx * sx
    den = n * (n * sxx - sx * sx)
    return j.select(
        "lag",
        F.col("p").alias("n_pairs"),
        ratio_round_big(num, den, 6).alias("acf"),
    ).orderBy("lag")


# -------------------------------------------------- seasonal decomposition
@_register(
    "x_seasonal_decompose",
    sql=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x
      FROM events GROUP BY 1
    ),
    trend AS (
      SELECT a.day, a.x, count(*) AS w, sum(b.x) AS sum7
      FROM daily a JOIN daily b
        ON b.day BETWEEN a.day - INTERVAL 3 DAY AND a.day + INTERVAL 3 DAY
      GROUP BY a.day, a.x
    ),
    full7 AS (
      SELECT day, x, sum7, 7 * x - sum7 AS detr7
      FROM trend WHERE w = 7
    )
    SELECT CAST(isodow(day) AS INTEGER) AS dow, count(*) AS n_days,
           {ratio_round_big_sql("sum(detr7)", "7 * count(*)", 6)} AS seasonal,
           {ratio_round_big_sql("sum(sum7)", "7 * count(*)", 6)} AS trend_level
    FROM full7 GROUP BY 1 ORDER BY 1
    """,
)
def x_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: classical additive seasonal decomposition of the
    daily event-count series — trend = centered 7-day moving average,
    seasonal(dow) = mean(x - trend) per ISO weekday, reported with the
    mean trend level per weekday (residual = x - trend - seasonal
    follows by subtraction).

    Exact-integer, window-free: the moving average comes from a
    RANGE SELF-JOIN on day +-3 over the (tiny) daily aggregate — not a
    ROWS BETWEEN window — so there is no single-partition ordered
    window at any scale; edge days with fewer than 7 neighbors drop
    (w = 7 filter), exactly the classical definition. Detrended values
    stay rational with denominator 7 (detr7 = 7x - sum7 integer), the
    per-dow mean divides once via DECIMAL(38,0)/HUGEINT.

    Cross-engine dow: Spark weekday()+1 == DuckDB isodow (1=Monday)."""
    e = load(spark, sf_dir, "events")
    # both range-join sides read the same tiny daily aggregate: one scan
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(F.col("day").alias("aday"), F.col("x").alias("ax"))
    b = daily.select(F.col("day").alias("bday"), F.col("x").alias("bx"))
    trend = (
        a.join(
            b,
            (F.col("bday") >= F.date_sub(F.col("aday"), 3))
            & (F.col("bday") <= F.date_add(F.col("aday"), 3)),
        )
        .groupBy("aday", "ax")
        .agg(F.count("*").alias("w"), F.sum("bx").alias("sum7"))
        .filter(F.col("w") == 7)
        .withColumn("detr7", F.lit(7) * F.col("ax") - F.col("sum7"))
    )
    g = trend.groupBy(
        (F.expr("weekday(aday)") + 1).cast("int").alias("dow")
    ).agg(
        F.count("*").alias("n_days"),
        F.sum("detr7").alias("sdetr"),
        F.sum("sum7").alias("ssum7"),
    )
    seven_n = F.lit(7).cast("decimal(38,0)") * F.col("n_days").cast("decimal(38,0)")
    return g.select(
        "dow",
        "n_days",
        ratio_round_big(F.col("sdetr").cast("decimal(38,0)"), seven_n, 6).alias(
            "seasonal"
        ),
        ratio_round_big(F.col("ssum7").cast("decimal(38,0)"), seven_n, 6).alias(
            "trend_level"
        ),
    ).orderBy("dow")


# ------------------------------------------------------ chi-square test
@_register(
    "x_chisq_independence",
    sql=f"""
    WITH cells AS (
      SELECT event_type, dayofweek(ts) AS dow0, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rows_ AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
    cols_ AS (SELECT dow0, sum(o) AS c FROM cells GROUP BY 1),
    tot AS (SELECT sum(o) AS n FROM cells),
    scored AS (
      SELECT event_type, dow0, o,
             {_div_round_int_sql("CAST(r AS HUGEINT) * c", "n", 6)} AS exp_micro,
             {_div_round_int_sql(
                 "(CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)"
                 " * (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)",
                 "CAST(n AS HUGEINT) * r * c", 6
             )} AS chi2_micro
      FROM cells
      JOIN rows_ USING (event_type)
      JOIN cols_ USING (dow0)
      CROSS JOIN tot
    ),
    total AS (SELECT sum(chi2_micro) AS chi2_total_micro FROM scored)
    SELECT event_type, dow0, o, exp_micro, chi2_micro,
           CAST(chi2_total_micro AS BIGINT) AS chi2_total_micro,
           24 AS dof
    FROM scored CROSS JOIN total
    ORDER BY event_type, dow0
    """,
)
def x_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: Pearson chi-square test of independence for the
    event_type x day-of-week contingency table — the drift/association
    check run over categorical telemetry before trusting a segmented
    metric. Each cell carries its expected count and chi^2 contribution
    in exact micro units; the statistic (sum over 35 cells, dof = 24)
    rides along every row.

    Determinism: chi^2's (o-e)^2/e rewrites to (N*o - r*c)^2/(N*r*c) —
    all integer products (DECIMAL(38,0)/HUGEINT) rounded ONCE per cell
    to an integer micro value, and the total is a sum of those exact
    integers, so it is reduction-order-independent in both engines
    (summing rounded doubles would not be).

    Scale shape: the corpus collapses to a 5x7 cell table via one
    partial-aggregable groupBy; marginals and the total re-aggregate
    the 35-row frame and join back broadcast. dow0 matches the repo
    convention (Spark dayofweek-1 == DuckDB dayofweek, 0=Sunday)."""
    e = load(spark, sf_dir, "events")
    # the 35-row cell table feeds four consumers (marginals, total, the
    # scored join): lazily localCheckpoint so the corpus scans once
    cells = (
        e.groupBy("event_type", (F.dayofweek("ts") - 1).alias("dow0"))
        .agg(F.count("*").alias("o"))
        .localCheckpoint(eager=False)
    )
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_ = cells.groupBy("dow0").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    j = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "dow0")
        .crossJoin(F.broadcast(tot))
    )
    n, o, r, c = [
        F.col(x).cast("decimal(38,0)") for x in ("n", "o", "r", "c")
    ]
    dev = n * o - r * c
    scored = j.select(
        "event_type",
        "dow0",
        "o",
        _div_round_int(r * c, n, 6).alias("exp_micro"),
        _div_round_int(dev * dev, n * r * c, 6).alias("chi2_micro"),
    )
    total = scored.agg(F.sum("chi2_micro").alias("chi2_total_micro"))
    return (
        scored.crossJoin(F.broadcast(total))
        .withColumn("dof", F.lit(24))
        .orderBy("event_type", "dow0")
    )


# ------------------------------------------------------- kNN classifier
_KNN_COS = (
    "round(list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4)"
)


@_register(
    "e3_knn_classify",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS label_true,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS neighbor_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 10
    ),
    nn AS (
      SELECT query_id, label_true, label, sim FROM (
        SELECT query_id, label_true, label, {_KNN_COS} AS sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_KNN_COS} DESC, neighbor_id) AS rnk
        FROM c, q
      ) WHERE rnk <= 5
    ),
    votes AS (
      SELECT query_id, label_true, label, count(*) AS votes
      FROM nn GROUP BY 1, 2, 3
    )
    SELECT query_id, label_true, label AS label_pred, votes,
           CAST(CASE WHEN label = label_true THEN 1 ELSE 0 END AS INTEGER)
             AS correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, label ASC) AS vr
      FROM votes
    ) WHERE vr = 1
    ORDER BY query_id
    """,
)
def e3_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: k-nearest-neighbor CLASSIFICATION over the embedding column —
    majority label vote among the 5 cosine-nearest corpus vectors
    (query split vec_id < 10, corpus >= 10), the weak-label /
    auto-tagging pass of a curation pipeline (label propagation onto
    unlabeled documents from an annotated seed set).

    Composition, not new machinery: the neighbor search IS
    similarity.brute_force_topk (broadcast queries, mergeable partial
    top-k, rank on the 4dp-rounded sim — no Window over the corpus);
    the vote is a count over k*|Q| rows with a per-query partitioned
    row_number (ties break toward the smaller label in both engines).

    Scale shape: corpus-side work is one broadcast-join scan; the vote
    frame is k rows per query regardless of corpus size. Swapping the
    brute-force stage for e3_ivfpq_topk turns this into the
    billion-vector path with the identical vote."""
    from ..operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    nn = similarity.brute_force_topk(q, emb.filter(F.col("vec_id") >= 10), k=5)
    labels = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    truth = q.select(F.col("vec_id").alias("query_id"), F.col("label").alias("label_true"))
    votes = (
        nn.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(truth), "query_id")
        .groupBy("query_id", "label_true", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "label_true",
            F.col("label").alias("label_pred"),
            "votes",
            F.when(F.col("label") == F.col("label_true"), 1)
            .otherwise(0)
            .cast("int")
            .alias("correct"),
        )
        .orderBy("query_id")
    )


# -------------------------------------------------- keyword extraction
@_register(
    "e4_keyword_extract",
    sql=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    cells AS (
      SELECT source, tok, count(*) AS a FROM toks GROUP BY 1, 2
    ),
    per_tok AS (SELECT tok, sum(a) AS tot_t FROM cells GROUP BY 1),
    per_src AS (SELECT source, sum(a) AS tot_s FROM cells GROUP BY 1),
    tot AS (SELECT sum(a) AS n FROM cells),
    scored AS (
      SELECT source, tok, a,
             {_div_round_int_sql(
                 "n * (CAST(a AS HUGEINT) * n - CAST(tot_t AS HUGEINT) * tot_s)"
                 " * (CAST(a AS HUGEINT) * n - CAST(tot_t AS HUGEINT) * tot_s)",
                 "CAST(tot_t AS HUGEINT) * (n - tot_t) * tot_s * (n - tot_s)", 6
             )} AS score_micro
      FROM cells
      JOIN per_tok USING (tok)
      JOIN per_src USING (source)
      CROSS JOIN tot
      WHERE CAST(a AS HUGEINT) * n > CAST(tot_t AS HUGEINT) * tot_s
        AND tot_t < n AND tot_s < n
    )
    SELECT source, rnk, tok, a AS n_in_source, score_micro FROM (
      SELECT source, tok, a, score_micro,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY score_micro DESC, tok ASC)
                  AS INTEGER) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    ORDER BY source, rnk
    """,
)
def e4_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: per-source KEYWORD extraction — the top-5 tokens most
    over-represented in each source vs the rest of the corpus, scored
    by the 2x2 chi-square association statistic (the integer-exact
    stand-in for Dunning's G^2 log-likelihood, whose ln() cannot be
    made bit-identical across engines). The corpus-linguistics pass
    behind per-domain vocabularies, source fingerprints and topic tags.

    Integer-exact: the 2x2 table's determinant collapses to
    dev = a*N - tot_t*tot_s (observed minus expected, scaled by N), so
    score = N*dev^2 / (tot_t*(N-tot_t)*tot_s*(N-tot_s)) — all integer
    products in DECIMAL(38,0)/HUGEINT, with the oracle's first factor
    in every product chain HUGEINT-seeded so DuckDB never folds an
    intermediate in int64 (the engines share one 38-digit ceiling).
    Only positively-associated tokens (dev > 0) rank as keywords. The
    worst-case bound N*dev^2*2e6 <= N^5*2e6 hits 38 digits at
    N ~= 2*10^6 corpus tokens; in practice dev <= tot_t*N, so a vocab
    whose heaviest token stays under N/10 stretches the ceiling to
    ~10^7, and coarser counts (per-mille quantization) extend it
    further.

    Scale shape: the corpus collapses via ONE partial-aggregable
    groupBy(source, tok); marginals re-aggregate that (vocab x sources)
    frame and join back broadcast; the final top-5 window partitions by
    source. No corpus-sized shuffle after the first combine."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    # the (source x vocab) cell table feeds four consumers: one scan
    cells = (
        toks.groupBy("source", "tok")
        .agg(F.count("*").alias("a"))
        .localCheckpoint(eager=False)
    )
    per_tok = cells.groupBy("tok").agg(F.sum("a").alias("tot_t"))
    per_src = cells.groupBy("source").agg(F.sum("a").alias("tot_s"))
    tot = cells.agg(F.sum("a").alias("n"))
    j = (
        cells.join(F.broadcast(per_tok), "tok")
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(tot))
    )
    a, tot_t, tot_s, n = [
        F.col(x).cast("decimal(38,0)") for x in ("a", "tot_t", "tot_s", "n")
    ]
    dev = a * n - tot_t * tot_s
    scored = j.filter(
        (dev > 0) & (F.col("tot_t") < F.col("n")) & (F.col("tot_s") < F.col("n"))
    ).select(
        "source",
        "tok",
        "a",
        _div_round_int(
            n * dev * dev, tot_t * (n - tot_t) * tot_s * (n - tot_s), 6
        ).alias("score_micro"),
    )
    # mergeable partial top-k per source (a per-source window sorts the
    # whole vocab slice in one task per source at corpus scale); the
    # descending order rides an INTEGER negation so ranking never
    # round-trips through a double
    from ..operators.similarity import grouped_topk

    top = grouped_topk(
        scored.withColumn("neg", -F.col("score_micro")),
        5, order_col="neg", ascending=True, group_col="source", id_col="tok",
    ).select("source", "tok", "rnk", (-F.col("neg")).alias("score_micro"))
    return (
        top.join(
            scored.select("source", "tok", F.col("a").alias("n_in_source")),
            ["source", "tok"],
        )
        .select("source", "rnk", "tok", "n_in_source", "score_micro")
        .orderBy("source", "rnk")
    )


# ------------------------------------------------------------ KMV/theta
_KMV_K = 64
_KMV_M = 1 << 56  # md5_long hash space
_KMV_THR = 150  # high-value activity threshold defining the two sets
_KMV_SETS_SQL = f"""
    ua AS (
      SELECT DISTINCT {md5_long_sql("CAST(user_id AS VARCHAR)", salt="|kmv")} AS h
      FROM events WHERE event_type = 'click' AND value > {_KMV_THR}
    ),
    ub AS (
      SELECT DISTINCT {md5_long_sql("CAST(user_id AS VARCHAR)", salt="|kmv")} AS h
      FROM events WHERE event_type = 'view' AND value > {_KMV_THR}
    )
"""


@_register(
    "x_kmv_intersection",
    sql=f"""
    WITH {_KMV_SETS_SQL},
    sk AS (
      SELECT scope, h, CAST(row_number() OVER (PARTITION BY scope
                                               ORDER BY h) AS INTEGER) AS rnk,
             count(*) OVER (PARTITION BY scope) AS n_set
      FROM (
        SELECT 'a' AS scope, h FROM ua
        UNION ALL SELECT 'b', h FROM ub
        UNION ALL SELECT 'union', h
          FROM (SELECT h FROM ua UNION SELECT h FROM ub)
      )
    ),
    thetas AS (
      SELECT scope,
             CASE WHEN max(n_set) >= {_KMV_K}
                  THEN max(CASE WHEN rnk = {_KMV_K} THEN h END)
                  ELSE {_KMV_M} END AS theta
      FROM sk WHERE rnk <= {_KMV_K} GROUP BY scope
    ),
    ests AS (
      SELECT s.scope,
             count(*) FILTER (WHERE s.h < t.theta) AS n_retained,
             (count(*) FILTER (WHERE s.h < t.theta) * {_KMV_M}) // max(t.theta)
               AS est
      FROM sk s JOIN thetas t ON s.scope = t.scope
      WHERE s.rnk <= {_KMV_K}
      GROUP BY s.scope
    ),
    tmin AS (
      SELECT least(ta.theta, tb.theta) AS theta
      FROM (SELECT theta FROM thetas WHERE scope = 'a') ta,
           (SELECT theta FROM thetas WHERE scope = 'b') tb
    ),
    inter AS (
      SELECT 'intersection' AS scope,
             count(*) AS n_retained,
             (count(*) * {_KMV_M}) // max(t.theta) AS est
      FROM sk a JOIN sk b ON a.h = b.h
      CROSS JOIN tmin t
      WHERE a.scope = 'a' AND b.scope = 'b'
        AND a.rnk <= {_KMV_K} AND b.rnk <= {_KMV_K} AND a.h < t.theta
    ),
    exact AS (
      SELECT 'a' AS scope, count(*) AS n_exact FROM ua
      UNION ALL SELECT 'b', count(*) FROM ub
      UNION ALL SELECT 'union', count(*)
        FROM (SELECT h FROM ua UNION SELECT h FROM ub)
      UNION ALL SELECT 'intersection', count(*)
        FROM ua JOIN ub ON ua.h = ub.h
    )
    SELECT e.scope, CAST(n_retained AS BIGINT) AS n_retained,
           CAST(est AS BIGINT) AS est, CAST(n_exact AS BIGINT) AS n_exact
    FROM (SELECT * FROM ests UNION ALL SELECT * FROM inter) e
    JOIN exact x ON e.scope = x.scope
    ORDER BY e.scope
    """,
)
def x_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: K-minimum-values / theta sketch SET OPERATIONS
    (Beyer et al. 2007; the Theta-sketch framework of Dasgupta et al.)
    — distinct-count estimates for two high-value-activity user sets,
    their union, and crucially their INTERSECTION, the composition HLL
    cannot answer. A KMV sketch keeps the k smallest salted hashes;
    theta = the k-th value; est = n_retained * M / theta; sketches
    combine by set algebra on the retained hashes under
    min(theta_a, theta_b).

    Determinism: md5_long hashes, pure integer comparisons, one BIGINT
    floor division per estimate ((k-1)*2^56 < 2^62 at k=64, int64-safe
    in both engines with no decimal promotion). Sets smaller than k
    degrade to EXACT counts (theta = M), so the operator is correct in
    both regimes — the oracle pins the small-set regime at sf0.01 and
    the estimating regime at sf0.1 with the same SQL.

    Scale shape: bottom-k by hash is the mergeable-sample discipline
    (per-partition bottom-k, k*P-row merge); the sketch frames are
    k rows per scope forever after, so union/intersection estimates on
    100 TB of raw events are joins over 64-row frames."""
    e = load(spark, sf_dir, "events")
    h = md5_long(F.col("user_id").cast("string"), salt="|kmv")
    # the two distinct-hash sets feed FIVE consumers (three sketch
    # scopes, the union set, four exact counts); lazily localCheckpoint
    # so the corpus scans once per set instead of once per consumer
    ua = (
        e.filter((F.col("event_type") == "click") & (F.col("value") > _KMV_THR))
        .select(h.alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ub = (
        e.filter((F.col("event_type") == "view") & (F.col("value") > _KMV_THR))
        .select(h.alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    uu = ua.unionByName(ub).distinct()
    stacked = (
        ua.select(F.lit("a").alias("scope"), "h")
        .unionByName(ub.select(F.lit("b").alias("scope"), "h"))
        .unionByName(uu.select(F.lit("union").alias("scope"), "h"))
    )
    # mergeable partial bottom-k per scope (3 scopes would cap a window
    # at 3 unsplittable corpus-sized sort tasks); theta = the k-th
    # smallest when the sketch filled, else M (exact regime) — a scope
    # smaller than k simply has no rnk == k row
    from ..operators.similarity import grouped_topk

    sk = grouped_topk(
        stacked.withColumn("hid", F.col("h")),
        _KMV_K, order_col="h", ascending=True,
        group_col="scope", id_col="hid",
    ).select("scope", "h", "rnk")
    thetas = sk.groupBy("scope").agg(
        F.coalesce(
            F.max(F.when(F.col("rnk") == _KMV_K, F.col("h"))),
            F.lit(_KMV_M),
        ).alias("theta")
    )
    ests = (
        sk.join(thetas, "scope")
        .groupBy("scope")
        .agg(
            F.count(F.when(F.col("h") < F.col("theta"), 1)).alias("n_retained"),
            F.expr(
                f"(count(CASE WHEN h < theta THEN 1 END) * {_KMV_M})"
                " div max(theta)"
            ).alias("est"),
        )
    )
    tmin = (
        thetas.filter(F.col("scope") == "a")
        .select(F.col("theta").alias("ta"))
        .crossJoin(
            F.broadcast(
                thetas.filter(F.col("scope") == "b").select(
                    F.col("theta").alias("tb")
                )
            )
        )
        .select(F.least("ta", "tb").alias("theta"))
    )
    inter = (
        sk.filter(F.col("scope") == "a")
        .select(F.col("h").alias("h"))
        .join(sk.filter(F.col("scope") == "b").select("h"), "h")
        .crossJoin(F.broadcast(tmin))
        .filter(F.col("h") < F.col("theta"))
        .agg(
            F.count("*").alias("n_retained"),
            F.expr(f"(count(1) * {_KMV_M}) div max(theta)").alias("est"),
        )
        .select(F.lit("intersection").alias("scope"), "n_retained", "est")
    )
    exact = (
        ua.agg(F.count("*").alias("n_exact"))
        .select(F.lit("a").alias("scope"), "n_exact")
        .unionByName(
            ub.agg(F.count("*").alias("n_exact")).select(
                F.lit("b").alias("scope"), "n_exact"
            )
        )
        .unionByName(
            uu.agg(F.count("*").alias("n_exact")).select(
                F.lit("union").alias("scope"), "n_exact"
            )
        )
        .unionByName(
            ua.join(ub, "h")
            .agg(F.count("*").alias("n_exact"))
            .select(F.lit("intersection").alias("scope"), "n_exact")
        )
    )
    return (
        ests.unionByName(inter)
        .join(F.broadcast(exact), "scope")
        .select("scope", "n_retained", F.col("est").cast("long").alias("est"), "n_exact")
        .orderBy("scope")
    )


# -------------------------------------------------------------- KS test
_KS_PAIRS = [
    ("click|view", "click", 1), ("click|view", "view", 2),
    ("click|purchase", "click", 1), ("click|purchase", "purchase", 2),
    ("signup|error", "signup", 1), ("signup|error", "error", 2),
]
_KS_PAIRS_SQL = ", ".join(f"('{l}', '{t}', {s})" for l, t, s in _KS_PAIRS)
# c(0.05)^2 = 1.358^2 in micro units: the alpha=0.05 two-sample KS
# critical comparison D > c*sqrt((n1+n2)/(n1*n2)) squares to the exact
# integer test d_num^2 * 10^6 > C2_MICRO * n1*n2*(n1+n2)
_KS_C2_MICRO = 1844164


@_register(
    "x_ks_drift_test",
    sql=f"""
    WITH pairs(label, member, side) AS (VALUES {_KS_PAIRS_SQL}),
    g AS (
      SELECT label, value,
             CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM events JOIN pairs ON event_type = member
      GROUP BY label, value
    ),
    cum AS (
      SELECT label, value, c1, c2,
             sum(c1) OVER (PARTITION BY label ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum1,
             sum(c2) OVER (PARTITION BY label ORDER BY value
                           ROWS UNBOUNDED PRECEDING) AS cum2
      FROM g
    ),
    tot AS (
      SELECT label, CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2
      FROM g GROUP BY label
    ),
    d AS (
      SELECT c.label,
             CAST(max(abs(CAST(n2 AS HUGEINT) * cum1
                          - CAST(n1 AS HUGEINT) * cum2)) AS BIGINT) AS d_num
      FROM cum c JOIN tot USING (label)
      GROUP BY c.label
    )
    SELECT d.label, n1, n2, d_num,
           {ratio_round_big_sql(
               "d_num", "CAST(n1 AS HUGEINT) * n2", 6
           )} AS ks_stat,
           CAST(CASE WHEN CAST(d_num AS HUGEINT) * d_num * 1000000
                          > {_KS_C2_MICRO} * CAST(n1 AS HUGEINT) * n2 * (n1 + n2)
                     THEN 1 ELSE 0 END AS INTEGER) AS drift_at_5pct
    FROM d JOIN tot USING (label)
    ORDER BY d.label
    """,
)
def x_ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: two-sample Kolmogorov-Smirnov test — the continuous
    drift detector next to x_chisq_independence's categorical one: for
    three event-type pairs, the KS statistic D = sup|F1 - F2| over the
    pooled value distribution plus the alpha = 0.05 decision.

    Integer-exact throughout: D's supremum is attained at sample
    points, so D = max|n2*cum1 - n1*cum2| / (n1*n2) over the grouped
    value frame — counts and cumulative counts only. The critical
    comparison D > c(alpha)*sqrt((n1+n2)/(n1*n2)) SQUARES into
    d_num^2 * 10^6 > c^2_micro * n1*n2*(n1+n2) (DECIMAL/HUGEINT), so
    even the hypothesis decision carries no engine-side sqrt or float.

    Scale shape: the corpus collapses to one row per (pair, distinct
    value) via a partial-aggregable groupBy; the cumulative CDFs run
    through operators/rank.stratified_cumsum (range-partitioned
    two-pass prefix sum — NEVER a single-partition window over the
    value frame, which at 100 TB could approach corpus cardinality);
    the final max is a partial-aggregable per-pair fold."""
    from ..operators.rank import stratified_cumsum

    e = load(spark, sf_dir, "events")
    pairs = spark.createDataFrame(
        _KS_PAIRS, "label string, member string, side int"
    )
    g = (
        e.join(F.broadcast(pairs), e["event_type"] == pairs["member"])
        .groupBy("label", "value")
        .agg(
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("side") == 2, 1).otherwise(0)).alias("c2"),
        )
        .localCheckpoint(eager=False)  # feeds cumsums + totals: one scan
    )
    # both CDFs ride ONE sorted layout (round 12): a single range
    # exchange + sort + bounded pass-1 collect + kernel pass produces
    # cum1 AND cum2 — the second two-pass skeleton was pure re-layout
    cum = stratified_cumsum(
        g, ["label"], ["value"], ["c1", "c2"], out_col=["cum1", "cum2"]
    )
    tot = g.groupBy("label").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    n1, n2 = F.col("n1").cast("decimal(38,0)"), F.col("n2").cast("decimal(38,0)")
    dev = F.abs(
        n2 * F.col("cum1").cast("decimal(38,0)")
        - n1 * F.col("cum2").cast("decimal(38,0)")
    )
    d = (
        cum.join(F.broadcast(tot), "label")
        .groupBy("label")
        .agg(F.max(dev).cast("long").alias("d_num"))
    )
    j = d.join(F.broadcast(tot), "label")
    d_dec = F.col("d_num").cast("decimal(38,0)")
    reject = (
        d_dec * d_dec * F.lit(1000000)
        > F.lit(_KS_C2_MICRO) * n1 * n2 * (n1 + n2)
    )
    return j.select(
        "label",
        "n1",
        "n2",
        "d_num",
        ratio_round_big(d_dec, n1 * n2, 6).alias("ks_stat"),
        F.when(reject, 1).otherwise(0).cast("int").alias("drift_at_5pct"),
    ).orderBy("label")
