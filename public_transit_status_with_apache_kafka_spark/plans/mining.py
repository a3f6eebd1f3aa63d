"""Pattern-mining / graph-traversal / attribution extensions.

The families a warehouse team reaches for right after the core OLAP
surface: market-basket association rules (A-Priori), breadth-first
graph reachability (the Pregel iterate-join shape), marketing
attribution (windowed as-of), and the Pareto/skyline frontier.

Scale stance mirrors the rest of the engine: corpora collapse through
partial-aggregable group-bys before any join; iterative algorithms are
one hash join + one partial agg per round with checkpointed frontiers;
every ranking is integer arithmetic so oracles hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, md5_long_sql
from ..functions.rounding import ratio_round_big, ratio_round_big_sql
from ..io_util import load, scratch_dir
from ..operators.rank import attach_bounded_rank, stratified_cummin, stratified_rank
from . import register_into

QUERIES = {}
ORACLE = {}


def _dec_div(num, den):
    """Exact floor division of non-negative DECIMAL(38,0) columns,
    returned as BIGINT. ``(a - pmod(a, b)) / b`` leaves a zero
    remainder, so the decimal division is exact at any scale (the
    :func:`~..functions.rounding.ratio_round_big` trick without the
    half-up offset); mirrors DuckDB ``//`` on HUGEINT."""
    return ((num - F.pmod(num, den)) / den).cast("long")


_register = register_into(QUERIES, ORACLE)


# ------------------------------------------------------- frequent pairs
@_register(
    "x_frequent_pairs",
    sql="""
    WITH baskets AS (
      SELECT DISTINCT o_custkey, p_brand
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
    ),
    nb AS (SELECT count(DISTINCT o_custkey) AS n_baskets FROM baskets),
    item AS (SELECT p_brand, count(*) AS n_item FROM baskets GROUP BY p_brand),
    freq AS (
      SELECT p_brand, n_item FROM item, nb WHERE n_item >= n_baskets // 4
    ),
    bf AS (
      SELECT b.o_custkey, b.p_brand
      FROM baskets b SEMI JOIN freq f ON b.p_brand = f.p_brand
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_pair
      FROM bf a JOIN bf b
        ON a.o_custkey = b.o_custkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, n_pair,
           fa.n_item AS n_a, fb.n_item AS n_b,
           (1000000 * n_pair) // fa.n_item AS conf_ab_micro,
           (1000000 * n_pair) // fb.n_item AS conf_ba_micro,
           CAST((1000000 * CAST(n_pair AS HUGEINT) * nb.n_baskets)
                // (CAST(fa.n_item AS HUGEINT) * fb.n_item) AS BIGINT)
             AS lift_micro
    FROM pairs
    JOIN freq fa ON brand_a = fa.p_brand
    JOIN freq fb ON brand_b = fb.p_brand
    CROSS JOIN nb
    WHERE n_pair >= nb.n_baskets // 4
    ORDER BY lift_micro DESC, brand_a, brand_b
    LIMIT 30
    """,
)
def x_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: market-basket frequent-pair mining with association
    rules (A-Priori, Agrawal & Srikant 1994) — baskets are the distinct
    brands each customer ever bought; output is the top-30 brand pairs
    by lift with support + both-direction confidences.

    A-Priori pruning is the scale move: the frequent-SINGLETON table
    (bounded by the brand domain, never the corpus) broadcasts into a
    semi-join that prunes the basket stream BEFORE the pair-generating
    self-join, so candidate pairs are generated only among items that
    can possibly reach min-support — the SON/A-Priori candidate cut.
    The self-join keys on the basket id (co-partitioned, no replication)
    and fans out at most |frequent-brands-per-basket|^2 rows per basket;
    pair counts partial-aggregate map-side into a table bounded by the
    brand-pair domain.

    Cross-engine determinism: support/confidence/lift are pure integer
    floor-division micro-units — (1e6 * n_pair) div n_a etc. — so both
    engines compute bit-identical stats (no float ratio anywhere).
    min-support is 25% of baskets, derived from the data via a one-row
    broadcast scalar (x_scalar_subquery pattern)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("o_custkey", "p_brand")
        .distinct()
        # consumed by nb, the singleton count, AND both self-join sides:
        # materialize the deduped baskets once instead of re-running the
        # corpus join per consumer (compact: |customers| x |brands| max)
        .localCheckpoint(eager=False)
    )
    nb = baskets.agg(F.countDistinct("o_custkey").alias("n_baskets"))
    item = baskets.groupBy("p_brand").agg(F.count("*").alias("n_item"))
    freq = (
        item.join(F.broadcast(nb))
        .filter(F.col("n_item") >= F.expr("n_baskets div 4"))
        .select("p_brand", "n_item")
    )
    bf = baskets.join(F.broadcast(freq.select("p_brand")), "p_brand", "semi")
    a = bf.select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand_a"))
    b = bf.select(F.col("o_custkey").alias("ck"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, ["ck"])
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_pair"))
    )
    fa = freq.select(F.col("p_brand").alias("brand_a"), F.col("n_item").alias("n_a"))
    fb = freq.select(F.col("p_brand").alias("brand_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .join(F.broadcast(nb))
        .filter(F.col("n_pair") >= F.expr("n_baskets div 4"))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_pair) div n_a").alias("conf_ab_micro"),
            F.expr("(1000000 * n_pair) div n_b").alias("conf_ba_micro"),
            # Widened to DECIMAL(38,0) (HUGEINT in the oracle): the
            # 1e6*n_pair*n_baskets product overflows int64 once
            # n_baskets reaches ~3M, and Spark's non-ANSI wrap would
            # silently diverge from DuckDB's overflow error. The
            # quotient itself is <= 1e6*n_baskets, safely BIGINT.
            _dec_div(
                F.lit(1000000).cast("decimal(38,0)")
                * F.col("n_pair")
                * F.col("n_baskets"),
                F.col("n_a").cast("decimal(38,0)") * F.col("n_b"),
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "brand_a", "brand_b")
        .limit(30)
    )


# ----------------------------------------------------------------- BFS
_BFS_MAX_HOPS = 4
_BFS_SUPP_OFFSET = 1_000_000  # disjoint supplier node ids (pagerank convention)

_BFS_EDGES_CTE = f"""
    half AS (
      SELECT DISTINCT o_custkey AS src,
             l_suppkey + {_BFS_SUPP_OFFSET} AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
      SELECT src, dst FROM half
      UNION ALL
      SELECT dst AS src, src AS dst FROM half
    )
"""


@_register(
    "x_bfs_hops",
    sql=f"""
    WITH RECURSIVE {_BFS_EDGES_CTE},
    bfs(node, hop) AS (
      SELECT DISTINCT src AS node, 0 AS hop FROM edges WHERE src <= 10
      UNION
      SELECT e.dst AS node, b.hop + 1 AS hop
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hop < {_BFS_MAX_HOPS}
    ),
    best AS (SELECT node, min(hop) AS hop FROM bfs GROUP BY node)
    SELECT hop, count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum,
           min(node) AS min_node, max(node) AS max_node
    FROM best GROUP BY hop ORDER BY hop
    """,
)
def x_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: multi-source breadth-first search over the symmetrized
    customer<->supplier transaction graph (same edge build as
    x_pagerank_exact) — min-hop distance from the seed set
    {customers 1..10} out to {_BFS_MAX_HOPS} hops, reported as a per-hop
    frontier profile (count + id checksum pins the exact reached set).

    The Pregel/BSP iterate shape (Malewicz et al. 2010): each round is
    ONE hash join of the (bounded) frontier against the checkpointed
    edge list, a distinct, and an anti-join against the visited set —
    never an adjacency matrix, never a driver-side traversal. The
    frontier and visited frames are localCheckpoint-ed per round so the
    lineage stays flat across iterations (the same discipline as the
    PageRank and k-core loops). Oracle: DuckDB recursive CTE with UNION
    dedup replays the identical traversal.

    Output is one row per hop level at any corpus size; sum(node) is an
    exact int64 frontier fingerprint, so a single misrouted node flips
    the hash."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    half = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _BFS_SUPP_OFFSET).alias("dst"),
        )
        .distinct()
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") <= 10)
        .distinct()
        .withColumn("hop", F.lit(0))
    )
    visited = seeds.localCheckpoint(eager=False)
    frontier = visited.select("node")
    for k in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "anti")
            .withColumn("hop", F.lit(k))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return (
        visited.groupBy("hop")
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("node").alias("node_checksum"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("hop")
    )


# ------------------------------------------------------- attribution
_ATTR_LOOKBACK_MS = 24 * 3600 * 1000


@_register(
    "x_attribution",
    sql=f"""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS purchase_ms
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
      FROM events WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT p.purchase_id, p.user_id, p.purchase_ms, c.click_id,
             p.purchase_ms - c.click_ms AS gap_ms,
             row_number() OVER (
               PARTITION BY p.purchase_id
               ORDER BY c.click_ms DESC, c.click_id DESC
             ) AS rn
      FROM purchases p
      LEFT JOIN clicks c
        ON p.user_id = c.user_id
       AND c.click_ms <= p.purchase_ms
       AND c.click_ms > p.purchase_ms - {_ATTR_LOOKBACK_MS}
    )
    SELECT purchase_id, user_id, purchase_ms, click_id, gap_ms
    FROM ranked WHERE rn = 1
    ORDER BY purchase_id
    """,
)
def x_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: last-touch marketing attribution — every purchase is
    attributed to the user's MOST RECENT click within a 24 h lookback
    window (NULL when the window holds no click), the standard
    conversion-credit query.

    Shape: a banded as-of join — equality on the user key plus a
    TWO-SIDED time band, then one max_by over a (click_ms, click_id)
    struct. The band's lower bound is what makes this scale: unlike an
    open-ended as-of, the per-purchase join fan-out is capped at the
    user's clicks within 24 h, so state never grows with history depth.
    The hash join co-partitions both event streams on user_id; max_by
    partial-aggregates map-side; ties at the same millisecond break on
    the higher click_id in both engines (the struct's second field).

    All arithmetic is epoch-millis int64 — gap_ms hash-matches
    exactly."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("purchase_ms"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_millis("ts").alias("click_ms"),
    )
    best = F.max_by(
        F.struct("click_ms", "click_id"), F.struct("click_ms", "click_id")
    ).alias("_best")
    return (
        purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user)
            & (clicks.click_ms <= purchases.purchase_ms)
            & (clicks.click_ms > purchases.purchase_ms - _ATTR_LOOKBACK_MS),
            "left",
        )
        .groupBy("purchase_id", "user_id", "purchase_ms")
        .agg(best)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ms",
            F.col("_best.click_id").alias("click_id"),
            (F.col("purchase_ms") - F.col("_best.click_ms")).alias("gap_ms"),
        )
        .orderBy("purchase_id")
    )


# -------------------------------------------------------------- skyline
@_register(
    "x_skyline",
    sql="""
    WITH pts AS (
      SELECT l_partkey AS part_id,
             CAST(trunc(sum(l_quantity)) AS BIGINT) AS qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS rev_cents
      FROM lineitem GROUP BY 1
    )
    SELECT part_id, qty, rev_cents
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.qty >= p.qty AND q.rev_cents <= p.rev_cents
        AND (q.qty > p.qty OR q.rev_cents < p.rev_cents)
    )
    ORDER BY qty DESC, rev_cents, part_id
    """,
)
def x_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: 2-D skyline / Pareto frontier (Borzsony, Kossmann &
    Stocker 2001) — the parts not dominated on (total quantity shipped
    MAX, total spend MIN): the volume-vs-cost efficient frontier.

    The naive form is a quadratic NOT-EXISTS self-join. The 2-D
    structure collapses it to a PREFIX-MIN: a point survives iff its
    spend (a) is the minimum within its quantity level and (b) beats
    the running minimum spend over all STRICTLY higher quantities. So:
    per-part points partial-aggregate map-side; the compact per-qty
    min-spend table feeds the distributed running-min carry
    (operators/rank.stratified_cummin — the TeraSort two-pass skeleton,
    ordered by qty DESC via negation, no global Window) and one
    distributed lead hop converts the inclusive frontier into the
    strictly-greater one; survivors emerge from a single hash join back
    on qty. Every exchange after the first groupBy carries per-qty or
    per-part aggregates, never the corpus, and nothing is quadratic.

    Exactness: qty is an integral-double sum cast via trunc (identical
    both engines); spend is DECIMAL(18,2) cents — int64 end to end, so
    dominance comparisons cannot sit on a float boundary."""
    li = load(spark, sf_dir, "lineitem")
    pts = li.groupBy(F.col("l_partkey").alias("part_id")).agg(
        F.expr("CAST(sum(l_quantity) AS BIGINT)").alias("qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rev_cents"),
    )
    # round 13 (guide §1.2): pts feeds BOTH the frontier derivation
    # (via qmin -> the cummin layout) and the final survivor join —
    # without a pin the corpus-scale lineitem scan+agg executes twice
    # (once inside the two-pass layout's materialization, once on the
    # join's probe side). One materialization of the compact per-part
    # aggregate (|parts| rows, corpus-independent width) serves both.
    return skyline_2d(pts.localCheckpoint(eager=False))


def skyline_2d(pts: DataFrame) -> DataFrame:
    """The reusable frontier kernel over (part_id, qty, rev_cents)
    points: maximize qty, minimize rev_cents. Used by the batch query
    above and by the streaming incremental maintenance twin
    (x3_stream_skyline) — skyline is mergeable (a dominated point can
    never rejoin the frontier), so skyline(skyline(A) ∪ B) ==
    skyline(A ∪ B) whenever points are immutable."""
    qmin = (
        pts.groupBy("qty")
        .agg(F.min("rev_cents").alias("min_rev"))
        .withColumn("neg_qty", -F.col("qty"))
    )
    # ONE two-pass carry emits both frontiers: inclusive (unused here)
    # and EXCLUSIVE — each qty appears once in the compact table, so the
    # per-row exclusive prefix min over the desc order IS the min over
    # strictly greater quantities
    sl = stratified_cummin(
        qmin,
        [],
        ["neg_qty"],
        "min_rev",
        out_col="frontier_min",
        excl_col="frontier_min_gt",
    ).select("qty", "min_rev", "frontier_min_gt")
    return (
        pts.join(sl, "qty")
        .filter(
            (F.col("rev_cents") == F.col("min_rev"))
            & (
                F.col("frontier_min_gt").isNull()
                | (F.col("rev_cents") < F.col("frontier_min_gt"))
            )
        )
        .select("part_id", "qty", "rev_cents")
        .orderBy(F.desc("qty"), "rev_cents", "part_id")
    )


# -------------------------------------------- corpus drift (JS divergence)
_LN2_MICRO = 693_147  # floor(ln(2) * 1e6): one-sided token contribution


@_register(
    "e4_js_divergence",
    sql=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    vocab AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS t FROM vocab GROUP BY 1),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.cnt AS ca, b.cnt AS cb, ta.t AS t_a, tb.t AS t_b,
             CAST(floor(ln((2.0 * a.cnt * tb.t)
                           / (1.0 * a.cnt * tb.t + 1.0 * b.cnt * ta.t)) * 1e6)
                  AS BIGINT) AS l_a,
             CAST(floor(ln((2.0 * b.cnt * ta.t)
                           / (1.0 * b.cnt * ta.t + 1.0 * a.cnt * tb.t)) * 1e6)
                  AS BIGINT) AS l_b
      FROM vocab a
      JOIN vocab b ON a.tok = b.tok AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
    ),
    agg AS (
      SELECT source_a, source_b, count(*) AS n_common,
             sum(CAST(ca AS HUGEINT)) AS sca, sum(CAST(cb AS HUGEINT)) AS scb,
             sum(CAST(ca AS HUGEINT) * l_a) AS wa,
             sum(CAST(cb AS HUGEINT) * l_b) AS wb
      FROM common GROUP BY 1, 2
    ),
    grid AS (
      SELECT ta.source AS source_a, tb.source AS source_b,
             ta.t AS t_a, tb.t AS t_b
      FROM tot ta JOIN tot tb ON ta.source < tb.source
    ),
    full_agg AS (
      SELECT g.source_a, g.source_b, g.t_a, g.t_b,
             coalesce(n_common, 0) AS n_common,
             coalesce(sca, 0) AS sca, coalesce(scb, 0) AS scb,
             coalesce(wa, 0) AS wa, coalesce(wb, 0) AS wb
      FROM grid g LEFT JOIN agg USING (source_a, source_b)
    )
    SELECT source_a, source_b, n_common,
           CAST({ratio_round_big_sql(
               f'wa + (CAST(t_a AS HUGEINT) - sca) * {693_147}', '2 * t_a', 0)}
            + {ratio_round_big_sql(
               f'wb + (CAST(t_b AS HUGEINT) - scb) * {693_147}', '2 * t_b', 0)}
            AS BIGINT) AS js_micro_nats
    FROM full_agg
    ORDER BY source_a, source_b
    """,
)
def e4_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+: pairwise Jensen-Shannon divergence between per-source
    unigram token distributions (Lin 1991) — the corpus-drift /
    source-redundancy datasheet matrix: ~0 flags near-duplicate
    sources, ln(2) flags disjoint vocabularies. The symmetric, bounded
    complement of e4_dsir_weights' one-vs-rest log-ratios.

    Determinism: JS = 1/(2Ta)·Σ ca·ln(pa/m) + 1/(2Tb)·Σ cb·ln(pb/m)
    with pa/m = 2·ca·Tb / (ca·Tb + cb·Ta) — every ln argument is a
    ratio of exact integer counts evaluated with the SAME IEEE double
    op order in both engines, floored to integer micro-nats (the
    unigram-LM pattern); tokens private to one source contribute
    exactly ln(2) (the literal {_LN2_MICRO}), folded CLOSED-FORM from
    the count totals — no outer join materializes the one-sided
    vocabulary. The two halves round via DECIMAL/HUGEINT half-up
    ratios, so the output hash-matches at any scale.

    Scale shape: the corpus collapses through the partial-aggregable
    (source, tok) vocabulary count; the self-join keys on tok over the
    VOCAB-sized stream, fanning out at most |sources|^2 rows per token
    (sources are a handful by construction); per-pair sums partial-
    aggregate to |sources|^2/2 output rows."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    # the vocab-sized count frame feeds both self-join sides and the
    # totals: lazily localCheckpoint so the corpus tokenizes once
    vocab = (
        toks.groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = vocab.groupBy("source").agg(F.sum("cnt").alias("t"))
    a = vocab.select(
        F.col("source").alias("source_a"), "tok", F.col("cnt").alias("ca")
    )
    b = vocab.select(
        F.col("source").alias("source_b"), "tok", F.col("cnt").alias("cb")
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("t").alias("t_a"))
    tb = tot.select(F.col("source").alias("source_b"), F.col("t").alias("t_b"))
    common = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "ca",
            "cb",
            "t_a",
            "t_b",
            F.floor(
                F.log(
                    (2.0 * F.col("ca") * F.col("t_b"))
                    / (
                        1.0 * F.col("ca") * F.col("t_b")
                        + 1.0 * F.col("cb") * F.col("t_a")
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("l_a"),
            F.floor(
                F.log(
                    (2.0 * F.col("cb") * F.col("t_a"))
                    / (
                        1.0 * F.col("cb") * F.col("t_a")
                        + 1.0 * F.col("ca") * F.col("t_b")
                    )
                )
                * 1e6
            )
            .cast("long")
            .alias("l_b"),
        )
    )
    agg = common.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_common"),
        F.sum(F.col("ca").cast("decimal(38,0)")).alias("sca"),
        F.sum(F.col("cb").cast("decimal(38,0)")).alias("scb"),
        F.sum(F.col("ca").cast("decimal(38,0)") * F.col("l_a")).alias("wa"),
        F.sum(F.col("cb").cast("decimal(38,0)") * F.col("l_b")).alias("wb"),
    )
    # pair GRID from the (tiny) totals table so fully-DISJOINT source
    # pairs still emit a row (their inner-join aggregate is empty but
    # their JS is exactly ln 2) — broadcast nested-loop over |S|^2 rows
    grid = ta.join(F.broadcast(tb)).filter(F.col("source_a") < F.col("source_b"))
    full_agg = grid.join(agg, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        "t_a",
        "t_b",
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        F.coalesce("sca", F.lit(0).cast("decimal(38,0)")).alias("sca"),
        F.coalesce("scb", F.lit(0).cast("decimal(38,0)")).alias("scb"),
        F.coalesce("wa", F.lit(0).cast("decimal(38,0)")).alias("wa"),
        F.coalesce("wb", F.lit(0).cast("decimal(38,0)")).alias("wb"),
    )
    num_a = (
        F.col("wa")
        + (F.col("t_a").cast("decimal(38,0)") - F.col("sca")) * _LN2_MICRO
    )
    num_b = (
        F.col("wb")
        + (F.col("t_b").cast("decimal(38,0)") - F.col("scb")) * _LN2_MICRO
    )
    return full_agg.select(
        "source_a",
        "source_b",
        "n_common",
        (
            ratio_round_big(num_a, 2 * F.col("t_a"), 0)
            + ratio_round_big(num_b, 2 * F.col("t_b"), 0)
        )
        .cast("long")
        .alias("js_micro_nats"),
    ).orderBy("source_a", "source_b")


# ------------------------------------------- label centroid similarity
_CENT_DIM = 64
_CENT_SCALE = 1 << 20  # power-of-two fixed point: exact in float64


@_register(
    "e3_label_centroids",
    sql=f"""
    WITH q AS (
      SELECT label, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_CENT_SCALE}) AS BIGINT)) AS qv
      FROM embeddings
    ),
    s AS (
      SELECT label, i AS dim, CAST(sum(qv[i]) AS HUGEINT) AS sv
      FROM q CROSS JOIN generate_series(1, {_CENT_DIM}) t(i)
      GROUP BY label, i
    ),
    n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    dots AS (
      SELECT a.label AS la, b.label AS lb, sum(a.sv * b.sv) AS dot
      FROM s a JOIN s b ON a.dim = b.dim AND a.label <= b.label
      GROUP BY 1, 2
    )
    SELECT d.la AS label_a, d.lb AS label_b,
           na.n AS n_a, nb.n AS n_b,
           round(CAST(d.dot AS DOUBLE)
                 / sqrt(CAST(daa.dot AS DOUBLE) * CAST(dbb.dot AS DOUBLE)),
                 6) AS cos_r6
    FROM dots d
    JOIN dots daa ON daa.la = d.la AND daa.lb = d.la
    JOIN dots dbb ON dbb.la = d.lb AND dbb.lb = d.lb
    JOIN n na ON na.label = d.la
    JOIN n nb ON nb.label = d.lb
    WHERE d.la < d.lb
    ORDER BY label_a, label_b
    """,
)
def e3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+: per-label embedding centroid cross-similarity matrix — the
    class-separability / cluster-quality datasheet artifact (which
    label groups are semantically entangled, which sources to merge).

    Scale shape: the corpus collapses in ONE partial-aggregable pass to
    |labels| x dim fixed-point sums (floor(x * 2^20) — power-of-two
    scaling is exact in float64, the e3_embedding_covariance pattern);
    everything after operates on that constant-size frame: a dim-keyed
    self-join (|labels|^2 x dim rows at most) and one partial agg.
    Centroid dots over SUM vectors equal n_a*n_b times the mean-vector
    dots, and cosine is scale-invariant, so no division by n ever
    happens — the arithmetic stays exact integers until the single
    final cosine, computed with identical op order in both engines
    (DECIMAL/HUGEINT dot -> double, one sqrt, one divide, round 6)."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _CENT_SCALE).cast("long").alias("qx"),
    )
    # the |labels| x dim sum frame feeds both self-join sides (and n /
    # dots feed three consumers each): lazily localCheckpoint the tiny
    # reduced frames so the corpus explodes ONCE, not once per consumer
    s = (
        q.groupBy("label", "dim")
        .agg(F.sum(F.col("qx").cast("decimal(38,0)")).alias("sv"))
        .localCheckpoint(eager=False)
    )
    n = emb.groupBy("label").agg(F.count("*").alias("n"))
    a = s.select(F.col("label").alias("la"), "dim", F.col("sv").alias("sa"))
    b = s.select(F.col("label").alias("lb"), "dim", F.col("sv").alias("sb"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("la") <= F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
        .localCheckpoint(eager=False)
    )
    daa = dots.filter(F.col("la") == F.col("lb")).select(
        F.col("la").alias("label_a"), F.col("dot").alias("dot_aa")
    )
    dbb = dots.filter(F.col("la") == F.col("lb")).select(
        F.col("lb").alias("label_b"), F.col("dot").alias("dot_bb")
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    return (
        dots.filter(F.col("la") < F.col("lb"))
        .select(
            F.col("la").alias("label_a"), F.col("lb").alias("label_b"), "dot"
        )
        .join(F.broadcast(daa), "label_a")
        .join(F.broadcast(dbb), "label_b")
        .join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("dot_aa").cast("double") * F.col("dot_bb").cast("double")
                ),
                6,
            ).alias("cos_r6"),
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------- Bellman-Ford SSSP
_SSSP_ROUNDS = 4

_SSSP_EDGES_CTE = f"""
    half AS (
      SELECT o_custkey AS src, l_suppkey + {_BFS_SUPP_OFFSET} AS dst,
             count(DISTINCT o_orderkey) AS cnt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT src, dst, 1000000 // cnt AS w FROM half
      UNION ALL
      SELECT dst AS src, src AS dst, 1000000 // cnt AS w FROM half
    )
"""


def _sssp_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT node, min(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT e.dst AS node, p.d + e.w AS d
        FROM {prev} p JOIN edges e ON e.src = p.node
      ) GROUP BY node
    )"""


@_register(
    "x_sssp_bellman",
    sql=f"""
    WITH {_SSSP_EDGES_CTE},
    d0 AS (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS d
      FROM edges WHERE src <= 10
    ),
    {",".join(_sssp_round_sql(f"d{k}", f"d{k + 1}").lstrip()
              for k in range(_SSSP_ROUNDS))}
    SELECT node, d AS dist_micro FROM d{_SSSP_ROUNDS}
    ORDER BY dist_micro, node LIMIT 50
    """,
)
def x_sssp_bellman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: hop-bounded single-source shortest path (Bellman-Ford
    1958, {_SSSP_ROUNDS} relaxation rounds) over the weighted
    customer<->supplier graph — edge weight 1e6 div |linking orders|,
    so strongly-transacting pairs are CLOSE: the weighted-proximity
    complement of x_bfs_hops' unweighted reach. Output: the 50 nearest
    nodes to the seed set (customers 1..10) by min cost over paths of
    <= {_SSSP_ROUNDS} edges.

    The distributed Bellman-Ford step IS the Pregel iterate: each round
    relaxes every frontier edge with ONE hash join against the
    checkpointed weighted edge list and folds candidate distances with
    one partial-aggregable min — no priority queue, no sequential
    Dijkstra state. Exact integer micro-unit weights (floor division in
    both engines) make every round hash-matchable: the DuckDB oracle
    replays the same {_SSSP_ROUNDS} rounds as chained CTEs (the
    x_pagerank_exact oracle idiom), so the iteration itself is
    verified, not just the final ranking. Top-50 via
    TakeOrderedAndProject."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    half = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + _BFS_SUPP_OFFSET).alias("dst"),
        )
        .agg(F.countDistinct("o_orderkey").alias("cnt"))
        .withColumn("w", F.expr("1000000 div cnt"))
        .select("src", "dst", "w")
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=False)
    dist = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") <= 10)
        .distinct()
        .withColumn("d", F.lit(0).cast("long"))
    )
    for _ in range(_SSSP_ROUNDS):
        relaxed = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return (
        dist.select("node", F.col("d").alias("dist_micro"))
        .orderBy("dist_micro", "node")
        .limit(50)
    )


# ------------------------------------------- sorted-neighborhood dedup
_SNM_W = 3  # neighborhood window (pairs within w rank positions)
_SNM_PREFIX = 24  # sort-key: normalized text prefix
_SNM_TAU = 300_000  # report pairs with jaccard >= 0.3


@_register(
    "e2_sorted_neighborhood",
    sql=f"""
    WITH keyed AS (
      SELECT doc_id,
             substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                    1, {_SNM_PREFIX}) AS skey,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, skey, toks,
             row_number() OVER (ORDER BY skey, doc_id) AS rnk
      FROM keyed
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks)) AS uni
      FROM ranked a JOIN ranked b
        ON b.rnk - a.rnk BETWEEN 1 AND {_SNM_W}
    )
    SELECT doc_a, doc_b,
           (1000000 * inter) // uni AS jaccard_micro
    FROM pairs
    WHERE (1000000 * inter) // uni >= {_SNM_TAU}
    ORDER BY doc_a, doc_b
    """,
)
def e2_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+: sorted-neighborhood near-dup candidates (Hernandez & Stolfo
    1995, SNM) — the third classic blocking family beside LSH banding
    and prefix filtering: sort on a normalized key (here a
    {_SNM_PREFIX}-char cleaned-text prefix), then compare only records
    within {_SNM_W} positions of each other; exact token Jaccard
    verifies each candidate, pairs >= {_SNM_TAU / 1e6:.1f} survive.

    Scale shape: the global sort order comes from the DISTRIBUTED
    two-pass rank (operators/rank.stratified_rank — range partition +
    bounded offset collect, no single-task Window; the SQL
    row_number() is the ORACLE's spelling, not the plan). The
    neighborhood join never goes quadratic: ranks bucket by
    rnk div {_SNM_W}, each left row probes its own and the next bucket
    (one 2x explode), so the equi-join fan-out is <= 2 rows per record
    and the band predicate trims to <= {_SNM_W} comparisons each —
    SNM's defining O(n·w) comparison bound, preserved distributed.
    Verification arithmetic is pure integers (1e6·|∩| div |∪|)."""
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), 1, _SNM_PREFIX
        ).alias("skey"),
        F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"),
    )
    # both band-join sides consume the ranked frame: checkpoint so the
    # two-pass rank kernel runs once, not once per side
    ranked = (
        stratified_rank(keyed, [], ["skey", "doc_id"], rank_col="rnk")
        .drop("n_stratum")
        .localCheckpoint(eager=False)
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("rnk").alias("rnk_a"),
        F.explode(
            F.array(
                F.expr(f"rnk div {_SNM_W}"), F.expr(f"rnk div {_SNM_W} + 1")
            )
        ).alias("bucket"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("rnk").alias("rnk_b"),
        F.expr(f"rnk div {_SNM_W}").alias("bucket"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("rnk_b") - F.col("rnk_a") >= 1)
            & (F.col("rnk_b") - F.col("rnk_a") <= _SNM_W)
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            uni.alias("uni"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("(1000000 * inter) div uni").alias("jaccard_micro"),
        )
        .filter(F.col("jaccard_micro") >= _SNM_TAU)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------- event transition matrix
@_register(
    "x_markov_transitions",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    outdeg AS (
      SELECT from_type, sum(n) AS n_from FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(o.n_from AS BIGINT) AS n_from,
           (1000000 * t.n) // o.n_from AS p_micro
    FROM trans t JOIN outdeg o USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def x_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: first-order Markov transition matrix over per-user
    event sequences — the behavioral-model fit behind next-action
    prediction and anomaly scoring (which transitions are common,
    which never happen).

    Scale shape: successor extraction windows on the POPULATION key
    (user_id — cardinality scales WITH the corpus, so
    Window.partitionBy is the right tool here, same regime call as
    x_feature_matrix; the rank-family carries exist for the opposite,
    low-cardinality regime). Each user's slice is their own event
    count, bounded; the raw stream then collapses map-side through the
    (from, to) partial aggregate into a |types|^2 matrix. Transition
    probabilities are integer floor-division micro-units — exact in
    both engines."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    trans = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    outdeg = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        trans.join(F.broadcast(outdeg), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.expr("(1000000 * n) div n_from").alias("p_micro"),
        )
        .orderBy("from_type", "to_type")
    )


# ------------------------------------------------ DP noisy release
_DP_EPS_MICRO = 1_000_000  # epsilon = 1.0 in micro units
_DP_SALT = "dp-laplace-r7"


@_register(
    "x_dp_counts",
    sql=f"""
    WITH cells AS (
      SELECT event_type, dayofweek(ts) AS dow0, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    noised AS (
      SELECT event_type, dow0, n,
             ({md5_long_sql("concat(event_type, ':', dow0)", _DP_SALT)}
              % 999999 + 1) / 1000000.0 AS u
      FROM cells
    )
    SELECT event_type, dow0,
           n + CAST(floor(
                 -(CASE WHEN u - 0.5 < 0 THEN -1.0 ELSE 1.0 END)
                 * ln(1.0 - 2.0 * abs(u - 0.5))
               ) AS BIGINT) AS noisy_count,
           {_DP_EPS_MICRO} AS epsilon_micro
    FROM noised
    ORDER BY event_type, dow0
    """,
)
def x_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: differentially-private noisy count release (Dwork et
    al. 2006) — per-(event_type, day-of-week) counts published with
    Laplace(1/eps) noise, eps = 1, sensitivity 1 (each event lands in
    exactly one cell; USER-level DP would first clip per-user
    contributions — documented, not done here). True counts never
    leave the query.

    Noise is SEEDED: the uniform comes from a salted md5 of the cell
    key (the engine's cross-engine hash primitive), pushed through the
    Laplace inverse CDF -sign(u-1/2)·ln(1-2|u-1/2|) with identical IEEE
    op order in both engines, floored to an integer (integral release
    is standard DP post-processing). Seeded noise makes the release
    REPRODUCIBLE and hash-verifiable — the right default for regression
    -tested pipelines; swap the salt per release epoch (or a real CSPRNG
    for adversarial settings, where hash-seeded noise is NOT a DP
    guarantee against an adversary who knows the salt).

    Scale shape: the corpus collapses through one partial-aggregable
    groupBy into |types| x 7 cells; noise is a per-cell scalar
    expression. Nothing else moves."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow0")
    ).agg(F.count("*").alias("n"))
    u = (
        (
            md5_long(
                F.concat_ws(":", F.col("event_type"), F.col("dow0")),
                salt=_DP_SALT,
            )
            % 999_999
            + 1
        )
        / 1_000_000.0
    )
    d = u - 0.5
    noise = -(F.when(d < 0, -1.0).otherwise(1.0)) * F.log(1.0 - 2.0 * F.abs(d))
    return cells.select(
        "event_type",
        "dow0",
        (F.col("n") + F.floor(noise).cast("long")).alias("noisy_count"),
        F.lit(_DP_EPS_MICRO).alias("epsilon_micro"),
    ).orderBy("event_type", "dow0")


# ------------------------------------------------------- WARC ingestion
@_register(
    "s10_warc_roundtrip",
    sql=f"""
    SELECT source, count(*) AS n_docs,
           CAST(sum(octet_length(CAST(text AS BLOB))) AS BIGINT) AS total_bytes,
           CAST(sum({md5_long_sql('text')} % 1000000007) AS BIGINT)
             AS text_checksum
    FROM documents GROUP BY source ORDER BY source
    """,
)
def s10_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-family extension: WARC ingestion — the format LLM corpora
    actually arrive in (Common Crawl WARC/WET). The corpus is
    serialized into shard files by the DISTRIBUTED writer
    (sources/warc.write_warc_shards — executors stream records out via
    mapInPandas, the driver sees only the shard manifest), then read
    back through Spark's OWN source API: the registered "warcsim"
    Python Data Source lists one input partition per shard and parses
    records by Content-Length octet framing with O(record) memory
    (clean-room from the public ISO 28500 description).

    The oracle proves the BYTE-level round-trip: per-source doc counts,
    total payload octets, and a sum of md5 fingerprints of the DECODED
    payloads must match the same aggregates computed from the parquet
    originals — one corrupted byte anywhere in the writer, the framing,
    or the parser flips the checksum."""
    import shutil

    from ..sources import warc

    docs = load(spark, sf_dir, "documents")
    tmp = scratch_dir("warc_")
    try:
        manifest = warc.write_warc_shards(docs, tmp + "/shards", n_shards=4)
        assert sum(m["n_records"] for m in manifest) > 0
        warc.register(spark)
        raw = (
            spark.read.format("warcsim")
            .option("path", tmp + "/shards")
            .load()
        )
        out = (
            raw.select(
                F.col("headers")["X-Graft-Source"].alias("source"),
                F.col("content_length"),
                F.decode("payload", "UTF-8").alias("text"),
            )
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("content_length").alias("total_bytes"),
                F.sum(md5_long(F.col("text")) % 1_000_000_007).alias(
                    "text_checksum"
                ),
            )
            .orderBy("source")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -------------------------------------------------- RFM segmentation
@_register(
    "x_rfm_segments",
    sql="""
    WITH cutoff AS (SELECT max(o_orderdate) AS mx FROM orders),
    rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), (SELECT mx FROM cutoff))
               AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT count(*) AS nc FROM rfm),
    ranked AS (
      SELECT o_custkey, monetary_cents,
             row_number() OVER (ORDER BY recency_days, o_custkey) AS r_rnk,
             row_number() OVER (ORDER BY frequency DESC, o_custkey) AS f_rnk,
             row_number() OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_rnk
      FROM rfm
    )
    SELECT (3 * (r_rnk - 1)) // nc AS r_tier,
           (3 * (f_rnk - 1)) // nc AS f_tier,
           (3 * (m_rnk - 1)) // nc AS m_tier,
           count(*) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM ranked CROSS JOIN n
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def x_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: RFM customer segmentation (Hughes 1994) — every
    customer scored into recency/frequency/monetary TERTILES, segments
    reported with size and revenue: the classic lifecycle-marketing
    mart (0,0,0 = best customers, 2,2,2 = lapsed).

    Scale shape: orders collapse to one row per customer in a single
    partial agg; the three tier assignments are integer arithmetic
    over the DISTRIBUTED two-pass rank (operators/rank.stratified_rank
    — one pass per dimension, each range-partitioned, no global
    Window; the SQL row_number is the ORACLE's spelling). Tiers use
    (3·(rank-1)) div n — exact both engines, no percentile
    interpolation; monetary is DECIMAL cents. Output is <= 27 segment
    rows at any corpus size."""
    o = load(spark, sf_dir, "orders")
    cutoff = o.agg(F.max("o_orderdate").alias("mx"))
    rfm = (
        o.join(F.broadcast(cutoff))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("mx"), F.max("o_orderdate")).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("monetary_cents"),
        )
    ).localCheckpoint(eager=False)
    nc = rfm.count()
    ranked = stratified_rank(rfm, [], ["recency_days", "o_custkey"], rank_col="r_rnk").drop(
        "n_stratum"
    )
    ranked = ranked.withColumn("neg_f", -F.col("frequency"))
    ranked = stratified_rank(ranked, [], ["neg_f", "o_custkey"], rank_col="f_rnk").drop(
        "n_stratum"
    )
    ranked = ranked.withColumn("neg_m", -F.col("monetary_cents"))
    ranked = stratified_rank(ranked, [], ["neg_m", "o_custkey"], rank_col="m_rnk").drop(
        "n_stratum"
    )
    return (
        ranked.select(
            F.expr(f"(3 * (r_rnk - 1)) div {nc}").alias("r_tier"),
            F.expr(f"(3 * (f_rnk - 1)) div {nc}").alias("f_tier"),
            F.expr(f"(3 * (m_rnk - 1)) div {nc}").alias("m_tier"),
            "monetary_cents",
        )
        .groupBy("r_tier", "f_tier", "m_tier")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("r_tier", "f_tier", "m_tier")
    )


# --------------------------------------- position-based multi-touch
@_register(
    "x_multitouch_attribution",
    sql=f"""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS purchase_ms
      FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms
      FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.purchase_id, p.user_id, c.click_id, c.click_ms
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND c.click_ms <= p.purchase_ms
       AND c.click_ms > p.purchase_ms - {_ATTR_LOOKBACK_MS}
    ),
    ranked AS (
      SELECT purchase_id, user_id, click_id,
             row_number() OVER (
               PARTITION BY purchase_id ORDER BY click_ms, click_id
             ) AS rf,
             row_number() OVER (
               PARTITION BY purchase_id ORDER BY click_ms DESC, click_id DESC
             ) AS rl
      FROM touches
    ),
    stats AS (
      SELECT purchase_id, user_id, count(*) AS n_touch,
             max(CASE WHEN rf = 1 THEN click_id END) AS first_click_id,
             max(CASE WHEN rl = 1 THEN click_id END) AS last_click_id
      FROM ranked GROUP BY 1, 2
    )
    SELECT purchase_id, user_id, n_touch, first_click_id, last_click_id,
           CASE WHEN n_touch = 1 THEN 1000000 ELSE 400000 END
             AS credit_first_micro,
           CASE WHEN n_touch = 1 THEN 0 ELSE 400000 END AS credit_last_micro,
           CASE WHEN n_touch > 2 THEN 200000 // (n_touch - 2) ELSE 0 END
             AS credit_mid_each_micro
    FROM stats
    ORDER BY purchase_id
    """,
)
def x_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: position-based (U-shaped) multi-touch attribution —
    the multi-credit complement of x_attribution's last-touch: within
    the 24 h lookback the FIRST click earns 40%, the LAST 40%, and
    interior touches split the remaining 20% equally (single-touch
    purchases give that click everything; purchases with no touch are
    absent here — last-touch covers the NULL case).

    Shape: the same banded as-of join feeds min_by/max_by struct picks
    and a count — three mergeable aggregates in ONE partial-aggregable
    pass, no per-purchase window, fan-out still capped by the band.
    Credits are integer micro-units with floor division; deterministic
    millisecond ties break on click_id in both engines."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("purchase_ms"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_millis("ts").alias("click_ms"),
    )
    key = F.struct("click_ms", "click_id")
    stats = (
        purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user)
            & (clicks.click_ms <= purchases.purchase_ms)
            & (clicks.click_ms > purchases.purchase_ms - _ATTR_LOOKBACK_MS),
            "inner",
        )
        .groupBy("purchase_id", "user_id")
        .agg(
            F.count("*").alias("n_touch"),
            F.min_by("click_id", key).alias("first_click_id"),
            F.max_by("click_id", key).alias("last_click_id"),
        )
    )
    return stats.select(
        "purchase_id",
        "user_id",
        "n_touch",
        "first_click_id",
        "last_click_id",
        F.when(F.col("n_touch") == 1, 1_000_000)
        .otherwise(400_000)
        .cast("long")
        .alias("credit_first_micro"),
        F.when(F.col("n_touch") == 1, 0)
        .otherwise(400_000)
        .cast("long")
        .alias("credit_last_micro"),
        F.when(
            F.col("n_touch") > 2, F.expr("200000 div (n_touch - 2)")
        )
        .otherwise(0)
        .cast("long")
        .alias("credit_mid_each_micro"),
    ).orderBy("purchase_id")


# ------------------------------------------------------- A/B analysis
@_register(
    "x_ab_test",
    sql="""
    WITH assign AS (
      SELECT DISTINCT user_id, user_id % 2 AS variant FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value > 150.0
    ),
    per_variant AS (
      SELECT a.variant,
             count(*) AS n_users,
             count(c.user_id) AS n_converted
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY 1
    ),
    wide AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n_users END) AS n0,
        max(CASE WHEN variant = 0 THEN n_converted END) AS c0,
        max(CASE WHEN variant = 1 THEN n_users END) AS n1,
        max(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM per_variant
    )
    SELECT n0, c0, n1, c1,
           (1000000 * c0) // n0 AS cr0_micro,
           (1000000 * c1) // n1 AS cr1_micro,
           CAST(floor(
             ((1.0 * c1 / n1) - (1.0 * c0 / n0))
             / nullif(sqrt((1.0 * (c0 + c1) / (n0 + n1))
                    * (1.0 - 1.0 * (c0 + c1) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 0.0) * 1e6
           ) AS BIGINT) AS z_micro
    FROM wide
    """,
)
def x_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: two-proportion A/B test readout — users hash-split
    into variants (user_id parity stands in for the assignment hash),
    conversion = >= 1 HIGH-VALUE purchase (value > 150 — plain
    purchase saturates at 100% in the fixture); reports per-variant
    rates and the
    pooled two-proportion z statistic (the experiment-dashboard row).

    Scale shape: assignment and conversion both collapse through
    distinct/partial aggs keyed on user_id (co-partitioned left join);
    the final statistic is computed on a TWO-row frame. Rates are
    integer micro-units; z is one float expression evaluated with
    identical IEEE op order in both engines, floored to micro-units."""
    e = load(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().withColumn(
        "variant", F.col("user_id") % 2
    )
    conv = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 150.0))
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    pv = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            F.count("converted").alias("n_converted"),
        )
    )
    wide = pv.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = 1.0 * F.col("c0") / F.col("n0")
    p1 = 1.0 * F.col("c1") / F.col("n1")
    pp = 1.0 * (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    # nullif guards the degenerate all-convert/none-convert pool
    # (pooled variance 0): z is NULL there, identically in the oracle
    z = (p1 - p0) / F.nullif(
        F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
        F.lit(0.0),
    )
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.expr("(1000000 * c0) div n0").alias("cr0_micro"),
        F.expr("(1000000 * c1) div n1").alias("cr1_micro"),
        F.floor(z * 1e6).cast("long").alias("z_micro"),
    )


# ---------------------------------------- temporal earliest arrival
_TR_ROUNDS = 3

_TR_EDGES_CTE = f"""
    tx AS (
      SELECT o_custkey AS c, l_suppkey + {_BFS_SUPP_OFFSET} AS s,
             CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT) AS day
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2, 3
    ),
    edges AS (
      SELECT c AS src, s AS dst, day FROM tx
      UNION ALL
      SELECT s AS src, c AS dst, day FROM tx
    )
"""


def _tr_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT node, min(arrival) AS arrival FROM (
        SELECT node, arrival FROM {prev}
        UNION ALL
        SELECT e.dst AS node, e.day AS arrival
        FROM {prev} p JOIN edges e ON e.src = p.node AND e.day >= p.arrival
      ) GROUP BY node
    )"""


@_register(
    "x_temporal_reach",
    sql=f"""
    WITH {_TR_EDGES_CTE},
    a0 AS (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS arrival
      FROM edges WHERE src <= 10
    ),
    {",".join(_tr_round_sql(f"a{k}", f"a{k + 1}").lstrip()
              for k in range(_TR_ROUNDS))}
    SELECT node, arrival AS arrival_day FROM a{_TR_ROUNDS}
    ORDER BY arrival_day, node LIMIT 50
    """,
)
def x_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: EARLIEST-ARRIVAL temporal reachability (Wu et al.
    2014) over the time-stamped transaction graph — an edge exists at
    its order date, and a temporal path must use non-decreasing dates:
    'how fast can influence starting at customers 1..10 propagate
    through real transactions', the information-diffusion question a
    static BFS (x_bfs_hops) gets wrong by ignoring time ordering.

    Earliest arrival with <= k edges has optimal substructure (an
    earlier arrival at v never disables an edge out of v), so the
    distributed form is the same Pregel relaxation as x_sssp_bellman
    with a TIME-GATED join predicate (e.day >= arrival) and min-arrival
    folding — one hash join + one partial-aggregable min per round,
    {_TR_ROUNDS} rounds. Dates are exact epoch-day integers; the
    DuckDB oracle replays every round as chained CTEs, verifying the
    iteration itself. Top-50 earliest via TakeOrderedAndProject."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    tx = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _BFS_SUPP_OFFSET).alias("s"),
            F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000").alias("day"),
        )
        .distinct()
    )
    edges = tx.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "day"
    ).unionByName(
        tx.select(F.col("s").alias("src"), F.col("c").alias("dst"), "day")
    ).localCheckpoint(eager=False)
    arr = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") <= 10)
        .distinct()
        .withColumn("arrival", F.lit(0).cast("long"))
    )
    for _ in range(_TR_ROUNDS):
        relaxed = edges.join(
            arr,
            (edges.src == arr.node) & (edges.day >= arr.arrival),
        ).select(F.col("dst").alias("node"), F.col("day").alias("arrival"))
        arr = (
            arr.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("arrival").alias("arrival"))
            .localCheckpoint(eager=False)
        )
    return (
        arr.select("node", F.col("arrival").alias("arrival_day"))
        .orderBy("arrival_day", "node")
        .limit(50)
    )


# ------------------------------------------------------------ Zipf fit
_ZIPF_TOP = 1000


@_register(
    "e4_zipf_fit",
    sql=f"""
    WITH vocab AS (
      SELECT tok, count(*) AS cnt FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
      ) GROUP BY tok
    ),
    top AS (
      SELECT tok, cnt FROM vocab ORDER BY cnt DESC, tok LIMIT {_ZIPF_TOP}
    ),
    pts AS (
      SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok)
                               AS DOUBLE)) * 1e6) AS BIGINT) AS x,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
      FROM top
    ),
    s AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM pts
    )
    SELECT n,
           {ratio_round_big_sql(
               'CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy',
               'CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx', 6)}
             AS zipf_slope,
           {ratio_round_big_sql(
               'CAST(sy AS HUGEINT) * (CAST(n AS HUGEINT) * sxx '
               '- CAST(sx AS HUGEINT) * sx) - (CAST(n AS HUGEINT) * sxy '
               '- CAST(sx AS HUGEINT) * sy) * sx',
               'CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sxx '
               '- CAST(sx AS HUGEINT) * sx)', 0)}
             AS intercept_micro_nats
    FROM s
    """,
)
def e4_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+: Zipf's-law fit of the corpus unigram distribution — OLS of
    ln(frequency) on ln(rank) over the top-{_ZIPF_TOP} tokens; natural
    text sits near slope -1, so the fitted exponent is the
    datasheet-level 'is this corpus language-shaped' number (template
    spam and tables flatten it, boilerplate steepens it).

    Scale shape: the corpus collapses through the partial-aggregable
    vocabulary count; top-{_ZIPF_TOP} via TakeOrderedAndProject
    (mergeable bounded top-k, never a vocab sort); the rank window
    then runs over a frame LIMIT-bounded to {_ZIPF_TOP} rows by
    construction — the bounded-domain window regime, not a corpus
    window. The fit reuses the exact-integer OLS form
    (x_group_regression): ln values floored to micro-nats, moment sums
    in DECIMAL(38,0)/HUGEINT, one ratio_round_big per coefficient —
    hash-identical in both engines. Output is ONE row."""

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    top = vocab.orderBy(F.desc("cnt"), "tok").limit(_ZIPF_TOP)
    # bounded frame: exactly _ZIPF_TOP rows by the LIMIT above
    pts = attach_bounded_rank(top, [F.desc("cnt"), "tok"]).select(
        F.floor(F.log(F.col("rnk").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cnt").cast("double")) * 1e6).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = [F.col(c).cast("decimal(38,0)") for c in ("n", "sx", "sy")]
    sxx, sxy = F.col("sxx"), F.col("sxy")
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy
    return s.select(
        "n",
        ratio_round_big(num, den, 6).alias("zipf_slope"),
        ratio_round_big(sy * den - num * sx, n * den, 0).alias(
            "intercept_micro_nats"
        ),
    )


# ------------------------------------------------ MMR diversification
def mmr_chain_sql(k: int, lam: float) -> str:
    """Reusable greedy-MMR unroll: the comma-led CTE fragment
    ``sel1 .. chosen{k}`` that replays k selection steps over two
    caller-provided MATERIALIZED CTEs — ``pk(query_id, neighbor_id,
    k)`` (exact 1e-4-grid relevance as an integer) and ``ps(query_id,
    ia, ib, p)`` (1e-6-grid pair cosines as integers). Each ``sel{t}``
    holds step t's pick per query with its exact integer score ``su``
    (1e-7 units); shared by e3_mmr_rerank and e8_rag_context_pack so
    the greedy kernel has exactly ONE SQL encoding."""
    lam_num = int(round(lam * 10))
    assert abs(lam - lam_num / 10) < 1e-12, f"lam must be a tenth, got {lam}"
    mu_num = 10 - lam_num
    parts = [
        f""",
    sel1 AS MATERIALIZED (
      SELECT query_id, neighbor_id, su FROM (
        SELECT query_id, neighbor_id,
               100 * {lam_num} * k AS su,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY 100 * {lam_num} * k DESC,
                                           neighbor_id) AS rn
        FROM pk
      ) WHERE rn = 1
    ),
    chosen1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM sel1)"""
    ]
    for t in range(2, k + 1):
        parts.append(f""",
    red{t} AS MATERIALIZED (
      SELECT pk.query_id, pk.neighbor_id, pk.k, max(ps.p) AS red
      FROM pk
      JOIN ps ON ps.query_id = pk.query_id AND ps.ia = pk.neighbor_id
      JOIN chosen{t - 1} ch ON ch.query_id = ps.query_id
                           AND ch.neighbor_id = ps.ib
      WHERE NOT EXISTS (
        SELECT 1 FROM chosen{t - 1} x
        WHERE x.query_id = pk.query_id
          AND x.neighbor_id = pk.neighbor_id
      )
      GROUP BY 1, 2, 3
    ),
    sel{t} AS MATERIALIZED (
      SELECT query_id, neighbor_id, su FROM (
        SELECT query_id, neighbor_id,
               100 * {lam_num} * k - {mu_num} * red AS su,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY 100 * {lam_num} * k - {mu_num} * red
                                           DESC, neighbor_id) AS rn
        FROM red{t}
      ) WHERE rn = 1
    ),
    chosen{t} AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM chosen{t - 1}
      UNION ALL SELECT query_id, neighbor_id FROM sel{t}
    )""")
    return "".join(parts)


def _mmr_oracle_sql(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """DuckDB replay of the greedy MMR selection (round-8 upgrade from
    rows-only): the k selection steps unroll as chained CTEs — each
    step computes every remaining candidate's redundancy (max rounded
    pair-cos to the selected set) and takes the arg-max of the EXACT
    integer score 100*(10*lam)*sim_1e4 - (10-10*lam)*red_1e6 (1e-7
    units) with the neighbor-id tie-break, exactly the kernel's
    lexsort. Float scoring sat ON the round-6 half boundary
    systematically (see operators/similarity.mmr_select); the integer
    lift makes score and emitted mmr_score bit-identical across
    engines."""
    cos = (
        "round(list_dot_product(q.qv, c.cv) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4)"
    )
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    c AS (
      SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
    ),
    pool AS MATERIALIZED (
      SELECT query_id, neighbor_id, sim FROM (
        SELECT q.query_id, c.neighbor_id, {cos} AS sim,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {cos} DESC, c.neighbor_id) AS rnk
        FROM c, q WHERE q.query_id <> c.neighbor_id
      ) WHERE rnk <= {pool}
    ),
    pv AS MATERIALIZED (
      SELECT pool.query_id, pool.neighbor_id, pool.sim,
             list_transform(c.cv, x -> x /
               (CASE WHEN sqrt(list_dot_product(c.cv, c.cv)) = 0
                     THEN 1.0e0
                     ELSE sqrt(list_dot_product(c.cv, c.cv)) END)) AS u
      FROM pool JOIN c USING (neighbor_id)
    ),
    ps AS MATERIALIZED (
      SELECT a.query_id, a.neighbor_id AS ia, b.neighbor_id AS ib,
             CAST(round(round(list_dot_product(a.u, b.u), 6) * 1000000) AS BIGINT) AS p
      FROM pv a JOIN pv b USING (query_id)
    ),
    pk AS MATERIALIZED (
      SELECT query_id, neighbor_id,
             CAST(round(sim * 10000) AS BIGINT) AS k
      FROM pool
    )"""
    ]
    parts.append(mmr_chain_sql(k, lam))
    finals = "\n    UNION ALL ".join(
        f"SELECT query_id, CAST({t} AS INT) AS position, neighbor_id,"
        f" su / 10000000.0 AS mmr_score FROM sel{t}"
        for t in range(1, k + 1)
    )
    parts.append(f"\n    {finals}")
    return "".join(parts)


@_register("e3_mmr_rerank", sql=_mmr_oracle_sql())
def e3_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+: Maximal Marginal Relevance diversified retrieval (Carbonell
    & Goldstein 1998) — rerank each query's top-20 cosine shortlist
    into 5 diverse results (operators/similarity.mmr_rerank). FULL
    value oracle since round 8: the greedy selection is sequential but
    BOUNDED (k=5 steps), so the oracle unrolls it as chained CTEs and
    hash-matches every position, pick, and score (_mmr_oracle_sql —
    the x_hits_scores iterate-verification idiom applied to greedy
    selection). The kernel is additionally pinned against a pure-numpy
    reference and a planted-redundancy demotion test in
    tests/test_similarity.py. Per-query work is O(pool^2 * k) on a
    BOUNDED shortlist — corpus-independent after the mergeable
    partial top-k."""
    from ..operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(emb.filter(F.col("vec_id") < 5), emb)


# ------------------------------------------------------ HITS (exact)
@_register(
    "x_hits_scores",
    sql=f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS hub, l_suppkey AS auth
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    a1 AS (
      SELECT auth, CAST(count(*) AS HUGEINT) AS a FROM edges GROUP BY auth
    ),
    h1 AS (
      SELECT hub, CAST(sum(a) AS HUGEINT) AS h
      FROM edges JOIN a1 USING (auth) GROUP BY hub
    ),
    a2 AS (
      SELECT auth, CAST(sum(h) AS HUGEINT) AS a
      FROM edges JOIN h1 USING (hub) GROUP BY auth
    ),
    h2 AS (
      SELECT hub, CAST(sum(a) AS HUGEINT) AS h
      FROM edges JOIN a2 USING (auth) GROUP BY hub
    ),
    ranked AS (
      SELECT 'authority' AS role, auth AS node, CAST(a AS BIGINT) AS score
      FROM a2
      UNION ALL
      SELECT 'hub' AS role, hub AS node, CAST(h AS BIGINT) AS score
      FROM h2
    )
    SELECT role, node, score FROM (
      SELECT role, node, score,
             row_number() OVER (PARTITION BY role
                                ORDER BY score DESC, node) AS rnk
      FROM ranked
    ) WHERE rnk <= 20
    ORDER BY role, score DESC, node
    """,
)
def x_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: HITS hubs & authorities (Kleinberg 1999) on the
    bipartite customer->supplier purchase graph — the one graph family
    where HITS's two-sided semantics is the natural fit (hub customers
    buy from authoritative suppliers and vice versa), complementing
    PageRank's single-score view. Two full mutual-reinforcement rounds
    (a=A^T h, h=A a) from unit authorities, UNNORMALIZED in exact
    integers: rankings are scale-invariant, so skipping the float L2
    normalization loses nothing and buys bit-exact cross-engine scores
    (DECIMAL(38,0)/HUGEINT — degree-cubed magnitudes, far under 1e38).

    Scale shape: each half-round is ONE hash join of the score frame
    against the checkpointed edge list + one partial-aggregable sum —
    identical to the PageRank iterate; top-20 per role via the
    mergeable bounded rank. The oracle replays both rounds as chained
    CTEs, so the iteration is verified, not just the ranking."""
    from ..operators.similarity import grouped_topk

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("hub"), F.col("l_suppkey").alias("auth"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = edges.groupBy("auth").agg(F.count("*").cast("decimal(38,0)").alias("a"))
    h = (
        edges.join(a, "auth")
        .groupBy("hub")
        .agg(F.sum("a").alias("h"))
    )
    a = (
        edges.join(h, "hub")
        .groupBy("auth")
        .agg(F.sum("h").alias("a"))
    )
    h = (
        edges.join(a, "auth")
        .groupBy("hub")
        .agg(F.sum("a").alias("h"))
    )
    def _checked_long(c):
        # DuckDB's HUGEINT->BIGINT cast errors on overflow; Spark's
        # non-ANSI decimal->long cast nulls silently, which would
        # silently corrupt the ranking at extreme scale. Mirror the
        # oracle's loud failure instead.
        return (
            F.when(
                c > F.lit(2**63 - 1).cast("decimal(38,0)"),
                F.raise_error(F.lit("hits score overflows BIGINT")),
            )
            .otherwise(c.cast("long"))
            .cast("long")
        )

    ranked = a.select(
        F.lit("authority").alias("role"),
        F.col("auth").alias("node"),
        _checked_long(F.col("a")).alias("score"),
    ).unionByName(
        h.select(
            F.lit("hub").alias("role"),
            F.col("hub").alias("node"),
            _checked_long(F.col("h")).alias("score"),
        )
    )
    return (
        grouped_topk(
            ranked, 20, "score", ascending=False, group_col="role", id_col="node"
        )
        .select("role", "node", "score")
        .orderBy("role", F.desc("score"), "node")
    )
