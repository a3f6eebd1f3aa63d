"""CTA-pipeline semantics exercised two ways:

1. Over the driver's generic `events`/`customer` tables (full DuckDB
   oracle): the tombstone train tracker (A4), the Faust-style dimension
   transform (P1+P2+A2), and the dashboard snapshot (J5+O2). `events` is
   the stand-in stream: user_id ~ train, event_type ~ station.
2. Over the deterministic CTA fixtures from generator.py (rows-only driver
   check; exact golden values asserted in tests/test_cta_views.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io_util import load
from ..generator import generate_all
from ..operators import cta_views
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


@_register(
    "a4_tombstone_latest",
    sql="""
    WITH seq AS (
      SELECT user_id, event_type AS station, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_station
      FROM events
    ),
    effects AS (
      SELECT station, ts, event_id, 1 AS kind, user_id AS occupant FROM seq
      UNION ALL
      SELECT prev_station AS station, ts, event_id, 0 AS kind,
             CAST(NULL AS BIGINT) AS occupant
      FROM seq WHERE prev_station IS NOT NULL
    )
    SELECT station, occupant AS occupant_user_id, event_id AS last_event_id
    FROM effects
    QUALIFY row_number() OVER (PARTITION BY station
                               ORDER BY ts DESC, event_id DESC, kind DESC) = 1
    """,
)
def a4_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J4 (consumers/models/line.py:31-54) on generic events: each event
    'arrives' its user at event_type and 'departs' them from their previous
    event_type; latest effect per station wins, departs leaving NULL.
    At equal (ts, event_id) the arrive outranks the depart — the reference
    processes the depart first within one message."""
    return a4_view(load(spark, sf_dir, "events"))


def a4_view(e: DataFrame) -> DataFrame:
    """The a4_tombstone body over an arbitrary events frame — shared with
    the x3_stateful_stream_replay twin-join encodings (round 12), whose
    batch side is this view over the replayed subset."""
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("station"),
        "ts",
        "event_id",
        F.lag("event_type").over(w_seq).alias("prev_station"),
    )
    arrive = seq.select(
        "station", "ts", "event_id", F.lit(1).alias("kind"), F.col("user_id").alias("occupant")
    )
    depart = seq.filter(F.col("prev_station").isNotNull()).select(
        F.col("prev_station").alias("station"),
        "ts",
        "event_id",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("occupant"),
    )
    effects = arrive.unionByName(depart)
    # latest-effect-per-key as a max_by aggregate over the unique
    # (ts, event_id, kind) ordering struct — the map-side partial collapses
    # each partition to one row per station before the shuffle; a
    # row_number window would shuffle and sort every effect row
    packed = F.struct("occupant", "event_id")
    return (
        effects.groupBy("station")
        .agg(F.max_by(packed, F.struct("ts", "event_id", "kind")).alias("m"))
        .select(
            "station",
            F.col("m.occupant").alias("occupant_user_id"),
            F.col("m.event_id").alias("last_event_id"),
        )
    )


@_register(
    "cta_stations_dim_analog",
    sql="""
    SELECT user_id,
           CASE WHEN last_type IN ('purchase', 'signup') THEN 'red'
                WHEN last_type = 'click' THEN 'blue'
                WHEN last_type = 'view' THEN 'green'
                ELSE NULL END AS line,
           last_event_id
    FROM (
      SELECT user_id, event_type AS last_type, event_id AS last_event_id
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
    )
    """,
)
def cta_stations_dim_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faust transform shape (consumers/faust_stream.py:72-92): latest row
    per key (A2) + first-true-wins CASE derivation (P2), over events."""
    e = load(spark, sf_dir, "events")
    packed = F.struct("event_type", "event_id")
    latest = (
        e.groupBy("user_id")
        .agg(F.max_by(packed, F.struct("ts", "event_id")).alias("m"))
        .select("user_id", F.col("m.event_type").alias("last_type"),
                F.col("m.event_id").alias("last_event_id"))
    )
    line = (
        F.when(F.col("last_type").isin("purchase", "signup"), "red")
        .when(F.col("last_type") == "click", "blue")
        .when(F.col("last_type") == "view", "green")
    )
    return latest.select("user_id", line.alias("line"), "last_event_id")


@_register(
    "cta_dashboard_snapshot",
    sql="""
    WITH latest AS (
      SELECT user_id, event_type AS last_type
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
    ),
    clicks AS (
      SELECT user_id, count(*) AS n_clicks FROM events
      WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT c_custkey AS user_id, c_name,
           coalesce(l.last_type, '---') AS last_type,
           CAST(coalesce(k.n_clicks, 0) AS BIGINT) AS entries
    FROM customer c
    LEFT JOIN latest l ON c.c_custkey = l.user_id
    LEFT JOIN clicks k ON c.c_custkey = k.user_id
    WHERE c_custkey < 200
    """,
)
def cta_dashboard_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard (J5+O2, status.html:29-39) over generic tables:
    dimension LEFT JOIN latest-state LEFT JOIN counts with '---'/0 defaults.
    This is the engine's flagship entry() query."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    e = load(spark, sf_dir, "events")
    latest = (
        e.groupBy("user_id")
        .agg(F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"))
        .select(F.col("user_id").alias("uid_latest"), "last_type")
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"))
        .select(F.col("user_id").alias("uid_clicks"), "n_clicks")
    )
    return (
        c.join(latest, c.c_custkey == latest.uid_latest, "left")
        .join(clicks, c.c_custkey == clicks.uid_clicks, "left")
        .select(
            F.col("c_custkey").alias("user_id"),
            "c_name",
            F.coalesce("last_type", F.lit("---")).alias("last_type"),
            F.coalesce("n_clicks", F.lit(0)).cast("long").alias("entries"),
        )
    )


# ------------------------- CTA fixture views (rows-only driver checks;
# ------------------------- golden values asserted in pytest)
def _fixtures(spark: SparkSession):
    return generate_all(spark)


@_register("cta_fixture_stations_dim")
def cta_fixture_stations_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stations.table.v1 on generated CTA fixtures (FIXTURES.md B5)."""
    return cta_views.stations_dim(_fixtures(spark)["stations"])


@_register("cta_fixture_turnstile_counts")
def cta_fixture_turnstile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNSTILE_SUMMARY on generated CTA fixtures."""
    return cta_views.turnstile_counts(_fixtures(spark)["turnstile"])


@_register("cta_fixture_train_positions")
def cta_fixture_train_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-position view (A4) on generated CTA fixtures."""
    return cta_views.train_positions(_fixtures(spark)["arrivals"])


@_register("cta_fixture_weather_now")
def cta_fixture_weather_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weather 'now' scalar (A3) on generated CTA fixtures."""
    return cta_views.weather_now(_fixtures(spark)["weather"])


@_register("cta_fixture_dashboard")
def cta_fixture_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dashboard snapshot (J5+O2) on generated CTA fixtures."""
    fx = _fixtures(spark)
    return cta_views.dashboard(
        cta_views.stations_dim(fx["stations"]),
        cta_views.train_positions(fx["arrivals"]),
        cta_views.turnstile_counts(fx["turnstile"]),
    )
