"""The four derived views + dashboard of the reference pipeline, as
source-agnostic DataFrame transforms (SURVEY.md sections 2.5-2.6, 3.2-3.4).

All are pure built-in expressions — no Python UDFs — so they run inside
whole-stage codegen and lift unchanged into foreachBatch for streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stations_dim(stations_raw: DataFrame) -> DataFrame:
    """Faust transform (consumers/faust_stream.py:72-92): P1 projection +
    P2 line derivation (red > blue > green, first-true-wins, else NULL) +
    A2 latest-per-key collapsing ~2 stop rows into one station row.

    'Latest' for the batch form is the max stop_id per station (the
    incrementing JDBC source, producers/connector.py:42-45, delivers rows
    in stop_id order, so max stop_id == last write)."""
    line = (
        F.when(F.col("red"), "red")
        .when(F.col("blue"), "blue")
        .when(F.col("green"), "green")
    )
    packed = F.struct("station_name", "order", line.alias("line"))
    return (
        stations_raw.groupBy("station_id")
        .agg(F.max_by(packed, F.col("stop_id")).alias("m"))
        .select("station_id", "m.station_name", "m.order", "m.line")
    )


def turnstile_counts(turnstile: DataFrame) -> DataFrame:
    """KSQL TURNSTILE_SUMMARY (consumers/ksql.py:24-40): running count of
    rider events per station (count == event multiplicity, A1/A7)."""
    return turnstile.groupBy("station_id").agg(F.count("*").alias("count"))


def arrival_effects(arrivals: DataFrame) -> DataFrame:
    """Each arrival means: arrive at (station_id, direction) AND, when
    prev is set, depart from (prev_station_id, prev_direction). Within
    one source event the reference applies the depart before the
    arrive, so the arrive ranks higher at equal ts — encoded by kind:
    depart=0 < arrive=1. Both effects come out of one explode, so a
    stream scans and decodes its source once per trigger, not once per
    branch of a union."""

    def effect(station, direction, kind, train_id, train_status):
        return F.struct(
            station.alias("station_id"),
            direction.alias("direction"),
            F.col("ts").alias("ts"),
            F.col("seq").alias("seq"),
            F.lit(kind).alias("kind"),
            train_id.alias("train_id"),
            train_status.alias("train_status"),
        )

    arrive = effect(
        F.col("station_id"), F.col("direction"), 1,
        F.col("train_id"), F.col("train_status"),
    )
    none = F.lit(None).cast("string")
    depart = effect(F.col("prev_station_id"), F.col("prev_direction"), 0, none, none)
    has_prev = F.col("prev_station_id").isNotNull() & F.col("prev_direction").isNotNull()
    effects = F.when(has_prev, F.array(arrive, depart)).otherwise(F.array(arrive))
    return arrivals.select(F.explode(effects).alias("e")).select("e.*")


def train_positions(arrivals: DataFrame) -> DataFrame:
    """A4/J4 latest-with-tombstone (consumers/models/line.py:31-54):
    explode each arrival into its effects, then the latest effect per
    (station_id, direction) wins; a depart winning leaves the slot empty
    (train_id NULL). The streaming view (streaming/views.py) is this
    same plan over a stream.

    Requires a unique per-event ``seq`` column for deterministic ordering
    of same-timestamp events from different trains."""
    # max_by over the unique (ts, seq, kind) ordering: map-side partials
    # mean the shuffle carries one row per key per partition, not every
    # effect
    packed = F.struct("train_id", "train_status")
    return (
        arrival_effects(arrivals)
        .groupBy("station_id", "direction")
        .agg(F.max_by(packed, F.struct("ts", "seq", "kind")).alias("m"))
        .select("station_id", "direction", "m.train_id", "m.train_status")
    )


def weather_now(weather: DataFrame) -> DataFrame:
    """A3 latest global value (consumers/models/weather.py:17-30)."""
    return (
        weather.orderBy(F.desc("ts"))
        .limit(1)
        .select("temperature", F.initcap(F.regexp_replace("status", "_", " ")).alias("status"))
    )


def dashboard(
    stations: DataFrame, positions: DataFrame, counts: DataFrame
) -> DataFrame:
    """J5+O2 snapshot assembly (consumers/models/station.py:12-43,
    consumers/templates/status.html:29-39): per station row with the
    direction-a/b occupant (or '---') and the turnstile count (or 0),
    lines ordered blue -> green -> red then by platform order."""
    pos_a = positions.filter(F.col("direction") == "a").select(
        "station_id", F.col("train_id").alias("train_a")
    )
    pos_b = positions.filter(F.col("direction") == "b").select(
        "station_id", F.col("train_id").alias("train_b")
    )
    line_rank = (
        F.when(F.col("line") == "blue", 0).when(F.col("line") == "green", 1).otherwise(2)
    )
    return (
        stations.join(pos_a, "station_id", "left")
        .join(pos_b, "station_id", "left")
        .join(counts, "station_id", "left")
        .select(
            "line",
            "station_name",
            "order",
            F.coalesce("train_a", F.lit("---")).alias("train_a"),
            F.coalesce("train_b", F.lit("---")).alias("train_b"),
            F.coalesce("count", F.lit(0)).alias("entries"),
        )
        .orderBy(line_rank, "order")
    )
