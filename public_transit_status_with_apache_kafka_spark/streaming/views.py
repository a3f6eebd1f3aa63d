"""Streaming maintenance of the four derived views (SURVEY.md sections
3.2-3.4): the reference's five OS processes collapse into streaming
queries in one SparkSession.

Tests replay parquet fixtures through a file source so the streaming
results must equal the batch results on identical input (SURVEY section
5.2 parity rule). Fed from a broker instead (the ``kafkasim`` source,
sources/kafka_sim.py), the view logic is unchanged.

State-bounding stance (X2): the reference's KSQL/Faust state grows with
key cardinality (~111 stations — fine). The same queries at 100 TB key
cardinality would use update mode + watermarks; complete mode here is
the deliberate choice for a bounded, dashboard-served key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import cta_views
from ..session import scoped_conf


def stream_from_directory(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream: replays parquet drops as micro-batches (the
    test stand-in for a Kafka topic; one file ~ one batch)."""
    return spark.readStream.schema(schema).parquet(path)


def turnstile_counts_stream(turnstile: DataFrame) -> DataFrame:
    """A1 (consumers/ksql.py:24-40) as a continuously-updated aggregate."""
    return turnstile.groupBy("station_id").agg(F.count("*").alias("count"))


def stations_dim_stream(stations_raw: DataFrame) -> DataFrame:
    """A2+P1+P2 (consumers/faust_stream.py:72-92) streaming form:
    last-write-wins via max_by keyed on the monotone stop_id."""
    line = (
        F.when(F.col("red"), "red")
        .when(F.col("blue"), "blue")
        .when(F.col("green"), "green")
    )
    projected = stations_raw.select(
        "station_id", "station_name", "order", line.alias("line"), "stop_id"
    )
    packed = F.struct("station_name", "order", "line")
    return (
        projected.groupBy("station_id")
        .agg(F.max_by(packed, F.col("stop_id")).alias("latest"))
        .select("station_id", "latest.station_name", "latest.order", "latest.line")
    )


def train_positions_stream(arrivals: DataFrame) -> DataFrame:
    """A4 (consumers/models/line.py:31-54) as a streaming aggregate: the
    batch plan (cta_views.train_positions: one explode into arrive and
    depart effects, max_by over the (ts, seq, kind) ordering per
    (station_id, direction)) over a stream — the applyInPandasWithState
    variant lives in streaming/state.py."""
    return cta_views.train_positions(arrivals)


def weather_now_stream(weather: DataFrame) -> DataFrame:
    """A3 (consumers/models/weather.py:17-30): latest global weather."""
    packed = F.struct("temperature", "status")
    return (
        weather.groupBy()
        .agg(F.max_by(packed, F.col("ts")).alias("latest"))
        .select(
            "latest.temperature",
            F.initcap(F.regexp_replace("latest.status", "_", " ")).alias("status"),
        )
    )


def arrivals_with_weather_stream(
    arrivals: DataFrame, weather: DataFrame
) -> DataFrame:
    """Stream-stream join (engine extension; the reference only joins
    stream→static, J1): each arrival is enriched with the weather report
    of its hour. Stream-stream joins REQUIRE an equality predicate (it
    keys the state store), so the join key is the hour bucket — exact
    for the hourly weather feed — with an at-or-after residual. Both
    sides carry watermarks so Spark can expire buffered rows once the
    other side's watermark passes the bucket. Inner join ⇒ append mode."""
    a = arrivals.withWatermark("ts", "2 hours").withColumn(
        "hour_bucket", F.date_trunc("hour", "ts")
    )
    w = (
        weather.select(F.col("ts").alias("w_ts"), "temperature", "status")
        .withWatermark("w_ts", "2 hours")
        .withColumn("w_hour_bucket", F.date_trunc("hour", "w_ts"))
    )
    cond = (F.col("hour_bucket") == F.col("w_hour_bucket")) & (
        F.col("ts") >= F.col("w_ts")
    )
    return a.join(w, cond, "inner").select(
        "ts", "station_id", "train_id", "w_ts", "temperature", "status"
    )


def start_memory_view(
    df: DataFrame, name: str, available_now: bool = False
) -> StreamingQuery:
    """Serve a continuously-updated view from the in-memory sink (the
    dashboard's serving store, K6). complete mode: the key spaces are
    bounded (SURVEY X2); swap to update+foreachBatch MERGE for unbounded
    analogs. ``available_now=True`` starts the drain-and-terminate form
    (X4 poll/drain) for replay fixtures: the query stops itself once
    the backlog is processed, so callers awaitTermination instead of
    paying processAllAvailable's idle-detection round — the memory
    table stays queryable after termination."""
    w = df.writeStream.outputMode("complete").format("memory").queryName(name)
    if available_now:
        w = w.trigger(availableNow=True)
    # complete mode sends the whole result to the driver every batch, so
    # more state stores buy no parallelism: each is one more task and
    # one more checkpoint commit per trigger. A stream fixes its store
    # count when it starts.
    with scoped_conf(df.sparkSession, {"spark.sql.shuffle.partitions": "1"}):
        return w.start()
