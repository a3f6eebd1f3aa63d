"""HTTP-integration queries (round-8): the two round-7 "What's
missing" items exercised end to end UNDER THE DRIVER, not just pytest —
the live Confluent HTTP paths (Schema Registry REST, Kafka Connect
REST + JDBC-incrementing flow) and the HTML serving loop's transport.

Both queries are rows-only with parity ENCODED IN THE COUNT (the
x3_stream_* convention): the HTTP-delivered result is inner-joined on
every column to the direct in-engine computation, so any divergence in
the wire path — framing, registry id resolution, JSON conversion,
high-water-mark polling — shrinks the recorded rows. The servers are
stdlib ThreadingHTTPServer on ephemeral localhost ports; clients are
urllib — the same code path a real deployment's first request takes.
"""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..generator import generate_arrivals, generate_stations
from ..io_util import scratch_dir
from ..sources import avro_codec, kafka_sim
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


_ARRIVAL_WIRE = {
    "type": "record",
    "name": "arrival",
    "fields": [
        {"name": "ts_ms", "type": "long"},
        {"name": "station_id", "type": "int"},
        {"name": "train_id", "type": "string"},
        {"name": "direction", "type": "string"},
        {"name": "line", "type": "string"},
        {"name": "seq", "type": "long"},
    ],
}


@_register("s5_registry_avro_roundtrip")
def s5_registry_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 with a LIVE (simulated) Schema Registry: the producer
    registers the arrival schema over HTTP and frames every message
    with the registry-ASSIGNED id (producers/models/producer.py:38-42
    topology — no static schema file anywhere on the consume side);
    messages land on the simulated broker; the consumer resolves the
    writer schema BY the frame's id over HTTP from the Arrow decode
    kernel (per-process cache, sources/schema_registry.py) and
    decodes. Parity in the count: decoded rows inner-join the source
    fixture on every column."""
    import shutil

    from ..sources.schema_registry import (
        SchemaRegistryClient,
        SimSchemaRegistry,
        registry_decode_confluent_avro,
    )

    arrivals = generate_arrivals(spark).select(
        F.unix_millis("ts").alias("ts_ms"),
        "station_id",
        "train_id",
        "direction",
        "line",
        "seq",
    )
    rows = arrivals.collect()
    tmp = scratch_dir("registry_rt_")
    try:
        with SimSchemaRegistry() as reg:
            client = SchemaRegistryClient(reg.url)
            sid = client.register(
                "org.chicago.cta.station.arrivals.v1-value", _ARRIVAL_WIRE
            )
            fields = avro_codec._parse_schema(json.dumps(_ARRIVAL_WIRE))
            b = kafka_sim.SimBroker(tmp, default_partitions=2)
            b.produce(
                "org.chicago.cta.station.arrivals.v1",
                [
                    (
                        r.train_id.encode(),
                        avro_codec.confluent_frame(
                            avro_codec.encode_record(r.asDict(), fields), sid
                        ),
                        r.ts_ms,
                    )
                    for r in rows
                ],
            )
            kafka_sim.register(spark)
            framed = (
                spark.read.format("kafkasim")
                .option("subscribe", "org.chicago.cta.station.arrivals.v1")
                .load(tmp)
            )
            decoded = registry_decode_confluent_avro(
                framed,
                reg.url,
                "ts_ms long, station_id int, train_id string, direction string,"
                " line string, seq long",
            )
            out = (
                decoded.join(arrivals, on=list(decoded.columns), how="inner")
                .groupBy("line")
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum("seq").alias("seq_checksum"),
                )
                .orderBy("line")
            )
            collected = out.collect()
            return spark.createDataFrame(collected, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register("s3_connect_rest_pipeline")
def s3_connect_rest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 through the Kafka Connect REST surface: the reference's
    stations flow (producers/connector.py) — idempotent GET-then-POST
    of the JdbcSourceConnector config over HTTP, then incrementing-mode
    polls that publish ONLY rows past the high-water mark as JSON onto
    `org.chicago.cta.stations`. Two polls run with an append between
    them (so the mark is exercised, not just the snapshot), the topic
    is read back through Spark's source API, and parity is the count
    of JSON-decoded rows inner-joining the source table on every
    column — a wrong mark, a dropped row, or a mangled JSON field
    shrinks it."""
    import shutil

    from ..sources.connect_sim import SimKafkaConnect, configure_connector

    stations = generate_stations(spark)
    # the delta must carry ids ABOVE the first poll's high-water mark
    # (incrementing mode delivers only id > mark — that is the real
    # connector's contract for new INSERTs, which get fresh serial ids)
    mid = stations.agg(F.expr("percentile_approx(stop_id, 0.5)")).first()[0]
    half = stations.filter(F.col("stop_id") <= mid)
    rest = stations.filter(F.col("stop_id") > mid)
    tmp = scratch_dir("connect_rt_")
    try:
        table_dir = tmp + "/stations_tbl"
        half.write.parquet(table_dir)
        broker = kafka_sim.SimBroker(tmp + "/log", default_partitions=1)
        config = {
            "connector.class": "io.confluent.connect.jdbc.JdbcSourceConnector",
            "batch.max.rows": "500",
            "connection.url": "jdbc:postgresql://localhost:5432/cta",
            "table.whitelist": "stations",
            "mode": "incrementing",
            "incrementing.column.name": "stop_id",
            "topic.prefix": "org.chicago.cta.",
            "poll.interval.ms": 60000,
        }
        with SimKafkaConnect(
            broker, {"stations": lambda: spark.read.parquet(table_dir)}
        ) as kc:
            assert configure_connector(kc.url, "stations", config) is True
            assert configure_connector(kc.url, "stations", config) is False
            kc.poll_once("stations")
            rest.write.mode("append").parquet(table_dir)  # delta arrives
            kc.poll_once("stations")
            kc.poll_once("stations")  # no new rows: delivers nothing

            kafka_sim.register(spark)
            msgs = (
                spark.read.format("kafkasim")
                .option("subscribe", "org.chicago.cta.stations")
                .load(broker.log_dir)
            )
            decoded = msgs.select(
                F.from_json(
                    F.col("value").cast("string"),
                    "stop_id int, direction_id string, station_name string,"
                    " red boolean, blue boolean, green boolean",
                ).alias("v")
            ).select("v.*")
            src = stations.select(
                "stop_id", "direction_id", "station_name", "red", "blue", "green"
            )
            line = (
                F.when(F.col("red"), F.lit("red"))
                .when(F.col("blue"), F.lit("blue"))
                .otherwise(F.lit("green"))
            )
            out = (
                decoded.join(src, on=list(decoded.columns), how="inner")
                .groupBy(line.alias("line"))
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum("stop_id").alias("id_checksum"),
                )
                .orderBy("line")
            )
            collected = out.collect()
            return spark.createDataFrame(collected, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
