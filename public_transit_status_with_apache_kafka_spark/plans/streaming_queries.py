"""Streaming-semantics queries (SURVEY.md W1-W2, S5/K1, X3).

Two kinds:
  - w2_tumbling_hourly: event-time tumbling window as a batch-verifiable
    aggregate (F.window == date_trunc for epoch-aligned tumbling windows).
  - s5/x3: genuinely streaming or codec-bound operators the DuckDB oracle
    cannot express — registered rows-only; their exact-equality checks
    live in tests/ (streaming==batch parity, codec round-trip).

Every file-source replay here runs through streaming/harness.py
(``with replay(spark, prefix) as rp``): scratch and checkpoint
directories, the scoped state-store count, time-ordered delivery, the
one-file-per-micro-batch source and the drain live there, not in the
queries.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..generator import ARRIVALS_SCHEMA, generate_arrivals
from ..io_util import _scratch_root, load
from ..session import scoped_conf
from ..sources import avro_codec, kafka_io
from ..streaming import state as st
from ..streaming.harness import _await_drained, replay
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


# ------------------------------------------------------------- W1/W2
@_register(
    "w2_tumbling_hourly",
    sql="""
    SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_start_ms,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
)
def w2_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (producers/simulation.py:72-73 hourly emission) generalized:
    1-hour tumbling event-time window. F.window() is the streaming
    operator; for epoch-aligned tumbling windows its batch result equals
    date_trunc('hour'), which the oracle verifies. In streaming this same
    expression runs with withWatermark(ts) for late-data bounds (X2)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("hour_start_ms"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


@_register(
    "x_session_window",
    sql="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS session_start_ms,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def x_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: event-time sessionization with a 30-minute gap —
    F.session_window, the built-in that lifts directly into streaming
    (with withWatermark for state bounding). The oracle reproduces the
    semantics as gaps-and-islands SQL: a new session starts when the
    gap to the previous event is >= the timeout (session_window's end
    bound is exclusive)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("session_start_ms"),
            "n_events",
        )
    )


# ------------------------------------------------------------- S5 + K1
ARRIVAL_AVRO_SCHEMA = {
    "type": "record",
    "name": "arrival",
    "fields": [
        {"name": "station_id", "type": "int"},
        {"name": "train_id", "type": "string"},
        {"name": "direction", "type": "string"},
        {"name": "line", "type": "string"},
        {"name": "train_status", "type": "string"},
        {"name": "prev_station_id", "type": ["int", "null"]},
        {"name": "prev_direction", "type": ["string", "null"]},
    ],
}


@_register("s5_confluent_avro_roundtrip")
def s5_confluent_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 encode -> Confluent framing -> S5 header strip + Avro decode,
    end to end on the deterministic arrival fixtures. Returns per-line
    event counts after the round trip (equal to the pre-encode counts;
    asserted exactly in tests/test_kafka_io.py). The encode/decode are
    Arrow-batched mapInPandas over the pure-Python codec — the offline
    stand-in for to_avro/from_avro + the 5-byte wire header."""
    fields = avro_codec._parse_schema(ARRIVAL_AVRO_SCHEMA)
    arrivals = generate_arrivals(spark)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            recs = pdf.to_dict("records")
            vals = [
                avro_codec.confluent_frame(
                    avro_codec.encode_record(
                        {
                            **r,
                            "prev_station_id": None
                            if pd.isna(r["prev_station_id"])
                            else int(r["prev_station_id"]),
                        },
                        fields,
                    ),
                    schema_id=1,
                )
                for r in recs
            ]
            yield pd.DataFrame(
                {
                    "topic": "org.chicago.cta.station.arrivals." + pdf["station_id"].astype(str),
                    "timestamp": pdf["ts"].astype("int64") // 10**6,
                    "value": vals,
                }
            )

    framed = arrivals.select(
        "station_id", "ts", "train_id", "direction", "line", "train_status",
        "prev_station_id", "prev_direction",
    ).mapInPandas(encode, schema="topic string, timestamp long, value binary")
    decoded = kafka_io.decode_confluent_avro(framed, ARRIVAL_AVRO_SCHEMA)
    return (
        decoded.filter(F.col("topic").rlike(kafka_io.ARRIVALS_TOPIC_PATTERN))
        .groupBy("line")
        .agg(F.count("*").alias("n_events"), F.count_distinct("train_id").alias("n_trains"))
        .orderBy("line")
    )


# ------------------------------------------------------------- S5/S7/S8
@_register("s8_kafka_sim_broker")
def s8_kafka_sim_broker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+S7+S8 through Spark's OWN source API: a simulated broker log
    (sources/kafka_sim.py — segmented append-only topic/partition/offset
    layout) served by the registered "kafkasim" Python data source with
    the real Kafka source schema, then topic-pattern fan-in (S7), JSON
    per-partition startingOffsets positioning (S8), Confluent header
    strip + Avro decode (S5), and a per-(topic, partition) offset/count
    profile. The broker log is built once under spark-warehouse
    (deterministic content, atomic rename) and reused — the
    e3_ann_index_build persisted-artifact pattern. Streaming reads of
    the same source (checkpoint resume, maxRecordsPerTrigger
    back-pressure) are exercised in tests/test_kafka_sim.py."""
    import json as _json
    import os

    from ..sources import kafka_sim

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    log_dir = os.path.join(repo, "spark-warehouse", "kafka_sim_log", "v1")
    if not os.path.isdir(log_dir):
        fields = avro_codec._parse_schema(ARRIVAL_AVRO_SCHEMA)
        stage = log_dir + ".build"
        shutil.rmtree(stage, ignore_errors=True)
        b = kafka_sim.SimBroker(stage, default_partitions=3)
        for topic, line, n in (
            ("org.chicago.cta.station.arrivals.blue", "blue", 240),
            ("org.chicago.cta.station.arrivals.red", "red", 180),
        ):
            b.produce(
                topic,
                [
                    (
                        f"{line[0].upper()}L{i % 32:03d}".encode(),
                        avro_codec.confluent_frame(
                            avro_codec.encode_record(
                                {
                                    "station_id": i % 40,
                                    "train_id": f"{line[0].upper()}L{i % 32:03d}",
                                    "direction": "a" if i % 2 else "b",
                                    "line": line,
                                    "train_status": ("in_service", "at_station", "out_of_service")[i % 3],
                                    "prev_station_id": None if i % 7 == 0 else (i - 1) % 40,
                                    "prev_direction": None if i % 7 == 0 else ("a" if i % 2 else "b"),
                                },
                                fields,
                            ),
                            schema_id=1,
                        ),
                        1_700_000_000_000 + i * 1000,
                    )
                    for i in range(n)
                ],
            )
        b.produce(  # non-matching topic: must be excluded by the pattern
            "org.chicago.cta.turnstiles",
            [(None, _json.dumps({"n": i}).encode(), 1_700_000_000_000 + i) for i in range(60)],
        )
        os.rename(stage, log_dir)

    kafka_sim.register(spark)
    raw = (
        spark.read.format("kafkasim")
        .option("subscribePattern", r"org\.chicago\.cta\.station\.arrivals\..*")
        .option(
            "startingOffsets",
            _json.dumps({"org.chicago.cta.station.arrivals.blue": {"0": 5}}),
        )
        .load(log_dir)
    )
    decoded = kafka_io.decode_confluent_avro(
        raw, ARRIVAL_AVRO_SCHEMA, keep=("topic", "partition", "offset")
    )
    return (
        decoded.groupBy("topic", "partition")
        .agg(
            F.count("*").alias("n_records"),
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
            F.count_distinct("train_id").alias("n_trains"),
            F.sum(F.when(F.col("prev_station_id").isNull(), 1).otherwise(0)).alias(
                "n_line_starts"
            ),
        )
        .orderBy("topic", "partition")
    )


@_register(
    "k5_topic_admin",
    sql="""
    SELECT * FROM (VALUES
      (1, 'ensure_create',   'org.chicago.cta.station.arrivals.blue', 'created',              1, 3),
      (2, 'ensure_cached',   'org.chicago.cta.station.arrivals.blue', 'cache_hit',            1, 3),
      (3, 'ensure_other_proc','org.chicago.cta.station.arrivals.blue','broker_hit',           1, 3),
      (4, 'create_existing', 'org.chicago.cta.station.arrivals.blue', 'TOPIC_ALREADY_EXISTS', 1, 3),
      (5, 'ensure_create',   'org.chicago.cta.weather',               'created',              2, 1),
      (6, 'delete',          'org.chicago.cta.weather',               'deleted',              1, 0),
      (7, 'delete_unknown',  'org.chicago.cta.weather',               'UNKNOWN_TOPIC_OR_PART',1, 0)
    ) AS t(step, action, topic, outcome, n_topics, n_partitions)
    """,
)
def k5_topic_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5: topic DDL/admin — the LAST SURVEY §2 row. Replays the
    reference producer's idempotent create-topic flow
    (reference: producers/models/producer.py:60-91 — per-process
    `existing_topics` class cache, AdminClient.list_topics broker
    lookup, create_topics([NewTopic(...)]) with per-topic futures)
    against the simulated broker's SimAdminClient
    (sources/kafka_sim.py), then the direct-admin edges the check-
    then-create flow exists to avoid: create-on-existing fails its
    future with TOPIC_ALREADY_EXISTS, delete removes the topic,
    delete-unknown fails with UNKNOWN_TOPIC_OR_PART. Every step's
    observable state (broker topic count, partition count, outcome)
    is deterministic, so the oracle pins the full trace as values —
    the driver hash-verifies the admin protocol end to end."""
    from ..sources import kafka_sim

    with tempfile.TemporaryDirectory(prefix="k5_admin_", dir=_scratch_root()) as log_dir:
        rows = []

        class _Proc1(kafka_sim.TopicEnsurer):  # fresh per-run cache
            existing_topics: set = set()

        class _Proc2(kafka_sim.TopicEnsurer):  # "another process"
            existing_topics: set = set()

        blue = "org.chicago.cta.station.arrivals.blue"
        client = kafka_sim.SimAdminClient({"bootstrap.servers": log_dir})

        def n_topics() -> int:
            return len(client.list_topics(timeout=5).topics)

        def n_parts(t: str) -> int:
            meta = client.list_topics(timeout=5).topics.get(t)
            return len(meta.partitions) if meta else 0

        p1 = _Proc1(log_dir)
        p1.ensure(blue, num_partitions=3, num_replicas=1)
        rows.append((1, "ensure_create", blue,
                     "created" if p1.create_calls == 1 else "BAD", n_topics(), n_parts(blue)))
        p1.ensure(blue, num_partitions=3, num_replicas=1)  # cache short-circuit
        rows.append((2, "ensure_cached", blue,
                     "cache_hit" if p1.admin_calls == 1 else "BAD", n_topics(), n_parts(blue)))
        p2 = _Proc2(log_dir)  # cold cache: broker lookup, no create
        p2.ensure(blue, num_partitions=3, num_replicas=1)
        rows.append((3, "ensure_other_proc", blue,
                     "broker_hit" if (p2.admin_calls, p2.create_calls) == (1, 0) else "BAD",
                     n_topics(), n_parts(blue)))
        fut = client.create_topics([kafka_sim.NewTopic(topic=blue, num_partitions=3)])[blue]
        try:
            fut.result()
            rows.append((4, "create_existing", blue, "BAD_NO_ERROR", n_topics(), n_parts(blue)))
        except kafka_sim.KafkaError as e:
            rows.append((4, "create_existing", blue, e.code, n_topics(), n_parts(blue)))
        weather = "org.chicago.cta.weather"
        p1.ensure(weather, num_partitions=1, num_replicas=1)
        rows.append((5, "ensure_create", weather,
                     "created" if p1.create_calls == 2 else "BAD", n_topics(), n_parts(weather)))
        client.delete_topics([weather])[weather].result()
        rows.append((6, "delete", weather, "deleted", n_topics(), n_parts(weather)))
        try:
            client.delete_topics([weather])[weather].result()
            rows.append((7, "delete_unknown", weather, "BAD_NO_ERROR", n_topics(), 0))
        except kafka_sim.KafkaError as e:
            rows.append((7, "delete_unknown", weather, e.code, n_topics(), 0))

    return spark.createDataFrame(
        rows, "step int, action string, topic string, outcome string, "
              "n_topics int, n_partitions int"
    )


@_register("cta_broker_dashboard_stream")
def cta_broker_dashboard_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL runtime shape, end to end: every fixture
    topic produced onto the simulated broker (sources/kafka_sim.py) in
    its reference wire encoding — arrivals and turnstiles as
    Confluent-framed Avro (producers/producer.py), stations as the
    Faust-table JSON (consumers/faust_stream.py), weather as REST-proxy
    JSON (producers/models/weather.py) — then FOUR concurrent streaming
    queries consume via `readStream.format("kafkasim")`, decode with
    the same S5/S6 paths a live broker would feed, maintain the serving
    views, and the dashboard joins them (consumers/server.py:55-87).

    Rows-only with parity encoded in the count, like
    cta_fixture_dashboard_stream: the result is the broker-fed
    streaming dashboard INNER-JOINED on every column to the batch
    dashboard, so any divergence (framing, decode, offset handling,
    view maintenance) shrinks the row count the driver records."""
    import json as _json

    from ..generator import STATIONS_SCHEMA, generate_all
    from ..sources import kafka_sim
    from ..streaming import views as sv

    ARRIVAL_WIRE = {
        "type": "record",
        "name": "arrival",
        "fields": [
            {"name": "ts_ms", "type": "long"},
            {"name": "station_id", "type": "int"},
            {"name": "train_id", "type": "string"},
            {"name": "direction", "type": "string"},
            {"name": "line", "type": "string"},
            {"name": "train_status", "type": "string"},
            {"name": "prev_station_id", "type": ["int", "null"]},
            {"name": "prev_direction", "type": ["string", "null"]},
            {"name": "seq", "type": "long"},
        ],
    }
    TURNSTILE_WIRE = {
        "type": "record",
        "name": "turnstile",
        "fields": [
            {"name": "ts_ms", "type": "long"},
            {"name": "station_id", "type": "int"},
            {"name": "station_name", "type": "string"},
            {"name": "line", "type": "string"},
        ],
    }

    def ms(ts):
        return int(ts.timestamp() * 1000)

    fx = generate_all(spark)
    with replay(spark, "cta_broker_") as rp:
        b = kafka_sim.SimBroker(rp.path("log"), default_partitions=3)
        # round 10: the two UNKEYED JSON topics get one partition each —
        # every kafkasim partition is a Python-datasource read task per
        # trigger, and with four concurrent queries those tasks are the
        # drain's critical path. Round-robin placement carries no
        # key-hash semantics to preserve (the arrivals topic, keyed by
        # train_id, keeps 3 partitions placed by the broker's default
        # crc32 hash); a real low-volume weather/changelog topic would
        # be single-partition on an actual broker too.
        b.create_topic("org.chicago.cta.stations.table.v1", 1)
        b.create_topic("org.chicago.cta.weather.v1", 1)
        a_fields = avro_codec._parse_schema(_json.dumps(ARRIVAL_WIRE))
        b.produce(
            "org.chicago.cta.station.arrivals.v1",
            [
                (
                    r.train_id.encode(),
                    avro_codec.confluent_frame(
                        avro_codec.encode_record(
                            {
                                "ts_ms": ms(r.ts),
                                "station_id": r.station_id,
                                "train_id": r.train_id,
                                "direction": r.direction,
                                "line": r.line,
                                "train_status": r.train_status,
                                "prev_station_id": r.prev_station_id,
                                "prev_direction": r.prev_direction,
                                "seq": r.seq,
                            },
                            a_fields,
                        ),
                        schema_id=11,
                    ),
                    ms(r.ts),
                )
                for r in fx["arrivals"].collect()
            ],
        )
        t_fields = avro_codec._parse_schema(_json.dumps(TURNSTILE_WIRE))
        b.produce(
            "org.chicago.cta.station.turnstiles.v1",
            [
                (
                    None,
                    avro_codec.confluent_frame(
                        avro_codec.encode_record(
                            {
                                "ts_ms": ms(r.ts),
                                "station_id": r.station_id,
                                "station_name": r.station_name,
                                "line": r.line,
                            },
                            t_fields,
                        ),
                        schema_id=12,
                    ),
                    ms(r.ts),
                )
                for r in fx["turnstile"].collect()
            ],
        )
        b.produce(  # Faust table changelog: JSON rows keyed by stop_id
            "org.chicago.cta.stations.table.v1",
            [
                (str(r.stop_id).encode(), _json.dumps(r.asDict()).encode(), 0)
                for r in fx["stations"].collect()
            ],
        )
        b.produce(  # REST-proxy JSON
            "org.chicago.cta.weather.v1",
            [
                (
                    None,
                    _json.dumps(
                        {"ts_ms": ms(r.ts), "temperature": r.temperature, "status": r.status}
                    ).encode(),
                    ms(r.ts),
                )
                for r in fx["weather"].collect()
            ],
        )

        kafka_sim.register(spark)

        def topic_stream(topic):
            return (
                spark.readStream.format("kafkasim")
                .option("subscribe", topic)
                .load(b.log_dir)
            )

        arrivals = kafka_io.decode_confluent_avro(
            topic_stream("org.chicago.cta.station.arrivals.v1"), ARRIVAL_WIRE, keep=()
        ).select(
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
            "station_id", "train_id", "direction", "line", "train_status",
            "prev_station_id", "prev_direction", "seq",
        )
        turnstile = kafka_io.decode_confluent_avro(
            topic_stream("org.chicago.cta.station.turnstiles.v1"), TURNSTILE_WIRE, keep=()
        ).select(
            F.timestamp_millis(F.col("ts_ms")).alias("ts"),
            "station_id", "station_name", "line",
        )
        stations = (
            topic_stream("org.chicago.cta.stations.table.v1")
            .select(F.from_json(F.col("value").cast("string"), STATIONS_SCHEMA).alias("v"))
            .select("v.*")
        )
        weather = (
            topic_stream("org.chicago.cta.weather.v1")
            .select(
                F.from_json(
                    F.col("value").cast("string"),
                    "ts_ms long, temperature double, status string",
                ).alias("v")
            )
            .select(
                F.timestamp_millis(F.col("v.ts_ms")).alias("ts"),
                F.col("v.temperature").cast("float").alias("temperature"),
                F.col("v.status").alias("status"),
            )
        )
        return _dashboard_parity(
            rp,
            "cta_bk",
            fx,
            dim=sv.stations_dim_stream(stations),
            counts=sv.turnstile_counts_stream(turnstile),
            pos=sv.train_positions_stream(arrivals),
            weather=sv.weather_now_stream(weather),
        )


def _dashboard_parity(rp, prefix: str, fx: dict, **views: DataFrame) -> DataFrame:
    """Shared tail of the two dashboard streams: the four views (dim,
    counts, pos, weather) start together as availableNow memory views
    named ``{prefix}_{view}``, drain, and the dashboard over them is
    inner-joined on every column to the batch dashboard over the same
    fixtures — parity encoded in the row count. Collected before the
    replay stops the views."""
    from ..operators import cta_views
    from ..streaming import views as sv

    spark = rp.spark
    queries = [
        rp.track(sv.start_memory_view(df, f"{prefix}_{view}", available_now=True))
        for view, df in views.items()
    ]
    for q in queries:
        _await_drained(q)
    streamed = cta_views.dashboard(
        spark.table(f"{prefix}_dim"),
        spark.table(f"{prefix}_pos"),
        spark.table(f"{prefix}_counts"),
    )
    batch = cta_views.dashboard(
        cta_views.stations_dim(fx["stations"]),
        cta_views.train_positions(fx["arrivals"]),
        cta_views.turnstile_counts(fx["turnstile"]),
    )
    out = streamed.join(batch, on=list(streamed.columns), how="inner")
    return spark.createDataFrame(out.collect(), out.schema)


# ------------------------------------------------------------- W1/M1 scale
@_register("gen_scale_pipeline")
def gen_scale_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed generator (generator_scale.py: simulator semantics
    as pure Spark expressions over spark.range — the 100 TB fixture
    path) feeding the A4 tombstone view end to end: 50k arrivals ->
    occupied slots per line. Deterministic across partitionings
    (hash-based draws, asserted in tests/test_generator_scale.py)."""
    from ..generator_scale import arrivals_at_scale
    from ..operators import cta_views

    arr = arrivals_at_scale(spark, 50_000)
    pos = cta_views.train_positions(arr).filter(F.col("train_id").isNotNull())
    return (
        pos.groupBy(F.substring("train_id", 1, 1).alias("line_code"))
        .agg(F.count("*").alias("occupied_slots"))
        .orderBy("line_code")
    )


# ------------------------------------------------------------- X3
# A/B'd this round on local[32] at sf0.1 (OPTIMIZATION_r12.md §A4):
# the per-user journey kernel over ~1500 groups is the per-batch
# critical path, and the state partition count is its Python-worker
# parallelism — medians 15.1 s (2) / 10.1 s (4) / 7.6 s (8) for the v1
# replay, with 16 erratic (store setup overtakes kernel gains). At
# production user cardinality this scales with the cluster like any
# stateful sink's state-store count; 8 is the fixture-scale setting.
_A4_STATE_PARTITIONS = 8

_A4_REPLAY_SQL = """
    WITH seq AS (
      SELECT user_id, event_type AS station, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_station
      FROM events WHERE event_id % 7 = 0
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
    """


def _a4_stateful_replay(spark: SparkSession, sf_dir: str, effects_fn) -> DataFrame:
    """Shared body of the two A4 stateful replays (round 12, VERDICT r11
    #3 — the twin-join encoding that full-oracled the other streams):

    - events subset (the replay predicate event_id % 7 = 0) streams
      time-range-partitioned, one file per micro-batch;
    - a PER-USER stateful kernel derives each user's previous station
      from state (the reference events carry prev_station_id in the
      payload, producers/models/station.py:50-64; generic events don't,
      so the streaming replay must reconstruct it — exactly what the
      oracle's lag() window computes) and emits arrive/depart effects;
    - foreachBatch folds the batch's effects to latest-per-station with
      a BATCH aggregate and merges the <= |event_type| aggregated rows
      into the served state by the (ts, event_id, kind) order key — the
      driver materialization is bounded by station cardinality, never
      corpus-shaped;
    - the converged state inner-joins (null-safe, ALL columns) the
      batch a4_view over the same subset, so the full a4 oracle + the
      replay predicate hash-verifies the stream end to end: a missed
      tombstone, a mis-derived prev station, or a dropped key breaks
      the hash, not just the count."""
    from .cta import a4_view

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 7 == 0)
        .select("user_id", "event_type", "ts", "event_id")
    )
    # the state partition count is also the journey kernel's Python
    # parallelism (_A4_STATE_PARTITIONS); two deliveries — cross-batch
    # journey state needs >= 2 batches, a third proves nothing new
    with replay(spark, "x3_replay_", _A4_STATE_PARTITIONS) as rp:
        # time-ordered delivery: the journey kernel's prev-station state
        # is ORDER-DEPENDENT (unlike the latest-effect folds, which
        # resolve order via the event-time key) — an out-of-order
        # delivery mis-derived prev stations (caught by the full oracle)
        rp.deliver_time_ordered(ev, n=2)
        effects = effects_fn(rp.source(ev.schema))
        served: dict = {}

        def fold(batch_df, _bid):
            agg = batch_df.groupBy("station").agg(
                F.max_by(
                    F.struct("occupant", "event_id"),
                    F.struct("ts_micros", "event_id", "kind"),
                ).alias("m"),
                F.max(F.struct("ts_micros", "event_id", "kind")).alias("o"),
            )
            for r in agg.collect():  # bounded: one row per station
                key = (r.o.ts_micros, r.o.event_id, r.o.kind)
                cur = served.get(r.station)
                if cur is None or key > cur[0]:
                    served[r.station] = (key, r.m.occupant, r.m.event_id)

        rp.drain(effects.writeStream.outputMode("append").foreachBatch(fold))
        streamed = spark.createDataFrame(
            [(s, occ, eid) for s, (_, occ, eid) in sorted(served.items())],
            "station string, occupant_user_id long, last_event_id long",
        )
        batch = a4_view(ev)
        cond = (
            streamed["station"].eqNullSafe(batch["station"])
            & streamed["occupant_user_id"].eqNullSafe(batch["occupant_user_id"])
            & streamed["last_event_id"].eqNullSafe(batch["last_event_id"])
        )
        out = streamed.join(batch, cond, "inner").select(
            streamed["station"],
            streamed["occupant_user_id"],
            streamed["last_event_id"],
        )
        rows = out.collect()
        assert len(rows) == len(served), "streamed A4 state disagrees with batch"
        return spark.createDataFrame(rows, out.schema)


@_register("x3_stateful_stream_replay", sql=_A4_REPLAY_SQL)
def x3_stateful_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A4 tombstone view executed as REAL Structured Streaming over
    the events table: per-user journey state via applyInPandasWithState
    (streaming/state.user_journey_effects), latest-effect-per-station
    folded across micro-batches, FULL a4 hash oracle (round 12 — was
    rows-only; see _a4_stateful_replay for the twin-join encoding).
    The CTA arrivals-fixture tracker keeps its exact-equality pytest
    coverage in tests/test_streaming_parity.py and
    tests/test_train_tracker.py."""
    return _a4_stateful_replay(spark, sf_dir, st.user_journey_effects)


@_register("x3_stateful_stream_replay_v2", sql=_A4_REPLAY_SQL)
def x3_stateful_stream_replay_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A4 events replay on Spark 4's transformWithStateInPandas
    (streaming/state_v2.UserJourneyProcessor) — the registry twin of
    x3_stateful_stream_replay so the DRIVER exercises the successor
    stateful API end to end, not just pytest (round-7 item #4). Same
    replay and the same FULL a4 hash oracle (round 12 — was rows-only;
    see _a4_stateful_replay): per-user typed value state derives the
    previous station, effects fold to latest-per-station, and the
    converged state must hash-match the a4 SQL over the replayed
    subset. Runs on the RocksDB state store provider (TWS requires it)
    and the vendored mini-protobuf runtime.
    tests/test_train_tracker.py additionally asserts v1==v2 agreement
    on the CTA arrivals fixture."""
    from ..streaming import state_v2 as st2

    # round 12: changelog checkpointing — per-batch commits upload a
    # small changelog instead of a full RocksDB snapshot (A/B'd on this
    # box: replay medians 14.8 -> 12.4 s, mins 11.1 -> 8.6 s); a
    # checkpoint-format knob only, and this replay's checkpoint dir is
    # fresh per invocation so there is no old-format log to collide with
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    conf = {
        "spark.sql.streaming.stateStore.providerClass": rocksdb,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    with scoped_conf(spark, conf):
        return _a4_stateful_replay(spark, sf_dir, st2.user_journey_effects_v2)


@_register("x_stream_stream_join")
def x_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the driver: fixture arrivals x
    hourly weather replayed through two file-source streams (multiple
    micro-batches each), joined on the hour bucket with an at-or-after
    residual and 2h watermarks (state-bounded). Rows-only with parity
    encoded in the count: the streamed result is inner-joined to the
    identical BATCH join on every column, so any cross-batch pairing
    loss shrinks the recorded rows. tests/test_streaming_parity.py
    asserts exact set equality."""
    from ..generator import WEATHER_SCHEMA, generate_all
    from ..streaming import views as sv

    fx = generate_all(spark)
    with replay(spark, "ss_join_") as rp:
        # two delivery files per side: cross-batch pairing needs >= 2
        # micro-batches, and each extra batch of a two-sided stateful
        # join is the costliest scheduling unit in the whole registry
        # (round-7 item #3: this query topped the full sweep)
        for name in ("arrivals", "weather"):
            # checkpoint: generator fixtures re-execute Python-RDD
            # lineage per action otherwise
            rp.deliver_time_ordered(fx[name], n=2, name=name, checkpoint=True)
        rp.drain(
            sv.arrivals_with_weather_stream(
                rp.source(ARRIVALS_SCHEMA, "arrivals"),
                rp.source(WEATHER_SCHEMA, "weather"),
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("x_ss_join")
        )
        streamed = spark.table("x_ss_join")
        batch = (
            fx["arrivals"]
            .join(
                fx["weather"].select(F.col("ts").alias("w_ts"), "temperature", "status"),
                (F.date_trunc("hour", "ts") == F.date_trunc("hour", "w_ts"))
                & (F.col("ts") >= F.col("w_ts")),
                "inner",
            )
            .select("ts", "station_id", "train_id", "w_ts", "temperature", "status")
        )
        out = streamed.join(batch, on=list(streamed.columns), how="inner")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register("x_stream_heavy_hitters")
def x_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min heavy hitters: per-micro-batch partial
    sketches accumulated via foreachBatch, merged once at the end —
    the linear-sketch property means the micro-batch cut is invisible,
    so the continuously-maintained sketch of an infinite stream equals
    the batch sketch of everything seen so far (no per-key streaming
    state at all, unlike a groupBy count whose state grows with
    cardinality).

    Rows-only with parity encoded in the count: the returned rows are
    the stream-merged top-10 INNER-JOINED to the batch top-10 on
    (token, est_count) — any divergence between the streamed and batch
    sketches shrinks the result below 10 rows. Both top-10s are scored
    against the SAME collected candidate set (one Misra-Gries pass,
    pinned), so the join compares only the two sketches: two
    independent candidate passes could cut low-count ties differently
    across input splits and shrink the join even with identical
    sketches — a flake, not a signal."""
    import numpy as np

    from ..operators import sketch as sk

    d, w = 4, 1024
    toks = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
        )
    )
    with replay(spark, "stream_hh_") as rp:
        # three delivery files -> three micro-batches
        rp.deliver(
            toks.filter(F.floor(F.col("doc_id") / 4) % 3 == i) for i in range(3)
        )

        def fold(batch_df, _batch_id):
            sk.cms_partials(batch_df, "tok", d=d, w=w).write.mode("append").parquet(
                rp.path("partials")
            )

        rp.drain(rp.source(toks.schema).writeStream.foreachBatch(fold))
        merged = (
            spark.read.parquet(rp.path("partials"))
            .groupBy("r", "c")
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        streamed = np.zeros((d, w), dtype=np.int64)
        for row in merged:
            streamed[row.r, row.c] = row.n
        cand_rows = sk._local_top_candidates(toks, "tok", per_split=64).collect()
        cands = spark.createDataFrame(cand_rows, "token string")
        stream_top = sk.estimate_topk(streamed, cands, k=10)
        batch_cells = sk.cms_merged(toks, "tok", d=d, w=w).collect()
        batched = np.zeros((d, w), dtype=np.int64)
        for row in batch_cells:
            batched[row.r, row.c] = row.n
        batch_top = sk.estimate_topk(batched, cands, k=10)
        out = stream_top.join(batch_top, ["token", "est_count"], "inner").orderBy(
            F.desc("est_count"), F.asc("token")
        )
        return spark.createDataFrame(out.collect(), out.schema)


@_register("x_stream_dedup")
def x_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1's streaming form: dropDuplicatesWithinWatermark over a
    file-source replay — exactly-once output from at-least-once input.
    Duplicate deliveries are PLANTED across micro-batch boundaries
    (every event is delivered twice, in different files, so the second
    copy arrives in a later micro-batch — the redelivery case a batch
    dedup never sees; reference analog: the consumer's forced offset
    reset replaying every topic on restart, consumers/consumer.py:57-68).

    Rows-only with parity encoded in the count: rows that the stream
    emitted EXACTLY once, inner-joined to the batch original on every
    column — a lost event, a double emission, or a corrupted column all
    shrink the recorded count below the batch row count.

    Scale note: the watermark bounds dedup state to the redelivery
    horizon; at 100 TB the subset key (event_id) keeps state rows at
    8 bytes + key overhead, not whole events."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 20 == 0)
        .select("event_id", "ts", "user_id", "event_type")
    )
    cols = ["event_id", "ts", "user_id", "event_type"]
    with replay(spark, "stream_dedup_") as rp:
        rp.deliver([e, e])  # two identical deliveries -> two micro-batches
        rp.drain(
            rp.source(e.schema)
            .withWatermark("ts", "30 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("x_stream_dedup")
        )
        streamed = spark.table("x_stream_dedup")
        once = (
            streamed.groupBy(*cols)
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") == 1)
            .drop("n")
        )
        out = once.join(e, cols, "inner")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "x_stream_sliding_topk",
    # FULL oracle: each event lands in two 2h/1h sliding windows; the
    # append-mode emission rule keeps windows with w_end <= final
    # watermark (max ts - 2h, inclusive — same eviction boundary pinned
    # for x_stream_session_window); rank over the closed set
    sql="""
    WITH e AS (
      SELECT ts, event_type, CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_id % 10 = 0
    ),
    mx AS (SELECT max(epoch_ms(ts)) AS mmax FROM e),
    wins AS (
      SELECT epoch_ms(date_trunc('hour', ts)) - s.o AS ws, event_type, v
      FROM e CROSS JOIN (VALUES (0), (3600000)) s(o)
    ),
    agg AS (
      SELECT ws, ws + 7200000 AS we, event_type,
             count(*) AS n, CAST(sum(v) AS DOUBLE) AS tot
      FROM wins GROUP BY 1, 2, 3
    ),
    closed AS (SELECT agg.* FROM agg, mx WHERE we <= mmax - 7200000)
    SELECT make_timestamp(ws * 1000) AS w_start,
           make_timestamp(we * 1000) AS w_end,
           rnk, event_type, n, tot
    FROM (
      SELECT ws, we, event_type, n, tot,
             CAST(row_number() OVER (
               PARTITION BY ws, we
               ORDER BY n DESC, tot DESC, event_type ASC) AS INTEGER) AS rnk
      FROM closed
    ) WHERE rnk <= 3
    """,
)
def x_stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding-window top-k: 2h windows sliding 1h over an
    event replay (2 micro-batches), APPEND-mode windowed counts closed
    by a watermark, then the serving-side rank (top-3 event types per
    window) over the emitted table — the standard "trending items"
    shape: the stream maintains closed window aggregates, the cheap
    rank runs at read time.

    Rows-only with parity encoded in the count: the streamed windowed
    counts are inner-joined to the identical BATCH sliding-window
    aggregate before ranking, so a lost window, a double emission, or a
    miscount shrinks the rows the driver records.

    Scale note: sliding windows multiply state by size/slide (2x here);
    the watermark bounds it to the lateness horizon, and APPEND mode
    emits each window exactly once when it closes."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select("ts", "event_type", "value")
    )

    def windowed(df):
        # DECIMAL(18,2)-summed value (the x3_stream_skyline convention):
        # the 2-decimal source values lift exactly onto the decimal
        # grid, the sum is order-independent, and the emitted double is
        # the same IEEE value in every engine — float-sum rounding was
        # the one thing keeping this query rows-only
        return (
            df.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("tot_d"),
            )
            .select(
                F.col("window.start").alias("w_start"),
                F.col("window.end").alias("w_end"),
                "event_type",
                "n",
                F.col("tot_d").cast("double").alias("tot"),
            )
        )

    with replay(spark, "stream_sliding_") as rp:
        rp.deliver_time_ordered(ev, n=2)
        rp.drain(
            windowed(rp.source(ev.schema).withWatermark("ts", "2 hours"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("x_stream_sliding")
        )
        streamed = spark.table("x_stream_sliding")
        # append mode withholds windows the watermark hasn't closed at
        # stream end; parity = streamed set must be a subset of batch
        # with identical values, checked by the inner join, and the
        # closed horizon must cover everything before (max ts - 2h - 2h)
        batch = windowed(ev)
        agreed = streamed.join(
            batch, ["w_start", "w_end", "event_type", "n", "tot"], "inner"
        )
        from pyspark.sql.window import Window as W

        rk = W.partitionBy("w_start", "w_end").orderBy(
            F.desc("n"), F.desc("tot"), F.asc("event_type")
        )
        out = (
            agreed.withColumn("rnk", F.row_number().over(rk))
            .filter(F.col("rnk") <= 3)
            .select("w_start", "w_end", "rnk", "event_type", "n", "tot")
        )
        rows = out.collect()
        n_streamed = streamed.count()
        assert agreed.count() == n_streamed, "streamed window disagrees with batch"
        return spark.createDataFrame(rows, out.schema)


@_register("x3_stream_funnel")
def x3_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel (X3): the view->click->purchase sequence
    detector as a PER-USER STATE MACHINE under applyInPandasWithState —
    stateful sequence detection, a different state shape from the
    tracker's latest-wins (here state only advances forward through
    funnel stages). Events replay time-ordered (2 micro-batches);
    within each batch the group's rows sort by (ts, event_id) so the
    machine sees global event-time order and is exactly equivalent to
    the batch formulation.

    Rows-only with parity encoded in the count: the final streamed
    per-user funnel states inner-join x_funnel_steps' BATCH result on
    ALL columns (user_id, reached_step, t1/t2/t3) — any state-machine
    divergence from the declarative cascade shrinks the driver-recorded
    rows, and the assert pins zero disagreement."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )
    import pandas as pd

    from .relational import QUERIES as REL_QUERIES

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("ts", "event_id", "user_id", "event_type")
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("reached_step", IntegerType()),
            StructField("t1_us", LongType()),
            StructField("t2_us", LongType()),
            StructField("t3_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("t1_us", LongType()),
            StructField("t2_us", LongType()),
            StructField("t3_us", LongType()),
        ]
    )

    def funnel_machine(key, pdfs, state: GroupState):
        t1, t2, t3 = state.get if state.exists else (-1, -1, -1)
        rows = []
        for pdf in pdfs:
            rows.append(pdf)
        if rows:
            allr = pd.concat(rows).sort_values(["ts", "event_id"])
            for row in allr.itertuples(index=False):
                us = int(pd.Timestamp(row.ts).value // 1000)
                et = row.event_type
                if et == "view" and t1 < 0:
                    t1 = us
                elif et == "click" and t1 >= 0 and t2 < 0 and us > t1:
                    t2 = us
                elif et == "purchase" and t2 >= 0 and t3 < 0 and us > t2:
                    t3 = us
        state.update((t1, t2, t3))
        step = 1 + (t2 >= 0) + (t3 >= 0) if t1 >= 0 else 0
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "reached_step": [step],
                "t1_us": [t1],
                "t2_us": [t2],
                "t3_us": [t3],
            }
        )

    with replay(spark, "stream_funnel_") as rp:
        rp.deliver_time_ordered(ev, n=2)
        tracked = rp.source(ev.schema).groupBy("user_id").applyInPandasWithState(
            funnel_machine,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        served: dict = {}

        def upsert(batch_df, _bid):
            for r in batch_df.collect():
                served[r.user_id] = (r.reached_step, r.t1_us, r.t2_us, r.t3_us)

        rp.drain(tracked.writeStream.outputMode("update").foreachBatch(upsert))
        streamed = spark.createDataFrame(
            [
                (u, step, t1 // 1000 if t1 >= 0 else None,
                 t2 // 1000 if t2 >= 0 else None,
                 t3 // 1000 if t3 >= 0 else None)
                for u, (step, t1, t2, t3) in served.items()
                if step > 0  # users with no view are absent in batch too
            ],
            "user_id long, reached_step int, t1_ms long, t2_ms long, t3_ms long",
        )
        batch = REL_QUERIES["x_funnel_steps"](spark, sf_dir).filter(
            F.col("user_id") < 40
        )
        # t2_ms/t3_ms are NULL for partial funnels: a join on the column
        # list uses null-UNSAFE equality and would drop agreeing partial
        # rows (spurious assert). Sentinel-fill both sides (-1 cannot be
        # a real epoch-ms here), join, then restore the NULLs.
        fill = {"t2_ms": -1, "t3_ms": -1}
        agreed = (
            streamed.na.fill(fill)
            .join(
                batch.na.fill(fill),
                ["user_id", "reached_step", "t1_ms", "t2_ms", "t3_ms"],
                "inner",
            )
            .select(
                "user_id",
                "reached_step",
                "t1_ms",
                *[
                    F.when(F.col(c) == -1, F.lit(None)).otherwise(F.col(c)).alias(c)
                    for c in ("t2_ms", "t3_ms")
                ],
            )
        )
        rows = agreed.collect()
        assert len(rows) == streamed.count() == batch.count(), (
            "streamed funnel state disagrees with batch cascade"
        )
        return spark.createDataFrame(rows, agreed.schema)


@_register(
    "x_stream_session_window",
    # FULL oracle: gaps-and-islands sessionization + the append-mode
    # emission rule (session_end <= final watermark = max ts - 1h,
    # inclusive — pinned by a planted boundary session)
    sql="""
    WITH e AS (
      SELECT user_id, epoch_ms(ts) AS ms FROM events WHERE user_id < 40
    ),
    mx AS (SELECT max(ms) AS mmax FROM e),
    marked AS (
      SELECT user_id, ms,
             CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                       IS NULL
                  OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                       >= 1800000
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    sess AS (
      SELECT user_id, ms,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ms
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    agg AS (
      SELECT user_id,
             min(ms) AS session_start_ms,
             max(ms) + 1800000 AS session_end_ms,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start_ms, session_end_ms, n_events
    FROM agg, mx WHERE session_end_ms <= mmax - 3600000
    """,
)
def x_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event-time sessionization: F.session_window (30-minute
    gap) under a watermark in APPEND mode over a 2-micro-batch
    time-ordered replay — the streaming lift of x_session_window.
    Session state MERGES across micro-batches (an event landing within
    the gap of an open session extends it), so this exercises the
    session-specific state machinery that tumbling/sliding windows
    don't have; the watermark closes sessions whose gap horizon has
    passed and bounds state (X2).

    FULL value oracle since round 10 (was rows-only): the emitted set
    is exactly determined by the data — sessions are the SQL
    gaps-and-islands partition (new session iff the gap to the previous
    event is >= 30 min; session end = last event + gap), and append
    mode emits precisely those whose end <= final watermark
    (global max ts - 1 h; the boundary INCLUSIVE — pinned empirically
    with a planted end-equals-watermark session). The inner-join twin
    assert below additionally pins streamed == batch agreement."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 40)
        .select("ts", "user_id", "event_id")
    )

    def sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.unix_millis(F.col("w.start")).alias("session_start_ms"),
                F.unix_millis(F.col("w.end")).alias("session_end_ms"),
                "n_events",
            )
        )

    with replay(spark, "stream_session_") as rp:
        rp.deliver_time_ordered(ev, n=2)
        rp.drain(
            sessions(rp.source(ev.schema).withWatermark("ts", "1 hour"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("x_stream_session")
        )
        streamed = spark.table("x_stream_session")
        batch = sessions(ev)
        agreed = streamed.join(
            batch,
            ["user_id", "session_start_ms", "session_end_ms", "n_events"],
            "inner",
        )
        rows = agreed.collect()
        assert len(rows) == streamed.count(), "streamed session disagrees with batch"
        return spark.createDataFrame(rows, agreed.schema)


@_register("cta_fixture_dashboard_stream")
def cta_fixture_dashboard_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference system as FOUR concurrent streaming queries
    (stations dim, turnstile counts, A4 train positions, weather)
    maintaining memory serving views from file-source replays, then the
    dashboard snapshot-join over those views — the reference's Tornado
    server (consumers/server.py) collapsed into one SparkSession.

    Rows-only with parity encoded in the count: the returned frame is
    the streaming dashboard INNER-JOINED to the batch dashboard on every
    column, so any stream/batch divergence shrinks the row count the
    driver records. tests/test_full_pipeline.py asserts the stronger
    ordered equality."""
    from ..generator import (
        STATIONS_SCHEMA,
        TURNSTILE_SCHEMA,
        WEATHER_SCHEMA,
        generate_all,
    )
    from ..streaming import views as sv

    fx = generate_all(spark)
    with replay(spark, "cta_dash_stream_") as rp:
        for name, df in fx.items():
            split_col = {"stations": "stop_id"}.get(name, "ts")
            df.repartitionByRange(3, F.col(split_col)).write.parquet(rp.path(name))

        def stream(name, schema):
            return sv.stream_from_directory(spark, rp.path(name), schema)

        return _dashboard_parity(
            rp,
            "cta_fx",
            fx,
            dim=sv.stations_dim_stream(stream("stations", STATIONS_SCHEMA)),
            counts=sv.turnstile_counts_stream(stream("turnstile", TURNSTILE_SCHEMA)),
            pos=sv.train_positions_stream(stream("arrivals", ARRIVALS_SCHEMA)),
            weather=sv.weather_now_stream(stream("weather", WEATHER_SCHEMA)),
        )


@_register(
    "x_sliding_window",
    sql="""
    SELECT CAST(epoch_ms(wstart) AS BIGINT) AS win_start_ms,
           count(*) AS n_events,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM (
      SELECT value, date_trunc('hour', ts) - to_hours(i) AS wstart
      FROM (SELECT value, ts, unnest([0, 1]) AS i FROM events)
    )
    GROUP BY wstart
    """,
)
def x_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: hopping (sliding) event-time window — 2-hour windows
    every 1 hour, so each event lands in exactly size/slide = 2 windows.
    F.window handles the fan-out via Expand (one scan, no self-join);
    the oracle reproduces it by unnesting the two aligned window starts
    per event. Streaming-ready: same expression + withWatermark."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "n_events",
            "sum_value",
        )
    )


@_register("x3_stream_snapshot_merge")
def x3_stream_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC snapshot maintenance (X3-adjacent; VERDICT r5 #8 —
    the streaming twin of x_snapshot_diff): a CDC event stream (upsert/
    delete rows with event-time ts) replays in time-ordered micro-
    batches; each batch MERGEs into the maintained current-state table
    via foreachBatch — read current snapshot, full-outer join the
    batch's net changes, write the next snapshot version (the
    no-lakehouse rendering of Delta/Iceberg MERGE INTO; at 100 TB the
    overwrite becomes file-level MERGE with partition pruning, same
    join plan). Upstream of the merge the stream runs
    withWatermark + dropDuplicates on (key, ts): at-least-once CDC
    delivery is deduplicated with WATERMARK-BOUNDED state (every event
    here is delivered twice; state for keys older than the 30-day
    horizon is dropped, so the dedup buffer never grows with stream
    length).

    The event stream is derived from x_snapshot_diff's deterministic
    fixture rules (adds: orders dated [1998-01-01, 1998-07-01) except
    key%89==1; changes: key%97==0 price+1; deletes: key%89==1), NOT
    from its output — the merge machinery has to reconstruct snapshot
    B from raw CDC events.

    Rows-only with parity encoded in the count: after replay,
    snapshot_diff(snapshot A, maintained table) must equal the BATCH
    x_snapshot_diff row-for-row (null-safe inner join on ALL columns,
    counts asserted equal) — any merge/dedup divergence shrinks the
    driver-recorded row count."""
    from functools import reduce

    from .relational import QUERIES as REL_QUERIES
    from .relational import snapshot_diff

    orders = load(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    snap_a = orders.filter(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    mutated_price = F.when(key % 97 == 0, F.col("o_totalprice") + 1.0).otherwise(
        F.col("o_totalprice")
    )
    added = orders.filter(
        (F.col("o_orderdate") >= "1998-01-01")
        & (F.col("o_orderdate") < "1998-07-01")
        & (key % 89 != 1)
    ).select(
        "o_orderkey",
        F.lit("upsert").alias("op"),
        "o_orderstatus",
        mutated_price.alias("o_totalprice"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    changed = orders.filter(
        (F.col("o_orderdate") < "1998-01-01") & (key % 97 == 0) & (key % 89 != 1)
    ).select(
        "o_orderkey",
        F.lit("upsert").alias("op"),
        "o_orderstatus",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    deleted = orders.filter(
        (F.col("o_orderdate") < "1998-01-01") & (key % 89 == 1)
    ).select(
        "o_orderkey",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
    )
    events = added.unionByName(changed).unionByName(deleted)
    events = events.unionByName(events)  # at-least-once: every event twice

    with replay(spark, "stream_snapmerge_") as rp:
        snap_paths = {"cur": rp.path("snap_init")}
        snap_a.write.parquet(snap_paths["cur"])
        # two micro-batches suffice (round 9, the r8 #3 precedent):
        # cross-batch MERGE accretion needs >= 2 batches, and the
        # at-least-once duplicate pairs share a ts so they always land
        # in the SAME slice — more batches add trigger overhead, not
        # coverage
        rp.deliver_time_ordered(events, n=2)
        deduped = (
            rp.source(events.schema)
            .withWatermark("ts", "30 days")
            .dropDuplicates(["o_orderkey", "ts"])
        )

        def merge_batch(batch_df, bid):
            # net change per key within the batch (last writer by ts —
            # a real CDC feed can carry several changes per key)
            net = (
                batch_df.groupBy("o_orderkey")
                .agg(
                    F.max_by(
                        F.struct("op", "o_orderstatus", "o_totalprice"), "ts"
                    ).alias("s")
                )
                .select(
                    "o_orderkey",
                    F.col("s.op").alias("op"),
                    F.col("s.o_orderstatus").alias("new_status"),
                    F.col("s.o_totalprice").alias("new_price"),
                )
            )
            cur = spark.read.parquet(snap_paths["cur"])
            merged = (
                cur.join(net, "o_orderkey", "full_outer")
                .filter(~F.col("op").eqNullSafe(F.lit("delete")))
                .select(
                    "o_orderkey",
                    F.when(F.col("op") == "upsert", F.col("new_status"))
                    .otherwise(F.col("o_orderstatus"))
                    .alias("o_orderstatus"),
                    F.when(F.col("op") == "upsert", F.col("new_price"))
                    .otherwise(F.col("o_totalprice"))
                    .alias("o_totalprice"),
                )
            )
            nxt = rp.path(f"snap_v{bid}")
            merged.write.mode("overwrite").parquet(nxt)
            snap_paths["cur"] = nxt

        rp.drain(deduped.writeStream.outputMode("append").foreachBatch(merge_batch))

        maintained = spark.read.parquet(snap_paths["cur"])
        streamed_diff = snapshot_diff(
            snap_a, maintained, "o_orderkey",
            [("o_orderstatus", "old_status", "new_status"),
             ("o_totalprice", "old_price", "new_price")],
        )
        batch_diff = REL_QUERIES["x_snapshot_diff"](spark, sf_dir)
        cols = batch_diff.columns
        s, b = streamed_diff.alias("s"), batch_diff.alias("b")
        agreed = s.join(
            b,
            reduce(
                lambda x, y: x & y,
                [F.col(f"s.{c}").eqNullSafe(F.col(f"b.{c}")) for c in cols],
            ),
            "inner",
        ).select(*[F.col(f"s.{c}") for c in cols])
        n_agreed, n_stream, n_batch = (
            agreed.count(), streamed_diff.count(), batch_diff.count()
        )
        assert n_agreed == n_stream == n_batch, (n_agreed, n_stream, n_batch)
        rows = agreed.collect()
        return spark.createDataFrame(rows, agreed.schema)


@_register("x3_stream_gap_monitor")
def x3_stream_gap_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heartbeat/gap monitor (X3): per-user last-seen
    tracking under applyInPandasWithState — the streaming twin of the
    round-6 x_event_gaps/x_twap family. State is (last_us, max_gap_ms,
    n): each micro-batch sorts its group rows by (ts, event_id), folds
    gaps against the carried last-seen, and emits the running profile.
    This is exactly the shape a production staleness alert uses; with
    GroupStateTimeout.EventTimeTimeout + a watermark the same machine
    fires when a key goes silent past the horizon (kept NoTimeout here
    so the three-batch replay converges deterministically).

    Rows-only with parity encoded in the count: the final streamed
    per-user (n_events, max_gap_ms) inner-joins the BATCH gap profile
    (lead window on the high-cardinality user key — the honest batch
    form at that cardinality) on ALL columns; any divergence shrinks
    the driver-recorded row count, and the assert pins zero
    disagreement."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType
    import pandas as pd

    from pyspark.sql.window import Window

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 60)
        .select("ts", "event_id", "user_id")
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_gap_ms", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_ms", LongType()),
            StructField("max_gap_ms", LongType()),
            StructField("n", LongType()),
        ]
    )

    def gap_machine(key, pdfs, state: GroupState):
        last, mx, n = state.get if state.exists else (-1, -1, 0)
        rows = [pdf for pdf in pdfs]
        if rows:
            allr = pd.concat(rows).sort_values(["ts", "event_id"])
            for row in allr.itertuples(index=False):
                # floor each TIMESTAMP to ms (unix_millis semantics),
                # then difference — flooring the us difference instead
                # disagrees with the batch form whenever the two rows'
                # sub-ms components straddle a boundary
                ms = int(pd.Timestamp(row.ts).value // 1_000_000)
                if last >= 0:
                    mx = max(mx, ms - last)
                last = ms
                n += 1
        state.update((last, mx, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_gap_ms": [mx],
            }
        )

    with replay(spark, "stream_gaps_") as rp:
        rp.deliver_time_ordered(ev, n=2)
        tracked = rp.source(ev.schema).groupBy("user_id").applyInPandasWithState(
            gap_machine,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        served: dict = {}

        def upsert(batch_df, _bid):
            for r in batch_df.collect():
                served[r.user_id] = (r.n_events, r.max_gap_ms)

        rp.drain(tracked.writeStream.outputMode("update").foreachBatch(upsert))
        streamed = spark.createDataFrame(
            [(u, n, g) for u, (n, g) in served.items()],
            "user_id long, n_events long, max_gap_ms long",
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = (
            F.unix_millis(F.lead("ts").over(w)) - F.unix_millis("ts")
        ).alias("gap_ms")
        batch = (
            ev.select("user_id", "ts", "event_id")
            .select("user_id", gap)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                # single-event users have no gap: mirror the stream's -1
                F.coalesce(F.max("gap_ms"), F.lit(-1)).alias("max_gap_ms"),
            )
        )
        # n_events counts ROWS (count(*) counts the null-gap final row
        # too), matching the stream's per-event increment
        agreed = streamed.join(
            batch, ["user_id", "n_events", "max_gap_ms"], "inner"
        )
        n_agreed, n_stream, n_batch = (
            agreed.count(), streamed.count(), batch.count()
        )
        assert n_agreed == n_stream == n_batch, (n_agreed, n_stream, n_batch)
        rows = agreed.collect()
        return spark.createDataFrame(rows, agreed.schema)


def _stream_neardup_oracle_sql() -> str:
    """FULL oracle for e2_stream_incremental_neardup (round 11 — was
    rows-only): the foreachBatch maintenance loop is a deterministic
    function of the corpus, so DuckDB replays it exactly — ingest 0's
    bands probe the history index, ingest 1's bands probe history +
    ingest 0 (the index AFTER the first append), each probe capping
    CURRENT-index buckets at MAX_BUCKET, pairs DISTINCT per ingest.
    The planted redelivery (ingest 0's docs riding again in delivery 1)
    is anti-joined away by doc id in the stream, so it contributes no
    pairs — the oracle simply never probes those docs twice. Batch ids
    are disjoint across ingests, so UNION ALL is exact."""
    from .llm_data import MAX_BUCKET, _shingle_sig_band_ctes

    return f"""
    WITH {_shingle_sig_band_ctes("h", "doc_id % 10 <> 0")},
    {_shingle_sig_band_ctes("b0", "doc_id % 10 = 0 AND (doc_id // 10) % 2 = 0")},
    {_shingle_sig_band_ctes("b1", "doc_id % 10 = 0 AND (doc_id // 10) % 2 = 1")},
    ok0 AS (SELECT band_idx, band_hash FROM bandedh
            GROUP BY band_idx, band_hash HAVING count(*) <= {MAX_BUCKET}),
    h0 AS (SELECT bandedh.id, bandedh.band_idx, bandedh.band_hash
           FROM bandedh JOIN ok0 USING (band_idx, band_hash)),
    p0 AS (SELECT DISTINCT b.id AS batch_id, h.id AS hist_id
           FROM bandedb0 b JOIN h0 h
             ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash),
    idx1 AS (SELECT id, band_idx, band_hash FROM bandedh
             UNION ALL
             SELECT id, band_idx, band_hash FROM bandedb0),
    ok1 AS (SELECT band_idx, band_hash FROM idx1
            GROUP BY band_idx, band_hash HAVING count(*) <= {MAX_BUCKET}),
    h1 AS (SELECT idx1.id, idx1.band_idx, idx1.band_hash
           FROM idx1 JOIN ok1 USING (band_idx, band_hash)),
    p1 AS (SELECT DISTINCT b.id AS batch_id, h.id AS hist_id
           FROM bandedb1 b JOIN h1 h
             ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash)
    SELECT batch_id, hist_id FROM p0
    UNION ALL
    SELECT batch_id, hist_id FROM p1
    """


@_register("e2_stream_incremental_neardup", sql=_stream_neardup_oracle_sql())
def e2_stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2's streaming twin (round-7 #3): a foreachBatch ingest stream
    MAINTAINING the persisted LSH band index across micro-batches — the
    shape e2_incremental_neardup only exercises for one static batch.
    Each micro-batch (1) drops docs already indexed (idempotent under
    redelivery), (2) probes its bands against the CURRENT index — the
    original history plus every earlier ingest — via the same
    lsh_probe_banded/hot-bucket-cap path the batch operator uses, (3)
    appends its bands to the index. A REDELIVERY is planted across
    batch boundaries (ingest 0's docs ride again inside delivery 2),
    the case a single-batch probe never sees.

    FULL oracle since round 11 (was rows-only): the maintenance loop
    is a deterministic function of the corpus, so the DuckDB oracle
    replays both ingests from scratch (_stream_neardup_oracle_sql).
    The Spark side STILL exercises the real stream — pairs the stream
    emitted exactly once, inner-joined to the batch twin — so a missed
    cross-batch pair, a re-probed redelivery (double emission), or a
    pair against a not-yet-ingested doc shrinks the result AND breaks
    the value hash.

    Scale note: the index is append-only parquet keyed by the 56-bit
    band hash — at 100 TB it is the standard persisted LSH index
    (write bands once, probe every ingest); per-batch cost is the
    batch's bands x one equi-join, never a corpus rescan. The planted
    redelivery guard is an anti-join against index DOC IDS, O(index)
    shuffle here but served by a bloom/metadata lookup at scale.

    Round 9 (VERDICT r8 #2): wall cost halved the way r8 halved the
    other planted streams — the cross-batch redelivery plant needs
    exactly TWO micro-batches (ingest 0's docs riding again inside
    delivery 1), not three; and the corpus is minhashed ONCE into a
    pinned signature frame that the index build and every twin probe
    filter from (signatures are per-doc deterministic, so sharing is
    value-identical; previously hist was re-signatured per twin round
    — 4 full Arrow passes where 1 suffices). The stream-side ingest
    still signatures its own delivered rows: that is the work under
    test."""
    from ..operators.dedup import (
        _banded,
        lsh_probe_banded,
        lsh_probe_pairs,
        minhash_signatures_arrow,
    )
    from .llm_data import BANDS, MAX_BUCKET, N_HASHES, SHINGLE_K

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "batch_no", F.expr("(doc_id div 10) % 2")
    )

    def sig(d):
        return minhash_signatures_arrow(
            d, "text", "doc_id", k=SHINGLE_K, n_hashes=N_HASHES, spread=True
        )

    with replay(spark, "stream_neardup_") as rp:
        allsig = sig(docs).localCheckpoint()  # ONE corpus minhash pass
        hist_sig = allsig.filter(F.col("id") % 10 != 0)

        def batch_sig(j: int):
            return allsig.filter(
                (F.col("id") % 10 == 0) & (F.expr("(id div 10) % 2") == j)
            )

        index_dir = rp.path("band_index")
        pairs_dir = rp.path("pairs")
        _banded(hist_sig, N_HASHES, BANDS).write.parquet(index_dir)
        spark.createDataFrame([], "batch_id long, hist_id long").write.parquet(
            pairs_dir
        )

        ingest0 = batch.filter(F.col("batch_no") == 0).select("doc_id", "text")
        ingest1 = batch.filter(F.col("batch_no") == 1).select("doc_id", "text")
        rp.deliver([ingest0, ingest1.unionByName(ingest0)])  # planted redelivery

        def ingest(bdf, _eid: int) -> None:
            idx = spark.read.parquet(index_dir)
            fresh = bdf.join(
                idx.select(F.col("id").alias("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            )
            # round 13 (VERDICT r12 #4, guide §6): ONE materialization
            # of the batch's bands instead of two — the bands are
            # written ONCE to a staging dir (this job is also the
            # pin the probe needs: sig+band computed exactly once,
            # against the pre-append index), the probe reads the staged
            # parquet, and the "append to index" is a RENAME of the
            # staged files into the index dir (a metadata move), not a
            # second full write job. Index contents are byte-identical
            # to the old append; the probe still sees only the
            # PRE-append index (its file listing happens before the
            # rename).
            import glob as _glob

            stage = rp.path(f"stage_{_eid}")
            _banded(sig(fresh), N_HASHES, BANDS).write.parquet(stage)
            bb = spark.read.parquet(stage)
            lsh_probe_banded(bb, idx, MAX_BUCKET).write.mode("append").parquet(
                pairs_dir
            )
            for i, f in enumerate(
                sorted(_glob.glob(os.path.join(stage, "*.parquet")))
            ):
                os.rename(
                    f, os.path.join(index_dir, f"ingest-{_eid}-{i:04d}.parquet")
                )
            shutil.rmtree(stage, ignore_errors=True)

        rp.drain(rp.source("doc_id long, text string").writeStream.foreachBatch(ingest))

        streamed_once = (
            spark.read.parquet(pairs_dir)
            .groupBy("batch_id", "hist_id")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") == 1)
            .drop("n")
        )
        twin = None
        for j in range(2):
            hj_sig = hist_sig if j == 0 else hist_sig.unionByName(batch_sig(0))
            t = lsh_probe_pairs(
                batch_sig(j), hj_sig,
                n_hashes=N_HASHES, bands=BANDS, max_bucket=MAX_BUCKET,
            )
            twin = t if twin is None else twin.unionByName(t)
        out = streamed_once.join(twin, ["batch_id", "hist_id"], "inner").orderBy(
            "batch_id", "hist_id"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "x_stream_bitmap_distinct",
    # FULL oracle: after the stream drains, the folded bitmap words must
    # yield EXACTLY count(DISTINCT) per group — streamed words are
    # inner-joined to the from-scratch batch twin first, so a dropped
    # batch or corrupted word shrinks the result and the driver flags it
    sql="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
    FROM orders GROUP BY o_orderpriority
    """,
)
def x_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_bitmap_distinct: EXACT distinct-count
    maintenance over an unbounded stream. Each micro-batch folds its
    rows into bitmap words (operators/bitmap.py) and appends them to a
    delta log; the serving read merges with one partial-aggregable
    `bit_or` per (group, word) and folds `sum(bit_count)`. The state
    the pipeline carries is |id-domain|/32 words per group — BOUNDED
    regardless of stream length, where streaming COUNT(DISTINCT) over
    raw ids grows with distinct arrivals. Redelivery needs NO seen-set:
    `bit_or` is idempotent, so the planted cross-batch redelivery
    (delivery 0's rows ride again inside delivery 2) is absorbed by
    algebra — exactly-once COUNTING from at-least-once delivery.
    Delta compaction is x_compact_small_files composed over the log."""
    from ..operators import bitmap

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    with replay(spark, "stream_bitmap_") as rp:
        deltas_dir = rp.path("word_deltas")
        spark.createDataFrame(
            [], "o_orderpriority string, w_idx long, word long"
        ).write.parquet(deltas_dir)

        d0, d1, d2 = (orders.filter(F.col("o_orderkey") % 3 == j) for j in range(3))
        rp.deliver([d0, d1, d2.unionByName(d0)])  # planted cross-batch redelivery

        def ingest(bdf, _eid: int) -> None:
            bitmap.bitmap_words(bdf, ["o_orderpriority"], "o_custkey").drop(
                "n_rows"
            ).write.mode("append").parquet(deltas_dir)
            # in-loop LSM compaction (round 9): bitmap-word generations
            # fold with bit_or — idempotent AND associative, so the
            # compacted base serves identically even across the planted
            # redelivery (compact_delta_log fold="bit_or")
            from ..operators import maintenance as _mt

            if _mt.dir_stats(deltas_dir)[0] > 2:
                _mt.compact_delta_log(
                    spark, deltas_dir, ["o_orderpriority", "w_idx"], ["word"],
                    fold="bit_or",
                )

        rp.drain(
            rp.source("o_orderkey long, o_orderpriority string, o_custkey long")
            .writeStream.foreachBatch(ingest)
        )

        merged = (
            spark.read.parquet(deltas_dir)
            .groupBy("o_orderpriority", "w_idx")
            .agg(F.expr("bit_or(word)").alias("word"))
            .groupBy("o_orderpriority")
            .agg(
                F.expr("sum(bit_count(word))").cast("long").alias("n_distinct")
            )
        )
        twin = bitmap.distinct_counts(
            bitmap.bitmap_words(orders, ["o_orderpriority"], "o_custkey"),
            ["o_orderpriority"],
        ).select("o_orderpriority", "n_distinct")
        out = merged.join(twin, ["o_orderpriority", "n_distinct"], "inner")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "x3_stream_temporal_enrich",
    # FULL oracle: DuckDB's native ASOF JOIN over the same dim/fact
    # split — the streamed enrichment (inner-joined to the batch-twin
    # asof first, so a dropped batch or a wrong version pick shrinks
    # the result) must reproduce it exactly
    sql="""
    WITH dim AS (
      SELECT user_id, ts, max(event_id) AS signup_event_id
      FROM events WHERE event_type = 'signup'
      GROUP BY user_id, ts
    ),
    fact AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, CAST(epoch_ms(f.ts) AS BIGINT) AS ts_ms,
           d.signup_event_id,
           CAST(epoch_ms(d.ts) AS BIGINT) AS signup_ts_ms
    FROM fact f
    ASOF JOIN dim d ON f.user_id = d.user_id AND f.ts >= d.ts
    """,
)
def x3_stream_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/J6 streaming composition: TEMPORAL TABLE JOIN — enrich a fact
    stream with the dimension version valid AT EVENT TIME (Flink's
    temporal join; Spark has no native operator). The versioned dim is
    the users' signup history (one row per (user, ts), max event_id
    pins ties); each purchase micro-batch is as-of joined
    (operators/asof.asof_join, join+max_by form) against it and
    appended to the enriched log. Per-row enrichment is batch-
    independent for a static dim snapshot, so stream output ==
    batch asof exactly — the property the inner join to the batch twin
    pins before the DuckDB ASOF JOIN oracle hashes it. A dim that
    itself updates mid-stream composes with the CDC MERGE pattern
    (x3_stream_snapshot_merge): fold dim deltas first, enrich second.

    Scale note: the dim ships broadcast per micro-batch (compacted SCD
    dims are MB-scale); enrichment cost is O(batch) with no
    corpus-scaling state — the stream carries no watermarked operator
    state at all, unlike the stream-stream join form of the same
    question (x_stream_stream_join)."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
        .withColumnRenamed("ts", "signup_ts")
        .localCheckpoint(eager=False)
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )

    def enrich(df):
        # asof_join exposes value_cols only, so the matched version's
        # own timestamp rides along as a copied value column
        out = asof_join(
            df,
            dim.withColumnRenamed("user_id", "d_user_id").withColumn(
                "signup_ts_ms", F.unix_millis("signup_ts")
            ),
            left_on="user_id",
            right_on="d_user_id",
            left_ts="ts",
            right_ts="signup_ts",
            value_cols=["signup_event_id", "signup_ts_ms"],
            how="inner",
        )
        return out.select(
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            "signup_event_id",
            "signup_ts_ms",
        )

    with replay(spark, "stream_temporal_") as rp:
        rp.deliver_time_ordered(fact, n=2)
        enriched_dir = rp.path("enriched")

        def ingest(bdf, _eid: int) -> None:
            enrich(bdf).write.mode("append").parquet(enriched_dir)

        rp.drain(
            rp.source("event_id long, user_id long, ts timestamp")
            .writeStream.foreachBatch(ingest)
        )

        twin = enrich(fact)
        out = spark.read.parquet(enriched_dir).join(
            twin,
            ["event_id", "user_id", "ts_ms", "signup_event_id", "signup_ts_ms"],
            "inner",
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "x_stream_late_audit",
    # FULL oracle: the drop set is fully determined by the planted
    # delivery — stragglers (first-hour events with event_id % 5 = 0)
    # replay after delivery 2 pushed the watermark past their window,
    # so n_stream counts exactly the non-straggler rows; windows whose
    # end is past the final watermark (max ts - 30 min, inclusive) are
    # 'final', the rest 'open' with n_stream 0 (append never emitted
    # them). The oracle recomputes all of it from the events table.
    sql="""
    WITH e AS (
      SELECT event_id, ts FROM events WHERE user_id < 30
    ),
    b AS (
      SELECT min(ts) AS lo, epoch_ms(max(ts)) - 1800000 AS wm FROM e
    ),
    truth AS (
      SELECT epoch_ms(date_trunc('hour', ts)) AS w_start_ms,
             count(*) AS n_batch
      FROM e GROUP BY 1
    ),
    str AS (
      SELECT epoch_ms(date_trunc('hour', ts)) AS w_start_ms,
             count(*) AS n_s
      FROM e, b
      WHERE NOT (ts < lo + INTERVAL 1 HOUR AND event_id % 5 = 0)
      GROUP BY 1
    )
    SELECT t.w_start_ms,
           CASE WHEN t.w_start_ms + 3600000 <= b.wm
                THEN 'final' ELSE 'open' END AS status,
           CASE WHEN t.w_start_ms + 3600000 <= b.wm
                THEN coalesce(s.n_s, 0) ELSE 0 END AS n_stream,
           t.n_batch,
           CASE WHEN t.w_start_ms + 3600000 <= b.wm
                THEN t.n_batch - coalesce(s.n_s, 0) END AS n_late_dropped
    FROM truth t LEFT JOIN str s USING (w_start_ms) CROSS JOIN b
    ORDER BY t.w_start_ms
    """,
)
def x_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 as a user-facing ACCOUNTING query: watermark-bounded tumbling
    counts with an explicit late-data audit. Delivery 1 carries the
    early hours MINUS a planted straggler set, delivery 2 jumps event
    time far enough to advance the watermark past the first window's
    close, delivery 3 replays the stragglers — now beyond the
    watermark, so append mode finalized their window without them and
    the state store has already evicted it. The result joins the
    streamed per-window counts to the batch ground truth and reports
    `n_late_dropped` per window — the reconciliation row a production
    pipeline publishes next to every watermarked aggregate (how much
    did bounded state cost us?). FULL value oracle since round 10:
    the planted delivery makes the drop set deterministic (stragglers
    replay strictly after delivery 2 advanced the watermark past their
    window), so the oracle recomputes stragglers, final watermark, and
    the final/open emission split from the events table; the
    planted-count pin additionally lives in
    tests/test_streaming_parity.py.

    Scale note: state is |open windows| x |keys| and the audit join
    touches only the finalized aggregate, not the event stream —
    the accounting is free at any corpus size."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select("event_id", "ts", "user_id")
    )
    with replay(spark, "late_audit_") as rp:
        lo = ev.agg(F.min("ts")).first()[0]
        hour0_end = F.lit(lo) + F.expr("INTERVAL 1 HOUR")
        # stragglers: a deterministic slice of the FIRST hour
        is_h0 = F.col("ts") < hour0_end
        straggler = is_h0 & (F.col("event_id") % 5 == 0)
        batch1 = ev.filter(~straggler & (F.col("ts") < F.lit(lo) + F.expr("INTERVAL 3 HOURS")))
        batch2 = ev.filter(F.col("ts") >= F.lit(lo) + F.expr("INTERVAL 3 HOURS"))
        batch3 = ev.filter(straggler)  # replayed too late
        rp.deliver([batch1, batch2, batch3])
        rp.drain(
            rp.source("event_id long, ts timestamp, user_id long")
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n_stream"))
            .select(F.unix_millis("w.start").alias("w_start_ms"), "n_stream")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("x_stream_late_audit")
        )
        streamed = spark.table("x_stream_late_audit")
        truth = (
            ev.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n_batch"))
            .select(F.unix_millis("w.start").alias("w_start_ms"), "n_batch")
        )
        # windows whose end is past the FINAL watermark (max event time
        # minus the delay) were never finalized — they are OPEN, not
        # dropped; append mode holds them in state at shutdown
        hi = ev.agg(F.max("ts")).first()[0]
        final_wm_ms = F.unix_millis(
            F.lit(hi) - F.expr("INTERVAL 30 MINUTES")
        )
        out = (
            streamed.join(truth, "w_start_ms", "right")
            .select(
                "w_start_ms",
                F.when(
                    F.col("w_start_ms") + 3_600_000 <= final_wm_ms,
                    F.lit("final"),
                )
                .otherwise(F.lit("open"))
                .alias("status"),
                F.coalesce("n_stream", F.lit(0)).alias("n_stream"),
                "n_batch",
                F.when(
                    F.col("w_start_ms") + 3_600_000 <= final_wm_ms,
                    F.col("n_batch") - F.coalesce("n_stream", F.lit(0)),
                ).alias("n_late_dropped"),
            )
            .orderBy("w_start_ms")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


def _stream_ann_oracle_sql() -> str:
    """FULL oracle for e3_stream_ann_ingest (round 11 — was rows-only):
    because a vector's cell depends only on the centroids frozen at
    build time (first 16 BASE vectors by id — deterministic from the
    parquet), serving from the stream-maintained index is exactly the
    from-scratch batch build over the full corpus, and THAT is the
    e3_ivf_topk oracle (plans/llm_data.py) with the centroid CTE drawn
    from the base subset. Same scalar-encoded rounded-sim tie-breaks:
    assignment via arg_max(cell, cs4*1e5 - cell), probe and rank via
    row_number over (rounded sim DESC, id)."""
    cos_cv = (
        "round(list_dot_product(v, cv) / "
        "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 4)"
    )
    cos_qcv = (
        "round(list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4)"
    )
    cos_qv = (
        "round(list_dot_product(qv, dv.v) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(dv.v, dv.v))), 4)"
    )
    return f"""
    WITH c AS (
      SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cents AS (SELECT id AS cell, v AS cv FROM c
              WHERE id % 3 <> 2 ORDER BY id LIMIT 16),
    assign_scored AS (
      SELECT c.id, cents.cell, ({cos_cv}) AS cs
      FROM c CROSS JOIN cents
    ),
    cells AS (
      SELECT id, arg_max(cell, cs * 100000000 - cell) AS cell
      FROM assign_scored GROUP BY id
    ),
    q AS (SELECT id AS query_id, v AS qv FROM c WHERE id < 5),
    probe_scored AS (
      SELECT query_id, cell, ({cos_qcv}) AS pcs
      FROM q CROSS JOIN cents
    ),
    probes AS (
      SELECT query_id, cell FROM (
        SELECT query_id, cell,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY pcs DESC, cell) AS rn
        FROM probe_scored
      ) WHERE rn <= 6
    ),
    cand AS (
      SELECT q.query_id, dv.id AS neighbor_id, ({cos_qv}) AS sim
      FROM probes
      JOIN cells ON probes.cell = cells.cell
      JOIN c dv ON dv.id = cells.id
      JOIN q ON q.query_id = probes.query_id
      WHERE dv.id <> q.query_id
    )
    SELECT query_id, neighbor_id, rnk, sim FROM (
      SELECT query_id, neighbor_id, sim,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id)
                  AS INTEGER) AS rnk
      FROM cand
    ) WHERE rnk <= 3
    """


@_register("e3_stream_ann_ingest", sql=_stream_ann_oracle_sql())
def e3_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 streaming twin: ANN index INGEST — the corpus keeps growing
    after the index is built. Centroids are frozen at build time (the
    production contract: re-training is a rebuild, see
    e3_ann_index_build's staleness fingerprint); each arriving
    micro-batch is assigned to its nearest frozen centroid (broadcast
    join + max_by, operators/similarity.ivf_assign_cells) and appended
    to the persisted cell table after a seen-ids anti-join drops the
    PLANTED cross-batch redelivery. Because a vector's cell depends
    only on the frozen centroids, serving from base+streamed cells is
    EXACTLY a from-scratch batch build over the full corpus — the
    query result is the inner join of both serve paths (stream-built
    vs batch-built index, same queries), so a lost batch, a double
    ingest, or a mis-assigned cell shrinks it below the pytest-pinned
    full top-k count. FULL oracle since round 11 (was rows-only): the
    from-scratch build IS the e3_ivf_topk SQL replay with centroids
    drawn from the base subset (_stream_ann_oracle_sql), so the hash
    additionally pins neighbors, ranks, and sims.

    Scale note: per-batch cost is O(batch x n_centroids); the cell
    table is append-only parquet partitioned the same way the batch
    index store is, and compaction is x_compact_small_files over the
    cell dir. Nothing rescans the existing index on ingest."""
    from ..operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 2)
    arriving = emb.filter(F.col("vec_id") % 3 == 2)
    centroids = base.orderBy("vec_id").limit(16).localCheckpoint(eager=False)
    queries_df = emb.filter(F.col("vec_id") < 5)

    with replay(spark, "stream_ann_") as rp:
        cells_dir = rp.path("cells")
        similarity.ivf_assign_cells(base, centroids).write.parquet(cells_dir)

        # arriving ids are ≡2 mod 3: 2/5/8
        d0, d1, d2 = (arriving.filter(F.col("vec_id") % 9 == m) for m in (2, 5, 8))
        rp.deliver([d0, d1, d2.unionByName(d0)])  # planted cross-batch redelivery

        def ingest(bdf, _eid: int) -> None:
            seen = spark.read.parquet(cells_dir).select("vec_id")
            fresh = bdf.join(seen, "vec_id", "left_anti")
            similarity.ivf_assign_cells(fresh, centroids).write.mode(
                "append"
            ).parquet(cells_dir)

        rp.drain(
            rp.source("vec_id long, embedding array<float>, label int")
            .writeStream.foreachBatch(ingest)
        )

        streamed_cells = spark.read.parquet(cells_dir)
        twin_cells = similarity.ivf_assign_cells(emb, centroids)
        served_stream = similarity.ivf_serve(
            queries_df, streamed_cells, centroids, n_probe=6, k=3
        )
        served_twin = similarity.ivf_serve(
            queries_df, twin_cells, centroids, n_probe=6, k=3
        )
        out = served_stream.join(
            served_twin, ["query_id", "neighbor_id", "rnk", "sim"], "inner"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@_register(
    "e5_stream_media_ingest",
    # FULL oracle on the typed metadata (deterministic from the payload
    # bytes); the Arrow featurizer runs per batch but features are
    # floats from a python kernel — their stream≡batch equality is part
    # of the inner-join encoding instead (feature vector size + bytes
    # must agree for the join to keep the row)
    sql="""
    SELECT doc_id AS id,
           octet_length(encode(text)) AS n_bytes,
           substr(hex(encode(text)), 1, 8) AS magic,
           8 AS n_feats
    FROM documents
    """,
)
def e5_stream_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 streaming twin: multimodal INGEST — binary payloads arrive in
    micro-batches; each batch runs the pointer/metadata typing
    (with_binary_payload) and the Arrow decode+featurize kernel
    (extract_features, stubbed decode per the environment contract)
    and appends (id, n_bytes, magic, n_feats, feat0) to the feature
    store; the seen-ids anti-join drops the planted cross-batch
    redelivery. After the drain, the streamed store is inner-joined to
    the batch twin on EVERY column (including the kernel's first
    feature value) — a dropped batch, double ingest, or
    batch-boundary-dependent featurization shrinks the result below
    the oracle's full row count.

    Scale note: per-batch cost is one Arrow pass over the BATCH —
    bounded executor memory regardless of payload sizes (the 100 TB
    layout ships pointers, e5_pointer_layout, and the kernel fetches
    ranges); the feature store is append-only parquet, compaction via
    x_compact_small_files."""
    from ..operators import multimodal

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with replay(spark, "stream_media_") as rp:
        store_dir = rp.path("features")
        spark.createDataFrame(
            [], "id long, n_bytes int, magic string, n_feats int, feat0 double"
        ).write.parquet(store_dir)

        # two micro-batches (round 9, the r8 #3 precedent): the
        # cross-batch redelivery needs exactly two — ingest 0's docs
        # ride again inside delivery 1
        d0, d1 = (docs.filter(F.col("doc_id") % 2 == j) for j in range(2))
        rp.deliver([d0, d1.unionByName(d0)])

        def ingest(bdf, _eid: int) -> None:
            seen = spark.read.parquet(store_dir).select(
                F.col("id").alias("doc_id")
            )
            fresh = bdf.join(seen, "doc_id", "left_anti")
            mm = multimodal.with_binary_payload(fresh, "text", "doc_id")
            feats = multimodal.extract_features(mm)
            out = mm.select(
                "id", F.col("meta.magic").alias("magic")
            ).join(feats, "id").select(
                "id",
                "n_bytes",
                "magic",
                F.size("features").alias("n_feats"),
                F.round(F.element_at("features", 1), 6).alias("feat0"),
            )
            out.write.mode("append").parquet(store_dir)

        rp.drain(rp.source("doc_id long, text string").writeStream.foreachBatch(ingest))

        mm = multimodal.with_binary_payload(docs, "text", "doc_id")
        twin = (
            mm.select("id", F.col("meta.magic").alias("magic"))
            .join(multimodal.extract_features(mm), "id")
            .select(
                "id",
                "n_bytes",
                "magic",
                F.size("features").alias("n_feats"),
                F.round(F.element_at("features", 1), 6).alias("feat0"),
            )
        )
        streamed = spark.read.parquet(store_dir)
        out = streamed.join(
            twin, ["id", "n_bytes", "magic", "n_feats", "feat0"], "inner"
        ).select("id", "n_bytes", "magic", "n_feats")
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# ------------------------------------------------ streaming attribution
@_register(
    "x3_stream_attribution",
    # FULL oracle: the batch last-touch attribution (x_attribution's
    # banded-as-of SQL) with NULLs sentineled to -1 so the stream ==
    # batch inner join can match on every column — a purchase the
    # stream attributed to the wrong click (or dropped) shrinks the
    # joined row count and flips the hash
    sql="""
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
       AND c.click_ms > p.purchase_ms - 86400000
    )
    SELECT purchase_id, user_id, purchase_ms,
           coalesce(click_id, -1) AS click_id_f,
           coalesce(gap_ms, -1) AS gap_ms_f
    FROM ranked WHERE rn = 1
    ORDER BY purchase_id
    """,
)
def x3_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 streaming composition: REAL-TIME last-touch attribution — the
    streaming twin of x_attribution. Click and purchase events arrive
    in event-time order across micro-batches; foreachBatch maintains a
    persisted CLICK INDEX (append-only parquet, the e8_stream_index_update
    LSM idiom) and attributes each batch's purchases against it with
    the same banded as-of (user-key equi-join + two-sided 24 h band +
    max_by struct pick). Event-time-ordered delivery makes every click
    with click_ms <= purchase_ms visible by the batch that carries the
    purchase (appended BEFORE attribution), so stream output == batch
    attribution EXACTLY — pinned by the all-column inner join to the
    batch twin before the full DuckDB oracle hashes it. A planted
    REDELIVERY batch replays first-delivery clicks; the index append is
    idempotent via a click_id anti-join, so the replay changes nothing
    (exactly-once attribution from at-least-once delivery).

    Scale note: per-batch cost is O(batch clicks) for the index append
    plus the banded as-of against the index; the 24 h band bounds the
    per-purchase fan-out regardless of index depth, and the index
    itself is the compaction-friendly small-files shape
    (x_compact_small_files). No watermarked operator state."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")

    def attribute(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
        p = purchases.select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.unix_millis("ts").alias("purchase_ms"),
        )
        c = clicks.select(
            F.col("click_id"),
            F.col("c_user"),
            F.col("click_ms"),
        )
        best = F.max_by(
            F.struct("click_ms", "click_id"), F.struct("click_ms", "click_id")
        ).alias("_best")
        return (
            p.join(
                c,
                (p.user_id == c.c_user)
                & (c.click_ms <= p.purchase_ms)
                & (c.click_ms > p.purchase_ms - 86_400_000),
                "left",
            )
            .groupBy("purchase_id", "user_id", "purchase_ms")
            .agg(best)
            .select(
                "purchase_id",
                "user_id",
                "purchase_ms",
                F.coalesce(F.col("_best.click_id"), F.lit(-1)).alias("click_id_f"),
                F.coalesce(
                    F.col("purchase_ms") - F.col("_best.click_ms"), F.lit(-1)
                ).alias("gap_ms_f"),
            )
        )

    with replay(spark, "stream_attr_") as rp:
        rp.deliver_time_ordered(ev, n=2)
        # planted redelivery: 50 earliest clicks arrive AGAIN last
        rp.deliver(
            [
                spark.read.parquet(rp.path("data"))
                .orderBy("ts")
                .filter(F.col("event_type") == "click")
                .limit(50)
            ]
        )

        index_dir = rp.path("click_index")
        out_dir = rp.path("attributed")

        def ingest(bdf, _eid: int) -> None:
            bc = bdf.filter(F.col("event_type") == "click").select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.unix_millis("ts").alias("click_ms"),
            )
            try:
                seen = bdf.sparkSession.read.parquet(index_dir)
                new = bc.join(seen.select("click_id"), "click_id", "anti")
                # materialize the anti-join BEFORE appending to the same
                # directory it reads: a lazy plan re-listing index_dir
                # after the write begins (retry, future listing changes)
                # would see its own output (x3_stream_markov's `fresh`
                # pattern)
                new = new.localCheckpoint()
            except Exception:
                new = bc
            new.write.mode("append").parquet(index_dir)
            purchases = bdf.filter(F.col("event_type") == "purchase")
            if purchases.isEmpty():
                return
            clicks = bdf.sparkSession.read.parquet(index_dir)
            attribute(purchases, clicks).write.mode("append").parquet(out_dir)

        rp.drain(
            rp.source("event_id long, ts timestamp, user_id long, event_type string")
            .writeStream.foreachBatch(ingest)
        )

        twin = attribute(
            ev.filter(F.col("event_type") == "purchase"),
            ev.filter(F.col("event_type") == "click").select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.unix_millis("ts").alias("click_ms"),
            ),
        )
        cols = ["purchase_id", "user_id", "purchase_ms", "click_id_f", "gap_ms_f"]
        out = (
            spark.read.parquet(out_dir)
            .join(twin, cols, "inner")
            .orderBy("purchase_id")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# -------------------------------------------- streaming Markov matrix
@_register(
    "x3_stream_markov",
    # FULL oracle: the folded delta log must equal the batch transition
    # matrix exactly — the stream's output is hashed directly against
    # x_markov_transitions' SQL (no parity-encoding indirection), so a
    # missed cross-batch boundary transition or a double-counted
    # redelivery flips the hash
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
def x3_stream_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 streaming composition: INCREMENTAL Markov transition matrix —
    the streaming twin of x_markov_transitions, with the one piece of
    state sequence analytics genuinely needs across micro-batches: each
    user's LAST event (a transition can straddle a batch boundary).

    foreachBatch per micro-batch: (1) planted redeliveries drop via the
    seen-event-id anti-join (exactly-once from at-least-once); (2) the
    carried last-event-per-user snapshot unions with the batch, a
    per-user lead emits every (from -> to) pair whose successor is new
    — boundary transitions included, nothing double-counted because
    the carry holds exactly ONE row per user; (3) per-batch (from, to)
    counts append to a delta log (the LSM idiom); (4) the carry
    snapshot advances via one max_by. Serving read folds the delta log
    with a single partial-aggregable SUM. State is |users| rows + the
    |types|^2 log — never the event history.

    Scale note: per-batch cost is O(batch) plus one join against the
    carry (user-key co-partitioned); event-time-ordered delivery is
    the correctness precondition, same as every LSM twin here."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )

    with replay(spark, "stream_markov_") as rp:
        # two delivery slices (round 10, the 6f9375e precedent): the
        # cross-batch boundary-transition carry needs >= 2 batches, and
        # the redelivery plant below is its own third batch — more
        # slices add trigger overhead, not coverage
        rp.deliver_time_ordered(ev, n=2)
        # planted redelivery: 40 earliest events arrive AGAIN last
        rp.deliver(
            [spark.read.parquet(rp.path("data")).orderBy("ts", "event_id").limit(40)]
        )

        state_dir = rp.path("carry")
        seen_dir = rp.path("seen")
        log_dir = rp.path("deltas")

        def ingest(bdf, eid: int) -> None:
            from pyspark.sql.window import Window as W

            ss = bdf.sparkSession
            try:
                seen = ss.read.parquet(seen_dir).select("event_id")
                fresh = bdf.join(seen, "event_id", "anti")
            except Exception:
                fresh = bdf
            if fresh.isEmpty():
                return
            fresh = fresh.localCheckpoint()
            fresh.select("event_id").write.mode("append").parquet(seen_dir)
            try:
                carry = ss.read.parquet(state_dir + f"/v{eid - 1}")
            except Exception:
                try:
                    # redelivery batches may skip versions: latest wins
                    versions = sorted(
                        int(d[1:]) for d in os.listdir(state_dir)
                        if d.startswith("v")
                    )
                    carry = ss.read.parquet(state_dir + f"/v{versions[-1]}")
                except Exception:
                    carry = ss.createDataFrame(
                        [], "event_id long, ts timestamp, user_id long, event_type string"
                    )
            u = carry.unionByName(fresh)
            w = W.partitionBy("user_id").orderBy("ts", "event_id")
            pairs = (
                u.select(
                    "user_id",
                    F.col("event_type").alias("from_type"),
                    F.lead("event_type").over(w).alias("to_type"),
                )
                .filter(F.col("to_type").isNotNull())
                .groupBy("from_type", "to_type")
                .agg(F.count("*").alias("n"))
            )
            pairs.write.mode("append").parquet(log_dir)
            # in-loop LSM compaction (round 9): bound the delta-log and
            # seen-set generations as they grow — fold is sum/distinct,
            # so every later serve is value-identical (compact_delta_log)
            from ..operators import maintenance as _mt

            if _mt.dir_stats(log_dir)[0] > 2:
                _mt.compact_delta_log(ss, log_dir, ["from_type", "to_type"], ["n"])
            if _mt.dir_stats(seen_dir)[0] > 2:
                _mt.compact_delta_log(ss, seen_dir, ["event_id"], [])
            new_carry = (
                u.groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct("event_id", "ts", "event_type"),
                        F.struct("ts", "event_id"),
                    ).alias("_last")
                )
                .select(
                    F.col("_last.event_id").alias("event_id"),
                    F.col("_last.ts").alias("ts"),
                    "user_id",
                    F.col("_last.event_type").alias("event_type"),
                )
            )
            new_carry.write.mode("overwrite").parquet(state_dir + f"/v{eid}")
            # prune stale carry versions (round 12, the endurance probe's
            # finding): each batch writes a full |users|-row snapshot, so
            # without GC the state DIRECTORY grows linearly with stream
            # length even though the live state is one version. Keep the
            # newest two (current + the lookback the version-skip
            # fallback above reads); delete the rest.
            versions = sorted(
                int(d[1:]) for d in os.listdir(state_dir) if d.startswith("v")
            )
            for v in versions[:-2]:
                shutil.rmtree(state_dir + f"/v{v}", ignore_errors=True)

        rp.drain(
            rp.source("event_id long, ts timestamp, user_id long, event_type string")
            .writeStream.foreachBatch(ingest)
        )

        trans = (
            spark.read.parquet(log_dir)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n").alias("n"))
        )
        outdeg = trans.groupBy("from_type").agg(F.sum("n").alias("n_from"))
        out = (
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
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# ----------------------------------------------- streaming skyline
@_register(
    "x3_stream_skyline",
    # FULL oracle: x_skyline's NOT-EXISTS dominance query verbatim —
    # the incrementally-maintained frontier must equal the batch
    # skyline of everything ingested
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
def x3_stream_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 streaming composition: CONTINUOUS skyline maintenance — the
    Pareto frontier kept current as new entities stream in (the
    continuous-skyline query of Tao & Papadias 2006). Lineitem arrives
    PARTITIONED BY PART KEY RANGE (each micro-batch carries complete
    parts — the entity-complete delivery contract every incremental
    aggregate view here states); foreachBatch folds the batch's points
    into the persisted frontier and re-runs the distributed prefix-min
    skyline (plans/mining.skyline_2d) over frontier ∪ batch.

    Why that is EXACT: skyline is mergeable — skyline(skyline(A) ∪ B)
    == skyline(A ∪ B) for immutable points, because a dominated point
    is dominated forever. So the maintained frontier after the last
    batch equals the batch skyline of the full table, which the
    verbatim NOT-EXISTS oracle hashes. State is the frontier itself
    (typically tiny) — never the ingested history.

    Scale note: per-batch cost = one partial agg over the batch + the
    skyline kernel over (|frontier| + |batch parts|) points; the
    history never rescans."""
    from .mining import skyline_2d

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )

    with replay(spark, "stream_sky_") as rp:
        # entity-complete delivery: split by part-key RANGE, not time
        lo, hi = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
        # two entity-range slices (round 10, the 6f9375e precedent):
        # cross-batch frontier MERGE needs >= 2 deliveries; a third
        # slice re-runs the fold for coverage it already has
        mid = lo + (hi - lo + 1) / 2
        key = F.col("l_partkey")
        rp.deliver([li.filter((key >= lo) & (key < mid)), li.filter(key >= mid)])

        frontier_dir = rp.path("frontier")

        def ingest(bdf, eid: int) -> None:
            ss = bdf.sparkSession
            pts = bdf.groupBy(F.col("l_partkey").alias("part_id")).agg(
                F.expr("CAST(sum(l_quantity) AS BIGINT)").alias("qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("rev_cents"),
            )
            try:
                prev = ss.read.parquet(frontier_dir + f"/v{eid - 1}")
            except Exception:
                prev = None
            if prev is not None:
                pts = prev.unionByName(pts)
            skyline_2d(pts).write.mode("overwrite").parquet(
                frontier_dir + f"/v{eid}"
            )

        rp.drain(
            rp.source("l_partkey long, l_quantity double, l_extendedprice double")
            .writeStream.foreachBatch(ingest)
        )

        last = max(
            int(d[1:]) for d in os.listdir(frontier_dir) if d.startswith("v")
        )
        out = (
            spark.read.parquet(frontier_dir + f"/v{last}")
            .orderBy(F.desc("qty"), "rev_cents", "part_id")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


def _hll_batch_oracle_sql() -> str:
    """Per-event-type HLL estimate in SQL — the drained-stream twin of
    the x_hll_union_estimate model (same constants via
    plans/analytics2, which imports them from operators/sketch)."""
    from . import analytics2 as a2
    from ..functions.hashing import md5_long_sql
    from ..functions.rounding import ratio_round_big_sql

    return f"""
    WITH b AS (
      SELECT event_type AS scope,
             {md5_long_sql("CAST(user_id AS VARCHAR)", salt="|hll")} AS h
      FROM events
    ),
    regs AS (
      SELECT scope, h % 256 AS bucket, MAX({a2._HLL_RANK_SQL}) AS r
      FROM b GROUP BY 1, 2
    ),
    per_scope AS (
      SELECT scope,
             count(*) AS n_registers,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - r)) AS BIGINT)
               + (256 - count(*)) * (CAST(1 AS BIGINT) << 49) AS s_scaled
      FROM regs GROUP BY scope
    ),
    exact AS (
      SELECT event_type AS scope, count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    ),
    {a2._HLL_LC_SQL},
    raw AS (
      SELECT scope, n_registers, 256 - n_registers AS n_empty,
             {ratio_round_big_sql(
                 str(a2._HLL_EST_NUM), "1000000 * CAST(s_scaled AS HUGEINT)", 0
             )} AS raw_est
      FROM per_scope
    )
    SELECT r.scope, r.n_registers,
           CASE WHEN r.n_empty > 0 AND r.raw_est <= {a2._HLL_LC_CUTOVER}
                THEN CAST(lc.lc_est AS DOUBLE) ELSE r.raw_est END AS est_hll,
           n_exact
    FROM raw r
    JOIN exact e ON r.scope = e.scope
    LEFT JOIN lc ON lc.v = r.n_empty
    ORDER BY r.scope
    """


@_register(
    "x_stream_hll_distinct",
    # FULL oracle: after the stream drains, the max-folded register log
    # must yield EXACTLY the batch HLL estimate per event_type — the
    # streamed estimate is inner-joined to the from-scratch batch twin
    # on every column first, so a dropped batch, lost register, or a
    # torn compaction shrinks the result and the driver flags it
    sql=_hll_batch_oracle_sql(),
)
def x_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of x_hll_union_estimate: APPROXIMATE
    distinct-count maintenance over an unbounded stream — the bounded
    counterpart of x_stream_bitmap_distinct for id domains too large to
    bitmap. Each micro-batch folds its rows into HLL registers
    (operators/sketch.hll_registers) and appends them to a delta log;
    the serving read merges with one partial-aggregable MAX per
    (scope, bucket) and estimates via the shared integer-exact kernel.
    State is <= 256 register rows per scope FOREVER, vs |id-domain|/32
    words for the bitmap twin and unbounded growth for raw distinct.
    Redelivery needs no seen-set: MAX is idempotent, so the planted
    cross-batch redelivery (delivery 0 rides again inside delivery 2)
    is absorbed by algebra — exactly-once sketching from at-least-once
    delivery. In-loop LSM compaction folds the register log with
    fold="max" (same associative-semiring contract as bit_or)."""
    from ..operators import maintenance as _mt
    from ..operators import sketch as _sk

    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    with replay(spark, "stream_hll_") as rp:
        deltas_dir = rp.path("reg_deltas")
        spark.createDataFrame(
            [], "event_type string, bucket long, r int"
        ).write.parquet(deltas_dir)

        d0, d1, d2 = (events.filter(F.col("event_id") % 3 == j) for j in range(3))
        rp.deliver([d0, d1, d2.unionByName(d0)])  # planted cross-batch redelivery

        def ingest(bdf, _eid: int) -> None:
            _sk.hll_registers(bdf, ["event_type"], "user_id").write.mode(
                "append"
            ).parquet(deltas_dir)
            if _mt.dir_stats(deltas_dir)[0] > 2:
                _mt.compact_delta_log(
                    spark, deltas_dir, ["event_type", "bucket"], ["r"],
                    fold="max",
                )

        rp.drain(
            rp.source("event_id long, event_type string, user_id long")
            .writeStream.foreachBatch(ingest)
        )

        merged = (
            spark.read.parquet(deltas_dir)
            .groupBy("event_type", "bucket")
            .agg(F.max("r").alias("r"))
        )
        streamed = _sk.hll_estimate(merged, ["event_type"]).withColumnRenamed(
            "event_type", "scope"
        )
        twin = _sk.hll_estimate(
            _sk.hll_registers(events, ["event_type"], "user_id"), ["event_type"]
        ).withColumnRenamed("event_type", "scope")
        exact = events.groupBy(F.col("event_type").alias("scope")).agg(
            F.countDistinct("user_id").alias("n_exact")
        )
        out = (
            streamed.join(twin, ["scope", "n_registers", "est_hll"], "inner")
            .join(F.broadcast(exact), "scope")
            .select("scope", "n_registers", "est_hll", "n_exact")
            .orderBy("scope")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


# x3_stream_funnel FULL oracle (round 9): the returned frame is the
# streamed per-user state machine INNER-JOINED to the batch cascade on
# every column, so after the stream drains it must equal the batch
# funnel restricted to the replayed users — which DuckDB expresses
# directly (x_funnel_steps' SQL with the user_id < 40 replay predicate
# pushed into stage 1). A state-transition divergence shrinks the join
# and flips the hash; rows-only only pinned the count before.
ORACLE["x3_stream_funnel"] = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id < 40 GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > t2
      GROUP BY e.user_id
    )
    SELECT s1.user_id,
           1 + (s2.user_id IS NOT NULL)::INTEGER + (s3.user_id IS NOT NULL)::INTEGER
             AS reached_step,
           CAST(epoch_ms(t1) AS BIGINT) AS t1_ms,
           CAST(epoch_ms(t2) AS BIGINT) AS t2_ms,
           CAST(epoch_ms(t3) AS BIGINT) AS t3_ms
    FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
            LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


# x_stream_dedup FULL oracle (round 9): rows the stream emitted exactly
# once, inner-joined to the batch original on every column — after the
# planted double delivery drains, that must be EXACTLY the replayed
# subset of events. A double emission, lost event, or corrupted column
# flips the hash; rows-only only pinned the count before.
ORACLE["x_stream_dedup"] = """
    SELECT event_id, ts, user_id, event_type
    FROM events WHERE event_id % 20 = 0
"""


# x3_stream_gap_monitor FULL oracle (round 9): the returned frame is
# the streamed per-user state inner-joined to the batch gap profile on
# every column, so after the replay drains it must equal the batch
# lead-window profile over the replayed users exactly — which DuckDB
# expresses directly (ms-floored timestamps, count(*) rows, -1 for
# single-event users). A carried-state divergence flips the hash.
ORACLE["x3_stream_gap_monitor"] = """
    WITH ev AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms
      FROM events WHERE user_id < 60
    ),
    seq AS (
      SELECT user_id,
             lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms
               AS gap_ms
      FROM ev
    )
    SELECT user_id, count(*) AS n_events,
           CAST(coalesce(max(gap_ms), -1) AS BIGINT) AS max_gap_ms
    FROM seq GROUP BY user_id
"""


# x3_stream_snapshot_merge FULL oracle (round 9): the returned frame is
# snapshot_diff(A, CDC-maintained table) null-safe-inner-joined to the
# batch x_snapshot_diff on every column with counts asserted equal —
# after the replay it must BE the batch diff, so the oracle is
# x_snapshot_diff's SQL verbatim (a merge/dedup divergence flips the
# hash instead of only shrinking a count).
from .relational import ORACLE as _REL_ORACLE  # noqa: E402

ORACLE["x3_stream_snapshot_merge"] = _REL_ORACLE["x_snapshot_diff"]
