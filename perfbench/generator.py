"""Load generator for the dashboard_live workload, run as its own process.

    python3 perfbench/generator.py --broker DIR --seed N --rate R --hz H --seconds S --log FILE

Before it reports ready it encodes every payload it will send:
Confluent-framed Avro arrivals (keyed by train, 3 partitions) and
turnstile events (unkeyed, 3 partitions), plus the JSON stations table
and weather reports (1 partition each). It writes the stations table
once, prints ``ready`` and waits for ``go <epoch>`` on stdin. From that
epoch until a ``stop`` line (or end of stdin) it produces ``rate``
events per second per Avro topic in ``hz`` calls per second, and one
weather report per second, each call due at a fixed time: a slow
engine never slows the schedule, a late call shows up as lateness.
The generator places every record itself and passes the partition to
the broker, so a call's per-partition end offsets follow from the rows
it appended; after a call that raised they are read back from the
broker instead. At the end it writes one JSON line per produce call
(topic, due, start, end, end offsets, error) to ``--log``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import select
import sys
import time

ARRIVALS = "org.chicago.cta.station.arrivals.v1"
TURNSTILES = "org.chicago.cta.station.turnstiles.v1"
STATIONS = "org.chicago.cta.stations.table.v1"
WEATHER = "org.chicago.cta.weather.v1"
PARTITIONS = 3

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
LINES = ("blue", "green", "red")
N_STATIONS = 12  # per line
N_TRAINS = 20  # per line
BASE_MS = 1_700_000_000_000
WEATHER_STATUSES = ("sunny", "partly_cloudy", "cloudy", "windy", "precipitation")


def station_rows() -> list[dict]:
    """Two stop rows per station (the stations-table shape)."""
    rows, stop_id = [], 0
    for li, line in enumerate(LINES):
        for order in range(N_STATIONS):
            name = f"{line}_st_{order}"
            for d in ("N", "S"):
                rows.append({
                    "stop_id": stop_id, "direction_id": d, "stop_name": f"{name}_{d}",
                    "station_name": name,
                    "station_descriptive_name": f"{name} ({line.title()} Line)",
                    "station_id": li * 100 + order, "order": order,
                    "red": line == "red", "blue": line == "blue", "green": line == "green",
                })
                stop_id += 1
    return rows


def place(recs: list) -> dict[int, list]:
    """{partition: records}: keyed records by the broker's key hash,
    unkeyed ones round-robin."""
    from public_transit_status_with_apache_kafka_spark.sources import kafka_sim

    parts: dict[int, list] = {}
    for i, rec in enumerate(recs):
        key = rec[0]
        p = i % PARTITIONS if key is None else kafka_sim.partition_for_key(key, PARTITIONS)
        parts.setdefault(p, []).append(rec)
    return parts


def encode_calls(seed: int, rate: int, hz: int, seconds: float):
    """Per Avro topic, the list of produce calls, each {partition: list
    of (key, framed value, ts_ms)}; the weather reports, one per call."""
    from public_transit_status_with_apache_kafka_spark.sources import avro_codec

    rng = random.Random(seed)
    per_call = rate // hz
    n_calls = int(seconds * hz)
    a_fields = avro_codec._parse_schema(json.dumps(ARRIVAL_WIRE))
    t_fields = avro_codec._parse_schema(json.dumps(TURNSTILE_WIRE))
    arrivals, turnstiles = [], []
    seq = 0
    for _ in range(n_calls):
        recs = []
        for _ in range(per_call):
            li = rng.randrange(3)
            line = LINES[li]
            train = f"{line[0].upper()}L{rng.randrange(N_TRAINS):03d}"
            pos = rng.randrange(N_STATIONS)
            first = rng.random() < 0.05
            rec = {
                "ts_ms": BASE_MS + seq, "station_id": li * 100 + pos, "train_id": train,
                "direction": rng.choice("ab"), "line": line,
                "train_status": "in_service" if rng.random() < 0.9 else "broken_down",
                "prev_station_id": None if first else li * 100 + (pos + 1) % N_STATIONS,
                "prev_direction": None if first else rng.choice("ab"), "seq": seq,
            }
            key = train.encode()
            value = avro_codec.confluent_frame(avro_codec.encode_record(rec, a_fields), 11)
            recs.append((key, value, BASE_MS + seq))
            seq += 1
        arrivals.append(place(recs))
        recs = []
        for _ in range(per_call):
            li = rng.randrange(3)
            order = rng.randrange(N_STATIONS)
            rec = {"ts_ms": BASE_MS + seq, "station_id": li * 100 + order,
                   "station_name": f"{LINES[li]}_st_{order}", "line": LINES[li]}
            value = avro_codec.confluent_frame(avro_codec.encode_record(rec, t_fields), 12)
            recs.append((None, value, BASE_MS + seq))
            seq += 1
        turnstiles.append(place(recs))
    weather = [
        (None, json.dumps({"ts_ms": BASE_MS + 1000 * s, "temperature": float(rng.randint(-20, 100)),
                           "status": rng.choice(WEATHER_STATUSES)}).encode(), BASE_MS + 1000 * s)
        for s in range(int(seconds) + 1)
    ]
    return arrivals, turnstiles, weather


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--broker", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=int, required=True, help="events/s per Avro topic")
    ap.add_argument("--hz", type=int, required=True, help="produce calls/s per Avro topic")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args(argv)

    from public_transit_status_with_apache_kafka_spark.sources import kafka_sim

    arrivals, turnstiles, weather = encode_calls(args.seed, args.rate, args.hz, args.seconds)
    broker = kafka_sim.SimBroker(args.broker, default_partitions=PARTITIONS)
    broker.create_topic(ARRIVALS, PARTITIONS)
    broker.create_topic(TURNSTILES, PARTITIONS)
    broker.create_topic(STATIONS, 1)
    broker.create_topic(WEATHER, 1)
    broker.produce(STATIONS, [(str(r["stop_id"]).encode(), json.dumps(r).encode(), BASE_MS)
                              for r in station_rows()])
    print("ready", flush=True)
    line = sys.stdin.readline().split()
    if not line or line[0] != "go":
        return 1
    t0 = float(line[1])

    # one schedule of (due, topic, payload) for the whole run
    sched = []
    for k, call in enumerate(arrivals):
        sched.append((t0 + k / args.hz, ARRIVALS, call))
    for k, call in enumerate(turnstiles):
        sched.append((t0 + k / args.hz + 0.5 / args.hz, TURNSTILES, call))
    for s, rec in enumerate(weather):
        sched.append((t0 + s, WEATHER, {0: [rec]}))
    sched.sort(key=lambda x: x[0])

    ends = {t: [0] * broker.n_partitions(t) for t in (ARRIVALS, TURNSTILES, WEATHER)}
    log = []
    for due, topic, parts in sched:
        # any line (``stop``) or EOF on stdin ends the schedule
        if select.select([sys.stdin], [], [], max(0.0, due - time.time()))[0]:
            break
        start = time.time()
        err = None
        for p, recs in parts.items():
            try:
                broker.produce(topic, recs, partition=p)
                ends[topic][p] += len(recs)
            except Exception as exc:  # reported, never dropped
                err = f"{type(exc).__name__}: {exc}"
        end = time.time()
        if err is not None:  # a failed append may have written part of its rows
            true_ends = broker.end_offsets(topic)
            ends[topic] = [true_ends[p] for p in sorted(true_ends)]
        log.append({"topic": topic, "due": due, "start": start, "end": end,
                    "n": sum(map(len, parts.values())), "offsets": list(ends[topic]),
                    "error": err})
    with open(args.log, "w") as f:
        for rec in log:
            f.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())  # run from the checkout root
    sys.exit(main())
