"""Open-loop workload: the reference's runtime shape.

A generator process (generator.py) appends Confluent-framed Avro
arrivals and turnstiles, JSON stations and weather to a ``SimBroker``
log on a fixed schedule. Four ``start_memory_view`` queries read the
topics through the ``kafkasim`` source with the default trigger. A
``DashboardServer`` renders ``cta_views.dashboard`` over the views on
every GET, and a page client requests it on its own fixed schedule
with at most 3 requests in flight, each timed from when it was due.

Freshness of a produce call is the commit time of the first micro-batch
of its view whose end offsets cover the call, minus the call's due
time; commit times come from the progress events
(``StreamingQueryListener``). After the window the generator stops,
the views drain and are compared with ``cta_views`` over a batch
``kafkasim`` read of the same topics.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.request
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import generator as g
from harness import commit_time, log, median, stream_layer, tail

HERE = os.path.dirname(os.path.abspath(__file__))
RATE = 2_500  # events/s per Avro topic
HZ = 4  # produce calls/s per Avro topic
PAGE_HZ = 1  # page requests/s
MAX_IN_FLIGHT = 3
WARM_S = 8.0  # least warm-in, seconds of schedule before the window
WARM_BATCHES = 2  # least batches per load view before the window
MAX_WARM_S = 60.0
VIEWS = {"pb_stations": g.STATIONS, "pb_positions": g.ARRIVALS,
         "pb_counts": g.TURNSTILES, "pb_weather": g.WEATHER}  # view -> topic
LOAD_VIEWS = {g.ARRIVALS: "pb_positions", g.TURNSTILES: "pb_counts"}  # topic -> view


def _offsets(p: dict) -> dict:
    end = p["sources"][0]["endOffset"]
    return json.loads(end) if isinstance(end, str) else (end or {})


def _covers(end: dict, topic: str, offsets: list[int]) -> bool:
    got = end.get(topic, {})
    return all(int(got.get(str(i), got.get(i, 0))) >= o for i, o in enumerate(offsets))


def start_views(spark, log_dir):
    """The four serving views over kafkasim topic streams."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from public_transit_status_with_apache_kafka_spark.generator import STATIONS_SCHEMA
    from public_transit_status_with_apache_kafka_spark.sources import kafka_io, kafka_sim
    from public_transit_status_with_apache_kafka_spark.streaming import views as sv

    kafka_sim.register(spark)
    weather_schema = T.StructType([T.StructField("ts_ms", T.LongType()),
                                   T.StructField("temperature", T.FloatType()),
                                   T.StructField("status", T.StringType())])

    def topic(t, batch=False):
        r = spark.read if batch else spark.readStream
        return r.format("kafkasim").option("subscribe", t).load(log_dir)

    def decoded(batch=False):
        arrivals = kafka_io.decode_confluent_avro(topic(g.ARRIVALS, batch), g.ARRIVAL_WIRE, keep=()).select(
            F.timestamp_millis(F.col("ts_ms")).alias("ts"), "station_id", "train_id", "direction",
            "line", "train_status", "prev_station_id", "prev_direction", "seq")
        turnstiles = kafka_io.decode_confluent_avro(topic(g.TURNSTILES, batch), g.TURNSTILE_WIRE, keep=()).select(
            F.timestamp_millis(F.col("ts_ms")).alias("ts"), "station_id", "station_name", "line")
        stations = kafka_io.decode_json_value(topic(g.STATIONS, batch), STATIONS_SCHEMA, keep=())
        weather = kafka_io.decode_json_value(topic(g.WEATHER, batch), weather_schema, keep=()).select(
            F.timestamp_millis("ts_ms").alias("ts"), "temperature", "status")
        return stations, arrivals, turnstiles, weather

    st, arr, ts, we = decoded()
    queries = {
        "pb_stations": sv.start_memory_view(sv.stations_dim_stream(st), "pb_stations"),
        "pb_positions": sv.start_memory_view(sv.train_positions_stream(arr), "pb_positions"),
        "pb_counts": sv.start_memory_view(sv.turnstile_counts_stream(ts), "pb_counts"),
        "pb_weather": sv.start_memory_view(sv.weather_now_stream(we), "pb_weather"),
    }
    return queries, lambda: decoded(batch=True)


def check_views(spark, batch_inputs) -> list[str]:
    """Every view equals its batch twin over the whole broker log."""
    from parity import normalize, value_hash

    from public_transit_status_with_apache_kafka_spark.operators import cta_views

    st, arr, ts, we = batch_inputs()
    twins = {
        "pb_stations": cta_views.stations_dim(st),
        "pb_positions": cta_views.train_positions(arr),
        "pb_counts": cta_views.turnstile_counts(ts),
        "pb_weather": cta_views.weather_now(we),
    }

    def compare(name):
        a, b = spark.table(name).toPandas(), twins[name].toPandas()
        if len(a) != len(b) or value_hash(normalize(a)) != value_hash(normalize(b)):
            return f"{name}: {len(a)} rows vs batch {len(b)} rows, or values differ"
        return None

    with ThreadPoolExecutor(len(twins)) as pool:
        return [b for b in pool.map(compare, twins) if b]


class PageClient:
    """Requests ``url`` at PAGE_HZ on a fixed schedule from ``t0`` until
    ``t_end``, at most MAX_IN_FLIGHT at a time; a request that has to
    wait for a slot still counts from its due time."""

    def __init__(self, url: str, t0: float):
        self.url, self.t0 = url, t0
        self.t_end = float("inf")  # set when the window opens
        self.results: list[dict] = []
        self._slots = threading.Semaphore(MAX_IN_FLIGHT)
        self._pool = ThreadPoolExecutor(MAX_IN_FLIGHT)
        self._futures = []
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _get(self, due: float) -> None:
        rec = {"due": due, "start": time.time()}
        try:
            with urllib.request.urlopen(self.url, timeout=60) as r:
                body = r.read()
                rec["status"] = r.status
                rec["ok"] = r.status == 200 and b"Line ==" in body
                if not rec["ok"]:
                    rec["error"] = body[-300:].decode(errors="replace")
        except Exception as exc:  # non-200 or transport error: a failed op
            rec.update(status=getattr(exc, "code", 0), ok=False, error=str(exc))
        rec["end"] = time.time()
        self.results.append(rec)
        self._slots.release()

    def _loop(self) -> None:
        k = 0
        while True:
            due = self.t0 + k / PAGE_HZ
            if due >= self.t_end:
                break
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self._slots.acquire()
            self._futures.append(self._pool.submit(self._get, due))
            k += 1

    def start(self) -> "PageClient":
        self._thread.start()
        return self

    def join(self) -> None:
        self._thread.join()
        self._pool.shutdown(wait=True)
        for f in self._futures:
            f.result()  # re-raises anything _get did not record


def launch_generator(work, seconds, args, sampler) -> subprocess.Popen:
    """Start the generator process; it encodes its payloads while the
    JVM starts, then waits for ``go`` and runs until ``stop``."""
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), "--broker", work.sub("broker"),
         "--seed", str(args.seed), "--rate", str(RATE), "--hz", str(HZ),
         "--seconds", str(MAX_WARM_S + seconds + 5), "--log", work.sub("generator.jsonl")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    sampler.exclude.add(gen.pid)
    return gen


def run(spark, tracer, sampler, listener, work, seconds, t_start, session_s, gen):
    from public_transit_status_with_apache_kafka_spark.operators import cta_views
    from public_transit_status_with_apache_kafka_spark.streaming.render import render_dashboard
    from public_transit_status_with_apache_kafka_spark.streaming.server import DashboardServer

    log_dir = work.sub("broker")
    gen_log = work.sub("generator.jsonl")
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed to start")
        queries, batch_inputs = start_views(spark, log_dir)

        renders = []

        def render():
            with tracer.span("render", "dashboard"):
                with tracer.span("build", "dashboard", jobs=True) as b:
                    dash = cta_views.dashboard(spark.table("pb_stations"),
                                               spark.table("pb_positions"),
                                               spark.table("pb_counts"))
                    weather = spark.table("pb_weather").first()
                with tracer.span("write", "dashboard", jobs=True) as w:
                    page = render_dashboard(dash, weather)
            renders.append({"end": time.time(), "build": b["t"], "write": w["t"],
                            "jobs": b.get("jobs", 0) + w.get("jobs", 0),
                            "build_jobs": b.get("jobs", 0), "write_jobs": w.get("jobs", 0),
                            "stages": w.get("stages", 0), "tasks": w.get("tasks", 0)})
            return page

        server = DashboardServer(render).start()
        t0 = time.time() + 0.2
        gen.stdin.write(f"go {t0}\n")
        gen.stdin.flush()
        client = PageClient(server.url, t0).start()
        # warm-in: the views cold-start (python workers, first plans) while
        # the schedule runs; the window opens once every view has
        # committed and the load views have run WARM_BATCHES batches
        while True:
            ev = listener.snapshot()
            n = {v: sum(e["name"] == v for e in ev) for v in VIEWS}
            if (time.time() >= t0 + WARM_S and min(n.values()) >= 1
                    and min(n["pb_positions"], n["pb_counts"]) >= WARM_BATCHES):
                break
            if time.time() > t0 + MAX_WARM_S:
                raise RuntimeError(f"views not warm after {MAX_WARM_S}s: {n}")
            time.sleep(0.1)
        w0 = time.time()
        w1 = client.t_end = w0 + seconds
        setup_s = w0 - t_start
        cpu0 = sampler.cpu_s()
        time.sleep(max(0.0, w1 - time.time()))
        gen.stdin.write("stop\n")
        gen.stdin.flush()
        cpu1 = sampler.cpu_s()
        window = time.time() - w0
        gen.wait(timeout=60)

        calls = [json.loads(x) for x in open(gen_log)]
        final = {}
        for c in calls:
            final[c["topic"]] = c["offsets"]
        # drain: every view has committed the generator's final offsets
        deadline, done = time.time() + 90, False
        while time.time() < deadline:
            ev = listener.snapshot()
            done = all(any(e["name"] == v and _covers(_offsets(e), t, final.get(t, [])) for e in ev)
                       for v, t in VIEWS.items())
            if done:
                break
            time.sleep(0.25)
        for q in queries.values():
            q.stop()
        client.join()  # pages still in flight finished while the views drained
        server.stop()
        bad_views = [] if done else ["views did not drain within 90 s"]
        bad_views += check_views(spark, batch_inputs)
        for b in bad_views:
            log(f"CHECK FAIL {b}")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    return summarize(listener.snapshot(), calls, client.results, renders, w0, w1, window,
                     setup_s, session_s, bad_views, cpu1 - cpu0)


def summarize(events, calls, pages, renders, w0, w1, window, setup_s, session_s,
              bad_views, cpu_s):
    view_of = LOAD_VIEWS
    batches = {v: sorted((e for e in events if e["name"] == v), key=lambda e: e["batchId"])
               for v in VIEWS}

    def covering_commit(call):
        for e in batches[view_of[call["topic"]]]:
            if _covers(_offsets(e), call["topic"], call["offsets"]):
                return commit_time(e)
        return None

    in_win = [c for c in calls if w0 <= c["due"] < w1]
    covered = [(c, covering_commit(c)) for c in in_win
               if c["topic"] in view_of and c["error"] is None]
    fresh = [(t - c["due"]) * 1000 for c, t in covered if t is not None]
    late = [(c["start"] - c["due"]) * 1000 for c in in_win]
    produce = [(c["end"] - c["start"]) * 1000 for c in in_win]
    page_win = [p for p in pages if w0 <= p["due"] < w1]
    page_ms = [(p["end"] - p["due"]) * 1000 for p in page_win if p["ok"]]
    rend = [r for r in renders if r["end"] >= w0]  # the client stops issuing at w1
    load_views = [e for v in view_of.values() for e in batches[v]
                  if w0 <= commit_time(e) < w1]

    # committed events/s: least-squares slope of committed offset vs
    # commit time, per Avro view, summed
    def slope(view, topic):
        pts = [(commit_time(e), sum(int(x) for x in _offsets(e).get(topic, {}).values()))
               for e in batches[view] if w0 - 5 <= commit_time(e) < w1 + 5]
        if len(pts) < 2:
            return 0.0
        mx = sum(p[0] for p in pts) / len(pts)
        my = sum(p[1] for p in pts) / len(pts)
        den = sum((p[0] - mx) ** 2 for p in pts)
        return sum((p[0] - mx) * (p[1] - my) for p in pts) / den if den else 0.0

    # backlog at each produce call: events produced so far minus events
    # committed by then, per Avro topic
    def backlog_at(t, topic):
        produced = max([sum(c["offsets"]) for c in calls if c["topic"] == topic and c["end"] <= t] or [0])
        committed = max([sum(int(x) for x in _offsets(e).get(topic, {}).values())
                         for e in batches[view_of[topic]] if commit_time(e) <= t] or [0])
        return produced - committed

    backlog = [backlog_at(c["due"], c["topic"]) for c in in_win if c["topic"] in view_of]

    lat_offset = [e["durationMs"].get("latestOffset", 0) for v in view_of.values()
                  for e in batches[v]]

    def decile_growth(xs):
        k = max(1, len(xs) // 10)
        return median(xs[-k:]) - median(xs[:k]) if xs else 0.0

    seg = [c for c in calls if c["topic"] in view_of]
    attempted = len(page_win) + len(in_win)
    failed = sum(not p["ok"] for p in page_win) + sum(c["error"] is not None for c in in_win)
    if bad_views:
        failed = attempted

    trig = [e["durationMs"]["triggerExecution"] / 1000 for e in load_views]
    e2e = {
        "setup_s": setup_s,
        "cycle_s": median(trig),
        "latency_ms": median(fresh),
        "throughput_per_s": sum(slope(v, t) for t, v in view_of.items()),
        "ok_rate": (attempted - failed) / attempted,
    }
    layer = {
        "session.start_s": session_s,
        "plans.build_ms": median([r["build"] * 1000 for r in rend]),
        "plans.build_jobs": median([r["build_jobs"] for r in rend]),
        "exec.write_ms": median([r["write"] * 1000 for r in rend]),
        "exec.jobs": median([r["write_jobs"] for r in rend]),
        "exec.stages": median([r["stages"] for r in rend]),
        "exec.tasks": median([r["tasks"] for r in rend]),
        **stream_layer(load_views),
        "proc.cpu_util": cpu_s / (window * os.cpu_count()),
    }
    render_ms = [(r["build"] + r["write"]) * 1000 for r in rend]
    live = {
        "fresh_p50_ms": e2e["latency_ms"],
        "fresh_p90_ms": tail(fresh, 90, "freshness", log),
        "page_p50_ms": tail(page_ms, 50, "page latency", log),
        "page_p90_ms": tail(page_ms, 90, "page latency", log),
        "emitted_eps": e2e["throughput_per_s"],
        "gen.late_p90_ms": tail(late, 90, "generator lateness", log),
        "broker.produce_ms": median(produce),
        "broker.produce_growth_ms": decile_growth(
            [(c["end"] - c["start"]) * 1000 for c in seg]),
        "broker.segments": len(seg),
        "stream.latest_offset_growth_ms": decile_growth(lat_offset),
        "stream.backlog_p90_events": tail(backlog, 90, "backlog", log),
        "render.dashboard_ms_p50": median(render_ms),
        "render.dashboard_ms_p90": tail(render_ms, 90, "render", log),
        "render.jobs": median([r["jobs"] for r in rend]),
        "server.queue_ms": median(page_ms) - median(render_ms) if page_ms else None,
        "samples": {"fresh": len(fresh), "page": len(page_ms), "renders": len(rend),
                    "produce_calls": len(in_win), "view_batches": len(load_views)},
    }
    failures = Counter(p.get("error", p["status"]) for p in page_win if not p["ok"])
    log(f"window {window:.1f}s: " + ", ".join(
        f"{k} {v:.0f}" if isinstance(v, float) else f"{k} {v}" for k, v in live.items()))
    if failures:
        log(f"page failures: {failures}")
    return {"e2e": e2e, "layer": layer, "live": live, "attempted": attempted,
            "failed": failed, "check_failures": bad_views}
