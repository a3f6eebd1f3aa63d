"""Streaming ≡ batch parity (SURVEY.md §5.2 item 2, §7.1 M3).

The same fixture events replayed through a file-source stream (one
parquet file ~ one micro-batch) must converge to exactly the batch
result: the five-process reference topology collapses into streaming
queries whose final state equals the batch computation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from public_transit_status_with_apache_kafka_spark import generator
from public_transit_status_with_apache_kafka_spark.operators import cta_views
from public_transit_status_with_apache_kafka_spark.streaming import state as st
from public_transit_status_with_apache_kafka_spark.streaming import views as sv


@pytest.fixture(scope="module")
def fx_dirs(spark, tmp_path_factory):
    """Fixture tables written as 3-file parquet dirs (3 micro-batches)."""
    root = tmp_path_factory.mktemp("stream_fx")
    fx = generator.generate_all(spark)
    dirs = {}
    for name, df in fx.items():
        path = str(root / name)
        split_col = {"stations": "stop_id"}.get(name, "ts")
        df.repartitionByRange(3, F.col(split_col)).write.parquet(path)
        dirs[name] = path
    return fx, dirs


def _drain(stream_df, name, mode="complete"):
    if mode == "complete":  # the dashboard's serving path
        q = sv.start_memory_view(stream_df, name, available_now=True)
    else:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination(120)
    return q


def _rows(spark, name):
    return {tuple(r) for r in spark.table(name).collect()}


def test_turnstile_counts_stream_equals_batch(spark, fx_dirs):
    fx, dirs = fx_dirs
    src = sv.stream_from_directory(spark, dirs["turnstile"], generator.TURNSTILE_SCHEMA)
    _drain(sv.turnstile_counts_stream(src), "t_counts")
    batch = {tuple(r) for r in cta_views.turnstile_counts(fx["turnstile"]).collect()}
    assert _rows(spark, "t_counts") == batch


def test_stations_dim_stream_equals_batch(spark, fx_dirs):
    fx, dirs = fx_dirs
    src = sv.stream_from_directory(spark, dirs["stations"], generator.STATIONS_SCHEMA)
    _drain(sv.stations_dim_stream(src), "t_dim")
    batch = {tuple(r) for r in cta_views.stations_dim(fx["stations"]).collect()}
    assert _rows(spark, "t_dim") == batch


def test_train_positions_stream_equals_batch(spark, fx_dirs):
    fx, dirs = fx_dirs
    src = sv.stream_from_directory(spark, dirs["arrivals"], generator.ARRIVALS_SCHEMA)
    q = _drain(sv.train_positions_stream(src), "t_pos")
    batch = {tuple(r) for r in cta_views.train_positions(fx["arrivals"]).collect()}
    assert _rows(spark, "t_pos") == batch
    # each arrival is read once per trigger (arrive and depart come out
    # of one scan), and the memory view keeps one state store
    progress = q.recentProgress
    assert sum(p["numInputRows"] for p in progress) == fx["arrivals"].count()
    stateful = [p for p in progress if p["stateOperators"]]
    assert stateful
    assert all(
        op["numStateStoreInstances"] == 1
        for p in stateful
        for op in p["stateOperators"]
    )


def test_weather_now_stream_equals_batch(spark, fx_dirs):
    fx, dirs = fx_dirs
    src = sv.stream_from_directory(spark, dirs["weather"], generator.WEATHER_SCHEMA)
    _drain(sv.weather_now_stream(src), "t_weather")
    batch = {tuple(r) for r in cta_views.weather_now(fx["weather"]).collect()}
    assert _rows(spark, "t_weather") == batch


def test_stateful_tracker_converges_to_batch(spark, fx_dirs, tmp_path):
    """applyInPandasWithState replay: upserting each micro-batch's emitted
    rows must converge to the batch window result — even with one file
    per trigger (incremental state across many batches)."""
    fx, dirs = fx_dirs
    src = (
        spark.readStream.schema(generator.ARRIVALS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dirs["arrivals"])
    )
    tracked = st.train_positions_stateful(cta_views.arrival_effects(src))

    served: dict = {}

    def upsert(batch_df, _bid):
        for r in batch_df.collect():
            served[(r.station_id, r.direction)] = (r.train_id, r.train_status)

    q = (
        tracked.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt_tracker"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = {
        (r.station_id, r.direction): (r.train_id, r.train_status)
        for r in cta_views.train_positions(fx["arrivals"]).collect()
    }
    assert served == batch


def test_memory_view_serves_snapshot(spark, fx_dirs):
    """K6 serving layer: a continuously-updated memory view is queryable
    by name while the stream runs (the dashboard's serving store)."""
    fx, dirs = fx_dirs
    src = sv.stream_from_directory(spark, dirs["turnstile"], generator.TURNSTILE_SCHEMA)
    q = sv.start_memory_view(sv.turnstile_counts_stream(src), "serving_counts")
    try:
        q.processAllAvailable()
        served = {tuple(r) for r in spark.sql("SELECT * FROM serving_counts").collect()}
        batch = {tuple(r) for r in cta_views.turnstile_counts(fx["turnstile"]).collect()}
        assert served == batch
    finally:
        q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """E1 streaming form: dropDuplicatesWithinWatermark removes repeats
    of the same event id arriving within the watermark horizon."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base),
        (1, base + dt.timedelta(seconds=30)),  # duplicate within horizon
        (2, base + dt.timedelta(minutes=1)),
        (2, base + dt.timedelta(minutes=1, seconds=10)),  # duplicate
        (3, base + dt.timedelta(minutes=2)),
    ]
    src_dir = str(tmp_path / "dedup_src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.table("dedup_stream").collect())
    assert got == [1, 2, 3]


def test_stream_stream_interval_join_equals_batch(spark, fx_dirs):
    """Stream-stream interval join (arrivals x weather within 1h) must
    equal the identical batch join — including arrivals matched by a
    weather row from an earlier micro-batch (cross-batch pairing is
    exactly what the join state buffers exist for)."""
    fx, dirs = fx_dirs
    a_src = sv.stream_from_directory(spark, dirs["arrivals"], generator.ARRIVALS_SCHEMA)
    w_src = sv.stream_from_directory(spark, dirs["weather"], generator.WEATHER_SCHEMA)
    _drain(sv.arrivals_with_weather_stream(a_src, w_src), "a_weather", mode="append")

    batch = fx["arrivals"].join(
        fx["weather"].select(
            F.col("ts").alias("w_ts"), "temperature", "status"
        ),
        (F.date_trunc("hour", "ts") == F.date_trunc("hour", "w_ts"))
        & (F.col("ts") >= F.col("w_ts")),
        "inner",
    ).select("ts", "station_id", "train_id", "w_ts", "temperature", "status")
    expected = {tuple(r) for r in batch.collect()}
    got = _rows(spark, "a_weather")
    assert len(expected) > 0
    assert got == expected


def test_stream_sliding_topk_invariants(spark):
    """x_stream_sliding_topk self-asserts stream==batch on the windowed
    counts; here: ranks are 1..3 without gaps per window, every event
    ts falls in its window, and n >= 1."""
    import __spark_entry__ as entry

    rows = entry.queries()["x_stream_sliding_topk"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_w = {}
    for r in rows:
        assert 1 <= r.rnk <= 3 and r.n >= 1
        assert (r.w_end - r.w_start).total_seconds() == 7200
        by_w.setdefault((r.w_start, r.w_end), []).append(r.rnk)
    for ranks in by_w.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_stream_session_window_invariants(spark):
    """x_stream_session_window self-asserts stream==batch via the inner
    join; here: sessions are per-user non-overlapping, every session
    spans >= the 30-minute gap (end = last event + gap), and the
    streamed closed set covers the batch sessions that end before the
    final watermark horizon."""
    import __spark_entry__ as entry

    rows = entry.queries()["x_stream_session_window"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_user = {}
    for r in rows:
        assert r.n_events >= 1
        # session_window end is last-event + gap: span >= gap (30 min)
        assert r.session_end_ms - r.session_start_ms >= 30 * 60 * 1000
        by_user.setdefault(r.user_id, []).append(
            (r.session_start_ms, r.session_end_ms)
        )
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 >= e1, "overlapping sessions for one user"


def test_stream_funnel_state_machine_invariants(spark):
    """x3_stream_funnel self-asserts stream==batch on every column;
    here: step count matches which timestamps are set, and funnel
    times are strictly increasing."""
    import __spark_entry__ as entry

    rows = entry.queries()["x3_stream_funnel"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    steps = {r.reached_step for r in rows}
    for r in rows:
        assert r.reached_step == 1 + (r.t2_ms is not None) + (r.t3_ms is not None)
        if r.t2_ms is not None:
            assert r.t2_ms >= r.t1_ms
        if r.t3_ms is not None:
            assert r.t3_ms >= r.t2_ms
    assert 3 in steps  # the fixture contains full conversions


def test_stream_funnel_partial_users_survive_parity_join(spark, tmp_path):
    """Users with NULL t2/t3 (partial funnels) must match batch through
    the sentinel-filled parity join — all three shipped fixtures happen
    to have only full conversions under user_id 40, so this synthetic
    corpus pins the null-safe path."""
    import datetime as dt

    import __spark_entry__ as entry

    rows = [
        # user 1: full funnel; user 2: view only; user 3: view+click
        (1, dt.datetime(2024, 1, 1, 1), 1, "view"),
        (2, dt.datetime(2024, 1, 1, 2), 1, "click"),
        (3, dt.datetime(2024, 1, 1, 3), 1, "purchase"),
        (4, dt.datetime(2024, 1, 2, 1), 2, "view"),
        (5, dt.datetime(2024, 1, 3, 1), 3, "view"),
        (6, dt.datetime(2024, 1, 3, 2), 3, "click"),
    ]
    df = spark.createDataFrame(
        [(i, ts, u, t, 0.0, "{}") for i, ts, u, t in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    sf_dir = str(tmp_path / "mini")
    df.write.parquet(sf_dir + "/events.parquet")
    out = {
        r.user_id: r
        for r in entry.queries()["x3_stream_funnel"](spark, sf_dir).collect()
    }
    assert out[1].reached_step == 3
    assert out[2].reached_step == 1 and out[2].t2_ms is None and out[2].t3_ms is None
    assert out[3].reached_step == 2 and out[3].t3_ms is None


def test_stream_snapshot_merge_reconstructs_batch_diff(spark):
    """x3_stream_snapshot_merge: replaying the CDC event stream (every
    event delivered twice; watermark-bounded dedup) through the
    foreachBatch MERGE must reconstruct snapshot B exactly — the query
    itself asserts streamed-diff == batch-diff row-for-row; here we
    additionally pin that all three change classes survive the
    round-trip and the dedup didn't double-apply anything."""
    import __spark_entry__ as entry

    out = entry.queries()["x3_stream_snapshot_merge"](
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    kinds = {r.change_type for r in rows}
    assert kinds == {"added", "removed", "changed"}, kinds
    # changed rows carry exactly the +1.0 price mutation (a double
    # apply through duplicate delivery would show +2.0)
    for r in rows:
        if r.change_type == "changed" and r.old_price is not None:
            assert abs(r.new_price - r.old_price - 1.0) < 1e-9, r


def test_stream_incremental_neardup_equals_batch_twin(spark):
    """Round-7 #3: the streamed band-index maintenance must emit
    EXACTLY the batch twin's pair set — both directions. The registered
    query encodes stream ∩ twin in its row count; here the full
    equality: the streamed exactly-once pair set == union over ingests
    of probe(batch_j, hist + batches<j), and the planted cross-batch
    redelivery produced zero double emissions."""
    from public_transit_status_with_apache_kafka_spark.plans import (
        streaming_queries as sq,
    )
    from public_transit_status_with_apache_kafka_spark.io_util import load
    from public_transit_status_with_apache_kafka_spark.operators.dedup import (
        lsh_probe_pairs,
        minhash_signatures_arrow,
    )
    from public_transit_status_with_apache_kafka_spark.plans.llm_data import (
        BANDS,
        MAX_BUCKET,
        N_HASHES,
        SHINGLE_K,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = sq.QUERIES["e2_stream_incremental_neardup"](spark, sf_dir)
    got_pairs = {(r.batch_id, r.hist_id) for r in got.collect()}

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 10 != 0)
    # round 9: the registered query plants the redelivery across TWO
    # micro-batches (the minimum that exercises cross-batch state);
    # this independent twin mirrors that split
    batch = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "batch_no", F.expr("(doc_id div 10) % 2")
    )

    def sig(d):
        return minhash_signatures_arrow(
            d, "text", "doc_id", k=SHINGLE_K, n_hashes=N_HASHES, spread=True
        )

    twin_pairs = set()
    for j in range(2):
        bj = batch.filter(F.col("batch_no") == j).select("doc_id", "text")
        hj = hist.unionByName(
            batch.filter(F.col("batch_no") < j).select("doc_id", "text")
        )
        t = lsh_probe_pairs(
            sig(bj), sig(hj), n_hashes=N_HASHES, bands=BANDS,
            max_bucket=MAX_BUCKET,
        )
        twin_pairs |= {(r.batch_id, r.hist_id) for r in t.collect()}

    # the registered query returns stream∩twin; equality BOTH ways means
    # the intersection IS the twin — nothing missed, nothing extra,
    # no redelivery double-emission (n==1 filter would drop those)
    assert got_pairs == twin_pairs
    assert len(got_pairs) > 0
    # cross-batch pairs exist (the index actually accreted): some hist_id
    # is itself a batch doc (doc_id % 10 == 0) from an earlier ingest
    assert any(h % 10 == 0 for _, h in got_pairs), got_pairs


def test_late_audit_drops_exactly_the_planted_stragglers(spark):
    """x_stream_late_audit: only the FIRST window loses rows, and it
    loses exactly the planted straggler set (first-hour event_id%5==0
    rows replayed after the watermark passed the window close); every
    other window reconciles to the batch truth."""
    import __spark_entry__ as entry
    from public_transit_status_with_apache_kafka_spark.io_util import load

    sf = "/root/testdata/sf0.01"
    rows = entry.queries()["x_stream_late_audit"](spark, sf).collect()
    assert rows, "no windows emitted"
    ev = load(spark, sf, "events").filter(F.col("user_id") < 30)
    lo = ev.agg(F.min("ts")).first()[0]
    planted = (
        ev.filter(
            (F.col("ts") < F.lit(lo) + F.expr("INTERVAL 1 HOUR"))
            & (F.col("event_id") % 5 == 0)
        ).count()
    )
    assert planted > 0, "fixture has no stragglers to plant"
    first, rest = rows[0], rows[1:]
    assert first["status"] == "final"
    assert first["n_late_dropped"] == planted
    assert first["n_stream"] + planted == first["n_batch"]
    finals = [r for r in rest if r["status"] == "final"]
    opens = [r for r in rest if r["status"] == "open"]
    assert all(r["n_late_dropped"] == 0 for r in finals), finals
    # append mode holds unfinalized trailing windows in state: they are
    # reported open with a NULL drop count, never conflated with drops
    assert all(r["n_late_dropped"] is None for r in opens), opens
    assert len(opens) <= 2 and len(finals) > 10
    assert sum(r["n_batch"] for r in rows) == ev.count()


def test_stream_attribution_exactly_once_and_complete(spark):
    """x3_stream_attribution's in-query inner join pins VALUES; this
    pins cardinality: every purchase attributed exactly once despite the
    planted click redelivery (a double-attributed purchase would emit 2
    joined rows, a dropped one 0), and the stream covers ALL purchases."""
    from public_transit_status_with_apache_kafka_spark.plans.streaming_queries import (
        QUERIES,
    )
    from public_transit_status_with_apache_kafka_spark.io_util import load

    sf = "/root/testdata/sf0.001"
    out = QUERIES["x3_stream_attribution"](spark, sf).collect()
    ids = [r.purchase_id for r in out]
    assert len(ids) == len(set(ids))
    n_purchases = (
        load(spark, sf, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert len(ids) == n_purchases
    # sentinel semantics: gap is -1 exactly when click is -1
    assert all((r.click_id_f == -1) == (r.gap_ms_f == -1) for r in out)


def test_stream_markov_equals_batch_matrix(spark):
    """x3_stream_markov is hashed DIRECTLY against the batch SQL by the
    oracle; here pin the in-engine identity (stream matrix == batch
    matrix row set) at sf0.001 — boundary transitions straddle the
    delivery splits and the planted redelivery must not inflate any
    count."""
    from public_transit_status_with_apache_kafka_spark.plans.mining import (
        QUERIES as MINING,
    )
    from public_transit_status_with_apache_kafka_spark.plans.streaming_queries import (
        QUERIES as STREAMING,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.from_type, r.to_type): (r.n, r.n_from, r.p_micro)
        for r in STREAMING["x3_stream_markov"](spark, sf).collect()
    }
    exp = {
        (r.from_type, r.to_type): (r.n, r.n_from, r.p_micro)
        for r in MINING["x_markov_transitions"](spark, sf).collect()
    }
    assert got == exp
    assert got  # non-trivial matrix


def test_sliding_window_eviction_boundary_inclusive(spark, tmp_path):
    """Pin the APPEND-mode eviction boundary the x_stream_sliding_topk
    oracle assumes (`we <= mmax - 2h`, INCLUSIVE): plant a stream whose
    max ts makes one window's end land EXACTLY on max_ts - 2h and
    assert Spark emits that window. sf fixtures never exercise this
    boundary (their max ts is off the hour grid), so without this pin
    the <= vs < choice in the DuckDB oracle was untested (ADVICE r10)."""
    import time as _time

    base = 1704067200  # 2024-01-01 00:00 UTC, exactly on the hour grid
    rows = [(1, base), (2, base + 1800), (3, base + 5400), (4, base + 14400)]
    df = spark.createDataFrame(rows, "event_id long, sec long").select(
        "event_id", F.timestamp_seconds("sec").alias("ts")
    )
    data = str(tmp_path / "data")
    # two delivery files in event-time order with distinct mtimes
    df.filter(F.col("event_id") <= 3).coalesce(1).write.mode("append").parquet(data)
    _time.sleep(1.1)
    df.filter(F.col("event_id") == 4).coalesce(1).write.mode("append").parquet(data)

    src = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("w_start"),
            F.col("window.end").alias("w_end"),
            "n",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("boundary_pin")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.w_start.isoformat(), r.w_end.isoformat()): r.n
        for r in spark.table("boundary_pin").collect()
    }
    # the oracle's closed-set rule, evaluated on the same plant:
    # final watermark = max ts - 2h = 02:00; windows with
    # w_end <= 02:00 close. [00:00,02:00) has w_end == the watermark
    # EXACTLY — the inclusive boundary under test.
    assert ("2024-01-01T00:00:00", "2024-01-01T02:00:00") in got
    assert got[("2024-01-01T00:00:00", "2024-01-01T02:00:00")] == 3
    # [01:00,03:00) (w_end 03:00 > watermark) must be withheld
    assert ("2024-01-01T01:00:00", "2024-01-01T03:00:00") not in got
    # and the earlier window below the boundary closes too
    assert ("2023-12-31T23:00:00", "2024-01-01T01:00:00") in got
