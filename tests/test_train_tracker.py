"""A4 tombstone-latest scripted sequences (SURVEY.md §5.2 item 3):
arrive -> depart -> re-arrive, null prev_* (F5), out-of-order timestamps,
same-timestamp arrive/depart tie-break (depart processed before arrive
within one message, consumers/models/line.py:31-54)."""

from __future__ import annotations

from datetime import datetime

import pytest

from pyspark.sql import types as T

from public_transit_status_with_apache_kafka_spark.generator import ARRIVALS_SCHEMA
from public_transit_status_with_apache_kafka_spark.operators.cta_views import (
    arrival_effects,
    train_positions,
)


def _arrivals(spark, rows):
    """rows: (ts_minute, station_id, train_id, direction, prev_station_id,
    prev_direction, seq)"""
    data = [
        (
            datetime(2024, 1, 1, 0, m),
            sid,
            tid,
            d,
            "blue",
            "in_service",
            psid,
            pd_,
            seq,
        )
        for (m, sid, tid, d, psid, pd_, seq) in rows
    ]
    return spark.createDataFrame(data, ARRIVALS_SCHEMA)


def _positions(spark, rows):
    out = train_positions(_arrivals(spark, rows)).collect()
    return {(r.station_id, r.direction): r.train_id for r in out}


def test_initial_placement_null_prev(spark):
    """F5: null prev_* emits no depart effect."""
    pos = _positions(spark, [(0, 1, "BL001", "a", None, None, 0)])
    assert pos == {(1, "a"): "BL001"}


def test_move_leaves_tombstone(spark):
    """Arrive at 2 clears the slot at 1 (depart wins at station 1)."""
    pos = _positions(
        spark,
        [(0, 1, "BL001", "a", None, None, 0), (5, 2, "BL001", "a", 1, "a", 1)],
    )
    assert pos[(2, "a")] == "BL001"
    assert pos[(1, "a")] is None  # tombstoned, renders '---'


def test_rearrival_after_departure(spark):
    """1 -> 2 -> back to 1: slot 1 re-occupied, slot 2 tombstoned."""
    pos = _positions(
        spark,
        [
            (0, 1, "BL001", "a", None, None, 0),
            (5, 2, "BL001", "a", 1, "a", 1),
            (10, 1, "BL001", "b", 2, "a", 2),
        ],
    )
    assert pos[(1, "b")] == "BL001"
    assert pos[(2, "a")] is None


def test_same_ts_swap_replays_in_message_order(spark):
    """Two trains swap stations in the same tick. The reference replays
    messages in consumption order and a depart clears the slot regardless
    of which train sits there (consumers/models/line.py:34-45): message
    seq=2 puts BL001 at 2, then message seq=3 departs slot 2 (clearing
    BL001!) and arrives BL002 at 1. Within ONE message the depart is
    applied before the arrive, so a self-referencing move keeps the
    arrive (kind tie-break) — across messages, later seq wins."""
    pos = _positions(
        spark,
        [
            (0, 1, "BL001", "a", None, None, 0),
            (0, 2, "BL002", "a", None, None, 1),
            (5, 2, "BL001", "a", 1, "a", 2),
            (5, 1, "BL002", "a", 2, "a", 3),
        ],
    )
    assert pos[(1, "a")] == "BL002"
    assert pos[(2, "a")] is None  # cleared by BL002's later depart


def test_same_message_self_move_keeps_arrive(spark):
    """A train departing and arriving at the SAME slot in one message
    (loop track): the in-message depart-then-arrive order means the
    arrive wins — kind is the last tie-break key."""
    pos = _positions(
        spark,
        [
            (0, 1, "BL001", "a", None, None, 0),
            (5, 1, "BL001", "a", 1, "a", 1),
        ],
    )
    assert pos[(1, "a")] == "BL001"


def test_out_of_order_timestamps(spark):
    """A late-arriving older event must not overwrite newer state."""
    pos = _positions(
        spark,
        [
            (10, 2, "BL001", "a", 1, "a", 5),  # newest state: at 2
            (0, 1, "BL001", "a", None, None, 0),  # late replayed older event
        ],
    )
    assert pos[(2, "a")] == "BL001"
    assert pos[(1, "a")] is None


def test_overwrite_without_departure(spark):
    """New arrival overwrites an occupied slot silently (reference
    semantics: dict assignment, consumers/models/line.py:47-54)."""
    pos = _positions(
        spark,
        [
            (0, 1, "BL001", "a", None, None, 0),
            (5, 1, "BL002", "a", None, None, 1),
        ],
    )
    assert pos[(1, "a")] == "BL002"


# --- transformWithStateInPandas variant (streaming/state_v2.py) ---------
#
# The v2 processor must implement the identical per-key state machine as
# state._track. Its streaming execution needs google.protobuf (PySpark's
# TWS wire protocol) + RocksDB provider, absent in this container — so we
# drive the processor's handleInputRows directly through a fake handle
# (pure pandas, verifies ordering/tie-break/tombstone logic), and gate
# the end-to-end streaming run behind an importability check.


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class _FakeHandle:
    """Mimics the StatefulProcessorHandle surface the processors use:
    value state (with TTL plumbing recorded), per-key timers."""

    def __init__(self):
        self.state = _FakeValueState()
        self.ttl_ms = "unset"
        self.timers = []

    def getValueState(self, name, schema, ttlDurationMs=None):
        self.ttl_ms = ttlDurationMs
        return self.state

    def registerTimer(self, expiryTimestampMs):
        self.timers.append(expiryTimestampMs)

    def deleteTimer(self, expiryTimestampMs):
        self.timers.remove(expiryTimestampMs)

    def listTimers(self):
        return iter(list(self.timers))


class _FakeTimerValues:
    def __init__(self, now_ms):
        self._now = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self._now

    def getCurrentWatermarkInMs(self):
        return -1


class _FakeExpiredTimerInfo:
    def __init__(self, expiry_ms):
        self._e = expiry_ms

    def getExpiryTimeInMs(self):
        return self._e


def _v2_feed(key, effect_rows, handle=None):
    """effect_rows: (ts_minute, seq, kind, train_id, train_status)."""
    import pandas as pd

    from public_transit_status_with_apache_kafka_spark.streaming.state_v2 import (
        TrainTrackerProcessor,
    )

    proc = TrainTrackerProcessor()
    handle = handle or _FakeHandle()
    proc.init(handle)
    pdf = pd.DataFrame(
        {
            "ts": [datetime(2024, 1, 1, 0, m) for (m, *_r) in effect_rows],
            "seq": [r[1] for r in effect_rows],
            "kind": [r[2] for r in effect_rows],
            "train_id": [r[3] for r in effect_rows],
            "train_status": [r[4] for r in effect_rows],
        }
    )
    (out,) = list(proc.handleInputRows(key, iter([pdf]), None))
    return out, handle


def test_v2_processor_matches_v1_semantics():
    """Same scripted sequence as test_same_ts_swap_replays_in_message_order,
    reduced to one key's effects: depart(kind=0) beats arrive at equal
    (ts, seq) ordering only when seq orders it later — latest effect wins."""
    out, handle = _v2_feed(
        (1, "a"),
        [
            (0, 0, 1, "BL001", "in_service"),  # arrive BL001
            (5, 1, 0, None, None),  # later depart clears it
        ],
    )
    assert out.train_id.iloc[0] is None
    # state carries the winning ordering key for cross-batch replays
    assert handle.state.get()[:3] == (
        int(__import__("pandas").Timestamp(datetime(2024, 1, 1, 0, 5)).value // 1000),
        1,
        0,
    )


def test_v2_processor_same_ts_tiebreak_and_cross_batch():
    """At equal (ts, seq) the depart (kind=0) loses to arrive (kind=1) —
    the reference applies depart first, then arrive, within one message.
    A second batch with an older effect must not regress the state."""
    out, handle = _v2_feed(
        (1, "a"),
        [
            (5, 1, 0, None, None),  # depart at ts=5, seq=1
            (5, 1, 1, "BL002", "in_service"),  # arrive same (ts, seq): wins
        ],
    )
    assert out.train_id.iloc[0] == "BL002"
    out2, _ = _v2_feed((1, "a"), [(0, 0, 1, "BL009", "in_service")], handle)
    assert out2.train_id.iloc[0] == "BL002"  # older replay ignored


def _ttl_feed(proc, handle, key, effect_rows, now_ms):
    """Drive TrainTrackerProcessorTTL.handleInputRows at a simulated
    processing time."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "ts": [datetime(2024, 1, 1, 0, m) for (m, *_r) in effect_rows],
            "seq": [r[1] for r in effect_rows],
            "kind": [r[2] for r in effect_rows],
            "train_id": [r[3] for r in effect_rows],
            "train_status": [r[4] for r in effect_rows],
        }
    )
    return list(proc.handleInputRows(key, iter([pdf]), _FakeTimerValues(now_ms)))


def test_v2_ttl_plumbing_and_idle_timer_rearm():
    """TTL duration reaches getValueState; each input batch leaves
    EXACTLY ONE live timer at now + idle_timeout (old timers deleted)."""
    from public_transit_status_with_apache_kafka_spark.streaming.state_v2 import (
        TrainTrackerProcessorTTL,
    )

    proc = TrainTrackerProcessorTTL(state_ttl_ms=60_000, idle_timeout_ms=10_000)
    handle = _FakeHandle()
    proc.init(handle)
    assert handle.ttl_ms == 60_000  # TTL forwarded, not silently dropped

    (out,) = _ttl_feed(proc, handle, (1, "a"), [(0, 0, 1, "BL001", "in_service")], 1_000)
    assert out.train_id.iloc[0] == "BL001"
    assert handle.timers == [11_000]
    # second batch re-arms: the stale timer is deleted, not accumulated
    _ttl_feed(proc, handle, (1, "a"), [(1, 1, 1, "BL002", "in_service")], 5_000)
    assert handle.timers == [15_000]


def test_v2_expired_timer_evicts_and_tombstones():
    """On expiry the occupant clears, a tombstone row is emitted, and a
    later out-of-order replay wins again (state truly gone, not masked)."""
    from public_transit_status_with_apache_kafka_spark.streaming.state_v2 import (
        TrainTrackerProcessorTTL,
    )

    proc = TrainTrackerProcessorTTL(idle_timeout_ms=10_000)
    handle = _FakeHandle()
    proc.init(handle)
    _ttl_feed(proc, handle, (1, "a"), [(5, 3, 1, "BL001", "in_service")], 1_000)
    assert handle.state.exists()

    (tomb,) = list(
        proc.handleExpiredTimer((1, "a"), _FakeTimerValues(11_000), _FakeExpiredTimerInfo(11_000))
    )
    assert tomb.train_id.iloc[0] is None and tomb.station_id.iloc[0] == 1
    assert not handle.state.exists()
    # an effect OLDER than the evicted one now wins: eviction reset the
    # ordering key, exactly the bounded-state semantics TTL promises
    (out,) = _ttl_feed(proc, handle, (1, "a"), [(0, 0, 1, "BL009", "in_service")], 12_000)
    assert out.train_id.iloc[0] == "BL009"


def _tws_runnable():
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _tws_runnable(),
    reason="transformWithStateInPandas needs google.protobuf (not in container)",
)
def test_tracker_v2_stream_converges(spark, tmp_path):
    """Streaming parity for the TWS variant, mirroring
    test_streaming_parity.test_stateful_tracker_converges_to_batch."""
    from pyspark.sql import functions as F

    from public_transit_status_with_apache_kafka_spark import generator
    from public_transit_status_with_apache_kafka_spark.streaming import state_v2 as st2

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    fx = generator.generate_all(spark)
    arr_dir = str(tmp_path / "arrivals")
    fx["arrivals"].repartitionByRange(3, F.col("ts")).write.parquet(arr_dir)
    src = (
        spark.readStream.schema(generator.ARRIVALS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(arr_dir)
    )
    served = {}

    def upsert(batch_df, _bid):
        for r in batch_df.collect():
            served[(r.station_id, r.direction)] = (r.train_id, r.train_status)

    q = (
        st2.train_positions_stateful_v2(arrival_effects(src))
        .writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt_v2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    batch = {
        (r.station_id, r.direction): (r.train_id, r.train_status)
        for r in train_positions(fx["arrivals"]).collect()
    }
    assert served == batch
