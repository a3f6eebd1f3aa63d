"""Stateful train tracker on transformWithStateInPandas (SURVEY.md
A4/X3) — the Spark 4.x arbitrary-stateful-processing API that succeeds
applyInPandasWithState (state.py keeps that variant; both must agree,
tests/test_train_tracker.py).

Why carry both: transformWithState is where new capability lands
(typed value/list/map state, event/processing-time timers, TTL, initial
state, changelog checkpointing v2) and is the 100 TB-scale path — TTL
on the value state replaces the watermark-eviction dance for bounding
per-key state on unbounded key spaces. Reference semantics per
consumers/models/line.py:31-54, same as state.py.

Runtime requirements (gated, not assumed): transformWithStateInPandas
needs (a) the RocksDB state store provider and (b) `google.protobuf`
on the driver/workers (PySpark's TWS wire protocol is protobuf-based;
pyspark.sql.streaming.proto.StateMessage_pb2 imports it). This
container ships no protobuf, so the end-to-end streaming test skips
here (tests/test_train_tracker.py::test_tracker_v2_stream_converges);
the processor's per-key logic is still verified directly against the
v1 semantics via a fake state handle — the module import itself has no
protobuf dependency.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

from .state import OUTPUT_SCHEMA, STATE_SCHEMA


class TrainTrackerProcessor(StatefulProcessor):
    """Latest-effect-wins occupant per (station_id, direction), identical
    ordering rules to state._track: effects ordered by (ts, seq, kind)
    with depart(kind=0) before arrive(kind=1) at equal timestamps."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._occupant = handle.getValueState("occupant", STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        if self._occupant.exists():
            ts_us, seq, kind, train_id, train_status = self._occupant.get()
        else:
            ts_us, seq, kind, train_id, train_status = -1, -1, -1, None, None

        for pdf in rows:
            for row in pdf.itertuples(index=False):
                r_us = int(pd.Timestamp(row.ts).value // 1000)
                order = (r_us, int(row.seq), int(row.kind))
                if order > (ts_us, seq, kind):
                    ts_us, seq, kind = order
                    train_id = row.train_id if row.kind == 1 else None
                    train_status = row.train_status if row.kind == 1 else None

        self._occupant.update((ts_us, seq, kind, train_id, train_status))
        yield pd.DataFrame(
            {
                "station_id": [key[0]],
                "direction": [key[1]],
                "train_id": [train_id],
                "train_status": [train_status],
            }
        )

    def close(self) -> None:
        pass


class TrainTrackerProcessorTTL(TrainTrackerProcessor):
    """TrainTrackerProcessor + the bounded-state surface of the TWS API
    (the 100 TB requirement for unbounded key spaces — stations come and
    go, state must not grow forever):

    - ``state_ttl_ms``: passed to ``getValueState(ttlDurationMs=...)``;
      RocksDB evicts values not updated within the TTL, no manual
      bookkeeping.
    - ``idle_timeout_ms``: a per-key processing-time timer, re-armed on
      every input batch (previous timers deleted first, so exactly one
      timer per key is live). On expiry the occupant clears and a
      tombstone row is emitted downstream — the timer analogue of the
      watermark-eviction dance applyInPandasWithState needs.

    Timer/TTL behavior is unit-verified through a fake handle
    (tests/test_train_tracker.py); the streaming run is gated on
    google.protobuf like the base processor."""

    def __init__(
        self, state_ttl_ms: int | None = None, idle_timeout_ms: int | None = None
    ) -> None:
        self._ttl_ms = state_ttl_ms
        self._idle_ms = idle_timeout_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._occupant = handle.getValueState(
            "occupant", STATE_SCHEMA, ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        if self._idle_ms is not None:
            for t in list(self._handle.listTimers()):
                self._handle.deleteTimer(t)
            self._handle.registerTimer(
                timerValues.getCurrentProcessingTimeInMs() + self._idle_ms
            )
        yield from super().handleInputRows(key, rows, timerValues)

    def handleExpiredTimer(
        self, key: tuple, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        self._occupant.clear()
        yield pd.DataFrame(
            {
                "station_id": [key[0]],
                "direction": [key[1]],
                "train_id": [None],
                "train_status": [None],
            }
        )


class UserJourneyProcessor(StatefulProcessor):
    """transformWithStateInPandas twin of state._journey (round 12):
    per-user last-station value state; each event emits an arrive effect
    at its event_type and a depart effect at the stateful previous one.
    Same ordering contract: batch rows sorted by (ts, event_id),
    time-range-partitioned delivery preserves per-user order across
    batches."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        from .state import JOURNEY_STATE_SCHEMA

        self._last = handle.getValueState("last_station", JOURNEY_STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        from .state import journey_effects_frame

        last = self._last.get()[0] if self._last.exists() else None
        frame, last = journey_effects_frame(rows, int(key[0]), last)
        self._last.update((last,))
        yield frame

    def close(self) -> None:
        pass


def user_journey_effects_v2(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas form of state.user_journey_effects —
    append mode (effects are immutable facts), no timers."""
    from .state import JOURNEY_OUTPUT_SCHEMA

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserJourneyProcessor(),
        outputStructType=JOURNEY_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def train_positions_stateful_v2(
    effects: DataFrame,
    state_ttl_ms: int | None = None,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """transformWithStateInPandas over exploded effects (cta_views.
    arrival_effects). Update mode: emits the current occupant of every
    touched key per micro-batch, exactly like
    state.train_positions_stateful. With ``state_ttl_ms`` /
    ``idle_timeout_ms`` the TTL processor runs in processingTime mode
    and stale keys evict + tombstone."""
    bounded = state_ttl_ms is not None or idle_timeout_ms is not None
    proc = (
        TrainTrackerProcessorTTL(state_ttl_ms, idle_timeout_ms)
        if bounded
        else TrainTrackerProcessor()
    )
    return effects.groupBy("station_id", "direction").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=OUTPUT_SCHEMA,
        outputMode="update",
        timeMode="processingTime" if bounded else "none",
    )
