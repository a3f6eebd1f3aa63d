"""The fixture stream-replay harness (streaming/harness.py): delivery
order, the drain, and the set-up it must undo.

- time-ordered delivery: exactly n files even when the ts distribution
  degenerates (an all-equal-ts input used to collapse to ONE file,
  silently voiding the two-batch cross-batch-state coverage), and every
  delivered file carries a DISTINCT mtime;
- ``deliver``: one file per frame, replayed one micro-batch per frame in
  list order;
- a replay whose body raises still restores the session conf and
  removes its scratch directory;
- the append-mode eviction boundary the x_stream_sliding_topk oracle
  assumes (a window ending exactly on the watermark is emitted).
"""

from __future__ import annotations

import glob
import os

import pytest

from public_transit_status_with_apache_kafka_spark.session import scoped_conf
from public_transit_status_with_apache_kafka_spark.streaming.harness import (
    deliver,
    replay,
)

SHUFFLE = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def test_write_time_ordered_all_equal_ts_still_delivers_n_files(spark, tmp_path):
    import datetime as dt
    import glob

    from public_transit_status_with_apache_kafka_spark.streaming.harness import (
        _write_time_ordered,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(base, "t", float(i)) for i in range(5)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    path = str(tmp_path / "deliver")
    _write_time_ordered(ev, path, n=2)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) == 2, files  # n delivery files even with equal ts
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert len(set(mtimes)) == len(mtimes), mtimes  # no mtime ties
    assert mtimes == sorted(mtimes)  # ascending with slice order
    # all rows live in the last slice; the backfilled slice is empty but
    # schema-complete (readable by the file stream source)
    counts = [spark.read.parquet(f).count() for f in files]
    assert counts == [0, 5], counts
    assert spark.read.parquet(files[0]).schema == ev.schema


def test_write_time_ordered_multi_file_slices_get_distinct_mtimes(spark, tmp_path):
    import datetime as dt
    import glob

    from public_transit_status_with_apache_kafka_spark.streaming.harness import (
        _write_time_ordered,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(base + dt.timedelta(hours=i), "t", float(i)) for i in range(50)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    path = str(tmp_path / "deliver")
    _write_time_ordered(ev, path, n=3)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) >= 3
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert len(set(mtimes)) == len(mtimes), mtimes
    assert mtimes == sorted(mtimes)
    total = sum(spark.read.parquet(f).count() for f in files)
    assert total == 50


def test_sliding_window_eviction_boundary_is_inclusive(spark, tmp_path):
    """A window whose end lands EXACTLY at (max event time - watermark
    delay) must be emitted by the append-mode stream — the `<=` the
    x_stream_sliding_topk oracle assumes."""
    import datetime as dt

    from pyspark.sql import functions as F

    from public_transit_status_with_apache_kafka_spark.streaming.harness import (
        _await_drained,
        _write_time_ordered,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(base + dt.timedelta(hours=hh), "t%d" % (hh % 2), 1.0) for hh in range(7)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    data = str(tmp_path / "data")
    _write_time_ordered(ev, data, n=2)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(data)
    )
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.end").alias("w_end"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("adv_sliding_boundary")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    emitted = {r.w_end for r in spark.table("adv_sliding_boundary").collect()}
    # max ts = 06:00, watermark = 04:00; the [02:00, 04:00) window ends
    # exactly ON the watermark: inclusive eviction emits it
    boundary = base + dt.timedelta(hours=4)
    after = base + dt.timedelta(hours=5)
    assert boundary in emitted, sorted(emitted)
    assert after not in emitted, sorted(emitted)


def test_replay_body_raising_restores_conf_and_removes_scratch(spark):
    before = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, "7")
    assert spark.conf.get(PROVIDER, None) is None  # unset in this session
    try:
        with pytest.raises(RuntimeError, match="body failed"):
            with scoped_conf(spark, {PROVIDER: ROCKSDB}):
                with replay(spark, "harness_raise_") as rp:
                    root = rp.root
                    assert spark.conf.get(SHUFFLE) == "4"
                    assert spark.conf.get(PROVIDER) == ROCKSDB
                    rp.deliver([spark.range(3)])
                    assert os.listdir(rp.path("data"))
                    raise RuntimeError("body failed")
        assert spark.conf.get(SHUFFLE) == "7"
        assert spark.conf.get(PROVIDER, None) is None  # unset again, not defaulted
        assert not os.path.exists(root)
    finally:
        spark.conf.set(SHUFFLE, before)


def test_deliver_one_file_per_frame_replayed_in_order(spark, tmp_path):
    # frame i holds i + 1 rows, so each batch's row count names its frame
    frames = [
        spark.createDataFrame([(i, k) for k in range(i + 1)], "frame int, k int")
        for i in range(3)
    ]
    path = str(tmp_path / "deliver")
    deliver(frames, path)
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    assert len(files) == 3, files
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert len(set(mtimes)) == 3, mtimes
    assert mtimes == sorted(mtimes), mtimes  # name order is delivery order
    assert [spark.read.parquet(f).first().frame for f in files] == [0, 1, 2]

    with replay(spark, "harness_deliver_") as rp:
        rp.deliver(frames)
        q = rp.drain(rp.source("frame int, k int").writeStream.format("noop"))
        batches = sorted(
            (p["batchId"], p["numInputRows"])
            for p in q.recentProgress
            if p["numInputRows"] > 0
        )
    assert batches == [(0, 1), (1, 2), (2, 3)], batches
