"""Fixture stream replay: the one place a registered query's file-source
stream is set up, fed, drained and torn down.

A replay runs inside ``with replay(spark, prefix) as rp:``, which owns

- a scratch directory on the fast scratch volume (``io_util.scratch_dir``)
  that holds the delivery files, the query's side tables and its
  checkpoints, removed in ``finally``;
- the state-store count, ``spark.sql.shuffle.partitions`` scoped to the
  body (``session.scoped_conf``);
- the queries the body started, stopped on exit.

Inside it, ``rp.deliver`` / ``rp.deliver_time_ordered`` write the delivery
files (one file per micro-batch, strictly ascending mtimes), ``rp.source``
reads them back as a ``maxFilesPerTrigger=1`` parquet stream, and
``rp.drain`` runs a writer to completion: checkpoint under the scratch
directory, ``availableNow`` trigger, and a bounded wait that fails loudly.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..io_util import scratch_dir
from ..session import scoped_conf

# State-store count of a fixture replay. Stateful operators take their
# parallelism from spark.sql.shuffle.partitions at stream start, and each
# store is a checkpoint commit per micro-batch; a fixture-sized stream
# under the session default (2-3x cores, 32 on the bench host) spends its
# wall time committing empty stores, not processing rows. The A4 replays
# pass a larger count (plans/streaming_queries._A4_STATE_PARTITIONS)
# because there it is also the Python kernel's parallelism. At production
# volume the count is sized to state, not defaulted.
STATE_PARTITIONS = 4


def _await_drained(q: StreamingQuery, timeout: float = 300) -> None:
    """awaitTermination with the boolean result ASSERTED — a hung
    availableNow stream must fail loudly as a timeout here, not
    downstream as a silent row-count mismatch when partial state meets
    the batch-twin inner join."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain in {timeout}s"
        )


def _stamp(batches: list[list[str]], path: str) -> None:
    """Move each batch's files into ``path`` with DISTINCT, strictly
    ascending mtimes (os.utime, 1 ms apart, in batch then file order),
    all newer than any file already there. The file stream source orders
    files by mtime and breaks ties arbitrarily, so this is what makes
    delivery order deterministic. The names sort in the same order."""
    prior = glob.glob(os.path.join(path, "*.parquet"))
    base = max([time.time_ns()] + [os.stat(f).st_mtime_ns + 1_000_000 for f in prior])
    files = [f for batch in batches for f in batch]
    for k, f in enumerate(files):
        dst = os.path.join(path, f"part-{base}-{k:05d}.parquet")
        os.rename(f, dst)
        t = base + k * 1_000_000
        os.utime(dst, ns=(t, t))


def deliver(frames: Iterable[DataFrame], path: str) -> None:
    """Write each frame as ONE parquet file under ``path``, delivered in
    list order (see _stamp) — with ``maxFilesPerTrigger=1`` frame i is
    micro-batch i. An empty frame still writes a schema-only file, so it
    still counts as a batch."""
    stages, batches = [], []
    for i, df in enumerate(frames):
        stage = os.path.join(path, f"_stage-{i}")
        df.coalesce(1).write.parquet(stage)
        files = glob.glob(os.path.join(stage, "*.parquet"))
        assert len(files) == 1, f"frame {i} wrote {len(files)} files"
        stages.append(stage)
        batches.append(files)
    _stamp(batches, path)
    for stage in stages:
        shutil.rmtree(stage, ignore_errors=True)


def _write_time_ordered(
    df: DataFrame, path: str, ts_col: str = "ts", n: int = 3, checkpoint: bool = False
) -> None:
    """Deliver ``df`` as ``n`` slices of ascending event time, in order.
    For watermark+append operators an out-of-order delivery jumps the
    watermark and silently drops late rows (the x_stream_sliding_topk
    flake); order-sensitive state (the A4 journey kernel, the funnel
    machine) mis-derives. Order-insensitive consumers (update-mode
    latest/count, the event-time-resolving tracker) don't need this."""
    # checkpoint=True materializes once: GENERATOR-backed fixtures
    # (Python-RDD lineage) would otherwise re-execute for the min/max
    # agg AND the slice write. PARQUET-backed callers must keep the
    # default: their lineage is a cheap scan, and a forced
    # materialization only ADDS a blocking pass (x_stream_late_audit
    # measured 3x slower with it).
    if checkpoint:
        df = df.localCheckpoint()
    lo, hi = df.agg(F.min(ts_col), F.max(ts_col)).first()
    span = (hi - lo) / n
    # ONE pass instead of n filtered scans: the slice id is the same
    # range predicate as n per-slice filters (null ts rows drop, as the
    # filters dropped them), range-partitioned so each slice is one file
    sl = F.lit(n - 1)
    for i in range(n - 2, -1, -1):
        sl = F.when(F.col(ts_col) < lo + (i + 1) * span, F.lit(i)).otherwise(sl)
    (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("_slice", sl)
        .repartitionByRange(n, "_slice")
        .write.partitionBy("_slice")
        .mode("append")
        .parquet(path)
    )
    # a slice with no rows (an all-equal-ts input collapses every row
    # into slice n-1) is backfilled with a schema-only file, keeping the
    # n-micro-batches delivery the cross-batch-state consumers prove
    # coverage with; a slice spanning several part files gives each its
    # own mtime (_stamp)
    batches, dirs = [], []
    for i in range(n):
        d = os.path.join(path, f"_slice={i}")
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            d = os.path.join(path, f"_empty={i}")
            (
                df.filter(F.col(ts_col).isNotNull())
                .limit(0)  # schema-only: matches the delivered files
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(d)
            )
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            assert files, f"empty-slice backfill wrote no file for slice {i}"
        batches.append(files)
        dirs.append(d)
    _stamp(batches, path)
    for d in dirs + [os.path.join(path, f"_slice={i}") for i in range(n)]:
        shutil.rmtree(d, ignore_errors=True)


class Replay:
    """Handle yielded by ``replay``: paths under the scratch directory,
    delivery, the file source and the drain."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._queries: list[StreamingQuery] = []

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def deliver(self, frames: Iterable[DataFrame], name: str = "data") -> None:
        deliver(frames, self.path(name))

    def deliver_time_ordered(
        self, df: DataFrame, n: int, name: str = "data", checkpoint: bool = False
    ) -> None:
        _write_time_ordered(df, self.path(name), n=n, checkpoint=checkpoint)

    def source(self, schema, name: str = "data") -> DataFrame:
        """The delivered files as a stream, one file per micro-batch."""
        return (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.path(name))
        )

    def track(self, q: StreamingQuery) -> StreamingQuery:
        """Stop ``q`` when the replay exits (a no-op once it drained)."""
        self._queries.append(q)
        return q

    def drain(self, writer: DataStreamWriter) -> StreamingQuery:
        """Start ``writer`` with its checkpoint under the scratch
        directory and an availableNow trigger; return the query once it
        drained."""
        ckpt = os.path.join(self.root, "ckpt", str(len(self._queries)))
        q = self.track(
            writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        )
        _await_drained(q)
        return q


@contextmanager
def replay(
    spark: SparkSession, prefix: str, partitions: int = STATE_PARTITIONS
) -> Iterator[Replay]:
    """Scratch directory + scoped state-store count for one replay; on
    exit, however the body ends, stop its queries, restore the conf and
    remove the directory."""
    r = Replay(spark, scratch_dir(prefix))
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(partitions)}):
            try:
                yield r
            finally:
                for q in r._queries:
                    q.stop()
    finally:
        shutil.rmtree(r.root, ignore_errors=True)
