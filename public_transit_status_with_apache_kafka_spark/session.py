"""SparkSession factory.

Local test profile runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same config block is what we would ship to a 1000-executor cluster job,
with the documented per-setting scale notes.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Python workers (forked by the JVM) must resolve the repo-root
# `google/` package — the clean-room mini-protobuf runtime that
# transformWithStateInPandas' state-server client imports. Local-mode
# workers inherit the driver environment, so prepending the repo root
# to PYTHONPATH before the JVM starts is sufficient; on a real cluster
# this ships as a --py-files zip instead.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)


def get_spark(
    app_name: str = "transit-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Scale notes (100 TB / 1000-executor design point):
      - AQE on: runtime coalescing of shuffle partitions, skew-join
        splitting, and dynamic broadcast demotion replace hand-tuned
        ``spark.sql.shuffle.partitions`` per query.
      - ``shuffle.partitions`` here is a *pre-AQE upper bound*; on a real
        cluster set it to ~2-3x total cores (e.g. 8000 for 1000x8 cores)
        and let AQE coalesce down.
      - Arrow enabled for the Pandas-UDF operators (multimodal decode,
        stateful tracker); batch size bounded so a 100 TB scan cannot
        create unbounded executor-side pandas buffers.
      - ``files.maxPartitionBytes`` left at default 128 MiB: with ~100 TB
        of parquet that yields ~800k input splits, which schedules fine;
        raise to 256-512 MiB if file count (not size) dominates.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # codegen cache (static conf, default 100 compiled classes): the
        # engine's registered-query surface compiles well past 100
        # distinct codegen units, so a workload cycling through many
        # queries (bench round-robin, the parity gate) evicts and
        # re-janino-compiles EVERY plan each cycle — measured as a
        # uniform ~1.5-2x "warm" inflation once the bench headline set
        # grew past ~40 queries. 2000 entries keeps every compiled
        # class resident (a few hundred MB of driver metaspace at
        # most); harmless for single-query jobs.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Python-worker connect-back auth window (static conf, default
        # 15 s): forked workers for Python data sources / Pandas UDFs
        # must dial back within this budget. On a loaded box (parity +
        # bench running beside the suite) fork+import can exceed 15 s
        # and the stream dies with "Python worker failed to connect
        # back" — an infra timeout, not a query error. 120 s costs
        # nothing when healthy (the wait ends at connect).
        .config("spark.python.authenticate.socketTimeout", "120s")
    )
    # Shuffle/broadcast scratch on the fastest local volume (guide §6,
    # round 12): tempfile's default /tmp is a disk-backed ext4 mount in
    # the test sandbox while /dev/shm is tmpfs; Exchange files, spill
    # and broadcast blocks are all short-lived per-query artifacts with
    # the same locality story as a cluster's NVMe spark.local.dir.
    # $SPARK_GRAFT_SCRATCH overrides; when neither it nor /dev/shm is
    # available Spark keeps its own default. Static conf: a no-op for
    # an already-running session (getOrCreate reuses it). Round 13
    # (ADVICE r12): the automatic /dev/shm pick is additionally gated
    # on free space (io_util._shm_free_ok) so a RAM-tight host keeps
    # disk-backed spill instead of trading spill for memory pressure.
    from .io_util import _scratch_root

    scratch = _scratch_root()
    if scratch:
        builder = builder.config("spark.local.dir", os.path.join(scratch, "spark-local"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, conf: Mapping[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for the body only. On exit (normal or
    raised) each key gets back the value it had before; a key that was
    not set before is unset again, so its built-in default applies."""
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
