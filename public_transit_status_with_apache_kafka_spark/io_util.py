"""Loaders for the driver-generated test tables (TESTDATA.md).

All reads are plain parquet scans so Catalyst gets predicate pushdown and
column pruning for free; callers select/filter on the returned DataFrame
rather than materializing it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

# Scratch volume for per-query temp artifacts (streaming fixture files,
# checkpoint dirs, written tables/index stores the query itself reads
# back). tempfile's default (/tmp) is a spinning ext4 mount in the test
# sandbox, and streaming checkpoints in particular are fsync-bound
# (offset log + commit log + per-partition state deltas, each a small
# synced file): guide §6 says put scratch on the fastest local volume.
# Resolution order: $SPARK_GRAFT_SCRATCH (explicit deployment config;
# on a cluster this is the NVMe/ramdisk local volume, the same role as
# spark.local.dir) > /dev/shm when writable (Linux tmpfs) > tempfile
# default. Nothing here persists across runs — dirs are created per
# query invocation and removed in the callers' `finally` blocks, so
# every bench/oracle invocation still computes from the parquet inputs.
_SCRATCH_ENV = "SPARK_GRAFT_SCRATCH"

# Round 13 (ADVICE r12, medium): the automatic /dev/shm pick is gated
# on FREE SPACE — tmpfs is RAM, so routing shuffle/spill there on a
# memory-tight host turns "spill to disk" into memory pressure (a large
# sf1-scale shuffle could ENOSPC or OOM the box). The auto-pick now
# requires at least $SPARK_GRAFT_SHM_MIN_FREE_GB (default 32) GiB free
# in /dev/shm; below that the engine keeps tempfile/Spark defaults.
# An explicit $SPARK_GRAFT_SCRATCH always wins (deployment config — on
# a real cluster it names the NVMe local volume, where this RAM
# concern does not apply).
_SHM_MIN_FREE_ENV = "SPARK_GRAFT_SHM_MIN_FREE_GB"
_SHM_MIN_FREE_GB_DEFAULT = 32


def _shm_free_ok(path: str = "/dev/shm") -> bool:
    try:
        st = os.statvfs(path)
        free = st.f_bavail * st.f_frsize
    except OSError:
        return False
    floor_gb = float(
        os.environ.get(_SHM_MIN_FREE_ENV, str(_SHM_MIN_FREE_GB_DEFAULT))
    )
    return free >= floor_gb * (1 << 30)


def _scratch_root() -> str | None:
    env = os.environ.get(_SCRATCH_ENV)
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK) and _shm_free_ok(shm):
        return shm
    return None


def scratch_dir(prefix: str) -> str:
    """mkdtemp on the fast scratch volume (see _scratch_root)."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. ``name`` must be in TABLES.

    The driver's events.parquet timestamp encoding has varied by round:
    TIMESTAMP(NANOS) (rejected by Spark's reader unless read as long via
    the legacy conf, then rebuilt with integer division — ns values
    exceed double precision) and TIMESTAMP(MICROS) without the UTC flag
    (read as TIMESTAMP_NTZ, which unix_millis/window reject). Both are
    normalized here to a session-TZ TimestampType; the session pins UTC
    (session.py), so the NTZ cast is value-identical.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dt = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

