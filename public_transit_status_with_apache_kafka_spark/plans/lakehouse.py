"""Lakehouse read-path queries: MVCC time travel (merge-on-read over a
persisted, version-partitioned delta log) and manifest-driven file
skipping (min/max pruning a reader does BEFORE touching data files).

These complete the storage-layout family started by x_zorder_layout
(cluster for skipping), x_compact_small_files (merge-on-write) and
x3_stream_snapshot_merge (CDC fold): together they are the engine-side
mechanics every table format (Iceberg/Delta/Hudi-style) builds on,
expressed with nothing but parquet + DataFrame ops.

Reference scope note: the reference app has no storage layer beyond
Kafka topics; this family belongs to the 100 TB training-data mandate —
snapshot reproducibility (time travel) and scan pruning are what make
corpus-scale reads cheap and auditable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_util import load, scratch_dir
from . import register_into

QUERIES = {}
ORACLE = {}
_register = register_into(QUERIES, ORACLE)


@_register(
    "x_mvcc_time_travel",
    sql="""
    WITH deltas AS (
      SELECT 0 AS v, 'i' AS op, o_orderkey AS k, o_orderpriority AS val
      FROM orders
      UNION ALL
      SELECT 1, 'u', o_orderkey, '9-RESET' FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT 2, 'd', o_orderkey, NULL FROM orders WHERE o_orderkey % 7 = 0
    ),
    vers(as_of) AS (VALUES (0), (1), (2)),
    folded AS (
      SELECT as_of, k, arg_max(op, v) AS op, arg_max(val, v) AS val
      FROM deltas JOIN vers ON v <= as_of GROUP BY as_of, k
    )
    SELECT as_of, val AS o_orderpriority, count(*) AS n
    FROM folded WHERE op <> 'd' GROUP BY as_of, val
    """,
)
def x_mvcc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MVCC: read a table AS OF each committed version from a
    PERSISTED delta log. Version 0 inserts every order, version 1
    updates every 5th key's priority, version 2 deletes every 7th key;
    the log is written partitioned by version, so an as-of read's
    `v <= N` predicate becomes PARTITION PRUNING (later commits are
    never scanned — the plan contract pins PartitionFilters). The
    merge-on-read fold is one partial-aggregable `max_by(_, v)` per
    key (last-writer-wins), then tombstones drop — the same fold
    x3_stream_snapshot_merge applies via MERGE, here as a pure read.
    Compaction of the fold into a new base is x_compact_small_files
    composed over the log. Oracle rebuilds the identical log in SQL."""
    import shutil

    o = load(spark, sf_dir, "orders")
    deltas = (
        o.select(
            F.lit(0).alias("v"),
            F.lit("i").alias("op"),
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("val"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 5 == 0).select(
                F.lit(1).alias("v"),
                F.lit("u").alias("op"),
                F.col("o_orderkey").alias("k"),
                F.lit("9-RESET").alias("val"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                F.lit(2).alias("v"),
                F.lit("d").alias("op"),
                F.col("o_orderkey").alias("k"),
                F.lit(None).cast("string").alias("val"),
            )
        )
    )
    tmp = scratch_dir("mvcc_")
    try:
        deltas.write.partitionBy("v").parquet(tmp + "/log")
        log = spark.read.parquet(tmp + "/log")
        out = None
        for as_of in (0, 1, 2):
            folded = (
                log.filter(F.col("v") <= as_of)
                .groupBy("k")
                .agg(
                    F.expr("max_by(op, v)").alias("op"),
                    F.expr("max_by(val, v)").alias("val"),
                )
                .filter(F.col("op") != "d")
                .groupBy(F.col("val").alias("o_orderpriority"))
                .agg(F.count("*").alias("n"))
                .select(F.lit(as_of).alias("as_of"), "o_orderpriority", "n")
            )
            out = folded if out is None else out.unionByName(folded)
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def timetravel_read(spark: SparkSession, log_path: str, as_of: int) -> DataFrame:
    """Reusable as-of reader over a version-partitioned delta log
    (columns v/op/k/val): merge-on-read fold at version ``as_of``.
    Exposed separately so tests can pin the partition-pruning plan."""
    log = spark.read.parquet(log_path)
    return (
        log.filter(F.col("v") <= as_of)
        .groupBy("k")
        .agg(
            F.expr("max_by(op, v)").alias("op"),
            F.expr("max_by(val, v)").alias("val"),
        )
        .filter(F.col("op") != "d")
    )


@_register(
    "x_manifest_pruning",
    sql="""
    SELECT count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id % 1000003) AS BIGINT) AS id_checksum
    FROM events WHERE user_id BETWEEN 40 AND 59
    """,
)
def x_manifest_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse data skipping: range-cluster events into files on
    user_id, harvest a per-file min/max MANIFEST from the parquet
    `_metadata` column, then answer a range predicate by reading ONLY
    the files whose [min,max] overlaps it — the reader-side half of
    what x_zorder_layout's writer-side clustering buys. The manifest is
    n_files rows (collected: bounded by file count, the same contract a
    table format's metadata layer has); pruning evidence (files read <
    files written, pruned result == full-scan result) is pinned in
    tests/test_lakehouse.py. At 100 TB the manifest IS the scan plan:
    a 20-value range over range-clustered files touches O(range) files
    regardless of corpus size. Oracle: the plain filtered aggregate."""
    import shutil

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    lo, hi = 40, 59
    tmp = scratch_dir("manifest_")
    try:
        ev.repartitionByRange(8, "user_id").write.parquet(tmp + "/data")
        manifest = (
            spark.read.parquet(tmp + "/data")
            .select(
                F.col("_metadata.file_path").alias("path"), F.col("user_id")
            )
            .groupBy("path")
            .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
            .collect()
        )
        keep = [r["path"] for r in manifest if r["hi"] >= lo and r["lo"] <= hi]
        src = spark.read.parquet(*keep) if keep else spark.read.parquet(
            tmp + "/data"
        ).filter(F.lit(False))
        pruned = src.filter(F.col("user_id").between(lo, hi))
        out = pruned.agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(F.col("event_id") % 1000003).cast("long").alias("id_checksum"),
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "x_schema_evolution",
    sql="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM unioned GROUP BY 1
    """,
)
def x_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse schema evolution: a table whose early files predate a
    column (v1: key+price) and whose later files carry it (v2: +
    priority), read as ONE table via mergeSchema — old files surface
    NULL for the added column, exactly the additive-evolution contract
    every table format guarantees. The aggregate distinguishes
    pre-evolution rows explicitly.

    Scale note: `mergeSchema=true` reconciles schemas by reading EVERY
    file footer at planning time — fine for a fixture, wrong at 100 TB
    (~800k footers); production keeps one authoritative schema in
    table-format metadata and pins readers to it, which is why the
    session default leaves mergeSchema OFF and this query opts in at
    the single read site. Column pruning and pushdown still reach both
    file generations (shared columns prune normally)."""
    import shutil

    o = load(spark, sf_dir, "orders")
    tmp = scratch_dir("schema_evo_")
    try:
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(tmp + "/t", mode="append")
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(tmp + "/t", mode="append")
        merged = spark.read.option("mergeSchema", "true").parquet(tmp + "/t")
        out = (
            merged.groupBy(
                F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>"))
                .alias("priority")
            )
            .agg(
                F.count("*").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_BLOOM_M = 4096  # bits per file bloom
_BLOOM_K = 3  # xxhash64 seeds 1..k
_BLOOM_IDS = (7, 77, 149)  # planted point-lookup keys


@_register(
    "x_bloom_file_skip",
    sql=f"""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(event_id % 1000003) AS BIGINT) AS id_checksum
    FROM events
    WHERE user_id IN {_BLOOM_IDS}
    GROUP BY user_id ORDER BY user_id
    """,
)
def x_bloom_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse data skipping for EQUALITY predicates: a per-file BLOOM
    FILTER index (the Parquet column-index / Delta bloom feature) — the
    hash-based complement of x_manifest_pruning's min/max ranges, which
    cannot prune on a hash-clustered or unsorted column.

    Build: one pass emits k={_BLOOM_K} xxhash64 bit positions per row;
    a partial-aggregable groupBy(file, word) `bit_or` folds them into
    {_BLOOM_M}-bit blooms — the collected index is n_files x
    {_BLOOM_M // 64} words, corpus-size-independent (the table-format
    metadata contract). Probe: the query keys' positions come from the
    SAME Spark expressions (a 3-row job — never a reimplementation of
    the hash), files whose bloom misses every key are skipped
    driver-side, and the scan reads only survivors. False positives
    cost an extra file read, never a wrong row — the oracle is the
    plain IN-filter aggregate over the full table, which the pruned
    read must reproduce exactly. Pruning evidence (files read <=
    |keys| << files written) is pinned in tests/test_lakehouse.py."""
    import shutil

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    tmp = scratch_dir("bloomidx_")
    try:
        ev.repartition(8, "user_id").write.parquet(tmp + "/data")
        seeds = list(range(1, _BLOOM_K + 1))
        pos = F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("user_id"), F.lit(s)), F.lit(_BLOOM_M))
                    for s in seeds
                ]
            )
        ).alias("pos")
        bloom_rows = (
            spark.read.parquet(tmp + "/data")
            .select(F.col("_metadata.file_path").alias("path"), "user_id")
            .select("path", pos)
            .select(
                "path",
                F.expr("pos div 64").alias("word"),
                F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
            )
            .groupBy("path", "word")
            .agg(F.bit_or("bit").alias("bits"))
            .collect()
        )
        blooms: dict[str, dict[int, int]] = {}
        for r in bloom_rows:
            blooms.setdefault(r["path"], {})[r["word"]] = r["bits"]
        # probe positions from the SAME expressions (3-row job)
        probe = (
            spark.createDataFrame([(i,) for i in _BLOOM_IDS], "user_id long")
            .select("user_id", pos)
            .collect()
        )
        key_pos: dict[int, list[int]] = {}
        for r in probe:
            key_pos.setdefault(r["user_id"], []).append(r["pos"])
        keep = [
            path
            for path, words in blooms.items()
            if any(
                all(
                    words.get(p // 64, 0) & (1 << (p % 64))
                    for p in positions
                )
                for positions in key_pos.values()
            )
        ]
        spark.conf.set("spark.graft.bloom_files_total", str(len(blooms)))
        spark.conf.set("spark.graft.bloom_files_read", str(len(keep)))
        src = (
            spark.read.parquet(*keep)
            if keep
            else spark.read.parquet(tmp + "/data").filter(F.lit(False))
        )
        out = (
            src.filter(F.col("user_id").isin(*_BLOOM_IDS))
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("event_id") % 1000003).cast("long").alias("id_checksum"),
            )
            .orderBy("user_id")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@_register(
    "x_positional_deletes",
    sql="""
    SELECT o_orderpriority,
           count(*) AS n_live,
           CAST(sum(o_orderkey % 1000003) AS BIGINT) AS key_checksum
    FROM orders
    WHERE NOT (o_orderkey % 97 = 0)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def x_positional_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse merge-on-read DELETE via POSITIONAL delete files (the
    Iceberg v2 / Delta deletion-vector shape) — deletes name (file,
    row position) pairs instead of rewriting data files, and the read
    path anti-joins them back out. The key-based complement is
    x_mvcc_time_travel's tombstone fold; positional deletes are what
    engines actually emit for row-level DELETE on immutable files.

    Build: the delete file is harvested by ONE predicate scan over the
    base files reading `_metadata.file_path` + `_metadata.row_index`
    (Spark's reader exposes the physical position — no synthetic id
    needed). Read: base LEFT ANTI JOIN deletes on (file, position) —
    a hash join whose right side is |deleted rows|, usually tiny, and
    broadcastable. No data file is rewritten; the oracle is the
    logically-equivalent filtered aggregate."""
    import shutil

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    tmp = scratch_dir("posdel_")
    try:
        o.repartition(4).write.parquet(tmp + "/base")
        base = spark.read.parquet(tmp + "/base").select(
            F.col("_metadata.file_path").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
            "o_orderkey",
            "o_orderpriority",
        )
        # row-level DELETE WHERE o_orderkey % 97 = 0 -> delete file
        base.filter(F.col("o_orderkey") % 97 == 0).select(
            "_file", "_pos"
        ).write.parquet(tmp + "/deletes")
        deletes = spark.read.parquet(tmp + "/deletes")
        live = base.join(
            F.broadcast(deletes), ["_file", "_pos"], "anti"
        )
        out = (
            live.groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_live"),
                F.sum(F.col("o_orderkey") % 1000003)
                .cast("long")
                .alias("key_checksum"),
            )
            .orderBy("o_orderpriority")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
