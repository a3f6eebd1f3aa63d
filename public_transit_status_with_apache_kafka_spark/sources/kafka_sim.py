"""Simulated Kafka broker as a PySpark Python Data Source (DSv2).

The reference runtime consumes a LIVE Kafka cluster
(reference: docker-compose.yaml:12-141, consumers/consumer.py:47-99);
this sandbox has no broker, and until now the engine substituted plain
file sources with golden wire frames — semantically equivalent but
without real offset mechanics. This module closes that gap inside the
sandbox: a broker-log directory layout plus a registered Spark data
source ("kafkasim") that serves it through Spark's own source API with
the SAME surface a real Kafka source exposes:

- the Kafka source schema: key/value binary, topic, partition, offset,
  timestamp, timestampType — downstream decode (strip_confluent_header,
  decode_confluent_avro, decode_json_value) is byte-for-byte the code
  path a live broker would feed;
- `subscribe` (comma list) and `subscribePattern` (regex fan-in, S7);
- `startingOffsets` earliest / latest / per-partition JSON (S8);
- streaming micro-batches with true offset tracking: resume from a
  checkpoint consumes exactly-once from the committed offset (X1), and
  `maxRecordsPerTrigger` caps per-partition batch advance (X5
  back-pressure), like the real source's maxOffsetsPerTrigger.

Broker-log layout (append-only, Kafka-segment style):

    {log_dir}/{topic}/{partition:04d}/{base_offset:012d}.parquet

Each segment holds consecutive records (columns: key binary nullable,
value binary, ts_ms int64) starting at the base offset encoded in its
filename. Segments are contiguous — each ends where the next begins —
so a partition's end offset is the last segment's base + rows, the one
footer any call reads. Appends create new segments, never rewrite —
offsets are stable, so a re-read at a given offset range is
deterministic (the property every delivery-semantics test leans on).

Records reach the log two ways: `SimBroker.produce` (driver-side, the
producer client) and the `kafkasim` sink (`df.write` /
`writeStream.format("kafkasim")`, executors stage segments that the
driver commits). Both place records with one rule (`_place`): explicit
partition wins; else hash(key) % n; else round-robin over the unkeyed
records. The keyed hash is crc32 by default (zlib.crc32), with
`partitioner="murmur2"` selecting Kafka's real default —
toPositive(murmur2(key)) % n, implemented from the public algorithm
(Austin Appleby's MurmurHash2, seed 0x9747b28c) and pinned against the
published Java-compatibility vectors.

Everything here is built only on the public pyspark.sql.datasource API
and pyarrow.
"""

from __future__ import annotations

import json
import os
import re
import zlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)
_SEG_RE = re.compile(r"^(\d{12})\.parquet$")


def murmur2(data: bytes) -> int:
    """Kafka's 32-bit murmur2 (seed 0x9747b28c), from the public
    MurmurHash2 algorithm (Austin Appleby, public domain) as used by
    Kafka's default partitioner. Returns the unsigned 32-bit hash;
    partition placement is (murmur2(key) & 0x7fffffff) % n
    ("toPositive"). Pinned against the published Java-compatibility
    vectors in tests/test_kafka_sim.py."""
    length = len(data)
    m = 0x5BD1E995
    h = (0x9747B28C ^ length) & 0xFFFFFFFF
    i = 0
    while length - i >= 4:
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * m) & 0xFFFFFFFF
        k ^= k >> 24
        k = (k * m) & 0xFFFFFFFF
        h = (h * m) & 0xFFFFFFFF
        h ^= k
        i += 4
    left = length - i
    if left >= 3:
        h ^= (data[i + 2] & 0xFF) << 16
    if left >= 2:
        h ^= (data[i + 1] & 0xFF) << 8
    if left >= 1:
        h ^= data[i] & 0xFF
        h = (h * m) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * m) & 0xFFFFFFFF
    h ^= h >> 15
    return h


def partition_for_key(key: bytes, n: int, partitioner: str = "crc32") -> int:
    """Keyed-record placement for one key: crc32 (sim default) or
    murmur2 (Kafka's real default)."""
    if partitioner == "murmur2":
        return (murmur2(key) & 0x7FFFFFFF) % n
    return zlib.crc32(key) % n


def _place(records, n_for, partitioner: str) -> dict[tuple[str, int], list]:
    """Group (topic, partition, key, value, ts_ms) records into
    {(topic, broker partition): [(key, value, ts_ms)]}: an explicit
    partition wins; else a keyed record goes to partition_for_key; else
    the unkeyed records of one call go round-robin. ``n_for(topic)`` is
    the topic's partition count."""
    buckets: dict[tuple[str, int], list] = {}
    rr = 0
    for t, part, k, v, ts in records:
        if part is not None:
            p = int(part)
        elif k is not None:
            p = partition_for_key(k, n_for(t), partitioner)
        else:
            p = rr % n_for(t)
            rr += 1
        buckets.setdefault((t, p), []).append((k, v, ts))
    return buckets


# --------------------------------------------------------------- broker log


def _topics(log_dir: str) -> list[str]:
    return sorted(
        d for d in os.listdir(log_dir)
        if not d.startswith(".") and os.path.isdir(os.path.join(log_dir, d))
    )


def _partitions(log_dir: str, topic: str) -> list[int]:
    return sorted(
        int(d) for d in os.listdir(os.path.join(log_dir, topic)) if d.isdigit()
    )


def _pdir(log_dir: str, topic: str, p: int) -> str:
    return os.path.join(log_dir, topic, f"{p:04d}")


class SimBroker:
    """Producer/admin half: an append-only segmented broker log."""

    def __init__(
        self,
        log_dir: str,
        default_partitions: int = 3,
        partitioner: str = "crc32",
    ):
        self.log_dir = log_dir
        self.default_partitions = default_partitions
        self.partitioner = partitioner
        os.makedirs(log_dir, exist_ok=True)

    # -- admin -------------------------------------------------------------
    def create_topic(self, topic: str, n_partitions: int | None = None) -> None:
        n = n_partitions or self.default_partitions
        for p in range(n):
            os.makedirs(_pdir(self.log_dir, topic, p), exist_ok=True)

    def topics(self) -> list[str]:
        return _topics(self.log_dir)

    def n_partitions(self, topic: str) -> int:
        return len(_partitions(self.log_dir, topic))

    def end_offsets(self, topic: str) -> dict[int, int]:
        return {
            p: _segment_end(_pdir(self.log_dir, topic, p))
            for p in _partitions(self.log_dir, topic)
        }

    # -- produce -----------------------------------------------------------
    def produce(
        self,
        topic: str,
        records: list[tuple[bytes | None, bytes, int]],
        partition: int | None = None,
    ) -> None:
        """Append (key, value, ts_ms) records, placed by `_place` with
        the broker's partitioner."""
        if topic not in self.topics():
            self.create_topic(topic)
        n = self.n_partitions(topic)
        buckets = _place(
            ((topic, partition, k, v, ts) for k, v, ts in records),
            lambda _t: n,
            self.partitioner,
        )
        for (_t, p), rows in buckets.items():
            pdir = _pdir(self.log_dir, topic, p)
            _write_segment(pdir, _segment_end(pdir), rows)


# ----------------------------------------------------------- admin client
#
# K5 (SURVEY §2): topic DDL/admin. The reference guards every producer
# start with an idempotent create-topic flow
# (reference: producers/models/producer.py:60-91): a per-process
# `existing_topics` class cache short-circuits repeat constructions;
# on a cache miss an AdminClient lists broker topics, returns if the
# topic exists, else calls create_topics([NewTopic(...)]) and resolves
# the returned per-topic futures. The classes below give the simulated
# broker that same client surface (confluent_kafka.admin shape — public
# API) so the reference's flow runs unchanged against this engine.


@dataclass
class NewTopic:
    """Topic spec for create_topics (confluent_kafka.admin.NewTopic
    shape). replication_factor is accepted for interface fidelity; the
    single-node sim stores it as metadata only."""

    topic: str
    num_partitions: int = 1
    replication_factor: int = 1


@dataclass
class PartitionMetadata:
    id: int
    leader: int = 0
    replicas: tuple = (0,)


@dataclass
class TopicMetadata:
    topic: str
    partitions: dict


@dataclass
class ClusterMetadata:
    topics: dict


class KafkaError(Exception):
    """Admin-op failure carrying the Kafka protocol error name."""

    TOPIC_ALREADY_EXISTS = "TOPIC_ALREADY_EXISTS"
    UNKNOWN_TOPIC_OR_PART = "UNKNOWN_TOPIC_OR_PART"

    def __init__(self, code: str, message: str):
        super().__init__(message)
        self.code = code


class SimAdminClient:
    """AdminClient over a SimBroker log dir: list_topics /
    create_topics / delete_topics with confluent-style per-topic
    futures (future.result() -> None on success, raises KafkaError on
    failure — the contract producer.py:80-86 consumes)."""

    def __init__(self, conf: dict | str):
        # accept {"bootstrap.servers": log_dir} for reference-flow
        # fidelity, or a bare log_dir string
        log_dir = conf.get("bootstrap.servers") if isinstance(conf, dict) else conf
        self._broker = SimBroker(log_dir)

    def list_topics(self, timeout: float | None = None) -> ClusterMetadata:
        topics = {}
        for t in self._broker.topics():
            n = self._broker.n_partitions(t)
            topics[t] = TopicMetadata(
                topic=t, partitions={p: PartitionMetadata(id=p) for p in range(n)}
            )
        return ClusterMetadata(topics=topics)

    def _future(self, exc: Exception | None):
        from concurrent.futures import Future

        f: Future = Future()
        if exc is None:
            f.set_result(None)
        else:
            f.set_exception(exc)
        return f

    def create_topics(self, new_topics: list[NewTopic]) -> dict:
        existing = set(self._broker.topics())
        out = {}
        for nt in new_topics:
            if nt.topic in existing:
                # real-broker semantics: creating an existing topic
                # fails the future; callers doing check-then-create
                # (the reference flow) never hit this
                out[nt.topic] = self._future(
                    KafkaError(
                        KafkaError.TOPIC_ALREADY_EXISTS,
                        f"Topic '{nt.topic}' already exists.",
                    )
                )
                continue
            self._broker.create_topic(nt.topic, nt.num_partitions)
            out[nt.topic] = self._future(None)
        return out

    def delete_topics(self, topics: list[str]) -> dict:
        import shutil

        out = {}
        existing = set(self._broker.topics())
        for t in topics:
            if t not in existing:
                out[t] = self._future(
                    KafkaError(
                        KafkaError.UNKNOWN_TOPIC_OR_PART,
                        f"Unknown topic '{t}'.",
                    )
                )
                continue
            shutil.rmtree(os.path.join(self._broker.log_dir, t))
            out[t] = self._future(None)
        return out


class TopicEnsurer:
    """The reference producer's idempotent create-topic flow
    (producers/models/producer.py:60-91), verbatim in structure: a
    per-PROCESS class-level `existing_topics` cache checked first; on
    miss, a broker list_topics lookup; only a genuine double miss
    issues create_topics and resolves its future. `admin_calls` /
    `create_calls` counters expose the idempotence for tests."""

    existing_topics: set = set()

    def __init__(self, log_dir: str):
        self._log_dir = log_dir
        self.admin_calls = 0
        self.create_calls = 0

    def ensure(self, topic: str, num_partitions: int = 1, num_replicas: int = 1) -> None:
        # type(self) lookup so a subclass (== another process in tests
        # and the registered query) gets its own cache, exactly as each
        # reference producer process starts with an empty set
        cache = type(self).existing_topics
        if topic in cache:
            return
        client = SimAdminClient({"bootstrap.servers": self._log_dir})
        self.admin_calls += 1
        meta = client.list_topics(timeout=5)
        if topic not in set(t.topic for t in meta.topics.values()):
            futures = client.create_topics(
                [NewTopic(topic=topic, num_partitions=num_partitions,
                          replication_factor=num_replicas)]
            )
            self.create_calls += 1
            for _name, future in futures.items():
                future.result()
        cache.add(topic)


def _segment_path(pdir: str, base: int) -> str:
    return os.path.join(pdir, f"{base:012d}.parquet")


def _segment_table(rows: list[tuple[bytes | None, bytes, int]]):
    import pyarrow as pa

    return pa.table(
        {
            "key": pa.array([r[0] for r in rows], pa.binary()),
            "value": pa.array([r[1] for r in rows], pa.binary()),
            "ts_ms": pa.array([r[2] for r in rows], pa.int64()),
        }
    )


def _write_segment(
    pdir: str, base: int, rows: list[tuple[bytes | None, bytes, int]]
) -> None:
    """Atomically write one segment at the given base offset: tmp file +
    rename, so readers (whose segment regex ignores tmp names) never see
    a torn file."""
    import pyarrow.parquet as pq

    os.makedirs(pdir, exist_ok=True)
    path = _segment_path(pdir, base)
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(_segment_table(rows), tmp)
    os.replace(tmp, path)


def _bases(pdir: str) -> list[int]:
    """Segment base offsets, ascending, from the file names alone."""
    return sorted(
        int(m.group(1)) for m in map(_SEG_RE.match, os.listdir(pdir)) if m
    )


def _segment_end(pdir: str) -> int:
    """End offset of a partition: the last segment's base plus its row
    count — one footer read, whatever the segment count."""
    import pyarrow.parquet as pq

    bases = _bases(pdir)
    if not bases:
        return 0
    return bases[-1] + pq.read_metadata(_segment_path(pdir, bases[-1])).num_rows


# ------------------------------------------------------------- source side


@dataclass
class _Slice(InputPartition):
    topic: str
    partition: int
    pdir: str
    start: int
    end: int


def _read_slice(s: _Slice):
    """Yield one Kafka-schema Arrow batch per segment overlapping offsets
    [start, end) of one topic-partition — executor-side, reading no
    footer: a segment ends where the next begins, and the last is cut
    at ``end``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    us = pa.timestamp("us", "UTC")
    schema = pa.schema([
        ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
        ("partition", pa.int32()), ("offset", pa.int64()), ("timestamp", us),
        ("timestampType", pa.int32()),
    ])
    bases = _bases(s.pdir)
    for base, nxt in zip(bases, bases[1:] + [s.end]):
        lo, hi = max(s.start, base), min(s.end, nxt)
        if lo >= hi:
            continue
        seg = pq.read_table(_segment_path(s.pdir, base)).slice(lo - base, hi - lo)
        n = seg.num_rows
        yield pa.RecordBatch.from_arrays(
            [
                seg.column("key").combine_chunks(),
                seg.column("value").combine_chunks(),
                pa.repeat(pa.scalar(s.topic, pa.string()), n),
                pa.repeat(pa.scalar(s.partition, pa.int32()), n),
                pa.array(np.arange(lo, lo + n, dtype=np.int64)),
                # ms -> us is exact: the record's ts_ms, in Spark's unit
                seg.column("ts_ms").combine_chunks()
                .cast(pa.timestamp("ms", "UTC")).cast(us),
                pa.repeat(pa.scalar(0, pa.int32()), n),  # CreateTime, like the real source
            ],
            schema=schema,
        )


def _slices(log_dir: str, start: dict, end: dict) -> list[_Slice]:
    """One slice per topic-partition with records in [start, end)."""
    out = []
    for t, ends in end.items():
        for p, hi in ends.items():
            lo = start.get(t, {}).get(p, 0)
            if hi > lo:
                out.append(_Slice(t, int(p), _pdir(log_dir, t, int(p)), lo, hi))
    return out


def _selected_topics(log_dir: str, options: dict) -> list[str]:
    topics = _topics(log_dir)
    if options.get("subscribe"):
        want = {t.strip() for t in options["subscribe"].split(",")}
        missing = want - set(topics)
        if missing:
            raise ValueError(f"kafkasim: unknown topics {sorted(missing)}")
        return sorted(want)
    if options.get("subscribepattern"):
        pat = re.compile(options["subscribepattern"])
        return [t for t in topics if pat.fullmatch(t)]
    return topics


def _disk_offsets(log_dir: str, topics: list[str]) -> dict[str, dict[str, int]]:
    return {
        t: {
            str(p): _segment_end(_pdir(log_dir, t, p))
            for p in _partitions(log_dir, t)
        }
        for t in topics
    }


def _starting_offsets(
    log_dir: str, topics: list[str], options: dict
) -> dict[str, dict[str, int]]:
    mode = options.get("startingoffsets", "earliest")
    if mode == "earliest":
        return {
            t: {p: 0 for p in _disk_offsets(log_dir, [t])[t]} for t in topics
        }
    if mode == "latest":
        return _disk_offsets(log_dir, topics)
    spec = json.loads(mode)  # {"topic": {"0": 5, ...}} — -2 earliest, -1 latest
    out: dict[str, dict[str, int]] = {}
    for t in topics:
        disk = _disk_offsets(log_dir, [t])[t]
        out[t] = {}
        for p, end in disk.items():
            o = spec.get(t, {}).get(p, -2)
            out[t][p] = end if o == -1 else 0 if o == -2 else int(o)
    return out


class KafkaSimBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.log_dir = options.get("path") or options["log.dir"]
        self.options = options

    def partitions(self):
        topics = _selected_topics(self.log_dir, self.options)
        start = _starting_offsets(self.log_dir, topics, self.options)
        end_opt = self.options.get("endingoffsets", "latest")
        disk = _disk_offsets(self.log_dir, topics)
        if end_opt == "latest":
            end = disk
        else:
            spec = json.loads(end_opt)
            end = {
                t: {
                    p: disk[t][p] if spec.get(t, {}).get(p, -1) == -1
                    else int(spec[t][p])
                    for p in disk[t]
                }
                for t in topics
            }
        return _slices(self.log_dir, start, end)

    def read(self, partition: _Slice):
        return _read_slice(partition)


class KafkaSimStreamReader(DataSourceStreamReader):
    """Micro-batch reader with real offset bookkeeping: the offset dict
    {topic: {partition: next_offset}} round-trips through Spark's
    checkpoint, so a restarted query resumes exactly where the last
    committed batch ended.

    Back-pressure (`maxRecordsPerTrigger`) caps how far each partition
    advances per `latestOffset` call. The python stream API does not
    pass the batch start into latestOffset, so the ramp base is
    tracked: in memory between calls, floored by the starts Spark
    hands to `partitions()` (authoritative — they come from the
    checkpoint), and persisted at `commit()` under
    `{log_dir}/.reader_state/{groupId}.json` so a RESTARTED capped
    query resumes its ramp at the committed offset instead of behind
    the checkpoint (which would plan an end < start batch). Set a
    distinct `groupId` option per concurrent capped query on the same
    log, like Kafka's group.id."""

    def __init__(self, options: dict):
        self.log_dir = options.get("path") or options["log.dir"]
        self.options = options
        self.max_per_trigger = int(options.get("maxrecordspertrigger", 0)) or None
        self._state_path = os.path.join(
            self.log_dir, ".reader_state",
            f"{options.get('groupid', 'default')}.json",
        )
        self._last_end = None
        if self.max_per_trigger is not None and os.path.exists(self._state_path):
            try:
                with open(self._state_path) as f:
                    self._last_end = json.load(f)
            except (OSError, json.JSONDecodeError):
                self._last_end = None

    def initialOffset(self) -> dict:
        topics = _selected_topics(self.log_dir, self.options)
        return _starting_offsets(self.log_dir, topics, self.options)

    @staticmethod
    def _floor(base: dict, other: dict) -> dict:
        """Per-partition max of two offset dicts (monotonicity floor)."""
        out = {t: dict(ps) for t, ps in base.items()}
        for t, ps in (other or {}).items():
            for p, o in ps.items():
                out.setdefault(t, {})[p] = max(out.get(t, {}).get(p, 0), int(o))
        return out

    def latestOffset(self) -> dict:
        topics = _selected_topics(self.log_dir, self.options)
        disk = _disk_offsets(self.log_dir, topics)
        if self.max_per_trigger is None:
            return disk
        base = self._floor(self.initialOffset(), self._last_end)
        capped = {
            t: {
                p: min(disk[t][p], base.get(t, {}).get(p, 0) + self.max_per_trigger)
                for p in disk[t]
            }
            for t in topics
        }
        # never behind what we already handed out (offsets are monotone)
        capped = self._floor(capped, self._last_end)
        self._last_end = capped
        return capped

    def partitions(self, start: dict, end: dict):
        if self.max_per_trigger is not None:
            # the checkpointed start is authoritative: floor the ramp so
            # a restart never plans an end behind the committed offset
            self._last_end = self._floor(self._last_end or {}, start)
        return _slices(self.log_dir, start, end)

    def read(self, partition: _Slice):
        return _read_slice(partition)

    def commit(self, end: dict) -> None:
        # append-only log: nothing to release; persist the ramp base so
        # a restarted capped query resumes at the committed offset
        if self.max_per_trigger is not None:
            os.makedirs(os.path.dirname(self._state_path), exist_ok=True)
            tmp = self._state_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(end, f)
            os.replace(tmp, self._state_path)


# --------------------------------------------------------------- sink side


@dataclass
class _StagedSegments(WriterCommitMessage):
    """One task's staged output: [(topic, bpart, staged_path, n_rows)]
    plus the task's partition id for deterministic base-offset order."""

    seq: int
    segments: list


class KafkaSimWriter(DataSourceArrowWriter):
    """The K1 sink through Spark's OWN writer API (DSv2 two-phase
    commit), Arrow-batched:

    - ``write`` (executors): partition each record (explicit
      `partition` column > keyed hash(crc32|murmur2) > per-task
      round-robin), stage one parquet file per (topic, broker
      partition) under ``{log_dir}/.staging/{writer uuid}/`` — NOTHING
      is visible to consumers yet — and return a commit message listing
      the staged files.
    - ``commit`` (driver, metadata-only): order messages by task
      partition id, assign each staged file a contiguous base offset on
      top of the current end offsets, and atomically rename it into the
      broker log (`os.replace`; same filesystem). Only now do offsets
      exist. Leftover files in the stage dir (failed/duplicate task
      attempts) are deleted — batches are sequential per query, so
      after commit they can only be orphans.
    - ``abort`` (driver): delete every staged file the messages name;
      the log is untouched (nothing was renamed in), so a failed job
      publishes zero records — the atomicity foreachBatch cannot give.

    Delivery semantics match the real Kafka sink: at-least-once under
    micro-batch retry (a replayed epoch appends again). The streaming
    subclass upgrades to exactly-once when asked (see
    :class:`KafkaSimStreamWriter`).

    Rows must carry `value` (binary); optional `key` (binary), `topic`
    (string, overrides the `topic` option per row), `partition` (int),
    and `timestamp` (timestamp) / `ts_ms` (long).
    """

    def __init__(self, schema, options: dict):
        import uuid

        self.options = options
        self.log_dir = options.get("path") or options["log.dir"]
        self.topic = options.get("topic")
        self.partitioner = options.get("partitioner", "crc32")
        self.default_partitions = int(options.get("defaultpartitions", "3"))
        names = [f.name for f in schema.fields]
        if "value" not in names:
            raise ValueError("kafkasim sink requires a `value` column")
        if self.topic is None and "topic" not in names:
            raise ValueError("kafkasim sink needs a `topic` option or column")
        self.stage_dir = os.path.join(
            self.log_dir, ".staging", uuid.uuid4().hex
        )
        # driver-side: snapshot partition counts for existing topics and
        # pre-create the static topic so every executor agrees on n
        broker = SimBroker(
            self.log_dir, self.default_partitions, self.partitioner
        )
        if self.topic is not None and self.topic not in broker.topics():
            broker.create_topic(self.topic)
        self.topic_parts = {t: broker.n_partitions(t) for t in broker.topics()}

    # -- executor side -----------------------------------------------------
    def _n_for(self, topic: str) -> int:
        return self.topic_parts.get(topic, self.default_partitions)

    def _records(self, batches):
        """(topic, partition, key, value, ts_ms) per row of the task's
        Arrow batches; absent columns mean the `topic` option, no
        explicit partition, no key and ts 0."""
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            names, n_rows = batch.schema.names, batch.num_rows

            def col(c, default):
                if c in names:
                    return batch.column(names.index(c)).to_pylist()
                return [default] * n_rows

            if "timestamp" in names and "ts_ms" not in names:
                tss = pc.cast(
                    batch.column(names.index("timestamp")), pa.timestamp("ms")
                ).cast(pa.int64()).to_pylist()
            else:
                tss = col("ts_ms", 0)
            for t, p, k, v, ts in zip(
                col("topic", self.topic), col("partition", None),
                col("key", None), col("value", None), tss,
            ):
                yield (
                    t, p, bytes(k) if k is not None else None, bytes(v),
                    int(ts) if ts is not None else 0,
                )

    def write(self, iterator) -> _StagedSegments:
        import uuid

        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        seq = ctx.partitionId() if ctx is not None else 0
        buckets = _place(self._records(iterator), self._n_for, self.partitioner)
        os.makedirs(self.stage_dir, exist_ok=True)
        segments = []
        for (t, p), rows in sorted(buckets.items()):
            path = os.path.join(
                self.stage_dir, f"{uuid.uuid4().hex}-{t}-{p:04d}.parquet"
            )
            pq.write_table(_segment_table(rows), path)
            segments.append((t, p, path, len(rows)))
        return _StagedSegments(seq=seq, segments=segments)

    # -- driver side -------------------------------------------------------
    def _publish(self, messages) -> int:
        """Rename staged files into the log at freshly assigned base
        offsets; returns records published. Driver-side metadata ops
        only — O(staged files), never O(records)."""
        import shutil

        msgs = sorted((m for m in messages if m is not None), key=lambda m: m.seq)
        # every partition the executors placed over exists, not only
        # those that received records: a topic first named by a row's
        # `topic` column gets all `_n_for` of them
        broker = SimBroker(self.log_dir)
        for t in {seg[0] for m in msgs for seg in m.segments}:
            broker.create_topic(t, self._n_for(t))
        ends: dict[tuple[str, int], int] = {}
        published = 0
        for msg in msgs:
            for t, p, path, n_rows in msg.segments:
                pdir = _pdir(self.log_dir, t, p)
                if (t, p) not in ends:
                    ends[(t, p)] = _segment_end(pdir)
                base = ends[(t, p)]
                os.replace(path, _segment_path(pdir, base))
                ends[(t, p)] = base + n_rows
                published += n_rows
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        return published

    def _discard(self, messages) -> None:
        import shutil

        shutil.rmtree(self.stage_dir, ignore_errors=True)

    def commit(self, messages) -> None:
        self._publish(messages)

    def abort(self, messages) -> None:
        self._discard(messages)


class KafkaSimStreamWriter(KafkaSimWriter, DataSourceStreamArrowWriter):
    """Streaming flavor: per-epoch two-phase commit. Default delivery
    is at-least-once exactly like Spark's real Kafka sink (an epoch
    replayed after a crash-between-commit-and-checkpoint appends
    again). With ``exactlyOnce=true`` + a stable ``writerId`` option,
    commit keeps a batch journal at
    ``{log_dir}/.sink_state/{writerId}.json`` and a replayed batchId
    discards its staged files instead of re-appending — idempotent
    producer semantics (the file-journal analog of Kafka's
    transactional producer epoch fencing)."""

    def __init__(self, schema, options: dict):
        super().__init__(schema, options)
        self.exactly_once = options.get("exactlyonce", "false") == "true"
        if self.exactly_once and "writerid" not in options:
            raise ValueError("kafkasim: exactlyOnce needs a stable writerId")
        self._journal = os.path.join(
            self.log_dir, ".sink_state", f"{options.get('writerid', '')}.json"
        )

    def _committed(self) -> int:
        if not os.path.exists(self._journal):
            return -1
        try:
            with open(self._journal) as f:
                return int(json.load(f)["last_batch"])
        except (OSError, ValueError, KeyError, json.JSONDecodeError):
            return -1

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        if self.exactly_once:
            if batchId <= self._committed():
                self._discard(messages)  # replayed epoch: drop, don't append
                return
            self._publish(messages)
            os.makedirs(os.path.dirname(self._journal), exist_ok=True)
            tmp = self._journal + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"last_batch": batchId}, f)
            os.replace(tmp, self._journal)
        else:
            self._publish(messages)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._discard(messages)


class KafkaSimDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kafkasim"

    def schema(self) -> str:
        return SCHEMA

    def _norm_options(self) -> dict:
        return {k.lower(): v for k, v in self.options.items()}

    def reader(self, schema) -> DataSourceReader:
        return KafkaSimBatchReader(self._norm_options())

    def streamReader(self, schema) -> DataSourceStreamReader:
        return KafkaSimStreamReader(self._norm_options())

    def writer(self, schema, overwrite: bool) -> KafkaSimWriter:
        if overwrite:
            raise ValueError("kafkasim is an append-only log; use append mode")
        return KafkaSimWriter(schema, self._norm_options())

    def streamWriter(self, schema, overwrite: bool) -> KafkaSimStreamWriter:
        return KafkaSimStreamWriter(schema, self._norm_options())


def register(spark) -> None:
    """Idempotent per-session registration of the kafkasim format."""
    spark.dataSource.register(KafkaSimDataSource)
