"""Shared pieces of the benchmark: the run's working directory, the
Spark session, /proc sampling of the process tree, the stream-progress
listener, spans with Spark job counts, and the result line.

Everything a run writes goes under ``.perfbench/`` at the root of the
checkout the benchmark runs from.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench", "out")
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ stats


def pct(values, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no samples")
    return v[min(len(v) - 1, max(0, int(round(q / 100.0 * len(v) + 0.5)) - 1))]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values, q: float, name: str, log) -> float | None:
    """Percentile, or None (not reported) with fewer than 10 samples
    beyond it. Logs the sample count either way."""
    beyond = int(len(values) * (100 - q) / 100)
    log(f"{name}: {len(values)} samples, {beyond} beyond p{q:g}")
    return pct(values, q) if beyond >= 10 else None


# -------------------------------------------------------------- work dir


class WorkDir:
    """Per-run scratch under .perfbench/ (removed at the end) plus the
    shared output dir for spans and layer tables (kept)."""

    def __init__(self, workload: str, seed: int):
        self.tag = f"{workload}-seed{seed}-pid{os.getpid()}"
        self.path = os.path.join(ROOT, ".perfbench", "run", self.tag)
        for sub in ("data", "scratch", "tmp", "broker"):
            os.makedirs(os.path.join(self.path, sub), exist_ok=True)
        os.makedirs(OUT_DIR, exist_ok=True)

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: WorkDir, cpus: int, app: str):
    """The engine's own session factory and defaults, except that every
    scratch location points inside the run's work dir: a run writes only
    inside its checkout, so spark.local.dir (shuffle, spill) is on the
    checkout's disk, not on the /dev/shm tmpfs the engine picks when it
    can."""
    os.environ["SPARK_GRAFT_SCRATCH"] = work.sub("scratch")
    os.environ["TMPDIR"] = tempfile.tempdir = work.sub("tmp")  # workers and this process
    from public_transit_status_with_apache_kafka_spark.session import get_spark

    spark = get_spark(
        app,
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.sub('tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext (if any) and the JVM the driver launched,
    and wait for the JVM process to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------------ /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int, exclude: set[int]) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime stime cutime cstime (fields 14-17 of stat)
        return sum(int(x) for x in fields[11:15]) / TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def _is_py_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class ProcSampler:
    """Samples the benchmark's process tree (this Python driver, the JVM
    and its Python workers; the load generator is excluded) every
    ``period`` s: peak summed RSS, peak Python-worker count."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        pids = tree_pids(os.getpid(), self.exclude)
        self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in pids))
        self.peak_workers = max(self.peak_workers, sum(_is_py_worker(p) for p in pids))

    def cpu_s(self) -> float:
        return sum(_cpu_s(p) for p in tree_pids(os.getpid(), self.exclude))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


# ------------------------------------------------------ stream progress


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event
    (as a dict) in ``listener.events``; returns the listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.events.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self.lock:
                return list(self.events)

    listener = Collector()
    spark.streams.addListener(listener)
    return listener


def commit_time(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished: its trigger start
    (``timestamp``) plus ``triggerExecution``."""
    from datetime import datetime

    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def stream_layer(events: list[dict]) -> dict[str, float]:
    """Per-batch medians of the trigger phases plus batch/state totals."""
    def dur(key):
        return median([e["durationMs"].get(key, 0) for e in events])

    state = [op for e in events for op in e.get("stateOperators", [])]
    return {
        "stream.batches": len(events),
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.state_rows": max([op.get("numRowsTotal", 0) for op in state] or [0]),
        "stream.state_mem_mb": max([op.get("memoryUsedBytes", 0) for op in state] or [0]) / 2**20,
        "stream.state_commit_ms": median([op.get("commitTimeMs", 0) for op in state]),
    }


# ------------------------------------------------------------------ spans


class Tracer:
    """Times calls into the engine. Always measures wall time; when
    enabled it also keeps one span per call (name, start, end, parent,
    workload, query) and, for calls given a Spark job group, counts the
    jobs, stages and tasks that group ran via ``statusTracker``."""

    def __init__(self, workload: str, enabled: bool, spark):
        self.workload = workload
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.own_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()  # span stack per thread
        self._lock = threading.Lock()
        self._seq = 0

    @contextmanager
    def span(self, name: str, query: str | None = None, jobs: bool = False):
        rec = {"t": 0.0}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["t"] = time.perf_counter() - t0
            return
        b0 = time.perf_counter()
        with self._lock:
            self._seq += 1
            sid = self._seq
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sc = self.spark.sparkContext if jobs else None
        group = f"pb-{sid}"
        if sc is not None:
            sc.setJobGroup(group, f"{name}:{query}")
        stack.append(sid)
        self._own(time.perf_counter() - b0)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t"] = time.perf_counter() - t0
            b1 = time.perf_counter()
            end = time.time()
            stack.pop()
            span = {"id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "workload": self.workload, "query": query}
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                span.update(job_counts(sc, group))
                rec.update(span)
            self.spans.append(span)
            self._own(time.perf_counter() - b1)

    def _own(self, dt: float) -> None:
        with self._lock:  # spans close on server threads too
            self.own_s += dt

    def write(self, tag: str) -> str | None:
        if not self.enabled:
            return None
        path = os.path.join(OUT_DIR, f"spans-{tag}.jsonl")
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        return path


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages run (skipped ones excluded) and tasks completed by
    one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ----------------------------------------------------------------- result


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    """Print the result object as the last line of stdout."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)
