"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. Workloads:

- ``query_loops``: closed loop, one client, round-robin passes over a
  fixed list of registered queries (see loops.py);
- ``dashboard_live``: open loop, the reference's runtime shape: a
  separate generator process feeds a simulated broker, four streaming
  views keep the dashboard current and a page client polls the
  dashboard server (see live.py).

Inputs are generated from ``--seed`` (datagen.py). Spark runs at
``local[<cpu count>]``. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans and a per-layer table (including
the per-query split, the tracing overhead and, for query_loops, a
local[1] baseline pass) under ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

E2E_UNITS = {
    "setup_s": "s",
    "cycle_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
    "ok_rate": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "exec.write_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_mb": "MB",
    "stream.state_commit_ms": "ms",
    "proc.cpu_util": "ratio",
    "proc.peak_rss_mb": "MB",
    "proc.py_workers": "count",
    "trace.own_ms": "ms",
}
WORKLOADS = ("query_loops", "dashboard_live")
DATA_SCALE = 1.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs
    ap.add_argument("--scale", type=float, default=DATA_SCALE,
                    help="data scale (1.0 = 60k lineitem rows)")
    ap.add_argument("--plant", default=None,
                    help="alter this query's checked result (proves the check bites)")
    return ap.parse_args(argv)


def preflight() -> None:
    """Refuse to run outside a checkout of the engine."""
    need = ["__spark_entry__.py", "tools/parity.py",
            "public_transit_status_with_apache_kafka_spark/session.py"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(
            f"perfbench: not a checkout of the engine (missing {', '.join(missing)}); "
            "run from the repository root\n")
        raise SystemExit(2)


def overhead_vs_untraced(args, traced: dict) -> dict:
    """Traced minus untraced end-to-end medians, against the untraced
    results of this workload, scale and window saved in .perfbench/out/."""
    import statistics

    from harness import OUT_DIR

    prior = []
    for f in glob.glob(os.path.join(OUT_DIR, f"result-{args.workload}-trace0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if (r["scale"], r["seconds"]) == (args.scale, args.seconds) and not r.get("check_failures"):
            prior.append(r["e2e"])
    if not prior:
        return {"untraced_runs": 0}
    out = {"untraced_runs": len(prior)}
    for k in ("cycle_s", "latency_ms", "throughput_per_s"):
        base = statistics.median(p[k] for p in prior)
        out[k] = {"traced": traced[k], "untraced_median": base,
                  "delta": traced[k] - base, "delta_share": traced[k] / base - 1}
    return out


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    preflight()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

    import datagen
    import harness
    from harness import ProcSampler, Tracer, WorkDir, log

    work = WorkDir(args.workload, args.seed)
    sampler = ProcSampler().start()
    gen_proc = None
    try:
        if args.workload == "dashboard_live":
            import live

            gen_proc = live.launch_generator(work, args.seconds, args, sampler)
        else:
            data_dir = datagen.write(work.sub("data"), args.seed, args.scale)
        cpus = os.cpu_count() or 1
        s0 = time.time()
        spark = harness.start_spark(work, cpus, f"perfbench-{args.workload}")
        session_s = time.time() - s0
        listener = harness.progress_listener(spark)
        tracer = Tracer(args.workload, bool(args.trace), spark)
        log(f"{args.workload} seed={args.seed} local[{cpus}] session {session_s:.1f}s")

        if args.workload == "query_loops":
            import loops

            res = loops.run(spark, tracer, sampler, listener, data_dir, args.seconds,
                            args, T_START, session_s)
        else:
            res = live.run(spark, tracer, sampler, listener, work, args.seconds,
                           T_START, session_s, gen_proc)
        sampler.stop()
        res["layer"]["proc.peak_rss_mb"] = sampler.peak_rss / 2**20
        res["layer"]["proc.py_workers"] = sampler.peak_workers
        n_ops = max(1, res["attempted"])
        res["layer"]["trace.own_ms"] = tracer.own_s * 1000 / n_ops

        report = {k: v for k, v in res.items()
                  if k in ("e2e", "layer", "per_query", "live", "check_failures")}
        report.update(workload=args.workload, seed=args.seed, trace=args.trace,
                      cpus=cpus, scale=args.scale, seconds=args.seconds)
        if args.trace:
            report["spans_file"] = tracer.write(work.tag)
            report["trace_overhead"] = overhead_vs_untraced(args, res["e2e"])
            if args.workload == "query_loops":
                def factory(n):
                    spark.stop()
                    return harness.start_spark(work, n, "perfbench-local1")
                report["local1"] = loops.local1_pass(factory, data_dir, res["names"], res["fns"])
                report["local1"]["local_n_cycle_s"] = res["e2e"]["cycle_s"]
        out = os.path.join(harness.OUT_DIR, f"result-{args.workload}-trace{args.trace}-{work.tag}.json")
        with open(out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True, default=str)
        if args.trace:
            log(f"layer table: {out}")
            for k in sorted(res["layer"]):
                log(f"  {k:<28} {res['layer'][k]:.4g} {LAYER_UNITS[k]}")
            for q, row in sorted(res.get("per_query", {}).items()):
                log(f"  {q:<28} " + " ".join(f"{k}={v:.4g}" for k, v in row.items()))
        for k in E2E_UNITS:
            log(f"{k} = {res['e2e'][k]:.6g} {E2E_UNITS[k]}")

        correct = res["failed"] == 0 and not res.get("check_failures")
        if args.trace:
            harness.emit(correct, res["attempted"], res["failed"], res["layer"], LAYER_UNITS)
        else:
            harness.emit(correct, res["attempted"], res["failed"], res["e2e"], E2E_UNITS)
        return 0
    finally:
        harness.stop_jvm()
        if gen_proc is not None and gen_proc.poll() is None:
            gen_proc.kill()
            gen_proc.wait()
        work.remove()


if __name__ == "__main__":
    sys.exit(main())
