"""Self-test of the benchmark on small inputs (about sf0.001) and short
windows. Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS  # noqa: E402

SMALL = ["--seed", "3", "--seconds", "3", "--scale", "0.1"]


def _bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc, units):
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == set(units)
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], float), name
    assert res["attempted"] >= 1
    return res


def test_planted_wrong_result_lowers_ok_rate():
    proc = _bench("--workload", "query_loops", "--trace", "0", "--plant", "q1_pricing_summary", *SMALL)
    res = _result(proc, E2E_UNITS)
    assert "CHECK FAIL q1_pricing_summary" in proc.stdout
    assert res["metrics"]["ok_rate"]["value"] < 1
    assert res["failed"] > 0 and res["correct"] is False
    for name, unit in E2E_UNITS.items():
        assert f"{name} = " in proc.stdout and f" {unit}\n" in proc.stdout


def test_query_loops_traced_prints_every_layer_metric():
    res = _result(_bench("--workload", "query_loops", "--trace", "1", *SMALL), LAYER_UNITS)
    assert res["correct"] and res["failed"] == 0
    assert res["metrics"]["plans.build_jobs"]["value"] > 0
    assert res["metrics"]["exec.tasks"]["value"] > 0
    assert res["metrics"]["stream.batches"]["value"] > 0


def test_dashboard_live_short_window():
    res = _result(_bench("--workload", "dashboard_live", "--trace", "0", *SMALL),
                  E2E_UNITS)
    assert res["correct"] and res["metrics"]["ok_rate"]["value"] == 1.0
    assert res["metrics"]["latency_ms"]["value"] > 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    proc = _bench("--workload", "query_loops", "--trace", "0", *SMALL, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
