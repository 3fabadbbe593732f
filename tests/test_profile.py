"""scripts/profile_queries.py: the layer arithmetic over hand-built
task ends (Spark-free) and one run of the tool on a tiny query."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TOOL = ROOT / "scripts" / "profile_queries.py"


def _tool():
    spec = importlib.util.spec_from_file_location("profile_queries", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _task_end(stage, run_ms, scan_ms=0, codegen_ms=(), write_ns=0, fetch_ms=0):
    acc = [{"Name": "scan time", "Update": scan_ms}]
    acc += [{"Name": "duration", "Update": d} for d in codegen_ms]
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Write Metrics": {"Shuffle Write Time": write_ns},
            "Shuffle Read Metrics": {"Fetch Wait Time": fetch_ms},
        },
    })


def test_layers_clip_overlapping_codegen_to_task_time():
    P = _tool()
    lines = [
        json.dumps({"Event": "SparkListenerJobStart"}),
        # two nested codegen stages each count the whole 100 ms task:
        # their sum (190 ms) overlaps, and the scan is inside both
        _task_end(0, 100, scan_ms=30, codegen_ms=(95, 95), write_ns=10_000_000),
        # no overlap: 20 ms of the 50 ms task is in no layer
        _task_end(1, 50, codegen_ms=(20,), fetch_ms=10),
        _task_end(2, 999, codegen_ms=(999,)),  # a stage outside the span
    ]
    per_stage = P.stage_layers(lines)
    got = P.layers(per_stage, [0, 1])
    # stage 0: catalyst = min(190 - 30, 100 - 30 - 10) = 60
    assert abs(got["catalyst_s"] - (0.060 + 0.020)) < 1e-9
    assert abs(got["scan_s"] - 0.030) < 1e-9
    assert abs(got["exchange.write_s"] - 0.010) < 1e-9
    assert abs(got["exchange.fetch_wait_s"] - 0.010) < 1e-9
    assert abs(got["task_s"] - 0.150) < 1e-9
    assert 0 <= got["coverage"] <= 1
    assert abs(got["coverage"] - 0.130 / 0.150) < 1e-9
    assert P.layers(per_stage, [])["coverage"] == 0.0


def test_profile_tool_runs_a_tiny_query():
    name = "q1_pricing_summary"
    out = ROOT / ".perfbench_work" / "profile" / f"{name}.json"
    if out.exists():
        out.unlink()
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"}
    p = subprocess.run([sys.executable, str(TOOL), name], cwd=ROOT, env=env,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    assert f"| `{name}` |" in p.stdout
    got = json.loads(out.read_text())
    for key in ("driver.jobs", "driver.stages", "driver.gap_s", "exchange.shuffle_bytes",
                "exchange.fetch_wait_s", "exchange.write_s", "python.worker_s",
                "tasks.failed", "scan_s", "catalyst_s", "coverage"):
        assert key in got, key
    assert got["driver.jobs"] >= 1
    assert got["tasks.failed"] == 0
    assert 0 <= got["coverage"] <= 1
