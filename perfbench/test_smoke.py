"""The benchmark's own test: smoke mode end to end, and BENCHMARK.json
against the metric tables in run.py.

    python -m pytest perfbench/test_smoke.py -q     # about three minutes
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _session_pids(sid: int) -> list[int]:
    """Processes (zombies too) still in session ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def test_benchmark_json_matches_run_tables():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_smoke_runs_every_workload_with_checks():
    # its own session, so that anything it leaves running can be found
    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = p.communicate(timeout=900)
    assert p.returncode == 0, stderr[-4000:]
    assert _session_pids(p.pid) == []
    record, result = (json.loads(line) for line in stdout.strip().split("\n")[-2:])
    assert result["correct"] and result["failed"] == 0
    assert [r["workload"] for r in record["runs"]] == [w["name"] for w in _spec()["workloads"]]
    for r in record["runs"]:
        assert r["checks"] and all(c["ok"] for c in r["checks"]), r["checks"]
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_scratch"))


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "capex_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0 and p.stdout == ""
