"""Self-test: every workload at a tiny size, untraced and traced.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that the last output line is the result object, that every metric of
BENCHMARK.json is printed with its unit, and that the correctness checks
pass. Takes a few minutes (one Spark session per run).
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> tuple[int, dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "4", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) >= 2, p.stdout[-2000:] + p.stderr[-4000:]
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_and_passes_checks(workload, trace):
    rc, detail, result = _run(workload, trace)
    assert result["correct"], detail["checks"]
    assert rc == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and result["failed"] == 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["driver.epochs"]["value"] >= 1
        assert 0 < result["metrics"]["driver.span_coverage"]["value"] <= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(ROOT, "perfbench", f), "rb").read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_replay", "--seed", "1",
         "--seconds", "4", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
