"""End-to-end tests of the benchmark command at the size it measures (five
runs, each starting Spark; about six minutes in all on 4 cores).

- two traced runs with the same seed give identical Spark job and stage
  counts over the part of a run that the seed fixes (set-up plus the first
  requests; the whole pass for analytics);
- every output check passes, so ``failed`` is 0;
- an untraced run prints exactly the end-to-end metrics.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_traced_runs_repeat_job_and_stage_counts(workload):
    (ra, a), (rb, b) = _run(workload, 3, 1), _run(workload, 3, 1)
    assert a["failed"] == 0 and b["failed"] == 0, (ra["failures"], rb["failures"])
    for key in ("spark.fixed.jobs", "spark.fixed.stages"):
        assert a["metrics"][key]["value"] == b["metrics"][key]["value"] > 0, key
    strip = lambda kinds: {k: (v["jobs"], v["stages"]) for k, v in kinds.items()}  # noqa: E731
    assert strip(ra["spark_by_kind"]) == strip(rb["spark_by_kind"])


def test_untraced_run_prints_the_end_to_end_metrics():
    report, result = _run("store", 4, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {"calib_sec", "calib_io_sec", "nproc", "spark_version"} <= set(report["context"])
