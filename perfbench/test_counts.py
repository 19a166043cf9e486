"""The benchmark's own tests: Spark job counts per query repeat exactly.

Job counts are the per-layer figures a later change may claim on, so a
claim needs them to repeat run over run. Each workload runs traced with
the shortest measurement (three passes after set-up, run.MIN_PASSES)
and every query must have launched the same number of jobs in every
pass. Stage counts are not checked: adaptive execution varies them
between repetitions.

Run with: python3 -m pytest perfbench/test_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_jobs_repeat_across_passes(workload: str) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert result["correct"], proc.stdout[-3000:]
    with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed0-trace1.json")) as f:
        jobs_by_query = json.load(f)["jobs_by_query"]
    assert set(jobs_by_query) == set(WORKLOADS[workload])
    for query, jobs in jobs_by_query.items():
        assert len(jobs) >= 3 and len(set(jobs)) == 1, (query, jobs)
