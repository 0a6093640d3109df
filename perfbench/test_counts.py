"""Count metrics repeat exactly across two traced runs with one seed, so
later changes can state counts as noise-free figures.

    python3 -m pytest perfbench/test_counts.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = {
    "nl_analytics": ["spark.jobs_per_request", "nl.llm_calls_per_request"],
    "telco_ingest": [
        "spark.jobs_per_request",
        "spark.jobs_per_read",
        "formats.jobs_per_append",
        "formats.write_amp",
        "formats.data_files_max",
    ],
    "stream_pipe": [
        "spark.jobs_per_drain",
        "streaming.batches_per_drain",
        "streaming.empty_drains",
        "formats.jobs_per_append",
    ],
    "vector_search": ["spark.jobs_per_request"],
}


def _traced_run(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(COUNTS))
def test_counts_repeat_for_one_seed(workload):
    first, second = _traced_run(workload, 7), _traced_run(workload, 7)
    assert first["correct"] and second["correct"]
    for name in COUNTS[workload]:
        a, b = first["metrics"][name]["value"], second["metrics"][name]["value"]
        assert a > 0 or name == "streaming.empty_drains", f"{workload}: {name} was not measured"
        assert a == b, f"{workload}: {name} differs between runs: {a} vs {b}"
