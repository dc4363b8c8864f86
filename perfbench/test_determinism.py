"""The traced run's counts repeat exactly for a given seed.

Spark jobs per span, commits, files written, plan scan nodes, persisted
RDDs and the row counts the layers report are properties of the program
and its inputs, not of the machine, so two traced runs with the same seed
must agree on every one of them. Slow (two traced runs per workload):

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metrics that are counts, not times or rates
COUNTS = [
    "job.spark_jobs_per_call", "icelite.spark_jobs_per_merge",
    "icelite.commits", "icelite.files_written", "icelite.read_scan_nodes",
    "icelite.pending_delete_sets", "curate.delta_rows", "curate.inserted",
    "curate.retracted", "curate.spark_jobs", "wet.records",
    "wet.spark_jobs", "streaming.rows_per_batch", "ops.candidate_pairs",
    "ops.persisted_rdds_after", "units.cycles", "units.batches",
]


def traced_counts(workload: str, seed: int) -> dict:
    """The count metrics of one traced run, plus the Spark jobs of every
    span of its timed phase in call order."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "4", "--trace", "1"],
        cwd=ROOT, check=True, capture_output=True, text=True,
        timeout=600).stdout
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"], result
    counts = {k: result["metrics"][k]["value"] for k in COUNTS}
    dump = os.path.join(ROOT, ".perfbench", "traces",
                        f"{workload}-seed{seed}-{workload}.jsonl")
    with open(dump) as f:
        spans = [json.loads(line) for line in f]
    counts["span_jobs"] = [(s["name"], s["own_jobs"]) for s in spans]
    return counts


@pytest.mark.parametrize("workload", ["crawl_backfill", "topup_recrawl"])
def test_counts_repeat_for_a_seed(workload):
    assert traced_counts(workload, 5) == traced_counts(workload, 5)
