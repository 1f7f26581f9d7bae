"""The per-layer counts repeat exactly, so later changes may cite them.

Runs one seed twice per workload with ``--trace 1`` and asserts that every
op at the same position of the round reports the same provider queries,
scan-build Spark jobs, paths handed to ``spark.read.parquet``, catalog
statements and data files written, in every traced round of both runs.

    python3 -m pytest lakebench/test_counts.py      # from the repo root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT = ("provider.queries", "scan.spark_jobs", "scan.parquet_paths",
         "commit.statements", "writer.files_written")
SEED = 7


def traced_run(workload: str) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("lakebench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "6",
         "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], out.stderr[-4000:]
    with open(os.path.join(ROOT, ".lakebench",
                           f"spans-{workload}-{SEED}.json")) as f:
        return json.load(f)


def counts_by_position(spans: dict) -> dict:
    """{'<index>:<op name>': [count tuple of each traced round]}"""
    out: dict = {}
    for op in spans["ops"]:
        out.setdefault(op["name"], []).append(
            tuple(op["counts"].get(k, 0) for k in EXACT))
    return out


@pytest.mark.parametrize("workload", ["lake_many_files", "lake_write_mix"])
def test_counts_repeat_exactly(workload):
    first = counts_by_position(traced_run(workload))
    second = counts_by_position(traced_run(workload))
    assert first.keys() == second.keys()
    for op, rounds in first.items():
        seen = set(rounds) | set(second[op])
        assert len(seen) == 1, f"{workload} {op}: {sorted(seen)} for {EXACT}"
    # the counters are live: scan assembly and commits did happen
    total = [sum(v[0][i] for v in first.values()) for i in range(len(EXACT))]
    assert total[0] > 0 and total[2] > 0 and total[3] > 0 and total[4] > 0


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
