"""Two traced runs with the same seed start the same Spark jobs per
operation and write the same index bytes, so later changes can cite
these numbers as counts. Each run launches Spark (about a minute)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _traced(workload: str, seed: int) -> dict:
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "6", "--trace", "1"],
        cwd=ROOT, check=True, capture_output=True, timeout=600,
    )
    with open(os.path.join(ROOT, ".perfbench", "artifacts", f"{workload}-seed{seed}.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", ["inventory_queries", "index_lifecycle"])
def test_counts_repeat_across_runs(workload):
    first, second = _traced(workload, 11), _traced(workload, 11)
    assert all(op["ok"] for op in first["ops"] + second["ops"])

    def counts(art):
        return {
            op["op"]: (op["jobs"], op.get("fs_written"), op["spark"].get("jobs"))
            for op in art["ops"]
        }

    assert counts(first) == counts(second)
    if workload == "index_lifecycle":
        assert any(op["fs_written"]["bytes"] for op in first["ops"])
