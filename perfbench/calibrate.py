"""Measure each inventory query's cost once and write ``costs.json``,
which sizes the query panel.

    python3 perfbench/calibrate.py [--seed N]

Runs every query of ``inventory_queries`` once, in a fresh Spark
application (the same set-up as a benchmark run), and records the
seconds each took. Re-run it when queries are
added or their cost changes a lot; the panel takes about --seconds only
as long as these numbers hold.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _costs(seed: int) -> dict[str, float]:
    from perfbench import run as R

    args = types.SimpleNamespace(workload="inventory_queries", seed=seed, seconds=1e9, trace=0)
    work = os.path.join(R.ROOT, ".perfbench", f"calibrate-{os.getpid()}")
    R._environment(work, False)
    bench = R.Bench(args, work)
    try:
        # the steps of Bench.set_up without its warm-up pass
        bench.sf_scale = R.QUERY_SF
        bench._start()
        bench.sf_dir = bench._inputs(R.QUERY_SF, 0)
        bench._prepare()
        rows = bench.measure(bench.rounds[:1], "c")
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    return {r["name"]: r["s"] for r in rows if r["error"] is None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    seconds = _costs(args.seed)
    doc = {
        "about": "seconds per query, first run in a fresh application; sizes the query panel",
        "host": f"{os.cpu_count()} CPUs, {platform.machine()}",
        "seconds": {k: round(v, 3) for k, v in sorted(seconds.items())},
    }
    with open(os.path.join(HERE, "costs.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
