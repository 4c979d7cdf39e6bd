"""Read amplification before vs after CurationState.compact().

Every `update` appends O(shuffle-partitions) small files to the
append-only substrates and one tombstone file per retraction batch,
and every `working()` read replays the tombstone anti-join. This
script measures what a reader actually pays after a run of daily
deltas, then after one `compact()`:

- data-file counts per substrate (the open/footer cost drivers);
- min-of-3 wall time of the two hot maintained reads — ``working()``
  (append log minus tombstones) and ``curated()`` (working +
  contamination anti-join).

Usage: python scripts/compaction_read_amp.py [--sf /root/testdata/sf0.1]
Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from lp_etl_plugins_spark import storage

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DELTAS = 6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lp_etl_plugins_spark.incremental import CurationState
    from lp_etl_plugins_spark.session import get_spark
    from lp_etl_plugins_spark.tables import load_table
    spark = get_spark("compaction-read-amp", cpus=os.cpu_count() or 8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        load_table(spark, args.sf, "documents")
        .filter(F.col("doc_id") % 8 == 0)
        .select("doc_id", "source", "text")
    )
    hi = docs.agg(F.max("doc_id")).first()[0]
    cut = (hi * 7) // 10
    step = max((hi - cut) // N_DELTAS, 1)

    path = tempfile.mkdtemp(prefix="compaction_amp_")
    try:
        st = CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), path)
        for i in range(N_DELTAS):
            lo = cut + i * step
            up = hi if i == N_DELTAS - 1 else cut + (i + 1) * step
            st.update(
                docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= up))
            )

        subs = ("indexed", "hashes", "working", "tombstones", "grams",
                "contam", "index/bands", "index/pairs", "index/verified")

        def probe() -> dict:
            out = {"files": {s: storage.count_data_files(f"{path}/{s}") for s in subs}}
            for name, mk in (("working_read_s", st.working),
                             ("curated_read_s", st.curated)):
                best = min(
                    _timed(lambda: mk().count()) for _ in range(3)
                )
                out[name] = round(best, 3)
            return out

        def _timed(fn) -> float:
            t0 = time.perf_counter()
            fn()
            return time.perf_counter() - t0

        before = probe()
        t0 = time.perf_counter()
        st.compact()
        compact_s = round(time.perf_counter() - t0, 3)
        after = probe()
        print(json.dumps({
            "sf": args.sf,
            "n_updates": N_DELTAS,
            "before": before,
            "after": after,
            "compact_s": compact_s,
        }))
    finally:
        shutil.rmtree(path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
