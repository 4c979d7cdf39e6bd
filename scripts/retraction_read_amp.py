"""Read amplification of a GROWING retraction ledger (round 10).

`scripts/compaction_read_amp.py` measures the append-log side of
merge-on-read; this measures the DELETION side: every committed
retraction batch appends one small file to the `retracted` ledger,
and every live read replays a broadcast anti-join (vector
`live_lists`) or a negative-segment merge (trigram live counts)
against it. The 100 TB claim is that this cost is bounded by the
MAINTENANCE CADENCE, not the deletion history — this script measures
the curve that claim rests on, and the knee is what
`vacuum(max_tombstone_frac=...)` should be set to.

Protocol per family (vector, trigram): build + save the index once,
then land B committed retraction batches (disjoint live ids each) and
probe the hot served read at cumulative checkpoints 1/4/16/64 —
min-of-3 wall time, ledger file/row counts — then `compact()` once
and probe again (the post-maintenance floor).

Usage: python scripts/retraction_read_amp.py [--sf /root/testdata/sf0.1]
Prints a markdown table (paste into SCALE.md) plus one JSON line.
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

CHECKPOINTS = (1, 4, 16, 64)
BATCH = 25  # ids per retraction batch — small takedown-sized deltas


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _probe(read_fn, path: str, ledger: str) -> dict:
    files = storage.count_data_files(f"{path}/{ledger}") if storage.parquet_dir_exists(
        f"{path}/{ledger}"
    ) else 0
    return {
        "ledger_files": files,
        "read_s": round(min(_timed(read_fn) for _ in range(3)), 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lp_etl_plugins_spark.session import get_spark
    from lp_etl_plugins_spark.tables import load_table
    from lp_etl_plugins_spark.textops import TrigramLM
    from lp_etl_plugins_spark.vectorops import VectorIndex

    spark = get_spark("retraction-read-amp", cpus=os.cpu_count() or 8)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"sf": args.sf, "batch": BATCH, "families": {}}
    root = tempfile.mkdtemp(prefix="retraction_amp_")
    try:
        # ---------------------------------------------------- vector
        emb = load_table(spark, args.sf, "embeddings")
        vp = f"{root}/vidx"
        VectorIndex(emb).save(vp)
        idx = VectorIndex.load(spark, vp)
        probes = emb.orderBy("vec_id").limit(8).select(
            "vec_id", "embedding"
        ).localCheckpoint()

        def vread() -> None:
            cur = VectorIndex.load(spark, vp)
            cur.search(probes, k=3, nprobe=2).count()

        curve = {"0": _probe(vread, vp, "tombstones")}
        live = [r[0] for r in idx.live_lists().select("id").orderBy("id").collect()]
        landed = 0
        for cp in CHECKPOINTS:
            while landed < cp:
                ids = spark.createDataFrame(
                    [(int(i),) for i in live[landed * BATCH:(landed + 1) * BATCH]],
                    "id long",
                )
                cur = VectorIndex.load(spark, vp)
                cur.retract(ids)
                cur.retract_saved(vp)
                landed += 1
            curve[str(cp)] = _probe(vread, vp, "tombstones")
        t0 = time.perf_counter()
        VectorIndex.compact(spark, vp)
        curve["compact_s"] = round(time.perf_counter() - t0, 3)
        curve["after_compact"] = _probe(vread, vp, "tombstones")
        out["families"]["vector"] = curve

        # --------------------------------------------------- trigram
        docs = (
            load_table(spark, args.sf, "documents")
            .filter(F.col("doc_id") % 4 == 0)
            .select("doc_id", "source", "text")
        )
        lp = f"{root}/lm"
        TrigramLM(docs, "text", "doc_id").save(lp)
        doc_ids = [r[0] for r in docs.select("doc_id").orderBy("doc_id").collect()]

        def lread() -> None:
            lm = TrigramLM.load(spark, lp)
            lm._counts.groupBy("g").agg(F.sum("c").alias("c")).filter(
                F.col("c") != 0
            ).count()

        lcurve = {"0": _probe(lread, lp, "retracted")}
        landed = 0
        for cp in CHECKPOINTS:
            while landed < cp:
                batch_ids = set(doc_ids[landed * BATCH:(landed + 1) * BATCH])
                sub = docs.filter(F.col("doc_id").isin(list(batch_ids)))
                lm = TrigramLM.load(spark, lp)
                lm.retract(sub)
                lm.retract_saved(lp)
                landed += 1
            lcurve[str(cp)] = _probe(lread, lp, "retracted")
        t0 = time.perf_counter()
        TrigramLM.compact(spark, lp)
        lcurve["compact_s"] = round(time.perf_counter() - t0, 3)
        lcurve["after_compact"] = _probe(lread, lp, "retracted")
        out["families"]["trigram"] = lcurve

        # ------------------------------------------------- markdown
        print("| family | ledger batches | ledger files | served read (s) |")
        print("|---|---|---|---|")
        for fam, c in out["families"].items():
            for cp in ("0",) + tuple(str(x) for x in CHECKPOINTS):
                p = c[cp]
                print(f"| {fam} | {cp} | {p['ledger_files']} | {p['read_s']} |")
            p = c["after_compact"]
            print(
                f"| {fam} | compacted ({c['compact_s']} s) "
                f"| {p['ledger_files']} | {p['read_s']} |"
            )
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
