"""DedupIndex retraction (round 9) — completing the retraction family.

The monotone stages filter; the cluster stages cannot (a retracted
BRIDGE doc splits its component), so retract() re-runs connected
components over exactly the affected clusters' surviving edges. These
tests pin: retract == rebuild stage-for-stage (t43 holds the oracle
hash gate), the bridge SPLIT case specifically, the
retraction-sequence crash windows, replay idempotence, compact's
physical resolution, and the reuse/double-delete refusals.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.textops import DedupIndex


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


STAGES = ("bands", "pairs", "verified", "clusters", "verified_clusters")
SUB = "doc_id % 7 = 3"


@pytest.mark.slow
def test_retract_equals_rebuild_all_stages(spark, tmp_path):
    """In-memory and persisted: every stage equals a from-scratch
    build over the survivors (uncapped configuration — exact)."""
    docs = _docs(spark)
    keep = docs.filter(f"not ({SUB})")
    sub_ids = docs.filter(SUB).select(F.col("doc_id").alias("id"))
    want_idx = DedupIndex(keep, "text", "doc_id")
    want = {s: _rows(getattr(want_idx, s)) for s in STAGES}

    idx = DedupIndex(docs, "text", "doc_id")
    for s in STAGES:
        getattr(idx, s)  # force, so retract exercises filter + relabel
    idx.retract(sub_ids)
    for s in STAGES:
        assert _rows(getattr(idx, s)) == want[s], s

    p = str(tmp_path / "idx")
    DedupIndex(docs, "text", "doc_id").save(p)
    loaded = DedupIndex.load(spark, p)
    loaded.retract(sub_ids)
    loaded.retract_saved(p)
    served = DedupIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(served, s)) == want[s], s
    assert M.check_dedup_index(spark, p)["ok"]
    m = storage.read_control_row(f"{p}/meta")
    assert m["n_retractions"] == 1
    assert m["max_doc_id"] == docs.agg(F.max("doc_id")).first()[0]


def _bridge_corpus(spark):
    """A 5-doc similarity CHAIN (20-word windows sliding by 4 over a
    40-word vocabulary): adjacent docs band-collide, the far ends do
    not, and doc 3 is the only path between {1,2} and {4,5} —
    retracting it must SPLIT the cluster. (Construction verified
    deterministic under the md5 hash family.)"""
    vocab = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon "
        "one two three four five six seven eight nine ten "
        "eleven twelve thirteen fourteen fifteen sixteen seventeen "
        "eighteen nineteen twenty"
    ).split()
    rows = [
        (i + 1, " ".join(vocab[i * 4 : i * 4 + 20])) for i in range(5)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bridge_retraction_splits_cluster(spark, tmp_path):
    docs = _bridge_corpus(spark)
    idx = DedupIndex(docs, "text", "doc_id")
    labels = {r["id"]: r["cluster"] for r in idx.clusters.collect()}
    # precondition: one component spanning the whole chain through 3
    assert len(labels) == 5 and len(set(labels.values())) == 1, labels
    idx.retract(spark.createDataFrame([(3,)], "id long"))
    after = {r["id"]: r["cluster"] for r in idx.clusters.collect()}
    assert 3 not in after
    assert after[1] == after[2] and after[4] == after[5]
    assert after[1] != after[4]  # the split
    want = _rows(
        DedupIndex(docs.filter("doc_id != 3"), "text", "doc_id").clusters
    )
    assert _rows(idx.clusters) == want


@pytest.mark.slow
def test_crash_windows_and_replay(spark, tmp_path):
    """Uncommitted ledger rows leave every reader pre-retract, the
    probe reports them, compact/append refuse, a different retraction
    refuses, and the same-ids replay converges (labels re-derived,
    drop-don't-trust)."""
    docs = _docs(spark)
    keep = docs.filter(f"not ({SUB})")
    sub_ids = docs.filter(SUB).select(F.col("doc_id").alias("id"))
    p = str(tmp_path / "idx")
    DedupIndex(docs, "text", "doc_id").save(p)
    pre = {s: _rows(getattr(DedupIndex.load(spark, p), s)) for s in STAGES}
    want_idx = DedupIndex(keep, "text", "doc_id")
    want = {s: _rows(getattr(want_idx, s)) for s in STAGES}

    # torn window: ledger rows landed (rseq=1), labels/meta did not
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{p}/retracted")
    for s in STAGES:
        assert _rows(getattr(DedupIndex.load(spark, p), s)) == pre[s], s
    res = M.check_dedup_index(spark, p)
    assert not res["ok"] and "uncommitted_ledger_rows" in res["violations"]
    with pytest.raises(ValueError, match="uncommitted retraction"):
        DedupIndex.compact(spark, p)
    fresh = DedupIndex.load(spark, p)
    fresh.update(
        spark.createDataFrame(
            [(10_000_000, "totally new words for an appended document")],
            "doc_id long, text string",
        ),
        old_docs=docs,
    )
    with pytest.raises(ValueError, match="uncommitted retraction"):
        fresh.append_saved(p)
    other = DedupIndex.load(spark, p)
    other.retract(spark.createDataFrame([(0,)], "id long"))
    with pytest.raises(ValueError, match="DIFFERENT torn retraction"):
        other.retract_saved(p)

    # the same-ids replay purges + re-lands
    replay = DedupIndex.load(spark, p)
    replay.retract(sub_ids)
    replay.retract_saved(p)
    served = DedupIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(served, s)) == want[s], s
    assert M.check_dedup_index(spark, p)["ok"]
    led = spark.read.parquet(f"{p}/retracted")
    assert led.count() == sub_ids.count()

    # committed replay skips without touching state
    r2 = DedupIndex.load(spark, p)
    r2._tomb_delta = sub_ids
    r2.retract_saved(p)
    assert spark.read.parquet(f"{p}/retracted").count() == sub_ids.count()


def test_compact_resolves_then_update_composes(spark, tmp_path):
    """compact drops the retracted rows physically (views unchanged),
    the ledger keeps refusing reuse, and a later update lands clean:
    final == rebuild over (survivors ∪ delta)."""
    docs = _docs(spark)
    keep = docs.filter(f"not ({SUB})")
    sub_ids = docs.filter(SUB).select(F.col("doc_id").alias("id"))
    p = str(tmp_path / "idx")
    DedupIndex(docs, "text", "doc_id").save(p)
    loaded = DedupIndex.load(spark, p)
    loaded.retract(sub_ids)
    loaded.retract_saved(p)
    DedupIndex.compact(spark, p)
    assert (
        spark.read.parquet(f"{p}/bands")
        .join(sub_ids, "id", "left_semi")
        .count()
        == 0
    )
    with pytest.raises(ValueError, match="retracted ids"):
        DedupIndex.load(spark, p).update(
            docs.filter(SUB).limit(1), old_docs=keep
        )
    # full-batch re-retract = the at-least-once replay: idempotent
    idem = DedupIndex.load(spark, p)
    idem.retract(sub_ids)
    idem.retract_saved(p)
    assert storage.read_control_row(f"{p}/meta")["n_retractions"] == 1
    # PARTIAL overlap is the caller bug that refuses
    with pytest.raises(ValueError, match="already\n?\\s*retracted"):
        DedupIndex.load(spark, p).retract(
            sub_ids.unionByName(spark.createDataFrame([(0,)], "id long"))
        )

    new = spark.createDataFrame(
        [(10_000_001, "fresh appended document with its own new words")],
        "doc_id long, text string",
    )
    idx = DedupIndex.load(spark, p)
    idx.update(new, old_docs=keep)
    idx.append_saved(p)
    want_idx = DedupIndex(keep.unionByName(new), "text", "doc_id")
    served = DedupIndex.load(spark, p)
    for s in ("bands", "pairs", "verified"):
        assert _rows(getattr(served, s)) == _rows(getattr(want_idx, s)), s
    assert M.check_dedup_index(spark, p)["ok"]
