"""RepeatIndex retraction (round 9) — the flip machinery backwards.

Retracting a doc can flip a stored gram's distinct-doc count 2 → 1,
un-repeating positions in the single SURVIVING doc holding it; exactly
those touched docs re-evaluate against the surviving counts. These
tests pin the contract: retract == rebuild on the spans view (the t42
oracle holds the hash gate), the retraction-sequence commit protocol's
crash windows converge on replay, a committed replay skips
idempotently, retracted ids stay dead, compact resolves tombstones and
DELETE sentinels physically, and the probes report every torn state.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.textops import RepeatIndex


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


SUB = "doc_id % 7 = 3"


@pytest.fixture()
def corpus(spark):
    docs = _docs(spark)
    return (
        docs,
        docs.filter(f"not ({SUB})"),
        docs.filter(SUB).select(F.col("doc_id").alias("id")).localCheckpoint(),
    )


@pytest.mark.slow
def test_retract_equals_rebuild_with_flips(spark, tmp_path, corpus):
    """The hash-gate shape: retract == build on survivors, with the
    backward flip path actually exercised (touched_old > 0), and the
    views identical through a reload."""
    docs, keep, sub_ids = corpus
    p = str(tmp_path / "idx")
    idx = RepeatIndex.build(spark, docs, p)
    rep = idx.retract(sub_ids, old_docs=keep)
    assert rep["retracted"] == sub_ids.count()
    assert rep["touched_old"] > 0  # flips exercised, not just filtering

    want = _rows(RepeatIndex.build(spark, keep, str(tmp_path / "want")).spans())
    assert _rows(idx.spans()) == want
    assert _rows(RepeatIndex.load(spark, p).spans()) == want
    assert M.check_repeat_index(spark, p)["ok"]
    m = storage.read_control_row(f"{p}/meta")
    assert m["n_retractions"] == 1
    # retraction consumed a generation (its upserts are committed)
    assert m["n_updates"] == 1
    # max_doc_id never shrinks — ids stay allocated
    assert m["max_doc_id"] == docs.agg(F.max("doc_id")).first()[0]


def test_delete_sentinel_removes_last_repeat(spark, tmp_path):
    """A surviving doc that loses its LAST repeated span must leave
    the spans view (the n_spans=0 upsert sentinel), exactly as a
    rebuild would omit it."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta unique one"),
        (2, "alpha beta gamma delta epsilon zeta eta theta other words"),
        (3, "completely different text with no shared grams here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "idx")
    idx = RepeatIndex.build(spark, docs, p)
    assert {r["id"] for r in idx.spans().collect()} == {1, 2}
    rep = idx.retract(
        spark.createDataFrame([(2,)], "id long"),
        old_docs=docs.filter("doc_id != 2"),
    )
    assert rep["touched_old"] == 1 and rep["spans_rewritten"] == 1
    assert idx.spans().count() == 0  # doc 1 lost its only repeat
    want = _rows(
        RepeatIndex.build(
            spark, docs.filter("doc_id != 2"), str(tmp_path / "want")
        ).spans()
    )
    assert _rows(idx.spans()) == want == []
    # compact drops the sentinel together with the rows it shadowed
    RepeatIndex.load(spark, p).compact()
    assert _rows(RepeatIndex.load(spark, p).spans()) == []
    assert spark.read.parquet(f"{p}/spans").count() == 0
    assert M.check_repeat_index(spark, p)["ok"]


@pytest.mark.slow
def test_crash_windows_converge_on_replay(spark, tmp_path, corpus):
    """Each prefix of {ledger, span upserts, meta} leaves a state the
    probe reports; the same-ids replay purges its uncommitted halves
    and re-lands to exactly the clean-retract state; compact and
    update refuse the torn states."""
    docs, keep, sub_ids = corpus
    p = str(tmp_path / "idx")
    RepeatIndex.build(spark, docs, p)
    clean = str(tmp_path / "clean")
    idx2 = RepeatIndex.build(spark, docs, clean)
    idx2.retract(sub_ids, old_docs=keep)
    want = _rows(RepeatIndex.load(spark, clean).spans())
    pre = _rows(RepeatIndex.load(spark, p).spans())

    # window 1: ledger rows landed (rseq=1), nothing else
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{p}/retracted")
    assert _rows(RepeatIndex.load(spark, p).spans()) == pre  # uncommitted
    res = M.check_repeat_index(spark, p)
    assert not res["ok"] and "uncommitted_ledger_rows" in res["violations"]
    with pytest.raises(ValueError, match="uncommitted"):
        RepeatIndex.load(spark, p).compact()
    with pytest.raises(ValueError, match="uncommitted retraction"):
        RepeatIndex.load(spark, p).update(
            spark.createDataFrame(
                [(10_000_000, "brand new text never seen before today")],
                "doc_id long, text string",
            ),
            old_docs=docs,
        )
    # a DIFFERENT retraction may not claim the torn state
    other = RepeatIndex.load(spark, p)
    with pytest.raises(ValueError, match="DIFFERENT torn retraction"):
        other.retract(
            spark.createDataFrame([(0,)], "id long"), old_docs=keep
        )

    # the same-ids replay purges and re-lands
    rep = RepeatIndex.load(spark, p).retract(sub_ids, old_docs=keep)
    assert rep["retracted"] == sub_ids.count()
    assert _rows(RepeatIndex.load(spark, p).spans()) == want
    assert M.check_repeat_index(spark, p)["ok"]
    led = spark.read.parquet(f"{p}/retracted")
    assert led.count() == sub_ids.count()  # purged duplicate rows

    # window 2 (on the clean state): committed replay skips
    rep2 = RepeatIndex.load(spark, p).retract(sub_ids, old_docs=keep)
    assert rep2.get("replayed") and rep2["retracted"] == 0
    assert _rows(RepeatIndex.load(spark, p).spans()) == want

    # partial overlap is a caller bug
    mixed = sub_ids.limit(3).unionByName(
        spark.createDataFrame([(0,)], "id long")
    )
    with pytest.raises(ValueError, match="already retracted"):
        RepeatIndex.load(spark, p).retract(mixed, old_docs=keep)


def test_compact_resolves_tombstones_then_updates_compose(
    spark, tmp_path, corpus
):
    """compact drops retracted postings/span rows physically, keeps
    the ledger refusing reuse, and a later update composes: final view
    == rebuild on (survivors ∪ new)."""
    docs, keep, sub_ids = corpus
    p = str(tmp_path / "idx")
    idx = RepeatIndex.build(spark, docs, p)
    idx.retract(sub_ids, old_docs=keep)
    idx = RepeatIndex.load(spark, p)
    idx.compact()
    assert (
        spark.read.parquet(f"{p}/postings")
        .join(sub_ids, "id", "left_semi")
        .count()
        == 0
    )
    # reuse still refused after the physical resolve
    reuse = _docs(spark).filter(SUB).limit(1)
    with pytest.raises(ValueError, match="retracted ids"):
        RepeatIndex.load(spark, p).update(reuse, old_docs=keep)

    new = spark.createDataFrame(
        [(10_000_001, "fresh appended document with its own new words")],
        "doc_id long, text string",
    )
    idx = RepeatIndex.load(spark, p)
    idx.update(new, old_docs=keep)
    want = _rows(
        RepeatIndex.build(
            spark, keep.unionByName(new), str(tmp_path / "want")
        ).spans()
    )
    assert _rows(RepeatIndex.load(spark, p).spans()) == want
    assert M.check_repeat_index(spark, p)["ok"]


def test_retract_refusals(spark, tmp_path, corpus):
    """Never-ingested ids and missing old_docs texts refuse loudly."""
    docs, keep, sub_ids = corpus
    p = str(tmp_path / "idx")
    idx = RepeatIndex.build(spark, docs, p)
    with pytest.raises(ValueError, match="never ingested"):
        idx.retract(
            spark.createDataFrame([(10_000_000,)], "id long"), old_docs=keep
        )
    # old_docs missing the touched docs' texts
    with pytest.raises(ValueError, match="missing texts"):
        RepeatIndex.load(spark, p).retract(
            sub_ids, old_docs=keep.limit(0)
        )
