"""Pipeline-level retraction (round 10 — VERDICT r9 Next #1).

``CurationState.retract(ids)`` composes the five family retraction
protocols the state embeds: root retraction-sequence ledger, the
index's own fenced ``retract_saved``, commitment-gated working/
tombstone writes (including append-only RESURRECTION records for
displaced canonicals whose displacer dies), incremental
decontamination with bidirectional df flips, and a same-ids replay
that converges. These tests pin ``retract == build(corpus ∖ r)`` on
every maintained view, the re-election / split / resurrection cases,
replay idempotence and every refusal, vacuum's roll-FORWARD repair,
the streaming deletion absorber, and the pay-for-play plan contract.

The t44 oracle twin (``t44_pipeline_retraction``) carries the DuckDB
hash gate; these tests carry the structural coverage.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import incremental as INC
from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import textops as T


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


VIEWS = ("indexed", "working", "contamination", "curated")


def _views(st):
    return {v: _rows(getattr(st, v)()) for v in VIEWS}


def _assert_views_equal(got, want, ctx=""):
    for v in VIEWS:
        assert got[v] == want[v], (ctx, v)


@pytest.mark.slow
def test_retract_equals_rebuild_with_reelection(spark, tmp_path):
    """Retract the CANONICALS of multi-member verified clusters plus a
    slice of ordinary docs: surviving members must re-elect winners
    (working_adds > 0) and every view must equal a from-scratch build
    over the survivors."""
    docs = _docs(spark)
    st = INC.CurationState.build(spark, docs, str(tmp_path / "state"))
    vc = st.dedup_index().verified_clusters.withColumnRenamed("id", "doc_id")
    multi = vc.groupBy("cluster").count().filter("count >= 2").select("cluster")
    live = st.working().select("doc_id")
    canon = (
        vc.join(multi, "cluster", "left_semi")
        .join(live, "doc_id", "left_semi")
        .select("doc_id")
        .limit(12)
    )
    r = (
        canon.unionByName(docs.filter("doc_id % 13 = 5").select("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    keep = docs.join(r, "doc_id", "left_anti")
    want = _views(INC.CurationState.build(spark, keep, str(tmp_path / "want")))

    res = st.retract(r)
    assert res["working_adds"] > 0  # the re-election actually fired
    st2 = INC.CurationState.load(spark, str(tmp_path / "state"))
    _assert_views_equal(_views(st2), want, "in-place")
    chk = st2.check()
    assert chk["ok"], chk
    assert int(st2.meta["n_retractions"]) == 1
    # replay of the full committed set is idempotent
    res2 = st2.retract(r)
    assert res2.get("replayed") and res2["retracted"] == 0
    _assert_views_equal(_views(st2), want, "replayed")


@pytest.mark.slow
def test_resurrection_and_compact(spark, tmp_path):
    """A canonical DISPLACED by an update is resurrected when its
    displacer is retracted — via an append-only counter-record, and
    compact() resolves the whole ledger/tombstone state physically
    with every view preserved."""
    docs = _docs(spark)
    lo = docs.agg(F.expr("percentile(doc_id, 0.7)")).first()[0]
    base = docs.filter(F.col("doc_id") <= lo)
    delta = docs.filter(F.col("doc_id") > lo).localCheckpoint()
    p = str(tmp_path / "state")
    INC.CurationState.build(spark, base, p)
    INC.CurationState.load(spark, p).update(delta)
    st = INC.CurationState.load(spark, p)
    tombs = st._tombstones().select("doc_id")
    assert tombs.first() is not None, "corpus produced no displacement"
    vc = st.dedup_index().verified_clusters.withColumnRenamed("id", "doc_id")
    disp_cl = vc.join(tombs, "doc_id", "left_semi").select("cluster").distinct()
    displacers = (
        vc.join(disp_cl, "cluster", "left_semi")
        .join(st.working().select("doc_id"), "doc_id", "left_semi")
        .select("doc_id")
        .localCheckpoint()
    )
    keep = docs.join(displacers, "doc_id", "left_anti")
    want = _views(INC.CurationState.build(spark, keep, str(tmp_path / "want")))

    res = st.retract(displacers)
    assert res["resurrected"] > 0
    st2 = INC.CurationState.load(spark, p)
    _assert_views_equal(_views(st2), want, "post-retract")
    assert st2.check()["ok"]
    st2.compact()
    st3 = INC.CurationState.load(spark, p)
    _assert_views_equal(_views(st3), want, "post-compact")
    assert st3.check()["ok"]
    # physical resolution actually happened
    assert (
        spark.read.parquet(f"{p}/indexed")
        .join(displacers, "doc_id", "left_semi")
        .first()
        is None
    )


@pytest.mark.slow
def test_retract_after_resurrect_same_watermark(spark, tmp_path):
    """The round-10 review find: retractions never advance the id
    watermark, so a resurrection (retraction R1) and a LATER
    retraction of the resurrected doc (R2) stamp tombstone rows with
    the SAME src_max_id — without rseq in the last-event-wins order,
    R1's resurrection outranked R2's tombstone and the takedown
    silently did not take (the doc stayed served by working()/
    curated() and compact() baked the divergence in). Pins: two
    consecutive retractions with no intervening update, the second
    targeting docs the first resurrected — the resurrected docs must
    be GONE, views equal to a from-scratch rebuild over the
    survivors, before AND after compact."""
    docs = _docs(spark)
    lo = docs.agg(F.expr("percentile(doc_id, 0.7)")).first()[0]
    base = docs.filter(F.col("doc_id") <= lo)
    delta = docs.filter(F.col("doc_id") > lo).localCheckpoint()
    p = str(tmp_path / "state")
    INC.CurationState.build(spark, base, p)
    INC.CurationState.load(spark, p).update(delta)
    st = INC.CurationState.load(spark, p)
    tombs = st._tombstones().select("doc_id")
    assert tombs.first() is not None, "corpus produced no displacement"
    vc = st.dedup_index().verified_clusters.withColumnRenamed("id", "doc_id")
    disp_cl = vc.join(tombs, "doc_id", "left_semi").select("cluster").distinct()
    displacers = (
        vc.join(disp_cl, "cluster", "left_semi")
        .join(st.working().select("doc_id"), "doc_id", "left_semi")
        .select("doc_id")
        .localCheckpoint()
    )

    # R1: retract the displacers — resurrects the displaced docs
    res1 = st.retract(displacers)
    assert res1["resurrected"] > 0
    st2 = INC.CurationState.load(spark, p)
    resurrected = (
        st2._tombstones()
        .filter(F.col("res") & (F.col("rseq") == 1))
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )
    assert resurrected.first() is not None
    # the resurrected docs are live again
    assert (
        st2.working().join(resurrected, "doc_id", "left_semi").count()
        == resurrected.count()
    )

    # R2: retract the RESURRECTED docs — same id watermark as R1
    st2.retract(resurrected)
    st3 = INC.CurationState.load(spark, p)
    assert (
        st3.working().join(resurrected, "doc_id", "left_semi").first()
        is None
    ), "a committed takedown must not be outranked by an older resurrection"
    keep = docs.join(displacers, "doc_id", "left_anti").join(
        resurrected, "doc_id", "left_anti"
    )
    want = _views(INC.CurationState.build(spark, keep, str(tmp_path / "want")))
    _assert_views_equal(_views(st3), want, "post-R2")
    assert st3.check()["ok"]
    st3.compact()
    st4 = INC.CurationState.load(spark, p)
    _assert_views_equal(_views(st4), want, "post-compact")
    assert st4.check()["ok"]


def test_refusals(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs, p)
    r1 = docs.filter("doc_id % 11 = 1").select("doc_id").localCheckpoint()
    st.retract(r1)
    st = INC.CurationState.load(spark, p)
    # partial overlap with committed retractions
    r_mixed = r1.limit(3).unionByName(
        docs.filter("doc_id % 11 = 2").select("doc_id").limit(3)
    )
    with pytest.raises(ValueError, match="partial overlap|already retracted"):
        st.retract(r_mixed)
    # ids beyond the high-water mark were never ingested
    hi = int(st.meta["max_doc_id"])
    with pytest.raises(ValueError, match="high-water"):
        st.retract(spark.range(hi + 1, hi + 3).select(F.col("id").alias("doc_id")))
    # a pending UPDATE marker must replay first
    st._write_pending(0, 1)
    with pytest.raises(ValueError, match="pending update marker"):
        st.retract(docs.filter("doc_id % 11 = 3").select("doc_id"))
    st._clear_pending()
    # empty delta no-ops
    assert st.retract(r1.limit(0))["retracted"] == 0


@pytest.mark.slow
def test_uncommitted_ledger_blocks_update_and_compact_vacuum_completes(
    spark, tmp_path
):
    """Manufactured torn retraction (ledger rows landed, nothing
    else): update and compact refuse loudly, check() reports the
    family-standard ``uncommitted_ledger_rows``, and
    ``vacuum(purge_torn_retractions=True)`` rolls the deletion
    FORWARD — the state converges to build(corpus ∖ r)."""
    docs = _docs(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs, p)
    r = docs.filter("doc_id % 9 = 4").select("doc_id").localCheckpoint()
    r.select(
        "doc_id", F.lit(1).cast("bigint").alias("rseq")
    ).write.mode("append").parquet(f"{p}/retracted")

    st = INC.CurationState.load(spark, p)
    chk = st.check()
    assert not chk["ok"] and "uncommitted_ledger_rows" in chk["violations"]
    delta = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "source", "text"
    ).limit(5)
    with pytest.raises(ValueError, match="uncommitted retraction ledger"):
        st.update(delta)
    with pytest.raises(T.TornStateError):
        st.compact()

    rep = M.vacuum(spark, [p], purge_torn_retractions=True).collect()[0]
    assert rep["ok"], rep
    assert "purged_torn_retraction=1" in rep["violations"]
    keep = docs.join(r, "doc_id", "left_anti")
    want = _views(INC.CurationState.build(spark, keep, str(tmp_path / "want")))
    _assert_views_equal(
        _views(INC.CurationState.load(spark, p)), want, "vacuum-completed"
    )


def test_retracted_text_no_longer_suppresses_reingestion(spark, tmp_path):
    """Exact-dedup's rebuild-forward semantics: once a doc is
    retracted its text hash dies with it, so a NEW doc with the same
    text is ingested (a rebuild over the survivors would have no
    memory of the retracted text either)."""
    docs = _docs(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs, p)
    victim = (
        st.indexed()
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    st.retract(spark.createDataFrame([(victim["doc_id"],)], "doc_id bigint"))
    st = INC.CurationState.load(spark, p)
    new_id = int(st.meta["max_doc_id"]) + 1
    st.update(
        spark.createDataFrame(
            [(new_id, "src1", victim["text"])], "doc_id bigint, source string, text string"
        )
    )
    st = INC.CurationState.load(spark, p)
    assert (
        st.indexed().filter(F.col("doc_id") == new_id).first() is not None
    ), "re-ingested copy of a retracted text must index"


@pytest.mark.slow
def test_absorber_streamed_equals_one_batch(spark, tmp_path):
    """Two deletion micro-batches through foreach_batch_retract end in
    the same views as one retract() of the union — the pipeline
    member of the deletion-absorber family contract."""
    docs = _docs(spark)
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    INC.CurationState.build(spark, docs, p1)
    INC.CurationState.build(spark, docs, p2)
    b1 = docs.filter("doc_id % 10 = 1").select("doc_id").localCheckpoint()
    b2 = docs.filter("doc_id % 10 = 2").select("doc_id").localCheckpoint()
    absorb = INC.foreach_batch_retract(spark, p1)
    absorb(b1, 0)
    absorb(b1, 0)  # at-least-once replay of a committed batch: skip
    absorb(b2, 1)
    INC.CurationState.load(spark, p2).retract(b1.unionByName(b2))
    _assert_views_equal(
        _views(INC.CurationState.load(spark, p1)),
        _views(INC.CurationState.load(spark, p2)),
        "streamed-vs-one-batch",
    )
    assert int(INC.CurationState.load(spark, p1).meta["n_retractions"]) == 2


def test_pay_for_play_plans(spark, tmp_path):
    """Without a retraction ledger the read paths carry NO retraction
    machinery: no src_rseq gate, no resurrection resolution, no
    ledger anti-join — the plans are the pre-retraction plans."""
    docs = _docs(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs, p)
    for df in (st.working(), st.indexed()):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # no commitment-gate filter, no resurrection resolution
        # aggregate, and exactly the one historical tombstone
        # anti-join in working() / none in indexed() — the column
        # NAME appears in the relation schema (explicit-schema read),
        # which is free: the Project prunes it at the scan
        assert "isnull(src_rseq" not in plan
        assert "max(struct" not in plan
        assert plan.count("Join LeftAnti") <= 1
    st.retract(docs.filter("doc_id % 17 = 3").select("doc_id"))
    st = INC.CurationState.load(spark, p)
    plan = st.working()._jdf.queryExecution().optimizedPlan().toString()
    assert "isnull(src_rseq" in plan  # the gate is live once a ledger exists
    assert "max(struct" in plan  # and so is the res resolution
