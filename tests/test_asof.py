"""As-of (time-travel) reads over the log-structured families (round 10).

The segment/stamp architecture already pays for history: every
committed TrigramLM write is a stamped segment, every committed
VectorIndex append is a monotone-id row set. ``load(as_of_id=H)``
serves the exact state after the last commit at or below ``H`` — the
reproducibility read a training-data pipeline needs ("rebuild the
exact corpus run X trained on", "what did the index serve before
batch B landed").

Contracts pinned here:
- as-of view == a from-scratch build over the id prefix (exact rows);
- the history FLOOR is the oldest positive segment: save()/compact()
  merge history, earlier points refuse loudly (the Delta-style trade —
  time travel is bounded by the maintenance cadence);
- retractions are NEVER time-travelable: committed deletions apply at
  every as-of point, and a point that cannot apply them (the LM's
  batch-granular negative segments) REFUSES instead of resurrecting a
  deleted doc;
- an as-of view is read-only against the original log: the *_saved
  mutations refuse (save() to a NEW path stays legal — materializing
  a historical snapshot as a fresh base is the branching escape
  hatch).
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark.textops import TrigramLM
from lp_etl_plugins_spark.vectorops import VectorIndex


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text").filter(
        "doc_id < 600"
    )


def _emb(spark):
    from lp_etl_plugins_spark.inventory.vectorops import _emb as e

    return e(spark, SF_SMOKE).filter("vec_id < 600")


def _cuts(df, idc: str) -> tuple[int, int, int]:
    ids = [r[0] for r in df.select(idc).distinct().orderBy(idc).collect()]
    assert len(ids) >= 9
    return ids[len(ids) // 3], ids[2 * len(ids) // 3], ids[-1]


def _counts_rows(df) -> list:
    return sorted(tuple(r) for r in df.select("g", "c").collect())


def _staged_lm(spark, tmp_path) -> tuple:
    """base save + two appended segments; returns (docs, path, c1, c2, hi)."""
    docs = _docs(spark)
    c1, c2, hi = _cuts(docs, "doc_id")
    path = str(tmp_path / "lm")
    TrigramLM(docs.filter(F.col("doc_id") <= c1), "text", "doc_id").save(path)
    for lo, up in ((c1, c2), (c2, hi)):
        lm = TrigramLM.load(spark, path)
        lm.update(docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= up)))
        lm.append_saved(path)
    return docs, path, c1, c2, hi


@pytest.mark.slow
def test_trigram_asof_equals_prefix_rebuild(spark, tmp_path):
    docs, path, c1, c2, hi = _staged_lm(spark, tmp_path)
    for cut in (c1, c2, hi):
        got = TrigramLM.load(spark, path, as_of_id=cut)
        want = TrigramLM(
            docs.filter(F.col("doc_id") <= cut), "text", "doc_id"
        )
        assert _counts_rows(got._counts) == _counts_rows(want.counts), cut
        assert got.max_id is not None and got.max_id <= cut
    # a mark BETWEEN boundaries serves the last commit at or below it
    between = TrigramLM.load(spark, path, as_of_id=c2 + 0)
    mid_plus = TrigramLM.load(
        spark, path, as_of_id=(c2 + hi) // 2 if (c2 + hi) // 2 > c2 else c2
    )
    assert _counts_rows(mid_plus._counts) == _counts_rows(between._counts)


def test_trigram_asof_floor_refuses(spark, tmp_path):
    docs, path, c1, _c2, _hi = _staged_lm(spark, tmp_path)
    with pytest.raises(ValueError, match="history floor"):
        TrigramLM.load(spark, path, as_of_id=c1 - 1_000_000)


def test_trigram_asof_applies_committed_retractions(spark, tmp_path):
    docs, path, c1, c2, hi = _staged_lm(spark, tmp_path)
    gone = docs.filter((F.col("doc_id") <= c1) & (F.col("doc_id") % 5 == 1))
    assert gone.count() > 0
    lm = TrigramLM.load(spark, path)
    lm.retract(gone)
    lm.retract_saved(path)
    # the deletion is visible at EVERY servable as-of point
    for cut in (c1, c2, hi):
        got = TrigramLM.load(spark, path, as_of_id=cut)
        want = TrigramLM(
            docs.filter(
                (F.col("doc_id") <= cut)
                & ~((F.col("doc_id") <= c1) & (F.col("doc_id") % 5 == 1))
            ),
            "text",
            "doc_id",
        )
        assert _counts_rows(got._counts) == _counts_rows(want.counts), cut


def test_trigram_asof_refuses_pre_retraction_point(spark, tmp_path):
    docs, path, c1, c2, hi = _staged_lm(spark, tmp_path)
    gone = docs.filter((F.col("doc_id") > c2) & (F.col("doc_id") % 5 == 1))
    assert gone.count() > 0
    lm = TrigramLM.load(spark, path)
    lm.retract(gone)
    lm.retract_saved(path)
    # c2's boundary predates the retracted docs' ingestion — serving
    # it would resurrect them (the batch-granular negative segment
    # cannot be split), so the load refuses
    with pytest.raises(ValueError, match="not time-travelable"):
        TrigramLM.load(spark, path, as_of_id=c2)
    # the current mark still serves (deletion applied)
    got = TrigramLM.load(spark, path, as_of_id=hi)
    want = TrigramLM(
        docs.filter(~((F.col("doc_id") > c2) & (F.col("doc_id") % 5 == 1))),
        "text",
        "doc_id",
    )
    assert _counts_rows(got._counts) == _counts_rows(want.counts)


def test_trigram_asof_view_is_readonly(spark, tmp_path):
    docs, path, c1, _c2, hi = _staged_lm(spark, tmp_path)
    view = TrigramLM.load(spark, path, as_of_id=c1)
    view.update(docs.filter(F.col("doc_id") > hi - 3))  # in-memory: legal
    with pytest.raises(ValueError, match="READ-ONLY historical"):
        view.append_saved(path)
    view2 = TrigramLM.load(spark, path, as_of_id=c1)
    view2.retract(docs.filter(F.col("doc_id") <= c1).limit(2))
    with pytest.raises(ValueError, match="READ-ONLY historical"):
        view2.retract_saved(path)
    # the branching escape hatch: a historical view saved to a NEW
    # path is a fresh base any reader/mutator can use
    branch = str(tmp_path / "branch")
    TrigramLM.load(spark, path, as_of_id=c1).save(branch)
    want = TrigramLM(
        docs.filter(F.col("doc_id") <= c1), "text", "doc_id"
    )
    assert _counts_rows(TrigramLM.load(spark, branch)._counts) == _counts_rows(
        want.counts
    )


def test_trigram_asof_floor_moves_with_compact(spark, tmp_path):
    docs, path, c1, c2, hi = _staged_lm(spark, tmp_path)
    TrigramLM.compact(spark, path)
    # earlier boundaries are merged away — refuse, not serve-wrong
    with pytest.raises(ValueError, match="history floor"):
        TrigramLM.load(spark, path, as_of_id=c2)
    got = TrigramLM.load(spark, path, as_of_id=hi)
    want = TrigramLM(docs, "text", "doc_id")
    assert _counts_rows(got._counts) == _counts_rows(want.counts)


# ------------------------------------------------------------- vector


def _staged_vidx(spark, tmp_path) -> tuple:
    emb = _emb(spark)
    c1, _c2, hi = _cuts(emb, "vec_id")
    path = str(tmp_path / "vidx")
    VectorIndex(emb.filter(F.col("vec_id") <= c1)).save(path)
    idx = VectorIndex.load(spark, path)
    idx.update(emb.filter(F.col("vec_id") > c1).drop("label"))
    idx.append_saved(path)
    return emb, path, c1, hi


def _live_ids(idx) -> set:
    return {r[0] for r in idx.live_lists().select("id").collect()}


def test_vector_asof_membership_and_deletions(spark, tmp_path):
    emb, path, c1, hi = _staged_vidx(spark, tmp_path)
    gone = emb.filter(
        (F.col("vec_id") <= c1) & (F.col("vec_id") % 7 == 3)
    ).select(F.col("vec_id").alias("id"))
    assert gone.count() > 0
    idx = VectorIndex.load(spark, path)
    idx.retract(gone)
    idx.retract_saved(path)

    want_ids = {
        r[0]
        for r in emb.filter(
            (F.col("vec_id") <= c1) & (F.col("vec_id") % 7 != 3)
        ).select("vec_id").collect()
    }
    view = VectorIndex.load(spark, path, as_of_id=c1)
    assert _live_ids(view) == want_ids
    # the served plan still answers queries at the historical point
    probes = emb.orderBy("vec_id").limit(3).select("vec_id", "embedding")
    hits = view.search(probes, k=2, nprobe=2)
    got = {r["neighbor_id"] for r in hits.collect()}
    assert got and got <= want_ids


def test_vector_asof_survives_compact(spark, tmp_path):
    emb, path, c1, hi = _staged_vidx(spark, tmp_path)
    gone = emb.filter(
        (F.col("vec_id") <= c1) & (F.col("vec_id") % 7 == 3)
    ).select(F.col("vec_id").alias("id"))
    idx = VectorIndex.load(spark, path)
    idx.retract(gone)
    idx.retract_saved(path)
    VectorIndex.compact(spark, path)
    want_ids = {
        r[0]
        for r in emb.filter(
            (F.col("vec_id") <= c1) & (F.col("vec_id") % 7 != 3)
        ).select("vec_id").collect()
    }
    assert _live_ids(VectorIndex.load(spark, path, as_of_id=c1)) == want_ids


def test_vector_asof_view_is_readonly(spark, tmp_path):
    emb, path, c1, hi = _staged_vidx(spark, tmp_path)
    view = VectorIndex.load(spark, path, as_of_id=c1)
    view.update(
        emb.filter(F.col("vec_id") > hi - 3)
        .drop("label")
        .withColumn("vec_id", F.col("vec_id") + 10_000)
    )
    with pytest.raises(ValueError, match="READ-ONLY historical"):
        view.append_saved(path)
    view2 = VectorIndex.load(spark, path, as_of_id=c1)
    view2.retract(
        emb.filter(F.col("vec_id") <= c1)
        .select(F.col("vec_id").alias("id"))
        .limit(2)
    )
    with pytest.raises(ValueError, match="READ-ONLY historical"):
        view2.retract_saved(path)


def test_trigram_asof_save_refuses_own_source(spark, tmp_path):
    """The round-10 advice gap: save() from an as-of view targeting the
    view's OWN source directory would overwrite the live segment log
    with the boundary-filtered single segment (destroying every post-H
    segment, resetting n_retractions, rewriting the ledger at rseq 0).
    It must refuse — while save(new_path) keeps branching (covered by
    test_trigram_asof_view_is_readonly)."""
    docs, path, c1, _c2, hi = _staged_lm(spark, tmp_path)
    view = TrigramLM.load(spark, path, as_of_id=c1)
    with pytest.raises(ValueError, match="as-of view"):
        view.save(path)
    # a sneaky spelling of the same location refuses too
    with pytest.raises(ValueError, match="as-of view"):
        view.save(path + "/")
    # the source survives untouched: the full state still serves at
    # its real high-water mark
    assert TrigramLM.load(spark, path).max_id == hi


def test_vector_asof_save_refuses_own_source(spark, tmp_path):
    """VectorIndex twin of the save-guard: overwriting the source with
    the id<=H filtered frames would destroy every post-H vector."""
    emb, path, c1, hi = _staged_vidx(spark, tmp_path)
    view = VectorIndex.load(spark, path, as_of_id=c1)
    with pytest.raises(ValueError, match="as-of view"):
        view.save(path)
    # branching to a NEW path still works and carries only <=H members
    branch = str(tmp_path / "branch")
    view.save(branch)
    got = VectorIndex.load(spark, branch)
    assert int(got.corpus_lists.agg(F.max("id")).first()[0]) <= c1
    # the source still serves the full membership
    full = VectorIndex.load(spark, path)
    assert int(full.corpus_lists.agg(F.max("id")).first()[0]) == hi
