"""CurationState as-of manifest (round 11 — VERDICT r10 Next #3).

The pipeline-level reproducibility pin: every build/update/retract/
compact commit appends a manifest row (mseq, op, max_doc_id,
counters, n_working), and ``as_of(mseq)`` serves the pinned WORKING
membership via the existing stamp machinery (``working(stamp=H)`` —
update-repair's own reconstruction). These tests pin:

- manifest rows per commit, dense mseq, committed-gate visibility
  (a torn row with counters beyond meta never serves);
- pin == the state at that commit, INCLUDING through a post-pin
  update that DISPLACES a pre-pin canonical (the stamp filter keeps
  the displaced doc alive at the pin);
- pin == a from-scratch build over the prefix corpus (the t36
  rebuild-equality transferred to the historical axis);
- refusals: post-pin retraction, post-pin compact, every mutation
  and every cluster/contamination-backed read on the view;
- replayed commits collapse to one manifest row (dedup on read);
- member composition: the manifest's max_doc_id is the as_of_id that
  pins a TrigramLM built over the same doc-id axis.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import incremental as INC
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark import textops as T


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _split(spark):
    docs = _docs(spark)
    hi = docs.agg(F.max("doc_id")).first()[0]
    cut = hi * 9 // 10
    return docs, cut


def test_manifest_rows_per_commit_and_asof_pin(spark, tmp_path):
    docs, cut = _split(spark)
    p = str(tmp_path / "state")
    base = docs.filter(F.col("doc_id") <= cut)
    st = INC.CurationState.build(spark, base, p)
    want_pin = _rows(st.working())
    st.update(docs.filter(F.col("doc_id") > cut))

    man = {r["mseq"]: r for r in st.manifest().collect()}
    assert sorted(man) == [0, 1]
    assert man[0]["op"] == "build" and man[1]["op"] == "update"
    assert man[0]["max_doc_id"] == cut or man[0]["max_doc_id"] <= cut
    assert man[1]["n_updates"] == 1

    # the pin serves the exact pre-update membership...
    view = st.as_of(0)
    assert _rows(view.working()) == want_pin
    # ...and equals a from-scratch build over the prefix corpus
    want = INC.CurationState.build(spark, base, str(tmp_path / "rebuild"))
    assert _rows(view.working()) == _rows(want.working())
    # the current state is untouched by pinning
    assert _rows(st.working()) == _rows(
        INC.CurationState.load(spark, p).working()
    )
    # pinning the LATEST commit serves the current membership
    assert _rows(st.as_of(1).working()) == _rows(st.working())


def test_asof_survives_displacing_update(spark, tmp_path):
    """A post-pin delta whose docs near-dup existing canonicals at
    higher quality DISPLACES them — the pin must keep serving the
    displaced docs (their tombstones are stamped with the delta's
    watermark, above the pin). The sf0.001 corpus's 80/20 monotone
    split fires this naturally (asserted, not assumed)."""
    docs = _docs(spark)
    hi = docs.agg(F.max("doc_id")).first()[0]
    cut = hi * 8 // 10
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), p)
    pin_rows = _rows(st.working())
    res = st.update(docs.filter(F.col("doc_id") > cut))
    assert res["working_retracts"] >= 1  # a displacement actually fired
    displaced = {t[0] for t in pin_rows} - {
        r[0] for r in st.working().collect()
    }
    assert displaced  # someone the pin must keep serving is dead at head
    got_pin = _rows(st.as_of(0).working())
    assert got_pin == pin_rows


def test_asof_refuses_post_pin_retraction_and_compact(spark, tmp_path):
    docs, cut = _split(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), p)
    st.update(docs.filter(F.col("doc_id") > cut))
    st.retract(
        st.working().select("doc_id").filter("doc_id % 11 = 4").limit(3)
    )
    st = INC.CurationState.load(spark, p)
    # commits 0 and 1 predate the retraction -> refused
    with pytest.raises(ValueError, match="retraction"):
        st.as_of(0)
    with pytest.raises(ValueError, match="retraction"):
        st.as_of(1)
    # the retraction commit itself is pinnable
    assert _rows(st.as_of(2).working()) == _rows(st.working())
    st.compact()
    st = INC.CurationState.load(spark, p)
    with pytest.raises(ValueError, match="compact"):
        st.as_of(2)
    assert _rows(st.as_of(3).working()) == _rows(st.working())


def test_asof_view_is_readonly_membership_only(spark, tmp_path):
    docs, cut = _split(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), p)
    st.update(docs.filter(F.col("doc_id") > cut))
    view = st.as_of(0)
    for op in ("update", "retract", "compact"):
        with pytest.raises(ValueError, match="READ-ONLY as-of"):
            getattr(view, op)(docs.limit(1)) if op != "compact" else view.compact()
    for rd in ("curated", "contamination", "dedup_index", "indexed"):
        with pytest.raises(ValueError, match="READ-ONLY as-of"):
            getattr(view, rd)()
    # membership reads serve; the view's manifest is truncated at its
    # own pin (its meta counters ARE the pin), the head state sees all
    assert view.working().count() > 0
    assert view.manifest().count() == 1
    assert st.manifest().count() == 2


@pytest.mark.slow
def test_torn_manifest_row_invisible_and_replay_overwrites(spark, tmp_path):
    docs, cut = _split(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), p)
    # a torn commit: manifest row landed (under its deterministic
    # mseq-named file, as the real write path lands it), meta did not
    storage.append_control_parquet(
        f"{p}/manifest",
        [(1, "update", int(cut) + 50, 1, 0, 0, 999)],
        INC._MANIFEST_SCHEMA,
        name="part-mseq-000000000001.parquet",
    )
    st = INC.CurationState.load(spark, p)
    assert [r["mseq"] for r in st.manifest().collect()] == [0]
    with pytest.raises(ValueError, match="no committed manifest row"):
        st.as_of(1)
    # a replayed build commit physically overwrites its own file
    st._append_manifest("build")
    assert st.manifest().count() == 1
    import os

    assert (
        len([f for f in os.listdir(f"{p}/manifest") if f.endswith(".parquet")])
        == 2  # mseq 0 + the (overwritten-in-place) torn mseq-1 file
    )
    # the real update's commit OVERWRITES the torn row's file — the
    # served manifest is the committed truth, no duplicate files
    st.update(docs.filter(F.col("doc_id") > cut))
    man = {r["mseq"]: r for r in st.manifest().collect()}
    assert sorted(man) == [0, 1]
    assert man[1]["n_working"] != 999  # the torn row was replaced
    assert st.manifest().count() == 2


def test_member_composition_with_trigram_asof(spark, tmp_path):
    """The manifest's max_doc_id is the as_of_id that pins an LM built
    over the same monotone doc-id axis: LM segments stamped at the
    pipeline's commit high-waters serve the same historical point."""
    docs, cut = _split(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), p)
    lm_path = str(tmp_path / "lm")
    lm = T.TrigramLM(st.working(), "text", "doc_id")
    lm.counts
    lm.save(lm_path)
    want_counts = _rows(T.TrigramLM.load(spark, lm_path)._counts)

    st.update(docs.filter(F.col("doc_id") > cut))
    lm2 = T.TrigramLM.load(spark, lm_path)
    lm2.update(st.working().filter(F.col("doc_id") > cut))
    lm2.append_saved(lm_path)

    h0 = int(st.manifest().filter("mseq = 0").first()["max_doc_id"])
    pinned = T.TrigramLM.load(spark, lm_path, as_of_id=h0)
    assert _rows(pinned._counts) == want_counts
    # and the pipeline pin agrees on membership at the same point
    assert {r[0] for r in st.as_of(0).working().collect()} == {
        r[0]
        for r in st.working(stamp=h0).collect()
    }


def test_member_composition_with_vector_asof(spark, tmp_path):
    """The vector twin of the LM composition: an embedding index
    ingesting alongside the pipeline on the same monotone id axis is
    pinned by the manifest row's max_doc_id via its own
    load(as_of_id=...) — together they answer "the exact corpus AND
    index state run X trained on"."""
    from lp_etl_plugins_spark.vectorops import VectorIndex

    docs, cut = _split(spark)
    p = str(tmp_path / "state")
    st = INC.CurationState.build(spark, docs.filter(F.col("doc_id") <= cut), p)

    # a deterministic per-doc embedding over the pipeline's id axis
    def emb_of(frame):
        vec = F.array(
            *[
                (F.pmod(F.xxhash64("doc_id", F.lit(i)), F.lit(1000)) / 1000.0)
                .cast("float")
                for i in range(16)
            ]
        )
        return frame.select(
            F.col("doc_id").alias("vec_id"),
            (F.col("doc_id") % 8).cast("int").alias("label"),
            vec.alias("embedding"),
        )

    vp = str(tmp_path / "vidx")
    VectorIndex(emb_of(st.working()), m=4, dims=16).save(vp)
    want_ids = {r[0] for r in st.working().select("doc_id").collect()}

    st.update(docs.filter(F.col("doc_id") > cut))
    vidx = VectorIndex.load(spark, vp)
    vidx.update(
        emb_of(st.working().filter(F.col("doc_id") > cut)).drop("label")
    )
    vidx.append_saved(vp)

    h0 = int(st.manifest().filter("mseq = 0").first()["max_doc_id"])
    pinned = VectorIndex.load(spark, vp, as_of_id=h0)
    got_ids = {r[0] for r in pinned.live_lists().select("id").collect()}
    assert got_ids == want_ids
    # and both members agree with the pipeline pin on membership
    assert got_ids == {
        r[0] for r in st.as_of(0).working().select("doc_id").collect()
    }
