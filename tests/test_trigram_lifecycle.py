"""TrigramLM lifecycle — the last index family to get the streamed
ingestion + compaction + crash-repair treatment (VERDICT r8 #1).

The model's persisted form is an ADDITIVE SEGMENT LOG (g, c, src):
appends are O(delta-vocab) stamped segments, readers serve committed
rows merged on read, compaction resolves the merge once, and the
src stamp makes a torn append identifiable and repairable. These tests
pin the family contract:

- update + append_saved == full rebuild (counts view AND scores);
- streamed micro-batch ingestion == one-shot batch training;
- a crash at ANY seam of the append (torn segment files, full segment
  without the meta stamp, mid-purge rename window, post-stamp)
  converges on replay to exactly the clean-absorb state;
- compact() is served-view-identical, refuses unstamped rows;
- maintenance.vacuum reports the torn-append state.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.textops import TrigramLM


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text")


def _counts_view(spark, path):
    return sorted(
        tuple(r) for r in TrigramLM.load(spark, path)._counts.collect()
    )


def _raw_rows(spark, path):
    return sorted(
        tuple(r) for r in TrigramLM._raw_counts(spark, path).collect()
    )


def test_append_saved_matches_rebuild_then_compacts(spark, tmp_path):
    """load().update(delta) + append_saved == retrain on the union,
    through the persisted segment log; compact() then resolves the
    segments with the served view row-identical and the model still
    updatable."""
    docs = _docs(spark)
    base, d1, d2 = (
        docs.filter("doc_id < 300"),
        docs.filter("doc_id >= 300 and doc_id < 400"),
        docs.filter("doc_id >= 400"),
    )
    path = str(tmp_path / "lm")
    TrigramLM(base, "text", "doc_id").save(path)
    assert storage.read_control_row(f"{path}/meta")["max_id"] == 299

    for delta in (d1, d2):
        lm = TrigramLM.load(spark, path)
        lm.update(delta)
        lm.append_saved(path)
    assert storage.read_control_row(f"{path}/meta")["max_id"] == int(
        docs.agg(F.max("doc_id")).first()[0]
    )
    assert storage.count_data_files(f"{path}/counts") >= 3  # base + two segments

    full = TrigramLM(docs, "text", "doc_id")
    want_counts = sorted(tuple(r) for r in full.counts.collect())
    assert _counts_view(spark, path) == want_counts
    probe = docs.filter("doc_id % 7 = 0")
    want_scores = sorted(
        tuple(r) for r in full.score(probe, "text", "doc_id").collect()
    )
    got = TrigramLM.load(spark, path).score(probe, "text", "doc_id")
    assert sorted(tuple(r) for r in got.collect()) == want_scores

    # compact: served view identical, one file, still updatable
    metrics = TrigramLM.compact(spark, path)
    assert metrics["counts"]["files_after"] == 1
    assert _counts_view(spark, path) == want_counts
    lm = TrigramLM.load(spark, path)
    extra = spark.createDataFrame(
        [(999999, "src0", "the quick brown fox jumps over the lazy dog")],
        "doc_id long, source string, text string",
    )
    lm.update(extra)
    lm.append_saved(path)
    re = TrigramLM.load(spark, path)
    want2 = sorted(
        tuple(r)
        for r in TrigramLM(docs.unionByName(extra), "text", "doc_id")
        .score(probe, "text", "doc_id")
        .collect()
    )
    assert (
        sorted(tuple(r) for r in re.score(probe, "text", "doc_id").collect())
        == want2
    )


def test_append_saved_contracts(spark, tmp_path):
    """The loud refusals: non-monotone delta ids, a pre-mark meta, and
    append without a prior update."""
    docs = _docs(spark)
    base, delta = docs.filter("doc_id < 400"), docs.filter("doc_id >= 400")
    path = str(tmp_path / "lm")
    TrigramLM(base, "text", "doc_id").save(path)

    lm = TrigramLM.load(spark, path)
    with pytest.raises(ValueError, match="no update\\(\\) delta"):
        lm.append_saved(path)

    lm.update(base.limit(5))  # ids overlap the saved mark
    with pytest.raises(ValueError, match="monotone-id contract"):
        lm.append_saved(path)

    # pre-mark meta (legacy n-only save) is refused loudly
    storage.write_control_parquet(
        f"{path}/meta",
        [(3, "text", "doc_id")],
        "n int, text_col string, id_col string",
    )
    lm2 = TrigramLM.load(spark, path)
    lm2.update(delta)
    with pytest.raises(ValueError, match="high-water mark"):
        lm2.append_saved(path)
    with pytest.raises(ValueError, match="high-water mark"):
        TrigramLM.foreach_batch_update(spark, path)(delta, 0)


@pytest.mark.slow
def test_streamed_ingestion_equals_batch(spark, tmp_path):
    """Micro-batch ingestion through TrigramLM.foreach_batch_update:
    two monotone delta files drained oldest-first, each absorbed as
    one update + append_saved — the final saved model equals one-shot
    training (counts view + scores); a replayed batch is a no-op; a
    straddling batch raises."""
    docs = _docs(spark)
    hi = int(docs.agg(F.max("doc_id")).first()[0])
    c1, c2 = (hi * 7) // 10, (hi * 85) // 100
    path = str(tmp_path / "lm")
    TrigramLM(docs.filter(F.col("doc_id") <= c1), "text", "doc_id").save(path)

    stream_dir = tmp_path / "stream"
    docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)).coalesce(
        1
    ).write.parquet(str(stream_dir / "d1"))
    docs.filter(F.col("doc_id") > c2).coalesce(1).write.parquet(
        str(stream_dir / "d2")
    )
    now = time.time()
    for sub, age in (("d1", 120), ("d2", 60)):
        for f in (stream_dir / sub).iterdir():
            os.utime(f, (now - age, now - age))
    absorb = TrigramLM.foreach_batch_update(spark, path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(absorb)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)

    full = TrigramLM(docs, "text", "doc_id")
    assert _counts_view(spark, path) == sorted(
        tuple(r) for r in full.counts.collect()
    )
    assert storage.read_control_row(f"{path}/meta")["max_id"] == hi
    probe = docs.filter("doc_id % 7 = 0")
    got = TrigramLM.load(spark, path).score(probe, "text", "doc_id")
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in full.score(probe, "text", "doc_id").collect()
    )

    # replay: committed batch is a no-op
    before = _raw_rows(spark, path)
    absorb(docs.filter(F.col("doc_id") > c2), 99)
    assert _raw_rows(spark, path) == before
    # straddling batch raises
    strad = docs.filter(F.col("doc_id") == c2).unionByName(
        docs.filter(F.col("doc_id") == hi).withColumn(
            "doc_id", F.col("doc_id") + 1
        )
    )
    with pytest.raises(ValueError, match="straddle"):
        absorb(strad, 100)


@pytest.mark.slow
def test_absorber_repairs_crash_windows(spark, tmp_path):
    """A crash at any seam of the append protocol (segment append →
    meta stamp) must CONVERGE on replay to exactly the clean-absorb
    state. Windows: (a) torn multi-file segment, meta unstamped;
    (b) full segment landed, meta unstamped; (c) crash inside a
    previous repair's purge swap (no live counts dir, complete copy
    aside); (d) crash after the stamp (pure replay → skip). Raw
    committed rows AND meta must equal the clean reference's."""
    docs = _docs(spark)
    base = docs.filter("doc_id < 400")
    delta = docs.filter("doc_id >= 400").localCheckpoint()
    d_hi = int(delta.agg(F.max("doc_id")).first()[0])

    base_dir = str(tmp_path / "base")
    TrigramLM(base, "text", "doc_id").save(base_dir)

    clean_dir = str(tmp_path / "clean")
    shutil.copytree(base_dir, clean_dir)
    TrigramLM.foreach_batch_update(spark, clean_dir)(delta, 0)
    want_raw = _raw_rows(spark, clean_dir)
    want_meta = storage.read_control_row(f"{clean_dir}/meta")
    want_view = _counts_view(spark, clean_dir)

    def make_case(tag, *, landed_frac=None, stamp=False, purge_window=False):
        case = str(tmp_path / tag)
        shutil.copytree(base_dir, case)
        if landed_frac is not None:
            pre = set(os.listdir(f"{base_dir}/counts"))
            new = sorted(
                f
                for f in os.listdir(f"{clean_dir}/counts")
                if f not in pre and f.endswith(".parquet")
            )
            assert new, "clean absorb must have appended segment files"
            keep = new[: max(1, int(len(new) * landed_frac))]
            for f in keep:
                shutil.copy(f"{clean_dir}/counts/{f}", f"{case}/counts/{f}")
        if stamp:
            shutil.rmtree(f"{case}/meta")
            shutil.copytree(f"{clean_dir}/meta", f"{case}/meta")
        if purge_window:
            os.rename(f"{case}/counts", f"{case}/counts.__old__")
        return case

    cases = [
        make_case("w_torn_segment", landed_frac=0.5),
        make_case("w_full_segment_no_stamp", landed_frac=1.0),
        make_case("w_purge_swap_window", landed_frac=1.0, purge_window=True),
        make_case("w_post_stamp", landed_frac=1.0, stamp=True),
    ]
    # pre-repair, vacuum reports the torn state loudly (uncommitted
    # rows beyond the stamp) and refuses to compact it
    probe = M.vacuum(spark, [cases[1]]).collect()[0]
    assert not probe["ok"]
    assert "uncommitted_segment_rows" in probe["violations"]
    with pytest.raises(ValueError, match="uncommitted segment rows"):
        TrigramLM.compact(spark, cases[1])

    for case in cases:
        TrigramLM.foreach_batch_update(spark, case)(delta, 1)  # the replay
        assert _raw_rows(spark, case) == want_raw, case
        assert storage.read_control_row(f"{case}/meta") == want_meta, case
        assert _counts_view(spark, case) == want_view, case
        assert M.vacuum(spark, [case]).collect()[0]["ok"], case


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_W = ["kestrel", "bramble", "cobalt", "fathom", "girder", "hollow"]
_text = st.lists(st.sampled_from(_W), min_size=0, max_size=10).map(" ".join)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_text, min_size=3, max_size=16),
    cuts=st.tuples(
        st.floats(min_value=0.2, max_value=0.9),
        st.floats(min_value=0.2, max_value=0.9),
    ),
)
@pytest.mark.slow
def test_trigram_chained_appends_equal_rebuild_property(
    spark, tmp_path_factory, texts, cuts
):
    """The TrigramLM twin of the RepeatIndex/CurationState property
    (r7 #8 pattern, extended to the round-9 PERSISTED lifecycle):
    random tiny-vocab corpora with random disjoint splits, pushed
    through ``save → (load, update, append_saved) × 2 → compact``,
    must serve the identical counts view as one-shot training on the
    union — including empty deltas (the absorber's empty branch),
    empty texts (no grams), and segments whose vocab overlaps the base
    entirely (pure additive merges)."""
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    c1, c2 = sorted(int(len(rows) * f) for f in cuts)
    c1 = max(c1, 1)
    c2 = max(c2, c1)
    path = str(tmp_path_factory.mktemp("proplm") / "lm")
    TrigramLM(
        docs.filter(F.col("doc_id") < c1), "text", "doc_id"
    ).save(path)
    for lo, hi in ((c1, c2), (c2, 10**9)):
        delta = docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        lm = TrigramLM.load(spark, path)
        lm.update(delta)
        lm.append_saved(path)
    TrigramLM.compact(spark, path)
    got = _counts_view(spark, path)
    want = sorted(
        tuple(r) for r in TrigramLM(docs, "text", "doc_id").counts.collect()
    )
    assert got == want


# ------------------------------------------------------------- retraction
# The deletion half (round 9): counts are additive over disjoint doc
# sets, so retraction is a NEGATIVE per-doc-distinct segment under the
# retraction-sequence commit protocol (src = -rseq, committed by
# meta.n_retractions, ids bound in the `retracted` ledger).


def _ids_df(spark, docs, pred):
    return docs.filter(pred).select(F.col("doc_id").alias("id"))


@pytest.mark.slow
def test_retract_equals_rebuild_in_memory_and_persisted(spark, tmp_path):
    """subtract == rebuild, both for the in-memory model and through
    save → retract → retract_saved → load; scores agree too; a gram
    unique to the retracted docs leaves the vocabulary."""
    docs = _docs(spark)
    sub = docs.filter("doc_id % 11 = 5")
    keep = docs.filter("doc_id % 11 != 5")
    want = sorted(
        tuple(r) for r in TrigramLM(keep, "text", "doc_id").counts.collect()
    )

    mem = TrigramLM(docs, "text", "doc_id").retract(sub)
    assert sorted(tuple(r) for r in mem.counts.collect()) == want
    want_scores = sorted(
        tuple(r) for r in TrigramLM(keep, "text", "doc_id").score().collect()
    )
    assert sorted(tuple(r) for r in mem.score().collect()) == want_scores

    path = str(tmp_path / "lm")
    TrigramLM(docs, "text", "doc_id").save(path)
    lm = TrigramLM.load(spark, path)
    lm.retract(sub.localCheckpoint())
    lm.retract_saved(path)
    assert _counts_view(spark, path) == want
    assert M.check_trigram_lm(spark, path)["ok"]
    assert storage.read_control_row(f"{path}/meta")["n_retractions"] == 1
    # max_id did not shrink: retraction never un-allocates ids
    assert storage.read_control_row(f"{path}/meta")["max_id"] == docs.agg(
        F.max("doc_id")
    ).first()[0]


def test_retract_refusals(spark, tmp_path):
    """Double retraction (in-memory and on-disk ledger), partial
    overlap, and never-ingested ids are all loud refusals."""
    docs = _docs(spark)
    sub = docs.filter("doc_id % 11 = 5")
    path = str(tmp_path / "lm")
    TrigramLM(docs, "text", "doc_id").save(path)

    lm = TrigramLM.load(spark, path)
    lm.retract(sub.localCheckpoint())
    pre = sorted(tuple(r) for r in lm.counts.collect())
    # full-batch re-retract = the at-least-once replay: idempotent
    lm.retract(sub.localCheckpoint())
    assert sorted(tuple(r) for r in lm.counts.collect()) == pre
    # PARTIAL overlap is the caller bug that refuses
    with pytest.raises(ValueError, match="already\n?\\s*retracted"):
        lm.retract(
            docs.filter("doc_id % 11 = 5 or doc_id % 11 = 6").localCheckpoint()
        )
    lm.retract_saved(path)
    # ... and a hand-built partial-overlap delta at the protocol level
    lm3 = TrigramLM.load(spark, path)
    lm3._retract_delta = {
        "counts": spark.createDataFrame([], "g string, c bigint"),
        "ids": _ids_df(spark, docs, "doc_id % 11 = 5 or doc_id % 11 = 6"),
    }
    with pytest.raises(ValueError, match="partial overlap"):
        lm3.retract_saved(path)

    # never-ingested ids (beyond the stamp)
    lm4 = TrigramLM.load(spark, path)
    lm4._retract_delta = {
        "counts": spark.createDataFrame([], "g string, c bigint"),
        "ids": spark.createDataFrame([(10_000_000,)], "id bigint"),
    }
    with pytest.raises(ValueError, match="never ingested"):
        lm4.retract_saved(path)


@pytest.mark.slow
def test_retract_saved_replay_and_crash_windows(spark, tmp_path):
    """Every prefix of {negative segment, ledger, meta} converges:
    uncommitted rows are invisible to readers (served counts == the
    pre-retract state), the probe reports them, compact refuses, and
    the retract_saved replay purges + re-lands to exactly the clean
    state. A fully-committed replay skips idempotently."""
    docs = _docs(spark)
    sub = docs.filter("doc_id % 11 = 5").localCheckpoint()
    keep = docs.filter("doc_id % 11 != 5")
    path = str(tmp_path / "lm")
    TrigramLM(docs, "text", "doc_id").save(path)
    pre = _counts_view(spark, path)
    want = sorted(
        tuple(r) for r in TrigramLM(keep, "text", "doc_id").counts.collect()
    )

    def neg_seg():
        lm = TrigramLM.load(spark, path)
        return (
            lm._gram_frame(sub.select(F.col("id").alias("doc_id"))
                           if "id" in sub.columns else sub, "text", "doc_id")
            .groupBy("g")
            .agg((-F.count(F.lit(1))).alias("c"))
        )

    # window 1: negative segment landed (src=-1), no ledger, no meta
    neg_seg().select(
        "g", "c", F.lit(-1).cast("bigint").alias("src")
    ).write.mode("append").parquet(f"{path}/counts")
    assert _counts_view(spark, path) == pre  # uncommitted → invisible
    res = M.check_trigram_lm(spark, path)
    assert not res["ok"] and "uncommitted_segment_rows" in res["violations"]
    with pytest.raises(ValueError, match="uncommitted"):
        TrigramLM.compact(spark, path)

    # window 2: + ledger rows landed (rseq=1), meta still k=0
    sub.select(F.col("doc_id").alias("id")).withColumn(
        "rseq", F.lit(1).cast("bigint")
    ).write.mode("append").parquet(f"{path}/retracted")
    assert _counts_view(spark, path) == pre
    res = M.check_trigram_lm(spark, path)
    assert not res["ok"]
    assert "uncommitted_ledger_rows" in res["violations"]

    # the replay: purges both uncommitted halves, re-lands, commits
    lm = TrigramLM.load(spark, path)
    assert lm._retracted_ids is None or lm._retracted_ids.first() is None
    lm.retract(sub)
    lm.retract_saved(path)
    assert _counts_view(spark, path) == want
    assert M.check_trigram_lm(spark, path)["ok"]
    m = storage.read_control_row(f"{path}/meta")
    assert m["n_retractions"] == 1
    led = spark.read.parquet(f"{path}/retracted")
    assert led.filter("rseq > 1").count() == 0
    assert led.count() == sub.count()

    # window 3: fully-committed replay skips without touching state
    lm2 = TrigramLM.load(spark, path)
    lm2._retract_delta = {
        "counts": spark.createDataFrame([], "g string, c bigint"),
        "ids": sub.select(F.col("doc_id").alias("id")),
    }
    lm2.retract_saved(path)
    assert _counts_view(spark, path) == want
    assert spark.read.parquet(f"{path}/retracted").count() == sub.count()

    # compact resolves the committed retraction physically
    TrigramLM.compact(spark, path)
    assert _counts_view(spark, path) == want
    raw = TrigramLM._raw_counts(spark, path)
    assert raw.filter("src < 0").count() == 0
    assert M.check_trigram_lm(spark, path)["ok"]


def test_retract_then_update_interleave(spark, tmp_path):
    """Retraction and streamed-style appends compose: retract old
    docs, append new ones, final view == rebuild on (keep ∪ new);
    the absorber's meta rewrite preserves the committed retraction
    sequence (the n_retractions clobber guard)."""
    docs = _docs(spark)
    base = docs.filter("doc_id < 400")
    sub = base.filter("doc_id % 7 = 3").localCheckpoint()
    new = docs.filter("doc_id >= 400")
    path = str(tmp_path / "lm")
    TrigramLM(base, "text", "doc_id").save(path)

    lm = TrigramLM.load(spark, path)
    lm.retract(sub)
    lm.retract_saved(path)

    # an IN-SESSION object (never load()-ed) appends next — its meta
    # rewrite must not clobber n_retractions back to 0
    lm2 = TrigramLM.load(spark, path)
    lm2.update(new)
    lm2.append_saved(path)
    assert storage.read_control_row(f"{path}/meta")["n_retractions"] == 1

    want = sorted(
        tuple(r)
        for r in TrigramLM(
            docs.filter("doc_id >= 400 or (doc_id < 400 and doc_id % 7 != 3)"),
            "text",
            "doc_id",
        ).counts.collect()
    )
    assert _counts_view(spark, path) == want
    assert M.check_trigram_lm(spark, path)["ok"]
