"""The build-once dedup index: every consumer shares one substrate.

VERDICT r4 #1 — t3/t4/t10/t22/t26/t29 (and v5/v9 on the vector side)
must consume ONE materialized LSH/components substrate per session ×
corpus instead of re-mining it per query. These tests assert the
contract structurally (build counters, frame identity) rather than by
timing, so they are stable on any machine.
"""

from __future__ import annotations

import os

import pytest
from conftest import SF_SMOKE

from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.inventory import textops as IT
from lp_etl_plugins_spark.inventory import vectorops as IV


def test_index_is_cached_per_session_and_dir(spark):
    idx1 = IT.dedup_index(spark, SF_SMOKE)
    idx2 = IT.dedup_index(spark, SF_SMOKE)
    assert idx1 is idx2
    # distinct corpus dir → distinct index
    assert IT.dedup_index(spark, SF_SMOKE + "/") is not idx1


def test_each_substrate_builds_exactly_once(spark, tmp_path):
    # a per-test corpus path (a symlink to the smoke corpus) keys a
    # FRESH session index, so builds by earlier tests on SF_SMOKE (the
    # oracle-parity run forces verified_clusters) cannot leak into the
    # absolute counts below
    sf = str(tmp_path / "sf")
    os.symlink(SF_SMOKE, sf)
    idx = IT.dedup_index(spark, sf)
    before = dict(idx.builds)
    # hit every consumer twice; counters may each advance at most to 1
    for _ in range(2):
        IT.t3_minhash_lsh_pairs(spark, sf)
        IT.t4_lsh_jaccard_verify(spark, sf)
        IT.t10_dedup_clusters(spark, sf).collect()
        IT.t26_canonical_dedup(spark, sf).collect()
        IT.t29_source_overlap(spark, sf).collect()
    assert idx.builds == {
        "bands": 1, "pairs": 1, "verified": 1, "clusters": 1,
        "verified_clusters": 0,
    }
    # and the cached frames are the same objects on re-access
    assert idx.pairs is idx.pairs
    assert idx.verified is idx.verified
    assert idx.clusters is idx.clusters
    assert before["pairs"] <= 1


def test_index_pairs_match_fresh_build(spark):
    """The checkpointed substrate is byte-identical to an uncached
    rebuild (the oracle-parity suite checks vs DuckDB; this checks vs
    a second Spark evaluation, isolating the caching layer)."""
    from lp_etl_plugins_spark import textops as T
    from lp_etl_plugins_spark.inventory.textops import _BANDS, _K, _ROWS, _SHINGLE_N, _docs

    idx = IT.dedup_index(spark, SF_SMOKE)
    docs = _docs(spark, SF_SMOKE)
    sh = T._doc_shingles(docs, "text", "doc_id", _SHINGLE_N, distinct=False)
    fresh = T.lsh_candidate_pairs(T.minhash_signatures(sh, _K), _BANDS, _ROWS)
    got = {(r["id_a"], r["id_b"]) for r in idx.pairs.collect()}
    want = {(r["id_a"], r["id_b"]) for r in fresh.collect()}
    assert got == want


def test_vector_neardup_index_shared(spark):
    v5_first = IV.v5_embedding_neardup(spark, SF_SMOKE)
    v5_again = IV.v5_embedding_neardup(spark, SF_SMOKE)
    assert v5_first is v5_again
    entry = IV._neardup_index(spark, SF_SMOKE)
    IV.v9_semantic_clusters(spark, SF_SMOKE).collect()
    clusters_first = entry["clusters"]
    assert clusters_first is not None
    IV.v9_semantic_clusters(spark, SF_SMOKE).collect()
    assert entry["clusters"] is clusters_first


def test_gram_index_shared_across_consumers(spark):
    sub1 = IT.gram_index(spark, SF_SMOKE)
    sub2 = IT.gram_index(spark, SF_SMOKE)
    assert sub1 is sub2
    # all four consumers run off the one substrate without error and
    # match a fresh uncached build
    from lp_etl_plugins_spark import textops as T
    from lp_etl_plugins_spark.inventory.textops import _docs

    IT.t11_ngram_jaccard(spark, SF_SMOKE).collect()
    IT.t14_containment(spark, SF_SMOKE).collect()
    IT.t20_decontaminate(spark, SF_SMOKE).collect()
    IT.t30_contamination_spans(spark, SF_SMOKE).collect()
    assert IT._GRAM_INDEXES  # built
    fresh_cand, _ = T._pruned_gram_candidates(
        _docs(spark, SF_SMOKE), "text", "doc_id", 3, 0.05, 64
    )
    got = {(r["id_a"], r["id_b"]) for r in sub1[0].collect()}
    want = {(r["id_a"], r["id_b"]) for r in fresh_cand.collect()}
    assert got == want


def test_index_save_load_roundtrip(spark, tmp_path):
    """The cross-session persistence form: save writes the
    substrates as parquet; load serves them without any rebuild
    (build counters stay 0) and byte-identical content."""
    from lp_etl_plugins_spark.textops import DedupIndex

    idx = IT.dedup_index(spark, SF_SMOKE)
    path = str(tmp_path / "dedup_index")
    idx.save(path)

    zero = dict.fromkeys(DedupIndex._STAGES, 0)
    loaded = DedupIndex.load(spark, path)
    assert loaded.builds == zero
    for stage in DedupIndex._STAGES:
        got = sorted(tuple(r) for r in getattr(loaded, stage).collect())
        want = sorted(tuple(r) for r in getattr(idx, stage).collect())
        assert got == want, stage
    assert loaded.builds == zero


def _stage_rows(idx, stage):
    df = getattr(idx, stage)
    if stage == "verified":
        # round the float for comparison; values themselves are checked
        # by the oracle-parity suite
        return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in df.collect())
    if stage in ("clusters", "verified_clusters"):
        return sorted((r["id"], r["cluster"]) for r in df.collect())
    return sorted(tuple(r) for r in df.collect())


def test_incremental_update_equals_full_rebuild(spark, tmp_path):
    """The daily-delta pattern: save an index over the base corpus,
    load it in a 'later session', update() with the delta — every
    stage must equal a from-scratch build over base ∪ delta. Also
    asserts the incremental path did NOT rebuild any stage (the build
    counters stay 0 on the loaded index)."""
    from lp_etl_plugins_spark.textops import DedupIndex
    from lp_etl_plugins_spark.inventory.textops import _docs
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMOKE)
    base = docs.filter(F.col("doc_id") % 10 != 3)
    delta = docs.filter(F.col("doc_id") % 10 == 3)
    assert delta.count() > 0

    full = DedupIndex(docs, "text", "doc_id")
    built = DedupIndex(base, "text", "doc_id")
    path = str(tmp_path / "base_index")
    built.save(path)

    loaded = DedupIndex.load(spark, path)
    updated = loaded.update(delta, old_docs=base)
    assert updated is loaded
    assert loaded.updates == 1
    assert loaded.builds == dict.fromkeys(DedupIndex._STAGES, 0)
    for stage in DedupIndex._STAGES:
        assert _stage_rows(loaded, stage) == _stage_rows(full, stage), stage

    # the in-session form (no save/load) agrees too, including a
    # second save/load round trip of the UPDATED index
    insess = DedupIndex(base, "text", "doc_id").update(delta)
    for stage in ("pairs", "verified", "clusters"):
        assert _stage_rows(insess, stage) == _stage_rows(full, stage), stage
    path2 = str(tmp_path / "updated_index")
    loaded.save(path2)
    re = DedupIndex.load(spark, path2)
    assert _stage_rows(re, "pairs") == _stage_rows(full, "pairs")


def test_chained_updates_equal_one_rebuild(spark):
    """Two sequential daily deltas equal one from-scratch build over
    the final corpus — the property that makes update() a maintenance
    strategy rather than a one-shot trick."""
    from lp_etl_plugins_spark.textops import DedupIndex
    from lp_etl_plugins_spark.inventory.textops import _docs
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMOKE).filter(F.col("doc_id") % 3 == 0)
    base = docs.filter(F.col("doc_id") % 9 == 0)
    d1 = docs.filter(F.col("doc_id") % 9 == 3)
    d2 = docs.filter(F.col("doc_id") % 9 == 6)
    assert d1.count() > 0 and d2.count() > 0

    idx = DedupIndex(base, "text", "doc_id")
    idx.verified, idx.clusters  # force so both updates run incrementally
    idx.update(d1).update(d2)
    full = DedupIndex(docs, "text", "doc_id")
    for stage in ("pairs", "verified", "clusters"):
        assert _stage_rows(idx, stage) == _stage_rows(full, stage), stage


def test_update_with_band_cap_is_monotone_superset(spark):
    """With max_band_size set, update() re-evaluates the cap over the
    MERGED band groups for new pairs but never retracts mined pairs:
    the updated pair set contains the old pairs and is a superset of
    the from-scratch capped rebuild (documented monotone contract)."""
    from lp_etl_plugins_spark.textops import DedupIndex
    from lp_etl_plugins_spark.inventory.textops import _docs
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMOKE).filter(F.col("doc_id") % 4 == 0)
    base = docs.filter(F.col("doc_id") % 8 == 0)
    delta = docs.filter(F.col("doc_id") % 8 == 4)
    cap = 3
    idx = DedupIndex(base, "text", "doc_id", max_band_size=cap)
    old_pairs = set(_stage_rows(idx, "pairs"))
    idx.update(delta)
    got = set(_stage_rows(idx, "pairs"))
    assert old_pairs <= got
    rebuilt = set(_stage_rows(DedupIndex(docs, "text", "doc_id", max_band_size=cap), "pairs"))
    assert rebuilt <= got


def test_update_new_cross_pairs_detected(spark):
    """A delta document near-duplicating a BASE document must surface
    as a new cross (old, new) verified pair and merge clusters."""
    from lp_etl_plugins_spark.textops import DedupIndex

    base_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
    ]
    delta_rows = [
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    idx = DedupIndex(base, "text", "doc_id", threshold=0.8)
    # force the old stages so update() exercises the star-seeded merge
    idx.verified_clusters, idx.clusters
    idx.update(delta)
    assert {(r["id_a"], r["id_b"]) for r in idx.verified.collect()} == {(1, 3)}
    vlab = {r["id"]: r["cluster"] for r in idx.verified_clusters.collect()}
    assert vlab[1] == vlab[3] == 1


def test_trigram_lm_substrate_and_persistence(spark, tmp_path):
    """The LM twin of the dedup index: one training pass serves every
    consumer (build counters), save/load round-trips the counts, a
    loaded model scores the training corpus identically to the
    in-session one-shot form, and unseen grams hit the add-one floor
    instead of dropping the document."""
    from lp_etl_plugins_spark import textops as T
    from lp_etl_plugins_spark.inventory.textops import _docs, lm_index

    docs = _docs(spark, SF_SMOKE)
    oneshot = {r["id"]: r["doc_lp"] for r in T.trigram_lm_logprob(docs, "text", "doc_id").collect()}

    lm = lm_index(spark, SF_SMOKE)
    assert lm_index(spark, SF_SMOKE) is lm
    for _ in range(2):
        lm.score().collect()
    assert lm.builds == {"grams": 1, "counts": 1}
    assert {r["id"]: r["doc_lp"] for r in lm.score().collect()} == oneshot

    path = str(tmp_path / "lm")
    lm.save(path)
    loaded = T.TrigramLM.load(spark, path)
    assert loaded.builds == {"grams": 0, "counts": 0}
    got = {r["id"]: r["doc_lp"] for r in loaded.score(docs, "text", "doc_id").collect()}
    assert got == oneshot

    # held-out doc with out-of-vocabulary grams still scores (floor),
    # below the corpus-typical score
    held = spark.createDataFrame([(999999, "zzqxv zzqxv zzqxv")], "doc_id long, text string")
    h = loaded.score(held, "text", "doc_id").collect()
    assert len(h) == 1 and h[0]["doc_lp"] < min(oneshot.values())


def test_trigram_lm_incremental_update(spark, tmp_path):
    """TrigramLM.update == retrain on the union, exactly: the model is
    an additive doc-frequency count table, so the delta merge is
    lossless. Asserted on raw counts AND on scores of a probe frame,
    in-session and through a save/load round trip."""
    from lp_etl_plugins_spark import textops as T
    from lp_etl_plugins_spark.inventory.textops import _docs

    docs = _docs(spark, SF_SMOKE)
    base, delta = docs.filter("doc_id < 400"), docs.filter("doc_id >= 400")
    full = T.TrigramLM(docs, "text", "doc_id")
    want_counts = {r["g"]: r["c"] for r in full.counts.collect()}
    probe = docs.filter("doc_id % 7 == 0")
    want_scores = {
        r["id"]: r["doc_lp"] for r in full.score(probe, "text", "doc_id").collect()
    }

    lm = T.TrigramLM(base, "text", "doc_id")
    lm.counts.count()  # force the base model before the merge
    lm.update(delta)
    assert lm.updates == 1
    assert {r["g"]: r["c"] for r in lm.counts.collect()} == want_counts
    got = {r["id"]: r["doc_lp"] for r in lm.score(probe, "text", "doc_id").collect()}
    assert got == want_scores
    # score() with no frame covers the merged corpus after update
    assert lm.score().count() == full.score().count()

    # cross-session: save base, load, update, save again, reload
    p1 = str(tmp_path / "lm_base")
    T.TrigramLM(base, "text", "doc_id").save(p1)
    loaded = T.TrigramLM.load(spark, p1)
    loaded.update(delta, "text", "doc_id")
    p2 = str(tmp_path / "lm_updated")
    loaded.save(p2)
    re = T.TrigramLM.load(spark, p2)
    got2 = {r["id"]: r["doc_lp"] for r in re.score(probe, "text", "doc_id").collect()}
    assert got2 == want_scores


def test_verified_clusters_exclude_lsh_false_positives(spark):
    """Deletion-grade clusters must derive from VERIFIED pairs: a
    candidate pair whose exact Jaccard is below threshold (an LSH
    band collision) appears in `clusters` but must NOT merge in
    `verified_clusters` — otherwise a curation pipeline deletes a
    non-duplicate. Construct a corpus where two documents share one
    minhash band but have Jaccard < 0.8."""
    from lp_etl_plugins_spark.textops import DedupIndex

    rows = [
        # near-identical pair (true duplicates, Jaccard ≈ 1)
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # moderately-overlapping doc: enough shared shingles that SOME
        # 2-row band may collide with 1/2, but Jaccard well below 0.8
        (3, "alpha beta gamma delta epsilon zeta omega psi chi phi "
            "upsilon tau sigma rho pi omicron xi nu mu lambda"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = DedupIndex(docs, "text", "doc_id", threshold=0.8)
    verified = {(r["id_a"], r["id_b"]) for r in idx.verified.collect()}
    assert (1, 2) in verified
    assert (1, 3) not in verified and (2, 3) not in verified
    vlab = {r["id"]: r["cluster"] for r in idx.verified_clusters.collect()}
    # 1 and 2 merge; 3 never joins the verified cluster even if it was
    # a candidate
    assert vlab.get(1) == vlab.get(2)
    assert vlab.get(3, 3) != vlab[1]


def test_compact_saved_index_pure_relayout(spark, tmp_path):
    """DedupIndex.compact over a save()-d directory: after two
    update()+append_saved cycles have grown the monotone stages by
    small per-delta files, compaction re-partitions every stage to the
    target file count with row content untouched — load() serves
    identical frames before and after."""
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import DedupIndex
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMOKE)
    base = docs.filter(F.col("doc_id") % 10 <= 6)
    idx = DedupIndex(base, "text", "doc_id")
    path = str(tmp_path / "idx")
    idx.save(path)
    live = DedupIndex.load(spark, path)
    for residue in (7, 8):
        live.update(
            docs.filter(F.col("doc_id") % 10 == residue),
            old_docs=docs.filter(F.col("doc_id") % 10 < residue),
        )
        live.append_saved(path)
        live = DedupIndex.load(spark, path)

    before = {s: _stage_rows(live, s) for s in DedupIndex._STAGES}
    files_before = storage.count_data_files(f"{path}/pairs")
    assert files_before >= 3  # base + two appended deltas

    metrics = DedupIndex.compact(spark, path)
    assert set(metrics) == set(DedupIndex._STAGES)
    for s in DedupIndex._STAGES:
        assert metrics[s]["files_after"] == 1, s
    assert metrics["pairs"]["files_before"] == files_before

    re = DedupIndex.load(spark, path)
    assert {s: _stage_rows(re, s) for s in DedupIndex._STAGES} == before
    # and the compacted index still absorbs deltas
    re.update(
        docs.filter(F.col("doc_id") % 10 == 9),
        old_docs=docs.filter(F.col("doc_id") % 10 <= 8),
    )
    full = DedupIndex(docs, "text", "doc_id")
    assert _stage_rows(re, "pairs") == _stage_rows(full, "pairs")
    assert _stage_rows(re, "verified") == _stage_rows(full, "verified")


def test_compact_recovers_from_stale_temp_dir(spark, tmp_path):
    """Crash-considerateness: a leftover .__compact__ temp directory
    from an interrupted compaction (the documented seam) is discarded
    and replaced on the next run — compact succeeds, leaves no temp
    dirs, and the index content is unchanged."""
    import os

    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import DedupIndex

    docs = _docs(spark, SF_SMOKE)
    idx = DedupIndex(docs, "text", "doc_id")
    path = str(tmp_path / "idx")
    idx.save(path)
    before = {s: _stage_rows(DedupIndex.load(spark, path), s)
              for s in DedupIndex._STAGES}
    # plant a stale half-written temp dir where compact will write
    stale = f"{path}/pairs.__compact__"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-garbage.parquet"), "wb") as f:
        f.write(b"not parquet")

    metrics = DedupIndex.compact(spark, path)
    assert metrics["pairs"]["files_after"] == 1
    assert not os.path.exists(stale)
    assert not [d for d in os.listdir(path) if d.endswith(".__compact__")]
    after = {s: _stage_rows(DedupIndex.load(spark, path), s)
             for s in DedupIndex._STAGES}
    assert after == before


def test_trigram_lm_load_pre_column_meta(spark, tmp_path):
    """A model saved before the meta gained text_col/id_col (n-only
    schema) loads with the historical defaults instead of crashing."""
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import TrigramLM

    docs = _docs(spark, SF_SMOKE).selectExpr("doc_id as id", "text")
    lm = TrigramLM(docs, "text", "id")
    path = str(tmp_path / "lm")
    lm.save(path)
    want = sorted(
        tuple(r) for r in lm.score(docs.filter("id < 20")).collect()
    )
    storage.single_partition_df(spark, [(3,)], "n int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    re = TrigramLM.load(spark, path)
    assert (re._text_col, re._id_col, re._n) == ("text", "id", 3)
    got = sorted(
        tuple(r) for r in re.score(docs.filter("id < 20")).collect()
    )
    assert got == want


@pytest.mark.slow
def test_compact_swap_crash_windows(spark, tmp_path):
    """r7 ADVICE: the rewrite swap renames the OLD directory aside
    before renaming the new one in, so a complete copy exists on disk
    at every instant. A normal compact leaves neither temp nor
    .__old__ dirs; a planted stale .__old__ dir is cleared; and the
    one bad crash window (between the two renames) recovers with a
    single rename of the surviving complete copy — simulated here."""
    import os
    import shutil

    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import DedupIndex

    docs = _docs(spark, SF_SMOKE)
    idx = DedupIndex(docs, "text", "doc_id")
    path = str(tmp_path / "idx")
    idx.save(path)
    before = _stage_rows(DedupIndex.load(spark, path), "pairs")

    # stale .__old__ from an interrupted earlier swap is cleared
    stale = f"{path}/pairs.__old__"
    os.makedirs(stale)
    with open(os.path.join(stale, "junk"), "wb") as f:
        f.write(b"x")
    DedupIndex.compact(spark, path)
    assert not os.path.exists(stale)
    assert not [d for d in os.listdir(path)
                if d.endswith((".__compact__", ".__old__"))]
    assert _stage_rows(DedupIndex.load(spark, path), "pairs") == before

    # crash between the renames: old aside, new still in the temp dir
    # — BOTH complete; recovery is one rename of either copy
    p = f"{path}/pairs"
    shutil.copytree(p, p + ".__compact__")
    os.rename(p, p + ".__old__")
    assert not os.path.exists(p)
    os.rename(p + ".__compact__", p)  # the documented single-rename
    shutil.rmtree(p + ".__old__")
    assert _stage_rows(DedupIndex.load(spark, path), "pairs") == before
    # and a later compact over the recovered dir is clean
    m = storage.rewrite_parquet_dir(
        spark, p, spark.read.parquet(p), 1 << 20
    )
    assert m["files_after"] == 1
    assert _stage_rows(DedupIndex.load(spark, path), "pairs") == before


# -- property: the band cap is EXACT, not heuristic ----------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_boiler=hst.integers(min_value=2, max_value=12),
    n_noise=hst.integers(min_value=1, max_value=6),
    cap=hst.integers(min_value=2, max_value=8),
)
@pytest.mark.slow
def test_band_cap_exactness_property(spark, n_boiler, n_noise, cap):
    """VERDICT r7 #3 — cap-triggered exactness on adversarial shapes:
    a planted boilerplate group of random size (same passage + unique
    tail word, so every member co-occupies every band group) against
    a random cap. The capped pair set must equal its DEFINITION
    recomputed from the band frame in the test — co-occupant pairs
    within (band, key) groups of size ≤ cap, nothing else — i.e. the
    cap is a deterministic admission rule, not a sampler: groups at
    or under the cap yield ALL their pairs, groups over it yield
    none. (The monotone-superset UPDATE contract over capped groups
    has its own test above.)"""
    from itertools import combinations

    from lp_etl_plugins_spark.textops import DedupIndex

    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{boiler} tail{i}") for i in range(n_boiler)]
    rows += [
        (100 + j, f"noise{j}a noise{j}b noise{j}c noise{j}d noise{j}e")
        for j in range(n_noise)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = DedupIndex(docs, "text", "doc_id", max_band_size=cap)
    got = {(r["id_a"], r["id_b"]) for r in idx.pairs.collect()}

    # the definition, recomputed independently from the band frame
    groups: dict[tuple, list] = {}
    for r in idx.bands.collect():
        groups.setdefault((r["band"], r["key"]), []).append(r["id"])
    want = set()
    for ids in groups.values():
        if len(ids) <= cap:
            for a, b in combinations(sorted(set(ids)), 2):
                want.add((a, b))
    assert got == want
    # when some band group actually outgrew the cap, the capped set
    # must be a strict subset of the uncapped mining UNLESS every
    # suppressed pair is also mined through a smaller co-occupied
    # group — so assert the subset relation plus the exact difference:
    # uncapped-only pairs are precisely those whose EVERY shared group
    # is over the cap
    if any(len(set(ids)) > cap for ids in groups.values()):
        full = {
            (r["id_a"], r["id_b"])
            for r in DedupIndex(docs, "text", "doc_id").pairs.collect()
        }
        assert got <= full
        only_big = set()
        for a, b in full:
            shared = [
                ids
                for ids in groups.values()
                if a in ids and b in ids
            ]
            if shared and all(len(set(ids)) > cap for ids in shared):
                only_big.add((a, b))
        assert full - got == only_big


@pytest.mark.slow
def test_streamed_ingestion_equals_batch(spark, tmp_path):
    """Micro-batch ingestion through DedupIndex.foreach_batch_update
    (the standalone index's absorber, r8 — completing the family):
    two monotone delta files drained oldest-first, each appended to
    the co-maintained corpus log and absorbed as one update +
    append_saved — the final saved index equals a from-scratch build
    stage-for-stage; a replayed batch is a no-op for corpus AND
    index; a straddling batch raises; a pre-mark save is refused."""
    import os
    import time

    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import DedupIndex
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMOKE).select("doc_id", "text")
    hi = docs.agg(F.max("doc_id")).first()[0]
    c1, c2 = (hi * 7) // 10, (hi * 85) // 100
    corpus_dir = str(tmp_path / "corpus")
    docs.filter(F.col("doc_id") <= c1).write.parquet(corpus_dir)
    path = str(tmp_path / "idx")
    base_idx = DedupIndex(spark.read.parquet(corpus_dir), "text", "doc_id")
    base_idx.save(path)
    assert base_idx.max_doc_id == c1 or base_idx.max_doc_id <= c1

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
    absorb = DedupIndex.foreach_batch_update(spark, path, corpus_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = stream.writeStream.foreachBatch(absorb).trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    q.awaitTermination(300)

    re = DedupIndex.load(spark, path)
    assert re.max_doc_id == hi
    assert spark.read.parquet(corpus_dir).count() == docs.count()
    full = DedupIndex(docs, "text", "doc_id")
    for stage in DedupIndex._STAGES:
        assert _stage_rows(re, stage) == _stage_rows(full, stage), stage
    # replay: committed batch is a no-op for corpus and index
    n_bands = re.bands.count()
    absorb(docs.filter(F.col("doc_id") > c2), 99)
    assert spark.read.parquet(corpus_dir).count() == docs.count()
    assert DedupIndex.load(spark, path).bands.count() == n_bands
    # straddling batch raises
    strad = docs.filter(F.col("doc_id") == c2).unionByName(
        docs.filter(F.col("doc_id") == hi).withColumn(
            "doc_id", F.col("doc_id") + 1
        )
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="straddle"):
        absorb(strad, 100)
    # pre-mark meta (legacy save) is refused loudly
    storage.write_control_parquet(
        f"{path}/meta",
        [("text", "doc_id", 3, 12, 6, 2, 0.8, None)],
        "text_col string, id_col string, shingle_n int, k int, bands int, "
        "rows int, threshold double, max_band_size int",
    )
    with _pytest.raises(ValueError, match="high-water mark"):
        DedupIndex.foreach_batch_update(spark, path, corpus_dir)(
            docs.filter(F.col("doc_id") > c2).withColumn(
                "doc_id", F.col("doc_id") + 10000
            ),
            0,
        )


@pytest.mark.slow
def test_absorber_repairs_torn_index_half(spark, tmp_path):
    """Round-8 seam closure: a crash INSIDE the index half's
    multi-stage append (after the corpus log landed, before the meta
    stamp) must CONVERGE on replay to exactly the clean-absorb state,
    whatever prefix of the stage writes the crash preserved — the
    redo branch drops landed-but-unstamped rows from the loaded
    monotone stages, re-derives the label stages (whose wholesale
    overwrite may itself have torn — simulated here with a truncated
    clusters frame), and append_saved(repair=True) anti-joins each
    monotone delta against disk so nothing lands twice. Runs with a
    binding max_band_size so the merged-band double-count hazard (a
    landed bands append inflating _cap_band_groups sizes) is
    exercised, not just the duplication hazard."""
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import DedupIndex
    from pyspark.sql import functions as F

    docs = _docs(spark, SF_SMOKE).filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "text"
    )
    hi = docs.agg(F.max("doc_id")).first()[0]
    cut = (hi * 7) // 10
    base = docs.filter(F.col("doc_id") <= cut)
    delta = docs.filter(F.col("doc_id") > cut)
    assert delta.count() > 0
    cap = 3

    def fresh(tag):
        corpus_dir = str(tmp_path / tag / "corpus")
        idx_dir = str(tmp_path / tag / "idx")
        base.write.parquet(corpus_dir)
        DedupIndex(
            spark.read.parquet(corpus_dir), "text", "doc_id", max_band_size=cap
        ).save(idx_dir)
        return corpus_dir, idx_dir

    # the reference: one clean absorb
    ref_corpus, ref_idx = fresh("clean")
    DedupIndex.foreach_batch_update(spark, ref_idx, ref_corpus)(delta, 0)
    want = {
        s: _stage_rows(DedupIndex.load(spark, ref_idx), s)
        for s in DedupIndex._STAGES
    }

    for crash in ("corpus_only", "pairs", "partial_pairs", "monotone", "labels"):
        corpus_dir, idx_dir = fresh(crash)
        # the crashed attempt: corpus half landed ...
        delta.write.mode("append").parquet(corpus_dir)
        if crash != "corpus_only":
            # ... and some prefix of the index half's stage writes
            live = DedupIndex.load(spark, idx_dir)
            live.update(delta, old_docs=base)
            d = live._delta
            if crash == "partial_pairs":  # torn multi-file append
                d["pairs"].filter(F.col("id_b") % 2 == 0).write.mode(
                    "append"
                ).parquet(f"{idx_dir}/pairs")
            else:
                d["pairs"].write.mode("append").parquet(f"{idx_dir}/pairs")
            if crash in ("monotone", "labels"):
                d["verified"].write.mode("append").parquet(f"{idx_dir}/verified")
                d["bands"].write.mode("append").parquet(f"{idx_dir}/bands")
            if crash == "labels":  # torn label overwrite: half the rows
                torn = live._clusters.limit(max(1, live._clusters.count() // 2))
                torn.localCheckpoint().write.mode("overwrite").parquet(
                    f"{idx_dir}/clusters"
                )
        # the replay converges
        DedupIndex.foreach_batch_update(spark, idx_dir, corpus_dir)(delta, 1)
        got = {
            s: _stage_rows(DedupIndex.load(spark, idx_dir), s)
            for s in DedupIndex._STAGES
        }
        assert got == want, crash


def test_xxhash64_family_end_to_end(spark, tmp_path):
    """The SCALE.md "md5 → xxhash swap" production note, implemented
    as DedupIndex(hash_family="xxhash64"): salted 64-bit
    non-cryptographic slots and band keys (8-byte longs instead of
    hex strings) in the SAME plan shapes. No SQL-engine twin exists
    for xxhash64, so the family is self-consistency-gated instead of
    oracle-twinned: update == rebuild stage-for-stage, planted exact
    duplicates are found (identical shingle sets give identical
    signatures under any min-wise family), save/load round-trips the
    family so deltas hash identically to the original build, and a
    legacy meta (no hash_family column) loads as md5."""
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.textops import DedupIndex
    from pyspark.sql import functions as F

    real = _docs(spark, SF_SMOKE).select("doc_id", "text")
    hi0 = real.agg(F.max("doc_id")).first()[0]
    # plant an exact duplicate of the lowest doc at the top of the id
    # range (the smoke slice has no byte-identical texts of its own)
    planted = real.orderBy("doc_id").limit(1).withColumn(
        "doc_id", F.lit(int(hi0) + 1000)
    )
    docs = real.unionByName(planted).localCheckpoint()
    hi = int(hi0) + 1000
    cut = (hi0 * 7) // 10
    base = docs.filter(F.col("doc_id") <= cut)
    delta = docs.filter(F.col("doc_id") > cut)

    inc = DedupIndex(base, "text", "doc_id", hash_family="xxhash64")
    inc.verified, inc.clusters  # force: updates must run incrementally
    inc.update(delta, old_docs=base)
    full = DedupIndex(docs, "text", "doc_id", hash_family="xxhash64")
    for stage in DedupIndex._STAGES:
        assert _stage_rows(inc, stage) == _stage_rows(full, stage), stage

    # the planted exact duplicate pairs up under the family (identical
    # shingle set → identical signatures → every band matches)
    lo = int(docs.agg(F.min("doc_id")).first()[0])
    verified = {(r["id_a"], r["id_b"]) for r in full.verified.collect()}
    assert (lo, hi) in verified
    # band keys are longs, not hex strings
    assert dict(full.bands.dtypes)["key"] == "bigint"

    path = str(tmp_path / "xxidx")
    full.save(path)
    loaded = DedupIndex.load(spark, path)
    assert loaded._hash_family == "xxhash64"
    assert _stage_rows(loaded, "pairs") == _stage_rows(full, "pairs")

    # legacy meta (pre-family layout) loads as the md5 family
    storage.write_control_parquet(
        f"{path}/meta",
        [("text", "doc_id", 3, 12, 6, 2, 0.8, None, int(hi))],
        "text_col string, id_col string, shingle_n int, k int, bands int, "
        "rows int, threshold double, max_band_size int, max_doc_id bigint",
    )
    assert DedupIndex.load(spark, path)._hash_family == "md5"


def test_xxhash64_gram_and_winnow_families(spark, tmp_path):
    """Round 9 completes the SCALE.md md5→xxhash swap for the two
    substrates that still shuffled md5-derived keys: the gram
    candidate index and the winnowing fingerprints. DuckDB has no
    xxhash64, so the family is self-consistency-gated:

    - planted near-dup recall: the xxhash64 gram miner finds the
      planted pair the md5 miner finds, with the identical plan shape;
    - the winnowing guarantee (docs sharing a run of ≥ w+n-1 words
      share a fingerprint) holds under xxhash64, and fingerprints are
      BIGINT (8 bytes through the window + distinct shuffles, not
      10-char hex strings);
    - CurationState(gram_hash_family="xxhash64"): update == rebuild
      on the contamination evidence — the same exactness contract the
      md5 family is oracle-gated on — through a save/load round trip
      (the meta carries the family)."""
    from lp_etl_plugins_spark import textops as T
    from lp_etl_plugins_spark.incremental import CurationState
    from lp_etl_plugins_spark.inventory.textops import _docs

    docs = _docs(spark, SF_SMOKE).select("doc_id", "source", "text")

    # gram miner: identical planted-pair recall across families
    md5_pairs = {
        (r["id_a"], r["id_b"])
        for r in T.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.65
        ).collect()
    }
    xx_pairs = {
        (r["id_a"], r["id_b"])
        for r in T.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.65, hash_family="xxhash64"
        ).collect()
    }
    assert md5_pairs, "corpus must contain near-dup pairs"
    assert xx_pairs == md5_pairs

    # winnowing: bigint fingerprints, guarantee holds
    two = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta unique one"),
            (2, "prefix words alpha beta gamma delta epsilon zeta eta theta"),
            (3, "completely different text with no shared run at all here"),
        ],
        "doc_id long, text string",
    )
    fps = T.winnow_fingerprints(two, "text", "doc_id", n=3, w=4,
                                hash_family="xxhash64")
    assert dict(fps.dtypes)["fp"] == "bigint"
    by_id = {}
    for r in fps.collect():
        by_id.setdefault(r["id"], set()).add(r["fp"])
    assert by_id[1] & by_id[2]          # shared ≥ w+n-1 word run
    assert not (by_id[1] & by_id[3])    # unrelated docs don't collide

    # curation state: update == rebuild under the production family
    base, delta = docs.filter("doc_id < 300"), docs.filter("doc_id >= 300")
    p1, p2 = str(tmp_path / "inc"), str(tmp_path / "full")
    st = CurationState.build(spark, base, p1, gram_hash_family="xxhash64")
    assert st.meta["gram_hash_family"] == "xxhash64"
    st = CurationState.load(spark, p1)  # family survives the round trip
    assert st.meta["gram_hash_family"] == "xxhash64"
    st.update(delta.localCheckpoint())
    full = CurationState.build(spark, docs, p2, gram_hash_family="xxhash64")

    def pairs(s):
        return sorted(tuple(r) for r in s.contamination().collect())

    def curated(s):
        return sorted(tuple(r) for r in s.curated().collect())

    assert pairs(st) == pairs(full)
    assert curated(st) == curated(full)
    assert st.check(index_stages=False)["ok"]


def test_high_water_mark_covers_unshingleable_docs(spark, tmp_path):
    """Round 9 (found by the TrigramLM lifecycle property, fixed across
    the family): the idempotence stamp must cover DOC ids, not derived
    rows — a corpus or batch whose max-id document is too short to
    shingle previously understated max_doc_id (bands max), leaving
    that batch permanently replaying through the redo branch."""
    from lp_etl_plugins_spark.textops import DedupIndex

    rows = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta run {i}")
        for i in range(8)
    ] + [(8, "short")]  # max-id doc: 1 word, below shingle_n
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus_dir = str(tmp_path / "corpus")
    docs.write.parquet(corpus_dir)
    path = str(tmp_path / "idx")
    DedupIndex(spark.read.parquet(corpus_dir), "text", "doc_id").save(path)
    assert storage.read_control_row(f"{path}/meta")["max_doc_id"] == 8

    # a streamed batch ENDING in a short doc: stamp covers it, replay
    # is a clean idempotent skip (not a redo), state unchanged
    delta = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta eta theta run 9"),
         (10, "tiny")],
        "doc_id long, text string",
    )
    absorb = DedupIndex.foreach_batch_update(spark, path, corpus_dir)
    absorb(delta, 0)
    assert storage.read_control_row(f"{path}/meta")["max_doc_id"] == 10
    before = sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/bands").collect()
    )
    absorb(delta, 1)  # replay: skipped, nothing re-landed
    assert sorted(
        tuple(r) for r in spark.read.parquet(f"{path}/bands").collect()
    ) == before
    assert spark.read.parquet(corpus_dir).count() == 11


def test_chained_updates_single_append_lands_every_delta(spark, tmp_path):
    """Round 9 family-wide fix: append_saved previously landed only
    the LAST update()'s delta — update(d1); update(d2); append_saved()
    silently dropped d1's rows from disk while the meta stamp covered
    its ids (the replay then skipped the batch and the rows were gone
    forever). The pending delta now ACCUMULATES: one append lands
    everything since the last save/append, across all four standalone
    index families."""
    from lp_etl_plugins_spark import vectorops as V
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.inventory.vectorops import _emb
    from lp_etl_plugins_spark.multimodal import MediaIndex, synthetic_media
    from lp_etl_plugins_spark.textops import DedupIndex, TrigramLM

    docs = _docs(spark, SF_SMOKE).select("doc_id", "source", "text")
    base = docs.filter("doc_id < 300")
    d1 = docs.filter("doc_id >= 300 and doc_id < 400").localCheckpoint()
    d2 = docs.filter("doc_id >= 400").localCheckpoint()

    # DedupIndex
    p = str(tmp_path / "didx")
    DedupIndex(base, "text", "doc_id").save(p)
    idx = DedupIndex.load(spark, p)
    idx.update(d1, old_docs=base)
    idx.update(d2, old_docs=base.unionByName(d1))
    idx.append_saved(p)
    re = DedupIndex.load(spark, p)
    full = DedupIndex(docs, "text", "doc_id")
    for stage in ("bands", "pairs", "verified"):
        assert sorted(
            tuple(r) for r in getattr(re, stage).collect()
        ) == sorted(tuple(r) for r in getattr(full, stage).collect()), stage

    # TrigramLM
    p = str(tmp_path / "lm")
    TrigramLM(base, "text", "doc_id").save(p)
    lm = TrigramLM.load(spark, p)
    lm.update(d1)
    lm.update(d2)
    lm.append_saved(p)
    got = sorted(tuple(r) for r in TrigramLM.load(spark, p)._counts.collect())
    want = sorted(
        tuple(r) for r in TrigramLM(docs, "text", "doc_id").counts.collect()
    )
    assert got == want

    # VectorIndex (frozen quantizers: rebuild twin = base-trained
    # quantizers encoding the union, i.e. update on a fresh load)
    emb = _emb(spark, SF_SMOKE)
    e_base = emb.filter("vec_id < 300")
    e1 = emb.filter("vec_id >= 300 and vec_id < 400").drop("label").localCheckpoint()
    e2 = emb.filter("vec_id >= 400").drop("label").localCheckpoint()
    p = str(tmp_path / "vidx")
    V.VectorIndex(e_base).save(p)
    vi = V.VectorIndex.load(spark, p)
    vi.update(e1)
    vi.update(e2)
    vi.append_saved(p)
    re = V.VectorIndex.load(spark, p)
    one = V.VectorIndex(e_base)
    one.update(e1.unionByName(e2))
    assert sorted(tuple(r) for r in re.corpus_lists.collect()) == sorted(
        tuple(r) for r in one.corpus_lists.collect()
    )
    assert sorted(tuple(r) for r in re.codes.collect()) == sorted(
        tuple(r) for r in one.codes.collect()
    )

    # MediaIndex
    media = synthetic_media(spark, 200)
    m_base = media.filter("media_id < 120")
    m1 = media.filter("media_id >= 120 and media_id < 160").localCheckpoint()
    m2 = media.filter("media_id >= 160").localCheckpoint()
    p = str(tmp_path / "midx")
    MediaIndex(m_base).save(p)
    mi = MediaIndex.load(spark, p)
    mi.update(m1)
    mi.update(m2)
    mi.append_saved(p)
    re = MediaIndex.load(spark, p)
    full = MediaIndex(media)
    for stage in ("phash", "pairs"):
        assert sorted(
            tuple(r) for r in getattr(re, stage).collect()
        ) == sorted(tuple(r) for r in getattr(full, stage).collect()), stage
