"""MediaIndex: the session-shared + persistable perceptual-dedup
substrate (VERDICT r7 #1).

The load-bearing assertion mirrors the t34/v16/t38 family:
``build(base); update(delta)`` must equal ``build(base ∪ delta)``
stage-for-stage — including the BRIDGE case (a delta image near both
of two previously separate clusters must merge them under the seeded
star-edge relabel) — plus the lifecycle half: save/load identity,
O(delta) append_saved, pure-relayout compact, and the build-once
session cache that m6/m7/m9 consume.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.multimodal import MediaIndex, synthetic_media


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _stage_rows(idx, stage):
    return _rows(getattr(idx, stage))


def test_stages_build_exactly_once(spark):
    idx = MediaIndex(synthetic_media(spark, 120))
    for _ in range(2):
        idx.clusters.collect()
        idx.pairs.collect()
    assert idx.builds == dict.fromkeys(MediaIndex._STAGES, 1)
    assert idx.pairs is idx.pairs


def test_param_guards(spark):
    media = synthetic_media(spark, 10)
    with pytest.raises(ValueError, match="divide 64"):
        MediaIndex(media, n_bands=5)
    with pytest.raises(ValueError, match="pigeonhole"):
        MediaIndex(media, n_bands=4, max_hamming=4)


@pytest.mark.slow
def test_update_equals_rebuild(spark):
    """The daily-delta gate: base build + frozen-params update equals
    a from-scratch build over the union, stage-for-stage — with the
    cluster labels FORCED before the update so the seeded star-edge
    relabel path (not a lazy rebuild from merged pairs) is what gets
    compared."""
    media = synthetic_media(spark, 200)
    base = media.filter(F.col("media_id") % 4 != 3)
    delta = media.filter(F.col("media_id") % 4 == 3)
    assert delta.count() > 0

    inc = MediaIndex(base)
    inc.clusters  # force base labels: update must relabel incrementally
    inc.update(delta)
    full = MediaIndex(media)
    for stage in MediaIndex._STAGES:
        assert _stage_rows(inc, stage) == _stage_rows(full, stage), stage
    assert _stage_rows(full, "pairs")  # non-degenerate corpus


def test_update_merges_bridged_clusters(spark):
    """A delta blob byte-identical to members of the base corpus
    (hamming 0 to each copy) must pull its neighbors into ONE cluster
    labeled by the global min id — the non-trivial relabel the star
    seeding exists for."""
    media = synthetic_media(spark, 200)
    # planted copies of blob 0 and blob 40 (same construction as m8's
    # duplicate planting: payload depends only on the generator index)
    dup_a = synthetic_media(spark, 1).withColumn(
        "media_id", F.col("media_id") + 1000
    )
    base = media.unionByName(dup_a)
    idx = MediaIndex(base)
    labels_before = dict(
        (r["id"], r["cluster"]) for r in idx.clusters.collect()
    )
    assert labels_before.get(1000) == labels_before.get(0, 0)

    dup_b = synthetic_media(spark, 1).withColumn(
        "media_id", F.col("media_id") + 2000
    )
    idx.update(dup_b)
    labels = dict((r["id"], r["cluster"]) for r in idx.clusters.collect())
    # 2000 joins 0's cluster; the label stays the global min member
    assert labels[2000] == labels[1000] == labels[0]
    full = MediaIndex(base.unionByName(dup_b))
    assert _stage_rows(idx, "clusters") == _stage_rows(full, "clusters")


def test_saved_index_serves_identically(spark, tmp_path):
    media = synthetic_media(spark, 150)
    built = MediaIndex(media)
    want = {s: _stage_rows(built, s) for s in MediaIndex._STAGES}
    path = str(tmp_path / "midx")
    built.save(path)
    assert built.max_id == 149

    loaded = MediaIndex.load(spark, path)
    assert {s: _stage_rows(loaded, s) for s in MediaIndex._STAGES} == want
    assert loaded.builds == dict.fromkeys(MediaIndex._STAGES, 0)
    assert loaded.max_id == 149


def test_loaded_update_needs_no_old_media(spark, tmp_path):
    """The content-complete property: a load()-ed index absorbs a
    delta WITHOUT the old corpus (unlike DedupIndex, which needs
    old_docs for text re-reads) — verification runs entirely over
    stored hashes."""
    media = synthetic_media(spark, 200)
    base = media.filter(F.col("media_id") < 150)
    delta = media.filter(F.col("media_id") >= 150)
    path = str(tmp_path / "midx")
    MediaIndex(base).save(path)

    loaded = MediaIndex.load(spark, path)
    loaded.update(delta)  # no old media passed — must not raise
    assert loaded.builds == dict.fromkeys(MediaIndex._STAGES, 0)
    full = MediaIndex(media)
    for stage in MediaIndex._STAGES:
        assert _stage_rows(loaded, stage) == _stage_rows(full, stage), stage


def test_append_saved_is_delta_only_and_compact_relayouts(spark, tmp_path):
    import os

    media = synthetic_media(spark, 200)
    base = media.filter(F.col("media_id") < 150)
    delta = media.filter(F.col("media_id") >= 150)
    path = str(tmp_path / "midx")
    MediaIndex(base).save(path)
    phash_files_before = storage.count_data_files(f"{path}/phash")

    live = MediaIndex.load(spark, path)
    live.update(delta)
    live.append_saved(path)
    assert storage.count_data_files(f"{path}/phash") > phash_files_before
    with pytest.raises(ValueError, match="no update"):
        live.append_saved(path)

    re = MediaIndex.load(spark, path)
    assert re.max_id == 199
    full = MediaIndex(media)
    want = {s: _stage_rows(full, s) for s in MediaIndex._STAGES}
    assert {s: _stage_rows(re, s) for s in MediaIndex._STAGES} == want

    metrics = MediaIndex.compact(spark, path)
    assert set(metrics) == set(MediaIndex._STAGES)
    for s in MediaIndex._STAGES:
        assert metrics[s]["files_after"] == 1, s
    assert not [d for d in os.listdir(path)
                if d.endswith((".__compact__", ".__old__"))]
    re2 = MediaIndex.load(spark, path)
    assert re2.max_id == 199
    assert {s: _stage_rows(re2, s) for s in MediaIndex._STAGES} == want


def test_session_cache_identity_and_consumers(spark):
    from lp_etl_plugins_spark.inventory import mediaops as M

    idx1 = M.media_index(spark, "/root/testdata/sf0.001")
    idx2 = M.media_index(spark, "/root/testdata/sf0.001")
    assert idx1 is idx2
    # consumers read slices of the shared build, no rebuilds
    out7 = M.m7_phash_neardup(spark, "/root/testdata/sf0.001")
    out9 = M.m9_phash_clusters(spark, "/root/testdata/sf0.001")
    assert out7.count() > 0 and out9.count() > 0
    assert idx1.builds == dict.fromkeys(MediaIndex._STAGES, 1)
    M.m6_phash_buckets(spark, "/root/testdata/sf0.001").count()
    assert idx1.builds["phash"] == 1


@pytest.mark.slow
def test_streamed_ingestion_equals_batch(spark, tmp_path):
    """Micro-batch ingestion through multimodal.foreach_batch_add:
    two monotone delta files drained oldest-first, each absorbed as
    one frozen-params update + O(delta) append — the final saved
    index serves exactly what one batch build over everything does; a
    replayed batch is a no-op and a straddling batch raises."""
    import os
    import time

    from lp_etl_plugins_spark.multimodal import foreach_batch_add

    media = synthetic_media(spark, 200)
    base = media.filter(F.col("media_id") < 140)
    d1 = media.filter((F.col("media_id") >= 140) & (F.col("media_id") < 170))
    d2 = media.filter(F.col("media_id") >= 170)
    path = str(tmp_path / "midx")
    MediaIndex(base).save(path)

    stream_dir = tmp_path / "stream"
    d1.coalesce(1).write.parquet(str(stream_dir / "d1"))
    d2.coalesce(1).write.parquet(str(stream_dir / "d2"))
    now = time.time()
    for sub, age in (("d1", 120), ("d2", 60)):
        for f in (stream_dir / sub).iterdir():
            os.utime(f, (now - age, now - age))
    absorb = foreach_batch_add(spark, path)
    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = stream.writeStream.foreachBatch(absorb).trigger(
        availableNow=True
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    q.awaitTermination(300)

    re = MediaIndex.load(spark, path)
    assert re.max_id == 199
    full = MediaIndex(media)
    for stage in MediaIndex._STAGES:
        assert _stage_rows(re, stage) == _stage_rows(full, stage), stage
    # replay: a committed batch is a no-op
    n_ph = re.phash.count()
    absorb(d2, 99)
    assert MediaIndex.load(spark, path).phash.count() == n_ph
    # straddling batch raises
    strad = media.filter(F.col("media_id") == 199).unionByName(
        media.filter(F.col("media_id") == 0).withColumn(
            "media_id", F.col("media_id") + 500
        )
    )
    with pytest.raises(ValueError, match="straddle"):
        absorb(strad, 100)


def test_band_cap_is_definitional_and_persisted(spark, tmp_path):
    """The skew guard (max_band_size): capped mining must equal its
    DEFINITION — all verified pairs whose ids co-occur in at least one
    uncapped (band, key) group of size ≤ cap, nothing else (the
    deterministic-admission-rule contract of
    tests/test_dedup_index.py::test_band_cap_exactness_property,
    applied to the media side) — with the hot group (planted identical
    blobs, the structured-media shape that measured 1.8M candidate
    expansions uncapped at 12.8k blobs) actually over the cap and
    yielding nothing. save()/load() must round-trip the cap."""
    media = synthetic_media(spark, 60)
    corpus = media
    for i in range(8):  # nine identical hashes incl. original blob 0
        corpus = corpus.unionByName(
            synthetic_media(spark, 1).withColumn(
                "media_id", F.col("media_id") + 1000 + i
            )
        )
    cap = 4
    idx = MediaIndex(corpus, max_band_size=cap)
    got = {(r["id_a"], r["id_b"]) for r in idx.pairs.collect()}

    # the definition, recomputed from the uncapped hash substrate
    ph = {r["media_id"]: r["phash"] for r in MediaIndex(corpus).phash.collect()}
    groups: dict[tuple, set] = {}
    for mid, h in ph.items():
        for b in range(4):
            groups.setdefault((b, h[b * 16 : (b + 1) * 16]), set()).add(mid)
    want = {
        (a, b)
        for ids in groups.values()
        if len(ids) <= cap
        for a in ids
        for b in ids
        if a < b and sum(x != y for x, y in zip(ph[a], ph[b])) <= 3
    }
    assert got == want
    assert any(len(ids) > cap for ids in groups.values())  # cap binds
    assert (1000, 1001) not in got  # the hot group yields nothing

    path = str(tmp_path / "midx")
    idx.save(path)
    assert MediaIndex.load(spark, path)._max_band_size == cap


def test_update_with_band_cap_is_monotone_superset(spark):
    """With a cap, update() re-evaluates it over the MERGED band
    groups for new pairs but never retracts mined pairs: old pairs ⊆
    updated, and capped-rebuild ⊆ updated (the DedupIndex monotone
    contract, mirrored). The planted duplicates make a group CROSS the
    cap at the merge, so the non-trivial direction is exercised."""
    media = synthetic_media(spark, 80)
    dups = [
        synthetic_media(spark, 1).withColumn(
            "media_id", F.col("media_id") + 1000 + i
        )
        for i in range(6)
    ]
    base = media
    for d in dups[:2]:
        base = base.unionByName(d)
    delta = dups[2]
    for d in dups[3:]:
        delta = delta.unionByName(d)
    cap = 3
    idx = MediaIndex(base, max_band_size=cap)
    old = {tuple(r) for r in idx.pairs.collect()}
    assert old  # the under-cap copies pair up in the base build
    idx.update(delta)
    got = {tuple(r) for r in idx.pairs.collect()}
    assert old <= got
    full = base
    for d in dups[2:]:
        full = full.unionByName(d)
    rebuilt = {
        tuple(r) for r in MediaIndex(full, max_band_size=cap).pairs.collect()
    }
    assert rebuilt <= got
    assert rebuilt < got  # the crossed cap retracts in rebuild, not update


def test_precap_meta_loads_uncapped(spark, tmp_path):
    """Metas saved before the skew cap existed (round-8 mid-round
    layout, no max_band_size column) must load as uncapped indexes."""
    media = synthetic_media(spark, 40)
    idx = MediaIndex(media)
    n_pairs = idx.pairs.count()
    path = str(tmp_path / "midx")
    idx.save(path)
    storage.write_control_parquet(
        f"{path}/meta",
        [("media_id", 4, 3, 39)],
        "id_col string, n_bands int, max_hamming int, max_id bigint",
    )
    loaded = MediaIndex.load(spark, path)
    assert loaded._max_band_size is None
    assert loaded.max_id == 39
    assert loaded.pairs.count() == n_pairs


def test_repair_saved_rederives_lost_writes(spark, tmp_path):
    """The crash window after the witness stage landed: phash rows
    above the stamp with the DERIVED writes (pairs, clusters, meta)
    lost must converge through repair_saved / the absorber's repair
    path — pairs re-mined from stored hashes, clusters rewritten,
    meta re-stamped — to exactly the clean-append state; a partial
    phash append raises instead."""
    from lp_etl_plugins_spark.multimodal import foreach_batch_add

    media = synthetic_media(spark, 200)
    base = media.filter(F.col("media_id") < 150)
    delta = media.filter(F.col("media_id") >= 150)
    path = str(tmp_path / "midx")
    MediaIndex(base).save(path)
    stamp = MediaIndex.load(spark, path).max_id

    # simulate: ONLY the phash append landed (derived writes + meta lost)
    live = MediaIndex.load(spark, path)
    live.update(delta)
    live._delta["phash"].write.mode("append").parquet(f"{path}/phash")

    absorb = foreach_batch_add(spark, path)
    absorb(delta, 0)  # replay hits the repair path
    re = MediaIndex.load(spark, path)
    assert re.max_id == 199
    full = MediaIndex(media)
    for stage in MediaIndex._STAGES:
        assert _stage_rows(re, stage) == _stage_rows(full, stage), stage
    # idempotent: nothing left beyond the stamp
    r = MediaIndex.repair_saved(spark, path)
    assert r == {"repaired": False, "rows_beyond_stamp": 0, "pairs_added": 0}

    # partial phash landing (half the delta) → refuse loudly
    path2 = str(tmp_path / "midx2")
    MediaIndex(base).save(path2)
    live2 = MediaIndex.load(spark, path2)
    live2.update(delta)
    live2._delta["phash"].filter(F.col("media_id") >= 175).write.mode(
        "append"
    ).parquet(f"{path2}/phash")
    with pytest.raises(ValueError, match="torn append"):
        foreach_batch_add(spark, path2)(delta, 0)


def test_repair_saved_respects_band_cap(spark, tmp_path):
    """A repaired CAPPED index must serve exactly what the clean
    absorb would have: repair_saved re-mines with the same capped
    candidate rule as update() — uncapped re-mining would resurrect
    pairs from over-cap groups (and blow up on the skewed corpora the
    cap exists for). Planted duplicates make the cap bind across the
    base/delta merge."""
    from lp_etl_plugins_spark.multimodal import foreach_batch_add

    media = synthetic_media(spark, 80)
    corpus = media
    for i in range(6):
        corpus = corpus.unionByName(
            synthetic_media(spark, 1).withColumn(
                "media_id", F.col("media_id") + 1000 + i
            )
        )
    base = corpus.filter(F.col("media_id") < 1002)
    delta = corpus.filter(F.col("media_id") >= 1002)
    cap = 3

    # reference: the clean absorb
    path_a = str(tmp_path / "clean")
    MediaIndex(base, max_band_size=cap).save(path_a)
    live = MediaIndex.load(spark, path_a)
    live.update(delta)
    live.append_saved(path_a)
    want = {s: _stage_rows(MediaIndex.load(spark, path_a), s)
            for s in MediaIndex._STAGES}

    # torn: only the phash witness landed, then the replay repairs
    path_b = str(tmp_path / "torn")
    MediaIndex(base, max_band_size=cap).save(path_b)
    torn = MediaIndex.load(spark, path_b)
    torn.update(delta)
    torn._delta["phash"].write.mode("append").parquet(f"{path_b}/phash")
    foreach_batch_add(spark, path_b)(delta, 0)

    got = {s: _stage_rows(MediaIndex.load(spark, path_b), s)
           for s in MediaIndex._STAGES}
    assert got == want
