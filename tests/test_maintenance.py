"""maintenance.vacuum — the one-call nightly sweep (VERDICT r7 #5).

One test corrupts one stage of EACH index family and shows the single
vacuum call catching all of them; one test exercises the threshold
compaction policy (healthy + fragmented → compacted; healthy + tidy →
untouched; unhealthy → never compacted by default).
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.multimodal import MediaIndex, synthetic_media
from lp_etl_plugins_spark.textops import DedupIndex, RepeatIndex, TrigramLM
from lp_etl_plugins_spark.vectorops import VectorIndex


def _build_all(spark, tmp_path):
    from lp_etl_plugins_spark.incremental import CurationState
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.inventory.vectorops import _emb

    docs = _docs(spark, SF_SMOKE).select("doc_id", "source", "text")
    paths = {}
    paths["CurationState"] = str(tmp_path / "state")
    CurationState.build(spark, docs.filter("doc_id < 250"), paths["CurationState"])
    paths["DedupIndex"] = str(tmp_path / "didx")
    DedupIndex(docs.filter("doc_id < 250"), "text", "doc_id").save(
        paths["DedupIndex"]
    )
    paths["RepeatIndex"] = str(tmp_path / "ridx")
    RepeatIndex.build(spark, docs.filter("doc_id < 250"), paths["RepeatIndex"])
    paths["VectorIndex"] = str(tmp_path / "vidx")
    VectorIndex(_emb(spark, SF_SMOKE)).save(paths["VectorIndex"])
    paths["MediaIndex"] = str(tmp_path / "midx")
    MediaIndex(synthetic_media(spark, 120)).save(paths["MediaIndex"])
    paths["TrigramLM"] = str(tmp_path / "lm")
    TrigramLM(
        docs.filter("doc_id < 250").selectExpr("doc_id as id", "text"),
        "text",
        "id",
    ).save(paths["TrigramLM"])
    return paths


@pytest.mark.slow
def test_vacuum_detects_families_and_catches_corruption(spark, tmp_path):
    paths = _build_all(spark, tmp_path)

    report = {
        r["path"]: r
        for r in M.vacuum(spark, list(paths.values())).collect()
    }
    for family, p in paths.items():
        assert report[p]["family"] == family, (family, report[p])
        assert report[p]["ok"], (family, report[p]["violations"])

    # corrupt ONE stage of each family
    # CurationState: tombstone naming a doc never in the working log
    spark.createDataFrame([(999999,)], "doc_id bigint").write.mode(
        "append"
    ).parquet(f"{paths['CurationState']}/tombstones")
    # DedupIndex: fabricated verified row with no backing pair
    spark.createDataFrame(
        [(1, 999998, 0.9)], "id_a bigint, id_b bigint, jaccard double"
    ).write.mode("append").parquet(f"{paths['DedupIndex']}/verified")
    # RepeatIndex: span row beyond the indexed high-water mark
    spark.read.parquet(f"{paths['RepeatIndex']}/spans").limit(1).withColumn(
        "id", F.lit(999997).cast("long")
    ).write.mode("append").parquet(f"{paths['RepeatIndex']}/spans")
    # VectorIndex: code rows for an id not in corpus_lists
    spark.read.parquet(f"{paths['VectorIndex']}/codes").limit(4).withColumn(
        "neighbor_id", F.lit(999996).cast("long")
    ).write.mode("append").parquet(f"{paths['VectorIndex']}/codes")
    # MediaIndex: pair referencing an unhashed id
    spark.createDataFrame(
        [(0, 999995, 0)], "id_a bigint, id_b bigint, hamming bigint"
    ).write.mode("append").parquet(f"{paths['MediaIndex']}/pairs")
    # TrigramLM: a non-positive document-frequency count
    spark.createDataFrame(
        [("zzz", -1)], "g string, c bigint"
    ).write.mode("append").parquet(f"{paths['TrigramLM']}/counts")

    report = {
        r["path"]: r
        for r in M.vacuum(spark, list(paths.values())).collect()
    }
    want = {
        "CurationState": "tombstone_not_in_working_log",
        "DedupIndex": "verified_not_in_pairs",
        "RepeatIndex": "spans_beyond_max_doc",
        "VectorIndex": "code_orphans",
        "MediaIndex": "pair_endpoint_unhashed",
        "TrigramLM": "nonpositive_counts",
    }
    for family, p in paths.items():
        assert not report[p]["ok"], family
        assert want[family] in report[p]["violations"], (
            family,
            report[p]["violations"],
        )
    # nothing was compacted while unhealthy
    assert not any(r["compacted"] for r in report.values())

    # unknown path reports, never raises
    stray = str(tmp_path / "not_an_index")
    (tmp_path / "not_an_index").mkdir()
    row = M.vacuum(spark, [stray]).collect()[0]
    assert row["family"] == "unknown" and not row["ok"]


@pytest.mark.slow
def test_vacuum_threshold_compaction_policy(spark, tmp_path):
    """Healthy + fragmented past the threshold → compacted (and still
    healthy, fewer files); healthy + under threshold → untouched."""
    media = synthetic_media(spark, 200)
    base = media.filter(F.col("media_id") < 150)
    path = str(tmp_path / "midx")
    MediaIndex(base).save(path)
    # fragment the monotone stages with two O(delta) appends
    for lo, hi in ((150, 175), (175, 200)):
        live = MediaIndex.load(spark, path)
        live.update(
            media.filter(
                (F.col("media_id") >= lo) & (F.col("media_id") < hi)
            )
        )
        live.append_saved(path)

    frag = storage.count_data_files(f"{path}/phash")
    assert frag >= 3

    # threshold above the fragmentation: untouched
    row = M.vacuum(spark, [path], max_files_per_substrate=1000).collect()[0]
    assert row["ok"] and not row["compacted"]
    assert storage.count_data_files(f"{path}/phash") == frag

    # threshold below: compacted, healthy, single-file stages
    row = M.vacuum(spark, [path], max_files_per_substrate=2).collect()[0]
    assert row["ok"] and row["compacted"]
    assert row["max_files_after"] <= row["max_files_before"]
    assert storage.count_data_files(f"{path}/phash") == 1
    # and the compacted index still serves identically
    full = MediaIndex(media)
    re = MediaIndex.load(spark, path)
    want = sorted(tuple(r) for r in full.clusters.collect())
    assert sorted(tuple(r) for r in re.clusters.collect()) == want


@pytest.mark.slow
def test_vacuum_recognizes_mid_swap_crashed_state(spark, tmp_path):
    """A substrate caught between a rename-aside swap's two renames
    must not demote the state to family='unknown' — detect_family
    accepts the surviving swap copies as markers, and the probe then
    REPORTS substrate_missing_working instead of crashing or
    shrugging."""
    import os

    from lp_etl_plugins_spark import maintenance
    from lp_etl_plugins_spark.incremental import CurationState

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        "doc_id < 200"
    )
    p = str(tmp_path / "inc")
    CurationState.build(spark, docs, p)
    os.rename(f"{p}/working", f"{p}/working.__old__")

    row = maintenance.vacuum(spark, [p]).collect()[0]
    assert row["family"] == "CurationState"
    assert not row["ok"]
    assert "substrate_missing_working=1" in row["violations"]


def test_check_dedup_index_pairs_without_verified(spark, tmp_path):
    """r8 ADVICE (low): a pairs directory with NEITHER verified nor
    verified_clusters beside it is a torn save (every full save writes
    both) — the probe must report stage_missing_verified, not pass
    ok=True."""
    import shutil

    from conftest import SF_SMOKE
    from lp_etl_plugins_spark.inventory.textops import _docs

    docs = _docs(spark, SF_SMOKE).select("doc_id", "source", "text").filter(
        "doc_id < 120"
    )
    p = str(tmp_path / "didx")
    DedupIndex(docs, "text", "doc_id").save(p)
    assert M.check_dedup_index(spark, p)["ok"]

    shutil.rmtree(f"{p}/verified_clusters")
    shutil.rmtree(f"{p}/verified")
    res = M.check_dedup_index(spark, p)
    assert not res["ok"]
    assert res["violations"].get("stage_missing_verified") == 1


def test_check_vector_index_reports_degenerate_coarse_assignment(
    spark, tmp_path
):
    """Round 9 (SCALE.md vector-adversary measurement): one coarse
    list holding most of a multi-list corpus means nprobe stops
    pruning — the probe must REPORT coarse_assignment_degenerate (the
    fix is a quantizer rebuild; a size cap would silently drop corpus
    vectors from serving). A balanced index stays ok."""
    from lp_etl_plugins_spark.inventory.vectorops import _emb

    emb = _emb(spark, SF_SMOKE)
    balanced = str(tmp_path / "balanced")
    VectorIndex(emb).save(balanced)
    res = M.check_vector_index(spark, balanced)
    assert res["ok"], res

    # the one-hot-list adversary: 95% of vectors collapse to a tiny
    # cloud under label 0; the rest are flung far under labels 1-9
    cloud = emb.filter(F.col("vec_id") % 20 != 0).select(
        "vec_id",
        F.lit(0).alias("label"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x * F.lit(0.001) + F.lit(0.5),
        ).alias("embedding"),
    )
    far = emb.filter(F.col("vec_id") % 20 == 0).select(
        "vec_id",
        (F.col("vec_id") % 9 + 1).cast("int").alias("label"),
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + (F.col("vec_id") % 9 + 1) * F.lit(10.0),
        ).alias("embedding"),
    )
    hot = str(tmp_path / "hot")
    VectorIndex(cloud.unionByName(far)).save(hot)
    res = M.check_vector_index(spark, hot)
    assert not res["ok"]
    assert res["violations"].get("coarse_assignment_degenerate") == 1


@pytest.mark.slow
def test_vacuum_recover_swaps_repairs_mid_swap_states(spark, tmp_path):
    """Round 9: vacuum(recover_swaps=True) performs the one-rename
    recovery for mid-swap crash states (including the control-plane
    meta's own swap window) and re-probes — a full nightly story
    instead of report-only. Default stays report-only; a lease-held
    path is skipped, never raced."""
    import os

    from lp_etl_plugins_spark.incremental import CurationState
    from lp_etl_plugins_spark.lease import dir_lease

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        "doc_id < 200"
    )
    p = str(tmp_path / "inc")
    CurationState.build(spark, docs, p)
    # two simultaneous swap windows: a substrate and the meta itself
    os.rename(f"{p}/working", f"{p}/working.__old__")
    os.rename(f"{p}/meta", f"{p}/meta.__old__")

    # report-only default: violation, nothing touched
    row = M.vacuum(spark, [p]).collect()[0]
    assert not row["ok"] and row["recovered"] == 0
    assert os.path.isdir(f"{p}/working.__old__")

    # lease held by a live writer: recovery defers
    with dir_lease(p, role="absorber"):
        row = M.vacuum(spark, [p], recover_swaps=True).collect()[0]
        assert row["recovered"] == 0
    assert os.path.isdir(f"{p}/working.__old__")

    # free: both windows recovered in one sweep, probe green again
    row = M.vacuum(spark, [p], recover_swaps=True).collect()[0]
    assert row["recovered"] == 2
    assert row["ok"], row["violations"]
    assert os.path.isdir(f"{p}/working") and os.path.isdir(f"{p}/meta")
    # idempotent
    row = M.vacuum(spark, [p], recover_swaps=True).collect()[0]
    assert row["recovered"] == 0 and row["ok"]


@pytest.mark.slow
def test_vacuum_purges_abandoned_torn_retractions(spark, tmp_path):
    """purge_torn_retractions=True rolls an ABANDONED torn retraction
    back to the exact pre-retract state — uncommitted ledger + derived
    rows purged, torn label overwrites re-derived from the committed
    edges — across the ledgered families in one sweep; a LIVE writer's
    lease makes the sweep skip (its replay owns the repair)."""
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.lease import dir_lease
    from lp_etl_plugins_spark.textops import connected_components

    docs = _docs(spark, SF_SMOKE).select("doc_id", "text")
    sub = docs.filter("doc_id % 7 = 3")
    sub_ids = sub.select(F.col("doc_id").alias("id")).localCheckpoint()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # --- DedupIndex: the hard case — ledger landed AND the label
    # overwrite landed (post-retract labels), meta did not
    dp = str(tmp_path / "didx")
    DedupIndex(docs, "text", "doc_id").save(dp)
    pre_dedup = {
        s: rows(getattr(DedupIndex.load(spark, dp), s))
        for s in DedupIndex._STAGES
    }
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{dp}/retracted")
    torn_labels = connected_components(
        spark.read.parquet(f"{dp}/pairs")
        .join(sub_ids.withColumnRenamed("id", "id_a"), "id_a", "left_anti")
        .join(sub_ids.withColumnRenamed("id", "id_b"), "id_b", "left_anti")
        .select("id_a", "id_b")
    ).localCheckpoint()
    torn_labels.write.mode("overwrite").parquet(f"{dp}/clusters")

    # --- TrigramLM: negative segment + ledger landed, meta did not
    lp = str(tmp_path / "lm")
    TrigramLM(docs, "text", "doc_id").save(lp)
    pre_lm = rows(TrigramLM.load(spark, lp)._counts)
    lm = TrigramLM(docs, "text", "doc_id")
    neg = (
        lm._gram_frame(sub, "text", "doc_id")
        .groupBy("g")
        .agg((-F.count(F.lit(1))).alias("c"))
    )
    neg.select("g", "c", F.lit(-1).cast("bigint").alias("src")).write.mode(
        "append"
    ).parquet(f"{lp}/counts")
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{lp}/retracted")

    # --- RepeatIndex: ledger + a gen-1 span row landed, meta did not
    rp = str(tmp_path / "ridx")
    RepeatIndex.build(spark, docs, rp, "text", "doc_id")
    pre_spans = rows(RepeatIndex.load(spark, rp).spans())
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{rp}/retracted")
    spark.read.parquet(f"{rp}/spans").limit(1).withColumn(
        "gen", F.lit(1)
    ).write.mode("append").parquet(f"{rp}/spans")

    report = {
        r["path"]: r
        for r in M.vacuum(
            spark, [dp, lp, rp], purge_torn_retractions=True
        ).collect()
    }
    for p in (dp, lp, rp):
        assert report[p]["ok"], report[p]
        assert "purged_torn_retraction=1" in report[p]["violations"]
    served = DedupIndex.load(spark, dp)
    for s in DedupIndex._STAGES:
        assert rows(getattr(served, s)) == pre_dedup[s], s
    assert rows(TrigramLM.load(spark, lp)._counts) == pre_lm
    assert rows(RepeatIndex.load(spark, rp).spans()) == pre_spans

    # --- live writer: the lease makes the sweep skip-and-report
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{dp}/retracted")
    with dir_lease(dp, role="absorber"):
        row = M.vacuum(
            spark, [dp], purge_torn_retractions=True
        ).collect()[0]
    assert not row["ok"]
    assert "uncommitted_ledger_rows" in row["violations"]
    assert "purged_torn_retraction" not in row["violations"]
    # writer gone: the next sweep purges
    row = M.vacuum(spark, [dp], purge_torn_retractions=True).collect()[0]
    assert row["ok"] and "purged_torn_retraction=1" in row["violations"]


@pytest.mark.slow
def test_vacuum_purge_handles_media_and_noop_paths(spark, tmp_path):
    """The MediaIndex branch of the purge (single label stage) and the
    no-op guarantees: a healthy path and a committed-retraction path
    are untouched by purge_torn_retractions=True."""
    media = synthetic_media(spark, 120)
    sub_ids = media.filter("media_id % 7 = 3").select(
        F.col("media_id").alias("id")
    ).localCheckpoint()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    mp = str(tmp_path / "midx")
    MediaIndex(media).save(mp)
    pre = {s: rows(getattr(MediaIndex.load(spark, mp), s))
           for s in MediaIndex._STAGES}
    sub_ids.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{mp}/retracted")
    row = M.vacuum(spark, [mp], purge_torn_retractions=True).collect()[0]
    assert row["ok"] and "purged_torn_retraction=1" in row["violations"]
    served = MediaIndex.load(spark, mp)
    for s in MediaIndex._STAGES:
        assert rows(getattr(served, s)) == pre[s], s

    # committed retraction: NOT purged (rseq ≤ n_retractions is state,
    # not a tear)
    idx = MediaIndex.load(spark, mp)
    idx.retract(sub_ids)
    idx.retract_saved(mp)
    want = {s: rows(getattr(MediaIndex.load(spark, mp), s))
            for s in MediaIndex._STAGES}
    row = M.vacuum(spark, [mp], purge_torn_retractions=True).collect()[0]
    assert row["ok"] and "purged_torn_retraction" not in row["violations"]
    served = MediaIndex.load(spark, mp)
    for s in MediaIndex._STAGES:
        assert rows(getattr(served, s)) == want[s], s


@pytest.mark.slow
def test_vacuum_tombstone_pressure_triggers_and_settles(spark, tmp_path):
    """Round 10 (VERDICT r9 #6): the retraction analogue of the
    file-count threshold. A committed retraction ledger above
    ``max_tombstone_frac`` of the primary substrate triggers the
    sweep's compaction even with tidy file counts; after the compact
    resolves the deletions the trigger SETTLES — for VectorIndex
    because the log clears, for the ledger-RETAINING families because
    compact stamps ``retracted_resolved`` and only the unresolved
    tail counts (without the stamp the threshold would re-fire on the
    audit ledger forever)."""
    from lp_etl_plugins_spark.inventory.textops import _docs
    from lp_etl_plugins_spark.inventory.vectorops import _emb
    # --- VectorIndex: log-clearing family ---
    emb = _emb(spark, SF_SMOKE)
    vp = str(tmp_path / "vidx")
    VectorIndex(emb).save(vp)
    dead = emb.select("vec_id").filter(F.col("vec_id") % 3 == 0)  # ~33%
    idx = VectorIndex.load(spark, vp).retract(dead)
    idx.retract_saved(vp)

    row = M.vacuum(spark, [vp]).collect()[0]
    assert row["compacted"], row
    assert "tombstone_pressure=1" in row["violations"]
    row = M.vacuum(spark, [vp]).collect()[0]
    assert not row["compacted"], row
    assert "tombstone_pressure" not in row["violations"]

    # --- DedupIndex: ledger-retaining family ---
    docs = _docs(spark, SF_SMOKE).select("doc_id", "source", "text").filter(
        "doc_id < 300"
    )
    dp = str(tmp_path / "didx")
    DedupIndex(docs, "text", "doc_id").save(dp)
    didx = DedupIndex.load(spark, dp)
    didx.retract(docs.select("doc_id").filter("doc_id % 3 = 0"))
    didx.retract_saved(dp)

    row = M.vacuum(spark, [dp]).collect()[0]
    assert row["compacted"], row
    assert "tombstone_pressure=1" in row["violations"]
    # the audit ledger survives the compact, but the resolution stamp
    # keeps the trigger from re-firing on it
    assert storage.parquet_dir_exists(f"{dp}/retracted")
    assert spark.read.parquet(f"{dp}/retracted").count() > 0
    assert storage.parquet_dir_exists(f"{dp}/retracted_resolved")
    row = M.vacuum(spark, [dp]).collect()[0]
    assert not row["compacted"], row
    assert "tombstone_pressure" not in row["violations"]

    # a retraction AFTER the stamp counts again (rseq above it)
    didx = DedupIndex.load(spark, dp)
    didx.retract(docs.select("doc_id").filter("doc_id % 3 = 1"))
    didx.retract_saved(dp)
    row = M.vacuum(spark, [dp]).collect()[0]
    assert row["compacted"], row
    assert "tombstone_pressure=1" in row["violations"]


@pytest.mark.slow
def test_vacuum_tombstone_pressure_below_threshold_and_disabled(
    spark, tmp_path
):
    """A small ledger (below the fraction) does not trigger; passing
    max_tombstone_frac=None disables the trigger entirely (forensic
    sweeps)."""
    from lp_etl_plugins_spark.inventory.vectorops import _emb

    emb = _emb(spark, SF_SMOKE)
    vp = str(tmp_path / "vidx")
    VectorIndex(emb).save(vp)
    dead = emb.select("vec_id").filter(F.col("vec_id") % 50 == 0)  # ~2%
    idx = VectorIndex.load(spark, vp).retract(dead)
    idx.retract_saved(vp)
    row = M.vacuum(spark, [vp]).collect()[0]
    assert not row["compacted"]
    assert "tombstone_pressure" not in row["violations"]

    big = emb.select("vec_id").filter(
        (F.col("vec_id") % 3 == 1) & (F.col("vec_id") % 50 != 0)
    )
    idx = VectorIndex.load(spark, vp).retract(big)
    idx.retract_saved(vp)
    row = M.vacuum(spark, [vp], max_tombstone_frac=None).collect()[0]
    assert not row["compacted"]
    assert "tombstone_pressure" not in row["violations"]
