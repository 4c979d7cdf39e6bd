"""MediaIndex retraction (round 9) — the media member of the family.

Content-complete for deletion exactly as for updates: no media bytes
are touched. Monotone stages filter; the cluster stage re-labels
affected components (a retracted bridge image splits its cluster).
The m12 oracle holds the retract == rebuild hash gate; these tests pin
the crash windows, replay idempotence, compact's physical resolution,
the repair_saved interplay (live pairs, not raw), and the refusals.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.multimodal import MediaIndex, synthetic_media
STAGES = ("phash", "pairs", "clusters")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sub_ids(media):
    return media.filter("media_id % 7 = 3").select(
        F.col("media_id").alias("id")
    )


@pytest.mark.slow
def test_retract_equals_rebuild_all_stages(spark, tmp_path):
    media = synthetic_media(spark, 200)
    keep = media.filter("media_id % 7 != 3")
    want_idx = MediaIndex(keep)
    want = {s: _rows(getattr(want_idx, s)) for s in STAGES}

    idx = MediaIndex(media)
    for s in STAGES:
        getattr(idx, s)
    idx.retract(_sub_ids(media))
    for s in STAGES:
        assert _rows(getattr(idx, s)) == want[s], s

    p = str(tmp_path / "idx")
    MediaIndex(media).save(p)
    loaded = MediaIndex.load(spark, p)
    loaded.retract(_sub_ids(media))
    loaded.retract_saved(p)
    served = MediaIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(served, s)) == want[s], s
    assert M.check_media_index(spark, p)["ok"]
    m = storage.read_control_row(f"{p}/meta")
    assert m["n_retractions"] == 1 and m["max_id"] == 199


@pytest.mark.slow
def test_crash_windows_replay_and_compact(spark, tmp_path):
    media = synthetic_media(spark, 200)
    keep = media.filter("media_id % 7 != 3")
    sub = _sub_ids(media).localCheckpoint()
    p = str(tmp_path / "idx")
    MediaIndex(media).save(p)
    pre = {s: _rows(getattr(MediaIndex.load(spark, p), s)) for s in STAGES}
    want_idx = MediaIndex(keep)
    want = {s: _rows(getattr(want_idx, s)) for s in STAGES}

    # torn window: ledger rows landed, clusters/meta did not
    sub.select("id", F.lit(1).cast("bigint").alias("rseq")).write.mode(
        "append"
    ).parquet(f"{p}/retracted")
    for s in STAGES:
        assert _rows(getattr(MediaIndex.load(spark, p), s)) == pre[s], s
    res = M.check_media_index(spark, p)
    assert not res["ok"] and "uncommitted_ledger_rows" in res["violations"]
    with pytest.raises(ValueError, match="uncommitted retraction"):
        MediaIndex.compact(spark, p)
    other = MediaIndex.load(spark, p)
    other.retract(spark.createDataFrame([(0,)], "id long"))
    with pytest.raises(ValueError, match="DIFFERENT torn retraction"):
        other.retract_saved(p)

    # same-ids replay purges + re-lands
    replay = MediaIndex.load(spark, p)
    replay.retract(sub)
    replay.retract_saved(p)
    served = MediaIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(served, s)) == want[s], s
    assert M.check_media_index(spark, p)["ok"]
    assert spark.read.parquet(f"{p}/retracted").count() == sub.count()

    # committed replay skips (both the hand-built delta form and the
    # natural load → retract → retract_saved flow); partial overlap
    # and id reuse are refused
    r2 = MediaIndex.load(spark, p)
    r2._tomb_delta = sub
    r2.retract_saved(p)
    r3 = MediaIndex.load(spark, p)
    r3.retract(sub)
    r3.retract_saved(p)
    assert storage.read_control_row(f"{p}/meta")["n_retractions"] == 1
    with pytest.raises(ValueError, match="already\n?\\s*retracted"):
        MediaIndex.load(spark, p).retract(
            sub.unionByName(spark.createDataFrame([(0,)], "id long"))
        )
    with pytest.raises(ValueError, match="retracted ids"):
        MediaIndex.load(spark, p).update(media.filter("media_id % 7 = 3"))

    # compact resolves physically, views unchanged, ledger retained
    MediaIndex.compact(spark, p)
    served2 = MediaIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(served2, s)) == want[s], s
    assert (
        spark.read.parquet(f"{p}/phash")
        .join(sub.withColumnRenamed("id", "media_id"), "media_id", "left_semi")
        .count()
        == 0
    )
    assert M.check_media_index(spark, p)["ok"]
    with pytest.raises(ValueError, match="retracted ids"):
        MediaIndex.load(spark, p).update(media.filter("media_id % 7 = 3"))


def test_update_after_retraction_composes_and_repair_respects_tombstones(
    spark, tmp_path
):
    """A later delta lands clean over a retracted index (final ==
    rebuild over survivors ∪ delta), and repair_saved's cluster
    rewrite derives from LIVE pairs — a raw re-read would resurrect
    retracted endpoints."""
    media = synthetic_media(spark, 220)
    base = media.filter("media_id < 200")
    keep = base.filter("media_id % 7 != 3")
    delta = media.filter("media_id >= 200")
    p = str(tmp_path / "idx")
    MediaIndex(base).save(p)
    loaded = MediaIndex.load(spark, p)
    loaded.retract(_sub_ids(base))
    loaded.retract_saved(p)

    idx = MediaIndex.load(spark, p)
    idx.update(delta)
    idx.append_saved(p)
    assert storage.read_control_row(f"{p}/meta")["n_retractions"] == 1
    want_idx = MediaIndex(keep.unionByName(delta))
    served = MediaIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(served, s)) == {
            s2: _rows(getattr(want_idx, s2)) for s2 in STAGES
        }[s], s

    # simulate the torn-append state repair_saved exists for: roll the
    # meta stamp back so the delta's rows sit beyond it
    served.max_id = 199
    served.n_retractions = 1
    served._write_meta(p)
    rep = MediaIndex.repair_saved(spark, p)
    assert rep["repaired"] and rep["rows_beyond_stamp"] == delta.count()
    healed = MediaIndex.load(spark, p)
    for s in STAGES:
        assert _rows(getattr(healed, s)) == _rows(getattr(want_idx, s)), s
    assert M.check_media_index(spark, p)["ok"]


@pytest.mark.slow
def test_vacuum_reports_torn_retraction_instead_of_crashing(spark, tmp_path):
    """The sweep's report-don't-crash contract under
    compact_unhealthy=True: a torn retraction makes the family compact
    refuse, and vacuum records compact_refused_torn_state instead of
    dying mid-sweep."""
    media = synthetic_media(spark, 200)
    p = str(tmp_path / "idx")
    MediaIndex(media).save(p)
    # torn state: uncommitted ledger rows, meta not bumped
    _sub_ids(media).select(
        "id", F.lit(1).cast("bigint").alias("rseq")
    ).write.mode("append").parquet(f"{p}/retracted")

    row = M.vacuum(
        spark, [p], max_files_per_substrate=0, compact_unhealthy=True
    ).collect()[0]
    assert not row["ok"] and not row["compacted"]
    assert "uncommitted_ledger_rows" in row["violations"]
    assert "compact_refused_torn_state=1" in row["violations"]
