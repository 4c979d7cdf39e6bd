"""CurationState: the exactness contract of incremental curation.

The load-bearing assertion in every test here is the same one
`tests/test_dedup_index.py` makes for the index alone, lifted to the
WHOLE pipeline: ``build(base); update(delta)`` must equal
``build(base ∪ delta)`` — same indexed corpus, same live working set,
same contamination pairs, same curated corpus — under the
monotone-ingestion contract. The crafted corpus additionally forces
every retraction path: canonical displacement by a higher-quality
delta member, cluster merge through a delta bridge doc, a delta bench
doc contaminating a previously clean train doc, and a displaced bench
canonical un-flagging a train doc it alone contaminated.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.incremental import CurationState

from conftest import SF_SMOKE


def _ids(df, col="doc_id"):
    return sorted(r[col] for r in df.select(col).collect())


def _pairs(df):
    return sorted((r["train_id"], r["bench_id"]) for r in df.collect())


def _assert_state_equal(inc: CurationState, full: CurationState) -> None:
    assert _ids(inc.indexed()) == _ids(full.indexed())
    assert _ids(inc.working()) == _ids(full.working())
    assert _pairs(inc.contamination()) == _pairs(full.contamination())
    inc_cur = sorted(
        (r["doc_id"], r["source"], r["text"]) for r in inc.curated().collect()
    )
    full_cur = sorted(
        (r["doc_id"], r["source"], r["text"]) for r in full.curated().collect()
    )
    assert inc_cur == full_cur
    assert inc.meta["n_working"] == full.meta["n_working"]
    assert inc.meta["n_bench"] == full.meta["n_bench"]


def test_update_equals_full_rebuild_real_corpus(spark, tmp_path):
    """Real-data split at a monotone cutoff: on sf0.001 this crosses a
    df-cap boundary (the working set grows past a ceil(0.05·n) step),
    so the full-df fallback path and the pair reachability recheck are
    both exercised, not just the append path."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    st = CurationState.build(
        spark, docs.filter("doc_id < 400"), str(tmp_path / "inc")
    )
    metrics = st.update(docs.filter("doc_id >= 400"))
    assert metrics["new_indexed"] > 0
    full = CurationState.build(spark, docs, str(tmp_path / "full"))
    _assert_state_equal(st, full)


def test_chained_updates_and_load_roundtrip(spark, tmp_path):
    """Two deltas, the second applied through a fresh load() of the
    state directory — cross-session incremental maintenance."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "inc")
    st = CurationState.build(spark, docs.filter("doc_id < 300"), path)
    st.update(docs.filter("doc_id >= 300 AND doc_id < 420"))
    st2 = CurationState.load(spark, path)
    assert st2.meta["n_updates"] == 1
    st2.update(docs.filter("doc_id >= 420"))
    full = CurationState.build(spark, docs, str(tmp_path / "full"))
    _assert_state_equal(st2, full)


def test_saturated_cap_restricted_df_path(spark, tmp_path):
    """With max_df small enough to saturate the cap on both sides of
    the update (cap_old == cap_new), the restricted-df fast path runs;
    its result must still equal the full rebuild."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    st = CurationState.build(
        spark, docs.filter("doc_id < 400"), str(tmp_path / "inc"), max_df=4
    )
    st.update(docs.filter("doc_id >= 400"))
    full = CurationState.build(spark, docs, str(tmp_path / "full"), max_df=4)
    _assert_state_equal(st, full)


# -- crafted corpus -----------------------------------------------------
# Quality-ordering levers: quality_score = 0.4·min(1, chars/300)
# + 0.3·stopword_ratio + 0.3·(1 - min(1, |mean_wlen - 4.5|/10)); all
# texts below are >300 chars of prose-like words, so displacement is
# driven by the stopword ratio.

_BODY_A = (
    "the alchemist kept the copper retort near the window of the "
    "tower and the apprentice ground the silver salt to powder and "
    "the master poured the tincture in the crucible and the furnace "
    "glowed through the night and the smoke rose over the roofs of "
    "the town to the stars and the bells of the abbey rang to the "
    "dawn and the watch changed at the gate "
)
_BODY_U = (
    "the cartographer drew the coastline of the northern bay and the "
    "surveyor measured the depth of the channel and the captain "
    "marked the reef on the chart and the crew sounded the bottom "
    "with the lead line and the harbor master kept the ledger of the "
    "tides and the pilots read the buoys to the narrows and the "
    "ferry crossed to the island quay "
)
_BODY_N = (
    "the astronomer watched the comet from the hill and the "
    "telescope turned on the brass mount and the clerk noted the "
    "hour in the journal and the dawn washed the gray sky over the "
    "observatory and the lamps went dark in the halls of the academy "
    "and the students copied the tables of the stars to the ledgers "
    "of the archive before the lectures "
)
# the bridge chain: prefix P, then P+Q, then P+Q+R — consecutive
# links share ≥ 0.8 of their shingles, the endpoints do not
_BI_P = (
    "the shepherd drove the flock across the high pasture and the "
    "dog circled the strays back to the path and the bells rang "
    "along the ridge and the mist settled in the valley below the "
    "peaks and the stream ran cold from the snow "
)
_BI_Q = "and the shearers came to the fold "
_BI_R = "and the carts rolled down to the barge "
_BENCH_BODY = (
    "question one what is the capital of the republic answer the "
    "capital is the city on the river question two name the year of "
    "the treaty answer the year of the treaty is known to all of the "
    "scholars question three state the name of the author of the "
    "famous book answer the author of the famous book is the poet of "
    "the north question four give the sum of the numbers "
)


def _chunk_permute(text: str, size: int = 6) -> str:
    """Reverse the order of ``size``-word chunks: word 3-shingles
    survive only inside chunks (Jaccard « 0.8 → near-dedup does NOT
    collapse the pair), while the char-3-gram SET barely changes
    (containment ≥ 0.8 → decontamination DOES flag it) — the
    plagiarized-but-reordered shape the two thresholds disagree on."""
    ws = text.split()
    chunks = [ws[i : i + size] for i in range(0, len(ws), size)]
    return " ".join(w for c in reversed(chunks) for w in c)


def _crafted_rows():
    # base (ids < 100)
    rows = [
        (1, "train", _BODY_A + "alpha marker one"),  # near-dup cluster A
        (2, "train", _BODY_A + "alpha marker two"),  # loses to 1 on quality tie → id
        (10, "train", _BODY_U),
        (11, "train", _BODY_U),  # exact dup of 10
        (20, "bench", _BENCH_BODY + "bench marker original"),  # bench canonical
        # chunk-reordered copy of 20: contaminated, NOT a near-dup
        (30, "train", _chunk_permute(_BENCH_BODY + "bench marker original")),
        # the two ends of the bridge chain — below 0.8 to each other
        (40, "train", _BI_P),
        (41, "train", _BI_P + _BI_Q + _BI_R),
    ]
    # delta (ids >= 100) — monotone
    rows += [
        (100, "train", _BODY_A + "alpha marker one"),  # exact dup of 1 → dropped
        # near-dup of cluster A with one extra stopword in the body
        # (higher quality_score) → displaces the old canonical 1
        (101, "train", _BODY_A.replace("glowed", "the") + "alpha marker one"),
        # the middle link: ≥ 0.8 to BOTH 40 and 41 → merges their
        # clusters
        (110, "train", _BI_P + _BI_Q),
        # new bench doc containing a BASE train doc's text (reordered,
        # so near-dedup does not collapse it) → doc 10 becomes
        # contaminated only now
        (120, "bench", _chunk_permute(_BODY_U + "quiz answer key")),
        # higher-quality near-dup of bench canonical 20 → displaces it;
        # the stored pair (30, 20) must retract and re-attach as (30, 121)
        (121, "bench", _BENCH_BODY.replace("scholars", "the") + "bench marker original"),
        # clean new train doc
        (130, "train", _BODY_N),
    ]
    return rows


def test_crafted_retraction_paths(spark, tmp_path):
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    base = docs.filter("doc_id < 100")
    delta = docs.filter("doc_id >= 100")
    st = CurationState.build(
        spark, base, str(tmp_path / "inc"), bench_source="bench"
    )
    # base facts: 30 is contaminated by 20; 10/11 collapse to 10
    assert (30, 20) in _pairs(st.contamination())
    base_working = _ids(st.working())
    assert 10 in base_working and 11 not in base_working
    metrics = st.update(delta)
    assert metrics["working_retracts"] >= 1
    full = CurationState.build(
        spark, docs, str(tmp_path / "full"), bench_source="bench"
    )
    _assert_state_equal(st, full)
    pairs_after = _pairs(st.contamination())
    # the delta bench doc 120 contains base doc 10's text → flagged now
    assert (10, 120) in pairs_after
    assert 10 not in _ids(st.curated())
    # bench canonical 20 displaced by 121: its pair retracts, the
    # contamination re-attaches to the new canonical
    working_after = _ids(st.working())
    assert 121 in working_after and 20 not in working_after
    assert (30, 20) not in pairs_after
    assert (30, 121) in pairs_after
    # cluster-A displacement: 101 wins on quality, 1 retracts
    assert 101 in working_after and 1 not in working_after
    # bridge: 40, 41, 110 merge into one verified cluster → 1 survivor
    surv = [i for i in working_after if i in (40, 41, 110)]
    assert len(surv) == 1


def test_monotone_contract_enforced(spark, tmp_path):
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    st = CurationState.build(
        spark, docs.filter("doc_id < 100"), str(tmp_path / "inc"),
        bench_source="bench",
    )
    with pytest.raises(ValueError, match="monotone"):
        st.update(docs.filter("doc_id == 40"))


def test_null_doc_id_refused_at_entry(spark, tmp_path):
    """build and update refuse a null doc_id before exact dedup runs
    (its min_by skips null orderings) and before anything is written."""
    schema = "doc_id long, source string, text string"
    docs = spark.createDataFrame(_crafted_rows(), schema)
    bad = spark.createDataFrame(
        [(None, "web", "a document that arrived without an id")], schema
    )
    path = tmp_path / "refused"
    with pytest.raises(ValueError, match="null doc_id"):
        CurationState.build(spark, docs.filter("doc_id < 100").unionByName(bad), str(path))
    assert not path.exists()
    st = CurationState.build(spark, docs.filter("doc_id < 100"), str(tmp_path / "inc"))
    n_before = st.meta["n_working"]
    with pytest.raises(ValueError, match="null doc_id"):
        st.update(docs.filter("doc_id >= 100").unionByName(bad))
    assert CurationState.load(spark, str(tmp_path / "inc")).meta["n_working"] == n_before


@pytest.mark.slow
def test_streamed_ingestion_equals_batch_rebuild(spark, tmp_path):
    """Micro-batch ingestion through foreach_batch_update: two delta
    files drained oldest-first (maxFilesPerTrigger=1 + availableNow),
    each absorbed as one CurationState.update — the final state must
    equal a full batch rebuild, and a replayed batch must be skipped
    idempotently."""
    import os
    import time

    from lp_etl_plugins_spark.incremental import foreach_batch_update

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "inc")
    CurationState.build(spark, docs.filter("doc_id < 300"), path)
    # two monotone delta files; mtimes force oldest-first batch order
    stream_dir = tmp_path / "stream"
    docs.filter("doc_id >= 300 AND doc_id < 420").coalesce(1).write.parquet(
        str(stream_dir / "d1")
    )
    docs.filter("doc_id >= 420").coalesce(1).write.parquet(str(stream_dir / "d2"))
    now = time.time()
    for sub, age in (("d1", 120), ("d2", 60)):
        for f in (stream_dir / sub).iterdir():
            os.utime(f, (now - age, now - age))
    absorb = foreach_batch_update(spark, path)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = stream.writeStream.foreachBatch(absorb).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)
    st = CurationState.load(spark, path)
    assert st.meta["n_updates"] == 2
    full = CurationState.build(spark, docs, str(tmp_path / "full"))
    _assert_state_equal(st, full)
    # replay: re-absorbing an already-committed batch is a no-op
    absorb(docs.filter("doc_id >= 420"), 99)
    assert CurationState.load(spark, path).meta["n_updates"] == 2


def test_redact_stage_applies_to_delta(spark, tmp_path):
    """With redaction on, the delta passes through the same scrub
    before dedup — equality with a full redacting rebuild proves the
    stage ordering matches."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        "doc_id < 200"
    )
    st = CurationState.build(
        spark, docs.filter("doc_id < 150"), str(tmp_path / "inc"), redact=True
    )
    st.update(docs.filter("doc_id >= 150"))
    full = CurationState.build(spark, docs, str(tmp_path / "full"), redact=True)
    _assert_state_equal(st, full)
    assert st.curated().filter(F.col("text").contains("@")).count() == 0


# -- property: incremental == full rebuild on random corpora ------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = ["kestrel", "bramble", "cobalt", "fathom", "girder", "hollow", "ingot", "jasper"]
_doc = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=14).map(" ".join)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_doc, min_size=6, max_size=22),
    bench_mask=st.lists(st.booleans(), min_size=22, max_size=22),
    cut_frac=st.floats(min_value=0.3, max_value=1.0),
)
@pytest.mark.slow
def test_incremental_equals_rebuild_property(spark, texts, bench_mask, cut_frac):
    """Random tiny-vocab corpora force what crafted cases can't
    enumerate: exact-dup collisions across the split, chains of
    near-dups merging several clusters at once, bench/train flips of
    a displaced canonical, df-cap flips in both directions on a
    corpus where the fractional cap binds, and empty deltas. The
    pipeline gates run keep-all (tiny-vocab text has no stopwords) so
    every document reaches the dedup/contamination machinery. The
    invariant is the module's headline: build(base) + update(delta)
    == build(all), for working set, contamination pairs, and curated
    ids alike."""
    import shutil
    import tempfile

    rows = [
        (i, "bench" if bench_mask[i] else "train", t)
        for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cut = int(len(rows) * cut_frac)
    base = docs.filter(F.col("doc_id") < cut)
    delta = docs.filter(F.col("doc_id") >= cut)
    kw = dict(lang="unknown", min_quality=0.0, bench_source="bench")
    d1, d2 = tempfile.mkdtemp(prefix="propinc_"), tempfile.mkdtemp(prefix="propfull_")
    try:
        st_inc = CurationState.build(spark, base, d1, **kw)
        st_inc.update(delta)
        full = CurationState.build(spark, docs, d2, **kw)
        _assert_state_equal(st_inc, full)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


@pytest.mark.slow
def test_check_detects_torn_state(spark, tmp_path):
    """The integrity probe: a freshly built and updated state passes
    every invariant; a simulated torn update (a tombstone written
    without its sibling appends) is detected."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter("doc_id < 300")
    path = str(tmp_path / "inc")
    st = CurationState.build(spark, docs.filter("doc_id < 250"), path)
    st.update(docs.filter("doc_id >= 250"))
    res = st.check()
    assert res == {"ok": True, "violations": {}}
    # tear: tombstone a doc that was never in the working log
    spark.createDataFrame([(999999,)], "doc_id bigint").write.mode("append").parquet(
        f"{path}/tombstones"
    )
    res = st.check()
    assert not res["ok"]
    assert res["violations"].get("tombstone_not_in_working_log") == 1


def test_compaction_preserves_views_and_composes_with_update(spark, tmp_path):
    """The lifecycle operation: after updates have grown the append
    logs and tombstones, compact() must leave every maintained view
    row-identical, empty the tombstone log, shrink the file counts,
    keep check() green — and a LATER update over the compacted state
    must still equal a full rebuild (compaction is transparent to the
    incremental contract)."""
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    path = str(tmp_path / "inc")
    st = CurationState.build(
        spark, docs.filter("doc_id < 100"), path, bench_source="bench"
    )
    st.update(docs.filter("doc_id >= 100 AND doc_id <= 120"))
    # the 101-displaces-1 retraction guarantees a live tombstone
    assert spark.read.parquet(f"{path}/tombstones").count() >= 1

    def _views(s):
        return (
            _ids(s.indexed()),
            sorted(tuple(r) for r in s.working().collect()),
            _pairs(s.contamination()),
            sorted(tuple(r) for r in s.curated().collect()),
            sorted(tuple(r) for r in s.dedup_index().pairs.collect()),
            sorted(
                (r["id"], r["cluster"])
                for r in s.dedup_index().verified_clusters.collect()
            ),
        )

    before = _views(st)
    files_before = {
        sub: storage.count_data_files(f"{path}/{sub}")
        for sub in ("working", "grams", "indexed")
    }
    metrics = st.compact()
    assert metrics["working"]["rows"] == len(before[1])
    for sub in ("working", "grams", "indexed"):
        assert metrics[sub]["files_before"] == files_before[sub]
        assert metrics[sub]["files_after"] <= files_before[sub]
        # tiny rows, huge target → everything coalesces to one file
        assert metrics[sub]["files_after"] == 1
    assert "pairs" in metrics["index"] and metrics["index"]["pairs"]["files_after"] == 1
    assert spark.read.schema("doc_id bigint").parquet(
        f"{path}/tombstones"
    ).count() == 0

    reloaded = CurationState.load(spark, path)
    assert reloaded.meta["n_compactions"] == 1
    assert reloaded.meta["n_updates"] == 1
    assert _views(reloaded) == before
    assert reloaded.check() == {"ok": True, "violations": {}}

    # composability: update AFTER compaction == one full rebuild
    reloaded.update(docs.filter("doc_id > 120"))
    full = CurationState.build(
        spark, docs, str(tmp_path / "full"), bench_source="bench"
    )
    _assert_state_equal(reloaded, full)


def test_check_detects_corrupted_index_stage(spark, tmp_path):
    """The compaction-aware probe covers the index substrates too: a
    fabricated pair that shares no band bucket, and a fabricated
    verified row with no backing pair, are both caught."""
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    ).filter("doc_id < 100")
    path = str(tmp_path / "inc")
    st = CurationState.build(spark, docs, path, bench_source="bench")
    assert st.check() == {"ok": True, "violations": {}}
    # ids 999998/999999 have no band rows, so the fabricated rows can
    # never legitimately co-occur / be candidate-mined
    spark.createDataFrame([(1, 999999)], "id_a bigint, id_b bigint").write.mode(
        "append"
    ).parquet(f"{path}/index/pairs")
    res = st.check()
    assert res["violations"].get("pairs_not_cooccupant") == 1
    spark.createDataFrame(
        [(2, 999998, 0.9)], "id_a bigint, id_b bigint, jaccard double"
    ).write.mode("append").parquet(f"{path}/index/verified")
    res = st.check()
    assert res["violations"].get("verified_not_in_pairs") == 1
    assert res["violations"].get("verified_cluster_orphans") is None


def test_new_benchmark_suite_delta(spark, tmp_path):
    """The other daily event: the corpus is curated, then a NEW
    benchmark suite arrives as a pure-bench delta. Its docs must mine
    against the EXISTING working set through the delta path — a
    previously clean train doc contained in a new bench doc gets
    flagged (and drops out of curated()) without a rebuild, and the
    whole state equals build(base ∪ suite)."""
    import shutil
    import tempfile

    vocab = "kestrel bramble cobalt fathom girder hollow ingot jasper".split()
    train_text = " ".join(vocab * 3)  # long enough to gram
    rows = [
        (0, "train", train_text),
        (1, "train", "girder hollow ingot jasper " * 6),
        (2, "bench", "zephyr gulch " * 10),  # pre-existing suite (disjoint tokens)
        # --- the new suite (monotone ids) ---
        # 100 CONTAINS train doc 0's text: every trigram of doc 0
        # appears, so containment(train side) == 1.0 ≥ threshold,
        # while the extra prose keeps word-shingle Jaccard < 0.8
        # (no near-dup merge — pure contamination evidence)
        (100, "bench", train_text + " quartz anvil sextant lantern "
                       "marrow tundra velvet wicker quartz anvil "
                       "sextant lantern marrow tundra velvet wicker"),
        (101, "bench", "sable onyx umber russet " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kw = dict(lang="unknown", min_quality=0.0, bench_source="bench")
    d1, d2 = tempfile.mkdtemp(prefix="suiteinc_"), tempfile.mkdtemp(prefix="suitefull_")
    try:
        st = CurationState.build(spark, docs.filter("doc_id < 100"), d1, **kw)
        assert _ids(st.curated()) == [0, 1]  # clean before the suite
        m = st.update(docs.filter("doc_id >= 100"))
        assert m["bench_adds"] == 2
        assert m["contam_pairs_added"] >= 1
        assert (0, 100) in _pairs(st.contamination())
        assert 0 not in _ids(st.curated())  # flagged incrementally
        full = CurationState.build(spark, docs, d2, **kw)
        _assert_state_equal(st, full)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


def test_maybe_compact_policy(spark, tmp_path):
    """The self-maintenance wrapper: below the file-count threshold it
    is a no-op (None, no files touched); above it, it compacts and the
    views are preserved."""
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    path = str(tmp_path / "inc")
    st = CurationState.build(
        spark, docs.filter("doc_id < 100"), path, bench_source="bench"
    )
    st.update(docs.filter("doc_id >= 100 AND doc_id <= 120"))
    before = sorted(tuple(r) for r in st.working().collect())
    assert st.maybe_compact(max_files_per_substrate=10_000) is None
    assert st.meta["n_compactions"] == 0
    metrics = st.maybe_compact(max_files_per_substrate=1)
    assert metrics is not None and metrics["working"]["files_after"] == 1
    assert CurationState.load(spark, path).meta["n_compactions"] == 1
    assert sorted(tuple(r) for r in st.working().collect()) == before


def test_load_defaults_missing_n_compactions(spark, tmp_path):
    """A state saved before the compaction lifecycle existed (meta
    without n_compactions) loads with the counter defaulted to 0 and
    the next update()/_write_meta round-trips cleanly instead of
    KeyError-ing mid-lifecycle."""
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    path = str(tmp_path / "inc")
    CurationState.build(
        spark, docs.filter("doc_id < 100"), path, bench_source="bench"
    )
    # simulate the pre-r7 meta: drop the column and rewrite
    old = spark.read.parquet(f"{path}/meta").drop("n_compactions").collect()
    schema = spark.read.parquet(f"{path}/meta").drop("n_compactions").schema
    spark.createDataFrame(old, schema).write.mode("overwrite").parquet(
        f"{path}/meta"
    )
    st = CurationState.load(spark, path)
    assert st.meta["n_compactions"] == 0
    m = st.update(docs.filter("doc_id >= 100"))
    assert m["delta_rows"] > 0
    assert CurationState.load(spark, path).meta["n_compactions"] == 0


def test_empty_delta_metrics_shape(spark, tmp_path):
    """An empty delta returns the SAME key set as a real one, with
    contam_pairs reporting the current state (not a bogus 0)."""
    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    st = CurationState.build(
        spark, docs, str(tmp_path / "inc"), bench_source="bench"
    )
    full = st.update(docs.filter("doc_id < 0"))  # empty
    n_pairs = st.contamination().count()
    assert full == {
        "delta_rows": 0, "new_indexed": 0, "working_adds": 0,
        "working_retracts": 0, "bench_adds": 0,
        "contam_pairs": n_pairs, "contam_pairs_added": 0,
        "n_working": st.meta["n_working"],
    }
    assert n_pairs > 0  # the crafted corpus ships contamination


def test_check_reports_missing_index_stages(spark, tmp_path):
    """r7 ADVICE: against an index directory holding only a stage
    subset (DedupIndex.save(stages=...) or a torn write), the
    integrity probe must REPORT the absent stages as violations —
    not crash with an AnalysisException (it exists for post-crash
    triage)."""
    import shutil

    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    ).filter("doc_id < 100")
    path = str(tmp_path / "inc")
    st = CurationState.build(spark, docs, path, bench_source="bench")
    assert st.check() == {"ok": True, "violations": {}}

    shutil.rmtree(f"{path}/index/verified")
    res = st.check()
    assert not res["ok"]
    assert res["violations"].get("index_stage_missing_verified") == 1

    shutil.rmtree(f"{path}/index/pairs")
    res = st.check(cooccupancy=False)
    assert not res["ok"]
    assert res["violations"].get("index_stage_missing_pairs") == 1


@pytest.mark.slow
def test_update_repairs_torn_write_sequence(spark, tmp_path):
    """Round-8 commit protocol: a crash anywhere inside update()'s
    write sequence (index → indexed → hashes → working → tombstones →
    grams → contam swap → meta → pending-clear) must CONVERGE on
    replay to exactly the clean-update state. update() brackets its
    writes with a pending marker; a replay that finds a matching
    marker reconstructs the pre-crash state (stamp filters over every
    substrate, DedupIndex rollback for the index half) and anti-join
    guards every append. Each crash window below is constructed from
    a REAL update's post-state (post dirs for the written prefix, pre
    dirs for the rest, pre meta, marker present) — including a torn
    multi-file grams append and the contam swap's between-renames
    window — and the replay's full substrate snapshot (rows AND meta)
    must equal the clean reference's. The crafted corpus forces every
    retraction path, so tombstones and contam re-attachment are
    exercised, not just appends."""
    import os
    import shutil

    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    base = docs.filter("doc_id < 100")
    delta = docs.filter("doc_id >= 100").localCheckpoint()
    b = delta.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()

    base_dir = str(tmp_path / "base")
    CurationState.build(spark, base, base_dir, bench_source="bench")

    clean_dir = str(tmp_path / "clean")
    shutil.copytree(base_dir, clean_dir)
    CurationState.load(spark, clean_dir).update(delta)

    SUBS = ["index", "indexed", "hashes", "working", "tombstones", "grams", "contam"]
    STAGES = ["bands", "pairs", "verified", "verified_clusters"]

    def rows(path, sub):
        return sorted(tuple(r) for r in spark.read.parquet(f"{path}/{sub}").collect())

    def snapshot(path):
        snap = {s: rows(path, s) for s in SUBS if s != "index"}
        for st in STAGES:
            snap[f"index/{st}"] = rows(path, f"index/{st}")
        snap["meta"] = storage.read_control_row(f"{path}/meta")
        snap["index_meta"] = storage.read_control_row(f"{path}/index/meta")
        return snap

    want = snapshot(clean_dir)
    assert want["tombstones"], "crafted corpus must force retractions"

    def make_case(tag, written, torn_grams=False, swap_window=False):
        written = SUBS[:written] if isinstance(written, int) else written
        case = str(tmp_path / tag)
        shutil.copytree(base_dir, case)
        for sub in written:
            shutil.rmtree(f"{case}/{sub}")
            shutil.copytree(f"{clean_dir}/{sub}", f"{case}/{sub}")
        if torn_grams:
            # the grams append landed PARTIALLY: drop half the new files
            pre = set(os.listdir(f"{base_dir}/grams"))
            new = sorted(
                f for f in os.listdir(f"{case}/grams")
                if f not in pre and f.endswith(".parquet")
            )
            assert new, "delta must have appended gram files"
            for f in new[: max(1, len(new) // 2)]:
                os.remove(f"{case}/grams/{f}")
        if swap_window:
            # crash between the contam swap's two renames: no live dir,
            # both complete copies beside it
            os.rename(f"{case}/contam", f"{case}/contam.__old__")
            shutil.copytree(f"{clean_dir}/contam", f"{case}/contam.__compact__")
        storage.write_control_parquet(
            f"{case}/pending", [(int(b["lo"]), int(b["hi"]))], "lo bigint, hi bigint"
        )
        return case

    cases = [
        make_case("w_pending_only", 0),
        make_case("w_index", 1),
        make_case("w_through_hashes", 3),
        make_case("w_through_tombstones", 5),
        make_case("w_torn_grams", 6, torn_grams=True),
        make_case("w_all_but_meta", 7),
        make_case("w_swap_window", 6, swap_window=True),
        # the writes run CONCURRENTLY, so a crash leaves an arbitrary
        # SUBSET, not a prefix — repair must reconstruct from e.g.
        # tombstones+grams landed while indexed/hashes/working did not
        make_case("w_out_of_order", ["tombstones", "grams"]),
    ]
    # pre-repair, the torn state is loudly visible
    probe = CurationState.load(spark, cases[3])
    assert probe.check(index_stages=False)["violations"].get(
        "pending_update_marker"
    ) == 1

    for case in cases:
        st = CurationState.load(spark, case)
        st.update(delta)  # the replay — repair mode
        got = snapshot(case)
        assert got == want, case
    # repaired state passes the full integrity probe
    assert CurationState.load(spark, cases[4]).check()["ok"]


@pytest.mark.slow
def test_check_reports_mid_swap_crash(spark, tmp_path):
    """A crash between a rename-aside swap's two renames (compact(),
    update()'s contam swap) leaves NO live directory at the substrate
    path. check() must REPORT that (substrate_missing_*) rather than
    crash on the read — it exists for post-crash triage — and recovery
    is the one rename storage.recover_swapped_dir performs."""
    import os

    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    ).filter("doc_id < 100")
    p = str(tmp_path / "inc")
    CurationState.build(spark, docs, p, bench_source="bench")

    os.rename(f"{p}/working", f"{p}/working.__old__")
    res = CurationState.load(spark, p).check(index_stages=False)
    assert not res["ok"]
    assert res["violations"] == {"substrate_missing_working": 1}

    assert storage.recover_swapped_dir(f"{p}/working") is True
    assert CurationState.load(spark, p).check(index_stages=False)["ok"]


@pytest.mark.slow
def test_compact_refuses_pending_marker(spark, tmp_path):
    """r8 ADVICE (medium): compact() while a dangling `pending` marker
    shows a crashed update must REFUSE — its working rewrite resolves
    the crashed update's uncommitted tombstones and clears the
    tombstone log, after which the repair replay can no longer
    reconstruct the pre-crash live set. The caller is directed to
    replay the torn delta first."""
    from lp_etl_plugins_spark import textops as T

    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    ).filter("doc_id < 100")
    p = str(tmp_path / "inc")
    st = CurationState.build(spark, docs, p, bench_source="bench")
    storage.write_control_parquet(f"{p}/pending", [(500, 600)], "lo bigint, hi bigint")

    with pytest.raises(ValueError, match="pending update marker"):
        st.compact()
    with pytest.raises(ValueError, match="pending update marker"):
        st.maybe_compact(max_files_per_substrate=0)

    st._clear_pending()
    assert st.compact()["working"]["rows"] >= 0  # healthy again


def test_check_reports_mid_swap_tombstones(spark, tmp_path):
    """r8 ADVICE (low): the substrate-missing probe must cover the
    tombstone log too — compact() swaps it via the same rename-aside,
    so a crash between its two renames leaves no live tombstones dir
    and check() previously crashed in _tombstones() instead of
    reporting."""
    import os

    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    ).filter("doc_id < 100")
    p = str(tmp_path / "inc")
    CurationState.build(spark, docs, p, bench_source="bench")

    os.rename(f"{p}/tombstones", f"{p}/tombstones.__old__")
    res = CurationState.load(spark, p).check(index_stages=False)
    assert not res["ok"]
    assert res["violations"] == {"substrate_missing_tombstones": 1}

    assert storage.recover_swapped_dir(f"{p}/tombstones") is True
    assert CurationState.load(spark, p).check(index_stages=False)["ok"]


@pytest.mark.slow
def test_repair_replay_never_rewrites_pending_marker(spark, tmp_path, monkeypatch):
    """r8 ADVICE (low): on a repair replay the on-disk marker already
    holds the delta's bounds — rewriting it reopens the control-swap
    window (a second crash between the two renames deletes the marker
    and the NEXT replay runs non-repair and double-appends). The
    repair branch must therefore never call _write_pending."""
    import shutil

    from lp_etl_plugins_spark import textops as T

    docs = spark.createDataFrame(
        _crafted_rows(), "doc_id long, source string, text string"
    )
    base = docs.filter("doc_id < 100")
    delta = docs.filter("doc_id >= 100").localCheckpoint()
    b = delta.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()

    p = str(tmp_path / "inc")
    CurationState.build(spark, base, p, bench_source="bench")
    # crash window: marker landed, nothing else did
    storage.write_control_parquet(
        f"{p}/pending", [(int(b["lo"]), int(b["hi"]))], "lo bigint, hi bigint"
    )

    def boom(self, lo, hi):
        raise AssertionError("repair replay rewrote the pending marker")

    monkeypatch.setattr(CurationState, "_write_pending", boom)
    st = CurationState.load(spark, p)
    st.update(delta)  # repair mode — must not touch the marker
    assert st._read_pending() is None  # and the commit still clears it
    assert st.check(index_stages=False)["ok"]
