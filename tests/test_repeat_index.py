"""RepeatIndex: the incremental exact-substring detector.

The load-bearing assertion mirrors test_incremental.py / the t34
pattern: ``build(base); update(delta)`` must equal
``build(base ∪ delta)`` on the spans view — including the flip path
(a delta doc repeating a passage that previously occurred in exactly
ONE old doc must retroactively give that old doc spans) and repeated
re-evaluation of the same old doc across chained updates (the
generation-shadowing case a tombstone log would get wrong).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from lp_etl_plugins_spark.textops import RepeatIndex, repeated_substring_spans


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as _inv_docs

    return _inv_docs(spark, SF_SMOKE).select("doc_id", "text")


@pytest.mark.slow
def test_update_equals_rebuild_real_corpus(spark, tmp_path):
    docs = _docs(spark)
    idx = RepeatIndex.build(
        spark, docs.filter("doc_id < 400"), str(tmp_path / "inc")
    )
    m = idx.update(docs.filter("doc_id >= 400"), old_docs=docs.filter("doc_id < 400"))
    assert m["delta_rows"] > 0
    want = _rows(repeated_substring_spans(docs, "text", "doc_id"))
    assert want  # the corpus ships repeated passages
    assert _rows(idx.spans()) == want
    # cross-session: a fresh load serves the same view
    assert _rows(RepeatIndex.load(spark, str(tmp_path / "inc")).spans()) == want


_P = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 words
_Q = "lambda mu nu xi omicron pi rho sigma tau upsilon"


def test_flip_path_and_chained_regen(spark, tmp_path):
    """Doc 1 holds passage P alone (no spans). Delta doc 100 repeats P
    → gram counts flip 1→2 and doc 1 must gain spans incrementally.
    A second delta (doc 200, also with P) re-touches doc 1 — its
    second re-evaluation must SHADOW the first, not vanish behind an
    id-keyed tombstone. Both states equal full rebuilds."""
    base = spark.createDataFrame(
        [(1, _P + " one tail word here now ok"), (2, _Q + " other text")],
        "doc_id long, text string",
    )
    d1 = spark.createDataFrame([(100, _P + " different ending")], "doc_id long, text string")
    d2 = spark.createDataFrame([(200, _P + " third carrier")], "doc_id long, text string")
    path = str(tmp_path / "inc")
    idx = RepeatIndex.build(spark, base, path)
    assert idx.spans().count() == 0  # nothing repeated yet

    m1 = idx.update(d1, old_docs=base)
    assert m1["touched_old"] == 1  # doc 1 re-evaluated
    full1 = repeated_substring_spans(base.unionByName(d1), "text", "doc_id")
    assert _rows(idx.spans()) == _rows(full1)
    assert 1 in {r["id"] for r in idx.spans().collect()}

    m2 = idx.update(d2, old_docs=base.unionByName(d1))
    # P's grams are already repeated (count 2) — no flip, doc 1 is NOT
    # touched again; only the delta doc is evaluated
    assert m2["touched_old"] == 0
    full2 = repeated_substring_spans(
        base.unionByName(d1).unionByName(d2), "text", "doc_id"
    )
    assert _rows(idx.spans()) == _rows(full2)


def test_regen_shadowing_on_retouched_doc(spark, tmp_path):
    """A doc re-evaluated by TWO different updates (different flipped
    grams each time) keeps exactly its latest row — the last-wins
    merge the gen column exists for."""
    base = spark.createDataFrame(
        [(1, _P + " filler " + _Q), (2, "unrelated words entirely here today fine ok yes")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inc")
    idx = RepeatIndex.build(spark, base, path)
    d1 = spark.createDataFrame([(100, _P + " x")], "doc_id long, text string")
    idx.update(d1, old_docs=base)
    all1 = base.unionByName(d1)
    d2 = spark.createDataFrame([(200, _Q + " y")], "doc_id long, text string")
    m2 = idx.update(d2, old_docs=all1)
    assert m2["touched_old"] == 1  # doc 1 re-touched via Q's flip
    full = repeated_substring_spans(all1.unionByName(d2), "text", "doc_id")
    assert _rows(idx.spans()) == _rows(full)
    # the log holds multiple generations for doc 1; the view exactly one
    log = spark.read.parquet(f"{path}/spans")
    assert log.filter("id = 1").count() >= 2
    assert idx.spans().filter("id = 1").count() == 1


def test_compact_preserves_view_and_composes(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "inc")
    idx = RepeatIndex.build(spark, docs.filter("doc_id < 300"), path)
    idx.update(
        docs.filter("doc_id >= 300 AND doc_id < 420"),
        old_docs=docs.filter("doc_id < 300"),
    )
    before = _rows(idx.spans())
    metrics = idx.compact()
    assert metrics["spans"]["files_after"] == 1
    assert metrics["postings"]["files_after"] == 1
    assert _rows(idx.spans()) == before
    # update after compaction still equals a rebuild
    idx.update(docs.filter("doc_id >= 420"), old_docs=docs.filter("doc_id < 420"))
    want = _rows(repeated_substring_spans(docs, "text", "doc_id"))
    assert _rows(idx.spans()) == want


def test_disjointness_contract_and_empty_delta(spark, tmp_path):
    base = spark.createDataFrame([(5, _P)], "doc_id long, text string")
    idx = RepeatIndex.build(spark, base, str(tmp_path / "inc"))
    with pytest.raises(ValueError, match="disjointness"):
        idx.update(
            spark.createDataFrame([(5, _P)], "doc_id long, text string"),
            old_docs=base,
        )
    # interleaved (non-monotone) NEW ids are legal — only overlap is not
    lower = spark.createDataFrame([(3, _P + " again")], "doc_id long, text string")
    idx.update(lower, old_docs=base)
    full = repeated_substring_spans(
        base.unionByName(lower), "text", "doc_id"
    )
    assert _rows(idx.spans()) == _rows(full)
    m = idx.update(base.filter("doc_id < 0"), old_docs=base)
    assert m == {"delta_rows": 0, "touched_old": 0, "spans_rewritten": 0}
    assert idx.meta["n_updates"] == 1
    # within-delta duplicate ids would merge gram sets and tie the
    # spans log at one generation — rejected up front
    dup = spark.createDataFrame(
        [(7, _P + " a"), (7, _Q + " b")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        idx.update(dup, old_docs=base)


@pytest.mark.slow
def test_streamed_ingestion_equals_batch(spark, tmp_path):
    """Micro-batch ingestion through foreach_batch_update: two
    monotone delta files drained oldest-first, each appended to the
    co-maintained corpus log and absorbed as one update — the final
    spans view must equal a from-scratch batch computation over
    everything; a replayed batch is skipped idempotently and a
    straddling batch raises."""
    import os
    import time

    docs = _docs(spark)
    hi = docs.agg(F.max("doc_id")).first()[0]
    c1, c2 = (hi * 7) // 10, (hi * 85) // 100
    corpus_dir = str(tmp_path / "corpus")
    docs.filter(F.col("doc_id") <= c1).write.parquet(corpus_dir)
    path = str(tmp_path / "inc")
    RepeatIndex.build(spark, spark.read.parquet(corpus_dir), path)

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
    absorb = RepeatIndex.foreach_batch_update(spark, path, corpus_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    q = stream.writeStream.foreachBatch(absorb).trigger(availableNow=True).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(300)

    idx = RepeatIndex.load(spark, path)
    assert idx.meta["n_updates"] == 2
    assert spark.read.parquet(corpus_dir).count() == docs.count()
    want = _rows(repeated_substring_spans(docs, "text", "doc_id"))
    assert _rows(idx.spans()) == want
    # replay: a committed batch is a no-op for corpus AND index
    absorb(docs.filter(F.col("doc_id") > c2), 99)
    assert RepeatIndex.load(spark, path).meta["n_updates"] == 2
    assert spark.read.parquet(corpus_dir).count() == docs.count()
    # straddling batch raises
    import pytest

    strad = docs.filter(F.col("doc_id") == c2).unionByName(
        docs.filter(F.col("doc_id") == hi).withColumn(
            "doc_id", F.col("doc_id") + 1
        )
    )
    with pytest.raises(ValueError, match="straddle"):
        absorb(strad, 100)


@pytest.mark.slow
def test_foreach_batch_update_detects_torn_multifile_corpus_append(
    spark, tmp_path
):
    """r7 ADVICE: a torn MULTI-FILE corpus append can commit the
    part-file holding the batch's max id while losing others — the
    corpus max then covers the batch and the old guard skipped the
    append, silently losing rows (update no longer equals rebuild).
    The absorber must verify row-count completeness and raise."""
    base = spark.createDataFrame(
        [(1, _P + " one tail"), (2, _Q + " other text")],
        "doc_id long, text string",
    )
    corpus_dir = str(tmp_path / "corpus")
    base.write.parquet(corpus_dir)
    path = str(tmp_path / "inc")
    RepeatIndex.build(spark, spark.read.parquet(corpus_dir), path)

    batch = spark.createDataFrame(
        [(100, _P + " carrier a"), (101, _Q + " carrier b")],
        "doc_id long, text string",
    )
    # tear: only the part-file with the max id (101) landed
    batch.filter("doc_id = 101").write.mode("append").parquet(corpus_dir)
    absorb = RepeatIndex.foreach_batch_update(spark, path, corpus_dir)
    with pytest.raises(ValueError, match="torn corpus append"):
        absorb(batch, 0)
    # a FULLY landed corpus append (crash between corpus write and
    # index update) still recovers by redoing only the index half
    batch.filter("doc_id = 100").write.mode("append").parquet(corpus_dir)
    absorb(batch, 0)
    everything = base.unionByName(batch)
    want = _rows(repeated_substring_spans(everything, "text", "doc_id"))
    assert _rows(RepeatIndex.load(spark, path).spans()) == want


# -- property: incremental == full rebuild on random corpora ------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_W = ["kestrel", "bramble", "cobalt", "fathom", "girder", "hollow", "ingot", "jasper"]
_text = st.lists(st.sampled_from(_W), min_size=1, max_size=12).map(" ".join)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(_text, min_size=5, max_size=18),
    cuts=st.tuples(
        st.floats(min_value=0.2, max_value=0.9),
        st.floats(min_value=0.2, max_value=0.9),
    ),
)
@pytest.mark.slow
def test_repeat_update_equals_rebuild_property(spark, texts, cuts):
    """VERDICT r7 #8 — the RepeatIndex twin of the CurationState
    property: random tiny-vocab corpora with random disjoint splits
    (and a CHAINED second delta) force what the crafted flip/
    shadowing/chained-regen examples can't enumerate — several grams
    flipping 1→2 at once, a delta doc re-touching an old doc across
    both updates (generation shadowing), docs too short to gram, and
    empty deltas. span_n=4 over 1–12-word docs from an 8-word vocab
    makes repeated 4-grams dense enough that most examples exercise
    real flips. The invariant is the class's headline:
    ``build(base); update(d1); update(d2)`` equals
    ``build(base ∪ d1 ∪ d2)`` on the spans view (and the postings
    stage, which the spans derive from)."""
    import shutil
    import tempfile

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    c1, c2 = sorted(int(len(rows) * f) for f in cuts)
    c1 = max(c1, 1)  # build needs a non-empty base
    c2 = max(c2, c1)
    base = docs.filter(F.col("doc_id") < c1)
    d1 = docs.filter((F.col("doc_id") >= c1) & (F.col("doc_id") < c2))
    d2 = docs.filter(F.col("doc_id") >= c2)
    tmp = tempfile.mkdtemp(prefix="propridx_")
    full_tmp = tempfile.mkdtemp(prefix="propridxf_")
    try:
        idx = RepeatIndex.build(spark, base, tmp, span_n=4)
        idx.update(d1, old_docs=base)
        idx.update(d2, old_docs=docs.filter(F.col("doc_id") < c2))
        full = RepeatIndex.build(spark, docs, full_tmp, span_n=4)
        assert _rows(idx.spans()) == _rows(full.spans())
        assert _rows(idx.postings()) == _rows(full.postings())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(full_tmp, ignore_errors=True)
