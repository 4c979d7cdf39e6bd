"""Streamed deletion feeds (round 9) — foreach_batch_retract.

The deletion twin of the ingestion-absorber family: every index
consumes an opt-out/takedown stream of ids (docs with texts, for the
LM) in micro-batches. Contracts pinned here, per family:

- two streamed batches == one batch retraction (view-identical to a
  rebuild on the survivors);
- a REPLAYED batch and a batch of duplicate deletion requests absorb
  silently (the committed-ledger / tombstone-set pre-filter) — never
  a double subtraction, never a stuck stream;
- a batch mixing duplicates with fresh ids retracts exactly the fresh
  ones.
"""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from lp_etl_plugins_spark import textops as T
from lp_etl_plugins_spark import vectorops as V
from lp_etl_plugins_spark import multimodal as MM
from lp_etl_plugins_spark.maintenance import vacuum

pytestmark = pytest.mark.slow


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_dedup_streamed_retraction_equals_batch(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "idx")
    docs.write.parquet(f"{tmp_path}/corpus")
    T.DedupIndex(docs, "text", "doc_id").save(p)
    b1 = docs.filter("doc_id % 9 = 2").select(F.col("doc_id").alias("id"))
    b2 = docs.filter("doc_id % 9 = 5").select(F.col("doc_id").alias("id"))
    absorb = T.DedupIndex.foreach_batch_retract(spark, p)
    absorb(b1, 1)
    absorb(b1, 1)  # replayed batch — absorbs silently
    absorb(b2, 2)
    absorb(b1.unionByName(b2), 3)  # duplicate requests — silent
    keep = docs.filter("doc_id % 9 != 2 and doc_id % 9 != 5")
    want_idx = T.DedupIndex(keep, "text", "doc_id")
    served = T.DedupIndex.load(spark, p)
    for s in T.DedupIndex._STAGES:
        assert _rows(getattr(served, s)) == _rows(getattr(want_idx, s)), s
    assert vacuum(spark, [p]).collect()[0]["ok"]


def test_repeat_streamed_retraction_equals_batch(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "idx")
    docs.write.parquet(f"{tmp_path}/corpus")
    T.RepeatIndex.build(spark, docs, p, "text", "doc_id")
    b1 = docs.filter("doc_id % 7 = 3").select(F.col("doc_id").alias("id"))
    b2 = docs.filter("doc_id % 7 = 5").select(F.col("doc_id").alias("id"))
    absorb = T.RepeatIndex.foreach_batch_retract(spark, p, f"{tmp_path}/corpus")
    absorb(b1, 1)
    absorb(b1, 1)
    absorb(b2, 2)
    absorb(b1.unionByName(b2), 3)
    keep = docs.filter("doc_id % 7 != 3 and doc_id % 7 != 5")
    want = _rows(
        T.RepeatIndex.build(spark, keep, str(tmp_path / "want"), "text", "doc_id").spans()
    )
    assert _rows(T.RepeatIndex.load(spark, p).spans()) == want
    assert vacuum(spark, [p]).collect()[0]["ok"]


def test_trigram_streamed_retraction_equals_batch(spark, tmp_path):
    docs = _docs(spark)
    p = str(tmp_path / "lm")
    T.TrigramLM(docs, "text", "doc_id").save(p)
    b1 = docs.filter("doc_id % 11 = 5")
    b2 = docs.filter("doc_id % 11 = 7")
    absorb = T.TrigramLM.foreach_batch_retract(spark, p)
    absorb(b1, 1)
    absorb(b1, 1)
    absorb(b2, 2)
    absorb(b1.unionByName(b2), 3)
    keep = docs.filter("doc_id % 11 != 5 and doc_id % 11 != 7")
    want = _rows(T.TrigramLM(keep, "text", "doc_id").counts)
    assert _rows(T.TrigramLM.load(spark, p)._counts) == want
    assert vacuum(spark, [p]).collect()[0]["ok"]


def test_vector_streamed_retraction_equals_batch(spark, tmp_path):
    from lp_etl_plugins_spark.inventory.vectorops import _emb, _external_probes

    emb = _emb(spark, SF_SMOKE)
    p = str(tmp_path / "vidx")
    V.VectorIndex(emb).save(p)
    b1 = emb.filter("vec_id % 9 = 2").select("vec_id")
    b2 = emb.filter("vec_id % 9 = 5").select("vec_id")
    absorb = V.foreach_batch_retract(spark, p)
    absorb(b1, 1)
    absorb(b1, 1)
    absorb(b2, 2)
    absorb(b1.unionByName(b2), 3)
    # ground truth: one in-memory retraction over a fresh build (same
    # training corpus → same quantizers)
    want_idx = V.VectorIndex(emb).retract(
        emb.filter("vec_id % 9 = 2 or vec_id % 9 = 5").select("vec_id")
    )
    probes = _external_probes(emb)
    assert _rows(V.VectorIndex.load(spark, p).search(probes, 3, nprobe=2)) == _rows(
        want_idx.search(probes, 3, nprobe=2)
    )
    assert vacuum(spark, [p]).collect()[0]["ok"]


def test_media_streamed_retraction_equals_batch(spark, tmp_path):
    media = MM.synthetic_media(spark, 200)
    p = str(tmp_path / "midx")
    MM.MediaIndex(media).save(p)
    b1 = media.filter("media_id % 7 = 3").select(F.col("media_id").alias("id"))
    b2 = media.filter("media_id % 7 = 5").select(F.col("media_id").alias("id"))
    absorb = MM.foreach_batch_retract(spark, p)
    absorb(b1, 1)
    absorb(b1, 1)
    absorb(b2, 2)
    absorb(b1.unionByName(b2), 3)
    keep = media.filter("media_id % 7 != 3 and media_id % 7 != 5")
    want_idx = MM.MediaIndex(keep)
    served = MM.MediaIndex.load(spark, p)
    for s in MM.MediaIndex._STAGES:
        assert _rows(getattr(served, s)) == _rows(getattr(want_idx, s)), s
    assert vacuum(spark, [p]).collect()[0]["ok"]
