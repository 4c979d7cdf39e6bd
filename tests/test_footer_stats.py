"""The footer-derived control plane (``storage.footer_stats``).

Lifecycle probes take row counts, high-water marks and torn-state
bounds from parquet footers instead of Spark jobs. A footer answer
that disagrees with Spark's is a bug, so these tests compare the two
on every substrate of a TrigramLM and a VectorIndex after each step of
save → update → retract → compact, check the fallback when a file
carries no statistics, and pin the job ceilings the footers buy.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from lp_etl_plugins_spark import maintenance as M
from lp_etl_plugins_spark import storage
from lp_etl_plugins_spark.inventory import vectorops as IV
from lp_etl_plugins_spark.textops import TornStateError, TrigramLM
from lp_etl_plugins_spark.vectorops import VectorIndex

_INT = (ByteType, ShortType, IntegerType, LongType)


def _docs(spark):
    from lp_etl_plugins_spark.inventory.textops import _docs as d

    return d(spark, SF_SMOKE).select("doc_id", "source", "text")


def _assert_footers_match_spark(spark, path):
    """Every stage directory under ``path``: footer rows and integer
    min/max equal Spark's aggregate, and its files share one schema."""
    seen = 0
    for stage in sorted(os.listdir(path)):
        d = os.path.join(path, stage)
        if not os.path.isdir(d) or not storage.count_data_files(d):
            continue
        df = spark.read.parquet(d)
        cols = [f.name for f in df.schema.fields if isinstance(f.dataType, _INT)]
        got = storage.footer_stats(d, cols)
        assert got is not None, stage
        want = storage.scan_stats(df, cols)
        assert (got.rows, got.lo, got.hi) == (want.rows, want.lo, want.hi), stage
        assert not got.mixed, stage
        seen += 1
    assert seen


def _jobs(spark):
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def test_trigram_footers_equal_spark_through_lifecycle(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "lm")
    TrigramLM(docs.filter("doc_id < 300"), "text", "doc_id").save(path)
    _assert_footers_match_spark(spark, path)

    lm = TrigramLM.load(spark, path)
    lm.update(docs.filter("doc_id >= 300"))
    lm.append_saved(path)
    _assert_footers_match_spark(spark, path)

    lm = TrigramLM.load(spark, path)
    lm.retract(docs.filter("doc_id % 11 = 0"))
    lm.retract_saved(path)
    _assert_footers_match_spark(spark, path)

    out = TrigramLM.compact(spark, path)
    _assert_footers_match_spark(spark, path)
    # rewrite_parquet_dir's rows come from the new files' footers
    assert out["counts"]["rows"] == spark.read.parquet(f"{path}/counts").count()
    assert out["retracted"]["rows"] == spark.read.parquet(f"{path}/retracted").count()
    assert M.check_trigram_lm(spark, path) == {"ok": True, "violations": {}}


def test_vector_footers_equal_spark_through_lifecycle(spark, tmp_path):
    emb = IV._emb(spark, SF_SMOKE)
    path = str(tmp_path / "vidx")
    VectorIndex(emb.filter("vec_id < 300")).save(path)
    _assert_footers_match_spark(spark, path)

    idx = VectorIndex.load(spark, path)
    idx.update(emb.filter("vec_id >= 300").drop("label"))
    idx.append_saved(path)
    _assert_footers_match_spark(spark, path)
    # append_saved's high-water mark is the landed files' footer max
    assert storage.read_control_row(f"{path}/meta")["max_id"] == int(
        emb.agg(F.max("vec_id")).first()[0]
    )

    idx = VectorIndex.load(spark, path)
    idx.retract(spark.createDataFrame([(i,) for i in range(0, 500, 7)], "id long"))
    idx.retract_saved(path)
    _assert_footers_match_spark(spark, path)

    out = VectorIndex.compact(spark, path)
    _assert_footers_match_spark(spark, path)
    for stage in ("corpus_lists", "codes"):
        assert out[stage]["rows"] == spark.read.parquet(f"{path}/{stage}").count()
    assert M.check_vector_index(spark, path) == {"ok": True, "violations": {}}


def test_statistics_free_files_take_the_spark_fallback(spark, tmp_path):
    """A file written without statistics cannot answer min/max: the
    footer reader returns None and the probes ask Spark instead — which
    still sees a torn row the footers could not."""
    d = str(tmp_path / "nostats")
    os.makedirs(d)
    pq.write_table(
        pa.table({"id": pa.array([4, 9, 2], pa.int64())}),
        os.path.join(d, "part-0.parquet"),
        write_statistics=False,
    )
    assert storage.footer_stats(d, ["id"]) is None
    assert storage.footer_stats(d).rows == 3  # num_rows needs no statistics
    st = storage.dir_stats(d, spark.read.parquet(d), ["id"])
    assert (st.rows, st.lo, st.hi) == (3, {"id": 2}, {"id": 9})
    assert storage.footer_stats("hdfs://nn/some/dir", ["id"]) is None

    docs = _docs(spark)
    path = str(tmp_path / "lm")
    TrigramLM(docs.filter("doc_id < 200"), "text", "doc_id").save(path)
    stamp = storage.read_control_row(f"{path}/meta")["max_id"]
    # an unstamped segment row (src above the stamp) in a file with no
    # statistics: only the Spark fallback can see it
    pq.write_table(
        pa.table({
            "g": pa.array(["zzz"]),
            "c": pa.array([1], pa.int64()),
            "src": pa.array([stamp + 5], pa.int64()),
        }),
        os.path.join(path, "counts", "part-torn.parquet"),
        write_statistics=False,
    )
    assert storage.footer_stats(f"{path}/counts", ["src"]) is None
    with pytest.raises(TornStateError):
        TrigramLM.compact(spark, path)
    v = M.check_trigram_lm(spark, path)["violations"]
    assert v.get("uncommitted_segment_rows") == 1


def test_mixed_schema_directory_is_reported(spark, tmp_path):
    """A legacy directory whose files disagree on schema: reads keep
    pinning the first file's schema, and the probe reports it."""
    docs = _docs(spark)
    path = str(tmp_path / "lm")
    TrigramLM(docs.filter("doc_id < 200"), "text", "doc_id").save(path)
    assert M.check_trigram_lm(spark, path)["ok"]
    # a legacy segment file written without the src column
    pq.write_table(
        pa.table({"g": pa.array(["zzz"]), "c": pa.array([1], pa.int64())}),
        os.path.join(path, "counts", "part-legacy.parquet"),
    )
    res = M.check_trigram_lm(spark, path)
    assert res["violations"].get("mixed_schema_counts") == 2
    assert not res["ok"]
    report = M.vacuum(spark, [path]).collect()[0]
    assert "mixed_schema_counts=2" in report["violations"]


def test_lifecycle_job_ceilings(spark, tmp_path):
    """VectorIndex.compact over a retracted index and vacuum of both
    families run a fixed, small number of Spark jobs: no count or
    schema-inference jobs, and a report frame that needs no job."""
    emb = IV._emb(spark, SF_SMOKE)
    vp = str(tmp_path / "vidx")
    VectorIndex(emb.filter("vec_id < 300")).save(vp)
    idx = VectorIndex.load(spark, vp)
    idx.update(emb.filter("vec_id >= 300").drop("label"))
    idx.append_saved(vp)
    idx = VectorIndex.load(spark, vp)
    idx.retract(spark.createDataFrame([(i,) for i in range(0, 500, 7)], "id long"))
    idx.retract_saved(vp)

    j = _jobs(spark)
    VectorIndex.compact(spark, vp)
    # six stage writes, two of them behind a broadcast tombstone anti-join
    assert _jobs(spark) - j <= 8

    j = _jobs(spark)
    rows = M.vacuum(spark, [vp]).collect()
    assert _jobs(spark) - j <= 3 and rows[0]["ok"], rows

    docs = _docs(spark)
    lp = str(tmp_path / "lm")
    TrigramLM(docs.filter("doc_id < 300"), "text", "doc_id").save(lp)
    lm = TrigramLM.load(spark, lp)
    lm.retract(docs.filter("doc_id < 300 and doc_id % 11 = 0"))
    lm.retract_saved(lp)
    TrigramLM.compact(spark, lp)
    j = _jobs(spark)
    rows = M.vacuum(spark, [lp]).collect()
    assert _jobs(spark) - j <= 3 and rows[0]["ok"], rows
