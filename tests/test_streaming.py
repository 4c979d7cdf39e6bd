"""Streaming-vs-batch equivalence for the window operators.

The window functions are identical code on both paths; these tests
drive them through readStream (file source, availableNow trigger,
memory sink) and assert the streamed result equals the batch result on
the same data — the structured-streaming correctness contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lp_etl_plugins_spark import streaming
from lp_etl_plugins_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """A re-written parquet copy of events (micro-precision ts, plain
    schema) so readStream gets a clean file source."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    load_table(spark, SF, "events").write.mode("overwrite").parquet(path)
    return path


def _stream_result(spark, event_dir, transform, name):
    batch_schema = spark.read.parquet(event_dir).schema
    stream = (
        spark.readStream.schema(batch_schema).parquet(event_dir)
        .transform(streaming.with_watermark)
        .transform(transform)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
def test_tumbling_stream_equals_batch(spark, event_dir):
    batch = streaming.tumbling_counts(spark.read.parquet(event_dir))
    streamed = _stream_result(spark, event_dir, streaming.tumbling_counts, "tumbling_mem")
    assert _rows(streamed) == _rows(batch)


@pytest.mark.slow
def test_sliding_stream_equals_batch(spark, event_dir):
    batch = streaming.sliding_counts(spark.read.parquet(event_dir))
    streamed = _stream_result(spark, event_dir, streaming.sliding_counts, "sliding_mem")
    assert _rows(streamed) == _rows(batch)


@pytest.mark.slow
def test_session_stream_equals_batch(spark, event_dir):
    batch = streaming.session_stats(spark.read.parquet(event_dir))
    streamed = _stream_result(spark, event_dir, streaming.session_stats, "session_mem")
    assert _rows(streamed) == _rows(batch)


def test_watermark_noop_on_batch(spark, event_dir):
    df = spark.read.parquet(event_dir)
    assert streaming.with_watermark(df) is df


def test_stateful_totals_across_microbatches(spark, tmp_path_factory):
    """applyInPandasWithState accumulates per-user state across
    micro-batches: 3 input files, one per trigger; the final emitted
    totals must equal the batch twin over all files at once."""
    path = str(tmp_path_factory.mktemp("events_state") / "events")
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(path)

    batch_df = spark.read.parquet(path)
    batch = {r["user_id"]: (r["n_events"], r["sum_value"])
             for r in streaming.user_totals(batch_df).collect()}

    schema = batch_df.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .transform(streaming.stateful_user_totals)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("stateful_mem")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 2  # really ran multiple triggers

    # update mode appends one row per user per trigger; the final state
    # is the row with the highest (monotone) n_events per user
    emitted = spark.table("stateful_mem")
    final = (
        emitted.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("last"))
        .select("user_id", "last.n_events", "last.sum_value")
    )
    streamed = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in final.collect()}
    assert streamed.keys() == batch.keys()
    for uid, (n, s) in batch.items():
        sn, ss = streamed[uid]
        assert sn == n
        assert abs(ss - s) < 1e-9


@pytest.mark.slow
def test_dedup_stream_equals_batch(spark, event_dir, tmp_path_factory):
    """Watermarked streaming dedup (dropDuplicatesWithinWatermark) over
    an input with planted duplicates produces exactly the batch-distinct
    key set."""
    dup_dir = str(tmp_path_factory.mktemp("events_dup") / "events")
    base = spark.read.parquet(event_dir)
    base.union(base).write.mode("overwrite").parquet(dup_dir)

    batch = streaming.dedup_events(spark.read.parquet(dup_dir))
    schema = spark.read.parquet(dup_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(dup_dir)
        .transform(streaming.dedup_events)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("dedup_mem")
    assert _rows(streamed) == _rows(batch)
    # and dedup actually collapsed the planted duplicates
    assert streamed.count() < spark.read.parquet(dup_dir).count()


@pytest.mark.slow
def test_enrich_stream_equals_batch(spark, event_dir):
    """Stream-static enrichment join: the streamed events joined with
    the static customer dim produce the batch answer."""
    customers = load_table(spark, SF, "customer")
    batch = streaming.enriched_nation_counts(spark.read.parquet(event_dir), customers)
    schema = spark.read.parquet(event_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(event_dir)
        .transform(streaming.with_watermark)
        .transform(lambda ev: streaming.enriched_nation_counts(ev, customers))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("enrich_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _rows(spark.table("enrich_mem")) == _rows(batch)


@pytest.mark.slow
def test_interval_join_stream_equals_batch(spark, event_dir):
    """Stream-stream interval join (click→purchase attribution): the
    watermarked streaming join must produce exactly the batch pairs.
    Append output mode — stream-stream joins emit rows once matched."""
    batch = streaming.click_purchase_join(spark.read.parquet(event_dir))
    schema = spark.read.parquet(event_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(event_dir)
        .transform(streaming.click_purchase_join)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("interval_join_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _rows(spark.table("interval_join_mem")) == _rows(batch)
    assert len(_rows(batch)) > 0


def test_parquet_sink_recovers_exactly_once(spark, tmp_path_factory):
    """Checkpointed parquet sink survives a kill/restart without
    duplicating or losing rows: run 1 commits only the first
    micro-batch (maxFilesPerTrigger=1, stopped after one trigger),
    run 2 resumes from the checkpoint and drains the rest; the sink's
    final content equals the batch input exactly once."""
    base = tmp_path_factory.mktemp("sink_recovery")
    src = str(base / "src")
    out = str(base / "out")
    ckpt = str(base / "ckpt")
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id", "user_id", "value")
        )
        return streaming.write_stream_parquet(stream, out, ckpt, "sink_recovery")

    # run 1: kill the query after the first micro-batch commits
    # (usually mid-stream given maxFilesPerTrigger=1 over 3 files; if
    # the stop lands after the drain, run 2 still proves idempotence)
    q = start()
    while q.lastProgress is None:
        q.awaitTermination(0.2)
    q.stop()
    q.awaitTermination(60)
    first = spark.read.parquet(out).count()

    # run 2: resume from the checkpoint and drain to the end
    q = start()
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    batch = spark.read.parquet(src).select("event_id", "user_id", "value")
    assert got.count() == batch.count()
    assert first <= batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


@pytest.mark.slow
def test_hll_registers_stream_equals_batch(spark, event_dir):
    """Incremental sketch maintenance: readStream register state equals
    the batch registers, and the batch finisher over the streamed
    registers reproduces the batch estimate bit-for-bit."""
    batch = streaming.hll_registers(spark.read.parquet(event_dir))
    streamed = _stream_result(spark, event_dir, streaming.hll_registers, "hll_mem")
    assert _rows(streamed) == _rows(batch)
    assert _rows(streaming.hll_estimate(spark.table("hll_mem"))) == _rows(
        streaming.hll_estimate(batch)
    )


@pytest.mark.slow
def test_outer_interval_join_stream_equals_batch(spark, event_dir):
    """Stream-stream LEFT OUTER interval join: matched pairs equal the
    batch pairs exactly; NULL-purchase rows (the 'click with no
    purchase' leg) are emitted once the watermark passes
    click_ts + horizon — so the comparison restricts both sides to
    clicks older than (max event time − watermark − horizon), where
    the streaming side is obligated to have reported.

    The source is rewritten as ONE part file → one data micro-batch:
    with multiple batches the watermark advances between them and
    late-ordered part files produce spurious/withheld nulls — real
    stream behavior, but not the deterministic contract under test
    (the no-data final batch then performs the eviction)."""
    import os

    one_dir = event_dir + "_onefile"
    if not os.path.exists(one_dir):
        spark.read.parquet(event_dir).coalesce(1).write.mode("overwrite").parquet(one_dir)
    events = spark.read.parquet(one_dir)
    batch = streaming.click_purchase_outer_join(events)
    schema = events.schema
    stream = (
        spark.readStream.schema(schema).parquet(one_dir)
        .transform(streaming.click_purchase_outer_join)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("outer_join_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("outer_join_mem")

    # matched rows must agree everywhere
    matched_s = streamed.filter(F.col("purchase_id").isNotNull())
    matched_b = batch.filter(F.col("purchase_id").isNotNull())
    assert _rows(matched_s) == _rows(matched_b)
    assert len(_rows(matched_b)) > 0

    # null emission: complete and exclusive below the watermark frontier
    # the GLOBAL watermark is the min over both input watermarks —
    # each side advances from its own max event time — so the null
    # frontier is min(max click, max purchase) − 1h − 30m; minus 2 s
    # because unix_timestamp floors the sub-second part a click on the
    # exact boundary instant may legitimately still hold
    side_max = (
        events.groupBy("event_type")
        .agg(F.max(F.unix_timestamp("ts")).alias("m"))
        .filter(F.col("event_type").isin("click", "purchase"))
        .agg(F.min("m"))
        .first()[0]
    )
    frontier = side_max - 3600 - 1800 - 2
    nulls_s = streamed.filter(
        F.col("purchase_id").isNull() & (F.col("click_sec") < frontier)
    )
    nulls_b = batch.filter(
        F.col("purchase_id").isNull() & (F.col("click_sec") < frontier)
    )
    assert _rows(nulls_s) == _rows(nulls_b)
    assert len(_rows(nulls_b)) > 0
    # and the streaming side emitted no null row the batch doesn't have
    extra = streamed.filter(F.col("purchase_id").isNull()).join(
        batch.filter(F.col("purchase_id").isNull()),
        ["user_id", "click_id", "click_sec"],
        "left_anti",
    )
    assert extra.count() == 0


@pytest.mark.slow
def test_session_timeout_stream_equals_batch(spark, event_dir):
    """The TIMER-based stateful operator: sessions closed by an
    in-batch gap emit immediately; the trailing open session emits
    when the event-time timeout (last + gap) falls below the final
    watermark. Streamed rows must be a subset of the batch
    sessionization, complete below the obligation frontier.

    One part file → one data micro-batch (the outer-join test's
    discipline): the no-data final batch advances the watermark to
    max(ts) − 1 h and fires the timers."""
    import os

    one_dir = event_dir + "_onefile"
    if not os.path.exists(one_dir):
        spark.read.parquet(event_dir).coalesce(1).write.mode("overwrite").parquet(one_dir)
    events = spark.read.parquet(one_dir)
    batch = streaming.session_timeout_summaries(events)
    schema = events.schema
    stream = (
        spark.readStream.schema(schema).parquet(one_dir)
        .transform(streaming.session_timeout_summaries)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("session_timeout_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("session_timeout_mem")

    # nothing invented: every streamed summary is a batch session
    extra = streamed.join(batch, list(streamed.columns), "left_anti")
    assert extra.count() == 0
    # complete below the frontier: sessions whose timeout predates the
    # final watermark (max ts − 1 h, minus 2 s floor slack) must have
    # emitted
    max_sec = events.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    frontier = max_sec - 3600 - 21600 - 2
    due_b = batch.filter(F.col("session_end") < frontier)
    due_s = streamed.filter(F.col("session_end") < frontier)
    assert _rows(due_s) == _rows(due_b)
    assert due_b.count() > 0
    # and at least one multi-event session proves the accumulator
    assert batch.filter(F.col("n_events") > 1).count() > 0


def test_round2_is_half_up():
    """The pandas emit paths round like Spark's ``F.round`` (HALF_UP at
    2 dp), so a sum landing on a half-cent boundary can't break
    stream == batch equality; Python's built-in round would give 3.0."""
    assert streaming._round2(1.005 + 2.0) == 3.01
    assert streaming._round2(1.005 + 2.0 + 0.005) == 3.01


@pytest.mark.slow
def test_histogram_registers_stream_equals_batch(spark, event_dir):
    """The quantile-sketch sibling of the HLL test: stream-maintained
    bucket registers equal the batch registers, the finisher over the
    streamed table reproduces the batch estimates bit-for-bit, and the
    register table is additive — summing two half-stream sketches
    equals the full-corpus sketch."""
    from pyspark.sql import functions as F

    batch = streaming.histogram_registers(spark.read.parquet(event_dir))
    streamed = _stream_result(
        spark, event_dir, streaming.histogram_registers, "hist_mem"
    )
    assert _rows(streamed) == _rows(batch)
    assert _rows(streaming.histogram_estimate(spark.table("hist_mem"))) == _rows(
        streaming.histogram_estimate(batch)
    )
    # additivity: sketches of disjoint halves merge by summing counts
    ev = spark.read.parquet(event_dir)
    h1 = streaming.histogram_registers(ev.filter("event_id % 2 = 0"))
    h2 = streaming.histogram_registers(ev.filter("event_id % 2 = 1"))
    merged = (
        h1.unionByName(h2)
        .groupBy("event_type", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert _rows(streaming.histogram_estimate(merged)) == _rows(
        streaming.histogram_estimate(batch)
    )
