"""Structured Streaming windows over event streams (SURVEY §2.7).

The reference is strictly batch; this is the engine's greenfield
streaming surface over the ``events`` table. The core idiom: each
window transformation is ONE function over a DataFrame that works
unchanged on a batch frame and on a ``readStream`` frame — batch
equivalence is therefore the correctness oracle (the inventory e*
entries hash-check the batch plan against DuckDB; the streaming tests
drive the same functions through ``readStream`` + ``availableNow`` and
assert equality with batch).

Windows emit epoch-second longs (not raw timestamps) so results are
precision-stable across engines. Epoch extraction is
``F.unix_timestamp`` — NOT ``cast("long")`` — because the events
parquet has shipped with ``ts`` as both TIMESTAMP and TIMESTAMP_NTZ
across testdata generations: ``unix_timestamp`` maps an LTZ value to
its instant's epoch and an NTZ value to naive-as-UTC seconds, both
independent of ``spark.sql.session.timeZone`` (NTZ→long ``cast`` is
illegal, and NTZ→LTZ conversions shift by the session zone).

Scale: windowed aggregations shuffle on (window, key) — bounded state;
watermarks bound the streaming state store. Session windows merge
per-key — the state is per-user, pruned by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_stats",
    "session_timeout_summaries",
    "user_totals",
    "stateful_user_totals",
    "dedup_events",
    "enriched_nation_counts",
    "click_purchase_join",
    "click_purchase_outer_join",
    "hll_registers",
    "hll_estimate",
    "histogram_registers",
    "histogram_estimate",
    "write_stream_parquet",
    "with_watermark",
]


def with_watermark(events: DataFrame, delay: str = "1 hour") -> DataFrame:
    """Late-data bound for streaming runs; a no-op on batch frames."""
    return events.withWatermark("ts", delay) if events.isStreaming else events


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling window per event_type → (window_start, event_type,
    n_events, sum_value)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding window (each event lands in width/slide windows) per
    event_type → (window_start, event_type, n_events)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals — the BATCH twin of
    :func:`stateful_user_totals`: one groupBy, map-side partials.
    → (user_id, n_events, sum_value)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_TOTALS_OUT = "user_id long, n_events long, sum_value double"
_TOTALS_STATE = "n long, s double"


def _round2(s: float) -> float:
    """2-decimal HALF_UP rounding for the pandas emit paths — the same
    rule as Spark's ``F.round``, so a sum landing exactly on a
    half-cent boundary can't break the asserted stream == batch
    equality (Python's built-in ``round`` is banker's rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(s)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user totals accumulated
    across micro-batches, one updated row per user per trigger.
    State = (count, unrounded sum) per user — bounded by the user-id
    cardinality, partitioned by the group key, so at scale each
    executor holds only its keys' state.

    Runs on ``applyInPandasWithState``, which every Spark 4 session
    supports (the arbitrary-state v2 API, ``transformWithStateInPandas``,
    additionally needs the ``protobuf`` package and a RocksDB state
    store provider, and would give identical output).

    On the final trigger the emitted totals equal :func:`user_totals`
    on the same data seen as one batch — asserted in
    tests/test_streaming.py. Streaming frames only; batch callers use
    the twin."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_totals(key, pdfs, state):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [_round2(s)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        _TOTALS_OUT,
        _TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


_SESSION_OUT = "user_id long, session_start long, session_end long, n_events long, sum_value double"
_SESSION_STATE = "start long, last long, n long, s double"


def _session_rows(key, start, last, n, s):
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "session_start": [start],
            "session_end": [last],
            "n_events": [n],
            "sum_value": [_round2(s)],
        }
    )


def _fold_session_events(key, secs, values, state_tuple, gap_secs):
    """Session accumulator of :func:`session_timeout_summaries`: fold
    (sec, value) pairs (ascending sec) into the open-session tuple, yielding a
    summary frame for every session CLOSED by an in-batch gap; returns
    (frames, open_state)."""
    out = []
    start = last = n = None
    s = 0.0
    if state_tuple is not None:
        start, last, n, s = state_tuple
    for sec, value in zip(secs, values):
        if last is not None and sec - last >= gap_secs:
            out.append(_session_rows(key, start, last, n, s))
            start = last = n = None
            s = 0.0
        if last is None:
            start, n, s = sec, 0, 0.0
        last = sec
        n += 1
        s += float(value)
    return out, (start, last, n, s)


def session_timeout_summaries(
    events: DataFrame, gap_secs: int = 21600, watermark: str = "1 hour"
) -> DataFrame:
    """Inactivity-triggered session summaries — the TIMER-based custom
    stateful operator: a user's session summary (start, end, count,
    sum) is emitted when no event arrives for ``gap_secs`` — the
    abandoned-cart / session-expiry topology. Windowed aggregations
    cannot express "fire on absence"; this is exactly what the
    arbitrary-state APIs' timers exist for.

    Streaming path: per-user state (start, last, n, sum); sessions
    closed by an IN-BATCH gap emit immediately; the trailing open
    session emits when event time passes ``last + gap``. Runs on
    ``applyInPandasWithState`` with ``EventTimeTimeout``
    (``setTimeoutTimestamp(last + gap)`` — the v1 spelling of the v2
    API's registered event-time timer). State is one 4-tuple per ACTIVE
    user, pruned at every timeout — bounded by concurrently-active
    users, not stream length.

    Batch path (same function, the correctness oracle): gaps-and-
    islands sessionization — lag + cumulative break-sum per user, one
    aggregate per session. Events equal seconds apart merge (break
    iff gap ≥ ``gap_secs``, session end exclusive, matching e3's
    session_window convention). Sessions younger than
    watermark + gap at end-of-input have not yet emitted on the
    stream — the equivalence test compares below that frontier.
    → (user_id, session_start, session_end, n_events, sum_value);
    epoch seconds."""
    ev = events.select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "value", *(
            ["ts"] if events.isStreaming else []
        )
    )
    if not events.isStreaming:
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("sec")
        brk = (
            F.when(
                F.lag("sec").over(w).isNull()
                | ((F.col("sec") - F.lag("sec").over(w)) >= gap_secs),
                1,
            )
            .otherwise(0)
        )
        sess = (
            ev.withColumn("brk", brk)
            .withColumn(
                "sid",
                F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            )
        )
        return sess.groupBy("user_id", "sid").agg(
            F.min("sec").alias("session_start"),
            F.max("sec").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ).select("user_id", "session_start", "session_end", "n_events", "sum_value")

    ev = ev.withWatermark("ts", watermark)
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_sessions(key, pdfs, state):
        if state.hasTimedOut:
            start, last, n, s = state.get
            state.remove()
            yield _session_rows(key, start, last, n, s)
            return
        recs = []
        for pdf in pdfs:
            recs.extend(zip(pdf["sec"].tolist(), pdf["value"].tolist()))
        recs.sort()
        prev = state.get if state.exists else None
        out, open_state = _fold_session_events(
            key, [r[0] for r in recs], [r[1] for r in recs], prev, gap_secs
        )
        state.update(open_state)
        # the v1 timer: fire when the watermark passes last + gap
        state.setTimeoutTimestamp((open_state[1] + gap_secs) * 1000)
        yield from out

    return ev.groupBy("user_id").applyInPandasWithState(
        update_sessions,
        _SESSION_OUT,
        _SESSION_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def session_stats(events: DataFrame, gap: str = "6 hours") -> DataFrame:
    """Session window per user (gap-based merge) → (user_id,
    session_start, n_events, sum_value). A new session starts when the
    inter-event gap is ≥ ``gap`` (Spark's session end is exclusive)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events(events: DataFrame, bucket: str = "minute") -> DataFrame:
    """Streaming exact dedup on an idempotency key — the stream-side
    sibling of the t-family's batch dedup: collapse repeated
    (user_id, event_type) events inside one time ``bucket`` to a
    single row (at-least-once delivery → effectively-once analytics).

    Streaming path uses ``dropDuplicatesWithinWatermark``: the state
    store keeps one entry per key only until the watermark passes its
    bucket, so state is bounded by (keys active inside the watermark
    horizon), not by stream length. Batch twin is a plain distinct —
    identical result set, which is what the equivalence test and the
    DuckDB oracle check. Output carries only the key columns (the
    surviving payload row of a streaming dedup is arrival-order
    dependent; the key set is the deterministic contract).
    → (user_id, event_type, bucket_ts epoch-seconds)."""
    keyed = events.select(
        "user_id",
        "event_type",
        F.date_trunc(bucket, "ts").alias("bucket_start"),
        "ts",
    )
    if keyed.isStreaming:
        deduped = keyed.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "bucket_start"]
        )
    else:
        deduped = keyed.drop("ts").dropDuplicates()
    return deduped.select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.col("bucket_start")).alias("bucket_ts"),
    )


def click_purchase_join(events: DataFrame, horizon: str = "30 minutes") -> DataFrame:
    """Stream-stream interval join: every (click → purchase) pair by
    the same user with the purchase inside ``horizon`` after the click
    — the attribution-window topology. Both sides derive from the same
    events frame; on a stream each carries a watermark and the join
    condition bounds event time on both sides, so Spark can prune both
    state stores (the stream-stream inner-join contract). On batch the
    identical plan is an equi-join on user_id with a range filter —
    per-user matching only, never a cross product.
    → (user_id, click_id, purchase_id, click_sec, purchase_sec)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", "1 hour")
        purchases = purchases.withWatermark("purchase_ts", "1 hour")
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_timestamp(F.col("click_ts")).alias("click_sec"),
        F.unix_timestamp(F.col("purchase_ts")).alias("purchase_sec"),
    )


def click_purchase_outer_join(
    events: DataFrame, horizon: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution
    topology's other leg: every click, paired with each purchase by
    the same user inside ``horizon``, or with NULL purchase columns
    when none arrives (the "click with no purchase" row every funnel
    report needs).

    The hard part on a stream is the NULL emission: an unmatched
    click can only be declared unmatched once the watermark has
    passed ``click_ts + horizon`` — before that a matching purchase
    could still arrive. Spark's outer stream-stream join implements
    exactly that: both sides carry watermarks, the join condition
    bounds event time on both sides, and the null row is emitted by
    the micro-batch whose watermark crosses the horizon. Consequence
    (asserted in tests): clicks younger than watermark + horizon at
    end-of-input have not yet reported their NULL row — batch and
    stream agree on all clicks older than that frontier.

    On batch the identical plan is a plain left join with the range
    condition — per-user matching, never a cross product.
    → (user_id, click_id, purchase_id nullable, click_sec,
    purchase_sec nullable)."""
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", watermark)
        purchases = purchases.withWatermark("purchase_ts", watermark)
    joined = clicks.join(
        purchases,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_timestamp(F.col("click_ts")).alias("click_sec"),
        F.unix_timestamp(F.col("purchase_ts")).alias("purchase_sec"),
    )


def enriched_nation_counts(
    events: DataFrame, customers: DataFrame, width: str = "6 hours"
) -> DataFrame:
    """Stream-static enrichment: the event stream joins the (bounded,
    broadcast) customer dimension, then tumbling counts per nation —
    the standard "enrich the stream with a dim table" topology. On a
    streaming frame the static side is re-broadcast per micro-batch
    (Spark's stream-static join contract); state is the windowed agg
    only, watermark-bounded.
    → (window_start, nation_key, n_events, sum_value)."""
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), F.col("c_nationkey").alias("nation_key")
    )
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", width).alias("w"), "nation_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "nation_key",
            "n_events",
            "sum_value",
        )
    )


def hll_registers(events: DataFrame) -> DataFrame:
    """HyperLogLog register maintenance (p=8, 256 registers/group) —
    identical code on batch and ``readStream`` frames, like every
    operator in this module. As a streaming aggregation the state
    store holds at most groups × 256 rows no matter how long the
    stream runs — incremental distinct-counting with O(1) state,
    which is the whole point of the sketch at 100 TB. The register
    construction is the engine-portable md5 scheme (bucket = first
    hash byte, rank = leading-zero position of the next 32 bits)
    shared with the batch inventory query a9, whose DuckDB oracle
    hash-checks it. → (event_type, bucket, m)."""
    ev = events.filter(F.col("user_id").isNotNull())
    h = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    w = F.conv(F.substring(h, 3, 8), 16, 10).cast("long")
    rank = (
        F.when(w == 0, F.lit(33))
        .otherwise(F.instr(F.lpad(F.bin(w), 32, "0"), "1"))
        .cast("int")
    )
    return (
        ev.select("event_type", bucket.alias("bucket"), rank.alias("r"))
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("m"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Batch finisher over an ``hll_registers`` table (chained
    aggregations are illegal inside one streaming query, and the
    register table is the natural tiny handoff): harmonic-mean
    estimator with the standard linear-counting small-range branch.
    The 2^-m terms and their ≤256-term sum are exact in binary, so
    the estimate is partition-order independent; ln sits under
    round(·, 3). → (event_type, hll_users)."""
    est = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s"),
    )
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
    v = (F.lit(256) - F.col("nb")).cast("double")
    z = v + F.col("s")
    e_raw = alpha * F.lit(65536.0) / z
    e = F.when(
        (e_raw <= F.lit(640.0)) & (v > F.lit(0.0)),
        F.lit(256.0) * F.log(F.lit(256.0) / v),
    ).otherwise(e_raw)
    return est.select("event_type", F.round(e, 3).alias("hll_users"))


def histogram_registers(events: DataFrame, width: float = 60.0) -> DataFrame:
    """Fixed-grid histogram-quantile registers (the quantile sibling
    of :func:`hll_registers`, sharing util.histogram_quantile_sketch's
    scheme with batch query a11): per (event_type, bucket) running
    counts for ``bucket = floor(value / width)``. As a streaming
    aggregation the state is groups × occupied-buckets rows — bounded
    by the value range over the grid, independent of stream length —
    and the register table is ADDITIVE, so batch-built and
    stream-maintained registers merge by summing counts.
    → (event_type, bucket, c)."""
    ev = events.filter(F.col("value").isNotNull())
    bucket = F.floor(F.col("value") / F.lit(width))
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def histogram_estimate(
    regs: DataFrame, width: float = 60.0, qs: tuple[float, ...] = (0.5, 0.9)
) -> DataFrame:
    """Batch finisher over a :func:`histogram_registers` table (the
    same tiny-handoff shape as :func:`hll_estimate`): cumulative
    counts over the bucket table, then each quantile reads the lower
    edge of the bucket where the CDF reaches ceil(q·n). Deterministic
    integer/grid arithmetic end to end. → (event_type, n,
    q50, q90, ...)."""
    from pyspark.sql import Window as W

    w_cum = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = regs.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(W.partitionBy("event_type"))
    )
    aggs = [F.max("n").alias("n")]
    for q in qs:
        name = f"q{int(q * 100)}"
        aggs.append(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.ceil(F.lit(q) * F.col("n")),
                        F.col("bucket"),
                    )
                ).cast("double")
                * F.lit(width)
            ).alias(name)
        )
    return cum.groupBy("event_type").agg(*aggs)


def write_stream_parquet(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    query_name: str = "parquet_sink",
):
    """Checkpointed append-mode parquet sink — the durable end of a
    streaming pipeline. The checkpoint directory carries offsets +
    sink commit log, so a killed-and-restarted query resumes from the
    last committed micro-batch and the file sink's manifest hides any
    uncommitted output: end-to-end exactly-once for file sources →
    file sink (asserted by the kill/restart test in
    tests/test_streaming.py). availableNow trigger — drain what
    exists, then stop — the batch-backfill idiom that shares this one
    code path with continuous runs."""
    return (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
