"""Streaming-window inventory — e* entries over ``events``.

The window functions (lp_etl_plugins_spark.streaming) run unchanged on
batch and streaming frames; here the batch plan is hash-checked against
a DuckDB reconstruction (epoch bucketing / gaps-and-islands), and
tests/test_streaming.py drives the SAME functions through readStream
and asserts batch equivalence — together: windows are correct AND the
streaming path computes the batch answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    click_purchase_join,
    click_purchase_outer_join,
    dedup_events,
    enriched_nation_counts,
    hll_estimate,
    hll_registers,
    session_stats,
    sliding_counts,
    tumbling_counts,
    user_totals,
)
from ..tables import load_table, wall_timestamp


def e1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


E1_SQL = """
SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def e2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load_table(spark, sf_dir, "events"))


E2_SQL = """
SELECT ws AS window_start, event_type, count(*) AS n_events
FROM (
  SELECT event_type,
         unnest([
           (floor(epoch(ts) / 1800) * 1800)::BIGINT,
           (floor(epoch(ts) / 1800) * 1800)::BIGINT - 1800
         ]) AS ws
  FROM events
) t
GROUP BY ws, event_type
"""


def e3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(load_table(spark, sf_dir, "events"))


# gaps-and-islands: a new session starts when the inter-event gap is
# >= 6h (Spark's session end = last event + gap, exclusive)
E3_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 6 HOUR
         THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
  ) AS session_id
  FROM o
)
SELECT user_id,
       floor(epoch(min(ts)))::BIGINT AS session_start,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s
GROUP BY user_id, session_id
"""


def e4_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the custom stateful operator
    (streaming.stateful_user_totals on applyInPandasWithState); the
    cross-micro-batch state behavior is asserted against this in
    tests/test_streaming.py."""
    return user_totals(load_table(spark, sf_dir, "events"))


E4_SQL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id
"""


def e5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the watermarked streaming dedup
    (streaming.dedup_events / dropDuplicatesWithinWatermark); the
    stream==batch contract is asserted in tests/test_streaming.py.
    Summarized per event_type so the result is compact and stable."""
    keys = dedup_events(load_table(spark, sf_dir, "events"))
    return keys.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_keys"))


E5_SQL = """
SELECT event_type, count(*) AS n_unique_keys
FROM (
  SELECT DISTINCT user_id, event_type, epoch(date_trunc('minute', ts))::BIGINT AS bucket_ts
  FROM events
) k
GROUP BY event_type
"""


def e6_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join
    (streaming.enriched_nation_counts); the stream==batch contract is
    asserted in tests/test_streaming.py."""
    return enriched_nation_counts(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


E6_SQL = """
SELECT (floor(epoch(ts) / 21600) * 21600)::BIGINT AS window_start,
       c.c_nationkey AS nation_key,
       count(*) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def e7_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join
    (streaming.click_purchase_join): click→purchase attribution pairs
    within a 30-minute horizon; the stream==batch contract is asserted
    in tests/test_streaming.py."""
    return click_purchase_join(load_table(spark, sf_dir, "events"))


E7_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       floor(epoch(c.ts))::BIGINT AS click_sec,
       floor(epoch(p.ts))::BIGINT AS purchase_sec
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (a temporal operator the reference lacks, built the
    distributed way): enrich every event with the user's most recent
    order at-or-before the event instant; same-day ties break to the
    highest order key. Events with no prior order keep NULL order
    columns.

    Built on util.asof_join (union-tag-sort carry-forward, the
    shuffle-minimal as-of plan: one shuffle of |events| + |orders| on
    the key, one per-key ordered window, no per-event subquery or
    range-join blow-up — edge cases unit-tested in
    tests/test_temporal.py). Time is compared in tz-free epoch seconds
    (date arithmetic for orders, unix_timestamp for events).
    → (event_id, user_id, event_sec, order_key, order_price)."""
    from ..util import asof_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("event_sec")
    )
    orders = load_table(spark, sf_dir, "orders")
    orders = orders.select(
        F.col("o_custkey").alias("user_id"),
        # datediff casts an LTZ timestamp to date through the session
        # zone; the wall-time view keeps order_sec tz-independent
        (F.datediff(
            F.to_date(wall_timestamp(orders, "o_orderdate")),
            F.lit("1970-01-01").cast("date"),
        ).cast("long") * 86400).alias("order_sec"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("order_price"),
    )
    return asof_join(
        events,
        orders,
        key="user_id",
        left_time="event_sec",
        right_time="order_sec",
        payload=["order_key", "order_price"],
        tiebreak="order_key",
    ).select("event_id", "user_id", "event_sec", "order_key", "order_price")


J10_SQL = """
SELECT event_id, user_id, event_sec, order_key, order_price FROM (
  SELECT e.event_id, e.user_id, floor(epoch(e.ts))::BIGINT AS event_sec,
         o.o_orderkey AS order_key, o.o_totalprice AS order_price,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
         ) AS rn
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id
   AND epoch(o.o_orderdate)::BIGINT <= epoch(e.ts)
) WHERE rn = 1
"""


def e8_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension enrichment — the composition every warehouse
    pipeline runs: look up the SCD2 dimension version (j11's
    type-regime intervals) valid at each event's instant. Because
    consecutive versions partition the timeline, the interval
    containment lookup collapses to an AS-OF join on valid_from
    (util.asof_join: one shuffle of |events| + |versions| on the key,
    one ordered window — no range-join pair blow-up), reusing the j10
    plan against the j11 build. The oracle recomputes it as an
    explicit interval-containment join.
    → (event_id, user_id, event_sec, regime_type, version)."""
    from ..util import asof_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_timestamp("ts").alias("event_sec")
    )
    from .relational import j11_scd2_intervals

    intervals = j11_scd2_intervals(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("regime_type"),
        "valid_from",
        "version",
    )
    return asof_join(
        events,
        intervals,
        key="user_id",
        left_time="event_sec",
        right_time="valid_from",
        payload=["regime_type", "version"],
        tiebreak="version",
    ).select("event_id", "user_id", "event_sec", "regime_type", "version")


E8_SQL = """
WITH base AS (
  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS t, event_id
  FROM events
),
o AS (
  SELECT user_id, event_type, t, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_type
  FROM base
),
changed AS (
  SELECT user_id, event_type, t, event_id
  FROM o WHERE prev_type IS NULL OR prev_type != event_type
),
intervals AS (
  SELECT user_id, event_type AS regime_type, t AS valid_from,
         lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS version
  FROM changed
)
-- LEFT join (like J10_SQL): the Spark side's asof_join keeps every
-- event — a NULL-user event or one predating its user's first
-- interval gets NULL payload, it is not dropped
SELECT e.event_id, e.user_id, floor(epoch(e.ts))::BIGINT AS event_sec,
       i.regime_type, i.version
FROM events e
LEFT JOIN intervals i
  ON i.user_id = e.user_id
 AND floor(epoch(e.ts))::BIGINT >= i.valid_from
 AND (i.valid_to IS NULL OR floor(epoch(e.ts))::BIGINT < i.valid_to)
"""


def e9_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click-after-view →
    purchase-after-click): per user, the first view, the first click
    STRICTLY after it, and the first purchase strictly after that —
    sequential pattern matching, the product-analytics staple. Each
    stage is one filtered aggregate joined back on user_id (three
    user_id-partitioned shuffles, no window over full event
    history); comparisons are on epoch seconds so both engines order
    identically. → one row of per-stage user counts."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_click_after_view"),
            F.count("t_purchase").alias("n_purchase_after_click"),
        )
    )


E9_SQL = """
WITH ev AS (
  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS t FROM events
),
v AS (
  SELECT user_id, min(t) AS t_view FROM ev
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.t) AS t_click
  FROM ev e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.t > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.t) AS t_purchase
  FROM ev e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.t > c.t_click
  GROUP BY e.user_id
)
SELECT count(v.t_view)::BIGINT AS n_view,
       count(c.t_click)::BIGINT AS n_click_after_view,
       count(p.t_purchase)::BIGINT AS n_purchase_after_click
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
"""


def a9_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (p=8, 256 registers) distinct-user
    estimate per event type, next to the exact count — the sketch an
    engine needs when exact count-distinct's shuffle is the bottleneck
    at 100 TB. Unlike native HLL implementations (whose hash/encoding
    differ per engine, so no oracle could ever match), every stage here
    is an engine-portable expression: md5 → bucket = first byte, w =
    next 32 hash bits, rank = leading-zero position via
    lpad(bin(w),32) instr — so Spark and DuckDB build bit-identical
    registers. The estimator's 2^-M terms and their ≤256-term sum are
    exact in binary (exponent span 33 < 52 mantissa bits), so Z is
    order-independent and the final alpha·m²/Z division is the same
    IEEE double in both engines. The standard small-range correction
    (E ≤ 2.5m and empty registers → linear counting m·ln(m/V)) is
    included: its branch condition compares bit-identical doubles, and
    the one transcendental (ln) sits under round(·, 3) — the same
    libm-under-rounding discipline t25's log2 PMI already relies on.
    Plan shape: one partial-aggregating groupBy(type, bucket) — 256
    registers/group — then a 256-row groupBy(type): strictly cheaper
    than exact distinct's full-width user_id shuffle. The register
    stage (streaming.hll_registers) is the SAME code the streaming
    path runs incrementally — tests/test_streaming.py asserts
    readStream register maintenance equals this batch plan."""
    ev = load_table(spark, sf_dir, "events")
    hll = hll_estimate(hll_registers(ev))
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return exact.join(hll, "event_type")


A9_SQL = """
WITH ev AS (
  SELECT event_type, user_id, md5(user_id::VARCHAR) AS hx
  FROM events WHERE user_id IS NOT NULL
),
br AS (
  SELECT event_type,
         ('0x' || substring(hx, 1, 2))::INT AS bucket,
         ('0x' || substring(hx, 3, 8))::BIGINT AS w
  FROM ev
),
rk AS (
  SELECT event_type, bucket,
         CASE WHEN w = 0 THEN 33
              ELSE strpos(lpad(bin(w), 32, '0'), '1') END AS r
  FROM br
),
regs AS (SELECT event_type, bucket, max(r) AS m FROM rk GROUP BY event_type, bucket),
est AS (
  SELECT event_type, count(*) AS nb, sum(pow(2.0, -m)) AS s
  FROM regs GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_users
  FROM ev GROUP BY event_type
),
raw AS (
  SELECT event_type, (256 - nb)::DOUBLE AS v,
         (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
           / ((256 - nb)::DOUBLE + s) AS e_raw
  FROM est
)
SELECT e.event_type, e.exact_users,
       round(CASE WHEN e_raw <= 640.0 AND v > 0.0
                  THEN 256.0 * ln(256.0 / v)
                  ELSE e_raw END, 3) AS hll_users
FROM exact e JOIN raw USING (event_type)
"""


def e10_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream LEFT OUTER interval join
    (streaming.click_purchase_outer_join): attribution pairs within a
    30-minute horizon PLUS one NULL-purchase row per unattributed
    click — the funnel's drop-off leg. The watermark-bounded null
    emission on the streaming path is asserted against this plan in
    tests/test_streaming.py."""
    return click_purchase_outer_join(load_table(spark, sf_dir, "events"))


E10_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       floor(epoch(c.ts))::BIGINT AS click_sec,
       floor(epoch(p.ts))::BIGINT AS purchase_sec
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click'
"""


def w2_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order revenue — the time-series
    smoothing window every ops dashboard runs. Two stages: the daily
    aggregate (a map-side-partial groupBy over the full fact table —
    this is where corpus scale lives) reduces to one row per day, and
    the moving window then runs over the BOUNDED daily series (a few
    thousand rows at any corpus size), so the unpartitioned ordered
    window is not a scale hazard. Determinism: daily revenue is exact
    on the 0.01 grid → summed as BIGINT cents inside the frame, one
    divide, round 6 (the t13 discipline).
    → (day, revenue, ma7)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    day = F.to_date(wall_timestamp(orders, "o_orderdate"))
    daily = orders.groupBy(day.alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    cents = F.round(F.col("revenue") * 100).cast("bigint")
    w = W.orderBy("day").rowsBetween(-6, 0)
    with_c = daily.withColumn("c", cents)
    return (
        with_c.withColumn("s7", F.sum("c").over(w))
        .withColumn("k7", F.count(F.lit(1)).over(w))
        .select(
            F.col("day").cast("string").alias("day"),
            "revenue",
            F.round(
                F.col("s7").cast("double") / (F.col("k7") * F.lit(100.0)), 6
            ).alias("ma7"),
        )
    )


W2_SQL = """
WITH daily AS (
  SELECT o_orderdate::DATE AS day, round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
),
c AS (SELECT *, round(revenue * 100)::BIGINT AS cents FROM daily)
SELECT day::VARCHAR AS day, revenue,
       round(sum(cents) OVER w::DOUBLE
             / (count(*) OVER w * 100.0), 6) AS ma7
FROM c
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def a10_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p50/p90 of order value per
    priority) — the latency/size-distribution summary an approximate
    sketch can't hash-check. Discrete semantics (the element at rank
    ceil(q·n), DuckDB's quantile_disc) computed with a per-group
    ordered window: ranking only ever orders by the VALUE, so ties
    cannot move the picked element. Per-group state is the group's
    row count; the window partitions by the group key — no global
    sort. → (priority, n_orders, p50_price, p90_price)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("priority").orderBy("o_totalprice")
    ranked = orders.select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice"
    ).withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(W.partitionBy("priority"))
    )
    pick = lambda q: F.max(
        F.when(F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("o_totalprice"))
    )
    return ranked.groupBy("priority").agg(
        F.max("n").alias("n_orders"),
        pick(0.5).alias("p50_price"),
        pick(0.9).alias("p90_price"),
    )


A10_SQL = """
SELECT o_orderpriority AS priority, count(*)::BIGINT AS n_orders,
       quantile_disc(o_totalprice, 0.5) AS p50_price,
       quantile_disc(o_totalprice, 0.9) AS p90_price
FROM orders GROUP BY o_orderpriority
"""


def a11_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile SKETCH (util.histogram_quantile_
    sketch) over the same distribution a10 measures exactly — the
    engine-portable alternative to approx_percentile: the sketch is an
    additive bucket-count table (mergeable across partitions, corpus
    deltas, and stream micro-batches like a9's HLL registers), the
    estimate is the lower edge of the bucket where the CDF crosses
    ceil(q*n), and the error bound is the bucket width (1000 here) by
    construction. Deterministic in BOTH engines, so unlike a GK/KLL
    sketch it hash-checks. -> (priority, n_orders, h50_price,
    h90_price)."""
    from ..util import histogram_quantile_sketch

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_totalprice"
    )
    return histogram_quantile_sketch(
        orders, "o_totalprice", ["priority"],
        1000.0, {"h50_price": 0.5, "h90_price": 0.9},
    ).withColumnRenamed("n", "n_orders")


A11_SQL = """
WITH counts AS (
  SELECT o_orderpriority AS priority, floor(o_totalprice / 1000.0) AS b,
         count(*) AS c
  FROM orders GROUP BY priority, b
),
cum AS (
  SELECT priority, b, c,
         sum(c) OVER (PARTITION BY priority ORDER BY b ROWS UNBOUNDED PRECEDING) AS cm,
         sum(c) OVER (PARTITION BY priority) AS n
  FROM counts
)
SELECT priority, max(n)::BIGINT AS n_orders,
       (min(CASE WHEN cm >= ceil(0.5 * n) THEN b END) * 1000.0) AS h50_price,
       (min(CASE WHEN cm >= ceil(0.9 * n) THEN b END) * 1000.0) AS h90_price
FROM cum GROUP BY priority
"""


def e11_bucketed_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal range join DISTRIBUTED THE RIGHT WAY: pairs of
    DIFFERENT-type events by the same user within 30 minutes of each
    other (the co-occurrence signal behind session stitching and
    attribution features). A naive range join degenerates to per-key
    cross products over the user's full history; here the left side
    explodes into its 3 covering hour-buckets, the right side carries
    its single hour-bucket, and the join is a plain
    (user, bucket) equi-join followed by the exact |Δt| ≤ 1800 s
    filter — candidate volume is bounded by bucket co-occupancy
    (watermark-horizon-sized), never by history length, and AQE can
    re-plan/split the equi-join like any other. Each true pair
    matches exactly once (the right event's bucket is unique; the
    type_a < type_b canonicalization keeps one triangle).
    → per (type_a, type_b) pair counts."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
    )
    hour_a = (F.col("sec_a") / 3600).cast("long")
    a = base.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("event_type").alias("type_a"),
        F.col("sec").alias("sec_a"),
    ).withColumn("bucket", F.explode(F.array(hour_a - 1, hour_a, hour_a + 1)))
    b = base.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("event_type").alias("type_b"),
        F.col("sec").alias("sec_b"),
        (F.col("sec") / 3600).cast("long").alias("bucket"),
    )
    pairs = a.join(b, ["user_id", "bucket"]).filter(
        (F.col("type_a") < F.col("type_b"))
        & (F.abs(F.col("sec_a") - F.col("sec_b")) <= 1800)
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
    )


E11_SQL = """
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*)::BIGINT AS n_pairs,
       count(DISTINCT a.user_id)::BIGINT AS n_users
FROM events a
JOIN events b
  ON b.user_id = a.user_id
 AND a.event_type < b.event_type
 AND abs(floor(epoch(a.ts)) - floor(epoch(b.ts))) <= 1800
GROUP BY a.event_type, b.event_type
"""


def e12_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix — the product-analytics staple:
    users are grouped by their FIRST active epoch-week (the cohort),
    and each (cohort_week, week_offset) cell counts how many of them
    were active that many weeks later. Offset 0 is the cohort size;
    reading a row left-to-right is that cohort's retention curve.

    Plan: one distinct on (user, week) — activity collapses to at
    most |users|×|weeks| rows before anything else — one map-side-
    partial min per user for the cohort, one equi-join back on
    user_id, one small final aggregate; count(*) over the unique
    (user, week) rows IS the distinct-user count, so no countDistinct
    state. Weeks are floor(epoch/604800) in both engines.
    → (cohort_week, week_offset, n_users)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp("ts") / 604800).cast("bigint")
    activity = ev.select("user_id", wk.alias("week")).distinct()
    cohort = activity.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


E12_SQL = """
WITH activity AS (
  SELECT DISTINCT user_id, floor(epoch(ts) / 604800)::BIGINT AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY user_id
)
SELECT c.cohort_week, (a.week - c.cohort_week)::BIGINT AS week_offset,
       count(*)::BIGINT AS n_users
FROM activity a JOIN cohort c ON c.user_id = a.user_id
GROUP BY 1, 2
"""


def e13_session_timeout_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the TIMER-based stateful operator
    (streaming.session_timeout_summaries on applyInPandasWithState
    with EventTimeTimeout): a user's session summary is emitted
    when no event arrives for 6 h. Batch form is gaps-and-islands on
    FLOORED epoch seconds (both engines; break iff gap ≥ 21600,
    session end exclusive — e3's convention), so the stream, the
    batch plan, and the oracle agree row-for-row. Beyond e3 it also
    reports session_end — the quantity the timer actually fires on.
    → (user_id, session_start, session_end, n_events, sum_value)."""
    from ..streaming import session_timeout_summaries

    return session_timeout_summaries(load_table(spark, sf_dir, "events"))


E13_SQL = """
WITH e AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS sec, value FROM events
),
m AS (
  SELECT user_id, sec, value,
    CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec) IS NULL
           OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) >= 21600
         THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (
  SELECT *, sum(brk) OVER (
    PARTITION BY user_id ORDER BY sec ROWS UNBOUNDED PRECEDING
  ) AS sid
  FROM m
)
SELECT user_id,
       min(sec) AS session_start,
       max(sec) AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid
"""


QUERIES = {
    "e1_tumbling_window": e1_tumbling_window,
    "e2_sliding_window": e2_sliding_window,
    "e3_session_window": e3_session_window,
    "e4_user_totals": e4_user_totals,
    "e5_stream_dedup": e5_stream_dedup,
    "e6_stream_enrich": e6_stream_enrich,
    "e7_interval_join": e7_interval_join,
    "j10_asof_join": j10_asof_join,
    "e8_scd2_enrich": e8_scd2_enrich,
    "e9_funnel_steps": e9_funnel_steps,
    "e10_outer_interval_join": e10_outer_interval_join,
    "e11_bucketed_range_join": e11_bucketed_range_join,
    "w2_moving_avg": w2_moving_avg,
    "a10_percentiles": a10_percentiles,
    "a11_histogram_quantiles": a11_histogram_quantiles,
    "a9_hll_distinct": a9_hll_distinct,
    "e12_retention_cohorts": e12_retention_cohorts,
    "e13_session_timeout_summaries": e13_session_timeout_summaries,
}

ORACLES = {
    "e1_tumbling_window": E1_SQL,
    "e2_sliding_window": E2_SQL,
    "e3_session_window": E3_SQL,
    "e4_user_totals": E4_SQL,
    "e5_stream_dedup": E5_SQL,
    "e6_stream_enrich": E6_SQL,
    "e7_interval_join": E7_SQL,
    "j10_asof_join": J10_SQL,
    "e8_scd2_enrich": E8_SQL,
    "e9_funnel_steps": E9_SQL,
    "e10_outer_interval_join": E10_SQL,
    "e11_bucketed_range_join": E11_SQL,
    "w2_moving_avg": W2_SQL,
    "a10_percentiles": A10_SQL,
    "a11_histogram_quantiles": A11_SQL,
    "a9_hll_distinct": A9_SQL,
    "e12_retention_cohorts": E12_SQL,
    "e13_session_timeout_summaries": E13_SQL,
}
