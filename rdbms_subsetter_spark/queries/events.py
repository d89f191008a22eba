"""Event-stream and time-series analytics over ``events`` and their
Structured Streaming twins: tumbling and sliding windows, sessions,
as-of joins, funnels, retention and cohorts, attribution, anomaly and
changepoint scans, interpolation, gap filling and downsampling,
CDC/SCD2 and incremental aggregate maintenance.

Every ``streaming_*`` entry is a bounded replay (the stream sources and
stateful building blocks of ``streaming.events``) whose final sink
equals a batch query, so each one is hash-checked against a DuckDB
oracle like any batch entry.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rdbms_subsetter_spark.catalog import Catalog
from rdbms_subsetter_spark.operators import joins, text as text_ops
from rdbms_subsetter_spark.queries import register
from rdbms_subsetter_spark.queries.text import _RAW_TOKS
from rdbms_subsetter_spark.session import conf_window, stable_suffix
from rdbms_subsetter_spark.streaming.events import (
    documents_stream,
    events_stream,
    hourly_agg,
    run_stream_to_memory,
    session_windows,
    sliding_agg,
    stateful_user_totals,
    stateful_user_totals_v2,
    transform_with_state_available,
)


@register("events_hourly", oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, batch form (streaming twin below)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register("sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY user_id, session_id
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via lag + cumsum."""
    cat = Catalog(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    starts = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    sess = (
        cat["events"]
        .select("user_id", "ts", "event_id", starts.alias("is_start"))
        .withColumn("session_id", F.sum("is_start").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register("streaming_hourly", oracle="""
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")
def q_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of q_events_hourly: replay events,
    watermark, tumbling hourly agg, memory sink.

    Complete mode on purpose: with ``outputMode("append")`` the final
    (still-open) windows are withheld pending watermark advance, so a
    bounded replay would be missing the tail hours; complete mode emits
    every window, which makes the result EQUAL to the batch hourly
    aggregate — and therefore hash-checked against the same DuckDB
    oracle.  Append-mode watermark eviction semantics are covered
    separately in tests/test_streaming.py.
    """
    out = run_stream_to_memory(
        spark,
        hourly_agg(events_stream(spark, sf_dir)),
        name="stream_hourly_counts",
        output_mode="complete",
        # hours x event_types of window state: 2 partitions (measured
        # 1.8 -> 1.3 s; the python-stateful entries keep 8 for worker
        # parallelism)
        state_partitions=2,
    )
    return out.orderBy("hour_start", "event_type")


@register("asof_join_latest_order", oracle="""
SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC NULLS LAST,
                                     o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
""")
def q_asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive backward as-of: each event gets its user's most recent
    order at-or-before the event (ties broken by highest o_orderkey)."""
    cat = Catalog(spark, sf_dir)
    left = cat["events"].select("event_id", "user_id", "ts")
    return joins.asof_join(
        left,
        cat["orders"],
        on=[("user_id", "o_custkey")],
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )


@register("asof_join_prev_event", oracle="""
SELECT event_id, user_id, ts, prev_event_id, prev_value FROM (
  SELECT e.event_id, e.user_id, e.ts,
         p.event_id AS prev_event_id, round(p.value, 2) AS prev_value,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY p.ts DESC NULLS LAST,
                                     p.event_id DESC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN events p ON e.user_id = p.user_id AND p.ts < e.ts
) WHERE rn = 1
""")
def q_asof_join_prev_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict backward self-as-of: each event gets the user's previous
    event (true temporal interleaving within the key)."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select(
        "user_id",
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("prev_event_id"),
        F.round(F.col("value"), 2).alias("prev_value"),
    )
    return joins.asof_join(
        left,
        right,
        on=[("user_id", "user_id")],
        left_ts="ts",
        right_ts="r_ts",
        payload=["prev_event_id", "prev_value"],
        tiebreak="prev_event_id",
        strict=True,
    )


@register("events_sliding", oracle="""
SELECT ws AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' * k AS ws,
             event_type, value
      FROM events, unnest([0, 1]) AS t(k))
GROUP BY ws, event_type
""")
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding windows (1h window, 30min slide): each event
    lands in exactly two windows (Expand ×2, one shuffle)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat["events"]
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@register("streaming_sliding", oracle="""
SELECT ws AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' * k AS ws,
             event_type, value
      FROM events, unnest([0, 1]) AS t(k))
GROUP BY ws, event_type
""")
def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of q_events_sliding — complete mode
    (same reasoning as q_streaming_hourly), so the bounded replay equals
    the batch sliding aggregate and shares its DuckDB oracle."""
    out = run_stream_to_memory(
        spark,
        sliding_agg(events_stream(spark, sf_dir)),
        name="stream_sliding_counts",
        output_mode="complete",
        state_partitions=2,  # sliding-window state (measured 1.5 -> 1.3 s)
    )
    return out.orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# streaming: sessions + custom stateful operator
# ---------------------------------------------------------------------------


@register("streaming_sessions", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS n_events
FROM sessions GROUP BY user_id, sid
""")
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end native session windows over the replayed event stream.

    Complete mode on purpose (same reasoning as q_streaming_hourly):
    append mode withholds sessions whose gap the watermark has not yet
    passed, so a bounded replay would lose the tail; complete mode emits
    every session, making the result equal to the batch gaps-and-islands
    sessionization (session_end = last event + gap) — DuckDB-checkable.
    Append-mode emission semantics stay covered in test_streaming.py."""
    out = run_stream_to_memory(
        spark,
        session_windows(events_stream(spark, sf_dir)),
        name="stream_session_counts",
        output_mode="complete",
    )
    return out.orderBy("session_start", "user_id")


@register("streaming_stateful_totals", oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY user_id
""")
def q_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end custom stateful operator run (applyInPandasWithState):
    final running totals per user after the bounded replay (update mode
    → keep each user's last emission), which equal the batch aggregate,
    so this streaming query IS DuckDB-checkable."""
    # State partitions sized to the session's cores (r12, VERDICT r11
    # task 7): the batch cost here is python per-GROUP work inside
    # applyInPandasWithState, which parallelizes across partitions,
    # while each partition adds fixed store open/commit overhead.
    # Measured min-of-3 at sf0.1: 32 cores — 8 parts 1.73 s, 16 parts
    # 1.49 s, 32 parts 1.60 s; 8 cores — 4 parts 2.50 s, 8 parts
    # 1.81 s, 16 parts 2.12 s.  cores/2 (floor 8, cap 64) picks the
    # winner at both; results are partitioning-independent.
    par = spark.sparkContext.defaultParallelism
    out = run_stream_to_memory(
        spark,
        stateful_user_totals(events_stream(spark, sf_dir)),
        name="stream_stateful_totals",
        output_mode="update",
        state_partitions=max(8, min(64, par // 2)),
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("sum_value").alias("sum_value"),
    )


@register("events_rollup_daily", oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")
def q_events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable pattern): daily
    aggregates computed FROM the hourly aggregates, not from raw events.

    At 100 TB the hourly layer is the materialized continuous aggregate;
    every coarser resolution (day/week/month) is a cheap second-level
    rollup over it — count→sum(count), sum→sum(sum).  The oracle
    aggregates raw events directly, proving the two-level reassociation
    is exact."""
    cat = Catalog(spark, sf_dir)
    hourly = (
        cat["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour_ts")).alias("day_ts"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("v"), 2).alias("sum_value"),
        )
    )


@register("events_gapfill", oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         count(*) AS n, sum(value) AS v
  FROM events GROUP BY 1, 2),
bounds AS (SELECT event_type, min(hour_ts) AS lo, max(hour_ts) AS hi
           FROM hourly GROUP BY 1),
spine AS (SELECT event_type,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
          FROM bounds)
SELECT s.event_type,
       CAST(s.hour_ts AS TIMESTAMP) AS hour_ts,
       coalesce(h.n, 0) AS n_events,
       round(last_value(h.v IGNORE NULLS) OVER
             (PARTITION BY s.event_type ORDER BY s.hour_ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS v_filled
FROM spine s LEFT JOIN hourly h
  ON s.event_type = h.event_type AND s.hour_ts = h.hour_ts
""")
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-filling: per-type hourly spine (sequence +
    explode), left join the hourly aggregates, forward-fill the value
    with last_value(ignoreNulls) — the interpolation operator Spark
    has no builtin for, composed from three primitives.

    At scale the spine is generated, never materialized from data, and
    the forward-fill window shuffles once on the series key."""
    cat = Catalog(spark, sf_dir)
    hourly = (
        cat["events"]
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour_ts"
            ),
        )
    )
    joined = spine.join(hourly, on=["event_type", "hour_ts"], how="left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_ts",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.round(F.last_value("v", ignoreNulls=True).over(w), 2).alias("v_filled"),
    )


# ---------------------------------------------------------------------------
# streaming: dedup
# ---------------------------------------------------------------------------


@register("streaming_dedup_keys", oracle="""
SELECT DISTINCT user_id, event_type FROM events
""")
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: distinct (user_id, event_type) pairs via
    ``dropDuplicates`` on the replayed stream (append mode — each key is
    emitted exactly once, on first sight).

    After a bounded replay the emitted set equals batch
    ``SELECT DISTINCT``, so this streaming query is DuckDB-checkable.
    At scale the state store grows with key cardinality; for unbounded
    key spaces the production form is ``dropDuplicatesWithinWatermark``
    (q_streaming_dedup_ttl).
    """
    keys = events_stream(spark, sf_dir).select("user_id", "event_type")
    out = run_stream_to_memory(
        spark,
        keys.dropDuplicates(["user_id", "event_type"]),
        name="stream_dedup_keys",
        output_mode="append",
        state_partitions=2,  # key-pair state only (measured 1.0 -> 0.6 s)
    )
    return out


@register("streaming_static_join", oracle="""
SELECT c_mktsegment,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""")
def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the static
    customer dimension (no watermark needed — the static side is simply
    looked up per micro-batch, broadcast by AQE), then aggregated per
    market segment in complete mode.

    The canonical streaming-enrichment shape at scale: the dimension is
    re-resolved every batch, so slowly-changing dims are picked up
    without restarts.  Bounded replay ≡ the batch join+agg → oracle.
    """
    ev = events_stream(spark, sf_dir)
    cust = Catalog(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
    agg = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return run_stream_to_memory(
        spark, agg, name="stream_static_join", output_mode="complete"
    )


@register("streaming_foreachbatch", oracle="""
SELECT event_type,
       count(*) AS n_events,
       round(sum(round(value, 2)), 2) AS sum_value,
       min(event_id) AS min_event,
       max(event_id) AS max_event
FROM events WHERE value > 50.0
GROUP BY event_type
""")
def q_streaming_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch is written to a parquet
    directory through the batch writer API — the pattern for sinks
    Structured Streaming has no native writer for (JDBC, MERGE
    targets...).  batchId is the idempotence key: reprocessed batches
    overwrite their own subdirectory instead of double-appending
    (exactly-once on top of at-least-once delivery).

    The sink is read back and aggregated; bounded replay → the sink
    holds exactly the filtered stream → DuckDB-checkable.
    """
    out_dir = os.path.join(
        tempfile.gettempdir(), f"rss_febatch_{stable_suffix(sf_dir)}"
    )
    shutil.rmtree(out_dir, ignore_errors=True)

    ev = events_stream(spark, sf_dir).filter(F.col("value") > 50.0).select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    q = ev.writeStream.foreachBatch(write_batch).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    sunk = spark.read.option("basePath", out_dir).parquet(f"{out_dir}/batch_id=*")
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
    )


@register("events_funnel", oracle="""
WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
      WHERE e.event_type = 'click' GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT CASE WHEN t2 IS NOT NULL THEN 3
            WHEN t1 IS NOT NULL THEN 2
            ELSE 1 END AS funnel_stage,
       count(*) AS n_users
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
GROUP BY 1
""")
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): stage k counts
    users whose first click follows their first view, and whose first
    purchase follows that click.  Three aggregates all keyed on user_id
    — co-partitioned, so the two enrichment joins reuse the same hash
    partitioning (no extra shuffle of the big side at scale)."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        v.join(c, on="user_id", how="left")
        .join(p, on="user_id", how="left")
        .select(
            F.when(F.col("t2").isNotNull(), F.lit(3))
            .when(F.col("t1").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("funnel_stage")
        )
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register("events_retention", oracle="""
WITH first AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
               FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
SELECT cohort_day,
       date_diff('day', cohort_day, day) AS day_offset,
       count(DISTINCT user_id) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY 1, 2
""")
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, distinct
    active users per (cohort_day, day_offset).  First-touch agg + one
    co-keyed join + distinct-agg — the standard product-analytics rollup,
    all on the user_id partitioning."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("user_id", "ts")
    first = ev.groupBy("user_id").agg(F.to_date(F.min("ts")).alias("cohort_day"))
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(first, on="user_id")
        .select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# streaming: stream-stream join
# ---------------------------------------------------------------------------


@register("streaming_stream_join", oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""")
def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each click joined
    to the same user's purchases within the following hour.  Both sides
    carry watermarks and the join condition bounds event time in BOTH
    directions — that pair is what lets Spark expire join state; without
    it state grows forever.

    Append-mode inner joins emit every match (the watermark governs
    state cleanup, not emission), so a bounded replay emits exactly the
    batch interval join → DuckDB-checkable.  At scale both sides shuffle
    on user_id once and matching is per-partition; state per key is
    bounded by the 1h window × arrival rate.
    """
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ts >= click_ts AND "
            "purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    return run_stream_to_memory(
        spark, joined, name="stream_stream_join", output_mode="append"
    )


_SQL_EVENTS_INTERPOLATE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_ts,
         max(value) AS v, count(*) AS n
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type,
         unnest(generate_series(min(hour_ts), max(hour_ts),
                                INTERVAL 1 HOUR)) AS hour_ts
  FROM hourly GROUP BY event_type
), g AS (
  SELECT s.event_type, s.hour_ts, h.v, h.n,
    last_value(h.v IGNORE NULLS) OVER past AS pv,
    first_value(h.v IGNORE NULLS) OVER future AS nv,
    last_value(CASE WHEN h.v IS NOT NULL THEN s.hour_ts END IGNORE NULLS)
      OVER past AS pt,
    first_value(CASE WHEN h.v IS NOT NULL THEN s.hour_ts END IGNORE NULLS)
      OVER future AS nt
  FROM spine s LEFT JOIN hourly h
    ON s.event_type = h.event_type AND s.hour_ts = h.hour_ts
  WINDOW
    past AS (PARTITION BY s.event_type ORDER BY s.hour_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    future AS (PARTITION BY s.event_type ORDER BY s.hour_ts
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour_ts, coalesce(n, 0) AS n_events,
       (v IS NULL) AS was_gap,
       CAST(floor(CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv)
              * (epoch(hour_ts) - epoch(pt)) / (epoch(nt) - epoch(pt))
       END * 10000) AS BIGINT) AS v_interp_e4
FROM g
"""


@register("events_interpolate", oracle=_SQL_EVENTS_INTERPOLATE)
def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing hours in a per-type time series —
    the gap-fill operator upgraded from forward-fill to true
    interpolation.  Four ignore-nulls window passes over ONE shuffle
    (same partition key, same ordering → Spark plans a single sort):
    previous/next known value and their timestamps, then the weighted
    blend.  The observed per-hour value is max() (order-stable across
    engines), and the weights are exact integer-second ratios, so the
    result hash-matches DuckDB bit-for-bit before the final round."""
    cat = Catalog(spark, sf_dir)
    return interpolate_hourly(cat["events"])


def interpolate_hourly(events: DataFrame) -> DataFrame:
    """The interpolation operator proper, over any (event_type, ts,
    value) DataFrame — separated from the query so property tests can
    drive it with synthetic series (tests/test_pipeline_ops_property)."""
    hourly = (
        events
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(F.max("value").alias("v"), F.count(F.lit(1)).alias("n"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_ts").alias("lo"), F.max("hour_ts").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
                "hour_ts"
            ),
        )
    )
    g = spine.join(hourly, on=["event_type", "hour_ts"], how="left")
    past = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    future = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_ts = F.when(F.col("v").isNotNull(), F.col("hour_ts"))
    g = (
        g.withColumn("pv", F.last_value("v", ignoreNulls=True).over(past))
        .withColumn("nv", F.first_value("v", ignoreNulls=True).over(future))
        .withColumn("pt", F.last_value(known_ts, ignoreNulls=True).over(past))
        .withColumn("nt", F.first_value(known_ts, ignoreNulls=True).over(future))
    )
    # association matches the oracle's left-to-right ((nv-pv)*dt)/dT —
    # a different grouping rounds differently in the last ulp and can
    # flip the 4-decimal rounding below
    blend = (
        (F.col("nv") - F.col("pv"))
        * (F.unix_timestamp("hour_ts") - F.unix_timestamp("pt"))
    ) / (F.unix_timestamp("nt") - F.unix_timestamp("pt"))
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + blend)
    )
    # floor(x*1e4) not round(x, 4): the blend lands on exact decimal
    # ties (e.g. 10.63375 from 2-decimal inputs × dyadic time ratios)
    # where Spark's HALF_UP and DuckDB's binary rounding disagree;
    # floor of the identical double is engine-stable.
    return g.select(
        "event_type",
        "hour_ts",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        (F.col("v").isNull()).alias("was_gap"),
        F.floor(interp * 10000).cast("long").alias("v_interp_e4"),
    )


_SQL_SCD2_INTERVALS = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS island
  FROM flagged
), iv AS (
  SELECT user_id, island, event_type,
         min(ts) AS valid_from, count(*) AS n_events
  FROM islands GROUP BY 1, 2, 3
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to,
       n_events
FROM iv
"""


@register("scd2_intervals", oracle=_SQL_SCD2_INTERVALS)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension) interval construction from an
    event log: collapse each user's consecutive runs of the same
    event_type into validity intervals [valid_from, valid_to) — the
    classic gaps-and-islands build.  Island ids come from a running sum
    of change flags; all three windows share ONE (user_id, ts) sort, the
    interval close (lead of the next island's start) reuses the same
    partitioning.  No joins, two shuffles total (window + final agg)."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.lag("event_type").over(w).isNull()
        | (F.col("event_type") != F.lag("event_type").over(w))
    ).cast("long")
    islands = ev.withColumn(
        "island", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = islands.groupBy("user_id", "island", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_iv = Window.partitionBy("user_id").orderBy("island")
    return iv.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_iv).alias("valid_to"),
        "n_events",
    )


_SQL_EVENTS_DOWNSAMPLE_M4 = """
WITH ranked AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts, event_id) AS rn_first,
         row_number() OVER (PARTITION BY event_type, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
)
SELECT event_type, day, count(*) AS n_events,
       max(CASE WHEN rn_first = 1 THEN value END) AS v_first,
       max(CASE WHEN rn_last = 1 THEN value END) AS v_last,
       min(value) AS v_min,
       max(value) AS v_max
FROM ranked
GROUP BY 1, 2
"""


@register("events_downsample_m4", oracle=_SQL_EVENTS_DOWNSAMPLE_M4)
def q_events_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling: per (event_type, day) bucket emit
    first/last/min/max of the value — the standard error-free
    downsampler for visualization pipelines (each bucket's rendered
    line needs exactly those four points).  Unlike LTTB, M4 has no
    sequential dependency, so it parallelizes perfectly: both
    row_number directions share ONE sort per partition key, and the
    final aggregate folds into the same shuffle.  first/last are
    deterministic via the (ts, event_id) tiebreak."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day"), "ts",
        "event_id", "value",
    )
    w = Window.partitionBy("event_type", "day")
    asc = w.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    desc = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn_first", F.row_number().over(asc))
        .withColumn("rn_last", F.row_number().over(desc))
        .groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("v_first"),
            F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
    )


_SQL_CDC_APPLY_CHANGELOG = """
WITH ranked AS (
  SELECT user_id, event_type, ts, round(value, 2) AS value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes,
         max(ts) OVER (PARTITION BY user_id) AS last_ts
  FROM events
)
SELECT user_id, event_type AS last_op, value AS last_value,
       last_ts, n_changes
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
"""


@register("cdc_apply_changelog", oracle=_SQL_CDC_APPLY_CHANGELOG)
def q_cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (debezium-style): treat the event log
    as a change stream keyed by user_id — the latest operation wins,
    and a tombstone ('error' here) deletes the key from the snapshot.
    One max_by-shaped aggregate: the per-key argmax over (ts, event_id)
    is an algebraic aggregate (map-side partials, single shuffle), not
    a row_number window — the same decision as merge_upsert_latest,
    because a window would sort every partition of a 100 TB changelog
    while max_by only keeps one candidate per key per task."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"].select("user_id", "event_type", "ts", "event_id", "value")
    ordkey = F.struct(F.col("ts"), F.col("event_id"))
    snap = ev.groupBy("user_id").agg(
        F.max_by("event_type", ordkey).alias("last_op"),
        F.max_by(F.round("value", 2), ordkey).alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return snap.filter(F.col("last_op") != "error").select(
        "user_id", "last_op", "last_value", "last_ts", "n_changes"
    )


_SQL_TRANSFORM_WITH_STATE = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY user_id
"""


@register("streaming_transform_with_state", oracle=_SQL_TRANSFORM_WITH_STATE)
def q_streaming_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via the Spark 4 transformWithState
    API (StatefulProcessor + typed ValueState) — the successor to
    applyInPandasWithState with composable state variables, timers and
    TTL.  Final running totals per user after the bounded replay (update
    mode → keep each user's last emission), the same as
    q_streaming_stateful_totals, so it equals the batch per-user
    aggregate → oracle-checked.

    The v2 API additionally requires the RocksDB state store (set for
    this run only, restored after it) and protobuf; where protobuf is
    missing the query falls back to the applyInPandasWithState operator
    — identical semantics, same oracle, so the correctness gate grades
    the same contract either way."""
    if transform_with_state_available():
        confs = {
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
        }
        totals = stateful_user_totals_v2
    else:
        confs, totals = {}, stateful_user_totals
    with conf_window(spark, confs):
        out = run_stream_to_memory(
            spark,
            totals(events_stream(spark, sf_dir)),
            name="stream_transform_with_state",
            output_mode="update",
        )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("sum_value").alias("sum_value"),
    )


_SQL_SKEW_REPORT = """
WITH agg AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type)
SELECT event_type,
       n_events,
       round(n_events * 1.0 / sum(n_events) OVER (), 6) AS share,
       CAST(rank() OVER (ORDER BY n_events DESC, event_type) AS INT) AS skew_rank
FROM agg
"""


# ---------------------------------------------------------------------------
# Skew diagnosis report
# ---------------------------------------------------------------------------


@register("skew_report", oracle=_SQL_SKEW_REPORT)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics for the ``events`` stream: per
    event_type row count, share of total, and rank — the report you run
    before choosing salting factors for a 100 TB shuffle.  The window
    functions run over the already-aggregated (tiny) frame, never the
    raw events."""
    cat = Catalog(spark, sf_dir)
    agg = cat["events"].groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    w_all = Window.partitionBy()
    return agg.select(
        "event_type",
        "n_events",
        F.round(F.col("n_events") / F.sum("n_events").over(w_all), 6).alias("share"),
        F.rank().over(Window.orderBy(F.desc("n_events"), "event_type")).alias("skew_rank"),
    )


_SQL_ANOMALY_ZSCORE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
  FROM events GROUP BY event_type)
SELECT event_id, e.event_type,
       round(value, 4) AS value,
       round((value - mu) / sigma, 4) AS zscore
FROM events e JOIN stats USING (event_type)
WHERE abs((value - mu) / sigma) > 2.5
"""


# ---------------------------------------------------------------------------
# Anomaly flagging via per-group z-score
# ---------------------------------------------------------------------------


@register("events_anomaly_zscore", oracle=_SQL_ANOMALY_ZSCORE)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value is > 2.5 population standard deviations from
    their event_type mean.  Stats are aggregated once (tiny frame) and
    broadcast back onto the scan — two passes over events but no wide
    shuffle of the raw rows, vs. a window which would shuffle-sort
    everything by event_type.

    ``try_divide`` (not ``/``): under Spark 4's default ANSI mode a
    constant-valued group (sigma == 0) would make the plain division
    throw DIVIDE_BY_ZERO at runtime; try_divide yields NULL z, which
    the |z| > 2.5 predicate drops — a degenerate group has no outliers
    by definition.  Identical output wherever sigma != 0 (found by the
    round-5 property battery, not by the fixed datasets, where every
    event_type has spread)."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    z = F.try_divide(F.col("value") - F.col("mu"), F.col("sigma"))
    return (
        joined.where(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


_SQL_INCR_WATERMARK = """
WITH wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM events)
SELECT event_type,
       CAST(sum(CASE WHEN ts > (SELECT w FROM wm) THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(sum(CASE WHEN ts <= (SELECT w FROM wm) THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
       max(ts) AS type_max_ts
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Incremental-ingest watermark report
# ---------------------------------------------------------------------------


@register("incr_ingest_watermark", oracle=_SQL_INCR_WATERMARK)
def q_incr_ingest_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion audit: with the checkpoint watermark defined
    as (global max ts − 1 day), report per event_type how many rows are
    new since the watermark vs already ingested, plus the type's own max
    ts.  The watermark is a driver-side scalar (one parquet-statistics
    max, bounded) — the alternative, a global window over raw events,
    would funnel everything through one task."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    # empty input: max(ts) is NULL -> any watermark works (both sides
    # of the new/old split are empty); epoch keeps the arithmetic total
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = (max_ts or _dt.datetime(1970, 1, 1)) - _dt.timedelta(days=1)
    return ev.groupBy("event_type").agg(
        F.sum((F.col("ts") > F.lit(wm)).cast("long")).alias("n_new"),
        F.sum((F.col("ts") <= F.lit(wm)).cast("long")).alias("n_old"),
        F.max("ts").alias("type_max_ts"),
    )


_SQL_EVENTS_WINSORIZE = """
WITH pcts AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type)
SELECT event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       round(avg(least(greatest(value, p05), p95)), 4) AS mean_winsorized
FROM events JOIN pcts USING (event_type)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Winsorized robust mean per group
# ---------------------------------------------------------------------------


@register("events_winsorize", oracle=_SQL_EVENTS_WINSORIZE)
def q_events_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) robust mean of event values per
    event_type.  Exact interpolated percentiles aggregate once per group
    (tiny frame), broadcast back onto the scan for clipping — the same
    two-pass no-raw-shuffle shape as the z-score anomaly query."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    pcts = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.05)).alias("p05"),
        F.percentile(F.col("value"), F.lit(0.95)).alias("p95"),
    )
    clipped = ev.join(F.broadcast(pcts), "event_type").select(
        "event_type",
        "value",
        F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("wv"),
        (F.col("value") < F.col("p05")).cast("long").alias("lo"),
        (F.col("value") > F.col("p95")).cast("long").alias("hi"),
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lo").alias("n_clipped_lo"),
        F.sum("hi").alias("n_clipped_hi"),
        F.round(F.avg("wv"), 4).alias("mean_winsorized"),
    )


# ---------------------------------------------------------------------------
# First/last-touch attribution
# ---------------------------------------------------------------------------

_TOUCH_TYPES = ("click", "view", "signup")


_SQL_ATTRIBUTION = f"""
WITH flagged AS (
  SELECT user_id, event_type, value,
         last_value(CASE WHEN event_type IN {str(_TOUCH_TYPES)} THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_touch,
         first_value(CASE WHEN event_type IN {str(_TOUCH_TYPES)} THEN event_type END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_touch
  FROM events),
purch AS (SELECT * FROM flagged WHERE event_type = 'purchase')
SELECT 'last_touch' AS mode, coalesce(last_touch, 'none') AS touch_type,
       count(*) AS n_purchases, round(sum(value), 2) AS attributed_value
FROM purch GROUP BY 2
UNION ALL
SELECT 'first_touch' AS mode, coalesce(first_touch, 'none') AS touch_type,
       count(*) AS n_purchases, round(sum(value), 2) AS attributed_value
FROM purch GROUP BY 2
"""


@register("events_attribution", oracle=_SQL_ATTRIBUTION)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch and last-touch revenue attribution: every purchase's
    value is credited to the user's first (resp. most recent preceding)
    touch event (click/view/signup); purchases with no preceding touch
    credit 'none'.

    Scale shape: ONE shuffle — both attribution modes ride the same
    per-user window sort (last-touch = last(ignoreNulls) over an
    unbounded-preceding frame, first-touch = first(ignoreNulls) over the
    same frame) — then an aggregate over a tiny (mode × touch-type)
    domain.  No self-join of purchases against touches."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    touch = F.when(F.col("event_type").isin(*_TOUCH_TYPES), F.col("event_type"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "user_id",
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    ).where(F.col("event_type") == "purchase")
    # explode both modes from the ONE window pass — a union of two
    # groupBys would make Spark duplicate the whole window subtree and
    # pay the per-user sort twice (verified in the physical plan)
    modes = F.explode(
        F.array(
            F.struct(
                F.lit("last_touch").alias("mode"),
                F.coalesce("last_touch", F.lit("none")).alias("touch_type"),
            ),
            F.struct(
                F.lit("first_touch").alias("mode"),
                F.coalesce("first_touch", F.lit("none")).alias("touch_type"),
            ),
        )
    )
    return (
        flagged.select("value", modes.alias("m"))
        .groupBy(F.col("m.mode").alias("mode"), F.col("m.touch_type").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix
# ---------------------------------------------------------------------------

_COHORT_ORIGIN = "2024-01-01"


_SQL_COHORT_MATRIX = f"""
WITH weekly AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '{_COHORT_ORIGIN}', CAST(ts AS DATE)) // 7 AS INT) AS week
  FROM events),
first_seen AS (
  SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY user_id)
SELECT cohort_week,
       week - cohort_week AS week_offset,
       count(DISTINCT user_id) AS n_active_users
FROM weekly JOIN first_seen USING (user_id)
GROUP BY 1, 2
"""


@register("events_cohort_matrix", oracle=_SQL_COHORT_MATRIX)
def q_events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the week of
    their first event (weeks = whole 7-day blocks since a fixed origin,
    not ISO weeks — identical arithmetic in any engine), and each
    (cohort_week, week_offset) cell counts distinct users active that
    many weeks later.

    Scale shape: one groupBy(user) for first-seen, one join back on
    user_id (AQE picks broadcast when the user dimension fits), one
    count-distinct over the tiny cohort×offset domain."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    # floor division, not truncation: events before the origin land in
    # negative weeks, and int-cast truncates toward zero while the
    # oracle's // floors — they disagree on day -1 (ADVICE r02)
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit(_COHORT_ORIGIN).cast("date")) / 7
    ).cast("int")
    first_seen = (
        ev.select("user_id", week.alias("week"))
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    return (
        ev.select("user_id", week.alias("week"))
        .join(first_seen, "user_id")
        .groupBy(
            F.col("cohort_week"),
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


_SQL_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
mad AS (
  SELECT e.event_type, any_value(med) AS med,
         quantile_cont(abs(value - med), 0.5) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type)
SELECT e.event_type,
       count(*) AS n,
       round(any_value(med), 4) AS median,
       round(any_value(mad), 4) AS mad,
       CAST(sum(CASE WHEN abs(value - med) > 3 * 1.4826 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN mad USING (event_type)
GROUP BY e.event_type
"""


# ---------------------------------------------------------------------------
# Robust outlier stats: median absolute deviation
# ---------------------------------------------------------------------------


@register("events_mad_outliers", oracle=_SQL_MAD_OUTLIERS)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier report via median absolute deviation:
    median and MAD per event_type, plus how many events exceed the
    standard 3·1.4826·MAD robust z-threshold (1.4826 makes MAD a
    consistent σ estimator under normality).

    Scale shape: two group aggregations over the tiny event_type domain
    with the raw stream scanned twice and each per-group scalar
    broadcast back — the robust twin of ``events_anomaly_zscore``;
    no global sort (exact interpolated percentile aggregates
    per-group buffers, not an order-by)."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad"),
    )
    # the outlier count needs the finished MAD, so it is a third cheap
    # pass over the scan joined to the (5-row) stats frame
    stats = mad.select("event_type", F.round("med", 4).alias("median"), F.round("mad", 4).alias("mad"))
    full = ev.join(F.broadcast(mad.select("event_type", "med", "mad")), "event_type")
    counts = full.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > F.lit(3 * 1.4826) * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    )
    return counts.join(F.broadcast(stats), "event_type").select(
        "event_type", "n", "median", "mad", "n_outliers"
    )


_SQL_CUSUM = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         sum(value) AS day_sum, count(*) AS day_n
  FROM events GROUP BY 1, 2),
means AS (
  SELECT event_type, sum(day_sum) / sum(day_n) AS mu
  FROM daily GROUP BY event_type),
cusum AS (
  SELECT d.event_type, day,
         sum(day_sum - mu * day_n)
           OVER (PARTITION BY d.event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily d JOIN means USING (event_type))
SELECT event_type, day, round(cusum, 4) AS peak_cusum
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY abs(cusum) DESC, day) AS rn
      FROM cusum)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------


@register("events_changepoint_cusum", oracle=_SQL_CUSUM)
def q_events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event_type: the running sum of
    (value − type mean) peaks in magnitude at the most likely mean-shift
    point.  Reports that peak's timestamp, event id, and CUSUM value.

    Scale shape: the type means aggregate once (5-row frame) and
    broadcast back; the running sum is one window sort per event_type.
    The per-type window serializes a hot type into one sort range at
    100 TB — the standard answer is time-bucketed pre-aggregation
    before the CUSUM (same report at day granularity), which this query
    demonstrates by reducing to per-day sums first."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    daily = (
        ev.select("event_type", F.col("ts").cast("date").alias("day"), "value")
        .groupBy("event_type", "day")
        .agg(F.sum("value").alias("day_sum"), F.count(F.lit(1)).alias("day_n"))
    )
    means = daily.groupBy("event_type").agg(
        (F.sum("day_sum") / F.sum("day_n")).alias("mu")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cusum = (
        daily.join(F.broadcast(means), "event_type")
        .select(
            "event_type",
            "day",
            F.sum(F.col("day_sum") - F.col("mu") * F.col("day_n")).over(w).alias("cusum"),
        )
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("cusum"))), "day"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("event_type", "day", F.round("cusum", 4).alias("peak_cusum"))
    )


_SQL_INCR_AGG = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance
# ---------------------------------------------------------------------------


@register("incr_agg_maintenance", oracle=_SQL_INCR_AGG)
def q_incr_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the per-type
    daily-revenue aggregate is 'maintained' by combining the frozen
    pre-watermark aggregate with the delta aggregate of rows that
    arrived after it — algebraically, never by re-scanning history.
    The oracle computes the same aggregate directly over all rows, so
    the hash gate proves base ⊕ delta ≡ full recompute (the correctness
    condition of incremental view maintenance).

    Scale shape: at 100 TB the base side is a stored aggregate read
    (tiny); only the delta partition is scanned per refresh.  Count and
    integer-cents sum are the algebraic (commutative-monoid) merge."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    # empty input: max(ts) is NULL -> any watermark works (base and
    # delta are both empty); epoch keeps the arithmetic total
    wm_max = ev.agg(F.max("ts")).collect()[0][0]
    wm = (wm_max or _dt.datetime(1970, 1, 1)) - _dt.timedelta(days=7)
    cents = F.round(F.col("value") * 100).cast("long")

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sum_cents")
        )

    base = agg_of(ev.where(F.col("ts") <= F.lit(wm)))
    delta = agg_of(ev.where(F.col("ts") > F.lit(wm)))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("sum_cents").alias("sum_cents"))
    )
    return merged.select(
        "event_type",
        "n_events",
        F.round(F.col("sum_cents") / 100.0, 2).alias("total_value"),
    )


_SQL_STREAMING_FUNNEL = f"""
WITH flagged AS (
  SELECT (lang = 'en') AS s1,
         round((least(len({_RAW_TOKS}) / 100.0, 1.0)
               + least(len(list_filter({_RAW_TOKS}, t -> list_contains(['the','a','of','and','to','in','is','that'], t))) * 1.0
                       / len({_RAW_TOKS}) * 5.0, 1.0)
               + greatest(0.0, 1.0 - ((length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')))
                                       * 1.0 / length(text)) * 4.0)) / 3.0, 6) AS q,
         len({_RAW_TOKS}) AS n_tok
  FROM documents)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN s1 AND q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN s1 AND q >= 0.5 AND n_tok BETWEEN 20 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_length
FROM flagged
"""


# ---------------------------------------------------------------------------
# Streaming ingest-quality funnel
# ---------------------------------------------------------------------------


@register("streaming_curation_funnel", oracle=_SQL_STREAMING_FUNNEL)
def q_streaming_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-quality monitor: the curation funnel's rule
    stages (lang → quality → length) as ONE running aggregate over the
    document stream — what a crawler-ingest dashboard shows live.

    Complete mode: the running totals after a bounded replay equal the
    batch funnel counts, so the query is DuckDB-oracle-checkable.  The
    dedup stage is deliberately absent here: count(DISTINCT) is
    unsupported in streaming aggregation, and its streaming analogue
    (dropDuplicates state) is covered by q_streaming_dedup_keys.
    """
    docs = documents_stream(spark, sf_dir)
    t = F.col("text")
    s1 = F.col("lang") == "en"
    s2 = s1 & (text_ops.quality_score(t) >= 0.5)
    s3 = s2 & text_ops.token_count(t).between(20, 1000)
    agg = docs.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(s1.cast("long")).alias("n_lang"),
        F.sum(s2.cast("long")).alias("n_quality"),
        F.sum(s3.cast("long")).alias("n_length"),
    )
    return run_stream_to_memory(
        spark,
        agg,
        name="stream_curation_funnel",
        output_mode="complete",
        state_partitions=2,  # one global-aggregate row of state
    )


_SQL_ASOF_NEAREST = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN ts END AS err_ts,
         event_type = 'purchase' AS is_p
  FROM events WHERE event_type IN ('purchase', 'error')),
spanned AS (
  SELECT user_id, ts, event_id, is_p,
         last_value(err_ts IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
         first_value(err_ts IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
  FROM marked),
picked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN prev_ts IS NULL THEN next_ts
              WHEN next_ts IS NULL THEN prev_ts
              WHEN epoch_us(ts) - epoch_us(prev_ts)
                   <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
              ELSE next_ts END AS nearest_error_ts
  FROM spanned WHERE is_p)
SELECT event_id, user_id, nearest_error_ts,
       CASE WHEN nearest_error_ts IS NOT NULL
            THEN abs(epoch_us(ts) - epoch_us(nearest_error_ts)) END AS gap_us
FROM picked
"""


# ---------------------------------------------------------------------------
# Nearest as-of match (bidirectional)
# ---------------------------------------------------------------------------


@register("asof_join_nearest", oracle=_SQL_ASOF_NEAREST)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event as-of: each purchase is matched to the user's
    CLOSEST error event in time, whichever side it lies on — the
    bidirectional variant of the strict-backward as-of join (which only
    looks back).  Both direction probes ride ONE union + one window
    sort per user (the same sort-interleave strategy as asof_join_*,
    run once forward and once with reversed frames); no purchase×error
    pair join ever materializes."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.col("ts")).alias("err_ts"),
        (F.col("event_type") == "purchase").alias("is_p"),
    ).where(F.col("event_type").isin("purchase", "error"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_err = F.last("err_ts", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    next_err = F.first("err_ts", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    both = marked.select(
        "user_id", "ts", "event_id", "is_p",
        prev_err.alias("prev_ts"), next_err.alias("next_ts"),
    ).where(F.col("is_p"))
    # exact integer microseconds on both engines (DuckDB epoch() is a
    # fractional double; per-second casts truncate differently)
    def us(c: F.Column) -> F.Column:
        return F.unix_micros(c.cast("timestamp"))

    d_prev = us(F.col("ts")) - us(F.col("prev_ts"))
    d_next = us(F.col("next_ts")) - us(F.col("ts"))
    nearest = (
        F.when(F.col("prev_ts").isNull(), F.col("next_ts"))
        .when(F.col("next_ts").isNull(), F.col("prev_ts"))
        .when(d_prev <= d_next, F.col("prev_ts"))
        .otherwise(F.col("next_ts"))
    )
    return both.select(
        "event_id",
        "user_id",
        nearest.alias("nearest_error_ts"),
        F.when(
            nearest.isNotNull(), F.abs(us(F.col("ts")) - us(nearest))
        ).alias("gap_us"),
    )


_SQL_STATE_INTROSPECTION = """
SELECT DISTINCT user_id, event_type FROM events
"""


@register("streaming_state_introspection", oracle=_SQL_STATE_INTROSPECTION)
def q_streaming_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a stateful streaming query's STATE STORE as a table — the
    Spark 4 state data source (``spark.read.format("statestore")``),
    the production tool for auditing/debugging stateful pipelines
    without touching the live query (state cardinality, key skew by
    partition, stuck-key forensics).

    The run: the exactly-once key dedup replays bounded input to a noop
    sink with a DURABLE checkpoint (``availableNow`` trigger), then the
    dropDuplicates state files are loaded directly — no replay, no
    running query.  dropDuplicates state IS the distinct key set, so
    the read-back equals batch ``SELECT DISTINCT`` → hash-graded
    against that oracle.

    Scale shape: state files are already partitioned by shuffle
    partition and the reader is a partition-parallel scan of the store
    (HDFS/RocksDB-backed), so the audit cost is ∝ state size, never
    ∝ stream history.  State partitions sized to state volume (4), as
    fleet-wide for bounded local replays; the checkpoint dir is
    process-stable (md5 of sf_dir) and wiped per run for a clean
    deterministic replay."""
    ckpt = os.path.join(
        tempfile.gettempdir(), f"rss_state_intro_{stable_suffix(sf_dir)}"
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    keys = (
        events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    with conf_window(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            keys.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            # fail loudly on timeout: a False return means the trigger
            # did not finish, and reading the statestore from a
            # partially-processed checkpoint would grade an incomplete
            # key set silently (same policy as q_streaming_dedup_ttl)
            if not q.awaitTermination(300):
                raise TimeoutError(
                    "state-introspection query did not finish in 300s"
                )
        finally:
            q.stop()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("key.event_type").alias("event_type"),
    )


_SQL_DEDUP_TTL = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_unique_users
FROM events
GROUP BY event_type
"""


@register("streaming_dedup_ttl", oracle=_SQL_DEDUP_TTL)
def q_streaming_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    keeps a key in the store only until the watermark passes its event
    time plus the delay — the production dedup for UNBOUNDED key spaces
    (plain dropDuplicates state grows forever).  The plan carries the
    dedup-within-watermark operator with a state TTL.

    Graded deterministically: the delay (365 days) exceeds the replay's
    whole time span, so no key expires mid-replay and the emitted key
    set equals batch DISTINCT; the projection to key columns before the
    dedup makes WHICH row wins irrelevant.  The per-type unique-user
    counts are then a plain batch aggregate over the sink —
    DuckDB-checkable.  In production the delay is the real dedup
    horizon (hours), and state is bounded by keys-per-horizon instead
    of all-keys-ever.

    The delay > span precondition is ASSERTED at runtime (one 1-row
    aggregate on the static table): on a dataset spanning longer than
    the delay, expired keys would re-emit and silently overcount vs the
    batch-DISTINCT oracle — better to fail loudly than grade wrong."""
    delay_s = 365 * 24 * 3600
    span_row = (
        Catalog(spark, sf_dir)["events"]
        .agg(
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("span_s")
        )
        .collect()[0]
    )
    span_s = span_row["span_s"] or 0
    if span_s >= delay_s:
        raise ValueError(
            f"streaming_dedup_ttl: events span {span_s}s >= dedup delay "
            f"{delay_s}s; emitted keys would no longer equal batch DISTINCT "
            "(expired keys re-emit). Raise the delay for this dataset."
        )
    keys = (
        events_stream(spark, sf_dir)
        .select("ts", "user_id", "event_type")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    out = run_stream_to_memory(
        spark,
        keys,
        name="stream_dedup_ttl",
        output_mode="append",
        state_partitions=2,
    )
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_unique_users")
    )


_SQL_STREAM_JOIN_OUTER = """
WITH mx AS (SELECT date_trunc('second', least(
    (SELECT max(ts) FROM events WHERE event_type = 'click'),
    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))) AS m),
c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
        AND ts < (SELECT m FROM mx) - INTERVAL 2 HOUR - INTERVAL 1 SECOND),
p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts
FROM c LEFT JOIN p
  ON c.user_id = p.p_user_id
 AND p.purchase_ts >= c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
"""


# ---------------------------------------------------------------------------
# Streaming left-outer stream-stream join (state-eviction emission)
# ---------------------------------------------------------------------------


@register("streaming_stream_join_outer", oracle=_SQL_STREAM_JOIN_OUTER)
def q_streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks joined to same-user
    purchases within the following hour; clicks with NO purchase emit a
    null-extended row once the watermark passes their join window (state
    eviction is the emission trigger — the semantics inner joins never
    exercise).

    Determinism under bounded replay: the GLOBAL watermark is the min
    over both inputs' per-stream watermarks — least(max click_ts, max
    purchase_ts) − 1 h — so null rows are guaranteed emitted exactly
    for clicks whose join window closed before it.  The result is
    restricted to that fully-determined region, click_ts < watermark −
    1 h − 1 s, where the watermark is taken from the finished query's
    OWN progress report (no separate pre-stream scan; the extra second
    covers Spark's millisecond watermark truncation and
    eviction-compare strictness, and the oracle truncates its max to
    the second as well, so no sub-ms disagreement sliver opens): inside
    it, every match AND every null-extension has provably been emitted,
    making the output equal to a batch LEFT JOIN over the same region —
    hash-checkable.  At scale the cut is exactly the "completed region"
    a production job would publish downstream; the tail stays in state.
    """
    # one source instance for both sides (stream-stream SELF-join):
    # the micro-batch scans the arriving files once, not once per side
    src = events_stream(spark, sf_dir)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ts >= click_ts AND "
            "purchase_ts <= click_ts + INTERVAL 1 HOUR"
        ),
        "left_outer",
    ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")
    # state volume at gate scale is ~1e5 rows per side: 2 partitions
    # keep per-store open/commit overhead (4 stores per partition for an
    # interval join) off the critical path; results are width-independent
    progress: dict = {}
    out = run_stream_to_memory(
        spark,
        joined,
        name="stream_stream_join_outer",
        output_mode="append",
        state_partitions=2,
        progress_out=progress,
    )
    # final global watermark = least(max click_ts, max purchase_ts) − 1 h,
    # reported by the query itself — no separate pre-stream scan; the
    # fully-determined region is one more hour (the join window) behind
    # it, minus 1 s for ms truncation / eviction-compare strictness
    wm = progress.get("watermark")
    if wm is None:
        # a bounded replay over real events must report a watermark;
        # its absence is a harness fault, not an empty region — fail
        # loudly rather than publish a silently-wrong empty result
        raise RuntimeError(
            "streaming_stream_join_outer: finished query reported no "
            "event-time watermark (noDataMicroBatches disabled, or no "
            "input rows?)"
        )
    return out.filter(
        F.col("click_ts")
        < F.lit(wm) - F.expr("INTERVAL 1 HOUR") - F.expr("INTERVAL 1 SECOND")
    ).orderBy("click_id", "purchase_id")


_SQL_SESSION_DYNAMIC = """
WITH ev AS (
  SELECT user_id, ts, value,
         ts + CASE WHEN event_type = 'purchase'
                   THEN INTERVAL 10 MINUTE ELSE INTERVAL 30 MINUTE END AS ev_end
  FROM events),
marked AS (
  SELECT user_id, ts, value, ev_end,
         CASE WHEN ts > max(ev_end) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR row_number() OVER (PARTITION BY user_id ORDER BY ts) = 1
              THEN 1 ELSE 0 END AS is_new
  FROM ev),
islands AS (
  SELECT user_id, ts, value, ev_end,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked)
SELECT min(ts) AS session_start,
       max(ev_end) AS session_end,
       user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM islands
GROUP BY user_id, sid
"""


@register("sessionize_dynamic_gap", oracle=_SQL_SESSION_DYNAMIC)
def q_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC gap (Spark's session_window with a
    column expression): purchase events close sessions faster (10 min)
    than browsing events (30 min) — per-event inactivity timeouts, the
    realistic sessionization rule.  Batch mode; the oracle replays the
    merge rule as a running-max gaps-and-islands pass (a new session
    starts when an event's ts exceeds every previous event's ts+gap)."""
    cat = Catalog(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        cat["events"]
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


_SQL_CHAINED_AGG = """
WITH mx AS (SELECT date_trunc('second', max(ts)) AS m FROM events),
hourly AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS h, event_type,
         count(*) AS n, sum(value) AS v
  FROM events GROUP BY 1, 2),
daily AS (
  SELECT time_bucket(INTERVAL 1 DAY, h) AS day_start, event_type,
         CAST(sum(n) AS BIGINT) AS n_events,
         count(*) AS n_active_hours,
         round(sum(v), 2) AS sum_value
  FROM hourly GROUP BY 1, 2)
SELECT day_start, event_type, n_events, n_active_hours, sum_value
FROM daily
WHERE day_start + INTERVAL 1 DAY <
      (SELECT m FROM mx) - INTERVAL 1 HOUR - INTERVAL 1 SECOND
"""


@register("streaming_chained_agg", oracle=_SQL_CHAINED_AGG)
def q_streaming_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark 4:
    multiple stateful operators per query): watermarked hourly tumbling
    counts re-aggregated into daily totals downstream, both stateful,
    both watermark-driven — the streaming form of the hypertable
    hourly→daily rollup (`events_rollup_daily`) without a second job or
    an intermediate sink.

    Append mode is REQUIRED between chained aggs (the upstream agg must
    finalize a window before the downstream one consumes it), so the
    bounded replay emits exactly the daily windows whose end the final
    watermark passed; the result is restricted to that region
    (day_end < watermark − 1 s, the watermark read from the finished
    query's own progress report — no separate pre-stream scan) where it
    provably equals the batch hourly→daily rollup."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w1"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("v"),
    )
    daily = (
        hourly.groupBy(F.window(F.col("w1"), "1 day").alias("w2"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_active_hours"),
            F.round(F.sum("v"), 2).alias("sum_value"),
        )
        .select(
            F.col("w2.start").alias("day_start"),
            F.col("w2.end").alias("day_end"),
            "event_type",
            "n_events",
            "n_active_hours",
            "sum_value",
        )
    )
    # two chained stateful aggs = two store sets per partition; hourly
    # and daily window state is tiny at gate scale, so 2 partitions
    # minimize the per-store fixed cost (results width-independent)
    progress: dict = {}
    out = run_stream_to_memory(
        spark,
        daily,
        name="stream_chained_agg",
        output_mode="append",
        state_partitions=2,
        progress_out=progress,
    )
    wm = progress.get("watermark")
    if wm is None:
        raise RuntimeError(
            "streaming_chained_agg: finished query reported no "
            "event-time watermark (noDataMicroBatches disabled, or no "
            "input rows?)"
        )
    return out.filter(
        F.col("day_end") < F.lit(wm) - F.expr("INTERVAL 1 SECOND")
    ).drop("day_end")


_SQL_STREAMING_SESSION_APPEND = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, count(*) AS n_events
FROM sessions GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE <
       (SELECT date_trunc('second', max(ts)) - INTERVAL 1 HOUR FROM events)
"""


# ---------------------------------------------------------------------------
# Append-mode streaming sessions (watermark-determinate region)
# ---------------------------------------------------------------------------


@register("streaming_session_append", oracle=_SQL_STREAMING_SESSION_APPEND)
def q_streaming_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode session windows restricted to the watermark-determinate
    region — the twin the complete-mode ``q_streaming_sessions`` entry
    deliberately avoids.

    In append mode a session is emitted exactly once, when the
    watermark passes its end (last event + gap): that is the
    production shape — finalized sessions flow downstream incrementally
    and state is evicted, instead of re-emitting the whole result every
    batch.  A bounded replay therefore emits only sessions whose end
    the final watermark passed; the still-open tail is withheld.  To
    make that deterministic the result is cut to the provably-complete
    region: sessions with ``session_end < floor_s(final watermark)``
    (the cut derives from the finished query's own ``lastProgress``
    watermark — see ``streaming.events._final_watermark`` for why whole
    seconds are the cross-engine-safe grid).  The batch gaps-and-islands
    oracle applies the same cut as ``max(ts) + gap <
    date_trunc('second', max(ts)) - delay``, so the emitted-and-finalized
    set is hash-checkable.

    State shape at scale: session state lives only until eviction
    (watermark-bounded, per-user), and each micro-batch shuffles only
    its own events into the per-user session store — the unbounded
    complete-mode result table never exists."""
    progress: dict = {}
    out = run_stream_to_memory(
        spark,
        session_windows(events_stream(spark, sf_dir)),
        name="stream_session_append",
        output_mode="append",
        # sessions-per-user state: small domain, same sizing reasoning
        # as q_streaming_hourly
        state_partitions=4,
        progress_out=progress,
    )
    cut = progress.get("watermark")
    if cut is None:
        return out.limit(0).select(
            "session_start", "session_end", "user_id", "n_events"
        )
    return (
        out.filter(F.col("session_end") < F.lit(cut))
        .select("session_start", "session_end", "user_id", "n_events")
    )


_SQL_INCR_AGG_RETRACT = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
FROM events
WHERE NOT (event_type = 'error'
           AND ts <= (SELECT max(ts) - INTERVAL 7 DAY FROM events))
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Incremental view maintenance: the retraction (delete) path
# ---------------------------------------------------------------------------


@register("incr_agg_retract", oracle=_SQL_INCR_AGG_RETRACT)
def q_incr_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM with RETRACTIONS: ``incr_agg_maintenance`` proved base ⊕
    insert-delta ≡ recompute; this entry adds the delete half of a CDC
    changelog.  The frozen pre-watermark aggregate is maintained with
    BOTH an insert delta (rows after the watermark) and a retraction
    delta (upstream deleted every pre-watermark 'error' row), merged
    algebraically: counts and integer-cent sums form a commutative
    GROUP with subtraction, so deletes are just negated partials —
    ⊖ is ⊕ of (−n, −cents) — and groups whose maintained count reaches
    zero drop out of the view.  No history re-scan anywhere; at 100 TB
    the base is a stored-aggregate read and each refresh scans only the
    two delta partitions.

    The oracle recomputes the view from scratch over the post-delete
    row set (everything except pre-watermark errors), so the hash gate
    proves base ⊕ inserts ⊖ deletes ≡ full recompute — the IVM
    correctness condition for retractable aggregates."""
    cat = Catalog(spark, sf_dir)
    ev = cat["events"]
    wm_max = ev.agg(F.max("ts")).collect()[0][0]
    wm = (wm_max or _dt.datetime(1970, 1, 1)) - _dt.timedelta(days=7)
    cents = F.round(F.col("value") * 100).cast("long")

    def partials(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("event_type").agg(
            (F.lit(sign) * F.count(F.lit(1))).alias("n"),
            (F.lit(sign) * F.sum(cents)).alias("sum_cents"),
        )

    base_rows = ev.where(F.col("ts") <= F.lit(wm))
    base = partials(base_rows, +1)  # the frozen materialized aggregate
    inserts = partials(ev.where(F.col("ts") > F.lit(wm)), +1)
    deletes = partials(base_rows.where(F.col("event_type") == "error"), -1)
    merged = (
        base.unionByName(inserts)
        .unionByName(deletes)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("sum_cents").alias("sum_cents"))
        .where(F.col("n_events") > 0)
    )
    return merged.select(
        "event_type",
        "n_events",
        F.round(F.col("sum_cents") / 100.0, 2).alias("total_value"),
    )


_SQL_STREAMING_TTL_ACTIVITY = """
WITH u AS (SELECT user_id, max(epoch_us(ts)) AS umax FROM events GROUP BY user_id)
SELECT e.user_id, e.event_type,
       CAST(count(*) AS BIGINT) AS n_recent,
       u.umax AS user_last_us
FROM events e JOIN u USING (user_id)
WHERE epoch_us(e.ts) >= u.umax - 604800000000
GROUP BY e.user_id, e.event_type, u.umax
"""


# ---------------------------------------------------------------------------
# event-time-TTL stateful streaming (grouped applyInPandasWithState)
# ---------------------------------------------------------------------------


@register("streaming_ttl_activity", oracle=_SQL_STREAMING_TTL_ACTIVITY)
def q_streaming_ttl_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 7-day activity with EVENT-TIME TTL state: a
    grouped ``applyInPandasWithState`` operator whose state is the list
    of (event-time µs, event_type) pairs no older than 7 days behind
    the user's own running max event time — old entries are EVICTED as
    the user's clock advances, so state is bounded by
    events-per-user-per-window, never by history (the custom-state
    analog of ``dropDuplicatesWithinWatermark``'s TTL).

    Determinism across ANY replay batching (the property that makes
    this gradable where processing-time TTL is not):

    * eviction is SAFE — an entry evicted at batch b satisfies
      ts < max_b − TTL ≤ max_final − TTL, so it can never belong to
      the final trailing window (the user's max only grows);
    * the user's running max comes from the user's OWN rows, so after
      the user's last input batch it equals the final max, and the last
      emission is exactly the trailing window vs that final max;
    * counts within a fixed window only grow, so taking each (user,
      type)'s max count among rows carrying the user's final max
      timestamp resolves same-max multi-batch emissions.

    The batch oracle is therefore plain SQL: events within 7 days of
    the per-user max(ts), grouped by (user, type).

    Scale shape: state per user is O(events in window); emission per
    batch is O(types per user); one shuffle on user_id per micro-batch
    (the stateful exchange); the final selection is a window + agg over
    the (users × types)-sized sink table.
    """
    import pandas as pd

    ttl_us = 7 * 24 * 3600 * 1_000_000

    def update(key, pdfs, state):
        ts0, ty0 = state.get if state.exists else ([], [])
        ts = list(ts0)
        ty = list(ty0)
        for pdf in pdfs:
            ts.extend(int(v) for v in pdf["ts_us"])
            ty.extend(pdf["event_type"])
        umax = max(ts)
        kept = [(a, b) for a, b in zip(ts, ty) if a >= umax - ttl_us]
        ts = [a for a, _ in kept]
        ty = [b for _, b in kept]
        state.update((ts, ty))
        counts: dict = {}
        for b in ty:
            counts[b] = counts.get(b, 0) + 1
        items = sorted(counts.items())
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(items),
                "event_type": [k for k, _ in items],
                "n_recent": [v for _, v in items],
                "user_last_us": [umax] * len(items),
            }
        )

    rows = (
        events_stream(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, event_type string, n_recent long, user_last_us long"
            ),
            stateStructType="ts array<long>, ty array<string>",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
    out = run_stream_to_memory(
        spark, rows, name="stream_ttl_activity", output_mode="update"
    )
    w = Window.partitionBy("user_id")
    return (
        out.withColumn("final_us", F.max("user_last_us").over(w))
        .filter(F.col("user_last_us") == F.col("final_us"))
        .groupBy("user_id", "event_type")
        .agg(
            F.max("n_recent").alias("n_recent"),
            F.max("user_last_us").alias("user_last_us"),
        )
    )


_SQL_STREAMING_ASOF = """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_ts,
         CAST(round(100 * o_totalprice) AS BIGINT) AS o_cents
  FROM orders),
best AS (
  SELECT event_id, o_orderkey, o_cents FROM (
    SELECT p.event_id, o.o_orderkey, o.o_cents,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY o.o_ts DESC, o.o_orderkey DESC) AS rk
    FROM p JOIN o ON o.o_custkey = p.user_id AND o.o_ts <= p.ts)
  WHERE rk = 1)
SELECT p.event_id, p.user_id,
       b.o_orderkey AS asof_orderkey, b.o_cents AS asof_cents
FROM p LEFT JOIN best b ON b.event_id = p.event_id
"""


@register("streaming_asof_enrich", oracle=_SQL_STREAMING_ASOF)
def q_streaming_asof_enrich(
    spark: SparkSession, sf_dir: str, progress_out: dict | None = None
) -> DataFrame:
    """Stream-static AS-OF enrichment: every purchase event picks up the
    user's most recent order at-or-before the event time (inclusive
    backward as-of, ties broken by highest o_orderkey) — the streaming
    twin of the batch ``asof_join_latest_order`` entry, via a different
    physical strategy that needs NO stream state at all.

    The batch as-of uses a union+window sort; a window over a stream
    would be a stateful operator with per-key ordering state.  Instead
    the STATIC side is pre-shaped per micro-batch into one row per user
    holding the sorted order history as an array of structs, the
    stream-static join is a plain stateless 1:1 equi-join (AQE
    broadcasts the dimension), and the as-of extraction is pure codegen
    array algebra: ``array_max(filter(hist, h -> h.o_ts <= ts))`` —
    struct comparison is lexicographic, so (o_ts, o_orderkey) ordering
    gives exactly the inclusive-backward pick with the orderkey
    tiebreak.  No watermark, no state store, append mode: a bounded
    replay emits exactly the batch join, which is what the oracle
    checks.

    100 TB shape: the dimension array is bounded by per-user order
    count (TPC-H ~10; any bounded-history dimension qualifies), the
    stream side never shuffles (broadcast join), and slowly-changing
    history is picked up per micro-batch without restarts — the same
    property q_streaming_static_join documents, extended to temporal
    lookup.  For unbounded histories the array would be bucketed by
    time range first; that variant needs the same join + one more
    filter, not a different operator.

    ``progress_out`` is passed to ``run_stream_to_memory`` (tests read
    the finished query's state-operator count from it)."""
    ev = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
    )
    orders = Catalog(spark, sf_dir)["orders"].select(
        "o_custkey",
        "o_orderkey",
        F.to_timestamp("o_orderdate").alias("o_ts"),
        # money as exact cents — the established ULP-proof oracle form
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    hist = orders.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(F.struct("o_ts", "o_orderkey", "o_cents"))
        ).alias("__hist")
    )
    j = ev.join(hist, ev["user_id"] == hist["o_custkey"], "left")
    best = F.array_max(F.filter(F.col("__hist"), lambda h: h["o_ts"] <= F.col("ts")))
    out = j.select(
        "event_id",
        "user_id",
        best["o_orderkey"].alias("asof_orderkey"),
        best["o_cents"].alias("asof_cents"),
    )
    return run_stream_to_memory(
        spark,
        out,
        name="stream_asof_enrich",
        output_mode="append",
        progress_out=progress_out,
    )
