"""Event-time windows, streaming joins and stateful aggregates: the
registered batch runs of the streaming jobs.

Each key that has a live twin builds its result by calling that twin's
function in streaming/jobs.py over the batch ``load(...)`` of the
fixture, plus an ``orderBy``; the DuckDB oracle checks the batch run,
and tests/test_streaming.py runs the same function under ``readStream``
and asserts equality.  Window boundaries are emitted as epoch seconds
(BIGINT) — timestamp objects don't hash-compare portably across
engines.

Scale: event-time windowing is a single shuffle on (key, window); state
in the streaming case is bounded by the watermark horizon.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.parquet import load
from mysql_postgres_debezium_cdc_spark.streaming.jobs import (
    attribution_join,
    attribution_join_outer,
    enrichment_agg,
    run_to_memory,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
    tumbling_cents_agg,
    user_state_stateful,
)


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT
      (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) * 3600 AS window_start_s,
      event_type,
      COUNT(*) AS n_events,
      ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start_s, event_type
    """,
    tags=("streaming", "window"),
    bench=True,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregation (F.window)."""
    return tumbling_agg(load(spark, sf_dir, "events")).orderBy(
        "window_start_s", "event_type"
    )


@register(
    "stream_sliding_window",
    oracle="""
    SELECT window_start_s, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM (
      SELECT value, UNNEST([b, b - 1800]) AS window_start_s
      FROM (
        SELECT value, (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 1800) * 1800 AS b
        FROM events
      )
    )
    GROUP BY window_start_s
    ORDER BY window_start_s
    """,
    tags=("streaming", "window", "sliding"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min: each event lands in 2 windows.

    The oracle replicates Spark's window assignment closed-form: an event
    at epoch t belongs to starts {floor(t/1800)*1800 - off, off ∈ {0,1800}}.
    """
    return sliding_agg(load(spark, sf_dir, "events")).orderBy("window_start_s")


@register(
    "stream_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
      WHERE user_id < 20
    ), marked AS (
      SELECT *, CASE WHEN prev_ts IS NULL
                       OR EPOCH(ts) - EPOCH(prev_ts) > 1800 THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ), sessions AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, value
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
      FROM marked
    )
    SELECT user_id,
           CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS session_start_s,
           CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) + 1800 AS session_end_s,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, sess_no
    ORDER BY user_id, session_start_s
    """,
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute gap (F.session_window).

    Spark defines session end = last event ts + gap; the oracle's
    gaps-and-islands formulation reproduces exactly that.
    """
    return session_agg(load(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start_s"
    )


@register(
    "stream_dedup_first_event",
    oracle="""
    SELECT user_id, event_type,
           MIN_BY(event_id, EPOCH_MS(ts) * 1000000 + event_id) AS first_event_id,
           COUNT(*) AS n_dups
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup (keep-first) — batch analogue of
    dropDuplicatesWithinWatermark: first event per (user, type)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            # Composite BIGINT ordering key (ms-epoch ⊕ event_id) — DuckDB's
            # MIN_BY can't take a struct/list key, so both engines use the
            # same scalar encoding for the deterministic tie-break.
            F.min_by(
                "event_id", F.unix_millis("ts") * 1000000 + F.col("event_id")
            ).alias("first_event_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .orderBy("user_id", "event_type")
    )


@register(
    "stream_user_running_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           MAX(event_id) AS last_event_id
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_user_running_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch formulation of the per-user running-state reducer — the
    oracle-checked definition whose streaming twin is
    ``jobs.user_state_stateful`` (applyInPandasWithState); equality is
    asserted in-plan by [[stream_user_running_state_stateful]]."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("event_id").alias("last_event_id"),
        )
        .orderBy("user_id")
    )


@register(
    "stream_user_running_state_stateful",
    # Oracle (VERDICT r3 #10): applyInPandasWithState output is not
    # SQL-expressible directly, so the driver-visible query RUNS the real
    # stateful job, diffs it per-user against the oracle-checked batch
    # formulation above (exact on counts/ids, 1-cent tolerance on the
    # float sum whose accumulation order differs), and returns one
    # checkable row.  The oracle asserts the user count from the raw
    # table and ZERO mismatches — so a driver green row certifies the
    # stateful operator's values, not just that it produced rows.
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(0 AS BIGINT) AS n_mismatches
    FROM events
    """,
    tags=("streaming", "stateful", "pandas"),
)
def stream_user_running_state_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL applyInPandasWithState job, executed to a memory sink
    (availableNow), reduced to final per-user state, and equality-checked
    in-plan against the batch twin ``stream_user_running_state``."""
    out = run_to_memory(
        spark,
        user_state_stateful(stream_events(spark, sf_dir)),
        "q_user_state",
        output_mode="update",
    )
    # update-mode memory sink appends one row per key per micro-batch;
    # the final state per key is the row with the highest running count.
    stateful = out.groupBy("user_id").agg(
        F.max("n_events").alias("sf_n_events"),
        F.round(F.max_by("sum_value", "n_events"), 2).alias("sf_sum_value"),
        F.max("last_event_id").alias("sf_last_event_id"),
    )
    batch = stream_user_running_state(spark, sf_dir).toDF(
        "user_id", "b_n_events", "b_sum_value", "b_last_event_id"
    )
    joined = stateful.join(batch, "user_id", "full_outer")
    mismatch = (
        F.col("sf_n_events").isNull()
        | F.col("b_n_events").isNull()
        | (F.col("sf_n_events") != F.col("b_n_events"))
        | (F.col("sf_last_event_id") != F.col("b_last_event_id"))
        # Pandas accumulates the float sum in arrival order, the batch agg
        # in partition order — allow one cent of rounding divergence.
        | (F.abs(F.col("sf_sum_value") - F.col("b_sum_value")) > 0.011)
    )
    return joined.select(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(mismatch, 1).otherwise(0)).cast("bigint").alias("n_mismatches"),
    )


@register(
    "stream_stream_join_attribution",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           ROUND(p.value, 2) AS purchase_value
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    ORDER BY purchase_id, click_id
    """,
    tags=("streaming", "stream-stream-join"),
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution: every purchase joined to the clicks
    of the same user in the preceding 30 minutes — the batch formulation
    of a watermarked stream-stream interval join (live twin:
    jobs.attribution_join, equality-tested in tests/test_streaming.py).

    Streaming physics: both sides shuffle on user_id; the interval
    condition plus watermarks BOUNDS the join state — each side keeps
    only rows younger than (watermark + 30 min), so state is
    O(rate × horizon), never O(stream)."""
    return attribution_join(load(spark, sf_dir, "events")).orderBy(
        "purchase_id", "click_id"
    )


@register(
    "stream_static_enrichment",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    ORDER BY mktsegment, event_type
    """,
    tags=("streaming", "stream-static-join"),
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: every event joined to the customer
    dimension, then aggregated per (market segment, event type) — the
    batch formulation of the most common streaming topology there is
    (enrich a fact stream against a slowly-changing dim, aggregate).
    Live twin: jobs.enrichment_agg, equality-tested in
    tests/test_streaming.py.

    Streaming physics: a stream-static join keeps NO join state — each
    micro-batch joins against the static relation as of that batch, so
    the only state is the downstream aggregation's (O(groups), here
    segments × types).  The dim side is joined UNHINTED: at this SF
    Catalyst broadcasts it from size stats; at 100 TB of customers the
    planner shuffles instead of OOMing an executor — same
    maybe_broadcast policy as the TPC-H family.  Value sums ride as
    integer cents so both engines (and the stream twin's incremental
    accumulation order) agree bit-for-bit."""
    return enrichment_agg(
        load(spark, sf_dir, "events"), load(spark, sf_dir, "customer")
    ).orderBy("mktsegment", "event_type")


@register(
    "stream_stream_join_left_outer",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           ROUND(p.value, 2) AS purchase_value
    FROM events p
    LEFT JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id, click_id
    """,
    tags=("streaming", "stream-stream-join", "outer"),
)
def stream_stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER click→purchase attribution: every purchase appears,
    with NULL click_id when no same-user click preceded it within 30
    minutes — the "unattributed conversions" report the inner join
    ([[stream_stream_join_attribution]]) structurally cannot produce.

    Streaming physics beyond the inner join's: an outer stream-stream
    join can only emit a null-padded row once the WATERMARK has passed
    the point where a matching click could still arrive — the unmatched
    results trail the data by the watermark delay, and a stopped stream
    does NOT flush unmatched state whose horizon never arrived (the
    live twin's equality test advances the watermark with a sentinel
    event for exactly this reason; see jobs.attribution_join_outer and
    tests/test_streaming.py)."""
    return attribution_join_outer(load(spark, sf_dir, "events")).orderBy(
        "purchase_id", "click_id"
    )


@register(
    "stream_windowed_topk",
    oracle="""
    WITH hourly AS (
      SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) * 3600
               AS window_start_s,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_s, event_type, n_events, sum_cents
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY window_start_s
        ORDER BY n_events DESC, event_type) AS rk
      FROM hourly
    )
    WHERE rk = 1
    ORDER BY window_start_s
    """,
    tags=("streaming", "window", "topk"),
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant event type per 1-hour tumbling window — the "what's
    trending each hour" standing query.  The STREAM maintains only the
    windowed aggregate (per-window per-type counts — the stateful part
    Structured Streaming handles incrementally, twin-tested in
    tests/test_streaming.py::test_windowed_topk_stream_equals_batch);
    the rank-1 selection is a read-time post-pass over the window-keyed
    aggregate, the standard serving split because a streaming rank
    would re-emit a window's winner on every update anyway.

    Scale shape: the aggregate is map-side combined to |windows|×|types|
    rows; the top-k window partitions by window_start_s (hash-parallel,
    calendar-sized).  Ties break deterministically on event_type; value
    sums ride as integer cents (thousands of doubles per group — the
    cross-engine summation-order contract)."""
    hourly = tumbling_cents_agg(load(spark, sf_dir, "events"))
    w = Window.partitionBy("window_start_s").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("window_start_s", "event_type", "n_events", "sum_cents")
        .orderBy("window_start_s")
    )
