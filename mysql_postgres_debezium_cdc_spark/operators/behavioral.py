"""Behavioral / event-stream analytics: sessionization, funnel
conversion, retention cohorts.

The reference's sink is an OLTP replica (SURVEY.md §0); these are the
first queries a product team runs downstream of that replica on the
`events` changelog.  All three are single-pass compositions of window
functions and aggregations over a `user_id` shuffle:

- **Sessionize** — the classic gap-based session assignment: one window
  over (user_id, ts) computes the previous timestamp; a second running
  sum over the same partitioning turns "gap > threshold" boundary flags
  into session ordinals.  Both windows share one hash partitioning by
  user_id, so Catalyst plans a SINGLE shuffle; per-user state is a sort
  run, never materialized whole.  At 100 TB this is the standard
  formulation: sessions never cross users, so the shuffle is the only
  data movement and skew is bounded by the hottest user.
- **Funnel** — per-stage user counts where stage N must occur AFTER the
  user's first stage N-1 event.  Expressed as one conditional
  aggregation per user (no self-joins): min signup ts, min qualifying
  purchase ts, then a global roll-up.  Fact-sized input, two
  frontier-sized aggregations.
- **Retention cohort** — users bucketed by first-activity week; for each
  (cohort-week, week-offset) the number of distinct users active.  Two
  aggregations by user_id then (cohort, offset); the distinct is free
  because (user, week) pairs are already deduped by the first groupBy.

Epoch math is done in MICROseconds (`unix_micros` / DuckDB `epoch_us`)
— integer, identical truncation in both engines, no float rounding at
the hash-compare boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.parquet import load

# 6 hours, in microseconds. The fixtures' median per-user inter-event
# gap at sf0.01 is ~7.3h, so this splits real session structure rather
# than producing one-session-per-user or one-session-per-event.
_SESSION_GAP_US = 6 * 3600 * 1_000_000


_SESSIONIZE_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id,
             epoch_us(ts) AS t_us,
             value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                       > {_SESSION_GAP_US}
                  OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new,
             event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, t_us, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
      FROM flagged
    )
    SELECT user_id,
           session_idx,
           MIN(t_us) // 1000000 AS session_start_s,
           (MAX(t_us) - MIN(t_us)) // 1000000 AS duration_s,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM sess
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
    """


@register(
    "events_sessionize_gap",
    oracle=_SESSIONIZE_ORACLE,
    tags=("behavioral", "session", "window"),
    bench=True,
)
def events_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is
    idle longer than the gap threshold.  Batch twin of
    `stream_session_window` (session_window does the same assignment
    incrementally); this formulation also yields session ordinals.

    Skew note: the per-user window is keyed state — it cannot salt the
    way an aggregation can, so a pathological hot key (one user owning
    half the corpus; measured in PLANS.md's skew probe) sorts in a
    single task.  Real-scale mitigations: AQE's skew split handles the
    preceding exchange, and a two-pass variant (per-(user, time-chunk)
    local sessionization, then a tiny boundary-merge of first/last
    sessions per chunk) bounds the per-task sort when one key truly
    exceeds an executor — the same chunk-then-merge shape as
    text_vocab_head_coverage's banded prefix sum."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("t_us"), "value", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    prev = F.lag("t_us").over(w)
    flagged = ev.withColumn(
        "is_new",
        F.when(prev.isNull() | ((F.col("t_us") - prev) > _SESSION_GAP_US), 1).otherwise(0),
    )
    # Same (t_us, event_id) total order as the lag window: with duplicate
    # per-user timestamps, ordering by t_us alone would make session
    # assignment of tied rows nondeterministic across engines.
    run = Window.partitionBy("user_id").orderBy("t_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.withColumn("session_idx", F.sum("is_new").over(run))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            (F.min("t_us") / 1_000_000).cast("long").alias("session_start_s"),
            ((F.max("t_us") - F.min("t_us")) / 1_000_000).cast("long").alias("duration_s"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
               AS first_signup_us,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               AS first_view_us,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_purchase_us
      FROM events
      GROUP BY user_id
    )
    SELECT
      COUNT(first_signup_us) AS n_signup,
      COUNT(CASE WHEN first_view_us > first_signup_us THEN 1 END)
        AS n_view_after_signup,
      COUNT(CASE WHEN first_purchase_us > first_signup_us THEN 1 END)
        AS n_purchase_after_signup,
      ROUND(COUNT(CASE WHEN first_purchase_us > first_signup_us THEN 1 END)
            * 1.0 / COUNT(first_signup_us), 4) AS conversion_rate
    FROM per_user
    """,
    tags=("behavioral", "funnel"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → later view / purchase) without
    self-joins: one conditional aggregate per user collapses each
    user's history to first-touch timestamps, then a global roll-up
    counts stage survivors.  Two aggregations, no join — the shape
    that holds when `events` is 100 TB and users are millions."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("t_us")
    )

    def first_ts(etype: str):
        return F.min(F.when(F.col("event_type") == etype, F.col("t_us")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup").alias("first_signup_us"),
        first_ts("view").alias("first_view_us"),
        first_ts("purchase").alias("first_purchase_us"),
    )
    after = lambda c: F.count(  # noqa: E731
        F.when(F.col(c) > F.col("first_signup_us"), F.lit(1))
    )
    return per_user.agg(
        F.count("first_signup_us").alias("n_signup"),
        after("first_view_us").alias("n_view_after_signup"),
        after("first_purchase_us").alias("n_purchase_after_signup"),
        F.round(
            after("first_purchase_us") * F.lit(1.0) / F.count("first_signup_us"), 4
        ).alias("conversion_rate"),
    )


@register(
    "events_retention_cohort",
    oracle="""
    WITH weekly AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    ),
    cohorts AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    )
    SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
           date_diff('day', c.cohort_week, w.week) // 7 AS week_offset,
           COUNT(*) AS n_active_users
    FROM weekly w JOIN cohorts c USING (user_id)
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    tags=("behavioral", "retention"),
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users cohorted by first-active week, counted
    in each later week they return.  (user, week) pairs are deduped
    first, so the final count needs no DISTINCT; the cohort join is
    user-keyed and reuses the same partitioning as the dedup.  Both
    date_trunc('week') engines snap to Monday; offsets use day-diff/7,
    which is exact on week-aligned dates in either engine."""
    weekly = (
        load(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .distinct()
    )
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohorts, "user_id")
        .groupBy(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_resample_ffill_1h",
    oracle="""
    WITH hourly AS (
      -- integer-cents math: FLOOR(value*100) sums exactly as BIGINT, and
      -- FLOOR(sum/count) applies the SAME rounding in both engines even
      -- for negative sums (Spark DIV truncates toward zero where DuckDB
      -- // floors — they diverge by 1 cent on negative odd sums, so
      -- neither appears here).  ROUND(AVG(double), 2) would tie at the
      -- half-cent differently per summation order.
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             CAST(FLOOR(CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS DOUBLE)
                        / COUNT(*)) AS BIGINT) AS v_cents,
             COUNT(*) AS n
      FROM events GROUP BY event_type, h
    ),
    b AS (
      SELECT MIN(DATE_TRUNC('hour', ts)) AS lo, MAX(DATE_TRUNC('hour', ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN b
      CROSS JOIN UNNEST(GENERATE_SERIES(b.lo, b.hi, INTERVAL 1 HOUR)) AS g(h)
    )
    SELECT g.event_type,
           CAST(EPOCH(g.h) AS BIGINT) AS hour_s,
           LAST_VALUE(hourly.v_cents IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.h
             ROWS UNBOUNDED PRECEDING) AS v_cents_filled,
           (hourly.n IS NULL) AS is_gap
    FROM grid g
    LEFT JOIN hourly ON hourly.event_type = g.event_type AND hourly.h = g.h
    ORDER BY g.event_type, hour_s
    """,
    tags=("behavioral", "timeseries"),
)
def events_resample_ffill_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the event stream onto a fixed 1-hour grid with
    forward-fill — the gap-filling primitive every feature pipeline
    needs before aligning signals for training (sensor streams have
    holes; models want dense grids).

    Plan shape at scale: the hourly pre-aggregate collapses the raw
    stream FIRST (one keyed shuffle carries (type, hour) rows, never
    events); the dense grid is generated per key with `sequence` +
    `explode` from a broadcast 1-row bounds relation (no driver-side
    loop, no collect); the forward fill is `last(v, ignorenulls)` over
    a key-partitioned window — state bounded by grid length per key.
    Filling runs per event_type partition, so 10⁶ keys × dense grids
    parallelize trivially."""
    ev = load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(F.col("event_type"), hour.alias("h")).agg(
        # FLOOR(sum/count), not DIV: DIV truncates toward zero while the
        # oracle-side // floors — identical only for non-negative sums.
        F.floor(
            F.sum(F.floor(F.col("value") * 100).cast("bigint")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("v_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    bounds = ev.agg(
        F.min(hour).alias("lo"), F.max(hour).alias("hi")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_timestamp("h").alias("hour_s"),
            F.last("v_cents", ignorenulls=True).over(w).alias("v_cents_filled"),
            F.col("n").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "hour_s")
    )


@register(
    "events_cumulative_unique_users",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, STRFTIME(MIN(CAST(ts AS DATE)), '%Y-%m-%d') AS day
      FROM events GROUP BY user_id
    ),
    daily AS (SELECT day, COUNT(*) AS n_new FROM first_seen GROUP BY day)
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM daily
    ORDER BY day
    """,
    tags=("behavioral", "retention", "window"),
)
def events_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users by day — the growth curve every product
    dashboard draws.  A windowed COUNT(DISTINCT) is unsupported (and
    would be quadratic); the standard reformulation counts each user on
    their FIRST day and prefix-sums the per-day news.

    Scale: the corpus pass is one groupBy(user) min — partial-agg
    frontier shuffle.  The running sum's unpartitioned window runs over
    the per-DAY relation, bounded by the calendar, not the data (same
    bounded-global-window argument as corpus_train_val_test_split)."""
    ev = load(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_format(F.min(F.to_date("ts")), "yyyy-MM-dd").alias("day")
    )
    daily = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "n_new", F.sum("n_new").over(w).cast("bigint").alias("cumulative_users")
    ).orderBy("day")


@register(
    "events_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type, STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             ROUND(SUM(value), 2) AS daily_value
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, MEDIAN(daily_value) AS med FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day, d.daily_value, m.med,
             ABS(d.daily_value - m.med) AS adev
      FROM daily d JOIN med m ON d.event_type = m.event_type
    ),
    mad AS (SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type, d.day, d.daily_value,
           ROUND(CASE WHEN k.mad = 0 THEN NULL ELSE d.adev / k.mad END, 3) AS mad_score
    FROM dev d JOIN mad k ON d.event_type = k.event_type
    WHERE CASE WHEN k.mad = 0 THEN NULL ELSE d.adev / k.mad END >= 3
    ORDER BY d.event_type, d.day
    """,
    tags=("behavioral", "anomaly"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-anomaly report: days whose value deviates from the
    per-type median by ≥3 median-absolute-deviations.  MAD-based
    scoring survives the heavy-tailed metrics that break mean/stddev
    z-scores (one spike inflates a stddev; it barely moves a MAD).

    The corpus pass is the first daily aggregate; the median/MAD/score
    stages all operate on the per-(type, day) relation — bounded by
    |types| × calendar.  Exact medians on both engines interpolate the
    two middle values identically, and inputs are pre-rounded to 2dp,
    so the score threshold compares the same doubles."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.round(F.sum("value"), 2).alias("daily_value")
    )
    med = daily.groupBy("event_type").agg(F.median("daily_value").alias("med"))
    dev = daily.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("daily_value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    score = F.when(F.col("mad") != 0, F.col("adev") / F.col("mad"))
    return (
        dev.join(mad, "event_type")
        .where(score >= 3)
        .select(
            "event_type",
            "day",
            "daily_value",
            F.round(score, 3).alias("mad_score"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "events_multi_granularity_rollup",
    oracle="""
    WITH b AS (
      -- epoch_us // 1000000 floors to whole seconds like Spark's
      -- unix_timestamp; epoch(ts)::BIGINT would ROUND the fractional
      -- part and shift boundary events into the next bucket.
      SELECT event_type, value,
             (epoch_us(ts) // 1000000 // 900) * 900     AS b15m,
             (epoch_us(ts) // 1000000 // 3600) * 3600   AS b1h,
             (epoch_us(ts) // 1000000 // 86400) * 86400 AS b1d
      FROM events
    )
    SELECT CASE WHEN b15m IS NOT NULL THEN '15m'
                WHEN b1h IS NOT NULL THEN '1h'
                ELSE '1d' END AS grain,
           COALESCE(b15m, b1h, b1d) AS bucket_s,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM b
    GROUP BY GROUPING SETS ((b15m, event_type), (b1h, event_type), (b1d, event_type))
    ORDER BY grain, bucket_s, event_type
    """,
    tags=("behavioral", "timeseries", "rollup"),
)
def events_multi_granularity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: 15-minute, hourly
    and daily buckets of the event stream in ONE pass via GROUPING SETS
    over precomputed bucket columns (closed-form epoch arithmetic — no
    range join, no calendar table).

    Physical shape: Spark plans grouping sets as a single scan +
    Expand(×3) + one hash aggregation — the same cost profile as the
    finest grain alone, and the standard way a 100 TB metrics pipeline
    maintains multiple downsample levels without re-reading the source
    per level.  Bucket values are BIGINT epoch seconds, exact in both
    engines; the grain label is derivable from which bucket column
    survived the grouping set (coarser grains aggregate strictly more
    rows, so ambiguity is impossible: a 15m bucket key is non-null only
    in its own set)."""
    ev = load(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    b = ev.select(
        "event_type",
        "value",
        ((epoch / 900).cast("bigint") * 900).alias("b15m"),
        ((epoch / 3600).cast("bigint") * 3600).alias("b1h"),
        ((epoch / 86400).cast("bigint") * 86400).alias("b1d"),
    )
    grouped = b.groupingSets(
        [["b15m", "event_type"], ["b1h", "event_type"], ["b1d", "event_type"]],
        "b15m",
        "b1h",
        "b1d",
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    grain = (
        F.when(F.col("b15m").isNotNull(), "15m")
        .when(F.col("b1h").isNotNull(), "1h")
        .otherwise("1d")
    )
    return grouped.select(
        grain.alias("grain"),
        F.coalesce("b15m", "b1h", "b1d").alias("bucket_s"),
        "event_type",
        "n_events",
        "sum_value",
    ).orderBy("grain", "bucket_s", "event_type")


@register(
    "events_markov_transition",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n,
           ROUND(CAST(p.n AS DOUBLE) / t.n_from, 4) AS p_transition
    FROM pairs p JOIN totals t ON p.from_type = t.from_type
    ORDER BY p.from_type, p.to_type
    """,
    tags=("behavioral", "markov"),
)
def events_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order user-journey transition matrix: P(next event type |
    current type), from per-user time-ordered event sequences — the
    flow map behind funnel design and next-action models.

    One window pass keyed by user (LEAD over (ts, event_id) — unique
    tie-break, so sequences are identical cross-engine), then counts on
    the |types|² relation; transition totals aggregate the PAIRS
    relation, never the event stream twice."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = ordered.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = pairs.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return (
        pairs.join(totals, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_from"), 4).alias(
                "p_transition"
            ),
        )
        .orderBy("from_type", "to_type")
    )


EWMA_ALPHA = 0.5  # power-of-two smoothing factor: every fold step is exact
# binary-float arithmetic (x*0.5 has no rounding), which together with the
# fixed fold ORDER makes the whole recursion bit-identical across engines.


@register(
    "events_ewma_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
      FROM events GROUP BY 1, 2
    ),
    serieswide AS (
      SELECT event_type,
             LIST(CAST(EPOCH(h) AS BIGINT) ORDER BY h) AS hs,
             LIST(CAST(v_cents AS DOUBLE) ORDER BY h) AS vs
      FROM hourly GROUP BY event_type
    ),
    stepped AS (
      SELECT event_type, hs[i] AS hour_s, CAST(vs[i] AS BIGINT) AS v_cents,
             LIST_REDUCE(vs[1:i],
                         (acc, x) -> x * {EWMA_ALPHA} + acc * (1 - {EWMA_ALPHA}))
               AS ewma
      FROM serieswide, LATERAL (SELECT UNNEST(RANGE(1, LEN(vs) + 1)) AS i)
    )
    SELECT event_type, hour_s, v_cents, ewma
    FROM stepped
    ORDER BY event_type, hour_s
    """,
    tags=("behavioral", "timeseries", "pandas"),
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over each event type's
    hourly totals — the smoothing pass behind every monitoring/
    forecasting baseline (trend lines, anomaly thresholds, rate
    limiting), and a RECURSION (sₖ = α·xₖ + (1−α)·sₖ₋₁) that window
    frames cannot express: prefix aggregates compose associatively,
    EWMA does not.

    The engine runs it as the canonical stateful-timeseries shape: one
    shuffle keys the stream by event_type, then applyInPandas folds
    each key's hour-ordered series sequentially in Arrow batches —
    per-key state is one double, work is linear, and 10⁶ keys
    parallelize across executors (same shape as sessionization; a
    per-key series too long for one batch moves to
    applyInPandasWithState, streaming/jobs.py).

    Cross-engine determinism is engineered, not lucky: α = 0.5 makes
    every fold step exact in binary floating point, the hourly inputs
    are exact integer cents, and the oracle's LIST_REDUCE applies the
    IDENTICAL operation order — so the unrounded doubles agree
    bit-for-bit and are emitted raw.  (Rounding would actually BREAK
    parity here: the exact binary fold produces exact .xxx5 ties, where
    Python's round-half-even and SQL ROUND's half-away disagree.)"""
    import pandas as pd

    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(F.floor(F.col("value") * 100).cast("bigint")).alias("v_cents")
    ).select(
        "event_type", F.unix_timestamp("h").alias("hour_s"), "v_cents"
    )

    def ewma(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("hour_s", ignore_index=True)
        s = None
        out = []
        for x in pdf["v_cents"].astype(float):
            s = x if s is None else x * EWMA_ALPHA + s * (1 - EWMA_ALPHA)
            out.append(s)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "hour_s": pdf["hour_s"],
                "v_cents": pdf["v_cents"],
                "ewma": out,
            }
        )

    return (
        hourly.groupBy("event_type")
        .applyInPandas(
            ewma, "event_type string, hour_s bigint, v_cents bigint, ewma double"
        )
        .orderBy("event_type", "hour_s")
    )


# Chunk width for the skew-bounded sessionizer: 4× the session gap, so
# boundary merges stay rare relative to in-chunk assignments.
_SESSION_CHUNK_US = 4 * _SESSION_GAP_US


@register(
    "events_sessionize_gap_chunked",
    oracle=_SESSIONIZE_ORACLE,
    tags=("behavioral", "session", "window", "skew"),
)
def events_sessionize_gap_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-bounded sessionization — IDENTICAL results to
    [[events_sessionize_gap]] (same oracle text certifies both), but no
    task ever sorts more than one (user, time-chunk) slice, so a single
    pathological user owning half the corpus (PLANS.md's skew probe)
    parallelizes across its chunks instead of serializing one task.

    The chunk-then-merge decomposition (the prefix-sum device of
    text_vocab_head_coverage, applied to keyed windows):

    1. windows run PARTITIONED BY (user, chunk) — the in-chunk lag sees
       every gap except each chunk's first row;
    2. the BOUNDARY relation (one row per non-empty (user, chunk): last
       event time, count of in-chunk session starts) is events-free;
       a per-user lag over it supplies each chunk's previous-existing-
       chunk last timestamp, fixing the first-row flags, and a per-user
       running sum supplies each chunk's session-ordinal OFFSET;
    3. global session_idx = in-chunk running index + chunk offset.

    The boundary relation is users × active-chunks — data-sized but
    tiny relative to events, and its windows are per-user over CHUNK
    rows, not event rows.  The flagged relation persists because both
    the boundary aggregate and the final assembly consume it (same
    justified-persist as the vocab-coverage term counts; at cluster
    scale this is a MEMORY_AND_DISK cache or a checkpoint).  One extra
    small shuffle vs the single-window form buys the bounded-task
    guarantee."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("t_us"), "value", "event_id"
    )
    ev = ev.withColumn("chunk", (F.col("t_us") / _SESSION_CHUNK_US).cast("long"))
    w_chunk = Window.partitionBy("user_id", "chunk").orderBy("t_us", "event_id")
    prev_in = F.lag("t_us").over(w_chunk)
    flagged = ev.withColumn("prev_in", prev_in).persist()

    # Boundary relation: per (user, chunk) last event + in-chunk new-session
    # count for every NON-FIRST row (first rows resolve against the
    # previous chunk below).
    inner_new = F.when(
        F.col("prev_in").isNotNull()
        & ((F.col("t_us") - F.col("prev_in")) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    bounds = flagged.groupBy("user_id", "chunk").agg(
        F.max("t_us").alias("last_t"),
        F.min("t_us").alias("first_t"),
        F.sum(inner_new).alias("n_inner_new"),
    )
    w_user = Window.partitionBy("user_id").orderBy("chunk")
    bounds = bounds.withColumn("prev_last", F.lag("last_t").over(w_user))
    first_new = F.when(
        F.col("prev_last").isNull()
        | ((F.col("first_t") - F.col("prev_last")) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    bounds = bounds.withColumn("n_new", F.col("n_inner_new") + first_new)
    w_off = Window.partitionBy("user_id").orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bounds.select(
        "user_id",
        "chunk",
        "prev_last",
        F.coalesce(F.sum("n_new").over(w_off), F.lit(0)).alias("idx_offset"),
    )

    # Final assembly: resolve each row's previous event (in-chunk lag or
    # the previous chunk's last), flag, in-chunk running index + offset.
    joined = flagged.join(offsets, ["user_id", "chunk"])
    prev_t = F.coalesce(F.col("prev_in"), F.col("prev_last"))
    is_new = F.when(
        prev_t.isNull() | ((F.col("t_us") - prev_t) > _SESSION_GAP_US), 1
    ).otherwise(0)
    run = w_chunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = joined.withColumn("is_new", is_new).withColumn(
        "session_idx", (F.sum("is_new").over(run) + F.col("idx_offset")).cast("bigint")
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            (F.min("t_us") / 1_000_000).cast("long").alias("session_start_s"),
            ((F.max("t_us") - F.min("t_us")) / 1_000_000).cast("long").alias("duration_s"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "events_seasonal_naive_eval",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    joined AS (
      SELECT cur.event_type, cur.n AS actual, prev.n AS predicted
      FROM hourly cur
      JOIN hourly prev
        ON prev.event_type = cur.event_type
       AND prev.h = cur.h - INTERVAL 24 HOURS
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(AVG(ABS(actual - predicted)), 4) AS mae,
           ROUND(SQRT(AVG(CAST((actual - predicted) * (actual - predicted)
                               AS DOUBLE))), 4) AS rmse,
           CAST(MAX(ABS(actual - predicted)) AS BIGINT) AS max_abs_err
    FROM joined
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("behavioral", "timeseries", "forecast"),
)
def events_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each hour's event
    count with the SAME HOUR YESTERDAY (the t−24h baseline every
    anomaly detector and capacity forecast is judged against) and
    report per-type MAE / RMSE / worst-hour error.  The prediction
    joins on the exact timestamp h−24h — NOT "24 rows back" — so
    missing hours create no silent misalignment (the gap-vs-lag
    distinction [[events_resample_ffill_1h]] exists to handle).

    Scale shape: hourly counts are one map-side-combining groupBy
    (shuffle carries (type, hour) keys); the self-join is equi on
    (type, hour−24) over the hour-keyed aggregate — co-partitioned
    frontier-sized relations, not events; the final rollup is
    |event_type|-sized.  Errors are exact integers; MAE/RMSE are
    single divisions + sqrt of integer sums, rounded 4dp for
    presentation only."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = hourly.select("event_type", "h", F.col("n").alias("actual"))
    prev = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("n").alias("predicted"),
    )
    joined = cur.join(prev, ["event_type", "h"])
    err = F.col("actual") - F.col("predicted")
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.avg(F.abs(err)), 4).alias("mae"),
            F.round(F.sqrt(F.avg((err * err).cast("double"))), 4).alias("rmse"),
            F.max(F.abs(err)).cast("bigint").alias("max_abs_err"),
        )
        .orderBy("event_type")
    )


ANOM_K = 3.0  # flag hours whose |residual| exceeds K x MAD


@register(
    "events_seasonal_anomaly_hours",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    res AS (
      SELECT cur.event_type, cur.h,
             cur.n - prev.n AS r
      FROM hourly cur
      JOIN hourly prev
        ON prev.event_type = cur.event_type
       AND prev.h = cur.h - INTERVAL 24 HOURS
    ),
    med AS (
      SELECT event_type, MEDIAN(r) AS med_r FROM res GROUP BY event_type
    ),
    mad AS (
      SELECT r.event_type, MEDIAN(ABS(r.r - m.med_r)) AS mad_r
      FROM res r JOIN med m ON m.event_type = r.event_type
      GROUP BY r.event_type
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           m.mad_r AS mad_residual,
           CAST(COUNT(*) FILTER (
             ABS(r.r - md.med_r) > {ANOM_K} * m.mad_r) AS BIGINT)
             AS n_anomalous
    FROM res r
    JOIN mad m ON m.event_type = r.event_type
    JOIN med md ON md.event_type = r.event_type
    GROUP BY r.event_type, m.mad_r
    ORDER BY r.event_type
    """,
    tags=("behavioral", "timeseries", "anomaly"),
)
def events_seasonal_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly DETECTION — the composition the
    [[events_seasonal_naive_eval]] baseline exists for: residual =
    actual − same-hour-yesterday, robust scale = MAD of the residuals
    per type, anomalous hour = |residual − median| > K·MAD (the
    [[events_anomaly_mad]] robustness argument applied to the
    DESEASONALIZED series, so a daily traffic cycle doesn't masquerade
    as anomalies the way it would under a raw-count MAD).

    Float parity without rounding: residuals are exact integers, and
    MEDIAN over integers lands on .0/.5 exactly in double for both
    engines, so medians, MADs, and every threshold comparison are
    bit-deterministic — the value hash pins the detector's decisions,
    not a rounded summary.

    Scale shape: hourly counts and the t−24h join are the eval op's
    frontier-sized relations; medians aggregate per event_type
    (bounded groups), and the flag pass re-joins two |types|-sized
    relations — broadcast at any scale."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = hourly.select("event_type", "h", F.col("n").alias("actual"))
    prev = hourly.select(
        "event_type",
        (F.col("h") + F.expr("INTERVAL 24 HOURS")).alias("h"),
        F.col("n").alias("predicted"),
    )
    res = cur.join(prev, ["event_type", "h"]).select(
        "event_type", (F.col("actual") - F.col("predicted")).alias("r")
    )
    med = res.groupBy("event_type").agg(F.median("r").alias("med_r"))
    mad = (
        res.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("r") - F.col("med_r"))).alias("mad_r"))
    )
    flagged = (
        res.join(F.broadcast(mad), "event_type")
        .join(F.broadcast(med), "event_type")
        .groupBy("event_type", "mad_r")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(
                F.when(
                    F.abs(F.col("r") - F.col("med_r")) > ANOM_K * F.col("mad_r"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalous"),
        )
    )
    return flagged.select(
        "event_type", "n_hours", F.col("mad_r").alias("mad_residual"), "n_anomalous"
    ).orderBy("event_type")


_DISORDER_LATE_1_US = 60 * 1_000_000  # 1-minute lateness band
_DISORDER_LATE_2_US = 600 * 1_000_000  # 10-minute lateness band


@register(
    "events_disorder_audit",
    oracle=f"""
    WITH arr AS (
      SELECT event_type,
             GREATEST(
               COALESCE(MAX(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 epoch_us(ts)) - epoch_us(ts), 0) AS delay_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN delay_us > {_DISORDER_LATE_1_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1m,
           CAST(SUM(CASE WHEN delay_us > {_DISORDER_LATE_2_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
           CAST(MAX(delay_us) // 1000000 AS BIGINT) AS max_delay_s
    FROM arr
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("behavioral", "streaming", "observability"),
)
def events_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME DISORDER audit — the measurement that SIZES a
    watermark: for each event, its lateness versus the maximum event
    time its OWN key had already emitted in arrival order (event_id —
    the synth stream's delivery order, and Kafka's per-key guarantee:
    order holds within a key's partition, so the per-key frontier is
    the honest disorder yardstick, exactly the per-key-per-partition
    contract the CDC property family pins).  Reported per event type:
    how many events arrived >1 min / >10 min behind their key's
    frontier, and the worst delay — the histogram a streaming team
    reads before choosing `withWatermark` bounds (too tight drops the
    n_late tail; too loose holds state).  Complements the window
    twins, which ASSUME a watermark; this measures what it should be.

    Scale shape: the frontier is a per-key running MAX — a keyed
    window over (user_id, event_id), the same partitioning every
    sessionizer here uses (no global ordering anywhere); the rollup is
    a map-side-combining groupBy on the bounded event_type key."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros(F.col("ts")).alias("t_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    delay = F.greatest(
        F.coalesce(F.max("t_us").over(w), F.col("t_us")) - F.col("t_us"), F.lit(0)
    )
    return (
        ev.select("event_type", delay.alias("delay_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("delay_us") > _DISORDER_LATE_1_US, 1).otherwise(0))
            .cast("bigint")
            .alias("n_late_1m"),
            F.sum(F.when(F.col("delay_us") > _DISORDER_LATE_2_US, 1).otherwise(0))
            .cast("bigint")
            .alias("n_late_10m"),
            F.floor(F.max("delay_us") / 1_000_000).cast("bigint").alias("max_delay_s"),
        )
        .orderBy("event_type")
    )


CPD_W = 24  # two-sample window width (hours) on each side
CPD_THRESHOLD = 0.8  # |shift| in per-type stddev units


@register(
    "events_changepoint_window",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, (epoch_us(ts) // 1000000 // 3600) * 3600 AS bucket_s,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, STDDEV_SAMP(cnt) AS sd, COUNT(*) AS n
      FROM hourly GROUP BY event_type
    ),
    w AS (
      SELECT h.event_type, h.bucket_s, h.cnt, st.sd, st.n,
             ROW_NUMBER() OVER win AS rn,
             AVG(h.cnt) OVER (
               win ROWS BETWEEN {CPD_W} PRECEDING AND 1 PRECEDING
             ) AS before_avg,
             AVG(h.cnt) OVER (
               win ROWS BETWEEN CURRENT ROW AND {CPD_W - 1} FOLLOWING
             ) AS after_avg
      FROM hourly h JOIN st ON st.event_type = h.event_type
      WINDOW win AS (PARTITION BY h.event_type ORDER BY h.bucket_s)
    )
    SELECT event_type, bucket_s, cnt,
           ROUND(before_avg, 4) AS before_avg,
           ROUND(after_avg, 4) AS after_avg,
           ROUND((after_avg - before_avg) / sd, 4) AS shift_score
    FROM w
    WHERE rn > {CPD_W} AND rn <= n - {CPD_W - 1}
      AND ABS(ROUND((after_avg - before_avg) / sd, 4)) >= {CPD_THRESHOLD}
    ORDER BY event_type, bucket_s
    """,
    tags=("behavioral", "timeseries", "changepoint"),
)
def events_changepoint_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection on the hourly event-rate series via the
    two-sample sliding-window statistic: at each hour, compare the mean
    rate of the NEXT {CPD_W} hours against the PREVIOUS {CPD_W}, in
    units of the per-type stddev; hours where the normalized shift
    clears {CPD_THRESHOLD} are level-shift candidates.  This is the
    window-expressible cousin of CUSUM — the running-reset recurrence
    CUSUM needs is sequential, while the two-window statistic is a pair
    of frame aggregates Catalyst plans as ONE window sort, so it
    distributes (and backfills historical series) for free.

    Scale shape: the corpus pass is the hourly pre-aggregation
    (map-side combine to |types| x hours rows); the window partitions
    by event_type — bounded parallelism per type, but the windowed
    relation is calendar-sized, not event-sized, so a single partition
    per type holds years of hours comfortably.  Edge hours without a
    full window on both sides are excluded (rn bounds), so every score
    compares equal-width samples.

    Float parity: counts are exact BIGINTs; frame AVG and the stddev
    divide evaluate with identical expression shape in both engines,
    and the flag threshold applies to the ROUNDED (4dp) score so the
    boundary cannot flicker on the last float bit."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("bucket_s"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    st = hourly.groupBy("event_type").agg(
        F.stddev_samp("cnt").alias("sd"), F.count(F.lit(1)).alias("n")
    )
    win = Window.partitionBy("event_type").orderBy("bucket_s")
    scored = (
        hourly.join(st, "event_type")
        .withColumn("rn", F.row_number().over(win))
        .withColumn("before_avg", F.avg("cnt").over(win.rowsBetween(-CPD_W, -1)))
        .withColumn("after_avg", F.avg("cnt").over(win.rowsBetween(0, CPD_W - 1)))
        .withColumn(
            "shift_score",
            F.round((F.col("after_avg") - F.col("before_avg")) / F.col("sd"), 4),
        )
    )
    return (
        scored.where(
            (F.col("rn") > CPD_W)
            & (F.col("rn") <= F.col("n") - (CPD_W - 1))
            & (F.abs(F.col("shift_score")) >= CPD_THRESHOLD)
        )
        .select(
            "event_type",
            "bucket_s",
            "cnt",
            F.round("before_avg", 4).alias("before_avg"),
            F.round("after_avg", 4).alias("after_avg"),
            "shift_score",
        )
        .orderBy("event_type", "bucket_s")
    )


# Deterministic variant assignment: a multiplicative hash folded through
# an odd prime modulus BEFORE the %2 — a bare (user_id * odd) % 2 would
# just be user_id's parity, correlating the arms with any id-structured
# behavior.  Conversion = "any purchase over 150": the fixture's plain
# any-purchase rate saturates at 1.0, which zeroes the pooled-variance
# denominator (sqrt(p(1-p)) = 0) — a degenerate experiment, not a metric.
AB_HASH_MUL = 2654435761
AB_HASH_MOD = 97
AB_CONV_VALUE = 150


@register(
    "events_ab_test_eval",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CAST(((user_id * {AB_HASH_MUL}) % {AB_HASH_MOD}) % 2 AS INT)
               AS variant,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                            AND value > {AB_CONV_VALUE} THEN 1 ELSE 0 END)
                  AS INT) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM users GROUP BY variant
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_users END) AS n_a,
        MAX(CASE WHEN variant = 0 THEN n_converted END) AS conv_a,
        MAX(CASE WHEN variant = 1 THEN n_users END) AS n_b,
        MAX(CASE WHEN variant = 1 THEN n_converted END) AS conv_b
      FROM arms
    )
    -- degenerate guard (unicode/skew-sweep finding): 0 or 100%% pooled
    -- conversion zeroes the pooled variance — NULL z, not-significant 0
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(conv_a * 1.0 / n_a, 4) AS rate_a,
           ROUND(conv_b * 1.0 / n_b, 4) AS rate_b,
           CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
             ROUND(
               (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
               / SQRT(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                      * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                      * (1.0 / n_a + 1.0 / n_b)), 4)
           END AS z_score,
           CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
                 AND ABS(ROUND(
             (conv_a * 1.0 / n_a - conv_b * 1.0 / n_b)
             / SQRT(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                    * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 4)) >= 1.96
           THEN 1 ELSE 0 END AS significant_95
    FROM wide
    """,
    tags=("behavioral", "experiment", "abtest"),
)
def events_ab_test_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split deterministically into two
    arms (multiplicative hash of user_id — the assignment an
    experimentation platform derives from a stable unit id, no RNG so
    both engines agree), arm conversion = "user has a purchase over
    {AB_CONV_VALUE}", and the two-proportion pooled z-test with a 95%
    significance flag — the end-of-experiment scorecard computed
    entirely in-warehouse.

    Scale shape: ONE user_id-keyed aggregation over the fact table
    (map-side combined; conversion is a per-user MAX, not a join), then
    a 2-row arm roll-up and 1-row scalar arithmetic — the corpus pass
    is a single shuffle and everything after is constant-sized.  At
    100 TB the per-user relation is |users|-sized, the standard funnel
    cardinality.

    Float parity: counts are exact BIGINTs; rates and the z statistic
    are computed with the identical expression tree in both engines and
    rounded 4dp (quotients of large co-prime integers — never an exact
    decimal boundary); the significance flag tests the ROUNDED z so the
    cutoff cannot flicker."""
    ev = load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_VALUE),
                1,
            ).otherwise(0)
        )
        .cast("int")
        .alias("converted")
    ).select(
        (((F.col("user_id") * AB_HASH_MUL) % AB_HASH_MOD) % 2)
        .cast("int")
        .alias("variant"),
        "converted",
    )
    arms = users.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a") * 1.0 / F.col("n_a")
    rate_b = F.col("conv_b") * 1.0 / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    # degenerate guard (unicode/skew-sweep finding): 0 or 100% pooled
    # conversion zeroes the pooled variance — ANSI would throw where
    # DuckDB emits inf; both engines now emit NULL z / not-significant
    conv_t = F.col("conv_a") + F.col("conv_b")
    n_t = F.col("n_a") + F.col("n_b")
    defined = (conv_t > 0) & (conv_t < n_t)
    z = F.when(
        defined,
        F.round(
            (rate_a - rate_b)
            / F.sqrt(
                pooled * (1.0 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            ),
            4,
        ),
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(rate_a, 4).alias("rate_a"),
        F.round(rate_b, 4).alias("rate_b"),
        z.alias("z_score"),
        F.when(F.abs(z) >= 1.96, 1).otherwise(0).alias("significant_95"),
    )


BUSY_TOPN = 5  # busiest hours kept per event type


@register(
    "join_interval_overlap",
    # Oracle = the DEFINITION: a range-predicate join (overlap iff
    # start < hour_end AND hour_start <= end).  The engine answers it
    # with the grain-bucketed decomposition instead; the value hash
    # proves decomposition ≡ definition.
    oracle=f"""
    WITH sessions AS ({_SESSIONIZE_ORACLE}),
    bounds AS (
      SELECT user_id, session_idx, session_start_s,
             session_start_s + duration_s AS session_end_s
      FROM sessions
    ),
    hourly AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_s,
             CAST(COUNT(*) AS BIGINT) AS hour_cnt
      FROM events GROUP BY 1, 2
    ),
    busy AS (
      SELECT event_type, hour_s, hour_cnt FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY hour_cnt DESC, hour_s) AS rk
        FROM hourly
      ) WHERE rk <= {BUSY_TOPN}
    )
    SELECT s.user_id, s.session_idx, s.session_start_s, s.session_end_s,
           b.event_type, b.hour_s AS busy_hour_s, b.hour_cnt
    FROM bounds s JOIN busy b
      ON s.session_start_s < b.hour_s + 3600 AND b.hour_s <= s.session_end_s
    ORDER BY s.user_id, s.session_idx, b.event_type, b.hour_s
    """,
    tags=("join", "interval", "behavioral"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: which user sessions were live during the
    {BUSY_TOPN} busiest hours of each event type — the time-range join
    behind incident attribution ("who was online during the error
    storm") and ad-window exposure.  Composes the certified gap
    sessionizer ([[events_sessionize_gap]]) for the interval side.

    A naive overlap join is a range-predicate theta join — quadratic,
    and Spark can only nested-loop it.  The engine DECOMPOSES to the
    hour grain instead: each session explodes into the hour buckets it
    covers (expansion = duration/grain, the bounded fan-out knob) and
    the busy side keys by its own hour, turning the theta join into a
    hash EQUI-join on bucket.  Because busy intervals are exactly
    hour-aligned, the bucket match IS the overlap predicate — no
    residual verify, no dedup.  For arbitrary-width right intervals the
    same shape adds a post-join residual filter (the [[join_range_bucket]]
    contract).  The DuckDB oracle runs the quadratic definition, so the
    value check proves the decomposition exact.

    Scale shape: sessions and buckets are narrow derivations; the
    equi-join shuffles on bucket (hash-parallel, calendar-domain keys);
    busy is |types|·{BUSY_TOPN} rows and broadcasts."""
    from mysql_postgres_debezium_cdc_spark.registry import all_queries

    sess = (
        all_queries()["events_sessionize_gap"]
        .fn(spark, sf_dir)
        .select(
            "user_id",
            "session_idx",
            "session_start_s",
            (F.col("session_start_s") + F.col("duration_s")).alias("session_end_s"),
        )
    )
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("hour_s"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("hour_cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("hour_cnt"), F.asc("hour_s"))
    busy = (
        hourly.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BUSY_TOPN)
        .select("event_type", "hour_s", "hour_cnt", (F.col("hour_s") / 3600).cast("bigint").alias("bucket"))
    )
    exploded = sess.select(
        "user_id",
        "session_idx",
        "session_start_s",
        "session_end_s",
        F.explode(
            F.sequence(
                F.expr("session_start_s DIV 3600"), F.expr("session_end_s DIV 3600")
            )
        ).alias("bucket"),
    )
    return (
        exploded.join(F.broadcast(busy), "bucket")
        .select(
            "user_id",
            "session_idx",
            "session_start_s",
            "session_end_s",
            "event_type",
            F.col("hour_s").alias("busy_hour_s"),
            "hour_cnt",
        )
        .orderBy("user_id", "session_idx", "event_type", "busy_hour_s")
    )


@register(
    "events_rfm_segmentation",
    oracle="""
    WITH anchor AS (
      SELECT MAX(epoch_us(ts)) // 1000000 AS t_max FROM events
    ),
    rfm AS (
      SELECT user_id,
             CAST((a.t_max - MAX(epoch_us(ts)) // 1000000) // 86400 AS BIGINT)
               AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS monetary_cents
      FROM events CROSS JOIN anchor a
      GROUP BY user_id, a.t_max
    ),
    cuts AS (
      SELECT QUANTILE_CONT(recency_days, 0.5) AS r_med,
             QUANTILE_CONT(frequency, 0.5) AS f_med,
             QUANTILE_CONT(monetary_cents, 0.5) AS m_med
      FROM rfm
    ),
    scored AS (
      SELECT user_id, recency_days, frequency, monetary_cents,
             CASE WHEN recency_days <= c.r_med THEN 2 ELSE 1 END AS r_score,
             CASE WHEN frequency > c.f_med THEN 2 ELSE 1 END AS f_score,
             CASE WHEN monetary_cents > c.m_med THEN 2 ELSE 1 END AS m_score
      FROM rfm CROSS JOIN cuts c
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
           CAST(MIN(user_id) AS BIGINT) AS sample_user
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score DESC, f_score DESC, m_score DESC
    """,
    tags=("behavioral", "segmentation", "rfm"),
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-base cut: per user, days since last activity, event count,
    and purchase spend; each dimension split at its corpus median into
    hi/lo, yielding the 8 canonical segments (2-2-2 = champions,
    1-1-1 = lost, etc.) with size and revenue per segment.

    Scale shape: ONE user_id-keyed aggregation over the fact table
    (map-side combined), then median cuts via the broadcast-scalar
    device ([[corpus_curriculum_order]] — one exact-percentile
    aggregate collapsing to 3 scalars, never a global NTILE), a narrow
    scoring map, and an 8-row rollup.  The anchor timestamp (corpus
    max) is a 1-row broadcast, so "recency" is reproducible, not
    wall-clock-dependent.

    Exactness: recency/frequency/monetary are pure BIGINTs (floor-
    divided days, integer cents); medians follow the established
    cross-engine interpolation contract and the hi/lo comparisons are
    BIGINT-vs-median with half-integer medians at worst — a .5 boundary
    sits BETWEEN integers, so the comparison cannot flicker."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / 1_000_000).cast("bigint").alias("t_s"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    anchor = ev.agg(F.max("t_s").alias("t_max"))
    rfm = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "t_max")
        .agg(
            F.max("t_s").alias("last_s"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(0)
            )
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .select(
            "user_id",
            F.expr("(t_max - last_s) DIV 86400").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    cuts = rfm.agg(
        F.percentile("recency_days", 0.5).alias("r_med"),
        F.percentile("frequency", 0.5).alias("f_med"),
        F.percentile("monetary_cents", 0.5).alias("m_med"),
    )
    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "monetary_cents",
        F.when(F.col("recency_days") <= F.col("r_med"), 2).otherwise(1).alias("r_score"),
        F.when(F.col("frequency") > F.col("f_med"), 2).otherwise(1).alias("f_score"),
        F.when(F.col("monetary_cents") > F.col("m_med"), 2).otherwise(1).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
            F.min("user_id").cast("bigint").alias("sample_user"),
        )
        .orderBy(F.desc("r_score"), F.desc("f_score"), F.desc("m_score"))
    )


MARKOV_TEST_MOD = 5  # transitions whose source event_id % 5 == 0 are held out


@register(
    "events_markov_next_eval",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, event_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    transitions AS (
      SELECT event_id, event_type AS from_type, next_type AS to_type,
             CASE WHEN event_id % {MARKOV_TEST_MOD} = 0 THEN 1 ELSE 0 END
               AS is_test
      FROM ordered WHERE next_type IS NOT NULL
    ),
    train AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM transitions WHERE is_test = 0 GROUP BY 1, 2
    ),
    model AS (
      SELECT from_type, to_type AS predicted_next, n AS n_train_votes FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY from_type ORDER BY n DESC, to_type) AS rk
        FROM train
      ) WHERE rk = 1
    )
    SELECT t.from_type, m.predicted_next, m.n_train_votes,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t.to_type = m.predicted_next
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN t.to_type = m.predicted_next
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS accuracy
    FROM transitions t
    JOIN model m ON m.from_type = t.from_type
    WHERE t.is_test = 1
    GROUP BY t.from_type, m.predicted_next, m.n_train_votes
    ORDER BY t.from_type
    """,
    tags=("behavioral", "markov", "eval"),
)
def events_markov_next_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction EVALUATED: hold out every {MARKOV_TEST_MOD}th
    transition (deterministic event_id split — reproducible, no RNG),
    fit the argmax first-order Markov predictor on the rest (ties break
    to the lexically-smallest next type), and score held-out accuracy
    per source state — the train/fit/evaluate loop a sequence-model
    data pipeline runs, expressed as one relational plan so a data
    change that degrades the model FAILS the value gate like the
    recall evals ([[ann_ivf_recall_eval]]).

    Scale shape: one LEAD window keyed by user derives transitions
    (same pass as [[events_markov_transition]]); train counts collapse
    to the |types|² relation; the fitted model is |types| rows and
    BROADCASTS into the test-side scoring join; the eval rollup is
    |types|-sized.  Nothing beyond the one windowed corpus pass scales
    with events.

    Exactness: counts and votes are BIGINTs; accuracy is a quotient of
    counts rounded 4dp (denominators are arbitrary test counts, not
    decimal powers)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        ev.select(
            "event_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .withColumn(
            "is_test",
            F.when(F.col("event_id") % MARKOV_TEST_MOD == 0, 1).otherwise(0),
        )
    )
    train = (
        transitions.where(F.col("is_test") == 0)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w_fit = Window.partitionBy("from_type").orderBy(F.desc("n"), F.asc("to_type"))
    model = (
        train.withColumn("rk", F.row_number().over(w_fit))
        .where(F.col("rk") == 1)
        .select(
            "from_type",
            F.col("to_type").alias("predicted_next"),
            F.col("n").alias("n_train_votes"),
        )
    )
    hit = F.when(F.col("to_type") == F.col("predicted_next"), 1).otherwise(0)
    return (
        transitions.where(F.col("is_test") == 1)
        .join(F.broadcast(model), "from_type")
        .groupBy("from_type", "predicted_next", "n_train_votes")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.sum(hit) * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
        )
        .orderBy("from_type")
    )


@register(
    "events_rate_ratio_test",
    oracle="""
    WITH counts AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN ts <  TIMESTAMP '2024-01-16' THEN 1 END)
                  AS BIGINT) AS n1,
             CAST(COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END)
                  AS BIGINT) AS n2
      FROM events GROUP BY event_type
    )
    SELECT event_type, n1, n2,
           CASE WHEN n1 > 0 THEN ROUND(CAST(n2 AS DOUBLE) / n1, 6) END
             AS rate_ratio,
           ROUND((n2 - CAST(n1 AS DOUBLE)) / SQRT(CAST(n1 + n2 AS DOUBLE)), 4)
             AS z_score
    FROM counts ORDER BY event_type
    """,
    tags=("behavioral", "stats"),
)
def events_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate comparison between two equal-exposure halves of the
    month (conditional test: under H0 the period-2 share of n1+n2 is
    Binomial(1/2), giving z = (n2−n1)/√(n1+n2)).

    The fixture spans 2024-01-01..30, so the literal midpoint split
    gives 15-day exposures on both sides.  Counts are exact BIGINTs;
    the ratio and z are single fixed-tree double expressions over them,
    so parity is bit-stable.  Shape at 100 TB: one conditional groupBy
    over the fact stream — the same one-pass contract as
    `events_ab_test_eval`."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    cut = F.lit("2024-01-16").cast("timestamp")
    counts = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("ts") < cut, 1)).cast("bigint").alias("n1"),
        F.count(F.when(F.col("ts") >= cut, 1)).cast("bigint").alias("n2"),
    )
    return counts.select(
        "event_type",
        "n1",
        "n2",
        # NULL (not a crash, not inf) when the type has no period-1
        # events — ANSI doubles divide-by-zero throws in Spark while
        # DuckDB returns inf, so BOTH sides must guard identically
        F.when(
            F.col("n1") > 0, F.round(F.col("n2").cast("double") / F.col("n1"), 6)
        ).alias("rate_ratio"),
        F.round(
            (F.col("n2") - F.col("n1").cast("double"))
            / F.sqrt((F.col("n1") + F.col("n2")).cast("double")),
            4,
        ).alias("z_score"),
    ).orderBy("event_type")


@register(
    "events_top_trigram_paths",
    oracle="""
    WITH seq AS (
      -- NULL event_type rows are dropped BEFORE the window so engine and
      -- oracle share NULL semantics (Spark's concat_ws skips NULLs while
      -- || propagates them — the fn_array_explode asymmetry class); a
      -- NULL type carries no path information either way.
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS nxt,
             LEAD(event_type, 2) OVER w AS nxt2
      FROM events
      WHERE event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT CONCAT_WS('>', event_type, nxt, nxt2) AS path,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM seq WHERE nxt2 IS NOT NULL
    GROUP BY path
    ORDER BY n_paths DESC, path
    LIMIT 20
    """,
    tags=("behavioral", "window"),
)
def events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths (clickstream trigram analysis): each
    user's event sequence slides a length-3 window via LEAD, then a
    global count ranks the paths.

    Determinism: the per-user order is (ts, event_id) — event_id breaks
    ts ties — and the top-20 has a total order (count desc, path asc).
    Shape at 100 TB: one user-keyed window shuffle (users are millions,
    no hot key), then a path-keyed groupBy whose cardinality is
    |event_types|³ — tiny regardless of fact volume.

    NULL event_type rows are filtered before the window, mirroring the
    oracle exactly — otherwise concat_ws (skips NULLs) and SQL ||
    (propagates NULL) diverge on any NULL in the trigram."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("nxt"),
            F.lead("event_type", 2).over(w).alias("nxt2"),
        )
    )
    return (
        seq.where(F.col("nxt2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "nxt", "nxt2").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "path")
        .limit(20)
    )


@register(
    "events_dau_wau_rolling",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM daily)
    SELECT CAST(s.day AS VARCHAR) AS day,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily d WHERE d.day = s.day)
             AS dau,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau7,
           ROUND((SELECT COUNT(*) FROM daily d WHERE d.day = s.day)
                 * 1.0 / COUNT(DISTINCT u.user_id), 4) AS stickiness
    FROM days s
    JOIN daily u ON u.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
    GROUP BY s.day ORDER BY s.day
    """,
    tags=("behavioral", "window"),
)
def events_dau_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and trailing-7-day WAU per day (plus DAU/WAU stickiness).

    Rolling COUNT(DISTINCT) cannot ride a window frame, so the engine
    uses the standard decomposition: dedup the facts to (day, user)
    once, then a bounded range join (each user-day lands in at most 7
    calendar frames — a fixed 7x expansion, NOT quadratic) feeds a
    distinct count per frame.  The calendar spine side is tiny, so the
    join broadcasts at any fact scale; the dedup is the only fact-sized
    shuffle."""
    daily = (
        load(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    dau = daily.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("dau")
    )
    spine = daily.select("day").distinct()
    wau = (
        spine.alias("s")
        .join(
            daily.alias("u"),
            F.col("u.day").between(F.date_sub(F.col("s.day"), 6), F.col("s.day")),
        )
        .groupBy(F.col("s.day").alias("day"))
        .agg(F.countDistinct("u.user_id").cast("bigint").alias("wau7"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau7",
            F.round(F.col("dau") * 1.0 / F.col("wau7"), 4).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_funnel_time_to_convert",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
               AS first_signup_us
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT p.user_id,
             MIN(epoch_us(e.ts)) - p.first_signup_us AS delta_us
      FROM per_user p
      JOIN events e ON e.user_id = p.user_id
       AND e.event_type = 'purchase' AND epoch_us(e.ts) > p.first_signup_us
      GROUP BY p.user_id, p.first_signup_us
    ),
    ranked AS (
      SELECT delta_us,
             ROW_NUMBER() OVER (ORDER BY delta_us, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM conv
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM conv) AS n_converted,
           (SELECT ROUND(AVG(delta_us) / 3.6e9, 4) FROM conv) AS avg_hours,
           (SELECT ROUND(MIN(delta_us) / 3.6e9, 4) FROM conv) AS min_hours,
           (SELECT ROUND(MAX(delta_us) / 3.6e9, 4) FROM conv) AS max_hours,
           ROUND(MIN(delta_us) / 3.6e9, 4) AS median_hours
    FROM ranked WHERE rn * 2 >= n
    """,
    tags=("behavioral", "funnel"),
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution (first signup → first subsequent
    purchase): count, mean, min/max, and lower median in hours.

    All statistics derive from EXACT integer microsecond deltas; the
    median is the rank-based lower median (smallest delta with
    2·rank ≥ n; the oracle's user_id tie-break orders equal deltas but
    cannot change which DELTA VALUE sits at rank ⌈n/2⌉) — the same
    exact-integer selection rule as `agg_weighted_median`, so no float
    percentile interpolation can diverge between engines.

    Scale shape (r9, retiring the last row-scale global window): after
    the user-keyed aggregate + join, the converted cohort collapses to
    its DISTINCT delta grid (one map-side-combined groupBy), and the
    cumulative counts that locate rank ⌈n/2⌉ run as the banded
    two-phase prefix sum (`_banded_rank_cums` — within-band windows
    hash-partitioned on the signed-bit-length band; the only global
    window is over the ≤ 128-row band summary).  min v with 2·cum(v) ≥ n
    ≡ the delta at row_number ⌈n/2⌉, bit-identically, because ties in
    delta are contiguous under any rank tie-break.  The cohort relation
    is persisted: the moments branch and the value grid both read it,
    so the signup/purchase join runs once."""
    from mysql_postgres_debezium_cdc_spark.operators.stats import _banded_rank_cums

    ev = load(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("first_signup_us"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("t_us")
    )
    conv = (
        purchases.join(per_user, "user_id")
        .where(F.col("t_us") > F.col("first_signup_us"))
        .groupBy("user_id", "first_signup_us")
        .agg((F.min("t_us") - F.col("first_signup_us").cast("bigint")).alias("delta_us"))
        .select(F.col("delta_us").cast("bigint").alias("delta_us"))
        .persist()
    )
    hours = lambda c: F.round(c / F.lit(3.6e9), 4)  # noqa: E731
    stats = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        hours(F.avg("delta_us")).alias("avg_hours"),
        hours(F.min("delta_us")).alias("min_hours"),
        hours(F.max("delta_us")).alias("max_hours"),
    )
    vals = (
        conv.groupBy(F.col("delta_us").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ca"))
        .withColumn("cb", F.lit(0).cast("bigint"))
    )
    cums = _banded_rank_cums(vals)
    median = (
        cums.where(F.col("c1") * 2 >= F.col("t1"))
        .agg(hours(F.min("v")).alias("median_hours"))
    )
    return stats.crossJoin(F.broadcast(median))


@register(
    "events_uplift_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT)
               AS x,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT)
               AS y
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM per_user
    ),
    th AS (
      SELECT n, sx,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov_n,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS varx_n,
             CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS vary_n
      FROM pooled
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a, SUM(x) AS sx_a,
             SUM(y) AS sy_a
      FROM per_user GROUP BY arm
    )
    SELECT t.n_a AS n_treat, c.n_a AS n_ctrl,
           ROUND((CAST(t.sy_a AS DOUBLE) / t.n_a
                  - CAST(c.sy_a AS DOUBLE) / c.n_a) / 100.0, 4) AS uplift_raw,
           CASE WHEN th.varx_n <> 0 THEN
             ROUND(((CAST(t.sy_a AS DOUBLE) / t.n_a
                     - (th.cov_n / th.varx_n)
                       * (CAST(t.sx_a AS DOUBLE) / t.n_a
                          - CAST(th.sx AS DOUBLE) / th.n))
                    - (CAST(c.sy_a AS DOUBLE) / c.n_a
                       - (th.cov_n / th.varx_n)
                         * (CAST(c.sx_a AS DOUBLE) / c.n_a
                            - CAST(th.sx AS DOUBLE) / th.n))) / 100.0, 4)
           END AS uplift_cuped,
           CASE WHEN th.varx_n <> 0
                THEN ROUND(th.cov_n / th.varx_n, 6) END AS theta,
           CASE WHEN th.varx_n <> 0 AND th.vary_n <> 0
                THEN ROUND(th.cov_n * th.cov_n / (th.varx_n * th.vary_n), 6)
           END AS var_reduction
    FROM (SELECT * FROM arms WHERE arm = 1) t
    CROSS JOIN (SELECT * FROM arms WHERE arm = 0) c
    CROSS JOIN th
    """,
    tags=("behavioral", "stats", "experiment"),
)
def events_uplift_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced uplift (Deng et al. 2013, the production
    experimentation standard): per-user PRE-period value (the
    covariate X) adjusts the POST-period metric Y, Y_adj = Y − θ(X−X̄)
    with pooled θ = cov(X,Y)/var(X), shrinking metric variance by
    exactly ρ² without biasing the treatment contrast (arm =
    user_id % 2, the deterministic-hash assignment convention).  The
    cut is the [[events_rate_ratio_test]] period boundary.

    Everything reduces to exact integer sufficient statistics — per-user
    cent sums, then (n, Σx, Σy, Σxx, Σxy, Σyy) and per-arm (n, Σx, Σy) —
    and θ / adjusted means / ρ² derive in one fixed double tree;
    var(X)=0 (no pre-period signal) NULLs the adjusted outputs under
    identical guards.  var_reduction IS ρ² by the CUPED identity
    var(Y_adj) = var(Y)(1−ρ²) — no second pass over users.

    Scale shape: one fact-sized shuffle (per-user sums, map-side
    combined), then a 2-row arm aggregate and a 1-row pooled aggregate
    meeting in broadcast cross joins.  NULL users excluded both sides
    (assignment needs an id)."""
    cut = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dn = F.col("n").cast("double")
    th = pooled.select(
        "n",
        "sx",
        (dn * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")).alias(
            "cov_n"
        ),
        (dn * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")).alias(
            "varx_n"
        ),
        (dn * F.col("syy") - F.col("sy").cast("double") * F.col("sy")).alias(
            "vary_n"
        ),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    t = arms.where(F.col("arm") == 1).select(
        F.col("n_a").alias("nt"), F.col("sx_a").alias("sxt"), F.col("sy_a").alias("syt")
    )
    c = arms.where(F.col("arm") == 0).select(
        F.col("n_a").alias("nc"), F.col("sx_a").alias("sxc"), F.col("sy_a").alias("syc")
    )
    theta = F.col("cov_n") / F.col("varx_n")
    mean_x_all = F.col("sx").cast("double") / F.col("n")
    adj_t = F.col("syt").cast("double") / F.col("nt") - theta * (
        F.col("sxt").cast("double") / F.col("nt") - mean_x_all
    )
    adj_c = F.col("syc").cast("double") / F.col("nc") - theta * (
        F.col("sxc").cast("double") / F.col("nc") - mean_x_all
    )
    return (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(th))
        .select(
            F.col("nt").alias("n_treat"),
            F.col("nc").alias("n_ctrl"),
            F.round(
                (
                    F.col("syt").cast("double") / F.col("nt")
                    - F.col("syc").cast("double") / F.col("nc")
                )
                / 100.0,
                4,
            ).alias("uplift_raw"),
            F.when(F.col("varx_n") != 0, F.round((adj_t - adj_c) / 100.0, 4)).alias(
                "uplift_cuped"
            ),
            F.when(F.col("varx_n") != 0, F.round(theta, 6)).alias("theta"),
            F.when(
                (F.col("varx_n") != 0) & (F.col("vary_n") != 0),
                F.round(
                    F.col("cov_n") * F.col("cov_n")
                    / (F.col("varx_n") * F.col("vary_n")),
                    6,
                ),
            ).alias("var_reduction"),
        )
    )


# The Kolmogorov-Smirnov α=0.05 constant: 1844164 = round(1.358² · 1e6),
# i.e. 1.358² scaled to 1e6-ths (matching the _E6 suffix and the div-10⁶
# verdict arithmetic) — shared with stats_ks_test's exact integer verdict
# (stats.py).
_KS_ALPHA05_SQ_E6 = 1844164

# Mixture-variance literal for the effect-metric mSPRT: τ is the PRIOR
# scale of plausible treatment effects on the per-user post-period cents
# metric (here $1 = 100 cents, τ² = 10⁴).  Any value FIXED IN ADVANCE
# keeps the test anytime-valid (it is a mixture over H₁, not a tuning of
# H₀); τ only trades early-detection speed against asymptotic sharpness,
# and since V_n → 0 as enrollment grows, every fixed τ detects any real
# effect eventually (Johari et al. 2017 §3).  Defined here, above the
# experiment report, because the report's r11 msprt row and
# [[events_effect_msprt]] share these literals in their oracles.
_TAU2_MSPRT = "10000.0"
_LN_20 = "2.995732273553991"  # ln(1/α) at α = 0.05

# Upper winsorization percentile (p99, the revenue default).  Defined
# here, above the experiment report, because the report's r12 winsorized
# row and [[events_experiment_winsorized]] share it in their oracles.
WINSOR_PCT = 99


@register(
    "events_experiment_report",
    bench=True,
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT)
               AS x,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END), 0) AS BIGINT)
               AS y
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM per_user
    ),
    th AS (
      SELECT n, sx,
             CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy AS cov_n,
             CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS varx_n
      FROM pooled
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_a, SUM(x) AS sx_a,
             SUM(y) AS sy_a, SUM(y * y) AS syy_a
      FROM per_user GROUP BY arm
    ),
    tc AS (
      SELECT t.n_a AS nt, t.sx_a AS sxt, t.sy_a AS syt, t.syy_a AS syyt,
             c.n_a AS nc, c.sx_a AS sxc, c.sy_a AS syc, c.syy_a AS syyc
      FROM (SELECT * FROM arms WHERE arm = 1) t
      CROSS JOIN (SELECT * FROM arms WHERE arm = 0) c
    ),
    mp AS (
      SELECT nt, nc,
             nt >= 2 AND nc >= 2 AS ok,
             CAST(nt AS HUGEINT) * syyt - CAST(syt AS HUGEINT) * syt
               + (CAST(nc AS HUGEINT) * syyc - CAST(syc AS HUGEINT) * syc) > 0
               AS var_pos,
             CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc AS theta,
             (CAST(nt AS DOUBLE) * syyt - CAST(syt AS DOUBLE) * syt)
               / (CAST(nt AS DOUBLE) * (nt - 1) * nt)
             + (CAST(nc AS DOUBLE) * syyc - CAST(syc AS DOUBLE) * syc)
               / (CAST(nc AS DOUBLE) * (nc - 1) * nc) AS v
      FROM tc
    ),
    mbf AS (
      -- the CASE guard is load-bearing, not just presentation: on an
      -- all-tied metric v = 0 exactly and DuckDB's LN(0) THROWS (Spark
      -- returns NULL) — var_pos is the exact-integer v > 0 predicate,
      -- and the extra v > 0 guards the DOUBLE actually passed to LN
      -- against catastrophic cancellation (var_pos true, double v <= 0;
      -- unreachable at fixture scale per the PLANS.md bound, but DuckDB
      -- would throw where Spark yields NULL).  var_pos alone stays the
      -- reported verdict predicate in the final projection.
      SELECT nt, nc, ok, var_pos, theta,
             CASE WHEN ok AND var_pos AND v > 0 THEN
               0.5 * LN(v / (v + {_TAU2_MSPRT}))
               + theta * theta * {_TAU2_MSPRT}
                 / (2.0 * v * (v + {_TAU2_MSPRT})) END AS log_bf
      FROM mp
    ),
    vals AS (
      SELECT y AS v,
             CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS ca,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS cb
      FROM per_user GROUP BY y
    ),
    cum AS (
      SELECT ca, cb, ca + cb AS t,
             COALESCE(SUM(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
             SUM(ca) OVER (ORDER BY v) AS c1,
             SUM(cb) OVER (ORDER BY v) AS c2
      FROM vals
    ),
    mw AS (
      SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(ca * (2 * before + t + 1)), 0) AS BIGINT) AS r2x,
             CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS ties
      FROM cum
    ),
    ks AS (
      SELECT CAST(MAX(ABS(c1 * m.n2 - c2 * m.n1)) AS BIGINT) AS d_num
      FROM cum CROSS JOIN mw m
    ),
    -- r12 winsorized row: exact pooled p{WINSOR_PCT} cap off the same
    -- distinct-value grid, winsorized power sums as grid-weighted sums
    -- (ca·LEAST(v,cap)), then the [[events_experiment_winsorized]]
    -- Welch fixed double tree — identical literals, identical guards.
    wgrid AS (
      SELECT v, SUM(ca + cb) OVER (ORDER BY v) AS cw,
             SUM(ca + cb) OVER () AS tw
      FROM vals
    ),
    wcap AS (
      SELECT MIN(CASE WHEN cw * 100 >= tw * {WINSOR_PCT} THEN v END) AS cap
      FROM wgrid
    ),
    ws AS (
      SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS nt,
             CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(ca * LEAST(g.v, w.cap)), 0) AS BIGINT) AS st,
             CAST(COALESCE(SUM(cb * LEAST(g.v, w.cap)), 0) AS BIGINT) AS sc,
             CAST(COALESCE(SUM(ca * LEAST(g.v, w.cap) * LEAST(g.v, w.cap)), 0)
               AS BIGINT) AS sst,
             CAST(COALESCE(SUM(cb * LEAST(g.v, w.cap) * LEAST(g.v, w.cap)), 0)
               AS BIGINT) AS ssc
      FROM vals g CROSS JOIN wcap w
    ),
    wd AS (
      SELECT nt, nc,
             nt >= 2 AND nc >= 2 AS ok,
             CAST(nt AS HUGEINT) * sst - CAST(st AS HUGEINT) * st
               + (CAST(nc AS HUGEINT) * ssc - CAST(sc AS HUGEINT) * sc) > 0
               AS var_pos,
             CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc AS theta,
             (CAST(nt AS DOUBLE) * sst - CAST(st AS DOUBLE) * st)
               / (CAST(nt AS DOUBLE) * (nt - 1) * nt)
             + (CAST(nc AS DOUBLE) * ssc - CAST(sc AS DOUBLE) * sc)
               / (CAST(nc AS DOUBLE) * (nc - 1) * nc) AS v
      FROM ws
    )
    SELECT * FROM (
      SELECT 'uplift_raw' AS metric, tc.nt AS n_treat, tc.nc AS n_ctrl,
             ROUND((CAST(tc.syt AS DOUBLE) / tc.nt
                    - CAST(tc.syc AS DOUBLE) / tc.nc) / 100.0, 4) AS estimate,
             CAST(NULL AS DOUBLE) AS stat,
             CAST(NULL AS BOOLEAN) AS significant
      FROM tc
      UNION ALL
      SELECT 'uplift_cuped', tc.nt, tc.nc,
             CASE WHEN th.varx_n <> 0 THEN
               ROUND(((CAST(tc.syt AS DOUBLE) / tc.nt
                       - (th.cov_n / th.varx_n)
                         * (CAST(tc.sxt AS DOUBLE) / tc.nt
                            - CAST(th.sx AS DOUBLE) / th.n))
                      - (CAST(tc.syc AS DOUBLE) / tc.nc
                         - (th.cov_n / th.varx_n)
                           * (CAST(tc.sxc AS DOUBLE) / tc.nc
                              - CAST(th.sx AS DOUBLE) / th.n))) / 100.0, 4)
             END,
             CASE WHEN th.varx_n <> 0 THEN ROUND(th.cov_n / th.varx_n, 6) END,
             CAST(NULL AS BOOLEAN)
      FROM tc CROSS JOIN th
      UNION ALL
      SELECT 'msprt', b.nt, b.nc,
             CASE WHEN b.ok THEN ROUND(b.theta / 100.0, 4) END,
             CASE WHEN b.ok AND b.var_pos THEN ROUND(b.log_bf, 6) END,
             CASE WHEN b.ok AND b.var_pos
               THEN ROUND(b.log_bf, 6) > {_LN_20} END
      FROM mbf b
      UNION ALL
      SELECT 'mann_whitney', m.n1, m.n2,
             CASE WHEN m.n1 > 0
               THEN (m.r2x - m.n1 * (m.n1 + 1)) / 2.0 END,
             CASE WHEN m.n1 > 0 AND m.n2 > 0 AND m.n1 + m.n2 > 1
                   AND (CAST(m.n1 AS DOUBLE) * m.n2 / 12.0)
                       * ((m.n1 + m.n2 + 1) - CAST(m.ties AS DOUBLE)
                          / (CAST(m.n1 + m.n2 AS DOUBLE) * (m.n1 + m.n2 - 1))) > 0
             THEN ROUND(((m.r2x - m.n1 * (m.n1 + 1)) / 2.0
                         - CAST(m.n1 AS DOUBLE) * m.n2 / 2.0)
                  / SQRT((CAST(m.n1 AS DOUBLE) * m.n2 / 12.0)
                         * ((m.n1 + m.n2 + 1) - CAST(m.ties AS DOUBLE)
                            / (CAST(m.n1 + m.n2 AS DOUBLE) * (m.n1 + m.n2 - 1)))), 4)
             END,
             CASE WHEN m.n1 > 0 AND m.n2 > 0 AND m.n1 + m.n2 > 1
                   AND (CAST(m.n1 AS DOUBLE) * m.n2 / 12.0)
                       * ((m.n1 + m.n2 + 1) - CAST(m.ties AS DOUBLE)
                          / (CAST(m.n1 + m.n2 AS DOUBLE) * (m.n1 + m.n2 - 1))) > 0
             THEN ABS(ROUND(((m.r2x - m.n1 * (m.n1 + 1)) / 2.0
                             - CAST(m.n1 AS DOUBLE) * m.n2 / 2.0)
                  / SQRT((CAST(m.n1 AS DOUBLE) * m.n2 / 12.0)
                         * ((m.n1 + m.n2 + 1) - CAST(m.ties AS DOUBLE)
                            / (CAST(m.n1 + m.n2 AS DOUBLE) * (m.n1 + m.n2 - 1)))), 4))
                  >= 1.96
             END
      FROM mw m
      UNION ALL
      SELECT 'ks', m.n1, m.n2,
             CASE WHEN m.n1 > 0 AND m.n2 > 0 THEN
               ROUND(CAST(k.d_num AS DOUBLE)
                     / (CAST(m.n1 AS DOUBLE) * m.n2), 6) END,
             CAST(k.d_num AS DOUBLE),
             CASE WHEN m.n1 > 0 AND m.n2 > 0 THEN
               CAST(k.d_num AS HUGEINT) * k.d_num
                 > (CAST(1844164 AS HUGEINT) * (m.n1 + m.n2) * m.n1 * m.n2)
                   // 1000000
             END
      FROM ks k CROSS JOIN mw m
      UNION ALL
      SELECT 'winsorized', d.nt, d.nc,
             CASE WHEN d.ok THEN ROUND(d.theta / 100.0, 4) END,
             CASE WHEN d.ok AND d.var_pos
               THEN ROUND(d.theta / SQRT(d.v), 4) END,
             CASE WHEN d.ok AND d.var_pos
               THEN ABS(ROUND(d.theta / SQRT(d.v), 4)) >= 1.96 END
      FROM wd d
    ) ORDER BY metric
    """,
    tags=("behavioral", "stats", "experiment"),
)
def events_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimenter's one-call readout — the reference's
    verification-query analogue for A/B owners (Consumer.java's
    post-load verification SELECT, reimagined as an experiment gate):
    CUPED-adjusted uplift, the anytime-valid mSPRT effect verdict
    (r11 — see below), Mann-Whitney location shift, and KS shape
    shift, ALL over the SAME deterministic arm split (user_id % 2) and
    the SAME per-user pre/post metric relation, reported in the staged
    tall shape of [[corpus_quality_prefilter_funnel]] — one row per
    statistic: (metric, n_treat, n_ctrl, estimate, stat, significant).

    The msprt row (VERDICT r10 task #2, the "consider" half): this
    report IS the live dashboard — [[stream_experiment_snapshot]]
    drains into exactly this function — and a live dashboard is
    continuously peeked, so the one verdict that remains valid under
    peeking ([[events_effect_msprt]]'s mixture SPRT, same
    [[_msprt_cols]] fixed double tree, same exact-integer variance
    guard, ln(1/α) at the report's α = 0.05) sits next to the
    fixed-horizon statistics it guards.

    Composition is the point: the constituent devices are the
    certified [[events_uplift_cuped]] sufficient statistics, the
    [[events_effect_msprt]] mixture tree, the
    [[stats_mann_whitney_u]] doubled-midrank identity, and the
    [[stats_ks_test]] exact integer verdict (the same rearranged
    d² > B div 10⁶ arithmetic) — run here over per-USER post-period
    sums between arms rather than raw event values between event
    types, certifying that the devices compose on a shared base
    relation.  Significance booleans derive from the identical
    fixed double tree (MW: |z₄| ≥ 1.96) or exact integers (KS), so no
    verdict depends on a float boundary the engines could disagree on.

    Scale shape: ONE fact scan → per-user sums (one map-side-combined
    shuffle), persisted (four consumers: pooled moments, per-arm sums,
    and the two-sample distinct-value relation).  Rank cumsums run
    through the banded prefix sum (`_banded_rank_cums`); everything
    downstream is 1-2-row aggregates meeting in broadcast joins."""
    per_user = (
        _experiment_per_user(load(spark, sf_dir, "events"))
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
        .persist()
    )
    return _experiment_report_from_per_user(per_user)


def _experiment_per_user(events: DataFrame) -> DataFrame:
    """Per-user pre/post cent sums + deterministic arm — the additive
    sufficient-statistic relation the experiment report derives from.
    ADDITIVE is the design point: (x, y) sums merge across arbitrary
    event partitions/micro-batches by plain summation, which is what
    lets [[stream_experiment_snapshot]] maintain the state
    incrementally and still equal the one-shot batch answer exactly."""
    cut = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        events.where(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.when(F.col("ts") < cut, cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(F.col("ts") >= cut, cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
    )


def _experiment_report_from_per_user(per_user: DataFrame) -> DataFrame:
    """The report math downstream of the per-user relation — shared by
    the batch key and its streaming twin so the two CANNOT diverge.
    ``per_user`` carries (arm, x, y); see events_experiment_report for
    the statistics and their exactness devices."""
    from mysql_postgres_debezium_cdc_spark.operators.stats import (
        _banded_rank_cums,
    )

    # r13 (guide §5, driver overhead): every expression below is built
    # as a SQL STRING (F.expr / selectExpr) instead of the Column DSL.
    # The DSL tree cost ~6 500 blocking py4j round trips per build
    # (cProfile: 1.67 s of socket wait — more than the query's own
    # action at sf0.1); the strings parse JVM-side into the IDENTICAL
    # analyzed plan (compared equal modulo expression ids at 3 scales
    # before the swap; at a checkout of b2c0d21, re-prove with
    # `scripts/ab.py b2c0d21^ events_experiment_report`).  Two parser
    # traps make the strings non-obvious: bare `100.0` is DECIMAL(4,1)
    # in Spark SQL (the DSL's F.lit(100.0) is a double), hence the `D`
    # suffixes; and Python's `2 * col` builds `col * 2` (reverse-op),
    # hence `before * 2` below.
    #
    # r12 optimization: ONE conditional aggregate replaces the former
    # pooled + per-arm branch trio (pooled, arms→t, arms→c joined by two
    # crossJoins).  Every statistic here is an exact BIGINT count/sum, so
    # conditional aggregation (SUM(CASE WHEN arm…)) is bit-identical to
    # filter-after-group — integer addition is order-insensitive — and
    # the raw/cuped/msprt rows become selects off ONE cached 1-row frame
    # instead of three recomputed aggregate subtrees.  The WHERE
    # reproduces the old inner `t CROSS JOIN c` emission rule exactly:
    # no row (hence no raw/cuped/msprt output rows) when either arm is
    # empty, matching the oracle's tc CTE.  Plan effect at sf0.1: the
    # report drops 24 shuffle exchanges → 9 and 15 cache scans → 7
    # (d0e29a1^ → d0e29a1; at a checkout of d0e29a1,
    # `scripts/ab.py d0e29a1^ events_experiment_report` diffs the plans).
    E = F.expr
    stats = (
        per_user.agg(
            E("CAST(COUNT(1) AS BIGINT) AS n"),
            E("SUM(x) AS sx"),
            E("SUM(y) AS sy"),
            E("SUM(x * x) AS sxx"),
            E("SUM(x * y) AS sxy"),
            E("CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS nt"),
            E("SUM(CASE WHEN arm = 1 THEN x END) AS sxt"),
            E("SUM(CASE WHEN arm = 1 THEN y END) AS syt"),
            E("SUM(CASE WHEN arm = 1 THEN y * y END) AS syyt"),
            E("CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS nc"),
            E("SUM(CASE WHEN arm = 0 THEN x END) AS sxc"),
            E("SUM(CASE WHEN arm = 0 THEN y END) AS syc"),
            E("SUM(CASE WHEN arm = 0 THEN y * y END) AS syyc"),
        )
        .where("(nt > 0) AND (nc > 0)")
        .persist()
    )
    varx_n = "(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"

    raw_row = stats.selectExpr(
        "'uplift_raw' AS metric",
        "nt AS n_treat",
        "nc AS n_ctrl",
        "ROUND((CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc)"
        " / 100.0D, 4) AS estimate",
        "CAST(NULL AS DOUBLE) AS stat",
        "CAST(NULL AS BOOLEAN) AS significant",
    )
    theta = f"((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / {varx_n})"
    mean_x_all = "(CAST(sx AS DOUBLE) / n)"
    adj_t = (
        f"(CAST(syt AS DOUBLE) / nt"
        f" - {theta} * (CAST(sxt AS DOUBLE) / nt - {mean_x_all}))"
    )
    adj_c = (
        f"(CAST(syc AS DOUBLE) / nc"
        f" - {theta} * (CAST(sxc AS DOUBLE) / nc - {mean_x_all}))"
    )
    cuped_row = stats.selectExpr(
        "'uplift_cuped' AS metric",
        "nt AS n_treat",
        "nc AS n_ctrl",
        f"CASE WHEN NOT ({varx_n} = 0) THEN"
        f" ROUND(({adj_t} - {adj_c}) / 100.0D, 4) END AS estimate",
        f"CASE WHEN NOT ({varx_n} = 0) THEN ROUND({theta}, 6) END AS stat",
        "CAST(NULL AS BOOLEAN) AS significant",
    )

    # r11 (VERDICT r10 task #2's "consider"): the anytime-valid mSPRT
    # effect row — the live dashboard this report feeds through
    # [[stream_experiment_snapshot]] is CONTINUOUSLY peeked, so the
    # report carries the verdict that stays valid under peeking next to
    # the fixed-horizon statistics.  Same fixed double tree as
    # [[events_effect_msprt]] ([[_msprt_sql]] is the ONE source of the
    # tree), same exact-integer guards, same ln(1/α) literal at the
    # report's α = 0.05.
    m_theta, _m_v, m_log_bf = _msprt_sql(
        "nt", "nc", "syt", "syc", "syyt", "syyc"
    )
    m_ok = "((nt >= 2) AND (nc >= 2))"
    m_var_pos = (
        "((CAST(nt AS DECIMAL(38,0)) * syyt - CAST(syt AS DECIMAL(38,0)) * syt"
        " + (CAST(nc AS DECIMAL(38,0)) * syyc"
        " - CAST(syc AS DECIMAL(38,0)) * syc)) > 0)"
    )
    msprt_row = stats.selectExpr(
        "'msprt' AS metric",
        "nt AS n_treat",
        "nc AS n_ctrl",
        f"CASE WHEN {m_ok} THEN ROUND({m_theta} / 100.0D, 4) END AS estimate",
        f"CASE WHEN ({m_ok} AND {m_var_pos}) THEN ROUND({m_log_bf}, 6) END"
        " AS stat",
        f"CASE WHEN ({m_ok} AND {m_var_pos}) THEN"
        f" ROUND({m_log_bf}, 6) > {float(_LN_20)!r}D END AS significant",
    )

    vals = per_user.groupBy(F.col("y").alias("v")).agg(
        E("CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS ca"),
        E("CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS cb"),
    )
    # r12 optimization: the banded grid is computed ONCE and cached —
    # its three consumers (the MW/KS moment aggregate, the winsor cap,
    # and the winsorized power sums, which read (v, ca, cb) straight off
    # the grid instead of re-running the vals groupBy) each cost a cache
    # scan instead of a window-over-banded recomputation.  The 1-row MW
    # aggregate is cached too: the mann_whitney and ks rows both derive
    # from it.
    cum = _banded_rank_cums(vals).persist()
    mw = cum.agg(
        E("CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n1"),
        E("CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n2"),
        # `before * 2` (not `2 * before`): Python's reverse-op built the
        # literal on the right, and the string must keep the same tree.
        E("CAST(COALESCE(SUM(ca * (before * 2 + t + 1)), 0) AS BIGINT) AS r2x"),
        E("CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS ties"),
        E("CAST(MAX(ABS(c1 * t2 - c2 * t1)) AS BIGINT) AS d_num"),
    ).persist()
    u = "((r2x - n1 * (n1 + 1)) / 2.0D)"
    sigma2 = (
        "((CAST(n1 AS DOUBLE) * n2 / 12.0D)"
        " * ((n1 + n2 + 1) - CAST(ties AS DOUBLE)"
        " / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))"
    )
    z_cond = f"((((n1 > 0) AND (n2 > 0)) AND (n1 + n2 > 1)) AND ({sigma2} > 0))"
    z4 = f"ROUND(({u} - CAST(n1 AS DOUBLE) * n2 / 2.0D) / SQRT({sigma2}), 4)"
    mw_row = mw.selectExpr(
        "'mann_whitney' AS metric",
        "n1 AS n_treat",
        "n2 AS n_ctrl",
        f"CASE WHEN n1 > 0 THEN {u} END AS estimate",
        f"CASE WHEN {z_cond} THEN {z4} END AS stat",
        f"CASE WHEN {z_cond} THEN ABS({z4}) >= 1.96D END AS significant",
    )
    # [[_dec_floordiv_1e6]] inlined as a string: exact floor(b / 10⁶)
    # via `(b - pmod(b, 1000000)) / 1000000` on the DECIMAL(38,0) side.
    ks_rhs = f"CAST({_KS_ALPHA05_SQ_E6} AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2"
    ks_row = mw.selectExpr(
        "'ks' AS metric",
        "n1 AS n_treat",
        "n2 AS n_ctrl",
        "CASE WHEN ((n1 > 0) AND (n2 > 0)) THEN"
        " ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) END"
        " AS estimate",
        "CAST(d_num AS DOUBLE) AS stat",
        "CASE WHEN ((n1 > 0) AND (n2 > 0)) THEN"
        " CAST(d_num AS DECIMAL(38,0)) * d_num >"
        f" ({ks_rhs} - pmod({ks_rhs}, 1000000)) / 1000000 END AS significant",
    )

    # r12 (VERDICT r11 task #7): the winsorized robust row.  NO new
    # row-scale shuffle: the exact pooled p{WINSOR_PCT} cap is a 1-row
    # aggregate over the SAME banded `cum` grid the rank statistics
    # already built (pooled inclusive cumsum = c1 + c2, totals t1 + t2 —
    # the [[events_experiment_winsorized]] rank rule), and the
    # winsorized power sums are grid-weighted sums over the SAME `vals`
    # relation (Σ ca·LEAST(v, cap) ≡ Σ_users LEAST(y, cap), exact
    # BIGINTs), meeting the broadcast 1-row cap — the `vals` exchange is
    # reused across branches, and no per-user re-scan is needed at all.
    # Downstream is the standalone key's Welch fixed double tree with
    # identical guards, pinned equal by test.
    wcap = cum.agg(
        E(
            f"MIN(CASE WHEN (c1 + c2) * 100 >= (t1 + t2) * {WINSOR_PCT}"
            " THEN v END) AS cap"
        )
    )
    wy = "LEAST(v, cap)"
    # (v, ca, cb) read off the cached grid — same rows as `vals`, no
    # second per-user groupBy.
    wsums = cum.select("v", "ca", "cb").crossJoin(F.broadcast(wcap)).agg(
        E("CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS wnt"),
        E("CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS wnc"),
        E(f"CAST(COALESCE(SUM(ca * {wy}), 0) AS BIGINT) AS wst"),
        E(f"CAST(COALESCE(SUM(cb * {wy}), 0) AS BIGINT) AS wsc"),
        E(f"CAST(COALESCE(SUM(ca * {wy} * {wy}), 0) AS BIGINT) AS wsst"),
        E(f"CAST(COALESCE(SUM(cb * {wy} * {wy}), 0) AS BIGINT) AS wssc"),
    )
    # The Welch tree over the winsorized sums — same shape as
    # [[_msprt_sql]]'s v but over (wnt, wnc, wst, wsc, wsst, wssc);
    # pinned equal to the standalone [[events_experiment_winsorized]]
    # by test.
    w_theta = "(CAST(wst AS DOUBLE) / wnt - CAST(wsc AS DOUBLE) / wnc)"
    w_v = (
        "((CAST(wnt AS DOUBLE) * CAST(wsst AS DOUBLE)"
        " - CAST(wst AS DOUBLE) * wst)"
        " / (CAST(wnt AS DOUBLE) * (wnt - 1) * wnt)"
        " + (CAST(wnc AS DOUBLE) * CAST(wssc AS DOUBLE)"
        " - CAST(wsc AS DOUBLE) * wsc)"
        " / (CAST(wnc AS DOUBLE) * (wnc - 1) * wnc))"
    )
    w_t = f"ROUND({w_theta} / SQRT({w_v}), 4)"
    w_ok = "((wnt >= 2) AND (wnc >= 2))"
    w_var_pos = (
        "((CAST(wnt AS DECIMAL(38,0)) * wsst - CAST(wst AS DECIMAL(38,0)) * wst"
        " + (CAST(wnc AS DECIMAL(38,0)) * wssc"
        " - CAST(wsc AS DECIMAL(38,0)) * wsc)) > 0)"
    )
    winsor_row = wsums.selectExpr(
        "'winsorized' AS metric",
        "wnt AS n_treat",
        "wnc AS n_ctrl",
        f"CASE WHEN {w_ok} THEN ROUND({w_theta} / 100.0D, 4) END AS estimate",
        f"CASE WHEN ({w_ok} AND {w_var_pos}) THEN {w_t} END AS stat",
        f"CASE WHEN ({w_ok} AND {w_var_pos}) THEN ABS({w_t}) >= 1.96D END"
        " AS significant",
    )
    return (
        raw_row.unionAll(cuped_row).unionAll(msprt_row)
        .unionAll(mw_row).unionAll(ks_row).unionAll(winsor_row)
        .orderBy("metric")
    )


# χ²(1 dof) critical value at α=0.001 scaled to 1e6-ths: SRM checks run
# at a much stricter alpha than effect tests because a true mismatch is
# an instrumentation BUG, not a hypothesis (Fabijan et al. 2019).
_SRM_CHI2_001_E6 = 10_827_566  # round(10.827566... * 1e6)


@register(
    "events_srm_check",
    oracle=f"""
    WITH arms AS (
      SELECT CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS nc
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           CASE WHEN nt + nc > 0 THEN
             ROUND(CAST(nt AS DOUBLE) / (nt + nc), 6) END AS ratio_treat,
           CASE WHEN nt + nc > 0 THEN
             ROUND(CAST((nt - nc) * (nt - nc) AS DOUBLE) / (nt + nc), 4)
           END AS chi2,
           CASE WHEN nt + nc > 0 THEN
             CAST((nt - nc) AS HUGEINT) * (nt - nc) * 1000000
               > CAST({_SRM_CHI2_001_E6} AS HUGEINT) * (nt + nc)
           END AS srm_detected
    FROM arms
    """,
    tags=("behavioral", "stats", "experiment", "dq"),
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the experiment-health gate run
    BEFORE reading any effect metric (Fabijan et al. 2019: a skewed
    assignment ratio means broken instrumentation, and every downstream
    statistic is garbage).  Under the 50/50 user_id % 2 assignment of
    [[events_experiment_report]], the goodness-of-fit χ² with 1 dof
    collapses to (nt − nc)²/(nt + nc), tested at the strict α = 0.001
    convention.

    Exactness device: the verdict is EXACT INTEGER arithmetic —
    (nt−nc)²·10⁶ > 10827566·(nt+nc) in HUGEINT/DECIMAL(38,0) (no
    rearrangement needed: (nt−nc)²·10⁶ ≤ 10³⁸ holds to ~3×10¹²
    users, far past any real experiment) — and χ²/ratio are 4dp/6dp
    presentation rounds over exact counts.  Zero enrolled users →
    NULL everything under identical guards.

    Scale shape: one DISTINCT over (user-bounded) ids — the same
    map-side-combined shape as [[events_cumulative_unique_users]] —
    then a 1-row conditional count.  No window, no join."""
    arms = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .agg(
            F.count(F.when(F.col("user_id") % 2 == 1, 1))
            .cast("bigint")
            .alias("nt"),
            F.count(F.when(F.col("user_id") % 2 == 0, 1))
            .cast("bigint")
            .alias("nc"),
        )
    )
    nt, nc = F.col("nt"), F.col("nc")
    tot = nt + nc
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return arms.select(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        F.when(tot > 0, F.round(nt.cast("double") / tot, 6)).alias("ratio_treat"),
        F.when(
            tot > 0,
            F.round(((nt - nc) * (nt - nc)).cast("double") / tot, 4),
        ).alias("chi2"),
        F.when(
            tot > 0,
            dec(nt - nc) * (nt - nc) * 1000000
            > dec(F.lit(_SRM_CHI2_001_E6)) * tot,
        ).alias("srm_detected"),
    )


# Shared literal constants for the sequential SRM mixture test — the SAME
# 17-digit decimal literals appear in the Spark tree and the DuckDB oracle,
# so both engines parse the identical double.
_HALF_LN_2PI = "0.9189385332046727"  # 0.5 * ln(2π)
_LN_2 = "0.6931471805599453"
_LN_1000 = "6.907755278982137"  # ln(1/α) at α = 0.001


def _lgamma_sql(x: str) -> str:
    """ln Γ(x) for x ≥ 1 as a DuckDB double expression: shift-by-6 then a
    3-term Stirling series on w = x+6 ≥ 7 (|err| < 2e-9 over the integer
    grid — validated against math.lgamma in tests).  DuckDB HAS a native
    lgamma, but the oracle deliberately replays THIS exact double tree so
    engine and oracle share one formula — the fixed-double-tree device
    ([[events_srm_check]]'s integer device is unavailable: the mixture
    Bayes factor is genuinely transcendental)."""
    w = f"({x} + 6.0)"
    stirl = (
        f"({w} - 0.5) * LN({w}) - {w} + {_HALF_LN_2PI}"
        f" + 1.0 / (12.0 * {w}) - 1.0 / (360.0 * {w} * {w} * {w})"
        f" + 1.0 / (1260.0 * {w} * {w} * {w} * {w} * {w})"
    )
    shift = " + ".join(f"LN({x} + {i}.0)" for i in range(6))
    return f"({stirl} - ({shift}))"


def _lgamma_col(x):
    """The Spark twin of [[_lgamma_sql]] — same literals, same
    left-associative grouping, so both engines evaluate the identical
    IEEE-double DAG."""
    w = x + F.lit(6.0)
    stirl = (
        (w - F.lit(0.5)) * F.log(w)
        - w
        + F.lit(float(_HALF_LN_2PI))
        + F.lit(1.0) / (F.lit(12.0) * w)
        - F.lit(1.0) / (F.lit(360.0) * w * w * w)
        + F.lit(1.0) / (F.lit(1260.0) * w * w * w * w * w)
    )
    shift = F.log(x + F.lit(0.0))
    for i in range(1, 6):
        shift = shift + F.log(x + F.lit(float(i)))
    return stirl - shift



@register(
    "events_srm_sequential",
    oracle=f"""
    WITH arms AS (
      SELECT CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS nc
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    ),
    bf AS (
      SELECT nt, nc,
             {_lgamma_sql("(CAST(nt AS DOUBLE) + 1.0)")}
             + {_lgamma_sql("(CAST(nc AS DOUBLE) + 1.0)")}
             - {_lgamma_sql("(CAST(nt + nc AS DOUBLE) + 2.0)")}
             + CAST(nt + nc AS DOUBLE) * {_LN_2} AS log_bf
      FROM arms
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           CASE WHEN nt + nc > 0 THEN ROUND(log_bf, 6) END AS log_bf,
           CASE WHEN nt + nc > 0 THEN
             ROUND(LEAST(1.0, EXP(-ROUND(log_bf, 6))), 6) END AS p_always_valid,
           CASE WHEN nt + nc > 0 THEN ROUND(log_bf, 6) > {_LN_1000}
           END AS srm_sequential
    FROM bf
    """,
    tags=("behavioral", "stats", "experiment", "dq", "sequential"),
    bench=True,  # r11: wall-time tracking for the r10 sequential family
)
def events_srm_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANYTIME-VALID sequential sample-ratio-mismatch monitor — the
    always-valid complement to the fixed-horizon [[events_srm_check]]:
    a production guardrail is CONTINUOUSLY peeked (every micro-batch of
    [[stream_srm_monitor]] is a peek), and a repeatedly-peeked χ² at
    α = 0.001 has unbounded false-positive probability over an unbounded
    stream.  The mixture sequential probability ratio test (mSPRT —
    Robbins 1970; applied to SRM by Lindon, Sanden & Shirikian 2022)
    fixes this: under H₀ each enrollment is Bernoulli(½) between arms,
    and the Beta(1,1)-mixture Bayes factor

        BF = B(nt+1, nc+1) / 2^{{-(nt+nc)}}
        log BF = lnΓ(nt+1) + lnΓ(nc+1) − lnΓ(nt+nc+2) + (nt+nc)·ln 2

    is a nonnegative supermartingale under H₀, so by Ville's inequality
    the rule "page when BF > 1/α" holds the false-positive probability
    at ≤ α over ALL peeks simultaneously, and min(1, 1/BF) is an
    always-valid p-value.  Balanced arms keep log BF ≈ −½·ln n
    (negative, never paging); a real mismatch grows it linearly.

    Exactness device: the Bayes factor is genuinely transcendental, so
    the integer-verdict device of the χ² gate is unavailable — instead
    engine and oracle evaluate ONE shared fixed double tree
    ([[_lgamma_col]] / [[_lgamma_sql]]: shift-by-6 + 3-term Stirling,
    |err| < 2e-9, identical 17-digit literals, identical
    left-associative grouping) and the paging verdict compares the
    6dp-ROUNDED log BF against the ln(1/α) literal — the
    [[events_proportion_ztest]] device: both engines compare the
    identical hash-checked double, so a last-ulp libm difference
    cannot flip the boolean.  log BF / p are 6dp presentation rounds,
    safe per the registry's log-valued rule.  Zero enrolled users →
    NULL under identical guards.

    Scale shape: identical to [[events_srm_check]] — one DISTINCT over
    user ids (map-side combined), then a 1-row scalar expression.  No
    window, no join; the formula consumes only the two exact BIGINT
    arm counts, so at 100 TB the test costs exactly what the χ² gate
    costs."""
    arms = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .agg(
            F.count(F.when(F.col("user_id") % 2 == 1, 1))
            .cast("bigint")
            .alias("nt"),
            F.count(F.when(F.col("user_id") % 2 == 0, 1))
            .cast("bigint")
            .alias("nc"),
        )
    )
    nt, nc = F.col("nt"), F.col("nc")
    tot = nt + nc
    log_bf = (
        _lgamma_col(nt.cast("double") + F.lit(1.0))
        + _lgamma_col(nc.cast("double") + F.lit(1.0))
        - _lgamma_col(tot.cast("double") + F.lit(2.0))
        + tot.cast("double") * F.lit(float(_LN_2))
    )
    return arms.select(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        F.when(tot > 0, F.round(log_bf, 6)).alias("log_bf"),
        F.when(
            tot > 0,
            F.round(F.least(F.lit(1.0), F.exp(-F.round(log_bf, 6))), 6),
        ).alias("p_always_valid"),
        F.when(tot > 0, F.round(log_bf, 6) > F.lit(float(_LN_1000))).alias(
            "srm_sequential"
        ),
    )


def _msprt_sql(nt, nc, st, sc, sst, ssc):
    """The mSPRT fixed double tree as Spark SQL STRINGS over named
    integer sufficient-statistic columns — the single source of the
    tree for [[_msprt_cols]] and the report's inlined msprt row.

    Why strings (r13, guide §5): the report family's build cost was
    dominated by py4j round trips — every DSL operator (`a * b`,
    `.cast(...)`) is a blocking socket call, ~6 500 per report build
    (cProfile: 1.67 s of socket wait).  A SQL string is ONE round trip
    parsed JVM-side into the IDENTICAL expression tree (analyzed plans
    compared equal modulo expression ids before the swap).  Double
    literals carry the `D` suffix — a bare `100.0` parses as
    DECIMAL(4,1) in Spark SQL, which would change the tree."""
    theta = f"(CAST({st} AS DOUBLE) / {nt} - CAST({sc} AS DOUBLE) / {nc})"
    v = (
        f"((CAST({nt} AS DOUBLE) * CAST({sst} AS DOUBLE)"
        f" - CAST({st} AS DOUBLE) * {st})"
        f" / (CAST({nt} AS DOUBLE) * ({nt} - 1) * {nt})"
        f" + (CAST({nc} AS DOUBLE) * CAST({ssc} AS DOUBLE)"
        f" - CAST({sc} AS DOUBLE) * {sc})"
        f" / (CAST({nc} AS DOUBLE) * ({nc} - 1) * {nc}))"
    )
    tau2 = f"{float(_TAU2_MSPRT)!r}D"
    log_bf = (
        f"(0.5D * LN({v} / ({v} + {tau2}))"
        f" + {theta} * {theta} * {tau2} / (2.0D * {v} * ({v} + {tau2})))"
    )
    return theta, v, log_bf


def _msprt_cols(nt, nc, st, sc, sst, ssc):
    """The mSPRT fixed double tree from exact integer sufficient
    statistics (per-arm count / Σy / Σy² as BIGINTs): returns
    (theta, v, log_bf) Columns over the named columns (r13: arguments
    are column NAME strings; [[_msprt_sql]] holds the one tree).
    Mirrored literal-for-literal by the oracle SQL in
    [[events_effect_msprt]]; property-tested from first-principles
    Fraction statistics in tests."""
    theta, v, log_bf = _msprt_sql(nt, nc, st, sc, sst, ssc)
    return F.expr(theta), F.expr(v), F.expr(log_bf)


@register(
    "events_effect_msprt",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(y) FILTER (WHERE arm = 1), 0) AS BIGINT) AS st,
             CAST(COALESCE(SUM(y) FILTER (WHERE arm = 0), 0) AS BIGINT) AS sc,
             CAST(COALESCE(SUM(y * y) FILTER (WHERE arm = 1), 0) AS BIGINT)
               AS sst,
             CAST(COALESCE(SUM(y * y) FILTER (WHERE arm = 0), 0) AS BIGINT)
               AS ssc
      FROM per_user
    ),
    d AS (
      SELECT nt, nc,
             nt >= 2 AND nc >= 2 AS ok,
             CAST(nt AS HUGEINT) * sst - CAST(st AS HUGEINT) * st
               + (CAST(nc AS HUGEINT) * ssc - CAST(sc AS HUGEINT) * sc) > 0
               AS var_pos,
             CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc AS theta,
             (CAST(nt AS DOUBLE) * sst - CAST(st AS DOUBLE) * st)
               / (CAST(nt AS DOUBLE) * (nt - 1) * nt)
             + (CAST(nc AS DOUBLE) * ssc - CAST(sc AS DOUBLE) * sc)
               / (CAST(nc AS DOUBLE) * (nc - 1) * nc) AS v
      FROM s
    ),
    bf AS (
      -- CASE guard load-bearing (r11): all-tied metric => v = 0 and
      -- DuckDB's LN(0) THROWS; var_pos is the exact-integer v > 0 test.
      -- r12: also guard the DOUBLE v itself — under catastrophic
      -- cancellation var_pos can be true while double v <= 0, and the
      -- eager CTE would throw in DuckDB (Spark yields NULL).  The final
      -- projection keeps var_pos as the verdict predicate.
      SELECT nt, nc, ok, var_pos, theta, v,
             CASE WHEN ok AND var_pos AND v > 0 THEN
               0.5 * LN(v / (v + {_TAU2_MSPRT}))
               + theta * theta * {_TAU2_MSPRT}
                 / (2.0 * v * (v + {_TAU2_MSPRT})) END AS log_bf
      FROM d
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           CASE WHEN ok THEN ROUND(theta / 100.0, 4) END AS mean_diff,
           CASE WHEN ok AND var_pos THEN ROUND(log_bf, 6) END AS log_bf,
           CASE WHEN ok AND var_pos THEN
             ROUND(LEAST(1.0, EXP(-ROUND(log_bf, 6))), 6)
           END AS p_always_valid,
           CASE WHEN ok AND var_pos THEN ROUND(log_bf, 6) > {_LN_20}
           END AS effect_detected
    FROM bf
    """,
    tags=("behavioral", "stats", "experiment", "sequential"),
    bench=True,  # r12: completes wall-time tracking for the experiment family
)
def events_effect_msprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANYTIME-VALID treatment-effect monitor — the metric-side
    companion to [[events_srm_sequential]], completing the sequential
    pair a continuously-peeked experiment needs: the mixture sequential
    probability ratio test of Johari, Koomen, Pekelis & Walsh (2017,
    "Peeking at A/B tests"), the test behind Optimizely's always-valid
    results page.  Under H₀: θ = 0 for the per-user post-period metric
    difference θ̂ = m_t − m_c with variance V_n = s²_t/n_t + s²_c/n_c,
    the N(0, τ²)-mixture likelihood ratio

        Λ_n = √(V_n/(V_n+τ²)) · exp(θ̂²τ² / (2·V_n·(V_n+τ²)))

    is a supermartingale under H₀, so "report when Λ > 1/α" is
    α-valid over ALL peeks (Ville), and min(1, 1/Λ) is an always-valid
    p-value — unlike [[stats_welch_ttest]]'s fixed-horizon |t| ≥ 1.96,
    which is only valid if the analysis time was chosen blind to the
    data.  Early in an experiment V_n is large and the monitor stays
    quiet (correctly: little evidence); V_n shrinks as 1/n, so any real
    effect eventually pages.

    Exactness device: the battery's — per-arm count/Σy/Σy² are exact
    BIGINTs off the additive [[_experiment_per_user]] relation, the
    statistic derives in ONE fixed double tree ([[_msprt_cols]],
    literal-for-literal mirrored in the oracle, property-tested against
    first-principles Fraction statistics), the degenerate guards are
    INTEGER predicates (arm n ≥ 2; pooled squared-deviation sum > 0 in
    HUGEINT/DECIMAL(38,0) — never a float-equality test), outputs are
    4dp/6dp presentation rounds, and the paging verdict compares the
    6dp-ROUNDED log Λ (the [[events_proportion_ztest]] device — a
    last-ulp libm difference cannot flip the boolean).

    Scale shape: one map-side-combined per-user groupBy, one 1-row
    per-arm reduce, then scalar math — the experiment battery's cost
    envelope, no window, no join."""
    per_user = _experiment_per_user(load(spark, sf_dir, "events")).select(
        (F.col("user_id") % 2).alias("arm"), "y"
    )
    s = per_user.agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("nt"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("nc"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("y"))), F.lit(0))
        .cast("bigint")
        .alias("st"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("y"))), F.lit(0))
        .cast("bigint")
        .alias("sc"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("y") * F.col("y"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sst"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("y") * F.col("y"))), F.lit(0)
        )
        .cast("bigint")
        .alias("ssc"),
    )
    nt, nc = F.col("nt"), F.col("nc")
    st, sc, sst, ssc = F.col("st"), F.col("sc"), F.col("sst"), F.col("ssc")
    theta, v, log_bf = _msprt_cols("nt", "nc", "st", "sc", "sst", "ssc")
    ok = (nt >= 2) & (nc >= 2)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    var_pos = (dec(nt) * sst - dec(st) * st + (dec(nc) * ssc - dec(sc) * sc)) > 0
    return s.select(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        F.when(ok, F.round(theta / F.lit(100.0), 4)).alias("mean_diff"),
        F.when(ok & var_pos, F.round(log_bf, 6)).alias("log_bf"),
        F.when(
            ok & var_pos,
            F.round(F.least(F.lit(1.0), F.exp(-F.round(log_bf, 6))), 6),
        ).alias("p_always_valid"),
        F.when(ok & var_pos, F.round(log_bf, 6) > F.lit(float(_LN_20))).alias(
            "effect_detected"
        ),
    )


# WINSOR_PCT (p99) is defined above the experiment report — its r12
# winsorized row shares the literal with this key's oracle.


def _winsorized_welch(per_user: DataFrame) -> DataFrame:
    """The winsorized-Welch readout over an (arm, y) relation — factored
    from [[events_experiment_winsorized]] so the property tests can feed
    arbitrary frames.  Cap = the exact lower {WINSOR_PCT}th percentile
    of y over the POOLED users (the repo's integer rank rule: smallest
    v with 100·cum ≥ {WINSOR_PCT}·n), applied upper-only; then the
    Welch fixed double tree of [[stats_welch_ttest]] on the capped
    integers.

    The percentile rank runs through [[_banded_rank_cums]], NOT a raw
    unpartitioned window: unlike event-value grids (bounded cents
    domain), distinct per-user SUMS rarely collide, so this grid is
    USER-scale — exactly the regime the banded prefix sum exists for
    (the same reason the funnel median and the rank statistics band
    their per-user grids).  The only global window is the ≤128-row
    band summary.

    ``per_user`` is persisted here (justified-persist rule, ADVICE
    r10): TWO branches of the returned plan consume it — the
    distinct-value percentile grid and the capping crossJoin — and
    without the persist the upstream per-user groupBy over the fact
    table would execute twice."""
    from mysql_postgres_debezium_cdc_spark.operators.stats import _banded_rank_cums

    # r13 (guide §5): SQL-string expressions, same trees, one py4j
    # round trip each (at a checkout of b2c0d21, `scripts/ab.py b2c0d21^
    # events_experiment_winsorized` shows the analyzed plans equal
    # modulo expression ids; see the report rewrite for
    # the literal-suffix trap the strings must respect).
    E = F.expr
    per_user = per_user.persist()
    vals = per_user.groupBy(F.col("y").alias("v")).agg(
        E("CAST(COUNT(1) AS BIGINT) AS ca"),
        E("CAST(0 AS BIGINT) AS cb"),
    )
    cums = _banded_rank_cums(vals)
    cap = cums.agg(
        E(
            f"MIN(CASE WHEN c1 * 100 >= t1 * {WINSOR_PCT} THEN v END) AS cap"
        )
    )
    capped = per_user.crossJoin(F.broadcast(cap)).selectExpr(
        "arm", "LEAST(y, cap) AS y", "cap"
    )
    s = capped.agg(
        E("CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS nt"),
        E("CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS nc"),
        E(
            "CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN y END), 0) AS BIGINT)"
            " AS st"
        ),
        E(
            "CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN y END), 0) AS BIGINT)"
            " AS sc"
        ),
        E(
            "CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN y * y END), 0)"
            " AS BIGINT) AS sst"
        ),
        E(
            "CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN y * y END), 0)"
            " AS BIGINT) AS ssc"
        ),
        E("MAX(cap) AS cap"),
    )
    theta = "(CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc)"
    v = (
        "((CAST(nt AS DOUBLE) * CAST(sst AS DOUBLE)"
        " - CAST(st AS DOUBLE) * st)"
        " / (CAST(nt AS DOUBLE) * (nt - 1) * nt)"
        " + (CAST(nc AS DOUBLE) * CAST(ssc AS DOUBLE)"
        " - CAST(sc AS DOUBLE) * sc)"
        " / (CAST(nc AS DOUBLE) * (nc - 1) * nc))"
    )
    t_stat = f"ROUND({theta} / SQRT({v}), 4)"
    ok = "((nt >= 2) AND (nc >= 2))"
    var_pos = (
        "((CAST(nt AS DECIMAL(38,0)) * sst - CAST(st AS DECIMAL(38,0)) * st"
        " + (CAST(nc AS DECIMAL(38,0)) * ssc"
        " - CAST(sc AS DECIMAL(38,0)) * sc)) > 0)"
    )
    return s.selectExpr(
        "nt AS n_treat",
        "nc AS n_ctrl",
        "cap AS winsor_cap_cents",
        f"CASE WHEN {ok} THEN ROUND({theta} / 100.0D, 4) END AS mean_diff",
        f"CASE WHEN ({ok} AND {var_pos}) THEN {t_stat} END AS t_stat",
        f"CASE WHEN ({ok} AND {var_pos}) THEN ABS({t_stat}) >= 1.96D END"
        " AS significant_05",
    )


@register(
    "events_experiment_winsorized",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS y
      FROM events
      WHERE value IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    grid AS (
      SELECT y AS v, CAST(COUNT(*) AS BIGINT) AS c FROM per_user GROUP BY y
    ),
    cumg AS (
      SELECT v, SUM(c) OVER (ORDER BY v) AS cw, SUM(c) OVER () AS tw FROM grid
    ),
    cap AS (
      SELECT MIN(v) AS cap FROM cumg WHERE cw * 100 >= tw * {WINSOR_PCT}
    ),
    w AS (
      SELECT arm, LEAST(y, (SELECT cap FROM cap)) AS y FROM per_user
    ),
    s AS (
      SELECT CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(y) FILTER (WHERE arm = 1), 0) AS BIGINT) AS st,
             CAST(COALESCE(SUM(y) FILTER (WHERE arm = 0), 0) AS BIGINT) AS sc,
             CAST(COALESCE(SUM(y * y) FILTER (WHERE arm = 1), 0) AS BIGINT)
               AS sst,
             CAST(COALESCE(SUM(y * y) FILTER (WHERE arm = 0), 0) AS BIGINT)
               AS ssc
      FROM w
    ),
    d AS (
      SELECT nt, nc,
             nt >= 2 AND nc >= 2 AS ok,
             CAST(nt AS HUGEINT) * sst - CAST(st AS HUGEINT) * st
               + (CAST(nc AS HUGEINT) * ssc - CAST(sc AS HUGEINT) * sc) > 0
               AS var_pos,
             CAST(st AS DOUBLE) / nt - CAST(sc AS DOUBLE) / nc AS theta,
             (CAST(nt AS DOUBLE) * sst - CAST(st AS DOUBLE) * st)
               / (CAST(nt AS DOUBLE) * (nt - 1) * nt)
             + (CAST(nc AS DOUBLE) * ssc - CAST(sc AS DOUBLE) * sc)
               / (CAST(nc AS DOUBLE) * (nc - 1) * nc) AS v
      FROM s
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           (SELECT cap FROM cap) AS winsor_cap_cents,
           CASE WHEN ok THEN ROUND(theta / 100.0, 4) END AS mean_diff,
           CASE WHEN ok AND var_pos THEN ROUND(theta / SQRT(v), 4)
           END AS t_stat,
           CASE WHEN ok AND var_pos THEN ABS(ROUND(theta / SQRT(v), 4)) >= 1.96
           END AS significant_05
    FROM d
    """,
    tags=("behavioral", "stats", "experiment", "robust"),
    bench=True,  # r11: wall-time tracking for the r10 robust readout
)
def events_experiment_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED experiment readout — the robust-metrics default for
    heavy-tailed per-user revenue (Kohavi-Tang-Xu 2020 §22: a handful of
    whale users can swamp the mean-difference variance; capping the
    metric at a high pooled percentile trades a small bias for a large
    variance reduction and is standard practice at every large
    experimentation platform).  Per-user post-period cents are capped
    UPPER-ONLY at the exact pooled p{WINSOR_PCT}, then Welch's t runs
    on the capped metric ([[stats_welch_ttest]]'s fixed double tree).

    Exactness devices, all established: the cap is an exact-integer
    rank selection (smallest v with 100·cum ≥ {WINSOR_PCT}·n —
    [[dq_outlier_iqr]]'s rule) computed through [[_banded_rank_cums]],
    because distinct per-user SUMS rarely collide — the grid is
    user-scale, the banded regime, not a bounded value domain; capped
    values stay exact BIGINTs so the per-arm power sums are exact; the
    t verdict compares the ROUNDED statistic
    ([[events_proportion_ztest]] device); degenerate guards are integer
    predicates.  Property-tested end-to-end against a first-principles
    Fraction reference (textbook percentile-by-scan + sample variance
    on the capped lists); plan-asserted band-partitioned.

    Scale shape: one per-user groupBy (map-side combined), the banded
    prefix sum over the per-user-sum grid for the cap (within-band
    windows hash-partition on band; the one global window is the
    ≤128-row band summary), a BROADCAST 1-row cap join, one per-arm
    reduce.  No row-scale window, no fact-fact join."""
    per_user = _experiment_per_user(load(spark, sf_dir, "events")).select(
        (F.col("user_id") % 2).alias("arm"), "y"
    )
    return _winsorized_welch(per_user)


@register(
    "events_proportion_ztest",
    oracle="""
    WITH per_user AS (
      SELECT user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(conv) FILTER (WHERE arm = 1), 0) AS BIGINT)
               AS ct,
             CAST(COALESCE(SUM(conv) FILTER (WHERE arm = 0), 0) AS BIGINT)
               AS cc
      FROM per_user
    )
    SELECT nt AS n_treat, nc AS n_ctrl, ct AS conv_treat, cc AS conv_ctrl,
           CASE WHEN nt > 0 AND nc > 0 THEN
             ROUND(CAST(ct AS DOUBLE) / nt - CAST(cc AS DOUBLE) / nc, 6)
           END AS rate_diff,
           CASE WHEN nt > 0 AND nc > 0
                 AND (ct + cc) * (nt + nc - ct - cc) > 0 THEN
             ROUND((CAST(ct AS DOUBLE) / nt - CAST(cc AS DOUBLE) / nc)
                   / SQRT((CAST(ct + cc AS DOUBLE) / (nt + nc))
                          * (1.0 - CAST(ct + cc AS DOUBLE) / (nt + nc))
                          * (1.0 / nt + 1.0 / nc)), 4)
           END AS z_score,
           CASE WHEN nt > 0 AND nc > 0
                 AND (ct + cc) * (nt + nc - ct - cc) > 0 THEN
             ABS(ROUND((CAST(ct AS DOUBLE) / nt - CAST(cc AS DOUBLE) / nc)
                   / SQRT((CAST(ct + cc AS DOUBLE) / (nt + nc))
                          * (1.0 - CAST(ct + cc AS DOUBLE) / (nt + nc))
                          * (1.0 / nt + 1.0 / nc)), 4)) >= 1.96
           END AS significant_05
    FROM arms
    """,
    tags=("behavioral", "stats", "experiment"),
)
def events_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on CONVERSION (did the user purchase at
    all?) between the user_id % 2 arms — the binary-outcome member of
    the experimentation battery: [[stats_welch_ttest]] tests means,
    [[stats_mann_whitney_u]] ranks, [[stats_ks_test]] shape, this
    tests the conversion RATE, the metric most product experiments
    actually gate on.  Pooled-variance form (the standard score test):
    z = (p̂₁−p̂₂) / √(p̂(1−p̂)(1/n₁+1/n₂)).

    Exactness device: all four counts are exact BIGINTs from one
    per-user reduce; rates and z derive in a fixed double tree
    (6dp/4dp presentation rounds), and the verdict compares the
    ROUNDED z so both engines compare the identical double.  Guards
    (both sides): an empty arm, or a pooled rate of exactly 0 or 1
    (zero variance — nobody or everybody converted), yields NULL
    z/verdict — the `(ct+cc)·(n−ct−cc) > 0` integer predicate, never
    a float-equality test.

    Scale shape: one map-side-combined groupBy onto the user-bounded
    relation, one 1-row conditional-count reduce.  No window, no
    join."""
    per_user = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("arm"), "conv")
    )
    arms = per_user.agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("nt"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("nc"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, F.col("conv"))), F.lit(0))
        .cast("bigint")
        .alias("ct"),
        F.coalesce(F.sum(F.when(F.col("arm") == 0, F.col("conv"))), F.lit(0))
        .cast("bigint")
        .alias("cc"),
    )
    nt, nc, ct, cc = F.col("nt"), F.col("nc"), F.col("ct"), F.col("cc")
    diff = ct.cast("double") / nt - cc.cast("double") / nc
    pooled = (ct + cc).cast("double") / (nt + nc)
    z4 = F.round(
        diff
        / F.sqrt(
            pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / nt + F.lit(1.0) / nc)
        ),
        4,
    )
    both = (nt > 0) & (nc > 0)
    var_pos = (ct + cc) * (nt + nc - ct - cc) > 0
    return arms.select(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        ct.alias("conv_treat"),
        cc.alias("conv_ctrl"),
        F.when(both, F.round(diff, 6)).alias("rate_diff"),
        F.when(both & var_pos, z4).alias("z_score"),
        F.when(both & var_pos, F.abs(z4) >= 1.96).alias("significant_05"),
    )


# z_{1-alpha/2} for alpha=0.05 and z_{power} for 80% power, 6dp literals in
# BOTH engines (never computed from an inverse-normal at runtime — libm
# quantile functions differ across engines; the constants don't).
_Z_ALPHA05_2S = 1.959964
_Z_POWER_80 = 0.841621


@register(
    "events_power_mde",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id % 2 AS arm,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(COUNT(*) FILTER (WHERE arm = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE arm = 0) AS BIGINT) AS nc,
             CAST(COALESCE(SUM(conv), 0) AS BIGINT) AS conv_all
      FROM per_user
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           CASE WHEN nt > 0 AND nc > 0 THEN
             ROUND(CAST(conv_all AS DOUBLE) / (nt + nc), 6) END AS p_pooled,
           CASE WHEN nt > 0 AND nc > 0 THEN
             ROUND(({_Z_ALPHA05_2S} + {_Z_POWER_80})
                   * SQRT((CAST(conv_all AS DOUBLE) / (nt + nc))
                          * (1.0 - CAST(conv_all AS DOUBLE) / (nt + nc))
                          * (1.0 / nt + 1.0 / nc)), 6) END AS mde_abs,
           CASE WHEN nt > 0 AND nc > 0 AND conv_all > 0 THEN
             ROUND(({_Z_ALPHA05_2S} + {_Z_POWER_80})
                   * SQRT((CAST(conv_all AS DOUBLE) / (nt + nc))
                          * (1.0 - CAST(conv_all AS DOUBLE) / (nt + nc))
                          * (1.0 / nt + 1.0 / nc))
                   / (CAST(conv_all AS DOUBLE) / (nt + nc)), 6)
           END AS mde_rel
    FROM arms
    """,
    tags=("behavioral", "stats", "experiment"),
)
def events_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at alpha=0.05 / 80% power for the
    conversion metric under the current enrollment — the experiment
    DESIGN readout that belongs next to the battery's result readouts:
    before trusting a null result, check whether the experiment could
    have detected an effect of interesting size at all (Kohavi et al.,
    Trustworthy Online Controlled Experiments, ch. 17).

    MDE_abs = (z_half_alpha + z_power) · √(p̂(1−p̂)(1/n_t + 1/n_c)) with
    pooled p̂ — the standard two-proportion sizing formula inverted for
    effect size at fixed n.

    Exactness device: the three counts are exact BIGINTs from one
    per-user reduce; the z constants are 6dp literals in BOTH engines
    (never runtime inverse-normal — libm quantiles differ across
    engines); MDE derives in one fixed double tree, 6dp presentation
    rounds.  Guards (both sides): an empty arm → NULL everything;
    p̂ = 0 → NULL mde_rel (no base rate to scale by) while mde_abs is
    legitimately 0.

    Scale shape: one map-side-combined groupBy onto the user-bounded
    relation, one 1-row reduce.  No window, no join."""
    per_user = (
        load(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select((F.col("user_id") % 2).alias("arm"), "conv")
    )
    arms = per_user.agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("nt"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("nc"),
        F.coalesce(F.sum("conv"), F.lit(0)).cast("bigint").alias("conv_all"),
    )
    nt, nc = F.col("nt"), F.col("nc")
    p = F.col("conv_all").cast("double") / (nt + nc)
    mde = F.lit(_Z_ALPHA05_2S + _Z_POWER_80) * F.sqrt(
        p * (F.lit(1.0) - p) * (F.lit(1.0) / nt + F.lit(1.0) / nc)
    )
    both = (nt > 0) & (nc > 0)
    return arms.select(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        F.when(both, F.round(p, 6)).alias("p_pooled"),
        F.when(both, F.round(mde, 6)).alias("mde_abs"),
        F.when(both & (F.col("conv_all") > 0), F.round(mde / p, 6)).alias(
            "mde_rel"
        ),
    )


STREAM_EXP_SLICES = 4  # staged event files = streaming micro-batches
STREAM_EXP_COMPACT_EVERY = 2  # live compaction cadence (micro-batches)


def _experiment_fold(sink, batch_df: DataFrame, batch_id: int) -> None:
    """Fold one micro-batch's per-user (x, y) cent sums into a DURABLE
    state sink, keyed by (batch_id, user_id).

    foreachBatch is at-least-once across driver restarts: the batch
    whose commit didn't land is REDELIVERED with the SAME batch_id.
    Keying the state by generation makes the replay a self-overwrite —
    the MERGE upserts the identical (batch_id, user_id) rows — instead
    of a double fold, which a user-keyed additive state could not
    distinguish.  The per-user relation is recovered downstream by
    summing across generations ([[_experiment_state_per_user]]); a
    periodic [[_experiment_state_compact]] folds generations at or
    below the replay horizon into the base generation to bound state
    rows.  Sink = the CDC state-sink protocol (streaming/cdc.py) —
    Delta-MERGE semantics, versioned snapshots, atomic log swap."""
    sink.merge(_experiment_fold_rows(batch_df, batch_id))


def _experiment_fold_rows(batch_df: DataFrame, batch_id: int) -> DataFrame:
    """The fold MERGE source for one micro-batch — factored from
    [[_experiment_fold]] so the compaction cadence can land fold and
    compaction in ONE atomic commit (r12)."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import IS_DELETE, ORDER_COL

    return _experiment_per_user(batch_df).select(
        F.lit(int(batch_id)).cast("long").alias("_pk_batch_id"),
        F.col("user_id").alias("_pk_user_id"),
        F.lit(False).alias(IS_DELETE),
        F.struct("x", "y").alias("after"),
        F.lit(int(batch_id)).cast("long").alias(ORDER_COL),
    )


def _experiment_state_compact(sink, horizon: int) -> None:
    """Fold every state generation with batch_id ≤ ``horizon`` into the
    single base generation (batch_id = −1) through ONE atomic state-sink
    MERGE — the compaction that bounds the generation-keyed state at
    Σ per-batch users growth.

    Safety contract (Delta VACUUM's, applied to replay): compact only
    past the stream's COMMITTED offset horizon.  Structured Streaming
    never redelivers a batch whose offsets are committed, so folding
    those generations loses nothing a replay could need; batches ABOVE
    the horizon keep their own generations and stay replay-idempotent.
    The MERGE deletes the folded (batch_id, user_id) rows and upserts
    the per-user base sums in the same commit, so a crash between the
    two cannot double-count — the sink's log swap is atomic and readers
    only ever see a committed snapshot.

    Scale shape: one keyed aggregate over the ≤-horizon slice plus one
    anti-join inside the sink's MERGE — both user-bounded, never
    fact-scaled."""
    rows = _experiment_compact_rows(sink, horizon)
    if rows is not None:
        sink.merge(rows)


def _experiment_compact_rows(sink, horizon: int) -> DataFrame | None:
    """The compaction MERGE source (deletes of folded generations +
    the re-aggregated base upserts) — factored from
    [[_experiment_state_compact]] so the live cadence can union it with
    the fold rows into ONE commit (r12); None when no state exists."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import IS_DELETE, ORDER_COL

    state = sink.read()
    if state is None:
        return None
    old = state.where(F.col("batch_id") <= F.lit(int(horizon)))
    base = old.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("x"),
        F.sum("y").cast("bigint").alias("y"),
    )
    upserts = base.select(
        F.lit(-1).cast("long").alias("_pk_batch_id"),
        F.col("user_id").alias("_pk_user_id"),
        F.lit(False).alias(IS_DELETE),
        F.struct("x", "y").alias("after"),
        F.lit(int(horizon)).cast("long").alias(ORDER_COL),
    )
    deletes = old.where(F.col("batch_id") != -1).select(
        F.col("batch_id").alias("_pk_batch_id"),
        F.col("user_id").alias("_pk_user_id"),
        F.lit(True).alias(IS_DELETE),
        F.struct("x", "y").alias("after"),
        F.lit(int(horizon)).cast("long").alias(ORDER_COL),
    )
    return deletes.unionByName(upserts)


def _experiment_fold_with_compaction(sink, batch_df: DataFrame, batch_id: int) -> None:
    """The LIVE fold cadence [[stream_experiment_snapshot]] runs: fold
    the micro-batch ([[_experiment_fold]]), then every
    ``STREAM_EXP_COMPACT_EVERY`` batches invoke
    [[_experiment_state_compact]] with horizon = ``batch_id - 1`` — the
    COMMITTED horizon, because Structured Streaming commits batch
    N−1's offsets before invoking batch N's foreachBatch, so those
    generations can never be redelivered.  This bounds live state at
    O(|users| + compact-window generations) on an unbounded stream
    instead of Σ per-batch |users| (VERDICT r9 task #2).

    Replay-safe: a redelivered batch N re-runs the same ≤ N−1
    compaction, which re-aggregates an already-folded base generation
    into itself — a no-op MERGE — while its own generation
    self-overwrites as before.

    r12 optimization: on a compaction batch the fold rows
    (batch_id = N) and the compaction rows (deletes of generations
    ≤ N−1 plus the base re-aggregate) address DISJOINT
    (batch_id, user_id) keys, so they land in ONE atomic sink MERGE —
    one snapshot rewrite + log swap instead of two, and the r10
    crash-window between the two commits (pinned by
    tests/test_streaming_restart.py) no longer exists at all: either
    both land or neither.  The compaction rows are derived from the
    PRE-merge state, exactly as the two-commit cadence derived them
    (horizon < N, so the fold rows could never feed the compact
    aggregate anyway)."""
    if batch_id > 0 and batch_id % STREAM_EXP_COMPACT_EVERY == 0:
        fold = _experiment_fold_rows(batch_df, batch_id)
        compact = _experiment_compact_rows(sink, horizon=batch_id - 1)
        sink.merge(fold if compact is None else fold.unionByName(compact))
    else:
        _experiment_fold(sink, batch_df, batch_id)


def _experiment_state_per_user(state: DataFrame) -> DataFrame:
    """Collapse the generation-keyed durable state to the additive
    per-user (x, y) relation — the exact frame the one-shot batch path
    builds, because the generations partition the event stream and the
    sums are additive."""
    return state.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("x"),
        F.sum("y").cast("bigint").alias("y"),
    )


def _exp_stream_slices(spark: SparkSession, sf_dir: str) -> str:
    """The events fixture range-split into ``STREAM_EXP_SLICES`` parquet
    files, one micro-batch each: the source of both experiment twins."""
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    def _write_slices(p: str) -> None:
        (
            load(spark, sf_dir, "events")
            .repartitionByRange(STREAM_EXP_SLICES, "event_id")
            .write.mode("overwrite")
            .parquet(p)
        )

    return materialize_once(sf_dir, "exp_stream_slices", _write_slices)


@register(
    "stream_experiment_snapshot",
    oracle="{REPORT}",  # bound below: the batch report's oracle certifies it
    tags=("behavioral", "stats", "experiment", "streaming"),
    bench=True,  # r11: wall-time tracking for the durable streaming family
)
def stream_experiment_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE STREAMING twin of [[events_experiment_report]] — the
    always-current experiment dashboard: events arrive as a real
    Structured Streaming file source in STREAM_EXP_SLICES micro-batches
    (maxFilesPerTrigger=1 over range-split slices) and each foreachBatch
    folds its batch's per-user (x, y) cent sums into a persisted state
    generation by PLAIN ADDITION — the additivity
    [[_experiment_per_user]] is designed around.  The drained state is
    therefore exactly the one-shot per-user relation regardless of how
    events were sliced, so the final snapshot equals the batch report
    BIT-FOR-BIT and the batch key's DuckDB oracle certifies the
    streaming path end-to-end (the stream/batch-twin device of
    [[stream_incremental_dedup]]).

    Scale shape: per-micro-batch cost is O(batch) for the batch-local
    sums plus O(|users|) for the state merge — the corpus is never
    re-scanned.  At 100 TB the state merge is the textbook keyed
    MERGE a real deployment would run against a Delta state table
    (same protocol as the CDC state sink); the report math downstream
    reads only the user-bounded state.  Durability (r9): the fold
    commits through the CDC ``ParquetStateSink`` keyed by
    (batch_id, user_id) — [[_experiment_fold]] — so a driver restart
    resumes from the committed snapshot and a REPLAYED micro-batch
    MERGEs idempotently instead of double-folding
    (tests/test_streaming_restart.py kills and restarts this exact
    fold; swap in ``DeltaStateSink`` on a cluster and nothing upstream
    changes).  Compaction (r10): the fold runs
    [[_experiment_fold_with_compaction]], so every
    ``STREAM_EXP_COMPACT_EVERY`` batches the committed generations fold
    into the base — live state stays user-bounded on an unbounded
    stream.  The run-scoped state/checkpoint directories are reclaimed
    in a ``finally`` once the user-bounded state is pinned to the
    session block store (VERDICT r9 task #4)."""
    from mysql_postgres_debezium_cdc_spark.streaming.jobs import fold_file_stream

    state = fold_file_stream(
        spark,
        _exp_stream_slices(spark, sf_dir),
        "exp",
        ("batch_id", "user_id"),
        ("x", "y"),
        _experiment_fold_with_compaction,
        "batch_id bigint, user_id bigint, x bigint, y bigint",
    )
    per_user = (
        _experiment_state_per_user(state)
        .select((F.col("user_id") % 2).alias("arm"), "x", "y")
        .persist()
    )
    return _experiment_report_from_per_user(per_user)


def _bind_stream_experiment_oracle() -> None:
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    spec = _REGISTRY["stream_experiment_snapshot"]
    object.__setattr__(
        spec,
        "oracle",
        spec.oracle.replace(
            "{REPORT}", _REGISTRY["events_experiment_report"].oracle
        ),
    )


_bind_stream_experiment_oracle()


def _srm_fold(sink, batch_df: DataFrame, batch_id: int) -> None:
    """Upsert one micro-batch's DISTINCT enrolled users into the durable
    first-seen state.  A SET-UNION state is idempotent under replay by
    construction (the redelivered batch upserts the same user keys), so
    unlike [[_experiment_fold]]'s additive sums it needs NO generation
    keying — the natural pk (user_id) is already exactly-once."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import IS_DELETE, ORDER_COL

    compacted = (
        batch_df.where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("_pk_user_id"),
            F.lit(False).alias(IS_DELETE),
            F.struct((F.col("user_id") % 2).alias("arm")).alias("after"),
            F.lit(int(batch_id)).cast("long").alias(ORDER_COL),
        )
    )
    sink.merge(compacted)


@register(
    "stream_srm_monitor",
    oracle="{SRM}",  # bound below: the batch SRM oracle certifies the stream
    tags=("behavioral", "stats", "experiment", "streaming", "dq"),
    bench=True,  # r12: completes wall-time tracking for the experiment family
)
def stream_srm_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE STREAMING twin of [[events_srm_check]] — the
    experiment-health guardrail a production deployment runs
    CONTINUOUSLY, because a sample-ratio mismatch must page before
    anyone reads an effect metric, not at analysis time (Fabijan et
    al. 2019).  Events arrive as the same real file-source micro-batches
    as [[stream_experiment_snapshot]]; each foreachBatch upserts its
    batch's DISTINCT enrolled users into a durable first-seen state
    through the CDC ``ParquetStateSink`` keyed by user_id.

    State-shape contrast with the experiment snapshot (the point of the
    pair): an ADDITIVE state (per-user sums) must be keyed by
    generation so a replayed batch overwrites itself; a SET-UNION
    state (first-seen enrollment) is idempotent under replay BY
    CONSTRUCTION — the redelivered batch upserts the same user keys —
    so the natural pk (user_id) is already exactly-once.  Both twins
    drain to relations the batch oracles certify bit-for-bit.

    Scale shape: per-micro-batch cost is O(batch distinct users) for
    the upsert probe; the SRM readout downstream is one conditional
    count over the user-bounded state.  The 1e6-scaled integer chi²
    verdict is [[events_srm_check]]'s, unchanged.  No compaction is
    needed here (contrast [[stream_experiment_snapshot]]): the
    set-union state is already one row per user — the MERGE itself is
    the bound.  Run-scoped state/checkpoint dirs are reclaimed in a
    ``finally`` once the state is pinned (VERDICT r9 task #4).

    Paging verdicts (VERDICT r10 task #2): the monitor emits BOTH the
    fixed-horizon χ² verdict of [[events_srm_check]] AND the
    anytime-valid mSPRT verdict of [[events_srm_sequential]] — because
    THIS key is precisely the continuous-peeking regime the sequential
    test exists for: every micro-batch readout is a peek, and paging on
    the repeatedly-peeked χ² alone has unbounded false-positive
    probability over an unbounded stream.  ``srm_detected`` is kept as
    the analysis-time (single-look) diagnostic; ``srm_sequential`` is
    the verdict a live pager should act on.  Both are pure column math
    over the same (nt, nc) scalar row — no new shuffle — via the shared
    fixed double tree [[_lgamma_col]]/[[_lgamma_sql]], and the bound
    oracle replays the column-union of the two batch oracles from the
    identical literals."""
    from mysql_postgres_debezium_cdc_spark.streaming.jobs import fold_file_stream

    state = fold_file_stream(
        spark,
        _exp_stream_slices(spark, sf_dir),
        "srm",
        ("user_id",),
        ("arm",),
        _srm_fold,
        "user_id bigint, arm bigint",
    )
    arms = state.agg(
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("nt"),
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("nc"),
    )
    nt, nc = F.col("nt"), F.col("nc")
    tot = nt + nc
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    log_bf = (
        _lgamma_col(nt.cast("double") + F.lit(1.0))
        + _lgamma_col(nc.cast("double") + F.lit(1.0))
        - _lgamma_col(tot.cast("double") + F.lit(2.0))
        + tot.cast("double") * F.lit(float(_LN_2))
    )
    return arms.select(
        nt.alias("n_treat"),
        nc.alias("n_ctrl"),
        F.when(tot > 0, F.round(nt.cast("double") / tot, 6)).alias("ratio_treat"),
        F.when(
            tot > 0,
            F.round(((nt - nc) * (nt - nc)).cast("double") / tot, 4),
        ).alias("chi2"),
        F.when(
            tot > 0,
            dec(nt - nc) * (nt - nc) * 1000000
            > dec(F.lit(_SRM_CHI2_001_E6)) * tot,
        ).alias("srm_detected"),
        F.when(tot > 0, F.round(log_bf, 6)).alias("log_bf"),
        F.when(
            tot > 0,
            F.round(F.least(F.lit(1.0), F.exp(-F.round(log_bf, 6))), 6),
        ).alias("p_always_valid"),
        F.when(tot > 0, F.round(log_bf, 6) > F.lit(float(_LN_1000))).alias(
            "srm_sequential"
        ),
    )


def _bind_stream_srm_oracle() -> None:
    """Bind the stream monitor's oracle as the COLUMN-UNION of the two
    batch SRM oracles ([[events_srm_check]]'s exact-integer χ² columns
    + [[events_srm_sequential]]'s shared-double-tree mSPRT columns),
    built from the same module-level literals (`_lgamma_sql`, `_LN_2`,
    `_LN_1000`, `_SRM_CHI2_001_E6`) so the batch keys certify the
    stream bit-for-bit (VERDICT r10 task #2)."""
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    composite = f"""
    WITH arms AS (
      SELECT CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS nt,
             CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS nc
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)
    ),
    bf AS (
      SELECT nt, nc,
             {_lgamma_sql("(CAST(nt AS DOUBLE) + 1.0)")}
             + {_lgamma_sql("(CAST(nc AS DOUBLE) + 1.0)")}
             - {_lgamma_sql("(CAST(nt + nc AS DOUBLE) + 2.0)")}
             + CAST(nt + nc AS DOUBLE) * {_LN_2} AS log_bf
      FROM arms
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           CASE WHEN nt + nc > 0 THEN
             ROUND(CAST(nt AS DOUBLE) / (nt + nc), 6) END AS ratio_treat,
           CASE WHEN nt + nc > 0 THEN
             ROUND(CAST((nt - nc) * (nt - nc) AS DOUBLE) / (nt + nc), 4)
           END AS chi2,
           CASE WHEN nt + nc > 0 THEN
             CAST((nt - nc) AS HUGEINT) * (nt - nc) * 1000000
               > CAST({_SRM_CHI2_001_E6} AS HUGEINT) * (nt + nc)
           END AS srm_detected,
           CASE WHEN nt + nc > 0 THEN ROUND(log_bf, 6) END AS log_bf,
           CASE WHEN nt + nc > 0 THEN
             ROUND(LEAST(1.0, EXP(-ROUND(log_bf, 6))), 6) END AS p_always_valid,
           CASE WHEN nt + nc > 0 THEN ROUND(log_bf, 6) > {_LN_1000}
           END AS srm_sequential
    FROM bf
    """
    spec = _REGISTRY["stream_srm_monitor"]
    object.__setattr__(spec, "oracle", spec.oracle.replace("{SRM}", composite))


_bind_stream_srm_oracle()


@register(
    "events_uplift_cuped_by_segment",
    oracle="""
    WITH seg_counts AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id, event_type
    ),
    seg AS (
      SELECT user_id, event_type AS segment
      FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY cnt DESC, event_type) AS rn
        FROM seg_counts
      ) WHERE rn = 1
    ),
    per_user AS (
      SELECT e.user_id, s.segment, e.user_id % 2 AS arm,
             CAST(COALESCE(SUM(CASE WHEN e.ts < TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(e.value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN e.ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(e.value * 100) AS BIGINT) END), 0)
                  AS BIGINT) AS y
      FROM events e JOIN seg s ON s.user_id = e.user_id
      WHERE e.value IS NOT NULL AND e.user_id IS NOT NULL
      GROUP BY e.user_id, s.segment
    ),
    th AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
             CAST(COUNT(*) AS DOUBLE) * SUM(x * y)
               - CAST(SUM(x) AS DOUBLE) * SUM(y) AS cov_n,
             CAST(COUNT(*) AS DOUBLE) * SUM(x * x)
               - CAST(SUM(x) AS DOUBLE) * SUM(x) AS varx_n
      FROM per_user GROUP BY segment
    ),
    arms AS (
      SELECT segment, arm, CAST(COUNT(*) AS BIGINT) AS n_a,
             SUM(x) AS sx_a, SUM(y) AS sy_a
      FROM per_user GROUP BY segment, arm
    ),
    tc AS (
      SELECT t.segment, t.n_a AS nt, t.sx_a AS sxt, t.sy_a AS syt,
             c.n_a AS nc, c.sx_a AS sxc, c.sy_a AS syc
      FROM (SELECT * FROM arms WHERE arm = 1) t
      JOIN (SELECT * FROM arms WHERE arm = 0) c ON c.segment = t.segment
    )
    SELECT tc.segment, tc.nt AS n_treat, tc.nc AS n_ctrl,
           ROUND((CAST(tc.syt AS DOUBLE) / tc.nt
                  - CAST(tc.syc AS DOUBLE) / tc.nc) / 100.0, 4) AS uplift_raw,
           CASE WHEN th.varx_n <> 0 THEN
             ROUND(((CAST(tc.syt AS DOUBLE) / tc.nt
                     - (th.cov_n / th.varx_n)
                       * (CAST(tc.sxt AS DOUBLE) / tc.nt
                          - CAST(th.sx AS DOUBLE) / th.n))
                    - (CAST(tc.syc AS DOUBLE) / tc.nc
                       - (th.cov_n / th.varx_n)
                         * (CAST(tc.sxc AS DOUBLE) / tc.nc
                            - CAST(th.sx AS DOUBLE) / th.n))) / 100.0, 4)
           END AS uplift_cuped,
           CASE WHEN th.varx_n <> 0
                THEN ROUND(th.cov_n / th.varx_n, 6) END AS theta
    FROM tc JOIN th ON th.segment = tc.segment
    ORDER BY tc.segment
    """,
    tags=("behavioral", "stats", "experiment"),
)
def events_uplift_cuped_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effects: [[events_uplift_cuped]] computed
    PER USER SEGMENT — the readout that tells an experimenter WHERE an
    effect concentrates, with θ fit per segment (a pooled θ under-
    corrects segments whose pre/post correlation differs; Deng et al.
    2013 §5 recommends stratified CUPED for exactly this).

    Segment = the user's MODAL event type with a fixed total tie-break
    (count DESC, type ASC — the [[ml_naive_bayes_lang]]
    argmax-with-fixed-tie-order device, so both engines pick the same
    segment for tied users).  Segments that lack either arm emit no
    row (an uplift needs both arms), and zero pre-period variance in a
    segment NULLs its adjusted columns under the identical guard.

    Scale shape: two fact-sized map-side-combined aggregates (modal
    type per user, pre/post sums per user) joined on user_id — both
    user-bounded relations — then |segments|-sized CUPED arithmetic
    joined on segment.  No window over anything fact-sized (the modal
    pick windows over the per-user type-count relation, partitioned by
    user)."""
    ev = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    seg_counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    seg = (
        seg_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("segment"))
    )
    per_user = (
        _experiment_per_user(load(spark, sf_dir, "events"))
        .join(seg, "user_id")
        .select("segment", (F.col("user_id") % 2).alias("arm"), "x", "y")
        .persist()
    )
    dn = F.count(F.lit(1)).cast("bigint").cast("double")
    th = per_user.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        (dn * F.sum(F.col("x") * F.col("y"))
         - F.sum("x").cast("double") * F.sum("y")).alias("cov_n"),
        (dn * F.sum(F.col("x") * F.col("x"))
         - F.sum("x").cast("double") * F.sum("x")).alias("varx_n"),
    )
    arms = per_user.groupBy("segment", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a"),
        F.sum("x").alias("sx_a"),
        F.sum("y").alias("sy_a"),
    )
    t = arms.where(F.col("arm") == 1).select(
        "segment",
        F.col("n_a").alias("nt"),
        F.col("sx_a").alias("sxt"),
        F.col("sy_a").alias("syt"),
    )
    c = arms.where(F.col("arm") == 0).select(
        "segment",
        F.col("n_a").alias("nc"),
        F.col("sx_a").alias("sxc"),
        F.col("sy_a").alias("syc"),
    )
    theta = F.col("cov_n") / F.col("varx_n")
    mean_x_all = F.col("sx").cast("double") / F.col("n")
    adj_t = F.col("syt").cast("double") / F.col("nt") - theta * (
        F.col("sxt").cast("double") / F.col("nt") - mean_x_all
    )
    adj_c = F.col("syc").cast("double") / F.col("nc") - theta * (
        F.col("sxc").cast("double") / F.col("nc") - mean_x_all
    )
    return (
        t.join(c, "segment")
        .join(th, "segment")
        .select(
            "segment",
            F.col("nt").alias("n_treat"),
            F.col("nc").alias("n_ctrl"),
            F.round(
                (
                    F.col("syt").cast("double") / F.col("nt")
                    - F.col("syc").cast("double") / F.col("nc")
                )
                / 100.0,
                4,
            ).alias("uplift_raw"),
            F.when(
                F.col("varx_n") != 0, F.round((adj_t - adj_c) / 100.0, 4)
            ).alias("uplift_cuped"),
            F.when(F.col("varx_n") != 0, F.round(theta, 6)).alias("theta"),
        )
        .orderBy("segment")
    )
