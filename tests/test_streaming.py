"""Stream-vs-batch equivalence + watermark semantics.

Each registered streaming key is the batch run of a function in
streaming/jobs.py, checked against its DuckDB oracle; these tests run
the same function under real Structured Streaming execution
(micro-batch, stateful aggregation) and assert identical results: two
execution modes of one definition."""

from __future__ import annotations

import pyspark.sql.functions as F

from mysql_postgres_debezium_cdc_spark.registry import all_queries
from mysql_postgres_debezium_cdc_spark.streaming import jobs
from tests.conftest import SF_DIR_SMOKE


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark):
    batch = all_queries()["stream_tumbling_window"].fn(spark, SF_DIR_SMOKE)
    stream = jobs.run_to_memory(
        spark, jobs.tumbling_agg(jobs.stream_events(spark, SF_DIR_SMOKE)), "t_tumbling"
    )
    cols = ("window_start_s", "event_type", "n_events", "sum_value")
    assert rows(stream, *cols) == rows(batch, *cols)


def test_session_stream_equals_batch(spark):
    batch = all_queries()["stream_session_window"].fn(spark, SF_DIR_SMOKE)
    stream = jobs.run_to_memory(
        spark, jobs.session_agg(jobs.stream_events(spark, SF_DIR_SMOKE)), "t_session"
    )
    cols = ("user_id", "session_start_s", "session_end_s", "n_events", "sum_value")
    assert rows(stream, *cols) == rows(batch, *cols)


def test_dedup_within_watermark_keeps_one_per_key(spark):
    events = jobs.stream_events(spark, SF_DIR_SMOKE)
    out = jobs.run_to_memory(
        spark, jobs.dedup_within_watermark(events), "t_dedup", output_mode="append"
    )
    per_key = out.groupBy("user_id", "event_type").count()
    assert per_key.where(F.col("count") > 1).count() == 0
    # and it kept at least one event per observed key
    n_keys_stream = out.select("user_id", "event_type").distinct().count()
    assert n_keys_stream == per_key.count()
    assert n_keys_stream > 0


def test_watermark_bounds_append_output(spark, tmp_path):
    """Append mode emits only watermark-finalized windows: with
    everything in one availableNow batch and a tiny watermark, the last
    (still-open) window must be withheld."""
    stream = jobs.tumbling_agg(jobs.stream_events(spark, SF_DIR_SMOKE), watermark="1 minute")
    out = jobs.run_to_memory(spark, stream, "t_wm", output_mode="append")
    batch = all_queries()["stream_tumbling_window"].fn(spark, SF_DIR_SMOKE)
    n_all = batch.select("window_start_s").distinct().count()
    n_final = out.select("window_start_s").distinct().count()
    assert 0 < n_final < n_all
    # emitted finalized windows agree exactly with the batch result
    joined = out.join(
        batch.withColumnRenamed("n_events", "n_b").withColumnRenamed("sum_value", "s_b"),
        ["window_start_s", "event_type"],
    )
    assert joined.count() == out.count()
    assert joined.where(
        (F.col("n_events") != F.col("n_b")) | (F.col("sum_value") != F.col("s_b"))
    ).count() == 0


def test_stateful_apply_in_pandas_equals_batch(spark):
    """The registry query now carries the batch-vs-stateful diff IN-PLAN
    (VERDICT r3 #10) and returns one checkable row; assert it reports
    full agreement and the true user cardinality."""
    batch = all_queries()["stream_user_running_state"].fn(spark, SF_DIR_SMOKE)
    summary = (
        all_queries()["stream_user_running_state_stateful"]
        .fn(spark, SF_DIR_SMOKE)
        .collect()
    )
    assert len(summary) == 1
    assert summary[0]["n_mismatches"] == 0
    assert summary[0]["n_users"] == batch.count()


def test_rate_source_windowed_agg(spark):
    """The built-in rate source (offline-capable streaming source,
    SURVEY §2.2 scans row): prove a windowed aggregation over it runs
    and produces monotone counters."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
    )
    agg = rate.groupBy(F.window("timestamp", "1 second").alias("w")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("complete")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("t_rate").count() > 0:
                break
            time.sleep(0.5)
        rows = spark.table("t_rate").collect()
        assert rows and all(r["count"] > 0 for r in rows)
    finally:
        q.stop()


def test_stream_stream_join_equals_batch(spark):
    batch = all_queries()["stream_stream_join_attribution"].fn(spark, SF_DIR_SMOKE)
    stream = jobs.run_to_memory(
        spark,
        jobs.attribution_join(jobs.stream_events(spark, SF_DIR_SMOKE)),
        "t_ssjoin",
        output_mode="append",
    )
    cols = ("purchase_id", "click_id", "user_id", "purchase_value")
    assert rows(stream, *cols) == rows(batch, *cols)


def test_late_event_beyond_watermark_is_dropped(spark, tmp_path):
    """Watermark discipline across MICRO-BATCHES: after batch 1 advances
    the watermark, a batch-2 event older than it is filtered before the
    stateful aggregation — it must contribute to no emitted window, and
    the window it targets must emit with batch-1 data only."""
    import glob
    import os
    import shutil

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def write_file(rows, name):
        tmp = str(tmp_path / f"_stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.makedirs(str(tmp_path / "stream"), exist_ok=True)
        shutil.copy(part, str(tmp_path / "stream" / f"{name}.parquet"))

    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 3, 1, h, m)
    # Batch 1: window 10-11 (two events) plus a 12:30 event that drives
    # the watermark to 11:30 — PAST the 10-11 window's end, so that
    # window's state is evicted after batch 1.
    write_file(
        [(1, t(10, 5), 1, "click", 1.0), (2, t(10, 40), 2, "click", 2.0), (3, t(12, 30), 1, "click", 4.0)],
        "batch1",
    )
    # Batch 2 (delivered mid-stream below): on-time event at 13:00 + a
    # LATE 10:15 event.  Watermark semantics: late data still MERGES
    # into a live window; it is only dropped once its whole window sits
    # below the watermark (state evicted) — which 10-11 now does.
    raw = spark.readStream.schema(schema).parquet(str(tmp_path / "stream"))
    agg = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    # Two REAL micro-batches: start with only batch1 on disk, wait until
    # the watermark advances past the late event's time, then deliver
    # batch2 (availableNow would fold both files into one batch).
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late_drop")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            p = q.lastProgress
            wm = (p or {}).get("eventTime", {}).get("watermark", "1970")
            if wm >= "2024-03-01T11:30":
                break
            time.sleep(0.3)
        else:
            raise AssertionError(f"watermark never advanced: {q.lastProgress}")
        write_file(
            [(4, t(13, 0), 2, "click", 8.0), (5, t(10, 15), 3, "click", 999.0)],
            "batch2",
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["window_start_s"]: r for r in spark.table("t_late_drop").collect()}
    ten_oclock = int(dt.datetime(2024, 3, 1, 10).timestamp())
    # Window 10-11 emitted with ONLY batch-1 events; the late 999.0 is gone.
    assert ten_oclock in got
    assert got[ten_oclock]["n_events"] == 2
    assert got[ten_oclock]["sum_value"] == 3.0
    assert all(r["sum_value"] < 900 for r in got.values())


def test_stream_static_join_equals_batch(spark):
    """Stream-static enrichment: the live readStream twin (join against
    a static dim inside a streaming query, complete-mode agg) must land
    bit-identical to the batch formulation — integer-cents sums make the
    micro-batch accumulation order irrelevant."""
    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    batch = all_queries()["stream_static_enrichment"].fn(spark, SF_DIR_SMOKE)
    stream = jobs.run_to_memory(
        spark,
        jobs.enrichment_agg(
            jobs.stream_events(spark, SF_DIR_SMOKE), load(spark, SF_DIR_SMOKE, "customer")
        ),
        "t_enrich",
        output_mode="complete",
    )
    cols = ("mktsegment", "event_type", "n_events", "sum_cents")
    assert rows(stream, *cols) == rows(batch, *cols)


def test_sliding_stream_equals_batch(spark):
    """Sliding-window live twin: the overlapping-window streaming agg
    must land identical to the batch formulation (which the DuckDB
    oracle pins via the closed-form two-starts expansion)."""
    batch = all_queries()["stream_sliding_window"].fn(spark, SF_DIR_SMOKE)
    stream = jobs.run_to_memory(
        spark, jobs.sliding_agg(jobs.stream_events(spark, SF_DIR_SMOKE)), "t_sliding"
    )
    cols = ("window_start_s", "n_events", "sum_value")
    assert rows(stream, *cols) == rows(batch, *cols)


def test_stream_stream_left_outer_equals_batch_after_watermark_flush(spark, tmp_path):
    """Outer stream-stream equality REQUIRES advancing the watermark
    past the fixture tail: unmatched purchases sit in state until no
    in-horizon click can still arrive.  A far-future sentinel event
    (filtered from the comparison) flushes them; without it the live
    result would be missing the tail's unattributed purchases — that
    gap is asserted too, because it is the documented semantic."""
    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.sources.parquet import load

    batch = all_queries()["stream_stream_join_left_outer"].fn(spark, SF_DIR_SMOKE)

    # Stage: fixture events + one sentinel purchase far past the tail.
    ev = load(spark, SF_DIR_SMOKE, "events")
    stage = tmp_path / "events_staged"
    ev.coalesce(1).write.mode("overwrite").parquet(str(stage))
    # BOTH sides need a sentinel: the stateful operator's flush point is
    # the GLOBAL watermark = min over all input watermarks, so a
    # purchase-only sentinel leaves the click side (and therefore the
    # minimum) at the fixture tail and the last unmatched purchases
    # would stay in state.
    sentinel_ts = ev.agg(F.max("ts")).collect()[0][0]
    spark.createDataFrame(
        [
            (999_999_999, sentinel_ts, -1, "purchase", 0.0, "{}"),
            (999_999_998, sentinel_ts, -1, "click", 0.0, "{}"),
        ],
        ev.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 999 HOURS")).coalesce(
        1
    ).write.mode("append").parquet(str(stage))

    stream_src = (
        spark.readStream.schema(spark.read.parquet(str(stage)).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stage))
    )
    out = jobs.run_to_memory(
        spark,
        jobs.attribution_join_outer(stream_src),
        "t_ssjoin_outer",
        output_mode="append",
    )
    cols = ("purchase_id", "click_id", "user_id", "purchase_value")
    got = [r for r in rows(out, *cols) if r[0] != 999_999_999]
    assert got == rows(batch, *cols)


def test_windowed_topk_stream_equals_batch(spark):
    """The stream maintains the windowed aggregate; applying the same
    read-time rank-1 pass over the streamed state must reproduce the
    registered batch query exactly."""
    from pyspark.sql import Window

    batch = all_queries()["stream_windowed_topk"].fn(spark, SF_DIR_SMOKE)
    state = jobs.run_to_memory(
        spark,
        jobs.tumbling_cents_agg(jobs.stream_events(spark, SF_DIR_SMOKE)),
        "t_topk",
    )
    w = Window.partitionBy("window_start_s").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    served = (
        state.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("window_start_s", "event_type", "n_events", "sum_cents")
    )
    cols = ("window_start_s", "event_type", "n_events", "sum_cents")
    assert rows(served, *cols) == rows(batch, *cols)


def test_rate_ratio_counts_stream_equals_batch(spark):
    """Live twin of `events_rate_ratio_test`'s corpus-scale stage: the
    per-type period counts accumulate identically under real streaming
    execution (complete-mode stateful aggregation).  The z/ratio
    arithmetic is a constant-size derivation over those counts, so
    count equality IS result equality."""
    batch = all_queries()["events_rate_ratio_test"].fn(spark, SF_DIR_SMOKE)
    cut = F.lit("2024-01-16").cast("timestamp")
    agg = (
        jobs.stream_events(spark, SF_DIR_SMOKE)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("ts") < cut, 1)).cast("bigint").alias("n1"),
            F.count(F.when(F.col("ts") >= cut, 1)).cast("bigint").alias("n2"),
        )
    )
    stream = jobs.run_to_memory(spark, agg, "t_rate_counts")
    cols = ("event_type", "n1", "n2")
    assert rows(stream, *cols) == rows(batch, *cols)


def test_run_to_memory_times_out_instead_of_returning_partial(spark, tmp_path):
    """A stream still running at its timeout must not hand back the
    memory table's partial contents as if it had drained: the query is
    stopped and the call raises TimeoutError."""
    import time

    import pytest

    spark.range(1).write.parquet(str(tmp_path / "src"))
    slow = F.udf(lambda i: time.sleep(6) or i, "bigint")
    stream = (
        spark.readStream.schema("id bigint")
        .parquet(str(tmp_path / "src"))
        .select(slow("id").alias("id"))
    )
    with pytest.raises(TimeoutError, match="t_slow"):
        jobs.run_to_memory(spark, stream, "t_slow", output_mode="append", timeout_s=1)
    assert all(q.name != "t_slow" for q in spark.streams.active)
