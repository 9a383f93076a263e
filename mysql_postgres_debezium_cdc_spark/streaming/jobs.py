"""Structured Streaming jobs over the events fixture, and the one
definition of every windowed, joined or aggregated streaming query.

``event_windows.py`` registers each of these bodies over the batch
``load(...)`` of the fixture (plus an ``orderBy``) for the DuckDB
oracle; here the same function runs under ``readStream``.  On a batch
frame the analyzer drops ``withWatermark``, so the registered plan is
the plain aggregate.  tests/test_streaming.py asserts stream-vs-batch
equality: one definition, two execution modes.

Watermarks bound state: a ``withWatermark("ts", H)`` windowed aggregate
keeps only windows newer than (max event time − H) in the state store —
at 100 TB/day of events, state is O(active windows × keys), never
O(stream).  ``dropDuplicatesWithinWatermark`` is the keyed-dedup
analogue with the same bound.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

def _events_file_schema(ts_type: T.DataType) -> T.StructType:
    # ts on disk varies by fixture generation: TIMESTAMP(NANOS) (readable
    # only as int64) or TIMESTAMP(MICROS) (TIMESTAMP_NTZ) — see
    # sources.parquet.load for the matching batch-side normalization.
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded stream (file source over the fixture).

    The file stream source wants a *directory*; the fixture is a single
    parquet file, so stage a symlink directory under /tmp (read-only
    testdata stays untouched)."""
    import hashlib
    import os
    import tempfile

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    stage = os.path.join(
        tempfile.gettempdir(),
        f"events-stream-{hashlib.md5(src.encode()).hexdigest()[:10]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    # Probe the on-disk ts physical type once (batch footer read) so the
    # declared stream schema matches the file.
    disk_ts = spark.read.parquet(src).schema["ts"].dataType
    raw = spark.readStream.schema(_events_file_schema(disk_ts)).parquet(stage)
    if isinstance(disk_ts, T.LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling count/sum per event_type (the body of
    event_windows.stream_tumbling_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour window sliding every 30 min (the body of
    event_windows.stream_sliding_window): each event contributes to two
    overlapping windows; the watermark evicts windows whose end falls
    behind the event-time horizon, so state is O(active windows), with
    twice the window count of the tumbling job for the same horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """30-minute-gap session windows per user (the body of
    event_windows.stream_session_window)."""
    return (
        events.where(F.col("user_id") < 20)
        .withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_s"),
            F.unix_timestamp("w.end").alias("session_end_s"),
            "n_events",
            "sum_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type) within the
    watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> DataFrame:
    """Execute a streaming frame to a memory sink with availableNow
    (process-everything-then-stop) and return the result as a batch DF."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q, timeout_s, f"stream {name!r}")
    return spark.table(name)


def await_stream(q, timeout_s: int, what: str) -> None:
    """Wait for an availableNow query to drain.  A query still running
    after ``timeout_s`` is stopped and raises TimeoutError, so no caller
    reports from a partial result; a failed query re-raises its error."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"{what} did not finish within {timeout_s} s — refusing to "
            "report a partial result"
        )
    if q.exception() is not None:
        raise q.exception()


def fold_file_stream(
    spark: SparkSession,
    slices: str,
    name: str,
    pk_cols: Sequence[str],
    row_cols: Sequence[str],
    fold: Callable[..., None],
    empty_ddl: str,
) -> DataFrame:
    """Drain the parquet files under ``slices`` as a file stream, one
    file per micro-batch, through ``fold(sink, batch_df, batch_id)``
    into a run-scoped ``ParquetStateSink`` keyed by ``pk_cols``, and
    return the drained state's ``pk_cols + row_cols``.

    The stream twins' shared driver.  The state is pinned to the
    session block store (an empty ``empty_ddl`` frame when no batch
    committed), so the run's state and checkpoint dirs are removed
    before this returns."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import ParquetStateSink

    run = (
        f"{tempfile.gettempdir()}/spark_graft_stream_{name}_"
        f"{spark.sparkContext.applicationId}_{uuid.uuid4().hex}"
    )
    try:
        sink = ParquetStateSink(spark, f"{run}/state", pk_cols=pk_cols, row_cols=row_cols)
        q = (
            spark.readStream.schema(spark.read.parquet(slices).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(slices)
            .writeStream.foreachBatch(lambda df, batch_id: fold(sink, df, batch_id))
            .option("checkpointLocation", f"{run}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 300, f"{name}: streaming fold")
        state = sink.read()
        if state is None:  # zero micro-batches committed (empty source)
            return spark.createDataFrame([], empty_ddl)
        return state.select(*pk_cols, *row_cols).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(run, ignore_errors=True)


USER_STATE_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_event_id", T.LongType()),
    ]
)

USER_STATE_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("last", T.LongType()),
    ]
)


def user_state_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user (count, sum, last_event_id) across micro-batches.

    This is the escape hatch for state machines that windowed aggs can't
    express (the Arrow-batched analogue of a per-key reducer).  State is
    one fixed-width row per user — O(keys), never O(stream) — and the
    state store shards by the groupBy key, so it scales out with
    partitions like any keyed aggregation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s, last = state.get if state.exists else (0, 0.0, -1)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            last = max(last, int(pdf["event_id"].max()))
        state.update((n, s, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "last_event_id": [last]}
        )

    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            USER_STATE_OUTPUT,
            USER_STATE_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def attribution_join(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream interval join, the body of
    event_windows.stream_stream_join_attribution: purchases ⋈ same-user
    clicks within the previous 30 minutes.  Watermarks on BOTH sides +
    the interval condition let Spark evict join state older than the
    horizon."""
    return _attribution(events, watermark, "inner")


def _attribution(events: DataFrame, watermark: str, how: str) -> DataFrame:
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value"),
        )
        .withWatermark("p_ts", watermark)
    )
    c = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    return p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE")),
        how,
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        F.round("value", 2).alias("purchase_value"),
    )


def enrichment_agg(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment (the body of
    event_windows.stream_static_enrichment): the event stream joins the
    STATIC customer dimension, then aggregates per (segment, type).

    A stream-static join holds no join state — every micro-batch joins
    against the dim as of that batch (which is also why it picks up dim
    updates between batches); only the aggregation keeps state,
    O(segments × types) rows.  Sums accumulate as integer cents so
    incremental micro-batch accumulation is order-independent and lands
    bit-identical to the batch run."""
    cust = customers.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("mktsegment")
    )
    return (
        events.select(
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .join(cust, "user_id")
        .groupBy("mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


def attribution_join_outer(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """LEFT OUTER form of [[attribution_join]], the body of
    event_windows.stream_stream_join_left_outer.

    Semantics a batch run cannot show: a null-padded (unattributed)
    purchase is emitted only once the CLICK side's watermark passes
    `p_ts`, i.e. once no in-horizon click can still arrive.  Corollary:
    when a stream STOPS, unmatched purchases younger than the horizon
    are never emitted — correct (a matching click might still have
    come), but it means an availableNow equality test must advance the
    watermark past the fixture's tail (a sentinel event) before
    comparing against the batch run."""
    return _attribution(events, watermark, "leftOuter")


TWS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
        T.StructField("top3_ids", T.ArrayType(T.LongType())),
    ]
)


def make_user_agg_processor():
    """The TWS StatefulProcessor behind [[user_state_tws]], hoisted so
    its fold/top-3 arithmetic is unit-testable against a stubbed handle
    (tests/test_tws_stateful.py) even where the transformWithState
    runtime protocol (google.protobuf) is unavailable — the class and
    its methods import cleanly; only a live run needs protobuf."""
    import pandas as pd  # noqa: F401 (used by handleInputRows)
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _UserAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, s LONG")
            self._ids = handle.getListState("ids", "id LONG")

        def handleInputRows(self, key, rows, timerValues):
            import math

            import pandas as pd

            st = self._agg.get()
            n, s = (int(st[0]), int(st[1])) if st is not None else (0, 0)
            new_ids = []
            for pdf in rows:
                n += len(pdf)
                # FLOOR(value*100) on the same doubles both engines hold
                s += int((pdf["value"] * 100).apply(math.floor).sum())
                new_ids.extend(int(i) for i in pdf["event_id"])
            ids = sorted(
                [t[0] for t in self._ids.get()] + new_ids, reverse=True
            )[:3]
            self._ids.put([(i,) for i in ids])
            self._agg.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_cents": [s],
                    "top3_ids": [ids],
                }
            )

        def close(self) -> None:
            pass

    return _UserAgg()


def user_state_tws(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Custom stateful operator on the Spark 4 ``transformWithState``
    API (StatefulProcessor + typed state variables) — the successor to
    ``applyInPandasWithState`` ([[user_state_stateful]] keeps the old
    surface covered).  Two state variables per user demonstrate the
    composite-state capability the old API lacks:

    - a ValueState (n_events, sum_cents) — the running aggregate, in
      INTEGER CENTS so cross-batch accumulation is exact and the batch
      twin can demand equality with no float tolerance;
    - a ListState of event ids, truncated to the top-3 after every
      batch — bounded per-key state the old single-value API could
      only fake by packing into one row.

    transformWithState requires the RocksDB state-store provider (set
    by the caller); state shards by the groupBy key like any keyed
    aggregation, so the operator scales out with partitions."""
    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=make_user_agg_processor(),
            outputStructType=TWS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


def tumbling_cents_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """The aggregate under event_windows.stream_windowed_topk: the
    stream maintains per-(window, type) counts and integer-cent sums;
    rank-1 selection happens at read time over the materialized state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )
