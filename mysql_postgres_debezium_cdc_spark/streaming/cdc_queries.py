"""Oracle-checked CDC queries.

The driver fixtures have no Kafka broker, so these queries *synthesize*
Debezium envelopes (payload-wrapped and bare, upserts and deletes,
tombstones and poison records) from the deterministic parquet tables,
then run them through the engine's real decode → compact → apply path.
The DuckDB oracle states the expected *final values* directly from the
base tables — so any decode/compaction/merge bug shows up as a value
mismatch, exactly like the reference's manual insert→SELECT check
(README.md:85-134).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.debezium import decode_envelope
from mysql_postgres_debezium_cdc_spark.sources.parquet import load, spread_small_scan
from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
    IS_DELETE,
    ORDER_COL,
    apply_changes,
    compact,
    with_change_columns,
)

ORDERS_ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("custkey", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("order_ms", T.LongType()),  # Debezium epoch-millis wire form
    ]
)

EVENTS_ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _orders_envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelopes from orders: op ∈ c/u/d by key, every 3rd
    payload-wrapped (Consumer.java:139-140 handles both shapes)."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    op = (
        F.when(F.col("o_orderkey") % 7 == 0, "d")
        .when(F.col("o_orderkey") % 2 == 0, "c")
        .otherwise("u")
    )
    row_image = F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")).alias("order_ms"),
    )
    env = F.struct(
        F.when(op == "d", row_image).alias("before"),
        F.when(op != "d", row_image).alias("after"),
        F.struct(
            F.lit("app").alias("db"),
            F.lit("orders").alias("table"),
            F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")).alias("ts_ms"),
        ).alias("source"),
        op.alias("op"),
        F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")).alias("ts_ms"),
    )
    value = F.when(
        F.col("o_orderkey") % 3 == 0, F.to_json(F.struct(env.alias("payload")))
    ).otherwise(F.to_json(env))
    return o.select(
        value.alias("value"),
        F.lit("dbserver1.app.orders").alias("topic"),
        F.col("o_orderkey").alias("offset"),
    )


@register(
    "cdc_envelope_decode",
    oracle="""
    SELECT o_orderkey AS id,
           CASE WHEN o_orderkey % 7 = 0 THEN 'd'
                WHEN o_orderkey % 2 = 0 THEN 'c'
                ELSE 'u' END AS op,
           'orders' AS src_table,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE ROUND(o_totalprice, 2) END AS price,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE STRFTIME(o_orderdate, '%Y-%m-%d') END AS order_date
    FROM orders
    WHERE o_orderkey < 2000
    ORDER BY id
    """,
    tags=("cdc", "envelope"),
)
def cdc_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope decode fidelity: payload-or-root unwrap, op dispatch,
    before/after images, epoch-millis timestamp decode (P1+P3+D1)."""
    raw = _orders_envelopes(spark, sf_dir)
    decoded = decode_envelope(raw, ORDERS_ROW_SCHEMA)
    return decoded.select(
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("id"),
        "op",
        "src_table",
        F.round(F.col("after.price"), 2).alias("price"),
        F.date_format(F.timestamp_millis(F.col("after.order_ms")), "yyyy-MM-dd").alias(
            "order_date"
        ),
    ).orderBy("id")


@register(
    "cdc_deadletter_isolation",
    oracle="""
    SELECT
      COUNT(*) FILTER (WHERE o_orderkey % 10 = 0) AS n_malformed,
      COUNT(*) FILTER (WHERE o_orderkey % 10 = 1) AS n_tombstones,
      COUNT(*) FILTER (WHERE o_orderkey % 10 > 1) AS n_valid
    FROM orders
    WHERE o_orderkey < 1000
    """,
    tags=("cdc", "deadletter"),
)
def cdc_deadletter_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record error isolation (Consumer.java:186-188) as a
    dead-letter column: poison records and tombstones are classified,
    never fatal, and the rest of the batch proceeds."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000)
    good = F.to_json(
        F.struct(
            F.lit(None).cast(ORDERS_ROW_SCHEMA).alias("before"),
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.col("o_custkey").alias("custkey"),
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("price"),
                F.unix_millis(F.col("o_orderdate").cast("timestamp_ltz")).alias("order_ms"),
            ).alias("after"),
            F.struct(
                F.lit("app").alias("db"),
                F.lit("orders").alias("table"),
                F.lit(0).cast("long").alias("ts_ms"),
            ).alias("source"),
            F.lit("c").alias("op"),
            F.lit(0).cast("long").alias("ts_ms"),
        )
    )
    value = (
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("this is {{{ not json"))
        .when(F.col("o_orderkey") % 10 == 1, F.lit(""))
        .otherwise(good)
    )
    raw = o.select(value.alias("value"), F.col("o_orderkey").alias("offset"))
    decoded = decode_envelope(raw, ORDERS_ROW_SCHEMA)
    return decoded.agg(
        F.count(F.when(F.col("_error").isNotNull(), 1)).alias("n_malformed"),
        F.count(F.when(F.col("_tombstone"), 1)).alias("n_tombstones"),
        F.count(F.when(F.col("_error").isNull() & ~F.col("_tombstone"), 1)).alias(
            "n_valid"
        ),
    )


def _events_changelog(spark: SparkSession, sf_dir: str, lo: int | None = None, hi: int | None = None) -> DataFrame:
    """events as a keyed changelog: key=user_id, offset=event_id,
    'error' events are deletes, everything else upserts."""
    ev = load(spark, sf_dir, "events")
    if lo is not None:
        ev = ev.where(F.col("event_id") >= lo)
    if hi is not None:
        ev = ev.where(F.col("event_id") < hi)
    # Spread the slim projected rows before the JSON encode/decode — a
    # real Kafka/Debezium source arrives already partitioned and skips
    # this (see sources.parquet.spread_small_scan).
    ev = spread_small_scan(ev)
    # r13 (guide §5): the envelope-encode tree as ONE SQL string; the
    # analyzed plans of 65b16c2^ and 65b16c2 are equal modulo ids (at a
    # checkout of 65b16c2: `scripts/ab.py 65b16c2^ cdc_lastwrite_materialize`).
    op = "CASE WHEN (event_type = 'error') THEN 'd' ELSE 'u' END"
    row_image = "STRUCT(user_id AS id, value AS v)"
    env = (
        f"STRUCT("
        f"CASE WHEN ({op} = 'd') THEN {row_image} END AS before, "
        f"CASE WHEN (NOT ({op} = 'd')) THEN {row_image} END AS after, "
        f"STRUCT('app' AS db, 'user_state' AS `table`,"
        f" unix_millis(ts) AS ts_ms) AS source, "
        f"{op} AS op, "
        f"unix_millis(ts) AS ts_ms)"
    )
    return ev.selectExpr(f"TO_JSON({env}) AS value", "event_id AS `offset`")


_LASTWRITE_ORACLE = """
    WITH last AS (
      SELECT user_id,
             MAX_BY(event_type, event_id) AS last_type,
             -- struct wrap: bare MAX_BY skips NULL values (null-sweep
             -- finding) and would resurrect the previous non-null v
             MAX_BY({'x': value}, event_id).x AS last_value,
             MAX(event_id)                AS last_offset
      FROM events
      GROUP BY user_id
    )
    SELECT user_id AS id, ROUND(last_value, 2) AS v, last_offset
    FROM last
    WHERE last_type <> 'error'
    ORDER BY id
    """


def _materialize(spark: SparkSession, sf_dir: str, n_batches: int) -> DataFrame:
    bounds = None
    if n_batches > 1:
        max_id = load(spark, sf_dir, "events").agg(F.max("event_id")).collect()[0][0]
        step = (max_id + n_batches) // n_batches
        bounds = [(i * step, (i + 1) * step) for i in range(n_batches)]
    else:
        bounds = [(None, None)]
    state = None
    for lo, hi in bounds:
        raw = _events_changelog(spark, sf_dir, lo, hi)
        events = with_change_columns(decode_envelope(raw, EVENTS_ROW_SCHEMA))
        state = apply_changes(state, compact(events, ["id"]), ["id"], ["v"])
    return state.selectExpr(
        "id", "ROUND(v, 2) AS v", f"{ORDER_COL} AS last_offset"
    ).orderBy("id")


@register(
    "cdc_lastwrite_materialize",
    oracle=_LASTWRITE_ORACLE,
    tags=("cdc", "compaction"),
    bench=True,
)
def cdc_lastwrite_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference standing query: last-write-wins keyed replica with
    deletes, via decode → compact(max_by offset) → apply, single batch."""
    return _materialize(spark, sf_dir, n_batches=1)


LINEITEM_ROW_SCHEMA = T.StructType(
    [
        T.StructField("okey", T.LongType()),
        T.StructField("lno", T.LongType()),
        T.StructField("qty", T.DoubleType()),
    ]
)


@register(
    "cdc_composite_pk_materialize",
    oracle="""
    WITH base AS (
      -- the synthetic lineitem repeats (okey, lno); collapse to one row
      -- per composite key so every changelog offset is unique (as Kafka
      -- guarantees) and compaction ties cannot differ between engines
      SELECT l_orderkey AS okey, l_linenumber AS lno, MAX(l_quantity) AS qty
      FROM lineitem WHERE l_orderkey < 2000
      GROUP BY okey, lno
    ),
    src AS (
      SELECT okey, lno, qty, okey * 8 + lno AS off, 'c' AS op FROM base
      UNION ALL
      SELECT okey, lno, qty * 2 AS qty, 1000000 + okey * 8 + lno AS off,
             CASE WHEN (okey + lno) % 11 = 0 THEN 'd' ELSE 'u' END AS op
      FROM base WHERE okey % 3 = 0
    ),
    last AS (
      SELECT okey, lno,
             MAX_BY(op, off)  AS last_op,
             MAX_BY(qty, off) AS last_qty,
             MAX(off)         AS last_offset
      FROM src GROUP BY okey, lno
    )
    SELECT okey, lno, ROUND(last_qty, 2) AS qty, last_offset
    FROM last WHERE last_op <> 'd'
    ORDER BY okey, lno
    """,
    tags=("cdc", "compaction", "composite-pk"),
)
def cdc_composite_pk_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins replica under a MULTI-COLUMN primary key
    (l_orderkey, l_linenumber) — the `pk.<table>=a,b` grammar of the
    reference (comma-split at Consumer.java:77-86; composite WHERE at
    :241-248) driven through the real decode → compact → apply path.

    Two synthesized epochs: epoch 0 snapshot-inserts every line (op=c),
    epoch 1 re-delivers every third order with doubled quantity, every
    11th (okey+lno) as a delete — so compaction must pick the epoch-1
    version per composite key and the delete must remove exactly that
    (okey, lno) pair, not the whole order.  The compaction shuffle is
    keyed on BOTH columns (groupBy okey, lno), which is what keeps hot
    multi-line orders from concentrating on one reducer at scale."""
    li = spread_small_scan(load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000))
    # the synthetic lineitem repeats (okey, lno); collapse to one row per
    # composite key so every changelog offset is unique (see oracle note)
    base = (
        li.groupBy(
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").cast("long").alias("lno"),
        )
        .agg(F.max("l_quantity").alias("qty"))
    )

    def envelopes(rows: DataFrame, op, qty_col, off):
        row_image = F.struct(F.col("okey"), F.col("lno"), qty_col.alias("qty"))
        env = F.struct(
            F.when(op == "d", row_image).alias("before"),
            F.when(op != "d", row_image).alias("after"),
            F.struct(
                F.lit("app").alias("db"),
                F.lit("lineitem").alias("table"),
                F.lit(0).cast("long").alias("ts_ms"),
            ).alias("source"),
            op.alias("op"),
            F.lit(0).cast("long").alias("ts_ms"),
        )
        return rows.select(F.to_json(env).alias("value"), off.alias("offset"))

    off0 = F.col("okey") * 8 + F.col("lno")
    epoch0 = envelopes(base, F.lit("c"), F.col("qty"), off0)
    epoch1 = envelopes(
        base.where(F.col("okey") % 3 == 0),
        F.when((F.col("okey") + F.col("lno")) % 11 == 0, "d").otherwise("u"),
        F.col("qty") * 2,
        F.lit(1000000) + off0,
    )
    raw = epoch0.unionByName(epoch1)
    events = with_change_columns(decode_envelope(raw, LINEITEM_ROW_SCHEMA))
    state = apply_changes(None, compact(events, ["okey", "lno"]), ["okey", "lno"], ["qty"])
    return state.select(
        "okey",
        "lno",
        F.round("qty", 2).alias("qty"),
        F.col(ORDER_COL).alias("last_offset"),
    ).orderBy("okey", "lno")


@register(
    "cdc_incremental_convergence",
    oracle=_LASTWRITE_ORACLE,
    tags=("cdc", "incremental"),
)
def cdc_incremental_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same standing query applied as three successive micro-batches —
    must converge to the identical state (idempotent-merge property that
    lets the reference run at-least-once, Consumer.java:210-211)."""
    return _materialize(spark, sf_dir, n_batches=3)


@register(
    "cdc_scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id AS id,
             value AS v,
             event_type,
             event_id AS valid_from,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
               AS valid_to
      FROM events
    )
    SELECT id, ROUND(v, 2) AS v, valid_from, valid_to,
           (valid_to IS NULL) AS is_current
    FROM ordered
    WHERE event_type <> 'error'
    ORDER BY id, valid_from
    """,
    tags=("cdc", "scd2"),
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 from the changelog: every row
    VERSION with its validity interval, not just the latest (what a
    warehouse keeps downstream of the reference's replica).

    Where ``compact`` throws away superseded versions, SCD2 keeps them
    all: each upsert opens an interval at its own offset; the NEXT event
    for the key (upsert or delete) closes it.  One window over
    (key, offset) — the shuffle carries each version exactly once, and
    per-key history is naturally co-partitioned, so this holds at 100 TB
    backlog (state per key is bounded by its version count, and deletes
    close intervals without emitting a version row)."""
    raw = _events_changelog(spark, sf_dir)
    events = with_change_columns(decode_envelope(raw, EVENTS_ROW_SCHEMA))
    from pyspark.sql import Window

    key = F.coalesce(F.col("after.id"), F.col("before.id"))
    versions = events.select(
        key.alias("id"),
        F.col("after.v").alias("v"),
        F.col(IS_DELETE).alias("is_del"),
        F.col(ORDER_COL).alias("valid_from"),
    )
    w = Window.partitionBy("id").orderBy("valid_from")
    return (
        versions.withColumn("valid_to", F.lead("valid_from").over(w))
        .where(~F.col("is_del"))
        .select(
            "id",
            F.round("v", 2).alias("v"),
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("id", "valid_from")
    )


_N_AGG_GROUPS = 10

_IVM_ORACLE = f"""
    WITH last AS (
      SELECT user_id,
             MAX_BY(event_type, event_id) AS last_type,
             -- struct wrap: see _LASTWRITE_ORACLE (null-sweep finding)
             MAX_BY({{'x': value}}, event_id).x AS last_value
      FROM events
      GROUP BY user_id
    )
    SELECT user_id % {_N_AGG_GROUPS} AS grp,
           COUNT(*) AS n_rows,
           -- COALESCE: the maintained view sums NULL values as 0 (see
           -- the engine comment; null-sweep finding)
           ROUND(SUM(COALESCE(last_value, 0)), 2) AS sum_v
    FROM last
    WHERE last_type <> 'error'
    GROUP BY grp
    ORDER BY grp
    """


@register(
    "cdc_incremental_agg_maintenance",
    oracle=_IVM_ORACLE,
    tags=("cdc", "ivm"),
)
def cdc_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-VIEW maintenance: a grouped aggregate
    (count + sum per group) kept current under upserts AND deletes by
    applying retractions, never re-scanning history.

    Per micro-batch: join the compacted batch against the keyed state to
    recover each key's OLD contribution, emit (add - retract) deltas per
    group, and fold them into the aggregate state.  All shuffles are
    frontier-sized (batch keys + touched groups); the aggregate state is
    one row per group.  This is the standard changelog→materialized-view
    composition (what Flink calls retract streams) built from the same
    compact/apply primitives as the replica, so at 100 TB the aggregate
    maintains for the cost of the batch, not the corpus."""
    max_id = load(spark, sf_dir, "events").agg(F.max("event_id")).collect()[0][0]
    n_batches = 3
    step = (max_id + n_batches) // n_batches

    keyed_state: DataFrame | None = None  # id -> v (surviving rows)
    prev_states: list[DataFrame] = []  # the epoch pair to release next
    agg_state: DataFrame | None = None  # grp -> n_rows, sum_v
    for b in range(n_batches):
        raw = _events_changelog(spark, sf_dir, b * step, (b + 1) * step)
        events = with_change_columns(decode_envelope(raw, EVENTS_ROW_SCHEMA))
        # The compacted batch feeds BOTH the delta computation and the
        # replica merge; the JSON encode/decode chain behind it is the
        # epoch's expensive stage, so materialize it once (eager
        # lineage cut) instead of decoding the batch per consumer —
        # exactly what a streaming runtime's per-epoch batch DataFrame
        # is.  (r5 timing sweep: 19 s -> ~10 s for the 3-epoch loop.)
        compacted = compact(events, ["id"]).localCheckpoint(eager=True)
        batch = compacted.select(
            F.col("_pk_id").alias("id"),
            F.col("after.v").alias("new_v"),
            F.col(IS_DELETE).alias("is_del"),
            F.col(ORDER_COL),
        )
        # Presence must be an EXPLICIT flag: testing old_v IS NOT NULL
        # conflates "key absent" with "key present holding a NULL value"
        # — the null-sweep caught the view double-counting a key whose
        # stored v was NULL (no retraction ever fired for it).
        old = (
            keyed_state.select(
                "id", F.col("v").alias("old_v"), F.lit(True).alias("was_present")
            )
            if keyed_state is not None
            else spark.createDataFrame([], "id long, old_v double, was_present boolean")
        )
        # Per-key delta: retract the old contribution (if the key was in
        # the view), add the new one (unless this event is a delete).
        joined = batch.join(old, "id", "left").withColumn(
            "was_present", F.coalesce(F.col("was_present"), F.lit(False))
        )
        # Deltas accumulate in DECIMAL: add/retract applies many more FP
        # ops than the oracle's direct SUM, and double drift could flip a
        # ROUND(..., 2) half-cent boundary.  Fixed-point accumulation is
        # exact for 2-decimal inputs; cast back to double at the end.
        dec = "decimal(24,6)"
        # NULL values contribute 0 to the sum (the view's declared
        # semantic, mirrored by the oracle's SUM(COALESCE(v, 0))): a
        # retraction-maintained sum cannot represent SQL's NULL-skipping
        # without also maintaining a non-null counter.
        deltas = joined.select(
            (F.col("id") % _N_AGG_GROUPS).alias("grp"),
            (
                F.when(F.col("is_del"), 0).otherwise(1)
                - F.when(F.col("was_present"), 1).otherwise(0)
            ).alias("d_rows"),
            (
                F.when(F.col("is_del"), F.lit(0).cast(dec)).otherwise(
                    F.coalesce(F.col("new_v").cast(dec), F.lit(0).cast(dec))
                )
                - F.when(
                    F.col("was_present"),
                    F.coalesce(F.col("old_v").cast(dec), F.lit(0).cast(dec)),
                ).otherwise(F.lit(0).cast(dec))
            ).alias("d_sum"),
        ).groupBy("grp").agg(
            F.sum("d_rows").alias("d_rows"), F.sum("d_sum").alias("d_sum")
        )
        if agg_state is None:
            agg_state = deltas.select(
                "grp",
                F.col("d_rows").alias("n_rows"),
                F.col("d_sum").alias("sum_v"),
            )
        else:
            agg_state = (
                agg_state.join(deltas, "grp", "full_outer")
                .select(
                    "grp",
                    (
                        F.coalesce(F.col("n_rows"), F.lit(0))
                        + F.coalesce(F.col("d_rows"), F.lit(0))
                    ).alias("n_rows"),
                    (
                        F.coalesce(F.col("sum_v"), F.lit(0).cast(dec))
                        + F.coalesce(F.col("d_sum"), F.lit(0).cast(dec))
                    ).alias("sum_v"),
                )
            )
        # Persist both states per epoch and RELEASE the superseded
        # epoch's pair once the new one materializes (streaming state
        # stores version exactly this way) — the loop holds ≤2 epochs
        # of state at any instant (tests/test_iterative_memory.py),
        # where the r4 lazy-checkpoint variant pinned every epoch.
        agg_state = agg_state.persist()
        keyed_state = apply_changes(keyed_state, compacted, ["id"], ["v"])
        keyed_state = keyed_state.persist()
        agg_state.count()
        keyed_state.count()
        for superseded in prev_states:
            superseded.unpersist()
        prev_states = [agg_state, keyed_state]
    # The returned plan reads only the FINAL agg_state (cached above);
    # the final keyed replica fed nothing downstream — release it now.
    keyed_state.unpersist()
    return (
        agg_state.where(F.col("n_rows") > 0)
        .select(
            "grp",
            "n_rows",
            F.round("sum_v", 2).cast("double").alias("sum_v"),
        )
        .orderBy("grp")
    )


@register(
    "cdc_schema_drift_decode",
    oracle="""
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           CASE WHEN o_orderkey % 2 = 0 THEN 'v2' ELSE NULL END AS extra_col,
           CASE WHEN o_orderkey % 2 = 0 THEN 5 ELSE 4 END AS n_row_cols
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY id
    """,
    tags=("cdc", "drift"),
)
def cdc_schema_drift_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift tolerant decode (SURVEY §1.3): half the envelopes
    carry a column the declared schema does not know (`extra_col`,
    mimicking an upstream ALTER TABLE mid-stream), decoded with the
    MapType(String,String) row schema — the engine's analogue of the
    reference's dynamic per-token typing (Consumer.java:259-271).

    Every wire column survives as a string (nothing silently dropped),
    the unknown column is observable (extracted + counted), and the
    whole thing remains one from_json expression — drift tolerance
    costs no extra pass at any scale."""
    o = spread_small_scan(load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 1000))
    base = F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    drifted = F.struct(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
        F.lit("v2").alias("extra_col"),
    )
    env = lambda row: F.struct(  # noqa: E731
        F.lit(None).cast("string").alias("before"),
        row.alias("after"),
        F.struct(
            F.lit("app").alias("db"),
            F.lit("orders").alias("table"),
            F.lit(0).cast("long").alias("ts_ms"),
        ).alias("source"),
        F.lit("c").alias("op"),
        F.lit(0).cast("long").alias("ts_ms"),
    )
    value = F.when(F.col("o_orderkey") % 2 == 0, F.to_json(env(drifted))).otherwise(
        F.to_json(env(base))
    )
    raw = o.select(value.alias("value"), F.col("o_orderkey").alias("offset"))
    decoded = decode_envelope(raw, T.MapType(T.StringType(), T.StringType()))
    # 'after' is a map capturing EVERY wire column as strings
    return decoded.select(
        F.element_at("after", "id").cast("long").alias("id"),
        F.element_at("after", "status").alias("status"),
        F.element_at("after", "extra_col").alias("extra_col"),
        F.size("after").cast("int").alias("n_row_cols"),
    ).orderBy("id")


_ENCODE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("bal", T.DoubleType()),
    ]
)


@register(
    "cdc_envelope_encode_roundtrip",
    # Same certification device as the stateful-operator key: the query
    # runs encode→decode in one plan, null-safe-compares every decoded
    # field (op, key JSON, before/after images, source routing, ts) to
    # the original change event, and the oracle pins mismatches to zero.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(0 AS BIGINT) AS n_mismatches
    FROM customer WHERE c_custkey < 2000
    """,
    tags=("cdc", "envelope", "egress"),
)
def cdc_envelope_encode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Egress fidelity: encode_envelope(decode-shaped changes) produces
    wire records that decode_envelope maps back to the EXACT original
    events — op semantics (c: no before; u: both images; d: no after),
    PK-JSON keys, topic routing (src_table falls out of source.table),
    and epoch-millis timestamps all survive the JSON roundtrip
    (doubles roundtrip exactly via shortest-repr printing)."""
    from mysql_postgres_debezium_cdc_spark.sources.debezium import encode_envelope

    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") < 2000)
    op = (
        F.when(F.col("c_custkey") % 7 == 0, "d")
        .when(F.col("c_custkey") % 2 == 0, "c")
        .otherwise("u")
    )
    row = F.struct(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    old_row = F.struct(
        F.col("c_custkey").alias("id"),
        F.concat(F.col("c_name"), F.lit("_old")).alias("name"),
        F.round(F.col("c_acctbal") - 1, 2).alias("bal"),
    )
    null_row = F.lit(None).cast(_ENCODE_ROW_SCHEMA)
    changes = c.select(
        F.col("c_custkey").alias("id"),
        op.alias("op"),
        F.when(op.isin("u", "d"), old_row).otherwise(null_row).alias("before"),
        F.when(op == "d", null_row).otherwise(row).alias("after"),
        (F.col("c_custkey") + F.lit(1700000000000)).alias("ts_ms"),
    )
    enc = encode_envelope(
        changes.select("op", "before", "after", "ts_ms"), "app", "customers", ("id",)
    )
    dec = decode_envelope(enc, _ENCODE_ROW_SCHEMA)
    dec_sel = dec.select(
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("id"),
        F.col("op").alias("d_op"),
        F.col("before").alias("d_before"),
        F.col("after").alias("d_after"),
        F.col("src_db").alias("d_db"),
        F.col("src_table").alias("d_table"),
        F.col("ts_ms").alias("d_ts"),
        F.get_json_object("key", "$.id").cast("long").alias("d_key_id"),
        F.col("topic").alias("d_topic"),
    )
    joined = changes.join(dec_sel, "id", "full_outer")
    mismatch = (
        ~F.col("op").eqNullSafe(F.col("d_op"))
        | ~F.col("before").eqNullSafe(F.col("d_before"))
        | ~F.col("after").eqNullSafe(F.col("d_after"))
        | ~F.col("ts_ms").eqNullSafe(F.col("d_ts"))
        | ~F.col("id").eqNullSafe(F.col("d_key_id"))
        | (F.col("d_db") != "app")
        | (F.col("d_table") != "customers")
        | (F.col("d_topic") != "dbserver1.app.customers")
    )
    return joined.select(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        # COALESCE: SUM over zero rows is NULL, the oracle's literal is 0
        F.coalesce(F.sum(F.when(mismatch, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_mismatches"),
    )


@register(
    "cdc_gdpr_scrub",
    oracle="""
    WITH forget AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    cust AS (
      SELECT COUNT(*) AS before_n,
             COUNT(*) FILTER (WHERE c_custkey NOT IN (SELECT c_custkey FROM forget))
               AS after_n
      FROM customer
    ),
    ord AS (
      SELECT COUNT(*) AS before_n,
             COUNT(*) FILTER (WHERE o_custkey NOT IN (SELECT c_custkey FROM forget))
               AS after_n
      FROM orders
    ),
    li AS (
      SELECT COUNT(*) AS before_n,
             COUNT(*) FILTER (WHERE l_orderkey NOT IN (
               SELECT o_orderkey FROM orders
               WHERE o_custkey IN (SELECT c_custkey FROM forget)))
               AS after_n
      FROM lineitem
    )
    SELECT table_name, rows_before, rows_after,
           rows_before - rows_after AS rows_scrubbed
    FROM (
      SELECT 'customer' AS table_name, before_n AS rows_before, after_n AS rows_after FROM cust
      UNION ALL
      SELECT 'orders', before_n, after_n FROM ord
      UNION ALL
      SELECT 'lineitem', before_n, after_n FROM li
    )
    ORDER BY table_name
    """,
    tags=("cdc", "governance"),
)
def cdc_gdpr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation through a keyed lake: given a
    set of subjects to forget (here ``c_custkey % 97 = 0`` — a stand-in
    for the deletion-request table a privacy service maintains), cascade
    the erasure through every table that references them, directly
    (orders.o_custkey) or transitively (lineitem via its order), and
    report per-table before/after/scrubbed counts — the audit artifact a
    GDPR Article 17 run has to produce.

    This is the batch face of the CDC deletion path: in the streaming
    engine the same forget-set arrives as op='d' events and the keyed
    MERGE (streaming/cdc.py:94) applies them; here the cascade is
    expressed as anti-joins so a backfill over an entire lake runs as
    ordinary co-partitioned joins.

    Scale shape: the forget-set is a projection of one key column
    (thousands-to-millions of rows at 100 TB — far under the fact
    tables), so each anti-join is an AQE-eligible broadcast or a keyed
    co-shuffle of the FACT side only; the transitive hop materializes
    scrubbed order keys (bounded by the forget-set's order fan-out),
    never the surviving majority.  Counts aggregate map-side; the final
    3-row union is constant-size.  On Delta/Iceberg the same anti-join
    feeds a MERGE ... WHEN MATCHED THEN DELETE (deletion vectors make
    it cheap); this query is the dry-run audit of that statement."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    forget = cust.where(F.col("c_custkey") % 97 == 0).select("c_custkey")

    cust_after = cust.join(forget, "c_custkey", "left_anti")
    ord_after = orders.join(
        forget, orders.o_custkey == forget.c_custkey, "left_anti"
    )
    scrubbed_orders = orders.join(
        forget, orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    li_after = li.join(
        scrubbed_orders, li.l_orderkey == scrubbed_orders.o_orderkey, "left_anti"
    )

    def _stat(name: str, before: DataFrame, after: DataFrame) -> DataFrame:
        b = before.agg(F.count(F.lit(1)).alias("rows_before"))
        a = after.agg(F.count(F.lit(1)).alias("rows_after"))
        return b.crossJoin(a).select(
            F.lit(name).alias("table_name"),
            "rows_before",
            "rows_after",
            (F.col("rows_before") - F.col("rows_after")).alias("rows_scrubbed"),
        )

    return (
        _stat("customer", cust, cust_after)
        .unionByName(_stat("orders", orders, ord_after))
        .unionByName(_stat("lineitem", li, li_after))
        .orderBy("table_name")
    )


@register(
    "cdc_scd2_point_in_time_join",
    oracle="""
    WITH ordered AS (
      SELECT user_id AS id,
             value AS v,
             event_type,
             event_id AS valid_from,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
               AS valid_to
      FROM events
    ),
    hist AS (
      SELECT id, ROUND(v, 2) AS v, valid_from, valid_to
      FROM ordered WHERE event_type <> 'error'
    ),
    probes AS (
      SELECT user_id, event_id AS as_of
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.as_of, h.v AS prev_v, h.valid_from AS prev_valid_from
    FROM probes p
    JOIN hist h
      ON h.id = p.user_id
     AND h.valid_from < p.as_of
     AND (h.valid_to IS NULL OR h.valid_to >= p.as_of)
    ORDER BY p.user_id, p.as_of
    """,
    tags=("cdc", "scd2", "temporal-join"),
)
def cdc_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 history: for every
    purchase, the user's state AS OF just before that event — the
    "what did the dimension look like when the fact happened?" query
    that motivates keeping SCD2 at all, and the batch analogue of a
    FOR SYSTEM_TIME AS OF temporal join.

    Composes [[cdc_scd2_history]]'s versioned output (validity
    intervals over the changelog offset axis) with an interval
    predicate: ``valid_from < as_of <= coalesce(valid_to, ∞)`` matches
    each probe to AT MOST the predecessor version.  A key's intervals
    are disjoint but do NOT tile the axis: a delete ('error' event)
    closes the open interval without opening a new one, so probes that
    land in the gap after a delete match NOTHING — delete-closes-state
    is the contract (standard SCD2 reading; pinned by
    tests/test_cdc_properties.py::test_point_in_time_purchase_after_delete_sees_nothing).

    Scale shape: the join is EQUI on the user key with the interval as
    a residual — hash-joinable, so the planner picks broadcast while a
    side is small (AQE does here) and a co-partitioned sort-merge join
    once both sides grow (each key's versions and probes meet sorted
    in one task); never a nested-loop cross product, which is what a
    purely range-predicate formulation would force.  Probing "current state
    only" would instead filter ``is_current`` and equi-join — this
    query exists precisely for the as-of-then case."""
    hist = cdc_scd2_history(spark, sf_dir).select(
        "id", "v", "valid_from", "valid_to"
    )
    ev = load(spark, sf_dir, "events")
    probes = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("as_of")
    )
    return (
        probes.join(
            hist,
            (F.col("id") == F.col("user_id"))
            & (F.col("valid_from") < F.col("as_of"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") >= F.col("as_of"))),
        )
        .select(
            "user_id",
            "as_of",
            F.col("v").alias("prev_v"),
            F.col("valid_from").alias("prev_valid_from"),
        )
        .orderBy("user_id", "as_of")
    )


_OFFSET_DIFF_ORACLE = """
    WITH mid AS (SELECT CAST(MAX(event_id) // 2 AS BIGINT) AS m FROM events),
    snap_t AS (
      -- user_id IS NOT NULL on both engines: the diff reconciles BY
      -- PRIMARY KEY, and a keyless change is dead-letter territory (a
      -- NULL key would also never match itself across the two
      -- snapshots under SQL join semantics).
      SELECT user_id,
             MAX_BY(event_type, event_id) AS last_type,
             MAX(event_id) AS last_offset
      FROM events, mid WHERE event_id < mid.m AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    snap_end AS (
      SELECT user_id,
             MAX_BY(event_type, event_id) AS last_type,
             MAX(event_id) AS last_offset
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    t AS (SELECT user_id, last_offset FROM snap_t WHERE last_type <> 'error'),
    e AS (SELECT user_id, last_offset FROM snap_end WHERE last_type <> 'error')
    SELECT COALESCE(t.user_id, e.user_id) AS id,
           CASE WHEN t.user_id IS NULL THEN 'insert'
                WHEN e.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           t.last_offset AS offset_before,
           e.last_offset AS offset_after
    FROM t FULL OUTER JOIN e ON e.user_id = t.user_id
    WHERE t.user_id IS NULL OR e.user_id IS NULL
       OR t.last_offset <> e.last_offset
    ORDER BY id
    """


@register(
    "cdc_offset_range_diff",
    oracle=_OFFSET_DIFF_ORACLE,
    tags=("cdc", "audit"),
    bench=True,  # headline: the fused single-decode snapshot diff (r7)
)
def cdc_offset_range_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation between two changelog offsets: which keys
    were inserted / updated / deleted between the state as-of offset T
    (the changelog midpoint) and the final state — the audit a CDC
    operator runs to answer "what changed since the last checkpoint?"
    and to validate a replica restored from an older snapshot.

    The changelog is decoded ONCE and both snapshots fall out of ONE
    grouped pass — per key, the compaction frontier at T is the
    offset-filtered conditional twin of the final frontier
    (``max_by(op, when(offset < T, offset))`` next to
    ``max_by(op, offset)``; Spark's max_by ignores NULL ordering keys,
    so the filtered twin sees exactly the pre-T slice).  The r6 10×
    probe showed the previous two-snapshot formulation spending ~all
    of its 32 s in TWO full JSON decode+compact passes plus a FULL
    OUTER join; this plan is one decode, one shuffle, no join — the
    shape you'd want at 100 TB, where the decode IS the firehose.
    Delete semantics are inherited unchanged: a key whose last op in a
    slice is 'd' is absent from that snapshot.  The oracle
    reconstructs both snapshots independently with MAX_BY and a FULL
    OUTER join, proving the fused single-pass diff equals the
    declarative two-snapshot definition.  Keys are reconciled BY
    PRIMARY KEY; NULL-key rows are excluded identically on both sides
    (a keyless change is dead-letter territory).  The midpoint T rides
    the plan as a BROADCAST 1-row aggregate (r12 optimization: the
    former `.collect()` scalar probe was a whole extra driver-blocking
    job per invocation — guide §5's no-collect rule; the fused plan
    computes the same `MAX(event_id) DIV 2` midpoint inside the single
    action, and the column-pruned max rides a 4-byte broadcast)."""
    mid_df = (
        load(spark, sf_dir, "events")
        .agg(F.expr("MAX(event_id) AS _mx"))
        # floor-div, mirroring the oracle's `// 2`; empty changelog → T=0
        .selectExpr("CAST(COALESCE(_mx DIV 2, 0) AS LONG) AS _mid")
    )

    raw = _events_changelog(spark, sf_dir)
    events = with_change_columns(decode_envelope(raw, EVENTS_ROW_SCHEMA))
    keyed = (
        events.selectExpr(
            "COALESCE(after.id, before.id) AS id",
            "op AS op",
            f"{ORDER_COL} AS off",
        )
        .where("(id IS NOT NULL)")
        .crossJoin(F.broadcast(mid_df))
    )

    before_off = "CASE WHEN (off < _mid) THEN off END"
    g = keyed.groupBy("id").agg(
        F.expr(f"MAX_BY(op, {before_off}) AS op_t"),
        F.expr(f"MAX({before_off}) AS off_t"),
        F.expr("MAX_BY(op, off) AS op_e"),
        F.expr("MAX(off) AS off_e"),
    )
    present_t = "((op_t IS NOT NULL) AND (NOT (op_t = 'd')))"
    present_e = "(NOT (op_e = 'd'))"
    return (
        g.where(
            f"((NOT ({present_t} = {present_e})) OR"
            f" (({present_t} AND {present_e}) AND (NOT (off_t = off_e))))"
        )
        .selectExpr(
            "id",
            f"CASE WHEN (NOT {present_t}) THEN 'insert'"
            f" WHEN (NOT {present_e}) THEN 'delete'"
            " ELSE 'update' END AS change",
            f"CASE WHEN {present_t} THEN off_t END AS offset_before",
            f"CASE WHEN {present_e} THEN off_e END AS offset_after",
        )
        .orderBy("id")
    )
