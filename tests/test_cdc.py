"""CDC-semantics tests: the FIXTURES.md §A3 scenario matrix.

Synthesized Debezium envelopes (payload-wrapped and bare, op c/r/u/d,
tombstones, out-of-order per key, multi-column PKs, malformed JSON)
through decode → compact → apply, plus a real Structured Streaming run
(file source → foreachBatch → parquet state sink) checked against the
same last-write-wins oracle.
"""

from __future__ import annotations

import contextlib
import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.sources.debezium import (
    CdcConfig,
    decode_envelope,
)
from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
    CdcPipeline,
    apply_changes,
    compact,
    with_change_columns,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("created_ms", T.LongType()),
    ]
)

SRC = {"db": "app", "table": "customers", "ts_ms": 1700000000000}


def env(op, after=None, before=None, wrap=False):
    e = {"before": before, "after": after, "source": SRC, "op": op, "ts_ms": 1}
    return json.dumps({"payload": e} if wrap else e)


def raw_df(spark, records):
    """records: list of (value, offset)."""
    return spark.createDataFrame(
        [(v, "dbserver1.app.customers", o) for v, o in records],
        "value string, topic string, offset long",
    )


def run_batch(spark, records, state=None):
    decoded = decode_envelope(raw_df(spark, records), ROW_SCHEMA)
    events = with_change_columns(decoded)
    return apply_changes(state, compact(events, ["id"]), ["id"], ["name", "created_ms"])


def state_dict(df):
    return {r["id"]: r["name"] for r in df.collect()}


def test_insert_update_delete_within_one_batch(spark):
    records = [
        (env("c", {"id": 1, "name": "a", "created_ms": 10}), 0),
        (env("u", {"id": 1, "name": "b", "created_ms": 10}, wrap=True), 1),
        (env("d", None, before={"id": 1, "name": "b", "created_ms": 10}), 2),
        (env("c", {"id": 2, "name": "x", "created_ms": 20}), 3),
    ]
    assert state_dict(run_batch(spark, records)) == {2: "x"}


def test_out_of_order_offsets_within_batch(spark):
    # Shuffled arrival order; offsets define the truth (SURVEY §2.1).
    records = [
        (env("u", {"id": 1, "name": "late", "created_ms": 1}), 5),
        (env("c", {"id": 1, "name": "early", "created_ms": 1}), 1),
    ]
    assert state_dict(run_batch(spark, records)) == {1: "late"}


def test_snapshot_read_op_is_upsert(spark):
    records = [(env("r", {"id": 7, "name": "snap", "created_ms": 0}), 0)]
    assert state_dict(run_batch(spark, records)) == {7: "snap"}


def test_delete_of_unseen_key_is_noop(spark):
    state = run_batch(spark, [(env("c", {"id": 1, "name": "a", "created_ms": 0}), 0)])
    records = [(env("d", None, before={"id": 99, "name": "?", "created_ms": 0}), 1)]
    assert state_dict(run_batch(spark, records, state)) == {1: "a"}


def test_tombstones_and_malformed_are_skipped(spark):
    records = [
        (env("c", {"id": 1, "name": "ok", "created_ms": 0}), 0),
        (None, 1),  # Kafka tombstone after delete
        ("", 2),  # blank value
        ("{{{ not json", 3),  # poison record — must not be fatal
        (env("zzz", {"id": 9, "name": "?", "created_ms": 0}), 4),  # unknown op
    ]
    assert state_dict(run_batch(spark, records)) == {1: "ok"}
    decoded = decode_envelope(raw_df(spark, records), ROW_SCHEMA)
    # TWO dead letters: the poison record AND the unknown op — a
    # parseable envelope with an op we don't apply must surface in the
    # error channel, never vanish silently (cf.
    # test_unsupported_op_is_dead_lettered_not_dropped).
    errs = sorted(
        r["_error"] for r in decoded.where(F.col("_error").isNotNull()).collect()
    )
    assert len(errs) == 2
    assert errs[0].startswith("unparseable envelope")
    assert errs[1] == "unsupported op: zzz"
    assert decoded.where(F.col("_tombstone")).count() == 2


def test_multi_batch_convergence_update_then_delete(spark):
    s1 = run_batch(spark, [(env("c", {"id": 1, "name": "v1", "created_ms": 0}), 0)])
    s2 = run_batch(spark, [(env("u", {"id": 1, "name": "v2", "created_ms": 0}), 1)], s1)
    s3 = run_batch(
        spark, [(env("d", None, before={"id": 1, "name": "v2", "created_ms": 0}), 2)], s2
    )
    assert state_dict(s2) == {1: "v2"}
    assert state_dict(s3) == {}


def test_multi_column_pk_compaction(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("val", T.LongType()),
        ]
    )
    records = [
        (json.dumps({"after": {"a": 1, "b": "x", "val": 1}, "op": "c", "source": SRC}), 0),
        (json.dumps({"after": {"a": 1, "b": "y", "val": 2}, "op": "c", "source": SRC}), 1),
        (json.dumps({"after": {"a": 1, "b": "x", "val": 3}, "op": "u", "source": SRC}), 2),
    ]
    df = spark.createDataFrame([(v, o) for v, o in records], "value string, offset long")
    events = with_change_columns(decode_envelope(df, schema, topic_col=None))
    state = apply_changes(None, compact(events, ["a", "b"]), ["a", "b"], ["val"])
    got = {(r["a"], r["b"]): r["val"] for r in state.collect()}
    assert got == {(1, "x"): 3, (1, "y"): 2}


def test_config_properties_routing():
    cfg = CdcConfig.from_properties(
        """
        # comment
        pk.app.customers=id
        pk.orders=order_id,line_no
        map.app.customers=crm_customers
        map.orders=sales_orders
        """
    )
    assert cfg.resolve_pk("app", "customers") == ("id",)
    assert cfg.resolve_pk(None, "orders") == ("order_id", "line_no")
    assert cfg.resolve_pk("app", "unknown") == ("id",)  # default, Consumer.java:171
    assert cfg.resolve_target("app", "customers") == "crm_customers"
    assert cfg.resolve_target("x", "orders") == "sales_orders"
    assert cfg.resolve_target("x", "Widgets") == "widgets"  # lowercase fallback


def test_streaming_foreachbatch_end_to_end(spark, tmp_path):
    """File-fed Structured Streaming → CdcPipeline → parquet state."""
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    lines1 = [
        env("c", {"id": 1, "name": "a", "created_ms": 0}) + "\t0",
        env("c", {"id": 2, "name": "b", "created_ms": 0}) + "\t1",
    ]
    lines2 = [
        env("u", {"id": 1, "name": "a2", "created_ms": 0}) + "\t2",
        env("d", None, before={"id": 2, "name": "b", "created_ms": 0}) + "\t3",
        (env("c", {"id": 3, "name": "c", "created_ms": 0}, wrap=True)) + "\t4",
    ]
    (in_dir / "batch1.jsonl").write_text("\n".join(lines1))
    (in_dir / "batch2.jsonl").write_text("\n".join(lines2))

    raw = (
        spark.readStream.format("text")
        .load(str(in_dir))
        .select(
            F.split(F.col("value"), "\t").getItem(0).alias("value"),
            F.split(F.col("value"), "\t").getItem(1).cast("long").alias("offset"),
        )
    )
    pipe = CdcPipeline(
        spark,
        ROW_SCHEMA,
        pk_cols=["id"],
        row_cols=["name", "created_ms"],
        state_root=str(tmp_path / "state"),
    )
    q = pipe.run_stream(raw, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    final = pipe.sink.read()
    assert final is not None
    assert state_dict(final) == {1: "a2", 3: "c"}


def test_streaming_restart_is_idempotent(spark, tmp_path):
    """Re-running from the same checkpoint adds nothing (effectively-once)."""
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    (in_dir / "b.jsonl").write_text(env("c", {"id": 5, "name": "z", "created_ms": 0}) + "\t0")
    raw = (
        spark.readStream.format("text")
        .load(str(in_dir))
        .select(
            F.split(F.col("value"), "\t").getItem(0).alias("value"),
            F.split(F.col("value"), "\t").getItem(1).cast("long").alias("offset"),
        )
    )
    pipe = CdcPipeline(
        spark, ROW_SCHEMA, ["id"], ["name", "created_ms"], str(tmp_path / "state")
    )
    for _ in range(2):
        q = pipe.run_stream(raw, checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(120)
    final = pipe.sink.read()
    assert final.count() == 1
    assert state_dict(final) == {5: "z"}


def test_multi_table_router_end_to_end(spark, tmp_path):
    """The reference's actual topology: ONE stream carrying customers AND
    orders events (table.include.list), routed per table with per-table
    PKs and target renames (map.*/pk.* grammar), unknown tables to the
    dead-letter side."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import MultiTableCdcRouter

    orders_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("purchaser", T.LongType()),
            T.StructField("product", T.StringType()),
        ]
    )

    def mk(table, op, after=None, before=None, offset=0, wrap=False):
        e = {
            "before": before,
            "after": after,
            "source": {"db": "app", "table": table, "ts_ms": 1},
            "op": op,
            "ts_ms": 1,
        }
        return (json.dumps({"payload": e} if wrap else e), f"dbserver1.app.{table}", offset)

    records = [
        mk("customers", "c", {"id": 1, "name": "ann", "created_ms": 5}, offset=1),
        mk("orders", "c", {"id": 10, "purchaser": 1, "product": "bolt"}, offset=2, wrap=True),
        mk("customers", "u", {"id": 1, "name": "ann2", "created_ms": 6}, offset=3),
        mk("orders", "d", before={"id": 10, "purchaser": 1, "product": "bolt"}, offset=4),
        mk("orders", "c", {"id": 11, "purchaser": 1, "product": "gear"}, offset=5),
        mk("audit_log", "c", {"id": 99}, offset=6),  # not in include list → dead letter
    ]
    raw = spark.createDataFrame(records, "value string, topic string, offset long")

    cfg = CdcConfig.from_properties(
        "pk.customers=id\npk.orders=id\nmap.customers=customers_replica\n"
    )
    router = MultiTableCdcRouter(
        spark,
        cfg,
        {
            "customers": (ROW_SCHEMA, ["name", "created_ms"]),
            "orders": (orders_schema, ["purchaser", "product"]),
        },
        str(tmp_path / "state"),
    )
    router.process_batch(raw)

    cust = {r["id"]: r["name"] for r in router.read_state("customers").collect()}
    assert cust == {1: "ann2"}
    # renamed target directory honors map.customers
    assert (tmp_path / "state" / "customers_replica").is_dir()
    orders = {r["id"]: r["product"] for r in router.read_state("orders").collect()}
    assert orders == {11: "gear"}  # 10 was inserted then deleted

    dl = router.dead_letters(raw).collect()
    assert len(dl) == 1 and dl[0]["src_table"] == "audit_log"

    # replay the same batch: converges to identical state (idempotent merge)
    router.process_batch(raw)
    assert {r["id"]: r["name"] for r in router.read_state("customers").collect()} == {1: "ann2"}


def test_multi_table_router_streaming(spark, tmp_path):
    """Same router under real Structured Streaming (file source →
    foreachBatch), reference's consumer loop shape."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import MultiTableCdcRouter

    orders_schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("purchaser", T.LongType())]
    )
    rows = []
    for i in range(20):
        table = "customers" if i % 2 == 0 else "orders"
        key = (i // 2) % 5  # each id written twice: op=c then op=u
        after = (
            {"id": key, "name": f"n{i}", "created_ms": i}
            if table == "customers"
            else {"id": key, "purchaser": i}
        )
        rows.append(
            (
                json.dumps(
                    {
                        "before": None,
                        "after": after,
                        "source": {"db": "app", "table": table, "ts_ms": 1},
                        "op": "u" if i >= 10 else "c",
                        "ts_ms": 1,
                    }
                ),
                f"dbserver1.app.{table}",
                i,
            )
        )
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    spark.createDataFrame(rows, "value string, topic string, offset long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src_dir))

    stream = (
        spark.readStream.schema("value string, topic string, offset long")
        .parquet(str(src_dir))
    )
    cfg = CdcConfig.from_properties("pk.customers=id\npk.orders=id\n")
    router = MultiTableCdcRouter(
        spark,
        cfg,
        {
            "customers": (ROW_SCHEMA, ["name", "created_ms"]),
            "orders": (orders_schema, ["purchaser"]),
        },
        str(tmp_path / "state"),
    )
    q = router.run_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    cust = router.read_state("customers")
    assert cust.count() == 5  # ids 0..4, each updated (last write wins)
    assert {r["name"] for r in cust.collect()} == {"n10", "n12", "n14", "n16", "n18"}
    assert router.read_state("orders").count() == 5


def test_schema_drift_maptype_fallback(spark):
    """SURVEY §1.3: the reference types rows *dynamically* per JSON
    token; our explicit-StructType decode must degrade gracefully when
    the wire carries columns the schema doesn't know — and a
    MapType(String,String) row schema must capture everything (the
    drift-tolerant mode)."""
    drifted = json.dumps(
        {
            "before": None,
            "after": {"id": 7, "name": "x", "created_ms": 1, "NEW_COL": "surprise"},
            "source": SRC,
            "op": "c",
            "ts_ms": 1,
        }
    )
    raw = spark.createDataFrame([(drifted, 1)], "value string, offset long")

    # struct mode: unknown column silently pruned, knowns decoded
    d1 = decode_envelope(raw, ROW_SCHEMA).collect()[0]
    assert d1["_error"] is None and d1["after"]["id"] == 7 and d1["after"]["name"] == "x"

    # map mode: every column captured as strings (dynamic-typing analogue)
    map_schema = T.MapType(T.StringType(), T.StringType())
    d2 = decode_envelope(raw, map_schema).collect()[0]
    assert d2["after"]["NEW_COL"] == "surprise"
    assert d2["after"]["id"] == "7" and set(d2["after"].keys()) >= {"id", "name", "NEW_COL"}


def test_state_sink_time_travel_and_retention(spark, tmp_path):
    """ParquetStateSink keeps the last `retain` snapshots AND truncates
    its log to the retained tail (O(retain) commit cost forever, not
    O(n_commits)); read(-2) time-travels one commit back, non-negative
    versions address the monotonic commit seq, vacuumed versions raise."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import ParquetStateSink

    sink = ParquetStateSink(spark, str(tmp_path / "state"), ["id"], ["name"], retain=2)

    def batch(rows):
        raw = spark.createDataFrame(rows, "value string, offset long")
        ev = with_change_columns(decode_envelope(raw, ROW_SCHEMA))
        sink.merge(compact(ev, ["id"]))

    def env(op, key, name, off):
        img = {"id": key, "name": name}
        return (
            json.dumps(
                {
                    "before": img if op == "d" else None,
                    "after": None if op == "d" else img,
                    "source": SRC,
                    "op": op,
                    "ts_ms": 0,
                }
            ),
            off,
        )

    batch([env("c", 1, "a", 0), env("c", 2, "b", 1)])
    batch([env("u", 1, "a2", 2)])
    batch([env("d", 2, "b", 3)])

    # log holds only the retained tail; the seq counter stays monotonic
    assert len(sink.versions()) == 2
    assert sink.latest_seq() == 2
    now = {r["id"]: r["name"] for r in sink.read().collect()}
    assert now == {1: "a2"}
    prev = {r["id"]: r["name"] for r in sink.read(version=-2).collect()}
    assert prev == {1: "a2", 2: "b"}
    # absolute addressing by commit seq: seq 1 is retained, seq 0 vacuumed
    assert {r["id"]: r["name"] for r in sink.read(version=1).collect()} == prev
    with pytest.raises(IndexError):
        sink.read(version=0)  # first snapshot vacuumed (retain=2)
    with pytest.raises(IndexError):
        sink.read(version=-3)  # outside the retained relative window
    # the base/delta dirs on disk are exactly those the retained log
    # lines name
    import os

    dirs = {d for d in os.listdir(tmp_path / "state") if d.startswith(("v-", "d-"))}
    named = {
        n
        for ln in (tmp_path / "state" / "_LOG").read_text().splitlines()
        for n in ln.split("\t")[1:]
        if n
    }
    assert dirs == named


def test_unsupported_op_is_dead_lettered_not_dropped(spark):
    """A parseable envelope with op='t' (Debezium TRUNCATE) must land in
    the dead-letter channel — neither applied (with_change_columns
    filters to c/r/u/d) nor reduced to a log line (the reference's
    switch default logs 'Unknown op' at WARN and skips the record,
    Consumer.java:183-184; this framework surfaces it as a queryable
    dead-letter row instead)."""
    import json

    import pyspark.sql.functions as F

    from mysql_postgres_debezium_cdc_spark.sources.debezium import decode_envelope
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import with_change_columns

    rows = [
        (json.dumps({"before": None, "after": {"id": 1, "v": 1.0},
                     "source": {"db": "app", "table": "t1", "ts_ms": 0},
                     "op": "c", "ts_ms": 0}), 1),
        (json.dumps({"before": None, "after": None,
                     "source": {"db": "app", "table": "t1", "ts_ms": 0},
                     "op": "t", "ts_ms": 0}), 2),
    ]
    raw = spark.createDataFrame(rows, "value string, offset long")
    import pyspark.sql.types as T

    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())])
    decoded = decode_envelope(raw, schema)
    dead = decoded.where(F.col("_error").isNotNull()).collect()
    assert len(dead) == 1 and dead[0]["_error"] == "unsupported op: t"
    applied = with_change_columns(decoded.where(F.col("_error").isNull()))
    assert applied.count() == 1  # only the insert


def test_offset_range_diff_invariants(spark):
    """cdc_offset_range_diff semantic invariants, checked against
    independently-computed snapshots at the smoke scale:

    - the diff NEVER reports a key whose (presence, last_offset) is
      identical in both snapshots;
    - every key present at the end but absent at T is an 'insert',
      absent at the end but present at T a 'delete', offset-moved an
      'update';
    - a diff between an offset range and itself is empty.
    """
    from mysql_postgres_debezium_cdc_spark.registry import all_queries
    from mysql_postgres_debezium_cdc_spark.sources.parquet import load
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import ORDER_COL
    from mysql_postgres_debezium_cdc_spark.streaming.cdc_queries import (
        EVENTS_ROW_SCHEMA,
        _events_changelog,
    )

    from tests.conftest import SF_DIR_SMOKE

    sf = SF_DIR_SMOKE

    def snapshot(hi):
        raw = _events_changelog(spark, sf, None, hi)
        ev = with_change_columns(decode_envelope(raw, EVENTS_ROW_SCHEMA))
        st = apply_changes(None, compact(ev, ["id"]), ["id"], ["v"])
        return {r["id"]: r[ORDER_COL] for r in st.collect()}

    max_id = load(spark, sf, "events").agg(F.max("event_id")).collect()[0][0]
    mid = int(max_id) // 2
    at_t, at_end = snapshot(mid), snapshot(None)

    diff = {
        r["id"]: (r["change"], r["offset_before"], r["offset_after"])
        for r in all_queries()["cdc_offset_range_diff"].fn(spark, sf).collect()
    }
    expected = {}
    for k in at_t.keys() | at_end.keys():
        if k not in at_t:
            expected[k] = ("insert", None, at_end[k])
        elif k not in at_end:
            expected[k] = ("delete", at_t[k], None)
        elif at_t[k] != at_end[k]:
            expected[k] = ("update", at_t[k], at_end[k])
    assert diff == expected
    # unchanged keys never appear
    assert not [k for k in diff if k in at_t and k in at_end and at_t[k] == at_end[k] and diff[k][0] != "update"]


# One record per envelope shape decode_envelope must tell apart, with the
# (op, before, after, src_db, src_table, ts_ms, _tombstone, _error) each
# must decode to under the row schema `id bigint, name string`.
_EDGE_ROW = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)
_EDGE_CASES = [
    # payload-wrapped
    ('{"payload": {"op": "c", "after": {"id": 1, "name": "a"}, '
     '"source": {"db": "app", "table": "t"}, "ts_ms": 5}}',
     ("c", None, (1, "a"), "app", "t", 5, False, None)),
    # bare
    ('{"op": "u", "before": {"id": 2, "name": "b"}, "after": {"id": 2, "name": "c"}, '
     '"source": {"db": "app", "table": "t"}, "ts_ms": 6}',
     ("u", (2, "b"), (2, "c"), "app", "t", 6, False, None)),
    # "payload": null reads the root
    ('{"payload": null, "op": "c", "after": {"id": 3, "name": "n"}, "ts_ms": 7}',
     ("c", None, (3, "n"), None, "orders", 7, False, None)),
    # "payload" that is no object reads the root
    ('{"payload": "str", "op": "d", "before": {"id": 4, "name": "s"}}',
     ("d", (4, "s"), None, None, "orders", None, False, None)),
    # a "payload" key inside the row data is row data
    ('{"op": "c", "after": {"id": 5, "name": "x", "payload": {"op": "d"}}}',
     ("c", None, (5, "x"), None, "orders", None, False, None)),
    # root and payload fields both present: payload wins
    ('{"op": "d", "before": {"id": 60}, '
     '"payload": {"op": "c", "after": {"id": 6, "name": "p"}, "ts_ms": 8}}',
     ("c", None, (6, "p"), None, "orders", 8, False, None)),
    # malformed
    ('{"op": "c", "after": {"id": 7,',
     (None, None, None, None, "orders", None, False,
      'unparseable envelope: {"op": "c", "after": {"id": 7,')),
    # blank and null values are tombstones
    ("   ", (None, None, None, None, "orders", None, True, None)),
    (None, (None, None, None, None, "orders", None, True, None)),
    # a JSON array and a JSON scalar are no envelope
    ('[{"op": "c", "after": {"id": 9}}]',
     (None, None, None, None, "orders", None, False,
      'unparseable envelope: [{"op": "c", "after": {"id": 9}}]')),
    ("42", (None, None, None, None, "orders", None, False, "unparseable envelope: 42")),
    # parseable, but an op the replica does not apply
    ('{"op": "t", "source": {"db": "app", "table": "t"}}',
     ("t", None, None, "app", "t", None, False, "unsupported op: t")),
    # type mismatches null the field, not the record
    ('{"op": "c", "after": {"id": 1.7, "name": "m"}}',
     ("c", None, (None, "m"), None, "orders", None, False, None)),
    ('{"op": "c", "after": "not a row", "source": {"db": "app"}}',
     ("c", None, None, "app", "orders", None, False, None)),
]


def _edge_frame(spark, value_col="value", topic_col="topic"):
    return spark.createDataFrame(
        [(v, "dbserver1.app.orders", i) for i, (v, _) in enumerate(_EDGE_CASES)],
        f"`{value_col}` string, `{topic_col}` string, `offset` bigint",
    )


def _decoded_rows(decoded):
    out = decoded.orderBy("offset").select(
        "op", "before", "after", "src_db", "src_table", "ts_ms", "_tombstone", "_error"
    )
    return [
        tuple(tuple(v) if isinstance(v, T.Row) else v for v in r) for r in out.collect()
    ]


_ESCAPED_LITERALS = "spark.sql.parser.escapedStringLiterals"
_RESERVED_KEYWORDS = "spark.sql.ansi.enforceReservedKeywords"


@contextlib.contextmanager
def _confs(spark, confs):
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "confs,value_col,topic_col",
    [
        pytest.param({}, "value", "topic", id="False-value-topic"),
        pytest.param(
            {_ESCAPED_LITERALS: "true"}, "kafka-value", "select", id="True-kafka-value-select"
        ),
        pytest.param({_RESERVED_KEYWORDS: "true"}, "value", "topic", id="reserved-keywords"),
    ],
)
def test_decode_envelope_edge_matrix(spark, confs, value_col, topic_col):
    """Every envelope shape decodes to fixed fields, also with column
    names that are no identifiers, under escaped string literals
    (where a '\\.' topic split would invert) and with ANSI reserved
    keywords enforced (where a bare `table` field fails to parse), and
    the decoded frame compacts without error."""
    with _confs(spark, confs):
        decoded = decode_envelope(
            _edge_frame(spark, value_col, topic_col),
            _EDGE_ROW,
            value_col=value_col,
            topic_col=topic_col,
        )
        assert _decoded_rows(decoded) == [want for _, want in _EDGE_CASES]
        kept = compact(with_change_columns(decoded), ["id"]).select("_pk_id", "_cdc_offset")
        assert sorted(map(tuple, kept.collect()), key=str) == [
            (1, 0), (2, 1), (3, 2), (4, 3), (5, 4), (6, 5), (None, 13),
        ]


def test_lastwrite_materialize_under_reserved_keywords(spark):
    """The registered replica key parses end to end with ANSI reserved
    keywords enforced and returns the default-conf rows."""
    from mysql_postgres_debezium_cdc_spark.registry import all_queries
    from tests.conftest import SF_DIR_SMOKE

    q = all_queries()["cdc_lastwrite_materialize"]
    want = q.fn(spark, SF_DIR_SMOKE).collect()
    with _confs(spark, {_RESERVED_KEYWORDS: "true"}):
        got = q.fn(spark, SF_DIR_SMOKE).collect()
    assert want and got == want


def test_decode_plan_parses_json_once(spark):
    """The optimized decode plan parses each record once: one from_json,
    whether the record is payload-wrapped or bare, and still one once
    the change-column and table filters sit on top of it."""
    decoded = decode_envelope(_edge_frame(spark), _EDGE_ROW)
    filtered = with_change_columns(decoded).where(F.col("src_table") == "orders")
    for frame in (decoded, filtered):
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("from_json(") == 1, plan


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_decode_row_field_with_quote(spark, escaped):
    """A row-schema field name holding a quote decodes under either
    string-literal mode: the schema never rides in a SQL literal."""
    row = T.StructType([T.StructField("id", T.LongType()), T.StructField("it's", T.StringType())])
    raw = spark.createDataFrame(
        [('{"op": "c", "after": {"id": 1, "it\'s": "q"}}', 0)], "value string, offset long"
    )
    with _confs(spark, {_ESCAPED_LITERALS: escaped}):
        got = decode_envelope(raw, row).select("op", "after", "_error").collect()
    assert [tuple(r) for r in got] == [("c", (1, "q"), None)]


@pytest.mark.parametrize(
    "stage,column",
    [
        *[
            ("decode", c)
            for c in (
                "op", "before", "after", "src_db", "src_table", "ts_ms", "_tombstone",
                "_error", "_env", "SRC_TABLE",
            )
        ],
        ("change_columns", "_is_delete"),
        ("change_columns", "_cdc_offset"),
        ("compact", "_pk_id"),
    ],
)
def test_reserved_input_columns_are_rejected(spark, stage, column):
    """An input column that a stage adds is a clear ValueError naming it,
    not duplicate columns and an ambiguous reference downstream."""
    raw = _edge_frame(spark)
    stages = {
        "decode": lambda df: decode_envelope(df, _EDGE_ROW),
        "change_columns": lambda df: with_change_columns(df),
        "compact": lambda df: compact(df, ["id"]),
    }
    upstream = {
        "decode": raw,
        "change_columns": decode_envelope(raw, _EDGE_ROW),
        "compact": with_change_columns(decode_envelope(raw, _EDGE_ROW)),
    }[stage]
    with pytest.raises(ValueError, match=f"'{column}'"):
        stages[stage](upstream.withColumn(column, F.lit(1)))


# A two-table batch for the router's decode tests: customers, orders
# (payload-wrapped and bare), a tombstone, a poison record and an
# unknown table whose row image has fields no configured table knows.
_ORDERS_ROW = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("purchaser", T.LongType()),
        T.StructField("product", T.StringType()),
    ]
)


def _router(spark, root):
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import MultiTableCdcRouter

    return MultiTableCdcRouter(
        spark,
        CdcConfig.from_properties("pk.customers=id\npk.orders=id\n"),
        {
            "customers": (ROW_SCHEMA, ["name", "created_ms"]),
            "orders": (_ORDERS_ROW, ["purchaser", "product"]),
        },
        str(root),
    )


def _router_raw(spark):
    def mk(table, op, after=None, before=None, wrap=False):
        e = {"before": before, "after": after, "source": {"db": "app", "table": table},
             "op": op, "ts_ms": 1}
        return json.dumps({"payload": e} if wrap else e), f"dbserver1.app.{table}"

    records = [
        mk("customers", "c", {"id": 1, "name": "ann", "created_ms": 5}),
        mk("orders", "c", {"id": 10, "purchaser": 1, "product": "bolt"}, wrap=True),
        mk("orders", "d", before={"id": 10, "purchaser": 1, "product": "bolt"}),
        mk("orders", "c", {"id": 11, "purchaser": 1, "product": "gear"}),
        mk("audit_log", "c", {"id": 99, "note": "x", "tags": [1, 2]}),
        (None, "dbserver1.app.orders"),
        ('{"op": "c", "after": {', "dbserver1.app.customers"),
    ]
    return spark.createDataFrame(
        [(v, t, o) for o, (v, t) in enumerate(records)], "value string, topic string, offset long"
    )


def test_router_decodes_each_batch_once(spark, tmp_path, monkeypatch):
    """One envelope decode per batch, and every table slice reads the
    cached decode: no slice parses the raw `value` again."""
    from mysql_postgres_debezium_cdc_spark.sources import debezium

    calls = []
    decode = debezium.decode_envelope

    def counted(*args, **kwargs):
        calls.append(args[1])
        return decode(*args, **kwargs)

    monkeypatch.setattr(debezium, "decode_envelope", counted)
    router = _router(spark, tmp_path / "state")
    plans = {}
    for table, pipe in router.pipelines.items():
        def merge(compacted, table=table, merge=pipe.sink.merge):
            plans[table] = compacted._jdf.queryExecution().optimizedPlan().toString()
            merge(compacted)

        monkeypatch.setattr(pipe.sink, "merge", merge)
    router.process_batch(_router_raw(spark))
    assert len(calls) == 1
    assert sorted(plans) == ["customers", "orders"]
    for table, plan in plans.items():
        # The relation's own string holds the cached plan (and its parse),
        # so only the operators above the relation are checked.
        above, cached, _ = plan.partition("InMemoryRelation")
        assert cached, plan
        assert not [ln for ln in above.splitlines() if "from_json(" in ln and "value#" in ln], plan
    assert {r["id"]: r["name"] for r in router.read_state("customers").collect()} == {1: "ann"}
    assert {r["id"]: r["product"] for r in router.read_state("orders").collect()} == {11: "gear"}


def test_router_leaves_nothing_cached(spark, tmp_path, monkeypatch):
    """The batch's cached decode is released after every batch, also when
    a slice's merge fails, and the failure still propagates."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    router = _router(spark, tmp_path / "state")
    raw = _router_raw(spark)
    router.process_batch(raw)
    assert cache.isEmpty()

    def broken(compacted):
        raise RuntimeError("sink down")

    monkeypatch.setattr(router.pipelines["orders"].sink, "merge", broken)
    with pytest.raises(RuntimeError, match="sink down"):
        router.process_batch(raw)
    assert cache.isEmpty()


def test_router_dead_letters_keep_row_image(spark, tmp_path):
    """An unknown table's dead letter carries its whole row image, not
    one coerced to some configured table's schema."""
    router = _router(spark, tmp_path / "state")
    dl = {r["offset"]: r for r in router.dead_letters(_router_raw(spark)).collect()}
    assert sorted(dl) == [4, 6]
    assert dl[4]["src_table"] == "audit_log" and dl[4]["_error"] is None
    assert json.loads(dl[4]["after"]) == {"id": 99, "note": "x", "tags": [1, 2]}
    assert dl[6]["_error"].startswith("unparseable envelope")
