"""Property-based CDC test: ANY event sequence, replayed through
decode → compact → apply in arbitrary batch splits, must equal the
single-threaded in-order replay (the reference's implicit contract,
Consumer.java:122-127)."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.sources.debezium import decode_envelope
from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
    apply_changes,
    compact,
    with_change_columns,
)

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "r", "d"]),
        st.integers(min_value=0, max_value=4),  # small key space → collisions
        st.text(alphabet="abc", min_size=0, max_size=3),
    ),
    min_size=1,
    max_size=24,
)


def oracle_replay(events):
    """Single-threaded in-order replay — the reference's semantics."""
    state: dict[int, str] = {}
    for op, key, name in events:
        if op == "d":
            state.pop(key, None)
        else:
            state[key] = name
    return state


def spark_replay(spark, events, n_batches):
    rows = []
    for off, (op, key, name) in enumerate(events):
        img = {"id": key, "name": name}
        env = {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"db": "app", "table": "t", "ts_ms": 0},
            "op": op,
            "ts_ms": 0,
        }
        rows.append((json.dumps(env), off))
    state = None
    step = max(1, (len(rows) + n_batches - 1) // n_batches)
    for i in range(0, len(rows), step):
        batch = spark.createDataFrame(rows[i : i + step], "value string, offset long")
        ev = with_change_columns(decode_envelope(batch, ROW_SCHEMA))
        state = apply_changes(state, compact(ev, ["id"]), ["id"], ["name"])
    return {r["id"]: r["name"] for r in state.collect()}


@settings(max_examples=8, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(events=events_strategy, n_batches=st.integers(min_value=1, max_value=3))
def test_lastwrite_replay_equivalence(spark, events, n_batches):
    assert spark_replay(spark, events, n_batches) == oracle_replay(events)


@st.composite
def delivery_plans(draw):
    """An at-least-once delivery of an event log: contiguous batch
    ranges whose ends advance monotonically to the head, where each
    restart may REWIND into already-applied offsets (a consumer-group
    restart re-reads from the last committed offset), rows arrive in
    arbitrary order WITHIN a batch (a batch is an unordered relation),
    and some rows are duplicated inside their batch (broker
    redelivery).  This is exactly the delivery model Kafka guarantees —
    per-key order only via contiguous re-reads — so last-write-wins
    must converge to the in-order replay under ALL such plans."""
    events = draw(st.lists(
        st.tuples(
            st.sampled_from(["c", "u", "r", "d"]),
            st.integers(min_value=0, max_value=4),
            st.text(alphabet="abc", min_size=0, max_size=3),
        ),
        min_size=1,
        max_size=20,
    ))
    n = len(events)
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    ends = sorted(
        draw(st.lists(st.integers(1, n), min_size=n_cuts, max_size=n_cuts))
    ) + [n]
    rewinds = [draw(st.integers(0, 3)) for _ in ends]
    dup_picks = [draw(st.integers(0, 4)) for _ in ends]
    shuffle_seed = draw(st.integers(0, 2**16))
    return events, ends, rewinds, dup_picks, shuffle_seed


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(plan=delivery_plans())
def test_replay_converges_under_rewind_shuffle_and_redelivery(spark, plan):
    """Suffix-rewind + in-batch shuffle + duplicate rows: the replica
    must still converge to the single-threaded in-order replay.  Pins
    the at-least-once contract the reference inherits from its consumer
    group (Consumer.java:122-127 + committed offsets): re-reads are
    contiguous and in order, so batch-wins merge converges."""
    import random

    events, ends, rewinds, dup_picks, shuffle_seed = plan
    rng = random.Random(shuffle_seed)
    rows = []
    for off, (op, key, name) in enumerate(events):
        img = {"id": key, "name": name}
        env = {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"db": "app", "table": "t", "ts_ms": 0},
            "op": op,
            "ts_ms": 0,
        }
        rows.append((json.dumps(env), off))
    state = None
    prev_end = 0
    for end, rw, dup in zip(ends, rewinds, dup_picks):
        start = max(0, prev_end - rw)
        batch = rows[start:end]
        prev_end = max(prev_end, end)
        if not batch:
            continue
        batch = batch + [batch[dup % len(batch)]]  # broker redelivery
        rng.shuffle(batch)  # a batch is an unordered relation
        df = spark.createDataFrame(batch, "value string, offset long")
        ev = with_change_columns(decode_envelope(df, ROW_SCHEMA))
        state = apply_changes(state, compact(ev, ["id"]), ["id"], ["name"])
    got = {r["id"]: r["name"] for r in state.collect()}
    assert got == oracle_replay(events)


COMPOSITE_ROW_SCHEMA = T.StructType(
    [
        T.StructField("okey", T.LongType()),
        T.StructField("lno", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def oracle_replay_composite(events):
    state: dict[tuple[int, int], str] = {}
    for op, okey, lno, name in events:
        if op == "d":
            state.pop((okey, lno), None)
        else:
            state[(okey, lno)] = name
    return state


def spark_replay_composite(spark, events, n_batches):
    rows = []
    for off, (op, okey, lno, name) in enumerate(events):
        img = {"okey": okey, "lno": lno, "name": name}
        env = {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"db": "app", "table": "t", "ts_ms": 0},
            "op": op,
            "ts_ms": 0,
        }
        rows.append((json.dumps(env), off))
    state = None
    step = max(1, (len(rows) + n_batches - 1) // n_batches)
    for i in range(0, len(rows), step):
        batch = spark.createDataFrame(rows[i : i + step], "value string, offset long")
        ev = with_change_columns(decode_envelope(batch, COMPOSITE_ROW_SCHEMA))
        state = apply_changes(state, compact(ev, ["okey", "lno"]), ["okey", "lno"], ["name"])
    return {(r["okey"], r["lno"]): r["name"] for r in state.collect()}


composite_events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "r", "d"]),
        st.integers(min_value=0, max_value=2),  # okey — tiny → heavy collisions
        st.integers(min_value=0, max_value=2),  # lno — deletes must hit (okey, lno), not okey
        st.text(alphabet="abc", min_size=0, max_size=3),
    ),
    min_size=1,
    max_size=24,
)


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(events=composite_events_strategy, n_batches=st.integers(min_value=1, max_value=3))
def test_lastwrite_replay_equivalence_composite_pk(spark, events, n_batches):
    """The multi-column-PK contract (pk.<table>=a,b grammar): compaction
    and deletes key on the FULL composite, never a prefix of it."""
    assert spark_replay_composite(spark, events, n_batches) == oracle_replay_composite(events)


# --- egress roundtrip property -----------------------------------------

roundtrip_rows = st.lists(
    st.tuples(
        st.sampled_from(["c", "u", "r", "d"]),
        st.integers(min_value=0, max_value=999),
        st.one_of(
            st.none(),
            # Adversarial payload strings: JSON metacharacters, quotes,
            # backslashes, newlines, unicode, the word "payload" (which
            # the decoder's wrapped-vs-bare heuristic keys on).
            st.text(
                alphabet='ab"\\\n\t{}[]:,payloadé中',
                min_size=0,
                max_size=12,
            ),
        ),
    ),
    min_size=1,
    max_size=16,
    unique_by=lambda r: r[1],
)


@settings(max_examples=15, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(rows=roundtrip_rows, wrap=st.booleans())
def test_encode_decode_roundtrip_property(spark, rows, wrap):
    """encode_envelope → decode_envelope is the identity on change
    events for ARBITRARY payload strings — JSON escaping (quotes,
    backslashes, control chars, unicode) and the payload-or-root unwrap
    heuristic (values containing the literal string "payload") must
    never corrupt or drop an event."""
    from mysql_postgres_debezium_cdc_spark.sources.debezium import encode_envelope

    data = []
    for i, (op, key, name) in enumerate(rows):
        img = {"id": key, "name": name}
        data.append(
            (
                op,
                img if op in ("u", "d") else None,
                None if op == "d" else img,
                1700000000000 + i,
            )
        )
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("before", ROW_SCHEMA),
            T.StructField("after", ROW_SCHEMA),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    changes = spark.createDataFrame(
        [(op, b and (b["id"], b["name"]), a and (a["id"], a["name"]), ts)
         for op, b, a, ts in data],
        schema,
    )
    enc = encode_envelope(changes, "app", "t", ("id",), wrap=wrap)
    dec = decode_envelope(enc, ROW_SCHEMA).collect()
    assert len(dec) == len(data)
    got = {}
    for r in dec:
        assert r["_error"] is None, r
        key = r["after"]["id"] if r["after"] is not None else r["before"]["id"]
        got[key] = (
            r["op"],
            r["before"] and (r["before"]["id"], r["before"]["name"]),
            r["after"] and (r["after"]["id"], r["after"]["name"]),
            r["ts_ms"],
        )
    want = {
        (b or a)["id"]: (op, b and (b["id"], b["name"]), a and (a["id"], a["name"]), ts)
        for op, b, a, ts in data
    }
    assert got == want


def _point_in_time_oracle(rows):
    """Single-threaded reference for cdc_scd2_point_in_time_join under
    DELETE-CLOSES-STATE semantics (the engine/oracle contract):
    'error' events are deletes that close the open SCD2 interval, so a
    purchase matches its user's IMMEDIATELY preceding event — of any
    type — and only if that event is non-error.  An intervening delete
    creates a gap in the validity axis: purchase-after-delete ⇒ no row."""
    expected = {}
    by_user_all: dict[int, list] = {}
    for eid, _ts, user, etype, value, _props in rows:
        by_user_all.setdefault(user, []).append((eid, etype, value))
    for eid, _ts, user, etype, value, _props in rows:
        if etype != "purchase":
            continue
        prior = [t for t in by_user_all.get(user, []) if t[0] < eid]
        if prior and prior[-1][1] != "error":
            pe, _pt, pv = prior[-1]
            expected[(user, eid)] = (round(pv, 2), pe)
    return expected


def _point_in_time_run(spark, tmp_path_factory, seqs):
    import datetime

    from mysql_postgres_debezium_cdc_spark.registry import all_queries

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i, (user, etype) in enumerate(seqs):
        rows.append(
            (i, t0 + datetime.timedelta(minutes=i), user, etype, float(i) + 0.25, "{}")
        )
    base = tmp_path_factory.mktemp("pit")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "events.parquet"))

    got = {
        (r["user_id"], r["as_of"]): (r["prev_v"], r["prev_valid_from"])
        for r in all_queries()["cdc_scd2_point_in_time_join"].fn(spark, str(base)).collect()
    }
    return got, _point_in_time_oracle(rows)


@settings(
    max_examples=12, deadline=None, derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    seqs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.sampled_from(["purchase", "click", "view", "error"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_point_in_time_join_matches_predecessor_scan(spark, tmp_path_factory, seqs):
    """For ANY event sequence (deletes interleaved), the temporal join
    must equal the single-threaded delete-aware scan."""
    got, expected = _point_in_time_run(spark, tmp_path_factory, seqs)
    assert got == expected


def test_point_in_time_purchase_after_delete_sees_nothing(spark, tmp_path_factory):
    """Pinned regression (found by Hypothesis in r4): a purchase whose
    user's state was deleted by an intervening 'error' event matches NO
    version — delete closes the interval, leaving a gap, per the SCD2
    contract the engine and its DuckDB oracle both implement."""
    seqs = [(0, "purchase"), (0, "error"), (0, "purchase")]
    got, expected = _point_in_time_run(spark, tmp_path_factory, seqs)
    assert expected == {}  # the oracle itself must model the gap
    assert got == {}


def test_point_in_time_reopen_after_delete(spark, tmp_path_factory):
    """After a delete, a NEW version re-opens state: purchase at t4 sees
    the click at t3, not the pre-delete purchase at t0."""
    seqs = [(0, "purchase"), (0, "error"), (0, "click"), (0, "purchase")]
    got, expected = _point_in_time_run(spark, tmp_path_factory, seqs)
    assert got == expected
    assert got == {(0, 3): (2.25, 2)}


def _scd2_history_oracle(rows):
    """Single-threaded SCD2-history reference under delete-closes-state:
    each non-error event opens a version at its own offset; the NEXT
    event for the key — of ANY type — closes it; deletes emit no row."""
    by_user: dict[int, list] = {}
    for eid, _ts, user, etype, value, _props in rows:
        by_user.setdefault(user, []).append((eid, etype, value))
    expected = set()
    for user, evs in by_user.items():
        for i, (eid, etype, value) in enumerate(evs):
            if etype == "error":
                continue
            nxt = evs[i + 1][0] if i + 1 < len(evs) else None
            expected.add((user, round(value, 2), eid, nxt, nxt is None))
    return expected


@settings(
    max_examples=10, deadline=None, derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(
    seqs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.sampled_from(["purchase", "click", "view", "error"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_scd2_history_matches_interval_scan(spark, tmp_path_factory, seqs):
    """For ANY event sequence with deletes interleaved, cdc_scd2_history
    must produce exactly the single-threaded interval construction:
    disjoint per-key intervals, deletes closing without opening (the
    axis has GAPS after deletes — the r4 spec hole, now pinned at the
    history level too, not just the temporal join)."""
    import datetime

    from mysql_postgres_debezium_cdc_spark.registry import all_queries

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i, (user, etype) in enumerate(seqs):
        rows.append(
            (i, t0 + datetime.timedelta(minutes=i), user, etype, float(i) + 0.25, "{}")
        )
    base = tmp_path_factory.mktemp("scd2h")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "events.parquet"))

    got = {
        (r["id"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in all_queries()["cdc_scd2_history"].fn(spark, str(base)).collect()
    }
    assert got == _scd2_history_oracle(rows)


# ---------------------------------------------------------------------------
# Ordering hazards beyond the single-partition generator (VERDICT r5 #6):
# cross-partition interleavings of a keyed topic, and log-compaction gaps.
# ---------------------------------------------------------------------------

PARTITION_STRIDE = 1_000_000  # ORDER_COL encoding: partition * stride + offset


@st.composite
def partitioned_streams(draw):
    """A keyed topic spread over TWO partitions under Debezium's default
    key-hash partitioner (key % 2 → partition).  Kafka guarantees order
    only WITHIN a partition; batches may interleave reads from the two
    partitions arbitrarily.  Because a key's events all live in one
    partition (the key-hash contract), last-write-wins only ever
    compares offsets of the SAME partition — so any ORDER_COL encoding
    that is monotone within a partition (here partition*stride+offset)
    converges, even though it imposes an arbitrary CROSS-partition
    order.  That is the per-key-per-partition contract this family
    pins: correctness requires key-affine partitioning, not a global
    offset order."""
    events = draw(st.lists(
        st.tuples(
            st.sampled_from(["c", "u", "r", "d"]),
            st.integers(min_value=0, max_value=4),
            st.text(alphabet="abc", min_size=0, max_size=3),
        ),
        min_size=1,
        max_size=20,
    ))
    # Each batch draws a (partition, how-many) pull: the consumer polls
    # an arbitrary interleaving of the two partitions' heads.
    pulls = draw(st.lists(
        st.tuples(st.integers(0, 1), st.integers(1, 6)),
        min_size=1, max_size=12,
    ))
    batch_cuts = draw(st.integers(min_value=1, max_value=4))
    return events, pulls, batch_cuts


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(plan=partitioned_streams())
def test_replay_converges_across_partition_interleavings(spark, plan):
    """Same-key events split across Kafka partitions: under the key-hash
    partitioner each key is confined to one partition, so ANY
    interleaving of the partitions' ordered streams — including pulls
    that run one partition far ahead of the other — must converge to
    the single-threaded in-order replay."""
    events, pulls, batch_cuts = plan
    # Route each event to its key's home partition; per-partition
    # offsets are dense and independent (both start at 0).
    parts = {0: [], 1: []}
    for op, key, name in events:
        p = key % 2
        img = {"id": key, "name": name}
        env = {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"db": "app", "table": "t", "ts_ms": 0},
            "op": op,
            "ts_ms": 0,
        }
        parts[p].append((json.dumps(env), p * PARTITION_STRIDE + len(parts[p])))
    # Materialize the consumer's read sequence from the pull plan, then
    # drain any tail so every event is delivered at least once.
    heads = {0: 0, 1: 0}
    seq = []
    for p, k in pulls:
        take = parts[p][heads[p] : heads[p] + k]
        seq.extend(take)
        heads[p] += len(take)
    for p in (0, 1):
        seq.extend(parts[p][heads[p]:])

    state = None
    step = max(1, (len(seq) + batch_cuts - 1) // batch_cuts)
    for i in range(0, len(seq), step):
        df = spark.createDataFrame(seq[i : i + step], "value string, offset long")
        ev = with_change_columns(decode_envelope(df, ROW_SCHEMA))
        state = apply_changes(state, compact(ev, ["id"]), ["id"], ["name"])
    got = {r["id"]: r["name"] for r in state.collect()}
    assert got == oracle_replay(events)


@st.composite
def compacted_logs(draw):
    """A topic-compaction scenario: everything before the compaction
    point keeps only each key's LATEST event (tombstones included —
    pre-retention), offsets preserved, so the replayed log has GAPS and
    keys whose earliest events are missing."""
    events = draw(st.lists(
        st.tuples(
            st.sampled_from(["c", "u", "r", "d"]),
            st.integers(min_value=0, max_value=4),
            st.text(alphabet="abc", min_size=0, max_size=3),
        ),
        min_size=2,
        max_size=20,
    ))
    cpoint = draw(st.integers(min_value=1, max_value=len(events)))
    n_batches = draw(st.integers(min_value=1, max_value=3))
    return events, cpoint, n_batches


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(plan=compacted_logs())
def test_replay_converges_over_compaction_gaps(spark, plan):
    """Log compaction drops superseded per-key events, leaving offset
    gaps and keys that first appear mid-stream as 'u'/'d'.  Last-write-
    wins must be insensitive: only each key's max-offset event decides,
    so the compacted replay equals the full replay.  Pins that nothing
    in decode → compact → apply assumes dense offsets or that a key's
    first event is a create."""
    events, cpoint, n_batches = plan
    latest_before = {}
    for off, (op, key, name) in enumerate(events[:cpoint]):
        latest_before[key] = off
    kept = sorted(latest_before.values()) + list(range(cpoint, len(events)))
    rows = []
    for off in kept:
        op, key, name = events[off]
        img = {"id": key, "name": name}
        env = {
            "before": img if op == "d" else None,
            "after": None if op == "d" else img,
            "source": {"db": "app", "table": "t", "ts_ms": 0},
            "op": op,
            "ts_ms": 0,
        }
        rows.append((json.dumps(env), off))
    state = None
    step = max(1, (len(rows) + n_batches - 1) // n_batches)
    for i in range(0, len(rows), step):
        df = spark.createDataFrame(rows[i : i + step], "value string, offset long")
        ev = with_change_columns(decode_envelope(df, ROW_SCHEMA))
        state = apply_changes(state, compact(ev, ["id"]), ["id"], ["name"])
    got = {r["id"]: r["name"] for r in state.collect()}
    assert got == oracle_replay(events)


def oracle_offset_diff(events, t):
    """Reference scan for the offset-range diff: replay to offset < t
    and to the end, then classify keys by (presence, last_offset)."""

    def snap(upto):
        state: dict[int, int] = {}
        for off, (op, key, _name) in enumerate(events):
            if upto is not None and off >= upto:
                break
            if op == "d":
                state.pop(key, None)
            else:
                state[key] = off
        return state

    at_t, at_end = snap(t), snap(None)
    out = {}
    for k in at_t.keys() | at_end.keys():
        if k not in at_t:
            out[k] = ("insert", None, at_end[k])
        elif k not in at_end:
            out[k] = ("delete", at_t[k], None)
        elif at_t[k] != at_end[k]:
            out[k] = ("update", at_t[k], at_end[k])
    return out


@settings(max_examples=8, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(events=events_strategy, t_frac=st.integers(min_value=0, max_value=4))
def test_offset_range_diff_equals_reference_classification(spark, events, t_frac):
    """cdc_offset_range_diff semantics over ANY changelog: materialize
    snapshots at offset T and at the head through the engine's
    decode→compact→apply, full-outer-diff them, and the
    insert/update/delete classification (with before/after offset
    evidence) must equal the single-threaded replay's.  T sweeps 0,
    ¼, ½, ¾, all — including the empty-prefix and self-diff edges."""
    import pyspark.sql.functions as F
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import ORDER_COL

    t = len(events) * t_frac // 4 if t_frac < 4 else None

    def snapshot(upto):
        rows = []
        for off, (op, key, name) in enumerate(events):
            if upto is not None and off >= upto:
                break
            img = {"id": key, "name": name}
            env = {
                "before": img if op == "d" else None,
                "after": None if op == "d" else img,
                "source": {"db": "app", "table": "t", "ts_ms": 0},
                "op": op,
                "ts_ms": 0,
            }
            rows.append((json.dumps(env), off))
        if not rows:
            return None
        batch = spark.createDataFrame(rows, "value string, offset long")
        ev = with_change_columns(decode_envelope(batch, ROW_SCHEMA))
        return apply_changes(None, compact(ev, ["id"]), ["id"], ["name"]).select(
            "id", F.col(ORDER_COL).alias("o")
        )

    snap_t, snap_end = snapshot(t), snapshot(None)
    if snap_t is None:
        got = {r["id"]: ("insert", None, r["o"]) for r in snap_end.collect()}
    else:
        j = snap_t.alias("t").join(
            snap_end.alias("e"), F.col("t.id") == F.col("e.id"), "full_outer"
        )
        got = {
            r["id"]: (r["change"], r["ob"], r["oa"])
            for r in j.where(
                F.col("t.id").isNull()
                | F.col("e.id").isNull()
                | (F.col("t.o") != F.col("e.o"))
            )
            .select(
                F.coalesce(F.col("t.id"), F.col("e.id")).alias("id"),
                F.when(F.col("t.id").isNull(), "insert")
                .when(F.col("e.id").isNull(), "delete")
                .otherwise("update")
                .alias("change"),
                F.col("t.o").alias("ob"),
                F.col("e.o").alias("oa"),
            )
            .collect()
        }
    assert got == oracle_offset_diff(events, t)


# Router property: two tables, one with a composite key and a double.
_ROUTED = {
    "t1": (ROW_SCHEMA, ("id",), ("name",)),
    "t2": (
        T.StructType(
            [
                T.StructField("k1", T.LongType()),
                T.StructField("k2", T.StringType()),
                T.StructField("v", T.DoubleType()),
            ]
        ),
        ("k1", "k2"),
        ("v",),
    ),
}


@st.composite
def routed_records(draw):
    """(value, topic table) records of a mixed stream: change events of
    t1 and t2 (payload-wrapped or bare, op c/u/r/d), tombstones, poison,
    op 't', an unknown table, and row images that are no JSON object."""
    kind = draw(st.sampled_from(["row", "row", "row", "tomb", "poison", "trunc", "unknown",
                                 "nonobject"]))
    table = draw(st.sampled_from(["t1", "t2"]))
    if kind == "tomb":
        return draw(st.sampled_from([None, "", "  "])), table
    if kind == "poison":
        return '{"op": "c", "after": {"id": ', table
    op = draw(st.sampled_from(["c", "u", "r", "d"]))
    if table == "t1":
        img = {"id": draw(st.integers(0, 3)), "name": draw(st.text(alphabet="ab'\"", max_size=3))}
    else:
        img = {
            "k1": draw(st.integers(0, 1)),
            "k2": draw(st.sampled_from(["x", "y"])),
            "v": draw(st.floats(allow_nan=False, allow_infinity=False)),
        }
    if kind == "trunc":
        op, img = "t", None
    elif kind == "nonobject":
        img = draw(st.sampled_from(["not a row", 5, [1, 2], True]))
    elif kind == "unknown":
        table = "audit"
    env = {
        "before": img if op == "d" else None,
        "after": None if op == "d" else img,
        "source": {"db": "app", "table": table, "ts_ms": 0},
        "op": op,
        "ts_ms": 0,
    }
    return json.dumps({"payload": env} if draw(st.booleans()) else env), table


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    records=st.lists(routed_records(), min_size=1, max_size=16),
    n_batches=st.integers(min_value=1, max_value=2),
)
def test_router_equals_one_pipeline_per_table(spark, records, n_batches):
    """Per table, the router's replica equals a CdcPipeline's fed only
    that table's records (by topic), over the same batch splits: one
    shared decode routes and types every record as a per-table decode
    does.  Replicas are compared, not decoded frames: a row image that
    is no JSON object types to an all-null struct in the router and to
    null in the pipeline, and both give the same replica row."""
    import tempfile

    from mysql_postgres_debezium_cdc_spark.sources.debezium import CdcConfig
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
        CdcPipeline,
        MultiTableCdcRouter,
    )

    rows = [(v, f"dbserver1.app.{t}", off) for off, (v, t) in enumerate(records)]
    step = max(1, (len(rows) + n_batches - 1) // n_batches)
    batches = [rows[i : i + step] for i in range(0, len(rows), step)]
    ddl = "value string, topic string, offset long"
    cfg = CdcConfig.from_properties("pk.t1=id\npk.t2=k1,k2\n")
    with tempfile.TemporaryDirectory() as root:
        router = MultiTableCdcRouter(
            spark, cfg, {t: (s, list(cols)) for t, (s, _, cols) in _ROUTED.items()}, root + "/r"
        )
        pipes = {
            t: CdcPipeline(spark, s, pk, cols, f"{root}/{t}") for t, (s, pk, cols) in _ROUTED.items()
        }
        for batch in batches:
            router.process_batch(spark.createDataFrame(batch, ddl))
            for t, pipe in pipes.items():
                own = [r for r in batch if r[1] == f"dbserver1.app.{t}"]
                pipe.process_batch(spark.createDataFrame(own, ddl))
        for t, (_, pk, cols) in _ROUTED.items():
            def replica(df):
                return sorted(map(tuple, df.select(*pk, *cols, "_cdc_offset").collect()), key=repr)

            assert replica(router.read_state(t)) == replica(pipes[t].sink.read()), t
