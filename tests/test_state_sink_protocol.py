"""State-sink protocol conformance (VERDICT r3 #9).

One scenario, run against every sink implementation: insert → update +
delete + insert → time-travel.  ParquetStateSink is the reference
implementation (always runs); DeltaStateSink runs when delta-spark is
importable (not in this harness) — the point is that BOTH classes are
pinned to the same observable contract, so swapping sinks on a cluster
is a constructor change, not a semantics change.
"""

from __future__ import annotations

import json
import sys
import types

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.sources.debezium import decode_envelope
from mysql_postgres_debezium_cdc_spark.streaming.cdc import (
    DeltaStateSink,
    ParquetStateSink,
    change_rows,
    compact,
    has_delta,
    with_change_columns,
)
from tests.test_cdc import _RESERVED_KEYWORDS, _confs

ROW_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
)


def _compacted(spark, records):
    """records: list of (op, id, name, offset) → compacted batch frame."""
    rows = []
    for op, id_, name, off in records:
        row = {"id": id_, "name": name}
        e = {
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "source": {"db": "app", "table": "t", "ts_ms": 1},
            "op": op,
            "ts_ms": 1,
        }
        rows.append((json.dumps(e), "dbserver1.app.t", off))
    raw = spark.createDataFrame(rows, "value string, topic string, offset long")
    return compact(with_change_columns(decode_envelope(raw, ROW_SCHEMA)), ["id"])


def _state(sink, version=None):
    df = sink.read(version)
    return {r["id"]: r["name"] for r in df.collect()} if df is not None else None


SINKS = [
    pytest.param("parquet", id="parquet"),
    pytest.param(
        "delta",
        id="delta",
        marks=pytest.mark.skipif(not has_delta(), reason="delta-spark not installed"),
    ),
]


def _make_sink(kind, spark, root):
    cls = {"parquet": ParquetStateSink, "delta": DeltaStateSink}[kind]
    return cls(spark, root, ["id"], ["name"], retain=2)


@pytest.mark.parametrize("kind", SINKS)
def test_sink_protocol_merge_read_versions(kind, spark, tmp_path):
    sink = _make_sink(kind, spark, str(tmp_path / "state"))

    # Pre-commit: empty protocol state.
    assert sink.read() is None
    assert sink.versions() == []
    assert sink.latest_seq() == -1

    # Commit 1: two inserts.
    sink.merge(_compacted(spark, [("c", 1, "a", 0), ("c", 2, "b", 1)]))
    assert _state(sink) == {1: "a", 2: "b"}
    seq1 = sink.latest_seq()
    assert seq1 >= 0

    # Commit 2: update 1, delete 2, insert 3 — one batch.
    sink.merge(
        _compacted(spark, [("u", 1, "a2", 2), ("d", 2, None, 3), ("c", 3, "c", 4)])
    )
    assert _state(sink) == {1: "a2", 3: "c"}
    seq2 = sink.latest_seq()
    assert seq2 > seq1
    assert len(sink.versions()) >= 2

    # Time travel: absolute seq and relative addressing both reach the
    # pre-batch-2 state.
    assert _state(sink, version=seq1) == {1: "a", 2: "b"}
    assert _state(sink, version=-2) == {1: "a", 2: "b"}

    # Unknown version raises, never silently returns the wrong snapshot.
    with pytest.raises(IndexError):
        sink.read(version=seq2 + 100)


@pytest.mark.parametrize("kind", SINKS)
def test_sink_protocol_delete_only_batch_and_reinsert(kind, spark, tmp_path):
    sink = _make_sink(kind, spark, str(tmp_path / "state"))
    sink.merge(_compacted(spark, [("c", 1, "a", 0)]))
    sink.merge(_compacted(spark, [("d", 1, None, 1)]))
    assert _state(sink) == {}
    # Re-insert after delete lands as a fresh row (reference replays do this).
    sink.merge(_compacted(spark, [("c", 1, "a3", 2)]))
    assert _state(sink) == {1: "a3"}


def test_delta_sink_requires_delta(spark, tmp_path):
    if has_delta():
        pytest.skip("delta-spark installed; import guard not reachable")
    with pytest.raises(ImportError):
        DeltaStateSink(spark, str(tmp_path / "d"), ["id"], ["name"])


def test_delta_sink_merge_quotes_every_name(spark, tmp_path, monkeypatch):
    """``DeltaStateSink.merge`` quotes every name in its ON condition, its
    clause conditions and its value expressions: each expression it
    hands the Delta builder resolves over the target and source frames
    when the columns are a reserved keyword, a name with a space and a
    name with a backtick, under ANSI reserved keywords.  A stand-in
    ``delta.tables`` module records the builder calls."""
    calls = []

    class Builder:
        def __getattr__(self, method):
            def record(*args, **kwargs):
                calls.append((method, args, kwargs))
                return self

            return record

    class DeltaTable:
        @staticmethod
        def isDeltaTable(_spark, _path):
            return True

        @staticmethod
        def forPath(_spark, _path):
            return Builder()

    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = DeltaTable
    monkeypatch.setitem(sys.modules, "delta", types.ModuleType("delta"))
    monkeypatch.setitem(sys.modules, "delta.tables", tables)
    pk, cols = ["table"], ["a b", "tick`name"]
    frame = spark.createDataFrame(
        [(1, "x", "y")], "`table` long, `a b` string, `tick``name` string"
    )
    with _confs(spark, {_RESERVED_KEYWORDS: "true"}):
        sink = DeltaStateSink(spark, str(tmp_path / "d"), pk, cols)
        sink.merge(change_rows(frame, pk, cols, 3))
        by_method = {m: (args, kwargs) for m, args, kwargs in calls}
        (src, on), _ = by_method["merge"]
        exprs = [on]
        for method in ("whenMatchedDelete", "whenMatchedUpdate", "whenNotMatchedInsert"):
            kwargs = by_method[method][1]
            exprs += [kwargs["condition"], *kwargs.get("set", kwargs.get("values", {})).values()]
        target = frame.selectExpr("*", "CAST(0 AS BIGINT) AS _cdc_offset").alias("t")
        got = target.crossJoin(src).select(*[F.expr(e) for e in exprs]).collect()
    # on; delete; update condition and set; insert condition and values.
    assert [tuple(r) for r in got] == [
        (True, False, True, "x", "y", 3, True, 1, "x", "y", 3)
    ]


# ---------------------------------------------------------------------------
# r9: property test — ANY sequence of envelope batches drained through the
# sink equals a single-threaded dict reference applying Debezium op
# semantics (last offset per key wins; c/r/u upsert, d delete), and every
# retained version equals the reference at that commit.  The tables are
# tiny, so a delta soon reaches half its base and commits fold often;
# test_sink_delta_path_keeps_one_base covers commits that do not fold.
# ---------------------------------------------------------------------------

import os
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

record_strategy = st.tuples(
    st.sampled_from(["c", "u", "d"]),
    st.integers(min_value=0, max_value=5),  # id (small space -> collisions)
    st.sampled_from(["a", "b", "c", "dd"]),  # name
)
batches_strategy = st.lists(
    st.lists(record_strategy, min_size=1, max_size=6), min_size=1, max_size=8
)


def _ref_apply(state: dict, batch, offset0: int) -> int:
    """Single-threaded reference: records carry increasing offsets; the
    LAST record per id in the batch wins (compact's max_by contract)."""
    last = {}
    off = offset0
    for op, id_, name in batch:
        last[id_] = (op, name)
        off += 1
    for id_, (op, name) in last.items():
        if op == "d":
            state.pop(id_, None)
        else:
            state[id_] = name
    return off


def _records(batch, offset0: int):
    return [
        (op, id_, None if op == "d" else name, offset0 + i)
        for i, (op, id_, name) in enumerate(batch)
    ]


def _dirs_on_disk(root) -> set[str]:
    return {d for d in os.listdir(root) if d.startswith(("v-", "d-"))}


def _dirs_in_log(root) -> set[str]:
    with open(os.path.join(root, "_LOG")) as f:
        return {n for ln in f for n in ln.strip().split("\t")[1:] if n}


@settings(
    max_examples=5, deadline=None, derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(batches=batches_strategy, retain=st.sampled_from([1, 2, 3]))
def test_sink_merge_matches_dict_reference_for_any_batch_sequence(
    spark, tmp_path_factory, batches, retain
):
    root = str(tmp_path_factory.mktemp("sinkprop") / uuid.uuid4().hex)
    sink = ParquetStateSink(spark, root, ["id"], ["name"], retain=retain)
    ref: dict = {}
    history = []  # reference state after each commit
    off = 0
    for i, batch in enumerate(batches):
        sink.merge(_compacted(spark, _records(batch, off)))
        off = _ref_apply(ref, batch, off)
        history.append(dict(ref))
        retained = min(i + 1, retain)
        assert len(sink.versions()) == retained
        for back in range(1, retained + 1):
            assert _state(sink, -back) == history[-back], (i, batch, -back)
        assert _dirs_on_disk(root) == _dirs_in_log(root)


def test_sink_delta_path_keeps_one_base(spark, tmp_path):
    """Small batches against a larger base write cumulative deltas and
    no new base; every retained version still reads as the reference,
    and a redelivered batch rewrites the same delta content."""
    root = tmp_path / "state"
    sink = ParquetStateSink(spark, str(root), ["id"], ["name"], retain=3)
    ref = {i: f"name-{i:06d}" for i in range(10, 2010)}
    sink.merge(_compacted(spark, [("r", i, n, i) for i, n in ref.items()]))
    history = [dict(ref)]
    off = 5000
    batches = [
        [("u", 10, "a"), ("c", 1, "b")],
        [("d", 11, None), ("u", 1, "c")],
        [("d", 1, None), ("c", 2, "dd"), ("u", 12, "e")],
    ]
    for batch in batches:
        sink.merge(_compacted(spark, _records(batch, off)))
        off = _ref_apply(ref, batch, off)
        history.append(dict(ref))
    log = [ln.split("\t") for ln in (root / "_LOG").read_text().splitlines()]
    assert len({base for _, base, _ in log}) == 1  # no commit folded
    assert all(delta.startswith("d-") for _, _, delta in log)
    for back in (1, 2, 3):
        assert _state(sink, -back) == history[-back]

    def delta_rows():
        d = spark.read.parquet(sink.current_version_dir())
        return sorted(
            (r["id"], r["_is_delete"], r["name"], r["_cdc_offset"])
            for r in d.collect()
        )

    before = delta_rows()
    sink.merge(_compacted(spark, _records(batches[-1], off - len(batches[-1]))))
    assert delta_rows() == before
    assert _state(sink) == history[-1]


def test_sink_reads_and_merges_a_two_field_log(spark, tmp_path):
    """A root written before deltas existed — one whole-snapshot ``v-``
    directory per version and ``<seq>\t<name>`` log lines — reads as
    base-only versions and takes new commits on top."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import apply_changes

    root = tmp_path / "state"
    root.mkdir()
    names = ["v-00000000-0a0a0a0a", "v-00000001-1b1b1b1b"]
    state = None
    for name, records in zip(
        names,
        [[("c", 1, "a", 0), ("c", 2, "b", 1)], [("u", 1, "a2", 2)]],
    ):
        state = apply_changes(state, _compacted(spark, records), ["id"], ["name"])
        state.write.parquet(str(root / name))
        state = spark.read.parquet(str(root / name))
    (root / "_LOG").write_text("".join(f"{i}\t{n}\n" for i, n in enumerate(names)))

    sink = ParquetStateSink(spark, str(root), ["id"], ["name"], retain=2)
    assert sink.latest_seq() == 1
    assert sink.versions() == names
    assert _state(sink) == {1: "a2", 2: "b"}
    assert _state(sink, 0) == {1: "a", 2: "b"}

    sink.merge(_compacted(spark, [("d", 2, None, 3), ("c", 3, "c", 4)]))
    assert sink.latest_seq() == 2
    assert _state(sink) == {1: "a2", 3: "c"}
    assert _state(sink, -2) == {1: "a2", 2: "b"}
    assert _dirs_on_disk(root) == _dirs_in_log(root)
    assert names[0] not in _dirs_on_disk(root)


def test_sink_crash_between_fold_and_log_swap_keeps_committed_versions(
    spark, tmp_path, monkeypatch
):
    """A commit that dies after writing its folded base, before the
    ``_LOG`` swap, changes no committed version; the next commit vacuums
    what the dead one left on disk."""
    root = tmp_path / "state"
    sink = ParquetStateSink(spark, str(root), ["id"], ["name"], retain=2)
    sink.merge(_compacted(spark, [("c", 1, "a", 0), ("c", 2, "b", 1)]))
    sink.merge(_compacted(spark, [("u", 1, "a2", 2)]))
    log = (root / "_LOG").read_text()
    before = (_state(sink), _state(sink, -2))
    assert before == ({1: "a2", 2: "b"}, {1: "a", 2: "b"})

    write = ParquetStateSink._write

    def write_then_crash(self, prefix, seq, df):
        name = write(self, prefix, seq, df)
        if prefix == "v":
            raise RuntimeError("crash after the fold's base write")
        return name

    monkeypatch.setattr(ParquetStateSink, "_write", write_then_crash)
    # A one-row delta is at least half a two-row base on disk: this
    # commit folds, so the crash lands between the base write and the swap.
    with pytest.raises(RuntimeError, match="fold's base write"):
        sink.merge(_compacted(spark, [("d", 2, None, 3)]))
    monkeypatch.undo()

    assert (root / "_LOG").read_text() == log
    assert (_state(sink), _state(sink, -2)) == before
    orphans = _dirs_on_disk(root) - _dirs_in_log(root)
    assert orphans and all(d.startswith("v-") for d in orphans)

    sink.merge(_compacted(spark, [("d", 2, None, 3)]))
    assert _state(sink) == {1: "a2"}
    assert _state(sink, -2) == {1: "a2", 2: "b"}
    assert _dirs_on_disk(root) == _dirs_in_log(root)
    assert not orphans & _dirs_on_disk(root)


def test_non_identifier_passthrough_column_does_not_break_compact_merge_read(spark, tmp_path):
    """A passthrough column whose name is not a SQL identifier
    (``kafka-partition``) does not break compact → merge → read: no SQL
    string built from the frame reads it as ``kafka - partition``, and
    ``compact`` keeps only the compacted-change columns."""
    rows = [
        (json.dumps({"before": None, "after": {"id": 1, "name": "a"},
                     "source": {"db": "app", "table": "t", "ts_ms": 1},
                     "op": "c", "ts_ms": 1}), "dbserver1.app.t", 0, 7),
        (json.dumps({"before": None, "after": {"id": 1, "name": "a2"},
                     "source": {"db": "app", "table": "t", "ts_ms": 1},
                     "op": "u", "ts_ms": 1}), "dbserver1.app.t", 1, 7),
    ]
    raw = spark.createDataFrame(
        rows, "value string, topic string, offset long, `kafka-partition` int"
    )
    compacted = compact(with_change_columns(decode_envelope(raw, ROW_SCHEMA)), ["id"])
    assert compacted.columns == ["id", "name", "_cdc_offset", "_is_delete"]
    sink = ParquetStateSink(spark, str(tmp_path / "state"), ["id"], ["name"])
    sink.merge(compacted)
    sink.merge(compacted)
    assert _state(sink) == {1: "a2"}
