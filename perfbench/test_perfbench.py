"""Tests of the benchmark itself (generator, reference model, statistics,
metric names).  They need no Spark session:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import replace

import pyarrow.parquet as pq
import pytest

import measure
from generate import Model, generate, table_digest
from workloads import WORKLOADS, pk_values

HERE = os.path.dirname(os.path.abspath(__file__))


def small(name: str, **kw):
    """A workload with its mix kept and its sizes cut, so tests run fast."""
    wl = WORKLOADS[name]
    tables = tuple(
        replace(t, keys=min(t.keys, 400), snapshot_keys=min(t.snapshot_keys, 300))
        for t in wl.tables
    )
    return replace(wl, tables=tables, batch_events=500, warmup_batches=1, timed_batches=3, **kw)


def read_files(out_dir: str) -> list[list[dict]]:
    d = os.path.join(out_dir, "files")
    return [pq.read_table(os.path.join(d, f)).to_pylist() for f in sorted(os.listdir(d))]


def replay(wl, batches) -> tuple[dict, dict, dict]:
    """Independent last-write-wins replay of the wire records: per
    (table, key), the highest-offset surviving event wins; deletes drop.
    Returns the table digests, the dead-letter counts and the scans."""
    tables = {t.name: t for t in wl.tables}
    state = {name: {} for name in tables}
    dead = {"unparseable": 0, "unsupported_op": 0, "unknown_table": 0}
    for batch in batches:
        for rec in batch:
            if rec["value"] is None:
                continue
            try:
                env = json.loads(rec["value"])
            except json.JSONDecodeError:
                dead["unparseable"] += 1
                continue
            env = env.get("payload", env)
            name = env["source"]["table"]
            if env["op"] not in ("c", "r", "u", "d"):
                dead["unsupported_op"] += 1
                continue
            if name not in tables:
                dead["unknown_table"] += 1
                continue
            t = tables[name]
            image = env["after"] if env["op"] != "d" else env["before"]
            key = tuple(image[c] for c in t.pk)
            if env["op"] == "d":
                state[name].pop(key, None)
            else:
                state[name][key] = tuple(image[f] for f, _ in t.fields) + (rec["offset"],)
    scans = {}
    for name, rows in state.items():
        at = [f for f, _ in tables[name].fields].index(tables[name].sum_col)
        scans[name] = {"rows": len(rows), "sum": sum(r[at] for r in rows.values())}
    return {n: table_digest(rows.values()) for n, rows in state.items()}, dead, scans


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    wl = small("router_multi_table")
    a, b, c = (str(tmp_path / x) for x in "abc")
    generate(wl, 7, a)
    generate(wl, 7, b)
    generate(wl, 8, c)
    for sub in ("files", "."):
        names = sorted(os.listdir(os.path.join(a, sub)))
        assert names == sorted(os.listdir(os.path.join(b, sub)))
        for n in names:
            pa_, pb_ = os.path.join(a, sub, n), os.path.join(b, sub, n)
            if os.path.isfile(pa_):
                with open(pa_, "rb") as fa, open(pb_, "rb") as fb:
                    assert fa.read() == fb.read(), n
                if sub == "files":
                    assert os.path.getmtime(pa_) == os.path.getmtime(pb_)
    with open(os.path.join(a, "model.json")) as fa, open(os.path.join(c, "model.json")) as fc:
        assert fa.read() != fc.read()


def test_file_mtimes_follow_batch_order(tmp_path):
    generate(small("replica_large_state"), 1, str(tmp_path))
    d = tmp_path / "files"
    mtimes = [os.path.getmtime(d / f) for f in sorted(os.listdir(d))]
    assert mtimes == sorted(set(mtimes))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_model_matches_an_independent_replay_of_the_wire(tmp_path, name):
    """After every file, since a run may stop after any of them."""
    wl = small(name)
    model = generate(wl, 3, str(tmp_path))
    batches = read_files(str(tmp_path))
    assert len(model["after_file"]) == len(batches)
    for i, expect in enumerate(model["after_file"]):
        digests, dead, scans = replay(wl, batches[: i + 1])
        assert digests == expect["tables"]
        assert dead == expect["dead_letters"]
        assert scans == expect["scans"]
    assert model["records_per_file"] == [len(b) for b in batches]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_point_read_answers_match_the_replay(tmp_path, name):
    wl = small(name)
    model = generate(wl, 4, str(tmp_path))
    batches = read_files(str(tmp_path))
    tables = {t.name: t for t in wl.tables}
    for i, expect in enumerate(model["after_file"]):
        assert len(expect["point_reads"]) == wl.reads_per_step
        rows = {}
        for batch in batches[: i + 1]:
            for rec in batch:
                try:
                    env = json.loads(rec["value"])
                except (TypeError, json.JSONDecodeError):
                    continue
                env = env.get("payload", env)
                t = tables.get(env["source"]["table"])
                if t is None or env["op"] not in ("c", "r", "u", "d"):
                    continue
                image = env["after"] if env["op"] != "d" else env["before"]
                key = (t.name, tuple(image[c] for c in t.pk))
                row = tuple(image[f] for f, _ in t.fields) + (rec["offset"],)
                rows[key] = None if env["op"] == "d" else list(row)
        for lookup in expect["point_reads"]:
            assert rows.get((lookup["table"], tuple(lookup["pk"]))) == lookup["expect"]


def test_generated_stream_contains_the_hard_cases(tmp_path):
    """Update-then-delete in one batch, delete-then-reinsert, one key in
    wrapped and bare envelopes, and each key pinned to one partition."""
    wl = small("router_multi_table", delete_share=0.2, wrap_share=0.3)
    generate(wl, 5, str(tmp_path))
    seen = defaultdict(list)  # (topic, key) -> [(batch, op, wrapped, partition)]
    for b, batch in enumerate(read_files(str(tmp_path))):
        for rec in batch:
            try:
                env = json.loads(rec["value"])
            except (TypeError, json.JSONDecodeError):  # tombstone or poison
                continue
            wrapped = "payload" in env
            env = env.get("payload", env)
            seen[rec["topic"], rec["key"]].append((b, env["op"], wrapped, rec["partition"]))
    update_then_delete = delete_then_reinsert = both_shapes = False
    for events in seen.values():
        assert len({p for *_, p in events}) == 1
        ops = [(b, op) for b, op, _, _ in events]
        for (b1, o1), (b2, o2) in zip(ops, ops[1:]):
            update_then_delete |= b1 == b2 and o1 == "u" and o2 == "d"
            delete_then_reinsert |= o1 == "d" and o2 == "c"
        both_shapes |= len({w for _, _, w, _ in events}) == 2
    assert update_then_delete and delete_then_reinsert and both_shapes


def test_model_last_write_wins_cases():
    t = WORKLOADS["replica_large_state"].tables[0]
    m = Model([t])
    row = lambda k, v: pk_values(t, k) + (f"o{v}", 1.5, v, 0)  # noqa: E731
    m.upsert(t.name, 1, row(1, 1), offset=0)
    m.upsert(t.name, 1, row(1, 2), offset=1)  # update ...
    m.delete(t.name, 1)  # ... then delete: gone
    m.upsert(t.name, 2, row(2, 1), offset=0)
    m.delete(t.name, 2)
    m.upsert(t.name, 2, row(2, 3), offset=5)  # delete then reinsert: back, new image
    assert m.state[t.name] == {2: row(2, 3) + (5,)}
    assert m.digest()[t.name] == table_digest([row(2, 3) + (5,)])
    assert m.scans()[t.name] == {"rows": 1, "sum": 3}


def test_table_digest_ignores_row_order():
    rows = [(1, "a", 2.5, 7), (2, "b", 0.1, 8), (3, "c", 1e-3, 9)]
    assert table_digest(rows) == table_digest(rows[::-1])
    assert table_digest(rows) != table_digest(rows[:2] + [(3, "c", 1e-3, 10)])


@pytest.mark.parametrize("n", [11, 12, 24, 40, 100])
def test_tail_keeps_ten_samples_beyond(n):
    xs = list(range(n, 0, -1))
    value, pct = measure.tail(xs)
    assert sum(x > value for x in xs) == measure.MIN_BEYOND
    assert pct == (n - measure.MIN_BEYOND) / n


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_refuses_too_few_samples(n):
    with pytest.raises(ValueError):
        measure.tail(list(range(n)))


def _emitted_names(path: str) -> set[str]:
    """Metric names the program emits: the keys of its metric dicts."""
    with open(os.path.join(HERE, path)) as f:
        return set(re.findall(r'^\s+"([^"]+)": \(', f.read(), re.M))


def test_metric_names_are_well_formed_and_declared():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    for name in e2e | layers | set(WORKLOADS):
        assert measure.METRIC_NAME.fullmatch(name), name
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        name: wl.why for name, wl in WORKLOADS.items()
    }
    assert _emitted_names("run.py") == e2e
    assert _emitted_names("tracing.py") == layers
