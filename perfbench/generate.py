"""Deterministic input generator and last-write-wins reference model.

``generate(workload, seed, out_dir)`` writes one parquet file per
micro-batch in the Kafka wire shape that ``project_kafka_frame`` emits
(``topic, partition, offset, key, value, timestamp``):

- ``files/000000.parquet`` is the initial snapshot (``op='r'`` for every
  snapshot key, like Debezium's ``snapshot.mode=initial``);
- the next ``warmup_batches`` files are the warm-up micro-batches;
- the remaining ``timed_batches`` files are the backlog the timed phase
  drains, as far as its time allows.

Each file's mtime is set to a fixed, increasing value, because
Structured Streaming's file source orders new files by modification
time.  The same (workload, seed) gives byte-identical files.

The reference model replays the same events in order, one at a time,
which is the reference consumer's single-threaded semantics: for every
table and key, the row image of the last event, or nothing after a
delete.  After every file it records, per table, the expected row
count, an order-insensitive value hash and the scan answer, plus the
dead-letter counts by reason and ``reads_per_step`` point lookups with
their expected rows: a run may stop after any file and still be
checked, and the reads made after a file have their answers.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import os
import random
import zlib
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from workloads import DB, PARTITIONS, UNKNOWN_TABLE, Table, Workload, pk_values

BASE_MS = 1_700_000_000_000  # Kafka record timestamp / ts_ms of event 0
MTIME_BASE = 1_700_000_000  # file mtimes: MTIME_BASE + file index
_MASK = 0xFFFFFFFFFFFFFFFF

WIRE_SCHEMA = pa.schema(
    [
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("key", pa.string()),
        ("value", pa.string()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)
WIRE_DDL = (
    "topic string, partition int, offset long, key string, value string, "
    "timestamp timestamp"
)


def row_hash(values: tuple) -> int:
    """64-bit hash of one replica row (PK, row columns, _cdc_offset)."""
    text = "\x1f".join(repr(v) for v in values)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def table_digest(rows) -> dict:
    """Row count plus an order-insensitive hash (sum of row hashes mod 2^64)."""
    n, h = 0, 0
    for r in rows:
        n += 1
        h = (h + row_hash(tuple(r))) & _MASK
    return {"rows": n, "hash": f"{h:016x}"}


_JSON_FORMAT = {"string": '"%s"', "double": "%r", "long": "%d"}


def _row_template(table: Table) -> str:
    """%-format template of one row image as Debezium JSON."""
    return "{" + ", ".join(f'"{f}": {_JSON_FORMAT[t]}' for f, t in table.fields) + "}"


def _envelope(table_name: str, op: str, before: str, after: str, ts: int) -> str:
    return (
        f'{{"before": {before}, "after": {after}, "source": {{"db": "{DB}", '
        f'"table": "{table_name}", "ts_ms": {ts}}}, "op": "{op}", "ts_ms": {ts}}}'
    )


class Model:
    """Last-write-wins replica of every table, applied one event at a
    time in generation order (the reference consumer's semantics).  Row
    counts, value hashes and scan sums are kept up to date per event, so
    the expected replica after every file costs nothing extra."""

    def __init__(self, tables):
        self.state: dict[str, dict[int, tuple]] = {t.name: {} for t in tables}
        self.hash = {t.name: 0 for t in tables}
        self.sums = {t.name: 0 for t in tables}
        self.sum_at = {t.name: [f for f, _ in t.fields].index(t.sum_col) for t in tables}
        self.dead = Counter({"unparseable": 0, "unsupported_op": 0, "unknown_table": 0})
        self.tombstones = 0

    def _drop(self, table: str, k: int) -> None:
        old = self.state[table].pop(k, None)
        if old is not None:
            self.hash[table] = (self.hash[table] - row_hash(old)) & _MASK
            self.sums[table] -= old[self.sum_at[table]]

    def upsert(self, table: str, k: int, values: tuple, offset: int) -> None:
        self._drop(table, k)
        row = self.state[table][k] = values + (offset,)
        self.hash[table] = (self.hash[table] + row_hash(row)) & _MASK
        self.sums[table] += row[self.sum_at[table]]

    def delete(self, table: str, k: int) -> None:
        self._drop(table, k)

    def digest(self) -> dict:
        return {
            name: {"rows": len(rows), "hash": f"{self.hash[name]:016x}"}
            for name, rows in self.state.items()
        }

    def scans(self) -> dict:
        return {name: {"rows": len(rows), "sum": self.sums[name]} for name, rows in self.state.items()}


class _Stream:
    """Per-(topic, partition) offsets and the records of the open file."""

    def __init__(self):
        self.offsets: Counter = Counter()
        self.partition_of: dict[str, int] = {}
        self.ts = BASE_MS
        self.cols: dict[str, list] = {f: [] for f in WIRE_SCHEMA.names}

    def emit(self, topic: str, key: str, value: str | None) -> int:
        p = self.partition_of.get(key)
        if p is None:
            p = self.partition_of[key] = zlib.crc32(key.encode()) % PARTITIONS
        off = self.offsets[(topic, p)]
        self.offsets[(topic, p)] = off + 1
        c = self.cols
        c["topic"].append(topic)
        c["partition"].append(p)
        c["offset"].append(off)
        c["key"].append(key)
        c["value"].append(value)
        c["timestamp"].append(self.ts * 1000)
        self.ts += 1
        return off

    def flush(self, path: str, mtime: int) -> int:
        n = len(self.cols["offset"])
        tbl = pa.table(
            {
                **{f: self.cols[f] for f in ("topic", "partition", "offset", "key", "value")},
                "timestamp": pa.array(self.cols["timestamp"], pa.int64()).cast(
                    pa.timestamp("us", tz="UTC")
                ),
            },
            schema=WIRE_SCHEMA,
        )
        pq.write_table(tbl, path, compression="snappy")
        os.utime(path, (mtime, mtime))
        self.cols = {f: [] for f in WIRE_SCHEMA.names}
        return n


def _new_values(rng: random.Random, table: Table, k: int, ts: int) -> tuple:
    pks = pk_values(table, k)
    out = list(pks)
    for f, typ in table.fields[len(pks) :]:
        if typ == "string":
            out.append(f"{f[:3]}-{rng.getrandbits(40):010x}")
        elif typ == "double":
            out.append(rng.randrange(100, 10_000_000) / 100)
        elif f.endswith("_ms"):
            out.append(ts)
        else:
            out.append(rng.randrange(1000))
    return tuple(out)


def generate(workload: Workload, seed: int, out_dir: str) -> dict:
    """Write the workload's files and model under ``out_dir``; return the model."""
    rng = random.Random(f"{workload.name}:{seed}")
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir, exist_ok=True)
    model = Model(workload.tables)
    stream = _Stream()
    # Row-image JSON of every live key, the next event's `before`.
    images: dict[str, dict[int, str]] = {t.name: {} for t in workload.tables}
    templates = {t.name: _row_template(t) for t in workload.tables}
    keys: dict[tuple[str, int], str] = {}

    def key_of(t: Table, k: int) -> str:
        key = keys.get((t.name, k))
        if key is None:
            key = keys[t.name, k] = json.dumps(dict(zip(t.pk, pk_values(t, k))))
        return key

    def wrap(value: str) -> str:
        if workload.wrap_share and rng.random() < workload.wrap_share:
            return f'{{"payload": {value}}}'
        return value

    def change(t: Table, k: int, op: str) -> None:
        before = images[t.name].get(k, "null")
        ts = stream.ts
        key = key_of(t, k)
        if op == "d":
            stream.emit(t.topic, key, wrap(_envelope(t.name, "d", before, "null", ts)))
            del images[t.name][k]
            model.delete(t.name, k)
            if workload.tombstones:
                stream.emit(t.topic, key, None)
                model.tombstones += 1
            return
        vals = _new_values(rng, t, k, ts)
        after = templates[t.name] % vals
        off = stream.emit(t.topic, key, wrap(_envelope(t.name, op, before, after, ts)))
        images[t.name][k] = after
        model.upsert(t.name, k, vals, off)

    tables = workload.tables
    sizes: list[int] = []  # records per file
    expected: list[dict] = []  # the replica and read answers after each file

    def close_file(b: int) -> None:
        sizes.append(stream.flush(os.path.join(files_dir, f"{b:06d}.parquet"), MTIME_BASE + b))
        reads = []
        for j in range(workload.reads_per_step):
            t = tables[(b * workload.reads_per_step + j) % len(tables)]
            k = rng.randrange(t.keys)
            expect = model.state[t.name].get(k)
            reads.append(
                {
                    "table": t.name,
                    "pk": list(pk_values(t, k)),
                    "expect": list(expect) if expect else None,
                }
            )
        expected.append(
            {
                "tables": model.digest(),
                "scans": model.scans(),
                "dead_letters": dict(model.dead),
                "point_reads": reads,
            }
        )

    # Initial snapshot: one micro-batch of op='r' records.
    for t in tables:
        for k in range(t.snapshot_keys):
            change(t, k, "r")
    close_file(0)

    weights = list(itertools.accumulate(t.keys for t in tables))
    poison_cut = workload.poison_share
    unsupported_cut = poison_cut + workload.unsupported_share
    unknown_cut = unsupported_cut + workload.unknown_share
    n_batches = workload.warmup_batches + workload.timed_batches
    for b in range(1, n_batches + 1):
        for _ in range(workload.batch_events):
            ti = bisect.bisect_right(weights, rng.randrange(weights[-1]))
            t = tables[ti]
            k = rng.randrange(t.keys)
            r = rng.random()
            if r < poison_cut:
                # A record cut off mid-envelope: the parse yields no op.
                good = _envelope(t.name, "u", "null", "null", stream.ts)
                stream.emit(t.topic, key_of(t, k), good[: rng.randrange(5, 40)])
                model.dead["unparseable"] += 1
            elif r < unsupported_cut:
                # TRUNCATE: parseable, but not an op the replica applies.
                truncate = _envelope(t.name, "t", "null", "null", stream.ts)
                stream.emit(t.topic, key_of(t, k), truncate)
                model.dead["unsupported_op"] += 1
            elif r < unknown_cut:
                name = UNKNOWN_TABLE
                stream.emit(
                    f"{t.topic.rsplit('.', 1)[0]}.{name}",
                    f'{{"id": {k}}}',
                    _envelope(name, "c", "null", f'{{"id": {k}}}', stream.ts),
                )
                model.dead["unknown_table"] += 1
            elif k not in images[t.name]:
                change(t, k, "c")
            elif rng.random() < workload.delete_share:
                change(t, k, "d")
            else:
                change(t, k, "u")
        close_file(b)

    out = {
        "workload": workload.name,
        "seed": seed,
        "records_per_file": sizes,
        "tombstones": model.tombstones,
        "after_file": expected,
    }
    with open(os.path.join(out_dir, "model.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return out
