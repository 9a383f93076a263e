"""Workload definitions for the closed-loop CDC replica benchmark.

A workload fixes the tables, their key spaces, the snapshot that
bootstraps the replica, the micro-batch size and the event mix.  The
generator (``generate.py``) turns a workload plus a seed into Kafka-wire
files and a last-write-wins reference model; ``run.py`` drives them
through the package's public CDC entry points.  Why each workload exists
and which layers it loads is written next to it and in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

# Debezium logical server / database names (mysql-source.json naming).
SERVER = "dbserver1"
DB = "app"
PARTITIONS = 4  # Kafka partitions per topic; a key stays in one
UNKNOWN_TABLE = "audit_log"  # a source table outside every include list


@dataclass(frozen=True)
class Table:
    """One source table.  ``fields`` are (name, type) in row-image order,
    primary-key columns first; type is ``long``, ``double`` or ``string``.
    Key index ``k`` maps to PK values through :func:`pk_values`."""

    name: str
    pk: tuple[str, ...]
    fields: tuple[tuple[str, str], ...]
    keys: int  # key space the change stream draws from
    snapshot_keys: int  # keys present in the initial snapshot (op='r')
    sum_col: str  # long column the replica scan sums

    @property
    def row_cols(self) -> list[str]:
        return [f for f, _ in self.fields if f not in self.pk]

    @property
    def topic(self) -> str:
        return f"{SERVER}.{DB}.{self.name}"


def pk_values(table: Table, k: int) -> tuple:
    """Deterministic PK tuple for key index ``k``: a long id, a string
    SKU, or a composite (order_id, line_no) pair."""
    types = dict(table.fields)
    if len(table.pk) == 2:
        return (k // 8, k % 8)
    if types[table.pk[0]] == "string":
        return (f"SKU-{k:07d}",)
    return (k,)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    tables: tuple[Table, ...]
    batch_events: int  # change records per timed / warm-up micro-batch
    warmup_batches: int  # counted in setup_s, excluded from commit_* / catchup_*
    timed_batches: int  # the backlog; the timed phase drains what fits in its time
    reads_per_step: int  # point lookups, and as many scans, after each commit
    trace_steps: int  # commits of a traced run, which ignores --seconds
    delete_share: float  # share of events on a present key that delete it
    wrap_share: float  # share of envelopes wrapped in {"payload": ...}
    poison_share: float = 0.0  # unparseable values
    unsupported_share: float = 0.0  # parseable envelopes with op='t'
    unknown_share: float = 0.0  # events of a table outside the include list
    tombstones: bool = False  # a null-value record follows every delete
    config: str = ""  # CdcConfig properties (pk.* / map.* lines)
    single_thread_baseline: bool = False  # traced runs also drain it at local[1]


ACCOUNTS = Table(
    name="accounts",
    pk=("id",),
    fields=(
        ("id", "long"),
        ("owner", "string"),
        ("balance", "double"),
        ("tier", "long"),
        ("updated_ms", "long"),
    ),
    keys=40_000,
    snapshot_keys=40_000,
    sum_col="tier",
)


ROUTER_TABLES = (
    Table(
        name="customers",
        pk=("id",),
        fields=(
            ("id", "long"),
            ("name", "string"),
            ("email", "string"),
            ("created_ms", "long"),
        ),
        keys=2000,
        snapshot_keys=1500,
        sum_col="created_ms",
    ),
    Table(
        name="orders",
        pk=("id",),
        fields=(
            ("id", "long"),
            ("customer_id", "long"),
            ("amount", "double"),
            ("status", "string"),
            ("updated_ms", "long"),
        ),
        keys=2000,
        snapshot_keys=1500,
        sum_col="customer_id",
    ),
    Table(
        name="products",
        pk=("sku",),
        fields=(
            ("sku", "string"),
            ("title", "string"),
            ("price", "double"),
            ("stock", "long"),
        ),
        keys=1000,
        snapshot_keys=800,
        sum_col="stock",
    ),
    Table(
        name="order_items",
        pk=("order_id", "line_no"),
        fields=(
            ("order_id", "long"),
            ("line_no", "long"),
            ("sku", "string"),
            ("qty", "long"),
        ),
        keys=2400,
        snapshot_keys=1600,
        sum_col="qty",
    ),
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="replica_large_state",
            why=(
                "Big state, small uniform batches: the whole-snapshot rewrite in "
                "ParquetStateSink.merge and replica reads dominate (heavy: sink, read, "
                "trigger; light: decode, compact; bypasses the router)."
            ),
            tables=(ACCOUNTS,),
            batch_events=400,
            warmup_batches=2,
            timed_batches=40,
            reads_per_step=2,
            trace_steps=6,
            delete_share=0.05,
            wrap_share=0.0,
            single_thread_baseline=True,
        ),
        Workload(
            name="router_multi_table",
            why=(
                "One stream, four tables (one composite PK), tombstones, poison and "
                "unknown-table records: each slice re-decodes the batch (heavy: router, "
                "decode, compact, driver, dead letters; light: trigger)."
            ),
            tables=ROUTER_TABLES,
            batch_events=800,
            warmup_batches=1,
            timed_batches=20,
            reads_per_step=3,
            trace_steps=4,
            delete_share=0.05,
            wrap_share=0.1,
            poison_share=0.005,
            unsupported_share=0.002,
            unknown_share=0.01,
            tombstones=True,
            config=(
                "pk.customers=id\n"
                "pk.orders=id\n"
                "pk.products=sku\n"
                "pk.order_items=order_id,line_no\n"
                "map.customers=customers_replica\n"
            ),
        ),
    )
}
