"""Keyed UPSERT/DELETE sink over any DBAPI connection (Postgres, sqlite, …).

Re-expresses the reference's sink operators W1/W2 — dynamic
``INSERT … ON CONFLICT (pk) DO UPDATE SET col = EXCLUDED.col`` and
PK-scoped ``DELETE`` (Consumer.java:197-232, 234-253) — with the three
semantic details preserved:

- identifiers are lower-cased (Consumer.java:208,210,226,242);
- PK columns are excluded from the UPDATE SET list (Consumer.java:225);
- the degenerate all-PK-columns table upserts as ``DO NOTHING``
  (Consumer.java:228-230).

And the three performance pathologies fixed (BASELINE.md): statements are
built once per batch (not per row), rows go through ``executemany``
batches inside one transaction (not autocommit-per-row), and writes run
per *partition* on the executors — N partitions = N concurrent
connections, vs the reference's single thread.  Idempotence is identical:
replaying a batch converges to the same state, which is what lets the
at-least-once stream guarantee effectively-once sink state.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from mysql_postgres_debezium_cdc_spark.streaming.cdc import state_rows


#: DBAPI paramstyle → placeholder text.  sqlite3 is ``qmark``;
#: psycopg2/pg8000 (Postgres, the reference's actual sink) are
#: ``format``.  Statement TEXT is otherwise identical across dialects —
#: Postgres and sqlite share the ``ON CONFLICT`` grammar the reference
#: emits (Consumer.java:210-211).
_PLACEHOLDERS = {"qmark": "?", "format": "%s"}


def _placeholder(paramstyle: str) -> str:
    try:
        return _PLACEHOLDERS[paramstyle]
    except KeyError:
        raise ValueError(
            f"unsupported paramstyle {paramstyle!r}; known: {sorted(_PLACEHOLDERS)}"
        ) from None


def _ident(name: str) -> str:
    """Lower-cased identifier, validated against injection (the reference
    interpolates identifiers into SQL text; we at least fence them).
    Lower-casing matches Consumer.java:208-210 AND Postgres's own folding
    of unquoted identifiers — emitting unquoted lowercase means the
    statement hits the same table/columns whether the DDL quoted its
    identifiers or not, on Postgres and sqlite alike."""
    low = name.lower()
    if not low.replace("_", "").isalnum():
        raise ValueError(f"unsafe identifier: {name!r}")
    return low


def build_upsert_sql(
    table: str,
    row_cols: Sequence[str],
    pk_cols: Sequence[str],
    paramstyle: str = "qmark",
) -> str:
    """``INSERT … ON CONFLICT (pk) DO UPDATE SET …`` (W1 parity)."""
    ph = _placeholder(paramstyle)
    cols = [_ident(c) for c in row_cols]
    pks = [_ident(c) for c in pk_cols]
    missing = [c for c in pks if c not in cols]
    if missing:
        raise ValueError(f"pk columns {missing} not in row columns {cols}")
    set_cols = [c for c in cols if c not in pks]
    if set_cols:
        action = "DO UPDATE SET " + ", ".join(f"{c} = EXCLUDED.{c}" for c in set_cols)
    else:  # all columns are the key — nothing to update (Consumer.java:228-230)
        action = "DO NOTHING"
    return (
        f"INSERT INTO {_ident(table)} ({', '.join(cols)}) "
        f"VALUES ({', '.join(ph for _ in cols)}) "
        f"ON CONFLICT ({', '.join(pks)}) {action}"
    )


def build_delete_sql(table: str, pk_cols: Sequence[str], paramstyle: str = "qmark") -> str:
    """``DELETE FROM t WHERE pk1 = ? AND pk2 = ?`` (W2 parity;
    multi-column PKs ANDed exactly as Consumer.java:242-244)."""
    ph = _placeholder(paramstyle)
    cond = " AND ".join(f"{_ident(c)} = {ph}" for c in pk_cols)
    return f"DELETE FROM {_ident(table)} WHERE {cond}"


class DbapiKeyedSink:
    """foreachBatch-compatible writer: apply a *compacted* change batch
    (one row per PK, ``_is_delete`` flag) to a keyed SQL table.

    ``connection_factory`` must be picklable (it runs inside executor
    tasks) and return a fresh DBAPI connection — e.g.
    ``functools.partial(sqlite3.connect, path)`` or a psycopg2/pg8000
    connect wrapper.  ``paramstyle`` must match the driver's
    (sqlite3 = "qmark", psycopg2/pg8000 = "format").  ``n_partitions``
    bounds writer concurrency (= max simultaneous connections against
    the target database); at scale this is the knob that keeps a
    1000-task stage from opening 1000 connections.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        pk_cols: Sequence[str],
        row_cols: Sequence[str],
        batch_size: int = 1000,
        n_partitions: int | None = None,
        paramstyle: str = "qmark",
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.pk_cols = list(pk_cols)
        self.row_cols = [c for c in row_cols if c not in self.pk_cols]
        self.insert_cols = self.pk_cols + self.row_cols
        self.batch_size = batch_size
        self.n_partitions = n_partitions
        self.upsert_sql = build_upsert_sql(table, self.insert_cols, pk_cols, paramstyle)
        self.delete_sql = build_delete_sql(table, pk_cols, paramstyle)

    def apply(self, compacted: DataFrame) -> None:
        """Write one compacted micro-batch (``streaming.cdc.compact`` or
        ``change_rows`` output).  Compaction (latest event per PK) must
        have happened upstream, so upsert/delete ordering within the
        batch is immaterial."""
        factory = self.connection_factory
        upsert_sql, delete_sql = self.upsert_sql, self.delete_sql
        n_pk, n_cols, bs = len(self.pk_cols), len(self.insert_cols), self.batch_size

        df = state_rows(compacted, self.pk_cols, self.row_cols)
        if self.n_partitions:
            df = df.repartition(self.n_partitions)

        def write_partition(rows) -> None:
            conn = factory()
            try:
                cur = conn.cursor()
                ups: list[tuple] = []
                dels: list[tuple] = []

                def flush() -> None:
                    if ups:
                        cur.executemany(upsert_sql, ups)
                        ups.clear()
                    if dels:
                        cur.executemany(delete_sql, dels)
                        dels.clear()

                # Change-row order: pk_cols, row_cols, offset, delete flag.
                for r in rows:
                    if r[-1]:
                        dels.append(tuple(r[:n_pk]))
                    else:
                        ups.append(tuple(r[:n_cols]))
                    if len(ups) + len(dels) >= bs:
                        flush()
                flush()
                conn.commit()
            finally:
                conn.close()

        df.foreachPartition(write_partition)


def duckdb_connection_factory(path: str):
    """Picklable DuckDB connection factory for ``DbapiKeyedSink``
    (``duckdb.connect`` itself wraps a PyCapsule and cannot ship to
    executors; this importable wrapper can — use
    ``functools.partial(duckdb_connection_factory, path)``).  DuckDB
    speaks the same Postgres-flavored ``ON CONFLICT … EXCLUDED``
    grammar the reference's sink emits, with paramstyle "qmark".
    DuckDB database files are single-writer: run the sink with
    ``n_partitions=1``."""
    import duckdb

    return duckdb.connect(path)
