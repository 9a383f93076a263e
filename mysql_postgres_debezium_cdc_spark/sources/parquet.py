"""Parquet fixture source (the engine's batch scan operator).

Scale notes (100 TB posture): ``spark.read.parquet`` gives us the
vectorized columnar reader, predicate pushdown and column pruning for
free — every query in this repo selects/filters *before* any shuffle so
Catalyst pushes the scan work into the file source (check with
``plans.explain_str``: look for PushedFilters / ReadSchema).  At cluster
scale the same call reads a partitioned directory tree; nothing here
assumes a single file.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from mysql_postgres_debezium_cdc_spark.registry import register

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# (application id, sf_dir, table, file identity) -> the file-inferred
# StructType.
# r13 (guide §5/§6): every `spark.read.parquet` call pays a driver-side
# footer read for schema inference — ~80 ms warm, ~65 ms more than the
# explicit-schema read, and one build pass of the 35 bench keys makes
# 55 load() calls (~3.6 s of pure re-inference of 10 immutable fixture
# schemas).  The first load of each table still infers from the file;
# later loads pass that SAME schema explicitly — the learned-schema
# device the r12 state sink uses, moved to the batch scan (a real
# deployment gets this from the catalog/metastore, which exists for
# exactly this reason).  Plan metadata only, never row data.  The file
# identity (mtime_ns, size) is part of the key, so a fixture rewritten
# within one process is inferred afresh instead of read with a stale
# schema; the application id scopes entries to one session.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _file_identity(path: str) -> tuple[int, int] | None:
    """(mtime_ns, size) of a local fixture path; None where it cannot be
    stat'ed (a remote URI), which keys on the path alone."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # events.ts has shipped in two fixture generations: parquet
        # TIMESTAMP(NANOS) (which Spark reads only as raw int64 under the
        # nanosAsLong legacy conf) and plain TIMESTAMP(MICROS) (read as
        # TIMESTAMP_NTZ).  Normalize either to session-TZ TimestampType.
        # For the nanos form, integer-divide to micros (`DIV`, not `/` —
        # the double round-trip loses low microsecond bits at 2026-era
        # epoch-nanos magnitudes) — exactly the truncation DuckDB
        # applies, so oracles agree to the micro.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, sf_dir, name, path)
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read(spark, sf_dir, name, path)


def _read(spark: SparkSession, sf_dir: str, name: str, path: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name, _file_identity(path))
    cached = _SCHEMA_CACHE.get(key)
    if cached is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(cached).parquet(path)


# (application id, analyzed-plan semantic hash) -> scan partition count.
# The plan->RDD probe below costs ~100 ms of driver-side physical
# planning per call; the same queries are rebuilt identically on every
# bench rep / sweep pass, so the count is memoized on the ANALYZED
# plan's semantic hash (~2 ms).  Planning metadata only — never row data
# — and scoped to one application (a regenerated fixture in a new
# process never sees a stale entry; within one app the worst case of an
# in-place fixture swap is a suboptimal-but-correct spread decision).
_SPREAD_PROBE_CACHE: dict[tuple[str, int], int] = {}


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin a narrow-partitioned scan across the session's
    parallelism before CPU-heavy per-row work (shingling, JSON
    encode/decode, char-level hashing).

    The fixtures are single-row-group parquet files — unsplittable, so
    every scan starts as ONE partition and anything narrow above it
    would serialize on one core.  On a real many-file corpus the scan
    already has enough partitions and this is a no-op; the partition
    probe costs one plan->RDD conversion on the driver (memoized by
    semantic hash — r12), which the repartition it usually saves
    dwarfs."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    key = (
        spark.sparkContext.applicationId,
        df._jdf.queryExecution().analyzed().semanticHash(),
    )
    n = _SPREAD_PROBE_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SPREAD_PROBE_CACHE[key] = n
    if n < par:
        return df.repartition(par)
    return df


# --- scan/projection smoke queries (S1-analogue for batch) -----------------


@register(
    "scan_project",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    """,
    tags=("scan",),
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: ReadSchema must contain only the 3 columns."""
    return load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")


@register(
    "scan_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_quantity > 45.0 AND l_returnflag = 'R'
    """,
    tags=("scan", "filter"),
)
def scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter lands in PushedFilters (parquet row-group stats skip at scale)."""
    li = load(spark, sf_dir, "lineitem")
    return li.where((li.l_quantity > 45.0) & (li.l_returnflag == "R")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
