"""Central query registry.

Every operator in the engine registers itself here as a named query:
``fn(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables.  The driver harness
(``__spark_entry__.py``) exposes this registry; tests iterate it.

Determinism rules every registered query must follow (SURVEY.md §5.2):

- Alias every computed column identically in Spark and oracle SQL — the
  driver sorts columns by name before value-hashing.
- Every LIMIT / top-k has a total ORDER BY (unique tie-break key), else the
  two engines may legitimately pick different ties.
- Float aggregates are rounded (default 2dp) in BOTH engines; double
  summation order differs between engines so raw sums are not hash-stable.
- Timestamps in output are cast to DATE or epoch BIGINT; session timezone
  is pinned to UTC by ``ensure_session_confs``.

Cache contract: a few queries ``persist()`` a relation that feeds two
branches of the RETURNED plan (`text_vocab_head_coverage`,
`text_source_divergence`, `events_sessionize_gap_chunked`,
`text_tfidf_topk`, `cluster_kmeans_embeddings`, the rank-statistic
family via `_banded_rank_cums`, `events_experiment_winsorized`'s
per-user relation, `rag_bm25_topk`'s 1-row corpus stats, and
`events_funnel_time_to_convert`'s
converted cohort) — the cache populates
when the caller executes the plan and cannot be released from inside the
builder.  A long-lived session sweeping many queries should call
``spark.catalog.clearCache()`` between queries (``scripts/sweep_parity.py``
and ``bench.py`` do; a one-shot driver invocation doesn't need to).  The
ITERATIVE builders (BPE trainer, IVM loop) are exempt: they materialize
eagerly and release superseded generations themselves
(tests/test_iterative_memory.py).

Ulp exposure: every ROUNDED transcendental output (LN/SQRT/EXP/LOG
trees, ~56 keys) relies on cross-engine libm agreement at the final
rounding boundary; the authoritative key list and the per-column remedy
live in PLANS.md ("The ulp-exposure ledger", r12) — a future last-digit
hash flake on one of those keys is a lookup there, not an investigation.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False

# The driver's correctness harness checks queries in registry order and caps
# the sweep at the first 50 keys.  The prefix is ROTATED each round so the
# union of driver rounds certifies the whole registry.  After round 8 the
# union covers ALL registered keys with zero red latest rows; the remaining
# program is REFRESH — no key's green driver row should predate its current
# code.
#
# Current prefix, mechanically derived by `scripts/drift_audit.py` after
# the one-parse envelope decode and the shared stream-twin driver (the
# round-13 prefix is in git history):
#   1. Tier 2: the 26 keys drifted past their last green row — the CDC
#      family (decode_envelope now parses once), the three stream twins
#      (one fold driver), and the r13 expression-string rewrites the r13
#      driver rows predate.  Every one was value-checked against its
#      unchanged DuckDB oracle (`scripts/sweep_parity.py`) — this queue
#      is the driver-row refresh, not suspicion.
#   2. Tier 3: remaining slots fill with the oldest-standing green certs
#      (r5/r6 vintage), the audit's proxy for helper drift its closure
#      analysis cannot see.
# Every key also passes the identical in-repo comparison
# (tests/test_oracle_parity.py), which sweeps all registered keys every
# round regardless of prefix.
_PRIORITY: tuple[str, ...] = (
    "stream_incremental_dedup",  # tier 2: drifted (last green r12)
    "ann_ivf_recall_eval",  # tier 2: drifted (last green r13)
    "ann_ivf_topk",  # tier 2: drifted (last green r13)
    "cdc_composite_pk_materialize",  # tier 2: drifted (last green r13)
    "cdc_deadletter_isolation",  # tier 2: drifted (last green r13)
    "cdc_envelope_decode",  # tier 2: drifted (last green r13)
    "cdc_envelope_encode_roundtrip",  # tier 2: drifted (last green r13)
    "cdc_incremental_agg_maintenance",  # tier 2: drifted (last green r13)
    "cdc_incremental_convergence",  # tier 2: drifted (last green r13)
    "cdc_lastwrite_materialize",  # tier 2: drifted (last green r13)
    "cdc_offset_range_diff",  # tier 2: drifted (last green r13)
    "cdc_scd2_history",  # tier 2: drifted (last green r13)
    "cdc_scd2_point_in_time_join",  # tier 2: drifted (last green r13)
    "cdc_schema_drift_decode",  # tier 2: drifted (last green r13)
    "dedup_media_clusters",  # tier 2: drifted (last green r13)
    "dedup_media_incremental",  # tier 2: drifted (last green r13)
    "dedup_media_lsh",  # tier 2: drifted (last green r13)
    "dedup_media_lsh_persisted",  # tier 2: drifted (last green r13)
    "events_experiment_report",  # tier 2: drifted (last green r13)
    "events_experiment_winsorized",  # tier 2: drifted (last green r13)
    "events_funnel_time_to_convert",  # tier 2: drifted (last green r13)
    "stats_ks_test",  # tier 2: drifted (last green r13)
    "stats_mann_whitney_u",  # tier 2: drifted (last green r13)
    "stream_experiment_snapshot",  # tier 2: drifted (last green r13)
    "stream_srm_monitor",  # tier 2: drifted (last green r13)
    "join_interval_overlap",  # tier 2: its closure holds _PRIORITY, so any re-splice drifts it
    "text_source_divergence",  # tier 3: oldest-standing cert (r5)
    "text_vocab_head_coverage",  # tier 3: oldest-standing cert (r5)
    "udf_map_in_arrow",  # tier 3: oldest-standing cert (r5)
    "agg_bitmap_exact_distinct",  # tier 3: oldest-standing cert (r6)
    "agg_bool_and_or",  # tier 3: oldest-standing cert (r6)
    "agg_skew_profile",  # tier 3: oldest-standing cert (r6)
    "agg_string_concat_ordered",  # tier 3: oldest-standing cert (r6)
    "corpus_chunk_documents",  # tier 3: oldest-standing cert (r6)
    "corpus_length_bucketed_batches",  # tier 3: oldest-standing cert (r6)
    "corpus_span_corruption_plan",  # tier 3: oldest-standing cert (r6)
    "dedup_boilerplate_lines",  # tier 3: oldest-standing cert (r6)
    "dedup_boilerplate_removal",  # tier 3: oldest-standing cert (r6)
    "dq_null_profile",  # tier 3: oldest-standing cert (r6)
    "events_anomaly_mad",  # tier 3: oldest-standing cert (r6)
    "events_cumulative_unique_users",  # tier 3: oldest-standing cert (r6)
    "events_multi_granularity_rollup",  # tier 3: oldest-standing cert (r6)
    "events_seasonal_anomaly_hours",  # tier 3: oldest-standing cert (r6)
    "events_seasonal_naive_eval",  # tier 3: oldest-standing cert (r6)
    "fn_string_collation",  # tier 3: oldest-standing cert (r6)
    "fn_url_parse",  # tier 3: oldest-standing cert (r6)
    "fn_xml_parse",  # tier 3: oldest-standing cert (r6)
    "graph_pagerank_trade",  # tier 3: oldest-standing cert (r6)
    "join_asof_tolerance",  # tier 3: oldest-standing cert (r6)
    "join_cross",  # tier 3: oldest-standing cert (r6)
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the session confs correctness depends on.

    The driver hands us its own SparkSession; timezone and ANSI behavior
    must not depend on its defaults.  These are runtime-settable confs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
            # Extra args pass through for operators with tuning levers
            # (e.g. cardinality guards); the driver always calls (spark,
            # sf_dir) so registered defaults govern oracle comparisons.
            ensure_session_confs(spark)
            return fn(spark, sf_dir, *args, **kwargs)

        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, wrapped, oracle, tuple(tags), bench)
        return wrapped

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imports are side-effecting: each module registers its queries.
    from mysql_postgres_debezium_cdc_spark import functions, llm, operators, plans, sources, streaming  # noqa: F401

    _LOADED = True


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    rank = {name: i for i, name in enumerate(_PRIORITY)}
    order = {name: i for i, name in enumerate(_REGISTRY)}
    names = sorted(_REGISTRY, key=lambda n: (rank.get(n, len(rank)), order[n]))
    return {name: _REGISTRY[name] for name in names}


def query_fns() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_map() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_queries().items() if spec.oracle is not None
    }


def bench_queries() -> dict[str, QuerySpec]:
    return {name: spec for name, spec in all_queries().items() if spec.bench}
