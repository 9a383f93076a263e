"""Debezium change-event envelope: schema, decode expressions, routing.

Re-expresses the reference consumer's parse/route stages as pure
Catalyst column expressions (no per-row Java/Python):

- envelope parse + ``payload`` unwrap  → reference Consumer.java:138-149
- op/before/after/source extraction    → Consumer.java:142-149
- topic → table fallback               → Consumer.java:191-195
- table routing (``map.*``) + PK resolution (``pk.*``) with the same
  db.table → table → default precedence → Consumer.java:155-172,
  config format consumer/src/main/resources/config.properties:15-20
- dynamic per-token typing → here explicit per-table StructType with a
  MapType<string,string> fallback for schema drift (SURVEY §1.3)

Wire-format fidelity (SURVEY §1.3): timestamps arrive as epoch-millis
int64 (time.precision.mode=connect, connectors/mysql-source.json:26) →
``timestamp_millis``; decimals as JSON double
(decimal.handling.mode=double, mysql-source.json:25) → DoubleType.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

DEFAULT_PK = ("id",)  # reference default, Consumer.java:171


def quote_ident(name: str) -> str:
    """Backtick-quote one identifier for a Spark SQL string, so that a
    column such as ``kafka-partition`` or ``table`` parses as one name
    under any parser conf."""
    return "`" + name.replace("`", "``") + "`"

SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
    ]
)


def envelope_schema(row_schema: T.DataType) -> T.StructType:
    """Debezium 2.x envelope StructType for a given row-image schema.

    ``row_schema`` may be a concrete StructType (preferred) or
    ``MapType(String, String)`` for schema-drift tolerance."""
    return T.StructType(
        [
            T.StructField("before", row_schema),
            T.StructField("after", row_schema),
            T.StructField("source", SOURCE_SCHEMA),
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )


def decode_envelope(
    df: DataFrame,
    row_schema: T.DataType,
    value_col: str = "value",
    topic_col: str | None = "topic",
) -> DataFrame:
    """Kafka-shaped records → typed change events.

    Input: ``value_col`` (JSON string; may be ``{"payload": {...}}``-
    wrapped or bare — both occur, Consumer.java:139-140), optional
    ``topic_col`` for the table-name fallback, and any passthrough
    columns (``offset`` etc.), which are preserved.

    Output adds: op, before, after, src_db, src_table, ts_ms, _error
    (non-null for malformed/unparseable records — the per-record error
    isolation of Consumer.java:186-188 as a dead-letter column instead
    of a log line).
    """
    # One parse per row against one schema: the root envelope fields
    # plus ``payload`` holding the same fields (a JsonConverter
    # schemas-enabled record).  Each output field comes from ``payload``
    # when it parsed to a struct, else from the root, so a bare envelope,
    # ``"payload": null`` and ``"payload": "str"`` all read the root.
    # The decode tree ships as one SQL string (one py4j round trip, not
    # one per operator); the row schema rides as its DDL `simpleString`.
    # Rows equal the two-parse form it replaced (3be9efc); re-prove with
    # `scripts/ab.py 3be9efc cdc_lastwrite_materialize cdc_offset_range_diff`.
    env = envelope_schema(row_schema)
    sch = T.StructType([*env.fields, T.StructField("payload", env)]).simpleString()
    value = quote_ident(value_col)

    def field(path: str) -> str:
        return f"IF(_env.payload IS NULL, _env.{path}, _env.payload.{path})"

    # The topic's last dot-separated segment, with no escape in the
    # literal (a '\\.' regex inverts under escapedStringLiterals).
    topic_table = (
        f"substring_index({quote_ident(topic_col)}, '.', -1)"
        if topic_col and topic_col in df.columns
        else "CAST(NULL AS STRING)"
    )
    # The parse is the output of a one-row generator, not a projected
    # column: consumers filter on op/_error, and Catalyst pushes such a
    # filter through a Project by inlining the parse into every
    # reference, each pruned to its own schema so none is shared (13
    # parses a row in cdc_lastwrite_materialize).  No predicate on a
    # generator's output is pushed below it, so each record parses once.
    parsed = f"explode(array(from_json({value}, '{sch}'))) AS _env"
    out = df.selectExpr("*", parsed).selectExpr(
        "*",
        f"{field('op')} AS op",
        f"{field('before')} AS before",
        f"{field('after')} AS after",
        f"{field('source.db')} AS src_db",
        f"COALESCE({field('source.table')}, {topic_table}) AS src_table",
        f"{field('ts_ms')} AS ts_ms",
    )
    # Tombstones (null/blank value, Consumer.java:133-136) are not errors;
    # anything else that yields no op is a poison record.  A PARSEABLE
    # envelope with an op outside {c,r,u,d} (Debezium also emits 't' for
    # TRUNCATE and 'm' for logical messages on some connectors) is ALSO
    # dead-lettered: with_change_columns filters to the supported ops,
    # and an op that neither materializes nor surfaces anywhere would be
    # silent data loss — the poison-record channel is exactly where an
    # operator should see "this stream contains operations I don't
    # apply".  The reference's switch DOES have a default case: it logs
    # "Unknown op" at WARN and skips the record (Consumer.java:183-184);
    # surfacing the record as a queryable dead-letter ROW instead of a
    # log line is this framework's strengthening of that contract.
    is_tombstone = f"(({value} IS NULL) OR (TRIM({value}) = ''))"
    return (
        out.selectExpr("*", f"{is_tombstone} AS _tombstone")
        .selectExpr(
            "*",
            f"CASE WHEN ((NOT {is_tombstone}) AND (op IS NULL)) THEN"
            f" CONCAT('unparseable envelope: ', SUBSTRING({value}, 1, 120))"
            f" WHEN ((NOT {is_tombstone}) AND"
            f" (NOT (op IN ('c', 'r', 'u', 'd')))) THEN"
            " CONCAT('unsupported op: ', op) END AS _error",
        )
        .drop("_env")
    )


def encode_envelope(
    changes: DataFrame,
    db: str,
    table: str,
    pk_cols: tuple[str, ...] | list[str] = DEFAULT_PK,
    topic_prefix: str = "dbserver1",
    wrap: bool = False,
) -> DataFrame:
    """Typed change events → Kafka-producer-shaped records — the EGRESS
    twin of :func:`decode_envelope` (outbox/re-publish: a Spark job that
    MAINTAINS a replica can also re-emit its changelog downstream).

    Input columns: ``op`` (c/r/u/d), ``before``/``after`` (row structs,
    null per Debezium op semantics), ``ts_ms``.  Output: ``key`` (JSON
    of the PK fields, Debezium's partitioning key — equal keys land in
    one Kafka partition, preserving per-key order exactly as the
    reference relies on), ``value`` (Debezium 2.x JSON envelope;
    ``wrap=True`` adds the schemas-enabled ``{"payload": ...}`` shell),
    ``topic`` (``<prefix>.<db>.<table>``, mysql-source.json:7 naming).

    ``ignoreNullFields=false`` keeps explicit ``"before": null`` on the
    wire like Debezium's JsonConverter; either way the decoder treats
    absent and null identically, which the roundtrip query certifies.

    Narrow, JVM-side (`to_json` only): encodes at scan speed; the only
    future shuffle is Kafka's own key partitioning on write."""
    key_src = F.struct(
        *[
            F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
            for c in pk_cols
        ]
    )
    source = F.struct(
        F.lit(db).alias("db"), F.lit(table).alias("table"), F.col("ts_ms").alias("ts_ms")
    )
    env = F.struct(
        F.col("before"),
        F.col("after"),
        source.alias("source"),
        F.col("op"),
        F.col("ts_ms"),
    )
    body = F.struct(env.alias("payload")) if wrap else env
    opts = {"ignoreNullFields": "false"}
    return changes.select(
        F.to_json(key_src, opts).alias("key"),
        F.to_json(body, opts).alias("value"),
        F.lit(f"{topic_prefix}.{db}.{table}").alias("topic"),
    )


def kafka_sink_options(bootstrap: str, checkpoint_dir: str) -> dict[str, str]:
    """writeStream.format('kafka') options for the egress path; the
    frame supplies per-row ``topic``/``key``/``value`` columns (the
    Kafka sink's column contract), so no static topic option is set."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "checkpointLocation": checkpoint_dir,
    }


@dataclass(frozen=True)
class CdcConfig:
    """Routing registry mirroring the reference's config.properties.

    ``pk``  : {"db.table" | "table": (pk cols…)}   (pk.* lines)
    ``table_map``: {"db.table" | "table": target}  (map.* lines)
    Resolution precedence db.table → table → default, Consumer.java:155-172.
    """

    pk: dict[str, tuple[str, ...]] = field(default_factory=dict)
    table_map: dict[str, str] = field(default_factory=dict)

    def resolve_pk(self, db: str | None, table: str) -> tuple[str, ...]:
        if db and f"{db}.{table}" in self.pk:
            return self.pk[f"{db}.{table}"]
        return self.pk.get(table, DEFAULT_PK)

    def resolve_target(self, db: str | None, table: str) -> str:
        if db and f"{db}.{table}" in self.table_map:
            return self.table_map[f"{db}.{table}"]
        return self.table_map.get(table, table.lower())

    @classmethod
    def from_properties(cls, text: str) -> "CdcConfig":
        """Parse the reference's config.properties format (pk.*/map.* keys,
        comma-separated multi-column PKs — Consumer.java:77-91)."""
        pk: dict[str, tuple[str, ...]] = {}
        table_map: dict[str, str] = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            key, _, val = line.partition("=")
            key, val = key.strip(), val.strip()
            if key.startswith("pk."):
                pk[key[3:]] = tuple(c.strip() for c in val.split(",") if c.strip())
            elif key.startswith("map."):
                table_map[key[4:]] = val
        return cls(pk=pk, table_map=table_map)


#: The schema Spark's Kafka source emits at runtime (spark-sql-kafka's
#: fixed output columns).  Tests project a static frame with THIS schema
#: through `project_kafka_frame` so the projection/cast plumbing is
#: value-checked even when no broker (or connector jar) is present —
#: the only untested piece is then the socket itself.
KAFKA_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("topic", T.StringType()),
        T.StructField("partition", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("timestampType", T.IntegerType()),
    ]
)


def kafka_reader_options(
    bootstrap_servers: str,
    subscribe_pattern: str,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """Reader options for the reference's S1 source, as data.

    Mirrors the reference consumer's subscription: regex multi-topic
    (topic.regex, config.properties:6), offsets from earliest
    (auto.offset.reset, Consumer.java:111), and no fail-on-data-loss —
    the reference's at-least-once + idempotent-sink stance tolerates
    retention-expired offsets (Consumer.java:210-211 makes replays
    converge)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribePattern": subscribe_pattern,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",
    }


def project_kafka_frame(df: DataFrame) -> DataFrame:
    """Project the raw Kafka frame to (topic, partition, offset, key,
    value, timestamp) with key/value cast binary → string (Debezium
    JSON envelopes are UTF-8 text), ready for ``decode_envelope``."""
    return df.select(
        "topic",
        "partition",
        "offset",
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "timestamp",
    )


def kafka_cdc_source(
    spark,
    bootstrap_servers: str,
    subscribe_pattern: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The reference's S1 source: regex multi-topic Kafka subscription
    (topic.regex in config.properties:6) as a Structured Streaming scan.

    Options and projection are split into `kafka_reader_options` /
    `project_kafka_frame` so both are unit-tested without a broker
    (tests/test_kafka_source.py); a live integration test runs when
    ``SPARK_KAFKA_BOOTSTRAP`` is set.  The decode/compact/merge path
    downstream is identical for file- and memory-fed streams, which are
    tested end-to-end.
    """
    return project_kafka_frame(
        spark.readStream.format("kafka")
        .options(**kafka_reader_options(bootstrap_servers, subscribe_pattern, starting_offsets))
        .load()
    )


def epoch_millis_to_ts(col: Column) -> Column:
    """Debezium connect-mode temporal decode (SURVEY §1.3)."""
    return F.timestamp_millis(col)
