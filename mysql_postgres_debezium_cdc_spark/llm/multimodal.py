"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so the *decode* step is a
clearly-marked stub (``decode_media`` raises NotImplementedError unless
the deterministic fake is requested).  Everything around it — binary
columns, schema, Arrow batch shape, ``mapInPandas`` partition-parallel
feature extraction — is real and tested, so swapping in PIL/ffmpeg on a
real cluster touches ONE function.

Scale: media blobs ride in parquet binary columns; feature extraction is
a narrow mapInPandas (no shuffle), so throughput scales linearly with
executors and Arrow batch size bounds memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.parquet import load

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table: text payloads as opaque binary columns.

    Stands in for image/audio bytes; the engine treats payloads as
    opaque either way (SURVEY north star: binary + typed metadata).
    NULL-text rows are dropped — a media ingest has no row without a
    payload, and a None payload crashed every downstream Python worker
    on the null-sweep fixture (oracles mirror the filter)."""
    d = load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("n_bytes"),
    )


def decode_media(payload: bytes, media_type: str, fake: bool = False) -> list[float]:
    """Decode a media payload into a feature vector.

    STUB: real decoding (PIL/librosa/ffmpeg) is unavailable in this
    container.  ``fake=True`` returns a deterministic byte-histogram
    feature (real math over real bytes, stable across runs) so the
    pipeline shape is fully testable."""
    if not fake:
        raise NotImplementedError(
            "media codecs not installed; pass fake=True for the deterministic "
            "byte-histogram featurizer"
        )
    buckets = [0] * FEATURE_DIM
    for b in payload:
        buckets[b % FEATURE_DIM] += 1
    total = max(len(payload), 1)
    # Fixed-point parts-per-million ratios: INTEGER math only, so the
    # values are portable bit-for-bit to the SQL oracle (float rounding
    # of c/total ties differently between Python's banker's rounding and
    # SQL ROUND-half-away — e.g. any 128-byte payload).
    return [float(c * 1_000_000 // total) for c in buckets]


def extract_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Partition-parallel feature extraction via mapInPandas (Arrow)."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(p, m, fake=fake)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           MD5(text) AS payload_md5
    FROM documents WHERE text IS NOT NULL
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal"),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads (md5 proves the bytes
    round-tripped through the binary column identically)."""
    m = media_table(spark, sf_dir)
    return m.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.md5(F.col("payload")).alias("payload_md5"),
    ).orderBy("doc_id")


@register(
    "multimodal_fake_features",
    # The featurizer runs through mapInPandas (Python, not SQL), but its
    # math is deterministic integer arithmetic over the payload bytes —
    # so the oracle reconstructs the actual UTF-8 byte stream from the
    # code points (1-4 bytes per char, the RFC 3629 encoding spelled out
    # as integer arithmetic) and recomputes the residues per BYTE.  The
    # unicode-fixture sweep caught the previous per-CHARACTER
    # formulation, which coincides with bytes only on ASCII corpora.
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
             FLATTEN([
               CASE
                 WHEN c < 128 THEN [c % 8]
                 WHEN c < 2048 THEN
                   [(192 + c // 64) % 8, (128 + c % 64) % 8]
                 WHEN c < 65536 THEN
                   [(224 + c // 4096) % 8, (128 + (c // 64) % 64) % 8,
                    (128 + c % 64) % 8]
                 ELSE
                   [(240 + c // 262144) % 8, (128 + (c // 4096) % 64) % 8,
                    (128 + (c // 64) % 64) % 8, (128 + c % 64) % 8]
               END
               FOR c IN [UNICODE(text[i]) FOR i IN RANGE(1, LEN(text) + 1)]
             ]) AS residues
      FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id, n_bytes,
           CAST(LEN(LIST_FILTER(residues, r -> r = 0)) * 1000000
                // GREATEST(n_bytes, 1) AS DOUBLE) AS f0,
           CAST(LEN(LIST_FILTER(residues, r -> r = 1)) * 1000000
                // GREATEST(n_bytes, 1) AS DOUBLE) AS f1
    FROM b ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "mapinpandas"),
)
def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic featurization of binary payloads via mapInPandas."""
    feats = extract_features(media_table(spark, sf_dir), fake=True)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.element_at("features", 1).alias("f0"),
        F.element_at("features", 2).alias("f1"),
    ).orderBy("doc_id")


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(df: DataFrame, frame_bytes: int = 64, every_nth: int = 4) -> DataFrame:
    """Frame sampling over opaque payloads via mapInPandas: emit every
    ``every_nth`` fixed-width chunk ("frame") with its offset.

    For real video this is where ffmpeg seek+decode goes; the chunking
    stand-in keeps the exact Spark shape — one input row fans out to
    0..n output rows inside the Arrow batch, no shuffle, no collect."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_no": [], "frame_offset": [], "frame": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                for frame_no, off in enumerate(
                    range(0, len(data), frame_bytes * every_nth)
                ):
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(frame_no)
                    out["frame_offset"].append(off)
                    out["frame"].append(data[off : off + frame_bytes])
            yield pd.DataFrame(out)

    return df.mapInPandas(run, FRAME_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("orig_bytes", T.LongType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_media(df: DataFrame, factor: int = 4) -> DataFrame:
    """Resize/downsample stand-in over opaque payloads via mapInPandas:
    keep every ``factor``-th byte (deterministic decimation).

    For real images this is where PIL's resize goes — same Spark shape
    either way: a narrow Arrow-batched pass, one output row per input
    row, payload column rewritten in place, no shuffle.  Downstream
    stages (feature extraction, frame sampling) compose unchanged on
    the smaller payloads."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            resized = [bytes(bytes(p)[::factor]) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "orig_bytes": pdf["n_bytes"],
                    "resized_bytes": [len(r) for r in resized],
                    "payload": resized,
                }
            )

    return df.mapInPandas(run, RESIZED_SCHEMA)


FRAME_BYTES = 64
FRAME_EVERY_NTH = 4

# Shared CTE: the UTF-8 byte stream reconstructed as a list of integer
# byte VALUES (RFC 3629 spelled out as arithmetic — the same device
# multimodal_fake_features proved out, minus its %8 residue fold).  This
# is what lets the frame/resize oracles certify BYTE content on any
# text: this DuckDB build has no md5(BLOB)/substring(BLOB), and the old
# md5-of-characters formulation was only valid on ASCII corpora (the
# unicode-sweep finding).
_UTF8_BYTES_CTE = """
    b AS (
      SELECT doc_id,
             FLATTEN([
               CASE
                 WHEN c < 128 THEN [c]
                 WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
                 WHEN c < 65536 THEN
                   [224 + c // 4096, 128 + (c // 64) % 64, 128 + c % 64]
                 ELSE
                   [240 + c // 262144, 128 + (c // 4096) % 64,
                    128 + (c // 64) % 64, 128 + c % 64]
               END
               FOR c IN [UNICODE(text[i]) FOR i IN RANGE(1, LEN(text) + 1)]
             ]) AS bs,
             CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n
      FROM documents WHERE text IS NOT NULL
    )
"""


def _byte_fact_udfs():
    """Arrow-batched byte-fact UDFs, built lazily PER CALL: a module-level
    ``@pandas_udf`` would re-register itself during executor-side module
    import (every mapInPandas worker re-imports this package) and crash
    the worker.  Returns (byte_sum, byte_weighted_sum); the weighted sum
    Σ (1-based position × byte value) pins byte ORDER, so two frames
    with equal sums but swapped bytes cannot collide."""

    def byte_sum(payload):
        return payload.map(lambda b: 0 if b is None else int(sum(b)))

    def byte_weighted_sum(payload):
        return payload.map(
            lambda b: 0
            if b is None
            else int(sum((i + 1) * v for i, v in enumerate(b)))
        )

    return (
        F.pandas_udf(byte_sum, "bigint"),
        F.pandas_udf(byte_weighted_sum, "bigint"),
    )


@register(
    "multimodal_frame_sample",
    # The fan-out runs through mapInPandas (Python, not SQL), but the
    # frame geometry and the certified facts are pure integer arithmetic
    # over the payload BYTES: the oracle reconstructs the UTF-8 byte
    # stream (works on ANY text — the md5-of-characters predecessor was
    # ASCII-only), regenerates the offsets with RANGE over the byte
    # length, and value-checks each frame's length, byte sum, and
    # position-weighted byte sum — geometry AND content.
    oracle=f"""
    WITH {_UTF8_BYTES_CTE},
    offs AS (
      SELECT doc_id, bs,
             UNNEST(RANGE(0, n, {FRAME_BYTES * FRAME_EVERY_NTH}))
               AS frame_offset
      FROM b
    ),
    fr AS (
      SELECT doc_id, frame_offset,
             LIST_SLICE(bs, CAST(frame_offset AS INT) + 1,
                        CAST(frame_offset AS INT) + {FRAME_BYTES}) AS f
      FROM offs
    )
    SELECT doc_id,
           CAST(frame_offset // {FRAME_BYTES * FRAME_EVERY_NTH} AS INT)
             AS frame_no,
           CAST(frame_offset AS BIGINT) AS frame_offset,
           CAST(LEN(f) AS BIGINT) AS frame_len,
           CAST(LIST_SUM(f) AS BIGINT) AS frame_sum,
           CAST(LIST_SUM([f[i] * i FOR i IN RANGE(1, LEN(f) + 1)]) AS BIGINT)
             AS frame_wsum
    FROM fr
    ORDER BY doc_id, frame_no
    """,
    tags=("llm", "multimodal", "mapinpandas"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media payloads, driver-certified: one
    payload row fans out to 0..n fixed-width frames (every {FRAME_EVERY_NTH}th
    {FRAME_BYTES}-byte chunk with its offset) inside the Arrow batch via
    ``sample_frames`` — the exact Spark shape real video frame
    extraction uses (ffmpeg seek+decode replaces the chunker; schema,
    fan-out, and partitioning are unchanged).

    Scale shape: narrow mapInPandas — no shuffle, no collect; output
    cardinality is bytes/stride per doc, and Arrow batch size bounds
    executor memory however large a single payload is relative to the
    batch.  Frames leave as integer byte facts (length / sum /
    position-weighted sum) so the value check pins CONTENT, not just
    geometry — and, unlike the md5 predecessor, stays oracle-checkable
    on non-ASCII corpora."""
    frames = sample_frames(
        media_table(spark, sf_dir), frame_bytes=FRAME_BYTES, every_nth=FRAME_EVERY_NTH
    )
    byte_sum, byte_wsum = _byte_fact_udfs()
    return frames.select(
        "doc_id",
        "frame_no",
        "frame_offset",
        F.length("frame").cast("bigint").alias("frame_len"),
        byte_sum("frame").alias("frame_sum"),
        byte_wsum("frame").alias("frame_wsum"),
    ).orderBy("doc_id", "frame_no")


RESIZE_FACTOR = 4


@register(
    "multimodal_resize_decimate",
    # The decimator keeps every 4th BYTE of the UTF-8 payload — on
    # multibyte text that slices through codepoints, so no string
    # function can express the result; the oracle decimates the
    # reconstructed byte list directly and certifies size + byte sum +
    # position-weighted byte sum (the md5-of-characters predecessor was
    # only valid on ASCII corpora).
    oracle=f"""
    WITH {_UTF8_BYTES_CTE},
    d AS (
      SELECT doc_id, n,
             [bs[i] FOR i IN RANGE(1, CAST(n AS INT) + 1, {RESIZE_FACTOR})]
               AS r
      FROM b
    )
    SELECT doc_id,
           n AS orig_bytes,
           CAST(LEN(r) AS BIGINT) AS resized_bytes,
           CAST(COALESCE(LIST_SUM(r), 0) AS BIGINT) AS resized_sum,
           CAST(COALESCE(LIST_SUM([r[i] * i FOR i IN RANGE(1, LEN(r) + 1)]),
                         0) AS BIGINT) AS resized_wsum
    FROM d
    ORDER BY doc_id
    """,
    tags=("llm", "multimodal", "mapinpandas"),
)
def multimodal_resize_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample stand-in over opaque payloads, driver-certified:
    ``resize_media`` keeps every {RESIZE_FACTOR}th byte per payload
    (PIL's resize drops in for the decimator on a real cluster — same
    one-row-per-row Arrow pass, payload rewritten in place, no
    shuffle).  Output pins the size arithmetic plus integer byte facts
    (sum and position-weighted sum) of the decimated bytes, so the
    value check certifies the rewrite content on ANY text, non-ASCII
    included.  Composability is the point: the decimated payload feeds
    [[multimodal_frame_sample]] and the featurizer unchanged."""
    resized = resize_media(media_table(spark, sf_dir), factor=RESIZE_FACTOR)
    byte_sum, byte_wsum = _byte_fact_udfs()
    return resized.select(
        "doc_id",
        "orig_bytes",
        "resized_bytes",
        byte_sum("payload").alias("resized_sum"),
        byte_wsum("payload").alias("resized_wsum"),
    ).orderBy("doc_id")


# Perceptual near-dup over media payloads: grid-LSH on the byte-histogram
# features.  Tuned on the fixtures (PLANS.md r8): grid 8000 ppm with two
# offset grids per band recovers 11/11 true pairs at sf0.01 and 133/138
# at sf0.1 with ~4 candidates/doc; the cosine threshold 0.9999 reflects
# how concentrated byte histograms are (median RANDOM pair cosine is
# ~0.985 on this corpus — a loose threshold would call everything a dup).
MEDIA_LSH_GRID = 8000
MEDIA_LSH_THRESHOLD = 0.9999
MEDIA_LSH_THRESH_SQ_E8 = 99980001  # round(0.9999**2 * 1e8), exact
MEDIA_LSH_BUCKET_WIDTH = 64


def _media_feature_sql() -> str:
    """DuckDB CTE body computing the 8-dim byte-histogram ppm feature
    as a BIGINT list — byte-exact mirror of ``decode_media(fake=True)``
    over the RFC 3629 reconstructed byte stream.  Returns a CTE CHAIN
    (no leading WITH) so callers can prepend WITH or WITH RECURSIVE."""
    return f"""
    {_UTF8_BYTES_CTE},
    f AS (
      SELECT doc_id,
             [CAST(LEN(LIST_FILTER(bs, v -> v % 8 = k)) * 1000000
                   // GREATEST(n, 1) AS BIGINT)
              FOR k IN RANGE(8)] AS f
      FROM b
    )"""


def _media_pairs_ctes() -> str:
    """The full near-dup pair pipeline as a composable CTE chain ending
    in ``media_pairs`` (doc_a, doc_b, dot, na, nb — verdict applied):
    the exact SQL the certified dedup_media_lsh oracle runs, shared so
    composed oracles (clusters) cannot drift from the pair oracle."""
    return f"""
    {_media_feature_sql()},
    keyed AS (
      SELECT doc_id,
             CONCAT_WS(',', band, off,
               (f[band * 4 + 1] + off) // {MEDIA_LSH_GRID},
               (f[band * 4 + 2] + off) // {MEDIA_LSH_GRID},
               (f[band * 4 + 3] + off) // {MEDIA_LSH_GRID},
               (f[band * 4 + 4] + off) // {MEDIA_LSH_GRID}) AS bkey
      FROM f
      CROSS JOIN (SELECT UNNEST([0, 1]) AS band)
      CROSS JOIN (SELECT UNNEST([0, {MEDIA_LSH_GRID // 2}]) AS off)
    ),
    ranked AS (
      SELECT doc_id, bkey,
             ROW_NUMBER() OVER (PARTITION BY bkey ORDER BY doc_id) AS rk
      FROM keyed
    ),
    kept AS (
      SELECT doc_id, bkey FROM ranked WHERE rk <= {MEDIA_LSH_BUCKET_WIDTH}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM kept a JOIN kept b2
        ON a.bkey = b2.bkey AND a.doc_id < b2.doc_id
    ),
    scored AS (
      SELECT c.doc_a, c.doc_b,
             {_sql_dot('x', 'y')} AS dot,
             {_sql_dot('x', 'x')} AS na,
             {_sql_dot('y', 'y')} AS nb
      FROM cand c
      JOIN f x ON x.doc_id = c.doc_a
      JOIN f y ON y.doc_id = c.doc_b
    ),
    media_pairs AS (
      SELECT doc_a, doc_b, dot, na, nb
      FROM scored
      WHERE na > 0 AND nb > 0
        AND CAST(dot AS HUGEINT) * dot * 100000000
            >= CAST({MEDIA_LSH_THRESH_SQ_E8} AS HUGEINT) * na * nb
    )"""


def _sql_dot(x: str, y: str) -> str:
    return " + ".join(f"{x}.f[{i}] * {y}.f[{i}]" for i in range(1, 9))


@register(
    "dedup_media_lsh",
    bench=True,
    oracle=f"""
    WITH {_media_pairs_ctes()}
    SELECT doc_a, doc_b,
           ROUND(CAST(dot AS DOUBLE)
                 / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))),
                 4) AS cos_sim
    FROM media_pairs
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "multimodal", "lsh"),
)
def dedup_media_lsh(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_width: int | None = MEDIA_LSH_BUCKET_WIDTH,
) -> DataFrame:
    """Perceptual near-dup pairs over MEDIA payloads — the similarity
    path the byte-exact [[multimodal_metadata]] MD5 dedup cannot see
    (re-encoded/slightly-edited media keeps its perceptual signature
    while every byte hash changes).

    Features come from ``decode_media(fake=True)``'s deterministic
    byte-histogram (real perceptual features — pHash, chromaprint —
    drop into the SAME mapInPandas slot on a real cluster; schema and
    everything downstream are unchanged).  Candidates come from grid
    LSH: each 8-dim ppm vector is quantized to a {MEDIA_LSH_GRID}-wide
    grid in two 4-dim BANDS × two OFFSET grids (the half-width shift
    catches boundary-straddling near-identical vectors), so a pair
    collides when ANY band/offset cell matches — the
    [[dedup_embedding_lsh]] bucket device with quantization cells in
    place of hyperplane signatures.  Exact cosine verifies candidates
    only.

    Exactness device: features are integer ppm, so dot products and
    norms are exact BIGINTs (≤ 8×10¹²) and the θ = {MEDIA_LSH_THRESHOLD}
    verdict is EXACT INTEGER arithmetic — dot ≥ 0, so cos ≥ θ squares
    to dot²·10⁸ ≥ {MEDIA_LSH_THRESH_SQ_E8}·na·nb, evaluated in
    DECIMAL(38,0)/HUGEINT (≤ 6.4×10³³).  Zero-norm payloads (empty
    media) are guarded identically on both sides (the repo ratio
    rule); cos_sim is a 4dp presentation round over exact integers.

    Scale shape: one narrow mapInPandas featurization (no shuffle),
    one groupBy for buckets with inline i<j expansion —
    ``max_bucket_width`` truncation ON by default (byte histograms
    CONCENTRATE as payloads grow, so hot quantization cells are the
    expected skew at corpus scale; real perceptual features spread
    buckets far wider) — then a candidates-sized join back to the
    8-int feature relation.  The feature relation is persisted: the
    bucket pass and both verify-join sides consume it."""
    feats = (
        extract_features(media_table(spark, sf_dir), fake=True)
        .select(
            "doc_id",
            F.transform("features", lambda x: x.cast("bigint")).alias("f"),
        )
        .persist()
    )
    return _media_pairs_from_features(feats, max_bucket_width=max_bucket_width)


def _media_key_columns() -> list:
    """The 4 grid-LSH bucket-key expressions (2 bands × 2 offset grids)
    over a feature column ``f`` — shared by the inline/persisted pair
    pipelines and the incremental probe so every path buckets
    identically."""
    # r13 (guide §5): each key ships as ONE SQL string instead of ~45
    # py4j DSL calls — same expression tree, parsed JVM-side
    # (at a checkout of b2c0d21, `scripts/ab.py b2c0d21^ dedup_media_lsh`
    # shows the analyzed plans equal modulo expression ids).
    keys = []
    for band in (0, 1):
        for off in (0, MEDIA_LSH_GRID // 2):
            cells = [
                f"CAST(CAST(FLOOR((element_at(f, {band * 4 + i}) + {off})"
                f" / {MEDIA_LSH_GRID}) AS BIGINT) AS STRING)"
                for i in range(1, 5)
            ]
            keys.append(
                F.expr(
                    f"CONCAT_WS(',', '{band}', '{off}', {', '.join(cells)})"
                )
            )
    return keys


def _media_pairs_from_features(
    feats: DataFrame, max_bucket_width: int | None = MEDIA_LSH_BUCKET_WIDTH
) -> DataFrame:
    """Grid-LSH bucket → candidate → exact-integer-verdict pipeline over
    a persisted-or-inline (doc_id, f: array<bigint>) feature relation —
    shared by [[dedup_media_lsh]] (inline featurize) and
    [[dedup_media_lsh_persisted]] (warm index read), so the serving
    twin cannot drift from the certified inline path.  ``feats`` must
    already be persisted by the caller (bucket pass + both verify-join
    sides consume it)."""
    from mysql_postgres_debezium_cdc_spark.llm.dedup import _pairs_from_bucket

    keyed = feats.select(
        "doc_id", F.explode(F.array(*_media_key_columns())).alias("bkey")
    )
    buckets = (
        keyed.groupBy("bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    cand = _pairs_from_bucket(buckets, max_bucket_width=max_bucket_width).distinct()
    fa = feats.select(F.col("doc_id").alias("doc_a"), F.col("f").alias("fa"))
    fb = feats.select(F.col("doc_id").alias("doc_b"), F.col("f").alias("fb"))

    # r13 (guide §5): the 8-term dot products and the integer verdict
    # ship as SQL strings — same trees, one py4j round trip each
    # (b2c0d21^ → b2c0d21, proved with the bucket keys above).
    def _dotsql(x: str, y: str) -> str:
        return (
            "("
            + " + ".join(f"element_at({x}, {i}) * element_at({y}, {i})" for i in range(1, 9))
            + ")"
        )

    scored = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            f"{_dotsql('fa', 'fb')} AS dot",
            f"{_dotsql('fa', 'fa')} AS na",
            f"{_dotsql('fb', 'fb')} AS nb",
        )
    )
    return (
        scored.where(
            "(((na > 0) AND (nb > 0)) AND"
            " (CAST(dot AS DECIMAL(38,0)) * dot * 100000000 >="
            f" CAST({MEDIA_LSH_THRESH_SQ_E8} AS DECIMAL(38,0)) * na * nb))"
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "ROUND(CAST(dot AS DOUBLE)"
            " / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))), 4)"
            " AS cos_sim",
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_media_clusters",
    oracle=f"""
    WITH RECURSIVE {_media_pairs_ctes()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM media_pairs
      UNION SELECT doc_b, doc_a FROM media_pairs
    ),
    walk(node, reach) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.node, e2.b FROM walk w JOIN edges e2 ON w.reach = e2.a
    )
    SELECT node AS doc_id, MIN(reach) AS cluster_id,
           COUNT(*) OVER (PARTITION BY MIN(reach)) AS cluster_size
    FROM walk GROUP BY node
    ORDER BY doc_id
    """,
    tags=("llm", "dedup", "multimodal", "graph"),
)
def dedup_media_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media duplicate CLUSTERS — the output-bounded form of
    [[dedup_media_lsh]], and the reporting shape to USE when media
    duplicates are the norm (re-encodes, thumbnails, mirrored uploads):
    a duplicate family of k payloads costs k(k−1)/2 rows as pairs but
    only k rows as cluster labels, the exact lesson the r4 embedding
    10× probe measured (PLANS.md).  LSH-verified pairs feed the same
    pointer-jumping connected-components loop as the text and embedding
    families (property-tested against a union-find oracle); output is
    (doc_id, canonical cluster id, cluster size) for every payload with
    at least one perceptual near-duplicate.  The oracle embeds the
    certified pair pipeline verbatim (`_media_pairs_ctes`) plus a
    recursive reachability walk, so the cluster check cannot drift from
    the pair check."""
    from mysql_postgres_debezium_cdc_spark.llm.dedup import connected_components

    pairs = dedup_media_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    w = Window.partitionBy("component_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("component_id").alias("cluster_id"),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_media_lsh_persisted",
    # identical result contract to the inline key — same oracle
    oracle=f"""
    WITH {_media_pairs_ctes()}
    SELECT doc_a, doc_b,
           ROUND(CAST(dot AS DOUBLE)
                 / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))),
                 4) AS cos_sim
    FROM media_pairs
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "multimodal", "lsh", "serving"),
)
def dedup_media_lsh_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING tier of [[dedup_media_lsh]]: featurize ONCE, persist
    the (doc_id, 8×BIGINT) feature index as parquet, and answer warm
    near-dup queries from the index — the same persisted-index twin
    device as [[text_trigram_persisted_index]] and
    [[ann_ivfpq_persisted_index]].  At 100 TB this is the difference
    between re-decoding every blob per query (the featurizer touches
    every payload byte through a Python worker) and a pure-JVM pipeline
    over a ~64 B/payload columnar index: the warm plan contains ZERO
    Python crossings and never reads the blob column (plan-asserted).

    The index is written via materialize_once (staged write + atomic
    rename, keyed by fixture fingerprint — the repo's race/staleness
    device); the query path is `_media_pairs_from_features`, the
    IDENTICAL pipeline the inline key runs, so the twin is bit-identical
    by construction and the same oracle certifies both."""
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    def _write_index(p: str) -> None:
        (
            extract_features(media_table(spark, sf_dir), fake=True)
            .select(
                "doc_id",
                F.transform("features", lambda x: x.cast("bigint")).alias("f"),
            )
            .write.mode("overwrite")
            .parquet(p)
        )

    index_path = materialize_once(sf_dir, "media_feat_index", _write_index)
    feats = spark.read.parquet(index_path).persist()
    return _media_pairs_from_features(feats)


@register(
    "dedup_media_incremental",
    oracle=f"""
    WITH {_media_feature_sql()},
    keyed AS (
      SELECT doc_id,
             CONCAT_WS(',', band, off,
               (f[band * 4 + 1] + off) // {MEDIA_LSH_GRID},
               (f[band * 4 + 2] + off) // {MEDIA_LSH_GRID},
               (f[band * 4 + 3] + off) // {MEDIA_LSH_GRID},
               (f[band * 4 + 4] + off) // {MEDIA_LSH_GRID}) AS bkey
      FROM f
      CROSS JOIN (SELECT UNNEST([0, 1]) AS band)
      CROSS JOIN (SELECT UNNEST([0, {MEDIA_LSH_GRID // 2}]) AS off)
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS dup_doc
      FROM keyed n JOIN keyed i ON n.bkey = i.bkey
      WHERE n.doc_id % 10 = 3 AND i.doc_id % 10 <> 3
    ),
    scored AS (
      SELECT c.new_doc, c.dup_doc,
             {_sql_dot('x', 'y')} AS dot,
             {_sql_dot('x', 'x')} AS na,
             {_sql_dot('y', 'y')} AS nb
      FROM cand c
      JOIN f x ON x.doc_id = c.new_doc
      JOIN f y ON y.doc_id = c.dup_doc
    )
    SELECT new_doc, dup_doc,
           ROUND(CAST(dot AS DOUBLE)
                 / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE))),
                 4) AS cos_sim
    FROM scored
    WHERE na > 0 AND nb > 0
      AND CAST(dot AS HUGEINT) * dot * 100000000
          >= CAST({MEDIA_LSH_THRESH_SQ_E8} AS HUGEINT) * na * nb
    ORDER BY new_doc, dup_doc
    """,
    tags=("llm", "dedup", "multimodal", "incremental", "index"),
)
def dedup_media_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual dedup against the PERSISTED media feature
    index — the nightly-ingest shape for media: the existing corpus's
    features and grid-LSH cells are written once per corpus version
    (materialize_once), and each new batch (the deterministic
    doc_id % 10 == 3 cohort, the [[dedup_minhash_incremental]] cohort
    convention) featurizes ONLY its own payloads, probes the index's
    cell relation for collisions, and exact-verifies only the colliding
    (new, indexed) pairs with the same all-integer cosine verdict as
    [[dedup_media_lsh]].

    Scale shape: batch-side featurization touches only the batch's
    blobs (the one Python crossing, batch-sized); the candidate probe
    is an equi-join on the cell key against the index parquet; the
    verify join reads only colliding index rows.  Per-batch cost is
    O(batch + collisions), never O(corpus) — what makes continuous
    media dedup affordable at 100 TB.  Features are exact integers, so
    the parquet round-trip is lossless and the probe is bit-identical
    to a from-scratch two-sided run: the oracle recomputes BOTH sides
    from scratch and certifies the indexed path end-to-end."""
    from mysql_postgres_debezium_cdc_spark.llm.dedup import INCR_MOD, INCR_REM
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    def _write_index(p: str) -> None:
        feats = (
            extract_features(
                media_table(spark, sf_dir).where(
                    F.col("doc_id") % INCR_MOD != INCR_REM
                ),
                fake=True,
            )
            .select(
                "doc_id",
                F.transform("features", lambda x: x.cast("bigint")).alias("f"),
            )
            .persist()
        )
        feats.write.mode("overwrite").parquet(f"{p}/features")
        feats.select(
            "doc_id", F.explode(F.array(*_media_key_columns())).alias("bkey")
        ).write.mode("overwrite").parquet(f"{p}/cells")
        feats.unpersist()
        open(f"{p}/_SUCCESS", "w").close()

    idx = materialize_once(sf_dir, "media_incr_index", _write_index)
    idx_feats = spark.read.parquet(f"{idx}/features")
    idx_cells = spark.read.parquet(f"{idx}/cells")

    new_feats = (
        extract_features(
            media_table(spark, sf_dir).where(
                F.col("doc_id") % INCR_MOD == INCR_REM
            ),
            fake=True,
        )
        .select(
            "doc_id",
            F.transform("features", lambda x: x.cast("bigint")).alias("f"),
        )
        .localCheckpoint(eager=True)
    )
    new_cells = new_feats.select(
        "doc_id", F.explode(F.array(*_media_key_columns())).alias("bkey")
    )
    cand = (
        new_cells.select(F.col("doc_id").alias("new_doc"), "bkey")
        .join(
            idx_cells.select(F.col("doc_id").alias("dup_doc"), "bkey"), "bkey"
        )
        .select("new_doc", "dup_doc")
        .distinct()
    )
    fa = new_feats.select(F.col("doc_id").alias("new_doc"), F.col("f").alias("fa"))
    fb = idx_feats.select(F.col("doc_id").alias("dup_doc"), F.col("f").alias("fb"))

    def _dotcol(x: str, y: str):
        terms = [F.element_at(x, i) * F.element_at(y, i) for i in range(1, 9)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    scored = (
        cand.join(fa, "new_doc")
        .join(fb, "dup_doc")
        .select(
            "new_doc",
            "dup_doc",
            _dotcol("fa", "fb").alias("dot"),
            _dotcol("fa", "fa").alias("na"),
            _dotcol("fb", "fb").alias("nb"),
        )
    )
    return (
        scored.where(
            (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (
                dec(F.col("dot")) * F.col("dot") * 100000000
                >= dec(F.lit(MEDIA_LSH_THRESH_SQ_E8)) * F.col("na") * F.col("nb")
            )
        )
        .select(
            "new_doc",
            "dup_doc",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                4,
            ).alias("cos_sim"),
        )
        .orderBy("new_doc", "dup_doc")
    )
