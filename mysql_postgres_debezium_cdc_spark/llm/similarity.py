"""Similarity search over embedding columns (array<float>, dim 64).

- ``ann_bruteforce_topk``: exact cosine top-k — the correctness baseline.
  Expressed as broadcast(query set) × candidates with the dot product in
  Catalyst higher-order functions (zip_with/aggregate) — JVM-side, no
  Python in the loop.  Cost is O(|Q|·N): fine for small query sets even
  at large N because the query side broadcasts and the scan streams.
- ``ann_lsh_topk``: random-hyperplane LSH variant — the scale path.
  Sign-bit bucket join first, exact cosine only within buckets; recall
  vs brute force is measured in tests/test_llm_similarity.py.  Fully
  oracle-checked: hyperplanes derive from an engine-portable arithmetic
  formula (see ``_HP_SQL``), so DuckDB reproduces the whole pipeline.
- ``ann_cosine_pandas_udf``: same brute-force semantics through an
  Arrow-batched pandas UDF (numpy matmul per batch) — proves the
  vectorized-UDF surface and is the pattern for real model-embedding
  scoring where the metric isn't expressible in SQL.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf resolves
# real type hints, and PEP-563 stringified hints break its signature check.
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession, Window

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.parquet import load

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_cols(a, b):
    """Cosine similarity between two array<double> columns (Catalyst-only)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(a):
    """sqrt(a·a) — precompute ONCE per vector before any pairwise stage.

    Higher-order array functions are interpreted, so evaluating
    `cosine_cols` per candidate pair costs three 64-element folds; with
    norms carried as plain double columns each pair costs one.  The
    float math is bit-identical (same sqrt of the same ordered dot), so
    oracle parity is unaffected."""
    return F.sqrt(_dot(a, a))


def cosine_from_norms(dot_ab, norm_a, norm_b):
    return dot_ab / (norm_a * norm_b)


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
    scored AS (
      SELECT q_id, c_id,
             ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                   (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                    SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))), 4) AS cos_sim
      FROM q JOIN c ON q_id <> c_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rk
      FROM scored
    )
    SELECT q_id, c_id, cos_sim, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY q_id, rk
    """,
    tags=("llm", "similarity"),
    bench=True,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each of the first 10 vectors."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        _as_double("embedding").alias("q_emb"),
        _norm(_as_double("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        _as_double("embedding").alias("c_emb"),
        _norm(_as_double("embedding")).alias("c_nrm"),
    )
    cs = cosine_from_norms(_dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm"), F.col("c_nrm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cs, 4).alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= TOP_K)
        .orderBy("q_id", "rk")
    )


@register(
    "ann_cosine_pandas_udf",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
    scored AS (
      SELECT q_id, c_id,
             ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                   (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                    SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))), 4) AS cos_sim
      FROM q JOIN c ON q_id <> c_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rk
      FROM scored
    )
    SELECT q_id, cos_sim AS best_sim, c_id AS best_id
    FROM ranked WHERE rk = 1
    ORDER BY q_id
    """,
    tags=("llm", "similarity", "pandas_udf"),
)
def ann_cosine_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor per query via an Arrow-batched pandas UDF.

    The UDF computes cosine on numpy arrays per Arrow batch (the
    10-100× faster path vs row-at-a-time Python UDFs); ranking stays in
    Catalyst.  Ties broken toward the smaller c_id, matching the oracle's
    MAX_BY ordering key [cos_sim, -c_id]."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf(T.DoubleType())
    def cos_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.stack(a.to_numpy())
        bm = np.stack(b.to_numpy())
        num = (am * bm).sum(axis=1)
        den = np.sqrt((am * am).sum(axis=1)) * np.sqrt((bm * bm).sum(axis=1))
        return pd.Series(num / den)

    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _as_double("embedding").alias("q_emb"))
    )
    c = emb.select(F.col("vec_id").alias("c_id"), _as_double("embedding").alias("c_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cos_udf("q_emb", "c_emb"), 4).alias("cos_sim"))
    )
    return (
        scored.groupBy("q_id")
        .agg(
            F.max("cos_sim").alias("best_sim"),
            F.max_by("c_id", F.struct(F.col("cos_sim"), (-F.col("c_id")).alias("neg"))).alias(
                "best_id"
            ),
        )
        .orderBy("q_id")
    )


RANGE_THRESHOLD = 0.3  # cosine radius for range search


@register(
    "ann_range_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
    scored AS (
      SELECT q_id, c_id,
             ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                   (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                    SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))), 4) AS cos_sim
      FROM q JOIN c ON q_id <> c_id
    ),
    hits AS (SELECT * FROM scored WHERE cos_sim >= {RANGE_THRESHOLD})
    SELECT q_id, c_id, cos_sim,
           CAST(COUNT(*) OVER (PARTITION BY q_id) AS BIGINT) AS n_in_radius
    FROM hits
    ORDER BY q_id, c_id
    """,
    tags=("llm", "similarity"),
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: ALL neighbors with cosine >= 0.3 per query
    vector, plus the per-query hit count — the "find everything similar"
    complement to top-k, the primitive behind near-dup candidate recall
    checks and contrastive positive mining.

    Scale shape: identical to ``ann_bruteforce_topk`` — the bounded
    query set broadcasts, the candidate scan streams (one narrow pass,
    no shuffle until the final hit-set window/sort, whose size is the
    RESULT cardinality, not the corpus).  At web scale the same
    predicate drops onto the LSH- or IVF-pruned candidate stream
    (``ann_lsh_topk`` / ``ann_ivf_topk``) unchanged — range search is
    just top-k with the rank filter swapped for a similarity filter.

    Float parity: the filter applies to the ROUNDED (4dp) cosine in
    both engines so the radius boundary cannot flicker on the last
    float bit; same contract as the top-k family's rounded outputs."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        _as_double("embedding").alias("q_emb"),
        _norm(_as_double("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        _as_double("embedding").alias("c_emb"),
        _norm(_as_double("embedding")).alias("c_nrm"),
    )
    cs = cosine_from_norms(_dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm"), F.col("c_nrm"))
    hits = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cs, 4).alias("cos_sim"))
        .where(F.col("cos_sim") >= RANGE_THRESHOLD)
    )
    w = Window.partitionBy("q_id")
    return hits.withColumn(
        "n_in_radius", F.count(F.lit(1)).over(w).cast("bigint")
    ).orderBy("q_id", "c_id")


# Band geometry (retuned r5): precision/bucket-width comes from BITS
# (64 signatures per table keeps the expected bucket far under the
# scale path's default width cap), recall from TABLES.  The r5
# dedup_lsh_recall_eval op measured the old 4x4 geometry at 10% recall
# under the cap at sf0.1 (16 signatures -> every bucket wider than the
# cap -> mass truncation); 8x6 restores recall with the cap intact.
LSH_TABLES = 8
LSH_BITS = 6
LSH_DIM = 64
# Hyperplane component for (plane p, dim d): a Weyl-style mixed
# congruence — multiply a per-(p,d) index by a large odd constant, mod a
# small range, scale to [-1, 1].  Chosen over a hash because BOTH
# engines (Spark and the DuckDB oracle) can evaluate it exactly with
# integer built-ins, which is what makes this LSH query value-checkable
# end-to-end; equidistribution of the k*2654435761 mod 2001 orbit gives
# hyperplanes that behave like random ones for bucketing purposes.
_HP_SQL = "((((p * 8191 + d + 1) * 2654435761) % 2001) / 1000.0 - 1.0)"

# Shared oracle CTE fragment: embeddings → per-(vector, table) LSH
# signature strings.  Expects to follow a WITH; used by ann_lsh_topk here
# and dedup_embedding_lsh in llm/dedup.py.
LSH_SIGS_SQL = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    planes AS (
      SELECT p // {LSH_BITS} AS t, p,
             [{_HP_SQL} FOR d IN RANGE(0, {LSH_DIM})] AS w
      FROM (SELECT UNNEST(RANGE(0, {LSH_TABLES * LSH_BITS})) AS p)
    ),
    sigs AS (
      SELECT vec_id, t,
             STRING_AGG(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
      FROM (
        SELECT e.vec_id, pl.t, pl.p, LIST_DOT_PRODUCT(e.emb, pl.w) AS proj
        FROM e CROSS JOIN planes pl
      )
      GROUP BY vec_id, t
    )"""


def lsh_signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, t, sig): one sign-bit signature string per (vector, hash
    table) — the Spark twin of ``LSH_SIGS_SQL``.

    Vectorized Arrow kernel (the `_verify` / dimension-correlation
    device): all TABLES·BITS projections per vector compute in one
    batched pass with the ORDERED k-step accumulation
    (``proj += e[:, k] * w[:, k]`` for k = 0..DIM−1), which reproduces
    the oracle's LIST_DOT_PRODUCT left fold bit-for-bit — an unordered
    numpy ``matmul`` could reorder float adds and flip a sign bit for a
    projection near zero.  The plane weights are the same exact-integer
    Weyl congruence as ``_HP_SQL``, evaluated in int64 (max intermediate
    ≈ 1.0e15, far under 2⁶³) then scaled in float64 — identical doubles
    in all three evaluations (Spark-kernel / DuckDB / the retired HOF
    path).  Inputs are finite, so ``proj >= 0`` never sees a NaN (where
    numpy and SQL engines would disagree).

    Scale shape: the prior formulation crossJoined 48 broadcast plane
    rows and re-grouped n·48 interpreted-HOF rows by (vec_id, t) — a
    corpus-sized SHUFFLE just to reassemble signature strings.  The
    kernel emits (vec_id, t, sig) directly per input batch: zero
    shuffles, no interpreted fold, ~10² fewer rows in flight."""
    n_planes = LSH_TABLES * LSH_BITS

    def _sigs(batches):
        import numpy as np
        import pandas as pd

        p_idx = np.arange(n_planes, dtype=np.int64)
        d_idx = np.arange(LSH_DIM, dtype=np.int64)
        w = (
            ((p_idx[:, None] * 8191 + d_idx[None, :] + 1) * 2654435761) % 2001
        ) / 1000.0 - 1.0  # (planes, dims) float64, exact int math then exact scale
        for pdf in batches:
            if len(pdf) == 0:
                continue
            e = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            proj = np.zeros((len(e), n_planes))
            for k in range(LSH_DIM):
                proj += e[:, k, None] * w[:, k]
            # '0'/'1' bytes in p order, row-major → one 6-byte slice per
            # (vector, table); -0.0 >= 0 is True in numpy and both engines.
            raw = ((proj >= 0).astype(np.uint8) + ord("0")).tobytes()
            sigs = [
                raw[i * LSH_BITS : (i + 1) * LSH_BITS].decode("ascii")
                for i in range(len(e) * LSH_TABLES)
            ]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), LSH_TABLES),
                    "t": np.tile(np.arange(LSH_TABLES, dtype=np.int32), len(e)),
                    "sig": sigs,
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        _sigs, schema="vec_id long, t int, sig string"
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH {LSH_SIGS_SQL},
    cand AS (
      SELECT DISTINCT q.vec_id AS q_id, s.vec_id AS c_id
      FROM sigs s
      JOIN sigs q ON q.t = s.t AND q.sig = s.sig
      WHERE q.vec_id < {N_QUERIES} AND s.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT c.q_id, c.c_id,
             ROUND(LIST_DOT_PRODUCT(q.emb, v.emb) /
                   (SQRT(LIST_DOT_PRODUCT(q.emb, q.emb)) *
                    SQRT(LIST_DOT_PRODUCT(v.emb, v.emb))), 4) AS cos_sim
      FROM cand c
      JOIN e q ON q.vec_id = c.q_id
      JOIN e v ON v.vec_id = c.c_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rk
      FROM scored
    )
    SELECT q_id, c_id, cos_sim, rk FROM ranked WHERE rk <= {TOP_K}
    ORDER BY q_id, rk
    """,
    tags=("llm", "similarity", "lsh"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table random-hyperplane LSH top-k (OR-amplification).

    L=4 hash tables × k=4 sign bits: a candidate pair is compared if it
    collides in ANY table — P(hit) = 1-(1-p^k)^L for per-plane agreement
    p, the standard recall/candidate-volume dial (single-table k=8 gives
    ~2% recall on this mid-similarity corpus; 4×4 gives ~50%).
    Hyperplanes derive arithmetically from (plane, dim) — reproducible
    with no stored model, and portable to the DuckDB oracle so the whole
    pipeline is value-checked (projection sums run in the same d-order in
    both engines, so even the float bits agree).  Exact cosine runs only
    on candidates; per-query dedup across tables happens BEFORE scoring.

    Scale shape: signatures are one 16-bit-ish key per (vector, table) —
    4 rows per vector; buckets shard by (table, signature); the probe
    side (queries) is tiny and broadcast.  Candidate volume is the
    recall dial, never O(n²).  Recall gate: tests/test_llm_similarity.py."""
    emb = load(spark, sf_dir, "embeddings")
    sigs = lsh_signatures(emb)
    vecs = emb.select(
        "vec_id",
        _as_double("embedding").alias("emb"),
        _norm(_as_double("embedding")).alias("nrm"),
    )
    cand_q = sigs.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "t", "sig"
    )
    cands = (
        sigs.join(F.broadcast(cand_q), ["t", "sig"])
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("c_id"))
        .distinct()  # collapse multi-table collisions before scoring
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        cands.join(
            vecs.select(
                F.col("vec_id").alias("c_id"), F.col("emb").alias("c_emb"), F.col("nrm").alias("c_nrm")
            ),
            "c_id",
        )
        .join(
            F.broadcast(
                vecs.where(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
                )
            ),
            "q_id",
        )
        .select(
            "q_id",
            "c_id",
            F.round(
                cosine_from_norms(
                    _dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm"), F.col("c_nrm")
                ),
                4,
            ).alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= TOP_K)
        .orderBy("q_id", "rk")
    )

N_CELLS = 16  # IVF coarse-quantizer cells
CENTROID_BASE = 100  # vec_id range [CENTROID_BASE, CENTROID_BASE + N_CELLS) are the centroids
N_PROBE = 2


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (
      SELECT vec_id - {CENTROID_BASE} AS cid, emb AS c_emb
      FROM e WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + N_CELLS}
    ),
    scored_cells AS (
      SELECT e.vec_id, cent.cid,
             LIST_DOT_PRODUCT(e.emb, cent.c_emb) /
               (SQRT(LIST_DOT_PRODUCT(e.emb, e.emb)) *
                SQRT(LIST_DOT_PRODUCT(cent.c_emb, cent.c_emb))) AS ccos,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY LIST_DOT_PRODUCT(e.emb, cent.c_emb) /
                        (SQRT(LIST_DOT_PRODUCT(e.emb, e.emb)) *
                         SQRT(LIST_DOT_PRODUCT(cent.c_emb, cent.c_emb))) DESC, cent.cid
             ) AS crk
      FROM e CROSS JOIN cent
    ),
    assign AS (SELECT vec_id, cid FROM scored_cells WHERE crk = 1),
    probes AS (
      SELECT vec_id AS q_id, cid FROM scored_cells
      WHERE crk <= {N_PROBE} AND vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.q_id, a.vec_id AS c_id
      FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.q_id
    ),
    scored AS (
      SELECT c.q_id, c.c_id,
             ROUND(LIST_DOT_PRODUCT(q.emb, v.emb) /
                   (SQRT(LIST_DOT_PRODUCT(q.emb, q.emb)) *
                    SQRT(LIST_DOT_PRODUCT(v.emb, v.emb))), 4) AS cos_sim
      FROM cand c
      JOIN e q ON q.vec_id = c.q_id
      JOIN e v ON v.vec_id = c.c_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rk
      FROM scored
    )
    SELECT q_id, c_id, cos_sim, rk FROM ranked WHERE rk <= {TOP_K}
    ORDER BY q_id, rk
    """,
    tags=("llm", "similarity", "ivf"),
    bench=True,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer cells + nprobe=2 cell probing.

    The coarse quantizer is a deterministic centroid sample (vectors
    100..115 stand in for k-means centroids — the partitioning math is
    identical, and determinism is what makes this oracle-checkable).
    Plan shape is the real IVF story at scale:

    - **assignment** is a map-side broadcast cross join vectors ×
      centroids (centroid table is tiny by construction) + one
      row_number per vector — linear in N, no all-pairs anything;
    - the index is just the `assign` relation partitioned by cell id —
      at 100 TB you'd write it bucketed by `cid` so probes hit only
      matching buckets;
    - **probing** joins each query's nprobe best cells against one cell
      partition each; exact cosine runs only inside probed cells
      (N/cells × nprobe candidates vs N for brute force).

    Recall vs `ann_bruteforce_topk` is measured in tests."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        _as_double("embedding").alias("emb"),
        _norm(_as_double("embedding")).alias("nrm"),
    )
    cent = (
        e.where((F.col("vec_id") >= CENTROID_BASE) & (F.col("vec_id") < CENTROID_BASE + N_CELLS))
        .select(
            (F.col("vec_id") - CENTROID_BASE).cast("int").alias("cid"),
            F.col("emb").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    # r13 note: three zero-shuffle reformulations of this cell stage
    # (per-row array transform + natural-order sort, max-struct partial
    # aggregation, a numpy assignment kernel) were interleaved-A/B'd and
    # ALL lost or tied at sf0.1 — the flat crossJoin rows are codegen-
    # friendly where nested array-of-struct evaluation is interpreted
    # (OPTIMIZATION_r13.md has the numbers).  The r12 shape stays; at a
    # checkout of 841a194, `scripts/ab.py 841a194^ ann_ivf_topk
    # ann_ivfpq_topk` re-times the kernel change it shipped beside.
    ccos = cosine_from_norms(_dot(F.col("emb"), F.col("c_emb")), F.col("nrm"), F.col("c_nrm"))
    cw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    scored_cells = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", "emb", "nrm", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(cw))
    )
    assign = scored_cells.where(F.col("crk") == 1).select(
        F.col("vec_id").alias("c_id"), "cid", F.col("emb").alias("c_vec"), F.col("nrm").alias("c_nrm")
    )
    probes = scored_cells.where(
        (F.col("crk") <= N_PROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("q_id"), "cid", F.col("emb").alias("q_vec"), F.col("nrm").alias("q_nrm"))
    cs = cosine_from_norms(_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nrm"), F.col("c_nrm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", F.round(cs, 4).alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= TOP_K)
        .orderBy("q_id", "rk")
    )


def _oracle_of(key: str) -> str:
    """Reuse an already-registered key's oracle SQL as a CTE body —
    the eval queries below re-run BOTH pipelines oracle-side, so the
    ground truth and the approximate path stay pinned to the exact
    SQL the driver certifies for each."""
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    return _REGISTRY[key].oracle


@register(
    "ann_ivf_recall_eval",
    oracle=f"""
    WITH bf AS ({{BF}}),
    iv AS ({{IV}}),
    hits AS (
      SELECT b.q_id,
             CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM bf b LEFT JOIN iv i ON i.q_id = b.q_id AND i.c_id = b.c_id
    )
    SELECT q_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(hit) AS BIGINT) AS n_found,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall_at_k
    FROM hits GROUP BY q_id ORDER BY q_id
    """,
    tags=("llm", "similarity", "eval"),
)
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF index against the exact brute-force ground
    truth, measured IN-PLAN per query — "measure, don't guess" as a
    registered operator: the number every ANN deployment tracks when
    tuning nprobe/cells, computed by composing the two certified
    pipelines ([[ann_bruteforce_topk]] is the truth set,
    [[ann_ivf_topk]] the approximate path) and left-joining their
    top-k sets.  The oracle embeds BOTH keys' certified oracle SQL as
    CTEs, so the eval can never drift from what the driver checks for
    each pipeline individually.

    Scale shape: both inputs are per-query top-k relations (bounded:
    queries × k rows); the join and rollup are constant-size.  The
    expensive parts are the pipelines themselves, each already
    scale-shaped in its own right."""
    bf = ann_bruteforce_topk(spark, sf_dir).select("q_id", "c_id")
    iv = ann_ivf_topk(spark, sf_dir).select(
        "q_id", F.col("c_id").alias("c_id"), F.lit(1).alias("hit")
    )
    return (
        bf.join(iv, ["q_id", "c_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_found"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) * 1.0 / F.count(F.lit(1)), 4
            ).alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


# Bind the composed oracle AFTER registration so it embeds the exact
# certified SQL of both constituent keys.
def _bind_recall_oracle() -> None:
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    spec = _REGISTRY["ann_ivf_recall_eval"]
    object.__setattr__(
        spec,
        "oracle",
        spec.oracle.replace("{BF}", _oracle_of("ann_bruteforce_topk")).replace(
            "{IV}", _oracle_of("ann_ivf_topk")
        ),
    )


_bind_recall_oracle()


# ---------------------------------------------------------------------------
# Composed RAG retrieval: chunk -> hashing-trick embed -> top-k retrieve.
# ---------------------------------------------------------------------------

RAG_DIMS = 16  # hashing-trick vector width
RAG_TOPK = 3
RAG_QUERY_MOD = 100  # doc_id % RAG_QUERY_MOD == RAG_QUERY_REM selects queries
RAG_QUERY_REM = 7
# Hard cohort cap: queries are a FIXED-SIZE batch, not a fixed FRACTION
# of the corpus.  Without it the q-side relation scales with the corpus
# and retrieval cost goes quadratic — the r5 10x probe measured
# rag_rrf_fusion at 158 s vs 7.7 s once the mod-rule cohort grew 10x
# (PLANS.md).  The cap keeps every fixture's output byte-identical
# (max doc_id at sf0.1 is 4999) while pinning cost linear in the corpus.
RAG_QUERY_CAP = 5000
_RAG_CHUNK_W = 64
_RAG_CHUNK_S = 48
_RAG_PRIME = 2147483647


def _horner_sql(var: str) -> str:
    return (
        f"LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), "
        f"[CAST(UNICODE({var}[i]) AS BIGINT) FOR i IN RANGE(1, LEN({var})+1)]), "
        f"(acc, c) -> (acc * 31 + c) % {_RAG_PRIME})"
    )


_RAG_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             toks[(1 + chunk_id * {_RAG_CHUNK_S}):(chunk_id * {_RAG_CHUNK_S} + {_RAG_CHUNK_W})] AS ctoks
      FROM (
        SELECT doc_id, toks,
               UNNEST(RANGE(0, CAST(CEIL(GREATEST(n - {_RAG_CHUNK_W}, 0)
                 / CAST({_RAG_CHUNK_S} AS DOUBLE)) AS BIGINT) + 1)) AS chunk_id
        FROM d
      )
    ),
    cdims AS (
      SELECT doc_id, chunk_id, {_horner_sql('tok')} % {RAG_DIMS} AS dim,
             COUNT(*) AS cnt
      FROM chunks, UNNEST(ctoks) AS u(tok)
      GROUP BY 1, 2, 3
    ),
    cnorm AS (
      SELECT doc_id, chunk_id, CAST(SUM(cnt * cnt) AS BIGINT) AS n2
      FROM cdims GROUP BY 1, 2
    ),
    qdims AS (
      SELECT doc_id AS q_doc, {_horner_sql('tok')} % {RAG_DIMS} AS dim,
             COUNT(*) AS cnt
      FROM d, UNNEST(toks) AS u(tok)
      WHERE doc_id % {RAG_QUERY_MOD} = {RAG_QUERY_REM} AND doc_id < {RAG_QUERY_CAP}
      GROUP BY 1, 2
    ),
    qnorm AS (
      SELECT q_doc, CAST(SUM(cnt * cnt) AS BIGINT) AS n2
      FROM qdims GROUP BY 1
    ),
    dots AS (
      SELECT q.q_doc, c.doc_id, c.chunk_id,
             CAST(SUM(q.cnt * c.cnt) AS BIGINT) AS dot
      FROM qdims q JOIN cdims c ON c.dim = q.dim AND c.doc_id <> q.q_doc
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT d.q_doc, d.doc_id, d.chunk_id,
             CAST(d.dot AS DOUBLE)
               / (SQRT(CAST(qn.n2 AS DOUBLE)) * SQRT(CAST(cn.n2 AS DOUBLE))) AS c
      FROM dots d
      JOIN qnorm qn ON qn.q_doc = d.q_doc
      JOIN cnorm cn ON cn.doc_id = d.doc_id AND cn.chunk_id = d.chunk_id
    )
    SELECT q_doc, rk, doc_id AS hit_doc, chunk_id AS hit_chunk,
           ROUND(c, 6) AS cos
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_doc ORDER BY c DESC, doc_id, chunk_id) AS rk
      FROM scored
    )
    WHERE rk <= {RAG_TOPK}
    ORDER BY q_doc, rk
    """


def _rag_chunk_dims_relation(base: DataFrame) -> DataFrame:
    """Chunk-vector index relation: (doc_id, chunk_id, n2, dim, cnt)
    sparse hashed counts over overlapping token windows, with the
    per-chunk squared norm n2 = Σ cnt² inline — the corpus-side build
    both the inline and persisted RAG retrieval paths share.

    r13 optimization (guide §2.4 + §4.2, the `_rrf_dims_relation`
    device at chunk granularity): the retired expression pipeline paid
    a chunk explode, a token explode, the INTERPRETED per-occurrence
    Horner fold, a corpus-sized (doc, chunk, dim) groupBy exchange,
    then a SECOND corpus-sized exchange for the `cnorm` aggregate plus
    its join back — behind an eager localCheckpoint because the
    relation fed two consumers.  A document is one input row, so
    chunking, hashing (memo dict — one hash per distinct token per
    task), the final counts AND the chunk norm are all task-local: one
    Arrow kernel, zero exchanges, one consumer, no checkpoint.

    Bit-exactness: chunk count ceil(max(n−W,0)/S)+1 is computed with
    integer arithmetic ((x+S−1)//S), which equals the retired
    float-CEIL for these magnitudes (a correctly-rounded float quotient
    of ints < 2³⁰ cannot cross an integer boundary); slices, the Horner
    fold ((acc·31 + codepoint) mod P, '' → 0) and the count/norm sums
    are exact integers.  NULL text emits nothing (the retired NULL
    propagation through size/sequence/explode)."""
    W, S = _RAG_CHUNK_W, _RAG_CHUNK_S

    def _chunks(batches):
        import pandas as pd

        memo: dict[str, int] = {}

        def dim_of(tok: str) -> int:
            d = memo.get(tok)
            if d is None:
                acc = 0
                for ch in tok:
                    acc = (acc * 31 + ord(ch)) % _RAG_PRIME
                d = acc % RAG_DIMS
                memo[tok] = d
            return d

        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids: list[int] = []
            chunk_ids: list[int] = []
            n2s: list[int] = []
            dims: list[int] = []
            cnts: list[int] = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
                if toks is None:
                    continue
                n = len(toks)
                nc = (max(n - W, 0) + S - 1) // S + 1
                for cid in range(nc):
                    counts: dict[int, int] = {}
                    for t in toks[cid * S : cid * S + W]:
                        d = dim_of(t)
                        counts[d] = counts.get(d, 0) + 1
                    n2 = sum(c * c for c in counts.values())
                    doc_ids.extend([doc_id] * len(counts))
                    chunk_ids.extend([cid] * len(counts))
                    n2s.extend([n2] * len(counts))
                    dims.extend(counts.keys())
                    cnts.extend(counts.values())
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "chunk_id": chunk_ids,
                    "n2": n2s,
                    "dim": dims,
                    "cnt": cnts,
                }
            )

    from mysql_postgres_debezium_cdc_spark.sources.parquet import spread_small_scan

    return spread_small_scan(base.select("doc_id", "toks")).mapInPandas(
        _chunks, schema="doc_id long, chunk_id long, n2 long, dim long, cnt long"
    )


@register(
    "corpus_rag_retrieval",
    oracle=_RAG_ORACLE,
    tags=("llm", "similarity", "rag"),
)
def corpus_rag_retrieval(
    spark: SparkSession, sf_dir: str, cdims_df: DataFrame | None = None
) -> DataFrame:
    """End-to-end RAG indexing + retrieval, composed from the engine's
    own pieces: documents are cut into overlapping chunks (same
    boundary contract as corpus_chunk_documents), each chunk is
    embedded by the hashing trick (token → Horner hash → one of
    RAG_DIMS count buckets — the portable stand-in for a neural
    encoder; the Spark-side plumbing is identical either way), and a
    deterministic query cohort (doc_id % 100 == 7) retrieves its top-3
    chunks by cosine, self-hits excluded.  This is the whole
    chunk→embed→index→query pipeline a retrieval corpus build runs,
    value-checked end to end — a boundary bug in chunking, a hash bug
    in embedding, or a ranking bug in retrieval all move the output.

    Scale shape: chunking and embedding come out of one shuffle-free
    Arrow kernel (the per-chunk sparse vector relation is bounded by
    RAG_DIMS rows per chunk, its norm inline — r13).  Retrieval joins
    the TINY query-vector relation (|queries|·dims rows — broadcast at
    any corpus scale, since the query cohort is a fixed fraction of a
    batch, not the corpus) against the chunk vectors on dim: the
    corpus side streams, dot products partially aggregate map-side,
    and the per-query top-k is WindowGroupLimit-pruned.  Swapping the
    hashing embed for real vectors turns this into exactly
    ann_ivf_topk's problem — the IVF path is the scale continuation.

    ``cdims_df`` substitutes a PERSISTED chunk-vector index for the
    corpus-side build (see [[corpus_rag_persisted_chunks]]); the
    default builds it inline."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))

    # r13: the kernel attaches the per-chunk squared norm n2 inline,
    # so the chunk-vector relation has ONE consumer — the former cnorm
    # groupBy, its join back, and the localCheckpoint are gone (same
    # move as rag_rrf_fusion).
    cdims = cdims_df if cdims_df is not None else _rag_chunk_dims_relation(base)
    qd = base.where(
        (F.col("doc_id") % RAG_QUERY_MOD == RAG_QUERY_REM)
        & (F.col("doc_id") < RAG_QUERY_CAP)
    )
    qdims = (
        qd.select(F.col("doc_id").alias("q_doc"), F.explode("toks").alias("tok"))
        .select("q_doc", (_rrf_horner(F.col("tok")) % RAG_DIMS).alias("dim"))
        .groupBy("q_doc", "dim")
        .agg(F.count(F.lit(1)).alias("qcnt"))
    )
    qnorm = qdims.groupBy("q_doc").agg(
        F.sum(F.col("qcnt") * F.col("qcnt")).cast("bigint").alias("qn2")
    )
    # n2 joins the grouping key: functionally dependent on
    # (doc_id, chunk_id), so the aggregate's cardinality is unchanged.
    dots = (
        cdims.join(F.broadcast(qdims), "dim")
        .where(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", "doc_id", "chunk_id", "n2")
        .agg(F.sum(F.col("qcnt") * F.col("cnt")).cast("bigint").alias("dot"))
    )
    scored = (
        dots.join(F.broadcast(qnorm), "q_doc")
        .select(
            "q_doc",
            "doc_id",
            "chunk_id",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double")))
            ).alias("c"),
        )
    )
    w = Window.partitionBy("q_doc").orderBy(F.desc("c"), "doc_id", "chunk_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= RAG_TOPK)
        .select(
            "q_doc",
            "rk",
            F.col("doc_id").alias("hit_doc"),
            F.col("chunk_id").alias("hit_chunk"),
            F.round("c", 6).alias("cos"),
        )
        .orderBy("q_doc", "rk")
    )


@register(
    "corpus_rag_persisted_chunks",
    oracle=_RAG_ORACLE,
    tags=("llm", "similarity", "rag", "index"),
)
def corpus_rag_persisted_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval over a PERSISTED chunk-vector index — the serving
    path for [[corpus_rag_retrieval]]: the chunk→embed stage (the
    corpus-scale work) is written once per corpus version and every
    query batch reads the index parquet, re-embedding only the ≤50
    cohort queries.  Completes the serving-tier family:
    [[ann_ivfpq_persisted_index]] (PQ codes),
    [[rag_rrf_persisted_index]] (hybrid term+vector indexes), and this
    (chunk granularity).  Index rows are pure integers, so the output
    is bit-identical to the inline path; the same oracle certifies
    both."""
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    def _build(p: str) -> None:
        base = _rrf_tokenized(spark, sf_dir).withColumn("n", F.size("toks"))
        _rag_chunk_dims_relation(base).write.mode("overwrite").parquet(p)

    # kind bumped with the r13 schema change (n2 rides inline).
    path = materialize_once(sf_dir, "rag_chunk_dims_n2", _build)
    return corpus_rag_retrieval(
        spark, sf_dir, cdims_df=spark.read.parquet(path)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + dense retrievers fused by reciprocal rank.
# ---------------------------------------------------------------------------

RRF_C = 60  # the standard reciprocal-rank-fusion constant (Cormack et al.)
RRF_POOL = 10  # candidate depth taken from each retriever
RRF_TOPK = 5  # fused results reported per query


_RRF_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    terms AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(toks)) AS tok FROM d
    ),
    qterms AS (
      SELECT doc_id AS q_doc, tok FROM terms
      WHERE doc_id % {RAG_QUERY_MOD} = {RAG_QUERY_REM} AND doc_id < {RAG_QUERY_CAP}
    ),
    lex AS (
      SELECT q.q_doc, t.doc_id, CAST(COUNT(*) AS BIGINT) AS overlap
      FROM qterms q JOIN terms t ON t.tok = q.tok AND t.doc_id <> q.q_doc
      GROUP BY 1, 2
    ),
    lex_rk AS (
      SELECT q_doc, doc_id, ROW_NUMBER() OVER (
        PARTITION BY q_doc ORDER BY overlap DESC, doc_id) AS r
      FROM lex QUALIFY r <= {RRF_POOL}
    ),
    dims AS (
      SELECT doc_id, {_horner_sql('tok')} % {RAG_DIMS} AS dim, COUNT(*) AS cnt
      FROM d, UNNEST(toks) AS u(tok)
      GROUP BY 1, 2
    ),
    nrm AS (
      SELECT doc_id, CAST(SUM(cnt * cnt) AS BIGINT) AS n2 FROM dims GROUP BY 1
    ),
    qdims AS (
      SELECT doc_id AS q_doc, dim, cnt FROM dims
      WHERE doc_id % {RAG_QUERY_MOD} = {RAG_QUERY_REM} AND doc_id < {RAG_QUERY_CAP}
    ),
    dots AS (
      SELECT q.q_doc, c.doc_id, CAST(SUM(q.cnt * c.cnt) AS BIGINT) AS dot
      FROM qdims q JOIN dims c ON c.dim = q.dim AND c.doc_id <> q.q_doc
      GROUP BY 1, 2
    ),
    dense_rk AS (
      SELECT q_doc, doc_id, ROW_NUMBER() OVER (
        PARTITION BY q_doc ORDER BY cs DESC, doc_id) AS r
      FROM (
        SELECT d.q_doc, d.doc_id,
               CAST(d.dot AS DOUBLE)
                 / (SQRT(CAST(qn.n2 AS DOUBLE)) * SQRT(CAST(cn.n2 AS DOUBLE)))
                 AS cs
        FROM dots d
        JOIN nrm qn ON qn.doc_id = d.q_doc
        JOIN nrm cn ON cn.doc_id = d.doc_id
      ) QUALIFY r <= {RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(l.q_doc, de.q_doc) AS q_doc,
             COALESCE(l.doc_id, de.doc_id) AS hit_doc,
             l.r AS lex_rank, de.r AS dense_rank,
             COALESCE(1.0 / ({RRF_C} + l.r), 0.0)
               + COALESCE(1.0 / ({RRF_C} + de.r), 0.0) AS score
      FROM lex_rk l
      FULL OUTER JOIN dense_rk de
        ON de.q_doc = l.q_doc AND de.doc_id = l.doc_id
    )
    SELECT q_doc, rk, hit_doc, lex_rank, dense_rank,
           ROUND(score, 6) AS rrf_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_doc ORDER BY score DESC, hit_doc) AS rk
      FROM fused
    )
    WHERE rk <= {RRF_TOPK}
    ORDER BY q_doc, rk
    """


def _rrf_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select("doc_id", toks.alias("toks"))


def _rrf_horner(tok):
    return F.aggregate(
        F.filter(F.split(tok, ""), lambda c: F.length(c) > 0),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % _RAG_PRIME,
    )


def _rrf_terms_relation(base: DataFrame) -> DataFrame:
    """Lexical inverted-index relation: one (doc_id, tok) row per
    DISTINCT term per document."""
    return base.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))


def _rrf_dims_relation(base: DataFrame) -> DataFrame:
    """Dense hashed-vector relation: (doc_id, n2, dim, cnt) sparse
    counts via the per-token Horner fold — the expensive corpus-side
    stage — with the per-document squared norm n2 = Σ cnt² attached to
    every row.

    r12 optimization (guide §4.2): the former shape exploded every
    token occurrence and ran the INTERPRETED char-level Horner fold per
    occurrence (token-count × token-length × 2 Catalyst ops, no
    codegen), then shuffled the occurrence rows into a
    (doc_id, dim) groupBy.  Now one Arrow kernel computes the counts
    per document batch: each distinct token hashes ONCE per task (memo
    dict — the corpus vocabulary is tiny relative to occurrences), and
    because a document is exactly one input row, the per-(doc, dim)
    counts the kernel emits are already final — the corpus-sized
    occurrence shuffle disappears entirely (plan: MapInPandas, zero
    exchanges below the consumers).

    r13 optimization (guide §2.4): the squared norm is task-local for
    the same reason the counts are, so it rides INLINE — the former
    separate `nrm` groupBy (a corpus-sized exchange), its join back
    onto the scored pairs, and the eager localCheckpoint that existed
    only because the relation fed two consumers are all gone; the
    relation now has exactly one consumer (the dot-product join).
    16 fixed bytes per row is the same carry-the-payload trade the
    jaccard kernel's n_sh made.

    Bit-exactness: the fold ((acc·31 + codepoint) mod P per character,
    '' → 0) is pure integer arithmetic; Python ints replay it exactly,
    and `ord` is the same code-point semantics as the oracle's
    `UNICODE()` (and `F.ascii` on the retired path).  Counting and the
    n2 sum of squares are exact ints.  The input is spread across the
    session's parallelism first — the single-row-group fixture scan
    would otherwise feed ONE Python task (the same reason the retired
    expression pipeline was single-threaded until its groupBy)."""
    from mysql_postgres_debezium_cdc_spark.sources.parquet import spread_small_scan

    def _dims(batches):
        import pandas as pd

        memo: dict[str, int] = {}

        def dim_of(tok: str) -> int:
            d = memo.get(tok)
            if d is None:
                acc = 0
                for ch in tok:
                    acc = (acc * 31 + ord(ch)) % _RAG_PRIME
                d = acc % RAG_DIMS
                memo[tok] = d
            return d

        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids: list[int] = []
            n2s: list[int] = []
            dims: list[int] = []
            cnts: list[int] = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
                counts: dict[int, int] = {}
                for t in toks:
                    d = dim_of(t)
                    counts[d] = counts.get(d, 0) + 1
                n2 = sum(c * c for c in counts.values())
                doc_ids.extend([doc_id] * len(counts))
                n2s.extend([n2] * len(counts))
                dims.extend(counts.keys())
                cnts.extend(counts.values())
            yield pd.DataFrame(
                {"doc_id": doc_ids, "n2": n2s, "dim": dims, "cnt": cnts}
            )

    return spread_small_scan(base.select("doc_id", "toks")).mapInPandas(
        _dims, schema="doc_id long, n2 long, dim long, cnt long"
    )


@register(
    "rag_rrf_fusion",
    bench=True,
    oracle=_RRF_ORACLE,
    tags=("llm", "similarity", "rag", "fusion"),
)
def rag_rrf_fusion(
    spark: SparkSession,
    sf_dir: str,
    terms_df: DataFrame | None = None,
    dims_df: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a LEXICAL retriever
    (distinct-term overlap via an inverted index — the BM25 shape with
    integer scores, so ranks are exactly deterministic) and a DENSE
    retriever (hashing-trick document vectors, cosine — the
    [[corpus_rag_retrieval]] encoder at document granularity) each
    contribute their top-RRF_POOL per query; candidates fuse by
    Σ 1/(60 + rank) over the retrievers that returned them (Cormack et
    al.'s RRF, the standard hybrid-search combiner), top-RRF_TOPK
    reported.  Null lex_rank/dense_rank in the output shows WHICH
    retriever found each hit — exactly the audit a hybrid index needs.

    Scale shape: the query cohort is a FIXED-SIZE batch (RAG_QUERY_CAP
    — a cohort that scaled with the corpus would make all-pairs dense
    scoring quadratic; the r5 10× probe measured it, PLANS.md), so
    every q-side relation derives from a pushdown-filtered scan and
    broadcasts; both retrievers are inverted-index equi-joins (term /
    hash-dim key) whose corpus side streams with map-side-combining
    aggregation, the hashed-vector relation single-consumer with its
    norm inline (r13); per-query top-P is WindowGroupLimit-pruned; fusion
    itself runs on ≤ 2·RRF_POOL rows per query.  Float parity: ranks
    are integers, fusion scores are
    sums of two exactly-rounded rationals computed in identical
    expression order — deterministic across engines without rounding
    tricks (output rounds 6dp for presentation only).

    ``terms_df`` / ``dims_df`` substitute PERSISTED index relations for
    the two corpus-side builds (see [[rag_rrf_persisted_index]]); the
    defaults build them inline from the document scan."""
    base = _rrf_tokenized(spark, sf_dir)
    is_q = (F.col("doc_id") % RAG_QUERY_MOD == RAG_QUERY_REM) & (
        F.col("doc_id") < RAG_QUERY_CAP
    )
    # Every q-side relation derives from a SEPARATE filtered scan: the
    # cohort predicate pushes down to parquet, so re-tokenizing the ≤50
    # query docs is near-free — where filtering the corpus-side subtree
    # instead would re-run the full tokenize/hash pipeline per consumer
    # (the r5 10x probe caught exactly that: 175 s -> 43 s, PLANS.md).
    qbase = base.where(is_q)

    terms = terms_df if terms_df is not None else _rrf_terms_relation(base)
    qterms = qbase.select(
        F.col("doc_id").alias("q_doc"),
        F.explode(F.array_distinct("toks")).alias("tok"),
    )
    lex = (
        terms.join(F.broadcast(qterms), "tok")
        .where(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", "doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    lw = Window.partitionBy("q_doc").orderBy(F.desc("overlap"), F.asc("doc_id"))
    lex_rk = (
        lex.withColumn("lex_rank", F.row_number().over(lw).cast("bigint"))
        .where(F.col("lex_rank") <= RRF_POOL)
        .select("q_doc", "doc_id", "lex_rank")
    )

    # r13: the kernel attaches the per-doc squared norm n2 inline, so
    # the hashed-vector relation has exactly ONE consumer (the
    # dot-product join) — the r12 `nrm` groupBy (corpus-sized
    # exchange), its join back onto the scored pairs, and the eager
    # localCheckpoint that existed only to share the relation between
    # two consumers are all gone.  The checkpoint's disappearance also
    # makes the kernel stage plan-visible again (the r12 dumps showed
    # only ExistingRDD here).
    dims = dims_df if dims_df is not None else _rrf_dims_relation(base)
    qdims = (
        qbase.select(F.col("doc_id").alias("q_doc"), F.explode("toks").alias("tok"))
        .select("q_doc", (_rrf_horner(F.col("tok")) % RAG_DIMS).alias("dim"))
        .groupBy("q_doc", "dim")
        .agg(F.count(F.lit(1)).alias("qcnt"))
    )
    qnrm = qdims.groupBy("q_doc").agg(
        F.sum(F.col("qcnt") * F.col("qcnt")).cast("bigint").alias("qn2")
    )
    # n2 joins the grouping key: functionally dependent on doc_id, so
    # the aggregate's cardinality is unchanged (the jaccard-family
    # group-with-sizes device).
    dots = (
        dims.join(F.broadcast(qdims), "dim")
        .where(F.col("doc_id") != F.col("q_doc"))
        .groupBy("q_doc", "doc_id", "n2")
        .agg(F.sum(F.col("qcnt") * F.col("cnt")).cast("bigint").alias("dot"))
    )
    cs = F.col("dot").cast("double") / (
        F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("n2").cast("double"))
    )
    dw = Window.partitionBy("q_doc").orderBy(F.desc("cs"), F.asc("doc_id"))
    dense_rk = (
        dots.join(F.broadcast(qnrm), "q_doc")
        .withColumn("cs", cs)
        .withColumn("dense_rank", F.row_number().over(dw).cast("bigint"))
        .where(F.col("dense_rank") <= RRF_POOL)
        .select("q_doc", "doc_id", "dense_rank")
    )

    fused = (
        lex_rk.join(dense_rk, ["q_doc", "doc_id"], "full_outer")
        .select(
            "q_doc",
            F.col("doc_id").alias("hit_doc"),
            "lex_rank",
            "dense_rank",
            (
                F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_C) + F.col("dense_rank")), F.lit(0.0)
                )
            ).alias("score"),
        )
    )
    fw = Window.partitionBy("q_doc").orderBy(F.desc("score"), F.asc("hit_doc"))
    return (
        fused.withColumn("rk", F.row_number().over(fw).cast("bigint"))
        .where(F.col("rk") <= RRF_TOPK)
        .select(
            "q_doc", "rk", "hit_doc", "lex_rank", "dense_rank",
            F.round("score", 6).alias("rrf_score"),
        )
        .orderBy("q_doc", "rk")
    )


@register(
    "rag_rrf_persisted_index",
    oracle=_RRF_ORACLE,
    tags=("llm", "similarity", "rag", "fusion", "index"),
)
def rag_rrf_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF retrieval over PERSISTED indexes — the steady-state
    serving path: the two corpus-side relations (the lexical inverted
    index and the hashed-vector sparse counts — the expensive per-token
    builds) are written ONCE per corpus version (materialize_once:
    staged write + atomic rename, keyed by fixture fingerprint) and
    every subsequent query batch reads the index parquet, never
    re-tokenizing or re-hashing the corpus.  This is the pattern
    [[ann_ivfpq_persisted_index]] established for the PQ index, applied
    to retrieval: index build amortizes across query batches instead of
    repeating per invocation.

    Identical math to [[rag_rrf_fusion]] (same oracle TEXT certifies
    both): the index rows are pure integers (doc_id, tok string /
    hash-dim, count) that round-trip parquet exactly, downstream
    cosine/fusion arithmetic is the same expression tree, so the
    persisted path is bit-identical to the inline path — the equality
    that licenses swapping one for the other in a serving tier."""
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    terms_path = materialize_once(
        sf_dir,
        "rrf_terms",
        lambda p: _rrf_terms_relation(_rrf_tokenized(spark, sf_dir))
        .write.mode("overwrite")
        .parquet(p),
    )
    # kind bumped with the r13 schema change (n2 rides inline): a
    # scratch dir written by the pre-n2 code must not be served to
    # code that expects the wider relation.
    dims_path = materialize_once(
        sf_dir,
        "rrf_dims_n2",
        lambda p: _rrf_dims_relation(_rrf_tokenized(spark, sf_dir))
        .write.mode("overwrite")
        .parquet(p),
    )
    return rag_rrf_fusion(
        spark,
        sf_dir,
        terms_df=spark.read.parquet(terms_path),
        dims_df=spark.read.parquet(dims_path),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized ADC scoring inside probed coarse cells, then
# exact re-rank of the shortlist — the faiss-style index layout at 100 TB.
# ---------------------------------------------------------------------------

PQ_M = 8  # subvectors per embedding
PQ_D = 8  # dims per subvector (PQ_M * PQ_D = 64)
PQ_K = 8  # codewords per subvector
PQ_BASE = 200  # vec_id range [PQ_BASE, PQ_BASE + PQ_K) donates the codebooks
PQ_RERANK = 32  # ADC shortlist depth fed to exact re-ranking

# (sf_dir, fixture fingerprint) -> {j: 64-dim double list}: frozen codebook
# donors per corpus VERSION — the same fingerprint key materialize_once
# uses, so a regenerated embeddings fixture gets a fresh codebook instead
# of silently encoding with a stale one (ADVICE r4).
_PQ_CODEBOOK_CACHE: dict[tuple[str, str], dict[int, list]] = {}

_FOLD_ADD = "(acc, x) -> acc + x"


def _l2sq_sql(a: str, b: str) -> str:
    """Ordered left-fold of squared differences over two DuckDB lists."""
    terms = f"[({a}[i]-{b}[i])*({a}[i]-{b}[i]) FOR i IN RANGE(1, {PQ_D}+1)]"
    return f"LIST_REDUCE(LIST_PREPEND(0.0, {terms}), {_FOLD_ADD})"


def _fold_add_sql(listexpr: str) -> str:
    return f"LIST_REDUCE(LIST_PREPEND(0.0, {listexpr}), {_FOLD_ADD})"


_IVFPQ_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ms AS (SELECT UNNEST(RANGE(0, {PQ_M})) AS m),
    cwn AS (
      SELECT vec_id - {PQ_BASE} AS j, m,
             emb[m*{PQ_D}+1 : m*{PQ_D}+{PQ_D}] AS sub,
             {_fold_add_sql(f"[x*x FOR x IN emb[m*{PQ_D}+1 : m*{PQ_D}+{PQ_D}]]")} AS selfdot
      FROM e, ms WHERE vec_id >= {PQ_BASE} AND vec_id < {PQ_BASE + PQ_K}
    ),
    subs AS (
      SELECT e.vec_id, ms.m, e.emb[ms.m*{PQ_D}+1 : ms.m*{PQ_D}+{PQ_D}] AS sub
      FROM e, ms
    ),
    dists AS (
      SELECT s.vec_id, s.m, c.j, c.selfdot,
             {_l2sq_sql("s.sub", "c.sub")} AS d2
      FROM subs s JOIN cwn c USING (m)
    ),
    codes AS (
      SELECT vec_id, m, j AS code, selfdot
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rk
            FROM dists)
      WHERE rk = 1
    ),
    pqn AS (
      SELECT vec_id,
             SQRT({_fold_add_sql("LIST(selfdot ORDER BY m)")}) AS pq_nrm
      FROM codes GROUP BY vec_id
    ),
    cent AS (
      SELECT vec_id - {CENTROID_BASE} AS cid, emb AS c_emb
      FROM e WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + N_CELLS}
    ),
    scored_cells AS (
      SELECT e.vec_id, cent.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY LIST_DOT_PRODUCT(e.emb, cent.c_emb) /
                        (SQRT(LIST_DOT_PRODUCT(e.emb, e.emb)) *
                         SQRT(LIST_DOT_PRODUCT(cent.c_emb, cent.c_emb))) DESC, cent.cid
             ) AS crk
      FROM e CROSS JOIN cent
    ),
    assign AS (SELECT vec_id, cid FROM scored_cells WHERE crk = 1),
    probes AS (
      SELECT vec_id AS q_id, cid FROM scored_cells
      WHERE crk <= {N_PROBE} AND vec_id < {N_QUERIES}
    ),
    dtab AS (
      SELECT s.vec_id AS q_id, s.m, c.j,
             LIST_DOT_PRODUCT(s.sub, c.sub) AS pdot
      FROM subs s JOIN cwn c USING (m)
      WHERE s.vec_id < {N_QUERIES}
    ),
    qn AS (
      SELECT vec_id AS q_id, SQRT(LIST_DOT_PRODUCT(emb, emb)) AS q_nrm
      FROM e WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.q_id, a.vec_id AS c_id
      FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.q_id
    ),
    adc AS (
      SELECT cd.q_id, cd.c_id,
             {_fold_add_sql("LIST(dt.pdot ORDER BY k.m)")} AS adc_dot
      FROM cand cd
      JOIN codes k ON k.vec_id = cd.c_id
      JOIN dtab dt ON dt.q_id = cd.q_id AND dt.m = k.m AND dt.j = k.code
      GROUP BY cd.q_id, cd.c_id
    ),
    shortlist AS (
      SELECT q_id, c_id
      FROM (SELECT a.q_id, a.c_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.q_id
                     ORDER BY a.adc_dot / (qn.q_nrm * p.pq_nrm) DESC, a.c_id
                   ) AS crank
            FROM adc a JOIN qn USING (q_id) JOIN pqn p ON p.vec_id = a.c_id)
      WHERE crank <= {PQ_RERANK}
    ),
    scored AS (
      SELECT s.q_id, s.c_id,
             ROUND(LIST_DOT_PRODUCT(q.emb, v.emb) /
                   (SQRT(LIST_DOT_PRODUCT(q.emb, q.emb)) *
                    SQRT(LIST_DOT_PRODUCT(v.emb, v.emb))), 4) AS cos_sim
      FROM shortlist s
      JOIN e q ON q.vec_id = s.q_id
      JOIN e v ON v.vec_id = s.c_id
    ),
    ranked AS (
      SELECT q_id, c_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rk
      FROM scored
    )
    SELECT q_id, c_id, cos_sim, rk FROM ranked WHERE rk <= {TOP_K}
    ORDER BY q_id, rk
    """


@register(
    "ann_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    tags=("llm", "similarity", "ivf", "pq"),
    bench=True,
)
def ann_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    index_df: DataFrame | None = None,
    _return_index: bool = False,
) -> DataFrame:
    """IVF-PQ ANN: coarse cells bound WHICH vectors are scored, product
    quantization bounds WHAT is read to score them, exact cosine re-ranks
    only the shortlist — the three-tier faiss IndexIVFPQ layout expressed
    as a DataFrame plan.

    - **Codebooks are literals, encoding is a pure map.**  The M×K
      codebook (8 subvectors × 8 codewords × 8 dims = 512 doubles,
      donated deterministically by vectors [PQ_BASE, PQ_BASE+PQ_K) — the
      same stand-in-for-k-means device as ``ann_ivf_topk``'s centroids)
      is collected once and inlined into the encoding projection, so
      code assignment is argmin over K literal codewords per subvector:
      a narrow, shuffle-free, whole-stage-codegen map over the corpus.
      That is the production shape — faiss trains ~KB-sized codebooks
      and ships them to every worker; an N×M explode+join encode would
      shuffle the corpus eight times for no reason.
    - **The index is 64× smaller than the vectors.**  A vector's index
      entry is M=8 single-byte codes + one norm, vs 64 floats — at
      100 TB of embeddings the PQ index is ~1.6 TB, which is what makes
      cell-probing I/O-feasible at all.
    - **ADC scoring reads only codes.**  Each query precomputes an M×K
      table of partial dots against the codebook (tiny, rides in the
      broadcast probe side); a candidate's approximate dot is M array
      lookups folded in subvector order — no per-candidate float vector
      is touched until the ≤ PQ_RERANK shortlist re-ranks exactly.
    - **Every float fold is order-pinned** (encode argmin distances,
      codeword self-dots, the ADC sum, both norms), so the DuckDB
      oracle reproduces the candidate sets and the final ranking bit
      for bit — the whole index pipeline is value-checked, not just
      rows-counted.  Recall vs ``ann_bruteforce_topk`` is measured in
      tests/test_llm_similarity.py.
    """
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        _as_double("embedding").alias("emb"),
        _norm(_as_double("embedding")).alias("nrm"),
    )

    # --- codebook: collect PQ_K donor vectors, slice into M×K subvectors.
    # Cached per corpus VERSION: a PQ codebook is trained/frozen once and
    # shipped with the index — re-collecting it on every plan build would
    # add a Spark job per query for a constant 512-double artifact — but
    # the key includes the fixture fingerprint so a regenerated parquet
    # invalidates the entry (same versioning materialize_once uses).
    from mysql_postgres_debezium_cdc_spark.scratch import fixture_fingerprint

    cache_key = (sf_dir, fixture_fingerprint(sf_dir))
    donors = _PQ_CODEBOOK_CACHE.get(cache_key)
    if donors is None:
        donors = {
            int(r["vec_id"]) - PQ_BASE: list(r["emb"])
            for r in e.where(
                (F.col("vec_id") >= PQ_BASE) & (F.col("vec_id") < PQ_BASE + PQ_K)
            )
            .select("vec_id", "emb")
            .collect()
        }
        if len(donors) != PQ_K:
            raise ValueError(
                f"PQ codebook donors missing: need vec_ids "
                f"[{PQ_BASE}, {PQ_BASE + PQ_K}) in {sf_dir}/embeddings, "
                f"found {sorted(donors)} — a real deployment loads a "
                f"TRAINED codebook artifact here instead"
            )
        _PQ_CODEBOOK_CACHE[cache_key] = donors
    # cw[m][j] = 8-dim codeword; selfdot via the same left fold both
    # engines run (ordered IEEE double adds from 0.0).
    cw = [[donors[j][m * PQ_D : (m + 1) * PQ_D] for j in range(PQ_K)] for m in range(PQ_M)]

    def _py_fold(vals):
        acc = 0.0
        for v in vals:
            acc += v
        return acc

    selfdot = [[_py_fold([x * x for x in cw[m][j]]) for j in range(PQ_K)] for m in range(PQ_M)]

    def _fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    # r13: encode and qtab run as Arrow kernels CLOSING OVER the
    # collected codebook, replacing the 3-level 512-double literal +
    # nested-lambda expression trees.  Those trees were measured at
    # ~1.05 s of driver-side Catalyst ANALYSIS per plan build — half
    # the whole query at sf0.1 — and the interpreted folds they drove
    # (M·K l2 folds per corpus vector) were the per-row CPU.  The
    # kernels replay every fold in its pinned order: the l2 fold
    # accumulates (x−y)² in k-ascending order from 0.0, argmin ties
    # break to the smallest j via strict-less updates (== the retired
    # array_position-of-min), pq_nrm folds selfdot[m][code_m] in
    # m-ascending order, and qtab folds x·y in k order — all float64,
    # bit-identical to the retired expressions and the DuckDB oracle
    # (guide §4.2; the lsh_signatures ordered-accumulation device).
    def _encode_gen(batches):
        import numpy as np
        import pandas as pd

        cwa = [[list(map(float, cw[m][j])) for j in range(PQ_K)] for m in range(PQ_M)]
        sda = [list(map(float, selfdot[m])) for m in range(PQ_M)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["emb"].to_numpy()).astype("float64")
            n = len(E)
            codes = np.zeros((n, PQ_M), dtype=np.int32)
            nrm_acc = np.zeros(n)
            for m in range(PQ_M):
                sub = E[:, m * PQ_D : (m + 1) * PQ_D]
                best = np.full(n, np.inf)
                bj = np.zeros(n, dtype=np.int32)
                for j in range(PQ_K):
                    acc = np.zeros(n)
                    for k in range(PQ_D):
                        d = sub[:, k] - cwa[m][j][k]
                        acc += d * d
                    upd = acc < best
                    best[upd] = acc[upd]
                    bj[upd] = j
                codes[:, m] = bj
                nrm_acc += np.array(sda[m])[bj]
            yield pd.DataFrame(
                {
                    "c_id": pdf["c_id"].to_numpy(),
                    "cid": pdf["cid"].to_numpy(),
                    "codes": list(codes),
                    "pq_nrm": np.sqrt(nrm_acc),
                }
            )

    def _qtab_gen(batches):
        import numpy as np
        import pandas as pd

        cwa = [[list(map(float, cw[m][j])) for j in range(PQ_K)] for m in range(PQ_M)]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["emb"].to_numpy()).astype("float64")
            n = len(E)
            qtabs = []
            for m in range(PQ_M):
                sub = E[:, m * PQ_D : (m + 1) * PQ_D]
                row_m = []
                for j in range(PQ_K):
                    acc = np.zeros(n)
                    for k in range(PQ_D):
                        acc += sub[:, k] * cwa[m][j][k]
                    row_m.append(acc)
                qtabs.append(row_m)
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(),
                    "cid": pdf["cid"].to_numpy(),
                    "qtab": [
                        [[qtabs[m][j][i] for j in range(PQ_K)] for m in range(PQ_M)]
                        for i in range(n)
                    ],
                    "q_nrm": pdf["q_nrm"].to_numpy(),
                }
            )

    # --- coarse quantizer: identical cell math to ann_ivf_topk, with
    # two r13 changes: the probe side ranks cells over a 10-row
    # pushdown-filtered scan instead of re-running the corpus×16
    # crossJoin (the r12 plan computed scored_cells once PER consumer —
    # no ReusedExchange), and everything downstream of the cell rank is
    # a kernel.
    cent = e.where(
        (F.col("vec_id") >= CENTROID_BASE) & (F.col("vec_id") < CENTROID_BASE + N_CELLS)
    ).select(
        (F.col("vec_id") - CENTROID_BASE).cast("int").alias("cid"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    ccos = cosine_from_norms(_dot(F.col("emb"), F.col("c_emb")), F.col("nrm"), F.col("c_nrm"))
    cw_win = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))

    def _ranked_cells(vecs: DataFrame) -> DataFrame:
        return (
            vecs.crossJoin(F.broadcast(cent))
            .select("vec_id", "cid", "emb", "nrm", ccos.alias("ccos"))
            .withColumn("crk", F.row_number().over(cw_win))
        )

    # Index side: cell assignment + PQ codes, never the full vector again.
    # ``index_df`` substitutes a PERSISTED index relation (see
    # ann_ivfpq_persisted_index); ``_return_index`` exposes the relation
    # for that variant's one-time build.
    if index_df is not None:
        assign = index_df
    else:
        assign = (
            _ranked_cells(e)
            .where(F.col("crk") == 1)
            .select(F.col("vec_id").alias("c_id"), "cid", "emb")
            .mapInPandas(
                _encode_gen,
                schema="c_id long, cid int, codes array<int>, pq_nrm double",
            )
        )
    if _return_index:
        return assign

    # Probe side: queries carry their ADC table qtab[m][j] = dot(qsub_m, cw[m][j]).
    # The window here ranks |queries|×16 rows — query-cohort-sized, not
    # corpus-sized (crk is per-vector, so ranking the filtered scan is
    # value-identical to filtering the corpus-wide ranking).
    probes = (
        _ranked_cells(e.where(F.col("vec_id") < N_QUERIES))
        .where(F.col("crk") <= N_PROBE)
        .select(F.col("vec_id").alias("q_id"), "cid", "emb", F.col("nrm").alias("q_nrm"))
        .mapInPandas(
            _qtab_gen,
            schema="q_id long, cid int, qtab array<array<double>>, q_nrm double",
        )
    )

    # --- ADC: M array lookups folded in subvector order.
    adc_dot = _fold(F.zip_with(F.col("codes"), F.col("qtab"), lambda c, row: F.get(row, c)))
    shortlist_w = Window.partitionBy("q_id").orderBy(F.desc("approx_cos"), F.asc("c_id"))
    shortlist = (
        assign.join(F.broadcast(probes), "cid")
        .where(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            (adc_dot / (F.col("q_nrm") * F.col("pq_nrm"))).alias("approx_cos"),
        )
        .withColumn("crank", F.row_number().over(shortlist_w))
        .where(F.col("crank") <= PQ_RERANK)
        .select("q_id", "c_id")
    )

    # --- exact re-rank of the shortlist only.
    cs = cosine_from_norms(_dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm"), F.col("c_nrm"))
    rank_w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        shortlist.join(
            e.select(
                F.col("vec_id").alias("c_id"),
                F.col("emb").alias("c_emb"),
                F.col("nrm").alias("c_nrm"),
            ),
            "c_id",
        )
        .join(
            F.broadcast(
                e.where(F.col("vec_id") < N_QUERIES).select(
                    F.col("vec_id").alias("q_id"),
                    F.col("emb").alias("q_emb"),
                    F.col("nrm").alias("q_nrm"),
                )
            ),
            "q_id",
        )
        .select("q_id", "c_id", F.round(cs, 4).alias("cos_sim"))
        .withColumn("rk", F.row_number().over(rank_w).cast("bigint"))
        .where(F.col("rk") <= TOP_K)
        .orderBy("q_id", "rk")
    )


@register(
    "ann_ivfpq_persisted_index",
    oracle=_IVFPQ_ORACLE,
    tags=("llm", "similarity", "ivf", "pq", "index"),
)
def ann_ivfpq_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over a PERSISTED index — the steady-state serving path:
    the (cell, codes, norm) relation is built ONCE per corpus version
    (materialize_once: staged write + atomic rename, keyed by fixture
    fingerprint) and every subsequent query reads the index parquet,
    never re-encoding the corpus.  The index entry is ~12 bytes per
    vector vs 256 for the raw floats; raw vectors are touched only by
    the ≤ PQ_RERANK re-rank join (plan-asserted: the main candidate
    scan reads codes, not embeddings).

    Identical math to [[ann_ivfpq_topk]] (same oracle TEXT certifies
    both): codes and norms round-trip parquet exactly (int32/float64),
    so the persisted path is bit-identical to the inline path — that
    equality is what licenses swapping one for the other in a serving
    tier."""
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    path = materialize_once(
        sf_dir,
        "ivfpq_index",
        lambda p: ann_ivfpq_topk(spark, sf_dir, _return_index=True)
        .write.mode("overwrite")
        .parquet(p),
    )
    return ann_ivfpq_topk(spark, sf_dir, index_df=spark.read.parquet(path))


# ---------------------------------------------------------------------------
# kNN label evaluation: the embedding-quality metric a training pipeline
# tracks across checkpoint exports (kNN-probe accuracy).
# ---------------------------------------------------------------------------

KNN_EVAL_N = 50  # vec_id < KNN_EVAL_N form the fixed evaluation slice
KNN_K = 5


@register(
    "ann_knn_label_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS true_label
          FROM e WHERE vec_id < {KNN_EVAL_N}),
    scored AS (
      SELECT q.q_id, q.true_label, c.label AS c_label,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY LIST_DOT_PRODUCT(q.q_emb, c.emb) /
                        (SQRT(LIST_DOT_PRODUCT(q.q_emb, q.q_emb)) *
                         SQRT(LIST_DOT_PRODUCT(c.emb, c.emb))) DESC, c.vec_id
             ) AS rk
      FROM q JOIN e c ON c.vec_id <> q.q_id
    ),
    votes AS (
      SELECT q_id, true_label, c_label, COUNT(*) AS n
      FROM scored WHERE rk <= {KNN_K}
      GROUP BY q_id, true_label, c_label
    ),
    pred AS (
      SELECT q_id, true_label,
             MAX_BY(c_label, n * 1000 - c_label) AS pred_label
      FROM votes GROUP BY q_id, true_label
    )
    SELECT true_label AS label,
           COUNT(*) AS n_eval,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS accuracy
    FROM pred
    GROUP BY true_label
    ORDER BY label
    """,
    tags=("llm", "similarity", "eval"),
)
def ann_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-probe evaluation: per-class accuracy of a k=5 cosine nearest-
    neighbor classifier over a FIXED eval slice (vec_id < KNN_EVAL_N) —
    the standard embedding-quality metric tracked across model
    checkpoints (does a new encoder still cluster labels?).

    Scale shape is the brute-force ANN's: the eval slice is fixed-size
    by construction (never grows with SF — the slice, not a fraction,
    so the broadcast side stays bounded; cf. the forced-broadcast rule),
    candidates stream once, scoring is JVM-side ordered dots, and
    per-query state after the scan is k rows via the window top-k.
    Majority vote resolves ties to the SMALLEST label (max_by over the
    single integer key count*1000 - label, since DuckDB's MAX_BY takes
    no composite keys) — deterministic in both engines, same device as
    [[agg_mode_deterministic]].  On the synthetic fixture labels are
    independent of the embeddings, so accuracy sits at chance (~0.1) —
    the harness certifies the metric pipeline, not the embeddings."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        _as_double("embedding").alias("emb"),
        _norm(_as_double("embedding")).alias("nrm"),
    )
    q = e.where(F.col("vec_id") < KNN_EVAL_N).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cs = cosine_from_norms(_dot(F.col("q_emb"), F.col("emb")), F.col("q_nrm"), F.col("nrm"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    neighbors = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "true_label", F.col("label").alias("c_label"), cs.alias("cos"), "vec_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= KNN_K)
    )
    pred = (
        neighbors.groupBy("q_id", "true_label", "c_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("q_id", "true_label")
        .agg(F.max_by("c_label", F.col("n") * 1000 - F.col("c_label")).alias("pred_label"))
    )
    correct = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(correct).cast("bigint").alias("n_correct"),
        )
        .select(
            "label",
            "n_eval",
            "n_correct",
            F.round(F.col("n_correct").cast("double") / F.col("n_eval"), 4).alias("accuracy"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: the contrastive-training data op.
# ---------------------------------------------------------------------------

HN_QUERIES = 30  # anchors: vec_id < HN_QUERIES
HN_K = 5  # hard negatives mined per anchor


@register(
    "embedding_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {HN_QUERIES}
    ),
    c AS (
      SELECT vec_id AS neg_id, label AS neg_label,
             embedding::DOUBLE[] AS c_emb
      FROM embeddings
    ),
    scored AS (
      SELECT q_id, neg_id, neg_label,
             ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                   (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                    SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))), 4) AS cos_sim
      FROM q JOIN c ON neg_id <> q_id AND neg_label <> q_label
    ),
    ranked AS (
      SELECT q_id, neg_id, neg_label, cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, neg_id) AS rk
      FROM scored
    )
    SELECT q_id, rk, neg_id, neg_label, cos_sim
    FROM ranked WHERE rk <= {HN_K}
    ORDER BY q_id, rk
    """,
    tags=("llm", "similarity", "training"),
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: for each anchor
    (the fixed vec_id < HN_QUERIES slice), the HN_K most-similar
    vectors with a DIFFERENT label — the near-miss negatives a
    retrieval/embedding trainer pairs with each anchor so the loss
    pushes on the actual decision boundary instead of easy random
    negatives (the curation step behind every dense-retriever recipe).

    Scale shape is the brute-force ANN's (fixed-size anchor slice
    broadcast, candidate side streams once, WindowGroupLimit keeps
    per-anchor state at k rows); the label inequality rides the same
    streamed pass as a cheap residual predicate.  At corpus scale the
    candidate stream swaps for the IVF/PQ shortlist exactly as
    [[ann_ivfpq_topk]] does for top-k — mining is retrieval with a
    label filter.  Ranks order by the ROUNDED similarity (4dp) with
    neg_id tie-break in BOTH engines, the ann-family determinism
    contract."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < HN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        _as_double("embedding").alias("q_emb"),
        _norm(_as_double("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        _as_double("embedding").alias("c_emb"),
        _norm(_as_double("embedding")).alias("c_nrm"),
    )
    cs = cosine_from_norms(
        _dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm"), F.col("c_nrm")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("neg_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .where(
            (F.col("neg_id") != F.col("q_id"))
            & (F.col("neg_label") != F.col("q_label"))
        )
        .select("q_id", "neg_id", "neg_label", F.round(cs, 4).alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= HN_K)
        .select("q_id", "rk", "neg_id", "neg_label", "cos_sim")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval + MMR diversified re-ranking.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5


@register(
    "rag_bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM d),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM d, UNNEST(toks) AS u(tok)
      GROUP BY 1, 2
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    qterms AS (
      SELECT doc_id AS q_doc, UNNEST(LIST_DISTINCT(toks)) AS tok FROM d
      WHERE doc_id % {RAG_QUERY_MOD} = {RAG_QUERY_REM}
        AND doc_id < {RAG_QUERY_CAP}
    ),
    contrib AS (
      -- Deliberately UNPRUNED: the oracle floors stopword-grade idf to
      -- exactly 0 over ALL query-term postings; the engine instead
      -- drops 2*df >= n_docs terms before the postings join.  Hash
      -- equality between the two therefore PROVES the df-cap is
      -- score-neutral (VERDICT r10 task #3).
      SELECT q.q_doc, t.doc_id,
             CAST(ROUND(
               GREATEST(0.0, LN((s.n_docs - f.df + 0.5) / (f.df + 0.5)))
               * (t.tf * ({BM25_K1} + 1.0))
               / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
               * 1000000) AS BIGINT) AS c
      FROM qterms q
      JOIN tf t ON t.tok = q.tok AND t.doc_id <> q.q_doc
      JOIN df f ON f.tok = q.tok
      JOIN dl l ON l.doc_id = t.doc_id
      CROSS JOIN stats s
    ),
    scores AS (
      SELECT q_doc, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
      FROM contrib GROUP BY 1, 2 HAVING SUM(c) > 0
    )
    SELECT q_doc, doc_id AS hit_doc, score_micro, rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_doc ORDER BY score_micro DESC, doc_id) AS rk
      FROM scores
    )
    WHERE rk <= {BM25_TOPK}
    ORDER BY q_doc, rk
    """,
    tags=("llm", "retrieval", "bm25"),
    bench=True,
)
def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: per query document, the top-{BM25_TOPK}
    corpus documents by Okapi BM25 with k1={BM25_K1}, b={BM25_B} — the
    full-weighted retriever the [[rag_rrf_fusion]] lexical arm
    approximates with raw term overlap.  idf is the CLASSIC
    Robertson-Sparck Jones form floored at zero,
    max(0, ln((N − df + ½)/(df + ½))) — not the Lucene +1 smoothing —
    so a term in at least half the corpus contributes EXACTLY 0 to
    every score; tf is saturated and length-normalized against the
    corpus average document length.

    df-cap (VERDICT r10 task #3): because the floor zeroes df ≥ N/2
    terms, the engine drops them from the QUERY side before the
    postings join — the exact-integer predicate 2·df < n_docs is
    idf > 0 rearranged, so pruning is score-neutral BY THEOREM, and
    the oracle proves it empirically by scoring the UNPRUNED postings
    through the explicit GREATEST(0, ·) floor: the value hash can only
    match if the dropped postings contribute nothing.  Docs whose
    every shared term is floored score 0 and are excluded in both
    engines (HAVING SUM(c) > 0 / score_micro > 0), keeping the output
    sets identical.  This bounds the r10 100×-probe pathology — a
    dense synthetic vocabulary where every doc sits in every posting
    list — to the rare-term postings envelope: stopword-grade posting
    lists (the Θ(N)-long ones) never leave the broadcast side.

    Scale shape: the corpus passes are the inverted-index builds — tf
    per (doc, term) with doc length carried in the grouping key (no
    second dl join on the fact side) and the vocab-sized df roll-up,
    both map-side combined.  The query cohort is the fixed-size RRF
    batch, so q-term relations broadcast; df joins the BROADCAST query
    terms BEFORE touching the posting lists, and the df-cap filters
    that broadcast, so only RARE query-term postings flow into
    scoring.  The 1-row ``stats`` relation is persisted (two
    consumers: the cap predicate and the scoring crossJoin — the
    justified-persist rule).  At 100 TB: identical — posting-list
    equi-joins, candidate relation sized by rare-term postings of the
    query batch, never the corpus.

    Exactness: each term's contribution rounds to integer MICRO-units
    (never near the .5 grid — idf·tfn is log-valued) and the document
    score is a BIGINT SUM of those integers, so summation order cannot
    perturb the hash (the raw-double-sum trap the registry determinism
    rules pin).  avgdl is an exact-integer-sum / count in both
    engines."""
    base = _rrf_tokenized(spark, sf_dir)
    dl = base.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).persist()
    tf = (
        base.select(
            "doc_id",
            F.size("toks").cast("bigint").alias("dl"),
            F.explode("toks").alias("tok"),
        )
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df_rel = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    is_q = (F.col("doc_id") % RAG_QUERY_MOD == RAG_QUERY_REM) & (
        F.col("doc_id") < RAG_QUERY_CAP
    )
    qterms = base.where(is_q).select(
        F.col("doc_id").alias("q_doc"),
        F.explode(F.array_distinct("toks")).alias("tok"),
    )
    # Only RARE query-term posting rows reach scoring: df joins the
    # broadcast query terms first, the score-neutral df-cap (2*df <
    # n_docs <=> idf > 0) filters the broadcast, and only then does the
    # posting-list join key on tok.
    q_with_df = F.broadcast(
        qterms.join(df_rel, "tok")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .where(F.col("df") * 2 < F.col("n_docs"))
        .drop("n_docs")
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfn = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    contrib = (
        tf.join(q_with_df, "tok")
        .where(F.col("doc_id") != F.col("q_doc"))
        .crossJoin(F.broadcast(stats))
        .select(
            "q_doc",
            "doc_id",
            F.round(idf * tfn * 1000000).cast("bigint").alias("c"),
        )
    )
    scores = (
        contrib.groupBy("q_doc", "doc_id")
        .agg(F.sum("c").cast("bigint").alias("score_micro"))
        .where(F.col("score_micro") > 0)
    )
    w = Window.partitionBy("q_doc").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= BM25_TOPK)
        .select("q_doc", F.col("doc_id").alias("hit_doc"), "score_micro", "rk")
        .orderBy("q_doc", "rk")
    )


MMR_POOL = 10  # relevance shortlist depth per query
MMR_K = 5  # diversified picks reported
MMR_LAMBDA_NUM = 7  # λ = 0.7 as exact integer weights: 7·rel − 3·maxsim


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: seed with the top-relevance candidate, then
    MMR_K-1 argmax rounds over integer ten-thousandth scores."""
    lam, div = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    base = f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
    scored AS (
      SELECT q_id, c_id,
             CAST(ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                   (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                    SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))) * 10000) AS BIGINT)
               AS rel_i
      FROM q JOIN c ON q_id <> c_id
    ),
    short AS (
      SELECT q_id, c_id, rel_i, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY rel_i DESC, c_id) AS rk
      FROM scored QUALIFY rk <= {MMR_POOL}
    ),
    pairs AS (
      SELECT s1.q_id, s1.c_id AS c_a, s2.c_id AS c_b,
             CAST(ROUND(LIST_DOT_PRODUCT(ea.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[]) /
                   (SQRT(LIST_DOT_PRODUCT(ea.embedding::DOUBLE[],
                                          ea.embedding::DOUBLE[])) *
                    SQRT(LIST_DOT_PRODUCT(eb.embedding::DOUBLE[],
                                          eb.embedding::DOUBLE[])))
                   * 10000) AS BIGINT) AS sim_i
      FROM short s1
      JOIN short s2 ON s2.q_id = s1.q_id AND s2.c_id <> s1.c_id
      JOIN embeddings ea ON ea.vec_id = s1.c_id
      JOIN embeddings eb ON eb.vec_id = s2.c_id
    ),
    sel1 AS (
      SELECT q_id, c_id, 1 AS pick_order, rel_i,
             CAST({lam} * rel_i AS BIGINT) AS mmr_i
      FROM short WHERE rk = 1
    ),
    rem1 AS (SELECT q_id, c_id, rel_i FROM short WHERE rk > 1)"""
    for t in range(2, MMR_K + 1):
        base += f""",
    score{t} AS (
      SELECT r.q_id, r.c_id, r.rel_i,
             CAST({lam} * r.rel_i - {div} * MAX(p.sim_i) AS BIGINT) AS mmr_i
      FROM rem{t - 1} r
      JOIN pairs p ON p.q_id = r.q_id AND p.c_a = r.c_id
      JOIN sel{t - 1} s ON s.q_id = p.q_id AND s.c_id = p.c_b
      GROUP BY r.q_id, r.c_id, r.rel_i
    ),
    pick{t} AS (
      SELECT q_id, c_id, {t} AS pick_order, rel_i, mmr_i FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY q_id ORDER BY mmr_i DESC, rel_i DESC, c_id) AS rr
        FROM score{t}
      ) WHERE rr = 1
    ),
    sel{t} AS (
      SELECT q_id, c_id, pick_order, rel_i, mmr_i FROM sel{t - 1}
      UNION ALL SELECT q_id, c_id, pick_order, rel_i, mmr_i FROM pick{t}
    ),
    rem{t} AS (
      SELECT r.q_id, r.c_id, r.rel_i FROM rem{t - 1} r
      WHERE NOT EXISTS (
        SELECT 1 FROM pick{t} p WHERE p.q_id = r.q_id AND p.c_id = r.c_id
      )
    )"""
    return base + f"""
    SELECT q_id, c_id, CAST(pick_order AS INT) AS pick_order, rel_i, mmr_i
    FROM sel{MMR_K}
    ORDER BY q_id, pick_order
    """


@register(
    "ann_mmr_diversified",
    oracle=_mmr_oracle(),
    tags=("llm", "similarity", "rerank", "iterative"),
)
def ann_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein):
    from each query's exact top-{MMR_POOL} relevance shortlist, greedily
    pick {MMR_K} results maximizing λ·relevance − (1−λ)·max-similarity-
    to-already-picked (λ=0.7) — the diversity re-rank a RAG serving
    layer runs so five near-duplicate passages don't fill the context
    window.  Pick order, relevance, and the MMR objective are all in
    the output.

    Scale shape: the CORPUS-sized stage is the relevance shortlist
    (broadcast queries × streamed scan, the [[ann_bruteforce_topk]]
    plan — or the LSH/IVF pruned variants, unchanged); everything after
    operates on |Q|·{MMR_POOL} rows.  The greedy loop is inherently
    sequential in k, so it runs as {MMR_K - 1} tiny DataFrame rounds
    (argmax window per query, all queries in parallel per round) with
    eager checkpoints keeping the plan shallow — never a driver-side
    collect of candidates.

    Exactness: the greedy compares INTEGER scores — cosines round to
    ten-thousandths (the 4dp family contract) and λ applies as exact
    integer weights (7·rel − 3·maxsim) — so the argmax cannot flicker
    on a float bit; ties break on (rel, c_id)."""
    lam, div = MMR_LAMBDA_NUM, 10 - MMR_LAMBDA_NUM
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        _as_double("embedding").alias("q_emb"),
        _norm(_as_double("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        _as_double("embedding").alias("c_emb"),
        _norm(_as_double("embedding")).alias("c_nrm"),
    )
    cs = cosine_from_norms(
        _dot(F.col("q_emb"), F.col("c_emb")), F.col("q_nrm"), F.col("c_nrm")
    )
    w_rel = Window.partitionBy("q_id").orderBy(F.desc("rel_i"), F.asc("c_id"))
    short = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(cs * 10000).cast("bigint").alias("rel_i"),
            "c_emb",
            "c_nrm",
        )
        .withColumn("rk", F.row_number().over(w_rel))
        .where(F.col("rk") <= MMR_POOL)
        .localCheckpoint(eager=True)
    )
    s1 = short.select("q_id", F.col("c_id").alias("c_a"), "c_emb", "c_nrm")
    s2 = short.select(
        "q_id",
        F.col("c_id").alias("c_b"),
        F.col("c_emb").alias("b_emb"),
        F.col("c_nrm").alias("b_nrm"),
    )
    pair_cs = cosine_from_norms(
        _dot(F.col("c_emb"), F.col("b_emb")), F.col("c_nrm"), F.col("b_nrm")
    )
    pairs = (
        s1.join(s2, "q_id")
        .where(F.col("c_a") != F.col("c_b"))
        .select(
            "q_id", "c_a", "c_b", F.round(pair_cs * 10000).cast("bigint").alias("sim_i")
        )
        .localCheckpoint(eager=True)
    )
    sel = short.where(F.col("rk") == 1).select(
        "q_id",
        "c_id",
        F.lit(1).alias("pick_order"),
        "rel_i",
        (F.lit(lam) * F.col("rel_i")).cast("bigint").alias("mmr_i"),
    )
    rem = short.where(F.col("rk") > 1).select("q_id", "c_id", "rel_i")
    w_pick = Window.partitionBy("q_id").orderBy(
        F.desc("mmr_i"), F.desc("rel_i"), F.asc("c_id")
    )
    for t in range(2, MMR_K + 1):
        # Pair rows whose "other end" is already selected, renamed to the
        # candidate's key so both joins are unambiguous name-equijoins.
        to_selected = pairs.join(
            sel.select(F.col("q_id"), F.col("c_id").alias("c_b")),
            ["q_id", "c_b"],
        ).select("q_id", F.col("c_a").alias("c_id"), "sim_i")
        scored = (
            rem.join(to_selected, ["q_id", "c_id"])
            .groupBy("q_id", "c_id", "rel_i")
            .agg(F.max("sim_i").alias("mx"))
            .withColumn(
                "mmr_i",
                (F.lit(lam) * F.col("rel_i") - F.lit(div) * F.col("mx")).cast(
                    "bigint"
                ),
            )
        )
        pick = (
            scored.withColumn("rr", F.row_number().over(w_pick))
            .where(F.col("rr") == 1)
            .select("q_id", "c_id", F.lit(t).alias("pick_order"), "rel_i", "mmr_i")
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
        rem = rem.join(
            pick.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti"
        ).localCheckpoint(eager=True)
    return sel.select(
        "q_id", "c_id", F.col("pick_order").cast("int").alias("pick_order"),
        "rel_i", "mmr_i",
    ).orderBy("q_id", "pick_order")
