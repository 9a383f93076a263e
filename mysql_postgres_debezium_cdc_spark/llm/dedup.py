"""Deduplication operators for LLM training-data pipelines.

Five families, all shuffle-based and driver-free (100 TB posture):

- **exact**: hash-groupBy on the raw text (or a normalized fingerprint).
  One shuffle on the dedup key; at scale, group on ``xxhash64(text)``
  first so the shuffle moves 8-byte keys, not documents.
- **n-gram Jaccard**: inverted index over word shingles — candidate
  pairs only where at least one shingle collides (never the O(n²) cross
  join), expanded inline per bucket, then exact Jaccard verification.
- **MinHash + LSH**: constant-size signatures (16 hashes), banded into
  4 buckets; only same-bucket pairs are compared.  At 100 TB this is the
  family whose candidate-pair count stays near-linear.
- **SimHash**: 32-bit fingerprint via sign-aggregated shingle hashes;
  near-dups = small Hamming distance within 8-bit band blocks.
- **embedding cosine**: exact all-pairs verification kernel; candidate
  generation at scale comes from llm/similarity.py's LSH/IVF blocks.

Portability note: oracle-checked queries derive *feature ids* from a
polynomial (Horner) hash over the shingle's characters — pure integer
arithmetic both engines evaluate identically, so the id is computed
INLINE per row: no vocabulary distinct, no rank window, no id join, no
persist — shingle → signature is a single narrow pass, exactly the
shape ``xxhash64(shingle)`` gives at production scale (and a hash
collision, ~|vocab|²/2³² probable, is deterministic in BOTH engines:
two shingles sharing an id just merge as one feature — the
approximation families tolerate that by construction).
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession, Window

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.parquet import load, spread_small_scan

# MinHash parameters — fixed, shared with the oracle SQL.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
MH_PRIME = 2147483647  # 2^31 - 1
MH_MULT = 2654435761  # Knuth multiplicative constant
JACCARD_THRESHOLD = 0.35
SHINGLE_K = 3


@register(
    "dedup_exact_text",
    oracle="""
    SELECT text, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    ORDER BY keep_doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per distinct text."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


@register(
    "dedup_fingerprint",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(text, ' ')[1:8]), ' ') AS fp
      FROM documents
    )
    SELECT fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
    FROM keyed
    GROUP BY fp
    HAVING COUNT(*) > 1
    ORDER BY keep_doc_id
    """,
    tags=("llm", "dedup"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on a normalized fingerprint (sorted 8-token prefix).

    The fingerprint is the shuffle key — tiny and skew-resistant compared
    to full text."""
    d = load(spark, sf_dir, "documents")
    fp = F.array_join(F.array_sort(F.slice(F.split(F.col("text"), " "), 1, 8)), " ")
    return (
        d.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
        .orderBy("keep_doc_id")
    )


def _shingles(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int | None = None,
    max_doc_freq: int | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Distinct word-k-gram shingles per document: (doc_id, shingle).

    ``max_doc_freq`` (default off) drops shingles appearing in more than
    that many documents — the document-frequency cut that removes
    stopword-run shingles BEFORE they form quadratic buckets downstream.
    It costs one extra shuffle on the shingle (a keyed window count), so
    it is an explicit opt-in lever: at 100 TB you always want it; at
    oracle scale it stays off so results match the uncapped SQL.

    Per-doc dedup happens INLINE with ``array_distinct`` before the
    explode — shingle sets are per-document, so a corpus-wide
    ``distinct()`` shuffle is pure waste (it moves every (doc_id,
    shingle) string pair across the cluster just to dedup rows that are
    already co-located in one document's array).

    Two physical-plan details that dominate shingling cost:

    - **Tokenize ONCE per row.**  The regex ``split`` is projected into
      its own column *before* the shingle ``transform``; higher-order
      functions are interpreted (no whole-stage codegen), so an inlined
      ``split`` would be re-evaluated for every shingle position —
      O(tokens²) regex work per document (measured 2.5× slower on the
      fixture corpus, and growing with document length).  Keeping it a
      separate projection makes the lambda body slice a pre-computed
      attribute, which CollapseProject will not re-inline because
      ``split`` is non-cheap and multiply-referenced.
    - **Spread the corpus across cores** before the explode — see
      sources.parquet.spread_small_scan.

    Tried and rejected: projecting the shingle ARRAY as its own column
    to ride `size(arr)` along with the explode (saving the per-doc
    count aggregation downstream).  InferFiltersFromGenerate
    synthesizes a `size(arr) > 0` predicate from the Generate, and
    predicate pushdown rebuilds that expression BELOW the repartition —
    re-running the whole tokenize+shingle pipeline per row on the
    unspread single-partition scan (measured 1.7× slower end-to-end at
    sf0.1 despite one less shuffle)."""
    d = load(spark, sf_dir, "documents")
    if max_docs is not None:
        d = d.where(F.col("doc_id") < max_docs)
    if predicate is not None:
        # Same SQL text the oracle's {filter} clause uses — keeps the
        # composed-pipeline subsets bit-identical across engines.
        d = d.where(F.expr(predicate))
    return _shingles_of(d, max_doc_freq=max_doc_freq)


def _shingles_of(d: DataFrame, max_doc_freq: int | None = None) -> DataFrame:
    """`_shingles` over an ALREADY-LOADED documents frame — the form a
    foreachBatch micro-batch hands us (see stream_incremental_dedup)."""
    t = spread_small_scan(d).select("doc_id", F.split(F.col("text"), " ").alias("_toks"))
    toks = F.col("_toks")
    k = SHINGLE_K
    # Documents shorter than k tokens have NO k-shingles: guard the
    # position sequence explicitly — F.sequence(1, 0) is a DESCENDING
    # [1, 0] in Spark, whose 0 start would crash slice(); the oracle's
    # RANGE(1, GREATEST(LEN-1, 1)) yields an empty list for the same
    # input, and explode on the empty array drops the doc in both.
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = t.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    if max_doc_freq is not None:
        w = Window.partitionBy("shingle")
        out = (
            out.withColumn("_df", F.count(F.lit(1)).over(w))
            .where(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    return out


def _feature_id(col) -> "F.Column":
    """Portable shingle → integer feature id: Horner polynomial hash
    (base 31, mod 2³¹−1) over the characters, the classic string hash —
    pure integer arithmetic, so Spark and the DuckDB oracle
    (`_SID_SQL`) produce bit-identical ids with NO vocabulary pass (the
    r1 design ranked distinct shingles instead, costing a distinct
    shuffle + rank window + id join per query).  The accumulator stays
    < 2³¹ so acc·31+char never approaches int64 overflow under either
    engine's ANSI semantics.

    Empty elements are filtered before the fold: Spark ≥ 3.4 drops the
    trailing '' that split-by-empty-regex emits on older versions, and
    folding that '' would add a silent (acc·31 + 0) step — the filter
    makes the hash split-semantics-independent instead of relying on
    the pinned Spark version's special case."""
    return F.aggregate(
        F.filter(F.split(col, ""), lambda c: F.length(c) > 0),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % MH_PRIME,
    )


_SID_SQL = (
    "LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), "
    "[CAST(UNICODE(shingle[i]) AS BIGINT) FOR i IN RANGE(1, LEN(shingle)+1)]), "
    f"(acc, c) -> (acc * 31 + c) % {MH_PRIME})"
)


def _pairs_from_bucket(
    bucketed: DataFrame,
    docs_col: str = "docs",
    fields: dict[str, tuple[str, str]] | None = None,
    max_doc_freq: int | None = None,
    max_bucket_width: int | None = None,
    observation=None,
) -> DataFrame:
    """Expand a bucketed inverted index into candidate (doc_a, doc_b) pairs.

    ``bucketed`` has one row per bucket with a sorted ascending array —
    of bare doc_ids (``fields=None``), or of structs whose first field
    is ``doc_id`` plus per-doc payload fields (struct sort orders by
    doc_id first, so pairs still come out doc_a < doc_b).  ``fields``
    maps each payload field to its (left, right) output names, e.g.
    ``{"sig": ("sig_a", "sig_b")}`` — carrying fixed-width payloads
    through the buckets is what makes the SimHash/Jaccard verification
    join-free.

    All i<j combinations are generated *inline* with array expressions
    (no self-join): for a bucket of d docs this emits d(d-1)/2 pairs,
    exactly what a self-join on the bucket key would emit, but with ONE
    shuffle (the groupBy that built the bucket) instead of two
    join-side shuffles.

    Hot buckets are the skew lever: a degenerate bucket (stopword
    shingle, all-zeros LSH band) expands quadratically INLINE — a
    million-doc bucket would emit 5·10¹¹ pairs inside one task.  Two
    production caps, both OFF by default so sf-scale oracle results are
    exact:

    - ``max_doc_freq``: DROP buckets wider than this entirely — the
      classic stopword/document-frequency cut.  A feature shared by
      that many documents carries no discriminative signal, so at
      100 TB this is the right default lever.
    - ``max_bucket_width``: TRUNCATE a bucket to its first N docs
      (arrays are sorted ascending, so the kept prefix — and therefore
      every emitted pair — is deterministic and identical to the
      uncapped run's subset).  Use when dropping a hot bucket outright
      is too lossy.

    Capping only ever REMOVES pairs; surviving pairs are bit-identical
    to the uncapped expansion (property-tested).  Pass an
    ``Observation`` as ``observation`` to record how many buckets each
    cap touched (``n_dropped_buckets`` / ``n_truncated_buckets``) on
    the run — silent truncation would read as full coverage."""
    docs = F.col(docs_col)
    if observation is not None:
        width = F.size(docs)
        bucketed = bucketed.observe(
            observation,
            F.sum(
                (width > (max_doc_freq if max_doc_freq is not None else width)).cast("long")
            ).alias("n_dropped_buckets"),
            F.sum(
                (
                    (width <= (max_doc_freq if max_doc_freq is not None else width))
                    & (width > (max_bucket_width if max_bucket_width is not None else width))
                ).cast("long")
            ).alias("n_truncated_buckets"),
            F.max(width).alias("widest_bucket"),
        )
    if max_doc_freq is not None:
        bucketed = bucketed.where(F.size(docs) <= max_doc_freq)
    if max_bucket_width is not None:
        docs = F.slice(docs, 1, max_bucket_width)

    def pair_struct(x, y):
        if fields is None:
            return F.struct(x.alias("doc_a"), y.alias("doc_b"))
        cols = [x.getField("doc_id").alias("doc_a"), y.getField("doc_id").alias("doc_b")]
        for src, (left, right) in fields.items():
            cols.append(x.getField(src).alias(left))
            cols.append(y.getField(src).alias(right))
        return F.struct(*cols)

    pairs = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + F.lit(2), F.size(docs)),
                lambda y: pair_struct(x, y),
            ),
        )
    )
    return bucketed.select(F.explode(pairs).alias("p")).select("p.*")


_SHINGLES_SQL = """
      SELECT DISTINCT doc_id, shingle
      FROM (
        SELECT doc_id,
               UNNEST([ARRAY_TO_STRING(toks[i:i+2], ' ')
                       FOR i IN RANGE(1, GREATEST(LEN(toks) - 1, 1))]) AS shingle
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents{filter})
      )
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL.format(filter="")}),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "jaccard"),
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact Jaccard over 3-gram shingles.

    Inverted-index join: pairs are generated only for colliding shingles,
    then verified.  Physical plan (one pass over the corpus):

    1. shingle → 8-byte ``xxhash64`` key (the shuffle moves hashes, not
       strings; 2^-64 collision odds are negligible vs corpus sizes),
    2. ONE groupBy per shingle-hash collecting the sorted doc list, with
       i<j pairs expanded inline (`_pairs_from_bucket`) — replaces the
       classic self-join (two shuffles) with one shuffle,
    3. per-pair collision count = exact |A∩B|, grouped together with
       the pair's set sizes (carried through the buckets as fixed-width
       payload — no sizes relation, no verification join; see
       `_jaccard_pairs`).

    Hot shingles (stopword runs) are the skew risk — AQE handles
    moderate cases; the production lever is a document-frequency cap
    (drop shingles appearing in >X% of docs) before step 2."""
    return (
        _jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b", F.round(F.col("jaccard"), 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def _jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_doc_freq: int | None = None,
    max_bucket_width: int | None = None,
    observation=None,
    predicate: str | None = None,
) -> DataFrame:
    """Verified near-dup pairs (doc_a < doc_b, jaccard ≥ threshold) —
    the shared edge set for `dedup_ngram_jaccard` and the clustering in
    `dedup_connected_components`.  See `dedup_ngram_jaccard` for the
    physical-plan walkthrough.

    Join-free shape (same device as dedup_simhash): the per-doc profile
    aggregates FIRST, so each bucket element carries (doc_id, n_sh) —
    16 fixed bytes — and pair expansion emits both set sizes inline.
    The collision count then groups by the pair WITH its sizes (they
    are functionally dependent on the ids — no extra cardinality), and
    Jaccard computes right off the aggregate: no sizes relation, no
    persist, no verification joins."""
    d = load(spark, sf_dir, "documents")
    if predicate is not None:
        # Same SQL text the oracle's {filter} clause uses — pushes into
        # the parquet scan before the kernel sees a row.
        d = d.where(F.expr(predicate))
    # r12: the kernel attaches n_sh inline (it sees the whole document
    # per input row), replacing the former collect_list + count + explode
    # roundtrip — one corpus-sized exchange fewer.  xxhash64 stays JVM.
    exploded = _shingles_with_count_of(d).select(
        F.struct("doc_id", "n_sh").alias("dn"), F.xxhash64("shingle").alias("sid")
    )
    buckets = (
        exploded.groupBy("sid")
        .agg(F.sort_array(F.collect_list("dn")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    common = (
        _pairs_from_bucket(
            buckets,
            fields={"n_sh": ("na", "nb")},
            max_doc_freq=max_doc_freq,
            max_bucket_width=max_bucket_width,
            observation=observation,
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# SimHash parameters — fixed, shared with the oracle SQL.
SH_BITS = 32
SH_BANDS = 4
SH_BAND_BITS = SH_BITS // SH_BANDS  # 8-bit bands → 256-way blocking
SH_HAMMING_MAX = 4


def _simhash_bit_sql(j: int) -> str:
    """One SimHash bit as SQL: sign of the ±1 sum over token hashes.

    The per-bit affine multiplier is pre-reduced mod P so the product
    with a 31-bit feature id stays < 2⁶² (no int64 overflow under
    either engine's ANSI semantics)."""
    h = f"(({(j * MH_MULT + 1) % MH_PRIME} * tid + {j}) % {MH_PRIME})"
    return (
        f"CASE WHEN SUM(CASE WHEN {h} % 2 = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END"
    )


_SH_BAND_CONSTS = [1 << (SH_BAND_BITS * b) for b in range(SH_BANDS)]


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS ({_SHINGLES_SQL.format(filter="")}),
    dt AS (SELECT doc_id, {_SID_SQL} AS tid FROM toks),
    sigs AS (
      SELECT doc_id, {" + ".join(_simhash_bit_sql(j) for j in range(SH_BITS))} AS sig
      FROM dt GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, sig, b.band, b.bval
      FROM sigs, LATERAL (
        SELECT UNNEST(RANGE(0, {SH_BANDS})) AS band,
               UNNEST([{", ".join(f"(sig // {c}) % {1 << SH_BAND_BITS}" for c in _SH_BAND_CONSTS)}]) AS bval
      ) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, BIT_COUNT(XOR(sig_a, sig_b)) AS hamming
    FROM cand
    WHERE BIT_COUNT(XOR(sig_a, sig_b)) <= {SH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "simhash"),
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit signature, banded Hamming blocking.

    Signature: bit j = sign of Σ_features ±1, where the sign per feature
    comes from bit j of an affine feature hash — the classic Charikar
    construction.  Features are the 3-gram SHINGLES (not unigrams): this
    corpus has a ~31-word vocabulary, and unigram signatures collapse
    (every doc shares most features → megabuckets → quadratic candidate
    blowup); shingles give a 27k-feature space and discriminative
    signatures.  At web scale the same reasoning holds — simhash over
    word n-grams, never the raw vocabulary.  Blocking: 4 × 8-bit bands;
    only pairs sharing a band value are compared (Hamming ≤ 4 of 32
    verifies).  Everything downstream of the feature join is fixed-width
    — the shuffle carries one 8-byte signature per doc, the cheapest of
    the dedup family at 100 TB.

    Feature ids are the portable Horner hash (`_feature_id`) computed
    inline — shingle → signature is one narrow pass plus the one
    per-doc aggregation shuffle; no vocabulary pass, no id join (the
    module docstring has the collision argument).

    Verification is JOIN-FREE: the signature IS 8 bytes, so each bucket
    element carries its (doc_id, sig) struct and pair expansion emits
    both signatures inline — Hamming distance computes right off the
    pair, with no lookup joins and no multiply-consumed signature
    relation to persist.  (Contrast dedup_minhash_lsh, which carries
    set-size + sid-array payloads: those are document-sized, so THERE
    the scale-correct shape is bare ids through the buckets and joins
    back to the profile — each family ships the cheaper of
    {payload-through-shuffle, join-back}.)"""
    # r13: the finished per-doc SIGNATURE comes out of one Arrow kernel
    # (_simhash_sigs_of).  The r12 intermediate — a kernel emitting the
    # (doc_id, tid) multiset that a JVM 32-term SUM(CASE) aggregate then
    # grouped — removed no exchange and regressed 0.84× on the driver
    # box; a document is one input row, so the ±1 bit sums are
    # task-local and the corpus-sized (doc_id, tid) exchange plus the
    # interpreted bit-sum aggregate both disappear (guide §2.4 + §4.2).
    sigs = _simhash_sigs_of(load(spark, sf_dir, "documents"))
    band_vals = F.array(
        *[(F.col("sig") / F.lit(c)).cast("bigint") % (1 << SH_BAND_BITS) for c in _SH_BAND_CONSTS]
    )
    buckets = (
        sigs.select(F.struct("doc_id", "sig").alias("ds"), F.posexplode(band_vals).alias("band", "bval"))
        .groupBy("band", "bval")
        .agg(F.sort_array(F.collect_list("ds")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    cand = _pairs_from_bucket(buckets, fields={"sig": ("sig_a", "sig_b")}).distinct()
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("bigint")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= SH_HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


def _shingle_sids_of(d: DataFrame) -> DataFrame:
    """(doc_id, sid): one feature id per DISTINCT shingle string per
    document — the Arrow-kernel replay of ``_shingles_of`` (whose
    ``array_distinct`` dedups shingle strings) + ``_feature_id``
    (r12 optimization, guide §4.2).

    The retired expression pipeline ran the INTERPRETED char-level
    Horner fold once per shingle occurrence (no whole-stage codegen for
    higher-order functions: tokens × k array ops to build each shingle
    string, then ~2 Catalyst ops per character to hash it), measured at
    ~0.77 s of the 1.06 s stage at sf0.1 where native hashing costs ~0.
    The kernel tokenizes, shingles, hashes and set-dedups per document
    batch; each distinct shingle hashes ONCE per task (memo dict — the
    shingle vocabulary is far smaller than the occurrence stream).

    Bit-exactness: ``tok.split(" ")`` keeps interior/trailing empty
    strings exactly like Spark's ``split`` with limit −1; ``" ".join``
    equals ``array_join`` over non-null strings; the fold
    ((acc·31 + codepoint) mod P, '' → 0) is pure integer arithmetic
    replayed in Python ints, with ``ord`` the same code-point semantics
    as the oracle's ``UNICODE()``.  Docs shorter than k tokens emit
    nothing, like the empty-array explode.

    Set semantics note: the per-doc dedup here is on shingle STRINGS
    (exactly ``array_distinct`` on the shingle array) — two distinct
    shingles whose Horner hashes collide still emit TWO (equal-sid)
    rows, matching the retired ``_shingles → _feature_id`` multiset the
    SimHash ±1 sums consume.  Consumers that want SID-set semantics
    (MinHash) dedup on top, exactly where the retired ``.distinct()``
    sat ([[_mh_profile_kernel_of]] does it inside its kernel)."""
    k = SHINGLE_K

    def gen(batches):
        import pandas as pd

        memo: dict[str, int] = {}

        def sid(s: str) -> int:
            v = memo.get(s)
            if v is None:
                acc = 0
                for ch in s:
                    acc = (acc * 31 + ord(ch)) % MH_PRIME
                memo[s] = v = acc
            return v

        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids: list = []
            sids: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < k:
                    continue
                ss = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                doc_ids.extend([doc_id] * len(ss))
                sids.extend(sid(s) for s in ss)
            yield pd.DataFrame({"doc_id": doc_ids, "sid": sids})

    return spread_small_scan(d.select("doc_id", "text")).mapInPandas(
        gen, schema="doc_id long, sid long"
    )


def _simhash_sigs_of(d: DataFrame) -> DataFrame:
    """(doc_id, sig): the complete 32-bit SimHash signature per document
    from ONE Arrow kernel — no (doc_id, tid) exchange, no 32-term
    interpreted bit-sum aggregate (r13 optimization, guide §2.4 + §4.2).

    Replays [[_shingle_sids_of]]'s multiset exactly (per-doc distinct
    shingle STRINGS, hash-collision duplicates preserved), then computes
    bit j's ±1 sum vectorized: vals = (A_j·sid + j) mod P over the
    flattened sid stream (int64; A_j < 2³¹, sid < 2³¹ ⇒ product < 2⁶²),
    ±1 by parity, `np.add.reduceat` at doc boundaries — exact integer
    arithmetic, bit-identical to the retired JVM SUM(CASE) aggregate and
    the oracle's per-bit CASE sums (pinned by
    tests/test_shingles_edge.py).  Docs shorter than k tokens emit
    nothing (the empty-array explode), so every kernel row has ≥1 sid
    and the reduceat offsets are strictly increasing."""
    mults = [(j * MH_MULT + 1) % MH_PRIME for j in range(SH_BITS)]
    k = SHINGLE_K

    def gen(batches):
        import numpy as np
        import pandas as pd

        memo: dict[str, int] = {}

        def sid(s: str) -> int:
            v = memo.get(s)
            if v is None:
                acc = 0
                for ch in s:
                    acc = (acc * 31 + ord(ch)) % MH_PRIME
                memo[s] = v = acc
            return v

        A = np.array(mults, dtype=np.int64)
        bitvals = np.array([1 << j for j in range(SH_BITS)], dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids: list = []
            counts: list = []
            sid_lists: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < k:
                    continue
                ss = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                doc_ids.append(doc_id)
                counts.append(len(ss))
                sid_lists.append([sid(s) for s in ss])
            if not doc_ids:
                continue
            flat = np.fromiter(
                (s for sl in sid_lists for s in sl), dtype=np.int64
            )
            offs = np.zeros(len(counts), dtype=np.int64)
            offs[1:] = np.cumsum(counts[:-1])
            sig = np.zeros(len(doc_ids), dtype=np.int64)
            for j in range(SH_BITS):
                pm = ((A[j] * flat + j) % MH_PRIME) % 2 * 2 - 1
                sig += (np.add.reduceat(pm, offs) >= 0) * bitvals[j]
            yield pd.DataFrame({"doc_id": doc_ids, "sig": sig})

    return spread_small_scan(d.select("doc_id", "text")).mapInPandas(
        gen, schema="doc_id long, sig long"
    )


def _shingles_with_count_of(d: DataFrame) -> DataFrame:
    """(doc_id, n_sh, shingle): each document's DISTINCT shingle
    strings WITH the per-doc distinct count attached to every row —
    the Arrow-kernel form the Jaccard inverted index consumes
    (r12 optimization).

    The retired shape attached n_sh by aggregating the shingle rows
    per doc (collect_list + count) and immediately re-exploding the
    list — a corpus-sized exchange plus array buffers, just to ride a
    16-byte (doc_id, n_sh) struct next to each shingle.  The kernel
    knows the whole document in one row, so it emits the count inline;
    hashing stays JVM-side (``xxhash64`` downstream, unchanged).
    Tokenize/shingle semantics are [[_shingle_sids_of]]'s (same split /
    join / distinct-string rules, bit-identical)."""
    k = SHINGLE_K

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids: list = []
            counts: list = []
            shingles: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < k:
                    continue
                ss = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
                doc_ids.extend([doc_id] * len(ss))
                counts.extend([len(ss)] * len(ss))
                shingles.extend(ss)
            yield pd.DataFrame(
                {"doc_id": doc_ids, "n_sh": counts, "shingle": shingles}
            )

    return spread_small_scan(d.select("doc_id", "text")).mapInPandas(
        gen, schema="doc_id long, n_sh long, shingle string"
    )


def _mh_profile_kernel_of(docs: DataFrame) -> DataFrame:
    """The complete per-document MinHash profile
    (doc_id, n_sh, sorted sids, mh0..mh{N-1}) out of ONE Arrow kernel —
    no distinct shuffle, no profile groupBy (r12 optimization).

    A document is exactly one input row, so its shingle-sid SET, the
    sorted sid array and all N_HASHES affine min-hashes are task-local;
    the retired shape paid a corpus-sized (doc_id, sid) exchange for
    the ``.distinct()`` plus the profile aggregation's collect_list
    buffers.  The min-hash scan is vectorized: per batch, one
    ``(A_j·sid + j) mod P`` pass over the flattened sid array and a
    ``minimum.reduceat`` at doc boundaries — int64 throughout
    (A_j < 2³¹, sid < 2³¹ ⇒ product < 2⁶²), bit-identical to the
    retired ``F.min(...)`` aggregates and the oracle's ``MIN``.
    Hash/tokenize semantics are [[_shingle_sids_of]]'s; the per-doc
    ``set`` of sids is exactly the retired ``.distinct()``."""
    mults = [(j * MH_MULT + 1) % MH_PRIME for j in range(N_HASHES)]
    k = SHINGLE_K

    def gen(batches):
        import numpy as np
        import pandas as pd

        memo: dict[str, int] = {}

        def sid(s: str) -> int:
            v = memo.get(s)
            if v is None:
                acc = 0
                for ch in s:
                    acc = (acc * 31 + ord(ch)) % MH_PRIME
                memo[s] = v = acc
            return v

        A = np.array(mults, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids: list = []
            counts: list = []
            sid_lists: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < k:
                    continue
                ss = {sid(" ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)}
                doc_ids.append(doc_id)
                counts.append(len(ss))
                sid_lists.append(sorted(ss))
            if not doc_ids:
                continue
            flat = np.fromiter(
                (s for sl in sid_lists for s in sl), dtype=np.int64
            )
            offs = np.zeros(len(counts), dtype=np.int64)
            offs[1:] = np.cumsum(counts[:-1])
            data = {
                "doc_id": doc_ids,
                "n_sh": np.array(counts, dtype=np.int64),
                "sids": sid_lists,
            }
            for j in range(N_HASHES):
                vals = (A[j] * flat + j) % MH_PRIME
                data[f"mh{j}"] = np.minimum.reduceat(vals, offs)
            yield pd.DataFrame(data)

    mh_cols = ", ".join(f"mh{j} long" for j in range(N_HASHES))
    return spread_small_scan(docs.select("doc_id", "text")).mapInPandas(
        gen, schema=f"doc_id long, n_sh long, sids array<long>, {mh_cols}"
    )


def _mh_profile(
    spark: SparkSession, sf_dir: str, predicate: str | None = None
) -> DataFrame:
    """Per-document MinHash profile: (doc_id, n_sh, sids, mh0..mh{N-1})
    from ONE partial+final aggregation over the distinct shingle ids —
    the relation both the full-corpus LSH and the incremental index
    build share."""
    d = load(spark, sf_dir, "documents")
    if predicate is not None:
        d = d.where(F.expr(predicate))
    return _mh_profile_of(d)


def _mh_profile_of(docs: DataFrame) -> DataFrame:
    """`_mh_profile` over an already-loaded documents frame (the
    foreachBatch micro-batch form).  r12: one Arrow-kernel pass
    ([[_mh_profile_kernel_of]]) — the former
    ``_shingles_of → _feature_id → distinct → groupBy`` chain paid the
    interpreted char-fold per shingle occurrence plus a corpus-sized
    exchange; the kernel emits the finished profile with no shuffle."""
    return _mh_profile_kernel_of(docs)


def _mh_band_sigs() -> "F.Column":
    """The N_BANDS banded signature strings over the mh columns."""
    return F.array(
        *[
            F.concat_ws(
                ",",
                *[F.col(f"mh{j}") for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)],
            )
            for b in range(N_BANDS)
        ]
    )


def _mh_sql(j: int) -> str:
    # multiplier pre-reduced mod P: product with a 31-bit sid stays < 2⁶²
    return f"MIN(({(j * MH_MULT + 1) % MH_PRIME} * sid + {j}) % {MH_PRIME}) AS mh{j}"


_BAND_SIGS_SQL = ", ".join(
    "CONCAT_WS(',', "
    + ", ".join(f"mh{j}" for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND))
    + ")"
    for b in range(N_BANDS)
)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL.format(filter="")}),
    doc_sids AS (
      SELECT DISTINCT doc_id, {_SID_SQL} AS sid FROM shingles
    ),
    sigs AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             {", ".join(_mh_sql(j) for j in range(N_HASHES))}
      FROM doc_sids
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, n_sh, b.band, b.band_sig
      FROM sigs, LATERAL (
        SELECT UNNEST(RANGE(0, {N_BANDS})) AS band,
               UNNEST([{_BAND_SIGS_SQL}]) AS band_sig
      ) b
    ),
    candidates AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sh AS na, b.n_sh AS nb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, MIN(c.na) AS na, MIN(c.nb) AS nb, COUNT(*) AS n_common
      FROM candidates c
      JOIN doc_sids x ON x.doc_id = c.doc_a
      JOIN doc_sids y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 4) AS jaccard
    FROM verified
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "minhash"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup candidate pairs,
    verified by exact Jaccard.

    Pipeline: shingle → integer id → 16 affine min-hashes per doc →
    4 banded signatures → bucket self-join → verify candidates only.
    Everything is groupBy/join — no UDFs, no driver loops.  Candidate
    volume is governed by the band collision probability s-curve, which
    is what keeps this near-linear at 100 TB (vs the quadratic worst
    case of the raw shingle join).

    Physical notes: all 16 min-hashes, the set size AND the sorted sid
    array come out of ONE partial+final aggregation over doc_sids (no
    hash-function explode — the shuffle carries one row per doc).
    Candidate pairs come from a groupBy per (band, band_sig) bucket with
    inline i<j expansion (`_pairs_from_bucket`) — one shuffle, no
    self-join.  Verification is `size(array_intersect(sids_a, sids_b))`
    against the per-doc arrays (bounded by document length, so safe to
    carry through a join at any corpus size).  Shingle ids are the
    portable Horner hash (`_feature_id`) computed inline: shingle →
    signature is one narrow pass + one per-doc shuffle, no vocabulary
    pass, no id join, no pre-profile persist.  A deterministic hash
    collision can merge two shingles into one feature id in BOTH
    engines — `distinct` on (doc, sid) keeps the set semantics exact
    under that merge."""
    profile = _mh_profile(spark, sf_dir).persist()
    buckets = (
        profile.select("doc_id", F.posexplode(_mh_band_sigs()).alias("band", "band_sig"))
        .groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    candidates = _pairs_from_bucket(buckets).distinct()
    pa = profile.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), F.col("sids").alias("sids_a")
    )
    pb = profile.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), F.col("sids").alias("sids_b")
    )
    verified = (
        candidates.join(pa, "doc_a")
        .join(pb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sids_a", "sids_b")))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        verified.where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_minhash_recall_eval",
    oracle="""
    WITH exact AS ({EXACT}),
    mh AS ({MH}),
    hits AS (
      SELECT e.doc_a,
             CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e
      LEFT JOIN mh m ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM mh) AS BIGINT) AS n_minhash,
           CAST(SUM(hit) AS BIGINT) AS n_common,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           ROUND(SUM(hit) * 1.0 / (SELECT COUNT(*) FROM mh), 4) AS precision
    FROM hits
    """,
    tags=("llm", "dedup", "minhash", "eval"),
)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of MinHash-LSH against the EXACT Jaccard
    ground truth — the text-family sibling of [[dedup_lsh_recall_eval]]
    (both sides share the shingle definition and JACCARD_THRESHOLD, and
    the inverted-index [[dedup_ngram_jaccard]] is exhaustive for J>0,
    so it IS the truth set; [[dedup_minhash_lsh]]'s banded candidates
    are exact-verified, so precision pins 1.0 and recall measures the
    4×4 banding s-curve at the operating threshold).  The oracle embeds
    both keys' certified oracle SQL, so the eval cannot drift."""
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    mh = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    n_mh = mh.agg(F.count(F.lit(1)).cast("bigint").alias("n_minhash"))
    return (
        exact.join(mh, ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_common"),
        )
        .crossJoin(F.broadcast(n_mh))
        .select(
            "n_exact",
            "n_minhash",
            "n_common",
            F.round(F.try_divide(F.col("n_common") * 1.0, F.col("n_exact")), 4).alias(
                "recall"
            ),
            F.round(
                F.try_divide(F.col("n_common") * 1.0, F.col("n_minhash")), 4
            ).alias("precision"),
        )
    )


def _bind_minhash_eval_oracle() -> None:
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    spec = _REGISTRY["dedup_minhash_recall_eval"]
    object.__setattr__(
        spec,
        "oracle",
        spec.oracle.replace(
            "{EXACT}", _REGISTRY["dedup_ngram_jaccard"].oracle
        ).replace("{MH}", _REGISTRY["dedup_minhash_lsh"].oracle),
    )


_bind_minhash_eval_oracle()


# Incremental dedup batch cohort: doc_id % INCR_MOD == INCR_REM is "today's
# batch"; everything else is the already-indexed corpus.
INCR_MOD = 10
INCR_REM = 3


@register(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL.format(filter="")}),
    doc_sids AS (
      SELECT DISTINCT doc_id, {_SID_SQL} AS sid FROM shingles
    ),
    sigs AS (
      SELECT doc_id, COUNT(*) AS n_sh,
             {", ".join(_mh_sql(j) for j in range(N_HASHES))}
      FROM doc_sids
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, n_sh, b.band, b.band_sig
      FROM sigs, LATERAL (
        SELECT UNNEST(RANGE(0, {N_BANDS})) AS band,
               UNNEST([{_BAND_SIGS_SQL}]) AS band_sig
      ) b
    ),
    candidates AS (
      SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS dup_doc,
             n.n_sh AS na, i.n_sh AS nb
      FROM bands n JOIN bands i
        ON i.band = n.band AND i.band_sig = n.band_sig
      WHERE n.doc_id % {INCR_MOD} = {INCR_REM}
        AND i.doc_id % {INCR_MOD} <> {INCR_REM}
    ),
    verified AS (
      SELECT c.new_doc, c.dup_doc, MIN(c.na) AS na, MIN(c.nb) AS nb,
             COUNT(*) AS n_common
      FROM candidates c
      JOIN doc_sids x ON x.doc_id = c.new_doc
      JOIN doc_sids y ON y.doc_id = c.dup_doc AND y.sid = x.sid
      GROUP BY c.new_doc, c.dup_doc
    )
    SELECT new_doc, dup_doc,
           ROUND(CAST(n_common AS DOUBLE) / (na + nb - n_common), 4) AS jaccard
    FROM verified
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= {JACCARD_THRESHOLD}
    ORDER BY new_doc, dup_doc
    """,
    tags=("llm", "dedup", "minhash", "incremental", "index"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup against a PERSISTED MinHash-LSH index —
    the nightly-ingest shape: the existing corpus's banded signatures
    and verification profiles are written ONCE per corpus version
    (materialize_once, fixture-fingerprint-keyed), and each new batch
    (the deterministic doc_id % INCR_MOD == INCR_REM cohort) probes the
    index for candidate buckets, exact-verifying only the collisions.  The
    near-dup sibling of [[dedup_bloom_incremental]] (which answers
    exact "seen before?"); this answers "is today's document a NEAR
    duplicate of anything already indexed" without re-signing the
    corpus.

    Scale shape: batch-side shingling/signing touches only the batch;
    the candidate probe is an equi-join on (band, band_sig) between the
    batch's bands and the index parquet (pushdown-prunable by band);
    verification joins the batch's sid arrays against ONLY the
    colliding index docs' persisted profiles.  Per-batch cost is
    O(batch + collisions), never O(corpus) — the property that makes
    nightly dedup affordable at 100 TB.  Index rows are integers and
    sorted integer arrays, so parquet round-trip is exact and the
    output is bit-identical to an inline two-sided run (the same
    oracle certifies both sides from scratch)."""
    idx_prof, idx_bands = _read_mh_index(spark, _mh_index_path(spark, sf_dir))

    # Batch side: profile feeds both the probe and the verify join —
    # batch-sized, so one eager lineage cut materializes it.
    newp = _mh_profile(
        spark, sf_dir, predicate=f"doc_id % {INCR_MOD} = {INCR_REM}"
    ).localCheckpoint(eager=True)
    return _probe_mh_index(newp, idx_prof, idx_bands).orderBy("new_doc", "dup_doc")


def _mh_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per fixture version) the persisted MinHash-LSH index
    over the non-cohort corpus; return its directory."""
    import os

    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once

    def _build(p: str) -> None:
        prof = _mh_profile(
            spark, sf_dir, predicate=f"doc_id % {INCR_MOD} <> {INCR_REM}"
        ).persist()
        prof.select("doc_id", "n_sh", "sids").write.mode("overwrite").parquet(
            f"{p}/profiles"
        )
        prof.select(
            "doc_id", F.posexplode(_mh_band_sigs()).alias("band", "band_sig")
        ).write.mode("overwrite").parquet(f"{p}/bands")
        prof.unpersist()
        # materialize_once commits on a TOP-LEVEL _SUCCESS marker; the
        # two Spark writes each left one inside their subdirectory.
        open(os.path.join(p, "_SUCCESS"), "w").close()

    return materialize_once(sf_dir, "mh_index", _build)


def _read_mh_index(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """The two persisted index relations, renamed for the probe join."""
    idx_prof = spark.read.parquet(f"{path}/profiles").select(
        F.col("doc_id").alias("dup_doc"),
        F.col("n_sh").alias("nb"),
        F.col("sids").alias("sids_b"),
    )
    idx_bands = spark.read.parquet(f"{path}/bands").select(
        F.col("doc_id").alias("dup_doc"), "band", "band_sig"
    )
    return idx_prof, idx_bands


def _probe_mh_index(
    newp: DataFrame, idx_prof: DataFrame, idx_bands: DataFrame
) -> DataFrame:
    """Probe a persisted MinHash index with a batch's profiles: bucket
    collisions on (band, band_sig), exact Jaccard verification against
    the colliding index docs only.  Shared by the one-shot batch key
    and the per-micro-batch foreachBatch of the streaming twin."""
    new_bands = newp.select(
        F.col("doc_id").alias("new_doc"),
        F.posexplode(_mh_band_sigs()).alias("band", "band_sig"),
    )
    candidates = (
        new_bands.join(idx_bands, ["band", "band_sig"])
        .select("new_doc", "dup_doc")
        .distinct()
    )
    verified = (
        candidates.join(
            newp.select(
                F.col("doc_id").alias("new_doc"),
                F.col("n_sh").alias("na"),
                F.col("sids").alias("sids_a"),
            ),
            "new_doc",
        )
        .join(idx_prof, "dup_doc")
        .withColumn("n_common", F.size(F.array_intersect("sids_a", "sids_b")))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return verified.where(jac >= JACCARD_THRESHOLD).select(
        "new_doc", "dup_doc", F.round(jac, 4).alias("jaccard")
    )


STREAM_DEDUP_SLICES = 4  # staged cohort files = streaming micro-batches


def _dedup_pair_fold(sink, pairs: DataFrame, batch_id: int) -> None:
    """MERGE one micro-batch's verified near-dup pairs into the durable
    pair state on the natural pk (new_doc, dup_doc).  Set-shaped state
    is replay-idempotent by construction — a redelivered batch upserts
    the same pair keys with the same jaccard (the probe is
    deterministic), so at-least-once foreachBatch redelivery converges
    to the same state a single delivery would (the device [[_srm_fold]]
    proved for enrollment state; contrast the generation keying
    ADDITIVE state needs, [[_experiment_fold]])."""
    from mysql_postgres_debezium_cdc_spark.streaming.cdc import IS_DELETE, ORDER_COL

    compacted = pairs.select(
        F.col("new_doc").alias("_pk_new_doc"),
        F.col("dup_doc").alias("_pk_dup_doc"),
        F.lit(False).alias(IS_DELETE),
        F.struct("jaccard").alias("after"),
        F.lit(int(batch_id)).cast("long").alias(ORDER_COL),
    )
    sink.merge(compacted)


@register(
    "stream_incremental_dedup",
    oracle="{INCR}",  # bound below: the batch key's oracle certifies the stream
    tags=("llm", "dedup", "minhash", "incremental", "streaming"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE STREAMING twin of [[dedup_minhash_incremental]] — the
    reference's actual operating shape (a consumer incrementally
    processing an unbounded feed) applied to near-dedup: the new-doc
    cohort arrives as a real Structured Streaming file source in
    STREAM_DEDUP_SLICES micro-batches (maxFilesPerTrigger=1 over range-
    split slices), and each foreachBatch signs ONLY its micro-batch and
    probes the same persisted MinHash index, MERGing verified pairs
    into a durable state sink keyed by the pair's natural pk
    (new_doc, dup_doc).  Because every new doc lives in exactly one
    micro-batch and pairs are keyed by new_doc, the drained state
    equals the one-shot batch probe — so the batch key's DuckDB oracle
    certifies the streaming path end-to-end (same device as the other
    stream/batch twins).

    Durability (r10, VERDICT r9 task #3): foreachBatch is
    at-least-once — a crash between pair-commit and offset-commit
    redelivers the batch.  The previous append-mode parquet accumulator
    would double-append the replayed batch's pairs; the CDC
    ``ParquetStateSink`` MERGE on (new_doc, dup_doc) makes the replay a
    self-overwrite — the same set-union idempotence device
    [[_srm_fold]] proved for set-shaped state
    (tests/test_streaming_restart.py replays this exact probe).

    Scale shape: per-micro-batch cost is O(batch + collisions) — the
    property that makes CONTINUOUS dedup affordable: the corpus is
    touched only at index-build time, never per batch.  At 100 TB this
    is the nightly/streaming ingest dedup tier: index refresh is a
    scheduled rebuild; arrival batches probe parquet and MERGE into a
    Delta pair table (swap ``DeltaStateSink``, nothing upstream
    changes).  Run-scoped state/checkpoint dirs are reclaimed in a
    ``finally`` once the pair state is pinned (VERDICT r9 task #4)."""
    from mysql_postgres_debezium_cdc_spark.scratch import materialize_once
    from mysql_postgres_debezium_cdc_spark.streaming.jobs import fold_file_stream

    idx_prof, idx_bands = _read_mh_index(spark, _mh_index_path(spark, sf_dir))

    def _write_slices(p: str) -> None:
        (
            load(spark, sf_dir, "documents")
            .where(F.col("doc_id") % INCR_MOD == INCR_REM)
            .repartitionByRange(STREAM_DEDUP_SLICES, "doc_id")
            .write.mode("overwrite")
            .parquet(p)
        )

    def _probe_batch(sink, batch_df: DataFrame, batch_id: int) -> None:
        newp = _mh_profile_of(batch_df).localCheckpoint(eager=True)
        _dedup_pair_fold(
            sink, _probe_mh_index(newp, idx_prof, idx_bands), batch_id
        )

    pairs = fold_file_stream(
        spark,
        materialize_once(sf_dir, "mh_stream_slices", _write_slices),
        "dedup",
        ("new_doc", "dup_doc"),
        ("jaccard",),
        _probe_batch,
        "new_doc bigint, dup_doc bigint, jaccard double",
    )
    return pairs.orderBy("new_doc", "dup_doc")


def _bind_stream_incremental_oracle() -> None:
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    spec = _REGISTRY["stream_incremental_dedup"]
    object.__setattr__(
        spec,
        "oracle",
        spec.oracle.replace(
            "{INCR}", _REGISTRY["dedup_minhash_incremental"].oracle
        ),
    )


_bind_stream_incremental_oracle()


COS_NEARDUP_THRESHOLD = 0.35

# Hard input bound for the exact O(n²) baseline: past this, refuse to run
# rather than silently launch a quadratic cross join (50k vectors already
# mean ~1.25e9 scored pairs).  The scale path is dedup_embedding_lsh.
EXACT_NEARDUP_MAX_ROWS = 50_000


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             LIST_DOT_PRODUCT(a.emb, b.emb) /
               (SQRT(LIST_DOT_PRODUCT(a.emb, a.emb)) *
                SQRT(LIST_DOT_PRODUCT(b.emb, b.emb))) AS cs
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cs, 4) AS cos_sim
    FROM p
    WHERE cs >= {COS_NEARDUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    tags=("llm", "dedup", "embedding"),
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, max_rows: int = EXACT_NEARDUP_MAX_ROWS
) -> DataFrame:
    """Embedding-cosine near-dup pairs — the exact all-pairs baseline.

    O(n²) by definition: this is the *verification* kernel, and it
    GUARDS its own input cardinality — past ``max_rows`` it raises
    instead of silently launching a quadratic scoring pass, pointing at
    `dedup_embedding_lsh` (bucketed candidates + the same exact cosine
    on candidates only), which is the path a 100 TB corpus must take.
    The count probe is parquet-metadata-cheap and runs once.

    Execution (r5): the build side broadcasts (guard-BOUNDED by
    construction — the same collect a BroadcastExchange performs) and
    each Arrow batch of probe vectors scores against it inside
    mapInPandas with an ORDERED k-step accumulation
    (``acc += x_k·y_k`` for k = 0..D−1, from 0.0) that reproduces the
    Catalyst/DuckDB left fold BIT-FOR-BIT — so oracle parity is exact
    while the kernel runs as vectorized numpy instead of an
    interpreted 64-element fold per pair (r5 timing sweep: 43 s →
    ~2 s at sf0.1; the pandas-UDF doctrine, same rewrite as
    embedding_dimension_correlation)."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"dedup_embedding_cosine is the exact O(n²) baseline: {n:,} input "
            f"vectors would score ~{n * (n - 1) // 2:,} pairs "
            f"(guard: max_rows={max_rows:,}).  Use dedup_embedding_lsh — "
            "LSH-bucketed candidates verified by the same exact cosine — "
            "or raise max_rows explicitly if you really mean it."
        )
    import numpy as np

    build = sorted(
        (r["vec_id"], r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    )
    if not build:  # zero-row corpus: nothing to pair
        return spark.createDataFrame([], "vec_a long, vec_b long, cos_sim double")
    ids_np = np.array([i for i, _ in build], dtype="int64")
    mat = np.array([v for _, v in build], dtype="float64")
    dim = mat.shape[1]
    nrm_np = np.zeros(len(mat))
    for k in range(dim):  # ordered self-dot, then sqrt — _norm's fold
        nrm_np += mat[:, k] * mat[:, k]
    nrm_np = np.sqrt(nrm_np)
    bc = spark.sparkContext.broadcast((ids_np, mat, nrm_np))

    def _score(batches):
        import numpy as np
        import pandas as pd

        ids, b_mat, b_nrm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            xa_ids = pdf["vec_id"].to_numpy()
            pos = np.searchsorted(ids, xa_ids)
            na = b_nrm[pos]
            out_a, out_b, out_c = [], [], []
            for lo in range(0, len(x), 512):  # bound the dot-block size
                hi = min(lo + 512, len(x))
                dot = np.zeros((hi - lo, len(b_mat)))
                for k in range(x.shape[1]):  # ordered fold, bit = Catalyst
                    dot += x[lo:hi, k][:, None] * b_mat[:, k][None, :]
                cs = dot / (na[lo:hi][:, None] * b_nrm[None, :])
                keep = (ids[None, :] > xa_ids[lo:hi][:, None]) & (
                    cs >= COS_NEARDUP_THRESHOLD
                )
                ai, bj = np.nonzero(keep)
                out_a.append(xa_ids[lo:hi][ai])
                out_b.append(ids[bj])
                out_c.append(cs[ai, bj])
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else np.array([], "int64"),
                    "vec_b": np.concatenate(out_b) if out_b else np.array([], "int64"),
                    "cs": np.concatenate(out_c) if out_c else np.array([], "float64"),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        _score, schema="vec_a long, vec_b long, cs double"
    )
    return (
        scored.select("vec_a", "vec_b", F.round(F.col("cs"), 4).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


from mysql_postgres_debezium_cdc_spark.llm.similarity import (  # noqa: E402
    LSH_SIGS_SQL,
    _dot,
    _norm,
    cosine_from_norms,
    lsh_signatures,
)


# Default bucket-truncation width for the registered scale path.  The r4
# 10× probe (PLANS.md) measured the uncapped pair expansion at 109 s on a
# dup-heavy corpus where the capped run takes ~2 s: pair-reporting output is
# Ω(true pairs), so the REGISTERED key must bound per-bucket expansion by
# default.  64 keeps every sane bucket intact (the sf fixtures' widest
# bucket is far below it, so the oracle comparison sees identical output)
# while capping a degenerate bucket's inline expansion at 64·63/2 ≈ 2k
# pairs per bucket.  Uncapped auditing remains one explicit kwarg away
# (max_bucket_width=None), and `dedup_embedding_clusters` bounds the
# OUTPUT, not just the expansion, for truly dup-saturated corpora.
EMB_LSH_DEFAULT_BUCKET_WIDTH = 64


@register(
    "dedup_embedding_lsh",
    bench=True,
    oracle=f"""
    WITH {LSH_SIGS_SQL},
    ranked AS (
      SELECT vec_id, t, sig,
             ROW_NUMBER() OVER (PARTITION BY t, sig ORDER BY vec_id) AS rk
      FROM sigs
    ),
    kept AS (
      -- mirror of the engine's max_bucket_width: keep each bucket's first
      -- {EMB_LSH_DEFAULT_BUCKET_WIDTH} vec_ids ascending (F.slice on the
      -- sort_array'd bucket), drop the rest deterministically
      SELECT vec_id, t, sig FROM ranked WHERE rk <= {EMB_LSH_DEFAULT_BUCKET_WIDTH}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM kept a JOIN kept b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT c.vec_a, c.vec_b,
             LIST_DOT_PRODUCT(x.emb, y.emb) /
               (SQRT(LIST_DOT_PRODUCT(x.emb, x.emb)) *
                SQRT(LIST_DOT_PRODUCT(y.emb, y.emb))) AS cs
      FROM cand c
      JOIN e x ON x.vec_id = c.vec_a
      JOIN e y ON y.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, ROUND(cs, 4) AS cos_sim
    FROM scored
    WHERE cs >= {COS_NEARDUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    tags=("llm", "dedup", "embedding", "lsh"),
)
def dedup_embedding_lsh(
    spark: SparkSession,
    sf_dir: str,
    max_doc_freq: int | None = None,
    max_bucket_width: int | None = EMB_LSH_DEFAULT_BUCKET_WIDTH,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-bucketed — the SCALE path that
    replaces `dedup_embedding_cosine`'s O(n²) cross join.

    Candidates = pairs sharing a (table, signature) bucket under the same
    portable random-hyperplane signatures as `ann_lsh_topk`
    (similarity.lsh_signatures); exact cosine verifies only candidates.
    One groupBy per bucket with inline i<j expansion (same device as the
    text family's `_pairs_from_bucket`) — one shuffle for candidate
    generation regardless of corpus size, candidate volume governed by
    the bucket-collision s-curve.  Recall < 1 by construction (that is
    the dial); the oracle computes the identical bucketed pipeline, so
    the check is exact.

    ``max_bucket_width`` DEFAULTS ON (EMB_LSH_DEFAULT_BUCKET_WIDTH=64):
    the r4 10× probe (PLANS.md) showed the uncapped expansion is
    Ω(true pairs) — 109 s vs ~2 s capped on a dup-saturated corpus —
    so the registered scale path bounds per-bucket expansion by
    default, with the oracle implementing the IDENTICAL deterministic
    truncation (ROW_NUMBER ≤ width over vec_id ascending == F.slice on
    the sorted bucket array).  Pass ``max_bucket_width=None`` for the
    explicit uncapped audit; ``max_doc_freq`` additionally DROPS
    stopword-degenerate buckets outright; and
    `dedup_embedding_clusters` bounds the OUTPUT (n rows, not k²)."""
    emb = load(spark, sf_dir, "embeddings")
    sigs = lsh_signatures(emb)
    buckets = (
        sigs.groupBy("t", "sig")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    cand = (
        _pairs_from_bucket(
            buckets, max_doc_freq=max_doc_freq, max_bucket_width=max_bucket_width
        )
        .select(F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"))
        .distinct()
    )
    va = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    vb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))

    def _verify(batches):
        """Candidate verification as a vectorized Arrow kernel with the
        ORDERED k-step accumulation that reproduces the Catalyst/DuckDB
        left fold bit-for-bit (the dedup_embedding_cosine device) — the
        8-table geometry generates ~8× the candidates of r4, and the
        interpreted per-pair HOF fold was the hotspot (r5: 32 s → ~4 s
        at sf0.1)."""
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["emb_a"].to_numpy()).astype("float64")
            b = np.stack(pdf["emb_b"].to_numpy()).astype("float64")
            dot = np.zeros(len(a))
            na = np.zeros(len(a))
            nb = np.zeros(len(a))
            for k in range(a.shape[1]):
                dot += a[:, k] * b[:, k]
                na += a[:, k] * a[:, k]
                nb += b[:, k] * b[:, k]
            cs = dot / (np.sqrt(na) * np.sqrt(nb))
            keep = cs >= COS_NEARDUP_THRESHOLD
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "cs": cs[keep],
                }
            )

    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .mapInPandas(_verify, schema="vec_a long, vec_b long, cs double")
        .select("vec_a", "vec_b", F.round(F.col("cs"), 4).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


def _cc_pairs_sql(filter: str = "") -> str:
    """Near-dup pair CTE body, parameterized by the documents WHERE
    clause so composed pipelines dedup a filtered subset."""
    return f"""
      WITH shingles AS ({_SHINGLES_SQL.format(filter=filter)}),
      sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
      ),
      common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
      )
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
            >= {JACCARD_THRESHOLD}
"""


_CC_PAIRS_SQL = _cc_pairs_sql()


@register(
    "dedup_lsh_recall_eval",
    oracle="""
    WITH exact AS ({EXACT}),
    lsh AS ({LSH}),
    hits AS (
      SELECT e.vec_a,
             CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e
      LEFT JOIN lsh l ON l.vec_a = e.vec_a AND l.vec_b = e.vec_b
    )
    SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST(SUM(hit) AS BIGINT) AS n_common,
           ROUND(SUM(hit) * 1.0 / COUNT(*), 4) AS recall,
           ROUND(SUM(hit) * 1.0 / (SELECT COUNT(*) FROM lsh), 4) AS precision
    FROM hits
    """,
    tags=("llm", "dedup", "embedding", "eval"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall AND precision of the LSH scale path against the exact
    all-pairs ground truth, measured in-plan — the acceptance test a
    production dedup rollout runs before trusting banding parameters:
    [[dedup_embedding_cosine]] (guard-bounded exact baseline) is the
    truth set, [[dedup_embedding_lsh]] (banded buckets + default
    width cap) the candidate path; both share the cosine threshold,
    so precision is 1.0 BY CONSTRUCTION (every LSH pair is exact-
    verified) and the interesting number is recall — what the bands
    and the bucket cap drop.  The oracle embeds both keys' certified
    oracle SQL, so the eval cannot drift from what the driver checks
    for each pipeline.

    Scale note: the ground-truth side inherits the exact baseline's
    cardinality guard — at corpus scale this eval runs on a sampled
    slice (the standard practice), while the LSH side is the path
    that actually scales."""
    exact = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    lsh = dedup_embedding_lsh(spark, sf_dir).select(
        "vec_a", "vec_b", F.lit(1).alias("hit")
    )
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh"))
    return (
        exact.join(lsh, ["vec_a", "vec_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_common"),
        )
        .crossJoin(F.broadcast(n_lsh))
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            # try_divide: a zero-row corpus yields n_exact = n_lsh = 0;
            # NULL ratios match the oracle's NULL-propagating division
            # (ANSI plain division would throw instead).
            F.round(F.try_divide(F.col("n_common") * 1.0, F.col("n_exact")), 4).alias("recall"),
            F.round(F.try_divide(F.col("n_common") * 1.0, F.col("n_lsh")), 4).alias("precision"),
        )
    )


def _bind_dedup_eval_oracle() -> None:
    from mysql_postgres_debezium_cdc_spark.registry import _REGISTRY

    spec = _REGISTRY["dedup_lsh_recall_eval"]
    object.__setattr__(
        spec,
        "oracle",
        spec.oracle.replace(
            "{EXACT}", _REGISTRY["dedup_embedding_cosine"].oracle
        ).replace("{LSH}", _REGISTRY["dedup_embedding_lsh"].oracle),
    )


_bind_dedup_eval_oracle()


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_CC_PAIRS_SQL}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a
    ),
    comps AS (
      SELECT node AS doc_id, MIN(reach) AS component_id
      FROM walk GROUP BY node
    )
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comps
    ORDER BY doc_id
    """,
    tags=("llm", "dedup", "graph"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over the
    near-dup pair graph, so a chain A~B~C collapses to one canonical id
    (the component minimum) even when A and C never matched directly —
    what an LLM-corpus dedup actually deletes against.

    Iterative min-label propagation with pointer-jumping, the standard
    distributed CC (GraphX/GraphFrames run the same loop): each round
    every node takes the min of its own label and its neighbors', then
    adopts its label's label (path shortcutting — chain depth halves per
    round, so convergence is O(log diameter), not O(diameter)).  Each
    round is two key-partitioned joins on the EDGE/label tables (never
    the corpus), so at 100 TB the cost is #edges per round — the pair
    generation upstream already made that near-linear.  The per-round
    driver action is a single converged? count, not data collection;
    lineage is cut per round with localCheckpoint exactly like the CDC
    batch loop.  A graph needing more than the round cap raises rather
    than silently returning unconverged labels."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    comp_sizes = Window.partitionBy("component_id")
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            "component_id",
            F.count(F.lit(1)).over(comp_sizes).alias("component_size"),
        )
        .orderBy("doc_id")
    )


def connected_components(pairs: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Min-label propagation with pointer jumping over an undirected
    pair list (doc_a, doc_b) → (node, component_id) — the loop behind
    `dedup_connected_components`, factored out so the algorithm is
    property-testable against a union-find oracle on arbitrary graphs
    (tests/test_connected_components.py).

    With pointer jumping the label chain halves per round, so
    ``max_rounds=32`` covers any practical diameter; a graph that has
    not converged raises instead of returning wrong labels."""
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("component_id", F.col("node"))
    )
    for _round_no in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy(F.col("doc_a").alias("node"))
            .agg(F.min("component_id").alias("nbr_min"))
        )
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component_id"), F.coalesce(F.col("nbr_min"), F.col("component_id"))
            ).alias("component_id"),
            (F.col("nbr_min") < F.col("component_id")).alias("_changed"),
        )
        # Pointer jumping: adopt the current label of your label, so a
        # min-label propagates down a chain exponentially fast.
        parents = stepped.select(
            F.col("node").alias("p_node"), F.col("component_id").alias("p_label")
        )
        # r12 optimization: the converged? probe rides the SAME action
        # that cuts the round's lineage — an Observation on the
        # localCheckpoint job — instead of a second count job per round
        # (2 driver actions per round -> 1; the metric is a counter on
        # the already-running tasks, not a re-scan).
        obs = Observation()
        new_labels = (
            stepped.join(parents, stepped.component_id == parents.p_node, "left")
            .select(
                "node",
                F.least(
                    F.col("component_id"), F.coalesce(F.col("p_label"), F.col("component_id"))
                ).alias("component_id"),
                (
                    F.col("_changed") | (F.col("p_label") < F.col("component_id"))
                ).alias("_changed"),
            )
            .observe(obs, F.count(F.when(F.col("_changed"), 1)).alias("n_changed"))
            .localCheckpoint()
        )
        changed = obs.get["n_changed"]
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected-components did not converge within {max_rounds} rounds"
        )
    return labels


_PIPE_FILTER = "lang IN ('en', 'de') AND n_chars >= 80"


@register(
    "corpus_near_dedup_pipeline",
    bench=True,
    oracle=f"""
    WITH RECURSIVE pairs AS ({_cc_pairs_sql(f" WHERE {_PIPE_FILTER}")}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a
    ),
    comps AS (
      SELECT node AS doc_id, MIN(reach) AS component_id
      FROM walk GROUP BY node
    ),
    docs AS (
      SELECT doc_id, lang,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                  t -> LENGTH(t) > 0)) AS BIGINT) AS n_tokens
      FROM documents WHERE {_PIPE_FILTER}
    ),
    canon AS (
      SELECT d.doc_id, d.lang, d.n_tokens,
             COALESCE(c.component_id, d.doc_id) AS cluster
      FROM docs d LEFT JOIN comps c ON d.doc_id = c.doc_id
    ),
    kept AS (SELECT cluster, MIN(doc_id) AS keep_id FROM canon GROUP BY cluster)
    SELECT c.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id = k.keep_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN c.doc_id = k.keep_id THEN c.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_kept
    FROM canon c JOIN kept k ON c.cluster = k.cluster
    GROUP BY c.lang
    ORDER BY c.lang
    """,
    tags=("llm", "pipeline", "dedup", "composition"),
)
def corpus_near_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END near-dedup pass a training corpus actually runs:
    language/length filter → shingle-Jaccard candidate pairs (within
    the filtered subset only) → connected components → keep the minimum
    doc per duplicate cluster → per-language kept-document and
    kept-token budgets.

    Composition notes at scale: the filter pushes into the parquet scan
    (only surviving docs are ever shingled); the pair graph and the CC
    loop operate on edges, not the corpus; the canonical join is
    |filtered docs| ⋈ |labeled docs| on doc_id (labels exist only for
    docs that appear in a pair — singletons coalesce to themselves,
    costing nothing); and the final rollup is a 2-row aggregate.  The
    oracle replays the identical pipeline with a recursive CTE for the
    transitive closure."""
    pairs = _jaccard_pairs(spark, sf_dir, predicate=_PIPE_FILTER).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(pairs)
    toks = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.expr(_PIPE_FILTER))
        .select("doc_id", "lang", F.size(toks).cast("bigint").alias("n_tokens"))
    )
    canon = (
        docs.join(labels, docs["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("cluster"),
        )
    )
    kept = canon.groupBy("cluster").agg(F.min("doc_id").alias("keep_id"))
    return (
        canon.join(kept, "cluster")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keep_id"), F.col("n_tokens")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .orderBy("lang")
    )


_EMB_PAIRS_SQL = f"""
      WITH {LSH_SIGS_SQL},
      ranked AS (
        SELECT vec_id, t, sig,
               ROW_NUMBER() OVER (PARTITION BY t, sig ORDER BY vec_id) AS rk
        FROM sigs
      ),
      kept AS (
        -- mirror of the engine default max_bucket_width (see
        -- dedup_embedding_lsh, which this pipeline composes)
        SELECT vec_id, t, sig FROM ranked WHERE rk <= {EMB_LSH_DEFAULT_BUCKET_WIDTH}
      ),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM kept a JOIN kept b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
      ),
      scored AS (
        SELECT c.vec_a, c.vec_b,
               LIST_DOT_PRODUCT(x.emb, y.emb) /
                 (SQRT(LIST_DOT_PRODUCT(x.emb, x.emb)) *
                  SQRT(LIST_DOT_PRODUCT(y.emb, y.emb))) AS cs
        FROM cand c
        JOIN e x ON x.vec_id = c.vec_a
        JOIN e y ON y.vec_id = c.vec_b
      )
      SELECT vec_a, vec_b FROM scored WHERE cs >= {COS_NEARDUP_THRESHOLD}
"""


@register(
    "dedup_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_EMB_PAIRS_SQL}),
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM pairs
      UNION SELECT vec_b, vec_a FROM pairs
    ),
    walk(node, reach) AS (
      SELECT a, a FROM edges
      UNION
      SELECT w.node, e2.b FROM walk w JOIN edges e2 ON w.reach = e2.a
    )
    SELECT node AS vec_id, MIN(reach) AS cluster_id,
           COUNT(*) OVER (PARTITION BY MIN(reach)) AS cluster_size
    FROM walk GROUP BY node
    ORDER BY vec_id
    """,
    tags=("llm", "dedup", "embedding", "graph"),
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding duplicate CLUSTERS — the dup-heavy-corpus answer the
    r4 10× probe motivates (PLANS.md): a duplicate family of k vectors
    costs k(k−1)/2 rows as pairs but only k rows as cluster labels, so
    cluster reporting is the output-bounded form of embedding dedup.
    LSH-bucketed pairs (the scale path) feed the same pointer-jumping
    connected-components loop as the text family; output is
    (vec_id, canonical cluster id, cluster size) for every vector that
    has at least one near-duplicate."""
    pairs = dedup_embedding_lsh(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = connected_components(pairs)
    w = Window.partitionBy("component_id")
    return (
        labels.select(
            F.col("node").alias("vec_id"),
            F.col("component_id").alias("cluster_id"),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
        .orderBy("vec_id")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH pairs AS ({_EMB_PAIRS_SQL})
    SELECT e1.vec_a AS vec_a, e1.vec_b AS vec_b, e2.vec_b AS vec_c
    FROM pairs e1
    JOIN pairs e2 ON e2.vec_a = e1.vec_b
    JOIN pairs e3 ON e3.vec_a = e1.vec_a AND e3.vec_b = e2.vec_b
    ORDER BY vec_a, vec_b, vec_c
    """,
    tags=("graph", "dedup", "embedding"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the embedding near-dup graph — the
    density diagnostic next to [[dedup_embedding_clusters]]: a
    connected component that is also triangle-rich is a genuine
    duplicate FAMILY (pairwise-similar), while a triangle-free chain
    is transitive drift (a~b~c with a≁c), which near-dedup canonical
    selection treats very differently.

    Algorithm: the standard oriented 2-path join.  Edges arrive
    id-oriented (vec_a < vec_b from the LSH pair generator), so every
    triangle a<b<c is counted exactly once as (a,b)⋈(b,c)⋈(a,c) —
    two equi-joins, no direction dedup pass.

    Scale shape: both joins are equi hash joins on vertex keys; the
    2-path relation is Σ deg⁺(v)² — the quantity the id orientation
    plus the composed LSH bucket cap (EMB_LSH_DEFAULT_BUCKET_WIDTH,
    see [[dedup_embedding_lsh]]) keeps bounded.  On power-law graphs
    the refinement is DEGREE orientation (each edge points to the
    higher-degree endpoint, making deg⁺ ≤ √|E| — one extra degree
    aggregate + join to rewrite edge direction); the fixture graph is
    cap-bounded already, so this implementation keeps the cheaper id
    orientation and documents the lever."""
    # The edge relation feeds THREE join legs; Catalyst does not dedupe
    # common subtrees, so an eager lineage-cut materializes the LSH
    # pipeline once (ContextCleaner reclaims the checkpoint when the
    # plan is released — no persist to leak across queries).
    pairs = (
        dedup_embedding_lsh(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True)
    )
    e1 = pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    e2 = pairs.select(F.col("vec_a").alias("b"), F.col("vec_b").alias("c"))
    e3 = pairs.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .select(
            F.col("a").alias("vec_a"),
            F.col("b").alias("vec_b"),
            F.col("c").alias("vec_c"),
        )
        .orderBy("vec_a", "vec_b", "vec_c")
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup: cross-document repeated k-gram spans.
# ---------------------------------------------------------------------------

SUBSTR_K = 8  # span length in tokens; Lee et al. use 50 BPE tokens at corpus scale
SUBSTR_RATIO = 0.2  # flag docs whose duplicated-gram ratio reaches this


@register(
    "dedup_exact_substring_spans",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, gram FROM (
        SELECT doc_id,
               UNNEST([ARRAY_TO_STRING(toks[i:i+{SUBSTR_K - 1}], ' ')
                       FOR i IN RANGE(1, GREATEST(LEN(toks) - {SUBSTR_K - 2}, 1))]) AS gram
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents)
      )
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT doc_id,
             COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM dup)) AS n_dup_grams
      FROM g GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_dup_grams,
           ROUND(CAST(n_dup_grams AS DOUBLE) / n_grams, 4) AS dup_ratio
    FROM per_doc
    WHERE CAST(n_dup_grams AS DOUBLE) / n_grams >= {SUBSTR_RATIO}
    ORDER BY doc_id
    """,
    tags=("llm", "dedup", "substring"),
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): flag documents a large share of
    whose token k-grams ALSO occur verbatim in some other document —
    catching boilerplate, templated spam, and copy-paste spans that
    document-level MinHash misses because the rest of the document
    differs.  This is a different axis from dedup_ngram_jaccard
    (pairwise whole-doc similarity) and text_repetition (within-doc
    repetition): the unit here is the SPAN, cross-document.

    Scale shape: every doc emits its k-gram stream once (narrow
    generate, no self-join); one shuffle groups grams for the
    distinct-doc count (partial agg collapses within-partition
    repeats); the duplicated-gram relation then semi-joins back against
    the same stream and a per-doc aggregate finishes — two gram-keyed
    shuffles total, both linear in corpus size, never quadratic in
    documents.  The suffix-array formulation of the paper is a
    single-machine construction; the k-gram relaxation is the standard
    distributed equivalent (FineWeb / Dolma pipelines).  At production
    scale key the shuffles by xxhash64(gram) instead of the gram string
    (a collision only ever OVER-flags, which fails safe); the oracle
    runs collision-free strings so values match exactly.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    k = SUBSTR_K
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
        ).alias("gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    dup_per_doc = (
        grams.join(dup, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    return (
        per_doc.join(dup_per_doc, "doc_id", "left")
        .na.fill({"n_dup_grams": 0})
        .where(F.col("n_dup_grams") / F.col("n_grams") >= SUBSTR_RATIO)
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 4).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# CCNet-style boilerplate-line profile: corpus-frequency of content lines.
# ---------------------------------------------------------------------------

BOILER_LINE_W = 4  # tokens per pseudo-line (production: split on '\n')
BOILER_MIN_DOCS = 3  # a line in >= this many distinct docs is boilerplate


@register(
    "dedup_boilerplate_lines",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents
    ),
    lines AS (
      SELECT doc_id,
             ARRAY_TO_STRING(
               toks[(1 + i * {BOILER_LINE_W}):((i + 1) * {BOILER_LINE_W})], ' '
             ) AS line
      FROM d, LATERAL (
        SELECT UNNEST(RANGE(0,
          CAST(CEIL(n / {BOILER_LINE_W}.0) AS BIGINT))) AS i)
    ),
    ldf AS (
      SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line
    )
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (f.df >= {BOILER_MIN_DOCS}) AS BIGINT)
             AS n_boiler_lines,
           ROUND(COUNT(*) FILTER (f.df >= {BOILER_MIN_DOCS}) * 1.0
                 / COUNT(*), 4) AS boiler_ratio
    FROM lines l JOIN ldf f ON f.line = l.line
    GROUP BY l.doc_id
    ORDER BY l.doc_id
    """,
    tags=("llm", "dedup", "boilerplate"),
)
def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate profile: segment every document into
    content lines, compute each line's corpus document-frequency, and
    report per document how much of it is boilerplate (lines shared by
    ≥ BOILER_MIN_DOCS distinct documents) — headers, navigation, and
    license blurbs are removed at LINE granularity in web-corpus
    curation, an axis neither whole-doc MinHash ([[dedup_minhash_lsh]])
    nor span dedup ([[dedup_exact_substring_spans]], which needs the
    span VERBATIM in another doc at k-gram alignment) covers.  The
    fixture corpus has no newlines, so a line is a deterministic
    BOILER_LINE_W-token segmentation — in production the segmentation
    parameter is ``split('\\n')`` and nothing else changes.

    Scale shape: the line stream is a narrow generate (one corpus
    pass); line document-frequency is a map-side-combining groupBy on
    the line key (the inverted-index shape every dedup op here uses);
    the flag join is equi on the line key (AQE broadcasts the df
    relation at fixture scale; at corpus scale it sort-merges, already
    hash-partitioned by the aggregate that produced it); the per-doc
    rollup shuffles doc keys once.  No relation exceeds
    O(distinct lines) ≈ corpus/W."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    n_lines = F.ceil(F.col("n") / F.lit(float(BOILER_LINE_W)))
    lines = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.slice(F.col("toks"), F.lit(1) + F.col("i") * BOILER_LINE_W, BOILER_LINE_W),
        ).alias("line"),
    )
    ldf = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("df")
    )
    boiler = F.col("df") >= BOILER_MIN_DOCS
    return (
        lines.join(ldf, "line")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(boiler, 1).otherwise(0)).cast("bigint").alias("n_boiler_lines"),
            F.round(
                F.sum(F.when(boiler, 1).otherwise(0)) / F.count(F.lit(1)), 4
            ).alias("boiler_ratio"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_boilerplate_removal",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
             LEN(STRING_SPLIT(text, ' ')) AS n
      FROM documents
    ),
    lines AS (
      SELECT doc_id, i,
             ARRAY_TO_STRING(
               toks[(1 + i * {BOILER_LINE_W}):((i + 1) * {BOILER_LINE_W})], ' '
             ) AS line
      FROM d, LATERAL (
        SELECT UNNEST(RANGE(0,
          CAST(CEIL(n / {BOILER_LINE_W}.0) AS BIGINT))) AS i)
    ),
    ldf AS (
      SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line
    ),
    kept AS (
      SELECT l.doc_id, l.i, l.line
      FROM lines l JOIN ldf f ON f.line = l.line
      WHERE f.df < {BOILER_MIN_DOCS}
    ),
    rebuilt AS (
      SELECT doc_id,
             ARRAY_TO_STRING(LIST(line ORDER BY i), ' ') AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_lines_kept
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
           CAST(LENGTH(COALESCE(r.clean_text, '')) AS BIGINT) AS clean_n_chars,
           MD5(COALESCE(r.clean_text, '')) AS clean_md5
    FROM d LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("llm", "dedup", "boilerplate"),
)
def dedup_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of the CCNet boilerplate pass: drop every line
    shared by ≥ BOILER_MIN_DOCS documents and REBUILD each document
    from its surviving lines in original order — what the curation
    pipeline actually writes downstream, where
    [[dedup_boilerplate_lines]] is the audit that tunes the threshold.
    The value check hashes the rebuilt text (MD5 both engines), so a
    single mis-ordered or mis-dropped line anywhere in the corpus
    fails the gate; documents whose every line is boilerplate survive
    as empty text (kept=0), not dropped rows — removal changes
    CONTENT, never corpus membership.

    Scale shape: identical to the profile op (one narrow line
    generate, one map-side-combining df aggregate, one equi join on
    the line key) plus an order-reconstructing per-doc aggregate:
    sort_array(collect_list(struct(i, line))) shuffles each document's
    surviving lines once, bounded per key by document length — the
    same per-doc rebuild shape corpus_chunk_documents certifies."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    n_lines = F.ceil(F.col("n") / F.lit(float(BOILER_LINE_W)))
    lines = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ",
            F.slice(F.col("toks"), F.lit(1) + F.col("i") * BOILER_LINE_W, BOILER_LINE_W),
        ).alias("line"),
    )
    ldf = lines.groupBy("line").agg(F.countDistinct("doc_id").alias("df"))
    kept = lines.join(ldf, "line").where(F.col("df") < BOILER_MIN_DOCS)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "line"))),
                lambda s: s.getField("line"),
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    return (
        d.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines_kept"), F.lit(0)).alias("n_lines_kept"),
            F.length(F.coalesce(F.col("clean_text"), F.lit(""))).cast("bigint").alias(
                "clean_n_chars"
            ),
            F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-style incremental dedup: probabilistic pre-filter + exact verify.
# ---------------------------------------------------------------------------

BLOOM_M = 4096  # filter width in bits
# Full-text Horner hash (same fold _feature_id uses for shingles), as
# DuckDB SQL over a `text` column:
_TEXT_HASH_SQL = (
    "LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT), "
    "[CAST(UNICODE(text[i]) AS BIGINT) FOR i IN RANGE(1, LENGTH(text)+1)]), "
    f"(acc, c) -> (acc * 31 + c) % {MH_PRIME})"
)


@register(
    "dedup_bloom_incremental",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, text, {_TEXT_HASH_SQL} AS h,
             doc_id % 10 < 8 AS is_seen
      FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
      SELECT doc_id, text, is_seen,
             h % {BLOOM_M} AS p1,
             (h * 31 + 7) % {MH_PRIME} % {BLOOM_M} AS p2
      FROM hashed
    ),
    bits AS (
      SELECT DISTINCT p FROM (
        SELECT p1 AS p FROM pos WHERE is_seen
        UNION ALL SELECT p2 FROM pos WHERE is_seen
      )
    ),
    fresh AS (SELECT * FROM pos WHERE NOT is_seen),
    cand AS (
      SELECT * FROM fresh
      WHERE p1 IN (SELECT p FROM bits) AND p2 IN (SELECT p FROM bits)
    ),
    dup AS (
      SELECT n.doc_id FROM fresh n
      WHERE n.text IN (SELECT text FROM pos WHERE is_seen)
    )
    SELECT (SELECT COUNT(*) FROM fresh) AS n_new,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM dup) AS n_true_dup,
           (SELECT COUNT(*) FROM cand WHERE doc_id IN (SELECT doc_id FROM dup))
             AS n_caught,
           (SELECT COUNT(*) FROM dup WHERE doc_id NOT IN (SELECT doc_id FROM cand))
             AS n_missed
    """,
    tags=("llm", "dedup", "bloom"),
)
def dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup: the arriving-batch-vs-corpus
    pattern (continuous crawl ingestion).  A k=2, m=4096-bit bloom
    filter built over the SEEN corpus's text hashes pre-filters the NEW
    batch; only bloom-positive docs pay the exact verification join.
    The output certifies the filter's contract in one row: n_missed — a
    true duplicate the bloom missed — is structurally 0 (no false
    negatives), while n_candidates - n_caught counts the false
    positives the exact join then rejects.

    Scale shape: the filter is built by aggregation over the seen
    corpus (here a distinct-positions relation, ≤ m rows, broadcast to
    the membership probe; the production form is Spark's native
    bloom_filter_agg → might_contain pair — one binary blob instead of
    a relation, same two hash probes — already exercised as a runtime
    join-pruning filter in tests/test_plans.py).  The exact-verify join
    touches only bloom-positive rows: at a 1% false-positive rate the
    expensive text-equality shuffle carries 1% of the batch plus the
    true duplicates, not the whole batch — that's the entire point of
    the pre-filter at 100 TB.

    Determinism: the Horner text hash is the engine-portable integer
    fold (llm/dedup.py:_feature_id), positions are pure modular
    arithmetic (h·31+7 < 2^36, no overflow), and every output is an
    exact count.  NULL-text rows are excluded on BOTH sides (a doc with
    no text is not a dedup candidate; DuckDB's fold of a NULL text
    degenerates to hash 0 while Spark's propagates NULL — the
    null-sweep finding)."""
    d = spread_small_scan(
        load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    )
    h = _feature_id(F.col("text"))
    pos = d.select(
        "doc_id",
        "text",
        (F.col("doc_id") % 10 < 8).alias("is_seen"),
        (h % BLOOM_M).alias("p1"),
        ((h * 31 + 7) % MH_PRIME % BLOOM_M).alias("p2"),
    )
    seen = pos.where("is_seen")
    new = pos.where("NOT is_seen")
    bits = (
        seen.select(F.col("p1").alias("p"))
        .unionAll(seen.select(F.col("p2").alias("p")))
        .distinct()
    )
    probes = new.select("doc_id", F.explode(F.array("p1", "p2")).alias("p"))
    cand = (
        probes.join(bits, "p", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == 2)
        .select("doc_id", F.lit(True).alias("is_cand"))
    )
    dup = (
        new.join(seen.select("text").distinct(), "text", "left_semi")
        .select("doc_id", F.lit(True).alias("is_dup"))
    )
    # Single flag-join + one aggregate: five facts from one pass over the
    # new batch, instead of five separately-derived count relations (each
    # of which would re-run the hash lineage — Catalyst does not dedupe
    # common subtrees across crossJoin branches).
    flags = (
        new.select("doc_id")
        .join(cand, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select(
            F.coalesce("is_cand", F.lit(False)).alias("is_cand"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )
    # COALESCE every SUM: an empty ingest batch must report zeros (the
    # oracle's COUNT semantics), not NULLs
    z = lambda c: F.coalesce(c, F.lit(0)).cast("bigint")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_new"),
        z(F.sum(F.when(F.col("is_cand"), 1).otherwise(0))).alias("n_candidates"),
        z(F.sum(F.when(F.col("is_dup"), 1).otherwise(0))).alias("n_true_dup"),
        z(F.sum(F.when(F.col("is_cand") & F.col("is_dup"), 1).otherwise(0))).alias(
            "n_caught"
        ),
        z(F.sum(F.when(F.col("is_dup") & ~F.col("is_cand"), 1).otherwise(0))).alias(
            "n_missed"
        ),
    )


@register(
    "dedup_cross_source_leak",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source,
             ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(text, ' ')[1:8]), ' ') AS fp
      FROM documents
    )
    SELECT fp,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT source)), ',') AS sources
    FROM keyed
    GROUP BY fp
    HAVING COUNT(DISTINCT source) >= 2
    ORDER BY fp
    """,
    tags=("llm", "dedup", "governance"),
)
def dedup_cross_source_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate leakage: fingerprint families (same
    normalized sorted-8-token prefix as [[dedup_fingerprint]]) that
    appear in TWO OR MORE distinct sources — the "same page crawled by
    two pipelines / eval set leaked into a crawl dump" audit that runs
    before mixing sources into one training corpus.  Per family it
    reports how many sources and documents collide and the sorted
    source list.

    Scale shape: one groupBy on the fixed-width fingerprint (tiny,
    skew-resistant key), count-distinct + collect_set over `source`
    whose domain is the source registry (dozens), so every aggregation
    buffer is O(sources), map-side combinable, one shuffle total."""
    d = load(spark, sf_dir, "documents")
    fp = F.array_join(F.array_sort(F.slice(F.split(F.col("text"), " "), 1, 8)), " ")
    return (
        d.select("doc_id", "source", fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        )
        .where(F.col("n_sources") >= 2)
        .orderBy("fp")
    )


CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL.format(filter="")}),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles a JOIN shingles b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh), 4)
             AS containment,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4)
             AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh)
          >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup", "containment"),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT: |A∩B|
    over the SMALLER set's size, the measure that catches subset
    relations symmetric Jaccard structurally misses — a quote, excerpt,
    or boilerplate block fully contained in a much longer page scores
    containment 1.0 but Jaccard |A|/|B| ≈ 0 (Broder's original resem-
    blance-vs-containment distinction; the axis Lee et al.'s doc-level
    MinHash also misses, cf. [[dedup_exact_substring_spans]]).

    Identical physical plan to [[dedup_ngram_jaccard]] — inverted
    index, join-free in-bucket pair expansion with both set sizes
    carried inline, one corpus pass — only the final scoring expression
    differs, so every scale property (bucket-bounded candidates,
    `max_doc_freq`/`max_bucket_width` levers) transfers unchanged.
    Jaccard rides along per pair: the two measures together separate
    "same document" (both high) from "one inside the other"
    (containment high, Jaccard low)."""
    # r13: same kernel adoption as dedup_ngram_jaccard — n_sh rides
    # inline from _shingles_with_count_of, deleting the former
    # collect_list + count + re-explode roundtrip (a corpus-sized
    # exchange); xxhash64 hashing stays JVM-side.
    exploded = _shingles_with_count_of(load(spark, sf_dir, "documents")).select(
        F.struct("doc_id", "n_sh").alias("dn"), F.xxhash64("shingle").alias("sid")
    )
    buckets = (
        exploded.groupBy("sid")
        .agg(F.sort_array(F.collect_list("dn")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    common = (
        _pairs_from_bucket(buckets, fields={"n_sh": ("na", "nb")})
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cont = F.col("n_common").cast("double") / F.least(F.col("na"), F.col("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    return (
        common.where(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )
