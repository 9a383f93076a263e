"""Statistical analytics: OLS regression, chi-square independence,
mergeable moments sketch, weighted median.

Reference parity: the reference's analytical surface is plain
scan/project SQL (SURVEY.md §2.1 Q1, `consumer/src/main/resources/`);
these are §2.2 extension operators — the statistics a warehouse
downstream of the CDC pipeline computes for experiment analysis and
data profiling.

Determinism posture (the repo's float-parity contract): every operator
here reduces to **exact integer sufficient statistics** first —
BIGINT sums of cents / quantities / counts — and derives the floating
result from those exact sums in a fixed expression tree.  Double
summation order can then no longer differ between Spark and DuckDB, so
the value hash is stable without leaning on coarse rounding.

Scale notes (100 TB): all four are single-pass groupBy aggregations
with map-side partial aggregation; the shuffled relation is
|groups| × a handful of BIGINT columns.  The weighted median adds one
per-group sort (window) over the distinct-value relation, which is
orders of magnitude smaller than the fact table.  The 4th power sum of
a bounded integer (quantity ≤ 50) stays within BIGINT up to ~1.4e6
rows per group at 50^4; beyond that the engine would widen to
DECIMAL(38,0) — noted on the operator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from mysql_postgres_debezium_cdc_spark.registry import register
from mysql_postgres_debezium_cdc_spark.sources.parquet import load


@register(
    "stats_regression_by_group",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT)                                   AS n,
             SUM(CAST(l_quantity AS BIGINT))                            AS sx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))          AS sy,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             SUM(CAST(l_quantity AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT))        AS sxy,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_extendedprice * 100) AS BIGINT))        AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    -- degenerate guards (NULL, both engines): constant/singleton x
    -- zeroes the slope denominator; constant y additionally zeroes r2's
    SELECT l_returnflag,
           n,
           CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0 THEN
             ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / 100.0, 6)
           END AS slope,
           CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <> 0 THEN
             ROUND((sy - sx * ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)))
                   / n / 100.0, 6)
           END AS intercept,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) <> 0
                 AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) <> 0 THEN
             ROUND(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
                   / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                      * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
           END AS r2
    FROM s ORDER BY l_returnflag
    """,
    tags=("stats", "agg"),
)
def stats_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS of extendedprice (y) on quantity (x).

    Instead of `regr_slope`/`regr_intercept` builtins (whose internal
    accumulation order differs between engines), both sides aggregate
    the five EXACT integer power sums (price in cents) and derive
    slope / intercept / r² from them in one fixed expression — the
    closed-form normal equations.  The sums are exact BIGINTs; the
    derived products are formed in DOUBLE (n·syy overflows BIGINT) —
    IEEE ops over identical exact inputs in an identical expression
    tree, so still deterministic across engines.  Mergeable-sketch
    shape: the sums combine associatively, so map-side partial
    aggregation does most of the work and the shuffle carries
    |groups| rows.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y_cents"),
    )
    # Money-bearing sums accumulate in DECIMAL: the 10× probe showed
    # Σy² in cents² (~1.6e13/row) overflowing BIGINT past ~575k rows
    # per group — sf0.1 survives, 10× does not.  DuckDB's SUM already
    # goes through 128-bit HUGEINT, so only the Spark side needs
    # widening.  Width is a measured choice (100× A/B in PLANS.md):
    # DECIMAL(18,0) input keeps Spark's compact-long Decimal on the
    # per-row path — 5.0 s warm at 100× vs 28.2 s for DECIMAL(38,0) —
    # while the SUM result type (DECIMAL(28,0)) stays exact to ~3e14
    # rows per group, and ANSI mode errors loudly past that rather
    # than wrapping.  Quantity sums (≤50/row) stay BIGINT.
    y_dec = F.col("y_cents").cast("decimal(18,0)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(y_dec).alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * y_dec).alias("sxy"),
        F.sum(y_dec * y_dec).alias("syy"),
    )
    dn, dsx = F.col("n").cast("double"), F.col("sx").cast("double")
    dsy = F.col("sy").cast("double")
    cov_n = dn * F.col("sxy") - dsx * F.col("sy")  # n·Σxy − Σx·Σy
    varx_n = dn * F.col("sxx") - dsx * F.col("sx")
    vary_n = dn * F.col("syy") - dsy * F.col("sy")
    # degenerate guards (NULL, both engines): ANSI doubles throw on a
    # 0.0 divisor where DuckDB returns inf/nan — guard identically
    return s.select(
        "l_returnflag",
        "n",
        F.when(varx_n != 0, F.round(cov_n / varx_n / 100.0, 6)).alias("slope"),
        F.when(
            varx_n != 0,
            F.round(
                (F.col("sy") - F.col("sx") * (cov_n / varx_n)) / F.col("n") / 100.0, 6
            ),
        ).alias("intercept"),
        F.when(
            (varx_n != 0) & (vary_n != 0),
            F.round((cov_n * cov_n) / (varx_n * vary_n), 6),
        ).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "stats_chi_square_independence",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS rk, o_orderstatus AS ck,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY rk, ck
    ),
    rt AS (SELECT rk, SUM(o) AS r_tot FROM obs GROUP BY rk),
    ct AS (SELECT ck, SUM(o) AS c_tot FROM obs GROUP BY ck),
    n  AS (SELECT SUM(o) AS grand FROM obs),
    cells AS (
      SELECT obs.rk, obs.ck, n.grand,
             POWER(obs.o - CAST(rt.r_tot * ct.c_tot AS DOUBLE) / n.grand, 2)
               / (CAST(rt.r_tot * ct.c_tot AS DOUBLE) / n.grand) AS term
      FROM obs JOIN rt USING (rk) JOIN ct USING (ck) CROSS JOIN n
    )
    -- grouped (not global) final aggregate so ZERO input rows yield
    -- zero output rows in both engines, mirroring the Spark plan
    SELECT CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           ROUND(SUM(term), 4) AS chi2,
           CASE WHEN LEAST((SELECT COUNT(*) FROM rt) - 1,
                           (SELECT COUNT(*) FROM ct) - 1) > 0 THEN
             ROUND(SQRT(SUM(term) / (grand
                   * LEAST((SELECT COUNT(*) FROM rt) - 1,
                           (SELECT COUNT(*) FROM ct) - 1))), 6)
           END AS cramers_v
    FROM cells GROUP BY grand
    """,
    tags=("stats", "agg"),
)
def stats_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    status (plus Cramér's V effect size).

    Contingency counts are exact BIGINTs; each cell term is derived
    from them in a fixed expression.  The final SUM over cells is a
    double sum, but the cell count is |priorities|×|statuses| (15) —
    a constant-size relation at any fact-table scale — so 4dp rounding
    absorbs ordering noise.  Shape at 100 TB: one groupBy over the
    facts, then arithmetic on a constant-size relation.
    """
    obs = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("rk"), F.col("o_orderstatus").alias("ck")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rt = obs.groupBy("rk").agg(F.sum("o").alias("r_tot"))
    ct = obs.groupBy("ck").agg(F.sum("o").alias("c_tot"))
    n = obs.agg(F.sum("o").alias("grand"))
    cells = (
        obs.join(rt, "rk").join(ct, "ck").crossJoin(F.broadcast(n)).select(
            (
                F.pow(
                    F.col("o") - (F.col("r_tot") * F.col("c_tot")).cast("double") / F.col("grand"),
                    F.lit(2),
                )
                / ((F.col("r_tot") * F.col("c_tot")).cast("double") / F.col("grand"))
            ).alias("term"),
            "grand",
        )
    )
    n_r = rt.agg(F.count(F.lit(1)).alias("n_rows"))
    n_c = ct.agg(F.count(F.lit(1)).alias("n_cols"))
    return (
        cells.groupBy("grand")
        .agg(F.sum("term").alias("chi2_raw"))
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_c))
        .select(
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).cast("bigint").alias("dof"),
            F.round("chi2_raw", 4).alias("chi2"),
            # a 1xK / Kx1 table has dof 0: NULL effect size, not a crash
            F.when(
                F.least(F.col("n_rows") - 1, F.col("n_cols") - 1) > 0,
                F.round(
                    F.sqrt(
                        F.col("chi2_raw")
                        / (
                            F.col("grand")
                            * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
                        )
                    ),
                    6,
                ),
            ).alias("cramers_v"),
        )
    )


@register(
    "agg_moments_sketch",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT)                  AS n,
             SUM(CAST(l_quantity AS BIGINT))           AS s1,
             SUM(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT))         AS s2,
             SUM(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT))         AS s3,
             SUM(CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT))         AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
           CAST(s3 AS BIGINT) AS s3, CAST(s4 AS BIGINT) AS s4,
           ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean,
           ROUND(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 6)
             AS variance,
           CASE WHEN CAST(s2 AS DOUBLE) / n
                     - POWER(CAST(s1 AS DOUBLE) / n, 2) > 0 THEN
             ROUND((CAST(s3 AS DOUBLE) / n
                    - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                    + 2 * POWER(CAST(s1 AS DOUBLE) / n, 3))
                   / POWER(CAST(s2 AS DOUBLE) / n
                           - POWER(CAST(s1 AS DOUBLE) / n, 2), 1.5), 6)
           END AS skewness,
           CASE WHEN CAST(s2 AS DOUBLE) / n
                     - POWER(CAST(s1 AS DOUBLE) / n, 2) > 0 THEN
             ROUND((CAST(s4 AS DOUBLE) / n
                    - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
                    + 6 * POWER(CAST(s1 AS DOUBLE) / n, 2) * (CAST(s2 AS DOUBLE) / n)
                    - 3 * POWER(CAST(s1 AS DOUBLE) / n, 4))
                   / POWER(CAST(s2 AS DOUBLE) / n
                           - POWER(CAST(s1 AS DOUBLE) / n, 2), 2) - 3, 6)
           END AS excess_kurtosis
    FROM s ORDER BY l_returnflag
    """,
    tags=("agg", "stats", "sketch"),
)
def agg_moments_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable moments sketch: exact raw power sums s1..s4 per group,
    with mean / variance / skewness / excess kurtosis derived from them.

    The sketch IS the BIGINT tuple (n, s1..s4): it merges by addition,
    so map-side combine reduces each partition to |groups| rows before
    the shuffle — the same mergeability contract as the HLL and
    histogram sketches (`agg_hll_sketch_mergeable`,
    `agg_quantile_histogram_sketch`).  Population (biased) moment
    formulas on both sides.  BIGINT bound: quantity ≤ 50 ⇒ s4 grows at
    6.25e6/row, overflowing past ~1.4e12 rows per group; at that scale
    widen s3/s4 to DECIMAL(38,0) (same algebra).
    """
    q = F.col("l_quantity").cast("bigint")
    s = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", q.alias("q"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
            F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
            F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
        )
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    m4 = F.col("s4").cast("double") / F.col("n")
    var = m2 - m1 * m1
    return s.select(
        "l_returnflag",
        "n",
        "s1",
        "s2",
        "s3",
        "s4",
        F.round(m1, 6).alias("mean"),
        F.round(m2 - m1 * m1, 6).alias("variance"),
        # zero-variance (constant/singleton) groups: NULL moments on
        # both engines instead of an ANSI DIVIDE_BY_ZERO crash
        F.when(
            var > 0,
            F.round((m3 - 3 * m1 * m2 + 2 * F.pow(m1, 3)) / F.pow(var, 1.5), 6),
        ).alias("skewness"),
        F.when(
            var > 0,
            F.round(
                (m4 - 4 * m1 * m3 + 6 * F.pow(m1, 2) * m2 - 3 * F.pow(m1, 4))
                / F.pow(var, 2)
                - 3,
                6,
            ),
        ).alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


@register(
    "agg_weighted_median",
    oracle="""
    WITH vals AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v_cents,
             SUM(CAST(l_quantity AS BIGINT)) AS w
      FROM lineitem GROUP BY l_returnflag, v_cents
    ),
    cum AS (
      SELECT l_returnflag, v_cents,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v_cents) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM vals
    )
    SELECT l_returnflag,
           ROUND(MIN(v_cents) / 100.0, 2) AS weighted_median,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum WHERE cw * 2 >= tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median of extendedprice weighted by quantity, per group
    (lower weighted median: smallest v with cum_weight ≥ half total).

    The decision `2·cum ≥ total` is pure BIGINT comparison on exact
    cents/quantities — no float anywhere until the final /100 display
    cast, so parity is bit-exact.  Shape: pre-aggregate to distinct
    (group, value) pairs first (collapses the fact table), then one
    window pass over that much smaller relation — the same
    two-phase discipline as `agg_salted_two_phase`.
    """
    vals = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v_cents"),
            F.col("l_quantity").cast("bigint").alias("w"),
        )
        .groupBy("l_returnflag", "v_cents")
        .agg(F.sum("w").alias("w"))
    )
    part = Window.partitionBy("l_returnflag")
    cum = vals.select(
        "l_returnflag",
        "v_cents",
        F.sum("w").over(part.orderBy("v_cents")).alias("cw"),
        F.sum("w").over(part).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("v_cents") / 100.0, 2).alias("weighted_median"),
            F.min("tw").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "dq_benford_test",
    oracle="""
    WITH digits AS (
      -- o_totalprice >= 1 guards the leading digit into 1..9 on BOTH
      -- engines: a sub-1 total floors to digit 0 (ANSI divide-by-zero in
      -- benford_p vs DuckDB inf) and a negative total's first char '-'
      -- fails Spark's ANSI string->bigint cast only.
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders
      WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs)
    SELECT digit, n,
           ROUND(n / CAST(total AS DOUBLE), 6) AS obs_p,
           ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_p,
           ROUND(ABS(n / CAST(total AS DOUBLE) - LOG10(1.0 + 1.0 / digit)), 6)
             AS abs_dev
    FROM obs CROSS JOIN tot ORDER BY digit
    """,
    tags=("dq", "stats"),
)
def dq_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-data detector a data-quality sweep runs on any money
    column (synthetic uniform generators, like this fixture's, fail it
    loudly; organic transaction data tracks log10(1+1/d)).

    One narrow map (leading digit via integer→string — no float
    log-bucketing) and a 9-row aggregate; observed shares are exact
    counts over an exact total, expectations a fixed LOG10 tree.

    Totals below 1 are filtered IDENTICALLY in engine and oracle (the
    repo-wide ratio-guard rule): digit 0 would divide by zero inside
    benford_p, and a negative total's '-' prefix fails only Spark's
    ANSI string→bigint cast."""
    digits = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    obs_p = F.col("n") / F.col("total").cast("double")
    ben_p = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs_p, 6).alias("obs_p"),
            F.round(ben_p, 6).alias("benford_p"),
            F.round(F.abs(obs_p - ben_p), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@register(
    "dq_outlier_iqr",
    oracle="""
    WITH vals AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, v
    ),
    cum AS (
      SELECT l_returnflag, v, cnt,
             SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
             SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM vals
    ),
    q AS (
      SELECT l_returnflag,
             MIN(CASE WHEN cw * 4 >= n THEN v END)     AS q1,
             MIN(CASE WHEN cw * 4 >= 3 * n THEN v END) AS q3,
             CAST(MIN(n) AS BIGINT) AS n_total
      FROM cum GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           ROUND(q.q1 / CAST(100.0 AS DOUBLE), 2) AS q1,
           ROUND(q.q3 / CAST(100.0 AS DOUBLE), 2) AS q3,
           q.n_total,
           CAST(COALESCE(SUM(CASE WHEN 2 * c.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                                    OR 2 * c.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                                  THEN c.cnt END), 0) AS BIGINT) AS n_outliers
    FROM cum c JOIN q USING (l_returnflag)
    GROUP BY c.l_returnflag, q.q1, q.q3, q.n_total
    ORDER BY c.l_returnflag
    """,
    tags=("dq", "stats"),
    bench=True,  # headline: the fact-sized rank window is the cost to watch
)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per group: lower quartiles selected by
    the cumulative-count rule (smallest v with 4·cum_count ≥ n / ≥ 3n —
    identical to the rank rule on the multiset, and the
    `agg_weighted_median` device) and the 1.5×IQR fences evaluated as
    2v < 2q1 − 3·IQR in pure BIGINT, so the half-cent the 1.5
    multiplier can produce never touches a float.

    Shape — the 100× probe rewrote this operator: the first version
    ranked RAW fact rows (row_number per group), and at 100× (60M rows)
    its three single-task 20M-row partition sorts took 54.8 s.  Now the
    facts collapse to distinct (group, value) counts FIRST (map-side
    combined), the cumulative window runs over the distinct-value
    relation (bounded by price cardinality, not fact count), and the
    fence count weights each distinct value by its count — no second
    fact pass at all.  Same 100× probe after the rewrite: 4.9 s."""
    vals = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v"),
        )
        .groupBy("l_returnflag", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    part = Window.partitionBy("l_returnflag")
    cum = vals.select(
        "l_returnflag",
        "v",
        "cnt",
        F.sum("cnt").over(part.orderBy("v")).alias("cw"),
        F.sum("cnt").over(part).alias("n"),
    )
    q = cum.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cw") * 4 >= F.col("n"), F.col("v"))).alias("q1"),
        F.min(F.when(F.col("cw") * 4 >= 3 * F.col("n"), F.col("v"))).alias("q3"),
        F.min("n").cast("bigint").alias("n_total"),
    )
    iqr = F.col("q3") - F.col("q1")
    low = 2 * F.col("v") < 2 * F.col("q1") - 3 * iqr
    high = 2 * F.col("v") > 2 * F.col("q3") + 3 * iqr
    return (
        cum.join(F.broadcast(q), "l_returnflag")
        .groupBy("l_returnflag", "q1", "q3", "n_total")
        .agg(
            F.coalesce(F.sum(F.when(low | high, F.col("cnt"))), F.lit(0))
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "l_returnflag",
            F.round(F.col("q1") / F.lit(100.0), 2).alias("q1"),
            F.round(F.col("q3") / F.lit(100.0), 2).alias("q3"),
            "n_total",
            "n_outliers",
        )
        .orderBy("l_returnflag")
    )


def _purchase_click_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-sample distinct-value relation both rank statistics
    share: one fact-sized map-side-combined groupBy onto integer cents,
    with per-side counts (ca = purchase, cb = click)."""
    ev = load(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    return ev.groupBy(
        F.round(F.col("value") * 100).cast("bigint").alias("v")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("ca"),
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("cb"),
    )


def _banded_rank_cums(vals: DataFrame) -> DataFrame:
    """Distributed cumulative counts over the distinct-value grid — the
    two-phase banded prefix sum (the [[text_vocab_head_coverage]]
    device applied to rank statistics, the r7 verdict's ask).

    A literal translation of the oracles' ``SUM(...) OVER (ORDER BY
    v)`` is an UNPARTITIONED window: value-domain-bounded, not
    row-bounded, and the first thing to melt if a metric's value
    domain is unbounded.  Instead:

    1. band each value by its signed bit length — ``sign(v) ·
       (⌊log₂|v|⌋ + 1)``, 0 for v = 0.  Bands partition the BIGINT
       axis into ≤ 128 DISJOINT, ORDERED ranges (63 positive + 64
       negative signed bit-lengths + the zero band), so (band, v) sorts
       identically to (v) by construction;
    2. within-band cumulative sums run under ``partitionBy(band)`` —
       distributed work, no single-task value-grid sort;
    3. cross-band offsets come from an unpartitioned window over the
       ≤ 128-row BAND SUMMARY — the one global window, bounded at any
       data scale — and the sample totals ride the same summary.

    Returns v, ca, cb, t, before (exclusive pooled cumsum), c1/c2
    (inclusive per-side cumsums), t1/t2 (totals) — all exact BIGINTs,
    bit-identical to the single-window formulation.  The vals relation
    is persisted: the within-band pass and the band summary both
    consume it, and without the cache each branch would re-run the
    fact-sized groupBy (the justified-persist rule)."""
    # r13 (guide §5): the window/select trees ship as SQL strings —
    # same trees, one py4j round trip each instead of one per operator
    # (at a checkout of b2c0d21, `scripts/ab.py b2c0d21^
    # events_experiment_winsorized` shows the analyzed plans equal
    # modulo expression ids).  Frames are spelled out because the DSL
    # used explicit rowsBetween frames, not the parser's RANGE default.
    banded = vals.selectExpr(
        "*",
        "CASE WHEN v > 0 THEN LENGTH(BIN(v))"
        " WHEN v < 0 THEN -LENGTH(BIN(-v)) ELSE 0 END AS band",
    ).persist()
    inc = (
        "OVER (PARTITION BY band ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    exc = (
        "OVER (PARTITION BY band ORDER BY v"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    within = banded.selectExpr(
        "band",
        "v",
        "ca",
        "cb",
        "(ca + cb) AS t",
        f"SUM(ca) {inc} AS wca",
        f"SUM(cb) {inc} AS wcb",
        f"COALESCE(SUM(ca + cb) {exc}, 0) AS wbefore",
    )
    bands = banded.groupBy("band").agg(
        F.expr("SUM(ca) AS bca"), F.expr("SUM(cb) AS bcb")
    )
    woff = (
        "OVER (ORDER BY band"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    off = bands.selectExpr(
        "band",
        f"COALESCE(SUM(bca) {woff}, 0) AS off_ca",
        f"COALESCE(SUM(bcb) {woff}, 0) AS off_cb",
        "SUM(bca) OVER () AS t1",
        "SUM(bcb) OVER () AS t2",
    )
    return within.join(F.broadcast(off), "band").selectExpr(
        "v",
        "ca",
        "cb",
        "t",
        "(wbefore + off_ca + off_cb) AS before",
        "(wca + off_ca) AS c1",
        "(wcb + off_cb) AS c2",
        "t1",
        "t2",
    )


@register(
    "stats_mann_whitney_u",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS ca,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS cb
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
      GROUP BY v
    ),
    cum AS (
      SELECT ca, cb, ca + cb AS t,
             COALESCE(SUM(ca + cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM vals
    ),
    s AS (
      SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(ca * (2 * before + t + 1)), 0) AS BIGINT) AS r2x,
             CAST(COALESCE(SUM(t * t * t - t), 0) AS BIGINT) AS ties
      FROM cum
    )
    SELECT n1 AS n_purchase, n2 AS n_click,
           CASE WHEN n1 > 0 THEN (r2x - n1 * (n1 + 1)) / 2.0 END AS u_stat,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                 AND (CAST(n1 AS DOUBLE) * n2 / 12.0)
                     * ((n1 + n2 + 1) - CAST(ties AS DOUBLE)
                        / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))) > 0
           THEN ROUND(((r2x - n1 * (n1 + 1)) / 2.0
                       - CAST(n1 AS DOUBLE) * n2 / 2.0)
                / SQRT((CAST(n1 AS DOUBLE) * n2 / 12.0)
                       * ((n1 + n2 + 1) - CAST(ties AS DOUBLE)
                          / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 4)
           END AS z_score
    FROM s
    """,
    tags=("stats", "agg"),
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test: purchase vs
    click event values — the nonparametric A/B companion to
    [[events_ab_test_eval]]'s z-test, robust to the heavy-tailed value
    distributions where a mean test misleads.

    Exactness device: midranks never materialize as floats.  Per
    DISTINCT cent value with group counts (ca, cb) and t = ca+cb, the
    doubled rank sum 2·R_a = Σ ca·(2·cum_before + t + 1) is an exact
    BIGINT (2·midrank = 2·cum_before + t + 1 is always integral), so
    U = R_a − n1(n1+1)/2 is exact to the half-unit and the tie-corrected
    normal z derives from exact integers in one fixed expression tree —
    deterministic across engines, 4dp-rounded for presentation.
    Degenerate guards (both engines, the repo ratio rule): empty
    either-side or all-tied samples (variance 0) yield NULL z.

    Scale shape: one fact-sized groupBy onto the |distinct cents|
    relation (map-side combined), then DISTRIBUTED cumulative counts
    via the banded two-phase prefix sum (`_banded_rank_cums` — the
    [[text_vocab_head_coverage]] device; the only unpartitioned window
    is over the ≤ 128-row band summary), and a 1-row reduce.  Row-scale
    clean regardless of the value domain's width.

    Width horizon: the doubled rank sum is O(N²) (~9e18 at N≈3e9
    pooled rows); past that BOTH engines error loudly rather than wrap
    (Spark ANSI overflow; DuckDB BIGINT multiplication raises Out of
    Range — its per-row product does NOT auto-promote to HUGEINT, only
    SUM's accumulator does).  Widen both sides — DECIMAL(38,0) /
    explicit HUGEINT casts — if a cohort ever approaches it; rank
    tests at corpus scale run on sampled cohorts."""
    cum = _banded_rank_cums(_purchase_click_value_counts(spark, sf_dir))
    s = cum.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("bigint").alias("n2"),
        F.coalesce(
            F.sum(F.col("ca") * (2 * F.col("before") + F.col("t") + 1)), F.lit(0)
        )
        .cast("bigint")
        .alias("r2x"),
        F.coalesce(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")), F.lit(0)
        )
        .cast("bigint")
        .alias("ties"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u = (F.col("r2x") - n1 * (n1 + 1)) / 2.0
    sigma2 = (n1.cast("double") * n2 / 12.0) * (
        (n1 + n2 + 1)
        - F.col("ties").cast("double") / ((n1 + n2).cast("double") * (n1 + n2 - 1))
    )
    z = (u - n1.cast("double") * n2 / 2.0) / F.sqrt(sigma2)
    return s.select(
        n1.alias("n_purchase"),
        n2.alias("n_click"),
        F.when(n1 > 0, u).alias("u_stat"),
        F.when(
            (n1 > 0) & (n2 > 0) & (n1 + n2 > 1) & (sigma2 > 0), F.round(z, 4)
        ).alias("z_score"),
    )


@register(
    "stats_ols_multivariate",
    oracle="""
    WITH b AS (
      SELECT l_linestatus AS g,
             CAST(l_quantity AS BIGINT) AS x1,
             CAST(ROUND(l_discount * 10000) AS BIGINT) AS x2,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
             SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
             SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
      FROM b GROUP BY g
    ),
    d AS (
      SELECT g, n, s1, s2, sy, s11, s12, s22, s1y, s2y,
             CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
                                  - CAST(s12 AS DOUBLE) * s12)
             - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
                                     - CAST(s12 AS DOUBLE) * s2)
             + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
                                     - CAST(s11 AS DOUBLE) * s2) AS det
      FROM s
    )
    SELECT g AS l_linestatus, n,
           CASE WHEN det <> 0 THEN ROUND((
             CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
                                   - CAST(s12 AS DOUBLE) * s12)
             - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22
                                     - CAST(s12 AS DOUBLE) * s2y)
             + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12
                                     - CAST(s11 AS DOUBLE) * s2y)
           ) / det / 100.0, 6) END AS intercept,
           CASE WHEN det <> 0 THEN ROUND((
             CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22
                                  - CAST(s12 AS DOUBLE) * s2y)
             - CAST(s1 AS DOUBLE) * (CAST(sy AS DOUBLE) * s22
                                     - CAST(s2 AS DOUBLE) * s2y)
             + CAST(s2 AS DOUBLE) * (CAST(sy AS DOUBLE) * s12
                                     - CAST(s1y AS DOUBLE) * s2)
           ) / det / 100.0, 6) END AS slope_qty,
           CASE WHEN det <> 0 THEN ROUND((
             CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y
                                  - CAST(s1y AS DOUBLE) * s12)
             - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y
                                     - CAST(s1y AS DOUBLE) * s2)
             + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
                                     - CAST(s11 AS DOUBLE) * s2)
           ) / det * 100.0, 6) END AS slope_discount
    FROM d ORDER BY l_linestatus
    """,
    tags=("stats", "agg"),
)
def stats_ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS per group — extendedprice on (quantity,
    discount) — solved in closed form from the 3×3 normal equations by
    Cramer's rule: the multivariate extension of
    [[stats_regression_by_group]], still a ONE-PASS mergeable
    aggregate (nine exact power sums), never an iterative solver.

    Exactness device: sums are exact integers (price cents, discount
    basis points); every determinant is the SAME cofactor expansion
    written once per engine over those exact sums, evaluated in DOUBLE
    — identical expression tree, identical IEEE result, 6dp round for
    presentation.  Singular normal matrices (constant/collinear
    regressors — the degenerate fixture's regime) yield NULL
    coefficients under identical det<>0 guards.

    Scale shape: map-side-combined groupBy; the shuffle carries
    |groups| × 10 numeric columns.  Sum widths at 100 TB: the largest
    per-row term is x2·y ≈ 1e11, so BIGINT holds to ~9e7 rows/group;
    the money-bearing sums widen to DECIMAL(18,0) on the Spark side
    exactly as [[stats_regression_by_group]] measured (DuckDB already
    sums in 128-bit HUGEINT), keeping the compact-long decimal path.
    Coefficients report in dollars: per quantity unit and per unit of
    discount fraction."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("g"),
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    # money-bearing sums in DECIMAL(18,0): exact past BIGINT's ~9e7
    # rows/group horizon for the x2·y term (measured width choice —
    # see stats_regression_by_group's 100× A/B)
    y_dec = F.col("y").cast("decimal(18,0)")
    s = li.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(y_dec).alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * y_dec).alias("s1y"),
        F.sum(F.col("x2") * y_dec).alias("s2y"),
    )

    def D(c):
        return F.col(c).cast("double")

    det = (
        D("n") * (D("s11") * D("s22") - D("s12") * D("s12"))
        - D("s1") * (D("s1") * D("s22") - D("s12") * D("s2"))
        + D("s2") * (D("s1") * D("s12") - D("s11") * D("s2"))
    )
    det_b0 = (
        D("sy") * (D("s11") * D("s22") - D("s12") * D("s12"))
        - D("s1") * (D("s1y") * D("s22") - D("s12") * D("s2y"))
        + D("s2") * (D("s1y") * D("s12") - D("s11") * D("s2y"))
    )
    det_b1 = (
        D("n") * (D("s1y") * D("s22") - D("s12") * D("s2y"))
        - D("s1") * (D("sy") * D("s22") - D("s2") * D("s2y"))
        + D("s2") * (D("sy") * D("s12") - D("s1y") * D("s2"))
    )
    det_b2 = (
        D("n") * (D("s11") * D("s2y") - D("s1y") * D("s12"))
        - D("s1") * (D("s1") * D("s2y") - D("s1y") * D("s2"))
        + D("sy") * (D("s1") * D("s12") - D("s11") * D("s2"))
    )
    return (
        s.select(
            F.col("g").alias("l_linestatus"),
            "n",
            F.when(det != 0, F.round(det_b0 / det / 100.0, 6)).alias("intercept"),
            F.when(det != 0, F.round(det_b1 / det / 100.0, 6)).alias("slope_qty"),
            F.when(det != 0, F.round(det_b2 / det * 100.0, 6)).alias(
                "slope_discount"
            ),
        )
        .orderBy("l_linestatus")
    )


# (table, determinant, dependent) — the candidate functional
# dependencies the audit validates.  One holds by construction
# (c_custkey is the customer PK), two are plausibly-but-not-actually
# functional, so the audit certifies both verdict polarities.
FD_CANDIDATES = (
    ("customer", "c_custkey", "c_nationkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("documents", "source", "lang"),
)


def _fd_block_sql(table: str, det: str, dep: str) -> str:
    return f"""
    SELECT '{table}.{det} -> {dep}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(COALESCE(SUM(CASE WHEN n_dep > 1 THEN 1 END), 0) AS BIGINT)
             AS n_violating,
           CASE WHEN COUNT(*) > 0 THEN
             CAST(COALESCE(SUM(CASE WHEN n_dep > 1 THEN 1 END), 0)
                  * 1000000 // COUNT(*) AS BIGINT)
           END AS violation_ppm,
           COALESCE(SUM(CASE WHEN n_dep > 1 THEN 1 END), 0) = 0 AS holds
    FROM (
      SELECT {det}, CAST(COUNT(DISTINCT {dep}) AS BIGINT) AS n_dep
      FROM {table} GROUP BY {det}
    )
    """


@register(
    "dq_functional_dependency_audit",
    oracle=" UNION ALL ".join(
        _fd_block_sql(t, a, b) for t, a, b in FD_CANDIDATES
    )
    + " ORDER BY fd",
    tags=("dq", "stats"),
)
def dq_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency validation (the Metanome/profiling
    primitive): for each candidate A → B, does every A-value map to at
    most one B-value?  The audit a warehouse runs before trusting a
    column as a join key or a dimension hierarchy, and the CDC replica
    runs to prove the sink kept source invariants.

    Per candidate: one groupBy(A) with COUNT(DISTINCT B) — map-side
    combined, |distinct A| shuffle rows — then a 1-row verdict:
    violating-key count and an EXACT violation rate in ppm (integer
    floor-division; a 6dp float round could land on a representation
    boundary, the [[agg_percentiles]] lesson).  NULL determinant
    values form their own group and NULL dependents are ignored by
    COUNT(DISTINCT) — identical semantics in both engines, exercised
    by the null fixture.  The three candidates cover both verdicts:
    the customer PK holds by construction, the other two are
    plausible-looking dependencies that real data violates.

    Scale shape: candidates audit INDEPENDENT tables, so Spark runs
    the three aggregates as parallel stages of one job; each is a
    single shuffle sized by its determinant's cardinality, never the
    fact table."""
    parts = []
    for table, det, dep in FD_CANDIDATES:
        per_key = (
            load(spark, sf_dir, table)
            .groupBy(det)
            .agg(F.count_distinct(F.col(dep)).cast("bigint").alias("n_dep"))
        )
        viol = F.coalesce(
            F.sum(F.when(F.col("n_dep") > 1, 1)), F.lit(0)
        ).cast("bigint")
        nk = F.count(F.lit(1)).cast("bigint")
        parts.append(
            per_key.agg(
                nk.alias("n_keys"),
                viol.alias("n_violating"),
            ).select(
                F.lit(f"{table}.{det} -> {dep}").alias("fd"),
                "n_keys",
                "n_violating",
                # exact INTEGER floor division (Spark `div` == DuckDB
                # `//`) — never a floor over a rounded double
                F.when(
                    F.col("n_keys") > 0,
                    F.expr("(n_violating * 1000000) div n_keys"),
                )
                .cast("bigint")
                .alias("violation_ppm"),
                (F.col("n_violating") == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("fd")


def _dec_floordiv_1e6(b: Column) -> Column:
    """EXACT floor(b / 10⁶) for a nonnegative wide-decimal column.

    Spark's `div` operator returns LONG and silently wraps when the
    quotient exceeds BIGINT (probed, Spark 4.1), so wide quotients
    must avoid it.  Subtracting pmod makes the numerator an exact
    multiple of 10⁶; a decimal divide whose true quotient is exactly
    representable introduces no rounding (probed exact at the full
    DECIMAL(38,0) extreme)."""
    return (b - F.pmod(b, F.lit(1000000))) / F.lit(1000000)


@register(
    "stats_ks_test",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS ca,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS cb
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
      GROUP BY v
    ),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY v) AS c1,
             SUM(cb) OVER (ORDER BY v) AS c2
      FROM vals
    ),
    s AS (
      SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n2
      FROM vals
    ),
    d AS (
      SELECT CAST(MAX(ABS(c1 * s.n2 - c2 * s.n1)) AS BIGINT) AS d_num
      FROM cum CROSS JOIN s
    )
    SELECT s.n1 AS n_purchase, s.n2 AS n_click, d.d_num,
           CASE WHEN s.n1 > 0 AND s.n2 > 0 THEN
             ROUND(CAST(d.d_num AS DOUBLE) / (CAST(s.n1 AS DOUBLE) * s.n2), 6)
           END AS d_stat,
           CASE WHEN s.n1 > 0 AND s.n2 > 0 THEN
             CAST(d.d_num AS HUGEINT) * d.d_num
               > (CAST(1844164 AS HUGEINT) * (s.n1 + s.n2) * s.n1 * s.n2)
                 // 1000000
           END AS significant_05
    FROM s CROSS JOIN d
    """,
    tags=("stats", "agg"),
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (purchase vs click values):
    D = max_v |F1(v) − F2(v)|, the distribution-shape companion to
    [[stats_mann_whitney_u]]'s location test — KS sees variance/shape
    shifts a rank-sum test is blind to.

    Exactness device: D never exists as a float.  With cumulative
    counts (c1, c2) over the merged distinct-value grid,
    D = max |c1·n2 − c2·n1| / (n1·n2), so the numerator is an exact
    BIGINT max and even the α=0.05 decision is EXACT INTEGER
    arithmetic: D > 1.358·√((n1+n2)/(n1·n2)) squares to
    d_num²·10⁶ > 1844164·(n1+n2)·n1·n2, rearranged via the exact
    floor identity A·10⁶ > B ⟺ A > B div 10⁶ so the squared term is
    d_num² alone (≤ (n1·n2)² — DECIMAL(38,0)/HUGEINT-safe over
    d_num's whole BIGINT range; the naive ×10⁶ form overflowed 38
    digits at d_num ≈ 3.2e15, the r7 ADVICE finding).  The Spark
    floor-div is (B − pmod(B,10⁶))/10⁶ — numerator an exact multiple
    of 10⁶, so the decimal divide is exact (Spark's `div` returns
    LONG and the quotient here exceeds BIGINT); DuckDB uses HUGEINT
    `//`.  No boolean ever depends on a float comparison near a
    boundary.

    Scale shape: identical to the Mann-Whitney decomposition — one
    map-side-combined groupBy onto the distinct-cents relation, then
    DISTRIBUTED cumulative counts via the banded two-phase prefix sum
    (`_banded_rank_cums`; the sample totals ride the ≤ 128-row band
    summary, the only unpartitioned window) and a 1-row reduce.
    Empty either-side → NULL statistic/verdict, both engines.  Width
    horizon: the binding bound is the D numerator's BIGINT cast
    (d_num ≤ n1·n2 < 9.2e18 → ~6e9 balanced pooled rows, the same
    O(N²) horizon as the rank sum); the rearranged verdict arithmetic
    is exact over that ENTIRE range (d_num² ≤ 8.5e37 fits both
    DECIMAL(38,0) and HUGEINT), and past the horizon both engines
    error loudly rather than wrap."""
    cum = _banded_rank_cums(_purchase_click_value_counts(spark, sf_dir))
    agg = cum.agg(
        F.coalesce(F.max("t1"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.max("t2"), F.lit(0)).cast("bigint").alias("n2"),
        F.max(F.abs(F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1")))
        .cast("bigint")
        .alias("d_num"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return agg.select(
        n1.alias("n_purchase"),
        n2.alias("n_click"),
        "d_num",
        F.when(
            (n1 > 0) & (n2 > 0),
            F.round(F.col("d_num").cast("double") / (n1.cast("double") * n2), 6),
        ).alias("d_stat"),
        F.when(
            (n1 > 0) & (n2 > 0),
            dec(F.col("d_num")) * F.col("d_num")
            > _dec_floordiv_1e6(dec(F.lit(1844164)) * (n1 + n2) * n1 * n2),
        ).alias("significant_05"),
    )


@register(
    "stats_welch_ttest",
    oracle="""
    WITH vals AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS ca,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS cb
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
      GROUP BY v
    ),
    s AS (
      SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n1,
             CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n2,
             CAST(COALESCE(SUM(v * ca), 0) AS BIGINT) AS s1,
             CAST(COALESCE(SUM(v * cb), 0) AS BIGINT) AS s2,
             CAST(COALESCE(SUM(v * v * ca), 0) AS BIGINT) AS ss1,
             CAST(COALESCE(SUM(v * v * cb), 0) AS BIGINT) AS ss2
      FROM vals
    ),
    d AS (
      SELECT n1, n2,
             CAST(s1 AS DOUBLE) / n1 AS m1,
             CAST(s2 AS DOUBLE) / n2 AS m2,
             (CAST(n1 AS DOUBLE) * ss1 - CAST(s1 AS DOUBLE) * s1)
               / (CAST(n1 AS DOUBLE) * (n1 - 1) * n1) AS se1,
             (CAST(n2 AS DOUBLE) * ss2 - CAST(s2 AS DOUBLE) * s2)
               / (CAST(n2 AS DOUBLE) * (n2 - 1) * n2) AS se2
      FROM s
      WHERE n1 >= 2 AND n2 >= 2
    )
    SELECT n1 AS n_purchase, n2 AS n_click,
           ROUND((m1 - m2) / 100.0, 4) AS mean_diff,
           CASE WHEN se1 + se2 > 0 THEN
             ROUND((m1 - m2) / SQRT(se1 + se2), 4) END AS t_stat,
           CASE WHEN se1 + se2 > 0 AND se1 * se1 * (n2 - 1)
                 + se2 * se2 * (n1 - 1) > 0 THEN
             ROUND((se1 + se2) * (se1 + se2)
                   * (CAST(n1 AS DOUBLE) - 1) * (n2 - 1)
                   / (se1 * se1 * (n2 - 1) + se2 * se2 * (n1 - 1)), 2)
           END AS dof,
           CASE WHEN se1 + se2 > 0 THEN
             ABS(ROUND((m1 - m2) / SQRT(se1 + se2), 4)) >= 1.96 END
             AS significant_05
    FROM d
    """,
    tags=("stats", "agg"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (purchase vs click values) — the
    parametric member of the two-sample battery: [[stats_mann_whitney_u]]
    tests location ranks, [[stats_ks_test]] tests shape, this tests the
    MEAN difference with the Welch-Satterthwaite effective dof, the
    recommended default over Student's pooled test (Welch 1947; Ruxton
    2006).

    Exactness device: the same distinct-cents relation as the rank
    family — per-value counts give exact BIGINT power sums (Σv·c,
    Σv²·c), and means/variances/t/dof derive in ONE fixed double tree,
    identical both engines, 4dp/2dp presentation rounds.  The
    large-sample |t| ≥ 1.96 verdict compares the ROUNDED t, so both
    engines compare the identical double.  Guards (both sides): n < 2
    on either side emits zero rows (no variance estimate exists);
    zero pooled standard error → NULL t/dof/verdict.

    Scale shape: one map-side-combined groupBy onto the distinct-cents
    grid, one 1-row reduce — NO window at all (unlike the rank pair,
    Welch needs no cumulative pass).  Width horizon: Σv²·c at 1e6-cent
    values reaches BIGINT at ~9×10⁶ rows/value-group; the documented
    DECIMAL(18,0) widening of [[stats_regression_by_group]] applies
    verbatim if a corpus-scale cohort needs it, and ANSI errors loudly
    rather than wrapping below that."""
    vals = _purchase_click_value_counts(spark, sf_dir)
    s = vals.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("bigint").alias("n1"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("bigint").alias("n2"),
        F.coalesce(F.sum(F.col("v") * F.col("ca")), F.lit(0))
        .cast("bigint")
        .alias("s1"),
        F.coalesce(F.sum(F.col("v") * F.col("cb")), F.lit(0))
        .cast("bigint")
        .alias("s2"),
        F.coalesce(F.sum(F.col("v") * F.col("v") * F.col("ca")), F.lit(0))
        .cast("bigint")
        .alias("ss1"),
        F.coalesce(F.sum(F.col("v") * F.col("v") * F.col("cb")), F.lit(0))
        .cast("bigint")
        .alias("ss2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    m1 = F.col("s1").cast("double") / n1
    m2 = F.col("s2").cast("double") / n2
    se1 = (n1.cast("double") * F.col("ss1") - F.col("s1").cast("double") * F.col("s1")) / (
        n1.cast("double") * (n1 - 1) * n1
    )
    se2 = (n2.cast("double") * F.col("ss2") - F.col("s2").cast("double") * F.col("s2")) / (
        n2.cast("double") * (n2 - 1) * n2
    )
    d = s.where((n1 >= 2) & (n2 >= 2)).select(
        "n1", "n2", m1.alias("m1"), m2.alias("m2"), se1.alias("se1"), se2.alias("se2")
    )
    se = F.col("se1") + F.col("se2")
    t4 = F.round((F.col("m1") - F.col("m2")) / F.sqrt(se), 4)
    dof_den = F.col("se1") * F.col("se1") * (F.col("n2") - 1) + F.col("se2") * F.col(
        "se2"
    ) * (F.col("n1") - 1)
    return d.select(
        F.col("n1").alias("n_purchase"),
        F.col("n2").alias("n_click"),
        F.round((F.col("m1") - F.col("m2")) / 100.0, 4).alias("mean_diff"),
        F.when(se > 0, t4).alias("t_stat"),
        F.when(
            (se > 0) & (dof_den > 0),
            F.round(
                se
                * se
                * (F.col("n1").cast("double") - 1)
                * (F.col("n2") - 1)
                / dof_den,
                2,
            ),
        ).alias("dof"),
        F.when(se > 0, F.abs(t4) >= 1.96).alias("significant_05"),
    )
