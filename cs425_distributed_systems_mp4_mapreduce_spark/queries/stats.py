"""Statistical tests and estimators over the driver tables.

Correlation and regression, moments and normality, rank tests
(Spearman, Kendall, Mann-Whitney, Wilcoxon, Kruskal-Wallis, Friedman),
contingency tests (chi-square, Cramér's V, McNemar, Cochran's Q,
kappa), goodness of fit and drift (KS, Cramér-von Mises, Benford) and
change detection (runs, Page-Hinkley, Ljung-Box).

Every statistic is rebuilt from exact integer or decimal sums, so Spark
and the DuckDB oracle run the same post-arithmetic and agree bit for
bit.  Where a test needs a global order, ranks come from a bounded
census or a partitioned window, not from one sorted partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..sources.derived import CENTS, DAILY_ORDERS_SQL, US_PER_DAY, daily_orders
from ..sources.tables import table as T


@query(
    "q_stats_regr",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                           * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                           * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx2,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy2
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)) AS corr_qty_price,
           (n * sxy - sx * sy) / (n * sx2 - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sx2 - sx * sx) * sx) / n AS intercept
    FROM sums ORDER BY l_returnflag
    """,
)
def q_stats_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface — Pearson correlation and OLS
    slope/intercept (price ~ quantity per return flag), rebuilt from
    EXACT decimal sums (Σx, Σy, Σxy, Σx², Σy², n) instead of the
    builtin corr()/regr_slope(): the builtins accumulate doubles in
    partition order, so two engines (or two runs with different
    partitioning) disagree in the last ulps — the exact-sums
    formulation is order-independent, then both engines run the
    IDENTICAL IEEE post-arithmetic, giving bit-equal statistics with
    zero tolerance.  One aggregation pass, map-side combinable; the
    same template extends to any moment-based statistic (skew,
    kurtosis, covariance matrices)."""
    from ..functions.parity import _dec2dbl

    li = T(spark, sf_dir, "lineitem")
    xd = F.col("l_quantity").cast("decimal(18,2)")
    yd = F.col("l_extendedprice").cast("decimal(18,2)")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        _dec2dbl(F.sum(xd)).alias("sx"),
        _dec2dbl(F.sum(yd)).alias("sy"),
        _dec2dbl(F.sum(xd * yd)).alias("sxy"),
        _dec2dbl(F.sum(xd * xd)).alias("sx2"),
        _dec2dbl(F.sum(yd * yd)).alias("sy2"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sx2, sy2 = F.col("sxy"), F.col("sx2"), F.col("sy2")
    slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy))
        ).alias("corr_qty_price"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Correlation matrix from exact sums
# --------------------------------------------------------------------------

#: measure columns for the correlation matrix (all money/ratio columns
#: at decimal scale 2 — the q_stats_regr parity discipline)
_CORR_COLS = ("l_discount", "l_extendedprice", "l_quantity", "l_tax")


def _corr_oracle() -> str:
    cols = _CORR_COLS
    dec = lambda c: f"CAST({c} AS DECIMAL(18,2))"  # noqa: E731
    d2d = lambda e: f"CAST(CAST({e} AS VARCHAR) AS DOUBLE)"  # noqa: E731
    sums = ["COUNT(*) AS n"]
    for c in cols:
        sums.append(f"{d2d(f'SUM({dec(c)})')} AS s_{c}")
        sums.append(f"{d2d(f'SUM({dec(c)} * {dec(c)})')} AS s_{c}_{c}")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    for a, b in pairs:
        sums.append(f"{d2d(f'SUM({dec(a)} * {dec(b)})')} AS s_{a}_{b}")
    arms = []
    for a, b in pairs:
        corr = (
            f"(n * s_{a}_{b} - s_{a} * s_{b}) /"
            f" (sqrt(n * s_{a}_{a} - s_{a} * s_{a}) *"
            f"  sqrt(n * s_{b}_{b} - s_{b} * s_{b}))"
        )
        arms.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n, {corr} AS corr FROM s"
        )
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(arms)
        + "\nORDER BY col_x, col_y"
    )


@query("q_stats_corr_matrix", oracle=_corr_oracle())
def q_stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation MATRIX over the lineitem measures — the
    covariance-matrix extension q_stats_regr's docstring promises:
    ONE aggregation pass computes every exact decimal sum (4 sums, 4
    sum-of-squares, 6 cross products, n), then each of the 6 unordered
    pairs is finished with identical IEEE post-arithmetic on both
    engines — bit-equal with zero tolerance.  Both the Spark plan and
    the DuckDB oracle are GENERATED from the same pair list, so the
    twins cannot drift.  Scale: single map-side-combinable pass; the
    matrix width grows O(k²) in columns, not in rows."""
    from ..functions.parity import _dec2dbl

    li = T(spark, sf_dir, "lineitem")
    cols = _CORR_COLS
    dec = {c: F.col(c).cast("decimal(18,2)") for c in cols}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(_dec2dbl(F.sum(dec[c])).alias(f"s_{c}"))
        aggs.append(_dec2dbl(F.sum(dec[c] * dec[c])).alias(f"s_{c}_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(_dec2dbl(F.sum(dec[a] * dec[b])).alias(f"s_{a}_{b}"))
    sums = li.agg(*aggs)

    n = F.col("n")
    structs = []
    for a, b in pairs:
        sa, sb = F.col(f"s_{a}"), F.col(f"s_{b}")
        saa, sbb, sab = (
            F.col(f"s_{a}_{a}"),
            F.col(f"s_{b}_{b}"),
            F.col(f"s_{a}_{b}"),
        )
        corr = (n * sab - sa * sb) / (
            F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
        )
        structs.append(
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                n.alias("n"),
                corr.alias("corr"),
            )
        )
    return (
        sums.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .orderBy("col_x", "col_y")
    )


# --------------------------------------------------------------------------
# Higher-moment statistics from exact integer sums
# --------------------------------------------------------------------------

@query(
    "q_stats_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(q) AS BIGINT) AS s1,
             CAST(SUM(q*q) AS BIGINT) AS s2,
             CAST(SUM(q*q*q) AS BIGINT) AS s3,
             CAST(SUM(q*q*q*q) AS BIGINT) AS s4
      FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem)
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, s1, s2, s3, s4,
           (CAST(s3 AS DOUBLE)/n
              - 3.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n)
              + 2.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
             / ((CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
                * sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)))
             AS skewness,
           (CAST(s4 AS DOUBLE)/n
              - 4.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s3 AS DOUBLE)/n)
              + 6.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s2 AS DOUBLE)/n)
              - 3.0*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
             / ((CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
                * (CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n)))
             - 3.0 AS excess_kurtosis
    FROM s ORDER BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness + excess kurtosis per return flag from EXACT integer
    moment sums (l_quantity is integer-valued ≤ 50, verified, so Σq^k
    for k ≤ 4 is exact int64 at any corpus size that fits an engine) —
    the 3rd/4th-moment extension of the q_stats_regr template: one
    map-side-combinable pass collects (n, Σq, Σq², Σq³, Σq⁴); both
    engines then run the IDENTICAL central-moment IEEE arithmetic, so
    the statistics are bit-equal with zero tolerance — unlike the
    builtin skewness()/kurtosis(), whose double accumulation is
    partition-order dependent.  The raw sums are emitted too, so the
    driver hash attests the moment pipeline and not only the finished
    ratios."""
    li = T(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    sums = li.select("l_returnflag", q.alias("q")).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    m2 = F.col("s2").cast("double") / n
    m3 = F.col("s3").cast("double") / n
    m4 = F.col("s4").cast("double") / n
    var = m2 - m1 * m1
    # var*sqrt(var) / var*var instead of pow(var, 1.5/2.0): pow with a
    # fractional exponent is libm-implementation-defined (observed 2-ulp
    # Spark-vs-DuckDB divergence); * and sqrt are correctly-rounded IEEE
    skew = (m3 - F.lit(3.0) * m1 * m2 + F.lit(2.0) * m1 * m1 * m1) / (
        var * F.sqrt(var)
    )
    kurt = (
        m4
        - F.lit(4.0) * m1 * m3
        + F.lit(6.0) * m1 * m1 * m2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    ) / (var * var) - F.lit(3.0)
    return sums.select(
        "l_returnflag",
        "n",
        "s1",
        "s2",
        "s3",
        "s4",
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"),
    ).orderBy("l_returnflag")


# ------------------------------------------------------------------
# Distribution drift: exact two-sample Kolmogorov-Smirnov statistic
# ------------------------------------------------------------------

_KS_ORACLE = """
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS in_a,
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS in_b
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
n AS (SELECT CAST(SUM(in_a) AS BIGINT) AS na,
             CAST(SUM(in_b) AS BIGINT) AS nb FROM v),
pervalue AS (
  SELECT cents, CAST(SUM(in_a) AS BIGINT) AS ca,
         CAST(SUM(in_b) AS BIGINT) AS cb
  FROM v GROUP BY cents),
ecdf AS (
  SELECT cents,
         CAST(SUM(ca) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_b
  FROM pervalue)
SELECT n.na, n.nb,
       CAST(MAX(ABS(cum_a * n.nb - cum_b * n.na)) AS BIGINT) AS d_num,
       CAST(MAX(ABS(cum_a * n.nb - cum_b * n.na)) AS DOUBLE)
         / (n.na * n.nb) AS ks_stat,
       COUNT(*) AS n_values
FROM ecdf, n GROUP BY n.na, n.nb
"""


@query("q_stats_ks_drift", oracle=_KS_ORACLE)
def q_stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic between two order
    cohorts (urgent vs low priority) over integer-cent order values —
    the training-data DRIFT detector (compare yesterday's corpus
    snapshot to today's; alarm when D exceeds the sample-size bound).
    D = max over values of |F_a − F_b| computed entirely in integers:
    |cum_a·n_b − cum_b·n_a| with the division deferred to one exact
    int→double divide at the end, so the statistic is bit-identical
    cross-engine (no per-row float ECDFs).

    Scale shape: one map-side-combined agg collapses the corpus to
    per-DISTINCT-VALUE counts, so the ECDF window runs over the VALUE
    DOMAIN (bounded by price range in cents — ~10^5 rows at any
    corpus size), not the row count: the single-partition window is
    bounded by the same argument as q_agg_percentile_twopass's bucket
    census.  An unbounded domain would swap in the two-phase prefix
    scan of q_interval_concurrency."""
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    v = o.select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.expr("IF(o_orderpriority = '1-URGENT', 1L, 0L)").alias("in_a"),
        F.expr("IF(o_orderpriority = '5-LOW', 1L, 0L)").alias("in_b"),
    )
    n = v.agg(
        F.sum("in_a").cast("long").alias("na"),
        F.sum("in_b").cast("long").alias("nb"),
    )
    pervalue = v.groupBy("cents").agg(
        F.sum("in_a").cast("long").alias("ca"),
        F.sum("in_b").cast("long").alias("cb"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = pervalue.select(
        "cents",
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"),
    )
    return (
        ecdf.crossJoin(F.broadcast(n))
        .groupBy("na", "nb")
        .agg(
            F.max(F.abs(F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")))
            .cast("long")
            .alias("d_num"),
            (
                F.max(
                    F.abs(
                        F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
                    )
                ).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("ks_stat"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select("na", "nb", "d_num", "ks_stat", "n_values")
    )


# ------------------------------------------------------------------
# Join-key skew report (the decision input for salting / AQE tuning)
# ------------------------------------------------------------------

_SKEW_ORACLE = """
WITH freq AS (
  SELECT o_custkey, COUNT(*) AS f FROM orders GROUP BY o_custkey),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(f) AS BIGINT) AS n_rows,
         CAST(MAX(f) AS BIGINT) AS max_freq
  FROM freq),
byf AS (
  SELECT f, COUNT(*) AS keys_at_f FROM freq GROUP BY f),
cum AS (
  SELECT f,
         CAST(SUM(keys_at_f) OVER (ORDER BY f
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_keys
  FROM byf)
SELECT tot.n_keys, tot.n_rows, tot.max_freq,
       CAST(MIN(cum.f) AS BIGINT) AS p99_freq,
       CAST(tot.max_freq * 1000000 // tot.n_rows AS BIGINT)
         AS top1_share_ppm
FROM cum, tot
WHERE cum.cum_keys * 100 >= tot.n_keys * 99
GROUP BY tot.n_keys, tot.n_rows, tot.max_freq
"""


@query("q_stats_skew_report", oracle=_SKEW_ORACLE)
def q_stats_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics over orders.o_custkey — the report a
    pipeline reads BEFORE choosing broadcast / salting / AQE skew
    hints (q_join_skew_salted is the remedy; this is the detector):
    key count, row count, the hottest key's frequency and row share
    (ppm, integer), and the exact p99 key frequency.

    The p99 is computed over the FREQUENCY-OF-FREQUENCY table (group
    keys by their count, cumulate over distinct counts), so the
    quantile window runs over the distinct-frequency domain —
    typically tiny (hundreds of values however many keys exist), the
    same domain-bounded argument as q_agg_percentile_twopass's
    histogram.  Everything integer; one exchange for the key count,
    one tiny one for the census."""
    freq = (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    tot = freq.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("f").cast("long").alias("n_rows"),
        F.max("f").cast("long").alias("max_freq"),
    )
    byf = freq.groupBy("f").agg(F.count(F.lit(1)).alias("keys_at_f"))
    cum = byf.withColumn(
        "cum_keys",
        F.sum("keys_at_f")
        .over(Window.orderBy("f").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cum_keys") * 100 >= F.col("n_keys") * 99)
        .groupBy("n_keys", "n_rows", "max_freq")
        .agg(
            F.min("f").cast("long").alias("p99_freq"),
            F.expr("CAST(max(max_freq) * 1000000 DIV max(n_rows) AS BIGINT)")
            .alias("top1_share_ppm"),
        )
        .select("n_keys", "n_rows", "max_freq", "p99_freq", "top1_share_ppm")
    )


# ------------------------------------------------------------------
# Benford first-digit profile (data-quality / fabrication probe)
# ------------------------------------------------------------------

#: floor(log10(1 + 1/d) * 1e6) for d = 1..9 — pinned integer literals
#: (computed once offline; both engines compare against the SAME ints)
_BENFORD_PPM = [301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757]


_BENFORD_CASE_SQL = "CASE d " + " ".join(
    f"WHEN {i + 1} THEN {v}" for i, v in enumerate(_BENFORD_PPM)
) + " END"


_BENFORD_ORACLE = f"""
WITH c AS (
  SELECT CAST(SUBSTR(CAST({CENTS} AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM orders WHERE o_totalprice > 0),
f AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM c GROUP BY d),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM f)
SELECT f.d AS digit, f.n,
       CAST(f.n * 1000000 // t.total AS BIGINT) AS observed_ppm,
       CAST({_BENFORD_CASE_SQL} AS BIGINT) AS benford_ppm,
       CAST(f.n * 1000000 // t.total AS BIGINT)
         - CAST({_BENFORD_CASE_SQL} AS BIGINT) AS delta_ppm
FROM f, t ORDER BY digit
"""


@query("q_stats_benford", oracle=_BENFORD_ORACLE)
def q_stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the
    data-quality probe that catches fabricated or truncated numeric
    columns before they poison a training mix.  The first significant
    digit is the first character of the integer-cents DECIMAL STRING
    (identical on both engines — no log10, no libm); expectations are
    the pinned integer-ppm literals ⌊log10(1+1/d)·10⁶⌋.

    Scale: one map-side-combined 9-group census + a 1-row total."""
    o = T(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    f = (
        o.select(
            F.expr(f"CAST(SUBSTR(CAST({CENTS} AS STRING), 1, 1) AS BIGINT)").alias(
                "d"
            )
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = f.agg(F.sum("n").cast("long").alias("total"))
    return (
        f.crossJoin(F.broadcast(t))
        .select(
            F.col("d").alias("digit"),
            "n",
            F.expr("n * 1000000 DIV total").alias("observed_ppm"),
            F.expr(f"CAST({_BENFORD_CASE_SQL} AS BIGINT)").alias("benford_ppm"),
            (
                F.expr("n * 1000000 DIV total")
                - F.expr(f"CAST({_BENFORD_CASE_SQL} AS BIGINT)")
            ).alias("delta_ppm"),
        )
        .orderBy("digit")
    )


# ------------------------------------------------------------------
# Simpson diversity (language mix per source)
# ------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH f AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang),
s AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(n * (n - 1)) AS BIGINT) AS num
  FROM f GROUP BY source)
SELECT source, n_docs, n_langs, num,
       CAST(n_docs * (n_docs - 1) AS BIGINT) AS den,
       1.0 - CAST(num AS DOUBLE) / (n_docs * (n_docs - 1)) AS simpson
FROM s WHERE n_docs > 1 ORDER BY source
"""


@query("q_stats_simpson", oracle=_SIMPSON_ORACLE)
def q_stats_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity index of each source's language mix — the
    mixture-health statistic (probability two random docs from a
    source differ in language), D = 1 − Σnᵢ(nᵢ−1)/(N(N−1)).  Unlike
    Shannon entropy this needs NO logarithm: the index is an exact
    rational, so the int64 numerator and denominator are
    hash-attested and the single division is bit-deterministic.

    Scale: two nested map-side-combined aggs; output is one row per
    source."""
    d = T(spark, sf_dir, "documents")
    f = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = f.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("num"),
    )
    return (
        s.where(F.col("n_docs") > 1)
        .select(
            "source",
            "n_docs",
            "n_langs",
            "num",
            (F.col("n_docs") * (F.col("n_docs") - 1))
            .cast("long")
            .alias("den"),
            (
                F.lit(1.0)
                - F.col("num").cast("double")
                / (F.col("n_docs") * (F.col("n_docs") - 1))
            ).alias("simpson"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------------
# Wald–Wolfowitz runs test (randomness of the daily series)
# ------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
med AS (
  SELECT r AS m FROM (
    SELECT r, row_number() OVER (ORDER BY r, day) AS rn FROM daily) t, nn
  WHERE rn = (nn.n + 1) // 2),
s AS (
  SELECT day, CASE WHEN r > med.m THEN 1 ELSE 0 END AS hi
  FROM daily, med WHERE r <> med.m),
runs AS (
  SELECT hi,
         CASE WHEN LAG(hi) OVER (ORDER BY day) IS DISTINCT FROM hi
              THEN 1 ELSE 0 END AS brk
  FROM s)
SELECT CAST(SUM(brk) AS BIGINT) AS n_runs,
       CAST(SUM(hi) AS BIGINT) AS n_hi,
       CAST(SUM(1 - hi) AS BIGINT) AS n_lo,
       CAST(2 * SUM(hi) * SUM(1 - hi) + COUNT(*) AS BIGINT) AS e_num,
       CAST(COUNT(*) AS BIGINT) AS e_den,
       CAST(2 * SUM(hi) * SUM(1 - hi) + COUNT(*) AS DOUBLE) / COUNT(*)
         AS expected_runs
FROM runs
"""


@query("q_stats_runs", oracle=_RUNS_ORACLE)
def q_stats_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily revenue series vs its
    median — the randomness probe (too FEW runs = trending/clustered,
    too MANY = oscillating): days above/below the exact median (ties
    at the median dropped, the classic treatment), runs counted as
    1 + sign changes via LAG (the first row's NULL lag counts as a
    break, giving exactly that +1), expected runs as the exact
    rational (2·n₁·n₂ + n)/n beside its int64 numerator/denominator.

    Scale: the daily census is calendar-bounded, so every ordered
    window runs over a bounded table (q_stats_ks_drift discipline);
    the median is a rank selection, not a sort of the fact table."""
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        )
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = daily.withColumn(
        "rn", F.row_number().over(Window.orderBy("r", "day"))
    )
    med = (
        ranked.crossJoin(F.broadcast(nn))
        .where(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select(F.col("r").alias("m"))
    )
    s = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("r") != F.col("m"))
        .select("day", F.when(F.col("r") > F.col("m"), 1).otherwise(0).alias("hi"))
    )
    wd = Window.orderBy("day")
    runs = s.withColumn(
        "brk",
        F.when(
            ~F.lag("hi").over(wd).eqNullSafe(F.col("hi")), 1
        ).otherwise(0),
    )
    return runs.agg(
        F.sum("brk").cast("long").alias("n_runs"),
        F.sum("hi").cast("long").alias("n_hi"),
        F.sum(1 - F.col("hi")).cast("long").alias("n_lo"),
        (2 * F.sum("hi") * F.sum(1 - F.col("hi")) + F.count(F.lit(1)))
        .cast("long")
        .alias("e_num"),
        F.count(F.lit(1)).cast("long").alias("e_den"),
        (
            (
                2 * F.sum("hi") * F.sum(1 - F.col("hi"))
                + F.count(F.lit(1))
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("expected_runs"),
    )


# ------------------------------------------------------------------
# Mann–Whitney U rank-sum test (value-domain census form)
# ------------------------------------------------------------------

_MW_A, _MW_B = "1-URGENT", "5-LOW"


_MW_ORACLE = f"""
WITH s AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN o_orderpriority = '{_MW_A}' THEN 1 ELSE 0 END AS is_a
  FROM orders WHERE o_orderpriority IN ('{_MW_A}', '{_MW_B}')),
c AS (
  SELECT v, CAST(SUM(is_a) AS BIGINT) AS a,
         CAST(COUNT(*) - SUM(is_a) AS BIGINT) AS b
  FROM s GROUP BY v),
r AS (
  SELECT v, a, b, a + b AS t,
         COALESCE(SUM(a + b) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_lt
  FROM c),
agg AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n_a, CAST(SUM(b) AS BIGINT) AS n_b,
         CAST(SUM(a * (2 * s_lt + t + 1)) AS BIGINT) AS two_r_a
  FROM r)
SELECT n_a, n_b, two_r_a,
       CAST(two_r_a - n_a * (n_a + 1) AS BIGINT) AS two_u_a,
       CAST(2 * n_a * n_b - (two_r_a - n_a * (n_a + 1)) AS BIGINT) AS two_u_b,
       CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE) / 2 AS u_a
FROM agg
"""


@query("q_stats_mannwhitney", oracle=_MW_ORACLE)
def q_stats_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test: do URGENT and LOW priority orders
    draw from the same price distribution?  The nonparametric
    two-sample location test beside q_stats_ks_drift's shape test.

    Exactness: ranks are handled on the DISTINCT-VALUE census — for a
    value with t ties and s_lt smaller observations, the doubled
    midrank is 2·s_lt + t + 1 (an integer even when the midrank is
    half-integral), so 2R_A = Σ a_v·(2·s_lt + t + 1) and
    2U_A = 2R_A − n_A(n_A+1) are exact int64; the identity
    2U_A + 2U_B = 2·n_A·n_B is a built-in self-check.  int64 bound
    (round-10 overflow audit): every term is ≤ 2R_A ≤ n(2n+1) ≈ 2n²
    — exact to n ≈ 2.1e9 rows, no cubic tie term anywhere (the
    statistic needs no tie-corrected variance); past that the
    q_stats_kruskal DECIMAL discipline is the drop-in remedy.

    Scale: the only ordered window runs over the distinct-value census
    (bounded by the value domain, not the row count — the
    q_stats_ks_drift discipline); at 100 TB the census keys quantize to
    cents buckets first and the midrank algebra is unchanged."""
    o = T(spark, sf_dir, "orders")
    s = o.where(F.col("o_orderpriority").isin(_MW_A, _MW_B)).select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
        F.when(F.col("o_orderpriority") == _MW_A, 1).otherwise(0).alias("is_a"),
    )
    c = s.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("long").alias("b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = c.select(
        "a",
        "b",
        (F.col("a") + F.col("b")).alias("t"),
        F.coalesce(F.sum(F.col("a") + F.col("b")).over(w), F.lit(0)).alias(
            "s_lt"
        ),
    )
    agg = r.agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
        F.sum(F.col("a") * (2 * F.col("s_lt") + F.col("t") + 1))
        .cast("long")
        .alias("two_r_a"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "two_r_a",
        (F.col("two_r_a") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("long")
        .alias("two_u_a"),
        (
            2 * F.col("n_a") * F.col("n_b")
            - (F.col("two_r_a") - F.col("n_a") * (F.col("n_a") + 1))
        )
        .cast("long")
        .alias("two_u_b"),
        (
            (F.col("two_r_a") - F.col("n_a") * (F.col("n_a") + 1)).cast(
                "double"
            )
            / 2
        ).alias("u_a"),
    )


# ------------------------------------------------------------------
# χ² day-of-week uniformity per event type (zero cells included)
# ------------------------------------------------------------------

#: χ²(df=6) critical value at α=0.05 is 12.592 → exact rational gate
_CHISQ_CRIT_NUM, _CHISQ_CRIT_DEN = 12592, 1000


_CHISQ_ORACLE = f"""
WITH e AS (
  SELECT event_type, dayofweek(CAST(ts AS DATE)) AS dow FROM events),
o AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS obs
  FROM e GROUP BY 1, 2),
cells AS (
  SELECT t.event_type, UNNEST(range(0, 7)) AS dow
  FROM (SELECT DISTINCT event_type FROM e) t),
f AS (
  SELECT c.event_type, c.dow, COALESCE(o.obs, 0) AS obs
  FROM cells c LEFT JOIN o
    ON c.event_type = o.event_type AND c.dow = o.dow),
n AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS n FROM f GROUP BY 1),
x AS (
  SELECT f.event_type, MAX(n.n) AS n,
         CAST(SUM((7 * f.obs - n.n) * (7 * f.obs - n.n)) AS BIGINT)
           AS chisq_num,
         CAST(7 * MAX(n.n) AS BIGINT) AS chisq_den
  FROM f JOIN n ON f.event_type = n.event_type
  GROUP BY f.event_type)
SELECT event_type, n, chisq_num, chisq_den,
       CAST(chisq_num AS DOUBLE) / chisq_den AS chisq,
       CASE WHEN {_CHISQ_CRIT_DEN} * chisq_num
                 > {_CHISQ_CRIT_NUM} * chisq_den
            THEN 1 ELSE 0 END AS nonuniform
FROM x ORDER BY event_type
"""


@query("q_stats_chisq_dow", oracle=_CHISQ_ORACLE)
def q_stats_chisq_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² goodness-of-fit of each event type's day-of-week profile
    against the uniform law: with E = N/7 per cell,
    χ² = Σ(O−N/7)²/(N/7) = Σ(7·O−N)² / (7·N) — an exact int64
    rational reported beside its double, with the α=0.05 df=6
    verdict as the cross-multiplied integer gate
    {_CHISQ_CRIT_DEN}·num > {_CHISQ_CRIT_NUM}·den.  Zero cells (a
    type never seen on some weekday) contribute N² — materialized by
    EXPLODING the 7 weekdays per type (no cross join) and left-joining
    the observed census.  DuckDB's dayofweek (0=Sunday) = Spark's
    dayofweek − 1 (the q_timeseries_dow pinned mapping).

    Scale: one (type, dow) census off the fact scan, then ≤7·k-row
    algebra; the fact table is touched once, map-side combined."""
    e = T(spark, sf_dir, "events")
    marked = e.select(
        "event_type",
        (F.dayofweek(F.to_date("event_ts")) - 1).alias("dow"),
    )
    o = marked.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    cells = (
        marked.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("dow"),
        )
    )
    f = cells.join(o, ["event_type", "dow"], "left").select(
        "event_type", "dow", F.coalesce(F.col("obs"), F.lit(0)).alias("obs")
    )
    n = f.groupBy("event_type").agg(F.sum("obs").cast("long").alias("n"))
    x = (
        f.join(n, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum((7 * F.col("obs") - F.col("n")) * (7 * F.col("obs") - F.col("n")))
            .cast("long")
            .alias("chisq_num"),
            (7 * F.max("n")).cast("long").alias("chisq_den"),
        )
    )
    return x.select(
        "event_type",
        "n",
        "chisq_num",
        "chisq_den",
        (F.col("chisq_num").cast("double") / F.col("chisq_den")).alias("chisq"),
        F.when(
            _CHISQ_CRIT_DEN * F.col("chisq_num")
            > _CHISQ_CRIT_NUM * F.col("chisq_den"),
            1,
        )
        .otherwise(0)
        .alias("nonuniform"),
    ).orderBy("event_type")


# ------------------------------------------------------------------
# Spearman rank correlation (Pearson on doubled midranks)
# ------------------------------------------------------------------

_SPEAR_ORACLE = f"""
WITH daily AS ({DAILY_ORDERS_SQL}),
rk AS (
  SELECT day,
         2 * RANK() OVER (ORDER BY r)
           + COUNT(*) OVER (PARTITION BY r) - 1 AS x,
         2 * RANK() OVER (ORDER BY n_orders)
           + COUNT(*) OVER (PARTITION BY n_orders) - 1 AS y
  FROM daily),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM rk)
SELECT n,
       CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS var_x,
       CAST(n * syy - sy * sy AS BIGINT) AS var_y,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS rho
FROM m
"""


@query("q_stats_spearman", oracle=_SPEAR_ORACLE)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily revenue and daily order
    volume — the monotone-association monitor (robust to the heavy
    price tails that distort Pearson; the classic 1−6Σd²/(n³−n) form
    is only valid without ties, so this computes Pearson ON ranks,
    the tie-correct definition).  Ranks are DOUBLED midranks
    2·RANK() + tiecount − 1 (exact integers even for half-integral
    midranks, the q_stats_mannwhitney algebra), every moment sum is
    exact int64, and the reported rho is one correctly-rounded sqrt
    plus one division on those exact integers — bit-identical across
    engines by IEEE-754.  var products are cast to double BEFORE
    multiplying (vx·vy can pass 2⁶³; doubles lose nothing that
    survives the sqrt).

    Scale: both rank windows run over the calendar-bounded daily
    census; at the fact level ranks come from the value-domain census
    (q_stats_mannwhitney) instead — same algebra."""
    daily = daily_orders(spark, sf_dir)
    rk = daily.select(
        (
            2 * F.rank().over(Window.orderBy("r"))
            + F.count(F.lit(1)).over(Window.partitionBy("r"))
            - 1
        )
        .cast("long")
        .alias("x"),
        (
            2 * F.rank().over(Window.orderBy("n_orders"))
            + F.count(F.lit(1)).over(Window.partitionBy("n_orders"))
            - 1
        )
        .cast("long")
        .alias("y"),
    )
    m = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("long")
        .alias("cov_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("long")
        .alias("var_x"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("long")
        .alias("var_y"),
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE)"
            " / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))"
        ).alias("rho"),
    )


# ------------------------------------------------------------------
# Two-proportion z-test (A/B significance)
# ------------------------------------------------------------------

#: z²(α=0.05, two-sided) = 1.96² = 3.8416 → exact rational gate
_AB_CRIT_NUM, _AB_CRIT_DEN = 38416, 10000


_AB_ORACLE = f"""
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS cohort,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY user_id),
c AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS a
  FROM u GROUP BY cohort),
w AS (
  SELECT MAX(CASE WHEN cohort = 0 THEN n END) AS n1,
         MAX(CASE WHEN cohort = 0 THEN a END) AS a1,
         MAX(CASE WHEN cohort = 1 THEN n END) AS n2,
         MAX(CASE WHEN cohort = 1 THEN a END) AS a2
  FROM c),
z AS (
  SELECT n1, a1, n2, a2, a1 + a2 AS aa, n1 + n2 AS nn,
         (n1 + n2) * (a1 * n2 - a2 * n1) * (a1 * n2 - a2 * n1) AS num,
         n1 * n2 * (a1 + a2) * (n1 + n2 - a1 - a2) AS den
  FROM w)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(a1 AS BIGINT) AS a1,
       CAST(n2 AS BIGINT) AS n2, CAST(a2 AS BIGINT) AS a2,
       CAST(CASE WHEN den = 0 THEN 0 ELSE num END AS BIGINT) AS z2_num,
       CAST(CASE WHEN den = 0 THEN 1 ELSE den END AS BIGINT) AS z2_den,
       CAST(CASE WHEN den = 0 THEN 0 ELSE num END AS DOUBLE)
         / CASE WHEN den = 0 THEN 1 ELSE den END AS z2,
       CASE WHEN den <> 0 AND {_AB_CRIT_DEN} * num > {_AB_CRIT_NUM} * den
            THEN 1 ELSE 0 END AS significant
FROM z
"""


@query("q_stats_two_proportion", oracle=_AB_ORACLE)
def q_stats_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between the even/odd user cohorts on
    purchase conversion — the A/B-test decision primitive.  With
    pooled A = a₁+a₂, N = n₁+n₂ the squared statistic is the exact
    rational z² = N·(a₁n₂−a₂n₁)² / (n₁n₂·A·(N−A)); the α=0.05
    verdict is the cross-multiplied integer gate
    {_AB_CRIT_DEN}·num > {_AB_CRIT_NUM}·den, and degenerate pools
    (A=0 or A=N: zero variance) pin to z²=0/not-significant in both
    engines.  int64-safe to cohort sizes ~5·10³ at this a₁n₂ scale;
    past that the docstring remedy is DECIMAL(38) for the two
    products (Spark decimal / DuckDB HUGEINT) — the algebra is
    unchanged.

    Scale: one per-user conversion census (map-side combined), one
    2-group rollup, scalar algebra after."""
    e = T(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("long").alias("cohort"), "converted"
    )
    c = u.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("a"),
    )
    w = c.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 0, F.col("a"))).alias("a1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("cohort") == 1, F.col("a"))).alias("a2"),
    )
    z = w.select(
        "n1",
        "a1",
        "n2",
        "a2",
        F.expr(
            "(n1 + n2) * (a1 * n2 - a2 * n1) * (a1 * n2 - a2 * n1)"
        ).alias("num"),
        F.expr("n1 * n2 * (a1 + a2) * (n1 + n2 - a1 - a2)").alias("den"),
    )
    return z.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("a1").cast("long").alias("a1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("a2").cast("long").alias("a2"),
        F.expr("CAST(CASE WHEN den = 0 THEN 0 ELSE num END AS BIGINT)").alias(
            "z2_num"
        ),
        F.expr("CAST(CASE WHEN den = 0 THEN 1 ELSE den END AS BIGINT)").alias(
            "z2_den"
        ),
        F.expr(
            "CAST(CASE WHEN den = 0 THEN 0 ELSE num END AS DOUBLE)"
            " / CASE WHEN den = 0 THEN 1 ELSE den END"
        ).alias("z2"),
        F.expr(
            f"CASE WHEN den <> 0 AND {_AB_CRIT_DEN} * num"
            f" > {_AB_CRIT_NUM} * den THEN 1 ELSE 0 END"
        ).alias("significant"),
    )


# ------------------------------------------------------------------
# Kendall tau-b (exact pair classification on the daily census)
# ------------------------------------------------------------------

_KENDALL_ORACLE = f"""
WITH daily AS ({DAILY_ORDERS_SQL}),
pairs AS (
  SELECT CASE WHEN a.r > b.r THEN 1 WHEN a.r < b.r THEN -1 ELSE 0 END AS cx,
         CASE WHEN a.n_orders > b.n_orders THEN 1
              WHEN a.n_orders < b.n_orders THEN -1 ELSE 0 END AS cy
  FROM daily a JOIN daily b ON a.day < b.day),
cnt AS (
  SELECT CAST(SUM(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         CAST(SUM(CASE WHEN cx = 0 AND cy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(SUM(CASE WHEN cy = 0 AND cx <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
         CAST(SUM(CASE WHEN cx = 0 AND cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS txy,
         CAST(COUNT(*) AS BIGINT) AS n0
  FROM pairs)
SELECT nc, nd, tx, ty, txy, n0,
       CAST(nc - nd AS DOUBLE)
         / SQRT(CAST(n0 - tx - txy AS DOUBLE) * CAST(n0 - ty - txy AS DOUBLE))
         AS tau_b
FROM cnt
"""


@query("q_stats_kendall", oracle=_KENDALL_ORACLE)
def q_stats_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily revenue and daily
    order volume — the pair-concordance complement to
    q_stats_spearman (tau's ±1 bounds survive ties via the tau-b
    denominator; Spearman's rho weighs rank GAPS, tau weighs rank
    INVERSIONS).  Every pair of distinct days is classified exactly
    once (concordant / discordant / x-tie / y-tie / both-tie) with
    integer sign algebra; tau_b is one fixed-shape double expression
    over those exact int64 counts: (nc−nd)/√((n0−tx−txy)(n0−ty−txy)).

    Scale: the self-join runs over the CALENDAR-BOUNDED daily census
    (~2.4k rows for the 7-year TPC-H span, independent of fact rows),
    so the O(days²) pair table is a few million rows at ANY scale
    factor — the fact table is touched once, map-side combined."""
    daily = daily_orders(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(F.col("a.r") > F.col("b.r"), 1)
        .when(F.col("a.r") < F.col("b.r"), -1)
        .otherwise(0)
        .alias("cx"),
        F.when(F.col("a.n_orders") > F.col("b.n_orders"), 1)
        .when(F.col("a.n_orders") < F.col("b.n_orders"), -1)
        .otherwise(0)
        .alias("cy"),
    )
    cnt = pairs.agg(
        F.sum(F.when(F.col("cx") * F.col("cy") > 0, 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("cx") * F.col("cy") < 0, 1).otherwise(0))
        .cast("long")
        .alias("nd"),
        F.sum(F.when((F.col("cx") == 0) & (F.col("cy") != 0), 1).otherwise(0))
        .cast("long")
        .alias("tx"),
        F.sum(F.when((F.col("cy") == 0) & (F.col("cx") != 0), 1).otherwise(0))
        .cast("long")
        .alias("ty"),
        F.sum(F.when((F.col("cx") == 0) & (F.col("cy") == 0), 1).otherwise(0))
        .cast("long")
        .alias("txy"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    return cnt.select(
        "nc",
        "nd",
        "tx",
        "ty",
        "txy",
        "n0",
        F.expr(
            "CAST(nc - nd AS DOUBLE)"
            " / SQRT(CAST(n0 - tx - txy AS DOUBLE)"
            "        * CAST(n0 - ty - txy AS DOUBLE))"
        ).alias("tau_b"),
    )


# ------------------------------------------------------------------
# Kruskal-Wallis H across the five order priorities
# ------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


_KW_GROUP_SQL = ",\n".join(
    f"         CAST(SUM(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS a{i + 1}"
    for i, p in enumerate(_PRIORITIES)
)


_KW_S_SQL = ",\n".join(
    f"         CAST(SUM(a{i + 1} * (2 * s_lt + t + 1)) AS BIGINT) AS s{i + 1},"
    f" CAST(SUM(a{i + 1}) AS BIGINT) AS n{i + 1}"
    for i in range(5)
)


# an absent group contributes 0 to ΣRᵢ²/nᵢ (the empty-group convention
# that keeps tiny fixtures finite on BOTH engines — the KMV n≥k lesson)
_KW_TERMS = "\n             + ".join(
    f"CASE WHEN n{i} = 0 THEN 0.0 ELSE"
    f" CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) END"
    for i in range(1, 6)
)


_KW_ORACLE = f"""
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
{_KW_GROUP_SQL},
         CAST(COUNT(*) AS BIGINT) AS t
  FROM orders GROUP BY 1),
r AS (
  SELECT *, COALESCE(SUM(t) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_lt
  FROM v),
agg AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS VARCHAR)
              AS DOUBLE) AS tie_t,
         CAST(MAX(t) AS BIGINT) AS t_max,
{_KW_S_SQL}
  FROM r)
SELECT n, tie_t, n1, n2, n3, n4, n5, s1, s2, s3, s4, s5,
       CASE WHEN n < 2 OR t_max = n THEN NULL ELSE
       (3.0 * ({_KW_TERMS})
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        - 3.0 * (CAST(n AS DOUBLE) + 1.0))
       / (1.0 - tie_t
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE))) END AS h
FROM agg
"""


@query("q_stats_kruskal", oracle=_KW_ORACLE)
def q_stats_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do the five order priorities draw their
    prices from one distribution?  The k-sample extension of
    q_stats_mannwhitney, on the same machinery: ranks come from the
    VALUE-DOMAIN census (one row per distinct price cents), doubled
    midranks 2·s_lt + t + 1 keep every rank-sum moment exact int64
    (sᵢ = doubled rank sum of group i, so 12·ΣRᵢ²/nᵢ = 3·Σsᵢ²/nᵢ),
    and the tie term Σ(t³−t) is summed exactly on the census.  H is
    ONE fixed-order five-term double expression over those integers —
    bit-identical across engines because the summation order is
    pinned in the expression tree, never left to an aggregate.

    int64 bounds (round-10 overflow audit): the tie term is CUBIC in
    the hottest census multiplicity — t³ passes 2⁶³ once one price
    value holds > 2.1e6 rows — so Σ(t³−t) is summed in
    DECIMAL(38,0) / HUGEINT and string-pinned to double (exact
    < 2⁵³, identically rounded beyond on both engines; the >2M-row
    regression fixture in tests/test_overflow_census.py crashes the
    plain-int64 form under ANSI).  The doubled rank sums sᵢ ≤
    n·(2n+1) stay exact int64 to n ≈ 2.1e9 rows.

    Scale: the census is value-domain-bounded (price cents), the fact
    scan is touched once with map-side combine; the rank window runs
    over the census, not the rows — the q_stats_ks_drift discipline."""
    o = T(spark, sf_dir, "orders")
    group_cols = [
        F.sum(F.when(F.col("o_orderpriority") == p, 1).otherwise(0))
        .cast("long")
        .alias(f"a{i + 1}")
        for i, p in enumerate(_PRIORITIES)
    ]
    v = o.select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
        "o_orderpriority",
    ).groupBy("v").agg(*group_cols, F.count(F.lit(1)).cast("long").alias("t"))
    w = (
        Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = v.withColumn("s_lt", F.coalesce(F.sum("t").over(w), F.lit(0)))
    agg = r.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t * t - t"))
        .cast("string")
        .cast("double")
        .alias("tie_t"),
        F.max("t").cast("long").alias("t_max"),
        *[
            x
            for i in range(5)
            for x in (
                F.sum(
                    F.col(f"a{i + 1}")
                    * (2 * F.col("s_lt") + F.col("t") + 1)
                )
                .cast("long")
                .alias(f"s{i + 1}"),
                F.sum(f"a{i + 1}").cast("long").alias(f"n{i + 1}"),
            )
        ],
    )
    # n < 2 (tie-correction denominator n³−n = 0) and the all-one-tie
    # pool (correction factor = 0) report NULL identically on both
    # engines — ANSI Spark raises DIVIDE_BY_ZERO where DuckDB emits inf.
    # The all-tied guard is t_max = n (single census row), NOT
    # tie_t = n³−n: the integer n³ overflows int64 past ~2M rows under
    # ANSI — found by the 100× wall probe, fixed round 9.
    h_expr = (
        "CASE WHEN n < 2 OR t_max = n THEN NULL ELSE "
        f"(3.0 * ({_KW_TERMS})"
        "   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
        " - 3.0 * (CAST(n AS DOUBLE) + 1.0))"
        " / (1.0 - tie_t"
        "     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        "        - CAST(n AS DOUBLE))) END"
    )
    return agg.select(
        "n", "tie_t", "n1", "n2", "n3", "n4", "n5",
        "s1", "s2", "s3", "s4", "s5",
        F.expr(h_expr).alias("h"),
    )


# ------------------------------------------------------------------
# Cramér's V: market segment × nation association
# ------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


_SEG_ARRAY_SQL = ", ".join(f"'{s}'" for s in _SEGMENTS)


_CRAMER_ORACLE = f"""
WITH cell AS (
  SELECT c_nationkey AS nat, c_mktsegment AS seg,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2),
domain AS (
  SELECT nat, seg
  FROM (SELECT DISTINCT c_nationkey AS nat FROM customer),
       UNNEST([{_SEG_ARRAY_SQL}]) AS u(seg)),
full_cells AS (
  SELECT d.nat, d.seg, COALESCE(cell.o, 0) AS o
  FROM domain d LEFT JOIN cell ON d.nat = cell.nat AND d.seg = cell.seg),
tot AS (
  SELECT f.nat, f.seg, f.o,
         SUM(f.o) OVER (PARTITION BY f.nat) AS row_tot,
         SUM(f.o) OVER (PARTITION BY f.seg) AS col_tot,
         SUM(f.o) OVER () AS n
  FROM full_cells f),
chi AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT nat) AS BIGINT) AS n_nat,
         CAST(COUNT(DISTINCT seg) AS BIGINT) AS n_seg,
         CAST(SUM(CASE WHEN row_tot = 0 OR col_tot = 0 THEN 0
           ELSE CAST(FLOOR(
             1000000.0
             * CAST(n * o - row_tot * col_tot AS DOUBLE)
             * CAST(n * o - row_tot * col_tot AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(row_tot AS DOUBLE)
                * CAST(col_tot AS DOUBLE))) AS BIGINT) END) AS BIGINT)
           AS chi2_ppm
  FROM tot)
SELECT n, n_nat, n_seg, chi2_ppm,
       SQRT(CAST(chi2_ppm AS DOUBLE) / 1000000.0
            / (CAST(n AS DOUBLE) * 4.0)) AS cramers_v
FROM chi
"""


@query("q_stats_cramers_v", oracle=_CRAMER_ORACLE)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between market segment and nation — the
    categorical×categorical dependence monitor (χ² normalized to
    [0,1] by N·min(r−1, c−1), here df factor 4).  The χ² total is an
    ORDER-FREE exact int64 sum: each cell contributes the DEFINED ppm
    quantity ⌊10⁶·(N·o − rᵢ·cⱼ)²/(N·rᵢ·cⱼ)⌋ where the delta is exact
    int64 (≤ N² ≈ 2.25e12 at sf1000, double-exact below 2⁵³) and the
    double divide + floor is one deterministic IEEE expression per
    cell — so the SUM commutes and both engines agree bit-for-bit,
    sidestepping the float-sum-order trap entirely.  Zero cells
    (segment absent in a nation) contribute rᵢcⱼ/N·10⁶ and are
    materialized by exploding the FIXED 5-segment domain per observed
    nation — no cross join enters the plan.

    Scale: one (nation, segment) census off the customer scan
    (map-side combined), then ≤ 125-cell window algebra."""
    c = T(spark, sf_dir, "customer")
    cell = c.groupBy(
        F.col("c_nationkey").alias("nat"), F.col("c_mktsegment").alias("seg")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    domain = (
        c.select(F.col("c_nationkey").alias("nat"))
        .distinct()
        .select(
            "nat",
            F.explode(F.array(*[F.lit(s) for s in _SEGMENTS])).alias("seg"),
        )
    )
    full_cells = domain.join(cell, ["nat", "seg"], "left").select(
        "nat", "seg", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    tot = full_cells.select(
        "nat",
        "seg",
        "o",
        F.sum("o").over(Window.partitionBy("nat")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("seg")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    chi = tot.agg(
        F.max("n").cast("long").alias("n"),
        F.countDistinct("nat").cast("long").alias("n_nat"),
        F.countDistinct("seg").cast("long").alias("n_seg"),
        F.sum(
            F.expr(
                "CASE WHEN row_tot = 0 OR col_tot = 0 THEN 0"
                " ELSE CAST(FLOOR(1000000.0"
                " * CAST(n * o - row_tot * col_tot AS DOUBLE)"
                " * CAST(n * o - row_tot * col_tot AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(row_tot AS DOUBLE)"
                "    * CAST(col_tot AS DOUBLE))) AS BIGINT) END"
            )
        )
        .cast("long")
        .alias("chi2_ppm"),
    )
    return chi.select(
        "n",
        "n_nat",
        "n_seg",
        "chi2_ppm",
        F.expr(
            "SQRT(CAST(chi2_ppm AS DOUBLE) / 1000000.0"
            " / (CAST(n AS DOUBLE) * 4.0))"
        ).alias("cramers_v"),
    )


# ------------------------------------------------------------------
# Brown–Forsythe variance-equality W across the five priorities
# ------------------------------------------------------------------


# fixed-order five-term sum of s_g^2 / n_g, empty groups contributing 0
_BF_TERMS = "\n             + ".join(
    f"CASE WHEN n{i} = 0 THEN 0.0 ELSE"
    f" CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) END"
    for i in range(1, 6)
)


_BF_K = (
    "("
    + " + ".join(f"CASE WHEN n{i} = 0 THEN 0 ELSE 1 END" for i in range(1, 6))
    + ")"
)


_BF_GROUP_SQL = ",\n".join(
    f"         CAST(SUM(CASE WHEN grp = {i} THEN z ELSE 0 END) AS BIGINT)"
    f" AS s{i},"
    f" CAST(SUM(CASE WHEN grp = {i} THEN 1 ELSE 0 END) AS BIGINT) AS n{i}"
    for i in range(1, 6)
)


_BF_GRP_CASE = (
    "CASE "
    + " ".join(
        f"WHEN o_orderpriority = '{p}' THEN {i + 1}"
        for i, p in enumerate(_PRIORITIES)
    )
    + " END"
)


_BF_ORACLE = f"""
WITH o AS (
  SELECT {_BF_GRP_CASE} AS grp,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
census AS (
  SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM o GROUP BY 1, 2),
cum AS (
  SELECT grp, v, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
         SUM(cnt) OVER (PARTITION BY grp) AS ng
  FROM census),
med AS (
  SELECT grp, MIN(CASE WHEN 2 * c >= ng THEN v END) AS med FROM cum
  GROUP BY 1),
z AS (
  SELECT o.grp, ABS(o.v - med.med) AS z
  FROM o JOIN med ON o.grp = med.grp),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS s,
         CAST(CAST(SUM(z * z) AS VARCHAR) AS DOUBLE) AS q,
{_BF_GROUP_SQL}
  FROM z)
SELECT n, s, q, n1, n2, n3, n4, n5, s1, s2, s3, s4, s5,
       CASE WHEN {_BF_K} < 2 OR CAST(q AS DOUBLE) - ({_BF_TERMS}) = 0.0
            THEN NULL ELSE
       ((CAST(n AS DOUBLE) - {_BF_K})
        / ({_BF_K} - 1.0))
       * (({_BF_TERMS})
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(q AS DOUBLE) - ({_BF_TERMS})) END AS w
FROM agg
"""


@query("q_stats_brown_forsythe", oracle=_BF_ORACLE)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-equality test across the five order
    priorities — the SCALE complement of q_stats_kruskal's location
    test: a one-way ANOVA F on the absolute deviations from each
    group's MEDIAN (the robust Levene variant; q_agg_absdev computes
    stage 1, this completes stage 2).  Group medians are exact lower
    medians off the per-group value-domain census (smallest v with
    2·cum ≥ n_g); deviations are exact integer cents; the F-numerator
    identity Σn_g(z̄_g−z̄)² = Σs_g²/n_g − s²/N and denominator
    Q − Σs_g²/n_g keep every moment int64, and W is one fixed-order
    double expression over those integers with empty groups dropping
    out of both the terms and the group count k.

    Scale: census + one broadcast of 5 medians back onto the fact
    scan; no global window (the census ranks are per-group)."""
    o = T(spark, sf_dir, "orders").select(
        F.expr(_BF_GRP_CASE).alias("grp"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    census = o.groupBy("grp", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wg = Window.partitionBy("grp").orderBy("v")
    cum = census.select(
        "grp",
        "v",
        F.sum("cnt").over(wg.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "c"
        ),
        F.sum("cnt").over(Window.partitionBy("grp")).alias("ng"),
    )
    med = cum.groupBy("grp").agg(
        F.min(F.when(2 * F.col("c") >= F.col("ng"), F.col("v"))).alias("med")
    )
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    group_aggs = [
        x
        for i in range(1, 6)
        for x in (
            F.sum(F.when(F.col("grp") == i, F.col("z")).otherwise(0))
            .cast("long")
            .alias(f"s{i}"),
            F.sum(F.when(F.col("grp") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"n{i}"),
        )
    ]
    # Σz² can pass 2⁶³ on heavy-tailed cents: exact DECIMAL sum pinned
    # to double via the string round-trip (autocorr parity discipline)
    zdec = F.col("z").cast("decimal(19,0)")
    agg = z.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("s"),
        F.sum(zdec * zdec).cast("string").cast("double").alias("q"),
        *group_aggs,
    )
    # degenerate designs (k < 2 groups, zero within-group deviation
    # spread) report NULL identically on both engines — ANSI Spark
    # raises DIVIDE_BY_ZERO where DuckDB emits inf (degenerate mini-t2)
    w_expr = (
        f"CASE WHEN {_BF_K} < 2 OR CAST(q AS DOUBLE) - ({_BF_TERMS}) = 0.0"
        " THEN NULL ELSE "
        f"((CAST(n AS DOUBLE) - {_BF_K})"
        f" / ({_BF_K} - 1.0))"
        f" * (({_BF_TERMS})"
        "   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
        f" / (CAST(q AS DOUBLE) - ({_BF_TERMS})) END"
    )
    return agg.select(
        "n", "s", "q", "n1", "n2", "n3", "n4", "n5",
        "s1", "s2", "s3", "s4", "s5",
        F.expr(w_expr).alias("w"),
    )


# ------------------------------------------------------------------
# shared 5-group exact-moment pivot (cents by priority)
# ------------------------------------------------------------------

_GRP_CASE = (
    "CASE "
    + " ".join(
        f"WHEN o_orderpriority = '{p}' THEN {i + 1}"
        for i, p in enumerate(_PRIORITIES)
    )
    + " END"
)


_PIVOT_SQL = ",\n".join(
    f"         CAST(SUM(CASE WHEN grp = {i} THEN v ELSE 0 END) AS BIGINT)"
    f" AS s{i},"
    f" CAST(SUM(CASE WHEN grp = {i} THEN 1 ELSE 0 END) AS BIGINT) AS n{i}"
    for i in range(1, 6)
)


_TERMS = "\n             + ".join(
    f"CASE WHEN n{i} = 0 THEN 0.0 ELSE"
    f" CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE) END"
    for i in range(1, 6)
)


_K = (
    "("
    + " + ".join(f"CASE WHEN n{i} = 0 THEN 0 ELSE 1 END" for i in range(1, 6))
    + ")"
)


_ANOVA_ORACLE = f"""
WITH o AS (
  SELECT {_GRP_CASE} AS grp,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(CAST(SUM(v * v) AS VARCHAR) AS DOUBLE) AS q,
{_PIVOT_SQL}
  FROM o)
SELECT n, s, q, n1, n2, n3, n4, n5, s1, s2, s3, s4, s5,
       CASE WHEN {_K} < 2 OR CAST(q AS DOUBLE) - ({_TERMS}) = 0.0
            THEN NULL ELSE
       (({_TERMS})
         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       / ({_K} - 1.0)
       / ((CAST(q AS DOUBLE) - ({_TERMS}))
          / (CAST(n AS DOUBLE) - {_K})) END AS f_stat,
       CASE WHEN CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) = 0.0
            THEN NULL ELSE
       (({_TERMS})
         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(q AS DOUBLE)
          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         END AS eta_sq
FROM agg
"""


@query("q_stats_anova", oracle=_ANOVA_ORACLE)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five order priorities: F =
    (SSB/(k−1))/(SSW/(N−k)) with SSB = Σsᵢ²/nᵢ − s²/N and
    SSW = Q − Σsᵢ²/nᵢ — the parametric counterpart of
    q_stats_kruskal, sharing its exact int64 moment pivot (every sum,
    square-sum and group sum is an exact integer in cents; F and the
    η² = SSB/SST effect size are fixed-order double expressions, so
    both engines agree bit-for-bit).  Empty groups drop out of both
    the Σ terms and the group count k.

    Scale: one map-side-combined aggregation over the fact scan — no
    shuffle wider than 1 row, no window anywhere."""
    o = T(spark, sf_dir, "orders").select(
        F.expr(_GRP_CASE).alias("grp"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    group_aggs = [
        x
        for i in range(1, 6)
        for x in (
            F.sum(F.when(F.col("grp") == i, F.col("v")).otherwise(0))
            .cast("long")
            .alias(f"s{i}"),
            F.sum(F.when(F.col("grp") == i, 1).otherwise(0))
            .cast("long")
            .alias(f"n{i}"),
        )
    ]
    dec = F.col("v").cast("decimal(19,0)")
    agg = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        # Σv² passes 2⁶³ (5.5e7 cents squared × row count): exact
        # DECIMAL sum, pinned to double via the string round-trip
        # (the q_timeseries_autocorr parity discipline)
        F.sum(dec * dec).cast("string").cast("double").alias("q"),
        *group_aggs,
    )
    ssb = (
        f"(({_TERMS})"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    # degenerate designs (k < 2 groups, zero within- or total-variance)
    # report NULL identically on both engines: ANSI Spark would raise
    # DIVIDE_BY_ZERO where DuckDB emits inf (found by the degenerate
    # mini-t2, the KMV under-k lesson applied to designs)
    f_expr = (
        f"CASE WHEN {_K} < 2 OR CAST(q AS DOUBLE) - ({_TERMS}) = 0.0"
        " THEN NULL ELSE "
        f"{ssb} / ({_K} - 1.0)"
        f" / ((CAST(q AS DOUBLE) - ({_TERMS}))"
        f"    / (CAST(n AS DOUBLE) - {_K})) END"
    )
    eta_expr = (
        "CASE WHEN CAST(q AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) = 0.0"
        " THEN NULL ELSE "
        f"{ssb} / (CAST(q AS DOUBLE)"
        " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) END"
    )
    return agg.select(
        "n", "s", "q", "n1", "n2", "n3", "n4", "n5",
        "s1", "s2", "s3", "s4", "s5",
        F.expr(f_expr).alias("f_stat"),
        F.expr(eta_expr).alias("eta_sq"),
    )


# ------------------------------------------------------------------
# Cohen's d between URGENT and LOW order prices
# ------------------------------------------------------------------

_CD_A, _CD_B = "1-URGENT", "5-LOW"


_COHEN_ORACLE = f"""
WITH o AS (
  SELECT o_orderpriority AS p,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders WHERE o_orderpriority IN ('{_CD_A}', '{_CD_B}')),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN p = '{_CD_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN p = '{_CD_A}' THEN v ELSE 0 END) AS BIGINT) AS s1,
    CAST(CAST(SUM(CASE WHEN p = '{_CD_A}' THEN v * v ELSE 0 END)
         AS VARCHAR) AS DOUBLE) AS q1,
    CAST(SUM(CASE WHEN p = '{_CD_B}' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN p = '{_CD_B}' THEN v ELSE 0 END) AS BIGINT) AS s2,
    CAST(CAST(SUM(CASE WHEN p = '{_CD_B}' THEN v * v ELSE 0 END)
         AS VARCHAR) AS DOUBLE) AS q2
  FROM o)
SELECT n1, s1, q1, n2, s2, q2,
       CAST(s1 * n2 - s2 * n1 AS BIGINT) AS mean_diff_num,
       CASE WHEN n1 < 2 OR n2 < 2
              OR (CAST(q1 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               + (CAST(q2 AS DOUBLE)
                  - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
               = 0.0
            THEN NULL ELSE
       (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
       / SQRT(((CAST(q1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             + (CAST(q2 AS DOUBLE)
                - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
             / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) END AS d
FROM agg
"""


@query("q_stats_cohens_d", oracle=_COHEN_ORACLE)
def q_stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size between URGENT and LOW order
    prices — the "significant, but is it LARGE?" companion the A/B
    significance tests (q_stats_two_proportion, q_stats_mannwhitney)
    need before anyone acts on them.  Pooled-variance denominator
    from exact int64 moments (Σ(x−x̄)² = Q − S²/n per group), the
    exact cross-multiplied mean-difference numerator s1·n2 − s2·n1 is
    reported as an auditable integer, and d itself is one fixed-shape
    double expression — IEEE-deterministic across engines.

    Scale: single map-side-combined pass with a pushed-down priority
    filter; 1 output row."""
    o = T(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin(_CD_A, _CD_B)
    ).select(
        F.col("o_orderpriority").alias("p"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    def _g(p, i):
        return (
            F.sum(F.when(F.col("p") == p, 1).otherwise(0)).cast("long").alias(f"n{i}"),
            F.sum(F.when(F.col("p") == p, F.col("v")).otherwise(0)).cast("long").alias(f"s{i}"),
            F.sum(F.when(F.col("p") == p,
                         F.col("v").cast("decimal(19,0)")
                         * F.col("v").cast("decimal(19,0)"))
                  .otherwise(F.lit(0).cast("decimal(38,0)")))
            .cast("string").cast("double").alias(f"q{i}"),
        )
    agg = o.agg(*_g(_CD_A, 1), *_g(_CD_B, 2))
    # degenerate designs (a side with < 2 samples, zero pooled spread)
    # report NULL identically on both engines (ANSI DIVIDE_BY_ZERO
    # vs DuckDB inf — the degenerate mini-t2 class)
    d_expr = (
        "CASE WHEN n1 < 2 OR n2 < 2"
        " OR (CAST(q1 AS DOUBLE)"
        "     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        "  + (CAST(q2 AS DOUBLE)"
        "     - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        "  = 0.0 THEN NULL ELSE "
        "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / SQRT(((CAST(q1 AS DOUBLE)"
        "          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
        "       + (CAST(q2 AS DOUBLE)"
        "          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
        "       / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) END"
    )
    return agg.select(
        "n1", "s1", "q1", "n2", "s2", "q2",
        F.expr("CAST(s1 * n2 - s2 * n1 AS BIGINT)").alias("mean_diff_num"),
        F.expr(d_expr).alias("d"),
    )


# ------------------------------------------------------------------
# Theil–Sen slope (median of pairwise slopes on the daily census)
# ------------------------------------------------------------------

_TS_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1),
pairs AS (
  SELECT b.r - a.r AS dy, b.day - a.day AS dx,
         CAST(b.r - a.r AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope,
         a.day AS i, b.day AS j
  FROM daily a JOIN daily b ON a.day < b.day),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY slope, i, j) AS rn,
         COUNT(*) OVER () AS n0
  FROM pairs)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(dy AS BIGINT) AS med_dy,
       CAST(dx AS BIGINT) AS med_dx, slope AS med_slope
FROM ranked WHERE rn = (n0 + 1) // 2
"""


@query("q_stats_theilsen", oracle=_TS_ORACLE)
def q_stats_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of the daily-revenue series: the
    LOWER MEDIAN of all pairwise slopes (rⱼ−rᵢ)/(dayⱼ−dayᵢ) — the
    trend estimator with a 29% breakdown point, immune to the
    promo-day outliers that swing OLS (q_stats_regr is the OLS
    companion).  Each slope is ONE exact-int division (deterministic
    IEEE); the median selection carries the (slope, i, j) total
    tie-break, and the median pair's exact integer (dy, dx) is
    reported beside the double so the result is auditable as a
    rational.

    Scale: the pair table is O(days²) over the CALENDAR-bounded
    census (the q_stats_kendall argument — SF-independent); the rank
    window runs over those bounded pairs, never over fact rows.

    r14 (guide §2.5 — the global ``row_number`` window was ONE task
    sorting all 2.9M pairs, ~5.7 s of the query's 6.7 s): the lower
    median is now selected by distributed partial ranking —
    range-partition the pairs by the full (slope, i, j) sort key
    (parallel sort, materialized once via localCheckpoint so the
    partition ids both consumers see are THE SAME physical rows), count
    rows per partition (tiny), locate the partition holding global rank
    m = (n0+1) DIV 2 by prefix sums, and row_number only WITHIN that
    one partition (~n0/P rows).  n0 itself is d·(d−1)/2 from the day
    census — no count-over-everything window.  Exactness does not
    depend on the range sampler's balance: (slope, i, j) is a total
    order with unique (i, j), so no ties straddle a partition boundary
    and prefix-sum + local rank reproduces the global rank exactly.
    Same output, bit-identical (oracle-attested)."""
    daily = T(spark, sf_dir, "orders").groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        )
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        (F.col("b.r") - F.col("a.r")).alias("dy"),
        (F.col("b.day") - F.col("a.day")).alias("dx"),
        (
            (F.col("b.r") - F.col("a.r")).cast("double")
            / (F.col("b.day") - F.col("a.day")).cast("double")
        ).alias("slope"),
        F.col("a.day").alias("i"),
        F.col("b.day").alias("j"),
    )
    n_parts = spark.sparkContext.defaultParallelism
    rp = (
        pairs.repartitionByRange(n_parts, "slope", "i", "j")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # n0 = C(days, 2): every (a.day < b.day) pair of distinct census days
    n0df = daily.agg(F.count(F.lit(1)).alias("d")).select(
        (F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n0")
    )
    counts = (
        rp.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n0df))
        .select(
            "pid",
            "c",
            "n0",
            F.coalesce(
                F.sum("c").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("prev"),
        )
    )
    target = counts.where(
        F.expr("prev < (n0 + 1) DIV 2 AND (n0 + 1) DIV 2 <= prev + c")
    ).select("pid", "prev", "n0")
    wloc = Window.partitionBy("pid").orderBy("slope", "i", "j")
    return (
        rp.join(F.broadcast(target), "pid")
        .withColumn("rn", F.row_number().over(wloc))
        .where(F.expr("rn + prev = (n0 + 1) DIV 2"))
        .select(
            F.col("n0").cast("long").alias("n0"),
            F.col("dy").cast("long").alias("med_dy"),
            F.col("dx").cast("long").alias("med_dx"),
            F.col("slope").alias("med_slope"),
        )
    )


# ------------------------------------------------------------------
# Welch's t-test: R vs A return flags on extended price
# ------------------------------------------------------------------

_WT_A, _WT_B = "R", "A"


#: fixed-order double expressions shared verbatim by both engines;
#: q1/q2 are DECIMAL sums string-pinned to double (the q_stats_anova
#: / q_timeseries_autocorr parity discipline for Σv² past 2⁶³).
_WT_VAR1 = (
    "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0)"
)


_WT_VAR2 = (
    "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)"
)


_WT_SE2 = (
    f"(({_WT_VAR1}) / CAST(n1 AS DOUBLE)"
    f" + ({_WT_VAR2}) / CAST(n2 AS DOUBLE))"
)


_WT_T = (
    "CASE WHEN n1 < 2 OR n2 < 2 OR " + _WT_SE2 + " <= 0.0 THEN NULL ELSE "
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    f" / SQRT({_WT_SE2}) END"
)


_WT_DF = (
    "CASE WHEN n1 < 2 OR n2 < 2 OR " + _WT_SE2 + " <= 0.0 THEN NULL ELSE "
    f"({_WT_SE2}) * ({_WT_SE2}) / "
    f"((({_WT_VAR1}) / CAST(n1 AS DOUBLE)) * (({_WT_VAR1}) / CAST(n1 AS DOUBLE))"
    " / (CAST(n1 AS DOUBLE) - 1.0)"
    f" + (({_WT_VAR2}) / CAST(n2 AS DOUBLE)) * (({_WT_VAR2}) / CAST(n2 AS DOUBLE))"
    " / (CAST(n2 AS DOUBLE) - 1.0)) END"
)


_WELCH_ORACLE = f"""
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
  FROM lineitem WHERE l_returnflag IN ('{_WT_A}', '{_WT_B}')),
agg AS (
  SELECT
    CAST(SUM(CASE WHEN g = '{_WT_A}' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN g = '{_WT_A}' THEN v ELSE 0 END) AS BIGINT) AS s1,
    CAST(CAST(SUM(CASE WHEN g = '{_WT_A}' THEN v * v ELSE 0 END)
         AS VARCHAR) AS DOUBLE) AS q1,
    CAST(SUM(CASE WHEN g = '{_WT_B}' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN g = '{_WT_B}' THEN v ELSE 0 END) AS BIGINT) AS s2,
    CAST(CAST(SUM(CASE WHEN g = '{_WT_B}' THEN v * v ELSE 0 END)
         AS VARCHAR) AS DOUBLE) AS q2
  FROM li)
SELECT n1, s1, q1, n2, s2, q2,
       {_WT_T} AS t_stat,
       {_WT_DF} AS df_welch
FROM agg
"""


@query("q_stats_welch_t", oracle=_WELCH_ORACLE)
def q_stats_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t between the R and A
    return-flag populations on price cents, plus the Welch-
    Satterthwaite effective df — the default two-sample test when
    equal variances can't be assumed (q_stats_cohens_d reports the
    effect size for the same contrast; this reports the test).  All
    five moments are exact integers (Σv² as a DECIMAL sum pinned to
    double via the string round-trip); t and df are single fixed-
    order double expressions over them, so both engines agree
    bit-for-bit.  Degenerate designs (a group smaller than 2, or
    zero pooled standard error) report NULL identically on both
    engines.

    Scale: one map-side-combined aggregation over the fact scan —
    the same 1-row shape as q_stats_anova."""
    li = T(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin(_WT_A, _WT_B)
    )
    v = F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")
    li = li.select(F.col("l_returnflag").alias("g"), v.alias("v"))
    dec = F.col("v").cast("decimal(19,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    agg = li.agg(
        F.sum(F.when(F.col("g") == _WT_A, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("g") == _WT_A, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("g") == _WT_A, dec * dec).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("q1"),
        F.sum(F.when(F.col("g") == _WT_B, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("g") == _WT_B, F.col("v")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(F.when(F.col("g") == _WT_B, dec * dec).otherwise(zero))
        .cast("string")
        .cast("double")
        .alias("q2"),
    )
    return agg.select(
        "n1",
        "s1",
        "q1",
        "n2",
        "s2",
        "q2",
        F.expr(_WT_T).alias("t_stat"),
        F.expr(_WT_DF).alias("df_welch"),
    )


# ------------------------------------------------------------------
# Jarque-Bera normality statistic on order quantities
# ------------------------------------------------------------------

#: central moments from raw moments, then skew / kurtosis / JB — one
#: pinned-order expression tree.  m2^1.5 is written m2·√m2 (never
#: POWER(x, 1.5): pow is not IEEE-correctly-rounded and may differ
#: across libm implementations; SQRT is exactly rounded everywhere).
_JB_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"


_JB_M2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_JB_MEAN} * {_JB_MEAN})"


_JB_M3 = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3.0 * {_JB_MEAN} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 2.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)


_JB_M4 = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4.0 * {_JB_MEAN} * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 6.0 * {_JB_MEAN} * {_JB_MEAN}"
    f" * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - 3.0 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)


_JB_SKEW = f"({_JB_M3} / ({_JB_M2} * SQRT({_JB_M2})))"


_JB_KURT = f"({_JB_M4} / ({_JB_M2} * {_JB_M2}))"


_JB_GUARD = f"CASE WHEN n < 2 OR {_JB_M2} <= 0.0 THEN NULL ELSE "


_JB_STAT = (
    _JB_GUARD + "CAST(n AS DOUBLE) / 6.0 * "
    f"({_JB_SKEW} * {_JB_SKEW}"
    f" + ({_JB_KURT} - 3.0) * ({_JB_KURT} - 3.0) / 4.0) END"
)


_JB_ORACLE = f"""
WITH q AS (
  SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS v FROM lineitem),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2,
         CAST(SUM(v * v * v) AS BIGINT) AS s3,
         CAST(SUM(v * v * v * v) AS BIGINT) AS s4
  FROM q)
SELECT n, s1, s2, s3, s4,
       {_JB_GUARD}{_JB_SKEW} END AS skewness,
       {_JB_GUARD}{_JB_KURT} END AS kurtosis,
       {_JB_STAT} AS jb_stat
FROM agg
"""


@query("q_stats_jarque_bera", oracle=_JB_ORACLE)
def q_stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic (with its skewness and raw
    kurtosis inputs) over order quantities: JB = n/6·(S² + (K−3)²/4).
    Quantities are integers ≤ 50, so all four raw power sums are
    exact int64 (Σv⁴ ≤ 6.25e6·n — inside int64 to ~1.4e12 rows); the
    central-moment/skew/kurtosis ladder is one pinned-order double
    expression, with m2^1.5 spelled m2·√m2 because POWER is not
    correctly-rounded across libms while SQRT is.  Degenerate inputs
    (n < 2 or zero variance) report NULL identically.

    Scale: one map-side-combined aggregation; for value domains where
    Σv⁴ exceeds int64, the DECIMAL string-pin (q_stats_welch_t's q1)
    is the drop-in remedy."""
    li = T(spark, sf_dir, "lineitem").select(
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias("v")
    )
    agg = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.expr("v * v")).cast("long").alias("s2"),
        F.sum(F.expr("v * v * v")).cast("long").alias("s3"),
        F.sum(F.expr("v * v * v * v")).cast("long").alias("s4"),
    )
    return agg.select(
        "n",
        "s1",
        "s2",
        "s3",
        "s4",
        F.expr(_JB_GUARD + _JB_SKEW + " END").alias("skewness"),
        F.expr(_JB_GUARD + _JB_KURT + " END").alias("kurtosis"),
        F.expr(_JB_STAT).alias("jb_stat"),
    )


# ------------------------------------------------------------------
# Wilcoxon signed-rank: per-user early-vs-late month-half spend
# ------------------------------------------------------------------

_WX_Z = (
    "CASE WHEN n_pairs = 0 THEN NULL ELSE "
    "(CAST(wd AS DOUBLE) / 2.0"
    " - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)"
    " / SQRT(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)"
    "        * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0"
    "        - tie_cubes / 48.0) END"
)


_WILCOXON_ORACLE = f"""
WITH pairs AS (
  SELECT user_id,
         SUM(CASE WHEN day(ts) <= 15
             THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
             ELSE 0 END) AS a,
         SUM(CASE WHEN day(ts) > 15
             THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
             ELSE 0 END) AS b
  FROM events GROUP BY user_id),
d AS (
  SELECT b - a AS d, ABS(b - a) AS ad FROM pairs WHERE b - a <> 0),
census AS (
  SELECT ad, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM d GROUP BY ad),
ranked AS (
  SELECT cnt, pos,
         2 * COALESCE(SUM(cnt) OVER (ORDER BY ad
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS dr
  FROM census),
agg AS (
  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_pairs,
         CAST(COALESCE(SUM(pos * dr), 0) AS BIGINT) AS wd,
         CAST(CAST(COALESCE(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt),
                            0) AS VARCHAR) AS DOUBLE)
           AS tie_cubes
  FROM ranked)
SELECT n_pairs, wd, tie_cubes, {_WX_Z} AS z_stat FROM agg
"""


@query("q_stats_wilcoxon_signed", oracle=_WILCOXON_ORACLE)
def q_stats_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-user spend: each user's
    event-value total (exact micros) in the first month-half (day ≤
    15) vs the second; zero differences drop per the classical
    procedure.  Ranks of |d| come from the VALUE-DOMAIN census with
    doubled midranks (2·below + ties + 1 — the q_stats_kruskal /
    q_stats_mannwhitney machinery), so W⁺ (doubled) is exact int64
    (wd ≤ n(2n+1): safe to n ≈ 2.1e9 users); the tie correction
    Σ(t³−t) is CUBIC in the hottest |d| multiplicity (t³ passes 2⁶³
    past 2.1e6 users tied on one |d|), so it is summed in
    DECIMAL(38,0) / HUGEINT and string-pinned to double (round-10
    overflow audit; >2M-census regression in
    tests/test_overflow_census.py).  The tie-corrected normal z is
    ONE fixed-order double expression over them.  n = 0 (no
    nonzero differences) reports NULL identically on both engines.

    Scale: the pair table is one (user) aggregation of the fact scan;
    the rank window runs over the |d| census, never the user table —
    and σ² > 0 whenever n ≥ 1, so no variance guard is needed."""
    ev = T(spark, sf_dir, "events")
    micros = F.expr("CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)")
    pairs = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("event_ts") <= 15, micros).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when(F.dayofmonth("event_ts") > 15, micros).otherwise(0)
        ).alias("b"),
    )
    d = pairs.select(
        (F.col("b") - F.col("a")).alias("d"),
        F.abs(F.col("b") - F.col("a")).alias("ad"),
    ).where(F.col("d") != 0)
    census = d.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = census.select(
        "cnt",
        "pos",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("dr"),
    )
    agg = ranked.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce(F.sum(F.col("pos") * F.col("dr")), F.lit(0))
        .cast("long")
        .alias("wd"),
        F.coalesce(
            F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")),
            F.lit(0).cast("decimal(38,0)"),
        )
        .cast("string")
        .cast("double")
        .alias("tie_cubes"),
    )
    return agg.select(
        "n_pairs", "wd", "tie_cubes", F.expr(_WX_Z).alias("z_stat")
    )


# ------------------------------------------------------------------
# Mood's median test across the five order priorities
# ------------------------------------------------------------------

_MM_GRP = (
    "CASE "
    + " ".join(
        f"WHEN o_orderpriority = '{p}' THEN {i + 1}"
        for i, p in enumerate(_PRIORITIES)
    )
    + " END"
)


_MM_CENSUS_COLS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN grp = {i} THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
    for i in range(1, 6)
)


_MM_AGG_COLS = ",\n         ".join(
    f"CAST(SUM(c{i}) AS BIGINT) AS n{i},"
    f" CAST(SUM(CASE WHEN is_le = 1 THEN c{i} ELSE 0 END) AS BIGINT) AS a{i}"
    for i in range(1, 6)
)


_MM_A = "(a1 + a2 + a3 + a4 + a5)"


_MM_N = "(n1 + n2 + n3 + n4 + n5)"


#: χ² over the 2×5 table, unrolled in pinned order; empty groups
#: contribute 0 (their expected counts are 0 too).
_MM_CHI_TERMS = "\n         + ".join(
    f"CASE WHEN n{i} = 0 THEN 0.0 ELSE "
    f"(CAST(a{i} AS DOUBLE) - CAST(n{i} AS DOUBLE) * CAST({_MM_A} AS DOUBLE)"
    f" / CAST({_MM_N} AS DOUBLE))"
    f" * (CAST(a{i} AS DOUBLE) - CAST(n{i} AS DOUBLE) * CAST({_MM_A} AS DOUBLE)"
    f" / CAST({_MM_N} AS DOUBLE))"
    f" / (CAST(n{i} AS DOUBLE) * CAST({_MM_A} AS DOUBLE) / CAST({_MM_N} AS DOUBLE))"
    f" + (CAST(n{i} AS DOUBLE) - CAST(a{i} AS DOUBLE)"
    f" - CAST(n{i} AS DOUBLE) * CAST({_MM_N} - {_MM_A} AS DOUBLE)"
    f" / CAST({_MM_N} AS DOUBLE))"
    f" * (CAST(n{i} AS DOUBLE) - CAST(a{i} AS DOUBLE)"
    f" - CAST(n{i} AS DOUBLE) * CAST({_MM_N} - {_MM_A} AS DOUBLE)"
    f" / CAST({_MM_N} AS DOUBLE))"
    f" / (CAST(n{i} AS DOUBLE) * CAST({_MM_N} - {_MM_A} AS DOUBLE)"
    f" / CAST({_MM_N} AS DOUBLE)) END"
    for i in range(1, 6)
)


_MM_CHI = (
    f"CASE WHEN {_MM_A} = 0 OR {_MM_N} - {_MM_A} = 0 THEN NULL ELSE "
    f"{_MM_CHI_TERMS} END"
)


_MOOD_ORACLE = f"""
WITH o AS (
  SELECT {_MM_GRP} AS grp,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
census AS (
  SELECT v,
         {_MM_CENSUS_COLS},
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM o WHERE grp IS NOT NULL GROUP BY v),
marked AS (
  SELECT *,
         CASE WHEN COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              < (SUM(cnt) OVER () + 2) // 2
              THEN 1 ELSE 0 END AS is_le,
         CASE WHEN COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt
              >= (SUM(cnt) OVER () + 2) // 2
              AND COALESCE(SUM(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              < (SUM(cnt) OVER () + 2) // 2
              THEN v END AS med_marker
  FROM census),
agg AS (
  SELECT {_MM_AGG_COLS},
         CAST(MAX(med_marker) AS BIGINT) AS median_cents
  FROM marked)
SELECT n1, a1, n2, a2, n3, a3, n4, a4, n5, a5, median_cents,
       {_MM_CHI} AS chisq
FROM agg
"""


@query("q_stats_mood_median", oracle=_MOOD_ORACLE)
def q_stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across the five order priorities: counts
    above/at-or-below the grand median per group, and the 2×5 χ²
    statistic.  The grand median (the rank-⌈(N+1)/2⌉ order statistic)
    is marked ON the value census itself — a row is ≤ median iff its
    preceding cumulative count is under the rank threshold, which the
    census window total yields per-row — so unlike q_stats_runs there
    is NO scalar cross anywhere.  Counts are exact int64; χ² is one
    unrolled pinned-order double expression over the ten cells, with
    empty groups contributing zero and a degenerate guard (all mass
    on one side) reporting NULL identically.

    Scale: the census is value-domain-bounded (price cents); the fact
    table is touched once by the census aggregation."""
    o = T(spark, sf_dir, "orders").select(
        F.expr(_MM_GRP).alias("grp"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    census = (
        o.where(F.col("grp").isNotNull())
        .groupBy("v")
        .agg(
            *[
                F.sum(F.when(F.col("grp") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"c{i}")
                for i in range(1, 6)
            ],
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy()
    cumb = F.coalesce(F.sum("cnt").over(wb), F.lit(0))
    thr = F.expr("(total + 2) DIV 2")
    marked = census.withColumn("total", F.sum("cnt").over(wt)).select(
        *[f"c{i}" for i in range(1, 6)],
        "cnt",
        "v",
        F.when(cumb < thr, 1).otherwise(0).alias("is_le"),
        F.when((cumb + F.col("cnt") >= thr) & (cumb < thr), F.col("v")).alias(
            "med_marker"
        ),
    )
    agg = marked.agg(
        *[
            x
            for i in range(1, 6)
            for x in (
                F.sum(f"c{i}").cast("long").alias(f"n{i}"),
                F.sum(
                    F.when(F.col("is_le") == 1, F.col(f"c{i}")).otherwise(0)
                )
                .cast("long")
                .alias(f"a{i}"),
            )
        ],
        F.max("med_marker").cast("long").alias("median_cents"),
    )
    return agg.select(
        "n1",
        "a1",
        "n2",
        "a2",
        "n3",
        "a3",
        "n4",
        "a4",
        "n5",
        "a5",
        "median_cents",
        F.expr(_MM_CHI).alias("chisq"),
    )


# ------------------------------------------------------------------
# Cochran's Q over three paired binary treatments (event types)
# ------------------------------------------------------------------

_CQ_TYPES = ["click", "view", "purchase"]


_CQ_K = len(_CQ_TYPES)


_CQ_X_COLS = ",\n         ".join(
    f"MAX(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS x{j + 1}"
    for j, t in enumerate(_CQ_TYPES)
)


_CQ_T_SQ = " + ".join(f"t{j + 1} * t{j + 1}" for j in range(_CQ_K))


_CQ_T_SUM = " + ".join(f"t{j + 1}" for j in range(_CQ_K))


_CQ_NUM = (
    f"({_CQ_K} - 1) * ({_CQ_K} * ({_CQ_T_SQ})"
    f" - ({_CQ_T_SUM}) * ({_CQ_T_SUM}))"
)


_CQ_DEN = f"({_CQ_K} * sr - sr2)"


_COCHRAN_ORACLE = f"""
WITH x AS (
  SELECT user_id,
         {_CQ_X_COLS}
  FROM events WHERE event_type IN ({", ".join(f"'{t}'" for t in _CQ_TYPES)})
  GROUP BY user_id),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         {", ".join(f"CAST(SUM(x{j + 1}) AS BIGINT) AS t{j + 1}" for j in range(_CQ_K))},
         CAST(SUM(x1 + x2 + x3) AS BIGINT) AS sr,
         CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sr2
  FROM x)
SELECT n_users, t1, t2, t3,
       CAST({_CQ_NUM} AS BIGINT) AS q_num,
       CAST({_CQ_DEN} AS BIGINT) AS q_den,
       CASE WHEN {_CQ_DEN} = 0 THEN NULL
            ELSE CAST({_CQ_NUM} AS DOUBLE) / CAST({_CQ_DEN} AS DOUBLE) END
         AS q_stat
FROM agg
"""


@query("q_stats_cochran_q", oracle=_COCHRAN_ORACLE)
def q_stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over k=3 paired binary treatments: did each user
    ever click / view / purchase?  Q = (k−1)(kΣTⱼ² − (ΣTⱼ)²) /
    (kΣRᵢ − ΣRᵢ²) is an exact integer rational (numerator ≥ 0 by
    Cauchy-Schwarz, denominator ≥ 0 since x² = x for binaries), so
    the verdict ships as exact (num, den) int64 plus the double
    ratio; a zero denominator (every user all-0 or all-k) reports
    NULL identically on both engines.

    Scale: one (user, 3-bit) aggregation then one 1-row combine —
    both map-side-combined; int64 holds to ~3e8 users (Tⱼ² bound),
    past which the DECIMAL string-pin is the drop-in remedy."""
    ev = T(spark, sf_dir, "events").where(F.col("event_type").isin(_CQ_TYPES))
    x = ev.groupBy("user_id").agg(
        *[
            F.max(
                F.when(F.col("event_type") == t, 1).otherwise(0)
            ).alias(f"x{j + 1}")
            for j, t in enumerate(_CQ_TYPES)
        ]
    )
    agg = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        *[
            F.sum(f"x{j + 1}").cast("long").alias(f"t{j + 1}")
            for j in range(_CQ_K)
        ],
        F.sum(F.expr("x1 + x2 + x3")).cast("long").alias("sr"),
        F.sum(F.expr("(x1 + x2 + x3) * (x1 + x2 + x3)"))
        .cast("long")
        .alias("sr2"),
    )
    return agg.select(
        "n_users",
        "t1",
        "t2",
        "t3",
        F.expr(f"CAST({_CQ_NUM} AS BIGINT)").alias("q_num"),
        F.expr(f"CAST({_CQ_DEN} AS BIGINT)").alias("q_den"),
        F.expr(
            f"CASE WHEN {_CQ_DEN} = 0 THEN NULL"
            f" ELSE CAST({_CQ_NUM} AS DOUBLE) / CAST({_CQ_DEN} AS DOUBLE) END"
        ).alias("q_stat"),
    )


# ------------------------------------------------------------------
# Ljung-Box portmanteau test on the daily event-count series
# ------------------------------------------------------------------

_LB_MAX_LAG = 7


#: per-row algebra shared verbatim by both engines.  a_num is the
#: ρ̂ numerator scaled by n² (exact int64): n²·Σxₜxₜ₋ₖ − n·s·(head +
#: tail) + (n−k)·s²; den = n·(n·Σx² − s²).
_LB_RHO = (
    "CASE WHEN n <= lag OR n * s2 - s * s = 0 THEN NULL ELSE "
    "CAST(a_num AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n * s2 - s * s AS DOUBLE)) END"
)


_LB_TERM = (
    "CASE WHEN n <= lag OR n * s2 - s * s = 0 THEN NULL ELSE "
    "CAST(FLOOR(1000000.0 * CAST(n AS DOUBLE)"
    " * (CAST(n AS DOUBLE) + 2.0) / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE))"
    f" * ({_LB_RHO}) * ({_LB_RHO}) + 0.5) AS BIGINT) END"
)


_LB_AGG_COLS = ",\n         ".join(
    f"CAST(SUM(x * l{k}) AS BIGINT) AS sxx{k},"
    f" CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN l{k} ELSE 0 END) AS BIGINT)"
    f" AS hd{k},"
    f" CAST(SUM(CASE WHEN l{k} IS NOT NULL THEN x ELSE 0 END) AS BIGINT)"
    f" AS tl{k}"
    for k in range(1, _LB_MAX_LAG + 1)
)


_LB_LAG_COLS = ",\n         ".join(
    f"LAG(x, {k}) OVER (ORDER BY di) AS l{k}"
    for k in range(1, _LB_MAX_LAG + 1)
)


_LB_GRID_CASE = {
    col: "CASE "
    + " ".join(
        f"WHEN lag = {k} THEN {col}{k}" for k in range(1, _LB_MAX_LAG + 1)
    )
    + " END"
    for col in ("sxx", "hd", "tl")
}


_LJUNG_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {US_PER_DAY} AS di,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
b AS (SELECT MIN(di) AS lo, MAX(di) AS hi FROM daily),
spine AS (SELECT UNNEST(generate_series(lo, hi)) AS di FROM b),
series AS (
  SELECT s.di, COALESCE(d.cnt, 0) AS x
  FROM spine s LEFT JOIN daily d ON s.di = d.di),
lagged AS (
  SELECT x,
         {_LB_LAG_COLS}
  FROM series),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         {_LB_AGG_COLS}
  FROM lagged),
grid AS (SELECT UNNEST(range(1, {_LB_MAX_LAG + 1})) AS lag),
rows_ AS (
  SELECT CAST(g.lag AS BIGINT) AS lag, a.n, a.s, a.s2,
         {_LB_GRID_CASE["sxx"]} AS sxx,
         {_LB_GRID_CASE["hd"]} AS hd,
         {_LB_GRID_CASE["tl"]} AS tl
  FROM grid g CROSS JOIN agg a),
terms AS (
  SELECT lag, n, s, s2,
         CAST(n * n * sxx - n * s * (hd + tl) + (n - lag) * s * s
              AS BIGINT) AS a_num
  FROM rows_),
final AS (
  SELECT lag, n, a_num,
         {_LB_RHO} AS rho,
         {_LB_TERM} AS term_micros
  FROM terms)
SELECT lag, n, a_num, rho, term_micros,
       CAST(SUM(term_micros) OVER (ORDER BY lag
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS q_micros
FROM final ORDER BY lag
"""


@query("q_stats_ljung_box", oracle=_LJUNG_ORACLE)
def q_stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau autocorrelation test over the gap-filled
    daily event-count series, lags 1..7: for each lag the exact-int64
    ρ̂ numerator A_k = n²Σxₜxₜ₋ₖ − n·s·(head+tail) + (n−k)s² (the
    q_timeseries_autocorr centering algebra, generalized to every
    lag), ρ̂ₖ as one pinned double division, the per-lag LB term
    floored to micros, and the running Q statistic as an EXACT
    integer cumulative sum of those micro-terms — so the 7-row
    trajectory hash-matches bit-for-bit.  Lags ≥ n and zero-variance
    series report NULL terms on both engines; the running SUM window
    SKIPS those NULLs identically, so for 1 < n ≤ 7 the rows at
    lag ≥ n carry forward the partial Q of the valid lags (Q is NULL
    only when EVERY term is NULL, e.g. a zero-variance series).

    Scale: the series is CALENDAR-bounded (one row per day whatever
    the SF), so the spine join, the 7 lag windows, and the 7-row
    grid are all SF-independent; the fact table is touched once by
    the daily census.  Daily counts keep n²Σxx inside int64 to ~3e8
    events/day; past that the DECIMAL string-pin applies."""
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"(ts div 1000) div {US_PER_DAY}").alias("di")
        )
        .groupBy("di")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    spine = daily.agg(
        F.min("di").alias("lo"), F.max("di").alias("hi")
    ).select(F.explode(F.expr("sequence(lo, hi)")).alias("di"))
    series = (
        spine.join(daily, "di", "left")
        .select("di", F.coalesce(F.col("cnt"), F.lit(0)).alias("x"))
    )
    lag_cols = [
        F.lag("x", k).over(Window.orderBy("di")).alias(f"l{k}")
        for k in range(1, _LB_MAX_LAG + 1)
    ]
    lagged = series.select("x", *lag_cols)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("x * x")).cast("long").alias("s2"),
    ]
    for k in range(1, _LB_MAX_LAG + 1):
        aggs += [
            F.sum(F.expr(f"x * l{k}")).cast("long").alias(f"sxx{k}"),
            F.sum(F.expr(f"CASE WHEN l{k} IS NOT NULL THEN l{k} ELSE 0 END"))
            .cast("long")
            .alias(f"hd{k}"),
            F.sum(F.expr(f"CASE WHEN l{k} IS NOT NULL THEN x ELSE 0 END"))
            .cast("long")
            .alias(f"tl{k}"),
        ]
    agg = lagged.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({k} AS BIGINT), sxx{k}, hd{k}, tl{k}"
        for k in range(1, _LB_MAX_LAG + 1)
    )
    rows = agg.selectExpr(
        "n",
        "s",
        "s2",
        f"stack({_LB_MAX_LAG}, {stack_args}) AS (lag, sxx, hd, tl)",
    )
    terms = rows.select(
        "lag",
        "n",
        F.expr(
            "CAST(n * n * sxx - n * s * (hd + tl) + (n - lag) * s * s"
            " AS BIGINT)"
        ).alias("a_num"),
        "s",
        "s2",
    )
    final = terms.select(
        "lag",
        "n",
        "a_num",
        F.expr(_LB_RHO).alias("rho"),
        F.expr(_LB_TERM).alias("term_micros"),
    )
    wq = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return final.select(
        "lag",
        "n",
        "a_num",
        "rho",
        "term_micros",
        F.sum("term_micros").over(wq).cast("long").alias("q_micros"),
    ).orderBy("lag")


# ------------------------------------------------------------------
# Page-Hinkley drift detector, fully integer
# ------------------------------------------------------------------

_PH_US_PER_DAY = 86_400_000_000


_PH_LAMBDA_MICROS = 10_000_000  # alarm at PH > 10 events·µ


_PH_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_PH_US_PER_DAY} AS di,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
b AS (SELECT MIN(di) AS lo, MAX(di) AS hi FROM daily),
spine AS (SELECT UNNEST(generate_series(lo, hi)) AS di FROM b),
series AS (
  SELECT s.di, COALESCE(d.cnt, 0) AS x,
         ROW_NUMBER() OVER (ORDER BY s.di) AS i
  FROM spine s LEFT JOIN daily d ON s.di = d.di),
pref AS (
  SELECT di, x, i,
         SUM(x) OVER (ORDER BY di
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM series),
dev AS (
  SELECT di, x,
         CAST((1000000 * p) // i AS BIGINT) AS mean_micros,
         CAST(1000000 * x - (1000000 * p) // i AS BIGINT) AS d
  FROM pref),
m AS (
  SELECT di, x, mean_micros,
         SUM(d) OVER (ORDER BY di
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
  FROM dev)
SELECT CAST(di AS BIGINT) AS di, x, mean_micros,
       CAST(mt - MIN(mt) OVER (ORDER BY di
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS ph_micros,
       CAST(CASE WHEN mt - MIN(mt) OVER (ORDER BY di
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            > {_PH_LAMBDA_MICROS} THEN 1 ELSE 0 END AS BIGINT) AS alarm
FROM m ORDER BY di
"""


@query("q_stats_page_hinkley", oracle=_PH_ORACLE)
def q_stats_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector over the gap-filled daily
    event-count series, made FULLY integer: the incremental mean is
    the floored-micros rational (1e6·prefix)/i, the deviation cumsum
    mₜ is an exact integer running window, and PHₜ = mₜ − min_{i≤t} mᵢ
    is the same prefix-minus-running-min closed form q_window_cusum
    uses — two stacked integer windows on one sort, no recursion.
    The alarm fires when PH exceeds the literal λ.  Unlike CUSUM's
    fixed reference value, PH self-references the series' own running
    mean — the detector of choice when the baseline is unknown.

    Scale: the series is CALENDAR-bounded; the fact table is touched
    once by the daily census.  1e6·prefix stays in int64 to ~9e12
    cumulative events."""
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"(ts div 1000) div {_PH_US_PER_DAY}").alias("di")
        )
        .groupBy("di")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    spine = daily.agg(
        F.min("di").alias("lo"), F.max("di").alias("hi")
    ).select(F.explode(F.expr("sequence(lo, hi)")).alias("di"))
    series = (
        spine.join(daily, "di", "left")
        .select(
            "di",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("x"),
            F.row_number().over(Window.orderBy("di")).alias("i"),
        )
    )
    wrun = Window.orderBy("di").rowsBetween(Window.unboundedPreceding, 0)
    pref = series.select(
        "di", "x", "i", F.sum("x").over(wrun).alias("p")
    )
    dev = pref.select(
        "di",
        "x",
        F.expr("(1000000 * p) DIV i").alias("mean_micros"),
        F.expr("1000000 * x - (1000000 * p) DIV i").alias("d"),
    )
    m = dev.select(
        "di", "x", "mean_micros", F.sum("d").over(wrun).alias("mt")
    )
    ph = F.col("mt") - F.min("mt").over(wrun)
    return m.select(
        F.col("di").cast("long").alias("di"),
        "x",
        "mean_micros",
        ph.cast("long").alias("ph_micros"),
        F.when(ph > _PH_LAMBDA_MICROS, 1)
        .otherwise(0)
        .cast("long")
        .alias("alarm"),
    ).orderBy("di")


# ------------------------------------------------------------------
# Two-sample Cramér-von Mises (R vs A return flags)
# ------------------------------------------------------------------

_CVM_A, _CVM_B = "R", "A"


#: T = Σ_points (a+b)·(CA·m − CB·n)² / (n·m·(n+m)²); the numerator is
#: an exact DECIMAL sum (string-pinned — (CA·m−CB·n)² alone passes
#: 2⁶³ beyond ~60k rows/side), the denominator a pinned double
#: product.
_CVM_T = (
    "CASE WHEN n = 0 OR m = 0 THEN NULL ELSE "
    "CAST(num AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)"
    "    * CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE)) END"
)


_CVM_ORACLE = f"""
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
  FROM lineitem WHERE l_returnflag IN ('{_CVM_A}', '{_CVM_B}')),
census AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = '{_CVM_A}' THEN 1 ELSE 0 END) AS BIGINT)
           AS a,
         CAST(SUM(CASE WHEN g = '{_CVM_B}' THEN 1 ELSE 0 END) AS BIGINT)
           AS b
  FROM li GROUP BY v),
cum AS (
  SELECT a, b,
         SUM(a) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         SUM(b) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         SUM(a) OVER () AS n,
         SUM(b) OVER () AS m
  FROM census),
agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(m) AS BIGINT) AS m,
         CAST(CAST(SUM(CAST(a + b AS HUGEINT)
              * CAST(ca * m - cb * n AS HUGEINT)
              * CAST(ca * m - cb * n AS HUGEINT)) AS VARCHAR)
              AS DOUBLE) AS num
  FROM cum)
SELECT n, m, num, {_CVM_T} AS cvm_t
FROM agg
"""


@query("q_stats_cvm", oracle=_CVM_ORACLE)
def q_stats_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic between the R and A
    return-flag price populations: where q_stats_ks_drift takes the
    MAX of the integer cross-multiplied ECDF gap, CvM integrates its
    SQUARE over every sample point — more power against distributed
    (non-localized) distributional drift.  Per census row the gap
    (CA·m − CB·n) is exact int64; the point-weighted squared sum is
    an exact DECIMAL pinned to double via the string round-trip; T is
    one pinned-order double division.  An empty side reports NULL.
    int64/decimal bounds (round-10 overflow audit): the inner
    products CA·m ≤ n·m stay int64 to n ≈ m ≈ 3e9; the DECIMAL(38)
    sum Σ(a+b)·gap² is bounded by (n+m)·(n·m)² — exact to ~2.3e7
    rows per side in the adversarial fully-separated case (real
    overlapping distributions go much further; the >2M-census
    regression in tests/test_overflow_census.py exercises 2.2e6 per
    side), past which the remedy is normalizing the gap to ppm
    before squaring — a double formulation, stated rather than
    silently applied.

    Scale: the ECDF window runs over the VALUE-DOMAIN census (the KS
    discipline — never the row count); the fact table is touched once
    by the census aggregation."""
    li = T(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin(_CVM_A, _CVM_B)
    )
    census = li.select(
        F.col("l_returnflag").alias("g"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "v"
        ),
    ).groupBy("v").agg(
        F.sum(F.when(F.col("g") == _CVM_A, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("g") == _CVM_B, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    wrun = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = census.select(
        "a",
        "b",
        F.sum("a").over(wrun).alias("ca"),
        F.sum("b").over(wrun).alias("cb"),
        F.sum("a").over(wall).alias("n"),
        F.sum("b").over(wall).alias("m"),
    )
    # Spark side: gap² first as a capped DECIMAL(38,0) (values fit, so
    # the precision cap never truncates), then the point weight — the
    # oracle mirrors with HUGEINT (int128); both string-pin to double
    agg = cum.agg(
        F.max("n").cast("long").alias("n"),
        F.max("m").cast("long").alias("m"),
        F.sum(
            F.expr(
                "CAST(a + b AS DECIMAL(19,0))"
                " * (CAST(ca * m - cb * n AS DECIMAL(19,0))"
                "    * CAST(ca * m - cb * n AS DECIMAL(19,0)))"
            )
        )
        .cast("string")
        .cast("double")
        .alias("num"),
    )
    return agg.select("n", "m", "num", F.expr(_CVM_T).alias("cvm_t"))


# ------------------------------------------------------------------
# Grubbs outlier statistic on order totals
# ------------------------------------------------------------------

#: G = (maxdev/n) / sd with sd² = (q − s²/n)/(n−1); maxdev = max|x·n − s|
#: is exact int64 (cents·rows ≤ 2⁶³ to ~1.5e11 row-cents products).
_GR_SD = (
    "SQRT((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))"
)


_GR_G = (
    f"CASE WHEN n < 2 OR {_GR_SD} = 0.0 THEN NULL ELSE "
    f"(CAST(maxdev AS DOUBLE) / CAST(n AS DOUBLE)) / {_GR_SD} END"
)


_GRUBBS_ORACLE = f"""
WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(CAST(SUM(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0)))
              AS VARCHAR) AS DOUBLE) AS q
  FROM o),
dev AS (
  SELECT CAST(MAX(ABS(o.v * m.n - m.s)) AS BIGINT) AS maxdev
  FROM o CROSS JOIN mom m),
agg AS (SELECT m.n, m.s, m.q, d.maxdev FROM mom m CROSS JOIN dev d)
SELECT n, s, q, maxdev, {_GR_G} AS g_stat
FROM agg
"""


@query("q_stats_grubbs", oracle=_GRUBBS_ORACLE)
def q_stats_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs outlier statistic over order totals: G = max|x − x̄|/s,
    pivoted on exact integers — the deviation is computed as
    max|x·n − s| (one integer per row, no float mean anywhere) and
    only the final division is floating point, in pinned order.
    Degenerate inputs (n < 2 or zero variance) report NULL
    identically.  Complements q_outliers_mad: Grubbs is the
    parametric single-outlier test, MAD the robust mass screen.

    Scale: one moment aggregation + one max-deviation pass over the
    same scan (the 1-row moment scalar crossed in — the
    q_window_drawdown centering pattern)."""
    o = T(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v")
    )
    dec = F.col("v").cast("decimal(19,0)")
    mom = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(dec * dec).cast("string").cast("double").alias("q"),
    )
    dev = (
        o.crossJoin(F.broadcast(mom.select("n", "s")))
        .agg(
            F.max(F.expr("ABS(v * n - s)")).cast("long").alias("maxdev")
        )
    )
    agg = mom.crossJoin(dev)
    return agg.select("n", "s", "q", "maxdev", F.expr(_GR_G).alias("g_stat"))


# ------------------------------------------------------------------
# Friedman test (blocks = users, treatments = 3 event types)
# ------------------------------------------------------------------

_FR_TYPES = ["click", "view", "purchase"]


_FR_K = len(_FR_TYPES)


def _fr_rank(j: int) -> str:
    """Doubled midrank of x{j} among (x1, x2, x3): 2·(#less) +
    (#ties incl self) + 1 — unrolled comparisons, exact int64."""
    others = [i for i in range(1, _FR_K + 1) if i != j]
    less = " + ".join(
        f"CASE WHEN x{i} < x{j} THEN 1 ELSE 0 END" for i in others
    )
    ties = " + ".join(
        f"CASE WHEN x{i} = x{j} THEN 1 ELSE 0 END" for i in others
    )
    return f"(2 * ({less}) + ({ties}) + 2)"


_FR_X_COLS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS x{j + 1}"
    for j, t in enumerate(_FR_TYPES)
)


#: doubled ranks: Σdr per treatment, Σdr² per cell; with k=3 the
#: tie-corrected Friedman statistic over doubled quantities is
#: (k−1)·Σ(R'_j − n(k+1))² / (A' − n·k·(k+1)²).
_FR_NUM = (
    f"({_FR_K} - 1) * ("
    + " + ".join(
        f"(r{j} - n_users * {_FR_K + 1}) * (r{j} - n_users * {_FR_K + 1})"
        for j in range(1, _FR_K + 1)
    )
    + ")"
)


_FR_DEN = f"(a2 - n_users * {_FR_K} * {(_FR_K + 1) ** 2})"


_FRIEDMAN_ORACLE = f"""
WITH x AS (
  SELECT user_id,
         {_FR_X_COLS}
  FROM events GROUP BY user_id),
rk AS (
  SELECT {", ".join(f"{_fr_rank(j)} AS dr{j}" for j in range(1, _FR_K + 1))}
  FROM x),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         {", ".join(f"CAST(SUM(dr{j}) AS BIGINT) AS r{j}" for j in range(1, _FR_K + 1))},
         CAST(SUM({" + ".join(f"dr{j} * dr{j}" for j in range(1, _FR_K + 1))})
              AS BIGINT) AS a2
  FROM rk)
SELECT n_users, r1, r2, r3, a2,
       CAST({_FR_NUM} AS BIGINT) AS f_num,
       CAST({_FR_DEN} AS BIGINT) AS f_den,
       CASE WHEN {_FR_DEN} = 0 THEN NULL
            ELSE CAST({_FR_NUM} AS DOUBLE) / CAST({_FR_DEN} AS DOUBLE) END
         AS friedman_stat
FROM agg
"""


@query("q_stats_friedman", oracle=_FRIEDMAN_ORACLE)
def q_stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman within-block rank test: does each user (block) rank
    the three event types (treatments) by activity the same way?
    Ranks are DOUBLED midranks computed by unrolled pairwise
    comparisons inside each block (k = 3 → two comparisons per cell,
    pure codegen CASE arithmetic — no window, no sort), so the rank
    sums R'_j, the squared-rank total A', and the tie-corrected
    statistic (k−1)·Σ(R'_j − n(k+1))²/(A' − nk(k+1)²) pivot on exact
    int64; the final division ships as exact (num, den) plus the
    double.  Fully-tied data (every user equal counts on all three)
    zeroes the denominator and reports NULL identically.

    int64 bounds (round-10 overflow audit): per-block doubled ranks
    are ≤ 2k = 6, so A' ≤ 36n and the rank sums R'_j ≤ 6n are linear
    in block count; the only QUADRATIC term is the 1-row pivot
    f_num = (k−1)·Σ(R'_j − 4n)² ≤ 24n² — exact int64 to n ≈ 6.2e8
    blocks (tests/test_overflow_census.py pins the >2M-block case),
    past which the remedy is DECIMAL(38,0)/HUGEINT widening of the
    two pivot columns — mechanical, since every operand is already a
    1-row integer.

    Scale: one (user, 3-count) aggregation then one 1-row combine —
    both map-side-combined, the q_stats_cochran_q shape with ranks
    instead of indicators."""
    ev = T(spark, sf_dir, "events")
    x = ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"x{j + 1}")
            for j, t in enumerate(_FR_TYPES)
        ]
    )
    rk = x.select(
        *[
            F.expr(_fr_rank(j)).alias(f"dr{j}")
            for j in range(1, _FR_K + 1)
        ]
    )
    agg = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        *[
            F.sum(f"dr{j}").cast("long").alias(f"r{j}")
            for j in range(1, _FR_K + 1)
        ],
        F.sum(
            F.expr(" + ".join(f"dr{j} * dr{j}" for j in range(1, _FR_K + 1)))
        )
        .cast("long")
        .alias("a2"),
    )
    return agg.select(
        "n_users",
        "r1",
        "r2",
        "r3",
        "a2",
        F.expr(f"CAST({_FR_NUM} AS BIGINT)").alias("f_num"),
        F.expr(f"CAST({_FR_DEN} AS BIGINT)").alias("f_den"),
        F.expr(
            f"CASE WHEN {_FR_DEN} = 0 THEN NULL"
            f" ELSE CAST({_FR_NUM} AS DOUBLE) / CAST({_FR_DEN} AS DOUBLE) END"
        ).alias("friedman_stat"),
    )


# ------------------------------------------------------------------
# Wilson 95% score interval per event type
# ------------------------------------------------------------------

_BC_THRESH = 2.5  # conversion: value > threshold


_BC_Z = 1.96


#: Wilson bounds as ONE pinned double expression over (x, n):
#: (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
_BC_P = "(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"


_BC_Z2N = f"({_BC_Z!r} * {_BC_Z!r} / CAST(n AS DOUBLE))"


_BC_RAD = (
    f"({_BC_Z!r} * SQRT({_BC_P} * (1.0 - {_BC_P}) / CAST(n AS DOUBLE)"
    f" + {_BC_Z!r} * {_BC_Z!r}"
    f" / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
)


_BC_LO = f"(({_BC_P} + {_BC_Z2N} / 2.0 - {_BC_RAD}) / (1.0 + {_BC_Z2N}))"


_BC_HI = f"(({_BC_P} + {_BC_Z2N} / 2.0 + {_BC_RAD}) / (1.0 + {_BC_Z2N}))"


_BINCI_ORACLE = f"""
WITH c AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value > {_BC_THRESH!r} THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1)
SELECT event_type, n, x,
       CAST((1000000 * x) // n AS BIGINT) AS p_ppm,
       {_BC_LO} AS wilson_lo,
       {_BC_HI} AS wilson_hi
FROM c ORDER BY event_type
"""


@query("q_stats_binom_ci", oracle=_BINCI_ORACLE)
def q_stats_binom_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for the per-event-type conversion
    rate (value > 2.5): the interval the A/B dashboards of
    q_stats_two_proportion should draw as error bars — better-behaved
    than the Wald interval near 0/1 and at small n.  Counts are exact
    int64; the point estimate ships in exact ppm; the two bounds are
    single pinned-order double expressions over (x, n), so they
    hash-match bit-for-bit.

    Scale: one map-side-combined aggregation keyed by the bounded
    event-type domain."""
    ev = T(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") > _BC_THRESH, 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    return c.select(
        "event_type",
        "n",
        "x",
        F.expr("CAST((1000000 * x) DIV n AS BIGINT)").alias("p_ppm"),
        F.expr(_BC_LO).alias("wilson_lo"),
        F.expr(_BC_HI).alias("wilson_hi"),
    ).orderBy("event_type")


# ------------------------------------------------------------------
# Paired sign test on early/late month-half spend
# ------------------------------------------------------------------

_SIGN_Z = (
    "CASE WHEN n_pos + n_neg = 0 THEN NULL ELSE "
    "(CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))"
    " / SQRT(CAST(n_pos + n_neg AS DOUBLE)) END"
)


_SIGN_ORACLE = f"""
WITH pairs AS (
  SELECT user_id,
         SUM(CASE WHEN day(ts) <= 15
             THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
             ELSE 0 END) AS a,
         SUM(CASE WHEN day(ts) > 15
             THEN CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
             ELSE 0 END) AS b
  FROM events GROUP BY user_id),
agg AS (
  SELECT CAST(SUM(CASE WHEN b > a THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN b < a THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(SUM(CASE WHEN b = a THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
  FROM pairs)
SELECT n_pos, n_neg, n_tie,
       CAST(CASE WHEN n_pos + n_neg = 0 THEN NULL
            ELSE (1000000 * n_pos) // (n_pos + n_neg) END AS BIGINT)
         AS pos_ppm,
       {_SIGN_Z} AS z_stat
FROM agg
"""


@query("q_stats_sign_test", oracle=_SIGN_ORACLE)
def q_stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on the q_stats_wilcoxon_signed pairing (per-
    user early vs late month-half spend): counts of positive/negative
    differences (ties reported, excluded per the classical
    procedure), the positive share in exact ppm, and the normal-
    approximation z = (n⁺ − n⁻)/√(n⁺ + n⁻) as one pinned double.
    The sign test drops even Wilcoxon's symmetry assumption —
    the right default when the paired differences are skewed.

    Scale: one (user) aggregation + one 1-row combine, both
    map-side-combined."""
    ev = T(spark, sf_dir, "events")
    micros = F.expr("CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)")
    pairs = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("event_ts") <= 15, micros).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when(F.dayofmonth("event_ts") > 15, micros).otherwise(0)
        ).alias("b"),
    )
    agg = pairs.agg(
        F.sum(F.when(F.col("b") > F.col("a"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("b") < F.col("a"), 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
        F.sum(F.when(F.col("b") == F.col("a"), 1).otherwise(0))
        .cast("long")
        .alias("n_tie"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "n_tie",
        F.expr(
            "CAST(CASE WHEN n_pos + n_neg = 0 THEN NULL"
            " ELSE (1000000 * n_pos) DIV (n_pos + n_neg) END AS BIGINT)"
        ).alias("pos_ppm"),
        F.expr(_SIGN_Z).alias("z_stat"),
    )


# ------------------------------------------------------------------
# Hartley's Fmax across the five order priorities
# ------------------------------------------------------------------

_FM_GRP = (
    "CASE "
    + " ".join(
        f"WHEN o_orderpriority = '{p}' THEN {i + 1}"
        for i, p in enumerate(_PRIORITIES)
    )
    + " END"
)


#: per-group sample variance as a pinned double from the exact
#: moments; degenerate groups (n < 2) report NULL and drop from the
#: max/min via the CASE ladders below.
_FM_VAR = {
    i: (
        f"CASE WHEN n{i} < 2 THEN NULL ELSE "
        f"(CAST(q{i} AS DOUBLE) - CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE)"
        f" / CAST(n{i} AS DOUBLE)) / (CAST(n{i} AS DOUBLE) - 1.0) END"
    )
    for i in range(1, 6)
}


_FM_VMAX = "GREATEST(" + ", ".join(f"v{i}" for i in range(1, 6)) + ")"


_FM_VMIN = "LEAST(" + ", ".join(f"v{i}" for i in range(1, 6)) + ")"


_FM_MOM_COLS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN grp = {i} THEN 1 ELSE 0 END) AS BIGINT) AS n{i},"
    f" CAST(SUM(CASE WHEN grp = {i} THEN v ELSE 0 END) AS BIGINT) AS s{i},"
    f" CAST(CAST(SUM(CASE WHEN grp = {i} THEN CAST(v AS HUGEINT) * v"
    f" ELSE 0 END) AS VARCHAR) AS DOUBLE) AS q{i}"
    for i in range(1, 6)
)


_FMAX_ORACLE = f"""
WITH o AS (
  SELECT {_FM_GRP} AS grp,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
mom AS (
  SELECT {_FM_MOM_COLS}
  FROM o WHERE grp IS NOT NULL),
vars_ AS (
  SELECT {", ".join(f"{_FM_VAR[i]} AS v{i}" for i in range(1, 6))},
         n1, n2, n3, n4, n5
  FROM mom)
SELECT n1, n2, n3, n4, n5, v1, v2, v3, v4, v5,
       CASE WHEN {_FM_VMIN} IS NULL OR {_FM_VMIN} = 0.0 THEN NULL
            ELSE {_FM_VMAX} / {_FM_VMIN} END AS fmax
FROM vars_
"""


@query("q_stats_fmax", oracle=_FMAX_ORACLE)
def q_stats_fmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley's Fmax — the largest-to-smallest group-variance ratio
    across the five order priorities: the one-number
    homoscedasticity screen run BEFORE trusting q_stats_anova's
    pooled variance (its formal counterpart is q_stats_brown_forsythe;
    Fmax is the cheap first look).  Group variances are pinned double
    expressions over exact moments (Σv² HUGEINT/decimal string-
    pinned); GREATEST/LEAST skip NULL (degenerate) groups identically
    on both engines, and an all-degenerate or zero-variance floor
    reports NULL.

    Scale: one map-side-combined aggregation over the fact scan —
    the q_stats_anova 1-row shape."""
    o = T(spark, sf_dir, "orders").select(
        F.expr(_FM_GRP).alias("grp"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    ).where(F.col("grp").isNotNull())
    dec = F.col("v").cast("decimal(19,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    mom = o.agg(
        *[
            x
            for i in range(1, 6)
            for x in (
                F.sum(F.when(F.col("grp") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"n{i}"),
                F.sum(F.when(F.col("grp") == i, F.col("v")).otherwise(0))
                .cast("long")
                .alias(f"s{i}"),
                F.sum(F.when(F.col("grp") == i, dec * dec).otherwise(zero))
                .cast("string")
                .cast("double")
                .alias(f"q{i}"),
            )
        ]
    )
    vars_ = mom.select(
        *[F.expr(_FM_VAR[i]).alias(f"v{i}") for i in range(1, 6)],
        *[f"n{i}" for i in range(1, 6)],
    )
    return vars_.select(
        "n1",
        "n2",
        "n3",
        "n4",
        "n5",
        "v1",
        "v2",
        "v3",
        "v4",
        "v5",
        F.expr(
            f"CASE WHEN {_FM_VMIN} IS NULL OR {_FM_VMIN} = 0.0 THEN NULL"
            f" ELSE {_FM_VMAX} / {_FM_VMIN} END"
        ).alias("fmax"),
    )


# ------------------------------------------------------------------
# Index of dispersion for daily event counts
# ------------------------------------------------------------------


#: overdispersed verdict at VMR > 1.5 (cross-multiplied: 2·num > 3·den)
_PD_THRESH_NUM, _PD_THRESH_DEN = 3, 2


_DISP_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {US_PER_DAY} AS di,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
b AS (SELECT MIN(di) AS lo, MAX(di) AS hi FROM daily),
spine AS (SELECT UNNEST(generate_series(lo, hi)) AS di FROM b),
series AS (
  SELECT COALESCE(d.cnt, 0) AS x
  FROM spine s LEFT JOIN daily d ON s.di = d.di),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM series),
dev AS (
  SELECT CAST(SUM(CAST((se.x * m.n - m.s) AS HUGEINT)
              * (se.x * m.n - m.s)) AS HUGEINT) AS ss
  FROM series se CROSS JOIN mom m),
agg AS (
  SELECT m.n, m.s, CAST(CAST(d.ss AS VARCHAR) AS DOUBLE) AS ss_d, d.ss
  FROM mom m CROSS JOIN dev d)
SELECT n, s,
       CAST(CASE WHEN n < 2 OR s = 0 THEN NULL
            ELSE CAST(ss AS BIGINT) // (n * (n - 1)) END AS BIGINT)
         AS var_num_scaled,
       CASE WHEN n < 2 OR s = 0 THEN NULL
            ELSE ss_d / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                         * CAST(s AS DOUBLE)) END AS vmr,
       CAST(CASE WHEN n < 2 OR s = 0 THEN NULL
            WHEN {_PD_THRESH_DEN} * CAST(ss AS BIGINT)
                 > {_PD_THRESH_NUM} * n * (n - 1) * s THEN 1 ELSE 0 END
            AS BIGINT) AS overdispersed
FROM agg
"""


@query("q_stats_poisson_dispersion", oracle=_DISP_ORACLE)
def q_stats_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) for the gap-filled
    daily event-count series — the Poisson-ness check behind every
    count-based alert threshold (a Poisson process has VMR = 1;
    VMR ≫ 1 means bursty arrivals and q_text_fano's per-term story at
    the series level).  The centered sum Σ(x·n − s)² is exact
    (HUGEINT/decimal), VMR = Σ/(n(n−1)s) is one pinned double
    division, and the overdispersion verdict (VMR > 3/2) is an exact
    integer cross-multiplication — no float ever decides the flag.
    Degenerate inputs (n < 2 or an all-zero series) report NULL.

    Scale: calendar-bounded series; the 1-row (n, s) moment scalar
    crosses into the deviation pass (the q_stats_grubbs shape)."""
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(f"(ts div 1000) div {US_PER_DAY}").alias("di")
        )
        .groupBy("di")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    spine = daily.agg(
        F.min("di").alias("lo"), F.max("di").alias("hi")
    ).select(F.explode(F.expr("sequence(lo, hi)")).alias("di"))
    series = spine.join(daily, "di", "left").select(
        F.coalesce(F.col("cnt"), F.lit(0)).alias("x")
    )
    mom = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = (
        series.crossJoin(F.broadcast(mom))
        .agg(
            F.sum(
                F.expr(
                    "CAST(x * n - s AS DECIMAL(19,0))"
                    " * CAST(x * n - s AS DECIMAL(19,0))"
                )
            ).alias("ss_dec")
        )
    )
    agg = mom.crossJoin(dev).select(
        "n",
        "s",
        F.col("ss_dec").cast("string").cast("double").alias("ss_d"),
        F.col("ss_dec").cast("long").alias("ss"),
    )
    return agg.select(
        "n",
        "s",
        F.expr(
            "CAST(CASE WHEN n < 2 OR s = 0 THEN NULL"
            " ELSE ss DIV (n * (n - 1)) END AS BIGINT)"
        ).alias("var_num_scaled"),
        F.expr(
            "CASE WHEN n < 2 OR s = 0 THEN NULL"
            " ELSE ss_d / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)"
            " * CAST(s AS DOUBLE)) END"
        ).alias("vmr"),
        F.expr(
            f"CAST(CASE WHEN n < 2 OR s = 0 THEN NULL"
            f" WHEN {_PD_THRESH_DEN} * ss"
            f" > {_PD_THRESH_NUM} * n * (n - 1) * s THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("overdispersed"),
    )


# ------------------------------------------------------------------
# Runs-up-and-down trend test on daily revenue
# ------------------------------------------------------------------

#: mean (2n−1)/3 and variance (16n−29)/90 of the run count for a
#: random sequence of n observations — pinned double z.
_RUD_Z = (
    "CASE WHEN n_eff < 2 OR 16 * n_eff - 29 <= 0 THEN NULL ELSE "
    "(CAST(runs AS DOUBLE)"
    " - (2.0 * CAST(n_eff AS DOUBLE) - 1.0) / 3.0)"
    " / SQRT((16.0 * CAST(n_eff AS DOUBLE) - 29.0) / 90.0) END"
)


_RUD_ORACLE = f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1),
d AS (
  SELECT day,
         CASE WHEN r > LAG(r) OVER (ORDER BY day) THEN 1
              WHEN r < LAG(r) OVER (ORDER BY day) THEN -1 END AS sgn
  FROM daily),
s AS (SELECT day, sgn FROM d WHERE sgn IS NOT NULL),
chg AS (
  SELECT sgn, LAG(sgn) OVER (ORDER BY day) AS prev_sgn FROM s),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) + 1 AS n_eff,
         CAST(1 + SUM(CASE WHEN prev_sgn IS NOT NULL AND sgn <> prev_sgn
                      THEN 1 ELSE 0 END) AS BIGINT) AS runs
  FROM chg)
SELECT CASE WHEN runs IS NULL THEN 0 ELSE n_eff END AS n_eff,
       COALESCE(runs, 0) AS runs,
       {_RUD_Z} AS z_stat
FROM agg
"""


@query("q_stats_runs_updown", oracle=_RUD_ORACLE)
def q_stats_runs_updown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-up-and-down trend test on the daily revenue series: count
    maximal runs of rising/falling days (flat days drop, the
    classical convention) and compare against the random-sequence
    moments E[R] = (2n−1)/3, Var[R] = (16n−29)/90 — the
    trend/oscillation detector that complements q_stats_runs'
    above/below-median form (which sees LEVEL clustering, not
    direction changes).  Run counts are exact integers from one lag
    chain; z is one pinned double expression.  Degenerate series
    (fewer than 2 direction changes possible) report NULL.

    Scale: calendar-bounded series, two lags on one sort."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )
    wl = Window.orderBy("day")
    d = daily.select(
        "day",
        F.expr(
            "CASE WHEN r > LAG(r) OVER (ORDER BY day) THEN 1"
            " WHEN r < LAG(r) OVER (ORDER BY day) THEN -1 END"
        ).alias("sgn"),
    )
    s = d.where(F.col("sgn").isNotNull())
    chg = s.select(
        "sgn", F.lag("sgn").over(wl).alias("prev_sgn"), "day"
    )
    agg = chg.agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_eff"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_sgn").isNotNull()
                    & (F.col("sgn") != F.col("prev_sgn")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("runs"),
    )
    return agg.select(
        F.expr("CASE WHEN runs IS NULL THEN 0 ELSE n_eff END").alias(
            "n_eff"
        ),
        F.coalesce(F.col("runs"), F.lit(0)).alias("runs"),
        F.expr(_RUD_Z).alias("z_stat"),
    )


# ------------------------------------------------------------------
# McNemar's test on paired month-half click indicators
# ------------------------------------------------------------------

_MCN_ORACLE = """
WITH x AS (
  SELECT user_id,
         MAX(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS early,
         MAX(CASE WHEN day(ts) > 15 THEN 1 ELSE 0 END) AS late
  FROM events WHERE event_type = 'click' GROUP BY user_id),
agg AS (
  SELECT CAST(SUM(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both,
         CAST(COUNT(*) AS BIGINT) AS n_users
  FROM x)
SELECT n_users, n_both, b, c,
       CAST(CASE WHEN b + c = 0 THEN NULL
            ELSE (1000000 * (b - c) * (b - c)) // (b + c) END AS BIGINT)
         AS chisq_micros,
       CASE WHEN b + c = 0 THEN NULL
            ELSE CAST((b - c) * (b - c) AS DOUBLE) / CAST(b + c AS DOUBLE)
            END AS chisq
FROM agg
"""


@query("q_stats_mcnemar", oracle=_MCN_ORACLE)
def q_stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary change: did each user click in
    the first month-half vs the second?  Only the DISCORDANT pairs
    (b = early-only, c = late-only) carry information — χ² =
    (b−c)²/(b+c), shipped both as the exact integer micro-rational
    and the pinned double; concordant users are reported but never
    enter the statistic.  Completes the paired family:
    q_stats_sign_test compares paired VALUES, McNemar paired
    INDICATORS.  No discordant pairs reports NULL identically.

    Scale: one (user) max-pivot plus one 1-row combine, both
    map-side-combined."""
    ev = T(spark, sf_dir, "events").where(F.col("event_type") == "click")
    x = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.dayofmonth("event_ts") <= 15, 1).otherwise(0)
        ).alias("early"),
        F.max(
            F.when(F.dayofmonth("event_ts") > 15, 1).otherwise(0)
        ).alias("late"),
    )
    agg = x.agg(
        F.sum(F.when((F.col("early") == 1) & (F.col("late") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("early") == 0) & (F.col("late") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("early") == 1) & (F.col("late") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    return agg.select(
        "n_users",
        "n_both",
        "b",
        "c",
        F.expr(
            "CAST(CASE WHEN b + c = 0 THEN NULL"
            " ELSE (1000000 * (b - c) * (b - c)) DIV (b + c) END AS BIGINT)"
        ).alias("chisq_micros"),
        F.expr(
            "CASE WHEN b + c = 0 THEN NULL"
            " ELSE CAST((b - c) * (b - c) AS DOUBLE)"
            " / CAST(b + c AS DOUBLE) END"
        ).alias("chisq"),
    )


# ------------------------------------------------------------------
# Cohen's kappa between two deterministic quality raters
# ------------------------------------------------------------------

#: rater A: document long enough (>= 20 tokens); rater B: enough
#: stopword glue (>= 3 hits of a tiny literal list) — two cheap
#: quality screens whose AGREEMENT is the meta-signal
_KAPPA_STOPWORDS = ["the", "and", "a", "of", "to"]


_KAPPA_MIN_TOKENS = 20


_KAPPA_MIN_HITS = 3


_KAPPA_SW_SQL = ", ".join(f"'{w}'" for w in _KAPPA_STOPWORDS)


_KAPPA_ORACLE = f"""
WITH r AS (
  SELECT CASE WHEN length(regexp_extract_all(text, '[^ ]+'))
              >= {_KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END AS ra,
         CASE WHEN len(list_filter(string_split(lower(text), ' '),
              t -> list_contains([{_KAPPA_SW_SQL}], t)))
              >= {_KAPPA_MIN_HITS} THEN 1 ELSE 0 END AS rb
  FROM documents),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n11,
         CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n10,
         CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n01,
         CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n00
  FROM r)
SELECT n, n11, n10, n01, n00,
       CAST(CASE WHEN n * n - ((n11 + n10) * (n11 + n01)
                 + (n01 + n00) * (n10 + n00)) = 0 THEN NULL
            WHEN n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
                 + (n01 + n00) * (n10 + n00)) >= 0
              THEN (1000000 * (n * (n11 + n00) - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00))))
                   // (n * n - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)))
            ELSE -((1000000 * (((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)) - n * (n11 + n00)))
                   // (n * n - ((n11 + n10) * (n11 + n01)
                   + (n01 + n00) * (n10 + n00)))) END AS BIGINT)
         AS kappa_ppm
FROM agg
"""


@query("q_stats_kappa", oracle=_KAPPA_ORACLE)
def q_stats_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ agreement between two deterministic document-quality
    raters (a length screen and a stopword-glue screen): κ =
    (pₒ − pₑ)/(1 − pₑ) cross-multiplied into ONE sign-aware integer
    ppm — numerator N·(n₁₁+n₀₀) − Σ marginal products, denominator
    N² − Σ marginal products — so the chance-corrected agreement is
    hash-exact with no float probability anywhere.  κ near 0 means
    the two screens fire independently (keep both); κ near 1 means
    one is redundant.  Degenerate marginals (pₑ = 1) report NULL.

    Scale: two map-only indicator expressions into a 1-row combine —
    no shuffle wider than the final aggregate; marginal products stay
    in int64 to ~3e9 docs, past which the DECIMAL string-pin applies."""
    d = T(spark, sf_dir, "documents")
    sw_array = ", ".join(f"'{w}'" for w in _KAPPA_STOPWORDS)
    r = d.select(
        F.expr(
            f"CASE WHEN size(regexp_extract_all(text, '[^ ]+', 0))"
            f" >= {_KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END"
        ).alias("ra"),
        F.expr(
            f"CASE WHEN size(filter(split(lower(text), ' '),"
            f" t -> array_contains(array({sw_array}), t)))"
            f" >= {_KAPPA_MIN_HITS} THEN 1 ELSE 0 END"
        ).alias("rb"),
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    pe_prod = (
        "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    )
    return agg.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            f"CAST(CASE WHEN n * n - {pe_prod} = 0 THEN NULL"
            f" WHEN n * (n11 + n00) - {pe_prod} >= 0"
            f"   THEN (1000000 * (n * (n11 + n00) - {pe_prod}))"
            f"        DIV (n * n - {pe_prod})"
            f" ELSE -((1000000 * ({pe_prod} - n * (n11 + n00)))"
            f"        DIV (n * n - {pe_prod})) END AS BIGINT)"
        ).alias("kappa_ppm"),
    )
