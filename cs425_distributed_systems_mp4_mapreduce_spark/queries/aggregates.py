"""Aggregation surface: grouping sets, cubes and rollups, pivot and
unpivot, exact and sampled percentiles, concentration (Gini, Lorenz,
HHI, Pareto), robust means and the Pareto skyline.

Percentile-style queries come in pairs: the declared form and a
``_twopass`` twin that ranks through a bounded bucket census
(``operators/skew.twopass_rank``) under the SAME oracle, so the
scale-safe decomposition is certified equal to the naive global rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import dsum, o_dsum
from ..operators.sampling import KNUTH
from ..operators.skew import ntile_expr, twopass_rank
from ..registry import query
from ..sources.derived import CENTS, CENTS_BUCKET, US_PER_DAY, US_PER_HOUR, events_us
from ..sources.tables import table as T


@query(
    "q_rollup_time",
    oracle="""
    SELECT epoch_us(ts) // 86400000000 AS day,
           (epoch_us(ts) // 3600000000) % 24 AS hour,
           CAST(GROUPING(epoch_us(ts) // 86400000000) AS BIGINT) AS g_day,
           CAST(GROUPING((epoch_us(ts) // 3600000000) % 24) AS BIGINT) AS g_hour,
           COUNT(*) AS n, {sv}
    FROM events
    GROUP BY ROLLUP(day, hour)
    ORDER BY g_day, g_hour, day, hour
    """.format(sv=o_dsum("value", "sum_value")),
)
def q_rollup_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy rollup (hypertable continuous-aggregate shape):
    hour-of-day within day within grand total, in ONE aggregation pass
    — GROUP BY ROLLUP(day, hour) with GROUPING() markers so a
    subtotal's NULL is distinguishable.  This is the materialized
    multi-granularity rollup a time-series store maintains
    incrementally; at 100 TB the single-pass formulation matters
    because each extra granularity is one more grouping-set expansion,
    not one more scan."""
    e = events_us(spark, sf_dir).select(
        F.expr(f"ts_us DIV {US_PER_DAY}").alias("day"),
        F.expr(f"(ts_us DIV {US_PER_HOUR}) % 24").alias("hour"),
        "value",
    )
    return (
        e.rollup("day", "hour")
        .agg(
            F.grouping("day").cast("long").alias("g_day"),
            F.grouping("hour").cast("long").alias("g_hour"),
            F.count(F.lit(1)).alias("n"),
            dsum("value", "sum_value"),
        )
        .orderBy("g_day", "g_hour", "day", "hour")
    )


@query(
    "q_agg_bitwise",
    oracle="""
    SELECT event_type,
           bit_and(user_id) AS all_bits,
           bit_or(user_id) AS any_bits,
           bit_xor(user_id) AS parity_bits,
           bool_and(value > 5.0) AS all_gt5,
           bool_or(value > 990.0) AS any_gt990,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregate surface: BIT_AND/OR/XOR over ids
    (set-membership masks, parity checks) and BOOL_AND/BOOL_OR over
    predicates (per-group invariant checks) — the aggregates a data-
    quality layer uses to verify "every row satisfies P" without a
    second filtered pass.  All are associative + commutative, so they
    partial-aggregate map-side like any sum."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.expr("bit_and(user_id)").alias("all_bits"),
            F.expr("bit_or(user_id)").alias("any_bits"),
            F.expr("bit_xor(user_id)").alias("parity_bits"),
            F.expr("bool_and(value > 5.0)").alias("all_gt5"),
            F.expr("bool_or(value > 990.0)").alias("any_gt990"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "q_agg_listagg",
    oracle="""
    SELECT n_name,
           array_to_string(list_slice(list_sort(list(s_name)), 1, 5), ',')
             AS top_suppliers,
           COUNT(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/GROUP_CONCAT surface: per nation, the first 5 supplier
    names (sorted) joined into one string.  collect_list alone is
    NON-DETERMINISTIC under parallelism (arrival order varies by
    partitioning); sort_array before joining restores a canonical
    order — the only way string aggregation is reproducible on a
    cluster, and exactly what the ORDER BY clause of ANSI LISTAGG
    does.  Scale note: collect_list is bounded here by group size
    (suppliers per nation); unbounded groups need a pre-limit
    (WindowGroupLimit top-k) before collecting."""
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.slice(F.sort_array(F.collect_list("s_name")), 1, 5), ","
            ).alias("top_suppliers"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


@query(
    "q_agg_bitmap_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type via mergeable bitmaps:
    bucket = (user_id+1) div 32768, partial bitmap per (event_type,
    bucket) via ``bitmap_construct_agg(bitmap_bit_position(...))``,
    then Σ ``bitmap_count`` per event_type.  The +1 shift keeps ids
    strictly positive (bit_position is 1-based; testdata user_ids start
    at 0) and is bijective, so the distinct count is unchanged.  The
    oracle is the plain COUNT(DISTINCT): the bitmap path must be
    exactly equivalent, not approximately.

    Scale: COUNT(DISTINCT) at 100 TB is a two-shuffle expand-and-dedup;
    HLL is one-shuffle but approximate.  Fixed-width bitmaps
    (``bitmap_construct_agg``) are EXACT and mergeable in one shuffle —
    partial bitmaps OR together associatively exactly like partial sums
    (tests/test_analytics_r4b.py splits the table in half to prove it).
    This is the roaring-bitmap pattern ClickHouse/Druid use for exact
    distinct users."""
    e = T(spark, sf_dir, "events").withColumn("uid", F.col("user_id") + 1)
    partial = e.groupBy(
        "event_type", F.expr("bitmap_bucket_number(uid)").alias("bucket")
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(uid))").alias("bm"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users"),
            F.sum("n").alias("n_events"),
        )
        .orderBy("event_type")
    )


_SAMPLE_PCT = 10


@query(
    "q_agg_percentile_sampled",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, l_quantity
      FROM lineitem
      WHERE ((l_orderkey * 8 + l_linenumber) * {KNUTH}) % 100 < {_SAMPLE_PCT}
    )
    SELECT l_returnflag,
           COUNT(*) AS n_sampled,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS DOUBLE) AS q25_est,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.50) AS DOUBLE) AS q50_est,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS DOUBLE) AS q75_est
    FROM s
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_percentile_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile ESTIMATION over a deterministic 10% hash sample —
    the third point on the quantile cost curve beside the exact sort
    (q_agg_percentile) and the mergeable sketch
    (q_agg_approx_percentile, rows-only): at 100 TB the sample form
    shuffles 10% of the values for an O(1/sqrt(0.1·n)) rank error,
    and hash membership makes the whole estimate reproducible —
    which neither random sampling nor t-digest offers."""
    li = T(spark, sf_dir, "lineitem")
    row_key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    s = li.filter(F.pmod(row_key * KNUTH, F.lit(100)) < _SAMPLE_PCT)
    q = F.expr("percentile(CAST(l_quantity AS DOUBLE), array(0.25, 0.5, 0.75))")
    return (
        s.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            q.getItem(0).alias("q25_est"),
            q.getItem(1).alias("q50_est"),
            q.getItem(2).alias("q75_est"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_percentile_disc",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, list_sort(list(l_quantity)) AS v
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(len(v) AS BIGINT) AS n,
           v[CAST(ceil(0.25 * len(v)) AS BIGINT)] AS p25,
           v[CAST(ceil(0.50 * len(v)) AS BIGINT)] AS p50,
           v[CAST(ceil(0.90 * len(v)) AS BIGINT)] AS p90
    FROM s ORDER BY l_returnflag
    """,
)
def q_agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (order statistics: the smallest value with
    cumulative rank >= p — always an actual data value, unlike the
    interpolating q_agg_percentile).  Both sides spell out the same
    element_at(sorted, ceil(p*n)) definition rather than trusting the
    engines' percentile_disc variants to agree on rank rounding.
    Scale: in-group sort of the grouped values — same shuffle shape
    as the exact continuous percentile; the sampled/sketch forms are
    the scale path when epsilon is acceptable."""
    li = T(spark, sf_dir, "lineitem")
    v = F.array_sort(F.collect_list("l_quantity"))

    def at(p: float, name: str):
        return F.element_at(
            F.col("v"), F.ceil(F.lit(p) * F.size("v")).cast("int")
        ).alias(name)

    return (
        li.groupBy("l_returnflag")
        .agg(v.alias("v"))
        .select(
            "l_returnflag",
            F.size("v").cast("long").alias("n"),
            at(0.25, "p25"),
            at(0.50, "p50"),
            at(0.90, "p90"),
        )
        .orderBy("l_returnflag")
    )


def _cents_bucket_census(o: DataFrame) -> DataFrame:
    """Pass A of the two-pass percentiles: ``(bucket, cnt, cum)``, the
    row count per ``cents`` bucket and its running total."""
    return (
        o.groupBy(F.expr(f"cents DIV {CENTS_BUCKET}").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )


@query(
    "q_agg_percentile_twopass",
    oracle=f"""
    WITH t AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    nk AS (SELECT COUNT(*) AS n, (9 * COUNT(*) + 9) // 10 AS k FROM t),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM t)
    SELECT nk.n, nk.k, r.cents AS p90_cents
    FROM r, nk WHERE r.rn = nk.k
    """,
)
def q_agg_percentile_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global p90 (discrete, 1-based rank k = ceil(0.9·n)) of
    order totals WITHOUT a global sort: pass A buckets cents into
    fixed 2^16-wide histogram cells and walks the (metadata-scale)
    cumulative counts to the cell containing rank k; pass B sorts only
    that cell's rows and picks the residual offset.  The oracle is the
    independent naive form — a full row_number() sort — so the hash
    match proves the two-pass refinement is exact, rank arithmetic
    included.

    Scale: pass A is one map-side-combined agg to ~10³ groups; the
    1-row (bucket, offset) selection broadcasts into pass B, whose
    filter prunes the scan to ~n/10³ rows before the only sort.  The
    single-partition row_number over one cell is bounded by the cell
    population; for a pathological value distribution you recurse the
    same two passes inside the cell (same arithmetic, one more scan).
    Values are exact 2-decimal → integer cents throughout."""
    o = T(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents")
    )
    nk = o.agg(F.count(F.lit(1)).alias("n")).select(
        "n", F.expr("(9 * n + 9) DIV 10").alias("k")
    )
    buckets = _cents_bucket_census(o)
    sel = (
        buckets.crossJoin(F.broadcast(nk))
        .where("cum >= k AND cum - cnt < k")
        .select("bucket", F.expr("k - (cum - cnt)").alias("off"), "n", "k")
    )
    rn = F.row_number().over(Window.orderBy("cents"))
    return (
        o.withColumn("bucket", F.expr(f"cents DIV {CENTS_BUCKET}"))
        .join(F.broadcast(sel), "bucket")
        .withColumn("rn", rn)
        .where(F.col("rn") == F.col("off"))
        .select("n", "k", F.col("cents").alias("p90_cents"))
    )


@query(
    "q_agg_deciles_twopass",
    oracle="""
    WITH t AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    nk AS (SELECT COUNT(*) AS n FROM t),
    ks AS (SELECT i AS decile, (i * nk.n + 9) // 10 AS k
           FROM generate_series(1, 9) g(i), nk),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM t)
    SELECT ks.decile, ks.k, r.cents AS value_cents
    FROM ks JOIN r ON r.rn = ks.k
    ORDER BY ks.decile
    """,
)
def q_agg_deciles_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL NINE deciles (discrete, rank k_i = ceil(i·n/10)) in the SAME
    two passes as q_agg_percentile_twopass — the production argument
    for histogram-refine: the pass-A histogram is computed once and
    amortizes over every requested quantile, the 9 (bucket, offset)
    selections broadcast together, and pass B's row_number partitions
    BY (BUCKET, DECILE): the broadcast join with `sel` duplicates a
    bucket's rows once per decile that landed in it, so ranking must
    run per (bucket, decile) copy — partitioning by bucket alone ranks
    over the duplicated set and returns wrong rows whenever two deciles
    share a 65536-cent bucket (pinned by
    tests/test_analytics_r8.py::test_deciles_twopass_colliding_bucket).
    Unlike the single-percentile form there is no global-ordering
    window anywhere — every stage is partitioned.
    Oracle = the naive full sort indexed at all nine ranks.

    Scale: pass A one map-side-combined agg (~10³ groups); pass B
    scans only rows in at most 9 buckets (~9n/10³), sorted per bucket
    in parallel.  Adding quantiles is free until the bucket set
    grows."""
    o = T(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents")
    )
    ks = (
        o.agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.explode(F.expr("sequence(1L, 9L)")).alias("decile"),
        )
        .select("decile", F.expr("(decile * n + 9) DIV 10").alias("k"))
    )
    buckets = _cents_bucket_census(o)
    sel = (
        buckets.crossJoin(F.broadcast(ks))
        .where("cum >= k AND cum - cnt < k")
        .select("decile", "k", "bucket", F.expr("k - (cum - cnt)").alias("off"))
    )
    rn = F.row_number().over(
        Window.partitionBy("bucket", "decile").orderBy("cents")
    )
    return (
        o.withColumn("bucket", F.expr(f"cents DIV {CENTS_BUCKET}"))
        .join(F.broadcast(sel), "bucket")
        .withColumn("rn", rn)
        .where(F.col("rn") == F.col("off"))
        .select("decile", "k", F.col("cents").alias("value_cents"))
        .orderBy("decile")
    )


# ------------------------------------------------------------------
# Weighted median (quantity-weighted price per return flag)
# ------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem),
pervalue AS (
  SELECT flag, cents, CAST(SUM(w) AS BIGINT) AS w
  FROM v GROUP BY flag, cents),
tot AS (SELECT flag, CAST(SUM(w) AS BIGINT) AS total_w FROM pervalue
        GROUP BY flag),
cum AS (
  SELECT flag, cents, w,
         CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cumw
  FROM pervalue)
SELECT cum.flag, tot.total_w,
       CAST(MIN(cum.cents) AS BIGINT) AS wmedian_cents
FROM cum JOIN tot USING (flag)
WHERE 2 * cum.cumw >= tot.total_w
GROUP BY cum.flag, tot.total_w
ORDER BY cum.flag
"""


@query("q_agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median — quantity-weighted extendedprice per return
    flag (the lower weighted median: smallest value whose cumulative
    weight reaches half the total), the robust price statistic a
    marketplace reports when line items carry different volumes.
    Exact and integer throughout: per-DISTINCT-value weight sums, a
    cumulative-weight window over the VALUE DOMAIN (bounded by the
    price range in cents, not the row count — the q_stats_ks_drift /
    q_agg_percentile_twopass domain-bounded argument), and an integer
    2·cumw ≥ W threshold, so the selected cent value hash-matches.

    Scale: one map-side-combined agg collapses the corpus to
    (flag, value) weights; the window and the threshold scan run over
    that bounded census."""
    li = T(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    pervalue = v.groupBy("flag", "cents").agg(F.sum("w").cast("long").alias("w"))
    tot = pervalue.groupBy("flag").agg(F.sum("w").cast("long").alias("total_w"))
    cum = pervalue.withColumn(
        "cumw",
        F.sum("w")
        .over(
            Window.partitionBy("flag")
            .orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long"),
    )
    return (
        cum.join(tot, "flag")
        .where(2 * F.col("cumw") >= F.col("total_w"))
        .groupBy("flag", "total_w")
        .agg(F.min("cents").cast("long").alias("wmedian_cents"))
        .select("flag", "total_w", "wmedian_cents")
        .orderBy("flag")
    )


# ------------------------------------------------------------------
# Gini coefficient (revenue concentration)
# ------------------------------------------------------------------

def _cents_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, cents): each customer's order total in integer cents."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.sum(F.expr(CENTS)).cast("long").alias("cents")
    )


def _gini(ranked: DataFrame) -> DataFrame:
    """G = 2·Σi·x/(n·Σx) − (n+1)/n from per-customer ``cents`` and
    their 1-based rank ``i``."""
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("long").alias("weighted"),
    )
    return s.select(
        "n",
        "total",
        (
            F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n").cast("double") + 1) / F.col("n")
        ).alias("gini"),
    )


_GINI_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_custkey) AS i
  FROM per_cust),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS total,
         CAST(SUM(i * cents) AS BIGINT) AS weighted
  FROM ranked)
SELECT n, total,
       CAST(2 AS DOUBLE) * weighted / (n * total)
         - (CAST(n AS DOUBLE) + 1) / n AS gini
FROM s
"""


@query("q_agg_gini", oracle=_GINI_ORACLE)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration
    statistic behind "what share of corpus mass sits in the head"
    decisions (skew remediation, dedup priorities, mixture caps).
    Exact: integer-cent customer totals, the classic sorted-rank
    identity G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n with Σi·x an exact int64
    (rank ties broken totally by (cents, custkey)), and the two final
    divisions on hash-attested integers — bit-identical cross-engine.

    Scale note: the rank window here runs over the per-CUSTOMER table
    (one row per key after the map-side-combined agg); at billions of
    keys use q_agg_gini_twopass (below), the
    IMPLEMENTED histogram decomposition hash-proven against this very
    oracle — Σi·x bucket-by-bucket with only partitioned windows."""
    per_cust = _cents_per_customer(spark, sf_dir)
    ranked = per_cust.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .cast("long")
        .alias("i"),
    )
    return _gini(ranked)


@query("q_agg_gini_twopass", oracle=_GINI_ORACLE)
def q_agg_gini_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient with NO global-rank window — the
    100 TB form of q_agg_gini (same oracle, so the driver hash
    certifies the decomposition): Σi·x decomposes over the cents
    histogram as Σ_b (cum_before_b · mass_b + Σ_j j·x_j within b),
    i.e. the global rank from :func:`twopass_rank` feeds the same
    Σ rank·cents, but every ordered window runs over either the
    bounded bucket census or a single bucket's rows.

    Scale: one map-side-combined per-customer agg, one census agg,
    one partitioned window — the sort is per-bucket parallel, never a
    single-partition global sort."""
    per_cust = _cents_per_customer(spark, sf_dir)
    ranked = twopass_rank(per_cust, "cents", "o_custkey", CENTS_BUCKET, "i")
    return _gini(ranked)


# ------------------------------------------------------------------
# Lorenz curve (cumulative revenue share by customer decile)
# ------------------------------------------------------------------

_LORENZ_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey, CAST(SUM({CENTS}) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM per_cust),
d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM ranked GROUP BY decile),
t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM d)
SELECT d.decile, d.n_cust, d.cents,
       CAST(CAST(SUM(d.cents) OVER (ORDER BY d.decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            * 1000000 // t.total AS BIGINT) AS cum_share_ppm
FROM d, t ORDER BY d.decile
"""


@query("q_agg_lorenz", oracle=_LORENZ_ORACLE)
def q_agg_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve — the concentration picture behind q_agg_gini
    ("the bottom 10% of customers hold x ppm of revenue"): customers
    decile-binned by total spend (total tie-break), cumulative revenue
    share per decile in integer ppm.

    Scale: the decile comes from twopass_rank + closed-form ntile
    (oracle: the naive global ntile — hash-equality IS the
    decomposition proof, the q_agg_gini_twopass discipline); the
    cumulative share window runs over the 10-row decile census."""
    per_cust = _cents_per_customer(spark, sf_dir)
    ranked = twopass_rank(per_cust, "cents", "o_custkey", CENTS_BUCKET, "rk")
    n1 = per_cust.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = (
        ranked.crossJoin(F.broadcast(n1))
        .withColumn("decile", F.expr(ntile_expr("rk", "n", 10)))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    t = d.agg(F.sum("cents").cast("long").alias("total"))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        d.crossJoin(F.broadcast(t))
        .withColumn("cum", F.sum("cents").over(wc).cast("long"))
        .select(
            "decile",
            "n_cust",
            "cents",
            F.expr("cum * 1000000 DIV total").alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


# ------------------------------------------------------------------
# Time-weighted average (irregular-series feature aggregate)
# ------------------------------------------------------------------

_TWA_ORACLE = """
WITH p AS (
  SELECT user_id, epoch_ms(ts) AS ms, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
seg AS (
  SELECT user_id, cents,
         LEAD(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms
           AS dt_ms
  FROM p),
s AS (
  SELECT user_id,
         CAST(SUM(cents * dt_ms) AS BIGINT) AS num,
         CAST(SUM(dt_ms) AS BIGINT) AS den,
         CAST(COUNT(*) AS BIGINT) AS n_segments
  FROM seg WHERE dt_ms IS NOT NULL AND dt_ms > 0
  GROUP BY user_id)
SELECT user_id, num, den, n_segments,
       CAST(num AS DOUBLE) / den AS twa_cents
FROM s ORDER BY user_id
"""


@query("q_agg_time_weighted", oracle=_TWA_ORACLE)
def q_agg_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average purchase value per user — the correct
    mean for irregularly-sampled series (a value that persisted 10
    days weighs 10× one replaced after a day): each value holds until
    the user's next purchase (LEAD), weight = the holding interval in
    ms.  cents ≤ ~10⁵ × interval-ms ≤ ~10⁹ keeps every product under
    10¹⁴ and per-user sums exact int64 (ms, not µs, exactly for this
    bound); num/den are hash-attested, the division deterministic.

    Scale: one LEAD window + one agg on the same (user, time)
    exchange."""
    e = T(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    p = e.select(
        "user_id",
        F.expr("ts div 1000000").alias("ms"),
        "event_id",
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    seg = p.select(
        "user_id", "cents", (F.lead("ms").over(w) - F.col("ms")).alias("dt_ms")
    )
    return (
        seg.where(F.col("dt_ms").isNotNull() & (F.col("dt_ms") > 0))
        .groupBy("user_id")
        .agg(
            F.sum(F.col("cents") * F.col("dt_ms")).cast("long").alias("num"),
            F.sum("dt_ms").cast("long").alias("den"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
        )
        .select(
            "user_id",
            "num",
            "den",
            "n_segments",
            (F.col("num").cast("double") / F.col("den")).alias("twa_cents"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------------------
# Skyline / Pareto frontier (dominance query)
# ------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH p AS (
  SELECT p_partkey,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS size
  FROM part)
SELECT p_partkey, price_cents, size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_cents <= a.price_cents AND b.size >= a.size
    AND (b.price_cents < a.price_cents OR b.size > a.size))
ORDER BY price_cents, size, p_partkey
"""


@query("q_skyline_pareto", oracle=_SKYLINE_ORACLE)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier) of parts — cheapest-for-the-size
    dominance (min price, max size), the classic preference query
    (Börzsönyi et al., ICDE'01).  The oracle is the quadratic NOT
    EXISTS definition; the Spark form is the linear sort-order sweep:
    order by (price asc, size desc) and keep a row iff its size
    strictly exceeds the running size-max over all STRICTLY cheaper
    rows (equal-price groups compare only against cheaper prices, so
    per-price maxima join the frontier together — and duplicate
    (price, size) points are all kept, matching the NOT EXISTS
    semantics where an identical twin does not dominate).

    Scale note: the sweep's window is a global order over the PART
    dimension (bounded); at fact scale the skyline distributes by
    grid partitioning (per-cell local skyline → merge the bounded
    candidate set), the documented decomposition for >10⁸ rows."""
    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr("CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)").alias(
            "price_cents"
        ),
        F.col("p_size").cast("long").alias("size"),
    )
    # per-price census first so the global window runs over the
    # bounded (price, max size) table, not the row table
    per_price = p.groupBy("price_cents").agg(F.max("size").alias("max_size"))
    wprev = (
        Window.orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = per_price.withColumn(
        "prev_max", F.max("max_size").over(wprev)
    )
    return (
        p.join(F.broadcast(frontier_prices), "price_cents")
        # dominated iff some strictly-cheaper row has size >= mine, or
        # a same-price row has size > mine
        .where(
            (F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
            & (F.col("size") == F.col("max_size"))
        )
        .select("p_partkey", "price_cents", "size")
        .orderBy("price_cents", "size", "p_partkey")
    )


# ------------------------------------------------------------------
# Tukey box-plot census (per-source document lengths)
# ------------------------------------------------------------------

_BOXPLOT_ORACLE = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents),
q AS (
  SELECT source, n,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS q1,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS med,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS q3
  FROM r GROUP BY source, n)
SELECT q.source, q.n,
       CAST(q.q1 AS BIGINT) AS q1,
       CAST(q.med AS BIGINT) AS med,
       CAST(q.q3 AS BIGINT) AS q3,
       CAST(q.q3 - q.q1 AS BIGINT) AS iqr,
       CAST(SUM(CASE WHEN 2 * d.n_chars < 2 * q.q1 - 3 * (q.q3 - q.q1)
                       OR 2 * d.n_chars > 2 * q.q3 + 3 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM q JOIN documents d USING (source)
GROUP BY q.source, q.n, q.q1, q.med, q.q3
ORDER BY q.source
"""


@query("q_agg_boxplot", oracle=_BOXPLOT_ORACLE)
def q_agg_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Tukey box-plot of document lengths — the length-
    distribution card a corpus report shows: exact DISCRETE quartiles
    (values at ranks ⌈n/4⌉, ⌈n/2⌉, ⌈3n/4⌉ — ties cannot change the
    selected VALUE), IQR, and the 1.5·IQR outlier census computed as
    2·x ≷ 2·q ± 3·iqr so the fractional fence never leaves int64.

    Scale: ranks come from a per-SOURCE partitioned window (the
    partition key is the report key — nothing global); the outlier
    pass re-joins the 1-row-per-source quartile table broadcast."""
    d = T(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    r = d.select(
        "source",
        "n_chars",
        F.row_number().over(wsrc).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("n"),
    )
    q = r.groupBy("source", "n").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("n_chars"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("n_chars"))
        ).alias("med"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(3 * n + 3) DIV 4"),
                F.col("n_chars"),
            )
        ).alias("q3"),
    )
    return (
        d.join(F.broadcast(q), "source")
        .groupBy("source", "n", "q1", "med", "q3")
        .agg(
            F.sum(
                F.when(
                    (2 * F.col("n_chars") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
                    | (2 * F.col("n_chars") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "source",
            "n",
            F.col("q1").cast("long").alias("q1"),
            F.col("med").cast("long").alias("med"),
            F.col("q3").cast("long").alias("q3"),
            (F.col("q3") - F.col("q1")).cast("long").alias("iqr"),
            "n_outliers",
        )
        .orderBy("source")
    )


# ------------------------------------------------------------------
# Herfindahl–Hirschman concentration index (exact ppb)
# ------------------------------------------------------------------

_HHI_ORACLE = """
WITH c AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(n_orders) AS BIGINT) AS total_orders,
       CAST(SUM(n_orders * n_orders) AS BIGINT) AS sum_sq,
       CAST(SUM(n_orders * n_orders) * 1000000000
            // (SUM(n_orders) * SUM(n_orders)) AS BIGINT) AS hhi_ppb
FROM c GROUP BY segment ORDER BY segment
"""


@query("q_agg_hhi", oracle=_HHI_ORACLE)
def q_agg_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of order activity per market
    segment, in exact ppb: HHI = Σ(cᵢ/N)² = Σcᵢ²/N² — 10⁹ ppb = one
    customer owns the segment, 10⁹/n = perfectly diffuse.  The
    concentration complement to q_agg_gini (inequality of a sorted
    distribution) and q_stats_skew_report (single-key hotness): HHI is
    the antitrust/market-power form.  Σcᵢ²·10⁹ stays < 2⁶³ while
    per-customer counts are < ~3000 at any segment size (bound in
    docstring ≫ the ~30 observed; past that, quantize counts or lift
    to DECIMAL(38)).

    Scale: one (segment, customer) census with map-side combine, then
    a per-segment rollup — two exchanges, both on shrinking keys."""
    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    c = (
        o.join(cust, o.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    return (
        c.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("total_orders"),
            F.sum(F.col("n_orders") * F.col("n_orders"))
            .cast("long")
            .alias("sum_sq"),
            F.expr(
                "CAST(SUM(n_orders * n_orders) * 1000000000"
                " DIV (SUM(n_orders) * SUM(n_orders)) AS BIGINT)"
            ).alias("hhi_ppb"),
        )
        .orderBy("segment")
    )


#: the cents value-domain census shared by the trimmed and winsorized
#: means: per value its count, running count ``cum`` and ``n``, with
#: the 10% tail ranks ``lo``/``hi``
_VALUE_CENSUS_SQL = """WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
c AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY v),
r AS (
  SELECT v, cnt,
         SUM(cnt) OVER (ORDER BY v) AS cum,
         SUM(cnt) OVER () AS n
  FROM c),
k AS (
  SELECT v, cnt, cum, n, n // 10 AS lo, n - n // 10 AS hi FROM r)"""


# ------------------------------------------------------------------
# Two-sided 10% trimmed mean (value-domain census, rank clamping)
# ------------------------------------------------------------------

def _value_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`_VALUE_CENSUS_SQL`'s ``k``."""
    o = T(spark, sf_dir, "orders")
    c = o.select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v")
    ).groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return c.select(
        "v",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    ).select(
        "v",
        "cnt",
        "cum",
        "n",
        F.expr("n DIV 10").alias("lo"),
        F.expr("n - n DIV 10").alias("hi"),
    )


_TRIM_ORACLE = f"""
{_VALUE_CENSUS_SQL},
kept AS (
  SELECT n, lo, hi,
         GREATEST(LEAST(cum, hi) - GREATEST(cum - cnt, lo), 0) AS keep_cnt,
         v
  FROM k)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(lo) AS BIGINT) AS n_trimmed_each_side,
       CAST(SUM(keep_cnt) AS BIGINT) AS kept_n,
       CAST(SUM(v * keep_cnt) AS BIGINT) AS kept_sum_cents,
       CAST(SUM(v * keep_cnt) * 1000 // SUM(keep_cnt) AS BIGINT)
         AS trimmed_mean_millicents
FROM kept
"""


@query("q_agg_trimmed_mean", oracle=_TRIM_ORACLE)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided 10% trimmed mean of order prices — the robust-mean
    companion to q_outliers_mad: drop the lowest and highest ⌊n/10⌋
    observations BY RANK, average the rest.  Computed entirely on the
    value-domain census: each distinct value keeps
    max(min(cum, hi) − max(cum−cnt, lo), 0) of its cnt occurrences
    (rank-interval clamping — ties that straddle a trim boundary are
    kept exactly as many times as their ranks fall inside), so no
    global sort of the fact table and no per-row rank ever
    materializes.  All int64; the mean reports in floor millicents.

    Scale: the ordered window runs over the distinct-cents census
    (the q_stats_mannwhitney/q_stats_ks_drift discipline); at 100 TB
    quantize the census to cent buckets and refine the two boundary
    buckets exactly — the q_agg_percentile_twopass machinery."""
    k = _value_census(spark, sf_dir)
    kept = k.select(
        "n",
        "lo",
        "v",
        F.greatest(
            F.least(F.col("cum"), F.col("hi"))
            - F.greatest(F.col("cum") - F.col("cnt"), F.col("lo")),
            F.lit(0),
        ).alias("keep_cnt"),
    )
    return kept.agg(
        F.max("n").cast("long").alias("n"),
        F.max("lo").cast("long").alias("n_trimmed_each_side"),
        F.sum("keep_cnt").cast("long").alias("kept_n"),
        F.sum(F.col("v") * F.col("keep_cnt"))
        .cast("long")
        .alias("kept_sum_cents"),
        F.expr(
            "CAST(SUM(v * keep_cnt) * 1000 DIV SUM(keep_cnt) AS BIGINT)"
        ).alias("trimmed_mean_millicents"),
    )


# ------------------------------------------------------------------
# Robust per-group dispersion: mean |x − median| (Brown–Forsythe
# stage-1 census)
# ------------------------------------------------------------------

_ABSDEV_ORACLE = """
WITH v AS (
  SELECT o_orderpriority AS grp,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
  FROM orders),
c AS (
  SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
r AS (
  SELECT grp, v, cnt,
         SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum,
         SUM(cnt) OVER (PARTITION BY grp) AS n
  FROM c),
med AS (
  SELECT grp,
         CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT) AS med
  FROM r GROUP BY grp),
z AS (
  SELECT v.grp, ABS(v.v - med.med) AS z, med.med
  FROM v JOIN med ON v.grp = med.grp)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(med) AS BIGINT) AS median_cents,
       CAST(SUM(z) AS BIGINT) AS sum_absdev_cents,
       CAST(SUM(z) * 1000 // COUNT(*) AS BIGINT)
         AS mean_absdev_millicents
FROM z GROUP BY grp ORDER BY grp
"""


@query("q_agg_absdev", oracle=_ABSDEV_ORACLE)
def q_agg_absdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority robust dispersion: mean |x − median| around the
    EXACT group median — the Brown–Forsythe stage-1 census (feeding
    the variance-equality test) and the outlier-insensitive scale
    estimate beside q_outliers_mad (which takes the MEDIAN of the
    deviations; the mean keeps the statistic a one-pass sum once the
    median is known).  Medians are lower-midrank selections on the
    per-group value census; deviations are exact integer cents.

    Scale: the census windows partition by GROUP over the value
    domain (q_orders_reorder_gap discipline); the ≤k-row median table
    broadcasts back onto the fact scan — two bounded exchanges."""
    o = T(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    c = v.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("grp")
    r = c.select(
        "grp",
        "v",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    med = r.groupBy("grp").agg(
        F.min(F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("v")))
        .cast("long")
        .alias("med")
    )
    z = v.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("v") - F.col("med")).alias("z"), "med"
    )
    return (
        z.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("med").cast("long").alias("median_cents"),
            F.sum("z").cast("long").alias("sum_absdev_cents"),
            F.expr(
                "CAST(SUM(z) * 1000 DIV COUNT(1) AS BIGINT)"
            ).alias("mean_absdev_millicents"),
        )
        .orderBy("grp")
    )


# ------------------------------------------------------------------
# 10% winsorized mean (clamp tails on the value-domain census)
# ------------------------------------------------------------------

_WINS_ORACLE = f"""
{_VALUE_CENSUS_SQL},
b AS (
  SELECT MAX(n) AS n, MAX(lo) AS lo, MAX(hi) AS hi,
         MIN(CASE WHEN cum >= lo + 1 THEN v END) AS lo_v,
         MIN(CASE WHEN cum >= hi THEN v END) AS hi_v,
         SUM(v * GREATEST(LEAST(cum, hi) - GREATEST(cum - cnt, lo), 0))
           AS inner_sum
  FROM k)
SELECT CAST(n AS BIGINT) AS n,
       CAST(lo_v AS BIGINT) AS lo_clamp_cents,
       CAST(hi_v AS BIGINT) AS hi_clamp_cents,
       CAST(inner_sum + lo * lo_v + (n - hi) * hi_v AS BIGINT)
         AS winsor_sum_cents,
       CAST((inner_sum + lo * lo_v + (n - hi) * hi_v) * 1000 // n
            AS BIGINT) AS winsor_mean_millicents
FROM b
"""


@query("q_agg_winsorized_mean", oracle=_WINS_ORACLE)
def q_agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided 10% WINSORIZED mean: clamp the lowest/highest ⌊n/10⌋
    observations to the boundary order statistics instead of dropping
    them (q_agg_trimmed_mean drops; winsorizing keeps n constant —
    the robust mean preferred when downstream needs the full weight).
    Boundary values are rank selections on the value-domain census
    (lo_v at rank lo+1, hi_v at rank hi); the interior keeps the same
    rank-interval clamp as the trimmed form; everything is exact
    int64 cents.

    Scale: identical shape to q_agg_trimmed_mean — the ordered window
    runs over the distinct-cents census only."""
    k = _value_census(spark, sf_dir)
    b = k.agg(
        F.max("n").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.min(
            F.when(F.col("cum") >= F.col("lo") + 1, F.col("v"))
        ).alias("lo_v"),
        F.min(F.when(F.col("cum") >= F.col("hi"), F.col("v"))).alias("hi_v"),
        F.sum(
            F.col("v")
            * F.greatest(
                F.least(F.col("cum"), F.col("hi"))
                - F.greatest(F.col("cum") - F.col("cnt"), F.col("lo")),
                F.lit(0),
            )
        ).alias("inner_sum"),
    )
    return b.select(
        F.col("n").cast("long").alias("n"),
        F.col("lo_v").cast("long").alias("lo_clamp_cents"),
        F.col("hi_v").cast("long").alias("hi_clamp_cents"),
        (
            F.col("inner_sum")
            + F.col("lo") * F.col("lo_v")
            + (F.col("n") - F.col("hi")) * F.col("hi_v")
        )
        .cast("long")
        .alias("winsor_sum_cents"),
        F.expr(
            "CAST((inner_sum + lo * lo_v + (n - hi) * hi_v) * 1000 DIV n"
            " AS BIGINT)"
        ).alias("winsor_mean_millicents"),
    )


# ------------------------------------------------------------------
# Pareto coverage: how many top customers cover 80% of revenue
# ------------------------------------------------------------------

_PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk,
         SUM(cents) OVER (ORDER BY cents DESC, o_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cents) OVER () AS total,
         COUNT(*) OVER () AS n_customers
  FROM cust)
SELECT CAST(MAX(n_customers) AS BIGINT) AS n_customers,
       CAST(MAX(total) AS BIGINT) AS total_cents,
       CAST(MIN(CASE WHEN 5 * cum >= 4 * total THEN rk END) AS BIGINT)
         AS k_for_80pct,
       CAST(MIN(CASE WHEN 5 * cum >= 4 * total THEN cum END) AS BIGINT)
         AS cum_cents_at_k
FROM ranked
"""


@query("q_agg_pareto_coverage", oracle=_PARETO_ORACLE)
def q_agg_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration, asked the operator's way round: how many
    top customers does it take to cover 80% of revenue?  (q_agg_lorenz
    draws the whole curve; this extracts the planning scalar.)  The
    80% gate is the cross-multiplied integer test 5·cum ≥ 4·total —
    no ratio, no float, no boundary wobble — and the cum at k is
    reported so the claim is auditable.  Ties in customer revenue
    carry the custkey total tie-break (the q_events_rfm discipline).

    Scale: the window runs over the per-CUSTOMER census (key-domain
    bounded, ~1.5e5 keys per SF unit), not the order rows; past ~10⁷
    keys the two-pass histogram decomposition
    (q_agg_percentile_twopass) replaces the global window, exactly as
    q_agg_gini_twopass already demonstrates in-repo."""
    cust = _cents_per_customer(spark, sf_dir)
    wo = Window.orderBy(F.desc("cents"), F.asc("o_custkey"))
    ranked = cust.select(
        "cents",
        F.row_number().over(wo).alias("rk"),
        F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("cents").over(Window.partitionBy()).alias("total"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_customers"),
    )
    gate = F.when(5 * F.col("cum") >= 4 * F.col("total"), F.col("rk"))
    gate_cum = F.when(5 * F.col("cum") >= 4 * F.col("total"), F.col("cum"))
    return ranked.agg(
        F.max("n_customers").cast("long").alias("n_customers"),
        F.max("total").cast("long").alias("total_cents"),
        F.min(gate).cast("long").alias("k_for_80pct"),
        F.min(gate_cum).cast("long").alias("cum_cents_at_k"),
    )


# ------------------------------------------------------------------
# Bowley quartile skewness from discrete order statistics
# ------------------------------------------------------------------

_BOWLEY_ORACLE = """
WITH o AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders),
census AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM o GROUP BY v),
marked AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
         SUM(cnt) OVER () AS n
  FROM census),
qs AS (
  SELECT
    CAST(MIN(CASE WHEN cumb + cnt >= (n + 3) // 4
             AND cumb < (n + 3) // 4 THEN v END) AS BIGINT) AS q1,
    CAST(MIN(CASE WHEN cumb + cnt >= (n + 1) // 2
             AND cumb < (n + 1) // 2 THEN v END) AS BIGINT) AS q2,
    CAST(MIN(CASE WHEN cumb + cnt >= (3 * n + 3) // 4
             AND cumb < (3 * n + 3) // 4 THEN v END) AS BIGINT) AS q3,
    CAST(MAX(n) AS BIGINT) AS n
  FROM marked)
SELECT n, q1, q2, q3,
       CAST(CASE WHEN q3 = q1 THEN NULL
            WHEN q1 + q3 - 2 * q2 >= 0
              THEN (1000000 * (q1 + q3 - 2 * q2)) // (q3 - q1)
            ELSE -((1000000 * (2 * q2 - q1 - q3)) // (q3 - q1)) END
            AS BIGINT) AS bowley_ppm
FROM qs
"""


@query("q_agg_bowley_skew", oracle=_BOWLEY_ORACLE)
def q_agg_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley's quartile skewness (Q₁ + Q₃ − 2Q₂)/(Q₃ − Q₁) of order
    totals — the robust skew that survives the heavy tail
    q_stats_jarque_bera's moment skew is dragged by.  The three
    quartiles are DISCRETE order statistics at ranks ⌈n/4⌉, ⌈n/2⌉,
    ⌈3n/4⌉ = (3n+3) DIV 4 (the q_agg_percentile_disc /
    q_text_sentence_stats convention) marked directly on the
    value census window — no scalar cross, no sort of the fact table
    — and the coefficient is a sign-aware integer ppm division
    (DuckDB floors, Spark truncates: identical only via the CASE
    sign split).  A zero interquartile range reports NULL.

    Scale: value-domain census + one census window — the
    q_stats_mood_median shape with three rank thresholds."""
    o = T(spark, sf_dir, "orders").select(
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("v")
    )
    census = o.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy()
    marked = census.select(
        "v",
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("cumb"),
        F.sum("cnt").over(wt).alias("n"),
    )
    def _q(thr: str, alias: str):
        return (
            F.min(
                F.expr(
                    f"CASE WHEN cumb + cnt >= {thr} AND cumb < {thr}"
                    " THEN v END"
                )
            )
            .cast("long")
            .alias(alias)
        )

    qs = marked.agg(
        _q("(n + 3) DIV 4", "q1"),
        _q("(n + 1) DIV 2", "q2"),
        _q("(3 * n + 3) DIV 4", "q3"),
        F.max("n").cast("long").alias("n"),
    )
    return qs.select(
        "n",
        "q1",
        "q2",
        "q3",
        F.expr(
            "CAST(CASE WHEN q3 = q1 THEN NULL"
            " WHEN q1 + q3 - 2 * q2 >= 0"
            "   THEN (1000000 * (q1 + q3 - 2 * q2)) DIV (q3 - q1)"
            " ELSE -((1000000 * (2 * q2 - q1 - q3)) DIV (q3 - q1)) END"
            " AS BIGINT)"
        ).alias("bowley_ppm"),
    )


@query(
    "q_agg_cube",
    oracle="""
    SELECT r_name, o_orderstatus, {rev}, COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY CUBE (r_name, o_orderstatus)
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations of (region, status) in one
    pass (Spark expands grouping sets before the shuffle, so it is one
    aggregation, not four scans)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.cube("r_name", "o_orderstatus").agg(
        dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "q_agg_conditional",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           {hi}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """.format(
        hi=o_dsum("CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0 END",
                  "high_value_revenue"),
    ),
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER / CASE-gated sums) per segment."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            dsum(
                F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice")).otherwise(
                    0
                ),
                "high_value_revenue",
            ),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_agg_minmax_by",
    oracle="""
    SELECT c_mktsegment,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           MIN({'p': o_totalprice, 'k': o_orderkey}).k AS cheapest_order,
           MAX({'p': o_totalprice, 'k': o_orderkey}).k AS priciest_order
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max + argmin/argmax via lexicographic struct MIN/MAX — the
    (price, orderkey) composite breaks price ties deterministically in
    both engines, unlike min_by/arg_min whose tie winner is arbitrary
    (ties are plausible at larger SFs with 2-decimal prices)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    pk = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min(pk)["k"].alias("cheapest_order"),
            F.max(pk)["k"].alias("priciest_order"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS DOUBLE) AS q25,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.50) AS DOUBLE) AS q50,
           CAST(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS DOUBLE) AS q75,
           CAST(MAX(l_quantity) AS DOUBLE) AS q100
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (sort-based `percentile`, not the t-digest
    approx_percentile): linear interpolation at rank p·(n-1), the same
    definition DuckDB's quantile_cont uses.  Quartile fractions are
    exact in binary and l_quantity is integer-valued, so the
    interpolated doubles are bit-identical across engines.  At 100 TB
    exact percentiles shuffle every group value — that is the point of
    this operator; approx_percentile (mergeable sketch, q_agg_custom
    family) is the scale path when ±ε is acceptable."""
    li = T(spark, sf_dir, "lineitem")
    q = F.expr("percentile(CAST(l_quantity AS DOUBLE), array(0.25, 0.5, 0.75))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            q.getItem(0).alias("q25"),
            q.getItem(1).alias("q50"),
            q.getItem(2).alias("q75"),
            F.max("l_quantity").cast("double").alias("q100"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_pivot",
    oracle="""
    SELECT c_mktsegment,
           {f}, {o}, {p}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """.format(
        f=o_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", "F"),
        o=o_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", "O"),
        p=o_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END", "P"),
    ),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): revenue per market segment × order status.
    The pivot value list is EXPLICIT — with it, Spark pivots in a
    single aggregation pass; without it, a distinct-values job must run
    first (two scans), which is the 100 TB anti-pattern."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_agg_mode",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_qty, n FROM (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
      FROM lineitem GROUP BY l_returnflag, l_quantity)
    WHERE rn = 1 ORDER BY l_returnflag
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value, ties broken by smallest
    value): two-level aggregate + rank, instead of the built-in
    ``mode()`` whose tie winner is engine-arbitrary and therefore not
    oracle-checkable.  Scale shape: the first groupBy shuffles
    (flag, quantity) — bounded by distinct-value count, not rows — and
    the rank runs over those small groups."""
    from pyspark.sql.window import Window

    li = T(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("n"), F.asc("l_quantity")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"), "n")
        .orderBy("l_returnflag")
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
             l_discount, l_tax
      FROM lineitem WHERE l_orderkey % 100 = 0
    )
    UNPIVOT (val FOR measure IN (
      l_quantity AS 'qty', l_extendedprice AS 'price',
      l_discount AS 'discount', l_tax AS 'tax'))
    ORDER BY l_orderkey, l_linenumber, measure
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): 4 measure columns become (measure,
    val) rows — the inverse of q_pivot and the shape feature stores
    emit.  Spark's native ``unpivot`` expands rows WITHOUT a shuffle
    (a generator projection, 4× rows out of the scan); the modulo
    filter pushes into the scan on both engines."""
    li = T(spark, sf_dir, "lineitem").filter(F.expr("l_orderkey % 100 = 0"))
    return (
        li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            "measure",
            "val",
        )
        .filter(F.col("val").isNotNull())
        .withColumn(
            "measure",
            F.element_at(
                F.create_map(
                    F.lit("l_quantity"), F.lit("qty"),
                    F.lit("l_extendedprice"), F.lit("price"),
                    F.lit("l_discount"), F.lit("discount"),
                    F.lit("l_tax"), F.lit("tax"),
                ),
                F.col("measure"),
            ),
        )
        .orderBy("l_orderkey", "l_linenumber", "measure")
    )


@query(
    "q_agg_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 500000.0 THEN 51
                ELSE CAST(FLOOR(o_totalprice / 10000.0) AS BIGINT) + 1 END
             AS bucket,
           COUNT(*) AS n_orders,
           {tot}
    FROM orders
    GROUP BY bucket ORDER BY bucket
    """.format(tot=o_dsum("o_totalprice", "sum_price")),
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: 50 × 10k buckets over
    [0, 500k), width_bucket semantics (1..50 in range, 0 below, 51
    above) spelled as explicit FLOOR arithmetic because DuckDB has no
    width_bucket — the IDENTICAL double divide + floor runs in both
    engines, so bucket edges cannot disagree.  One small-key
    aggregation; at 100 TB the bucket id computes in the scan
    projection and partial aggregation collapses each partition to
    ≤52 rows before the shuffle."""
    o = T(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 0.0, F.lit(0))
        .when(F.col("o_totalprice") >= 500000.0, F.lit(51))
        .otherwise(F.floor(F.col("o_totalprice") / 10000.0) + 1)
    )
    return (
        o.select(bucket.cast("long").alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("bucket")
    )


@query(
    "q_agg_grouping_sets",
    oracle="""
    SELECT c_mktsegment, o_orderstatus,
           CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           COUNT(*) AS n, {rev}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
    ORDER BY g_seg, g_status, c_mktsegment, o_orderstatus
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with the GROUPING() marker — unlike
    rollup/cube this picks exactly the wanted aggregation levels
    ((segment), (status), grand total) in ONE pass, and GROUPING()
    distinguishes a subtotal's NULL from a genuine NULL group value —
    the disambiguation every BI layer needs.  Spark expands the sets
    before the shuffle: one aggregation, not three scans."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return (
        joined.groupingSets(
            [["c_mktsegment"], ["o_orderstatus"], []],
            "c_mktsegment",
            "o_orderstatus",
        )
        .agg(
            F.grouping("c_mktsegment").cast("long").alias("g_seg"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("g_seg", "g_status", "c_mktsegment", "o_orderstatus")
    )


@query(
    "q_agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           {num} / {den} AS wavg_discount,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """.format(
        num="CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)",
        den="CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)",
    ),
)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean (price-weighted average discount): the ratio of
    two exact-decimal sums sharing one aggregation pass — avg() gives
    every row equal weight, which misprices discounts; weighting by
    extendedprice answers "what fraction of revenue is discounted".
    Same one-shuffle shape as any grouped agg."""
    from ..functions.parity import _dec2dbl

    DECI = "decimal(18,6)"
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (
                _dec2dbl(
                    F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DECI))
                )
                / _dec2dbl(F.sum(F.col("l_extendedprice").cast(DECI)))
            ).alias("wavg_discount"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@query("q_agg_approx_percentile", oracle=None)
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) per returnflag —
    the mergeable-sketch scale path beside q_agg_percentile's exact
    sort: at 100 TB the sketch keeps O(1/ε) state per group and
    merges across partitions instead of shuffling every value.
    Rows-only by design: the sketch's chosen sample is engine-specific
    (DuckDB's approx_quantile uses t-digest — different algorithm,
    different picks); the rank-error bound vs the EXACT percentile is
    asserted in tests/test_extras.py instead."""
    li = T(spark, sf_dir, "lineitem")
    q = F.expr(
        "approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 1000)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            q.getItem(0).alias("q25"),
            q.getItem(1).alias("q50"),
            q.getItem(2).alias("q75"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_distinct_salted",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_agg_distinct_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase EXACT distinct count — the aggregation-side
    complement to q_join_skew_salted.  Phase 1 groups by (key,
    salt(user)) and counts distinct users per salt bucket; phase 2
    sums the per-bucket counts.  Exact because the salt is derived
    from the DISTINCT-counted column itself (xxhash64 % 32), so each
    user lands in exactly ONE bucket and the bucket counts partition
    the distinct set.  n_events rides along phase 1 as a plain sum.

    Why it matters at 100 TB: a plain COUNT(DISTINCT) materializes
    each hot key's entire distinct-state on ONE reducer (Spark expands
    to a (key, user) pre-aggregate, but the final per-key distinct
    state is still single-task); salting caps per-task state at 1/32
    of the hot key.  The oracle is the PLAIN distinct count — salting
    must be semantically invisible, same discipline as the salted
    join.  AQE can split skewed shuffle PARTITIONS, but cannot split a
    single group's aggregation state — this rewrite is the manual
    lever for that regime."""
    e = T(spark, sf_dir, "events")
    phase1 = (
        e.groupBy(
            "event_type",
            F.pmod(F.xxhash64("user_id"), F.lit(32)).alias("salt"),
        )
        .agg(
            F.countDistinct("user_id").alias("pn"),
            F.count(F.lit(1)).alias("pe"),
        )
    )
    return (
        phase1.groupBy("event_type")
        .agg(F.sum("pn").alias("n_users"), F.sum("pe").alias("n_events"))
        .orderBy("event_type")
    )
