"""Window functions, grouping sets/rollup, custom aggregation, set ops.

SURVEY.md §2.2 blocks "Window functions", "Aggregations (rollup /
custom)", "Sorts/limits/set ops".

Parity discipline (SURVEY.md §5.3 + functions/parity.py):
- row_number needs a TOTAL order (unique tiebreak key appended);
  rank/dense_rank are tie-stable and may use the natural ordering.
- windowed SUM over doubles goes through DECIMAL inside the frame
  (DuckDB evaluates windowed aggs with a segment tree — different
  association order than Spark's running accumulation; decimal is
  associative so both produce the identical exact value).
- events ordering uses µs-truncated time (``ts div 1000``) because the
  DuckDB side only sees µs precision — ordering by raw ns would
  diverge on sub-µs ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import (
    dstddev_cols,
    dsum,
    dsum_over,
    o_dstddev,
    o_dsum,
    stddev_from,
)
from ..registry import query
from ..sources.derived import (
    CENTS,
    DAILY_ORDERS_SQL,
    US_PER_DAY,
    US_PER_HOUR,
    daily_orders,
    events_us,
)
from ..sources.tables import table as T

# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             RANK()       OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC) AS rnk,
             DENSE_RANK() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC) AS drnk
      FROM orders
    ) WHERE rn <= 3
    """,
    headline=True,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: ranking window family, ONE window
    pass computing row_number/rank/dense_rank together, then the rn<=3
    filter.

    MEASURED round 7 (protocol-2 checksum materialization, in-process
    A/B): the alternative two-pass form (row_number alone + filter,
    which lets the optimizer insert a Partial WindowGroupLimit before
    the exchange, then rank/dense_rank over survivors) costs a full
    map-side sort of the input to save shuffle BYTES — on local[32]
    where the shuffle is memory copies that trade never pays: two-pass
    = 0.44 s vs one-pass 0.34 s at sf0.1, and DIVERGES at sf1 (1.86 s
    vs 0.69 s).  On a network-bound cluster the partial group limit
    cuts shuffle volume ~|orders/customer|/3 and becomes the right
    plan — switch by splitting rn from rank/dense_rank (the survivors
    stay partitioned and price-sorted, so the second window adds no
    exchange).  Both forms are result-identical (equivalence-checked
    when measured); the single-node production form is declared."""
    o = T(spark, sf_dir, "orders")
    w_total = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    w_ties = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            # .cast("long"): ranking fns are int32 in Spark but BIGINT
            # in DuckDB — compared columns must match widths
            F.row_number().over(w_total).cast("long").alias("rn"),
            F.rank().over(w_ties).cast("long").alias("rnk"),
            F.dense_rank().over(w_ties).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_window_lag",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(value)  OVER w AS prev_value,
           LEAD(value) OVER w AS next_value,
           value - LAG(value) OVER w AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead per user ordered by event time (µs-truncated to match
    the oracle's precision) with event_id as total-order tiebreak."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.expr("ts div 1000"), "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@query(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_total
    FROM orders
    """,
    headline=True,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer — explicit ROWS frame; decimal
    inside the frame for order/association-independent exactness."""
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # no raw timestamp in the output: pandas materializes Spark
    # timestamps at ns resolution and DuckDB's at µs, which reads as a
    # dtype/schema difference to a strict comparator; o_orderkey
    # already identifies the row
    return o.select(
        "o_custkey",
        "o_orderkey",
        dsum_over("o_totalprice", w, "running_total"),
    )


@query(
    "q_window_dist",
    oracle="""
    SELECT o_orderkey, o_custkey,
           NTILE(4)       OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window family: ntile / percent_rank / cume_dist
    (rank arithmetic over a total order — deterministic int ratios)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --------------------------------------------------------------------------
# Rollup / custom agg
# --------------------------------------------------------------------------


@query(
    "q_agg_rollup",
    oracle="""
    SELECT r_name, n_name, {rev}, COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup region→nation→grand-total (NULL-filled
    super-aggregate rows, identical to SQL ROLLUP semantics)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        dsum("o_totalprice", "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_custom",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders, {sd}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 2
    """.format(sd=o_dstddev("o_totalprice", "price_stddev")),
)
def q_agg_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (sample stddev) rebuilt from exact decimal sums
    so both engines run the identical IEEE post-ops — the template for
    any UDAF-style statistic that must match an oracle bit-for-bit."""
    o = T(spark, sf_dir, "orders")
    sx, sx2, n = dstddev_cols("o_totalprice")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            sx.alias("_sx"),
            sx2.alias("_sx2"),
            n.alias("_n"),
        )
        .filter(F.col("n_orders") >= 2)
        .select(
            "o_custkey",
            "n_orders",
            stddev_from(F.col("_sx"), F.col("_sx2"), F.col("_n")).alias("price_stddev"),
        )
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@query(
    "q_set_union",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 400000
    UNION
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
    """,
)
def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two filtered branches."""
    o = T(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_totalprice", "o_orderpriority"]
    a = o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 400000)).select(cols)
    b = o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_orderpriority") == "1-URGENT")
    ).select(cols)
    return a.unionByName(b).distinct()


@query(
    "q_set_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: BUILDING-segment customers who have an F order."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return a.intersect(b)


@query(
    "q_set_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers who never placed an urgent order (non-empty at
    every SF, unlike "customers with no orders at all")."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.select("c_custkey").subtract(
        o.filter(F.col("o_orderpriority") == "1-URGENT").select(
            F.col("o_custkey").alias("c_custkey")
        )
    )


@query(
    "q_window_nulls",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    ),
    r AS (
      SELECT event_type, event_id, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY v DESC NULLS LAST, event_id) AS rn
      FROM e
    )
    SELECT event_type, event_id, ROUND(v, 4) AS v, rn
    FROM r WHERE rn <= 3
    ORDER BY event_type, rn
    """,
)
def q_window_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering semantics under a window: top-3 events per type by
    a NULLABLE sort key (every 5th value nulled), ranked with EXPLICIT
    ``DESC NULLS LAST``.

    Exists because the engines' DEFAULTS disagree — Spark sorts NULLs
    FIRST ascending / LAST descending while DuckDB sorts NULLs LAST
    ascending / FIRST descending (so for this DESC window the
    unspecified forms would put NULLs at opposite ends and every rank
    would differ wherever a partition contains a NULL).  Any query
    whose RESULT depends on rank over a nullable key must therefore
    spell the null placement out on both engines; this query pins that
    rule as a value-hashed contract, with (key, event_id) making the
    order total so ranks are deterministic."""
    e = T(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("v").desc_nulls_last(), "event_id"
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "event_type",
            "event_id",
            F.round("v", 4).alias("v"),
            F.col("rn").cast("bigint").alias("rn"),
        )
        .orderBy("event_type", "rn")
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS trailing_30d
    FROM orders
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day trailing spend per customer: a RANGE frame over event
    TIME (2,592,000 s), not row position — each row's frame holds every
    order in the preceding 30 days, however many that is.  The
    complement of q_window_running's ROWS frame.  RANGE also makes the
    result deterministic under ties: same-timestamp orders share one
    frame regardless of their physical order, so no tiebreak key is
    needed.  Decimal(18,2) inside the frame for summation-order
    exactness (functions/parity.py)."""
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-2592000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d"),
    )


@query(
    "q_timeseries_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT (epoch_us(ts) // 3600000000) AS h, event_type, COUNT(*) AS n
      FROM events GROUP BY h, event_type
    ),
    bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
    spine AS (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT s.h * 3600 AS hour_s, t.event_type AS event_type,
           COALESCE(c.n, 0) AS n_events
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly c ON c.h = s.h AND c.event_type = t.event_type
    ORDER BY hour_s, t.event_type
    """,
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series: a dense (hour × event_type) spine with
    zero rows where no events landed — the resample/asfreq operation
    every monitoring pipeline needs before rate math (a missing hour
    must read as 0, not NaN-by-absence).  The spine generates from the
    observed [min,max] hour via sequence(); both dimension sides are
    tiny, so the only big-data touch is the one hourly aggregation —
    spine and counts then join broadcast."""
    e = T(spark, sf_dir, "events")
    hourly = (
        e.select(
            F.expr("ts div 1000 div 3600000000").alias("h"), "event_type"
        )
        .groupBy("h", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = (
        hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(F.explode(F.sequence("mn", "mx")).alias("h"))
    )
    types = e.select("event_type").distinct()
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(hourly), ["h", "event_type"], "left")
        .select(
            (F.col("h") * 3600).alias("hour_s"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        )
        .orderBy("hour_s", "event_type")
    )


@query(
    "q_window_firstlast",
    oracle="""
    SELECT event_id, user_id,
           FIRST_VALUE(value) OVER w AS first_val,
           LAST_VALUE(value) OVER (PARTITION BY user_id
                ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_val,
           NTH_VALUE(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id)
    ORDER BY event_id
    """,
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value per user timeline: the session-attribution
    family (first-touch, last-touch, second event).  LAST_VALUE needs
    the full-partition frame spelled out — the default frame stops at
    CURRENT ROW, a classic silent-wrong-answer both engines share.
    event_id tiebreak makes every value deterministic."""
    e = T(spark, sf_dir, "events")
    order = [F.expr("ts div 1000"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order)
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    ).orderBy("event_id")


@query(
    "q_timeseries_ohlc",
    oracle="""
    WITH b AS (
      SELECT event_type,
             epoch_us(ts) // 3600000000 AS bucket,
             value,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                             epoch_us(ts) // 3600000000
                                ORDER BY epoch_us(ts), event_id) AS rk_open,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                             epoch_us(ts) // 3600000000
                                ORDER BY epoch_us(ts) DESC, event_id DESC)
               AS rk_close
      FROM events)
    SELECT event_type, bucket,
           MAX(CASE WHEN rk_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rk_close = 1 THEN value END) AS close,
           COUNT(*) AS n
    FROM b
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def q_timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar aggregation — the canonical time-series downsample
    (candlesticks, metrics rollups): per (series, hour bucket) the
    first/max/min/last value, first/last resolved by the TOTAL order
    (ts, event_id) so concurrent-timestamp rows cannot make the bars
    nondeterministic.

    Plan shape (measured, not assumed): the single-pass min_by over a
    STRUCT ordinal plans as SortAggregate — Spark's hash aggregate
    requires mutable primitive buffers, so a struct ordinal silently
    buys a per-partition SORT in both phases, the wrong trade at
    100 TB.  This implementation is the two-phase hash-only form
    instead: (1) one map-side-combining HashAggregate computes per-bar
    t_open/t_close/high/low/n; (2) the tiny bar table broadcasts back
    onto the stream, keeping only boundary rows (ts == t_open or
    t_close); (3) a second HashAggregate resolves timestamp ties with
    min_by/max_by over the BIGINT event_id — the one ordinal type that
    keeps the hash strategy (pinned in tests/test_plans.py: zero
    SortAggregate, zero Window).  Two columnar scans beat one sorted
    scan; open/close/high/low are SELECTED values, not arithmetic, so
    the doubles hash-match bit-for-bit cross-engine."""
    e = events_us(spark, sf_dir).select(
        "event_type",
        F.expr(f"ts_us DIV {US_PER_HOUR}").alias("bucket"),
        "ts_us",
        "event_id",
        "value",
    )
    bars = e.groupBy("event_type", "bucket").agg(
        F.min("ts_us").alias("t_open"),
        F.max("ts_us").alias("t_close"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count(F.lit(1)).alias("n"),
    )
    edges = e.join(F.broadcast(bars), ["event_type", "bucket"]).filter(
        (F.col("ts_us") == F.col("t_open")) | (F.col("ts_us") == F.col("t_close"))
    )
    oc = edges.groupBy("event_type", "bucket").agg(
        F.expr(
            "min_by(value, CASE WHEN ts_us = t_open THEN event_id END)"
        ).alias("open"),
        F.expr(
            "max_by(value, CASE WHEN ts_us = t_close THEN event_id END)"
        ).alias("close"),
    )
    return (
        bars.join(oc, ["event_type", "bucket"])
        .select("event_type", "bucket", "open", "high", "low", "close", "n")
        .orderBy("event_type", "bucket")
    )


@query(
    "q_window_locf",
    headline=True,
    oracle="""
    SELECT event_id, user_id, ts_us, value_sparse,
           LAST_VALUE(value_sparse IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
    FROM (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CASE WHEN event_type = 'purchase' THEN value END AS value_sparse
      FROM events)
    ORDER BY user_id, ts_us, event_id
    """,
)
def q_window_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: treat ``value`` as a sparse
    measurement only present on purchase events, forward-fill it per
    user in event-time order.  ``last_value`` with ignoreNulls over a
    running frame — one hash shuffle on user_id, sort within
    partitions, no join."""
    e = T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts div 1000").alias("ts_us"),
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "value_sparse"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.withColumn(
        "value_filled", F.last("value_sparse", ignorenulls=True).over(w)
    ).orderBy("user_id", "ts_us", "event_id")


@query(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(ntile(10) OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice, o_orderkey) AS BIGINT)
             AS decile
    FROM orders
    ORDER BY o_orderstatus, decile, o_orderkey
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile assignment per status — the remaining ranking
    window function the registry didn't pin (rank/dense_rank/
    row_number/percent_rank live in q_window_rank/q_window_dist).
    The ORDER BY carries o_orderkey so the within-tie assignment is
    total and hash-deterministic; both engines implement ANSI NTILE
    (floor/ceil split of n over k buckets) identically.  Scale: one
    hash shuffle on the partition key + per-partition sort — the
    standard window shape."""
    from pyspark.sql.window import Window

    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
        .orderBy("o_orderstatus", "decile", "o_orderkey")
    )


# --------------------------------------------------------------------------
# Trailing EWMA smoothing
# --------------------------------------------------------------------------

#: trailing depth (terms) and dyadic decay α = 1/2: weights 2^-1..2^-8
_EWMA_DEPTH = 8


@query(
    "q_window_ewma",
    oracle="""
    SELECT user_id, event_id,
           CAST(FLOOR(({expr}) * 1000000 + 0.5) AS BIGINT) AS ewma_micros
    FROM events
    ORDER BY user_id, event_id
    """.format(
        expr=" + ".join(
            f"COALESCE(LAG(value, {j}) OVER (PARTITION BY user_id"
            f" ORDER BY ts, event_id), 0.0) * {0.5 ** (j + 1)!r}"
            for j in range(_EWMA_DEPTH)
        )
    ),
)
def q_window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing exponentially-weighted moving average (α = ½, depth 8)
    per user timeline — the standard smoothing op, made hash-exact by
    TWO choices: dyadic weights (2^-k scaling is exact in IEEE — each
    product keeps the value's mantissa), and a FIXED left-to-right
    summation order spelled out identically in both engines (neither
    Catalyst nor DuckDB reassociates float addition, the same
    guarantee every per-row expression in the repo leans on); the
    result is emitted as integer micros via the BM25 floor trick, so
    no ROUND-implementation difference can flip a boundary.  The
    truncation at depth 8 bounds the weight tail at 2^-8 — and keeps
    the window a fixed 8-lag stencil: one shuffle on user_id, no
    unbounded running state; the streaming form is an 8-value ring
    buffer per key, IMPLEMENTED as streaming/stateful.ewma_stream and
    asserted stream==batch in tests/test_streaming.py."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    terms = [
        F.coalesce(F.lag("value", j).over(w), F.lit(0.0)) * F.lit(0.5 ** (j + 1))
        for j in range(_EWMA_DEPTH)
    ]
    ewma = terms[0]
    for t in terms[1:]:
        ewma = ewma + t
    return ev.select(
        "user_id",
        "event_id",
        F.floor(ewma * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("ewma_micros"),
    ).orderBy("user_id", "event_id")


@query(
    "q_window_median",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS us,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    framed AS (
      SELECT user_id, event_id, us,
             list_sort(list(cents) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS f
      FROM ev
    )
    SELECT user_id, event_id,
           CASE WHEN len(f) % 2 = 1 THEN 2 * f[(len(f) + 1) // 2]
                ELSE f[len(f) // 2] + f[len(f) // 2 + 1] END
             AS median_x2_cents,
           CAST(len(f) AS INTEGER) AS frame_n
    FROM framed
    ORDER BY user_id, event_id
    """,
)
def q_window_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT median (order statistic in a moving frame) of
    per-user event values over the trailing 11 rows — the smoothing
    primitive Spark has no builtin for (percentile_approx is sketch-
    based).  Exactness protocol: values are exact 2-decimal doubles, so
    the median is computed in integer cents and reported DOUBLED
    (odd frame → 2·mid, even frame → lo+hi), keeping even-frame
    interpolation in integer arithmetic — bit-equal on both engines
    with no float division anywhere.

    Scale shape: one shuffle on user_id (the same key every per-user
    stage uses), then collect_list over an 11-row frame — O(frame)
    state per row inside the window sort, never a second shuffle.
    The collected frame stays in JVM expressions (sort_array +
    element_at — note these evaluate interpreted, not codegen, but on
    an 11-element primitive array that is noise; measured 5.0× wall at
    100× rows in SCALE_PROBE.json); no Python boundary."""
    e = T(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("us"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-10, Window.currentRow)
    )
    return (
        ev.withColumn("f", F.sort_array(F.collect_list("cents").over(w)))
        .select(
            "user_id",
            "event_id",
            F.expr(
                "CASE WHEN size(f) % 2 = 1"
                " THEN 2 * element_at(f, CAST((size(f) + 1) DIV 2 AS INT))"
                " ELSE element_at(f, CAST(size(f) DIV 2 AS INT))"
                "      + element_at(f, CAST(size(f) DIV 2 + 1 AS INT)) END"
            ).alias("median_x2_cents"),
            F.size("f").alias("frame_n"),
        )
        .orderBy("user_id", "event_id")
    )


# ------------------------------------------------------------------
# CUSUM changepoint detection (per-user spend shift)
# ------------------------------------------------------------------

#: CUSUM reference (cents): deviations are value - $60; alarm at $150
_CUSUM_K = 6000


_CUSUM_H = 15000


_CUSUM_ORACLE = f"""
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) - {_CUSUM_K} AS dev
  FROM events WHERE event_type = 'purchase'),
pr AS (
  SELECT user_id, us, event_id,
         CAST(SUM(dev) OVER w AS BIGINT) AS pref
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (
  SELECT user_id, us, event_id, pref,
         pref - LEAST(CAST(MIN(pref) OVER w AS BIGINT), 0) AS cusum
  FROM pr
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, us, cusum AS cusum_cents,
       CAST(cusum > {_CUSUM_H} AS INT) AS alarm
FROM c ORDER BY user_id, us, event_id
"""


@query("q_window_cusum", oracle=_CUSUM_ORACLE)
def q_window_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection on per-user purchase
    streams: s_i = max(0, s_(i-1) + (x_i − k)) with reference k = $60
    and alarm threshold h = $150 — the sequential drift detector
    (Page 1954) a data pipeline runs on quality metrics.  The
    recursion is NOT window-expressible directly, but has the exact
    closed form s_i = P_i − min(0, min_(j≤i) P_j) over prefix sums
    P — two stacked windows on the SAME (user, time) sort, zero extra
    shuffles, integer cents throughout (the FLOOR(x·100 + 0.5)
    discipline), so the full alarm trajectory is hash-attested.

    Scale: both windows ride one exchange, partitioned by user —
    bounded partitions, co-partitioned with the rest of the per-user
    pipeline.  Deterministic total order (us, event_id)."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    p = e.select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("us"),
        (
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)") - _CUSUM_K
        ).alias("dev"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pr = p.withColumn("pref", F.sum("dev").over(w).cast("long"))
    c = pr.withColumn(
        "cusum",
        F.col("pref")
        - F.least(F.min("pref").over(w).cast("long"), F.lit(0)),
    )
    return c.select(
        "user_id",
        "us",
        F.col("cusum").alias("cusum_cents"),
        (F.col("cusum") > _CUSUM_H).cast("int").alias("alarm"),
    ).orderBy("user_id", "us", "event_id")


# ------------------------------------------------------------------
# Lag-1 autocorrelation of the daily revenue series
# ------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1),
pairs AS (
  SELECT r AS y,
         lag(r) OVER (ORDER BY d) AS x
  FROM daily),
p AS (SELECT x, y FROM pairs WHERE x IS NOT NULL),
s AS (
  SELECT COUNT(*) AS n,
         CAST(CAST(SUM(CAST(x AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS VARCHAR) AS DOUBLE) AS sxy
  FROM p)
SELECT n,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS autocorr_lag1
FROM s
"""


@query("q_timeseries_autocorr", oracle=_AUTOCORR_ORACLE)
def q_timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily-revenue series — the
    stationarity probe a forecasting pipeline runs before model
    choice.  Daily revenue is an exact integer-cent sum; the lagged
    pairs go through EXACT DECIMAL sums cast via VARCHAR to double
    (the q_stats_corr_matrix parity discipline: the decimal sums are
    exact integers, the string round-trip pins the double conversion,
    and the final Pearson expression is a handful of correctly-rounded
    IEEE ops on identical inputs), so the float statistic
    hash-matches cross-engine.

    Scale: the day census is one map-side-combined agg (bounded by
    the calendar domain — thousands of rows at any corpus size); the
    lag window and the moment sums run over that bounded series."""
    o = T(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(
            F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("r")
        )
    )
    pairs = daily.select(
        F.col("r").alias("y"), F.lag("r").over(Window.orderBy("d")).alias("x")
    ).where(F.col("x").isNotNull())
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    d2d = lambda col, name: col.cast("string").cast("double").alias(name)  # noqa: E731
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        d2d(F.sum(dec("x")), "sx"),
        d2d(F.sum(dec("y")), "sy"),
        d2d(F.sum(dec("x") * dec("x")), "sxx"),
        d2d(F.sum(dec("y") * dec("y")), "syy"),
        d2d(F.sum(dec("x") * dec("y")), "sxy"),
    )
    return s.select(
        "n",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("autocorr_lag1"),
    )


# ------------------------------------------------------------------
# Day-of-week seasonality profile
# ------------------------------------------------------------------

_DOW_ORACLE = """
WITH daily AS (
  SELECT date_trunc('day', o_orderdate) AS d,
         dayofweek(o_orderdate) AS dow,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1, 2),
prof AS (
  SELECT dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(r) AS BIGINT) AS cents
  FROM daily GROUP BY dow),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total,
               CAST(SUM(n_days) AS BIGINT) AS days FROM prof)
SELECT CAST(prof.dow AS BIGINT) AS dow, prof.n_days, prof.cents,
       CAST(prof.cents * 1000000 // tot.total AS BIGINT) AS share_ppm,
       CAST((prof.cents * tot.days * 1000 )
            // (tot.total * prof.n_days) AS BIGINT) AS index_milli
FROM prof, tot ORDER BY dow
"""


@query("q_timeseries_dow", oracle=_DOW_ORACLE)
def q_timeseries_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile of order revenue — the calendar
    decomposition a forecasting pipeline inspects before detrending:
    per weekday the day count, revenue mass, corpus share (ppm), and
    the SEASONALITY INDEX (per-day revenue vs the all-week per-day
    average, milli — 1000 = flat).  DuckDB's dayofweek (0=Sunday)
    equals Spark's ``dayofweek − 1``; the mapping is pinned here, and
    everything else is integer-exact.

    Scale: one map-side-combined daily agg (calendar-bounded), a
    7-group census, a 1-row total scalar crossed in."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").alias("d"),
        (F.dayofweek("o_orderdate") - 1).cast("long").alias("dow"),
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )
    prof = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("r").cast("long").alias("cents"),
    )
    tot = prof.agg(
        F.sum("cents").cast("long").alias("total"),
        F.sum("n_days").cast("long").alias("days"),
    )
    return (
        prof.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_days",
            "cents",
            F.expr("cents * 1000000 DIV total").alias("share_ppm"),
            F.expr("(cents * days * 1000) DIV (total * n_days)").alias(
                "index_milli"
            ),
        )
        .orderBy("dow")
    )


# ------------------------------------------------------------------
# Maximum drawdown (per-customer cumulative-revenue risk statistic)
# ------------------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH m AS (
  SELECT CAST(SUM({CENTS}) // COUNT(*) AS BIGINT) AS mean_cents
  FROM orders),
p AS (
  SELECT o_custkey, o_orderdate AS od, o_orderkey,
         {CENTS} - m.mean_cents AS dev
  FROM orders, m),
r AS (
  SELECT o_custkey, od, o_orderkey,
         CAST(SUM(dev) OVER w AS BIGINT) AS cum
  FROM p
  WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
d AS (
  SELECT o_custkey,
         CAST(MAX(cum) OVER w AS BIGINT) - cum AS dd
  FROM r
  WINDOW w AS (PARTITION BY o_custkey ORDER BY od, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT o_custkey,
       CAST(MAX(dd) AS BIGINT) AS max_drawdown_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM d GROUP BY o_custkey
HAVING MAX(dd) > 0
ORDER BY max_drawdown_cents DESC, o_custkey
LIMIT 100
"""


@query("q_window_drawdown", oracle=_DRAWDOWN_ORACLE)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per customer: dd_i = max_{j≤i}(cum_j) − cum_i
    over the (date, orderkey)-ordered CENTERED spend trajectory (each
    order contributes cents − corpus mean as SUM DIV COUNT —
    raw positive totals would make cum monotone and every drawdown
    zero); the statistic is the deepest below-own-peak run, i.e. the
    longest relative losing streak vs the corpus baseline.  Top-100
    customers by depth, wholly in integer cents.

    Scale: a 1-row mean scalar broadcast, then two stacked windows on
    one (custkey, time) exchange — the q_window_cusum shape with
    running-MAX; the top-100 is TakeOrderedAndProject."""
    o = T(spark, sf_dir, "orders")
    # integer mean (SUM DIV COUNT): double AVG is summation-order
    # dependent across engines and FLOOR could land on a boundary
    m = o.agg(
        F.expr(f"CAST(SUM({CENTS}) DIV COUNT(*) AS BIGINT)").alias(
            "mean_cents"
        )
    )
    p = o.crossJoin(F.broadcast(m)).select(
        "o_custkey",
        F.col("o_orderdate").alias("od"),
        "o_orderkey",
        (F.expr(CENTS) - F.col("mean_cents")).alias("dev"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = p.withColumn("cum", F.sum("dev").over(w).cast("long"))
    d = r.withColumn("dd", F.max("cum").over(w).cast("long") - F.col("cum"))
    return (
        d.groupBy("o_custkey")
        .agg(
            F.max("dd").cast("long").alias("max_drawdown_cents"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .where(F.col("max_drawdown_cents") > 0)
        .orderBy(F.desc("max_drawdown_cents"), "o_custkey")
        .limit(100)
    )


# ------------------------------------------------------------------
# Longest increasing-revenue streaks (monotone-run islands)
# ------------------------------------------------------------------

_STREAK_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS r
  FROM orders GROUP BY 1),
d AS (
  SELECT day, r, LAG(r) OVER (ORDER BY day) AS pr,
         CASE WHEN r > LAG(r) OVER (ORDER BY day) THEN 1 ELSE 0 END AS up
  FROM daily),
g AS (
  SELECT day, r, pr, up,
         CAST(SUM(1 - up) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sid
  FROM d),
runs AS (
  SELECT sid,
         CAST(MIN(day) AS BIGINT) AS start_day,
         CAST(MAX(day) AS BIGINT) AS end_day,
         CAST(COUNT(*) AS BIGINT) AS len,
         CAST(MAX(r) - MIN(pr) AS BIGINT) AS gain_cents
  FROM g WHERE up = 1 GROUP BY sid)
SELECT start_day - 1 AS start_day, end_day, len + 1 AS run_days, gain_cents
FROM runs
ORDER BY len DESC, start_day
LIMIT 5
"""


@query("q_window_streak", oracle=_STREAK_ORACLE)
def q_window_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-increasing daily-revenue streaks — the
    monotone-run variant of gaps-and-islands (sessionize marks gaps
    in TIME; this marks sign changes in the day-over-day DIFF): mark
    each up-day, island id = running count of non-up days, then one
    agg per island.  Day = integer days since epoch, revenue in
    cents; the run's gain is last value − the base value before the
    first up-day (max(r) − min(lag(r)): exact, since the run is
    strictly increasing).
    A run of k up-days spans k+1 calendar points — reported as
    run_days with the preceding base day as start_day.

    Scale: the daily census is calendar-bounded, so the ordered
    windows run over a bounded table (the q_stats_ks_drift value-
    domain discipline); everything upstream is one map-side-combined
    agg."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
        ).alias("day")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )
    wd = Window.orderBy("day")
    d = daily.withColumn("pr", F.lag("r").over(wd)).withColumn(
        "up",
        F.when(F.col("r") > F.col("pr"), 1).otherwise(0),
    )
    g = d.withColumn(
        "sid",
        F.sum(1 - F.col("up"))
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    runs = (
        g.where(F.col("up") == 1)
        .groupBy("sid")
        .agg(
            F.min("day").cast("long").alias("start0"),
            F.max("day").cast("long").alias("end_day"),
            F.count(F.lit(1)).cast("long").alias("len"),
            # gain over the FULL run = last value - the base value
            # BEFORE the first up-day (min of the lagged series: the
            # run is increasing, so min(pr) is the base) — max(r) -
            # min(r) would drop the first increment
            (F.max("r") - F.min("pr")).cast("long").alias("gain_cents"),
        )
    )
    return (
        runs.select(
            (F.col("start0") - 1).alias("start_day"),
            "end_day",
            (F.col("len") + 1).alias("run_days"),
            "gain_cents",
        )
        .orderBy(F.desc(F.col("run_days")), "start_day")
        .limit(5)
    )


# ------------------------------------------------------------------
# 7-day rolling VWAP (RANGE frame over the daily census)
# ------------------------------------------------------------------

_VWAP_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS pv,
         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS vol
  FROM lineitem GROUP BY 1)
SELECT CAST(day AS BIGINT) AS day,
       CAST(SUM(pv) OVER w AS BIGINT) AS pv7,
       CAST(SUM(vol) OVER w AS BIGINT) AS vol7,
       CAST((SUM(pv) OVER w) * 10000 // (SUM(vol) OVER w) AS BIGINT)
         AS vwap_micro
FROM daily
WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


@query("q_window_vwap", oracle=_VWAP_ORACLE)
def q_window_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling volume-weighted average price: Σ(price·qty)/Σqty
    over a RANGE frame keyed on integer epoch-days, so calendar gaps
    shrink the window instead of silently widening it (the ROWS-frame
    bug this family exists to avoid).  price in exact cents, quantity
    integral by construction (asserted against the generator), output
    floor-divided micro-dollars per unit — positive, so DuckDB ``//``
    and Spark ``DIV`` agree.

    Scale: the window runs over the DAILY census (calendar-bounded,
    q_stats_runs discipline) after one map-side-combining day
    aggregation of the fact table; the fact table is never sorted."""
    li = T(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.expr("datediff(CAST(l_shipdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        )
    ).agg(
        F.sum(
            F.expr(
                "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " * CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("pv"),
        F.sum(F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("vol"),
    )
    w = Window.orderBy("day").rangeBetween(-6, 0)
    return (
        daily.select(
            F.col("day").cast("long").alias("day"),
            F.sum("pv").over(w).cast("long").alias("pv7"),
            F.sum("vol").over(w).cast("long").alias("vol7"),
            F.expr(
                "CAST(SUM(pv) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING"
                " AND CURRENT ROW) * 10000 DIV SUM(vol) OVER (ORDER BY day"
                " RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)"
            ).alias("vwap_micro"),
        )
        .orderBy("day")
    )


# ------------------------------------------------------------------
# daily order-revenue census in whole dollars
# ------------------------------------------------------------------

#: Kept apart from ``sources/derived.daily_orders``, which also counts
#: orders: the extra column would change these queries' oracle SQL and
#: their plans' aggregate.
_DAILY_SQL = """
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1
"""


def _daily_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        )
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )


# ------------------------------------------------------------------
# Bollinger 2σ breakout flags (exact cross-multiplied variance test)
# ------------------------------------------------------------------

_BOLL_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
w AS (
  SELECT day, r,
         CAST(COUNT(*) OVER win AS BIGINT) AS n_win,
         CAST(SUM(r) OVER win AS BIGINT) AS s_win,
         CAST(SUM(r * r) OVER win AS BIGINT) AS q_win
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT CAST(day AS BIGINT) AS day, r, n_win, s_win, q_win,
       CASE WHEN (r * n_win - s_win) * (r * n_win - s_win)
                 > 4 * (n_win * q_win - s_win * s_win)
            THEN 1 ELSE 0 END AS breakout
FROM w ORDER BY day
"""


@query("q_window_bollinger", oracle=_BOLL_ORACLE)
def q_window_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout flags on the daily revenue series: a
    day is a 2σ breakout when |x − μ| > 2σ over the trailing 20-day
    window.  With window count n, sum S, sum-of-squares Q the test
    cross-multiplies to the EXACT integer inequality
    (x·n − S)² > 4·(n·Q − S²) — no sqrt, no doubles, no
    float-variance catastrophic cancellation (the two-pass-variance
    bug class).  Daily revenue in whole dollars keeps every product
    < 2⁶³ at 100× this scale (bound in-source).

    Scale: the window runs over the calendar-bounded daily census
    (q_stats_runs discipline); at a 1000× day-count the same frame is
    per-(instrument) partitioned."""
    daily = _daily_spark(spark, sf_dir)
    win = Window.orderBy("day").rowsBetween(-19, 0)
    w = daily.select(
        F.col("day").cast("long").alias("day"),
        "r",
        F.count(F.lit(1)).over(win).cast("long").alias("n_win"),
        F.sum("r").over(win).cast("long").alias("s_win"),
        F.sum(F.col("r") * F.col("r")).over(win).cast("long").alias("q_win"),
    )
    lhs = (F.col("r") * F.col("n_win") - F.col("s_win")) * (
        F.col("r") * F.col("n_win") - F.col("s_win")
    )
    rhs = 4 * (
        F.col("n_win") * F.col("q_win") - F.col("s_win") * F.col("s_win")
    )
    return w.withColumn(
        "breakout", F.when(lhs > rhs, 1).otherwise(0)
    ).orderBy("day")


# ------------------------------------------------------------------
# 14-day RSI momentum (integer gain/loss sums)
# ------------------------------------------------------------------

_RSI_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
d AS (
  SELECT day, r, r - LAG(r) OVER (ORDER BY day) AS delta FROM daily),
g AS (
  SELECT day, r,
         CAST(SUM(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER win
              AS BIGINT) AS gain14,
         CAST(SUM(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER win
              AS BIGINT) AS loss14
  FROM d WHERE delta IS NOT NULL
  WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT CAST(day AS BIGINT) AS day, r, gain14, loss14,
       CASE WHEN gain14 + loss14 = 0 THEN 500000
            ELSE CAST(gain14 * 1000000 // (gain14 + loss14) AS BIGINT)
       END AS rsi_ppm
FROM g ORDER BY day
"""


@query("q_window_rsi", oracle=_RSI_ORACLE)
def q_window_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI momentum on the daily revenue series, in ppm:
    gain/(gain+loss) over the trailing 14 deltas — >700000 ≈ the
    classic 70 overbought line.  The simple-average (Cutler) form, so
    every window sum is an exact int64 (Wilder's smoothed form is a
    recursion — that lives in streaming/cusum-style state, not a
    window); a flat window (no movement) pins to the 500000 midpoint
    by definition, identically in both engines.

    Scale: LAG + two window sums over the calendar-bounded daily
    census on ONE ordering — a single exchange."""
    daily = _daily_spark(spark, sf_dir)
    d = daily.withColumn(
        "delta", F.col("r") - F.lag("r").over(Window.orderBy("day"))
    ).where(F.col("delta").isNotNull())
    win = Window.orderBy("day").rowsBetween(-13, 0)
    g = d.select(
        F.col("day").cast("long").alias("day"),
        "r",
        F.sum(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0))
        .over(win)
        .cast("long")
        .alias("gain14"),
        F.sum(F.when(F.col("delta") < 0, -F.col("delta")).otherwise(0))
        .over(win)
        .cast("long")
        .alias("loss14"),
    )
    return g.withColumn(
        "rsi_ppm",
        F.when(F.col("gain14") + F.col("loss14") == 0, F.lit(500000).cast("long"))
        .otherwise(
            F.expr("CAST(gain14 * 1000000 DIV (gain14 + loss14) AS BIGINT)")
        ),
    ).orderBy("day")


# ------------------------------------------------------------------
# Day-over-day revenue change (sign-safe truncated ppm)
# ------------------------------------------------------------------

_PCT_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1),
d AS (
  SELECT day, r, r - LAG(r) OVER (ORDER BY day) AS diff,
         LAG(r) OVER (ORDER BY day) AS prev
  FROM daily)
SELECT CAST(day AS BIGINT) AS day, r, CAST(diff AS BIGINT) AS diff,
       CASE WHEN diff >= 0 THEN CAST(diff * 1000000 // prev AS BIGINT)
            ELSE -CAST((-diff) * 1000000 // prev AS BIGINT)
       END AS change_ppm
FROM d WHERE diff IS NOT NULL AND prev > 0
ORDER BY day
"""


@query("q_window_pct_change", oracle=_PCT_ORACLE)
def q_window_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue change in ppm — the elementary momentum
    delta under every dashboard.  The division is SIGN-SAFE truncated:
    DuckDB's ``//`` floors negatives while Spark's ``DIV`` truncates
    toward zero, so the quotient is taken on |diff| and the sign
    re-applied (the q_sim_knn_classify treatment) — identical in both
    engines for either sign.

    Scale: one LAG over the calendar-bounded daily census."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        )
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r")
    )
    wd = Window.orderBy("day")
    d = daily.select(
        F.col("day").cast("long").alias("day"),
        "r",
        (F.col("r") - F.lag("r").over(wd)).cast("long").alias("diff"),
        F.lag("r").over(wd).alias("prev"),
    ).where(F.col("diff").isNotNull() & (F.col("prev") > 0))
    return d.select(
        "day",
        "r",
        "diff",
        F.when(
            F.col("diff") >= 0,
            F.expr("CAST(diff * 1000000 DIV prev AS BIGINT)"),
        )
        .otherwise(-F.expr("CAST((-diff) * 1000000 DIV prev AS BIGINT)"))
        .alias("change_ppm"),
    ).orderBy("day")


# ------------------------------------------------------------------
# Seasonal-naive forecast baseline (t − 7 days)
# ------------------------------------------------------------------

_NAIVE_ORACLE = f"""
WITH daily AS ({DAILY_ORDERS_SQL}),
j AS (
  SELECT a.day, a.r, b.r AS pred
  FROM daily a JOIN daily b ON a.day = b.day + 7)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ABS(r - pred)) AS BIGINT) AS mae_sum_dollars,
       CAST(SUM(pred) AS BIGINT) AS pred_sum_dollars,
       CAST(SUM(ABS(r - pred)) * 1000000 // SUM(pred) AS BIGINT)
         AS wape_ppm
FROM j
"""


@query("q_window_forecast_naive", oracle=_NAIVE_ORACLE)
def q_window_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline: predict each day's revenue
    with the value 7 CALENDAR days earlier (an equi-join on day−7,
    not a 7-ROW lag — row lags slip on calendar gaps), scored by
    exact MAE and WAPE in ppm (Σ|err|/Σactual-of-predictor — the
    scale-free error every production forecaster reports and must
    beat).  All integer dollars; the division is positive.

    Scale: a self-equi-join of the calendar-bounded daily census on
    a shifted key — broadcastable at any corpus size."""
    daily = daily_orders(spark, sf_dir)
    a = daily.select("day", "r")
    b = daily.select(
        (F.col("day") + 7).alias("day"), F.col("r").alias("pred")
    )
    j = a.join(b, "day")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.abs(F.col("r") - F.col("pred")))
        .cast("long")
        .alias("mae_sum_dollars"),
        F.sum("pred").cast("long").alias("pred_sum_dollars"),
        F.expr(
            "CAST(SUM(ABS(r - pred)) * 1000000 DIV SUM(pred) AS BIGINT)"
        ).alias("wape_ppm"),
    )


# ------------------------------------------------------------------
# MACD on the daily revenue series (dyadic truncated-stencil EMAs)
# ------------------------------------------------------------------

#: fast EMA: α = 1/2, depth 8 (the q_window_ewma geometry);
#: slow EMA: α = 1/4, depth 16; signal: α = 1/2 depth 8 over MACD.
_MACD_FAST = [(j, 0.5 ** (j + 1)) for j in range(8)]


_MACD_SLOW = [(j, 0.25 * 0.75 ** j) for j in range(16)]


_MACD_SIG = [(j, 0.5 ** (j + 1)) for j in range(8)]


def _stencil_sql(col: str, taps, order: str) -> str:
    return " + ".join(
        f"COALESCE(LAG({col}, {j}) OVER ({order}), 0.0) * {wgt!r}"
        for j, wgt in taps
    )


_MACD_DAILY = """
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS DOUBLE) AS r
  FROM orders GROUP BY 1
"""


_MACD_ORACLE = f"""
WITH daily AS ({_MACD_DAILY}),
m AS (
  SELECT day,
         ({_stencil_sql('r', _MACD_FAST, 'ORDER BY day')})
         - ({_stencil_sql('r', _MACD_SLOW, 'ORDER BY day')}) AS macd
  FROM daily),
sgn AS (
  SELECT day, macd,
         ({_stencil_sql('macd', _MACD_SIG, 'ORDER BY day')}) AS signal
  FROM m)
SELECT day,
       CAST(FLOOR(macd * 1000000 + 0.5) AS BIGINT) AS macd_micros,
       CAST(FLOOR(signal * 1000000 + 0.5) AS BIGINT) AS signal_micros,
       CASE WHEN macd > signal
              AND LAG(macd) OVER (ORDER BY day)
                  <= LAG(signal) OVER (ORDER BY day) THEN 1
            WHEN macd < signal
              AND LAG(macd) OVER (ORDER BY day)
                  >= LAG(signal) OVER (ORDER BY day) THEN -1
            ELSE 0 END AS crossover
FROM sgn
ORDER BY day
"""


@query("q_window_macd", oracle=_MACD_ORACLE)
def q_window_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD momentum indicator on the daily revenue series: fast EMA
    (dyadic α=½, depth 8 — the q_window_ewma geometry) minus slow EMA
    (α=¼, depth 16), a signal EMA over the MACD line, and ±1
    golden/death-cross flags where the lines cross.  Truncated-
    stencil EMAs keep the op a FIXED lag stencil (no unbounded
    recursion); every coefficient is a shared literal and every sum
    is spelled in one left-to-right expression, so both engines
    evaluate the identical IEEE sequence; results ship as floored
    integer micros (the BM25 trick) to kill representation drift.

    Scale: three stacked windows over the calendar-bounded daily
    census (~2.4k rows at any SF) — the fact scan aggregates once,
    map-side combined; the stencil is streaming-ready (a 16-value
    ring buffer per key, the q_window_ewma note)."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01') AS BIGINT)")
        .alias("day")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("double")
        .alias("r")
    )
    w = Window.orderBy("day")

    def _stencil(col, taps):
        expr = None
        for j, wgt in taps:
            t = F.coalesce(F.lag(col, j).over(w), F.lit(0.0)) * F.lit(wgt)
            expr = t if expr is None else expr + t
        return expr

    m = daily.select(
        "day",
        "r",
        (_stencil("r", _MACD_FAST) - _stencil("r", _MACD_SLOW)).alias("macd"),
    )
    sgn = m.select(
        "day", "macd", _stencil("macd", _MACD_SIG).alias("signal")
    )
    cross = (
        F.when(
            (F.col("macd") > F.col("signal"))
            & (F.lag("macd").over(w) <= F.lag("signal").over(w)),
            1,
        )
        .when(
            (F.col("macd") < F.col("signal"))
            & (F.lag("macd").over(w) >= F.lag("signal").over(w)),
            -1,
        )
        .otherwise(0)
    )
    return sgn.select(
        "day",
        F.floor(F.col("macd") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("macd_micros"),
        F.floor(F.col("signal") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("signal_micros"),
        cross.alias("crossover"),
    ).orderBy("day")


# ------------------------------------------------------------------
# Stochastic oscillator %K / %D on daily revenue
# ------------------------------------------------------------------

_ST_P = 14  # lookback bars for %K


_STOCH_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
w AS (
  SELECT day, r,
         COUNT(*) OVER win AS n_win,
         MIN(r) OVER win AS mn,
         MAX(r) OVER win AS mx
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN {_ST_P - 1} PRECEDING
                 AND CURRENT ROW)),
k AS (
  SELECT day, r, mn, mx,
         CASE WHEN n_win < {_ST_P} OR mx = mn THEN NULL
              ELSE (1000000 * (r - mn)) // (mx - mn) END AS k_ppm
  FROM w),
d AS (
  SELECT day, r, mn, mx, k_ppm,
         LAG(k_ppm, 1) OVER (ORDER BY day) AS k1,
         LAG(k_ppm, 2) OVER (ORDER BY day) AS k2
  FROM k)
SELECT CAST(day AS BIGINT) AS day, r,
       CAST(mn AS BIGINT) AS mn, CAST(mx AS BIGINT) AS mx,
       CAST(k_ppm AS BIGINT) AS k_ppm,
       CAST(CASE WHEN k_ppm IS NULL OR k1 IS NULL OR k2 IS NULL
            THEN NULL ELSE (k_ppm + k1 + k2) // 3 END AS BIGINT) AS d_ppm
FROM d ORDER BY day
"""


@query("q_window_stochastic", oracle=_STOCH_ORACLE)
def q_window_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator on the daily revenue series: %K =
    (close − min₁₄)/(max₁₄ − min₁₄) in exact ppm over a 14-bar rolling
    window (NULL until the window fills or when it is flat — the
    q_window_rsi degenerate discipline), and %D = the 3-bar average
    of %K as integer division over the ppm values (NULL until three
    %K values exist).  Everything is integer, so the trajectory
    hash-matches bit-for-bit.

    Scale: the series is CALENDAR-bounded (one row per day at any
    SF); the fact table is touched once by the daily census — the
    q_window_rsi shape with a second cheap window."""
    daily = _daily_spark(spark, sf_dir)
    win = Window.orderBy("day").rowsBetween(-(_ST_P - 1), 0)
    w = daily.select(
        F.col("day").cast("long").alias("day"),
        "r",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.min("r").over(win).alias("mn"),
        F.max("r").over(win).alias("mx"),
    )
    k = w.select(
        "day",
        "r",
        F.col("mn").cast("long").alias("mn"),
        F.col("mx").cast("long").alias("mx"),
        F.expr(
            f"CASE WHEN n_win < {_ST_P} OR mx = mn THEN NULL"
            " ELSE (1000000 * (r - mn)) DIV (mx - mn) END"
        ).alias("k_ppm"),
    )
    wl = Window.orderBy("day")
    d = k.select(
        "day",
        "r",
        "mn",
        "mx",
        "k_ppm",
        F.lag("k_ppm", 1).over(wl).alias("k1"),
        F.lag("k_ppm", 2).over(wl).alias("k2"),
    )
    return d.select(
        "day",
        "r",
        "mn",
        "mx",
        F.col("k_ppm").cast("long").alias("k_ppm"),
        F.expr(
            "CAST(CASE WHEN k_ppm IS NULL OR k1 IS NULL OR k2 IS NULL"
            " THEN NULL ELSE (k_ppm + k1 + k2) DIV 3 END AS BIGINT)"
        ).alias("d_ppm"),
    ).orderBy("day")


# ------------------------------------------------------------------
# Aroon up/down via the integer argmax-key trick
# ------------------------------------------------------------------

_AR_P = 14  # Aroon period: window = p+1 bars, bars-since ∈ [0, p]


_AR_SHIFT = 100_000  # > any bar index (calendar days since epoch)


_AROON_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
idx AS (
  SELECT day, r, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
w AS (
  SELECT day, r, rn,
         COUNT(*) OVER win AS n_win,
         MAX(r * {_AR_SHIFT} + rn) OVER win AS key_hi,
         MIN(r * {_AR_SHIFT} + ({_AR_SHIFT} - 1 - rn)) OVER win AS key_lo
  FROM idx
  WINDOW win AS (ORDER BY day ROWS BETWEEN {_AR_P} PRECEDING
                 AND CURRENT ROW))
SELECT CAST(day AS BIGINT) AS day, r,
       CAST(CASE WHEN n_win < {_AR_P + 1} THEN NULL
            ELSE rn - key_hi % {_AR_SHIFT} END AS BIGINT) AS bars_since_hi,
       CAST(CASE WHEN n_win < {_AR_P + 1} THEN NULL
            ELSE rn - ({_AR_SHIFT} - 1 - key_lo % {_AR_SHIFT}) END
            AS BIGINT) AS bars_since_lo,
       CAST(CASE WHEN n_win < {_AR_P + 1} THEN NULL
            ELSE (1000000 * ({_AR_P} - (rn - key_hi % {_AR_SHIFT})))
                 // {_AR_P} END AS BIGINT) AS aroon_up_ppm,
       CAST(CASE WHEN n_win < {_AR_P + 1} THEN NULL
            ELSE (1000000 * ({_AR_P} - (rn - ({_AR_SHIFT} - 1
                 - key_lo % {_AR_SHIFT})))) // {_AR_P} END
            AS BIGINT) AS aroon_dn_ppm
FROM w ORDER BY day
"""


@query("q_window_aroon", oracle=_AROON_ORACLE)
def q_window_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down over a 14-bar window on the daily revenue
    series: "bars since the rolling high/low" extracted WITHOUT a
    self-join by the integer argmax-key trick — MAX(r·SHIFT + rn)
    carries the index of the window maximum (ties resolve to the most
    recent bar, the charting convention), and the symmetric
    MIN(r·SHIFT + (SHIFT−1−rn)) does the same for the minimum.
    Aroon = (p − bars_since)/p in exact ppm; rows before the window
    fills report NULL.  r·SHIFT stays inside int64 to ~9×10¹³ daily
    revenue units.

    Scale: calendar-bounded series, two rolling windows on one sort —
    no join, no second exchange."""
    daily = _daily_spark(spark, sf_dir)
    idx = daily.select(
        F.col("day").cast("long").alias("day"),
        "r",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    win = Window.orderBy("day").rowsBetween(-_AR_P, 0)
    w = idx.select(
        "day",
        "r",
        "rn",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.max(F.expr(f"r * {_AR_SHIFT} + rn")).over(win).alias("key_hi"),
        F.min(F.expr(f"r * {_AR_SHIFT} + ({_AR_SHIFT} - 1 - rn)"))
        .over(win)
        .alias("key_lo"),
    )
    full = f"n_win < {_AR_P + 1}"
    bars_hi = f"rn - key_hi % {_AR_SHIFT}"
    bars_lo = f"rn - ({_AR_SHIFT} - 1 - key_lo % {_AR_SHIFT})"
    return w.select(
        "day",
        "r",
        F.expr(
            f"CAST(CASE WHEN {full} THEN NULL ELSE {bars_hi} END AS BIGINT)"
        ).alias("bars_since_hi"),
        F.expr(
            f"CAST(CASE WHEN {full} THEN NULL ELSE {bars_lo} END AS BIGINT)"
        ).alias("bars_since_lo"),
        F.expr(
            f"CAST(CASE WHEN {full} THEN NULL ELSE"
            f" (1000000 * ({_AR_P} - ({bars_hi}))) DIV {_AR_P} END AS BIGINT)"
        ).alias("aroon_up_ppm"),
        F.expr(
            f"CAST(CASE WHEN {full} THEN NULL ELSE"
            f" (1000000 * ({_AR_P} - ({bars_lo}))) DIV {_AR_P} END AS BIGINT)"
        ).alias("aroon_dn_ppm"),
    ).orderBy("day")


# ------------------------------------------------------------------
# On-balance volume
# ------------------------------------------------------------------

_OBV_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r,
         CAST(COUNT(*) AS BIGINT) AS vol
  FROM orders GROUP BY 1),
s AS (
  SELECT day, r, vol,
         CASE WHEN LAG(r) OVER (ORDER BY day) IS NULL THEN 0
              WHEN r > LAG(r) OVER (ORDER BY day) THEN 1
              WHEN r < LAG(r) OVER (ORDER BY day) THEN -1
              ELSE 0 END AS sgn
  FROM daily)
SELECT CAST(day AS BIGINT) AS day, r, vol,
       CAST(sgn AS BIGINT) AS sgn,
       CAST(SUM(sgn * vol) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS obv
FROM s ORDER BY day
"""


@query("q_window_obv", oracle=_OBV_ORACLE)
def q_window_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over the daily series: the cumulative sum of
    order volume signed by the day-over-day revenue direction (+1 up,
    −1 down, 0 flat or first bar) — the classic volume-confirmation
    indicator, exactly integer end-to-end.

    Scale: one daily census of the fact table, one lag and one
    running-sum window over the calendar-bounded series."""
    o = T(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')")
        .cast("long")
        .alias("day")
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r"),
        F.count(F.lit(1)).cast("long").alias("vol"),
    )
    wl = Window.orderBy("day")
    s = daily.select(
        "day",
        "r",
        "vol",
        F.expr(
            "CASE WHEN LAG(r) OVER (ORDER BY day) IS NULL THEN 0"
            " WHEN r > LAG(r) OVER (ORDER BY day) THEN 1"
            " WHEN r < LAG(r) OVER (ORDER BY day) THEN -1"
            " ELSE 0 END"
        ).alias("sgn"),
    )
    return s.select(
        "day",
        "r",
        "vol",
        F.col("sgn").cast("long").alias("sgn"),
        F.sum(F.expr("sgn * vol"))
        .over(wl.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("obv"),
    ).orderBy("day")


# ------------------------------------------------------------------
# Periodicity by folding: exact balanced ANOVA at candidate periods
# ------------------------------------------------------------------

_FP_PERIODS = [5, 7, 9]


def _daily_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(di, cnt)``: events per epoch day over the gap-free
    [first, last] day spine; ``cnt`` is NULL on a day without events."""
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
    return spine.join(daily, "di", "left")


_FOLD_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {US_PER_DAY} AS di,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1),
b AS (SELECT MIN(di) AS lo, MAX(di) AS hi FROM daily),
spine AS (SELECT UNNEST(generate_series(lo, hi)) AS di FROM b),
series AS (
  SELECT ROW_NUMBER() OVER (ORDER BY s.di) AS rn,
         COALESCE(d.cnt, 0) AS x
  FROM spine s LEFT JOIN daily d ON s.di = d.di),
grid AS (SELECT UNNEST([{", ".join(str(p) for p in _FP_PERIODS)}]) AS p),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM series),
folded AS (
  SELECT g.p, (s.rn - 1) % g.p AS phase, s.x
  FROM grid g CROSS JOIN total t JOIN series s
    ON s.rn <= (t.n // g.p) * g.p),
phases AS (
  SELECT p, phase,
         CAST(SUM(x) AS BIGINT) AS sj,
         CAST(SUM(x * x) AS BIGINT) AS qj,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM folded GROUP BY p, phase),
agg AS (
  SELECT p,
         CAST(MAX(m) AS BIGINT) AS m,
         CAST(SUM(sj) AS BIGINT) AS s,
         CAST(SUM(qj) AS BIGINT) AS q,
         CAST(SUM(sj * sj) AS BIGINT) AS sj2
  FROM phases GROUP BY p)
SELECT CAST(p AS BIGINT) AS p, m, s,
       CAST(p * sj2 - s * s AS BIGINT) AS ssb_num,
       CAST(p * m * q - s * s AS BIGINT) AS sst_num,
       CAST(CASE WHEN p * m * q - s * s = 0 THEN NULL
            ELSE (1000000 * (p * sj2 - s * s)) // (p * m * q - s * s) END
            AS BIGINT) AS explained_ppm
FROM agg ORDER BY p
"""


@query("q_timeseries_fold_periodicity", oracle=_FOLD_ORACLE)
def q_timeseries_fold_periodicity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Periodicity detection WITHOUT trigonometry: fold the gap-filled
    daily event-count series at candidate periods {5, 7, 9} —
    complete cycles only, so every phase holds exactly m days — and
    report the between-phase share of total variance.  Balanced
    groups clear every denominator: scaled by p·m, SSB = p·Σsⱼ² − s²
    and SST = p·m·Σx² − s² are exact int64, and the explained share
    is one integer ppm division (a zero-variance series reports NULL
    identically).  The ANOVA-by-phase formulation sidesteps the
    cross-libm cos/sin hazard a DFT periodogram would carry.

    Scale: the series is CALENDAR-bounded, so the 3-row period grid
    joined against it (with the ≤-truncation predicate) is a bounded
    nested-loop by construction — the q_events_survival pattern; the
    fact table is touched once by the daily census."""
    series = (
        _daily_event_counts(spark, sf_dir)
        .select(
            F.row_number().over(Window.orderBy("di")).alias("rn"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("x"),
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    grid = spark.createDataFrame([(p,) for p in _FP_PERIODS], "p long")
    folded = (
        F.broadcast(grid)
        .join(series, F.expr("rn <= (n DIV p) * p"))
        .select("p", F.expr("(rn - 1) % p").alias("phase"), "x")
    )
    phases = folded.groupBy("p", "phase").agg(
        F.sum("x").cast("long").alias("sj"),
        F.sum(F.expr("x * x")).cast("long").alias("qj"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    agg = phases.groupBy("p").agg(
        F.max("m").cast("long").alias("m"),
        F.sum("sj").cast("long").alias("s"),
        F.sum("qj").cast("long").alias("q"),
        F.sum(F.expr("sj * sj")).cast("long").alias("sj2"),
    )
    return agg.select(
        F.col("p").cast("long").alias("p"),
        "m",
        "s",
        F.expr("CAST(p * sj2 - s * s AS BIGINT)").alias("ssb_num"),
        F.expr("CAST(p * m * q - s * s AS BIGINT)").alias("sst_num"),
        F.expr(
            "CAST(CASE WHEN p * m * q - s * s = 0 THEN NULL"
            " ELSE (1000000 * (p * sj2 - s * s)) DIV (p * m * q - s * s) END"
            " AS BIGINT)"
        ).alias("explained_ppm"),
    ).orderBy("p")


# ------------------------------------------------------------------
# MASE: seasonal-naive error scaled by the one-step-naive error
# ------------------------------------------------------------------

_MASE_S = 7  # seasonal lag


_MASE_ORACLE = f"""
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
         LAG(x, {_MASE_S}) OVER (ORDER BY di) AS xs,
         LAG(x, 1) OVER (ORDER BY di) AS x1
  FROM series),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN xs IS NOT NULL THEN ABS(x - xs) ELSE 0 END)
              AS BIGINT) AS err_seasonal,
         CAST(SUM(CASE WHEN x1 IS NOT NULL THEN ABS(x - x1) ELSE 0 END)
              AS BIGINT) AS err_naive
  FROM lagged)
SELECT n, err_seasonal, err_naive,
       CAST(CASE WHEN n <= {_MASE_S} OR err_naive = 0 THEN NULL
            ELSE (1000000 * err_seasonal * (n - 1))
                 // (err_naive * (n - {_MASE_S})) END AS BIGINT) AS mase_ppm
FROM agg
"""


@query("q_timeseries_mase", oracle=_MASE_ORACLE)
def q_timeseries_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE for the weekly seasonal-naive forecast on the gap-filled
    daily event-count series: mean |xₜ − xₜ₋₇| scaled by the in-sample
    one-step-naive mean |xₜ − xₜ₋₁| — the scale-free forecast-quality
    yardstick that complements q_window_forecast_naive's raw MAE/WAPE.
    Both error sums are exact int64, and the ratio is one
    cross-multiplied integer ppm: (1e6·Σ₇·(n−1)) / (Σ₁·(n−7)).
    Degenerate inputs (series shorter than the season, or a constant
    series with zero naive error) report NULL identically.

    Scale: calendar-bounded series, two lag windows on one sort; the
    fact table is touched once by the daily census."""
    series = _daily_event_counts(spark, sf_dir).select(
        "di", F.coalesce(F.col("cnt"), F.lit(0)).alias("x")
    )
    wl = Window.orderBy("di")
    lagged = series.select(
        "x",
        F.lag("x", _MASE_S).over(wl).alias("xs"),
        F.lag("x", 1).over(wl).alias("x1"),
    )
    agg = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.expr("CASE WHEN xs IS NOT NULL THEN ABS(x - xs) ELSE 0 END")
        )
        .cast("long")
        .alias("err_seasonal"),
        F.sum(
            F.expr("CASE WHEN x1 IS NOT NULL THEN ABS(x - x1) ELSE 0 END")
        )
        .cast("long")
        .alias("err_naive"),
    )
    return agg.select(
        "n",
        "err_seasonal",
        "err_naive",
        F.expr(
            f"CAST(CASE WHEN n <= {_MASE_S} OR err_naive = 0 THEN NULL"
            f" ELSE (1000000 * err_seasonal * (n - 1))"
            f" DIV (err_naive * (n - {_MASE_S})) END AS BIGINT)"
        ).alias("mase_ppm"),
    )


# ------------------------------------------------------------------
# ATR over daily OHLC bars (dyadic EMA stencil)
# ------------------------------------------------------------------

_ATR_DEPTH = 8


_ATR_STENCIL_SQL = " + ".join(
    f"CAST(COALESCE(LAG(tr, {j}) OVER (ORDER BY di), 0) AS DOUBLE)"
    f" * {0.5 ** (j + 1)!r}"
    for j in range(_ATR_DEPTH)
)


_ATR_ORACLE = f"""
WITH e AS (
  SELECT epoch_us(ts) // {US_PER_DAY} AS di,
         CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v,
         epoch_us(ts) AS us, event_id
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT di, v,
         ROW_NUMBER() OVER (PARTITION BY di ORDER BY us, event_id)
           AS rk_open,
         ROW_NUMBER() OVER (PARTITION BY di ORDER BY us DESC, event_id DESC)
           AS rk_close
  FROM e),
bars AS (
  SELECT di,
         MAX(CASE WHEN rk_open = 1 THEN v END) AS open,
         MAX(v) AS high,
         MIN(v) AS low,
         MAX(CASE WHEN rk_close = 1 THEN v END) AS close
  FROM r GROUP BY di),
tr AS (
  SELECT di, high, low, close,
         CASE WHEN LAG(close) OVER (ORDER BY di) IS NULL THEN high - low
              ELSE GREATEST(high - low,
                            ABS(high - LAG(close) OVER (ORDER BY di)),
                            ABS(low - LAG(close) OVER (ORDER BY di))) END
           AS tr
  FROM bars)
SELECT CAST(di AS BIGINT) AS di, CAST(tr AS BIGINT) AS tr_micros,
       CAST(FLOOR(({_ATR_STENCIL_SQL}) + 0.5) AS BIGINT) AS atr_micros
FROM tr ORDER BY di
"""


@query("q_window_atr", oracle=_ATR_ORACLE)
def q_window_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range over daily OHLC bars of the event-value
    series: TR = max(high−low, |high−prev close|, |low−prev close|)
    in exact micros (first bar degrades to high−low), smoothed by the
    exact dyadic EMA stencil — weights 2⁻¹..2⁻⁸ scale IEEE mantissas
    exactly and the summation order is pinned, the q_window_ewma
    twin-exactness recipe — so the volatility trajectory
    hash-matches bit-for-bit.  The Wilder 1/14 smoothing constant is
    deliberately replaced by the dyadic α = ½ ladder: same estimator
    family, cross-engine exact.

    Scale: one daily-bar census of the fact scan (rank/min/max per
    calendar day), then two windows over the calendar-bounded bar
    series."""
    ev = T(spark, sf_dir, "events").where(F.col("value").isNotNull())
    e = ev.select(
        F.expr(f"(ts div 1000) div {US_PER_DAY}").alias("di"),
        F.expr("CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)").alias("v"),
        F.expr("ts div 1000").alias("us"),
        "event_id",
    )
    wo = Window.partitionBy("di").orderBy("us", "event_id")
    wc = Window.partitionBy("di").orderBy(F.desc("us"), F.desc("event_id"))
    r = e.select(
        "di",
        "v",
        F.row_number().over(wo).alias("rk_open"),
        F.row_number().over(wc).alias("rk_close"),
    )
    bars = r.groupBy("di").agg(
        F.max(F.when(F.col("rk_open") == 1, F.col("v"))).alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.max(F.when(F.col("rk_close") == 1, F.col("v"))).alias("close"),
    )
    tr = bars.select(
        "di",
        F.expr(
            "CASE WHEN LAG(close) OVER (ORDER BY di) IS NULL THEN high - low"
            " ELSE GREATEST(high - low,"
            " ABS(high - LAG(close) OVER (ORDER BY di)),"
            " ABS(low - LAG(close) OVER (ORDER BY di))) END"
        ).alias("tr"),
    )
    stencil = " + ".join(
        f"CAST(COALESCE(LAG(tr, {j}) OVER (ORDER BY di), 0) AS DOUBLE)"
        f" * {0.5 ** (j + 1)!r}"
        for j in range(_ATR_DEPTH)
    )
    return tr.select(
        F.col("di").cast("long").alias("di"),
        F.col("tr").cast("long").alias("tr_micros"),
        F.expr(
            f"CAST(FLOOR(({stencil}) + 0.5) AS BIGINT)"
        ).alias("atr_micros"),
    ).orderBy("di")


# ------------------------------------------------------------------
# Ulcer Index of the daily revenue trajectory
# ------------------------------------------------------------------

_ULCER_ORACLE = """
WITH daily AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r
  FROM orders GROUP BY 1),
dd AS (
  SELECT day, r,
         MAX(r) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM daily),
pct AS (
  SELECT CASE WHEN peak = 0 THEN 0
          ELSE CAST((1000000 * (peak - r)) // peak AS BIGINT) END AS dd_ppm
  FROM dd),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dd_ppm * dd_ppm) AS BIGINT) AS ss,
         CAST(MAX(dd_ppm) AS BIGINT) AS max_dd_ppm
  FROM pct)
SELECT n, max_dd_ppm,
       CASE WHEN n = 0 THEN NULL
            ELSE SQRT(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) END
         AS ulcer_ppm
FROM agg
"""


@query("q_window_ulcer_index", oracle=_ULCER_ORACLE)
def q_window_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer Index of the daily revenue LEVEL: RMS of the percentage
    decline from the running best day — the downside-risk summary
    that penalizes DEEP and LONG slumps where max-drawdown
    (q_window_drawdown) sees only the deepest point.  (The trajectory
    is the daily level, not the cumulative sum — a cumulative revenue
    curve never falls, which would make the index trivially zero.)
    Drawdowns are exact integer ppm off the running-max window; only
    the final RMS square root is floating point, in pinned order.

    Scale: calendar-bounded series, two stacked windows on one sort
    (the q_window_cusum shape) plus one 1-row reduce."""
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
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        "r", F.max("r").over(wrun).alias("peak")
    )
    pct = dd.select(
        F.expr(
            "CASE WHEN peak = 0 THEN 0"
            " ELSE CAST((1000000 * (peak - r)) DIV peak AS BIGINT) END"
        ).alias("dd_ppm")
    )
    agg = pct.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("dd_ppm * dd_ppm")).cast("long").alias("ss"),
        F.max("dd_ppm").cast("long").alias("max_dd_ppm"),
    )
    return agg.select(
        "n",
        "max_dd_ppm",
        F.expr(
            "CASE WHEN n = 0 THEN NULL"
            " ELSE SQRT(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)) END"
        ).alias("ulcer_ppm"),
    )
