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
