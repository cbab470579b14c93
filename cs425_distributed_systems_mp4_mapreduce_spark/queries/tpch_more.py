"""TPC-H depth pack: Q2/Q7/Q8/Q9/Q10/Q11/Q12/Q13/Q14/Q15/Q16/Q17/Q18/
Q19/Q20/Q21/Q22 adapted to the driver testdata schema (no partsupp /
l_shipmode / l_commitdate / c_phone columns — substitutions documented
per query; lineitem serves as the part↔supplier bridge where the spec
uses partsupp).  With Q1≈q_agg_pricing and Q3-Q6 (at the end of this
module), every one of the 22 TPC-H query shapes has an adapted,
fully-oracled form in the registry.

These widen the relational surface beyond the reference's own SQL
frontend (regex filter + equi-join — SURVEY.md §2.1 A5/A6) with the
classic decision-support shapes a warehouse engine must handle:
nation-pair self-joins, market-share ratios, group-count histograms,
scalar-subquery thresholds, disjunctive predicate pushdown, and
anti-join "customers without orders".

Scale posture: every query keeps the plan you'd want at 100 TB —
selective dim filters push into scans, bounded dims broadcast, ratios
aggregate exact-decimal partials (one row crosses the final shuffle),
and every LIMIT is TakeOrderedAndProject with a unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parity import DEC, _dec2dbl, dsum, o_dec2dbl, o_dsum
from ..registry import query
from ..sources.tables import table as T


def _dcondsum(cond, col):
    """Exact-decimal conditional sum (Spark side): SUM(CASE WHEN cond
    THEN col ELSE 0 END) with the decimal detour, bit-identical to
    :func:`_o_dcondsum` on DuckDB.  Returns the bare column so callers
    can compose it into ratios before aliasing."""
    return _dec2dbl(F.sum(F.when(cond, col).otherwise(F.lit(0)).cast(DEC)))


def _o_dcondsum(cond: str, expr: str) -> str:
    return o_dec2dbl(f"SUM(CAST(CASE WHEN {cond} THEN ({expr}) ELSE 0 END AS DECIMAL(18,6)))")


_TS = lambda s: F.lit(s).cast("timestamp")  # noqa: E731


@query(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, {rev}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """.format(rev=o_dsum("volume", "revenue")),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional trade between a nation
    pair, by ship year.  The nation table joins TWICE under different
    roles (supplier's vs customer's) — both broadcast (25 rows at any
    SF), and the pair predicate prunes most of the fact join output
    before the final small-key aggregation."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume", "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           {num} / {den} AS mkt_share
    FROM (
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year ORDER BY o_year
    """.format(
        num=_o_dcondsum("supp_nation = 'NATION_3'", "volume"),
        den=o_dec2dbl("SUM(CAST(volume AS DECIMAL(18,6)))"),
    ),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of PROMO-part
    revenue sold into EUROPE customers, by order year.  The ratio of
    two exact-decimal sums computes in ONE aggregation pass (a
    conditional partial and a total partial share the same shuffle);
    the division happens on finished doubles, identically in both
    engines."""
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _TS("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _TS("1998-01-01 00:00:00"))
    )
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("cn_key"), "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vols = (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vols.groupBy("o_year")
        .agg(
            (
                _dcondsum(F.col("supp_nation") == "NATION_3", F.col("volume"))
                / _dec2dbl(F.sum(F.col("volume").cast(DEC)))
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name, {rev}, c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned items): top-20 customers by revenue lost to
    returns in a half-year window.  Adapted: no c_phone/address/comment
    columns exist, so the grouping key is the surviving customer
    attributes.  The returnflag filter pushes into the lineitem scan;
    the top-20 is TakeOrderedAndProject (unique c_custkey tiebreak)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _TS("1997-07-01 00:00:00"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'fast'
                WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'normal'
                ELSE 'slow' END AS ship_bucket,
           COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ship_bucket ORDER BY ship_bucket
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority) adapted: the
    schema has no l_shipmode/l_commitdate/l_receiptdate, so lines
    bucket by ship LAG (days from order to ship: ≤30 fast, ≤90 normal,
    else slow) and the priority split is the classic high/low line
    count.  Conditional counts are count(CASE) — one pass, partial
    aggregation on both branches."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.when(lag <= 30, "fast").when(lag <= 90, "normal").otherwise("slow")
            .alias("ship_bucket"),
            high.alias("_high"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.count(F.when(F.col("_high"), 1)).alias("high_line_count"),
            F.count(F.when(~F.col("_high"), 1)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): two-level aggregation — orders
    per customer (left join keeps zero-order customers), then the
    histogram of those counts.  The second groupBy shuffles only
    |customers| pre-aggregated rows, and the histogram key space is
    tiny (max orders per customer)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT 100.0 * {promo} / {total} AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """.format(
        promo=_o_dcondsum("p_type = 'PROMO'", "l_extendedprice * (1 - l_discount)"),
        total=o_dec2dbl(
            "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))"
        ),
    ),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percent of one month's revenue
    from PROMO-type parts.  Single join + single aggregation; exactly
    one row crosses the final shuffle (two decimal partials)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-03-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1997-04-01 00:00:00"))
    )
    p = T(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * _dcondsum(F.col("p_type") == "PROMO", rev)
                / _dec2dbl(F.sum(rev.cast(DEC)))
            ).alias("promo_revenue")
        )
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {rev}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "total_revenue")),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    the supplier(s) achieving the maximum.  The scalar max comes from a
    1-row broadcast join against the aggregated (|suppliers|-row)
    revenue relation — no driver-side collect, no global window.
    Exact-decimal revenue makes the equality join against MAX safe
    (bit-identical on both engines)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1997-04-01 00:00:00"))
    )
    s = T(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT {rev} / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS t_partkey,
             0.2 * ({qsum} / COUNT(*)) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    ) t ON t_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND p_size < 15
      AND l_quantity < qty_threshold
    """.format(
        rev=o_dec2dbl("SUM(CAST(l_extendedprice AS DECIMAL(18,6)))"),
        qsum=o_dec2dbl("SUM(CAST(l_quantity AS DECIMAL(18,6)))"),
    ),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): lines whose quantity is
    under 20% of their part's average.  Adapted: p_container doesn't
    exist, so the part filter is brand + size.  The correlated AVG
    subquery becomes an explicit per-part aggregate joined back on
    l_partkey — the exact-decimal avg (sum/count on finished doubles)
    makes the `<` threshold comparison deterministic across engines.
    Scale shape: the per-part agg and the re-join co-partition on
    l_partkey, so AQE plans one shuffle reused by both sides."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15)
    )
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (_dec2dbl(F.sum(F.col("l_quantity").cast(DEC))) / F.count(F.lit(1)))
        ).alias("qty_threshold")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(thresh, li.l_partkey == thresh.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (_dec2dbl(F.sum(F.col("l_extendedprice").cast(DEC))) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_s,
           o_totalprice, sum_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN (
      SELECT l_orderkey AS big_orderkey, {qty}
      FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250
    ) big ON big_orderkey = o_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """.format(qty=o_dsum("l_quantity", "sum_qty")),
    headline=True,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds 250 (≈ top 1% at this data's distribution), top-100 by
    price.  The HAVING prunes on the aggregated relation BEFORE joining
    back to orders/customer — at scale the semi-join input shrinks from
    |orders| to the handful of jumbo orders."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_orderkey"))
        .agg(dsum("l_quantity", "sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.big_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").cast("long").alias("orderdate_s"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT {rev}, COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
           AND l_quantity BETWEEN 20 AND 40)
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): disjunctive (OR-of-ANDs) mixed
    predicates across both join sides.  Adapted: no l_shipmode /
    p_container, so the three branches mix brand+size (part side) with
    quantity bands (lineitem side).  Catalyst extracts the common
    l_quantity/p_size bounds where possible; the join itself stays an
    equi-join on partkey with the disjunction as a post-join filter —
    the shape that exercises predicate handling without turning the
    join into a cross product."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    branch = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(5, 20)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 40)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_tpch_q22",
    oracle="""
    SELECT n_name, COUNT(*) AS numcust, {bal}
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_nationkey IN (0, 3, 5, 8, 13, 17, 21)
      AND c_acctbal > (
        SELECT {avg} / COUNT(*) FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY n_name ORDER BY n_name
    """.format(
        bal=o_dsum("c_acctbal", "totacctbal"),
        avg=o_dec2dbl("SUM(CAST(c_acctbal AS DECIMAL(18,6)))"),
    ),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): rich-but-dormant customers
    — above-average positive balance, no orders since 1999 (this data
    has orders for essentially every customer, so "never ordered" would
    select nothing; the recency cutoff keeps the anti-join shape AND a
    non-empty result) — grouped by nation.  Adapted: no c_phone, so the
    country-code prefix filter becomes a nationkey IN-list and grouping
    is by n_name.  The scalar average broadcasts as a 1-row cross join;
    NOT EXISTS is a LEFT ANTI join (no per-customer subquery execution,
    one distributed anti join with the date filter pushed into the
    orders scan)."""
    c = T(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(0, 3, 5, 8, 13, 17, 21)
    )
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _TS("1999-01-01 00:00:00")
    )
    n = T(spark, sf_dir, "nation")
    avg_bal = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .agg(
            (_dec2dbl(F.sum(F.col("c_acctbal").cast(DEC))) / F.count(F.lit(1))).alias(
                "_avg_bal"
            )
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum("c_acctbal", "totacctbal"))
        .orderBy("n_name")
    )


@query(
    "q_tpch_q2",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(l_extendedprice / l_quantity) AS supplycost
      FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT partkey, MIN(supplycost) AS min_cost FROM ps GROUP BY partkey
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
           ps.supplycost AS supplycost
    FROM part
    JOIN ps   ON p_partkey = ps.partkey
    JOIN best ON best.partkey = ps.partkey AND ps.supplycost = best.min_cost
    JOIN supplier ON s_suppkey = ps.suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size < 10 AND p_type = 'LARGE'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each qualifying part, the
    supplier(s) offering it cheapest.  Adapted: no partsupp table, so
    the part↔supplier relation derives from lineitem history with
    observed unit price (extendedprice/quantity) as the supply cost.
    The correlated MIN subquery becomes a per-part aggregate joined
    back — both aggregates co-partition on partkey, so at scale this is
    one shuffle reused across the derive/min/rejoin chain, then
    broadcast joins to the dims.  s_suppkey appended to the spec's sort
    for a deterministic total order."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"))
    # rename the grouping key: ``best`` derives FROM ``ps``, so joining
    # best.partkey == ps.partkey would resolve both sides to the SAME
    # attribute (trivially true) — the classic self-join lineage trap
    best = ps.groupBy("partkey").agg(F.min("supplycost").alias("min_cost")).select(
        F.col("partkey").alias("bkey"), "min_cost"
    )
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_size") < 10) & (F.col("p_type") == "LARGE")
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    return (
        p.join(ps, p.p_partkey == ps.partkey)
        .join(
            best,
            (F.col("bkey") == F.col("partkey"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .join(s, ps.suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal",
            "n_name", "supplycost",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT n_name AS nation, o_year, {profit}
    FROM (
      SELECT n_name, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.8 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%ge%'
    ) profits
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """.format(profit=o_dsum("amount", "sum_profit")),
    headline=True,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit per supplier nation per
    year over parts matching a name pattern ('%ge%' — gear/gizmo/widget
    in this corpus's vocabulary).  Adapted: no
    ps_supplycost, so cost is modeled as 80% of p_retailprice — the
    shape (5-way join, LIKE filter, two-key agg) is what matters.  The
    LIKE pattern cannot push to parquet as a range but the scan stays
    column-pruned; nation broadcasts."""
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%ge%"))
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.8 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH stock AS (
      SELECT l_partkey AS partkey, {val}
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT partkey, value
    FROM stock
    WHERE value > (SELECT 2.0 * {tot} / COUNT(*) FROM stock)
    ORDER BY value DESC, partkey
    """.format(
        val=o_dsum("l_extendedprice * l_quantity", "value"),
        tot=o_dec2dbl("SUM(CAST(value AS DECIMAL(18,6)))"),
    ),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose inventory value from
    one nation's suppliers exceeds TWICE the mean per-part value —
    relative to the mean (not a fixed fraction of the total) so the
    predicate selects a stable tail at every scale factor.
    Adapted: value = Σ extendedprice·quantity from lineitem instead of
    ps_supplycost·ps_availqty.  The scalar total reuses the SAME
    aggregated relation via a 1-row broadcast cross join (no second
    scan of lineitem), and the threshold comparison runs on finished
    exact-decimal doubles on both engines."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    stock = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity"), "value"))
    )
    thresh = stock.agg(
        (
            F.lit(2.0)
            * _dec2dbl(F.sum(F.col("value").cast(DEC)))
            / F.count(F.lit(1))
        ).alias("_thr")
    )
    return (
        stock.crossJoin(F.broadcast(thresh))
        .filter(F.col("value") > F.col("_thr"))
        .select("partkey", "value")
        .orderBy(F.desc("value"), "partkey")
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct supplier count
    per (brand, type, size) bucket, excluding blacklisted suppliers.
    Adapted: the part↔supplier bridge is lineitem; the 'complaints'
    comment filter becomes negative-balance suppliers.  NOT IN over a
    column with no NULLs plans as a null-aware anti join; the distinct
    count shuffles (group keys + suppkey) once."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(bad, li.l_suppkey == bad.s_suppkey, "anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q_tpch_q20",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey AS suppkey, {qty}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name, qty_shipped
    FROM supplier
    JOIN shipped ON s_suppkey = suppkey
    JOIN nation  ON s_nationkey = n_nationkey
    WHERE qty_shipped > 100.0
    ORDER BY s_suppkey
    """.format(qty=o_dsum("l_quantity", "qty_shipped")),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers who moved more
    than a threshold of SMALL-type parts in a year.  Adapted: no
    partsupp/availqty, so the 50%-of-stock predicate becomes an
    absolute shipped-quantity threshold over the same nested IN +
    per-supplier aggregate shape.  The part IN-list is a semi join
    (broadcast at this selectivity); HAVING prunes before the dim
    joins."""
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL").select(
        "p_partkey"
    )
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    shipped = (
        li.join(p, li.l_partkey == p.p_partkey, "semi")
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(dsum("l_quantity", "qty_shipped"))
        .filter(F.col("qty_shipped") > 100.0)
    )
    return (
        s.join(shipped, s.s_suppkey == shipped.suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "qty_shipped")
        .orderBy("s_suppkey")
    )


@query(
    "q_tpch_q21",
    oracle="""
    WITH order_span AS (
      SELECT l_orderkey AS okey,
             MAX(l_shipdate) AS last_ship,
             COUNT(DISTINCT l_suppkey) AS n_supps
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(DISTINCT l.l_orderkey) AS numwait
    FROM lineitem l
    JOIN order_span ON okey = l.l_orderkey
    JOIN supplier   ON l.l_suppkey = s_suppkey
    JOIN orders     ON l.l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
      AND n_supps > 1
      AND l.l_shipdate = last_ship
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l.l_orderkey
          AND l2.l_suppkey <> l.l_suppkey
          AND l2.l_shipdate = last_ship)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finalized
    multi-supplier orders, the supplier who ALONE shipped last.
    Adapted: no l_receiptdate/commitdate, so lateness = shipping on
    the order's final ship date, sole-blame = no other supplier shipped
    that day (the spec's EXISTS/NOT EXISTS pair over other lineitems,
    re-expressed on ship dates).  Both correlated subqueries fold into
    ONE per-order aggregate (max date + distinct-supplier count) plus a
    last-day supplier-count check — at scale that is two shuffles on
    l_orderkey instead of two per-row subquery probes."""
    li = T(spark, sf_dir, "lineitem")
    span = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.max("l_shipdate").alias("last_ship"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )
    # suppliers shipping on each order's last day; sole-blame = exactly
    # one distinct supplier on that day
    last_day = (
        li.join(
            span,
            (li.l_orderkey == span.okey) & (li.l_shipdate == span.last_ship),
        )
        .filter(F.col("n_supps") > 1)
    )
    sole = (
        last_day.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_last"))
        .filter(F.col("n_last") == 1)
        .select(F.col("l_orderkey").alias("sole_okey"))
    )
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = T(spark, sf_dir, "supplier")
    return (
        last_day.join(sole, last_day.l_orderkey == sole.sole_okey)
        .join(o, last_day.l_orderkey == o.o_orderkey, "semi")
        .join(s, last_day.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count_distinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey, {rev}, CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_s, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, orderdate_s, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) adapted to this schema: selective
    dim filter → two shuffled joins → grouped revenue → top-10.  The
    unique l_orderkey tiebreak makes the LIMIT deterministic.  Scale
    shape: the segment filter pushes into the customer scan, both date
    filters push into their scans, and the top-10 is
    TakeOrderedAndProject — no global sort."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("timestamp").cast("long").alias("orderdate_s"), "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "orderdate_s", "o_orderpriority")
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking) shape: EXISTS-correlated
    subquery with a non-equi time condition — Catalyst rewrites it to a
    LEFT SEMI join on l_orderkey with the date predicate as join
    condition, so the lineitem side never materializes per-order
    results.  Late-shipping definition adapted to this schema
    (l_shipdate > o_orderdate + 60 days)."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    late = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n_name, {rev}
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume) adapted to this schema: a
    6-table snowflake with the EXTRA c_nationkey = s_nationkey equality
    ('local' supplier) that makes join ORDER matter.  Scale shape:
    region→nation is a broadcast chain pruning supplier before the big
    fact joins; the date filter pushes into the orders scan; revenue
    aggregates with map-side partials on the small n_name key."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT {rev}, COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """.format(rev=o_dsum("l_extendedprice * l_discount", "revenue")),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): the canonical scan-filter-
    aggregate.  Every predicate (date range, discount band, quantity
    cap) pushes into the parquet scan as PushedFilters; the single
    global sum is a two-stage partial/final with ONE row crossing the
    shuffle — at 100 TB this query is pure scan bandwidth."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
