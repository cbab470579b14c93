"""Relational core: scans, filters, joins, aggregations, top-k.

Covers SURVEY.md §2.2 blocks "Projection/filter/predicates", "Joins",
"Aggregations", "Sorts/limits/top-k".  Reference parity notes:

- q_filter_regex / q_grep re-express the reference's SQL filter query
  ``SELECT ALL FROM <Dataset> WHERE <regex>`` [spec: MP4 query type #1,
  SURVEY.md §2.1 A5/A12] — regex-find-anywhere semantics (Spark RLIKE ≡
  DuckDB regexp_matches, verified).
- q_join_inner is the reference's ``SELECT ALL FROM D1, D2 WHERE
  D1.a = D2.b`` [spec: MP4 query type #2, A6] — inner equi-join with
  per-key cross-product multiplicity, which is exactly Spark inner-join
  semantics.
- Aggregations are the juice-phase generalization [spec: A2/A13/A14].

Scale posture (100 TB): every query is a declarative DataFrame plan —
Catalyst pushes filters/projections into the parquet scan; joins to
bounded dims (nation/region) take an explicit ``broadcast()`` hint; the
fact-fact joins (lineitem⋈orders) shuffle on the join key and benefit
from AQE skew handling; no collect() anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parity import davg, dsum, dsum_of_partials, dsum_partial, o_davg, o_dsum
from ..registry import query
from ..sources.tables import table as T

# --------------------------------------------------------------------------
# Projection / filter / predicates
# --------------------------------------------------------------------------


@query(
    "q_project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_price,
           l_extendedprice * l_discount AS discount_amt
    FROM lineitem
    """,
)
def q_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + arithmetic expressions.

    Parity note: NO rounding — identical left-associated IEEE-754 ops
    are bit-exact across engines, while ROUND itself is not (Spark
    HALF_UP via BigDecimal vs DuckDB's float path break ties
    differently — observed exactly-one-quantum diffs)."""
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "net_price"
        ),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount_amt"),
    )


@query(
    "q_filter_pred",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hot'
                ELSE 'cold' END AS urgency,
           COALESCE(NULLIF(o_orderstatus, 'O'), '(open)') AS status_label
    FROM orders
    WHERE o_orderstatus = 'O'
      AND o_totalprice BETWEEN 50000 AND 300000
      AND o_orderdate IS NOT NULL
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison + AND + IN + BETWEEN + IS NULL + CASE/COALESCE/NULLIF."""
    o = T(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_totalprice").between(50000, 300000)
        & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hot")
        .otherwise("cold")
        .alias("urgency"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("(open)")).alias(
            "status_label"
        ),
    )


@query(
    "q_filter_regex",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem
    WHERE regexp_matches(l_returnflag, 'R')
    """,
    headline=True,
)
def q_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference SQL filter query: regex find-anywhere on a field
    [spec: A5].  RLIKE ≡ DuckDB regexp_matches (both unanchored)."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_returnflag").rlike("R")).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"
    )


@query(
    "q_grep",
    oracle="""
    SELECT source, COUNT(*) AS n_matches
    FROM documents
    WHERE regexp_matches(text, 'spark|shuffle')
    GROUP BY source
    ORDER BY source
    """,
)
def q_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep [spec: A12/MP1]: regex over a text corpus,
    match counts gathered per source machine (here: per source)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").rlike("spark|shuffle"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    headline=True,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference equi-join [spec: A6] — per-key cross-product
    multiplicity = Spark inner join.  At scale: both sides shuffle on
    the key (sort-merge); AQE converts to broadcast if one side proves
    small at runtime."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           {sum_bal}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """.format(sum_bal=o_dsum("c_acctbal", "sum_acctbal")),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join through two bounded dims with explicit broadcast hints
    — the 100 TB pattern: nation(25)/region(5) never grow with SF, so
    ship them to every executor and avoid shuffling the fact side."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "sum_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


@query(
    "q_join_threeway",
    oracle="""
    SELECT n_name, {rev}, COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
    headline=True,
)
def q_join_threeway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join + agg (flagship / entry()): fact⋈fact⋈dim⋈dim,
    revenue by nation.  lineitem⋈orders shuffles on orderkey;
    customer⋈nation broadcasts the dim; partial aggregation runs
    map-side before the final groupBy shuffle."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — order-less customers survive with NULLs."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers with ≥1 order (no multiplicity)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity > 45)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: parts never shipped in bulk (quantity > 45).
    ("parts never shipped at all" is empty at every SF — every part
    has lineitems — which would make the check degenerate)."""
    p = T(spark, sf_dir, "part")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
        "p_partkey", "p_name"
    )


@query(
    "q_join_theta",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS regionkey
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (equi + inequality band): unordered nation pairs
    within a region.  Catalyst sort-merge-joins the equi part and
    applies the residual `<` predicate — the scalable band-join shape
    (never a cartesian product)."""
    n = T(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("regionkey"),
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r_name, s_name FROM region CROSS JOIN supplier
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join — bounded sides only (region×supplier)."""
    r = T(spark, sf_dir, "region")
    s = T(spark, sf_dir, "supplier")
    return r.crossJoin(s).select("r_name", "s_name")


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------


@query(
    "q_agg_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           {sq}, {sbp}, {sdp}, {sc}, {aq}, {ad},
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """.format(
        sq=o_dsum("l_quantity", "sum_qty"),
        sbp=o_dsum("l_extendedprice", "sum_base_price"),
        sdp=o_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
        sc=o_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge"),
        aq=o_davg("l_quantity", "avg_qty"),
        ad=o_davg("l_discount", "avg_disc"),
    ),
    headline=True,
)
def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — hash agg with map-side partial
    aggregation (the juice phase generalized [spec: A2])."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
            dsum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                "sum_charge",
            ),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_distinct_users",
    oracle="SELECT COUNT(DISTINCT user_id) AS n_users FROM events",
    headline=True,
)
def q_agg_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct (expands to a two-phase distinct agg)."""
    e = T(spark, sf_dir, "events")
    return e.agg(F.countDistinct("user_id").alias("n_users"))


@query("q_agg_approx_distinct", oracle=None)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct — THE 100 TB form of
    distinct counting (single pass, constant memory, no exact-distinct
    shuffle explosion).  Not SQL-oracle-expressible (estimate differs
    from exact) → rows-only check; accuracy asserted in unit tests."""
    e = T(spark, sf_dir, "events")
    return e.agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.approx_count_distinct("event_id", 0.01).alias("approx_events"),
    )


@query(
    "q_agg_percent",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           COUNT(*) / SUM(COUNT(*)) OVER () AS share
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_agg_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key percentage of total [spec: A14 demo app] — agg + window
    over the (tiny) aggregated result, not over the raw fact table."""
    from pyspark.sql.window import Window

    e = T(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "event_type",
        "n",
        (F.col("n") / F.sum("n").over(Window.partitionBy())).alias("share"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Sorts / limits / top-k
# --------------------------------------------------------------------------


@query(
    "q_topk_revenue",
    oracle="""
    SELECT c_custkey, c_name, {rev}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
    headline=True,
)
def q_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k after join+agg.  orderBy().limit(k) compiles to
    TakeOrderedAndProject — per-partition heaps + driver merge of k
    rows, never a global sort; exactly what you want at 100 TB.
    revenue is decimal-exact so the DESC ordering is deterministic;
    c_custkey breaks any exact ties.

    Partial aggregation is pushed below the joins by hand (Catalyst
    does not move an aggregate under a join): revenue folds to one
    decimal partial per orderkey BEFORE touching orders, shrinking the
    join and the custkey shuffle by the lineitems-per-order factor (4x
    here, more at scale).  orders⋈lineitem is 1:N, so the sum of the
    per-order partials is the per-customer sum, and exact decimal
    partials keep it bit-identical to the oracle's one-level SUM."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    per_order = li.groupBy("l_orderkey").agg(
        dsum_partial(F.col("l_extendedprice") * (1 - F.col("l_discount")), "rev")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dsum_of_partials("rev", "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )
