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
from pyspark.sql.window import Window

from ..functions.parity import (
    davg,
    dsum,
    dsum_of_partials,
    dsum_partial,
    o_davg,
    o_dsum,
)
from ..functions.text import DELETION_VARIANTS
from ..registry import query
from ..sources.derived import events_us
from ..sources.tables import load_tables
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


_LATERAL_SQL = """
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_custkey % 50 = 0
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


@query("q_lateral_topk", oracle=_LATERAL_SQL)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-text
    form of top-k-per-group, run as the IDENTICAL string on Spark and
    DuckDB (both parse this ANSI shape).  Catalyst rewrites the lateral
    limit into a per-key window/limit under a join rather than
    executing the subquery per row."""
    load_tables(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@query(
    "q_merge_upsert",
    oracle="""
    WITH delta AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
    ),
    inserts AS (
      SELECT -c_custkey AS c_custkey, c_name, c_nationkey,
             0.0 AS c_acctbal
      FROM customer WHERE c_custkey % 113 = 0 AND c_custkey > 0
    ),
    updates AS (SELECT * FROM delta UNION ALL SELECT * FROM inserts)
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.c_name, b.c_name) AS c_name,
           COALESCE(u.c_nationkey, b.c_nationkey) AS c_nationkey,
           COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
           CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN u.c_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM customer b FULL OUTER JOIN updates u ON b.c_custkey = u.c_custkey
    ORDER BY c_custkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics without a table format: next snapshot =
    base FULL OUTER JOIN delta, matched rows take the delta's values
    (update), unmatched-delta rows append (insert), unmatched-base rows
    carry forward (keep) — with the action tagged per row.  This is the
    nightly-dimension-refresh shape; Delta/Iceberg MERGE INTO compiles
    to exactly this join under the hood.  Scale shape: one shuffle on
    the merge key; with a bucketed base table the join co-locates and
    only the (small) delta moves."""
    c = T(spark, sf_dir, "customer")
    delta = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
    )
    # insert keys live in the NEGATIVE key space: base custkeys are
    # positive at every SF, so the synthetic delta can never collide
    # with a real key and silently turn an insert into an update
    # (ADVICE r3: the old c_custkey + 1000000 scheme collides once
    # keys reach 1e6)
    inserts = c.filter((F.col("c_custkey") % 113 == 0) & (F.col("c_custkey") > 0)).select(
        (-F.col("c_custkey")).alias("c_custkey"),
        "c_name",
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
    )
    updates = delta.unionByName(inserts)
    b, u = c.alias("b"), updates.alias("u")
    action = (
        F.when(F.col("b.c_custkey").isNull(), "insert")
        .when(F.col("u.c_custkey").isNull(), "keep")
        .otherwise("update")
    )
    return (
        b.join(u, F.col("b.c_custkey") == F.col("u.c_custkey"), "full")
        .select(
            F.coalesce("u.c_custkey", "b.c_custkey").alias("c_custkey"),
            F.coalesce("u.c_name", "b.c_name").alias("c_name"),
            F.coalesce("u.c_nationkey", "b.c_nationkey").alias("c_nationkey"),
            F.coalesce("u.c_acctbal", "b.c_acctbal").alias("c_acctbal"),
            action.alias("merge_action"),
        )
        .orderBy("c_custkey")
    )


#: time-proximity window for the interval self-join (30 min)
PAIR_GAP_US = 1_800_000_000


def interval_candidates(e: DataFrame, gap_us: int) -> DataFrame:
    """Pre-verification candidate pairs of the banded interval join:
    equi-join on (user_id, gap-width time bucket), the earlier side
    exploded to (b, b+1).  Exposed separately so the candidate VOLUME
    — the shuffle-cost driver at scale — can be measured directly
    (tests/test_candidate_scaling.py), the same discipline as the LSH
    dedup families.  Input needs (user_id, event_id, ts_us)."""
    early = e.select(
        "user_id",
        F.col("event_id").alias("id_early"),
        F.col("ts_us").alias("ts_early"),
        F.explode(
            F.array(
                F.expr(f"ts_us DIV {gap_us}"),
                F.expr(f"ts_us DIV {gap_us} + 1"),
            )
        ).alias("b"),
    )
    late = e.select(
        "user_id",
        F.col("event_id").alias("id_late"),
        F.col("ts_us").alias("ts_late"),
        F.expr(f"ts_us DIV {gap_us}").alias("b"),
    )
    return early.join(late, ["user_id", "b"])


@query(
    "q_join_interval_self",
    oracle=f"""
    SELECT a.user_id AS user_id, a.event_id AS id_early,
           b.event_id AS id_late,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b ON a.user_id = b.user_id
     AND (epoch_us(a.ts) < epoch_us(b.ts)
          OR (epoch_us(a.ts) = epoch_us(b.ts) AND a.event_id < b.event_id))
     AND epoch_us(b.ts) - epoch_us(a.ts) <= {PAIR_GAP_US}
    ORDER BY a.user_id, id_early, id_late
    """,
)
def q_join_interval_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-proximity self-join: pairs of events by the SAME user
    within 30 minutes of each other — the sessionization/attribution
    primitive ("which events co-occur?").

    Scale shape: the naive formulation is a per-user quadratic theta
    join.  This plans it as a BANDED EQUI-JOIN instead: bucket time
    into gap-width bins; a qualifying pair's buckets differ by 0 or 1,
    so the earlier side is emitted under (bucket, bucket+1) and joined
    to the later side on (user_id, bucket) — an exact equi-shuffle
    whose candidate volume is O(pairs within ~2 gap widths), not
    O(n²/user); the exact predicate then filters candidates.  Each
    true pair matches in EXACTLY one bucket (via b_early when buckets
    equal, via b_early+1 when adjacent), so no distinct is needed."""
    e = events_us(spark, sf_dir).select("user_id", "event_id", "ts_us")
    return (
        interval_candidates(e, PAIR_GAP_US)
        .filter(
            (
                (F.col("ts_early") < F.col("ts_late"))
                | (
                    (F.col("ts_early") == F.col("ts_late"))
                    & (F.col("id_early") < F.col("id_late"))
                )
            )
            & (F.col("ts_late") - F.col("ts_early") <= PAIR_GAP_US)
        )
        .select(
            "user_id",
            "id_early",
            "id_late",
            (F.col("ts_late") - F.col("ts_early")).alias("gap_us"),
        )
        .orderBy("user_id", "id_early", "id_late")
    )


@query(
    "q_join_bloom_pruned",
    oracle="""
    SELECT p_brand, {rev}, COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#1', 'Brand#2')
    GROUP BY p_brand
    ORDER BY p_brand
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim ⋈ fact: ~4% of parts join against the full
    lineitem scan.  Declarative join only — the engine picks broadcast
    here and bloom-filter-semi-join at scale (the regime
    tests/test_plans.py::test_bloom_filter_injected_in_shuffle_regime
    pins); the query code is identical in both, which is the point."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


@query(
    "q_table_diff",
    oracle="""
    WITH v2 AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 101 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT -c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 89 = 0
    )
    SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
           CASE WHEN a.c_custkey IS NULL THEN 'insert'
                WHEN b.c_custkey IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           a.c_acctbal AS old_acctbal, b.c_acctbal AS new_acctbal
    FROM customer a FULL OUTER JOIN v2 b USING (c_custkey)
    WHERE a.c_custkey IS NULL OR b.c_custkey IS NULL
       OR a.c_name IS DISTINCT FROM b.c_name
       OR a.c_nationkey IS DISTINCT FROM b.c_nationkey
       OR a.c_acctbal IS DISTINCT FROM b.c_acctbal
       OR a.c_mktsegment IS DISTINCT FROM b.c_mktsegment
    ORDER BY c_custkey
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation (snapshot diff): classify every key as
    insert / delete / update between a table and its next version —
    the audit primitive behind CDC backfills and replica verification.
    One key-partitioned full-outer join; change detection is per-column
    ``IS DISTINCT FROM`` (NULL-safe, no lossy row-hash, no
    engine-specific float formatting).  The v2 snapshot is synthesized
    deterministically from the base table (drops %97 keys, bumps %101
    balances, inserts %89 clones in the NEGATIVE key space so inserts
    can never collide with real keys at any SF — the q_merge_upsert
    discipline).  Unchanged rows are filtered before any ordering, so
    the output stays |changes|-sized however large the table."""
    c = T(spark, sf_dir, "customer")
    v2 = c.filter(F.col("c_custkey") % 97 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 101 == 0, F.col("c_acctbal") + 100.0
        ).otherwise(F.col("c_acctbal")),
    ).unionByName(
        c.filter(F.col("c_custkey") % 89 == 0).withColumn(
            "c_custkey", -F.col("c_custkey")
        )
    )
    a, b = c.alias("a"), v2.alias("b")
    changed = F.lit(False)
    for col in ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]:
        changed = changed | ~F.col(f"a.{col}").eqNullSafe(F.col(f"b.{col}"))
    return (
        a.join(b, F.col("a.c_custkey") == F.col("b.c_custkey"), "full_outer")
        .filter(
            F.col("a.c_custkey").isNull()
            | F.col("b.c_custkey").isNull()
            | changed
        )
        .select(
            F.coalesce(F.col("a.c_custkey"), F.col("b.c_custkey")).alias(
                "c_custkey"
            ),
            F.when(F.col("a.c_custkey").isNull(), "insert")
            .when(F.col("b.c_custkey").isNull(), "delete")
            .otherwise("update")
            .alias("change"),
            F.col("a.c_acctbal").alias("old_acctbal"),
            F.col("b.c_acctbal").alias("new_acctbal"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_secondary_sort",
    headline=True,
    oracle="""
    SELECT l_orderkey,
           COUNT(*) AS n_lines,
           STRING_AGG(CAST(l_linenumber AS VARCHAR), ','
                      ORDER BY l_shipdate, l_linenumber) AS line_seq
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
)
def q_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapReduce secondary sort, Spark-first: per order, the line
    numbers in ship-date order (ties broken by line number, making the
    sequence total and the hash deterministic).  ONE WindowExec does
    everything: the window sort IS the composite-key (group, secondary)
    shuffle sort of the MR pattern, the unbounded-frame collect_list
    materializes each group's ordered sequence once, and keeping only
    the rn==1 row per group replaces a whole second aggregation.

    MEASURED round 7 (protocol-2 checksum, in-process A/B at sf0.1,
    local[32], medians of 7): this form 0.52 s; window + groupBy/first
    0.58 s; one-shuffle ObjectHashAggregate with per-group
    array_sort(struct) 0.92 s (generic comparators + object agg lose
    to the Tungsten radix window sort).  A fourth form — repartition +
    sortWithinPartitions + collect_list, the literal RDD
    repartitionAndSortWithinPartitions transplant — is FASTER still
    but UNSAFE in SQL: under memory pressure HashAggregate falls back
    to sort-based aggregation keyed on the group column alone, which
    re-orders rows WITHIN groups (measured: 13 of 147k groups came
    back rotated).  Encounter-order assumptions do not survive spill;
    the window form carries the ordering in the plan itself."""
    li = T(spark, sf_dir, "lineitem")
    wo = Window.partitionBy("l_orderkey").orderBy("l_shipdate", "l_linenumber")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        li.select(
            "l_orderkey",
            F.collect_list("l_linenumber").over(wf).alias("lst"),
            F.row_number().over(wo).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.size("lst").cast("long").alias("n_lines"),
            F.array_join(
                F.expr("transform(lst, x -> cast(x as string))"), ","
            ).alias("line_seq"),
        )
        .orderBy("l_orderkey")
    )


@query(
    "q_scd2_history",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS us
      FROM events
    ),
    marked AS (
      SELECT *,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    runs AS (
      SELECT *,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS run_id
      FROM marked
    ),
    versions AS (
      SELECT user_id, run_id, event_type,
             MIN(us) AS valid_from_us,
             COUNT(*) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, event_type, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us, run_id)
             AS valid_to_us,
           n_events
    FROM versions
    ORDER BY user_id, valid_from_us
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from a change log: per user,
    consecutive runs of the tracked attribute (event_type) collapse
    into versions with [valid_from, valid_to) validity intervals —
    the gaps-and-islands run detection (lag-compare → running-sum run
    id) plus a lead() for the closing edge, which is exactly how
    Delta/Iceberg SCD2 MERGE pipelines derive version rows.
    valid_to_us is NULL on each user's current version.  The closing
    lead() orders by (valid_from_us, run_id): two versions of one user
    CAN share a min-timestamp (two same-us events of different types
    form two runs), and without the run_id tiebreaker the order would
    not be total and the closing edge engine-nondeterministic
    (ADVICE r7; run_id itself is deterministic cross-engine because
    the run detection orders by the unique (us, event_id)).

    Scale shape: everything is windows + one aggregation over the
    SAME (user_id, time) shuffle — one exchange total, no joins; at
    100 TB the change log is naturally keyed by user_id so this
    co-partitions with the rest of the per-user pipeline."""
    e = T(spark, sf_dir, "events")
    ev = e.select(
        "user_id", "event_type", "event_id", F.expr("ts div 1000").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.withColumn("chg", chg).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    versions = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("us").alias("valid_from_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us", "run_id")
    return (
        versions.select(
            "user_id",
            "event_type",
            "valid_from_us",
            F.lead("valid_from_us").over(w2).alias("valid_to_us"),
            "n_events",
        )
        .orderBy("user_id", "valid_from_us")
    )


def _signup_tiers(e: DataFrame) -> DataFrame:
    """Signup dims ``(user_id, us, tier, src_event_id, rn)`` of the
    point-in-time joins, one version per (user, instant): the max
    event_id wins."""
    dedup_w = Window.partitionBy("user_id", "us").orderBy(
        F.col("src_event_id").desc()
    )
    return (
        e.where(F.col("event_type") == "signup")
        .select(
            "user_id",
            F.expr("ts div 1000").alias("us"),
            F.expr("CAST(FLOOR(value) AS BIGINT) % 5").alias("tier"),
            F.col("event_id").alias("src_event_id"),
        )
        .withColumn("rn", F.row_number().over(dedup_w))
        .where("rn = 1")
    )


@query(
    "q_join_pointintime",
    oracle="""
    WITH dim AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(FLOOR(value) AS BIGINT) % 5 AS tier
      FROM events WHERE event_type = 'signup'
      QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                 ORDER BY event_id DESC) = 1
    ),
    facts AS (
      SELECT event_id, user_id, epoch_us(ts) AS us, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.event_id, f.user_id, f.us, f.value, d.tier
    FROM facts f
    ASOF LEFT JOIN dim d
      ON f.user_id = d.user_id AND f.us >= d.us + 1
    ORDER BY f.event_id
    """,
)
def q_join_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: each purchase picks the dimension
    version (signup 'tier') in effect STRICTLY before its timestamp —
    the feature-store / SCD2-lookup join.  Spark side uses the
    scalable UNION + conditional-window form (tag dim and fact rows,
    one (user, time) sort, last(tier) IGNORE NULLS over preceding
    rows) — one shuffle, no range-join explosion, the plan that
    survives 100 TB.  The DuckDB oracle uses its native ASOF JOIN —
    an INDEPENDENT implementation of the same semantics, so the hash
    match proves the window encoding is a correct PIT join.  Equal
    timestamps resolve dim-after-fact on both sides (strict <).
    Dims are first deduplicated to one version per (user, instant)
    — max event_id wins — on BOTH engines: two signups at one
    timestamp would otherwise leave the window's (us, kind) order
    (and DuckDB's ASOF pick among tied right-side times) non-total
    and the joined tier engine-nondeterministic (ADVICE r7)."""
    e = T(spark, sf_dir, "events")
    dim = (
        _signup_tiers(e)
        .select(
            "user_id",
            "us",
            "tier",
            F.lit(1).alias("kind"),  # dims sort AFTER facts at equal us
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("ts div 1000").alias("us"),
        F.lit(None).cast("long").alias("tier"),
        F.lit(0).alias("kind"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        dim.unionByName(facts)
        .withColumn("pit_tier", F.last("tier", ignorenulls=True).over(w))
        .where(F.col("kind") == 0)
        .select(
            "event_id",
            "user_id",
            "us",
            "value",
            F.col("pit_tier").alias("tier"),
        )
        .orderBy("event_id")
    )


#: interval length for q_interval_concurrency: each event holds a
#: resource for 30 minutes (µs).
_CONC_LEN_US = 1_800_000_000


@query(
    "q_interval_concurrency",
    oracle=f"""
    WITH pts AS (
      SELECT epoch_us(ts) AS t, 1 AS d FROM events
      UNION ALL
      SELECT epoch_us(ts) + {_CONC_LEN_US}, -1 FROM events
    ),
    net AS (SELECT t, CAST(SUM(d) AS BIGINT) AS net FROM pts GROUP BY t),
    cum AS (
      SELECT t, CAST(SUM(net) OVER (ORDER BY t) AS BIGINT) AS conc FROM net
    )
    SELECT t // 86400000000 AS day,
           MAX(conc) AS max_concurrency,
           COUNT(*) AS n_points
    FROM cum GROUP BY day ORDER BY day
    """,
)
def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent 30-minute event intervals per day — sweep-line
    overlap counting: ±1 boundary points, net delta per distinct
    timestamp, then a GLOBAL running sum computed as a distributed
    two-phase prefix scan (range-partition by time → per-partition
    partial sums → broadcast the one-row-per-partition cumulative
    offsets back → within-partition windows).  Half-open intervals:
    an end and a start at the same instant net out before the
    concurrency is read.  The oracle computes the same running sum as
    DuckDB's single global ``SUM() OVER (ORDER BY t)``, so the hash
    match proves the partition decomposition is exact.

    The partition key is derived DETERMINISTICALLY from the data
    (equal-width range buckets between the broadcast 1-row min/max of
    t), not from ``spark_partition_id`` over a sampled
    ``repartitionByRange`` — the earlier form fed one nondeterministic
    exchange into two plan subtrees (offsets and cumulative sums) and
    was only correct while Spark happened to reuse the exchange; an
    AQE replan or plan divergence would have given the two subtrees
    different pid→offset mappings (ADVICE r7).  With the key computed
    from t itself, both subtrees agree by construction under any
    physical plan.

    Scale: this is the pattern that replaces the single-partition
    global window — every stage is bounded: one shuffle to group
    boundary points, one bucket exchange, a #buckets-row offsets
    table broadcast back, and per-bucket sorts.  Equal-width buckets
    assume roughly uniform event times (true here); a skewed corpus
    would persist sampled quantile boundaries first."""
    e = T(spark, sf_dir, "events").select(F.expr("ts div 1000").alias("us"))
    pts = e.select(F.col("us").alias("t"), F.lit(1).alias("d")).unionByName(
        e.select((F.col("us") + _CONC_LEN_US).alias("t"), F.lit(-1).alias("d"))
    )
    net = pts.groupBy("t").agg(F.sum("d").cast("long").alias("net"))
    rng = net.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    parts = net.crossJoin(F.broadcast(rng)).withColumn(
        "pid", F.expr("CAST(((t - lo) * 16) DIV (hi - lo + 1) AS INT)")
    )
    offs = (
        parts.groupBy("pid")
        .agg(F.sum("net").alias("s"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("s").over(
                    Window.orderBy("pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "off")
    )
    within = (
        Window.partitionBy("pid")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        parts.select("pid", "t", "net")
        .join(F.broadcast(offs), "pid")
        .withColumn("conc", (F.sum("net").over(within) + F.col("off")).cast("long"))
    )
    return (
        cum.groupBy(F.expr("t DIV 86400000000").alias("day"))
        .agg(
            F.max("conc").alias("max_concurrency"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .orderBy("day")
    )


# ------------------------------------------------------------------
# Point-in-time join with a staleness bound (feature-store freshness)
# ------------------------------------------------------------------

_PIT_TOL_US = 7 * 86_400_000_000  # 7 days


_PIT_TOL_ORACLE = f"""
WITH dim AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value) AS BIGINT) % 5 AS tier
  FROM events WHERE event_type = 'signup'
  QUALIFY row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                             ORDER BY event_id DESC) = 1
),
facts AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.us,
       CASE WHEN f.us - d.us <= {_PIT_TOL_US} THEN d.tier END AS tier,
       CASE WHEN f.us - d.us <= {_PIT_TOL_US} THEN f.us - d.us END
         AS staleness_us
FROM facts f
ASOF LEFT JOIN dim d
  ON f.user_id = d.user_id AND f.us >= d.us + 1
ORDER BY f.event_id
"""


@query("q_join_pit_tolerance", oracle=_PIT_TOL_ORACLE)
def q_join_pit_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join with a STALENESS BOUND — the feature-store
    freshness contract (q_join_pointintime picks the version strictly
    before each fact; this variant additionally voids matches older
    than 7 days, the "feature too stale to serve" rule).  Same
    scalable union + conditional-window form: one (user, time) sort,
    last(tier)/last(dim us) IGNORE NULLS over preceding rows, then the
    tolerance test converts stale matches to NULL and reports the
    exact staleness µs on fresh ones.  Dims deduplicated per
    (user, instant) — max event_id wins — as in q_join_pointintime
    (ADVICE r7 determinism rule); the oracle is DuckDB's native ASOF
    JOIN plus the same tolerance CASE, an independent implementation
    of the whole contract."""
    e = T(spark, sf_dir, "events")
    dim = (
        _signup_tiers(e)
        .select(
            "user_id",
            "us",
            "tier",
            F.col("us").alias("dim_us"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    facts = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("ts div 1000").alias("us"),
        F.lit(None).cast("long").alias("tier"),
        F.lit(None).cast("long").alias("dim_us"),
        F.lit(0).alias("kind"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "kind")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    joined = (
        dim.unionByName(facts)
        .withColumn("pit_tier", F.last("tier", ignorenulls=True).over(w))
        .withColumn("pit_us", F.last("dim_us", ignorenulls=True).over(w))
        .where(F.col("kind") == 0)
    )
    fresh = (F.col("pit_us").isNotNull()) & (
        F.col("us") - F.col("pit_us") <= _PIT_TOL_US
    )
    return joined.select(
        "event_id",
        "user_id",
        "us",
        F.when(fresh, F.col("pit_tier")).alias("tier"),
        F.when(fresh, F.col("us") - F.col("pit_us")).alias("staleness_us"),
    ).orderBy("event_id")


# ------------------------------------------------------------------
# Multiset set operations (EXCEPT ALL / INTERSECT ALL)
# ------------------------------------------------------------------

_EXCEPT_ALL_ORACLE = """
WITH a AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 100 AS hundreds
           FROM orders WHERE o_orderpriority = '1-URGENT'),
b AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 100 AS hundreds
      FROM orders WHERE o_orderpriority = '2-HIGH'),
surv AS (SELECT hundreds FROM a EXCEPT ALL SELECT hundreds FROM b)
SELECT hundreds, COUNT(*) AS cnt FROM surv GROUP BY hundreds ORDER BY hundreds
"""


@query("q_set_except_all", oracle=_EXCEPT_ALL_ORACLE)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — MULTISET difference (each b-occurrence cancels ONE
    a-occurrence; q_set_except is the DISTINCT form): urgent-order
    cent values minus high-order cent values, surviving multiplicities
    in the output so the bag semantics are hash-visible.  Spark's
    ``exceptAll`` plans as a counted anti-aggregation (no quadratic
    anything); the oracle is DuckDB's native EXCEPT ALL — independent
    implementations of the same bag algebra."""
    o = T(spark, sf_dir, "orders")
    hundreds = F.expr("CAST(FLOOR(o_totalprice) AS BIGINT) DIV 100").alias(
        "hundreds"
    )
    a = o.where("o_orderpriority = '1-URGENT'").select(hundreds)
    b = o.where("o_orderpriority = '2-HIGH'").select(hundreds)
    return (
        a.exceptAll(b)
        .groupBy("hundreds")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("hundreds")
    )


_INTERSECT_ALL_ORACLE = """
WITH a AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 100 AS hundreds
           FROM orders WHERE o_orderpriority = '1-URGENT'),
b AS (SELECT CAST(FLOOR(o_totalprice) AS BIGINT) // 100 AS hundreds
      FROM orders WHERE o_orderpriority = '2-HIGH'),
surv AS (SELECT hundreds FROM a INTERSECT ALL SELECT hundreds FROM b)
SELECT hundreds, COUNT(*) AS cnt FROM surv GROUP BY hundreds ORDER BY hundreds
"""


@query("q_set_intersect_all", oracle=_INTERSECT_ALL_ORACLE)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — MULTISET intersection (min of the two
    multiplicities per value), the bag twin of q_set_intersect;
    same cohorts and discipline as q_set_except_all."""
    o = T(spark, sf_dir, "orders")
    hundreds = F.expr("CAST(FLOOR(o_totalprice) AS BIGINT) DIV 100").alias(
        "hundreds"
    )
    a = o.where("o_orderpriority = '1-URGENT'").select(hundreds)
    b = o.where("o_orderpriority = '2-HIGH'").select(hundreds)
    return (
        a.intersectAll(b)
        .groupBy("hundreds")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("hundreds")
    )


# ------------------------------------------------------------------
# Null-safe equi join (<=> / IS NOT DISTINCT FROM semantics)
# ------------------------------------------------------------------

_NULLSAFE_ORACLE = """
WITH dim(status_key, label) AS (
  VALUES ('O', 'open'), ('F', 'finished'), (NULL, 'unknown')),
f AS (
  SELECT NULLIF(o_orderstatus, 'P') AS status_key,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders)
SELECT d.label,
       CAST(COUNT(f.cents) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(f.cents), 0) AS BIGINT) AS sum_cents
FROM f JOIN dim d ON f.status_key IS NOT DISTINCT FROM d.status_key
GROUP BY d.label ORDER BY d.label
"""


@query("q_join_nullsafe", oracle=_NULLSAFE_ORACLE)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi join (`<=>` / IS NOT DISTINCT FROM): the fact
    side derives a NULLABLE key (order status with 'P' mapped to
    NULL), the dim carries an explicit NULL row ('unknown'), and the
    join must match NULL↔NULL — the semantics a plain `=` join
    silently drops (every NULL fact row would vanish).  A real SQL
    surface corner: Spark spells it Column.eqNullSafe / `<=>`, DuckDB
    IS NOT DISTINCT FROM — independent implementations whose
    agreement the hash attests, including the aggregated NULL-bucket
    row that proves the NULL matches happened.

    Scale: the dim is 3 rows (broadcast); null-safe equality is still
    hashable (Spark plans BroadcastHashJoin on the null-safe key), so
    the plan is the ordinary map-side join, not an NLJ."""
    o = T(spark, sf_dir, "orders")
    f = o.select(
        F.expr("NULLIF(o_orderstatus, 'P')").alias("status_key"),
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "finished"), (None, "unknown")],
        "status_key string, label string",
    )
    return (
        f.join(
            F.broadcast(dim),
            f["status_key"].eqNullSafe(dim["status_key"]),
        )
        .groupBy("label")
        .agg(
            F.count("cents").cast("long").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("sum_cents"),
        )
        .orderBy("label")
    )


# ------------------------------------------------------------------
# Band join: |s_acctbal − c_acctbal| ≤ $1.00 via width-δ buckets
# ------------------------------------------------------------------

_BAND_CENTS = 100  # δ = $1.00


_BAND_ORACLE = f"""
WITH s AS (
  SELECT s_suppkey, s_nationkey,
         CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS sc
  FROM supplier),
c AS (
  SELECT c_custkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cc
  FROM customer),
m AS (
  SELECT s.s_nationkey, s.s_suppkey, ABS(s.sc - c.cc) AS d
  FROM s JOIN c ON ABS(s.sc - c.cc) <= {_BAND_CENTS})
SELECT s_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
       CAST(SUM(d) AS BIGINT) AS sum_absdiff_cents
FROM m GROUP BY 1 ORDER BY 1
"""


@query("q_join_band", oracle=_BAND_ORACLE)
def q_join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: pair every supplier with every customer whose
    account balance is within $1.00, grouped per supplier nation —
    the numeric-proximity join (record blocking, price matching,
    sensor alignment) that naive engines run as a quadratic theta
    join.  Here the join is an EQUI-join on width-δ buckets
    ⌊cents/δ⌋: a true match differs by ≤ δ so its buckets differ by
    ≤ 1, and exploding the 100-row supplier side into its 3 adjacent
    buckets makes bucket equality a complete candidate filter; the
    exact |diff| ≤ δ predicate then prunes the bucket collisions.
    The oracle runs the quadratic formulation — identical result.

    Scale: candidates = matches + same-bucket near-misses (expected
    3·N·M·δ/range instead of N·M); the bucket key shuffles both
    sides once and Catalyst picks SMJ/broadcast by size.  FLOOR on a
    double quotient (not integer DIV) keeps negative balances on the
    same bucket grid in both engines."""
    s = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_nationkey",
        F.expr("CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)").alias("sc"),
    )
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)").alias("cc"),
    )
    sb = s.select(
        "s_suppkey",
        "s_nationkey",
        "sc",
        F.explode(
            F.array(F.lit(-1), F.lit(0), F.lit(1))
        ).alias("off"),
    ).select(
        "s_suppkey",
        "s_nationkey",
        "sc",
        (
            F.expr(f"CAST(FLOOR(sc / {_BAND_CENTS}.0) AS BIGINT)")
            + F.col("off")
        ).alias("bucket"),
    )
    cb = c.select(
        "cc",
        F.expr(f"CAST(FLOOR(cc / {_BAND_CENTS}.0) AS BIGINT)").alias("bucket"),
    )
    m = sb.join(cb, "bucket").where(
        F.abs(F.col("sc") - F.col("cc")) <= _BAND_CENTS
    )
    return (
        m.groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("s_suppkey").cast("long").alias("n_suppliers"),
            F.sum(F.abs(F.col("sc") - F.col("cc"))).cast("long").alias(
                "sum_absdiff_cents"
            ),
        )
        .orderBy("nationkey")
    )


# ------------------------------------------------------------------
# Nearest as-of join: each click ↔ nearest view, either direction
# ------------------------------------------------------------------

_NEAREST_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('click', 'view')),
w AS (
  SELECT event_id, user_id, event_type, ts_us,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
             IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_view_id,
         LAST_VALUE(CASE WHEN event_type = 'view' THEN ts_us END
             IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_view_ts,
         FIRST_VALUE(CASE WHEN event_type = 'view' THEN event_id END
             IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_view_id,
         FIRST_VALUE(CASE WHEN event_type = 'view' THEN ts_us END
             IGNORE NULLS) OVER (PARTITION BY user_id
             ORDER BY ts_us, event_id
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_view_ts
  FROM e)
SELECT event_id AS click_id, user_id,
       CAST(CASE
         WHEN prev_view_id IS NULL AND next_view_id IS NULL THEN NULL
         WHEN next_view_id IS NULL THEN prev_view_id
         WHEN prev_view_id IS NULL THEN next_view_id
         WHEN ts_us - prev_view_ts <= next_view_ts - ts_us
           THEN prev_view_id ELSE next_view_id END AS BIGINT)
         AS nearest_view_id,
       CAST(CASE
         WHEN prev_view_id IS NULL AND next_view_id IS NULL THEN NULL
         WHEN next_view_id IS NULL THEN ts_us - prev_view_ts
         WHEN prev_view_id IS NULL THEN next_view_ts - ts_us
         WHEN ts_us - prev_view_ts <= next_view_ts - ts_us
           THEN ts_us - prev_view_ts ELSE next_view_ts - ts_us END
         AS BIGINT) AS gap_us
FROM w WHERE event_type = 'click'
ORDER BY click_id
"""


@query("q_join_asof_nearest", oracle=_NEAREST_ORACLE)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: every click paired with the same user's
    NEAREST view in time — either direction, minimum |Δt|, ties
    resolved backward (the feature-store "closest reading" variant of
    q_join_asof's backward-only form, and the third member of the
    family with q_join_pit_tolerance).  Both candidates come from
    IGNORE-NULLS windows over ONE interleaved per-user sort — the
    last view before and the first view after — so there is no range
    join and no event×view explosion; clicks from view-less users
    report NULL identically.

    Scale: one (user, time) exchange carries both windows — the
    q_join_asof posture, unchanged at 100 TB."""
    e = (
        T(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr("ts div 1000").alias("ts_us"),
        )
    )
    view_id = F.expr(
        "CASE WHEN event_type = 'view' THEN event_id END"
    )
    view_ts = F.expr("CASE WHEN event_type = 'view' THEN ts_us END")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        F.last(view_id, ignorenulls=True).over(wb).alias("prev_view_id"),
        F.last(view_ts, ignorenulls=True).over(wb).alias("prev_view_ts"),
        F.first(view_id, ignorenulls=True).over(wf).alias("next_view_id"),
        F.first(view_ts, ignorenulls=True).over(wf).alias("next_view_ts"),
    )
    pick_id = (
        "CAST(CASE"
        " WHEN prev_view_id IS NULL AND next_view_id IS NULL THEN NULL"
        " WHEN next_view_id IS NULL THEN prev_view_id"
        " WHEN prev_view_id IS NULL THEN next_view_id"
        " WHEN ts_us - prev_view_ts <= next_view_ts - ts_us"
        "   THEN prev_view_id ELSE next_view_id END AS BIGINT)"
    )
    pick_gap = (
        "CAST(CASE"
        " WHEN prev_view_id IS NULL AND next_view_id IS NULL THEN NULL"
        " WHEN next_view_id IS NULL THEN ts_us - prev_view_ts"
        " WHEN prev_view_id IS NULL THEN next_view_ts - ts_us"
        " WHEN ts_us - prev_view_ts <= next_view_ts - ts_us"
        "   THEN ts_us - prev_view_ts ELSE next_view_ts - ts_us END"
        " AS BIGINT)"
    )
    return (
        w.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.expr(pick_id).alias("nearest_view_id"),
            F.expr(pick_gap).alias("gap_us"),
        )
        .orderBy("click_id")
    )


@query(
    "q_join_right",
    oracle="""
    SELECT o_orderkey, s_suppkey, s_name
    FROM (SELECT * FROM orders WHERE o_orderkey % 50 = 0) o
    RIGHT JOIN supplier ON o.o_orderkey = s_suppkey * 37
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (all suppliers survive; sparse matches)."""
    o = T(spark, sf_dir, "orders").filter(F.expr("o_orderkey % 50 = 0"))
    s = T(spark, sf_dir, "supplier")
    return o.join(s, o.o_orderkey == s.s_suppkey * 37, "right").select(
        "o_orderkey", "s_suppkey", "s_name"
    )


@query(
    "q_join_full",
    oracle="""
    SELECT a.r_regionkey AS left_key, b.r_regionkey AS right_key,
           a.r_name AS left_name, b.r_name AS right_name
    FROM region a FULL JOIN (SELECT * FROM region WHERE r_regionkey >= 2) b
      ON a.r_regionkey = b.r_regionkey + 1
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides."""
    a = T(spark, sf_dir, "region").alias("a")
    b = T(spark, sf_dir, "region").filter(F.col("r_regionkey") >= 2).alias("b")
    return a.join(b, F.col("a.r_regionkey") == F.col("b.r_regionkey") + 1, "full").select(
        F.col("a.r_regionkey").alias("left_key"),
        F.col("b.r_regionkey").alias("right_key"),
        F.col("a.r_name").alias("left_name"),
        F.col("b.r_name").alias("right_name"),
    )


@query(
    "q_join_skew_salted",
    oracle="""
    SELECT c_mktsegment, {rev}, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicate join (operators/skew.py): fact side salted by
    row content, dimension exploded n_salts times, join on (key, salt)
    — every hot key spreads over n_salts tasks.  The oracle is the
    PLAIN join+aggregate: salting must be semantically invisible.
    This is the manual fallback for skew AQE can't fix (e.g. a
    broadcast-unfriendly mid-size dim with one pathological key)."""
    from ..operators.skew import replicate_broadcast_join

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    joined = replicate_broadcast_join(o, c, "o_custkey", "c_custkey", n_salts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy("c_mktsegment")
    )


@query(
    "q_join_fuzzy",
    oracle="""
    WITH w AS (
      SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS word
      FROM documents)
    SELECT a.word AS word_a, b.word AS word_b,
           CAST(levenshtein(a.word, b.word) AS BIGINT) AS dist
    FROM w a JOIN w b ON a.word < b.word
    WHERE levenshtein(a.word, b.word) <= 2
    ORDER BY word_a, word_b
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join at edit distance ≤ 2 over the corpus
    vocabulary — FastSS deletion-neighborhood blocking: each word
    emits its ≤2-deletion variants as blocking keys (pure JVM
    expression, ≤ 1 + L + C(L,2) variants), candidates come from a
    bucketed self-join on the variant, and candidates verify with
    levenshtein (Spark and DuckDB both implement unit-cost
    Levenshtein).  The oracle brute-forces ALL pairs, so the driver
    hash-compare is the FastSS completeness theorem on real data —
    ed(a,b) ≤ k ⟹ the ≤k-deletion neighborhoods intersect (each edit
    op deletes/changes at most one aligned char per side) — the same
    proof shape as the SimHash and LSH xengine twins; the theorem
    itself is fuzz-pinned over random edit scripts in
    tests/test_extras.py.

    Scale: neighborhoods are O(L²) per DISTINCT word (Heaps-law
    bounded), the self-join keys on short variant strings so candidate
    volume is Σ_buckets C(n_b, 2) — never the C(V, 2) all-pairs the
    oracle runs; verification shuffles ids + variants only.  Noise
    pairs are Θ(V²/26^(L−2)), so linearity needs word length ≳
    log26(V)+2 — the key-width-grows-with-log-N discipline every LSH
    family here follows; MEASURED in tests/test_candidate_scaling.py
    (8-12 char words + planted typo twins: 75 → 607 candidates at 8×
    vocab = linear; 6-10 char words: 19 → 1,424 = the quadratic
    saturation regime, documented not hidden).  This is the
    typo/near-key join a 100 TB entity-resolution or query-log
    pipeline runs."""
    d = T(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .distinct()
    )
    variants = w.select(
        "word", F.explode(F.expr(DELETION_VARIANTS)).alias("v")
    )
    a = variants.select(F.col("word").alias("word_a"), "v")
    b = variants.select(F.col("word").alias("word_b"), "v")
    cand = (
        a.join(b, "v")
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b")
        .distinct()
    )
    return (
        cand.filter(F.levenshtein("word_a", "word_b") <= 2)
        .select(
            "word_a",
            "word_b",
            F.levenshtein("word_a", "word_b").cast("long").alias("dist"),
        )
        .orderBy("word_a", "word_b")
    )
