"""The spark.sql surface: one declared query executed as literal SQL
text over registered temp views — proving a reference user could bring
plain SQL (not just the DataFrame API) and get the same Catalyst plans.
The SQL string is shared with the DuckDB oracle, modulo the
decimal-parity sum macro."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.parity import o_dsum, s_dsum
from ..registry import query
from ..sources.tables import load_tables

_SQL = """
    SELECT c_mktsegment,
           n_name,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           {rev}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderstatus <> 'P'
    GROUP BY c_mktsegment, n_name
    ORDER BY c_mktsegment, n_name
"""


@query(
    "q_sql_surface",
    oracle=_SQL.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by (segment, nation) — THE SAME SQL text runs on Spark
    (temp views) and DuckDB (parquet views); the only difference is the
    dialect name of the string type inside the parity cast (STRING vs
    VARCHAR).  Filter pushdown/join selection all come from Catalyst
    exactly as in the DataFrame forms."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _SQL.format(rev=s_dsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


_CORR_SQL = """
    SELECT c1.c_custkey, c1.c_nationkey, c1.c_acctbal
    FROM customer c1
    WHERE c1.c_acctbal > (
        SELECT {cast_open}SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))){cast_close}
               / COUNT(c2.c_acctbal)
        FROM customer c2
        WHERE c2.c_nationkey = c1.c_nationkey)
    ORDER BY c1.c_custkey
"""


@query(
    "q_subquery_correlated",
    oracle=_CORR_SQL.format(
        cast_open="CAST(CAST(", cast_close=" AS VARCHAR) AS DOUBLE)"
    ),
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: customers above their nation's
    average balance.  Catalyst DECORRELATES this into an aggregate +
    join (no per-row re-execution) — the rewrite the reference's
    frontend had no notion of [spec: SURVEY §4.2 'subquery
    decorrelation'].  The subquery's average uses the decimal parity
    form so the comparison boundary is identical on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _CORR_SQL.format(cast_open="CAST(CAST(", cast_close=" AS STRING) AS DOUBLE)")
    )


@query(
    "q_udtf_wordcount",
    oracle="""
    SELECT w AS word, COUNT(*) AS n
    FROM (SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t <> '')) AS w
          FROM documents WHERE text IS NOT NULL AND text <> '')
    GROUP BY w ORDER BY word
    """,
)
def q_udtf_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount through a Python UDTF (Spark 4 table function): the
    maple phase (line → words) runs as a LATERAL table function inside
    SQL, the juice phase is a plain GROUP BY — driver-verified against
    a pure-SQL UNNEST oracle, so the Arrow UDTF expansion itself is
    value-checked, not just unit-tested.

    At scale the UDTF is a per-partition Arrow pipe (no shuffle before
    the GROUP BY, partial aggregation after) — same shape as the
    explode() form, with the flexibility of arbitrary Python row
    expansion the reference's maple API promised."""
    from ..functions.udtfs import SplitWords

    spark.udtf.register("split_words", SplitWords)
    load_tables(spark, sf_dir)
    return spark.sql(
        "SELECT word, COUNT(*) AS n"
        " FROM documents, LATERAL split_words(text)"
        " GROUP BY word ORDER BY word"
    )


#: recursive daily spine: IDENTICAL text on Spark 4 and DuckDB —
#: the recursion enumerates days from the stream's min to max and
#: left-joins per-day counts (zero-filled), i.e. the gap-fill spine
#: built by RECURSION instead of sequence() explode
#: (queries/windows.q_timeseries_gapfill is the generator twin).
#: DAILY deliberately: each recursion level is a sequential driver
#: round trip in Spark, so depth is the cost driver — ~30 day steps,
#: not ~720 hour steps (measured ~100× slower); for dense spines the
#: generator form stays the scale path.
_RECURSIVE_SQL = """
    WITH RECURSIVE bounds AS (
      SELECT MIN({hour}) AS h_min, MAX({hour}) AS h_max
      FROM events
    ),
    spine(h){rlimit} AS (
      SELECT h_min FROM bounds
      UNION ALL
      SELECT h + 1 FROM spine WHERE h < (SELECT h_max FROM bounds)
    ),
    daily AS (
      SELECT {hour} AS h, COUNT(*) AS n
      FROM events GROUP BY h
    )
    SELECT spine.h AS day_bucket, COALESCE(daily.n, 0) AS n_events
    FROM spine LEFT JOIN daily ON spine.h = daily.h
    ORDER BY day_bucket
"""


@query(
    "q_sql_recursive",
    oracle=_RECURSIVE_SQL.format(hour="epoch_us(ts) // 86400000000", rlimit=""),
)
def q_sql_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): a WITH RECURSIVE hourly spine over the
    events stream, zero-filling silent hours — same SQL text on both
    engines modulo the hour-bucket spelling (``(ts DIV 1000) DIV 3600000000``
    vs ``epoch_us(ts) // 3600000000``).  Recursion is the SQL-standard form for
    iterative/hierarchical queries (org charts, BOM explosions,
    transitive closure); the engine's iterative operators
    (operators/graph.py) remain the scale path — a driver loop with
    localCheckpoint controls plan growth explicitly, while recursion
    depth here is the stream's day span (~30) — and depth IS the cost,
    one sequential driver round trip per level, which is why the spine
    recurses on days, not hours.  The spine itself is tiny; the
    per-day counts aggregate distributed as usual."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _RECURSIVE_SQL.format(
            hour="(ts DIV 1000) DIV 86400000000",
            # headroom over the ~30 day steps (Spark's default guard
            # is 100 levels); DuckDB needs (and accepts) no such clause
            rlimit=" MAX RECURSION LEVEL 2000",
        )
    )


_PIPE_SQL_SPARK = """
    FROM lineitem
    |> WHERE l_discount > 0.03
    |> AGGREGATE COUNT(*) AS n, {rev}
       GROUP BY l_returnflag, l_linestatus
    |> WHERE n > 100
    |> ORDER BY l_returnflag, l_linestatus
"""

_PIPE_SQL_ORACLE = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {rev}
    FROM lineitem
    WHERE l_discount > 0.03
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 100
    ORDER BY l_returnflag, l_linestatus
"""


@query(
    "q_sql_pipe",
    oracle=_PIPE_SQL_ORACLE.format(
        rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")
    ),
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 / GoogleSQL-style): the same
    filter→aggregate→having→sort pipeline written as |> stages —
    each stage consumes the previous relation top-to-bottom, which is
    how users actually compose transformations (and exactly how the
    DataFrame API reads).  Catalyst plans it identically to the
    classic nested form; the oracle IS that classic form, proving the
    two syntaxes are the same query."""
    load_tables(spark, sf_dir)
    return spark.sql(
        _PIPE_SQL_SPARK.format(
            rev=s_dsum("l_extendedprice * (1 - l_discount)", "revenue")
        )
    )
