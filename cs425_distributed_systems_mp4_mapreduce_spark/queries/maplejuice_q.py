"""Declared queries exercising the MapleJuice parity surface.

- q_maplejuice_wordcount: the canonical demo app [spec: A13] in its
  idiomatic Spark form (explode+count — what "maple emits (word,1),
  juice sums" declares).  Headline bench query.
- q_maplejuice_rdd_wordcount / q_maplejuice_range_wordcount: the SAME
  computation driven through the actual maple()/juice() RDD layer with
  the hash [A3] and range [A4] partitioners — proves the arbitrary-
  user-function surface produces oracle-correct results either way.
- q_maplejuice_sql_filter / _sql_join: the reference's two SQL query
  shapes [spec: A5/A6] through the mini-frontend compiler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.maplejuice import maple_juice, maple_juice_pipe
from ..plans.sql_frontend import run_maplejuice_sql
from ..registry import query
from ..sources.tables import table as T

_WORDCOUNT_ORACLE = """
    SELECT word, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY word
"""


@query("q_maplejuice_wordcount", oracle=_WORDCOUNT_ORACLE, headline=True)
def q_maplejuice_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount [spec: A13], Spark-first: stays entirely in JVM
    codegen (split/explode/count) — the fast path for 100 TB text.
    No presentation sort: the result is a set of (word, n) pairs, and
    a global sort would add an exchange + sort stage (about 40% of
    this query's wall time at sf0.1) that no consumer needs."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _rdd_wordcount(spark: SparkSession, sf_dir: str, partitioner: str) -> DataFrame:
    """Shared maple/juice WordCount job [spec: A1-A4]; tokenization
    matches the oracle's STRING_SPLIT exactly (empty tokens kept)."""
    d = T(spark, sf_dir, "documents")
    lines = d.select("text").rdd.map(lambda r: r.text)
    out = maple_juice(
        lines,
        maple_exe=lambda line: [(w, 1) for w in line.split(" ")],
        juice_exe=lambda word, counts: (word, sum(counts)),
        num_maples=8,
        num_juices=8,
        partitioner=partitioner,
    )
    return spark.createDataFrame(out, schema="word string, n long").orderBy("word")


@query("q_maplejuice_rdd_wordcount", oracle=_WORDCOUNT_ORACLE)
def q_maplejuice_rdd_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount through the maple/juice user-function API with the
    HASH partitioner [spec: A1-A3]."""
    return _rdd_wordcount(spark, sf_dir, "hash")


@query("q_maplejuice_range_wordcount", oracle=_WORDCOUNT_ORACLE)
def q_maplejuice_range_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same job with the RANGE partitioner [spec: A4]: keys sorted into
    contiguous ranges across juice tasks and grouped by streaming over
    the sorted partitions (no hash re-shuffle) — must equal the hash
    run, which is exactly the comparison the reference's report makes."""
    return _rdd_wordcount(spark, sf_dir, "range")


@query("q_maplejuice_pipe_wordcount", oracle=_WORDCOUNT_ORACLE)
def q_maplejuice_pipe_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount through EXTERNAL EXECUTABLES over a true process
    boundary [spec: A1/A2 — maple_exe/juice_exe are arbitrary binaries
    fed by stdin/stdout, which the Python-callable maple()/juice()
    layer cannot claim parity with].  The two checked-in standalone
    programs (exes/wordcount_{maple,juice}.py) know nothing about
    Spark; the engine streams partitions through them with Spark SQL's
    script transformation (the JVM feeds each process; no Python worker
    in the path) and the same hash partitioner + sorted-reducer-input
    contract as Hadoop streaming.  Must hash-match the same SQL oracle
    as the in-process and pure-DataFrame wordcount variants."""
    import os
    import sys

    exe_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "exes"
    )
    py = sys.executable or "python3"
    d = T(spark, sf_dir, "documents")
    out = maple_juice_pipe(
        d.select("text"),
        maple_cmd=f"{py} {os.path.join(exe_dir, 'wordcount_maple.py')}",
        juice_cmd=f"{py} {os.path.join(exe_dir, 'wordcount_juice.py')}",
        num_maples=8,
        num_juices=8,
        partitioner="hash",
    )
    kv = F.split("line", "\t", 2)
    return out.select(
        kv[0].alias("word"), kv[1].cast("long").alias("n")
    ).orderBy("word")


@query(
    "q_maplejuice_sql_filter",
    oracle="""
    SELECT * REPLACE (CAST(o_orderdate AS VARCHAR) AS o_orderdate)
    FROM orders
    WHERE regexp_matches(
        CONCAT_WS('|', COALESCE(CAST(o_orderkey AS VARCHAR), ''),
                  COALESCE(CAST(o_custkey AS VARCHAR), ''),
                  COALESCE(o_orderstatus, ''),
                  COALESCE(CAST(o_totalprice AS VARCHAR), ''),
                  COALESCE(CAST(o_orderdate AS VARCHAR), ''),
                  COALESCE(o_orderpriority, '')),
        '1-URGENT')
    """,
)
def q_maplejuice_sql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference SQL shape #1 [spec: A5] through the frontend:
    ``SELECT ALL FROM orders WHERE <regex>`` — regex over the rendered
    row line, compiled to an RLIKE filter plan.  The timestamp column
    is stringified identically on both sides for the declared output
    (pandas ns- vs µs-resolution would otherwise read as a dtype
    difference; the frontend itself returns raw rows)."""
    df = run_maplejuice_sql(spark, sf_dir, "SELECT ALL FROM orders WHERE 1-URGENT")
    return df.withColumn("o_orderdate", F.col("o_orderdate").cast("string"))


@query(
    "q_maplejuice_sql_join",
    oracle="""
    SELECT * FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def q_maplejuice_sql_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference SQL shape #2 [spec: A6] through the frontend:
    two-dataset equi-join compiled to an inner-join plan."""
    return run_maplejuice_sql(
        spark,
        sf_dir,
        "SELECT ALL FROM nation, region WHERE nation.n_regionkey = region.r_regionkey",
    )
