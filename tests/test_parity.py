"""Local simulation of the driver's t2 gate: run every registered query
on Spark at sf0.01 AND its DuckDB oracle, compare row-count + schema
(column names) + values (order-insensitive).

This is deliberately STRICTER than the driver: with the exact-decimal
aggregation discipline (functions/parity.py) float results should be
bit-identical, so the default comparison is exact; specs may declare a
small atol for genuinely non-bit-exact ops (e.g. cosine similarity
where DuckDB computes in float32).
"""

from __future__ import annotations

import math

import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
# the compare kernel lives in the runner; perfbench/oracle.py and
# tests/test_overflow_census.py import it from this module
from cs425_distributed_systems_mp4_mapreduce_spark.runner import assert_frames_match

from conftest import SF_T2

SPECS = list(all_queries().values())


@pytest.mark.parametrize("spec", SPECS, ids=[s.name for s in SPECS])
def test_query_matches_oracle(spark, duck, spec):
    sdf = spec.fn(spark, SF_T2)
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        # rows-only check, mirroring the driver's weaker gate
        assert len(spark_pdf) >= 0
        assert len(spark_pdf.columns) > 0
        return
    duck_pdf = duck.execute(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, spec.atol)


def test_entry_smoke(spark):
    from cs425_distributed_systems_mp4_mapreduce_spark.api import entry

    df = entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert not math.isnan(rows[0]["revenue"])


def test_stddev_singleton_group_null_both_engines(spark):
    """Review r12: stddev_from's unguarded (n-1) division aborted the
    whole job under Spark 4 ANSI mode for any 1-row group, where
    builtin stddev_samp yields NULL.  Both the Spark helper and the
    DuckDB twin must now agree on NULL for singletons and on the
    value for real groups."""
    import duckdb

    from cs425_distributed_systems_mp4_mapreduce_spark.functions.parity import (
        dstddev_cols,
        o_dstddev,
        stddev_from,
    )

    df = spark.createDataFrame(
        [("a", 1.00), ("b", 2.00), ("b", 4.00)], "g string, v double"
    )
    sx, sx2, n = dstddev_cols("v")
    got = {
        r["g"]: r["sd"]
        for r in df.groupBy("g")
        .agg(stddev_from(sx, sx2, n).alias("sd"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES ('a', 1.00), ('b', 2.00), ('b', 4.00)) v(g, v)")
    want = {
        g: sd
        for g, sd in con.execute(
            f"SELECT g, {o_dstddev('v', 'sd')} FROM t GROUP BY g"
        ).fetchall()
    }
    assert got["a"] is None and want["a"] is None
    assert got["b"] == want["b"] and abs(got["b"] - 2**0.5) < 1e-12
