"""The registry runner's query selection and its protocol-2
materializer (cs425_distributed_systems_mp4_mapreduce_spark/runner.py)."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
from cs425_distributed_systems_mp4_mapreduce_spark.runner import materialize, select


def test_select_defaults_to_headline():
    assert set(select()) == {n for n, s in all_queries().items() if s.headline}


def test_select_takes_names_from_whole_registry():
    """A named non-headline query is selected, not silently dropped."""
    assert not all_queries()["q_dedup_containment"].headline
    assert list(select(["q_dedup_containment", "q_window_locf"])) == [
        "q_dedup_containment",
        "q_window_locf",
    ]


def test_select_rejects_unknown_name():
    with pytest.raises(ValueError, match="q_no_such_query"):
        select(["q_window_locf", "q_no_such_query"])


def test_checksum_evaluates_every_output_column(spark):
    """The reason protocol 2 exists: count() lets Catalyst prune an
    output column it never reads, so a column that would fail is never
    evaluated; the checksum materializer computes every column."""
    df = spark.range(3).withColumn("x", F.raise_error(F.lit("evaluated")))
    assert df.count() == 3
    with pytest.raises(SparkRuntimeException, match="evaluated"):
        materialize(df, collect=False)
