"""Unit/property tests for the MapleJuice parity layer (SURVEY.md §5.2:
partitioner completeness, hash≡range results, frontend compilation)."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from cs425_distributed_systems_mp4_mapreduce_spark.operators.maplejuice import (
    juice,
    maple,
    maple_juice,
    reduce_by_key,
)
from cs425_distributed_systems_mp4_mapreduce_spark.plans.sql_frontend import (
    parse_maplejuice_sql,
    run_maplejuice_sql,
)
from conftest import SF_SMOKE


def _doc_lines(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("text")
        .rdd.map(lambda r: r.text)
    )


def _tok():
    # defined as a returned closure so cloudpickle serializes it BY
    # VALUE — a module-level function in a test file would pickle by
    # reference and Spark workers cannot import the test module
    return lambda line: [(w, 1) for w in line.split(" ") if w]


def test_wordcount_hash_equals_dataframe(spark):
    lines = _doc_lines(spark)
    mj = dict(
        maple_juice(lines, _tok(), lambda k, vs: (k, sum(vs)), 4, 4, "hash").collect()
    )
    df = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    expected = {r["w"]: r["count"] for r in df}
    assert mj == expected


def test_hash_and_range_agree(spark):
    lines = _doc_lines(spark)
    pairs = maple(lines, _tok(), 4)
    h = dict(juice(pairs, lambda k, vs: (k, sum(vs)), 5, "hash").collect())
    r = dict(juice(pairs, lambda k, vs: (k, sum(vs)), 5, "range").collect())
    assert h == r


def test_reduce_by_key_agrees_with_juice(spark):
    lines = _doc_lines(spark)
    pairs = maple(lines, _tok(), 4)
    j = dict(juice(pairs, lambda k, vs: (k, sum(vs)), 4, "hash").collect())
    for partitioner in ("hash", "range"):
        rb = dict(reduce_by_key(pairs, lambda a, b: a + b, 4, partitioner).collect())
        assert j == rb, partitioner
    with pytest.raises(ValueError, match="unknown partitioner 'bogus'"):
        reduce_by_key(pairs, lambda a, b: a + b, 4, "bogus")


def test_partitioner_completeness_and_task_counts(spark):
    """[spec: A3/A4] every key lands on exactly one juice task; range
    tasks hold contiguous sorted key ranges."""
    lines = _doc_lines(spark)
    pairs = maple(lines, _tok(), 4)
    for strategy in ("hash", "range"):
        from cs425_distributed_systems_mp4_mapreduce_spark.operators.maplejuice import (
            _partition,
        )

        parted = _partition(pairs, 5, strategy)
        assert parted.getNumPartitions() == 5
        per_part = parted.mapPartitionsWithIndex(
            lambda i, it: [(i, sorted({k for k, _ in it}))]
        ).collect()
        seen = {}
        for i, keys in per_part:
            for k in keys:
                assert k not in seen, f"key {k} on tasks {seen[k]} and {i} ({strategy})"
                seen[k] = i
        if strategy == "range":
            bounds = [(keys[0], keys[-1]) for _, keys in sorted(per_part) if keys]
            for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
                assert hi1 <= lo2, f"range partitions overlap: {hi1} > {lo2}"


def test_maple_respects_num_tasks(spark):
    lines = _doc_lines(spark)
    pairs = maple(lines, _tok(), 7)
    assert pairs.getNumPartitions() == 7


def test_sql_frontend_parse():
    q = parse_maplejuice_sql("SELECT ALL FROM documents WHERE spark|merge")
    assert q.kind == "filter" and q.dataset == "documents" and q.regex == "spark|merge"
    j = parse_maplejuice_sql(
        "SELECT ALL FROM orders, customer WHERE orders.o_custkey = customer.c_custkey"
    )
    assert j.kind == "join" and (j.left, j.right) == ("orders", "customer")
    assert (j.left_field, j.right_field) == ("o_custkey", "c_custkey")
    # join fields resolved by table name, not position
    j2 = parse_maplejuice_sql(
        "SELECT ALL FROM orders, customer WHERE customer.c_custkey = orders.o_custkey"
    )
    assert (j2.left_field, j2.right_field) == ("o_custkey", "c_custkey")
    with pytest.raises(ValueError):
        parse_maplejuice_sql("SELECT name FROM x WHERE 1=1")
    with pytest.raises(ValueError):
        parse_maplejuice_sql("SELECT ALL FROM a, b WHERE c.x = d.y")


def test_sql_frontend_filter_matches_dataframe(spark):
    got = run_maplejuice_sql(
        spark, SF_SMOKE, "SELECT ALL FROM documents WHERE spark"
    )
    want = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("text").rlike("spark"))
    )
    assert got.count() == want.count() > 0
    assert got.columns == want.columns


def test_sql_frontend_join_matches_dataframe(spark):
    got = run_maplejuice_sql(
        spark,
        SF_SMOKE,
        "SELECT ALL FROM orders, customer WHERE orders.o_custkey = customer.c_custkey",
    )
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    c = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    want = o.join(c, o.o_custkey == c.c_custkey, "inner")
    assert got.count() == want.count() > 0


def test_range_juice_preserves_range_partitioning(spark):
    """Regression [spec: A4]: juice(partitioner='range') must emit its
    results FROM the range-partitioned layout — output partitions hold
    contiguous key ranges.  (groupByKey after sortByKey would silently
    re-shuffle by hash: its portable_hash partitioner compares unequal
    to sortByKey's RangePartitioner closure.)"""
    lines = _doc_lines(spark)
    pairs = maple(lines, _tok(), 4)
    out = juice(pairs, lambda k, vs: (k, sum(vs)), 5, "range")
    per_part = out.mapPartitionsWithIndex(
        lambda i, it: [(i, sorted(k for k, _ in it))]
    ).collect()
    bounds = [(keys[0], keys[-1]) for _, keys in sorted(per_part) if keys]
    assert len(bounds) >= 2, "need multiple non-empty partitions to test"
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, f"juice output not range-partitioned: {bounds}"
    # and still one output row per key
    words = [k for _, keys in per_part for k in keys]
    assert len(words) == len(set(words))


def _exe_cmds():
    import os
    import sys

    import cs425_distributed_systems_mp4_mapreduce_spark as pkg

    exe_dir = os.path.join(os.path.dirname(pkg.__file__), "exes")
    py = sys.executable or "python3"
    return (
        f"{py} {os.path.join(exe_dir, 'wordcount_maple.py')}",
        f"{py} {os.path.join(exe_dir, 'wordcount_juice.py')}",
    )


@pytest.mark.parametrize("partitioner", ["hash", "range"])
def test_pipe_wordcount_equals_in_process(spark, partitioner):
    """[spec: A1/A2] external-executable job (script-transformation
    process boundary) must agree with the in-process callable job for
    both partitioners [A3/A4]."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.maplejuice import (
        maple_juice_pipe,
    )

    maple_cmd, juice_cmd = _exe_cmds()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("text")
    out = maple_juice_pipe(docs, maple_cmd, juice_cmd, 4, 4, partitioner)
    got = {
        (k, int(v)) for k, v in (r.line.split("\t", 1) for r in out.collect())
    }
    # in-process twin keeps empty tokens too (exe splits on ' ' keeping
    # empties, matching STRING_SPLIT)
    want = set(
        maple_juice(
            _doc_lines(spark),
            lambda line: [(w, 1) for w in line.split(" ")],
            lambda k, vs: (k, sum(vs)),
            4,
            4,
            "hash",
        ).collect()
    )
    assert got == want


def _cat_juice_partitions(spark, partitioner):
    """Keys of each juice task's stdin, in order, with ``cat`` as the
    juice exe: 100 pairs over 7 keys from 5 input partitions, 3 juices."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.maplejuice import (
        juice_pipe,
    )

    pairs = spark.createDataFrame(
        [(f"k{i % 7}\t{i}",) for i in range(100)], "line string"
    ).repartition(5)
    out = juice_pipe(pairs, "cat", 3, partitioner)
    per_part = out.rdd.mapPartitionsWithIndex(
        lambda i, it: [(i, [r.line.split("\t", 1)[0] for r in it])]
    ).collect()
    return [keys for _, keys in sorted(per_part)]


def test_juice_pipe_sorted_reducer_contract(spark):
    """Each juice partition pipes its lines with equal keys ADJACENT
    (sorted) — the Hadoop-streaming reducer contract the checked-in
    juice exe relies on.  `cat` as the juice exe exposes the raw stdin
    stream; verify per-partition key-sortedness and hash completeness."""
    total = 0
    for keys in _cat_juice_partitions(spark, "hash"):
        assert keys == sorted(keys), f"unsorted reducer input: {keys[:10]}"
        total += len(keys)
    assert total == 100  # every pair crossed the pipe exactly once


def test_juice_pipe_range_partitions_globally_ordered(spark):
    """[spec: A4] the range partitioner's juice tasks each read a
    sorted stream, and the non-empty tasks cover disjoint, ascending
    key ranges."""
    parts = [keys for keys in _cat_juice_partitions(spark, "range") if keys]
    assert len(parts) >= 2, "need multiple non-empty partitions to test"
    for keys in parts:
        assert keys == sorted(keys), f"unsorted reducer input: {keys[:10]}"
    for lo, hi in zip(parts, parts[1:]):
        assert lo[-1] < hi[0], f"partitions not range-ordered: {parts}"
    assert sum(map(len, parts)) == 100


#: lines a ``\\n``-framed pipe can carry: any text free of ``\\n``/``\\r``
#: and of lone surrogates (not encodable as UTF-8, so no text dataset
#: holds one; Spark replaces them before any pipe runs), plus the lines
#: a script transformation's default row formats would mangle — Hive's
#: NULL marker ``\\N``, the default field delimiter ``\\u0001``, a NUL,
#: tab runs, empty and non-ASCII lines
_PIPE_LINE = st.one_of(
    st.sampled_from(
        ["\\N", "k\t\\N", "\u0001", "a\u0001b\tc", "\u0000", "", "\t",
         "k\tv\tw\t", "\t\t\t", "ünï\tcödé ✓", "no tab"]
    ),
    st.text(
        st.characters(exclude_categories=("Cs",), exclude_characters="\n\r"),
        max_size=12,
    ),
)


def _kv_normal(line: str) -> str:
    """The pipe's output framing of ``line``: split on the first tab,
    re-joined, so a line without a tab gains a trailing one."""
    k, _, v = line.partition("\t")
    return f"{k}\t{v}"


@settings(max_examples=12, deadline=None)
@given(st.lists(_PIPE_LINE, max_size=30))
@example(["\\N", "\u0001x\u0001y", "\u0000", "", "a\tb\tc", "ünï"])
def test_pipe_framing_is_lossless_through_cat(spark, lines):
    """``cat`` as the maple and then as the juice exe returns every
    input line, normalised to ``key\\tvalue`` and otherwise intact: no
    line lost, split, truncated or turned into NULL."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.maplejuice import (
        juice_pipe,
        maple_pipe,
    )

    df = spark.createDataFrame([(l,) for l in lines], "text string")
    mapled = maple_pipe(df, "cat", 2)
    want = sorted(_kv_normal(l) for l in lines)
    assert sorted(r.line for r in mapled.collect()) == want
    juiced = juice_pipe(mapled, "cat", 3)
    assert sorted(r.line for r in juiced.collect()) == want


def test_sql_frontend_self_join_rejected():
    """Review r12: the name-keyed join-field dict silently collapsed
    both fields to the second one on a self-join (same dataset twice),
    compiling a trivially-true wrong condition.  The grammar has no
    aliases, so a self-join must be a loud error."""
    from cs425_distributed_systems_mp4_mapreduce_spark.plans.sql_frontend import (
        parse_maplejuice_sql,
    )

    with pytest.raises(ValueError, match="self-join"):
        parse_maplejuice_sql(
            "SELECT ALL FROM orders, orders "
            "WHERE orders.o_custkey = orders.o_orderkey"
        )


def test_sql_frontend_line_keeps_null_field_delimiters(spark):
    """Review r12: concat_ws SKIPS null columns (delimiter too), so a
    row (1, NULL, 'x') rendered as '1|x' and positional regexes
    matched the wrong rows.  A delimited line keeps the empty field:
    '1||x'."""
    from cs425_distributed_systems_mp4_mapreduce_spark.plans.sql_frontend import (
        _as_line,
    )

    df = spark.createDataFrame(
        [(1, None, "x")], "a int, b string, c string"
    )
    assert _as_line(df, "not_a_text_table").collect()[0]["_line"] == "1||x"
