"""MapleJuice parity layer: the reference's user-function surface.

The reference engine runs arbitrary user executables in two phases
[spec: SURVEY.md §2.1 A1/A2 — the checkout at /root/reference was
empty, semantics from the published CS425 MP4 assignment]:

  maple <maple_exe> <num_maples> <prefix> <sdfs_src_dir>
      maple_exe: input line -> [(key, value), ...]
  juice <juice_exe> <num_juices> <prefix> <sdfs_dest> delete_input={0,1}
      juice_exe: (key, all values for key) -> (key, value_out)

with the key→task assignment done by a hash partitioner
(``hash(key) % num_juices`` [spec: A3]) or a range partitioner (sorted
contiguous key ranges [spec: A4]).

Spark-first mapping — NOT a port of the reference's scheduler:
- the maple phase is ``flatMap`` over an RDD of lines;
- the per-key intermediate files (``prefix_K``) ARE the shuffle, so
  they disappear into ``partitionBy + groupByKey`` (Spark materializes
  shuffle files itself; ``delete_input`` is therefore a no-op);
- task counts map to RDD partition counts;
- fault tolerance (leader reassignment of failed tasks [spec: A7]) is
  Spark lineage re-execution — nothing to build.

Two surfaces: ``maple``/``juice`` take Python callables over RDDs;
``maple_pipe``/``juice_pipe`` run arbitrary executables over a
one-column DataFrame of ``key\\tvalue`` lines through Spark SQL's
script transformation, so the JVM feeds the user's process directly
and shuffles and sorts the pairs itself.  The CLI (``__main__``) and
``q_maplejuice_pipe_wordcount`` both use the executable surface.

The layer exists because the reference's power is *arbitrary user
functions*, not a fixed algebra; everything expressible there is
expressible here.  For anything relational, prefer the DataFrame
queries (JVM codegen ≫ Python lambdas); this API is the escape hatch,
and its Python functions run batch-parallel per partition.

Scale note: ``juice`` groups ALL values for a key on one task — the
reference's semantics.  A hot key therefore skews, exactly as it did in
the reference; ``reduce_by_key`` offers the combiner-style alternative
(associative merge, map-side partial reduction) which is what you want
at 100 TB whenever the juice function is a fold.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Tuple

from pyspark.rdd import RDD, portable_hash
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KV = Tuple[Any, Any]


def _unknown_partitioner(partitioner: str) -> ValueError:
    return ValueError(f"unknown partitioner {partitioner!r} (want 'hash' or 'range')")


def _partition(pairs: RDD, num_tasks: int, partitioner: str) -> RDD:
    if partitioner == "hash":
        # [spec: A3] hash(key) % num_juices
        return pairs.partitionBy(num_tasks, portable_hash)
    if partitioner == "range":
        # [spec: A4] sorted keys split into contiguous ranges.
        # sortByKey samples key ranges and installs a RangePartitioner;
        # the subsequent groupByKey reuses it (no second shuffle).
        return pairs.sortByKey(numPartitions=num_tasks)
    raise _unknown_partitioner(partitioner)


def maple(
    lines: RDD,
    maple_exe: Callable[[Any], Iterable[KV]],
    num_maples: int,
) -> RDD:
    """Map phase [spec: A1]: run ``maple_exe`` over every input record
    across ``num_maples`` parallel tasks; returns the (key, value) pair
    RDD (the reference's ``prefix_K`` intermediate files, pre-shuffle).
    """
    if lines.getNumPartitions() != num_maples:
        lines = lines.repartition(num_maples)
    return lines.flatMap(maple_exe)


def juice(
    pairs: RDD,
    juice_exe: Callable[[Any, list], KV],
    num_juices: int,
    partitioner: str = "hash",
    delete_input: bool = True,  # noqa: ARG001 - API parity; Spark manages shuffle files
) -> RDD:
    """Reduce phase [spec: A2]: partition the key set over
    ``num_juices`` tasks (hash [A3] or range [A4]), feed each key and
    ALL its values to ``juice_exe``, return the (key, out) RDD.

    The range path groups by streaming over each SORTED partition
    (equal keys are adjacent after sortByKey), NOT via groupByKey —
    groupByKey's default hash partitioner compares unequal to
    sortByKey's RangePartitioner closure and would silently re-shuffle
    by hash, destroying the range partitioning it claims to test."""
    parted = _partition(pairs, num_juices, partitioner)
    if partitioner == "range":

        def _group_sorted(it):
            cur_key, vals = None, None
            for k, v in it:
                if vals is not None and k != cur_key:
                    yield juice_exe(cur_key, vals)
                    vals = None
                if vals is None:
                    cur_key, vals = k, []
                vals.append(v)
            if vals is not None:
                yield juice_exe(cur_key, vals)

        return parted.mapPartitions(_group_sorted, preservesPartitioning=True)
    # hash: partitionBy already used (num_juices, portable_hash); pass
    # num_juices explicitly — a bare groupByKey() would default to
    # spark.default.parallelism on a cluster, fail Partitioner equality,
    # and re-shuffle away the A3 key→task assignment.
    return parted.groupByKey(num_juices).map(lambda kv: juice_exe(kv[0], list(kv[1])))


def reduce_by_key(
    pairs: RDD,
    merge: Callable[[Any, Any], Any],
    num_juices: int,
    partitioner: str = "hash",
) -> RDD:
    """Combiner-style juice for associative+commutative merges: partial
    reduction happens map-side before the shuffle (reduceByKey), so a
    hot key ships one partial per map task instead of every value —
    the scalable form of A2."""
    if partitioner == "hash":
        return pairs.reduceByKey(
            merge, numPartitions=num_juices, partitionFunc=portable_hash
        )
    if partitioner == "range":
        # sortByKey owns the range partitioning of the reduced pairs
        return pairs.reduceByKey(merge).sortByKey(numPartitions=num_juices)
    raise _unknown_partitioner(partitioner)


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal, with ``{``/``}`` doubled
    because ``spark.sql(query, df=...)`` formats the query text."""
    lit = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + lit.replace("{", "{{").replace("}", "}}") + "'"


def _transform(df: DataFrame, cmd: str) -> DataFrame:
    """Pipe the one string column ``line`` of ``df`` through the shell
    command ``cmd``, one process per partition, with Spark SQL's script
    transformation (Hive/Hadoop streaming's ``SELECT TRANSFORM ...
    USING``): the JVM writes the lines to the child's stdin and reads
    its stdout, so no row crosses into a Python worker.

    The output row format makes each stdout line one whole field: its
    field delimiter is the line delimiter (Spark's default ``\\u0001``
    would cut lines), and its NULL marker is ``\\n``, which no
    ``\\n``-framed line can equal (the default ``\\N`` would turn that
    line into NULL).  A line without a tab gains a trailing tab, so
    every output line is framed ``key\\tvalue``."""
    out = df.sparkSession.sql(
        "SELECT TRANSFORM(line)"
        " ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' LINES TERMINATED BY '\\n'"
        f" USING {_sql_string(cmd)} AS (line string)"
        " ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\n' LINES TERMINATED BY '\\n'"
        " NULL DEFINED AS '\\n'"
        " FROM {df}",
        df=df,
    )
    line = F.col("line")
    return out.select(
        F.when(F.instr(line, "\t") == 0, F.concat(line, F.lit("\t")))
        .otherwise(line)
        .alias("line")
    )


def maple_pipe(lines: DataFrame, maple_cmd: str, num_maples: int) -> DataFrame:
    """Map phase with a true PROCESS-BOUNDARY user function [spec: A1]:
    ``maple_cmd`` is an arbitrary executable (shell command line) that
    reads input lines on stdin and emits ``key\\tvalue`` lines on
    stdout — the reference's ``maple_exe`` contract, which the
    callable-based :func:`maple` cannot honour for a user with a legacy
    binary.

    ``lines`` is a DataFrame of one string column (any name); the
    result has one string column ``line`` framed ``key\\tvalue``, the
    input :func:`juice_pipe` takes.  The maple runs as ``num_maples``
    tasks (one child process each) after a round-robin repartition.

    Framing contract (Hadoop streaming's): records are newline-framed,
    key/value tab-framed on the first tab.  Input lines must therefore
    be free of ``\\n``/``\\r`` and keys tab-free — the constraint the
    reference's line-oriented SDFS files impose.  Semantics of the
    script transformation that :func:`_transform` runs:

    - the command runs as ``/bin/bash -c <cmd>``, so shell syntax
      (quotes, pipes, redirections) works;
    - the child inherits the executor's environment;
    - output records are framed by ``\\n``, ``\\r`` or ``\\r\\n`` —
      the framing ``spark.read.text`` applies to every DFS dataset;
    - a NULL input line reaches the exe as ``\\N``;
    - an exe that exits non-zero fails its task, so a crash is loud
      and Spark re-runs the task [spec: A7] instead of keeping a
      truncated output.

    Cluster note: ship the executable with ``spark.sparkContext.
    addFile(exe)`` (then reference it via ``SparkFiles.get``) so every
    executor node has it; on local mode a repo path works as-is."""
    return _transform(lines.toDF("line").repartition(num_maples), maple_cmd)


def juice_pipe(
    pairs: DataFrame,
    juice_cmd: str,
    num_juices: int,
    partitioner: str = "hash",
) -> DataFrame:
    """Reduce phase with a process-boundary user function [spec: A2]:
    ``juice_cmd`` reads SORTED ``key\\tvalue`` lines on stdin (equal
    keys adjacent — the engine guarantees it, exactly what Hadoop
    streaming guarantees a reducer) and emits ``key\\tvalue`` output
    lines on key boundaries.  ``pairs`` is one string column of
    ``key\\tvalue`` lines (the key is the text before the first tab,
    the whole line when it has none), which reach the exe unchanged;
    the result is framed like :func:`maple_pipe`'s, with the same
    process semantics.

    The key→task assignment keeps the reference's partitioners, as one
    JVM shuffle followed by ``sortWithinPartitions(key)`` — Spark's
    spill-aware external sorter, so a juice partition larger than
    memory sorts on disk rather than OOMing (the 100 TB-safe form of
    "group all values for a key"):

    - hash [spec: A3]: ``repartition(num_juices, key)``, i.e. Spark's
      Murmur3 hash of the key ``pmod num_juices`` (the spec asks only
      for ``hash(key) % num_juices``);
    - range [spec: A4]: ``repartitionByRange(num_juices, key)``
      (sampled range bounds), so non-empty partitions are globally
      ordered AND internally sorted."""
    pairs = pairs.toDF("line")
    key = F.substring_index("line", "\t", 1)
    if partitioner == "hash":
        parted = pairs.repartition(num_juices, key)
    elif partitioner == "range":
        parted = pairs.repartitionByRange(num_juices, key)
    else:
        raise _unknown_partitioner(partitioner)
    return _transform(parted.sortWithinPartitions(key), juice_cmd)


def maple_juice_pipe(
    lines: DataFrame,
    maple_cmd: str,
    juice_cmd: str,
    num_maples: int,
    num_juices: int,
    partitioner: str = "hash",
) -> DataFrame:
    """Full external-executable job [spec: A1-A4]: maple exe →
    (shuffle+sort) → juice exe, both across a real process boundary."""
    return juice_pipe(
        maple_pipe(lines, maple_cmd, num_maples),
        juice_cmd,
        num_juices,
        partitioner,
    )


def maple_juice(
    lines: RDD,
    maple_exe: Callable[[Any], Iterable[KV]],
    juice_exe: Callable[[Any, list], KV],
    num_maples: int,
    num_juices: int,
    partitioner: str = "hash",
) -> RDD:
    """Full job: maple → (shuffle) → juice, the reference's two-command
    pipeline as one call."""
    return juice(maple(lines, maple_exe, num_maples), juice_exe, num_juices, partitioner)
