"""Custom stateful streaming + hypothesis property tests (SURVEY §5.2)."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import SF_SMOKE

# --------------------------------------------------------------------------
# applyInPandasWithState


def _drain_user_activity(spark, chunks, name, max_files_per_trigger=2, timeout_s=420):
    """Run the stateful user-activity stream over a replay directory to
    its drained end; returns the memory-sink table."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        user_activity_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        drain_finite_stateful_stream,
        events_stream,
    )

    stream = user_activity_stream(
        events_stream(spark, chunks, max_files_per_trigger)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # drain + STOP: ProcessingTimeTimeout otherwise keeps the
    # availableNow query alive on empty timer batches for the rest of
    # the session (see streaming/windows.drain_finite_stateful_stream)
    drain_finite_stateful_stream(q, timeout_s)
    return spark.table(name)


def _assert_user_activity_matches_batch(spark, table):
    # update mode re-emits per batch; the LAST row per user is the total
    got = (
        table.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert got.equals(want), (got.head(), want.head())


def test_stateful_user_activity_matches_batch(spark, tmp_path):
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir,
    )

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    table = _drain_user_activity(spark, chunks, "useract")
    _assert_user_activity_matches_batch(spark, table)


def _empty_events_file(spark, out_dir, mtime):
    """Write one zero-row events parquet file into ``out_dir`` with
    modification time ``mtime`` (the file source replays by mtime)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        EVENTS_SCHEMA,
    )

    staging = f"{out_dir}.__empty"
    spark.createDataFrame([], EVENTS_SCHEMA).coalesce(1).write.parquet(staging)
    (part,) = [f for f in os.listdir(staging) if f.endswith(".parquet")]
    dst = os.path.join(out_dir, f"part-empty-{part}")
    os.makedirs(out_dir, exist_ok=True)
    shutil.move(os.path.join(staging, part), dst)
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(staging)


def test_drain_returns_on_a_source_that_never_delivers_a_row(spark, tmp_path):
    """A replay source of zero-row files keeps an availableNow stateful
    query scheduling empty batches; draining must see that nothing is
    left to read and return in seconds, not wait out its timeout."""
    chunks = str(tmp_path / "replay")
    _empty_events_file(spark, chunks, time.time() - 100)
    table = _drain_user_activity(spark, chunks, "useract_empty", timeout_s=60)
    assert table.count() == 0


def test_drain_reads_past_a_leading_zero_row_file(spark, tmp_path):
    """A zero-row file replayed BEFORE the data is a batch with no input
    rows that is not the end of the stream: every row still arrives."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir,
    )

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 2)
    first = min(
        os.path.getmtime(os.path.join(chunks, f))
        for f in os.listdir(chunks) if f.endswith(".parquet")
    )
    _empty_events_file(spark, chunks, first - 10)
    table = _drain_user_activity(spark, chunks, "useract_lead", 1)
    _assert_user_activity_matches_batch(spark, table)


def test_drain_reraises_a_dead_stateful_stream(spark, tmp_path):
    """A stateful function that raises kills its query; draining that
    query must surface the stream's error, not return as if the stream
    had drained (which would hand the caller an empty or partial sink)."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        drain_finite_stateful_stream,
        events_stream,
        replay_dir,
    )

    def planted_failure(key, batches, state):
        raise ValueError("planted stateful failure")
        yield  # a generator, like every applyInPandasWithState function

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 2)
    stream = events_stream(spark, chunks).groupBy("user_id").applyInPandasWithState(
        planted_failure,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("planted_failure")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="planted stateful failure"):
        drain_finite_stateful_stream(q, timeout_s=120)
    assert not q.isActive


# --------------------------------------------------------------------------
# text-line scan parity (the reference's native input model)


def test_text_line_scan_and_maple(spark, tmp_path):
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.maplejuice import (
        maple_juice,
    )

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    path = str(tmp_path / "lines")
    d.select("text").write.mode("overwrite").text(path)
    lines_df = spark.read.text(path)  # one `value: string` column
    assert lines_df.count() == d.count()
    out = dict(
        maple_juice(
            lines_df.rdd.map(lambda r: r.value),
            lambda line: [(w, 1) for w in line.split(" ") if w],
            lambda k, vs: (k, sum(vs)),
            4,
            4,
        ).collect()
    )
    want = {
        r.w: r.n
        for r in d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == want


# --------------------------------------------------------------------------
# pandas-UDF cosine == JVM fold cosine


def test_pandas_udf_cosine_matches_jvm(spark):
    from cs425_distributed_systems_mp4_mapreduce_spark.functions.vectors import (
        cosine_to_lit,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.similarity import (
        cosine_pandas_udf,
    )

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = e.first()["embedding"]
    both = e.select(
        "vec_id",
        cosine_to_lit("embedding", q).alias("jvm"),
        cosine_pandas_udf(q)(F.col("embedding")).alias("py"),
    ).toPandas()
    assert np.allclose(both.jvm, both.py, atol=1e-12)


# --------------------------------------------------------------------------
# hypothesis properties (pure-python mirrors of the operators)


@settings(max_examples=200, deadline=None)
@given(
    a=st.lists(st.text("ab", min_size=1, max_size=3), max_size=12),
    b=st.lists(st.text("ab", min_size=1, max_size=3), max_size=12),
)
def test_jaccard_properties(a, b):
    """0 ≤ J ≤ 1, J(a,a)=1, symmetric — mirror of operators.dedup.jaccard."""
    def j(x, y):
        sx, sy = set(x), set(y)
        if not sx | sy:
            return None
        return len(sx & sy) / len(sx | sy)

    if a or b:
        v = j(a, b)
        assert 0.0 <= v <= 1.0
        assert v == j(b, a)
    if a:
        assert j(a, a) == 1.0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text("abcxyz ", min_size=1, max_size=8), min_size=1, max_size=10))
def test_fingerprint_mirror_properties(tokens):
    """Python mirror of functions.text.fingerprint: deterministic,
    order-sensitive, always in [0, p)."""
    P = 1_000_000_007

    def chash(t):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % P
        return h

    def fp(toks):
        h = 0
        for t in toks:
            h = (h * 33 + chash(t)) % P
        return h

    v = fp(tokens)
    assert 0 <= v < P
    assert v == fp(tokens)
    if len(set(tokens)) >= 2:
        rev = list(reversed(tokens))
        if rev != tokens:
            assert fp(rev) != v or True  # collisions allowed, just exercise


def test_fingerprint_spark_matches_python_mirror(spark):
    """The JVM expression computes the same polynomial as the mirror —
    pins the formula both the oracle and hypothesis tests rely on."""
    from cs425_distributed_systems_mp4_mapreduce_spark.functions.text import fingerprint

    P = 1_000_000_007

    def chash(t):
        h = 0
        for ch in t:
            h = (h * 31 + ord(ch)) % P
        return h

    def fp(text):
        h = 0
        for t in text.split(" "):
            h = (h * 33 + chash(t)) % P
        return h

    rows = [("hello world",), ("a b c",), ("spark shuffle merge join",)]
    df = spark.createDataFrame(rows, "text string")
    got = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert got == [fp(t) for (t,) in rows]


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=50),
    st.integers(min_value=1, max_value=16),
)
def test_hash_partitioner_mirror_complete(keys, n):
    """hash(key) % n assigns every key exactly one task in [0, n) —
    mirror of the maple/juice hash partitioner [spec: A3]."""
    import os

    # Spark sets PYTHONHASHSEED on workers; portable_hash refuses to
    # run driver-side without it
    os.environ.setdefault("PYTHONHASHSEED", "0")
    from pyspark.rdd import portable_hash

    for k in keys:
        t = portable_hash(k) % n
        assert 0 <= t < n
        assert t == portable_hash(k) % n


@settings(max_examples=150, deadline=None)
@given(
    ds=st.sampled_from(["documents", "orders", "lineitem"]),
    regex=st.text(
        st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="|.*+ "),
        min_size=1,
        max_size=20,
    ),
)
def test_sql_frontend_filter_roundtrip(ds, regex):
    """Any 'SELECT ALL FROM <ds> WHERE <regex>' parses back to its own
    components (the frontend is a total function on this shape)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.plans.sql_frontend import (
        parse_maplejuice_sql,
    )

    q = parse_maplejuice_sql(f"SELECT ALL FROM {ds} WHERE {regex.strip() or 'x'}")
    assert q.kind == "filter" and q.dataset == ds
    assert q.regex == (regex.strip() or "x")


@given(
    st.lists(
        st.tuples(st.integers(1, 60), st.integers(1, 8)),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=200, deadline=None)
def test_interval_merge_formula_matches_set_union(iv):
    """The gaps-and-islands coverage formula used by q_dedup_spans —
    contribution_i = max(0, end_i - max(start_i - 1, max_prev_end)) over
    start-sorted intervals — must equal brute-force set-union size for
    ANY interval family.  Parity cannot catch a bug here (Spark and
    DuckDB share the same formula), so the formula itself gets a
    property test against an independent implementation."""
    intervals = sorted((s, s + w - 1) for s, w in iv)  # inclusive [s, e]
    prev_end = 0
    covered = 0
    for s, e in intervals:
        covered += max(0, e - max(s - 1, prev_end))
        prev_end = max(prev_end, e)
    brute = len({x for s, e in intervals for x in range(s, e + 1)})
    assert covered == brute, (intervals, covered, brute)
