"""Streaming == batch assertions (SURVEY.md §5.2): each streaming
operator replayed over a chunked file source must reproduce its batch
twin's results — Spark's unified-API promise, checked concretely."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
    drain_finite_stateful_stream,
    events_stream,
    replay_dir,
    run_stream_to_memory,
    session_stats_stream,
    sliding_counts_stream,
    stream_dedup,
    tumbling_counts_stream,
)
from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def chunks(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_replay"))
    return replay_dir(spark, SF_SMOKE, out, n_chunks=6)


def _pdf(df, sort_cols):
    return (
        df.toPandas()
        .sort_values(sort_cols, kind="mergesort")
        .reset_index(drop=True)
    )


def test_stream_tumbling_equals_batch(spark, chunks):
    got = run_stream_to_memory(
        tumbling_counts_stream(events_stream(spark, chunks)), spark, "tumb"
    ).drop("sum_value")
    want = (
        all_queries()["q_stream_tumbling"].fn(spark, SF_SMOKE).drop("sum_value")
    )
    g = _pdf(got, ["window_start_s", "event_type"])
    w = _pdf(want, ["window_start_s", "event_type"])
    pd.testing.assert_frame_equal(g, w)
    # sums compared with float tolerance (stream path uses plain
    # double sum, not the oracle-parity decimal detour)
    got_s = run_stream_to_memory(
        tumbling_counts_stream(events_stream(spark, chunks)), spark, "tumb2"
    )
    ws = all_queries()["q_stream_tumbling"].fn(spark, SF_SMOKE)
    gs = _pdf(got_s, ["window_start_s", "event_type"])["sum_value"]
    ww = _pdf(ws, ["window_start_s", "event_type"])["sum_value"]
    assert (abs(gs - ww) < 1e-6).all()


def test_stream_sliding_equals_batch(spark, chunks):
    got = run_stream_to_memory(
        sliding_counts_stream(events_stream(spark, chunks)), spark, "slide"
    )
    want = all_queries()["q_stream_sliding"].fn(spark, SF_SMOKE)
    pd.testing.assert_frame_equal(
        _pdf(got, ["window_start_s", "event_type"]),
        _pdf(want, ["window_start_s", "event_type"]),
    )


def test_stream_session_equals_batch_twin(spark, chunks):
    """Native session_window (streaming) vs lag-gap SQL formulation
    (batch twin) — same gap semantics, so same (user, start, end, n)."""
    got = run_stream_to_memory(
        session_stats_stream(events_stream(spark, chunks)), spark, "sess"
    ).select("user_id", "session_start_s", "n_events")
    twin = (
        all_queries()["q_stream_session"]
        .fn(spark, SF_SMOKE)
        .select("user_id", F.col("start_s").alias("session_start_s"), "n_events")
    )
    pd.testing.assert_frame_equal(
        _pdf(got, ["user_id", "session_start_s"]),
        _pdf(twin, ["user_id", "session_start_s"]),
    )


def test_stream_dedup_drops_reprocessed_duplicates(spark, chunks, tmp_path):
    """Feed the SAME chunk directory twice (simulating at-least-once
    redelivery) — dropDuplicatesWithinWatermark keeps one row per
    event_id."""
    import shutil, os

    doubled = str(tmp_path / "doubled")
    os.makedirs(doubled)
    for i, f in enumerate(sorted(os.listdir(chunks))):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(chunks, f), os.path.join(doubled, f"a{i}.parquet"))
            shutil.copy(os.path.join(chunks, f), os.path.join(doubled, f"b{i}.parquet"))
    # watermark must cover the whole replayed span: the dedup guarantee
    # only holds for duplicates arriving within the watermark window —
    # with a 1h watermark over a 30-day replay, state for old event_ids
    # is evicted and redelivered rows can re-emit (micro-batch packing
    # makes that race nondeterministic)
    got = run_stream_to_memory(
        stream_dedup(events_stream(spark, doubled), keys=["event_id"], watermark="40 days"),
        spark,
        "dedup",
        output_mode="append",
    )
    n_unique = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert got.count() == n_unique


def test_watermark_present_in_plan(spark, chunks):
    s = tumbling_counts_stream(events_stream(spark, chunks), watermark="10 minutes")
    assert "watermark" in s._jdf.queryExecution().analyzed().toString().lower()


def test_watermark_drops_late_row_and_bounds_state(spark, tmp_path):
    """Semantic late-data check, not just plan presence: a row arriving
    in batch 2 with event time older than the watermark set by batch 1
    must be excluded from its (already finalized) window, the engine
    must report it via numRowsDroppedByWatermark, and final state must
    hold only the still-open window."""
    import os
    import time

    H = 3_600
    MIN = 60

    def ns(sec):  # event_ts is nanos-since-epoch in the source schema
        return sec * 1_000_000_000

    def write_chunk(rows, path, mtime):
        (
            spark.createDataFrame(
                rows,
                "event_id long, ts long, user_id long, event_type string,"
                " value double, props string",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                os.utime(os.path.join(path, f), (mtime, mtime))

    chunk_dir = str(tmp_path / "late_replay")
    base = time.time() - 1_000
    # Spark ≥3.4 keeps TWO watermarks (SPARK-40925): late-event
    # filtering uses the PREVIOUS batch's watermark, eviction uses the
    # updated one.  A late row is therefore only guaranteed dropped
    # when it arrives ≥2 batches after the row that advanced the
    # watermark past it — hence three files, one per micro-batch.
    # batch 0: two rows in window w0=[0h,1h), one at 01:20 → watermark
    # after batch 0 = 01:20 − 10min = 01:10 > w0's end
    write_chunk(
        [
            (1, ns(5 * MIN), 1, "click", 1.0, "{}"),
            (2, ns(30 * MIN), 1, "click", 1.0, "{}"),
            (3, ns(1 * H + 20 * MIN), 1, "click", 1.0, "{}"),
        ],
        os.path.join(chunk_dir, "a"),
        base,
    )
    # batch 1: evicts + emits w0 (count 2) under the 01:10 watermark;
    # the 02:30 row advances the eviction watermark to 02:20
    write_chunk(
        [(4, ns(2 * H + 30 * MIN), 1, "click", 1.0, "{}")],
        os.path.join(chunk_dir, "b"),
        base + 60,
    )
    # batch 2: one LATE row at 00:40 — both watermarks are now past
    # w0's end, so it must be dropped, not re-opened as new w0 state
    # (which would duplicate-emit w0 in append mode); plus a fresh row
    write_chunk(
        [
            (5, ns(40 * MIN), 1, "click", 1.0, "{}"),
            (6, ns(3 * H + 30 * MIN), 1, "click", 1.0, "{}"),
        ],
        os.path.join(chunk_dir, "c"),
        base + 120,
    )

    src = (
        spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(os.path.join(chunk_dir, "*"))
        .withColumn("event_ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = tumbling_counts_stream(src, window="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_data")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for prog in q.recentProgress
        for op in prog.get("stateOperators", [])
    )
    state_rows_final = q.recentProgress[-1]["stateOperators"][0]["numRowsTotal"]

    got = {
        r["window_start_s"]: r["n"]
        for r in spark.table("late_data").collect()
    }
    # w0 emitted once with count 2 — late row 5 excluded, no duplicate
    # re-emission; w1 (the 01:20 row) and w2 (02:30) emitted as the
    # eviction watermark passes them; w3 (03:30) still open → withheld
    assert got == {0: 2, 1 * H: 1, 2 * H: 1}, got
    assert dropped == 1, f"expected exactly the late row dropped, got {dropped}"
    # state bounded: only the still-open w3 entry survives
    assert state_rows_final == 1, state_rows_final


def test_stream_stream_join_equals_batch(spark, chunks):
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        clicks_views_interval_join,
    )

    got = run_stream_to_memory(
        clicks_views_interval_join(events_stream(spark, chunks)),
        spark,
        "ssjoin",
        output_mode="append",  # the only mode stream-stream inner joins support
    )
    want = all_queries()["q_stream_join"].fn(spark, SF_SMOKE)
    cols = ["click_id", "view_id", "user_id"]
    pd.testing.assert_frame_equal(_pdf(got.select(cols), cols), _pdf(want.select(cols), cols))


def test_foreachbatch_parquet_sink_roundtrip(spark, chunks, tmp_path):
    """Streaming → foreachBatch → parquet: the production sink path
    (memory sink is test-only).  Every replayed event must land in the
    sink exactly once, verified against the static source."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        events_stream,
    )

    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id):
        # idempotent layout: one subdir per micro-batch, overwrite on
        # retry — the standard exactly-once recipe for file sinks
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        events_stream(spark, chunks)
        .select("event_id", "user_id", "value")
        .writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    got = spark.read.parquet(out)
    src = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    assert got.count() == src.count()
    # no duplicates, nothing lost
    assert got.select("event_id").distinct().count() == src.count()


def test_checkpoint_recovery_exactly_once(spark, chunks, tmp_path):
    """Restart a streaming aggregation from its checkpoint after new
    data arrives: the resumed incarnation must process exactly the
    unseen files and the parquet sink must equal the batch answer on
    every watermark-closed window — no lost chunks, no double-counted
    chunks.  This is the exactly-once file-sink contract a production
    pipeline relies on across deploys/crashes.  Deterministic by
    construction: incarnation 1 drains a source directory containing
    only the first 2 chunks (availableNow terminates it), the other 4
    chunks are copied in, and incarnation 2 starts from the SAME
    checkpoint — no timing-dependent stop() mid-flight."""
    import os
    import shutil

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    parts = sorted(
        f for f in os.listdir(chunks)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) >= 4

    def start():
        return (
            tumbling_counts_stream(events_stream(spark, src_dir, 2))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    for f in parts[:2]:
        shutil.copy(os.path.join(chunks, f), os.path.join(src_dir, f))
    q1 = start()
    assert q1.awaitTermination(120), "incarnation 1 did not drain in time"

    for f in parts[2:]:
        shutil.copy(os.path.join(chunks, f), os.path.join(src_dir, f))
    q2 = start()
    assert q2.awaitTermination(120), "incarnation 2 did not drain in time"

    got = (
        spark.read.parquet(sink)
        .groupBy("window_start_s", "event_type")
        .agg(F.sum("n").alias("n"))  # sink may hold several part files
    )
    want = all_queries()["q_stream_tumbling"].fn(spark, SF_SMOKE).drop("sum_value")
    g = _pdf(got, ["window_start_s", "event_type"])
    w = _pdf(want, ["window_start_s", "event_type"])
    # append mode emits only watermark-closed windows; the final
    # window(s) may still be open at end-of-stream, so `got` is a
    # PREFIX of the batch answer — assert equality on the closed part
    # and that a strict majority closed (proves the later chunks were
    # processed by the resumed incarnation)
    assert len(g) >= 0.7 * len(w), (len(g), len(w))
    merged = g.merge(w, on=["window_start_s", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(g)
    assert (merged["n_s"] == merged["n_b"]).all()


def test_transition_stream_matches_batch(spark, tmp_path):
    """Stateful lag-across-batches: the streaming transition emitter
    (one tuple of state per user) must reproduce the batch
    LAG()-window transition matrix exactly when the replayed source
    delivers in event-time order."""
    from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        transition_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        events_stream,
        replay_dir,
    )

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    q = (
        transition_stream(events_stream(spark, chunks))
        .writeStream.format("memory")
        .queryName("transitions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps availableNow scheduling empty timer
    # batches forever (see drain_finite_stateful_stream) - drain + STOP
    # instead of abandoning the query to poison the rest of the session
    drain_finite_stateful_stream(q)
    got = (
        spark.table("transitions")
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .sort_values(["from_type", "to_type"])
        .reset_index(drop=True)
    )
    want = (
        all_queries()["q_events_transitions"]
        .fn(spark, SF_SMOKE)
        .toPandas()
        .sort_values(["from_type", "to_type"])
        .reset_index(drop=True)
    )
    assert got.equals(want), (got, want)


def test_cdc_upsert_stream_state_equals_batch_twin(spark, chunks, tmp_path):
    """Replay the chunked events stream through the foreachBatch MERGE
    sink (several micro-batches, so the merge path — not just the
    first-snapshot path — is exercised) and assert the final state
    table equals the q_stream_cdc_upsert batch twin, including the
    additive n_events and the last-write-wins tie order."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.cdc import (
        run_cdc_upsert,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        events_stream,
    )

    state = run_cdc_upsert(
        spark,
        events_stream(spark, chunks, max_files_per_trigger=1),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    # vacuum keeps exactly the newest 2 snapshots (retention ≥2 so an
    # in-flight reader of the previous version never loses its files),
    # and the surviving names prove several merge batches really ran
    import os

    versions = sorted(os.listdir(tmp_path / "state"))
    assert len(versions) == 2, versions
    assert versions[-1] > "v00001", versions

    keys = ["user_id", "event_type"]
    got = _pdf(state, keys)
    want = _pdf(all_queries()["q_stream_cdc_upsert"].fn(spark, SF_SMOKE), keys)
    pd.testing.assert_frame_equal(
        got[want.columns.tolist()], want, check_exact=True
    )


def test_cdc_upsert_sink_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is AT-LEAST-once: after a crash between snapshot
    write and checkpoint commit, the SAME (batch, batch_id) is
    delivered again.  Replaying batch N must (a) not double-merge —
    the base state is the newest version STRICTLY below v{N}, never
    the replay's own crashed snapshot — and (b) reproduce v{N}
    byte-identically, so at-least-once delivery yields exactly-once
    state."""
    import os

    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.cdc import (
        read_state,
        upsert_sink,
    )

    e = table(spark, SF_SMOKE, "events")
    b0 = e.filter(F.col("event_id") % 2 == 0)
    b1 = e.filter(F.col("event_id") % 2 == 1)
    path = str(tmp_path / "state")
    fn = upsert_sink(path, keep=2)

    fn(b0, 0)
    fn(b1, 1)
    keys = ["user_id", "event_type"]
    want = _pdf(read_state(spark, path), keys)

    # crash-replay of batch 1: v00001 already exists (the "crashed
    # attempt's own snapshot"); pre-fix this was read as the base and
    # merged again → n_events doubled for odd-batch keys
    fn(b1, 1)
    got = _pdf(read_state(spark, path), keys)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert sorted(os.listdir(path)) == ["v00000", "v00001"]

    # triple replay for good measure — idempotent, not just involutive
    fn(b1, 1)
    got = _pdf(read_state(spark, path), keys)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_cdc_version_ordering_is_numeric(tmp_path):
    """ADVICE r5: lexical ordering over v-names inverts once batch_id
    outgrows the 5-digit zero-padding ('v100000' < 'v99999' lexically).
    Pin that version resolution and vacuum order compare numerically."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.cdc import (
        _latest_version_dir,
        vacuum,
    )

    for name in ("v99998", "v99999", "v100000", "v100001"):
        (tmp_path / name).mkdir()
    path = str(tmp_path)
    assert _latest_version_dir(path).endswith("v100001")
    # strictly-below replay base for batch 100001 is v100000, not v99999
    assert _latest_version_dir(path, below="v100001").endswith("v100000")
    assert _latest_version_dir(path, below="v99999").endswith("v99998")
    # vacuum keeps the numerically newest, not the lexically newest
    dropped = vacuum(path, keep=2)
    assert sorted(dropped) == ["v99998", "v99999"]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["v100000", "v100001"]


def test_python_datasource_stream_equals_batch(spark, tmp_path):
    """Spark 4 Python DataSource STREAMING half
    (SimpleDataSourceStreamReader): consuming the deterministic source
    via micro-batches must produce exactly the rows the batch reader
    yields — same schema, same values, no dups/losses across batch
    boundaries."""
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered by another test in this session

    batch = (
        spark.read.format("synthetic_events")
        .option("rows", "257").option("partitions", "3").load()
    )
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", "257").option("batch_rows", "100").load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # AvailableNow would stop after the simple reader's single
    # prefetched batch; processAllAvailable drains micro-batches until
    # the offset stops advancing (the exhausted reader holds it still).
    q.processAllAvailable()
    q.stop()
    got = spark.table("pyds_stream").orderBy("event_id").collect()
    want = batch.orderBy("event_id").collect()
    assert got == want and len(got) == 257


def test_python_datasource_offset_replay_is_pure():
    """readBetweenOffsets (the recovery path) replays any range
    identically to the forward read — the exactly-once contract."""
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.pydatasource import (
        SyntheticEventsStreamReader,
    )

    r = SyntheticEventsStreamReader({"rows": "50", "batch_rows": "7"})
    assert r.initialOffset() == {"i": 0}
    forward, off = [], r.initialOffset()
    while True:
        it, nxt = r.read(off)
        rows = list(it)
        if not rows:
            assert nxt == off, "exhausted reader must hold its offset"
            break
        forward += rows
        off = nxt
    assert len(forward) == 50
    assert list(r.readBetweenOffsets({"i": 7}, {"i": 21})) == forward[7:21]


def test_stream_ohlc_equals_batch(spark, chunks):
    """Streaming OHLC bars over the replayed source == the batch
    q_timeseries_ohlc bars (modulo the bucket encoding: the stream
    reports window_start_s, the batch query bucket = hours since
    epoch).  open/close/high/low are SELECTED values, so equality is
    exact — no float tolerance needed."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        ohlc_stream,
    )

    got = run_stream_to_memory(
        ohlc_stream(events_stream(spark, chunks)), spark, "ohlc"
    )
    want = (
        all_queries()["q_timeseries_ohlc"]
        .fn(spark, SF_SMOKE)
        .withColumn("window_start_s", F.col("bucket") * 3600)
        .drop("bucket")
    )
    cols = ["window_start_s", "event_type"]
    g = _pdf(got, cols)
    w = _pdf(want, cols)[g.columns.tolist()]
    pd.testing.assert_frame_equal(g, w)


def test_stream_enrich_equals_batch(spark, chunks):
    """Stream-static dimension join + windowed rollup over the
    replayed source == the batch twin (counts exact; sums with float
    tolerance since the stream path uses the plain double sum)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        enrich_stream,
    )

    dim = table(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    got = run_stream_to_memory(
        enrich_stream(events_stream(spark, chunks), dim), spark, "enrich"
    )
    want = all_queries()["q_stream_enrich"].fn(spark, SF_SMOKE)
    cols = ["window_start_s", "c_mktsegment"]
    g = _pdf(got, cols)
    w = _pdf(want, cols)
    pd.testing.assert_frame_equal(g.drop(columns="sum_value"), w.drop(columns="sum_value"))
    assert (abs(g["sum_value"] - w["sum_value"]) < 1e-6).all()


def test_sequence_stream_matches_batch(spark, tmp_path):
    """Stateful double-lag across batches: the streaming order-3
    sequence emitter (two event tuples of state per user) must
    reproduce the batch double-LEAD trigram counts exactly when the
    replayed source delivers in event-time order."""
    from pyspark.sql import Window

    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table as T
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        sequence_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        events_stream,
        replay_dir,
    )

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    q = (
        sequence_stream(events_stream(spark, chunks))
        .writeStream.format("memory")
        .queryName("sequences")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    drain_finite_stateful_stream(q)  # see transition test: never abandon
    got = (
        spark.table("sequences")
        .groupBy("seq")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )
    ev = T(spark, SF_SMOKE, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "event_type", "e2", "e3").alias("seq"))
        .groupBy("seq")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )
    assert got.equals(want), (got, want)


def test_stream_watermark_equals_batch(spark, tmp_path_factory):
    """The real withWatermark append-mode stream over the deterministic
    batch-per-file replay must equal the ORACLED batch twin exactly —
    this is what upgrades the watermark row from 'streaming-only by
    design' to hash-attested."""
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir_batched,
        watermark_counts_stream,
    )

    out = str(tmp_path_factory.mktemp("wm_replay"))
    replay_dir_batched(spark, SF_SMOKE, out)
    got = run_stream_to_memory(
        watermark_counts_stream(events_stream(spark, out, max_files_per_trigger=1)),
        spark,
        "wmtwin",
        output_mode="append",
    )
    want = all_queries()["q_stream_watermark"].fn(spark, SF_SMOKE)
    g = _pdf(got, ["window_start_s", "event_type"])
    w = _pdf(want, ["window_start_s", "event_type"])
    pd.testing.assert_frame_equal(
        g.drop(columns=["sum_value"]), w.drop(columns=["sum_value"])
    )
    # stream sums are plain double adds; twin uses the decimal detour
    assert (abs(g["sum_value"] - w["sum_value"]) < 1e-6).all()


def test_stream_watermark_lateness_exercised(spark):
    """The replay must actually exercise the late-drop path (not just
    trailing open windows): q_stream_late_drops attests >=1 row dropped
    by the watermark filter, and the twin keeps fewer rows than a
    watermark-free aggregation would."""
    drops = (
        all_queries()["q_stream_late_drops"]
        .fn(spark, SF_SMOKE)
        .agg(F.sum("n_late_dropped").alias("d"), F.sum("n_arrived").alias("a"))
        .collect()[0]
    )
    assert drops["d"] >= 1, "no late rows dropped — replay model degenerate"
    kept = (
        all_queries()["q_stream_watermark"]
        .fn(spark, SF_SMOKE)
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    assert kept < drops["a"]


def test_cusum_stream_equals_batch(spark, tmp_path):
    """Streaming CUSUM (two longs of state per user) over the
    time-ordered replay must reproduce the ORACLED batch trajectory
    q_window_cusum exactly — VERDICT r8 task 5, the OHLC
    incrementality precedent applied to the prefix-sum − running-min
    closed form."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
        _CUSUM_H,
        _CUSUM_K,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        CUSUM_H,
        CUSUM_K,
        cusum_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir,
    )

    # the stream module pins its own copies (no import cycle) — they
    # must track the oracled batch constants
    assert (CUSUM_K, CUSUM_H) == (_CUSUM_K, _CUSUM_H)

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    # ProcessingTimeTimeout makes FlatMapGroupsWithStateExec report
    # shouldRunAnotherBatch=true, so even trigger(availableNow) keeps
    # scheduling empty timer batches long after the data is drained —
    # run_stream_to_memory's awaitTermination would spin until the
    # 30-minute idle timers fire.  Poll the sink until the full
    # trajectory has landed instead, then stop the query (the
    # transition/sequence tests mask the same behavior by ignoring
    # awaitTermination's result).
    import time as _time

    q = (
        cusum_stream(events_stream(spark, chunks))
        .writeStream.format("memory")
        .queryName("cusum")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    want_n = all_queries()["q_window_cusum"].fn(spark, SF_SMOKE).count()
    deadline = _time.time() + 420
    while _time.time() < deadline:
        if spark.table("cusum").count() >= want_n:
            break
        _time.sleep(5)
    q.stop()
    got = spark.table("cusum")
    # the stream emits alarm as long (the int32 output column crashes
    # the Arrow worker in pyspark 4.1.2 — see CUSUM_OUTPUT); cast the
    # batch side to match
    want = all_queries()["q_window_cusum"].fn(spark, SF_SMOKE).withColumn(
        "alarm", F.col("alarm").cast("long")
    )
    cols = ["user_id", "us", "cusum_cents", "alarm"]
    g = _pdf(got.select(cols), cols)
    w = _pdf(want.select(cols), cols)
    pd.testing.assert_frame_equal(g, w)


def test_interarrival_stream_equals_batch(spark, tmp_path):
    """The streamed per-user gap feed (one tuple of state per user),
    bucketed through the SAME log2 CASE ladder, must reproduce the
    fully-oracled q_events_interarrival census exactly."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
        _GAP_LADDER,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        interarrival_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir,
    )

    import time as _time

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    q = (
        interarrival_stream(events_stream(spark, chunks))
        .writeStream.format("memory")
        .queryName("gaps")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    want = all_queries()["q_events_interarrival"].fn(spark, SF_SMOKE)
    want_n = want.agg(F.sum("n_gaps").alias("n")).collect()[0]["n"]
    deadline = _time.time() + 420
    while _time.time() < deadline:
        if spark.table("gaps").count() >= want_n:
            break
        _time.sleep(5)
    q.stop()
    got = (
        spark.table("gaps")
        .selectExpr("gap_us DIV 1000000 AS gap_s")
        .selectExpr(f"CASE {_GAP_LADDER} ELSE 32 END AS bucket", "gap_s")
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
    )
    cols = ["bucket", "n_gaps", "min_gap_s", "max_gap_s"]
    pd.testing.assert_frame_equal(
        _pdf(got.select(cols), cols), _pdf(want.select(cols), cols)
    )


def test_ewma_stream_equals_batch(spark, tmp_path):
    """The streamed per-user EWMA (a fixed 7-value tail of state — the
    ring buffer the q_window_ewma docstring promises) must reproduce
    the fully-oracled batch trajectory bit-for-bit: same dyadic
    stencil, same left-to-right IEEE summation, same floored micros."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
        _EWMA_DEPTH,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        EWMA_DEPTH,
        ewma_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir,
    )

    assert EWMA_DEPTH == _EWMA_DEPTH

    import time as _time

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    q = (
        ewma_stream(events_stream(spark, chunks))
        .writeStream.format("memory")
        .queryName("ewma")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    want = all_queries()["q_window_ewma"].fn(spark, SF_SMOKE)
    want_n = want.count()
    deadline = _time.time() + 420
    while _time.time() < deadline:
        if spark.table("ewma").count() >= want_n:
            break
        _time.sleep(5)
    q.stop()
    cols = ["user_id", "event_id", "ewma_micros"]
    pd.testing.assert_frame_equal(
        _pdf(spark.table("ewma").select(cols), cols),
        _pdf(want.select(cols), cols),
    )


def test_ph_stream_equals_batch(spark, tmp_path):
    """Streaming Page-Hinkley (7 longs of state under one group key)
    over the time-ordered replay: the max-seq-per-day projection of
    the update-mode emissions must reproduce the ORACLED batch
    trajectory q_stats_page_hinkley exactly — VERDICT r9 task 6, the
    cusum_stream discipline applied to the self-referencing-mean
    detector (days close when a later day arrives; gap days fold in
    as x = 0; the open day re-emits provisionally)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
        _PH_LAMBDA_MICROS,
        _PH_US_PER_DAY,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        PH_LAMBDA_MICROS,
        PH_US_PER_DAY,
        ph_stream,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.windows import (
        replay_dir,
    )

    assert (PH_US_PER_DAY, PH_LAMBDA_MICROS) == (
        _PH_US_PER_DAY,
        _PH_LAMBDA_MICROS,
    )

    import time as _time

    chunks = replay_dir(spark, SF_SMOKE, str(tmp_path / "replay"), 4)
    q = (
        ph_stream(events_stream(spark, chunks))
        .writeStream.format("memory")
        .queryName("ph")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    cols = ["di", "x", "mean_micros", "ph_micros", "alarm"]
    want = (
        all_queries()["q_stats_page_hinkley"]
        .fn(spark, SF_SMOKE)
        .toPandas()[cols]
        .sort_values("di")
        .reset_index(drop=True)
    )

    def proj():
        t = spark.table("ph").toPandas()
        if t.empty:
            return t
        t = t.sort_values("seq").groupby("di", as_index=False).last()
        return t[cols].sort_values("di").reset_index(drop=True)

    # provisional re-emissions make the row COUNT uninformative; poll
    # until the authoritative projection equals the batch twin (the
    # final assert still reports a clean diff on timeout)
    deadline = _time.time() + 420
    while _time.time() < deadline:
        p = proj()
        if len(p) == len(want) and p.equals(want):
            break
        _time.sleep(5)
    q.stop()
    pd.testing.assert_frame_equal(proj(), want)


def test_ph_stream_rejects_out_of_order_days(spark):
    """ADVICE r10: an out-of-order replay must fail LOUDLY instead of
    moving last_di backwards and silently corrupting the mt/runmin
    trajectory.  Drive _track_ph directly with a fake GroupState:
    batch 1 opens day d, batch 2 delivers day d-1 -> ValueError."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from cs425_distributed_systems_mp4_mapreduce_spark.streaming.stateful import (
        PH_US_PER_DAY,
        _track_ph,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        exists = property(lambda s: s._v is not None)
        get = property(lambda s: s._v)

        def update(self, v):
            self._v = tuple(v)

    def batch(days, counts):
        ts = np.concatenate(
            [np.full(c, d * PH_US_PER_DAY * 1000 + 1) for d, c in zip(days, counts)]
        )
        return pd.DataFrame({"ts": ts.astype("int64")})

    st = FakeState()
    out1 = pd.concat(list(_track_ph((0,), iter([batch([5, 6], [3, 2])]), st)))
    # day 5 closed, day 6 provisional; state carries last_di = 6
    assert list(out1["di"]) == [5, 6] and st.get[0] == 6

    with _pytest.raises(ValueError, match="time-ordered replay"):
        list(_track_ph((0,), iter([batch([4], [1])]), st))

    # same-day and forward deliveries still fold cleanly
    out3 = pd.concat(list(_track_ph((0,), iter([batch([6, 8], [1, 4])]), st)))
    # day 6 closes (count 2+1), gap day 7 folds as x=0, day 8 provisional
    assert list(out3["di"]) == [6, 7, 8]
    assert int(out3.loc[out3["di"] == 6, "x"].iloc[0]) == 3
    assert int(out3.loc[out3["di"] == 7, "x"].iloc[0]) == 0

def test_synthetic_source_edge_options(spark):
    """Review r12: rows=0 crashed partitions() (range step 0) and
    partitions<=0 divided by zero; rows beyond the int64-safe A*i
    bound would silently diverge from the DuckDB oracle twin.  Empty
    is a valid corpus; the degenerate options are loud errors."""
    import pytest as _pytest

    from cs425_distributed_systems_mp4_mapreduce_spark.sources.pydatasource import (
        SyntheticEventsDataSource,
        SyntheticEventsReader,
    )

    spark.dataSource.register(SyntheticEventsDataSource)
    assert (
        spark.read.format("synthetic_events").option("rows", 0).load().count() == 0
    )
    with _pytest.raises(ValueError, match="partitions"):
        SyntheticEventsReader({"rows": "10", "partitions": "0"})
    with _pytest.raises(ValueError, match="int64"):
        SyntheticEventsReader({"rows": str(10**10)})
