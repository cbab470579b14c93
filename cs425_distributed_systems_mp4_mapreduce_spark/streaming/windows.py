"""Structured Streaming operators over the events stream.

The reference has no streaming surface (streams are just encoded text
datasets there — SURVEY.md §1.1); this is north-star/infra coverage
built on Spark's unified batch/streaming API: the SAME transformations
run on a static DataFrame (the driver-checked batch twins in
queries/streaming_twins.py) and on a readStream source, which is
exactly the unified-API promise the tests assert.

Scale posture: file-source replay here stands in for Kafka/Kinesis; the
operators themselves (windowed agg with watermark, session windows,
stateful dedup) are the shapes that run on a real cluster — state is
keyed and partitioned by the shuffle, watermarks bound state size, and
``dropDuplicatesWithinWatermark`` keeps the dedup state window finite.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_conf
from ..sources.tables import normalize_events

#: events schema as the streaming source sees it: replay_dir always
#: writes the NORMALIZED form (ts = Long epoch ns), whatever schema the
#: driver shipped events.parquet under, so this stays fixed.
EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string,"
    " value double, props string"
)


def replay_dir(spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 8) -> str:
    """Materialize events.parquet as n_chunks files for file-source
    replay (a stand-in for a message bus; each file ≈ one micro-batch
    with maxFilesPerTrigger=1)."""
    ensure_conf(spark)
    (
        normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .drop("event_ts")  # the stream re-derives it; keep EVENTS_SCHEMA fixed
        # TIME-ORDERED chunks (range-partitioned on ts): a real log/bus
        # delivers roughly in event-time order, which is what makes
        # watermarks meaningful.  Random chunking would advance the
        # watermark to max(ts)−delay after the first file and drop
        # nearly everything after as late.
        .repartitionByRange(n_chunks, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    # FileStreamSource consumes files in MODIFICATION-TIME order, and
    # parallel write tasks finish in arbitrary order — restamp mtimes
    # to follow the part-file numbering (= ts range order) so replay is
    # deterministic and time-ordered.
    import time

    base = time.time() - 10_000
    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, f in enumerate(parts):
        os.utime(os.path.join(out_dir, f), (base + i * 10, base + i * 10))
    return out_dir


def events_stream(
    spark: SparkSession, chunk_dir: str, max_files_per_trigger: int = 2
) -> DataFrame:
    """readStream over the replay directory; derives the µs ``event_ts``
    exactly like the batch loader (integer division, no double path)."""
    ensure_conf(spark)
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(chunk_dir)
    )
    return raw.withColumn("event_ts", F.timestamp_micros(F.expr("ts div 1000")))


def tumbling_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling-window counts/sums by event_type with a watermark
    bounding state (late rows beyond it are dropped in append mode)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window counts (each event lands in window/slide buckets)."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "event_type",
            "n",
        )
    )


def session_stats_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows (gap-based); state closes ``gap`` after
    the last event, bounded by the watermark."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.session_window("event_ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("win.start").cast("long").alias("session_start_s"),
            F.col("win.end").cast("long").alias("session_end_s"),
            "n_events",
            "sum_value",
        )
    )


def clicks_views_interval_join(
    events: DataFrame, interval: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time interval condition:
    each click pairs with the same user's views in the preceding
    ``interval``.  Works identically on a batch DataFrame
    (``withWatermark`` is a no-op there) — the declared q_stream_join
    twin runs THIS function on the static table.

    State-cleanup semantics (the 100 TB concern for stream-stream
    joins): both sides carry watermarks and the join condition bounds
    view_ts relative to click_ts, so the engine can evict view-side
    state older than watermark + interval and click-side state older
    than watermark — without the time bound, both sides' state grow
    forever."""
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("event_ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("_v_user_id"),
            F.col("event_ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    return c.join(
        v,
        (F.col("user_id") == F.col("_v_user_id"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {interval}"))
        & (F.col("view_ts") <= F.col("click_ts")),
        "inner",
    ).select("click_id", "view_id", "user_id")


def stream_dedup(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Stateful streaming dedup; the watermark variant keeps state
    finite (keys older than the watermark are evicted) — the only form
    that survives an unbounded stream."""
    keys = keys or ["event_id"]
    return events.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_stream_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    name: str = "sink",
    output_mode: str = "complete",
    timeout_s: int = 120,
):
    """Run a stream to completion against the (finite) replay source and
    return the final result as a batch DataFrame via a memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"stream {name!r} did not finish within {timeout_s}s; "
            "partial results discarded"
        )
    return spark.table(name)


def drain_finite_stateful_stream(q, timeout_s: int = 420) -> None:
    """Wait until an availableNow stateful query has drained a FINITE
    replay source, then STOP it.

    ``GroupStateTimeout.ProcessingTimeTimeout`` makes
    FlatMapGroupsWithStateExec report ``shouldRunAnotherBatch=true``
    while any idle timer is pending, so even ``trigger(availableNow)``
    keeps scheduling EMPTY micro-batches (3–9 s each of per-partition
    Python state round-trips) until the 30-minute timers fire — the
    query never terminates on its own, and an abandoned one keeps
    burning scheduler + state-store cycles for the rest of the
    process (measured r14: two abandoned queries slowed every later
    Spark job in the test session ~16×).  Every emission for data
    batch k is committed to the sink when batch k finishes, and
    availableNow runs a batch that consumes no new source offsets only
    once every available offset has been consumed — so the results are
    complete as soon as ``recentProgress`` shows such a no-data batch
    (every source's ``startOffset == endOffset``): poll for it and stop
    the query.  The signature is the offsets, not the row counts, so a
    source that never delivers a row (zero-row replay files) drains as
    soon as its files are read instead of waiting out ``timeout_s``,
    and a zero-row file ahead of the data is not mistaken for the end.
    No result rows are lost by stopping (memory-sink commits are
    synchronous per batch).  A query that died instead of draining
    re-raises its ``StreamingQueryException`` here, so a failing
    stateful function is never mistaken for a drained stream."""
    import time as _time

    deadline = _time.time() + timeout_s
    while q.isActive:
        if _time.time() >= deadline:
            q.stop()
            raise TimeoutError(
                f"stateful stream {q.name!r} did not drain within {timeout_s}s"
            )
        progress = q.recentProgress
        if progress and all(
            s["startOffset"] == s["endOffset"] for s in progress[-1]["sources"]
        ):
            break
        _time.sleep(1)
    q.stop()
    err = q.exception()
    if err is not None:
        raise err


def ohlc_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming OHLC bars — the incremental form of
    queries/windows.q_timeseries_ohlc: per (event_type, hour
    window) first/max/min/last value, first/last resolved by
    min_by/max_by over the (ts, event_id) total order, which are
    incrementally maintainable aggregates (each holds ONE candidate
    row of state), so the bar state per open window is 4 scalars
    regardless of event volume — the property that lets a market-data
    feed keep millions of live bars.  (The struct-ordinal min_by is
    fine HERE because streaming aggregation state lives per-group in
    the state store and the sort-based partial phase only ever sees
    one micro-batch; the batch twin q_timeseries_ohlc deliberately
    uses a different, hash-only two-phase formulation because a batch
    SortAggregate would sort the whole corpus.)"""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("win"), "event_type")
        .agg(
            F.expr("min_by(value, struct(ts div 1000, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts div 1000, event_id))").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static
    dimension (re-resolved every micro-batch, so a slowly-changing
    dimension is picked up between triggers without restarting the
    query), then tumbling per-segment rollups — the streaming form of
    q_stream_enrich's batch twin.  The broadcast decision is left to
    the auto threshold rather than forced (review r12: the customer
    dim grows with SF, unlike the BROADCAST_SAFE bounded dims — see
    the batch twin's docstring)."""
    return (
        events.withWatermark("event_ts", watermark)
        .join(dim, events["user_id"] == dim["c_custkey"])
        .groupBy(F.window("event_ts", window).alias("win"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
    )


def replay_dir_batched(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """One file per DETERMINISTIC arrival micro-batch under the
    q_stream_watermark replay model (event_id DIV WM_B, every
    WM_LATE_EVERY-th event delivered two batches late) — unlike
    replay_dir's sampled range partitioning, this batching is a pure
    function of the data, which is what lets the batch twin (and its
    DuckDB oracle) reproduce the watermark exactly.  Test-fixture
    writer: stages batches driver-side (fine at test SF; a production
    replay would partitionBy the batch key)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..queries.streaming_twins import WM_B, WM_LATE_EVERY

    ensure_conf(spark)
    pdf = (
        normalize_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .drop("event_ts")
        .withColumn(
            "b",
            F.expr(f"event_id DIV {WM_B} + IF(event_id % {WM_LATE_EVERY} = 0, 2, 0)"),
        )
        .toPandas()
    )
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - 10_000
    for i, b in enumerate(sorted(pdf.b.unique())):
        chunk = pdf[pdf.b == b].drop(columns=["b"]).sort_values("event_id")
        path = os.path.join(out_dir, f"batch-{int(b):05d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        os.utime(path, (base + i * 10, base + i * 10))
    return out_dir


def watermark_counts_stream(events: DataFrame) -> DataFrame:
    """The real streaming query q_stream_watermark twins: hourly
    tumbling counts/sums with a 1-hour watermark, append mode (late
    rows dropped, windows emitted only once the watermark passes)."""
    return (
        events.withWatermark("event_ts", "1 hour")
        .groupBy(F.window("event_ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "event_type",
            "n",
            "sum_value",
        )
    )
