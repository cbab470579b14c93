"""Batch twins of the streaming operators (SURVEY.md §2.2 streaming
block).  The driver's oracle is batch-only, so each streaming op is
declared as its batch-equivalent query — identical results on the
static events table is Spark's unified-API promise, and
tests/test_streaming.py asserts stream == batch on a replayed source.

Time parity rules: all window boundaries are integer arithmetic on
µs-truncated epochs (``ts div 1000`` ≡ DuckDB ``epoch_us``); no raw
ns values, no timezone-dependent functions (session pinned to UTC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import dsum, o_dsum
from ..registry import query
from ..sources.tables import table as T

# Session/interval gap, threaded into BOTH the Spark plans and the
# oracle SQL below (review r12: the oracle literals were hardcoded, so
# editing the constant would silently desync the two sides; the dead
# US_PER_HOUR/US_PER_SLIDE constants — all windows are literal
# '1 hour'/'15 minutes' strings — are gone).
GAP_US = 1_800_000_000  # 30 minutes


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
           event_type,
           COUNT(*) AS n,
           {sv}
    FROM events
    GROUP BY window_start_s, event_type
    ORDER BY window_start_s, event_type
    """.format(sv=o_dsum("value", "sum_value")),
    headline=True,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling window counts/sums by event_type — batch twin of
    streaming/windows.tumbling_counts_stream.  The hour bucket is pure
    long arithmetic on the raw nanosecond column (no timestamp
    conversion, no window struct; about 1.5x faster than window()).
    Integer division nests, so ``ts div 3.6e12`` equals the oracle's
    ``epoch_us(ts) // 3.6e9``, and for post-1970 events it equals the
    stream's window() start.  No presentation sort: the result is a
    set of buckets."""
    e = T(spark, sf_dir, "events")
    return e.groupBy(
        F.expr("ts div 3600000000000 * 3600").alias("window_start_s"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))


@query(
    "q_stream_sliding",
    oracle="""
    SELECT (epoch_us(ts) // 900000000 - k) * 900 AS window_start_s,
           event_type,
           COUNT(*) AS n
    FROM events, LATERAL UNNEST(generate_series(0, 3)) AS u(k)
    GROUP BY window_start_s, event_type
    ORDER BY window_start_s, event_type
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 minutes (each event in exactly
    window/slide = 4 buckets; the oracle enumerates them explicitly)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("event_ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "event_type",
            "n",
        )
        .orderBy("window_start_s", "event_type")
    )


@query(
    "q_stream_session",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {gap}
                       OR LAG(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sess AS (
      SELECT user_id, event_id, value, ts_us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM seq
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts_us) // 1000000 AS start_s,
           MAX(ts_us) // 1000000 AS end_s,
           {sv}
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """.format(sv=o_dsum("value", "sum_value"), gap=GAP_US),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessionization, lag-gap + running-sum
    session ids — the SQL-expressible formulation (identical on both
    sides); the native session_window operator is exercised in the
    streaming tests."""
    e = T(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = e.withColumn(
        "new_s",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w) > GAP_US)
            | F.lag("ts_us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    # cast matches the oracle's CAST(... AS BIGINT): DuckDB windowed
    # SUM(int) promotes to HUGEINT, Spark to long
    sess = seq.withColumn("session_id", F.sum("new_s").over(run).cast("long"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("min(ts_us) div 1000000").alias("start_s"),
            F.expr("max(ts_us) div 1000000").alias("end_s"),
            dsum("value", "sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


@query(
    "q_stream_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, ts_us FROM (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-dedup batch twin: deterministic first-event-wins per
    (user_id, event_type) — dropDuplicates keeps an arbitrary row, so
    the declared form uses min-by-time semantics both sides."""
    e = T(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts_us")
        .orderBy("user_id", "event_type")
    )


@query(
    "q_stream_cdc_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_events
      FROM events)
    SELECT user_id, event_type, event_id AS last_event_id,
           ts_us AS last_ts_us, value AS last_value,
           CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC keyed-upsert batch twin: the per-(user, event_type) state a
    foreachBatch MERGE stream converges to — latest event fields by
    (ts_us, event_id) last-write-wins, additive event count.  Runs the
    SAME summarize step streaming/cdc.py applies per micro-batch on
    the whole table at once (fold of an associative merge ⇒ identical
    result for any batch split — tests/test_streaming.py replays the
    chunked stream and asserts state == this twin)."""
    from ..streaming.cdc import _summarize

    e = T(spark, sf_dir, "events")
    return _summarize(e).orderBy("user_id", "event_type")


@query(
    "q_join_asof",
    oracle="""
    SELECT event_id, user_id, ts_us, prev_event_id, prev_ts_us,
           (ts_us - prev_ts_us) / 1000000.0 AS gap_s
    FROM (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             LAG(event_id)     OVER w AS prev_event_id,
             LAG(epoch_us(ts)) OVER w AS prev_ts_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    WHERE prev_event_id IS NOT NULL
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each event → most recent prior event per user),
    expressed as the window/lag composition — the scalable Spark form
    for self-as-of (one shuffle + per-partition sort, no range join
    explosion)."""
    e = T(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            "ts_us",
            F.lag("event_id").over(w).alias("prev_event_id"),
            F.lag("ts_us").over(w).alias("prev_ts_us"),
        )
        .filter(F.col("prev_event_id").isNotNull())
        .withColumn("gap_s", (F.col("ts_us") - F.col("prev_ts_us")) / 1000000.0)
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
    FROM events c JOIN events v
      ON c.event_type = 'click' AND v.event_type = 'view'
     AND c.user_id = v.user_id
     AND epoch_us(v.ts) BETWEEN epoch_us(c.ts) - {gap} AND epoch_us(c.ts)
    ORDER BY click_id, view_id
    """.format(gap=GAP_US),
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin: each click paired with
    the same user's views in the preceding 30 minutes.  Runs the SAME
    function (streaming/windows.clicks_views_interval_join) the
    streaming test replays — unified-API parity, not a re-derivation;
    tests/test_streaming.py asserts stream == batch on this exact op."""
    from ..streaming.windows import clicks_views_interval_join

    e = T(spark, sf_dir, "events")
    return clicks_views_interval_join(e).orderBy("click_id", "view_id")


@query(
    "q_stream_enrich",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_s,
           c_mktsegment,
           COUNT(*) AS n,
           {sv}
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY window_start_s, c_mktsegment
    ORDER BY window_start_s, c_mktsegment
    """.format(sv=o_dsum("value", "sum_value")),
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the missing join mode next
    to the stream-stream interval join: each event joins the (slowly
    changing, broadcastable) customer dimension on user_id, then
    tumbling per-segment rollups.  Batch twin of
    streaming/windows.enrich_stream; stream==batch asserted in
    tests/test_streaming.py.

    Scale: the 2-column dim projection broadcasts automatically under
    the size threshold at every test SF; the hint is deliberately NOT
    forced (review r12: customer GROWS with SF, unlike the
    BROADCAST_SAFE region/nation dims — past a few hundred SF a
    forced broadcast would blow the driver, where the auto threshold
    + AQE correctly fall back to a shuffle join).  The stream twin
    re-resolves the static side per micro-batch, so dimension updates
    between triggers are picked up; the stream never shuffles until
    the windowed agg, whose key space is windows × segments —
    bounded."""
    e = T(spark, sf_dir, "events")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy(F.window("event_ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("win.start").cast("long").alias("window_start_s"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
        .orderBy("window_start_s", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Watermark / late-data semantics, fully oracled (round 7).
#
# The deterministic replay model: events arrive in micro-batches of
# WM_B rows by event_id order, except every WM_LATE_EVERY-th event is
# delivered two batches late.  Under that arrival order, Spark's
# micro-batch watermark is a pure function of the data, so the whole
# pipeline — per-batch watermark, late-row drops, append-mode window
# emission — is expressible as batch SQL on BOTH engines and
# hash-oracled like any other query.  tests/test_streaming.py replays
# the same batches through a real readStream + withWatermark query and
# asserts the stream output equals this twin exactly.
#
# Empirical semantics (adjudicated against pyspark 4.1.2 on the real
# stream, all SFs): the late filter for micro-batch N uses the
# watermark derived from event-time stats through batch N-2 (the value
# committed in batch N's offset-log entry, which was computed before
# batch N-1 ran), in MILLISECOND floor precision; append mode emits a
# window only once the final watermark (global max - delay, advanced
# by the trailing no-data batch) passes its end.
# ---------------------------------------------------------------------------

WM_B = 500  # rows per arrival micro-batch (event_id DIV WM_B)
WM_LATE_EVERY = 17  # every 17th event arrives 2 batches late
WM_DELAY_MS = 3_600_000  # 1 hour watermark delay

#: shared arrival-model SQL fragments (oracle side)
_WM_ARR = f"""
    arr AS (
      SELECT event_type, value,
             epoch_us(ts) AS us,
             (epoch_us(ts) // 3600000000 + 1) * 3600000000 AS wend_us,
             event_id // {WM_B}
               + CASE WHEN event_id % {WM_LATE_EVERY} = 0 THEN 2 ELSE 0 END AS b
      FROM events
    ),
    bm AS (SELECT b, MAX(us) AS mx FROM arr GROUP BY b),
    wm AS (
      SELECT b,
             (MAX(mx) OVER (ORDER BY b
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
              // 1000 - {WM_DELAY_MS}) * 1000 AS wm_us
      FROM bm
    )
"""


def _wm_arrivals(e: DataFrame):
    """(arrivals, per-batch watermark) under the deterministic replay
    model — the Spark half of the shared arrival CTEs above."""
    arr = e.select(
        "event_type",
        "value",
        F.expr("ts div 1000").alias("us"),
        F.expr("(ts div 1000 div 3600000000 + 1) * 3600000000").alias("wend_us"),
        F.expr(
            f"event_id DIV {WM_B}"
            f" + IF(event_id % {WM_LATE_EVERY} = 0, 2, 0)"
        ).alias("b"),
    )
    batch_max = arr.groupBy("b").agg(F.max("us").alias("mx"))
    two_back = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -2)
    wm = batch_max.withColumn("mxprev", F.max("mx").over(two_back)).select(
        "b",
        F.expr(f"(mxprev DIV 1000 - {WM_DELAY_MS}) * 1000").alias("wm_us"),
    )
    return arr, wm


@query(
    "q_stream_watermark",
    oracle="""
    WITH {arr},
    fin AS (SELECT (MAX(us) // 1000 - {delay}) * 1000 AS fwm_us FROM arr)
    SELECT (us // 3600000000) * 3600 AS window_start_s,
           event_type,
           COUNT(*) AS n,
           {sv}
    FROM arr JOIN wm USING (b), fin
    WHERE (wm_us IS NULL OR wend_us > wm_us) AND wend_us <= fwm_us
    GROUP BY window_start_s, event_type
    ORDER BY window_start_s, event_type
    """.format(arr=_WM_ARR, delay=WM_DELAY_MS, sv=o_dsum("value", "sum_value")),
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data semantics as an ORACLED batch twin: the
    exact append-mode output of an hourly windowed aggregation with a
    1-hour watermark over the deterministic micro-batch replay
    modelled above (late filter watermark = running max through batch
    N-2, ms floor; emit once the final watermark passes window end).
    Replaces the last rows-only streaming row — stream == this twin is
    asserted on a real readStream in tests/test_streaming.py.

    Scale shape: the per-batch watermark table is O(#micro-batches) —
    driver-scale metadata — and is BROADCAST back onto arrivals; the
    events themselves see one broadcast hash join, one scalar cross
    (the final watermark), and the single windowed-agg shuffle any
    streaming aggregation needs.  Nothing here grows with corpus size
    except the windowed agg itself."""
    arr, wm = _wm_arrivals(T(spark, sf_dir, "events"))
    fin = arr.agg(
        F.expr(f"(max(us) DIV 1000 - {WM_DELAY_MS}) * 1000").alias("fwm_us")
    )
    return (
        arr.join(F.broadcast(wm), "b")
        .where(F.expr("wm_us IS NULL OR wend_us > wm_us"))
        .crossJoin(F.broadcast(fin))
        .where(F.col("wend_us") <= F.col("fwm_us"))
        .groupBy(
            F.expr("(us DIV 3600000000) * 3600").alias("window_start_s"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .orderBy("window_start_s", "event_type")
    )


@query(
    "q_stream_late_drops",
    oracle="""
    WITH {arr}
    SELECT b,
           COUNT(*) AS n_arrived,
           CAST(SUM(CASE WHEN wm_us IS NOT NULL AND wend_us <= wm_us
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late_dropped
    FROM arr JOIN wm USING (b)
    GROUP BY b
    ORDER BY b
    """.format(arr=_WM_ARR),
)
def q_stream_late_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting for q_stream_watermark: per micro-batch,
    how many rows arrived and how many the watermark's late filter
    dropped (window end at-or-below the batch's effective watermark) —
    the drop counter a streaming job exposes as the
    `numRowsDroppedByWatermark` metric, here as an attested dataset.

    Same shape as the twin minus the final-watermark scalar: one
    broadcast of the O(#micro-batches) watermark table, one
    aggregation keyed by batch."""
    arr, wm = _wm_arrivals(T(spark, sf_dir, "events"))
    return (
        arr.join(F.broadcast(wm), "b")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("n_arrived"),
            F.sum(
                F.when(
                    F.expr("wm_us IS NOT NULL AND wend_us <= wm_us"), 1
                ).otherwise(0)
            ).alias("n_late_dropped"),
        )
        .orderBy("b")
    )
