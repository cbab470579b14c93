"""Clickstream and order-history analytics: funnels, sessions,
retention and cohorts, attribution, transition chains and sequences,
RFM scoring, market baskets and association rules.

Event times are compared as µs epochs (``ts DIV 1000`` ≡ DuckDB
``epoch_us(ts)``, see ``sources/tables.py``); every ordered window has
a total tie-break, so results are engine-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import dsum, o_dsum
from ..operators.skew import ntile_expr, twopass_rank
from ..registry import query
from ..sources.derived import CENTS_BUCKET, US_PER_DAY, events_us
from ..sources.tables import table as T


@query(
    "q_events_funnel",
    headline=True,
    oracle="""
    WITH tv AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_v FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    tc AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_c
      FROM events e JOIN tv ON e.user_id = tv.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) >= tv.t_v
      GROUP BY e.user_id
    ),
    tp AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_p
      FROM events e JOIN tc ON e.user_id = tc.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= tc.t_c
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM tv) AS n_viewed,
           (SELECT COUNT(*) FROM tc) AS n_clicked,
           (SELECT COUNT(*) FROM tp) AS n_purchased
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): a user
    advances a stage only with an event AT OR AFTER their entry into
    the previous stage — first view, then first click ≥ that view,
    then first purchase ≥ that click.  The sequence constraint is what
    distinguishes a funnel from three independent filters (a click
    BEFORE any view must not count).

    Scale shape (round-5 rewrite): ONE hash shuffle on user_id total.
    The three stage-entry timestamps are STACKED unordered window
    aggregates over the same partitioning — each stage's conditional
    min can reference the previous stage's column because windows
    evaluate in sequence — and the per-user collapse + final scalar
    counts reuse that partitioning, so Spark elides every later
    exchange.  The previous form (three chained groupBy+join stages,
    all on user_id) computed the same thing through ~8 adaptive
    stages; co-partitioned but stage-latency-bound (in-process A/B at
    sf0.1: 0.92 s → 0.54 s median, −41%).  count(col) counts
    non-nulls, so users who
    never reach a stage (null t_*) drop out of each count exactly as
    the join chain dropped them."""
    e = events_us(spark, sf_dir).select("user_id", "ts_us", "event_type")
    w = Window.partitionBy("user_id")
    e = e.withColumn(
        "t_v",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
    )
    # NULL-key discipline: Window.partitionBy groups NULL user_ids into
    # ONE partition, but the declared semantics (and the oracle's JOIN
    # chain) never match NULL keys — a NULL-user click must not advance
    # the funnel.  Gate the later stages on a non-null key so the
    # single-shuffle rewrite is row-identical to the join form on ANY
    # data, not just corpora without NULLs (caught by
    # tests/test_events_adversarial.py).
    e = e.withColumn(
        "t_c",
        F.when(
            F.col("user_id").isNotNull(),
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_us") >= F.col("t_v")),
                    F.col("ts_us"),
                )
            ).over(w),
        ),
    )
    e = e.withColumn(
        "t_p",
        F.when(
            F.col("user_id").isNotNull(),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") >= F.col("t_c")),
                    F.col("ts_us"),
                )
            ).over(w),
        ),
    )
    per_user = e.groupBy("user_id").agg(
        F.first("t_v").alias("t_v"),
        F.first("t_c").alias("t_c"),
        F.first("t_p").alias("t_p"),
    )
    return per_user.agg(
        F.count("t_v").alias("n_viewed"),
        F.count("t_c").alias("n_clicked"),
        F.count("t_p").alias("n_purchased"),
    )


@query(
    "q_events_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id)
    SELECT cohort.cohort_day, act.day - cohort.cohort_day AS day_offset,
           COUNT(*) AS n_users
    FROM act JOIN cohort ON act.user_id = cohort.user_id
    WHERE act.day - cohort.cohort_day <= 7
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    on each subsequent day they return (offset 0–7) — the engagement
    triangle every product-analytics engine computes.

    Scale shape: the (user, day) activity set is the DISTINCT of the
    raw stream (one shuffle, heavy map-side combine since a user's
    events cluster in few partitions); cohorts derive from it by a
    user-keyed agg and join back on the SAME key — co-partitioned, no
    second wide shuffle; the final (cohort, offset) agg is tiny."""
    act = (
        events_us(spark, sf_dir)
        .select("user_id", F.expr(f"ts_us DIV {US_PER_DAY}").alias("day"))
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(cohort, "user_id")
        .select(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "q_events_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    )
    SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): for
    each user's time-ordered stream, count (previous → current) event
    pairs — the raw material for journey analysis and anomalous-flow
    detection.  (ts, event_id) ordering makes ties deterministic.

    Scale shape: one shuffle on user_id for the lag window, then a
    5×5-keyed agg that collapses map-side; no join at all."""
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        events_us(spark, sf_dir)
        .select("event_type", F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("from_type", "to_type")
    )


@query(
    "q_basket_pairs",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS support
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, support FROM pairs
    WHERE support >= 2
    ORDER BY support DESC, part_a, part_b
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: pairs of parts appearing in the
    same order, with support counts — the classic MapReduce 'pairs'
    pattern (frequent-itemset mining's first pass).

    Scale shape: the self-join is keyed on l_orderkey, so the pair
    blow-up is per-ORDER quadratic — bounded by basket size (~7 line
    items), never corpus-quadratic; the candidate volume is
    Σ |basket|² ≈ O(rows · avg_basket).  One orderkey shuffle
    (co-partitioned self-join), then a pair-keyed agg with map-side
    combine.  The support floor prunes the long tail before the sort."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "part_a", "part_b")
    )


# --------------------------------------------------------------------------
# Behavioral sequence mining
# --------------------------------------------------------------------------


@query(
    "q_events_sequences",
    oracle="""
    WITH s AS (
      SELECT event_type,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS seq,
           COUNT(*) AS n
    FROM s
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, seq
    LIMIT 20
    """,
)
def q_events_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top order-3 event sequences per user timeline (the n-gram
    extension of q_events_transitions).  (ts, event_id) is a total
    order, so the LEAD chain is deterministic; sequences whose tail
    falls off the timeline are dropped on both engines by the e3 IS
    NOT NULL gate.  (n DESC, seq) totally orders the top-20 cut.

    Scale: LEAD over (user, time) is one shuffle on user_id, the key the
    events stream is naturally bucketed by; the sequence-count agg
    re-shuffles only ~|event_types|³ distinct sequences.  The per-user
    window co-partitions with every other per-user stage (funnel,
    retention, sessions)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        s.select(F.concat_ws(">", "event_type", "e2", "e3").alias("seq"))
        .groupBy("seq")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "seq")
        .limit(20)
    )


@query(
    "q_events_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
      FROM events
    ),
    marked AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS click_us
      FROM ev
    )
    SELECT us // 86400000000 AS day,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN click_us IS NOT NULL
                          AND us - click_us <= 604800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
           {av}
    FROM marked
    WHERE event_type = 'purchase'
    GROUP BY day
    ORDER BY day
    """.format(
        av=o_dsum(
            "CASE WHEN click_us IS NOT NULL AND us - click_us <= 604800000000"
            " THEN value ELSE 0 END",
            "attributed_value",
        )
    ),
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most
    recent preceding click by the same user within a 7-day lookback,
    rolled up per day (purchases, attributed count, attributed
    revenue).  The marketing-analytics workhorse that is neither an
    as-of join (the click and purchase live in ONE stream) nor a
    funnel (it needs the *latest* prior touch, not existence) — it is
    the IGNORE NULLS conditional-window pattern.

    Scale shape: one shuffle on user_id shared with every other
    per-user stage; the window carries O(1) state (latest click time),
    and the final per-day rollup is a bounded-key aggregation with
    map-side combine."""
    e = T(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.expr("ts div 1000").alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.last(
        F.when(F.col("event_type") == "click", F.col("us")), ignorenulls=True
    ).over(w)
    attributed = F.expr(
        "click_us IS NOT NULL AND us - click_us <= 604800000000"
    )
    return (
        ev.withColumn("click_us", click_us)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.expr("us DIV 86400000000").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.when(attributed, 1).otherwise(0)).alias("n_attributed"),
            dsum(
                F.when(attributed, F.col("value")).otherwise(F.lit(0.0)),
                "attributed_value",
            ),
        )
        .orderBy("day")
    )


# ------------------------------------------------------------------
# Batch sessionization (gaps-and-islands, 30-minute inactivity gap)
# ------------------------------------------------------------------

_SESSION_GAP_US = 1_800_000_000

#: the marked/runs CTEs numbering the rows of an ``e(user_id,
#: event_id, ..., us)`` CTE into sessions
_SESSION_RUNS_SQL = f"""marked AS (
  SELECT *,
         CASE WHEN us - lag(us) OVER w > {_SESSION_GAP_US}
                OR lag(us) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
runs AS (
  SELECT *,
         CAST(SUM(new_session) OVER (PARTITION BY user_id
              ORDER BY us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM marked)"""


def _session_runs(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """Events ``(user_id, event_id, *cols, us)`` numbered into
    sessions: ``new_session`` marks a user's first event or a gap over
    30 minutes, ``session_seq`` is its running sum in (us, event_id)
    order.  Spark twin of :data:`_SESSION_RUNS_SQL`."""
    e = T(spark, sf_dir, "events").select(
        "user_id", "event_id", *cols, F.expr("ts div 1000").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    new_session = F.when(
        F.lag("us").over(w).isNull()
        | (F.col("us") - F.lag("us").over(w) > _SESSION_GAP_US),
        1,
    ).otherwise(0)
    return e.withColumn("new_session", new_session).withColumn(
        "session_seq",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )


_SESSIONIZE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
{_SESSION_RUNS_SQL}
SELECT user_id, session_seq,
       MIN(us) AS session_start_us,
       MAX(us) - MIN(us) AS duration_us,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases
FROM runs
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


@query("q_events_sessionize", oracle=_SESSIONIZE_ORACLE)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH sessionization by inactivity gap (30 min) — the
    gaps-and-islands form every clickstream warehouse runs nightly
    (q_stream_session is the live session_window twin; this is the
    replayable batch formulation with per-session stats): mark a new
    session when the gap to the previous event exceeds the threshold,
    number sessions with a running sum, aggregate start/duration/
    depth/purchases per session.  Deterministic total order
    (us, event_id); all values integer µs.

    Scale: two windows and one aggregation on the SAME (user, time)
    shuffle — one exchange total, bounded per-user partitions,
    co-partitioned with the rest of the per-user pipeline."""
    runs = _session_runs(spark, sf_dir, "event_type")
    return (
        runs.groupBy("user_id", "session_seq")
        .agg(
            F.min("us").alias("session_start_us"),
            (F.max("us") - F.min("us")).alias("duration_us"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
        )
        .orderBy("user_id", "session_seq")
    )


# ------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quintiles)
# ------------------------------------------------------------------

_RFM_ORACLE = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'),
mx AS (SELECT MAX(us) AS max_us FROM p),
per_user AS (
  SELECT user_id,
         CAST((mx.max_us - MAX(us)) // 86400000000 AS BIGINT) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(cents) AS BIGINT) AS monetary_cents
  FROM p, mx GROUP BY user_id, mx.max_us),
scored AS (
  SELECT user_id, recency_days, frequency, monetary_cents,
         ntile(5) OVER (ORDER BY recency_days, user_id) AS r_inv,
         ntile(5) OVER (ORDER BY frequency, user_id) AS f_q,
         ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_q
  FROM per_user)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(6 - r_inv AS BIGINT) AS r_score,
       CAST(f_q AS BIGINT) AS f_score,
       CAST(m_q AS BIGINT) AS m_score,
       CAST((6 - r_inv) * 100 + f_q * 10 + m_q AS BIGINT) AS rfm
FROM scored ORDER BY user_id
"""


def _rfm_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchasing user: recency in whole days before the corpus's
    last purchase, purchase count and total in cents (the ``per_user``
    CTE of :data:`_RFM_ORACLE`)."""
    e = T(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    p = e.select(
        "user_id",
        F.expr("ts div 1000").alias("us"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    mx = p.agg(F.max("us").alias("max_us"))
    return (
        p.crossJoin(F.broadcast(mx))
        .groupBy("user_id", "max_us")
        .agg(
            F.max("us").alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
        .select(
            "user_id",
            F.expr("(max_us - last_us) DIV 86400000000").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )


def _rfm_scores(scored: DataFrame) -> DataFrame:
    """The RFM output columns from per-user quintiles ``r_inv`` (1 =
    most recent), ``f_q`` and ``m_q``."""
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (6 - F.col("r_inv")).cast("long").alias("r_score"),
        F.col("f_q").cast("long").alias("f_score"),
        F.col("m_q").cast("long").alias("m_score"),
        ((6 - F.col("r_inv")) * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("long")
        .alias("rfm"),
    ).orderBy("user_id")


@query("q_events_rfm", oracle=_RFM_ORACLE)
def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer scoring: per user the
    purchase recency (days since last, against the corpus max — the
    1-row scalar the oracle correlates in), frequency, and monetary
    total in cents, each quintiled with a TOTAL tie-break
    (metric, user_id) so the segment code (r·100 + f·10 + m, recent =
    high r) is engine-deterministic — the q_window_ntile discipline
    applied to a three-axis score.

    Scale note: ntile here runs over the per-user table with an
    unpartitioned window — fine to the tens of millions; beyond that
    use q_events_rfm_twopass (below), the
    IMPLEMENTED two-pass decomposition hash-proven against this very
    oracle: ranks from the bucket census + per-bucket windows,
    quintiles by closed-form ntile arithmetic."""
    per_user = _rfm_per_user(spark, sf_dir)
    scored = per_user.select(
        "*",
        F.ntile(5).over(Window.orderBy("recency_days", "user_id")).alias("r_inv"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_q"),
        F.ntile(5).over(Window.orderBy("monetary_cents", "user_id")).alias("m_q"),
    )
    return _rfm_scores(scored)


@query("q_events_rfm_twopass", oracle=_RFM_ORACLE)
def q_events_rfm_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation with NO unpartitioned ntile windows —
    the 100 TB form of q_events_rfm (same oracle): each of the three
    metric ranks comes from :func:`twopass_rank`, and the quintile is
    recovered from (rank, n) by the closed-form ntile arithmetic
    (:func:`ntile_expr`) — bit-identical to ntile(5) OVER
    (ORDER BY metric, user_id) because ntile is a pure function of
    the rank once the ordering is total.

    Scale: the three metrics MELT to (metric, value) rows so one
    census + one (metric, bucket)-partitioned window ranks all three
    axes in a single shuffle — recency/frequency bucket by the raw
    value (day / count domains are bounded), monetary by 65536 cents;
    n joins back per metric from the census (an equi broadcast, not a
    scalar cross); zero global sorts anywhere."""
    per_user = _rfm_per_user(spark, sf_dir)
    # MELT the three metrics to (metric, value) rows so ONE census +
    # ONE partitioned window ranks all three axes (three separate
    # twopass_rank chains re-evaluated the per-user subplan ~9× —
    # column pruning makes each copy's exchange unique, so Spark's
    # ReuseExchange cannot collapse them; the melted form keeps it to
    # 3 evaluations and a single (metric, bucket) shuffle).
    melted = per_user.selectExpr(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        "stack(3, 'r', recency_days, 'f', frequency,"
        " 'm', monetary_cents) AS (metric, value)",
    ).withColumn(
        "_bkt",
        F.expr(
            f"CASE WHEN metric = 'm' THEN value DIV {CENTS_BUCKET}"
            f" ELSE value END"
        ),
    )
    census = (
        melted.groupBy("metric", "_bkt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.partitionBy("metric")
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    totals = census.groupBy("metric").agg(
        F.sum("_cnt").cast("long").alias("n")
    )
    ranked = (
        melted.join(F.broadcast(census.drop("_cnt")), ["metric", "_bkt"])
        .withColumn(
            "rank",
            (
                F.col("_cum_before")
                + F.row_number().over(
                    Window.partitionBy("metric", "_bkt").orderBy(
                        "value", "user_id"
                    )
                )
            ).cast("long"),
        )
        .join(F.broadcast(totals), "metric")
        .withColumn("tile", F.expr(ntile_expr("rank", "n", 5)))
    )
    scored = ranked.groupBy("user_id").agg(
        F.first("recency_days").alias("recency_days"),
        F.first("frequency").alias("frequency"),
        F.first("monetary_cents").alias("monetary_cents"),
        F.max(F.when(F.col("metric") == "r", F.col("tile"))).alias("r_inv"),
        F.max(F.when(F.col("metric") == "f", F.col("tile"))).alias("f_q"),
        F.max(F.when(F.col("metric") == "m", F.col("tile"))).alias("m_q"),
    )
    return _rfm_scores(scored)


# ------------------------------------------------------------------
# Funnel conversion latency with an exact two-pass median
# ------------------------------------------------------------------

_FUNNEL_TIME_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS v_us
  FROM events WHERE event_type = 'view' GROUP BY user_id),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_us
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.v_us
  GROUP BY e.user_id),
delta AS (
  SELECT p.user_id, (p.p_us - v.v_us) // 1000000 AS delta_s
  FROM p JOIN v USING (user_id)),
n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM delta),
r AS (SELECT delta_s,
             row_number() OVER (ORDER BY delta_s, user_id) AS rn
      FROM delta)
SELECT n1.n AS n_users,
       CAST((SELECT MIN(delta_s) FROM delta) AS BIGINT) AS min_s,
       CAST(r.delta_s AS BIGINT) AS median_s,
       CAST((SELECT MAX(delta_s) FROM delta) AS BIGINT) AS max_s
FROM n1 JOIN r ON r.rn = (n1.n + 1) // 2
"""


@query("q_events_funnel_time", oracle=_FUNNEL_TIME_ORACLE)
def q_events_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion latency: per user the seconds between
    FIRST view and FIRST subsequent purchase, reported as
    (n, min, exact median, max).  The median is an order statistic —
    selected at rank ⌈n/2⌉ via the two-pass histogram rank
    (twopass_rank, hour-wide buckets), so there is NO global sort;
    the oracle uses the naive global row_number, making the hash
    match the decomposition proof (the q_agg_gini_twopass
    discipline).

    Scale: two per-user min-aggs on the events exchange, a bounded
    census window, one partitioned refine window."""
    e = T(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.expr("ts div 1000")).alias("v_us"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", F.expr("ts div 1000").alias("us"))
        .join(v, "user_id")
        .where(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"))
    )
    delta = p.join(v, "user_id").select(
        "user_id",
        F.expr("(p_us - v_us) DIV 1000000").alias("delta_s"),
    )
    ranked = twopass_rank(delta, "delta_s", "user_id", 3600, "rn")
    stats = delta.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("delta_s").cast("long").alias("min_s"),
        F.max("delta_s").cast("long").alias("max_s"),
    )
    med = (
        ranked.crossJoin(F.broadcast(stats))
        .where(F.col("rn") == F.expr("(n_users + 1) DIV 2"))
        .select(F.col("delta_s").cast("long").alias("median_s"))
    )
    return stats.crossJoin(F.broadcast(med)).select(
        "n_users", "min_s", "median_s", "max_s"
    )


# ------------------------------------------------------------------
# Weekly DAU/WAU stickiness (engagement ratio)
# ------------------------------------------------------------------

_STICKY_ORACLE = """
WITH d AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         user_id
  FROM events),
dau AS (
  SELECT day // 7 AS week, day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM d GROUP BY 1, 2),
wau AS (
  SELECT day // 7 AS week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM d GROUP BY 1)
SELECT CAST(dau.week AS BIGINT) AS week,
       CAST(SUM(dau) AS BIGINT) AS sum_dau,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       wau,
       CAST(SUM(dau) * 1000000 // (COUNT(*) * wau) AS BIGINT)
         AS stickiness_ppm
FROM dau JOIN wau ON dau.week = wau.week
GROUP BY dau.week, wau ORDER BY week
"""


@query("q_events_stickiness", oracle=_STICKY_ORACLE)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly DAU/WAU stickiness in ppm — the engagement habit metric
    (avg daily actives over weekly actives; 1,000,000 = every weekly
    user active every observed day).  Weeks are epoch-day÷7 integer
    buckets (no calendar-week locale parity trap); the average over
    OBSERVED days, so a day with zero events shrinks n_days rather
    than fabricating a zero-DAU row.

    Scale: two distinct-aggregations on the same (week, …, user) key
    prefix — partial aggregation collapses each to per-user bits
    map-side; the join is a tiny per-week census join."""
    e = T(spark, sf_dir, "events")
    d = e.select(
        F.expr("datediff(CAST(event_ts AS DATE), DATE'1970-01-01')").alias("day"),
        "user_id",
    )
    dau = d.groupBy(
        F.expr("day DIV 7").alias("week"), F.col("day")
    ).agg(F.countDistinct("user_id").cast("long").alias("dau"))
    wau = d.groupBy(F.expr("day DIV 7").alias("week")).agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, "week")
        .groupBy(F.col("week").cast("long").alias("week"), F.col("wau"))
        .agg(
            F.sum("dau").cast("long").alias("sum_dau"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr(
                "CAST(SUM(dau) * 1000000 DIV (COUNT(1) * wau) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .select("week", "sum_dau", "n_days", "wau", "stickiness_ppm")
        .orderBy("week")
    )


# ------------------------------------------------------------------
# Inter-arrival-gap log₂ histogram (burstiness census)
# ------------------------------------------------------------------

#: bit-length of gap_s as a pure CASE ladder (codegen-friendly — no
#: HOF): bucket k ⟺ 2^(k−1) ≤ gap_s < 2^k, bucket 0 ⟺ gap_s = 0.
_GAP_LADDER = " ".join(
    f"WHEN gap_s < {1 << k} THEN {k}" for k in range(0, 32)
)


_GAP_ORACLE = f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id FROM events),
g AS (
  SELECT tus - LAG(tus) OVER (PARTITION BY user_id
                              ORDER BY tus, event_id) AS gap_us
  FROM s),
b AS (
  SELECT gap_us // 1000000 AS gap_s FROM g WHERE gap_us IS NOT NULL),
k AS (
  SELECT CASE {_GAP_LADDER} ELSE 32 END AS bucket, gap_s FROM b)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM k GROUP BY 1 ORDER BY bucket
"""


@query("q_events_interarrival", oracle=_GAP_ORACLE)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival-gap log₂ histogram — the burstiness
    census behind rate-limiter and session-timeout tuning (a heavy
    bucket at small gaps = machine traffic; the knee locates the
    natural session gap; q_events_sessionize consumes that knee).
    Gaps in exact int64 MICROseconds (epoch_us both engines), ordered
    by the total (ts, event_id) key; seconds via positive floor
    division; the bucket is bit-length(gap_s) as a pure CASE ladder —
    stays inside whole-stage codegen, unlike an HOF indicator sum.

    Scale: one (user, time) exchange for the LAG (the sessionize
    shuffle, reusable), then a ≤33-group census."""
    e = T(spark, sf_dir, "events")
    s = e.select(
        "user_id", F.expr("ts DIV 1000").alias("tus"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    g = s.select(
        (F.col("tus") - F.lag("tus").over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    k = g.select(F.expr("gap_us DIV 1000000").alias("gap_s")).select(
        F.expr(f"CASE {_GAP_LADDER} ELSE 32 END").alias("bucket"), "gap_s"
    )
    return (
        k.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------------------
# Per-segment exact median inter-purchase gap (partitioned census)
# ------------------------------------------------------------------

_REORDER_GAP_ORACLE = """
WITH o AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
           AS day,
         o.o_orderkey
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
g AS (
  SELECT segment,
         day - LAG(day) OVER (PARTITION BY o_custkey
                              ORDER BY day, o_orderkey) AS gap
  FROM o),
c AS (
  SELECT segment, gap, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
r AS (
  SELECT segment, gap, cnt,
         SUM(cnt) OVER (PARTITION BY segment ORDER BY gap) AS cum,
         SUM(cnt) OVER (PARTITION BY segment) AS n
  FROM c)
SELECT segment, CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN gap END) AS BIGINT)
         AS median_gap_days
FROM r GROUP BY segment ORDER BY segment
"""


@query("q_orders_reorder_gap", oracle=_REORDER_GAP_ORACLE)
def q_orders_reorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact MEDIAN inter-purchase gap in days — the
    reorder-cadence metric behind replenishment and churn windows
    (q_events_interarrival profiles event burstiness; this is the
    purchase-cycle analogue with an exact order statistic).  The
    median is selected on the per-segment (gap, count) census by the
    lower-midrank rule cum ≥ ⌈n/2⌉ — no per-row rank, no global sort;
    consecutive-order gaps order by the total (day, orderkey) key.

    Scale: one (customer, time) exchange for the LAG (bounded by the
    orders table, reusable with RFM's shuffle), then a gap-domain
    census per segment — the q_stats_mannwhitney discipline,
    PARTITIONED, so every window key is (segment, gap-domain)."""
    o = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    base = o.join(cust, o.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_custkey",
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        ),
        "o_orderkey",
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = base.select(
        "segment", (F.col("day") - F.lag("day").over(wl)).alias("gap")
    ).where(F.col("gap").isNotNull())
    c = g.groupBy("segment", "gap").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wcum = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("segment")
    r = c.select(
        "segment",
        "gap",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    return (
        r.groupBy("segment")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("gap")
                )
            )
            .cast("long")
            .alias("median_gap_days"),
        )
        .orderBy("segment")
    )


# ------------------------------------------------------------------
# Weekday × hour usage heatmap (ppm share census)
# ------------------------------------------------------------------

_HEAT_ORACLE = """
WITH e AS (
  SELECT dayofweek(CAST(ts AS DATE)) AS dow, hour(ts) AS hod FROM events),
c AS (
  SELECT dow, hod, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM e GROUP BY 1, 2),
t AS (
  SELECT dow, hod, n_events, SUM(n_events) OVER () AS total FROM c)
SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod, n_events,
       CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm
FROM t ORDER BY dow, hod
"""


@query("q_events_heatmap", oracle=_HEAT_ORACLE)
def q_events_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap with exact ppm shares — the
    capacity-planning census (when to schedule maintenance, where the
    weekly peak sits).  Hours come from the UTC-pinned µs timestamp
    (session timezone is pinned, so hour() agrees across engines);
    weekday uses the pinned dayofweek−1 mapping (q_timeseries_dow).

    Scale: one map-side-combined census to ≤168 cells; the share
    window runs over those 168 rows."""
    e = T(spark, sf_dir, "events")
    c = e.select(
        (F.dayofweek(F.to_date("event_ts")) - 1).cast("long").alias("dow"),
        F.hour("event_ts").cast("long").alias("hod"),
    ).groupBy("dow", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        c.withColumn("total", F.sum("n_events").over(wall))
        .select(
            "dow",
            "hod",
            "n_events",
            F.expr("CAST(n_events * 1000000 DIV total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("dow", "hod")
    )


# ------------------------------------------------------------------
# Cohort LTV curves (first-seen month × cohort age)
# ------------------------------------------------------------------

_LTV_ORACLE = """
WITH ev AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
cohort AS (
  SELECT user_id, MIN(d) AS cohort_d FROM ev GROUP BY 1),
cells AS (
  SELECT c.cohort_d, ev.d - c.cohort_d AS age,
         CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users,
         CAST(SUM(ev.cents) AS BIGINT) AS rev_cents
  FROM ev JOIN cohort c ON ev.user_id = c.user_id
  GROUP BY 1, 2)
SELECT cohort_d, age, n_users, rev_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY cohort_d ORDER BY age
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents
FROM cells
ORDER BY cohort_d, age
"""


@query("q_events_cohort_ltv", oracle=_LTV_ORACLE)
def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users bucketed by first-seen
    day, revenue accumulated by cohort age in days — the LTV table
    that prices acquisition spend (read row (c, a) as "a days in, the
    day-c cohort has produced Σ cents").  Revenue is exact integer
    cents (the FLOOR(x·100+0.5) house discipline), the cumulative sum
    runs inside each cohort's ≤ calendar-days partition.

    Scale: one shuffle on user_id for the first-seen reduction, one
    broadcast-sized (cohort, age) cell grid (days² / 2 rows,
    calendar-bounded), cumulation windows over ≤ days rows each —
    the fact table never sees a global sort."""
    e = T(spark, sf_dir, "events")
    ev = e.select(
        "user_id",
        F.expr("CAST(datediff(CAST(event_ts AS DATE), DATE'1970-01-01') AS BIGINT)")
        .alias("d"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    cohort = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    cells = (
        ev.join(cohort, "user_id")
        .groupBy("cohort_d", (F.col("d") - F.col("cohort_d")).alias("age"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_d")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn(
            "cum_rev_cents", F.sum("rev_cents").over(w).cast("long")
        )
        .orderBy("cohort_d", "age")
    )


# ------------------------------------------------------------------
# Daily bounce rate (single-event 30-minute sessions)
# ------------------------------------------------------------------

_BOUNCE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
{_SESSION_RUNS_SQL},
sess AS (
  SELECT user_id, session_seq,
         MIN(us) // 86400000000 AS day,
         COUNT(*) AS n_events
  FROM runs GROUP BY 1, 2)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST((1000000 * SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS bounce_ppm
FROM sess GROUP BY 1 ORDER BY 1
"""


@query("q_events_bounce", oracle=_BOUNCE_ORACLE)
def q_events_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of sessions (30-minute inactivity
    gap, the exact q_events_sessionize definition) that contain a
    single event, keyed by the session's start day — THE engagement
    regression signal.  Sessions come from the same two-window
    gaps-and-islands pass; the ppm share is exact integer floor
    division (microsecond day index is exact int64: epoch µs DIV
    86400e6).

    Scale: the session pass is one (user, time) exchange (sessionize
    precedent); the daily rollup is a calendar-bounded second
    exchange.  Nothing global, nothing float."""
    runs = _session_runs(spark, sf_dir)
    sess = runs.groupBy("user_id", "session_seq").agg(
        F.expr("MIN(us) div 86400000000").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        sess.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.expr("CAST((1000000 * n_bounces) DIV n_sessions AS BIGINT)").alias(
                "bounce_ppm"
            ),
        )
        .orderBy("day")
    )


# ------------------------------------------------------------------
# Customer order-frequency tier migration (fixed calendar halves)
# ------------------------------------------------------------------

_MIGRATION_SPLIT = "1998-01-01"  # generator's fixed 1995–2001 span midpoint


def _tier_sql(col: str) -> str:
    return (
        f"CASE WHEN {col} = 0 THEN 0 WHEN {col} <= 2 THEN 1 ELSE 2 END"
    )


_MIGRATION_ORACLE = f"""
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{_MIGRATION_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_h1,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{_MIGRATION_SPLIT}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_h2
  FROM orders GROUP BY 1),
tiers AS (
  SELECT {_tier_sql('n_h1')} AS tier_h1, {_tier_sql('n_h2')} AS tier_h2
  FROM per),
cells AS (
  SELECT tier_h1, tier_h2, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM tiers GROUP BY 1, 2)
SELECT tier_h1, tier_h2, n_customers,
       CAST((1000000 * n_customers) // (SUM(n_customers) OVER ()) AS BIGINT)
         AS share_ppm
FROM cells ORDER BY tier_h1, tier_h2
"""


@query("q_customer_migration", oracle=_MIGRATION_ORACLE)
def q_customer_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer tier-migration matrix: order-frequency tier (0 =
    dormant, 1 = 1–2 orders, 2 = 3+) in the first calendar half vs
    the second — the churn/upgrade flow matrix (cell (2,0) is "lost
    whales", (0,2) is "new whales").  The split date is a fixed
    literal (the generator's span midpoint), so the query is one
    conditional-aggregation pass: no scalar subquery, no data-derived
    threshold to re-derive at scale.  Shares are exact integer ppm.

    Scale: one map-side-combined pass over orders grouped by
    customer, then a ≤9-cell matrix; the tier CASE is pure codegen."""
    o = T(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(
            F.when(F.col("o_orderdate") < F.lit(_MIGRATION_SPLIT).cast(
                "timestamp"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_h1"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit(_MIGRATION_SPLIT).cast(
                "timestamp"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_h2"),
    )
    tiers = per.select(
        F.expr(_tier_sql("n_h1")).alias("tier_h1"),
        F.expr(_tier_sql("n_h2")).alias("tier_h2"),
    )
    cells = tiers.groupBy("tier_h1", "tier_h2").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    return cells.select(
        "tier_h1",
        "tier_h2",
        "n_customers",
        F.expr(
            "CAST((1000000 * n_customers)"
            " DIV (SUM(n_customers) OVER ()) AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("tier_h1", "tier_h2")


# ------------------------------------------------------------------
# Association rules: support / confidence / lift over part baskets
# ------------------------------------------------------------------

_RULES_MIN_PAIR = 2


_RULES_TOPN = 50


_RULES_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
item AS (
  SELECT pk, CAST(COUNT(*) AS BIGINT) AS cnt FROM li GROUP BY 1),
pair AS (
  SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS cnt_ab
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING COUNT(*) >= {_RULES_MIN_PAIR})
SELECT pa, pb, cnt_ab,
       ia.cnt AS cnt_a, ib.cnt AS cnt_b,
       CAST((1000000 * cnt_ab) // n.n_orders AS BIGINT) AS support_ppm,
       CAST((1000000 * cnt_ab) // ia.cnt AS BIGINT) AS conf_a_to_b_ppm,
       CAST((1000000 * cnt_ab * n.n_orders) // (ia.cnt * ib.cnt) AS BIGINT)
         AS lift_ppm
FROM pair JOIN item ia ON pair.pa = ia.pk
          JOIN item ib ON pair.pb = ib.pk
          CROSS JOIN n
ORDER BY lift_ppm DESC, pa, pb
LIMIT {_RULES_TOPN}
"""


@query("q_rules_association", oracle=_RULES_ORACLE)
def q_rules_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 association rules a→b over same-order part
    baskets, ranked by lift: support = P(ab), confidence = P(b|a),
    lift = P(ab)/(P(a)P(b)) — all reported in EXACT integer ppm
    (floor division; lift's cross-multiplied form
    10⁶·cnt_ab·N DIV (cnt_a·cnt_b) never materializes a float).
    Pairs below 2 co-occurrences are pruned before
    the rule algebra — the standard min-support cut that keeps the
    candidate set linear in baskets.

    Scale: pair generation is bounded by basket width (≤ 7 parts per
    TPC-H order); item counts broadcast into the pair table (both
    sides key-domain bounded); the top-N is a TakeOrderedAndProject,
    never a global sort materialization.  At 2³¹+ baskets the ppm
    products approach int64 limits — the docstring remedy is the
    DECIMAL(38,0) widening, mechanical because every operand is
    already an exact integer."""
    li = (
        T(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    item = li.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_ab"))
        .where(F.col("cnt_ab") >= _RULES_MIN_PAIR)
    )
    n_orders = li.agg(
        F.countDistinct("ok").cast("long").alias("n_orders")
    )
    ia = item.select(F.col("pk").alias("pa"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("pk").alias("pb"), F.col("cnt").alias("cnt_b"))
    out = (
        pair.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "cnt_ab",
            "cnt_a",
            "cnt_b",
            F.expr("CAST((1000000 * cnt_ab) DIV n_orders AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST((1000000 * cnt_ab) DIV cnt_a AS BIGINT)").alias(
                "conf_a_to_b_ppm"
            ),
            F.expr(
                "CAST((1000000 * cnt_ab * n_orders)"
                " DIV (cnt_a * cnt_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return out.orderBy(
        F.desc("lift_ppm"), F.asc("pa"), F.asc("pb")
    ).limit(_RULES_TOPN)


# ------------------------------------------------------------------
# Behavioral path mining: top event-type trigrams
# ------------------------------------------------------------------

_TRIGRAM_TOP = 10


_TRIGRAM_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
lagged AS (
  SELECT user_id,
         LAG(event_type, 2) OVER w AS t1,
         LAG(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
paths AS (
  SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n_paths,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM lagged WHERE t1 IS NOT NULL GROUP BY 1, 2, 3)
SELECT t1, t2, t3, n_paths, n_users
FROM paths
ORDER BY n_paths DESC, t1, t2, t3
LIMIT {_TRIGRAM_TOP}
"""


@query("q_events_trigrams", oracle=_TRIGRAM_ORACLE)
def q_events_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step behavioral paths (event-type trigrams along
    each user's timeline) with the user reach of each path — the
    sequence-mining census product funnels are designed from.  The
    trigram is two LAGs over the deterministic (time, event_id)
    order; counts are exact; top-N carries the full lexicographic
    tie-break.

    Scale: one (user, time) exchange shared with the rest of the
    per-user pipeline; the path census is (event-type)³-bounded (125
    cells here) and the top-N is a TakeOrderedAndProject."""
    e = T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    lagged = e.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).where(F.col("t1").isNotNull())
    paths = lagged.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("long").alias("n_paths"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    return paths.orderBy(
        F.desc("n_paths"), F.asc("t1"), F.asc("t2"), F.asc("t3")
    ).limit(_TRIGRAM_TOP)


# ------------------------------------------------------------------
# User survival curve (lifespan ≥ k days, k = 0..30)
# ------------------------------------------------------------------

_SURV_MAX_K = 30


_SURV_ORACLE = f"""
WITH ev AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events),
life AS (
  SELECT user_id, MAX(d) - MIN(d) AS lifespan FROM ev GROUP BY 1),
ls AS (
  SELECT lifespan, CAST(COUNT(*) AS BIGINT) AS cnt FROM life GROUP BY 1),
grid AS (SELECT UNNEST(range(0, {_SURV_MAX_K + 1})) AS k),
surv AS (
  SELECT g.k,
         CAST(COALESCE(SUM(ls.cnt), 0) AS BIGINT) AS n_surviving
  FROM grid g LEFT JOIN ls ON ls.lifespan >= g.k
  GROUP BY 1),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_users FROM ls)
SELECT surv.k, surv.n_surviving, tot.n_users,
       CAST((1000000 * surv.n_surviving) // tot.n_users AS BIGINT)
         AS survival_ppm
FROM surv, tot
ORDER BY surv.k
"""


@query("q_events_survival", oracle=_SURV_ORACLE)
def q_events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User survival curve: the share of users whose observed lifespan
    (days between first and last event) reaches k, for k = 0..30
    — the retention-economics curve in its fully-observed form (every
    user's window is closed, so no censoring model is needed; the
    cohort-LTV table q_events_cohort_ltv prices what this curve
    predicts).  One lifespan reduction per user, then a reverse
    cumulative over the lifespan CENSUS joined onto a literal k-grid;
    all shares exact integer ppm.

    Scale: the user reduction is one map-side-combined exchange; the
    census and the 31-row grid are key-domain bounded; the ≥ join is
    31 × |distinct lifespans| — trivially broadcast."""
    e = T(spark, sf_dir, "events")
    life = e.select(
        "user_id",
        F.expr("CAST(datediff(CAST(event_ts AS DATE), DATE'1970-01-01') AS BIGINT)")
        .alias("d"),
    ).groupBy("user_id").agg((F.max("d") - F.min("d")).alias("lifespan"))
    ls = life.groupBy("lifespan").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    grid = spark.range(0, _SURV_MAX_K + 1).select(F.col("id").alias("k"))
    surv = (
        grid.join(F.broadcast(ls), ls.lifespan >= grid.k, "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_surviving"))
    )
    tot = ls.agg(F.sum("cnt").cast("long").alias("n_users"))
    return (
        surv.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_surviving",
            "n_users",
            F.expr(
                "CAST((1000000 * n_surviving) DIV n_users AS BIGINT)"
            ).alias("survival_ppm"),
        )
        .orderBy("k")
    )


# ------------------------------------------------------------------
# ABC inventory classification by cumulative revenue share
# ------------------------------------------------------------------

_ABC_ORACLE = """
WITH pr AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT cents,
         SUM(cents) OVER (ORDER BY cents DESC, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cents) OVER () AS total
  FROM pr),
classed AS (
  SELECT CASE WHEN 5 * cum <= 4 * total THEN 'A'
              WHEN 20 * cum <= 19 * total THEN 'B'
              ELSE 'C' END AS abc_class,
         cents, total
  FROM ranked)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS rev_cents,
       CAST((1000000 * SUM(cents)) // MAX(total) AS BIGINT) AS rev_share_ppm
FROM classed GROUP BY 1 ORDER BY 1
"""


@query("q_orders_abc", oracle=_ABC_ORACLE)
def q_orders_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts bucketed by cumulative
    revenue share — A while cum ≤ 80%, B while cum ≤ 95%, C for the
    tail — with both thresholds cross-multiplied into exact integer
    gates (5·cum ≤ 4·total, 20·cum ≤ 19·total): no ratio, no float,
    no boundary wobble.  The per-class census (count, revenue, exact
    ppm share) is what a warehouse planner actually files.

    Scale: the cumulative window runs over the per-PART census
    (key-domain bounded), with the partkey total tie-break; past
    ~10⁷ parts the two-pass histogram decomposition replaces the
    global window (the q_agg_pareto_coverage note — the machinery is
    hash-proven in q_agg_deciles_twopass)."""
    li = T(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    wo = Window.orderBy(F.desc("cents"), F.asc("l_partkey"))
    ranked = pr.select(
        "cents",
        F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("cents").over(Window.partitionBy()).alias("total"),
    )
    classed = ranked.select(
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "cents",
        "total",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("rev_cents"),
            F.expr(
                "CAST((1000000 * SUM(cents)) DIV MAX(total) AS BIGINT)"
            ).alias("rev_share_ppm"),
        )
        .orderBy("abc_class")
    )


# ------------------------------------------------------------------
# Monthly return-rate census (item- and revenue-weighted)
# ------------------------------------------------------------------

_RET_ORACLE = """
WITH li AS (
  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS m,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r,
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem)
SELECT CAST(m AS BIGINT) AS m,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(is_r) AS BIGINT) AS n_returned,
       CAST((1000000 * SUM(is_r)) // COUNT(*) AS BIGINT) AS return_ppm,
       CAST(SUM(cents) AS BIGINT) AS rev_cents,
       CAST((1000000 * SUM(CASE WHEN is_r = 1 THEN cents ELSE 0 END))
            // SUM(cents) AS BIGINT) AS return_rev_ppm
FROM li GROUP BY 1 ORDER BY 1
"""


@query("q_lineitem_returns", oracle=_RET_ORACLE)
def q_lineitem_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly return-rate census: returned-item share AND
    returned-revenue share in exact ppm — the two KPIs diverge
    exactly when expensive items return disproportionately, which is
    the actionable signal.  One map-side-combined pass, calendar-
    bounded output, everything integer.

    Scale: a single aggregation keyed by month index — the canonical
    'touch the fact table once' rollup."""
    li = T(spark, sf_dir, "lineitem").select(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
        .cast("long")
        .alias("m"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("is_r"),
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias(
            "cents"
        ),
    )
    return (
        li.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("is_r").cast("long").alias("n_returned"),
            F.expr("CAST((1000000 * SUM(is_r)) DIV COUNT(*) AS BIGINT)").alias(
                "return_ppm"
            ),
            F.sum("cents").cast("long").alias("rev_cents"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN is_r = 1 THEN cents ELSE 0 END))"
                " DIV SUM(cents) AS BIGINT)"
            ).alias("return_rev_ppm"),
        )
        .orderBy("m")
    )


# ------------------------------------------------------------------
# Markov power iteration on the event-type transition matrix
# ------------------------------------------------------------------

_MK_ITERS = 3


def _mk_iter_sql(t: int) -> str:
    """π_{t+1}[j] = Σ_i (π_t[i] · c_ij) // r_i, per-term floored."""
    return f"""
pi{t + 1} AS (
  SELECT tr.dst AS et,
         CAST(SUM((p.pi * tr.c) // tr.r) AS BIGINT) AS pi
  FROM transf tr JOIN pi{t} p ON p.et = tr.src
  GROUP BY tr.dst)"""


_MARKOV_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
             ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events),
trans0 AS (
  SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
trans AS (
  SELECT src, dst, c,
         CAST(SUM(c) OVER (PARTITION BY src) AS BIGINT) AS r
  FROM trans0),
types AS (SELECT DISTINCT src AS et FROM trans
          UNION SELECT DISTINCT dst FROM trans),
transf AS (
  SELECT src, dst, c, r FROM trans
  UNION ALL
  SELECT et, et, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  FROM types WHERE et NOT IN (SELECT src FROM trans)),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
pi0 AS (
  SELECT t.et, CAST(1000000 // k.k AS BIGINT) AS pi
  FROM types t CROSS JOIN k),
{",".join(_mk_iter_sql(t) for t in range(_MK_ITERS))}
SELECT p0.et AS event_type, p0.pi AS pi0,
       CAST(COALESCE(p3.pi, 0) AS BIGINT) AS pi{_MK_ITERS}_micros
FROM pi0 p0 LEFT JOIN pi{_MK_ITERS} p3 ON p3.et = p0.et
ORDER BY event_type
"""


@query("q_events_markov_power", oracle=_MARKOV_ORACLE)
def q_events_markov_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary behavior profile: three unrolled power-iteration
    steps of π ← πP on the event-type transition matrix, in
    FLOORED-MICROS integer arithmetic — each term (π[i]·c_ij)//r_i is
    an exact integer, so the trajectory is deterministic on both
    engines with no float matrix anywhere (the PageRank recursion at
    dimension k = |event types|, where exact integer fixed-point is
    affordable and hash-provable).  The state space is the UNION of
    sources and destinations: types that receive no transitions
    report 0 mass, and ABSORBING types (observed only as a
    destination) carry an implicit self-loop P[i][i] = 1 — they hold
    their π share instead of leaking it, so the reported
    distribution conserves the mass that flows into them (round-10
    fix; previously src-only types defined the space and inbound
    mass to absorbing types silently vanished).

    Scale: the transition census is one (user, time) exchange (the
    q_events_transitions shape); each iteration is a k²-row join —
    catalog-sized, broadcast."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.expr("ts div 1000"), F.col("event_id")
    )
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    trans0 = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    trans = trans0.select(
        "src",
        "dst",
        "c",
        F.sum("c").over(Window.partitionBy("src")).cast("long").alias("r"),
    )
    types = (
        trans0.select(F.col("src").alias("et"))
        .union(trans0.select(F.col("dst").alias("et")))
        .distinct()
    )
    # absorbing types (never a src) get an implicit self-loop row
    # c = r = 1, i.e. P[i][i] = 1 — mass flowing in is retained, not
    # silently dropped from the reported distribution
    selfloops = types.join(
        trans0.select(F.col("src").alias("et")).distinct(),
        "et",
        "left_anti",
    ).select(
        F.col("et").alias("src"),
        F.col("et").alias("dst"),
        F.lit(1).cast("long").alias("c"),
        F.lit(1).cast("long").alias("r"),
    )
    trans = trans.unionByName(selfloops)
    k = types.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = types.crossJoin(F.broadcast(k)).select(
        "et", F.expr("CAST(1000000 DIV k AS BIGINT)").alias("pi")
    )
    pi0 = pi
    for _ in range(_MK_ITERS):
        pi = (
            trans.join(
                F.broadcast(pi.withColumnRenamed("et", "src")), "src"
            )
            .groupBy(F.col("dst").alias("et"))
            .agg(
                F.sum(F.expr("(pi * c) DIV r")).cast("long").alias("pi")
            )
        )
    return (
        pi0.select("et", F.col("pi").alias("pi0"))
        .join(
            pi.select("et", F.col("pi").alias("pif")), "et", "left"
        )
        .select(
            F.col("et").alias("event_type"),
            "pi0",
            F.coalesce(F.col("pif"), F.lit(0))
            .cast("long")
            .alias(f"pi{_MK_ITERS}_micros"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------
# Pairwise event-type audience overlap
# ------------------------------------------------------------------

_AFFINITY_ORACLE = """
WITH a AS (SELECT DISTINCT event_type AS et, user_id FROM events),
sz AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY 1),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_all FROM a),
inter AS (
  SELECT x.et AS et_a, y.et AS et_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM a x JOIN a y ON x.user_id = y.user_id AND x.et < y.et
  GROUP BY 1, 2)
SELECT i.et_a, i.et_b, sa.n AS n_a, sb.n AS n_b, i.n_both,
       CAST((1000000 * i.n_both) // (sa.n + sb.n - i.n_both) AS BIGINT)
         AS jaccard_ppm,
       CAST((1000000 * i.n_both * t.n_all) // (sa.n * sb.n) AS BIGINT)
         AS lift_ppm
FROM inter i
JOIN sz sa ON sa.et = i.et_a
JOIN sz sb ON sb.et = i.et_b
CROSS JOIN tot t
ORDER BY et_a, et_b
"""


@query("q_events_type_affinity", oracle=_AFFINITY_ORACLE)
def q_events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise event-type audience affinity: for every type pair,
    the Jaccard of their distinct-user sets AND the lift
    P(both)/(P(a)·P(b)) in exact ppm — Jaccard says how much audience
    is shared, lift says whether doing one predicts doing the other
    beyond reach alone (the q_rules_association algebra applied to
    behaviors instead of baskets).  All counts are exact integers
    over the (type, user) distinct set.

    Scale: the pair expansion joins ON user_id (a user with k types
    fans out to k(k−1)/2 rows — bounded by the type-domain square);
    the 1-row total-audience scalar crosses into the lift ratio."""
    ev = T(spark, sf_dir, "events")
    a = ev.select(F.col("event_type").alias("et"), "user_id").distinct()
    sz = a.groupBy("et").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = a.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_all")
    )
    x, y = a.alias("x"), a.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.et") < F.col("y.et")),
        )
        .groupBy(F.col("x.et").alias("et_a"), F.col("y.et").alias("et_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    sa = sz.select(F.col("et").alias("et_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("et").alias("et_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "et_a")
        .join(F.broadcast(sb), "et_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "et_a",
            "et_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST((1000000 * n_both) DIV (n_a + n_b - n_both)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr(
                "CAST((1000000 * n_both * n_all) DIV (n_a * n_b)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("et_a", "et_b")
    )
