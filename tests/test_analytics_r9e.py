"""Round-9 pack-E fixtures: each pins the exact edge its family is
built around — tied midranks (Mann–Whitney), zero day-of-week cells
(χ²), calendar gaps under a RANGE frame (VWAP), zero/boundary gaps
(inter-arrival buckets), perfect-habit stickiness, and kNN vote
tie-breaks — on minimal parquet fixtures the driver testdata never
exercises adversarially.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_interarrival,
    q_events_stickiness,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_sim_knn_classify,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_chisq_dow,
    q_stats_mannwhitney,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_vwap,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_mannwhitney_tied_midranks(tmp_path, spark):
    """Hand-checked U with a three-way tie straddling both samples:
    A = {1, 2, 2, 3}, B = {2, 4} → midrank of the 2s is 3, R_A = 12,
    U_A = 2, U_B = 6.  The doubled-midrank census algebra must
    reproduce it exactly, and 2U_A + 2U_B must equal 2·n_A·n_B."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_totalprice": [1.0, 2.0, 2.0, 3.0, 2.0, 4.0],
                "o_orderpriority": ["1-URGENT"] * 4 + ["5-LOW"] * 2,
            }
        ),
    )
    row = q_stats_mannwhitney(spark, str(tmp_path)).collect()[0]
    assert (row["n_a"], row["n_b"]) == (4, 2)
    assert row["two_r_a"] == 24
    assert row["two_u_a"] == 4 and row["two_u_b"] == 12
    assert row["two_u_a"] + row["two_u_b"] == 2 * row["n_a"] * row["n_b"]
    assert row["u_a"] == 2.0


def test_chisq_zero_cells_contribute(tmp_path, spark):
    """A type seen on only ONE weekday must pay N² for each of its six
    silent cells: 7 events of type 'a' on one day → χ² num
    (49−7)² + 6·7² = 2058, den 49, χ² = 42 (nonuniform); type 'b'
    spread one-per-day over 7 consecutive days → χ² = 0 (uniform)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [("a", base)] * 7 + [
        ("b", base + dt.timedelta(days=i)) for i in range(7)
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [t for _, t in rows],
                "user_id": [1] * len(rows),
                "event_type": [e for e, _ in rows],
            }
        ),
    )
    out = {r["event_type"]: r for r in q_stats_chisq_dow(spark, str(tmp_path)).collect()}
    a, b = out["a"], out["b"]
    assert (a["n"], a["chisq_num"], a["chisq_den"]) == (7, 2058, 49)
    assert a["chisq"] == 42.0 and a["nonuniform"] == 1
    assert (b["n"], b["chisq_num"], b["nonuniform"]) == (7, 0, 0)


def test_vwap_calendar_gap_shrinks_frame(tmp_path, spark):
    """Days 0 and 10: the 6-PRECEDING RANGE frame at day 10 must NOT
    reach back to day 0 (a ROWS frame would) — the bug class the
    RANGE key exists to kill."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_shipdate": pd.Series(
                    [dt.datetime(1970, 1, 1), dt.datetime(1970, 1, 11)],
                    dtype="datetime64[us]",
                ),
                "l_extendedprice": [1.0, 3.0],
                "l_quantity": [1.0, 1.0],
            }
        ),
    )
    out = {r["day"]: r for r in q_window_vwap(spark, str(tmp_path)).collect()}
    assert out[0]["vwap_micro"] == 1_000_000 * 1  # $1.00/unit
    d10 = out[10]
    assert (d10["pv7"], d10["vol7"]) == (300, 1)  # day 0 excluded
    assert d10["vwap_micro"] == 3_000_000


def test_interarrival_zero_and_boundary_buckets(tmp_path, spark):
    """A duplicate timestamp yields gap 0 → bucket 0; a gap of exactly
    8 s sits in bucket 4 (2³ ≤ 8 < 2⁴ — the bit-length convention);
    gaps across users never mix."""
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4],
                "ts": [t0, t0, t0 + dt.timedelta(seconds=8), t0],
                "user_id": [1, 1, 1, 2],
                "event_type": ["x"] * 4,
            }
        ),
    )
    out = {r["bucket"]: r for r in q_events_interarrival(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 4}
    assert out[0]["n_gaps"] == 1 and out[0]["max_gap_s"] == 0
    assert out[4]["n_gaps"] == 1 and out[4]["min_gap_s"] == 8


def test_stickiness_perfect_habit_is_exactly_1e6(tmp_path, spark):
    """Every weekly user active every observed day → 1,000,000 ppm
    exactly; the week key is epoch-day÷7 so a 7-day aligned span lands
    in ONE week row."""
    first = dt.datetime(1970, 1, 1) + dt.timedelta(days=14000)  # 14000 % 7 == 0
    rows = []
    for d in range(7):
        for u in (1, 2):
            rows.append((len(rows), first + dt.timedelta(days=d, hours=u), u))
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["x"] * len(rows),
            }
        ),
    )
    out = q_events_stickiness(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["week"], r["sum_dau"], r["n_days"], r["wau"]) == (2000, 14, 7, 2)
    assert r["stickiness_ppm"] == 1_000_000


def test_knn_vote_tiebreak_smallest_label(tmp_path, spark):
    """A 2-2-1 vote among query 0's five positive-cosine neighbours
    must break to the SMALLEST winning label (5 beats 9); orthogonal
    candidates (dot = 0) must never crowd out positive matches."""
    dim = 64

    def vec(axis, mag=1.0):
        v = [0.0] * dim
        v[axis] = mag
        return v

    rows = []
    # 8 queries: query 0 on the x-axis, the rest on axis 32+ (isolated)
    for q in range(8):
        rows.append((q, vec(0 if q == 0 else 32 + q), 0))
    # five x-axis candidates with labels 5,5,9,9,3 (the vote set)
    for i, lab in enumerate([5, 5, 9, 9, 3]):
        rows.append((8 + i, vec(0, 1.0 + 0.01 * i), lab))
    # orthogonal fillers (dot 0 with query 0)
    for i in range(5):
        rows.append((13 + i, vec(20 + i), 7))
    _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
                "label": [r[2] for r in rows],
            }
        ),
    )
    out = {r["qid"]: r for r in q_sim_knn_classify(spark, str(tmp_path)).collect()}
    assert len(out) == 8  # every query classified
    assert out[0]["pred_label"] == 5 and out[0]["votes"] == 2
