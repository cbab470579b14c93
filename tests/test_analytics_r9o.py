"""Round-9 pack-O fixtures: hand-computed classical-test values — a
Welch design with unequal variances, a five-point Jarque-Bera moment
ladder, a Wilcoxon tie knot, a Mood 2-group median split, a 3×3
Cochran table, and a gap-filled Ljung-Box trajectory with the lag ≥ n
NULL tail.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_cochran_q,
    q_stats_jarque_bera,
    q_stats_ljung_box,
    q_stats_mood_median,
    q_stats_welch_t,
    q_stats_wilcoxon_signed,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _events(rows):
    """rows: list of (ts, user_id, event_type, value)."""
    return pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
            "value": [float(r[3]) for r in rows],
        }
    )


def test_welch_t_hand_design(tmp_path, spark):
    """R = [$10, $20], A = [$10, $10, $40] (cents): var1 = 5e5,
    var2 = 3e6, se² = 1.25e6 → t = −500/√1.25e6, df = 25/9."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_returnflag": ["R", "R", "A", "A", "A", "N"],
                "l_extendedprice": [10.0, 20.0, 10.0, 10.0, 40.0, 99.0],
            }
        ),
    )
    r = q_stats_welch_t(spark, str(tmp_path)).collect()[0]
    assert (r["n1"], r["s1"], r["q1"]) == (2, 3000, 5_000_000.0)
    assert (r["n2"], r["s2"], r["q2"]) == (3, 6000, 18_000_000.0)
    assert r["t_stat"] == pytest.approx(-500.0 / math.sqrt(1_250_000.0))
    # df = se2² / ((var1/n1)²/(n1−1) + (var2/n2)²/(n2−1))
    #    = 1.5625e12 / (6.25e10 + 5e11) = 25/9
    assert r["df_welch"] == pytest.approx(25.0 / 9.0)


def test_welch_t_degenerate_group_null(tmp_path, spark):
    """A single-row group (n < 2) reports NULL t and df."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_returnflag": ["R", "A", "A"],
                "l_extendedprice": [10.0, 20.0, 30.0],
            }
        ),
    )
    r = q_stats_welch_t(spark, str(tmp_path)).collect()[0]
    assert r["t_stat"] is None and r["df_welch"] is None


def test_jarque_bera_hand_moments(tmp_path, spark):
    """Quantities [1,2,3,4,10]: m2 = 10, m3 = 36, m4 = 278.8 →
    skew = 36/(10√10), kurt = 2.788, JB = 5/6·(S² + (K−3)²/4)."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame({"l_quantity": [1.0, 2.0, 3.0, 4.0, 10.0]}),
    )
    r = q_stats_jarque_bera(spark, str(tmp_path)).collect()[0]
    assert (r["n"], r["s1"], r["s2"], r["s3"], r["s4"]) == (
        5,
        20,
        130,
        1100,
        10354,
    )
    skew = 36.0 / (10.0 * math.sqrt(10.0))
    kurt = 278.8 / 100.0
    assert r["skewness"] == pytest.approx(skew)
    assert r["kurtosis"] == pytest.approx(kurt)
    assert r["jb_stat"] == pytest.approx(
        5.0 / 6.0 * (skew * skew + (kurt - 3.0) ** 2 / 4.0)
    )


def test_jarque_bera_constant_null(tmp_path, spark):
    """Zero variance (all quantities equal) reports NULL everywhere."""
    _write(
        tmp_path, "lineitem", pd.DataFrame({"l_quantity": [7.0, 7.0, 7.0]})
    )
    r = q_stats_jarque_bera(spark, str(tmp_path)).collect()[0]
    assert r["skewness"] is None and r["jb_stat"] is None


def test_wilcoxon_tie_knot(tmp_path, spark):
    """d ∈ {+5, −5, +5, +2, (0 dropped)}: |d|=5 is a 3-way tie with
    doubled midrank 6, |d|=2 has doubled midrank 2 → W⁺(doubled) =
    1·2 + 2·6 = 14, tie term 24, z = (7−5)/√7."""
    early = dt.datetime(2024, 3, 5, 12, 0, 0)
    late = dt.datetime(2024, 3, 20, 12, 0, 0)
    rows = [
        (early, 1, "click", 1.0), (late, 1, "click", 6.0),   # d = +5e6
        (early, 2, "click", 6.0), (late, 2, "click", 1.0),   # d = −5e6
        (late, 3, "click", 5.0),                              # d = +5e6
        (early, 4, "click", 1.0), (late, 4, "click", 3.0),   # d = +2e6
        (early, 5, "click", 0.0),                             # d = 0 → drop
    ]
    _write(tmp_path, "events", _events(rows))
    r = q_stats_wilcoxon_signed(spark, str(tmp_path)).collect()[0]
    assert (r["n_pairs"], r["wd"], r["tie_cubes"]) == (4, 14, 24)
    assert r["z_stat"] == pytest.approx(2.0 / math.sqrt(7.0))


def test_wilcoxon_all_zero_null(tmp_path, spark):
    """Every user balanced (d = 0 everywhere) → n = 0, NULL z."""
    early = dt.datetime(2024, 3, 5)
    late = dt.datetime(2024, 3, 20)
    rows = [(early, 1, "click", 2.0), (late, 1, "click", 2.0)]
    _write(tmp_path, "events", _events(rows))
    r = q_stats_wilcoxon_signed(spark, str(tmp_path)).collect()[0]
    assert r["n_pairs"] == 0 and r["z_stat"] is None


def test_mood_median_two_group_split(tmp_path, spark):
    """URGENT = [$1,$2,$3], LOW = [$3,$4]: N = 5, median (rank 3) =
    300 cents; a = (3, 1), χ² = 0.15 + 0.6 + 0.225 + 0.9 = 1.875."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderpriority": ["1-URGENT"] * 3 + ["5-LOW"] * 2,
                "o_totalprice": [1.0, 2.0, 3.0, 3.0, 4.0],
            }
        ),
    )
    r = q_stats_mood_median(spark, str(tmp_path)).collect()[0]
    assert r["median_cents"] == 300
    assert (r["n1"], r["a1"]) == (3, 3)
    assert (r["n5"], r["a5"]) == (2, 1)
    assert (r["n2"], r["n3"], r["n4"]) == (0, 0, 0)
    assert r["chisq"] == pytest.approx(1.875)


def test_cochran_q_hand_table(tmp_path, spark):
    """x-rows (1,1,0), (1,0,0), (1,1,1): T = (3,2,1) → num = 12;
    R = (2,1,3) → den = 4; Q = 3.  An 'error' event is ignored."""
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (t0, 1, "click", 0.0), (t0, 1, "view", 0.0),
        (t0, 2, "click", 0.0),
        (t0, 3, "click", 0.0), (t0, 3, "view", 0.0),
        (t0, 3, "purchase", 0.0), (t0, 3, "purchase", 0.0),
        (t0, 9, "error", 0.0),  # filtered: not a treatment type
    ]
    _write(tmp_path, "events", _events(rows))
    r = q_stats_cochran_q(spark, str(tmp_path)).collect()[0]
    assert r["n_users"] == 3
    assert (r["t1"], r["t2"], r["t3"]) == (3, 2, 1)
    assert (r["q_num"], r["q_den"]) == (12, 4)
    assert r["q_stat"] == pytest.approx(3.0)


def test_ljung_box_gapfill_and_null_tail(tmp_path, spark):
    """Counts 1,2,—,2 over days 1,2,4 gap-fill to x = [1,2,0,2]
    (n = 4): a_num = (−33, 14, −3), terms (4500000, 1214876, 111570),
    running Q plateaus at 5826446; lags ≥ n report NULL."""
    d1 = dt.datetime(2024, 1, 1, 10)
    d2 = dt.datetime(2024, 1, 2, 10)
    d4 = dt.datetime(2024, 1, 4, 10)
    rows = [
        (d1, 1, "click", 0.0),
        (d2, 1, "click", 0.0), (d2, 2, "click", 0.0),
        (d4, 1, "click", 0.0), (d4, 2, "click", 0.0),
    ]
    _write(tmp_path, "events", _events(rows))
    out = {r["lag"]: r for r in q_stats_ljung_box(spark, str(tmp_path)).collect()}
    assert set(out) == set(range(1, 8))
    assert all(r["n"] == 4 for r in out.values())
    assert out[1]["a_num"] == -33 and out[1]["rho"] == pytest.approx(-0.75)
    assert out[2]["a_num"] == 14
    assert out[3]["a_num"] == -3
    assert out[1]["term_micros"] == 4_500_000
    assert out[2]["term_micros"] == 1_214_876
    assert out[3]["term_micros"] == 111_570
    assert out[3]["q_micros"] == 5_826_446
    for lag in range(4, 8):
        assert out[lag]["rho"] is None and out[lag]["term_micros"] is None
        # the running Q plateaus once terms go NULL
        assert out[lag]["q_micros"] == 5_826_446


def test_ljung_box_constant_series_null(tmp_path, spark):
    """A constant series (zero variance) reports NULL rho, terms and
    Q at every lag, identically on both engines."""
    rows = [
        (dt.datetime(2024, 1, 1 + i, 10), 1, "click", 0.0) for i in range(3)
    ]
    _write(tmp_path, "events", _events(rows))
    out = q_stats_ljung_box(spark, str(tmp_path)).collect()
    assert len(out) == 7
    assert all(
        r["rho"] is None and r["term_micros"] is None and r["q_micros"] is None
        for r in out
    )
