"""Round-9 pack-P fixtures: a designed stochastic-%K staircase, an
Aroon tie resolved to the most recent bar, an OBV sign ladder, a
perfectly period-7 fold, and the MASE zero-seasonal-error case.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_timeseries_fold_periodicity,
    q_timeseries_mase,
    q_window_aroon,
    q_window_obv,
    q_window_stochastic,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _orders(day_values):
    """day_values: list of (day_offset, totalprice) — one order each."""
    base = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        {
            "o_orderdate": pd.Series(
                [base + dt.timedelta(days=d) for d, _ in day_values],
                dtype="datetime64[us]",
            ),
            "o_totalprice": [float(v) for _, v in day_values],
        }
    )


def _events(day_counts, base=dt.datetime(2024, 1, 1, 10)):
    """day_counts: list of (day_offset, n_events)."""
    rows = []
    for d, n in day_counts:
        for i in range(n):
            rows.append(base + dt.timedelta(days=d, minutes=i))
    return pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Series(rows, dtype="datetime64[us]"),
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
        }
    )


def test_stochastic_k_and_d(tmp_path, spark):
    """13 flat days then 30/20/10: at the first full window %K = 1e6
    (close is the max), then 5e5, then 0; %D first exists on bar 16 =
    (0 + 5e5 + 1e6)//3."""
    vals = [(i, 10.0) for i in range(13)] + [(13, 30.0), (14, 20.0), (15, 10.0)]
    _write(tmp_path, "orders", _orders(vals))
    out = {r["day"] - 19723: r for r in q_window_stochastic(spark, str(tmp_path)).collect()}
    # day 19723 = 2024-01-01 epoch day
    assert out[12]["k_ppm"] is None  # window not yet full (13 bars)
    assert out[13]["k_ppm"] == 1_000_000
    assert out[14]["k_ppm"] == 500_000
    assert out[15]["k_ppm"] == 0
    assert out[14]["d_ppm"] is None  # k2 still NULL at bar 15
    assert out[15]["d_ppm"] == 500_000


def test_stochastic_flat_window_null(tmp_path, spark):
    """A full but flat window (max == min) reports NULL %K."""
    vals = [(i, 10.0) for i in range(14)]
    _write(tmp_path, "orders", _orders(vals))
    rows = q_window_stochastic(spark, str(tmp_path)).collect()
    assert all(r["k_ppm"] is None for r in rows)


def test_aroon_tie_most_recent(tmp_path, spark):
    """Values 1..10,10,9..1 over 20 bars: the two tied highs (bars
    10, 11) resolve to bar 11, so at bar 20 bars_since_hi = 9 and
    aroon_up = (14−9)/14; the low is the current bar → aroon_dn =
    1e6."""
    vals = [(i, float(i + 1 if i < 10 else 20 - i)) for i in range(20)]
    # values: 1..10 (bars 1-10), 10 (bar 11), 9..1 (bars 12-20)
    _write(tmp_path, "orders", _orders(vals))
    out = {r["day"] - 19723: r for r in q_window_aroon(spark, str(tmp_path)).collect()}
    assert out[13]["bars_since_hi"] is None  # 14 bars < p+1
    r20 = out[19]
    assert r20["bars_since_hi"] == 9
    assert r20["bars_since_lo"] == 0
    assert r20["aroon_up_ppm"] == (1_000_000 * 5) // 14
    assert r20["aroon_dn_ppm"] == 1_000_000


def test_obv_sign_ladder(tmp_path, spark):
    """(r, vol) = (10,2), (20,1), (15,3), (15,2): signs 0,+1,−1,0 →
    OBV 0, 1, −2, −2."""
    day_orders = [
        (0, 4.0), (0, 6.0),
        (1, 20.0),
        (2, 5.0), (2, 5.0), (2, 5.0),
        (3, 7.0), (3, 8.0),
    ]
    _write(tmp_path, "orders", _orders(day_orders))
    rows = q_window_obv(spark, str(tmp_path)).collect()
    assert [r["vol"] for r in rows] == [2, 1, 3, 2]
    assert [r["sgn"] for r in rows] == [0, 1, -1, 0]
    assert [r["obv"] for r in rows] == [0, 1, -2, -2]


def test_fold_period7_perfect(tmp_path, spark):
    """A strict period-7 count pattern over 30 days: the P=7 fold
    explains ALL variance (ppm = 1e6 exactly); P=5 and P=9 explain
    strictly less."""
    pattern = [1, 2, 3, 1, 1, 1, 2]
    _write(
        tmp_path,
        "events",
        _events([(d, pattern[d % 7]) for d in range(30)]),
    )
    out = {r["p"]: r for r in q_timeseries_fold_periodicity(spark, str(tmp_path)).collect()}
    assert set(out) == {5, 7, 9}
    assert out[7]["explained_ppm"] == 1_000_000
    assert out[7]["m"] == 4  # 28 of 30 days = 4 complete cycles
    assert out[5]["explained_ppm"] < 1_000_000
    assert out[9]["explained_ppm"] < 1_000_000


def test_fold_constant_series_null(tmp_path, spark):
    """A constant series has zero total variance → NULL share."""
    _write(tmp_path, "events", _events([(d, 2) for d in range(20)]))
    rows = q_timeseries_fold_periodicity(spark, str(tmp_path)).collect()
    assert all(r["explained_ppm"] is None for r in rows)


def test_mase_zero_seasonal_error(tmp_path, spark):
    """A strict period-7 series repeated twice: the seasonal-naive
    error is exactly 0 → MASE 0 while the one-step error is not."""
    pattern = [1, 2, 3, 1, 1, 1, 2]
    _write(
        tmp_path,
        "events",
        _events([(d, pattern[d % 7]) for d in range(14)]),
    )
    r = q_timeseries_mase(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 14
    assert r["err_seasonal"] == 0 and r["err_naive"] > 0
    assert r["mase_ppm"] == 0


def test_mase_short_series_null(tmp_path, spark):
    """n ≤ seasonal lag reports NULL (and the gap day fills to 0)."""
    _write(tmp_path, "events", _events([(0, 1), (1, 2), (3, 2)]))
    r = q_timeseries_mase(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 4  # day 2 gap-filled
    assert r["err_naive"] == 5  # |2−1| + |0−2| + |2−0|
    assert r["mase_ppm"] is None
