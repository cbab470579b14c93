"""Round-9 pack-H fixtures: perfect/inverse monotone association
(Spearman ±1), heatmap share algebra, calendar-aligned naive forecast
pairs, A/B significance and its degenerate pools, and the hand-checked
winsorized census.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
    q_agg_winsorized_mean,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_heatmap,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_spearman,
    q_stats_two_proportion,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_forecast_naive,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _orders(day_prices):
    rows = []
    for day, prices in day_prices.items():
        for p in prices:
            rows.append((dt.datetime(2024, 1, 1) + dt.timedelta(days=day), p))
    return pd.DataFrame(
        {
            "o_orderdate": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
            "o_totalprice": [r[1] for r in rows],
        }
    )


def test_spearman_perfect_and_inverse(tmp_path, spark):
    """Revenue and volume rising together → rho = +1.0 exactly;
    volume up while revenue down → −1.0 (both are exact because the
    rank moments are integers and the final sqrt/division are
    correctly rounded on a perfect-square ratio)."""
    up = {i: [float(i + 1)] * (i + 1) for i in range(4)}  # r=(i+1)^2, n=i+1
    _write(tmp_path, "orders", _orders(up))
    row = q_stats_spearman(spark, str(tmp_path)).collect()[0]
    assert row["rho"] == 1.0 and row["cov_num"] == row["var_x"] == row["var_y"]

    down = {0: [100.0], 1: [10.0, 10.0], 2: [1.0, 1.0, 1.0]}
    sub = tmp_path / "down"
    sub.mkdir()
    _write(sub, "orders", _orders(down))
    row = q_stats_spearman(spark, str(sub)).collect()[0]
    assert row["rho"] == -1.0 and row["cov_num"] == -row["var_x"]


def test_heatmap_shares_sum_structure(tmp_path, spark):
    """3 events in one (dow, hour) cell and 1 in another → 750000 /
    250000 ppm."""
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)   # a Monday, 09:00
    t1 = dt.datetime(2024, 1, 1, 17, 0, 0)
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4],
                "ts": [t0, t0, t0, t1],
                "user_id": [1] * 4,
                "event_type": ["x"] * 4,
            }
        ),
    )
    out = {(r["dow"], r["hod"]): r for r in q_events_heatmap(spark, str(tmp_path)).collect()}
    assert out[(1, 9)]["n_events"] == 3 and out[(1, 9)]["share_ppm"] == 750000
    assert out[(1, 17)]["n_events"] == 1 and out[(1, 17)]["share_ppm"] == 250000


def test_forecast_naive_calendar_alignment(tmp_path, spark):
    """Only days with an observation exactly 7 calendar days earlier
    are scored: days {0, 7, 9} pair 7←0 only; MAE and WAPE come from
    that single exact pair."""
    _write(tmp_path, "orders", _orders({0: [100.0], 7: [130.0], 9: [999.0]}))
    row = q_window_forecast_naive(spark, str(tmp_path)).collect()[0]
    assert row["n_days"] == 1
    assert row["mae_sum_dollars"] == 30 and row["pred_sum_dollars"] == 100
    assert row["wape_ppm"] == 300000


def test_two_proportion_exact_rational_and_degenerate(tmp_path, spark):
    """Cohorts (n=2, a=1) vs (n=2, a=0): z² = 16/12 exactly, below the
    3.8416 gate; an all-converted pool (zero variance) must pin to
    z²=0 / not significant rather than divide by zero."""
    def _events(types_by_user):
        rows = []
        for u, types in types_by_user.items():
            for ty in types:
                rows.append((len(rows), dt.datetime(2024, 1, 1), u, ty))
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
            }
        )

    _write(
        tmp_path,
        "events",
        _events({0: ["purchase", "view"], 2: ["view"], 1: ["view"], 3: ["view"]}),
    )
    row = q_stats_two_proportion(spark, str(tmp_path)).collect()[0]
    assert (row["n1"], row["a1"], row["n2"], row["a2"]) == (2, 1, 2, 0)
    assert (row["z2_num"], row["z2_den"]) == (16, 12)
    assert row["significant"] == 0

    sub = tmp_path / "degen"
    sub.mkdir()
    _write(sub, "events", _events({u: ["purchase"] for u in range(4)}))
    row = q_stats_two_proportion(spark, str(sub)).collect()[0]
    assert (row["z2_num"], row["z2_den"], row["z2"], row["significant"]) == (
        0,
        1,
        0.0,
        0,
    )


def test_winsorized_clamps_to_boundary_statistics(tmp_path, spark):
    """Values 1¢×5, 2¢×2, 9¢×3 (n=10, clamp 1 each side): lo_v=1¢
    (rank 2), hi_v=9¢ (rank 9), winsorized sum = 26 + 1 + 9 = 36¢ —
    versus the trimmed form's 26¢ over 8 kept rows."""
    cents = [1] * 5 + [2] * 2 + [9] * 3
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_totalprice": [c / 100.0 for c in cents]}),
    )
    row = q_agg_winsorized_mean(spark, str(tmp_path)).collect()[0]
    assert (row["n"], row["lo_clamp_cents"], row["hi_clamp_cents"]) == (10, 1, 9)
    assert row["winsor_sum_cents"] == 36
    assert row["winsor_mean_millicents"] == 3600
