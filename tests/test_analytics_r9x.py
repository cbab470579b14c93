"""Round-9 pack-X fixtures: a nearest-view timeline with a backward
tie, the runs-up-down sign chain with a flat day dropped, and a
negative Bowley coefficient exercising the sign-aware division.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
    q_agg_bowley_skew,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.relational import (
    q_join_asof_nearest,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_runs_updown,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_nearest_asof_directions_and_tie(tmp_path, spark):
    """Click 1 sits 50s after a view and 40s before one → forward
    wins; click 3 has no later view → backward; an exact tie prefers
    backward; a view-less user reports NULL."""
    t0 = dt.datetime(2024, 1, 1)

    def at(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (0, at(100), 1, "view"),
        (1, at(150), 1, "click"),   # prev 50s, next 40s -> view 2
        (2, at(190), 1, "view"),
        (3, at(300), 1, "click"),   # only prev (110s) -> view 2
        (4, at(100), 2, "view"),
        (5, at(200), 2, "click"),   # tie 100s/100s -> backward view 4
        (6, at(300), 2, "view"),
        (7, at(50), 3, "click"),    # user 3 has no views -> NULL
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.Series([r[1] for r in rows], dtype="datetime64[us]"),
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
            }
        ),
    )
    out = {r["click_id"]: r for r in q_join_asof_nearest(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 3, 5, 7}
    assert (out[1]["nearest_view_id"], out[1]["gap_us"]) == (2, 40_000_000)
    assert (out[3]["nearest_view_id"], out[3]["gap_us"]) == (2, 110_000_000)
    assert (out[5]["nearest_view_id"], out[5]["gap_us"]) == (4, 100_000_000)
    assert out[7]["nearest_view_id"] is None and out[7]["gap_us"] is None


def _orders(day_values):
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


def test_runs_updown_flat_day_drops(tmp_path, spark):
    """Daily 10,20,30,10,10,20: diffs +,+,−,flat,+ → signs
    [+,+,−,+] → n_eff = 5, runs = 3, z = 0 (E[R] = 3 at n = 5)."""
    _write(
        tmp_path,
        "orders",
        _orders([(0, 10.0), (1, 20.0), (2, 30.0), (3, 10.0), (4, 10.0), (5, 20.0)]),
    )
    r = q_stats_runs_updown(spark, str(tmp_path)).collect()[0]
    assert (r["n_eff"], r["runs"]) == (5, 3)
    assert r["z_stat"] == pytest.approx(0.0)


def test_runs_updown_constant_null(tmp_path, spark):
    """A constant series has no direction changes to test → NULL."""
    _write(tmp_path, "orders", _orders([(0, 5.0), (1, 5.0), (2, 5.0)]))
    r = q_stats_runs_updown(spark, str(tmp_path)).collect()[0]
    assert (r["n_eff"], r["runs"]) == (0, 0)
    assert r["z_stat"] is None


def test_bowley_negative_skew_sign_path(tmp_path, spark):
    """Totals [$1,$9,$10] (n = 3): ranks ⌈3/4⌉=1, ⌈3/2⌉=2, ⌈9/4⌉=3 →
    Q = (100, 900, 1000) → Bowley = (100 + 1000 − 1800)/900 =
    −700/900 — the negative branch of the sign-aware division
    (truncating, not flooring: −777777 ppm, not −777778)."""
    _write(tmp_path, "orders", _orders([(0, 1.0), (1, 9.0), (2, 10.0)]))
    r = q_agg_bowley_skew(spark, str(tmp_path)).collect()[0]
    assert (r["n"], r["q1"], r["q2"], r["q3"]) == (3, 100, 900, 1000)
    assert r["bowley_ppm"] == -777_777


def test_bowley_zero_iqr_null(tmp_path, spark):
    """All-equal totals: Q3 = Q1 → NULL."""
    _write(tmp_path, "orders", _orders([(0, 5.0), (1, 5.0), (2, 5.0)]))
    r = q_agg_bowley_skew(spark, str(tmp_path)).collect()[0]
    assert r["bowley_ppm"] is None
