"""Round-9 pack-M fixtures: a 3-day series with a hand-ordered slope
median, a two-user survival staircase, and the exact 80/95 ABC
boundaries.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_survival,
    q_orders_abc,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_theilsen,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_theilsen_median_pair(tmp_path, spark):
    """Daily revenues 1, 3, 4 → pairwise slopes {2, 1.5, 1}; lower
    median of 3 is rank 2 → slope 1.5 with exact pair (dy=3, dx=2)."""
    rows = [(0, 1.0), (1, 3.0), (2, 4.0)]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderdate": pd.Series(
                    [dt.datetime(2024, 1, 1) + dt.timedelta(days=r[0]) for r in rows],
                    dtype="datetime64[us]",
                ),
                "o_totalprice": [r[1] for r in rows],
            }
        ),
    )
    row = q_stats_theilsen(spark, str(tmp_path)).collect()[0]
    assert row["n0"] == 3
    assert (row["med_dy"], row["med_dx"]) == (3, 2)
    assert row["med_slope"] == 1.5


def test_survival_staircase(tmp_path, spark):
    """u1 lives 0 days, u2 lives 2 days: S(0) = 100%, S(1) = S(2) =
    50%, S(3..30) = 0 — 31 grid rows always present."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "ts": pd.Series(
                    [t0, t0, t0 + dt.timedelta(days=2)], dtype="datetime64[us]"
                ),
                "user_id": [1, 2, 2],
                "event_type": ["view"] * 3,
            }
        ),
    )
    out = {r["k"]: r for r in q_events_survival(spark, str(tmp_path)).collect()}
    assert len(out) == 31
    assert out[0]["n_surviving"] == 2 and out[0]["survival_ppm"] == 1_000_000
    assert out[1]["n_surviving"] == 1 and out[1]["survival_ppm"] == 500_000
    assert out[2]["n_surviving"] == 1
    assert out[3]["n_surviving"] == 0 and out[30]["survival_ppm"] == 0


def test_abc_exact_boundaries(tmp_path, spark):
    """Part revenues 80/15/5: cum 80% lands EXACTLY on the A gate
    (5·8000 = 4·10000) and cum 95% exactly on the B gate — closed
    bounds honored, one part per class, exact ppm shares."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_partkey": [1, 2, 3],
                "l_extendedprice": [80.0, 15.0, 5.0],
            }
        ),
    )
    out = {r["abc_class"]: r for r in q_orders_abc(spark, str(tmp_path)).collect()}
    assert set(out) == {"A", "B", "C"}
    assert out["A"]["n_parts"] == 1 and out["A"]["rev_share_ppm"] == 800_000
    assert out["B"]["n_parts"] == 1 and out["B"]["rev_share_ppm"] == 150_000
    assert out["C"]["n_parts"] == 1 and out["C"]["rev_share_ppm"] == 50_000
