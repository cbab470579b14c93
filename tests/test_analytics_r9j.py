"""Round-9 pack-J fixtures: hand-built bounce sessions, the exact 80%
coverage boundary, a two-cell migration matrix, pruned vs kept
association rules with closed-form ppm values, and a hand-computed
Brown–Forsythe W on a 5-row two-group design.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
    q_agg_pareto_coverage,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_customer_migration,
    q_events_bounce,
    q_rules_association,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_brown_forsythe,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_bounce_session_split(tmp_path, spark):
    """User A: 2 events 1 min apart → one non-bounce session; user B:
    1 event → bounce; user C: 2 events 31 min apart → TWO bounce
    sessions.  4 sessions, 3 bounces → 750000 ppm, all on one day."""
    t0 = dt.datetime(2024, 1, 5, 10, 0, 0)
    rows = [
        (1, "A", t0), (2, "A", t0 + dt.timedelta(minutes=1)),
        (3, "B", t0),
        (4, "C", t0), (5, "C", t0 + dt.timedelta(minutes=31)),
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.Series([r[2] for r in rows], dtype="datetime64[us]"),
                # deterministic ids — builtin hash() on strings is
                # PYTHONHASHSEED-salted per process, and a seed where
                # two letters collide mod 100 merges the users and
                # breaks the 4-session fixture (seen live in r13's
                # full run: n_sessions == 2)
                "user_id": [{"A": 1, "B": 2, "C": 3}[r[1]] for r in rows],
                "event_type": ["view"] * len(rows),
            }
        ),
    )
    out = q_events_bounce(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["n_sessions"] == 4 and out[0]["n_bounces"] == 3
    assert out[0]["bounce_ppm"] == 750_000


def test_pareto_exact_boundary(tmp_path, spark):
    """Revenues 50/30/10/10: the top-2 cumulative 80 hits the 80% gate
    EXACTLY (5·8000 = 4·10000) → k = 2, closed bound honored."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_custkey": [1, 2, 3, 4],
                "o_totalprice": [50.0, 30.0, 10.0, 10.0],
            }
        ),
    )
    row = q_agg_pareto_coverage(spark, str(tmp_path)).collect()[0]
    assert row["n_customers"] == 4 and row["total_cents"] == 10_000
    assert row["k_for_80pct"] == 2 and row["cum_cents_at_k"] == 8_000


def test_migration_matrix_cells(tmp_path, spark):
    """Customer 1: 3 orders then silence → tier (2, 0); customer 2:
    one order each half → (1, 1); equal 500000 ppm shares."""
    h1 = dt.datetime(1996, 6, 1)
    h2 = dt.datetime(1999, 6, 1)
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_custkey": [1, 1, 1, 2, 2],
                "o_orderdate": pd.Series(
                    [h1, h1, h1, h1, h2], dtype="datetime64[us]"
                ),
                "o_totalprice": [1.0] * 5,
            }
        ),
    )
    out = {
        (r["tier_h1"], r["tier_h2"]): r
        for r in q_customer_migration(spark, str(tmp_path)).collect()
    }
    assert set(out) == {(2, 0), (1, 1)}
    assert out[(2, 0)]["n_customers"] == 1 and out[(2, 0)]["share_ppm"] == 500_000
    assert out[(1, 1)]["n_customers"] == 1


def test_association_rules_closed_form(tmp_path, spark):
    """Baskets {a,b}, {a,b}, {a,c}: pair (a,c) is pruned (support 1 <
    2); rule a→b has support 2/3, confidence 2/3, lift
    10⁶·2·3/(3·2) = exactly 1000000 (independence)."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": [1, 1, 2, 2, 3, 3],
                "l_partkey": [100, 200, 100, 200, 100, 300],
            }
        ),
    )
    out = q_rules_association(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["pa"], r["pb"]) == (100, 200)
    assert r["cnt_ab"] == 2 and r["cnt_a"] == 3 and r["cnt_b"] == 2
    assert r["support_ppm"] == 666_666
    assert r["conf_a_to_b_ppm"] == 666_666
    assert r["lift_ppm"] == 1_000_000


def test_brown_forsythe_hand_value(tmp_path, spark):
    """URGENT = {1¢,1¢,5¢} (median 1 → z = 0,0,4), LOW = {2¢,4¢}
    (lower median 2 → z = 0,2): W = 3·((16/3+2) − 36/5)/(20 − (16/3+2))
    with k = 2 groups of the five."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_totalprice": [0.01, 0.01, 0.05, 0.02, 0.04],
                "o_orderpriority": ["1-URGENT"] * 3 + ["5-LOW"] * 2,
            }
        ),
    )
    row = q_stats_brown_forsythe(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 5 and row["s"] == 6 and row["q"] == 20
    assert row["n1"] == 3 and row["s1"] == 4
    assert row["n5"] == 2 and row["s5"] == 2
    expected = 3.0 * ((16.0 / 3.0 + 2.0) - 36.0 / 5.0) / (20.0 - (16.0 / 3.0 + 2.0))
    assert abs(row["w"] - expected) < 1e-12
