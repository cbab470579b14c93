"""Round-9 pack-I fixtures: perfect/inverse concordance (Kendall ±1),
the hand-computed two-group Kruskal-Wallis H, perfect-association
Cramér's V on a 2×2 block design, a hand-checked cohort-LTV grid, the
triangle degree census, and band-join boundary/bucket-crossing cases.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_cohort_ltv,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.graph import (
    q_graph_degree_census,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.relational import (
    q_join_band,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_cramers_v,
    q_stats_kendall,
    q_stats_kruskal,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _orders(rows):
    """rows = [(day_offset, price, priority)]"""
    return pd.DataFrame(
        {
            "o_orderdate": pd.Series(
                [dt.datetime(2024, 1, 1) + dt.timedelta(days=r[0]) for r in rows],
                dtype="datetime64[us]",
            ),
            "o_totalprice": [r[1] for r in rows],
            "o_orderpriority": [r[2] for r in rows],
        }
    )


def test_kendall_perfect_and_inverse(tmp_path, spark):
    """Revenue and volume rising together day over day → every pair
    concordant, tau_b = +1.0 exactly; monotone-opposed → −1.0."""
    up = [(i, float(i + 1), "5-LOW") for i in range(4) for _ in range(i + 1)]
    _write(tmp_path, "orders", _orders(up))
    row = q_stats_kendall(spark, str(tmp_path)).collect()[0]
    assert row["nc"] == row["n0"] == 6 and row["nd"] == 0
    assert row["tau_b"] == 1.0

    down = [(0, 100.0, "5-LOW"), (1, 10.0, "5-LOW"), (1, 10.0, "5-LOW"),
            (2, 1.0, "5-LOW"), (2, 1.0, "5-LOW"), (2, 1.0, "5-LOW")]
    sub = tmp_path / "down"
    sub.mkdir()
    _write(sub, "orders", _orders(down))
    row = q_stats_kendall(spark, str(sub)).collect()[0]
    assert row["nd"] == row["n0"] == 3 and row["nc"] == 0
    assert row["tau_b"] == -1.0


def test_kendall_tie_classification(tmp_path, spark):
    """Two days with equal revenue but different counts → exactly one
    x-tie pair; the tau_b denominator shrinks on the x side only."""
    rows = [(0, 5.0, "5-LOW"),                      # day0: r=5, n=1
            (1, 2.0, "5-LOW"), (1, 3.0, "5-LOW"),   # day1: r=5, n=2
            (2, 9.0, "5-LOW"), (2, 1.0, "5-LOW"),
            (2, 1.0, "5-LOW")]                      # day2: r=11, n=3
    _write(tmp_path, "orders", _orders(rows))
    row = q_stats_kendall(spark, str(tmp_path)).collect()[0]
    assert row["n0"] == 3 and row["tx"] == 1 and row["txy"] == 0
    assert row["nc"] == 2 and row["nd"] == 0
    # tau_b = 2 / sqrt(2 * 3)
    assert abs(row["tau_b"] - 2.0 / (6.0 ** 0.5)) < 1e-15


def test_kruskal_two_groups_hand(tmp_path, spark):
    """URGENT={1¢,2¢}, LOW={3¢,4¢}: ranks 1..4 with no ties →
    H = 12/(4·5)·(3²/2 + 7²/2) − 3·5 = 2.4 exactly (the textbook
    two-sample value); absent priorities contribute nothing."""
    rows = [(0, 0.01, "1-URGENT"), (0, 0.02, "1-URGENT"),
            (0, 0.03, "5-LOW"), (0, 0.04, "5-LOW")]
    _write(tmp_path, "orders", _orders(rows))
    row = q_stats_kruskal(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 4 and row["tie_t"] == 0
    assert row["n1"] == 2 and row["n5"] == 2 and row["n2"] == 0
    # doubled rank sums: URGENT 2+4=6, LOW 6+8=14
    assert row["s1"] == 6 and row["s5"] == 14
    assert abs(row["h"] - 2.4) < 1e-12


def test_kruskal_all_tied_is_zero(tmp_path, spark):
    """Every order the same price → all midranks equal → H = 0 after
    the tie correction (and the correction denominator stays finite
    because not ALL pairs are ties of the full pool: tie_t < n³−n)."""
    rows = [(0, 1.0, "1-URGENT"), (0, 1.0, "5-LOW"), (0, 1.0, "2-HIGH"),
            (0, 2.0, "5-LOW")]
    _write(tmp_path, "orders", _orders(rows))
    row = q_stats_kruskal(spark, str(tmp_path)).collect()[0]
    assert row["tie_t"] == 3 ** 3 - 3
    assert row["h"] == row["h"]  # finite, not NaN


def test_cramers_v_perfect_association(tmp_path, spark):
    """Nation 0 buys only AUTOMOBILE, nation 1 only BUILDING (10
    customers each): χ² = N exactly → chi2_ppm = 20·10⁶ and
    V = √(χ²/(N·4)) = 0.5 under the fixed df factor 4; the three
    never-seen segments have zero margins and contribute 0."""
    _write(
        tmp_path,
        "customer",
        pd.DataFrame(
            {
                "c_custkey": list(range(20)),
                "c_nationkey": [0] * 10 + [1] * 10,
                "c_mktsegment": ["AUTOMOBILE"] * 10 + ["BUILDING"] * 10,
            }
        ),
    )
    row = q_stats_cramers_v(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 20 and row["n_nat"] == 2 and row["n_seg"] == 5
    assert row["chi2_ppm"] == 20_000_000
    assert row["cramers_v"] == 0.5


def test_cramers_v_independence_is_zero(tmp_path, spark):
    """Identical segment mix in both nations → every delta N·o − r·c
    is exactly 0 → chi2_ppm = 0."""
    _write(
        tmp_path,
        "customer",
        pd.DataFrame(
            {
                "c_custkey": list(range(8)),
                "c_nationkey": [0, 0, 0, 0, 1, 1, 1, 1],
                "c_mktsegment": ["AUTOMOBILE", "AUTOMOBILE", "BUILDING",
                                 "BUILDING"] * 2,
            }
        ),
    )
    row = q_stats_cramers_v(spark, str(tmp_path)).collect()[0]
    assert row["chi2_ppm"] == 0 and row["cramers_v"] == 0.0


def test_cohort_ltv_hand_grid(tmp_path, spark):
    """User 1 first seen day 0 (spends $1 then $2), user 2 first seen
    day 1 (spends $3): two cohorts, cumulative column accumulates
    inside each cohort only."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "ts": pd.Series(
                    [t0, t0 + dt.timedelta(days=1), t0 + dt.timedelta(days=1)],
                    dtype="datetime64[us]",
                ),
                "user_id": [1, 1, 2],
                "event_type": ["buy"] * 3,
                "value": [1.0, 2.0, 3.0],
            }
        ),
    )
    out = {
        (r["cohort_d"], r["age"]): r
        for r in q_events_cohort_ltv(spark, str(tmp_path)).collect()
    }
    d0 = 19723  # 2024-01-01 as epoch days
    assert out[(d0, 0)]["rev_cents"] == 100
    assert out[(d0, 1)]["rev_cents"] == 200
    assert out[(d0, 1)]["cum_rev_cents"] == 300
    assert out[(d0 + 1, 0)]["rev_cents"] == 300
    assert out[(d0 + 1, 0)]["cum_rev_cents"] == 300
    assert all(r["n_users"] == 1 for r in out.values())


def test_degree_census_triangle_with_duplicate_edges(tmp_path, spark):
    """One order with parts {1,2,3} (a triangle) plus a second order
    repeating {1,2}: the duplicate edge dedups away, every node keeps
    degree 2 → single census row (2, 3, 1000000 ppm)."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": [10, 10, 10, 20, 20],
                "l_partkey": [1, 2, 3, 1, 2],
            }
        ),
    )
    rows = q_graph_degree_census(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0]["degree"] == 2 and rows[0]["n_parts"] == 3
    assert rows[0]["share_ppm"] == 1_000_000


def test_join_band_boundary_and_bucket_crossing(tmp_path, spark):
    """δ = 100¢: a pair at exactly 100¢ apart matches (closed bound),
    101¢ does not; a match whose members land in ADJACENT buckets
    (199¢ vs 299¢) is caught by the 3-bucket explode; negative
    balances stay on the same bucket grid."""
    _write(
        tmp_path,
        "supplier",
        pd.DataFrame(
            {
                "s_suppkey": [1, 2, 3],
                "s_nationkey": [7, 7, 8],
                "s_acctbal": [1.99, 5.00, -0.50],
            }
        ),
    )
    _write(
        tmp_path,
        "customer",
        pd.DataFrame(
            {
                "c_custkey": [1, 2, 3],
                "c_acctbal": [2.99, 6.01, 0.49],
            }
        ),
    )
    out = {r["nationkey"]: r for r in q_join_band(spark, str(tmp_path)).collect()}
    # supplier 1 (199¢) ↔ customer 1 (299¢): diff 100, adjacent buckets
    assert out[7]["n_pairs"] == 1 and out[7]["sum_absdiff_cents"] == 100
    # supplier 2 (500¢) vs customer 2 (601¢): diff 101 → excluded (no row
    # beyond the one pair above for nation 7)
    assert out[7]["n_suppliers"] == 1
    # supplier 3 (−50¢) ↔ customer 3 (49¢): diff 99 across the sign boundary
    assert out[8]["n_pairs"] == 1 and out[8]["sum_absdiff_cents"] == 99
