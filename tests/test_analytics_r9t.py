"""Round-9 pack-T fixtures: a four-point CvM integral computed by
hand, the Grubbs single-outlier design, and a Friedman perfect-
agreement table (χ² = 4) plus its fully-tied NULL degenerate.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_cvm,
    q_stats_friedman,
    q_stats_grubbs,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_cvm_hand_integral(tmp_path, spark):
    """A = [$1, $2], B = [$2, $3]: gaps (CA·m − CB·n) are 2, 2, 0 at
    the three census points with weights 1, 2, 1 → num = 12,
    T = 12/(2·2·4²) = 0.1875."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_returnflag": ["R", "R", "A", "A", "N"],
                "l_extendedprice": [1.0, 2.0, 2.0, 3.0, 9.0],
            }
        ),
    )
    r = q_stats_cvm(spark, str(tmp_path)).collect()[0]
    assert (r["n"], r["m"]) == (2, 2)
    assert r["num"] == 12.0
    assert r["cvm_t"] == pytest.approx(0.1875)


def test_grubbs_single_outlier(tmp_path, spark):
    """Totals [$1,$2,$3,$10]: maxdev = |1000·4 − 1600| = 2400,
    s² = 500000/3, G = 600/√(500000/3)."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_totalprice": [1.0, 2.0, 3.0, 10.0]}),
    )
    r = q_stats_grubbs(spark, str(tmp_path)).collect()[0]
    assert (r["n"], r["s"], r["maxdev"]) == (4, 1600, 2400)
    assert r["q"] == 1_140_000.0
    assert r["g_stat"] == pytest.approx(600.0 / math.sqrt(500_000.0 / 3.0))


def test_grubbs_constant_null(tmp_path, spark):
    """Zero variance reports NULL."""
    _write(
        tmp_path, "orders", pd.DataFrame({"o_totalprice": [5.0, 5.0, 5.0]})
    )
    assert q_stats_grubbs(spark, str(tmp_path)).collect()[0]["g_stat"] is None


def _events(user_type_counts):
    rows = []
    t0 = dt.datetime(2024, 2, 1, 9)
    for uid, counts in user_type_counts.items():
        for etype, n in counts.items():
            for i in range(n):
                rows.append((t0 + dt.timedelta(minutes=len(rows)), uid, etype))
    return pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
            "user_id": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
        }
    )


def test_friedman_perfect_agreement(tmp_path, spark):
    """Two users, both ranking click > view > purchase: doubled rank
    sums (12, 8, 4), A' = 112, χ² = 64/16 = 4 — the classical
    no-tie Friedman value for perfect agreement at n = 2, k = 3."""
    _write(
        tmp_path,
        "events",
        _events(
            {
                1: {"click": 3, "view": 2, "purchase": 1},
                2: {"click": 5, "view": 4, "purchase": 2},
            }
        ),
    )
    r = q_stats_friedman(spark, str(tmp_path)).collect()[0]
    assert r["n_users"] == 2
    assert (r["r1"], r["r2"], r["r3"]) == (12, 8, 4)
    assert r["a2"] == 112
    assert (r["f_num"], r["f_den"]) == (64, 16)
    assert r["friedman_stat"] == pytest.approx(4.0)


def test_friedman_fully_tied_null(tmp_path, spark):
    """A single user with equal counts on all three treatments: every
    doubled midrank is 4, the tie correction zeroes the denominator →
    NULL, identically on both engines."""
    _write(
        tmp_path,
        "events",
        _events({1: {"click": 2, "view": 2, "purchase": 2}}),
    )
    r = q_stats_friedman(spark, str(tmp_path)).collect()[0]
    assert (r["r1"], r["r2"], r["r3"]) == (4, 4, 4)
    assert r["f_den"] == 0 and r["friedman_stat"] is None
