"""Round-9 pack-U fixtures: a hand-checked Wilson interval, the 4σ
cross-multiplication boundary (z = 3 stays in, z = 4.36 flags), and a
two-state Markov chain whose three floored-micros iterates are
computed by hand.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_markov_power,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_embed_dim_outliers,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_binom_ci,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_wilson_interval_hand_checked(tmp_path, spark):
    """n = 4, x = 1: p̂ = 0.25; the Wilson bounds match the formula
    evaluated in the same pinned order."""
    t0 = dt.datetime(2024, 1, 5)
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": range(4),
                "ts": pd.Series([t0] * 4, dtype="datetime64[us]"),
                "user_id": [1] * 4,
                "event_type": ["click"] * 4,
                "value": [3.0, 1.0, 2.0, 2.5],  # one conversion (> 2.5)
            }
        ),
    )
    r = q_stats_binom_ci(spark, str(tmp_path)).collect()[0]
    assert (r["n"], r["x"], r["p_ppm"]) == (4, 1, 250_000)
    z, n, p = 1.96, 4.0, 0.25
    z2n = z * z / n
    rad = z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
    assert r["wilson_lo"] == pytest.approx((p + z2n / 2 - rad) / (1 + z2n))
    assert r["wilson_hi"] == pytest.approx((p + z2n / 2 + rad) / (1 + z2n))


def _vec(first):
    return [float(first)] + [0.0] * 63


def test_dim_outlier_boundary(tmp_path, spark):
    """One 1.0 among 19 zeros on dim 1 gives z ≈ 4.36 → flagged; the
    same spike among only 9 zeros gives z = 3 → NOT flagged (z is
    bounded by √(n−1)); constant dims (zero variance) never flag."""
    _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": range(20),
                "embedding": [_vec(1.0)] + [_vec(0.0)] * 19,
            }
        ),
    )
    out = {r["dim"]: r for r in q_embed_dim_outliers(spark, str(tmp_path)).collect()}
    assert out[1]["n_outliers"] == 1
    assert all(out[d]["n_outliers"] == 0 for d in range(2, 65))

    # n = 10: z = 3 exactly — strictly inside the 4σ fence
    _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": range(10),
                "embedding": [_vec(1.0)] + [_vec(0.0)] * 9,
            }
        ),
    )
    out = {r["dim"]: r for r in q_embed_dim_outliers(spark, str(tmp_path)).collect()}
    assert out[1]["n_outliers"] == 0


def test_markov_power_two_state(tmp_path, spark):
    """P = [[½,½],[1,0]] with floored micros: π iterates
    (500000,500000) → (750000,250000) → (625000,375000) →
    (687500,312500), approaching the true stationary (⅔, ⅓)."""
    rows = [
        # user 1: a, a, b, a  → a→a, a→b, b→a
        (dt.datetime(2024, 1, 1, 10, 0), 1, "a"),
        (dt.datetime(2024, 1, 1, 10, 1), 1, "a"),
        (dt.datetime(2024, 1, 1, 10, 2), 1, "b"),
        (dt.datetime(2024, 1, 1, 10, 3), 1, "a"),
        # user 2: b, a  → b→a
        (dt.datetime(2024, 1, 1, 11, 0), 2, "b"),
        (dt.datetime(2024, 1, 1, 11, 1), 2, "a"),
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
                "user_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        ),
    )
    out = {r["event_type"]: r for r in q_events_markov_power(spark, str(tmp_path)).collect()}
    assert out["a"]["pi0"] == 500_000 and out["b"]["pi0"] == 500_000
    assert out["a"]["pi3_micros"] == 687_500
    assert out["b"]["pi3_micros"] == 312_500


def test_markov_power_absorbing_type_conserves_mass(tmp_path, spark):
    """'done' appears only as a transition DESTINATION (absorbing).
    Round-10 semantics: the state space is src ∪ dst and absorbing
    types carry an implicit self-loop P[i][i] = 1, so the mass
    flowing into 'done' is retained rather than vanishing.  Chain
    a→done: π₀ = (½, ½); every step moves all of a's mass into done
    and done keeps its own → π₃ = (0, 1), total mass conserved."""
    rows = [
        (dt.datetime(2024, 1, 1, 10, 0), 1, "a"),
        (dt.datetime(2024, 1, 1, 10, 1), 1, "done"),
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
                "user_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        ),
    )
    out = {
        r["event_type"]: r
        for r in q_events_markov_power(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"a", "done"}, "absorbing type must be reported"
    assert out["a"]["pi0"] == 500_000 and out["done"]["pi0"] == 500_000
    assert out["a"]["pi3_micros"] == 0
    assert out["done"]["pi3_micros"] == 1_000_000
