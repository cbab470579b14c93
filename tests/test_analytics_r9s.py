"""Round-9 pack-S fixtures: an MMR geometry where diversity demotes a
duplicate, the pool-smaller-than-k degenerate, a hand-computed ATR
ladder, and the Page-Hinkley alarm threshold.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_sim_mmr,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_page_hinkley,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_atr,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _vec(*coords):
    v = [0.0] * 64
    for i, c in enumerate(coords):
        v[i] = float(c)
    return v


def test_mmr_diversity_and_short_pool(tmp_path, spark):
    """q = e1+e2; candidates: v1 = q (rel 1), v2 = e1, v3 = e2
    (both rel 1/√2), v4 = e3 (rel 0).  Pick 1 is v1; afterwards
    every remaining score is exactly 0 (λ = ½ and max-sim equals
    rel for v2/v3, both 0 for v4) so picks proceed by vec_id.  A
    4-candidate pool under k = 5 yields 4 rows, not 5."""
    _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3, 4],
                "embedding": [
                    _vec(1, 1),
                    _vec(1, 1),
                    _vec(1, 0),
                    _vec(0, 1),
                    _vec(0, 0, 1),
                ],
            }
        ),
    )
    rows = q_sim_mmr(spark, str(tmp_path)).collect()
    assert [r["pick"] for r in rows] == [1, 2, 3, 4]
    assert [r["vec_id"] for r in rows] == [1, 2, 3, 4]
    assert rows[0]["rel"] == pytest.approx(1.0)
    assert rows[0]["score"] == pytest.approx(0.5)
    for r in rows[1:]:
        assert r["score"] == pytest.approx(0.0)
    assert rows[1]["rel"] == pytest.approx(2**-0.5)
    assert rows[3]["rel"] == pytest.approx(0.0)


def test_atr_true_range_ladder(tmp_path, spark):
    """Day 1 bar (1.0, 3.0): TR = 2e6, ATR = 1e6; day 2 single print
    10.0: TR = |10 − 3|e6 = 7e6, ATR = 7e6/2 + 2e6/4 = 4e6."""
    rows = [
        (dt.datetime(2024, 1, 1, 10), 0, 1.0),
        (dt.datetime(2024, 1, 1, 11), 1, 3.0),
        (dt.datetime(2024, 1, 2, 10), 2, 10.0),
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [r[1] for r in rows],
                "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [r[2] for r in rows],
            }
        ),
    )
    out = q_window_atr(spark, str(tmp_path)).collect()
    assert [r["tr_micros"] for r in out] == [2_000_000, 7_000_000]
    assert [r["atr_micros"] for r in out] == [1_000_000, 4_000_000]


def test_page_hinkley_alarm(tmp_path, spark):
    """Counts [1, 1, 30]: deviations 0, 0, 30e6 − ⌊32e6/3⌋ →
    PH = 19333334 > λ = 1e7 on day 3 only."""
    rows = []
    counts = [1, 1, 30]
    for d, n in enumerate(counts):
        for i in range(n):
            rows.append((dt.datetime(2024, 1, 1 + d, 10, i), len(rows)))
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": [r[1] for r in rows],
                "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
            }
        ),
    )
    out = q_stats_page_hinkley(spark, str(tmp_path)).collect()
    assert [r["x"] for r in out] == [1, 1, 30]
    assert [r["ph_micros"] for r in out] == [0, 0, 19_333_334]
    assert [r["alarm"] for r in out] == [0, 0, 1]
    assert out[2]["mean_micros"] == 10_666_666
