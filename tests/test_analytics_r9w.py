"""Round-9 pack-W fixtures: a designed audience overlap, the VMR
boundary case (exactly 1.5 does NOT flag), and a hand-computed Ulcer
ladder.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_type_affinity,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_poisson_dispersion,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_ulcer_index,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _events(rows):
    """rows: (day_offset, user_id, event_type) or with repeat count."""
    t0 = dt.datetime(2024, 1, 1, 9)
    return pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": pd.Series(
                [t0 + dt.timedelta(days=r[0], minutes=i) for i, r in enumerate(rows)],
                dtype="datetime64[us]",
            ),
            "user_id": [r[1] for r in rows],
            "event_type": [r[2] for r in rows],
        }
    )


def test_affinity_jaccard_and_lift(tmp_path, spark):
    """A-audience {1,2,3}, B-audience {2,3,4}: Jaccard = 2/4, lift =
    (2·4)/(3·3) — repeat events never inflate the sets."""
    rows = [
        (0, 1, "a"), (0, 2, "a"), (0, 3, "a"), (0, 3, "a"),
        (0, 2, "b"), (0, 3, "b"), (0, 4, "b"),
    ]
    _write(tmp_path, "events", _events(rows))
    out = q_events_type_affinity(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["et_a"], r["et_b"]) == ("a", "b")
    assert (r["n_a"], r["n_b"], r["n_both"]) == (3, 3, 2)
    assert r["jaccard_ppm"] == 500_000
    assert r["lift_ppm"] == (1_000_000 * 2 * 4) // 9


def test_dispersion_boundary_and_flag(tmp_path, spark):
    """Counts [1,1,4]: VMR = 1.5 exactly — the strict > gate does NOT
    flag; [1,1,7]: VMR = 4 → flagged."""
    def mk(counts):
        rows = []
        for d, n in enumerate(counts):
            rows += [(d, 1, "click")] * n
        return _events(rows)

    _write(tmp_path, "events", mk([1, 1, 4]))
    r = q_stats_poisson_dispersion(spark, str(tmp_path)).collect()[0]
    assert (r["n"], r["s"]) == (3, 6)
    assert r["var_num_scaled"] == 9  # 54 // 6
    assert r["vmr"] == pytest.approx(1.5)
    assert r["overdispersed"] == 0

    _write(tmp_path, "events", mk([1, 1, 7]))
    r = q_stats_poisson_dispersion(spark, str(tmp_path)).collect()[0]
    assert r["vmr"] == pytest.approx(4.0)
    assert r["overdispersed"] == 1


def test_ulcer_hand_ladder(tmp_path, spark):
    """Daily revenue 10, 5, 10, 8: drawdowns 0, 50%, 0, 20% →
    max_dd = 500000 ppm, UI = √((0.5² + 0.2²)/4)·1e6."""
    base = dt.datetime(2024, 1, 1)
    rows = [(0, 10.0), (1, 5.0), (2, 10.0), (3, 8.0)]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderdate": pd.Series(
                    [base + dt.timedelta(days=d) for d, _ in rows],
                    dtype="datetime64[us]",
                ),
                "o_totalprice": [v for _, v in rows],
            }
        ),
    )
    r = q_window_ulcer_index(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 4
    assert r["max_dd_ppm"] == 500_000
    assert r["ulcer_ppm"] == pytest.approx(
        math.sqrt((500_000**2 + 200_000**2) / 4.0)
    )
