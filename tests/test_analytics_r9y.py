"""Round-9 pack-Y fixtures: a discordant-pair McNemar table, a
two-rung Heaps curve, and a hand-computed κ = 0.5 agreement design.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_kappa,
    q_stats_mcnemar,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
    q_text_heaps_curve,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_mcnemar_discordant_pairs(tmp_path, spark):
    """b = 2 early-only, c = 1 late-only, 1 concordant: χ² =
    (2−1)²/3 = 1/3; only discordant users move the statistic."""
    early = dt.datetime(2024, 3, 5)
    late = dt.datetime(2024, 3, 20)
    rows = [
        (early, 1), (early, 2),            # b: early-only
        (late, 3),                          # c: late-only
        (early, 4), (late, 4),              # concordant both
    ]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
                "user_id": [r[1] for r in rows],
                "event_type": ["click"] * len(rows),
            }
        ),
    )
    r = q_stats_mcnemar(spark, str(tmp_path)).collect()[0]
    assert (r["n_users"], r["n_both"], r["b"], r["c"]) == (4, 1, 2, 1)
    assert r["chisq_micros"] == 333_333
    assert r["chisq"] == pytest.approx(1.0 / 3.0)


def test_heaps_curve_rungs(tmp_path, spark):
    """Docs 0–9 each a fresh singleton type (TTR = 1e6 at rung 10);
    docs 10–11 repeat an old type → rung 100 dilutes to 10/14."""
    docs = [(i, f"w{i}") for i in range(10)] + [(10, "w0 w0"), (11, "w0 w0")]
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(
            {"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]}
        ),
    )
    out = {r["d"]: r for r in q_text_heaps_curve(spark, str(tmp_path)).collect()}
    assert set(out) == {10, 100, 500}
    assert (out[10]["n_tokens"], out[10]["n_types"]) == (10, 10)
    assert out[10]["ttr_ppm"] == 1_000_000
    assert (out[100]["n_tokens"], out[100]["n_types"]) == (14, 10)
    assert out[100]["ttr_ppm"] == (1_000_000 * 10) // 14
    assert out[500]["n_tokens"] == 14  # saturated


def test_kappa_half_agreement(tmp_path, spark):
    """n11 = 1, n00 = 2, one A-only disagreement: pₒ = 3/4, pₑ = 1/2
    → κ = 0.5 exactly (500000 ppm)."""
    long_stop = "the and a of to " * 5  # 25 tokens, 15 stopword hits
    long_clean = " ".join(f"tok{i}" for i in range(25))
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [long_stop.strip(), "x y", "x y", long_clean],
            }
        ),
    )
    r = q_stats_kappa(spark, str(tmp_path)).collect()[0]
    assert (r["n11"], r["n10"], r["n01"], r["n00"]) == (1, 1, 0, 2)
    assert r["kappa_ppm"] == 500_000
