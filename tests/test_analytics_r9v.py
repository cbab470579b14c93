"""Round-9 pack-V fixtures: the sign-test count ladder, the Fmax
variance ratio with degenerate groups skipped and the zero-variance
floor, and the URL canonicalization ladder (case, www, tracking
query).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.scalars import (
    q_scalar_url,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_fmax,
    q_stats_sign_test,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_sign_test_counts(tmp_path, spark):
    """d ∈ {+5, −5, +5, +2, 0}: 3 positive, 1 negative, 1 tie →
    pos share 750000 ppm, z = 2/√4 = 1."""
    early = dt.datetime(2024, 3, 5, 12)
    late = dt.datetime(2024, 3, 20, 12)
    rows = [
        (early, 1, 1.0), (late, 1, 6.0),
        (early, 2, 6.0), (late, 2, 1.0),
        (late, 3, 5.0),
        (early, 4, 1.0), (late, 4, 3.0),
        (early, 5, 2.0), (late, 5, 2.0),   # tie
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
                "value": [r[2] for r in rows],
            }
        ),
    )
    r = q_stats_sign_test(spark, str(tmp_path)).collect()[0]
    assert (r["n_pos"], r["n_neg"], r["n_tie"]) == (3, 1, 1)
    assert r["pos_ppm"] == 750_000
    assert r["z_stat"] == pytest.approx(1.0)


def test_fmax_skips_degenerate_groups(tmp_path, spark):
    """URGENT var = 10000 cents², LOW var = 20000; a single-member
    MEDIUM group is NULL and skipped → Fmax = 2."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderpriority": ["1-URGENT"] * 3 + ["5-LOW"] * 2
                + ["3-MEDIUM"],
                "o_totalprice": [1.0, 2.0, 3.0, 1.0, 3.0, 9.0],
            }
        ),
    )
    r = q_stats_fmax(spark, str(tmp_path)).collect()[0]
    assert r["v1"] == pytest.approx(10_000.0)
    assert r["v5"] == pytest.approx(20_000.0)
    assert r["v3"] is None  # n = 1 → degenerate, skipped
    assert r["fmax"] == pytest.approx(2.0)


def test_fmax_zero_variance_floor_null(tmp_path, spark):
    """A constant group puts 0 in the LEAST ladder → NULL Fmax."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderpriority": ["1-URGENT"] * 3 + ["2-HIGH"] * 2,
                "o_totalprice": [1.0, 2.0, 3.0, 5.0, 5.0],
            }
        ),
    )
    r = q_stats_fmax(spark, str(tmp_path)).collect()[0]
    assert r["v2"] == pytest.approx(0.0)
    assert r["fmax"] is None


def test_url_canonicalization_ladder(tmp_path, spark):
    """Mixed-case scheme/host, www prefix, and tracking queries all
    normalize: hosts lowercase without www, query flagged on even
    doc_ids."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 6],
                "text": ["x"] * 4,
                "lang": ["en"] * 4,
                "source": ["srcA", "srcA", "srcB", "srcB"],
            }
        ),
    )
    out = {r["host"]: r for r in q_scalar_url(spark, str(tmp_path)).collect()}
    assert set(out) == {"srca.example.com", "srcb.example.com"}
    assert out["srca.example.com"]["n_urls"] == 2
    assert out["srca.example.com"]["n_with_query"] == 1
    assert out["srcb.example.com"]["n_urls"] == 2
    assert out["srcb.example.com"]["n_with_query"] == 1
