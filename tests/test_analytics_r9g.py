"""Round-9 pack-G fixtures: integer-idf ranking, lower-median gap
selection, truncation-toward-zero on negative deltas, upsample-flag
cross-multiplication, and the hand-checked absolute-deviation census.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
    q_agg_absdev,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_orders_reorder_gap,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.pipeline_ops import (
    q_mix_upsample_plan,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
    q_text_keywords,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_pct_change,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_keywords_rare_terms_outrank_common(tmp_path, spark):
    """With N=2 docs, df=1 terms carry half-bit idf 3 and df=2 terms
    idf 1: doc 0 = 'x x y z' must rank x(tf2·3=6) > z(3) > y(1);
    doc 1 = 'y q q q' ranks q(9) > y(1)."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame({"doc_id": [0, 1], "text": ["x x y z", "y q q q"]}),
    )
    out = [
        (r["doc_id"], r["rk"], r["term"], r["score"])
        for r in q_text_keywords(spark, str(tmp_path)).collect()
    ]
    assert out == [
        (0, 1, "x", 6),
        (0, 2, "z", 3),
        (0, 3, "y", 1),
        (1, 1, "q", 9),
        (1, 2, "y", 1),
    ]


def test_reorder_gap_lower_median(tmp_path, spark):
    """Odd gap count picks the middle; EVEN gap count must pick the
    LOWER median (cum ≥ (n+1)//2): gaps {1, 5} → 1."""
    days = {
        1: [0, 1, 2, 7],  # gaps 1, 1, 5 → median 1
        2: [0, 1, 6],     # gaps 1, 5   → lower median 1
        3: [0, 10],       # gap 10      → median 10
    }
    rows = []
    for cust, ds in days.items():
        for d in ds:
            rows.append((len(rows), cust, dt.datetime(2024, 1, 1) + dt.timedelta(days=d)))
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderkey": [r[0] for r in rows],
                "o_custkey": [r[1] for r in rows],
                "o_orderdate": pd.Series([r[2] for r in rows], dtype="datetime64[us]"),
            }
        ),
    )
    _write(
        tmp_path,
        "customer",
        pd.DataFrame(
            {"c_custkey": [1, 2, 3], "c_mktsegment": ["ODD", "EVEN", "ONE"]}
        ),
    )
    out = {r["segment"]: r for r in q_orders_reorder_gap(spark, str(tmp_path)).collect()}
    assert out["ODD"]["median_gap_days"] == 1
    assert out["EVEN"]["median_gap_days"] == 1
    assert out["ONE"]["median_gap_days"] == 10


def test_pct_change_truncates_toward_zero(tmp_path, spark):
    """−1/3 must report −333333 (truncation), not −333334 (floor) —
    the DuckDB-//-vs-Spark-DIV divergence this query's sign-safe form
    exists to neutralize."""
    vals = [3.0, 2.0]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderdate": pd.Series(
                    [dt.datetime(2024, 1, 1) + dt.timedelta(days=i) for i in range(2)],
                    dtype="datetime64[us]",
                ),
                "o_totalprice": vals,
            }
        ),
    )
    out = q_window_pct_change(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["diff"] == -1 and out[0]["change_ppm"] == -333333


def test_upsample_plan_flags_deficit_sources(tmp_path, spark):
    """src0 at 1/10 of the corpus with a 30% target needs a 3× factor
    and the upsample flag; an untargeted source plans to zero."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame({"source": ["src0"] + ["src9"] * 9}),
    )
    out = {r["source"]: r for r in q_mix_upsample_plan(spark, str(tmp_path)).collect()}
    assert out["src0"]["factor_ppm"] == 3_000_000
    assert out["src0"]["needs_upsample"] == 1
    assert out["src9"]["target_ppm"] == 0
    assert out["src9"]["factor_ppm"] == 0 and out["src9"]["needs_upsample"] == 0


def test_absdev_hand_checked_census(tmp_path, spark):
    """Values 1¢, 2¢, 100¢: median 2¢, Σ|x−med| = 99¢, mean 33000
    millicents — the outlier barely moves a median-centered scale."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_totalprice": [0.01, 0.02, 1.00],
                "o_orderpriority": ["P"] * 3,
            }
        ),
    )
    row = q_agg_absdev(spark, str(tmp_path)).collect()[0]
    assert (row["n"], row["median_cents"]) == (3, 2)
    assert row["sum_absdev_cents"] == 99
    assert row["mean_absdev_millicents"] == 33000
