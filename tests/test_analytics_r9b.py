"""Planted-fixture tests for the round-9 packs — each fixture
triggers an edge the driver testdata may never hit (dominance ties on
the skyline, plateau days in streaks, varint ladder boundaries,
alternating runs), pinning the semantics independently of the DuckDB
oracle gate."""

from __future__ import annotations

import pandas as pd


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_skyline_ties_and_duplicates(spark, tmp_path):
    """Same-price ties (only the max-size row(s) survive), duplicate
    (price, size) points (ALL kept — an identical twin does not
    dominate), and a strictly-dominated interior point."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
        q_skyline_pareto,
    )

    rows = [
        # (partkey, retailprice, size)
        (1, 10.00, 5),   # frontier (cheapest, size 5)
        (2, 10.00, 5),   # duplicate of 1 — must ALSO be kept
        (3, 10.00, 3),   # same price, smaller size — dominated by 1
        (4, 20.00, 5),   # dominated: costlier, same size as 1
        (5, 20.00, 9),   # frontier (bigger than anything cheaper)
        (6, 30.00, 9),   # dominated by 5 (costlier, equal size)
        (7, 30.00, 12),  # frontier
    ]
    _write(
        tmp_path,
        "part",
        pd.DataFrame(
            rows, columns=["p_partkey", "p_retailprice", "p_size"]
        ),
    )
    got = sorted(
        r["p_partkey"] for r in q_skyline_pareto(spark, str(tmp_path)).collect()
    )
    # brute-force NOT EXISTS replay
    pts = {k: (int(p * 100 + 0.5), s) for k, p, s in rows}
    want = sorted(
        k
        for k, (pc, sz) in pts.items()
        if not any(
            (pc2 <= pc and sz2 >= sz and (pc2 < pc or sz2 > sz))
            for k2, (pc2, sz2) in pts.items()
            if k2 != k
        )
    )
    assert got == want == [1, 2, 5, 7]


def test_streak_plateau_breaks_run(spark, tmp_path):
    """Equal-revenue days must BREAK a strictly-increasing streak."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
        q_window_streak,
    )

    days = pd.to_datetime(
        ["2024-01-0%d" % d for d in range(1, 8)]
    ).astype("datetime64[us]")
    # revenue: 10, 20, 30, 30, 40, 50, 60 — plateau at day 4 splits a
    # would-be 6-day run into (d1..d3, len 2) and (d4..d7, len 3)
    prices = [10.0, 20.0, 30.0, 30.0, 40.0, 50.0, 60.0]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_orderdate": days, "o_totalprice": prices}),
    )
    out = q_window_streak(spark, str(tmp_path)).collect()
    runs = [(r["run_days"], r["gain_cents"]) for r in out]
    assert runs[0] == (4, 3000)  # 30->40->50->60 spans 4 days, gain $30
    assert (3, 2000) in runs  # 10->20->30


def test_varint_ladder_boundaries(spark, tmp_path):
    """Byte counts at the exact 7-bit group boundaries."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.storage_ops import (
        q_encode_varint,
    )

    vals = [0, 127, 128, 16383, 16384, (1 << 21) - 1, 1 << 21, 1 << 49]
    want_bytes = [1, 1, 2, 2, 3, 3, 4, 8]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_orderkey": vals,
                "o_custkey": [0] * len(vals),
                "o_totalprice": [0.0] * len(vals),
            }
        ),
    )
    out = {
        r["col"]: r for r in q_encode_varint(spark, str(tmp_path)).collect()
    }
    assert out["o_orderkey"]["varint_bytes"] == sum(want_bytes)
    assert out["o_custkey"]["varint_bytes"] == len(vals)  # all zeros -> 1 byte


def test_runs_test_alternating_and_trending(spark, tmp_path):
    """A strictly alternating series maximizes runs; the counts and
    the rational expected-runs must replay exactly."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
        q_stats_runs,
    )

    days = pd.to_datetime(
        [f"2024-01-{d:02d}" for d in range(1, 12)]
    ).astype("datetime64[us]")
    # 11 days alternating low/high around the median value 50:
    # 10, 90, 10, 90, ... (6 lows incl. median-rank day, 5 highs)
    prices = [10.0 if i % 2 == 0 else 90.0 for i in range(11)]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_orderdate": days, "o_totalprice": prices}),
    )
    r = q_stats_runs(spark, str(tmp_path)).collect()[0]
    # median of (10 x6, 90 x5) = 10 -> the six 10-days TIE the median
    # and are dropped; the five 90-days remain -> one run of 'hi'
    assert (r["n_hi"], r["n_lo"]) == (5, 0)
    assert r["n_runs"] == 1
    assert r["e_num"] == 2 * 5 * 0 + 5 and r["e_den"] == 5


def test_boilerplate_census_counts_distinct_docs(spark, tmp_path):
    """A shingle repeated WITHIN one doc counts that doc once; the
    floor drops shingles under 3 distinct docs."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
        q_text_boilerplate,
    )

    shingle = "a b c d e f"
    docs = [
        (1, f"{shingle} x {shingle}"),      # shingle twice in one doc
        (2, f"zz {shingle} yy"),
        (3, f"{shingle}"),
        (4, "unrelated text entirely here now"),
        (5, f"pp {shingle} qq"),
    ]
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text"]),
    )
    out = {
        r["shingle"]: r
        for r in q_text_boilerplate(spark, str(tmp_path)).collect()
    }
    assert shingle in out
    assert out[shingle]["n_docs"] == 4  # doc 1 counted ONCE
    assert out[shingle]["min_doc_id"] == 1


def test_time_weighted_average_known_trajectory(spark, tmp_path):
    """Two holding segments with known durations: TWA must weight by
    interval, not count."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
        q_agg_time_weighted,
    )

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00", "2024-01-01 00:00:10", "2024-01-01 00:00:40"]
    ).astype("datetime64[us]")
    df = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": ts,
            "user_id": [7, 7, 7],
            "event_type": ["purchase"] * 3,
            "value": [1.00, 4.00, 99.0],  # last value holds 0s -> dropped
            "props": ["{}"] * 3,
        }
    )
    _write(tmp_path, "events", df)
    r = q_agg_time_weighted(spark, str(tmp_path)).collect()[0]
    # segment 1: 100 cents x 10_000 ms; segment 2: 400 cents x 30_000 ms
    assert r["num"] == 100 * 10_000 + 400 * 30_000
    assert r["den"] == 40_000
    assert r["n_segments"] == 2
    assert abs(r["twa_cents"] - r["num"] / r["den"]) < 1e-12


def test_drawdown_known_trajectory(spark, tmp_path):
    """Centered trajectory with a hand-computed worst drawdown."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
        q_window_drawdown,
    )

    days = pd.to_datetime(
        ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    ).astype("datetime64[us]")
    # mean cents = (400+100+100+200)/4 = 200
    # devs: +200, -100, -100, 0 -> cum: 200, 100, 0, 0
    # running max: 200 -> drawdowns: 0, 100, 200, 200
    _write(
        tmp_path,
        "orders",
        pd.DataFrame(
            {
                "o_custkey": [1, 1, 1, 1],
                "o_orderkey": [1, 2, 3, 4],
                "o_orderdate": days,
                "o_totalprice": [4.0, 1.0, 1.0, 2.0],
            }
        ),
    )
    r = q_window_drawdown(spark, str(tmp_path)).collect()
    assert len(r) == 1
    assert r[0]["max_drawdown_cents"] == 200 and r[0]["n_orders"] == 4
