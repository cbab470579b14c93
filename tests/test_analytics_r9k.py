"""Round-9 pack-K fixtures: hand-computed ANOVA F/η², Cohen's d on a
4-row design, exact MACD stencil values on a two-day series, the
uniform-vs-bursty Fano contrast, trigram path extraction, and the
per-source dup-rate census.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_trigrams,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_dedup_rate_by_source,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.stats import (
    q_stats_anova,
    q_stats_cohens_d,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
    q_text_fano,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_macd,
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


def test_anova_hand_values(tmp_path, spark):
    """URGENT = {1¢,2¢}, LOW = {3¢,4¢}: SSB = 29 − 25 = 4, SSW = 1 →
    F = (4/1)/(1/2) = 8 and η² = 4/5 exactly."""
    rows = [(0, 0.01, "1-URGENT"), (0, 0.02, "1-URGENT"),
            (0, 0.03, "5-LOW"), (0, 0.04, "5-LOW")]
    _write(tmp_path, "orders", _orders(rows))
    row = q_stats_anova(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 4 and row["s"] == 10 and row["q"] == 30.0
    assert row["s1"] == 3 and row["n1"] == 2
    assert row["s5"] == 7 and row["n5"] == 2
    assert row["f_stat"] == 8.0 and row["eta_sq"] == 0.8


def test_cohens_d_hand_values(tmp_path, spark):
    """URGENT = {2¢,4¢} (mean 3, SS 2), LOW = {1¢,1¢} (mean 1, SS 0):
    pooled s² = 1 → d = 2 exactly; integer numerator 4·2 − 2·2 = 4."""
    rows = [(0, 0.02, "1-URGENT"), (0, 0.04, "1-URGENT"),
            (0, 0.01, "5-LOW"), (0, 0.01, "5-LOW")]
    _write(tmp_path, "orders", _orders(rows))
    row = q_stats_cohens_d(spark, str(tmp_path)).collect()[0]
    assert (row["n1"], row["s1"], row["q1"]) == (2, 6, 20.0)
    assert (row["n2"], row["s2"], row["q2"]) == (2, 2, 2.0)
    assert row["mean_diff_num"] == 6 * 2 - 2 * 2
    assert row["d"] == 2.0


def test_macd_stencil_exact(tmp_path, spark):
    """Two $100 days: day 0 macd = 100·(½ − ¼) = 25, signal = 12.5;
    day 1 fast = 75, slow = 43.75 → macd = 31.25, signal =
    31.25·½ + 25·¼ = 21.875 — every value dyadic-exact in micros."""
    rows = [(0, 100.0, "5-LOW"), (1, 100.0, "5-LOW")]
    _write(tmp_path, "orders", _orders(rows))
    out = sorted(
        q_window_macd(spark, str(tmp_path)).collect(), key=lambda r: r["day"]
    )
    assert out[0]["macd_micros"] == 25_000_000
    assert out[0]["signal_micros"] == 12_500_000
    assert out[1]["macd_micros"] == 31_250_000
    assert out[1]["signal_micros"] == 21_875_000
    assert all(r["crossover"] == 0 for r in out)


def test_fano_uniform_vs_bursty(tmp_path, spark):
    """Term 'aa' spread 25+25 over two docs → variance 0 → Fano 0;
    term 'bb' all 50 in one doc → mean 25, var 625 → Fano 25 =
    25_000_000 ppm.  The burst ranks first."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [" ".join(["aa"] * 25 + ["bb"] * 50),
                         " ".join(["aa"] * 25)],
            }
        ),
    )
    out = q_text_fano(spark, str(tmp_path)).collect()
    assert [(r["term"], r["fano_ppm"]) for r in out] == [
        ("bb", 25_000_000),
        ("aa", 0),
    ]


def test_trigrams_path_extraction(tmp_path, spark):
    """Timeline A,B,C,B,C yields exactly the trigrams ABC, BCB, CBC —
    once each, one user, lexicographic order on the count tie."""
    t0 = dt.datetime(2024, 1, 1)
    types = ["A", "B", "C", "B", "C"]
    _write(
        tmp_path,
        "events",
        pd.DataFrame(
            {
                "event_id": range(5),
                "ts": pd.Series(
                    [t0 + dt.timedelta(seconds=i) for i in range(5)],
                    dtype="datetime64[us]",
                ),
                "user_id": [9] * 5,
                "event_type": types,
            }
        ),
    )
    out = q_events_trigrams(spark, str(tmp_path)).collect()
    assert [(r["t1"], r["t2"], r["t3"]) for r in out] == [
        ("A", "B", "C"), ("B", "C", "B"), ("C", "B", "C")
    ]
    assert all(r["n_paths"] == 1 and r["n_users"] == 1 for r in out)


def test_dedup_rate_per_source(tmp_path, spark):
    """Source s1 has 3 docs, one duplicated → 333333 ppm; s2 is all
    unique → 0 ppm."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": ["x", "x", "y", "p", "q"],
                "source": ["s1", "s1", "s1", "s2", "s2"],
            }
        ),
    )
    out = {r["source"]: r for r in q_dedup_rate_by_source(spark, str(tmp_path)).collect()}
    assert out["s1"]["n_docs"] == 3 and out["s1"]["n_unique"] == 2
    assert out["s1"]["n_dups"] == 1 and out["s1"]["dup_ppm"] == 333_333
    assert out["s2"]["n_dups"] == 0 and out["s2"]["dup_ppm"] == 0
