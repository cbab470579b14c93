"""Round-9 pack-F fixtures: trim-boundary tie clamping, zero-variance
and spike windows (Bollinger), flat/rising momentum (RSI), frequency
ties (Zipf), monopoly concentration (HHI), and duplicate-document
novelty — each a hand-checked closed form on a minimal fixture.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.aggregates import (
    q_agg_hhi,
    q_agg_trimmed_mean,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
    q_text_ngram_novelty,
    q_text_zipf,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.windows import (
    q_window_bollinger,
    q_window_rsi,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _days(vals, start=dt.datetime(2024, 1, 1)):
    return pd.Series(
        [start + dt.timedelta(days=i) for i in range(len(vals))],
        dtype="datetime64[us]",
    )


def test_trimmed_mean_ties_straddle_boundary(tmp_path, spark):
    """Values 1¢×5, 2¢×2, 9¢×3 with n=10 → trim ⌊n/10⌋=1 from each
    side BY RANK: value 1 keeps 4 of its 5 copies, value 9 keeps 2 of
    3 — rank clamping must count straddling ties fractionally, never
    drop or keep a whole tie group."""
    cents = [1] * 5 + [2] * 2 + [9] * 3
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_totalprice": [c / 100.0 for c in cents]}),
    )
    row = q_agg_trimmed_mean(spark, str(tmp_path)).collect()[0]
    assert (row["n"], row["n_trimmed_each_side"]) == (10, 1)
    assert (row["kept_n"], row["kept_sum_cents"]) == (8, 26)
    assert row["trimmed_mean_millicents"] == 26 * 1000 // 8


def test_bollinger_flat_never_flags_spike_flags(tmp_path, spark):
    """A flat series has zero variance AND zero deviation — the strict
    > keeps breakout=0 (including the n=1 first row, 0 > 0 false);
    a lone 2× spike after 25 flat days must flag."""
    vals = [100.0] * 25 + [200.0]
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_orderdate": _days(vals), "o_totalprice": vals}),
    )
    out = q_window_bollinger(spark, str(tmp_path)).collect()
    flags = [r["breakout"] for r in out]
    assert flags[:25] == [0] * 25
    assert flags[25] == 1


def test_rsi_flat_is_midpoint_rising_is_full(tmp_path, spark):
    """No movement → gain=loss=0 → the 500000 midpoint by definition;
    a strictly rising series → loss=0 → exactly 1000000 ppm."""
    flat = [100.0] * 10
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_orderdate": _days(flat), "o_totalprice": flat}),
    )
    out = q_window_rsi(spark, str(tmp_path)).collect()
    assert all(r["rsi_ppm"] == 500000 for r in out)

    # table cache keys on sf_dir, so reuse of tmp_path would serve the
    # flat fixture; write the rising fixture under a subdir instead
    rising = [100.0 + 10 * i for i in range(10)]
    sub = tmp_path / "rising"
    sub.mkdir()
    _write(
        sub,
        "orders",
        pd.DataFrame({"o_orderdate": _days(rising), "o_totalprice": rising}),
    )
    out = q_window_rsi(spark, str(sub)).collect()
    assert all(r["rsi_ppm"] == 1000000 for r in out)
    assert all(r["loss14"] == 0 for r in out)


def test_zipf_frequency_ties_rank_alphabetically(tmp_path, spark):
    """Terms with EQUAL frequency must rank in term order (the total
    tie-break), and rank·freq / share-of-mode come out exact."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame({"text": ["b b b a a c c zz", "a c"]}),
    )
    out = q_text_zipf(spark, str(tmp_path)).collect()
    got = [(r["rank"], r["term"], r["freq"]) for r in out]
    assert got == [(1, "a", 3), (2, "b", 3), (3, "c", 3), (4, "zz", 1)]
    assert [r["rank_freq"] for r in out] == [3, 6, 9, 4]
    assert [r["share_of_mode_ppm"] for r in out] == [
        1000000,
        1000000,
        1000000,
        333333,
    ]


def test_hhi_monopoly_is_1e9_uniform_is_1e9_over_n(tmp_path, spark):
    """One customer owning every order → HHI = 10⁹ ppb exactly; four
    equal customers → 10⁹/4."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_custkey": [1] * 6 + [2, 2, 3, 3, 4, 4, 5, 5]}),
    )
    _write(
        tmp_path,
        "customer",
        pd.DataFrame(
            {
                "c_custkey": [1, 2, 3, 4, 5],
                "c_mktsegment": ["MONO"] + ["QUAD"] * 4,
            }
        ),
    )
    out = {r["segment"]: r for r in q_agg_hhi(spark, str(tmp_path)).collect()}
    assert out["MONO"]["hhi_ppb"] == 1_000_000_000
    assert out["QUAD"]["hhi_ppb"] == 250_000_000


def test_novelty_first_doc_full_duplicate_zero(tmp_path, spark):
    """The first document is 100% novel by construction; an exact
    duplicate later in doc_id order must score 0 ppm."""
    text = "one two three four five six"
    _write(
        tmp_path,
        "documents",
        pd.DataFrame({"doc_id": [0, 1], "text": [text, text]}),
    )
    out = {r["doc_id"]: r for r in q_text_ngram_novelty(spark, str(tmp_path)).collect()}
    assert out[0]["novelty_ppm"] == 1_000_000
    assert out[1]["novelty_ppm"] == 0
    assert out[0]["n_shingles"] == out[1]["n_shingles"] == 4
