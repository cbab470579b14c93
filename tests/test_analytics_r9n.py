"""Round-9 pack-N fixtures: a 6-term vocabulary with a hand-computed
partial-coverage rung, a returns month where the item and revenue KPIs
diverge, and the under-k recall denominator semantics.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_lineitem_returns,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_sim_recall_quantized,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
    q_text_vocab_coverage,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_vocab_coverage_partial_rung(tmp_path, spark):
    """Six terms with freqs 6..1 (21 tokens): the k=5 rung covers
    20/21 → 952380 ppm; k=10 and k=20 saturate at the full corpus."""
    text = " ".join(
        ["t1"] * 6 + ["t2"] * 5 + ["t3"] * 4 + ["t4"] * 3 + ["t5"] * 2 + ["t6"]
    )
    _write(tmp_path, "documents", pd.DataFrame({"doc_id": [1], "text": [text]}))
    out = {r["k"]: r for r in q_text_vocab_coverage(spark, str(tmp_path)).collect()}
    assert set(out) == {5, 10, 20}
    assert all(r["n_terms"] == 6 and r["total_tokens"] == 21 for r in out.values())
    assert out[5]["covered_tokens"] == 20 and out[5]["coverage_ppm"] == 952_380
    assert out[10]["coverage_ppm"] == 1_000_000
    assert out[20]["coverage_ppm"] == 1_000_000


def test_returns_item_vs_revenue_divergence(tmp_path, spark):
    """One month, a cheap return ($1 R) beside an expensive keep
    ($3 N): item share 50%, revenue share 25% — the divergence the
    query exists to surface."""
    d = dt.datetime(2024, 3, 15)
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_shipdate": pd.Series([d, d], dtype="datetime64[us]"),
                "l_returnflag": ["R", "N"],
                "l_extendedprice": [1.0, 3.0],
            }
        ),
    )
    out = q_lineitem_returns(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["m"] == 2024 * 12 + 3
    assert r["n_items"] == 2 and r["n_returned"] == 1
    assert r["return_ppm"] == 500_000
    assert r["rev_cents"] == 400 and r["return_rev_ppm"] == 250_000


def test_recall_under_k_denominator(tmp_path, spark):
    """Eight identical queries against a 3-vector corpus: both
    rankings contain all 3 corpus vectors, but recall@10 keeps the
    FIXED k=10 denominator → 300000 ppm per query."""
    qvec = [1.0] + [0.0] * 63
    corpus = [
        [0.9] + [0.01] * 63,
        [0.8] + [0.02] * 63,
        [0.7] + [0.03] * 63,
    ]
    rows = [(i, qvec, 0) for i in range(8)] + [
        (8 + j, v, 1) for j, v in enumerate(corpus)
    ]
    _write(
        tmp_path,
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": [r[1] for r in rows],
                "label": [r[2] for r in rows],
            }
        ),
    )
    out = q_sim_recall_quantized(spark, str(tmp_path)).collect()
    assert len(out) == 8
    assert all(r["n_overlap"] == 3 and r["recall_ppm"] == 300_000 for r in out)
