"""Round-9 pack-Q fixtures: a hand-scored Flesch sentence pair, a
sentence-length histogram with trailing-punctuation fragments, a
designed vocabulary overlap, and the MinHash-error extremes (identical
and disjoint token sets have provably exact estimates).
"""

from __future__ import annotations

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_dedup_minhash_error,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
    q_text_readability,
    q_text_sentence_stats,
    q_text_vocab_overlap,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _docs(rows):
    """rows: list of (doc_id, text, source)."""
    return pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "source": [r[2] if len(r) > 2 else "s0" for r in rows],
        }
    )


def test_readability_hand_scored(tmp_path, spark):
    """'The cat sat. It ran!': 5 words, 5 vowel groups, 2 sentences →
    flesch = 206.835 − 1.015·2.5 − 84.6·1, grade = −2.815; a
    punctuation-less doc clamps to 1 sentence; empty text is NULL."""
    _write(
        tmp_path,
        "documents",
        _docs(
            [
                (1, "The cat sat. It ran!"),
                (2, "no stops here"),
                (3, ""),
            ]
        ),
    )
    out = {r["doc_id"]: r for r in q_text_readability(spark, str(tmp_path)).collect()}
    r1 = out[1]
    assert (r1["words"], r1["syllables"], r1["sentences"]) == (5, 5, 2)
    assert r1["flesch"] == pytest.approx(206.835 - 1.015 * 2.5 - 84.6 * 1.0)
    assert r1["fk_grade"] == pytest.approx(0.39 * 2.5 + 11.8 * 1.0 - 15.59)
    assert out[2]["sentences"] == 1
    assert out[3]["words"] == 0 and out[3]["flesch"] is None


def test_sentence_stats_histogram(tmp_path, spark):
    """'a b. c d e! f' + 'x y' → lengths {1:1, 2:2, 3:1}; the empty
    fragment after a trailing terminator never appears."""
    _write(
        tmp_path,
        "documents",
        _docs([(1, "a b. c d e! f"), (2, "x y."), (3, "")]),
    )
    out = {
        r["n_tokens"]: r["n_sentences"]
        for r in q_text_sentence_stats(spark, str(tmp_path)).collect()
    }
    assert out == {1: 1, 2: 2, 3: 1}


def test_vocab_overlap_designed_sets(tmp_path, spark):
    """srcA = {a,b,c}, srcB = {b,c,d}: Jaccard = 2/4, containment =
    2/3 — and repeated tokens inside a source never inflate the set."""
    _write(
        tmp_path,
        "documents",
        _docs(
            [
                (1, "a b b c", "srcA"),
                (2, "b c d d", "srcB"),
            ]
        ),
    )
    rows = q_text_vocab_overlap(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"]) == ("srcA", "srcB")
    assert (r["n_a"], r["n_b"], r["n_common"]) == (3, 3, 2)
    assert r["jaccard_ppm"] == 500_000
    assert r["containment_ppm"] == 666_666


def test_minhash_error_exact_extremes(tmp_path, spark):
    """Identical token sets estimate J = 1 exactly (identical
    signatures); disjoint sets estimate 0 (60-bit hash equality across
    different tokens is impossible at fixture scale) — so every
    adjacent pair has zero error and the census is exactly zero."""
    _write(
        tmp_path,
        "documents",
        _docs(
            [
                (1, "alpha beta gamma"),
                (2, "gamma alpha beta"),   # same set as doc 1 → J = 1
                (3, "delta epsilon"),       # disjoint from doc 2 → J = 0
                (4, "zeta eta theta"),      # disjoint from doc 3 → J = 0
            ]
        ),
    )
    r = q_dedup_minhash_error(spark, str(tmp_path)).collect()[0]
    assert r["n_pairs"] == 3
    assert r["sum_abs_err_ppm"] == 0
    assert r["mean_abs_err_ppm"] == 0
    assert r["max_abs_err_ppm"] == 0
