"""Planted-fixture tests for the round-8 packs — facts the sf0.01
oracle gate cannot pin because the driver corpus never produces them
(true semantic duplicates; cross-cell misses; stale PIT matches)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    _C,
    _DIM,
    _T2_DEN,
    _T2_NUM,
    q_dedup_semantic,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.relational import (
    q_join_pit_tolerance,
)


def _codes(mat: np.ndarray) -> np.ndarray:
    mx = np.maximum(np.abs(mat).max(axis=1), 1e-30)
    return np.floor(mat * 127.0 / mx[:, None] + 0.5).astype(np.int64)


def _semdedup_ref(mat: np.ndarray):
    """Independent numpy replay of the q_dedup_semantic spec."""
    codes = _codes(mat)
    anch = codes[:_C]
    d = ((codes[:, None, :] - anch[None, :, :]) ** 2).sum(axis=2)
    cell = np.argmin(d * _C + np.arange(_C)[None, :], axis=1)
    n2 = (codes**2).sum(axis=1)
    out = {}
    n = len(mat)
    for b in range(n):
        for a in range(b):
            if cell[a] != cell[b]:
                continue
            dot = int(codes[a] @ codes[b])
            if dot > 0 and _T2_DEN * dot * dot >= _T2_NUM * int(n2[a]) * int(n2[b]):
                if b not in out:
                    out[b] = [a, int(cell[b]), 0]
                out[b][0] = min(out[b][0], a)
                out[b][2] += 1
    return {
        b: (keeper, c, cnt) for b, (keeper, c, cnt) in out.items()
    }, cell


def test_dedup_semantic_planted(spark, tmp_path):
    """Planted geometry: anchors are scaled one-hots; vec 8 == vec 9
    (true duplicates, same cell, must be caught with keeper = min
    smaller-id neighbor); vecs 10/11 are ~0.9996-cosine twins that
    land in DIFFERENT cells — the documented SemDeDup approximation:
    cross-cell pairs are never compared, so neither may report the
    other.  The full output equals an independent numpy replay."""
    mat = np.zeros((12, _DIM), dtype=np.float32)
    for c in range(_C):
        mat[c, c] = 100.0
    mat[8, 0], mat[8, 1] = 50.0, 3.0
    mat[9] = mat[8]
    mat[10, 0], mat[10, 1] = 51.0, 49.0
    mat[11, 0], mat[11, 1] = 49.0, 51.0

    pd.DataFrame(
        {
            "vec_id": np.arange(12, dtype=np.int64),
            "embedding": [row.tolist() for row in mat],
            "label": ["t"] * 12,
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    ref, cell = _semdedup_ref(mat.astype(np.float64))
    # the planted facts themselves, independent of the replay:
    assert cell[10] != cell[11], "fixture must straddle a cell boundary"
    assert 9 in ref and ref[9][0] <= 8, "exact duplicate must be caught"
    assert 11 not in ref or ref[11][0] != 10, "cross-cell pair must be missed"

    out = {
        r["dup_id"]: (r["keeper_id"], r["cell"], r["n_neighbors"])
        for r in q_dedup_semantic(spark, str(tmp_path)).collect()
    }
    assert out == ref


def test_dedup_semantic_cell_cap_invariant(spark, tmp_path):
    """The round-10 max-cell bound (semdedup_frame's cell_cap
    sub-split, the remedy for SCALE_PROBE's sf10 hot-cell straggler)
    must not change the RESULT: with a cap small enough that every
    planted cell sub-splits into several hash buckets, the output is
    row-identical to the effectively-unbounded plan and to the numpy
    replay.  Fixture: 40 vectors crowded into anchor cell 0 (plus the
    8 anchors), so cell 0 holds ~41 vectors and cap=8 forces s >= 5
    with cross-bucket, diagonal, and keeper/dup-swap group shapes all
    exercised."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
        semdedup_frame,
    )

    n = _C + 40
    mat = np.zeros((n, _DIM), dtype=np.float32)
    for c in range(_C):
        mat[c, c] = 100.0
    for i in range(_C, n):
        # hot cluster near anchor 0: high mutual cosine, same cell
        mat[i, 0] = 80.0
        mat[i, 1] = 1.0 + (i % 7)
        mat[i, 2] = float(i % 3)

    pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.tolist() for row in mat],
            "label": ["t"] * n,
        }
    ).to_parquet(str(tmp_path / "embeddings.parquet"), index=False)

    ref, cell = _semdedup_ref(mat.astype(np.float64))
    assert (cell[_C:] == 0).all(), "fixture must crowd one cell"
    assert len(ref) >= 30, "hot cluster must produce many dup rows"

    capped = [
        tuple(r)
        for r in semdedup_frame(spark, str(tmp_path), _C, cell_cap=8)
        .collect()
    ]
    unbounded = [
        tuple(r)
        for r in semdedup_frame(spark, str(tmp_path), _C, cell_cap=10**9)
        .collect()
    ]
    assert capped == unbounded
    assert {
        d: (k, c, cnt) for d, k, c, cnt in capped
    } == ref


def test_pit_tolerance_voids_stale_matches(spark, tmp_path):
    """A signup 8 days before the purchase exists as the PIT match but
    exceeds the 7-day staleness bound -> tier NULL; a 1-day-old signup
    passes with its exact staleness."""
    rows = [
        (1, "2024-01-01 00:00:00", 3, "signup", 2.0),   # stale dim
        (2, "2024-01-09 00:00:00", 3, "purchase", 1.0),  # 8 days later
        (3, "2024-01-10 00:00:00", 7, "signup", 4.0),
        (4, "2024-01-11 00:00:00", 7, "purchase", 1.0),  # 1 day later
    ]
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
    )
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    df["props"] = "{}"
    df.to_parquet(str(tmp_path / "events.parquet"), index=False)

    out = {
        r["event_id"]: (r["tier"], r["staleness_us"])
        for r in q_join_pit_tolerance(spark, str(tmp_path)).collect()
    }
    assert out[2] == (None, None)
    assert out[4] == (4, 86_400_000_000)


def test_dedup_semantic_plan_single_pass_kernel(spark):
    """Round-10 plan pin for the SemDeDup quadratic stage: the cell
    assignment UDF (ArrowEvalPython) must appear exactly ONCE — the
    single-sided grouped kernel replaced a cogrouped form whose two
    role sides each recomputed the whole base — the pair verification
    must be the grouped Arrow kernel (FlatMapGroupsInPandas), no
    row-at-a-time Python anywhere, and the exchange count stays at
    three (cell window, pair-group key, final drop-rule agg)."""
    from test_plans import plan_of

    p = plan_of(spark, "q_dedup_semantic")
    # formatted explain lists each node in the tree AND in the
    # details section -> 2 mentions per physical node
    assert p.count("ArrowEvalPython") == 2, p.count("ArrowEvalPython")
    assert p.count("FlatMapGroupsInPandas") == 2
    assert "BatchEvalPython" not in p
    assert p.count("Exchange") <= 6

def test_semdedup_derived_cells_default(spark):
    """VERDICT r11 task 5: ``n_cells=None`` derives C = ceil(sqrt(N))
    via derive_scale_params (the c1414-beats-c1024 third-decade A/B)
    and must equal the explicit-C run bit-for-bit.  The declared query
    keeps its pinned parity C, so this only covers the non-oracled
    caller path."""
    import math

    from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
        semdedup_frame,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    sf_dir = "/root/testdata/sf0.01"
    n = table(spark, sf_dir, "embeddings").count()
    c = math.ceil(math.sqrt(n))
    derived = sorted(tuple(r) for r in semdedup_frame(spark, sf_dir, None).collect())
    explicit = sorted(tuple(r) for r in semdedup_frame(spark, sf_dir, c).collect())
    assert derived == explicit
