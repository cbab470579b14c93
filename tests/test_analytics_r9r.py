"""Round-9 pack-R fixtures: a triangle-plus-pendant clustering graph,
the path-of-three assortativity extreme (r = −1), a designed
reciprocal pair, and the single-term AMS identity (X² = f² exactly).
"""

from __future__ import annotations

import pandas as pd
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.queries.graph import (
    q_graph_assortativity,
    q_graph_clustering_coeff,
    q_graph_reciprocity,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.sketches import (
    q_sketch_ams_f2,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _lineitem(rows):
    """rows: list of (orderkey, partkey, linenumber)."""
    return pd.DataFrame(
        {
            "l_orderkey": [r[0] for r in rows],
            "l_partkey": [r[1] for r in rows],
            "l_linenumber": [r[2] if len(r) > 2 else 1 for r in rows],
        }
    )


def test_clustering_coeff_triangle_pendant(tmp_path, spark):
    """Triangle {1,2,3} plus pendant edge (3,4): nodes 1,2 have
    coeff 1e6; node 3 (deg 3, one closed wedge of three) 333333;
    node 4 (deg 1) NULL.  An order NOT ≡ 0 (mod 10) is excluded by
    the sampling predicate."""
    rows = (
        [(10, 1, 1), (10, 2, 2), (10, 3, 3)]
        + [(20, 3, 1), (20, 4, 2)]
        + [(15, 4, 1), (15, 5, 2)]  # excluded: orderkey % 10 != 0
    )
    _write(tmp_path, "lineitem", _lineitem(rows))
    out = {r["node"]: r for r in q_graph_clustering_coeff(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4}  # node 5 sampled out
    assert out[1]["coeff_ppm"] == 1_000_000
    assert out[2]["coeff_ppm"] == 1_000_000
    assert (out[3]["deg"], out[3]["n_tri"], out[3]["coeff_ppm"]) == (
        3,
        1,
        333_333,
    )
    assert out[4]["coeff_ppm"] is None


def test_assortativity_path_is_minus_one(tmp_path, spark):
    """The path 1—2—3 is perfectly disassortative: every edge joins a
    degree-1 to a degree-2 node → r = −1 exactly."""
    _write(
        tmp_path,
        "lineitem",
        _lineitem([(1, 1, 1), (1, 2, 2), (2, 2, 1), (2, 3, 2)]),
    )
    r = q_graph_assortativity(spark, str(tmp_path)).collect()[0]
    assert r["n"] == 4
    assert r["assortativity"] == pytest.approx(-1.0)


def test_assortativity_single_edge_null(tmp_path, spark):
    """One edge: both endpoints degree 1 → zero variance → NULL."""
    _write(tmp_path, "lineitem", _lineitem([(1, 1, 1), (1, 2, 2)]))
    r = q_graph_assortativity(spark, str(tmp_path)).collect()[0]
    assert r["assortativity"] is None


def test_reciprocity_designed_pair(tmp_path, spark):
    """1→2 (order A), 2→1 (order B), 1→3 (order C, unreciprocated):
    2 of 3 directed edges have a reverse → 666666 ppm."""
    rows = [
        (1, 1, 1), (1, 2, 2),   # 1→2
        (2, 2, 1), (2, 1, 2),   # 2→1
        (3, 1, 1), (3, 3, 2),   # 1→3
    ]
    _write(tmp_path, "lineitem", _lineitem(rows))
    r = q_graph_reciprocity(spark, str(tmp_path)).collect()[0]
    assert (r["n_edges"], r["n_recip"]) == (3, 2)
    assert r["reciprocity_ppm"] == 666_666


def test_ams_single_term_identity(tmp_path, spark):
    """One term with f = 5: every copy's X = ±5 so X² = 25 exactly —
    estimate equals the exact F₂ and the ratio is exactly 1e6."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame({"doc_id": [1], "text": ["w w w w w"]}),
    )
    r = q_sketch_ams_f2(spark, str(tmp_path)).collect()[0]
    assert (r["n_terms"], r["f2_exact"]) == (1, 25)
    assert r["est_mean"] == 25 and r["est_min"] == 25 and r["est_max"] == 25
    assert r["ratio_ppm"] == 1_000_000


def test_ams_estimate_bounds(tmp_path, spark):
    """k singleton terms: F₂ = k and every copy's X² ≤ k², with the
    min/mean/max ordering invariant."""
    _write(
        tmp_path,
        "documents",
        pd.DataFrame({"doc_id": [1], "text": ["a b c d e f g"]}),
    )
    r = q_sketch_ams_f2(spark, str(tmp_path)).collect()[0]
    assert r["f2_exact"] == 7
    assert 0 <= r["est_min"] <= r["est_mean"] <= r["est_max"] <= 49
