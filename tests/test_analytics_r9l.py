"""Round-9 pack-L fixtures: the path graph whose 2-core is empty (peel
rounds hand-traced), a planted referential-integrity violation, and a
star graph with a closed-form log-log slope of exactly −1.
"""

from __future__ import annotations

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.queries.graph import (
    q_graph_kcore_peel,
    q_graph_powerlaw_slope,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.pipeline_ops import (
    q_validate_fk,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_kcore_peel_path_graph(tmp_path, spark):
    """Path 1—2—3—4: round 1 keeps the two interior nodes and the one
    edge between them; round 2 peels everything (a path has an empty
    2-core); round 3 stays empty — the fixpoint is visible as a
    repeated census row."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": [10, 10, 20, 20, 30, 30],
                "l_partkey": [1, 2, 2, 3, 3, 4],
            }
        ),
    )
    out = {r["round"]: r for r in q_graph_kcore_peel(spark, str(tmp_path)).collect()}
    assert (out[1]["n_nodes"], out[1]["n_edges"]) == (2, 1)
    assert (out[2]["n_nodes"], out[2]["n_edges"]) == (0, 0)
    assert (out[3]["n_nodes"], out[3]["n_edges"]) == (0, 0)


def test_kcore_peel_triangle_is_stable(tmp_path, spark):
    """A triangle IS its own 2-core: every round reports 3 nodes and
    3 edges unchanged."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": [10, 10, 10],
                "l_partkey": [1, 2, 3],
            }
        ),
    )
    out = q_graph_kcore_peel(spark, str(tmp_path)).collect()
    assert all((r["n_nodes"], r["n_edges"]) == (3, 3) for r in out)


def test_validate_fk_planted_orphans(tmp_path, spark):
    """One order references a missing customer; two lineitems share a
    missing part key → orphan_rows 2 but dangling_keys 1; the other
    relationships are clean zeros."""
    _write(tmp_path, "customer", pd.DataFrame({"c_custkey": [1, 2]}))
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_orderkey": [10, 20], "o_custkey": [1, 99]}),
    )
    _write(tmp_path, "part", pd.DataFrame({"p_partkey": [5]}))
    _write(tmp_path, "supplier", pd.DataFrame({"s_suppkey": [7]}))
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": [10, 10, 20],
                "l_partkey": [5, 666, 666],
                "l_suppkey": [7, 7, 7],
            }
        ),
    )
    out = {r["fk"]: r for r in q_validate_fk(spark, str(tmp_path)).collect()}
    assert out["orders.o_custkey->customer"]["orphan_rows"] == 1
    assert out["orders.o_custkey->customer"]["dangling_keys"] == 1
    assert out["lineitem.l_partkey->part"]["orphan_rows"] == 2
    assert out["lineitem.l_partkey->part"]["dangling_keys"] == 1
    assert out["lineitem.l_orderkey->orders"]["orphan_rows"] == 0
    assert out["lineitem.l_suppkey->supplier"]["orphan_rows"] == 0


def test_powerlaw_star_slope_minus_one(tmp_path, spark):
    """Star K₁,₄ (center bought with each leaf): degree buckets
    (⌊log₂4⌋, ⌊log₂1⌋) = (2,0) and (⌊log₂1⌋, ⌊log₂4⌋) = (0,2) →
    least-squares slope exactly −1 with integer num/den −4/4."""
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_orderkey": [10, 10, 20, 20, 30, 30, 40, 40],
                "l_partkey": [1, 2, 1, 3, 1, 4, 1, 5],
            }
        ),
    )
    row = q_graph_powerlaw_slope(spark, str(tmp_path)).collect()[0]
    assert row["n"] == 2 and (row["sx"], row["sy"]) == (2, 2)
    assert row["slope_num"] == -4 and row["slope_den"] == 4
    assert row["slope"] == -1.0
