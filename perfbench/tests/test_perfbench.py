"""Tests of the benchmark itself: ``python3 -m pytest perfbench/tests -q``.

The Spark test starts one local session (about 30 s); the others need
no JVM.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import run  # noqa: E402
from oracle import Checker, fingerprint  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _keys(path: str, col: str) -> set:
    return set(pq.read_table(path, columns=[col]).column(col).to_pylist())


def test_same_seed_gives_identical_files_and_intact_join_keys(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    datagen.generate(a, seed=11)
    datagen.generate(b, seed=11)
    datagen.generate(c, seed=12)
    names = [f"{t}.parquet" for t in datagen.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert sorted(match) == sorted(names) and not mismatch and not errors
    assert not filecmp.cmp(f"{a}/lineitem.parquet", f"{c}/lineitem.parquet", shallow=False)

    t = {n: f"{a}/{n}.parquet" for n in datagen.TABLES}
    orders = _keys(t["orders"], "o_orderkey")
    assert len(orders) == datagen.N_ORDERS
    assert _keys(t["lineitem"], "l_orderkey") <= orders
    assert _keys(t["lineitem"], "l_partkey") <= _keys(t["part"], "p_partkey")
    assert _keys(t["lineitem"], "l_suppkey") <= _keys(t["supplier"], "s_suppkey")
    assert _keys(t["orders"], "o_custkey") <= _keys(t["customer"], "c_custkey")
    assert _keys(t["customer"], "c_nationkey") <= _keys(t["nation"], "n_nationkey")
    assert _keys(t["nation"], "n_regionkey") <= _keys(t["region"], "r_regionkey")
    assert pq.read_metadata(t["events"]).num_rows == datagen.N_EVENTS
    docs = pq.read_table(t["documents"])
    assert pc.all(pc.equal(pc.utf8_length(docs.column("text")), docs.column("n_chars"))).as_py()


def test_planted_wrong_result_counts_as_failed():
    want = pd.DataFrame({"k": ["a", "b"], "n": pd.Series([1, 2], dtype="int64")})
    c = Checker()
    assert c.first("q", want.copy(), want, 0.0, fetch=None)
    assert c.again("q", want.iloc[::-1].reset_index(drop=True))  # row order is free
    wrong = want.assign(n=pd.Series([1, 3], dtype="int64"))
    assert not c.again("q", wrong)
    assert not c.first("r", wrong, want, 0.0, fetch=None)
    # a checksum result is checked through the full frame it stands for
    assert not c.first("s", (2, 99), want, 0.0, fetch=lambda: wrong)
    assert c.first("t", (2, 99), want, 0.0, fetch=lambda: want)
    assert not c.again("t", (2, 98))
    assert c.failed == 4 and len(c.errors) == 4
    assert fingerprint(want) != fingerprint(wrong)


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"][1] == "perfbench/run.py"
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == {k: run.UNITS[k] for k in run.E2E}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == {k: run.layer_unit(k) for k in run.PASS_LAYER + run.RUN_LAYER}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_star", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]


@pytest.fixture(scope="module")
def runner(tmp_path_factory):
    """A Runner over freshly generated data, its cold pass done."""
    import oracle

    data = str(tmp_path_factory.mktemp("data") / "seed5")
    datagen.generate(data, seed=5)
    run.prepare_env()
    from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
    from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark

    ops = ("q_agg_distinct_users", "q_join_inner", "q_maplejuice_sql_join")
    specs = all_queries()
    expected = oracle.expected(data, {o: specs[o].oracle for o in ops})
    spark = get_spark("perfbench-tests", cores=2)
    spark.sparkContext.setLogLevel("ERROR")
    r = run.Runner(spark, data, "test", 2, expected)
    r.run_pass(list(ops), "cold", first=True)
    yield r, ops
    run.stop_spark(spark)


def test_traced_pass_spans_add_up_to_op_wall(runner):
    r, ops = runner
    assert r.check.failed == 0, r.check.errors
    r.tracer.enabled = True
    p = r.run_pass(list(ops), "traced")
    r.tracer.enabled = False
    spans = r.tracer.spans
    selfs = r.tracer.self_times()
    assert {s.name for s in spans if s.parent is None} == set(ops)
    assert {"queries.build_s", "plan.s", "exec.s", "materialize.s", "sqlfront.s"} <= {s.name for s in spans}
    for i, s in enumerate(spans):
        assert selfs[i] >= -1e-9, s
        if s.parent is None:
            family = [j for j, c in enumerate(spans) if j == i or c.parent == i]
            assert abs(sum(selfs[j] for j in family) - (s.end - s.start)) < 1e-6
            assert selfs[i] < 0.05 * (s.end - s.start) + 0.01  # children cover the op
            assert s.run_id == "test" and s.op_id.startswith("traced.")
    assert p["layers"]["exec.jobs"] >= len(ops)
    assert p["layers"]["scan.rows"] > 0


def test_planted_wrong_result_in_a_timed_pass_counts_as_failed(runner):
    r, ops = runner
    before = r.check.failed
    n, h = r.check.reference["q_join_inner"]
    r.check.reference["q_join_inner"] = (n, h + 1)
    try:
        r.run_pass(list(ops), "planted")
    finally:
        r.check.reference["q_join_inner"] = (n, h)
    assert r.check.failed == before + 1
    assert r.check.errors[-1].startswith("q_join_inner:")


def test_jit_compiler_threads_are_found_and_left_out_of_pass_cpu(runner):
    import measure

    r, ops = runner
    # the cold pass made the JVM compile: if no thread matches the
    # compiler-thread names, pass_cpu_s would silently count JIT again
    assert measure.tree_jit_cpu_s() > 0
    p = r.run_pass(list(ops), "jit")
    assert p["jit_cpu"] >= 0
    assert p["cpu"] > 0
