#!/usr/bin/env python
"""Dump .explain("formatted") for headline queries into
plans/r<ROUND>/<query>_<suffix>.txt: the bench form (the registry query
built under functions.parity.double_sums(), as bench.py times it), plus
the exact form the oracle checks when the two plans differ.

Usage: python scripts/capture_plans.py ROUND before|after [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cs425_distributed_systems_mp4_mapreduce_spark.functions.parity import (  # noqa: E402
    double_sums,
)
from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries  # noqa: E402
from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark  # noqa: E402


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _shape(plan: str) -> str:
    """The plan with expression ids and plan ids masked: two builds of
    one query differ only in those."""
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def main() -> None:
    round_no, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", f"r{round_no}"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    headline = {n: s for n, s in all_queries().items() if s.headline}
    for name, spec in sorted(headline.items()):
        if only and name not in only:
            continue
        with double_sums():
            plan = _plan(spec.fn(spark, sf_dir))
        parts = [f"== {name} (bench form) ==\n\n{plan}"]
        exact = _plan(spec.fn(spark, sf_dir))
        if _shape(exact) != _shape(plan):
            parts.append(f"\n\n== {name} (exact decimal-parity form) ==\n\n{exact}")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write("".join(parts))
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
