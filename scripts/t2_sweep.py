#!/usr/bin/env python
"""Full-registry t2 sweep (VERDICT r5 task 1): run EVERY registered
query on Spark at sf0.01 AND its DuckDB oracle, record per-query
row-count / schema / value-match into T2_SWEEP.json (repo root).

Rationale: the grading driver samples ~50 queries/round, so most
passes date back several rounds at any given time.  The local pytest
gate (tests/test_parity.py) already runs this comparison over the full
registry on every suite run — this script emits the same check as a
per-round ARTIFACT so the "all oracled queries pass" claim is
re-attested with evidence each round, not asserted from history.

The compare kernel is imported from tests/test_parity.py (single
source of truth — STRICTER than the driver: bit-exact unless the spec
declares an atol).

Usage: python scripts/t2_sweep.py  (~4-6 min on an idle 32-core box)
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

SF_T2 = os.environ.get("SPARK_GRAFT_T2_DIR", "/root/testdata/sf0.01")


def main() -> None:
    import duckdb

    from test_parity import assert_frames_match

    from cs425_distributed_systems_mp4_mapreduce_spark.registry import (
        all_queries,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.session import (
        get_spark,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import (
        TABLE_NAMES,
    )

    spark = get_spark(
        "t2_sweep",
        cores=os.environ.get("SPARK_GRAFT_CPUS", "32"),
        shuffle_partitions=8,
    )
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM"
            f" read_parquet('{SF_T2}/{name}.parquet')"
        )

    out: dict[str, dict] = {}
    t_start = time.time()
    for name, spec in sorted(all_queries().items()):
        row: dict = {"oracled": spec.oracle is not None}
        t0 = time.perf_counter()
        try:
            spark_pdf = spec.fn(spark, SF_T2).toPandas()
            row["spark_rows"] = len(spark_pdf)
            if spec.oracle is None:
                # mirror the driver's weaker rows-only gate
                row["status"] = "rows_only"
                assert len(spark_pdf.columns) > 0
            else:
                duck_pdf = con.execute(spec.oracle).df()
                row["oracle_rows"] = len(duck_pdf)
                assert_frames_match(spark_pdf, duck_pdf, spec.atol)
                row["status"] = "pass"
        except Exception as e:  # noqa: BLE001 — sweep must finish
            row["status"] = "FAIL"
            row["err"] = "".join(
                traceback.format_exception_only(type(e), e)
            ).strip()[:500]
        row["sec"] = round(time.perf_counter() - t0, 2)
        out[name] = row
        if row["status"] == "FAIL":
            print(f"FAIL  {name}: {row['err']}", flush=True)

    n = len(out)
    passed = sum(1 for r in out.values() if r["status"] == "pass")
    rows_only = sum(1 for r in out.values() if r["status"] == "rows_only")
    failed = n - passed - rows_only
    summary = {
        "sf_dir": SF_T2,
        "declared": n,
        "oracled_pass": passed,
        "rows_only": rows_only,
        "failed": failed,
        "wall_sec": round(time.time() - t_start, 1),
    }
    with open(os.path.join(REPO, "T2_SWEEP.json"), "w") as f:
        json.dump({"summary": summary, "queries": out}, f, indent=1, sort_keys=True)
    print(json.dumps(summary))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
