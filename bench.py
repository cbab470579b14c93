#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q_...": sec, ...}, "sf": 0.1}

Protocol (matches BASELINE.md methodology): one GLOBAL warm-up pass
over every query first (the first queries executed in a fresh JVM
otherwise absorb the JIT cost and their medians read 2-3x high purely
by alphabetical position), then per query 1 local warm-up + timed
runs, median reported; timing includes plan construction and result
materialization — collect() for small results, a one-row checksum
aggregate (count + max(xxhash64(*columns))) for results over 10k rows:
collecting 200k rows through py4j measures the bridge, not the engine,
and a bare count() lets Catalyst PRUNE result-only windows/projections
(measured: q_window_running/q_window_locf counted a filter-less scan),
so the checksum forces full evaluation of every output column while
returning one row.  Both sides of any comparison must materialize
identically — this is bench protocol 2; BASELINE.md must carry the
same protocol tag or the ratio is invalid (tests/test_docs_counts.py
pairs them by tag).  The per-query timing loop and the materializer are
the package runner's ``time_query`` and ``materialize``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cs425_distributed_systems_mp4_mapreduce_spark.runner import (  # noqa: E402
    bench_fn,
    select,
    time_query,
)
from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # sf is cosmetic output — a non-'sf<float>' basename (custom dir)
    # must not kill the bench before any query runs (review r12)
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    except ValueError:
        sf = os.path.basename(sf_dir.rstrip("/"))

    # machine load before the run — cross-round deltas are only
    # attributable on an idle box (VERDICT r3 item 3).  r4's numbers
    # landed on a loaded box (loadavg 3.8-6.5) and its ±20% per-query
    # wobbles were unattributable, so the bench now (a) waits a bounded
    # time for the box to go idle, (b) self-reports `contended` so a
    # reader never has to cross-check loadavg against a threshold by
    # hand (VERDICT r4 item 1).
    idle_load = float(os.environ.get("SPARK_GRAFT_IDLE_LOAD", "1.5"))
    idle_wait_s = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT_S", "120"))
    waited = 0.0
    while os.getloadavg()[0] > idle_load and waited < idle_wait_s:
        time.sleep(5)
        waited += 5
    load_before = os.getloadavg()
    contended = load_before[0] > idle_load

    # shuffle partitions sized by DATA, not by a fixed 2x-cores rule:
    # sf0.1 is 17 MB of parquet — one wave of <1 MB shuffle partitions
    # at partitions == cores; 2x-cores halves partition size and adds
    # pure task-scheduling overhead on sub-second queries (measured
    # ~5-10% on this harness).  At 100 TB the same sizing rule gives
    # shuffle_bytes/128MB partitions and AQE coalesces from there.
    # '*' is a valid SPARK_GRAFT_CPUS (all cores — session.py's own
    # default); size partitions from the actual core count then
    n_cpus = (os.cpu_count() or 32) if cpus == "*" else int(cpus)
    spark = get_spark("bench", cores=cpus, shuffle_partitions=n_cpus)
    spark.sparkContext.setLogLevel("ERROR")

    headline = select()
    # global JIT warm-up: run everything once before any timing
    for _, spec in sorted(headline.items()):
        bench_fn(spec)(spark, sf_dir).count()

    # fixed per-query overhead probe (VERDICT r13 item 8): median wall
    # of a trivial one-exchange aggregate over a 1k-row in-memory range.
    # This prices the constant every sub-second headline query pays on
    # this harness — job submission, task scheduling, one AQE re-plan
    # round — so round-over-round deltas smaller than ~2x this figure
    # are noise, not regression.  Detail-file only (the stdout contract
    # line must stay lean).
    from pyspark.sql import functions as F

    def _probe() -> float:
        t0 = time.perf_counter()
        (
            spark.range(1000)
            .groupBy((F.col("id") % 16).alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max(F.xxhash64("k", "n")).alias("c"))
            .collect()
        )
        return time.perf_counter() - t0

    _probe()  # warm
    overhead_probe = round(statistics.median(_probe() for _ in range(7)), 4)
    stats: dict[str, dict] = {}
    for name, spec in sorted(headline.items()):
        stats[name] = time_query(spec, spark, sf_dir)
    results = {name: s["median"] for name, s in stats.items()}

    # The driver records only the LAST 2000 chars of stdout and tries to
    # parse one JSON line from it.  r05/r06 both landed as "parsed": null
    # because the dispersion/provenance block pushed the line past 2000
    # chars and the front (metric/value/queries) was truncated away.  So:
    # stdout gets ONLY the compact contract line; the full detail goes to
    # BENCH_DETAIL.json next to this script.
    out = {
        "metric": "headline_query_total_wall",
        "value": round(sum(results.values()), 4),
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "contended": contended,
        "protocol": 2,
        # attest that $SPARK_GRAFT_CPUS / $SPARK_GRAFT_SF_DIR took
        # effect: defaultParallelism is what local[N] actually granted
        # (VERDICT r13 item 2 — the scaling probe can now verify the
        # contract instead of inferring it from timing ratios, which at
        # sf0.1 are overhead-bound: every query is sub-second, so the
        # 8-core run is within noise of the 32-core run BY DESIGN of
        # the tiny input, not because cores are ignored)
        "cpus_applied": spark.sparkContext.defaultParallelism,
        "sf_dir": sf_dir,
    }
    detail = {
        **out,
        "dispersion": stats,
        # fixed per-query overhead on this box/session (see probe above):
        # the noise floor for per-query round-over-round comparison
        "overhead_probe_sec": overhead_probe,
        # 1/5/15-min load BEFORE Spark started and AFTER the run; a
        # non-idle 15-min figure before the run means the numbers are
        # not comparable across rounds
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # True when the 1-min load was still above SPARK_GRAFT_IDLE_LOAD
        # (default 1.5) after waiting up to SPARK_GRAFT_IDLE_WAIT_S —
        # per BASELINE.md protocol, contended numbers are valid for the
        # 2x gate but NOT for round-over-round attribution
        "idle_waited_s": waited,
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # detail file is best-effort; the stdout contract line is not
    line = json.dumps(out)
    # hard guarantee the driver can parse: the contract line must survive a
    # tail-2000 truncation of stdout
    assert len(line) < 1900, f"bench contract line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
