"""Benchmark of the engine: one workload per invocation.

    python3 perfbench/run.py --workload olap_star --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. generates the workload's tables from ``--seed`` (cached per seed
   under ``.perfbench_work/``, outside the timings);
2. computes every op's oracle result in DuckDB (cached the same way);
   steps 1 and 2 run in a child process that exits before step 3;
3. sets up: starts the Spark session (``session.get_spark``), registers
   the tables (``sources.tables.table``) and runs one cold pass over the
   ops, checking each result against its oracle -- ``setup_s``;
4. runs the workload's fixed number of warm-up passes, and one more if
   the last one saw high host CPU steal;
5. runs closed-loop timed passes (one client, one op at a time, ops in
   a seeded order per pass) sized to ``--seconds``, checking every
   result.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` timed passes alternate untraced and traced, the
per-layer metrics come from the traced ones, and the spans are written
to ``.perfbench_work/trace-<workload>-<seed>.jsonl``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cs425_distributed_systems_mp4_mapreduce_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

#: results up to this many rows come to the client with toPandas; larger
#: ones are reduced to a one-row (count, checksum) aggregate, as in
#: bench.py's protocol 2, so the timing measures the engine, not the
#: driver-side conversion of 10^5..10^6 rows
SMALL_RESULT_ROWS = 10_000
#: host steal share above which the last warm-up pass counts as
#: disturbed, so one more runs (only one: a busy host must not stretch
#: a run without bound)
STEAL_LIMIT = 0.03

E2E = ("setup_s", "pass_s", "pass_cpu_s", "op_p50_s", "op_geomean_s", "peak_rss_mb")
UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "core-s", "op_p50_s": "s",
         "op_geomean_s": "s", "peak_rss_mb": "MB"}

#: per-layer metrics: summed over the ops of a traced pass, median over
#: traced passes, unless listed in RUN_LAYER (one value per run)
PASS_LAYER = (
    "queries.build_s", "queries.build_jobs", "plan.s", "exec.s", "exec.jobs", "exec.stages",
    "exec.tasks", "scan.bytes", "scan.rows", "shuffle.write_bytes", "shuffle.read_bytes",
    "spill.bytes", "python.rows", "python.bytes", "python.eval_s", "maplejuice.put_s",
    "maplejuice.maple_s", "maplejuice.juice_s", "maplejuice.get_s", "maplejuice.pairs",
    "sink.write_s", "sink.bytes", "sink.files", "sqlfront.s", "materialize.s",
    "materialize.rows", "jvm.jit_s", "jvm.gc_s", "exec.cpu_util",
)
RUN_LAYER = (
    "session.start_s", "tables.load_s", "sched.floor_s", "host.steal_frac", "exec.slots",
    "warmup.passes", "op.samples", "ops.failed_frac", "trace.overhead_frac",
)
LAYER_UNITS = {"bytes": "bytes", "rows": "rows", "jobs": "count", "stages": "count",
               "tasks": "count", "pairs": "count", "files": "count", "slots": "count",
               "passes": "count", "samples": "count", "frac": "fraction", "util": "fraction"}


def layer_unit(name: str) -> str:
    tail = name.rsplit(".", 1)[1]
    return "s" if tail.endswith("_s") or tail == "s" else LAYER_UNITS[tail.rsplit("_", 1)[-1]]


class Runner:
    """Runs ops, times their phases, checks their results."""

    def __init__(self, spark, data_dir, run_id, slots, expected):
        from measure import Jvm, SparkCounters, Tracer
        from oracle import Checker
        from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries

        self.spark = spark
        self.data_dir = data_dir
        self.run_id = run_id
        self.slots = slots
        self.specs = all_queries()
        self.expected = expected
        self.work_dir = os.path.join(WORK, "run")
        self.dfs_root = os.path.join(self.work_dir, "dfs")
        self.jvm = Jvm(spark)
        self.counters = SparkCounters(spark)
        #: ``tracer.enabled`` also turns on plan forcing and counter reads
        self.tracer = Tracer(False, run_id)
        self.check = Checker()
        #: (phase, start, end, end as epoch seconds, job group)
        self._phases: list[tuple[str, float, float, float, str]] = []
        self._op_id = ""
        self.last_df = None

    # ------------------------------------------------------------ phases

    @contextmanager
    def phase(self, name: str):
        group = f"{self.run_id}/{self._op_id}/{name}"
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._phases.append((name, t0, time.perf_counter(), time.time(), group))

    def small(self, name: str) -> bool:
        return len(self.expected[name]) <= SMALL_RESULT_ROWS

    # -------------------------------------------------------------- ops

    def run_op(self, name: str, op_id: str, first: bool) -> tuple[float, dict]:
        """Run and check one op; returns (wall seconds, per-layer counts).
        ``first`` marks the cold execution, checked against the oracle."""
        from workloads import oracle_of, run_op

        self._op_id = op_id
        self._phases = []
        self.last_df = None
        self.check.attempted += 1
        t0 = time.perf_counter()
        try:
            got = run_op(self, name)
            wall = time.perf_counter() - t0
        except Exception:
            wall = time.perf_counter() - t0
            self.check.fail(name, traceback.format_exc(limit=3))
            return wall, {}
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if first:
            ok = self.check.first(
                name, got, self.expected[name], oracle_of(self.specs, name)[1],
                lambda: self.specs[name].fn(self.spark, self.data_dir).toPandas(),
            )
        else:
            ok = self.check.again(name, got)
        counts = self._trace_op(name, op_id, t0, t0 + wall, got) if ok and self.tracer.enabled else {}
        return wall, counts

    def _trace_op(self, name, op_id, t0, t1, got) -> dict:
        """Spans and counts of one traced op, read after it finished."""
        from measure import python_metrics
        from workloads import CLI_WORDCOUNT

        from cs425_distributed_systems_mp4_mapreduce_spark.queries.sinks import sink_path

        tr = self.tracer
        parent = tr.add(name, t0, t1, op_id)
        counts: dict[str, float] = {}
        for phase, p0, p1, p1_epoch, group in self._phases:
            c = self.counters.group(group)
            if phase == "exec.s":
                # split at the end of the last Spark job: the rest is
                # moving the result to the client and converting it
                end = self.counters.last_job_end(group)
                cut = p1 if end is None else min(p1, max(p0, p1 - (p1_epoch - end)))
                tr.add("exec.s", p0, cut, op_id, parent, **c)
                rows = len(got) if not isinstance(got, tuple) else 1
                tr.add("materialize.s", cut, p1, op_id, parent, rows=rows)
                counts["exec.s"] = counts.get("exec.s", 0) + cut - p0
                counts["materialize.s"] = counts.get("materialize.s", 0) + p1 - cut
                counts["materialize.rows"] = counts.get("materialize.rows", 0) + rows
            else:
                tr.add(phase, p0, p1, op_id, parent, **c)
                counts[phase] = counts.get(phase, 0) + p1 - p0
            if phase in ("queries.build_s", "sqlfront.s", "sink.write_s"):
                counts["queries.build_jobs"] = counts.get("queries.build_jobs", 0) + c["exec.jobs"]
            for k, v in c.items():
                counts[k] = counts.get(k, 0) + v
        if self.last_df is not None:
            counts.update(python_metrics(self.last_df))
        if name == CLI_WORDCOUNT:
            counts["maplejuice.pairs"] = float(got["n"].sum())
        if name == "q_sink_partitioned":
            files = [os.path.join(d, f) for d, _, fs in os.walk(sink_path(self.data_dir, "lineitem_by_returnflag"))
                     for f in fs if f.endswith(".parquet")]
            counts["sink.files"] = len(files)
            counts["sink.bytes"] = sum(os.path.getsize(f) for f in files)
        return counts

    # ------------------------------------------------------------ passes

    def run_pass(self, order: list[str], tag: str, first: bool = False) -> dict:
        from measure import process_tree, read_cpu_times, steal_frac, tree_cpu_s, tree_jit_cpu_s, tree_peak_rss_mb

        pids = process_tree()
        cpu0, jit_cpu0 = tree_cpu_s(pids), tree_jit_cpu_s(pids)
        jit0, gc0 = self.jvm.jit_s(), self.jvm.gc_s()
        host0 = read_cpu_times()
        t0 = time.perf_counter()
        ops, layers = {}, {}
        for i, name in enumerate(order):
            wall, counts = self.run_op(name, f"{tag}.{i}.{name}", first)
            ops[name] = wall
            for k, v in counts.items():
                layers[k] = layers.get(k, 0) + v
        wall = time.perf_counter() - t0
        steal = steal_frac(host0, read_cpu_times())
        pids = process_tree()
        # the JIT compiler threads' share is left out: it is compiling
        # the program, not running it, and it decays pass after pass at a
        # rate that differs from run to run (jvm.jit_s reports it)
        jit_cpu = tree_jit_cpu_s(pids) - jit_cpu0
        cpu = tree_cpu_s(pids) - cpu0 - jit_cpu
        layers["jvm.jit_s"] = self.jvm.jit_s() - jit0
        layers["jvm.gc_s"] = self.jvm.gc_s() - gc0
        layers["exec.cpu_util"] = cpu / (wall * self.slots)
        return {"wall": wall, "op_sum": sum(ops.values()), "cpu": cpu, "jit_cpu": jit_cpu, "ops": ops,
                "layers": layers, "rss": tree_peak_rss_mb(pids), "traced": self.tracer.enabled, "steal": steal}


def sched_floor_s(spark) -> float:
    """bench.py's fixed per-query overhead probe: median wall of a
    trivial one-exchange aggregate over a 1k-row in-memory range."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        (spark.range(1000).groupBy((F.col("id") % 16).alias("k")).agg(F.count(F.lit(1)).alias("n"))
         .agg(F.max(F.xxhash64("k", "n")).alias("c")).collect())
        return time.perf_counter() - t0

    once()
    return statistics.median(once() for _ in range(5))


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit: it exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "dfs"):
        os.makedirs(os.path.join(run_dir, d))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # measure at the driver heap get_spark picks itself (its 8g maximum),
    # whatever the calling shell sets.  The initial heap is pinned at 2g:
    # left to G1's ergonomics, the heap grew past it in some runs and not
    # in others, and peak RSS split into 2.1 GB and 3.2 GB between
    # identical runs
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import numpy as np

    import datagen
    import measure
    import oracle
    from workloads import CLI_WORDCOUNT, WORKLOADS, oracle_of, write_corpus

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    def inputs() -> tuple[str, dict]:
        """The seed's tables, the ops' oracle results and the CLI op's
        corpus, from the cache or made afresh."""
        from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries

        data_dir = datagen.ensure(os.path.join(WORK, "data"), args.seed)
        specs = all_queries()
        expected = oracle.expected(data_dir, {op: oracle_of(specs, op)[0] for op in wl.ops})
        if CLI_WORDCOUNT in wl.ops:
            write_corpus(data_dir)
        return data_dir, expected

    if args.prepare_only:
        inputs()
        return 0
    prepare_env()

    # ---- inputs and expected results: outside every timing, and made in
    # a child process that has exited before the session starts, with the
    # new files synced to disk.  So the measured process is the same
    # whether it made them or found them cached: no DuckDB threads or
    # memory in it, and no writeback of fresh files under its timings
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", wl.name, "--seed", str(args.seed),
         "--seconds", "0", "--prepare-only"],
        check=True, stdout=subprocess.DEVNULL,
    )
    os.sync()
    data_dir, expected = inputs()
    slots = min(4, os.cpu_count() or 1)
    rng = np.random.default_rng(args.seed)
    run_id = f"{wl.name}-{args.seed}"

    # ---- set-up: session, tables, cold pass
    from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import TABLE_NAMES, table

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=slots)
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for name in TABLE_NAMES:
            table(spark, data_dir, name)
        tables_s = time.perf_counter() - t1
        r = Runner(spark, data_dir, run_id, slots, expected)
        cold = r.run_pass(list(wl.ops), "cold", first=True)
        setup_s = session_s + tables_s + cold["op_sum"]

        # ---- warm-up
        warmups = [r.run_pass(list(rng.permutation(wl.ops)), f"warm{i}") for i in range(wl.warmup_passes)]
        # steal-aware gate: steal shows only under load, so it is read
        # from the warm-up passes, not from an idle sample
        if warmups[-1]["steal"] > STEAL_LIMIT:
            warmups.append(r.run_pass(list(rng.permutation(wl.ops)), "quiet"))

        floor = sched_floor_s(spark) if args.trace else 0.0

        # ---- timed passes: as many as --seconds holds at the workload's
        # nominal pass time, and at least the workload's minimum; a count
        # that does not depend on this run's speed
        n_timed = max(wl.min_timed_passes, round(args.seconds / wl.nominal_pass_s))
        measure.reset_peak_rss()
        passes = []
        st0 = measure.read_cpu_times()
        w0 = time.perf_counter()
        for i in range(n_timed):
            r.tracer.enabled = bool(args.trace) and i % 2 == 1
            passes.append(r.run_pass(list(rng.permutation(wl.ops)), f"t{i}"))
        window = time.perf_counter() - w0
        steal = measure.steal_frac(st0, measure.read_cpu_times())
    finally:
        stop_spark(spark)

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    op_times = [t for p in plain for t in p["ops"].values()]
    per_op_median = [statistics.median(p["ops"][o] for p in plain) for o in wl.ops]
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall"] for p in plain),
        "pass_cpu_s": statistics.median(p["cpu"] for p in plain),
        "op_p50_s": statistics.median(op_times),
        "op_geomean_s": math.exp(statistics.fmean(math.log(t) for t in per_op_median)),
        "peak_rss_mb": max(p["rss"] for p in passes),
    }
    detail = {
        "workload": wl.name, "seed": args.seed, "slots": slots, "timed_window_s": window,
        "timed_passes": len(plain), "op_samples": len(op_times), "warmup_passes": len(warmups),
        "host_steal_frac": steal, "errors": r.check.errors[:5],
        "cold_ops": cold["ops"], "pass_walls": [p["wall"] for p in passes],
        "warmup_steal": [p["steal"] for p in warmups], "pass_steal": [p["steal"] for p in passes],
        "pass_cpu": [p["cpu"] for p in passes], "pass_jit_cpu": [p["jit_cpu"] for p in passes],
        "pass_rss": [p["rss"] for p in passes],
        "jit_s": [p["layers"]["jvm.jit_s"] for p in [cold] + warmups + passes],
        "pass_ops": [p["ops"] for p in passes],
    }
    if args.trace:
        metrics = {k: statistics.median(p["layers"].get(k, 0.0) for p in traced) for k in PASS_LAYER}
        metrics.update({
            "session.start_s": session_s, "tables.load_s": tables_s, "sched.floor_s": floor,
            "host.steal_frac": steal, "exec.slots": slots, "warmup.passes": len(warmups),
            "op.samples": len(op_times), "ops.failed_frac": r.check.failed / r.check.attempted,
            "trace.overhead_frac": statistics.median(p["wall"] for p in traced) / e2e["pass_s"] - 1,
        })
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
        trace_path = os.path.join(WORK, f"trace-{wl.name}-{args.seed}.jsonl")
        r.tracer.write(trace_path)
        detail["trace"] = os.path.relpath(trace_path, ROOT)
    else:
        out = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    print(json.dumps({"detail": detail}))
    c = r.check
    print(json.dumps({"correct": c.failed == 0, "attempted": c.attempted, "failed": c.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
