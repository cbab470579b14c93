"""The benchmark's workloads and the ops they run.

An op is one user action, timed from outside the package at its public
calls.  A registry op calls ``registry.all_queries()[name].fn`` (the
function the oracle checks) and brings the result to the client with
``toPandas``.  The MapleJuice CLI op drives ``__main__``'s
``cmd_put``/``cmd_maple``/``cmd_juice``/``cmd_get`` over a DFS root the
benchmark owns.  Each op reports its phases to the runner; the phase
names are the layers of ``README.md``.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from dataclasses import dataclass

import pandas as pd

#: the op that drives put -> maple -> juice -> get through the CLI
CLI_WORDCOUNT = "cli_wordcount"

#: layer charged with the build phase of a registry op, where that is
#: not plain driver-side query construction
BUILD_LAYER = {
    "q_maplejuice_sql_join": "sqlfront.s",
    "q_sink_partitioned": "sink.write_s",
}


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    #: typical warm pass wall on 4 cores; sizes the number of timed passes
    #: so every run measures the same passes, however fast it goes
    nominal_pass_s: float
    #: fewest timed passes, whatever --seconds says
    min_timed_passes: int
    #: passes after the cold one and before the timed ones.  A fixed
    #: count, not "until JIT time per pass levels off": JIT time per pass
    #: keeps falling for 10+ passes, so a data-dependent count puts each
    #: run's measuring point at a different place on that curve
    warmup_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        # relational and window headline queries at sf0.1: each op takes
        # 0.1-1 s on 4 cores, so per-op build, planning, scheduling and
        # JIT dominate and about half the cores are busy
        Workload(
            "olap_star",
            (
                "q_agg_distinct_users", "q_events_funnel", "q_filter_regex", "q_join_inner",
                "q_window_rank", "q_window_running", "q_tpch_q9",
            ),
            nominal_pass_s=3.5, min_timed_passes=4, warmup_passes=2,
        ),
        # the Python kernel boundary, the SQL frontend, the partitioned
        # write path and the MapleJuice CLI with its process pipes, all
        # of which olap_star bypasses
        Workload(
            "llm_maplejuice",
            (
                "q_sim_pairs", "q_maplejuice_sql_join", "q_maplejuice_wordcount",
                "q_sink_partitioned", CLI_WORDCOUNT,
            ),
            # every op here speeds up and slows down with the host, by
            # up to a fifth between runs, so it takes more passes to
            # reach a steady median; more than five make a slow host's
            # run campaign overrun its time limit
            nominal_pass_s=5.5, min_timed_passes=5, warmup_passes=1,
        ),
    )
}


def corpus_path(data_dir: str) -> str:
    return os.path.join(data_dir, "_corpus.txt")


def write_corpus(data_dir: str) -> None:
    """The documents' text, one line per document: the CLI op's input."""
    import pyarrow.parquet as pq

    dst = corpus_path(data_dir)
    if os.path.exists(dst):
        return
    texts = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    tmp = dst + ".tmp"
    with open(tmp, "w") as f:
        for t in texts.column("text").to_pylist():
            f.write(t + "\n")
    os.replace(tmp, dst)


def checksum(df) -> tuple[int, int]:
    """(rows, checksum) of a DataFrame as one aggregate row.  Hashing
    every output column forces Catalyst to compute all of them (a bare
    count() lets it prune result-only work)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).bitwiseAND(F.lit(0xFFFFFFFF))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def run_query(x, name: str) -> pd.DataFrame | tuple[int, int]:
    """One registry op: build, (plan,) execute and materialize.  Small
    results come to the client as pandas; large ones as a checksum."""
    spec = x.specs[name]
    with x.phase(BUILD_LAYER.get(name, "queries.build_s")):
        df = spec.fn(x.spark, x.data_dir)
    if x.tracer.enabled:
        with x.phase("plan.s"):
            df._jdf.queryExecution().executedPlan()
    with x.phase("exec.s"):
        out = df.toPandas() if x.small(name) else checksum(df)
    x.last_df = df
    return out


def run_cli_wordcount(x) -> pd.DataFrame:
    """WordCount the way a user of the reference runs it: put the corpus
    into the DFS, maple and juice through the two standalone executables
    (a real process boundary), get the result back as one file."""
    from cs425_distributed_systems_mp4_mapreduce_spark import __main__ as cli

    exes = os.path.join(os.path.dirname(cli.__file__), "exes")
    py = sys.executable or "python3"
    parser = cli.build_parser()
    out_file = os.path.join(x.work_dir, "wc_out.txt")

    def call(*argv: str) -> None:
        args = parser.parse_args(["--dfs-root", x.dfs_root, "--cores", str(x.slots), *argv])
        with contextlib.redirect_stdout(io.StringIO()):
            rc = args.fn(args)
        if rc:
            raise RuntimeError(f"CLI {argv[0]} exited with {rc}")

    with x.phase("maplejuice.put_s"):
        call("put", corpus_path(x.data_dir), "corpus")
    with x.phase("maplejuice.maple_s"):
        call("maple", f"{py} {os.path.join(exes, 'wordcount_maple.py')}", str(x.slots), "wc_int", "corpus")
    with x.phase("maplejuice.juice_s"):
        call(
            "juice", f"{py} {os.path.join(exes, 'wordcount_juice.py')}", str(x.slots),
            "wc_int", "wc_out", "delete_input=1",
        )
    with x.phase("maplejuice.get_s"):
        call("get", "wc_out", out_file)
    words, counts = [], []
    with open(out_file) as f:
        for line in f:
            w, _, n = line.rstrip("\n").partition("\t")
            words.append(w)
            counts.append(int(n))
    return pd.DataFrame({"word": pd.Series(words, dtype=object), "n": pd.Series(counts, dtype="int64")})


def run_op(x, name: str) -> pd.DataFrame:
    if name == CLI_WORDCOUNT:
        return run_cli_wordcount(x)
    return run_query(x, name)


def oracle_of(specs, name: str) -> tuple[str, float]:
    """(oracle SQL, atol) an op's result is checked against."""
    spec = specs["q_maplejuice_wordcount" if name == CLI_WORDCOUNT else name]
    if spec.oracle is None:
        raise ValueError(f"op {name} has no oracle SQL")
    return spec.oracle, spec.atol
