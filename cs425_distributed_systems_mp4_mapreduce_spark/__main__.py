"""Command-line client: the reference's user surface, end to end.

The reference is COMMAND-driven [spec: SURVEY.md §3.1 — MP4 client
CLI]: a user types ``maple``/``juice`` job submissions, the two-shape
SQL queries, SDFS file commands, and distributed grep.  This module is
that client for the Spark engine, so a user of the reference can run
the same workflows verbatim-shaped:

    python -m cs425_distributed_systems_mp4_mapreduce_spark put lines.txt corpus
    python -m cs425_distributed_systems_mp4_mapreduce_spark \
        maple "python exes/wordcount_maple.py" 8 wc_int corpus
    python -m cs425_distributed_systems_mp4_mapreduce_spark \
        juice "python exes/wordcount_juice.py" 4 wc_int wc_out delete_input=1
    python -m cs425_distributed_systems_mp4_mapreduce_spark get wc_out counts.txt
    python -m cs425_distributed_systems_mp4_mapreduce_spark \
        sql "SELECT ALL FROM documents WHERE spark"
    python -m cs425_distributed_systems_mp4_mapreduce_spark grep ERROR corpus

Mapping (Spark-first, not a port):
- **SDFS → a DFS-root directory** (``--dfs-root`` /
  ``$MP4_DFS_ROOT``, default ``/tmp/mp4_dfs``): datasets are files or
  part-file directories under it.  put/get/delete/ls/store are the
  client file commands [spec: A8-A10]; replication/quorum is the
  storage layer's job (HDFS/S3 on a real deployment) — here a local
  directory stands in, exactly as SURVEY §2.1 scopes it.
- **maple** [spec: A1] runs an ARBITRARY executable over the dataset's
  lines (true process boundary, stdin/stdout, ``key\\tvalue``
  framing) across ``num_maples`` tasks and persists the intermediate
  pairs as a text dataset named by the prefix — the reference's SDFS
  intermediates, minus the one-file-per-key layout (per-key files ARE
  a shuffle materialization; Spark's shuffle does that job at juice
  time, spill-aware).  The executable runs under Spark SQL's script
  transformation (``operators/maplejuice.maple_pipe``): the JVM reads
  the dataset, feeds the process and writes its output, with no
  Python worker in the path.
- **juice** [spec: A2] re-reads the prefix dataset, shuffles by key
  with the hash [A3] or range [A4] partitioner and sorts each task's
  pairs by key in the JVM (sorted reducer input, Hadoop-streaming
  contract), pipes each task's stream through the juice executable
  (``juice_pipe``), writes the dest dataset; ``delete_input=1``
  removes the intermediates on success.
- **sql** compiles the reference's two query shapes through
  ``plans/sql_frontend`` onto the parquet tables (``--sf-dir``).
- **grep** [spec: A12] regex-filters a DFS text dataset.

Results stream to stdout via ``toLocalIterator`` (never a driver-side
``collect`` of an unbounded result).
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys


def _dfs(root: str, name: str) -> str:
    path = os.path.normpath(os.path.join(root, name))
    norm_root = os.path.normpath(root)
    if not (path + os.sep).startswith(norm_root + os.sep):
        raise SystemExit(f"dataset name escapes the DFS root: {name!r}")
    if path == norm_root:
        # '.', '' or 'x/..' resolve to the root itself — `delete .`
        # would rmtree every dataset (review r12)
        raise SystemExit(f"dataset name resolves to the DFS root itself: {name!r}")
    return path


def _spark(args):
    from .session import get_spark

    return get_spark(
        "mp4_cli",
        cores=str(args.cores),
        shuffle_partitions=32,
    )


# ------------------------------------------------------------ file commands

def cmd_put(args) -> int:
    dst = _dfs(args.dfs_root, args.dataset)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.isdir(args.localpath):
        shutil.copytree(args.localpath, dst, dirs_exist_ok=True)
    else:
        shutil.copyfile(args.localpath, dst)
    print(f"put {args.localpath} -> {dst}")
    return 0


def cmd_get(args) -> int:
    src = _dfs(args.dfs_root, args.dataset)
    if not os.path.exists(src):
        # graceful like cmd_delete/cmd_ls, not a raw traceback
        raise SystemExit(f"no such dataset: {args.dataset!r}")
    if os.path.isdir(src):
        # a saveAsTextFile dataset: concatenate part files in order so
        # the user receives ONE file, as SDFS get would produce.  A
        # directory uploaded via put has arbitrary file names — fall
        # back to every regular file in sorted order rather than
        # silently writing an empty output (review r12).
        parts = sorted(
            os.path.join(src, p) for p in os.listdir(src)
            if p.startswith("part-") and not p.endswith(".crc")
        )
        if not parts:
            # os.walk so a put-uploaded dataset with NESTED
            # subdirectories concatenates completely instead of
            # silently producing partial output (ADVICE r13); prune
            # '_'-prefixed METADATA DIRS during the walk so a crashed
            # saveAsTextFile's _temporary/ task-attempt files are never
            # concatenated as data (ADVICE r14)
            def _walk(root):
                for d, dirs, fs in os.walk(root):
                    dirs[:] = [x for x in dirs if not x.startswith("_")]
                    yield d, fs

            parts = sorted(
                os.path.join(d, f)
                for d, fs in _walk(src) for f in fs
                if not f.endswith(".crc") and not f.startswith("_")
            )
        with open(args.localpath, "wb") as out:
            for p in parts:
                with open(p, "rb") as f:
                    shutil.copyfileobj(f, out)
    else:
        shutil.copyfile(src, args.localpath)
    print(f"get {src} -> {args.localpath}")
    return 0


def cmd_delete(args) -> int:
    path = _dfs(args.dfs_root, args.dataset)
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)
    else:
        print(f"no such dataset: {args.dataset}", file=sys.stderr)
        return 1
    print(f"deleted {args.dataset}")
    return 0


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def cmd_ls(args) -> int:
    path = _dfs(args.dfs_root, args.dataset)
    if not os.path.exists(path):
        print(f"no such dataset: {args.dataset}", file=sys.stderr)
        return 1
    kind = "dir" if os.path.isdir(path) else "file"
    print(f"{args.dataset}\t{kind}\t{_du(path)} bytes\t{path}")
    return 0


def cmd_store(args) -> int:
    root = args.dfs_root
    if not os.path.isdir(root):
        return 0
    for name in sorted(os.listdir(root)):
        if ".__tmp__" in name:
            # in-flight (or orphaned) _save_text staging dir, not a
            # dataset (ADVICE r13)
            continue
        print(f"{name}\t{_du(os.path.join(root, name))} bytes")
    return 0


# ------------------------------------------------------------- job commands

def _save_text(df, path: str) -> None:
    # write to a temp sibling, swap in only on success: deleting the
    # destination BEFORE the job runs destroys the previous dataset
    # when the user exe crashes mid-job (review r12).  tmp is cleaned
    # only for failures BEFORE the destination is deleted (a crashed
    # job must not leave an orphan posing as a dataset in ls/get —
    # ADVICE r13); once the old dataset is gone, tmp is the ONLY copy
    # of the result, so a failed swap leaves it in place for recovery
    # instead of destroying both (ADVICE r14).
    tmp = f"{path}.__tmp__{os.getpid()}"
    if os.path.exists(tmp):
        shutil.rmtree(tmp) if os.path.isdir(tmp) else os.remove(tmp)
    try:
        df.write.text(tmp)
    except BaseException:
        if os.path.exists(tmp):
            shutil.rmtree(tmp) if os.path.isdir(tmp) else os.remove(tmp)
        raise
    if os.path.exists(path):
        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    os.replace(tmp, path)


def cmd_maple(args) -> int:
    from .operators.maplejuice import maple_pipe

    spark = _spark(args)
    src = _dfs(args.dfs_root, args.sdfs_src_directory)
    pairs = maple_pipe(spark.read.text(src), args.maple_exe, args.num_maples)
    _save_text(pairs, _dfs(args.dfs_root, args.prefix))
    print(f"maple done: intermediates at dataset {args.prefix!r}")
    return 0


def cmd_juice(args) -> int:
    from .operators.maplejuice import juice_pipe

    spark = _spark(args)
    inter = _dfs(args.dfs_root, args.prefix)
    out = juice_pipe(
        spark.read.text(inter), args.juice_exe, args.num_juices,
        partitioner=args.partitioner,
    )
    _save_text(out, _dfs(args.dfs_root, args.sdfs_dest_filename))
    if args.delete_input:
        shutil.rmtree(inter)
    print(f"juice done: output at dataset {args.sdfs_dest_filename!r}")
    return 0


def cmd_sql(args) -> int:
    from .plans.sql_frontend import run_maplejuice_sql

    spark = _spark(args)
    df = run_maplejuice_sql(spark, args.sf_dir, args.query)
    n = 0
    for row in df.toLocalIterator():
        print("\t".join("" if v is None else str(v) for v in row))
        n += 1
    print(f"({n} rows)", file=sys.stderr)
    return 0


def cmd_grep(args) -> int:
    spark = _spark(args)
    src = _dfs(args.dfs_root, args.dataset)
    lines = spark.sparkContext.textFile(src)
    pat = re.compile(args.pattern)
    n = 0
    for line in lines.filter(lambda l: pat.search(l) is not None).toLocalIterator():
        print(line)
        n += 1
    print(f"({n} matching lines)", file=sys.stderr)
    return 0


# ------------------------------------------------------------------ parser

def _delete_input(s: str) -> bool:
    if s in ("delete_input=1", "1"):
        return True
    if s in ("delete_input=0", "0"):
        return False
    raise argparse.ArgumentTypeError("expected delete_input={0,1}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m cs425_distributed_systems_mp4_mapreduce_spark",
        description=__doc__.splitlines()[0],
    )
    p.add_argument(
        "--dfs-root",
        default=os.environ.get("MP4_DFS_ROOT", "/tmp/mp4_dfs"),
        help="directory standing in for SDFS (default $MP4_DFS_ROOT or /tmp/mp4_dfs)",
    )
    p.add_argument(
        "--cores",
        default=os.environ.get("SPARK_GRAFT_CPUS", "8"),
        help="local[] parallelism for job commands",
    )
    sub = p.add_subparsers(dest="command", required=True)

    sp = sub.add_parser("put", help="upload a local file/dir as a dataset")
    sp.add_argument("localpath")
    sp.add_argument("dataset")
    sp.set_defaults(fn=cmd_put)

    sp = sub.add_parser("get", help="download a dataset to one local file")
    sp.add_argument("dataset")
    sp.add_argument("localpath")
    sp.set_defaults(fn=cmd_get)

    sp = sub.add_parser("delete", help="delete a dataset")
    sp.add_argument("dataset")
    sp.set_defaults(fn=cmd_delete)

    sp = sub.add_parser("ls", help="show one dataset")
    sp.add_argument("dataset")
    sp.set_defaults(fn=cmd_ls)

    sp = sub.add_parser("store", help="list all datasets")
    sp.set_defaults(fn=cmd_store)

    sp = sub.add_parser("maple", help="map phase over an executable [spec A1]")
    sp.add_argument("maple_exe", help="shell command reading lines on stdin")
    sp.add_argument("num_maples", type=int)
    sp.add_argument("prefix", help="intermediate dataset name")
    sp.add_argument("sdfs_src_directory", help="input dataset")
    sp.set_defaults(fn=cmd_maple)

    sp = sub.add_parser("juice", help="reduce phase over an executable [spec A2]")
    sp.add_argument("juice_exe", help="shell command reading sorted k\\tv lines")
    sp.add_argument("num_juices", type=int)
    sp.add_argument("prefix", help="intermediate dataset name")
    sp.add_argument("sdfs_dest_filename", help="output dataset")
    sp.add_argument(
        "delete_input", nargs="?", type=_delete_input, default=False,
        help="delete_input={0,1}",
    )
    sp.add_argument(
        "--partitioner", choices=("hash", "range"), default="hash",
        help="key->task assignment [spec A3/A4]",
    )
    sp.set_defaults(fn=cmd_juice)

    sp = sub.add_parser("sql", help="the two MapleJuice SQL shapes")
    sp.add_argument("query")
    sp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    sp.set_defaults(fn=cmd_sql)

    sp = sub.add_parser("grep", help="distributed grep [spec A12]")
    sp.add_argument("pattern")
    sp.add_argument("dataset")
    sp.set_defaults(fn=cmd_grep)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
