"""End-to-end tests for the reference-shaped CLI client
(cs425_distributed_systems_mp4_mapreduce_spark/__main__.py): the full
put → maple(exe) → juice(exe) → get workflow a reference user runs,
with the checked-in wordcount executables across a real process
boundary, plus sql/grep/file commands.

Job commands call main() in-process so get_spark reuses the suite's
session (a subprocess would cold-start a JVM per command); the file
commands are additionally smoke-tested through a real subprocess since
they never touch Spark.
"""

from __future__ import annotations

import os
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.__main__ import main

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cs425_distributed_systems_mp4_mapreduce_spark",
)
MAPLE_EXE = f"{sys.executable} {os.path.join(PKG, 'exes', 'wordcount_maple.py')}"
JUICE_EXE = f"{sys.executable} {os.path.join(PKG, 'exes', 'wordcount_juice.py')}"

LINES = [
    "the quick brown fox",
    "the lazy dog",
    "the quick dog barks",
    "fox and dog and fox",
]

#: the checked-in exes keep empty tokens (split on ' ', matching the
#: DuckDB STRING_SPLIT oracle of q_maplejuice_pipe_wordcount)
WANT = dict(Counter(w for l in LINES for w in l.split(" ")))


@pytest.fixture()
def dfs(tmp_path):
    return str(tmp_path / "dfs")


def _run(dfs_root, *argv) -> int:
    return main(["--dfs-root", dfs_root, "--cores", "4", *argv])


def test_put_maple_juice_get_wordcount(spark, dfs, tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("\n".join(LINES) + "\n")

    assert _run(dfs, "put", str(src), "corpus") == 0
    assert _run(dfs, "maple", MAPLE_EXE, "3", "wc_int", "corpus") == 0
    assert os.path.isdir(os.path.join(dfs, "wc_int"))
    assert _run(dfs, "juice", JUICE_EXE, "2", "wc_int", "wc_out",
                "delete_input=1") == 0
    assert not os.path.exists(os.path.join(dfs, "wc_int")), "delete_input=1"

    out = tmp_path / "counts.txt"
    assert _run(dfs, "get", "wc_out", str(out)) == 0
    got = {}
    for line in out.read_text().splitlines():
        k, v = line.split("\t")
        got[k] = int(v)
    assert got == WANT


def test_juice_range_partitioner_same_result(spark, dfs, tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("\n".join(LINES) + "\n")
    _run(dfs, "put", str(src), "corpus")
    _run(dfs, "maple", MAPLE_EXE, "2", "wc_int", "corpus")
    assert _run(dfs, "juice", JUICE_EXE, "2", "wc_int", "wc_range", "0",
                "--partitioner", "range") == 0
    out = tmp_path / "r.txt"
    _run(dfs, "get", "wc_range", str(out))
    got = dict(l.split("\t") for l in out.read_text().splitlines())
    assert {k: int(v) for k, v in got.items()} == WANT
    # range partitioner => output keys globally sorted across parts
    keys = [l.split("\t")[0] for l in out.read_text().splitlines()]
    assert keys == sorted(keys)


def test_grep_and_store_and_ls(spark, dfs, tmp_path, capsys):
    src = tmp_path / "log.txt"
    src.write_text("ok line\nERROR one\nfine\nERROR two\n")
    _run(dfs, "put", str(src), "logs")
    assert _run(dfs, "grep", "^ERROR", "logs") == 0
    out = capsys.readouterr().out
    assert "ERROR one" in out and "ERROR two" in out and "ok line" not in out
    assert _run(dfs, "ls", "logs") == 0
    assert _run(dfs, "store") == 0
    assert "logs" in capsys.readouterr().out


def test_sql_filter_shape(spark, dfs, capsys):
    assert _run(
        dfs, "sql", "SELECT ALL FROM nation WHERE ^1\t",
        "--sf-dir", "/root/testdata/sf0.001",
    ) == 0
    out = capsys.readouterr().out
    assert out.strip(), "filter should match nationkey 1* lines"


def test_dataset_name_cannot_escape_root(dfs):
    with pytest.raises(SystemExit):
        _run(dfs, "ls", "../../etc/passwd")


def test_file_commands_via_real_subprocess(tmp_path):
    dfs = str(tmp_path / "dfs")
    src = tmp_path / "f.txt"
    src.write_text("hello\n")
    env = {**os.environ, "MP4_DFS_ROOT": dfs}
    repo = os.path.dirname(PKG)
    r = subprocess.run(
        [sys.executable, "-m", "cs425_distributed_systems_mp4_mapreduce_spark",
         "put", str(src), "f"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0, r.stderr
    r = subprocess.run(
        [sys.executable, "-m", "cs425_distributed_systems_mp4_mapreduce_spark",
         "ls", "f"],
        cwd=repo, env=env, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 0 and "6 bytes" in r.stdout, r.stdout

def test_delete_root_itself_rejected(dfs, tmp_path):
    """Review r12: '.', '' and 'x/..' resolve to the DFS root itself —
    `delete .` used to rmtree every dataset."""
    for name in (".", "x/.."):
        with pytest.raises(SystemExit, match="root itself"):
            _run(dfs, "delete", name)


def test_get_missing_and_dir_dataset(dfs, tmp_path):
    """Review r12: get on a missing dataset raised a raw traceback;
    get on a directory uploaded via put (no part-* files) silently
    wrote an empty output file."""
    with pytest.raises(SystemExit, match="no such dataset"):
        _run(dfs, "get", "nope", str(tmp_path / "o.txt"))

    d = tmp_path / "indir"
    d.mkdir()
    (d / "b.txt").write_text("world\n")
    (d / "a.txt").write_text("hello\n")
    assert _run(dfs, "put", str(d), "ds") == 0
    out = tmp_path / "out.txt"
    assert _run(dfs, "get", "ds", str(out)) == 0
    assert out.read_text() == "hello\nworld\n"  # sorted file order


def _tree_bytes(root: str) -> dict:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in Path(root).rglob("*") if p.is_file()
    }


def test_crashing_maple_keeps_old_dataset(spark, dfs, tmp_path):
    """An exe that exits non-zero fails the maple loudly; the dataset
    already at the prefix stays byte-identical and no staging
    directory is left behind (review r12, ADVICE r13-r14)."""
    src = tmp_path / "input.txt"
    src.write_text("\n".join(LINES) + "\n")
    _run(dfs, "put", str(src), "corpus")
    assert _run(dfs, "maple", MAPLE_EXE, "2", "wc_int", "corpus") == 0
    before = _tree_bytes(os.path.join(dfs, "wc_int"))

    with pytest.raises(Exception, match="status 3"):
        _run(dfs, "maple", "cat >/dev/null; exit 3", "2", "wc_int", "corpus")
    assert _tree_bytes(os.path.join(dfs, "wc_int")) == before
    assert not [n for n in os.listdir(dfs) if ".__tmp__" in n]


def test_maple_command_quoting_reaches_bash_intact(spark, dfs, tmp_path):
    """The exe is a bash command line embedded in a SQL string literal:
    single quotes, backslashes and braces must reach bash unchanged."""
    src = tmp_path / "input.txt"
    src.write_text("x\n")
    _run(dfs, "put", str(src), "corpus")
    cmd = r"""cat >/dev/null; printf '%s\n' 'it'\''s a \back {x}'"""
    assert _run(dfs, "maple", cmd, "1", "quoted", "corpus") == 0
    out = tmp_path / "q.txt"
    _run(dfs, "get", "quoted", str(out))
    assert out.read_text() == "it's a \\back {x}\t\n"
