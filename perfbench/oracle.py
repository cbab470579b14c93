"""Expected results and output checks.

Every registry op is checked once against its oracle SQL run in DuckDB
over the same generated tables, with the comparison the t2 parity suite
uses (``tests/test_parity.py``: row count, column names, dtypes, then
values bit-exact or within the spec's ``atol``).  The check result is
kept as a fingerprint, (rows, order-insensitive hash), that every later
execution of the op must reproduce.

DuckDB results are cached per data directory, which is itself keyed by
seed, under the op name and a hash of its oracle SQL: a repeated seed
skips the oracle work, and a changed oracle is run afresh.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys

import numpy as np
import pandas as pd

from datagen import TABLES

_TESTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests")


def _parity():
    if _TESTS not in sys.path:
        sys.path.insert(0, _TESTS)
    import test_parity

    return test_parity


def expected(data_dir: str, oracles: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Oracle result per op name, from the cache or from DuckDB."""
    cache = os.path.join(data_dir, "_oracle")
    os.makedirs(cache, exist_ok=True)
    out, todo, paths = {}, {}, {}
    for name, sql in oracles.items():
        path = paths[name] = os.path.join(cache, f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)
        else:
            todo[name] = sql
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                )
            for name, sql in todo.items():
                out[name] = con.execute(sql).df()
                tmp = paths[name] + ".tmp"
                with open(tmp, "wb") as f:
                    pickle.dump(out[name], f)
                os.replace(tmp, paths[name])
        finally:
            con.close()
    return out


def mismatch(got: pd.DataFrame, want: pd.DataFrame, atol: float) -> str | None:
    """None when ``got`` matches the oracle result, else the reason."""
    try:
        _parity().assert_frames_match(got, want, atol)
    except AssertionError as e:
        return str(e) or "mismatch"
    return None


def fingerprint(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, hash) of a result, independent of row and column order."""
    df = df.reindex(sorted(df.columns), axis=1)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


class Checker:
    """Counts op executions and failures.  The first (cold) execution of
    an op is compared with its oracle result and its fingerprint kept;
    every later execution must reproduce that fingerprint.  A result is
    a pandas frame, or a (rows, checksum) pair for large results."""

    def __init__(self) -> None:
        self.reference: dict[str, tuple[int, int]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def first(self, name: str, got, want: pd.DataFrame, atol: float, fetch) -> bool:
        """Check a cold result; ``fetch()`` returns the full frame when
        ``got`` is only a checksum."""
        full = fetch() if isinstance(got, tuple) else got
        why = mismatch(full, want, atol)
        if why is not None:
            return self.fail(name, why)
        self.reference[name] = got if isinstance(got, tuple) else fingerprint(got)
        return True

    def again(self, name: str, got) -> bool:
        fp = got if isinstance(got, tuple) else fingerprint(got)
        if self.reference.get(name) != fp:
            return self.fail(name, f"result {fp} differs from the checked result {self.reference.get(name)}")
        return True

    def fail(self, name: str, why: str) -> bool:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        return False
