"""Every headline query built under ``double_sums()`` — the form
bench.py times — must compute the same result as its exact
decimal-parity form that t2 checks: same rows, values within
float-summation noise."""

from __future__ import annotations

import numpy as np
import pytest

from cs425_distributed_systems_mp4_mapreduce_spark.functions.parity import double_sums
from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
from conftest import SF_T2

HEADLINE = sorted(n for n, s in all_queries().items() if s.headline)


@pytest.mark.parametrize("name", HEADLINE)
def test_fast_variant_matches_declared(spark, name):
    spec = all_queries()[name]
    with double_sums():
        fast = spec.fn(spark, SF_T2).toPandas()
    slow = spec.fn(spark, SF_T2).toPandas()
    assert sorted(fast.columns) == sorted(slow.columns)
    assert len(fast) == len(slow)
    cols = sorted(fast.columns)
    # align rows on NON-float keys only — float sums differ by ulps
    # between the two accumulator types, which would scramble a sort
    keys = [c for c in cols if fast[c].dtype.kind != "f"]
    f = fast[cols].sort_values(keys).reset_index(drop=True)
    s = slow[cols].sort_values(keys).reset_index(drop=True)
    for c in cols:
        a, b = f[c].to_numpy(), s[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.allclose(a, b, rtol=1e-9, atol=1e-6, equal_nan=True), (name, c)
        else:
            assert (a == b).all(), (name, c)
