"""Round-9 regression fixtures for the ADVICE r8 findings.

Each test builds a minimal parquet fixture triggering the exact hazard
the driver testdata never does (a Bloom probe landing entirely on
zero-bit words, a corpus with fewer distinct keys than the KMV k, a
doc_id large enough to overflow the raw Knuth multiply), so the
repaired paths stay pinned.
"""

from __future__ import annotations

import pandas as pd

from cs425_distributed_systems_mp4_mapreduce_spark.operators.sampling import (
    KNUTH as _KNUTH,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.pipeline_ops import (
    _MIX_B,
    q_mix_temperature,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.sketches import (
    _KMV_K,
    q_sketch_bloom_xengine,
    q_sketch_kmv_xengine,
)


def _write(tmp_path, name, df):
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def test_twopass_rank_equals_global_rank(spark):
    """twopass_rank must reproduce row_number() OVER (ORDER BY value,
    tie) exactly, including colliding-bucket ties and values spanning
    many buckets (the q_agg_deciles_twopass hazard class)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cs425_distributed_systems_mp4_mapreduce_spark.operators.skew import (
        twopass_rank,
    )

    # adversarial: repeated values (ties), all-in-one-bucket runs,
    # and a wide spread — deterministic pseudo-random
    vals = [(i * 7919) % 23 * 4096 + (i % 5) for i in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "tie LONG, v LONG"
    )
    got = {
        r["tie"]: r["rk"]
        for r in twopass_rank(df, "v", "tie", 8192, "rk").collect()
    }
    want = {
        r["tie"]: r["rk"]
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy("v", "tie")).cast("long")
        ).collect()
    }
    assert got == want


def test_ntile_closed_form_matches_ntile(spark):
    """The (rank, n) -> tile arithmetic must equal ntile(k) for every
    n mod k residue including n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cs425_distributed_systems_mp4_mapreduce_spark.operators.skew import (
        ntile_expr as _ntile_expr,
    )

    for n in (1, 3, 4, 5, 6, 9, 10, 11, 47, 100):
        df = spark.createDataFrame([(i,) for i in range(1, n + 1)], "r LONG")
        rows = (
            df.withColumn("n", F.lit(n).cast("long"))
            .withColumn("closed", F.expr(_ntile_expr("r", "n", 5)))
            .withColumn("real", F.ntile(5).over(Window.orderBy("r")))
            .collect()
        )
        assert all(r["closed"] == r["real"] for r in rows), n


def test_bloom_probe_counts_zero_bit_words(spark, tmp_path):
    """ADVICE r8 (low): with ONE member, the filter sets bits in at
    most 3 of the 67 words; most non-member probes hit words absent
    from the filter table entirely.  The old inner join dropped those
    probes from `tested`, undercounting n_nonmembers; the LEFT join
    must count every candidate exactly once."""
    _write(tmp_path, "orders", pd.DataFrame({"o_custkey": [7, 7, 7]}))
    n_cust = 40
    _write(
        tmp_path,
        "customer",
        pd.DataFrame({"c_custkey": list(range(1, n_cust + 1))}),
    )

    row = q_sketch_bloom_xengine(spark, str(tmp_path)).collect()[0]
    # every candidate (n_cust real keys + n_cust shifted non-members)
    # must contribute to exactly one cohort
    assert row["n_members"] == 1
    assert row["n_nonmembers"] == 2 * n_cust - 1
    assert row["false_negatives"] == 0  # the zero-FN theorem
    # with <=3 set bits in 4096 the FPR is ~0 on 79 probes
    assert 0 <= row["false_positives"] <= 2


def test_kmv_degenerate_under_k_distinct(spark, tmp_path):
    """ADVICE r8 (low): fewer distinct keys than k=64 -- the DuckDB
    oracle's OFFSET 63 yields zero rows; Spark must agree (the old
    limit(64).agg(max) emitted one row with a wrong kth)."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_custkey": list(range(1, _KMV_K // 2 + 1)) * 2}),
    )
    assert q_sketch_kmv_xengine(spark, str(tmp_path)).count() == 0


def test_kmv_exactly_k_distinct_still_reports(spark, tmp_path):
    """At exactly n = k the bottom-k is full and the report row must
    come back (the guard is >= k, not > k)."""
    _write(
        tmp_path,
        "orders",
        pd.DataFrame({"o_custkey": list(range(1, _KMV_K + 1))}),
    )
    out = q_sketch_kmv_xengine(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["n_exact"] == _KMV_K


def test_mix_temperature_huge_doc_ids(spark, tmp_path):
    """ADVICE r8 (low): doc_id * 2654435761 overflows int64 past
    ~3.5e9 ids (DuckDB raises, Spark wraps).  The reduced form
    (doc_id % 2^20) * K % 2^20 is congruent and bounded; pin the kept
    set against a Python replay on ids around 2^40."""
    base = 1 << 40
    ids = [base + i for i in range(200)]
    _write(
        tmp_path,
        "documents",
        pd.DataFrame(
            {
                "doc_id": ids,
                "source": ["web"] * 150 + ["books"] * 50,
                "n_chars": [100] * 200,
            }
        ),
    )
    out = {
        r["source"]: r for r in q_mix_temperature(spark, str(tmp_path)).collect()
    }
    # python replay of the exact keep rule per source
    import math

    n = {"web": 150, "books": 50}
    for src in ("web", "books"):
        thr = int(math.floor(math.sqrt(50 / n[src]) * _MIX_B))
        kept = sum(
            1
            for i, s in zip(ids, ["web"] * 150 + ["books"] * 50)
            if s == src and ((i % _MIX_B) * _KNUTH) % _MIX_B < thr
        )
        assert out[src]["threshold"] == thr
        assert out[src]["n_kept"] == kept
        assert out[src]["kept_chars"] == kept * 100
