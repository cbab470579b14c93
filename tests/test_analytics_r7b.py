"""Round-7b operator properties — the semantics the oracle-parity rows
can't show on their own: PPS pick-count law, kNN-graph shape
invariants, framed-audio consistency with the clip-level decode, a
clean-corpus audit baseline, and sequence-count conservation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cs425_distributed_systems_mp4_mapreduce_spark.queries.events import (
    q_events_sequences,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
    q_knn_graph,
    q_multimodal_audio_windows,
)
from cs425_distributed_systems_mp4_mapreduce_spark.queries.pipeline_ops import (
    _PPS_STEP,
    q_sample_systematic,
    q_validate_constraints,
)
from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table as T
from conftest import SF_T2


def test_pps_pick_count_law(spark):
    """Systematic sampling picks EXACTLY floor(total_weight/step)
    rows per partition class (one per full step of cumulative weight)
    — the property that makes the sample size predictable from the
    aggregate alone at any scale."""
    o = T(spark, SF_T2, "orders")
    totals = {
        r["o_orderpriority"]: r["tw"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint")).alias("tw"))
        .collect()
    }
    picks = {
        r["o_orderpriority"]: r["n"]
        for r in q_sample_systematic(spark, SF_T2)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert picks and set(picks) == set(totals)
    for prio, tw in totals.items():
        assert picks[prio] == tw // _PPS_STEP, prio


def test_pps_heavier_rows_overrepresented(spark):
    """The PPS property itself: mean weight of SELECTED orders exceeds
    the population mean weight (heavier rows are likelier to straddle
    a step boundary)."""
    o = T(spark, SF_T2, "orders")
    pop_mean = o.agg(F.avg("o_totalprice")).first()[0]
    sel = q_sample_systematic(spark, SF_T2)
    sel_mean = sel.agg(F.avg(F.col("w") / 100.0)).first()[0]
    assert sel_mean > pop_mean


def test_knn_graph_shape(spark):
    """Per-source degree = min(k, block_size-1); edges stay inside the
    label block; ranks are 1..degree with strictly non-increasing
    similarity."""
    g = q_knn_graph(spark, SF_T2).collect()
    e = T(spark, SF_T2, "embeddings")
    sizes = {r["label"]: r["n"] for r in e.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()}
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    by_src: dict = {}
    for r in g:
        by_src.setdefault(r["src"], []).append(r)
        assert labels[r["src"]] == r["label"] == labels[r["nbr"]]
        assert r["src"] != r["nbr"]
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(
            range(1, min(5, sizes[labels[src]] - 1) + 1)
        )
        sims = [r["cos_sim"] for r in rows]
        assert all(a >= b for a, b in zip(sims, sims[1:]))
    assert len(by_src) == sum(sizes.values())


def test_audio_windows_consistent_with_clip_decode(spark):
    """Frame features re-aggregate to the clip-level decode: Σ n over
    frames = n_samples, Σ sum_sq / n = mean_square (exact integer
    numerators), and the frame count is ceil(n/100)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
        q_multimodal_audio,
    )

    frames = q_multimodal_audio_windows(spark, SF_T2)
    clip = {r["doc_id"]: r for r in q_multimodal_audio(spark, SF_T2).collect()}
    agg = {
        r["doc_id"]: r
        for r in frames.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_sq").alias("ss"),
            F.count(F.lit(1)).alias("nw"),
        )
        .collect()
    }
    assert set(agg) == set(clip)
    for doc_id, r in agg.items():
        c = clip[doc_id]
        assert r["n"] == c["n_samples"]
        assert r["ss"] / r["n"] == c["mean_square"]
        assert r["nw"] == -(-c["n_samples"] // 100)


def test_audio_windows_zcr_brute_force(spark):
    """ZCR matches a per-sample numpy brute force on a handful of
    clips (independent of both the Spark stage and the SQL oracle —
    a third implementation)."""
    rows = (
        q_multimodal_audio_windows(spark, SF_T2)
        .filter(F.col("doc_id") < 5)
        .collect()
    )
    got = {(r["doc_id"], r["win"]): (r["n"], r["sum_sq"], r["zcr"]) for r in rows}
    for doc_id in range(5):
        n = 500 + doc_id % 500
        i = np.arange(n, dtype=np.int64)
        s = (doc_id * 7 + i * 3) % 2001 - 1000
        for w in range(-(-n // 100)):
            lo, hi = w * 100, min((w + 1) * 100, n)
            seg = s[lo:hi]
            zcr = int(
                sum(
                    1
                    for j in range(max(lo, 1), hi)
                    if s[j] * s[j - 1] < 0
                )
            )
            assert got[(doc_id, w)] == (hi - lo, int((seg * seg).sum()), zcr)


def test_constraint_audit_clean_on_generated_corpus(spark):
    """The generated corpus satisfies every audited rule (FK integrity
    is a documented property of the testdata) — and n_checked equals
    the table row counts, so the report is reading what it claims."""
    rep = {r["rule"]: r for r in q_validate_constraints(spark, SF_T2).collect()}
    o_n = T(spark, SF_T2, "orders").count()
    l_n = T(spark, SF_T2, "lineitem").count()
    assert set(rep) == {
        "lineitem_discount_in_range",
        "lineitem_fk_orders",
        "orders_orderkey_unique",
        "orders_status_domain",
        "orders_totalprice_positive",
    }
    for r in rep.values():
        assert r["n_violations"] == 0, r
    assert rep["orders_status_domain"]["n_checked"] == o_n
    assert rep["lineitem_fk_orders"]["n_checked"] == l_n


def test_constraint_audit_detects_planted_violations(spark, tmp_path):
    """Plant one violation of each orders rule in a copy of the corpus
    and assert the audit counts them — the detection half the clean
    corpus can't show."""
    sf = str(tmp_path)
    o = T(spark, SF_T2, "orders")
    bad = spark.createDataFrame(
        [
            # duplicate of an existing key with negative price + bad status
            (1, 1, "X", -5.0, None, "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    o.select(*bad.columns).unionByName(bad).write.parquet(f"{sf}/orders.parquet")
    T(spark, SF_T2, "lineitem").write.parquet(f"{sf}/lineitem.parquet")
    rep = {r["rule"]: r for r in q_validate_constraints(spark, sf).collect()}
    assert rep["orders_totalprice_positive"]["n_violations"] == 1
    assert rep["orders_status_domain"]["n_violations"] == 1
    assert rep["orders_orderkey_unique"]["n_violations"] == 1
    assert rep["lineitem_fk_orders"]["n_violations"] == 0


def test_sequences_count_conservation(spark):
    """Total order-3 sequence occurrences = Σ_users max(0, n_u − 2);
    checked against the raw per-user event counts (the LEAD chain
    drops exactly two rows per user timeline)."""
    ev = T(spark, SF_T2, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    expect = sum(max(0, r["n"] - 2) for r in per_user)
    # the declared query truncates to top-20; recompute without LIMIT
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    assert s.count() == expect
    top = q_events_sequences(spark, SF_T2).collect()
    assert len(top) <= 20
    ns = [r["n"] for r in top]
    assert ns == sorted(ns, reverse=True)


def test_ivf_xengine_probe_semantics(spark):
    """IVF-probe invariants the hash row can't articulate: the query
    vector itself is candidate #1 at distance 0; every emitted row's
    cell is one of the PROBE nearest cells to the query; and the
    probe can exclude true neighbors (recall < 1 is the declared
    trade) while everything it does emit agrees with the exact metric
    ordering within the probed subset."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.ivf_xengine import (
        _PROBE,
        q_sim_ann_ivf_xengine,
    )

    rows = q_sim_ann_ivf_xengine(spark, SF_T2).collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["dist"] == 0
    assert len({r["cell"] for r in rows}) <= _PROBE
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_soundex_twin_on_census_edge_suite(spark):
    """The DuckDB soundex replication must agree with Spark's builtin
    on the canonical census edge cases (h/w transparency, vowel
    separation, first-letter merging, w-first words) — beyond the
    corpus vocabulary the parity row covers."""
    import duckdb

    from cs425_distributed_systems_mp4_mapreduce_spark.queries.text import (
        _SX_COLLAPSE_SQL,
        _SX_MAP,
    )

    words = [
        "tymczak", "pfister", "jackson", "ashcraft", "honeyman",
        "robert", "rupert", "a", "herman", "wray", "who", "why",
        "oooo", "pppp", "phph", "bhb", "bob", "yyy", "x",
    ]
    sdf = spark.createDataFrame([(w,) for w in words], "w string")
    want = {r["w"]: r["sx"] for r in sdf.select("w", F.soundex("w").alias("sx")).collect()}
    con = duckdb.connect()
    got = dict(
        con.execute(f"""
        WITH coded AS (
          SELECT w, translate(w, 'abcdefghijklmnopqrstuvwxyz', '{_SX_MAP}') AS m
          FROM (SELECT unnest(?) AS w)
        ),
        collapsed AS (
          SELECT w, m, replace(replace({_SX_COLLAPSE_SQL}, '7', ''), '0', '') AS m3
          FROM (SELECT w, m, replace(m, '7', '') AS m_hw FROM coded) t(w, m_raw, m)
        )
        SELECT w,
               upper(substr(w, 1, 1)) ||
               substr(CASE WHEN substr(m_first, 1, 1) BETWEEN '1' AND '6'
                           THEN substr(m3, 2) ELSE m3 END || '000', 1, 3)
        FROM (SELECT w, m3,
                     translate(substr(w, 1, 1),
                               'abcdefghijklmnopqrstuvwxyz', '{_SX_MAP}') AS m_first
              FROM collapsed)
        """, [words]).fetchall()
    )
    assert got == want, {w: (got.get(w), want[w]) for w in words if got.get(w) != want[w]}

def test_wav_features_zero_sample_clip(spark):
    """Review r12: a structurally valid RIFF/WAVE blob with a
    zero-length data chunk decoded to an empty sample array and the
    unguarded mean-square division killed the task; it must yield the
    all-zero feature row instead."""
    import struct

    from cs425_distributed_systems_mp4_mapreduce_spark.operators.multimodal import (
        WAV_RATE,
        wav_features,
    )

    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    chunks = b"".join(
        [b"fmt ", struct.pack("<I", len(fmt)), fmt,
         b"data", struct.pack("<I", 0)]
    )
    empty = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    df = spark.createDataFrame([(1, bytearray(empty))], "doc_id long, blob binary")
    row = wav_features(df).collect()[0]
    assert (row["n_samples"], row["peak"], row["mean_square"]) == (0, 0, 0.0)
