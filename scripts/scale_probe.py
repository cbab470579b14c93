#!/usr/bin/env python
"""10x AND 100x scale probe (VERDICT r4 task 2; second decade + AQE
skew + IVF probe-vs-scan added r6): turn the 100-TB posture from
"argued from plans" into "measured across two decades of corpus".

Generates one-off ~10x (/tmp/sf1) and ~100x (/tmp/sf10: 500k docs,
60M lineitem, 10M events, 200k embeddings) corpora by
replicate+perturb of the sf0.1 driver testdata, then measures:

  (a) candidate-volume curves for every sub-quadratic discovery family
      (banded MinHash, SimHash, hyperplane LSH, AllPairs/PPJoin) at
      n=5k -> 50k documents / 2k -> 20k embeddings;
  (b) wall-time scaling of shuffle-heavy headline queries at
      sf0.1 -> sf1 (10x rows): a scalable plan should grow ~linearly
      (ratio ~10 on a fixed 32-core box means perfect CPU-bound
      linearity; well under counts as sublinear);
  (c) the AllPairs vocabulary-saturation curve: candidates at
      n = 5k/10k/20k/50k on the SAME saturating vocabulary, giving the
      docstring's "degrades as token frequencies grow" caveat a
      measured saturation point.

Perturbation discipline (what makes the 10x corpus honest):
  documents  : each replica doc mixes one THIRD of the words of three
               consecutive source docs (i-1, i, i+1), then permutes —
               global word frequencies are exactly preserved (every
               source word placed exactly once per replica, so
               vocabulary saturation is real: 10x occurrences of the
               same tokens) while BOTH the 3-gram shingle sets and the
               unigram frequency profiles decorrelate from any single
               source doc.  A plain per-doc permutation is NOT enough:
               it preserves the unigram multiset, and SimHash (whose
               features are order-insensitive) then sees every replica
               as a true near-dup of its source — the first probe run
               measured exactly that (133x candidate "growth" that was
               planted true positives, not bucketing failure).  Docs
               with < 6 words get a replica tag token so they cannot
               become exact duplicates 10x over.
  events     : new user-id / event-id ranges per replica, timestamps
               kept — per-user event density (the interval-join and
               window cost driver) is constant as N grows.
  lineitem / orders : new orderkey ranges, dims (part/supplier/
               customer) FIXED — the realistic shape: facts grow,
               dimensions don't, per-dim-key skew grows 10x.
  embeddings : replica-seeded dimension permutation — norms and the
               intra-replica cosine distribution are exactly
               preserved; cross-replica cosines decorrelate.

plus (r6): (d) wall-time scaling at sf10 (100x rows) with
ratio_at_100x_rows per query; (e) an AQE skew-join split
demonstration on a 20M-row 90%-one-key join (on/off wall + plan
assertion); (f) probe-vs-scan speedup and recall for the persisted
IVF index at 200k vectors.

Results land in SCALE_PROBE.json (repo root) and are summarized in
SURVEY.md §6 / PLANS.md.  Run on an idle box: ~45-60 min.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
#: second measured decade (VERDICT r5 task 4): 100 replicas ≈ sf10 —
#: 500k documents / 60M lineitem / 10M events / 200k embeddings.
DST10 = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/sf10")
REPLICAS = 10
REPLICAS10 = 100
OFF = 10_000_000  # id offset per replica — far above any source id

#: Heaps-law probe corpora (VERDICT r7 task 4): the replicate+perturb
#: corpora above deliberately PIN the vocabulary (31 words at every
#: scale), which is the worst case for LSH collision floors and a
#: degenerate case for tokenizer training.  These corpora instead draw
#: words Zipf(a=1.3) from an unbounded rank space, so the vocabulary
#: grows ~N^beta (beta measured and recorded) — the regime real
#: corpora live in.
HEAPS1 = os.environ.get("SPARK_GRAFT_HEAPS1_DIR", "/tmp/heaps1")
HEAPS10 = os.environ.get("SPARK_GRAFT_HEAPS10_DIR", "/tmp/heaps10")
HEAPS100 = os.environ.get("SPARK_GRAFT_HEAPS100_DIR", "/tmp/heaps100")
HEAPS_DOCS = {HEAPS1: 5_000, HEAPS10: 50_000, HEAPS100: 500_000}

WALL_QUERIES = [
    "q_tpch_q9",
    "q_join_threeway",
    "q_topk_revenue",
    "q_tpch_q18",
    "q_agg_pricing",
    "q_window_rank",
    "q_dedup_exact",
    "q_text_tokens",
    "q_filter_regex",
    "q_dedup_near",
    "q_events_funnel",
    "q_window_locf",
    "q_outliers_mad",
    "q_mix_sources",
    # round-6: the Arrow pandas-UDF path (NFC) — does a Python stage
    # scale linearly with corpus size? — and the join-view IVM query
    # (its refresh-vs-recompute separation is probed separately in
    # _ivm_refresh_probe; this row tracks the in-query form).
    "q_text_nfc",
    "q_mv_incremental_join",
    # round-7: the md5-feature classifier (native-HOF map-only path —
    # per-row cost is O(tokens), so wall must track corpus mass) and
    # the secondary sort (collect_list hash shuffle whose per-group
    # state is bounded by order width, so wall must track row count,
    # not group width).
    "q_text_classifier",
    "q_secondary_sort",
    # round-7b: the partitioned-window shapes (RLE runs, PPS prefix
    # sums, 8-lag EWMA, double-LEAD sequences), the one-pass scan
    # shapes (corr matrix, constraint audit + its FK anti join), the
    # Arrow 1→N DSP stage (audio framing — does a 1→N Python stage
    # track corpus mass?).  q_knn_graph is deliberately absent:
    # block-quadratic by design, its scale lever is block size, not
    # corpus size (measured by the candidate curves instead).
    # q_sim_ann_ivf_xengine is deliberately absent after MEASUREMENT:
    # its literal-folded per-row centroid assignment is an interpreted
    # higher-order-function chain (HOFs never enter codegen), ~2 h of
    # CPU at 640k vectors — the xengine twin exists for cross-engine
    # hash parity at driver SF only; the IVF shape that scales is the
    # persisted bucket-pruned index, measured by _ivf_probe below.
    "q_encode_rle",
    "q_sample_systematic",
    "q_window_ewma",
    "q_events_sequences",
    "q_stats_corr_matrix",
    "q_validate_constraints",
    "q_multimodal_audio_windows",
    # round-7c: the two distributed global-order decompositions
    # (two-pass bucket-refine percentile — wall should track the TWO
    # scans, not a sort; two-phase prefix-scan concurrency — the
    # offsets table stays #partitions rows at any SF), the watermark
    # twin (per-batch metadata broadcast + windowed agg), the PIT
    # union+window join, and the collect_list frame median (O(frame)
    # state per row — wall must track rows, not frame²).
    "q_agg_percentile_twopass",
    "q_interval_concurrency",
    "q_stream_watermark",
    "q_join_pointintime",
    "q_window_median",
    # round-9 (VERDICT r8 task 4): the round-8 single-exchange shapes
    # — batch gaps-and-islands sessionization (two windows + agg on
    # ONE (user, time) exchange), CUSUM via prefix-sum − running-min
    # (two stacked windows, same exchange), and the exact KS statistic
    # whose ECDF window runs over the bounded VALUE DOMAIN census, so
    # its wall must track the census, not the row count.  The SemDeDup
    # C ∝ √N end-to-end wall is probed separately (semdedup section —
    # its cell count is a function of N, so it can't share this
    # fixed-plan table).
    "q_events_sessionize",
    "q_window_cusum",
    "q_stats_ks_drift",
]

#: round-9 pack E–H shapes worth a measured wall (run via
#: --sections=wall_r9; merged into the same wall_scaling table):
#: Mann–Whitney and the trimmed mean (value-domain census windows —
#: wall must track the census build, the KS discipline), the n-gram
#: novelty curve (shingle census + same-key join-back — tracks corpus
#: mass), the inter-arrival histogram (one (user, time) exchange +
#: 33-group census), and kNN classification (Arrow-batched dot kernel
#: against an 8-row broadcast — map-only, must track corpus mass).
R9_WALL_QUERIES = [
    "q_stats_mannwhitney",
    "q_agg_trimmed_mean",
    "q_text_ngram_novelty",
    "q_events_interarrival",
    "q_sim_knn_classify",
    # pack I–L shapes (second wall_r9 batch): the bucketed band join
    # (candidates = matches + bucket collisions — wall must track the
    # match volume, not N·M), the basket pair exchange (bounded by
    # order width — linear in orders) and the rule algebra on top of
    # it, the single-(user,time)-exchange bounce census (sessionize's
    # near-flat precedent), and the Kruskal value-domain census pivot
    # (the KS "census, not rows" discipline).
    "q_join_band",
    "q_graph_degree_census",
    "q_rules_association",
    "q_events_bounce",
    "q_stats_kruskal",
    # pack O–S shapes (third wall_r9 batch): the signed-rank census
    # (one user aggregation + the |d| value-domain rank window — the
    # census discipline again), Ljung-Box / Page-Hinkley / stochastic
    # (CALENDAR-bounded series → walls must be flat in corpus mass
    # beyond the daily-census scan), the readability projection
    # (map-only regexp censuses — pure linear-in-mass), the MinHash
    # estimator-fidelity census (signature aggregation: 16 int64 per
    # doc regardless of length), and MMR (one corpus relevance scan +
    # SF-independent greedy stages).
    "q_stats_wilcoxon_signed",
    "q_stats_ljung_box",
    "q_window_stochastic",
    "q_text_readability",
    "q_dedup_minhash_error",
    "q_sim_mmr",
]
N_RUNS = 3


# --------------------------------------------------------------- generation


def _perturb_documents_one(
    tbl: pa.Table, split_words: list, r: int
) -> pa.Table:
    """One perturbed document replica (r ≥ 1): thirds of docs i-r, i,
    i+r (stride r so different replicas of the same doc mix DIFFERENT
    sources — a fixed stride would make replicas unigram-identical to
    each other, replanting the near-dup artifact).  Each source doc
    contributes each of its thirds exactly once per replica, so
    global word frequencies are preserved exactly."""
    doc_id = tbl.column("doc_id").to_numpy()
    n_docs = len(split_words)
    rng = np.random.default_rng(1000 + r)
    new_text = []
    for i in range(n_docs):
        words = []
        for off, third in ((-r, 0), (0, 1), (r, 2)):
            w = split_words[(i + off) % n_docs]
            k3 = len(w) // 3
            lo, hi = third * k3, (third + 1) * k3 if third < 2 else len(w)
            words.extend(w[lo:hi])
        if len(words) < 6:
            words = words + [f"rep{r}tag{i % 7}"]
        order = rng.permutation(len(words))
        new_text.append(" ".join(words[j] for j in order))
    return pa.table(
        {
            "doc_id": pa.array(doc_id + r * OFF, pa.int64()),
            "text": pa.array(new_text, pa.string()),
            "lang": tbl.column("lang"),
            "source": tbl.column("source"),
            "n_chars": pa.array([len(s) for s in new_text], pa.int64()),
        },
        schema=tbl.schema,
    )


def _perturb_documents(tbl: pa.Table, replicas: int) -> pa.Table:
    split_words = [t.split() for t in tbl.column("text").to_pylist()]
    outs = [tbl]
    for r in range(1, replicas):
        outs.append(_perturb_documents_one(tbl, split_words, r))
    return pa.concat_tables(outs)


def _offset_cols(tbl: pa.Table, cols: list[str], replicas: int) -> pa.Table:
    outs = [tbl]
    for r in range(1, replicas):
        t = tbl
        for c in cols:
            idx = t.schema.get_field_index(c)
            t = t.set_column(
                idx,
                t.schema.field(idx),
                pa.array(t.column(c).to_numpy() + r * OFF, t.schema.field(idx).type),
            )
        outs.append(t)
    return pa.concat_tables(outs)


def _perturb_embeddings_one(
    tbl: pa.Table, mat: np.ndarray, r: int
) -> pa.Table:
    """One replica-seeded dimension-permutation embedding replica."""
    vec_id = tbl.column("vec_id").to_numpy()
    rng = np.random.default_rng(2000 + r)
    perm = rng.permutation(mat.shape[1])
    return pa.table(
        {
            "vec_id": pa.array(vec_id + r * OFF, pa.int64()),
            "embedding": pa.array(
                mat[:, perm].tolist(), pa.list_(pa.float32())
            ),
            "label": tbl.column("label"),
        },
        schema=tbl.schema,
    )


def _perturb_embeddings(tbl: pa.Table, replicas: int) -> pa.Table:
    mat = np.array(tbl.column("embedding").to_pylist(), dtype=np.float32)
    outs = [tbl]
    for r in range(1, replicas):
        outs.append(_perturb_embeddings_one(tbl, mat, r))
    return pa.concat_tables(outs)


def generate(dst: str, replicas: int, force: bool = False) -> None:
    marker = os.path.join(dst, "_GENERATED")
    if os.path.exists(marker) and not force:
        print(f"# {dst} already generated, skipping", file=sys.stderr)
        return
    os.makedirs(dst, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part"]:
        pq.write_table(
            pq.read_table(f"{SRC}/{name}.parquet"), f"{dst}/{name}.parquet"
        )
    pq.write_table(
        _perturb_documents(pq.read_table(f"{SRC}/documents.parquet"), replicas),
        f"{dst}/documents.parquet",
    )
    pq.write_table(
        _offset_cols(
            pq.read_table(f"{SRC}/events.parquet"), ["event_id", "user_id"], replicas
        ),
        f"{dst}/events.parquet",
    )
    pq.write_table(
        _offset_cols(pq.read_table(f"{SRC}/orders.parquet"), ["o_orderkey"], replicas),
        f"{dst}/orders.parquet",
    )
    pq.write_table(
        _offset_cols(
            pq.read_table(f"{SRC}/lineitem.parquet"), ["l_orderkey"], replicas
        ),
        f"{dst}/lineitem.parquet",
    )
    pq.write_table(
        _perturb_embeddings(pq.read_table(f"{SRC}/embeddings.parquet"), replicas),
        f"{dst}/embeddings.parquet",
    )
    with open(marker, "w") as f:
        f.write(f"replicas={replicas} src={SRC}\n")
    print(f"# generated {dst}", file=sys.stderr)


_CONS = "bcdfghjklmnpqrst"
_VOW = "aeiou"


def _rank_word(k: int) -> str:
    """Deterministic rank→word string: consonant-vowel syllables in
    base 80, so words are letter sequences with realistic shared
    prefixes/suffixes (gives BPE genuine subword structure)."""
    s = []
    while True:
        s.append(_CONS[k % 16] + _VOW[(k // 16) % 5])
        k //= 80
        if k == 0:
            break
    return "".join(s)


def _gen_heaps(dst: str, n_docs: int, force: bool = False) -> None:
    """Vocabulary-GROWING document corpus: 60 Zipf(1.3)-rank words per
    doc; every 10th doc is an ORDER-PRESERVING 95%-subset of its
    predecessor (each word dropped with p=0.05 — order preserved so
    3-gram shingles survive at ~0.95³ ≈ 0.857 and the planted pair's
    Jaccard lands ≈ 0.75, squarely in the r=3/r=4 detection band;
    the first generation SHUFFLED the kept words, which destroys the
    shingle sets entirely and planted nothing detectable).  Same
    documents schema as the driver testdata."""
    marker = os.path.join(dst, "_GENERATED")
    if os.path.exists(marker) and not force:
        print(f"# {dst} already generated, skipping", file=sys.stderr)
        return
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(42 + n_docs)
    ranks = rng.zipf(1.3, size=(n_docs, 60))
    texts = []
    vocab: dict[int, str] = {}

    def words_of(row) -> list[str]:
        out = []
        for k in row:
            w = vocab.get(k)
            if w is None:
                w = vocab[k] = _rank_word(int(k))
            out.append(w)
        return out

    prev: list[str] | None = None
    for i in range(n_docs):
        if i % 10 == 9 and prev is not None:
            keep = rng.random(len(prev)) > 0.05
            w = [prev[j] for j in range(len(prev)) if keep[j]]
        else:
            w = words_of(ranks[i])
            prev = w
        texts.append(" ".join(w))
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array(
                [f"heaps{i % 4}" for i in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{dst}/documents.parquet")
    with open(marker, "w") as f:
        f.write(f"n_docs={n_docs} zipf_a=1.3 vocab={len(vocab)}\n")
    print(f"# generated {dst}: {n_docs} docs, vocab {len(vocab)}", file=sys.stderr)


def _heaps_curves(spark) -> dict:
    """Re-measure the LSH key-width discipline under REAL vocabulary
    growth (VERDICT r7 task 4): on the fixed-vocabulary corpora the
    MinHash collision-floor FRACTION was constant and the 'grow r with
    log N' rule extrapolated; here vocabulary grows ~N^beta, so the
    rule's premise (background Jaccard falls as vocabulary grows) is
    tested rather than assumed."""
    import math

    from pyspark.sql import functions as F

    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        _shingle_sets,
        minhash_banded_candidate_pairs,
        prefix_filter_candidate_pairs,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    out: dict = {
        "zipf_a": 1.3,
        "words_per_doc": 60,
        "planted": "every 10th doc = order-preserving 95% subset of its"
                   " predecessor (expected shingle-Jaccard ~0.75)",
    }
    for dst in (HEAPS1, HEAPS10, HEAPS100):
        _gen_heaps(dst, HEAPS_DOCS[dst])
    for dst, scale in ((HEAPS1, "1x"), (HEAPS10, "10x"), (HEAPS100, "100x")):
        docs = table(spark, dst, "documents")
        n = docs.count()
        vocab = (
            docs.selectExpr("explode(split(text, ' ')) AS w")
            .select("w")
            .distinct()
            .count()
        )
        row: dict = {"n_docs": n, "vocab": vocab}
        # planted truth: (j-1, j) for every j % 10 == 9
        planted = F.expr("id_b = id_a + 1 AND (id_b % 10) = 9")
        n_planted = sum(1 for j in range(n) if j % 10 == 9)
        for label, width in (("minhash_r3", 3), ("minhash_r4", 4)):
            if scale == "100x" and width == 3:
                # r=3 at 500k docs is exactly the under-keyed regime the
                # rule exists to avoid; measured at 1x/10x, skipped here
                # (recorded, not silent).
                row[label] = "skipped: under-keyed at this N by the log-N rule"
                continue
            t0 = time.perf_counter()
            cand = minhash_banded_candidate_pairs(
                docs, num_bands=8, band_width=width
            ).localCheckpoint()
            c = cand.count()
            sec = round(time.perf_counter() - t0, 2)
            hits = cand.where(planted).count()
            row[label] = {
                "candidates": c,
                "sec": sec,
                "planted_recall": round(hits / max(1, n_planted), 4),
                "floor_pairs": c - hits,
                "floor_frac_all_pairs": round(
                    (c - hits) / (n * (n - 1) / 2), 9
                ),
            }
        if scale != "100x":
            t0 = time.perf_counter()
            c = prefix_filter_candidate_pairs(
                _shingle_sets(docs, "doc_id", "text", 3),
                0.8,
                length_buckets=True,
            ).count()
            row["allpairs_bucketed"] = {
                "candidates": c,
                "sec": round(time.perf_counter() - t0, 2),
                "frac_all_pairs": round(c / (n * (n - 1) / 2), 9),
            }
        out[scale] = row
    v1, v10 = out["1x"]["vocab"], out["10x"]["vocab"]
    out["heaps_beta_1x_to_10x"] = round(math.log10(v10 / v1), 3)
    v100 = out["100x"]["vocab"]
    out["heaps_beta_10x_to_100x"] = round(math.log10(v100 / v10), 3)
    return out


def _semdedup_cells() -> dict:
    """Cell-local candidate volume for q_dedup_semantic across three
    decades of embeddings (sf0.1/sf1/sf10 = 2k/20k/200k vectors):
    the SemDeDup quadratic stage runs per cell, so its cost is
    sum_c C(n_c, 2).  Measured at the parity configuration (C=8
    anchors) AND at the C ∝ √N discipline the docstring prescribes for
    scale — the volume, not the wall, is the scale law (assignment is
    numpy here; the algebra is identical to the query's integer L2²
    argmin with ties to the smaller cell)."""
    out: dict = {}
    for sf_dir, scale in ((SRC, "sf0.1"), (DST, "sf1"), (DST10, "sf10")):
        tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
        mat = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
        n = mat.shape[0]
        mx = np.maximum(np.abs(mat).max(axis=1), 1e-30)
        codes = np.floor(mat * 127.0 / mx[:, None] + 0.5).astype(np.int64)
        row: dict = {"n_vectors": n}
        for label, C in (("C8_parity", 8), ("C_sqrtN", 1 << int(np.ceil(np.log2(np.sqrt(n)))))):
            anch = codes[:C]
            # integer L2^2 argmin, ties to smaller cell id (same rule
            # as the query: argmin over dist*C + c)
            d = ((codes[:, None, :] - anch[None, :, :]) ** 2).sum(axis=2)
            cell = np.argmin(d * C + np.arange(C)[None, :], axis=1)
            counts = np.bincount(cell, minlength=C).astype(np.int64)
            pairs = int((counts * (counts - 1) // 2).sum())
            row[label] = {
                "cells": int(C),
                "cell_pairs": pairs,
                "frac_all_pairs": round(pairs / (n * (n - 1) / 2), 7),
                "max_cell": int(counts.max()),
            }
        out[scale] = row
    return out


def _semdedup_wall(spark) -> dict:
    """END-TO-END SemDeDup wall at the C ∝ √N cell discipline
    (VERDICT r8 task 4: the semdedup_cells section measures candidate
    VOLUME; this measures the wall of the full plan — Arrow-batched
    assignment, cell self-join, Arrow pair dot, drop-rule agg — under
    the protocol-2 checksum at 2k/20k/200k vectors).  The parity
    query q_dedup_semantic is this same plan pinned at C=8 for its
    oracle."""
    import math

    from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
        semdedup_frame,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.runner import materialize

    out: dict = {}
    for sf_dir, scale in ((SRC, "sf0.1"), (DST, "sf1"), (DST10, "sf10")):
        n = pq.read_table(f"{sf_dir}/embeddings.parquet").num_rows
        cells = 1 << int(math.ceil(math.log2(math.sqrt(n))))

        def run():
            df = semdedup_frame(spark, sf_dir, cells)
            t0 = time.perf_counter()
            materialize(df, collect=False)
            return time.perf_counter() - t0

        run()  # warm-up
        times = [run() for _ in range(2)]
        out[scale] = {
            "n_vectors": n,
            "cells": cells,
            "wall_s": round(statistics.median(times), 3),
        }
    base = out["sf0.1"]["wall_s"]
    out["ratio_at_10x_rows"] = round(out["sf1"]["wall_s"] / base, 2)
    out["ratio_at_100x_rows"] = round(out["sf10"]["wall_s"] / base, 2)
    return out


def _bpe_trainer_probe(spark) -> dict:
    """Jobs-per-merge and wall for the three BPE trainer tiers on the
    10x Heaps corpus (VERDICT r7 task 2's 'Done' evidence): identical
    merge lists asserted, Spark job counts measured via job groups.
    The in-memory tier (the production path: Spark does the
    corpus-sized word count, the Heaps-bounded vocabulary trains on
    the driver) should show jobs-per-merge collapsing to ~0; the
    batched-delta tier shows the distributed fallback's improvement
    over the naive per-merge loop."""
    from pyspark.sql import functions as F

    from cs425_distributed_systems_mp4_mapreduce_spark.operators import bpe
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    _gen_heaps(HEAPS10, HEAPS_DOCS[HEAPS10])
    wc = (
        table(spark, HEAPS10, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()  # pay the corpus pass once, outside the A/B
    )
    n_merges = 64
    out: dict = {
        "corpus": HEAPS10,
        "vocab_words": wc.count(),
        "n_merges": n_merges,
    }
    sc = spark.sparkContext
    learned = {}
    for label, fn in (
        ("inmemory", lambda: bpe.bpe_train(wc, n_merges=n_merges)),
        ("batched_delta", lambda: bpe.bpe_train_delta(wc, n_merges=n_merges)),
        ("naive_permerge", lambda: bpe.bpe_train_permerge(wc, n_merges=n_merges)),
    ):
        sc.setJobGroup(f"bpe_{label}", label)
        t0 = time.perf_counter()
        merges = fn()
        wall = time.perf_counter() - t0
        sc.setJobGroup("bpe_idle", "idle")
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"bpe_{label}"))
        learned[label] = merges
        out[label] = {
            "jobs": jobs,
            "jobs_per_merge": round(jobs / max(1, len(merges)), 3),
            "sec": round(wall, 2),
            "merges_learned": len(merges),
        }
        print(f"# bpe {label}: {jobs} jobs {wall:.1f}s", file=sys.stderr)
    assert (
        learned["inmemory"] == learned["batched_delta"] == learned["naive_permerge"]
    ), "trainer tiers diverged"
    out["identical_merges"] = True
    naive = out["naive_permerge"]["jobs"]
    out["jobs_reduction_vs_naive"] = {
        "inmemory": round(naive / max(1, out["inmemory"]["jobs"]), 1),
        "batched_delta": round(naive / max(1, out["batched_delta"]["jobs"]), 1),
    }
    return out


# --------------------------------------------------------------- measurement


def _candidate_curves(spark) -> dict:
    import math

    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        _shingle_sets,
        embedding_candidate_pairs,
        minhash_banded_candidate_pairs,
        prefix_filter_candidate_pairs,
        simhash_candidate_pairs,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    out: dict[str, dict] = {}

    def record(family, scale, n, cands, secs):
        out.setdefault(family, {})[scale] = {
            "n": n,
            "candidates": cands,
            "sec": round(secs, 2),
            "frac_all_pairs": round(cands / (n * (n - 1) / 2), 7),
        }

    # sf10 runs only the families whose 100 TB posture is "linear
    # discovery" (banded MinHash, SimHash, hyperplane LSH): the exact
    # AllPairs path on THIS corpus sits in the worst-case saturation
    # regime by construction (fixed vocabulary, frequencies scale with
    # N, so candidates grow ~C(f,2) ~ 100x per decade — real corpora
    # grow vocabulary per Heaps' law instead); its second decade is
    # measured separately in the saturation curve below, bucketed
    # form, where the volume is the measurement rather than a surprise.
    for sf_dir, scale in ((SRC, "sf0.1"), (DST, "sf1"), (DST10, "sf10")):
        docs = table(spark, sf_dir, "documents")
        n = docs.count()
        # key-width discipline: grow key bits with log2(N)
        blocks = 8 if n <= 10_000 else (10 if n <= 100_000 else 12)
        planes = math.ceil(math.log2(n)) + 2

        for family, fn in (
            (
                "minhash_banded_r3",
                lambda d: minhash_banded_candidate_pairs(
                    d, num_bands=8, band_width=3
                ),
            ),
            (
                f"simhash",
                lambda d: simhash_candidate_pairs(d, num_blocks=blocks),
            ),
            (
                # Distinct configurations, verified: bucketed composite
                # (token, length-bucket) keys vs plain single-token
                # keys (an earlier probe ran the default config twice
                # under both labels; the "difference" was JIT noise).
                "prefix_filter_t0.8_bucketed",
                lambda d: prefix_filter_candidate_pairs(
                    _shingle_sets(d, "doc_id", "text", 3),
                    0.8,
                    length_buckets=True,
                ),
            ),
            (
                "prefix_filter_t0.8_single_token_key",
                lambda d: prefix_filter_candidate_pairs(
                    _shingle_sets(d, "doc_id", "text", 3),
                    0.8,
                    length_buckets=False,
                ),
            ),
        ):
            if scale == "sf10" and family.startswith("prefix_filter"):
                continue  # see the sf10 comment above; not silent — recorded:
            # median-of-3 for the wall column: single runs at this SF
            # mix in JIT/warm-up noise larger than real variant deltas.
            runs = 3 if scale != "sf10" else 2
            times = []
            for _ in range(runs):
                t0 = time.perf_counter()
                c = fn(docs).count()
                times.append(time.perf_counter() - t0)
            record(family, scale, n, c, statistics.median(times))
        if scale in ("sf1", "sf10"):
            # key-width remedy for the second-decade collision floor:
            # at fixed band width r the background candidate floor is
            # ~C(N,2)*bands*E[J^r] (constant frac_all_pairs — measured
            # 2.3e-6 at r=3 on this fixed-vocabulary corpus), so raw
            # candidates grow quadratically once true-dup structure is
            # exhausted.  Widening bands (r=4) multiplies the floor by
            # E[J] — the log-N key-width discipline every LSH family
            # here applies.
            times = []
            runs = 2
            for _ in range(runs):
                t0 = time.perf_counter()
                c = minhash_banded_candidate_pairs(
                    docs, num_bands=8, band_width=4
                ).count()
                times.append(time.perf_counter() - t0)
            record("minhash_banded_r4", scale, n, c, statistics.median(times))
        if scale == "sf10":
            out["prefix_filter_sf10_note"] = (
                "exact AllPairs at sf10 measured in allpairs_saturation_curve"
                " (bucketed form) — this synthetic corpus is the worst-case"
                " C(f,2) saturation regime by construction"
            )

        emb = table(spark, sf_dir, "embeddings")
        ne = emb.count()
        t0 = time.perf_counter()
        c = embedding_candidate_pairs(
            emb, num_planes=math.ceil(math.log2(ne)) + 2
        ).count()
        record("embedding_lsh", scale, ne, c, time.perf_counter() - t0)

    # (c) AllPairs saturation curve on the sf1 saturating vocabulary
    from pyspark.sql import functions as F

    docs1 = table(spark, DST, "documents")
    sat = []
    for k_reps in (1, 2, 4, 10):
        sub = docs1.filter(F.col("doc_id") < k_reps * OFF)
        n = sub.count()
        row = {"n": n}
        for label, lb in (("bucketed", True), ("single_token", False)):
            t0 = time.perf_counter()
            c = prefix_filter_candidate_pairs(
                _shingle_sets(sub, "doc_id", "text", 3),
                0.8,
                length_buckets=lb,
            ).count()
            row[label] = {
                "candidates": c,
                "sec": round(time.perf_counter() - t0, 2),
                "frac_all_pairs": round(c / (n * (n - 1) / 2), 7),
            }
        sat.append(row)
    # second decade (r6): 150k and 500k docs from the sf10 corpus,
    # BUCKETED form only — the scale path whose near-linearity-in-
    # candidate-volume claim needs the extra decade; candidates here
    # are expected ~C(f,2)-quadratic in corpus multiple because the
    # synthetic vocabulary is fixed (see the candidate-curve comment).
    docs10 = table(spark, DST10, "documents")
    for k_reps in (30, 100):
        sub = docs10.filter(F.col("doc_id") < k_reps * OFF)
        n = sub.count()
        t0 = time.perf_counter()
        c = prefix_filter_candidate_pairs(
            _shingle_sets(sub, "doc_id", "text", 3), 0.8, length_buckets=True
        ).count()
        sat.append(
            {
                "n": n,
                "bucketed": {
                    "candidates": c,
                    "sec": round(time.perf_counter() - t0, 2),
                    "frac_all_pairs": round(c / (n * (n - 1) / 2), 7),
                },
            }
        )
    out["allpairs_saturation_curve"] = sat
    return out


def _wall_scaling(spark, queries=None) -> dict:
    from cs425_distributed_systems_mp4_mapreduce_spark.runner import (
        bench_fn,
        materialize,
        select,
    )

    out = {}
    for name, spec in select(queries or WALL_QUERIES).items():
        fn = bench_fn(spec)
        row = {}
        for sf_dir, scale in (
            (SRC, "sf0.1"),
            (DST, "sf1"),
            (DST10, "sf10"),
        ):
            runs = N_RUNS if scale != "sf10" else 2
            materialize(fn(spark, sf_dir), collect=False)  # warm-up
            times = []
            for _ in range(runs):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir), collect=False)
                times.append(time.perf_counter() - t0)
            row[scale] = round(statistics.median(times), 3)
        row["ratio_at_10x_rows"] = round(row["sf1"] / row["sf0.1"], 2)
        row["ratio_at_100x_rows"] = round(row["sf10"] / row["sf0.1"], 2)
        out[name] = row
        print(f"WALL {name}: {row}", flush=True)
    return out


def _aqe_skew_probe(spark) -> dict:
    """AQE skew-join demonstration AT PROBE SCALE (VERDICT r5 task 8):
    manufacture a join whose left side funnels 90% of 20M rows into one
    key, run it with AQE skew handling ON and OFF, record wall times
    and assert the ON plan actually split the straggler
    (SortMergeJoin(skew=true) + AQEShuffleRead skewed) — the runtime
    remedy that complements the manual salting in operators/skew.py."""
    from pyspark.sql import functions as F

    n = 20_000_000
    # Design notes from the round-6 debugging session (each of these
    # silently DEFEATED the demonstration in earlier drafts):
    # - payloads are md5 (incompressible): a constant-prefix pad
    #   compressed ~50x in the shuffle, dropping the "skewed" partition
    #   near/below the detection threshold;
    # - the post-join filter must reference NON-LITERAL columns from
    #   BOTH sides or Catalyst constant-folds + pushes it below the
    #   join, and column pruning then ships 8-byte keys only — no skew
    #   left to split;
    # - the plan must be read from the QueryExecution that actually
    #   RAN (collect on the df itself; a derived count() is a
    #   different query — the trap tests/test_extras.py pins).
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def _job():
        left = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(500).select(
            F.col("id").alias("k"),
            F.md5((F.col("id") + 1000000).cast("string")).alias("rv"),
        )
        return (
            left.join(right, "k")
            .filter(F.crc32(F.concat("pad", "rv")) % 37 == 0)
            .select("k")
        )

    out: dict = {"rows": n}
    try:
        for label, skew_on in (("skew_on", "true"), ("skew_off", "false")):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            secs = []
            for _ in range(2):
                j = _job()
                t0 = time.perf_counter()
                got = len(j.collect())
                secs.append(time.perf_counter() - t0)
            out[label] = {"sec": round(min(secs), 2), "rows_out": got}
            if skew_on == "true":
                plan = str(j._jdf.queryExecution().executedPlan())
                out["skew_split_in_plan"] = (
                    "skew=true" in plan and "AQEShuffleRead skewed" in plan
                )
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
    out["speedup_on_vs_off"] = round(
        out["skew_off"]["sec"] / out["skew_on"]["sec"], 2
    )
    return out


def _ivf_probe_vs_scan(spark) -> dict:
    """Probe-vs-scan speedup for the persisted IVF index (VERDICT r5
    task 6's measurement half), at the sf10 embedding count (200k
    vectors): build the index once, then compare a partition-pruned
    probe against the exact brute-force scan for the same query."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.similarity import (
        build_ivf_index,
        probe_ivf_index,
        topk_cosine,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    e = table(spark, DST10, "embeddings")
    q = [float(x) for x in e.filter("vec_id = 0").first()["embedding"]]
    path = os.path.join(DST10, "_ivf_index")
    t0 = time.perf_counter()
    build_ivf_index(e, path, n_cells=64)
    build_s = time.perf_counter() - t0

    def med(fn, runs=3):
        fn().count()  # warm
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn().count()
            ts.append(time.perf_counter() - t0)
        return round(statistics.median(ts), 3)

    scan_s = med(lambda: topk_cosine(e, q, k=10))
    exact = {r.vec_id for r in topk_cosine(e, q, k=10).collect()}
    res = {
        "n_vectors": e.count(),
        "n_cells": 64,
        "build_sec": round(build_s, 2),
        "scan_sec": scan_s,
    }
    # recall/speedup tradeoff across probe widths — the knob a serving
    # deployment turns
    for n_probe in (8, 16, 32):
        probe_s = med(lambda: probe_ivf_index(spark, path, q, k=10, n_probe=n_probe))
        probed = {
            r.vec_id
            for r in probe_ivf_index(spark, path, q, k=10, n_probe=n_probe).collect()
        }
        res[f"probe_{n_probe}"] = {
            "probe_sec": probe_s,
            "speedup": round(scan_s / probe_s, 2),
            "recall_at_10": round(len(probed & exact) / 10, 2),
        }
    return res


def _ivm_refresh_probe(spark) -> dict:
    """Refresh-vs-recompute scaling for incremental JOIN-view
    maintenance (queries/ivm.py, q_mv_incremental_join shape): a FIXED
    daily batch of line items (the sf0.1 suppkey stripe, ~60k rows)
    lands on fact tables that grow 10x then 100x.  The maintained view
    aggregates ``lineitem JOIN orders`` by (order month x priority);
    recompute re-joins and re-shuffles |lineitem| x |orders| while
    refresh joins only the delta against orders (broadcast of the
    bounded batch) and merges 60 MV rows.  The first probe of this
    family (the no-join aggregate view) showed near-NO separation at
    local scale — a 3-column scan+combine over 15M orders costs 0.4 s
    on 32 cores, so there is nothing for refresh to save; the join
    view is where recompute actually pays (join + shuffle), and the
    separation should WIDEN with each decade while refresh stays ~flat
    up to its orders-probe scan (bucketed lookup on a real deployment).
    At every scale the probe asserts refresh == recompute exactly (the
    counting-algorithm check at sf10/sf100, beyond the oracle's
    sf0.01).  The sf100 leg (present when wall100 has generated the
    corpus) needs SPARK_DRIVER_MEM=48g: local mode runs the 600 M-row
    join inside ONE JVM, an artifact of the harness — on a cluster the
    same shuffle spreads across executor heaps."""
    from pyspark.sql import functions as F

    from cs425_distributed_systems_mp4_mapreduce_spark.functions.parity import DEC
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    keys = ["order_month", "o_orderpriority"]

    def view_agg(items, orders):
        rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
        return (
            items.join(orders, items.l_orderkey == orders.o_orderkey)
            .groupBy(
                F.month("o_orderdate").cast("bigint").alias("order_month"),
                "o_orderpriority",
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum(rev).alias("rev"))
        )

    # the fixed day's batch: replica-0 orderkeys exist at every scale,
    # so the delta joins the same orders rows on sf0.1/sf1/sf10.
    delta = (
        table(spark, SRC, "lineitem")
        .filter(F.col("l_suppkey") % 10 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .cache()
    )
    n_delta = delta.count()

    out = {"delta_rows": n_delta}
    scales = [("sf0.1", SRC), ("sf1", DST), ("sf10", DST10)]
    if os.path.exists(os.path.join(DST100, "_GENERATED")):
        # third decade, when the wall100 section has generated it
        scales.append(("sf100", DST100))
    for scale, d in scales:
        li = table(spark, d, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = table(spark, d, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        )
        mv_path = os.path.join("/tmp", f"ivm_mv_{scale}")
        view_agg(li, o).write.mode("overwrite").parquet(mv_path)

        def recompute():
            return view_agg(li.unionByName(delta), o)

        def refresh():
            mv = spark.read.parquet(mv_path)
            dv = view_agg(delta, o)
            zero = F.lit(0).cast("decimal(38,6)")
            return mv.join(dv, keys, "full").select(
                *keys,
                (
                    F.coalesce(mv["n"], F.lit(0)) + F.coalesce(dv["n"], F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(mv["rev"].cast("decimal(38,6)"), zero)
                    + F.coalesce(dv["rev"].cast("decimal(38,6)"), zero)
                ).alias("rev"),
            )

        def med(fn, runs=N_RUNS):
            fn().count()  # warm
            ts = []
            for _ in range(runs):
                t0 = time.perf_counter()
                fn().count()
                ts.append(time.perf_counter() - t0)
            return round(statistics.median(ts), 3)

        # exactness at scale: refresh must equal recompute bit-for-bit
        r = {tuple(x[:2]): (x[2], str(x[3])) for x in refresh().collect()}
        c = {tuple(x[:2]): (x[2], str(x[3])) for x in recompute().collect()}
        assert r == c, f"IVM refresh != recompute at {scale}"

        out[scale] = {
            "fact_rows": li.count(),
            "recompute_sec": med(recompute),
            "refresh_sec": med(refresh),
            "speedup": None,  # filled below
        }
        out[scale]["speedup"] = round(
            out[scale]["recompute_sec"] / out[scale]["refresh_sec"], 2
        )
    out["recompute_ratio_100x"] = round(
        out["sf10"]["recompute_sec"] / out["sf0.1"]["recompute_sec"], 2
    )
    out["refresh_ratio_100x"] = round(
        out["sf10"]["refresh_sec"] / out["sf0.1"]["refresh_sec"], 2
    )
    if "sf100" in out:
        out["recompute_ratio_1000x"] = round(
            out["sf100"]["recompute_sec"] / out["sf0.1"]["recompute_sec"], 2
        )
        out["refresh_ratio_1000x"] = round(
            out["sf100"]["refresh_sec"] / out["sf0.1"]["refresh_sec"], 2
        )
    delta.unpersist()
    return out


DST100 = os.environ.get("SPARK_GRAFT_SF100_DIR", "/tmp/sf100")
REPLICAS100 = 1000

#: the third-decade subset: queries over the 1000-replica facts
#: (orders/lineitem/events + small dims) plus — since round 10 — the
#: 1000-replica text corpus (5M documents / 2M embeddings), so the
#: dedup/text 100 TB headliners get third-decade coverage too.
WALL100_QUERIES = [
    "q_agg_pricing",
    "q_filter_regex",
    "q_window_running",
    "q_window_locf",
    "q_events_funnel",
    "q_outliers_mad",
    "q_tpch_q18",
    "q_mv_incremental_join",
    "q_dedup_exact",
    "q_text_tokens",
    "q_text_bpe",
]

def _w100_near_b4r4(spark) -> dict:
    """Banded MinHash near-dedup at its third-decade configuration:
    same 16-hash budget as the parity query, re-banded b=4 / r=4 per
    the measured "grow r with log N" rule — what operators/dedup.
    derive_scale_params(5e6, J=0.9) prescribes (at the default J=0.5
    the ADVICE-r12 recall policy grows the band count to 35; the
    ``near_dedup_auto_derived_*`` rows cover both) — with the
    round-10 hot-bucket guard at its default."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        minhash_banded_near_pairs,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    t0 = time.perf_counter()
    n = minhash_banded_near_pairs(
        table(spark, DST100, "documents"),
        jaccard_threshold=0.5,
        num_bands=4,
        band_width=4,
    ).count()
    return {
        "sf100": round(time.perf_counter() - t0, 3),
        "runs": 1,
        "pairs": n,
        "bands": 4,
        "band_width": 4,
    }


def _w100_near_guard_ab(spark) -> dict:
    """Round-11: the guard's candidate LOSS at the third decade,
    measured rather than implied (VERDICT r10 task 4).  Candidate
    counts at b=4/r=4 with the default bucket_cap vs cap=None over
    the same 5M docs, plus the guard census (the exact ledger of
    what the cap filters).  candidate_loss == 0 is the claim the
    round-10 'bit-identical on every attested corpus' sentence makes
    for this corpus — this row is its measurement."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        minhash_banded_candidate_pairs,
        minhash_banded_guard_census,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    d = table(spark, DST100, "documents")
    out: dict = {}
    for label, cap in (("guard_on", 1024), ("guard_off", None)):
        t0 = time.perf_counter()
        n = minhash_banded_candidate_pairs(
            d, num_bands=4, band_width=4, bucket_cap=cap
        ).count()
        out[label] = {"candidates": n, "sec": round(time.perf_counter() - t0, 3)}
    out["candidate_loss"] = out["guard_off"]["candidates"] - out["guard_on"]["candidates"]
    census = minhash_banded_guard_census(
        d, num_bands=4, band_width=4, bucket_cap=1024
    ).collect()[0]
    out["census"] = {k: int(census[k]) for k in census.asDict()}
    return out


def _w100_semdedup(spark, cells: int, note: str) -> dict:
    """SemDeDup at the third decade.  C=1024 is the r10 row (capped:
    anchors are the code vectors of vec_id 0..C-1 and the base
    replica holds 2000 contiguous ids); C=1414 = ⌈√2M⌉ is the round-11
    confirmation of the C ∝ √N cell-count rule at 2M vectors — still
    under the 2000-id anchor bound, so the discipline itself is
    runnable here."""
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
        semdedup_frame,
    )

    t0 = time.perf_counter()
    n = semdedup_frame(spark, DST100, cells).count()
    return {
        "sf100": round(time.perf_counter() - t0, 3),
        "runs": 1,
        "cells": cells,
        "n_vectors": 2_000_000,
        "rows": n,
        "note": note,
    }


def _w100_bpe_trainer(spark) -> dict:
    """The BPE TRAINER (not just encode) at the third decade: the
    production tier — Spark does the corpus-sized word count over 5M
    docs, the Heaps-bounded vocabulary trains on the driver — which
    is the path whose job count the bpe_trainer probe proved ~O(1)
    per merge on the 10× Heaps corpus (VERDICT r10 task 4 gap)."""
    from pyspark.sql import functions as F

    from cs425_distributed_systems_mp4_mapreduce_spark.operators import bpe
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    t0 = time.perf_counter()
    wc = (
        table(spark, DST100, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merges = bpe.bpe_train(wc, n_merges=64)
    wall = time.perf_counter() - t0
    return {
        "sf100": round(wall, 3),
        "runs": 1,
        "tier": "inmemory",
        "n_merges_learned": len(merges),
        "n_docs": 5_000_000,
    }


def _w100_auto_minhash(spark) -> dict:
    """VERDICT r11 task 2: the derived-parameter path demonstrated
    END-TO-END on the real 5M-doc corpus, not just at the helper
    level.  derive_scale_params(5e6, J=0.9) must select the b=4/r=4
    width the third-decade A/B measured, and the candidate count at
    the derived width must reproduce ``near_dedup_guard_ab_b4r4``'s
    guard-on candidates exactly.  This row composes count() → derive
    → candidate stage EXACTLY as minhash_banded_near_pairs_auto does
    internally (the wrapper itself returns VERIFIED pairs, so its
    function object can't produce a candidate count — the wrapper ==
    pinned-composition identity is asserted separately in
    tests/test_candidate_scaling.py); the timer includes the
    derivation's own count() action."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        derive_scale_params,
        minhash_banded_candidate_pairs,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    d = table(spark, DST100, "documents")
    t0 = time.perf_counter()
    n_docs = d.select("doc_id").count()
    p = derive_scale_params(n_docs, jaccard_threshold=0.9)
    n = minhash_banded_candidate_pairs(
        d,
        num_bands=p["num_bands"],
        band_width=p["band_width"],
        bucket_cap=p["bucket_cap"],
    ).count()
    return {
        "sf100": round(time.perf_counter() - t0, 3),
        "runs": 1,
        "n_docs": n_docs,
        "derived": {
            "num_bands": p["num_bands"],
            "band_width": p["band_width"],
            "bucket_cap": p["bucket_cap"],
        },
        "candidates": n,
        "matches_guard_ab_b4r4": bool(
            (p["num_bands"], p["band_width"]) == (4, 4) and n == 70487
        ),
    }


def _w100_auto_minhash_default_threshold(spark) -> dict:
    """The SAME derived path at the DEFAULT J=0.5 threshold, where the
    ADVICE-r12 recall policy grows the band count to b=35 (miss at
    threshold 0.104 vs 0.77 at the old fixed 16-hash budget) — the
    honest cost of holding near-threshold recall at the third decade,
    measured rather than argued.  Candidate volume should be roughly
    (35/4)× the b=4 row's background collisions; still ~O(N)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        derive_scale_params,
        minhash_banded_candidate_pairs,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    d = table(spark, DST100, "documents")
    # same timing basis as the j09 row: the derivation's count()
    # action is inside the timer, so the two rows' walls compare
    # like-for-like (the count is ~2 s of the 270+ s total).
    t0 = time.perf_counter()
    n_docs = d.select("doc_id").count()
    p = derive_scale_params(n_docs, jaccard_threshold=0.5)
    n = minhash_banded_candidate_pairs(
        d,
        num_bands=p["num_bands"],
        band_width=p["band_width"],
        bucket_cap=p["bucket_cap"],
    ).count()
    return {
        "sf100": round(time.perf_counter() - t0, 3),
        "runs": 1,
        "derived": {
            "num_bands": p["num_bands"],
            "band_width": p["band_width"],
            "miss_at_threshold": round(p["minhash_miss_at_threshold"], 4),
        },
        "candidates": n,
    }


def _w100_auto_semdedup(spark) -> dict:
    """SemDeDup through the derived C = ceil(sqrt(N)) default
    (semdedup_frame(n_cells=None) → derive_scale_params counts the 2M
    vectors and picks C=1415) — the second half of VERDICT r11 task 2.
    Should land within noise of the explicit c1414 row (317 s)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        derive_scale_params,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.llm_ops import (
        semdedup_frame,
    )

    t0 = time.perf_counter()
    n = semdedup_frame(spark, DST100, None).count()
    return {
        "sf100": round(time.perf_counter() - t0, 3),
        "runs": 1,
        "cells_derived": derive_scale_params(2_000_000)["semdedup_cells"],
        "n_vectors": 2_000_000,
        "rows": n,
        "note": "n_cells=None -> derive_scale_params(2e6)[semdedup_cells]",
    }


def _w100_embedding_auto_recall(spark) -> dict:
    """ADVICE r12 (hyperplane LSH recall), measured at the third
    decade rather than argued: derive_scale_params(2e6, cos=0.9)
    scales the TABLE count with the plane count to hold miss ≤ ~0.1
    at the threshold (the old fixed 8 tables at the derived plane
    count missed cos-0.9 pairs with ~0.85).  Two measurements:

    - RECALL at the boundary: the corpus has no natural cos≥0.9 pair
      (max 0.60), so 2,000 twins are PLANTED at cos≈0.90 exactly —
      v' = v + tan(acos(0.9))·w with w ⊥ v drawn per-pair from a
      seeded rng — and pushed through the REAL operator
      (embedding_candidate_pairs at the derived width).  The policy
      predicts miss (1-0.8565^21)^59 ≈ 0.097, so recall ≈ 0.90.
    - FP COST at scale: the guard census + Σ C(m,2) candidate-load
      over the full 2M-vector corpus at the same derived width — the
      honest price of the 59 OR'd tables (bucket rows = N·tables)."""
    import numpy as np
    import pandas as pd

    from cs425_distributed_systems_mp4_mapreduce_spark.operators.dedup import (
        _embedding_bucket_rows,
        derive_scale_params,
        embedding_candidate_pairs,
    )
    from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table

    from pyspark.sql import functions as F

    p = derive_scale_params(2_000_000, cosine_threshold=0.9)
    out: dict = {
        "derived": {
            "num_planes": p["num_planes"],
            "num_tables": p["num_tables"],
            "miss_at_threshold": round(p["embedding_miss_at_threshold"], 4),
        }
    }

    # ---- planted boundary-pair recall through the real operator
    import pyarrow.parquet as pq_

    base = np.array(
        pq_.read_table(f"{SRC}/embeddings.parquet").column("embedding").to_pylist(),
        dtype=np.float64,
    )
    rng = np.random.default_rng(7)
    tan_t = np.tan(np.arccos(0.9))
    rows, n_pairs = [], len(base)
    for i in range(n_pairs):
        v = base[i]
        w = rng.standard_normal(v.shape)
        w -= (w @ v) / (v @ v) * v  # orthogonalize
        w *= np.linalg.norm(v) / np.linalg.norm(w)
        twin = v + tan_t * w  # cos(v, twin) = 0.9 exactly
        rows.append((2 * i, v.astype(np.float32).tolist()))
        rows.append((2 * i + 1, twin.astype(np.float32).tolist()))
    probe = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    t0 = time.perf_counter()
    cand = embedding_candidate_pairs(
        probe,
        num_planes=p["num_planes"],
        num_tables=p["num_tables"],
        bucket_cap=None,
    )
    hits = (
        cand.filter(
            (F.col("id_b") == F.col("id_a") + 1) & (F.col("id_a") % 2 == 0)
        ).count()
    )
    out["planted_recall"] = {
        "pairs": n_pairs,
        "collided": hits,
        "recall": round(hits / n_pairs, 4),
        "predicted": round(1 - p["embedding_miss_at_threshold"], 4),
        "sec": round(time.perf_counter() - t0, 3),
    }

    # ---- FP-side census over the full 2M vectors at the derived width
    t0 = time.perf_counter()
    bk = _embedding_bucket_rows(
        table(spark, DST100, "embeddings"),
        "vec_id",
        "embedding",
        p["num_planes"],
        p["num_tables"],
        42,
    ).drop("_v")
    census = (
        bk.groupBy("_t", "_bkt")
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(
            F.count(F.lit(1)).alias("buckets_total"),
            F.max("m").alias("max_bucket"),
            F.sum(F.expr("m * (m - 1) DIV 2")).alias("candidate_load"),
            F.sum(F.when(F.col("m") > 1024, F.col("m")).otherwise(F.lit(0))).alias(
                "rows_over_cap"
            ),
        )
        .collect()[0]
    )
    out["census_2m"] = {k: int(census[k]) for k in census.asDict()}
    out["census_2m"]["sec"] = round(time.perf_counter() - t0, 3)
    out["census_2m"]["note"] = (
        "candidate_load = sum C(m,2) over (table, bucket) — the bucket"
        " self-join's pre-dedup pair volume at the derived width"
    )
    return out


#: The derived-parameter (auto) demonstration rows — VERDICT r11
#: task 2 + the ADVICE-r12 recall measurements.  Run via
#: --sections=auto100; merged into wall_scaling_sf100 beside the
#: explicit-parameter rows they reproduce.
WALL100_AUTO_RUN: list = [
    ("near_dedup_auto_derived_j09", _w100_auto_minhash),
    ("near_dedup_auto_derived_j05", _w100_auto_minhash_default_threshold),
    ("q_dedup_semantic_auto_c", _w100_auto_semdedup),
    ("embedding_auto_recall_cos09", _w100_embedding_auto_recall),
]


#: heavy third-decade rows: one timed run each, no dedicated warm-up
#: (the session is already JIT-warm from the WALL100_QUERIES pass) —
#: these run for minutes each at 5M docs / 2M vectors and a
#: median-of-3 would triple a wall that is already far outside JIT
#: noise.
#:
#: q_dedup_near's parity configuration (b=8, r=2 — pinned for the
#: sf0.01 oracle) is deliberately NOT run here: at 5M docs r=2 is a
#: misconfigured operator by the repo's own "grow r with log N" rule,
#: and the measurement proving it is recorded in the
#: near_dedup_hot_buckets finding (1.07e9 band-bucket pairs, 8.7k-doc
#: hot buckets, verify-join shuffle past the single-box disk).  The
#: third decade runs the SAME operator at the same 16-hash budget
#: re-banded to b=4 / r=4 (the r8-measured key-width rule), where the
#: background collapses to 7.1e4 bucket pairs (max bucket 148).
WALL100_SINGLE_RUN: list = [
    ("q_dedup_near_b4r4", _w100_near_b4r4),
    ("near_dedup_guard_ab_b4r4", _w100_near_guard_ab),
    ("q_dedup_semantic_c1024", lambda s: _w100_semdedup(s, 1024, "r10 row (anchor-id cap)")),
    ("q_dedup_semantic_c1414", lambda s: _w100_semdedup(s, 1414, "C = ceil(sqrt(2M)): the C ~ sqrt(N) discipline at the third decade")),
    ("bpe_trainer_inmemory", _w100_bpe_trainer),
]


def _gen_sf100() -> None:
    """1000-replica facts (~600M lineitem / 150M orders / 100M events,
    ~14 GB parquet) written INCREMENTALLY — one offset replica per row
    group through a ParquetWriter — because the concat-in-memory path
    used for sf1/sf10 would need ~50 GB of Arrow buffers here."""
    marker = os.path.join(DST100, "_GENERATED")
    if os.path.exists(marker):
        print(f"# {DST100} already generated, skipping", file=sys.stderr)
        return
    os.makedirs(DST100, exist_ok=True)
    for name in ["region", "nation", "customer", "supplier", "part"]:
        pq.write_table(
            pq.read_table(f"{SRC}/{name}.parquet"), f"{DST100}/{name}.parquet"
        )
    for name, cols in (
        ("orders", ["o_orderkey"]),
        ("lineitem", ["l_orderkey"]),
        ("events", ["event_id", "user_id"]),
    ):
        tbl = pq.read_table(f"{SRC}/{name}.parquet")
        with pq.ParquetWriter(f"{DST100}/{name}.parquet", tbl.schema) as w:
            for r in range(REPLICAS100):
                t = tbl
                if r:
                    for c in cols:
                        idx = t.schema.get_field_index(c)
                        t = t.set_column(
                            idx,
                            t.schema.field(idx),
                            pa.array(
                                tbl.column(c).to_numpy() + r * OFF,
                                t.schema.field(idx).type,
                            ),
                        )
                w.write_table(t)
        print(f"# wrote {DST100}/{name}.parquet", file=sys.stderr)
    with open(marker, "w") as f:
        f.write(f"replicas={REPLICAS100} src={SRC} facts_only=1\n")


def _gen_sf100_textcorpus() -> None:
    """1000-replica documents (~5M docs) + embeddings (2M vectors),
    round-10 addition so the dedup/text families get a third measured
    decade.  Written incrementally — one perturbed replica per row
    group — and gated on file existence (the facts marker predates
    this corpus, so a facts-only /tmp/sf100 is upgraded in place)."""
    docs_path = os.path.join(DST100, "documents.parquet")
    if not os.path.exists(docs_path):
        tbl = pq.read_table(f"{SRC}/documents.parquet")
        split_words = [t.split() for t in tbl.column("text").to_pylist()]
        with pq.ParquetWriter(docs_path + ".tmp", tbl.schema) as w:
            w.write_table(tbl)
            for r in range(1, REPLICAS100):
                w.write_table(_perturb_documents_one(tbl, split_words, r))
        os.replace(docs_path + ".tmp", docs_path)
        print(f"# wrote {docs_path}", file=sys.stderr)
    emb_path = os.path.join(DST100, "embeddings.parquet")
    if not os.path.exists(emb_path):
        tbl = pq.read_table(f"{SRC}/embeddings.parquet")
        mat = np.array(tbl.column("embedding").to_pylist(), dtype=np.float32)
        with pq.ParquetWriter(emb_path + ".tmp", tbl.schema) as w:
            w.write_table(tbl)
            for r in range(1, REPLICAS100):
                w.write_table(_perturb_embeddings_one(tbl, mat, r))
        os.replace(emb_path + ".tmp", emb_path)
        print(f"# wrote {emb_path}", file=sys.stderr)


def _wall_third_decade(spark) -> dict:
    """sf100-equivalent wall times for the flat/relational subset —
    the third measured decade.  ratio_at_1000x is vs the sf0.1 median
    already recorded in wall_scaling (same queries, same protocol-2
    checksum materializer)."""
    from cs425_distributed_systems_mp4_mapreduce_spark.runner import (
        bench_fn,
        materialize,
        select,
    )

    _gen_sf100()
    _gen_sf100_textcorpus()
    out = {}
    for name, spec in select(WALL100_QUERIES).items():
        fn = bench_fn(spec)
        materialize(fn(spark, DST100), collect=False)  # warm-up
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(fn(spark, DST100), collect=False)
            times.append(time.perf_counter() - t0)
        out[name] = {"sf100": round(statistics.median(times), 3)}
        print(f"# wall100 {name}: {out[name]['sf100']}s", file=sys.stderr)
    for name, run_fn in WALL100_SINGLE_RUN:
        out[name] = run_fn(spark)
        print(f"# wall100 {name}: {json.dumps(out[name])}", file=sys.stderr)
    return out


def main() -> None:
    force = "--force" in sys.argv
    sections = {"curves", "wall", "aqe", "ivf", "ivm", "heaps", "bpe", "semdedup"}
    for a in sys.argv[1:]:
        if a.startswith("--sections="):
            sections = set(a.split("=", 1)[1].split(","))
    generate(DST, REPLICAS, force)
    generate(DST10, REPLICAS10, force)

    from cs425_distributed_systems_mp4_mapreduce_spark.session import get_spark

    spark = get_spark("scale_probe", cores=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_PROBE.json",
    )
    # partial runs (--sections=...) merge over the existing artifact
    result = {}
    if os.path.exists(out_path) and sections != {
        "curves", "wall", "aqe", "ivf", "ivm", "heaps", "bpe", "semdedup"
    }:
        with open(out_path) as f:
            result = json.load(f)
    result.update(
        {
            "src": SRC,
            "dst": DST,
            "dst10": DST10,
            "replicas": REPLICAS,
            "replicas10": REPLICAS10,
            "loadavg_before": [round(x, 2) for x in os.getloadavg()],
        }
    )
    if "curves" in sections:
        result["candidate_curves"] = _candidate_curves(spark)
    if "wall" in sections:
        result["wall_scaling"] = _wall_scaling(spark)
    if "wall_r9" in sections:
        merged = dict(result.get("wall_scaling", {}))
        merged.update(_wall_scaling(spark, R9_WALL_QUERIES))
        result["wall_scaling"] = merged
    if "aqe" in sections:
        result["aqe_skew_join"] = _aqe_skew_probe(spark)
    if "ivf" in sections:
        result["ivf_probe_vs_scan"] = _ivf_probe_vs_scan(spark)
    if "ivm" in sections:
        result["ivm_refresh_vs_recompute"] = _ivm_refresh_probe(spark)
    if "heaps" in sections:
        result["heaps_curves"] = _heaps_curves(spark)
    if "bpe" in sections:
        result["bpe_trainer"] = _bpe_trainer_probe(spark)
    if "semdedup" in sections:
        result["semdedup_cells"] = _semdedup_cells()
        result["semdedup_wall"] = _semdedup_wall(spark)
    if "semdedup_wall" in sections:  # wall only (cells is pure numpy on
        result["semdedup_wall"] = _semdedup_wall(spark)  # unchanged data)
    if "wall100" in sections:  # opt-in: ~14 GB generation + minutes of runs
        w100 = _wall_third_decade(spark)
        base = result.get("wall_scaling", {})
        for name, row in w100.items():
            sf01 = base.get(name, {}).get("sf0.1")
            if sf01:
                row["ratio_at_1000x_rows"] = round(row["sf100"] / sf01, 2)
        result["wall_scaling_sf100"] = w100
    if "auto100" in sections:  # derived-parameter rows only (needs sf100 data)
        _gen_sf100()
        _gen_sf100_textcorpus()
        merged = dict(result.get("wall_scaling_sf100", {}))
        for name, run_fn in WALL100_AUTO_RUN:
            if name in merged and not force:  # minutes each; re-run via --force
                print(f"# auto100 {name}: cached, skipping", file=sys.stderr)
                continue
            merged[name] = run_fn(spark)
            print(f"# auto100 {name}: {json.dumps(merged[name])}", file=sys.stderr)
        result["wall_scaling_sf100"] = merged
    result["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
