"""Plan pins for the round-7 queries: the scale-relevant properties
(partition-pruned as-of reads, shuffle-free classifier inference,
single-exchange secondary sort, pre-shuffle sampling filter) must be
visible in the physical plan, not assumed."""

from __future__ import annotations

from pyspark.sql import functions as F

from cs425_distributed_systems_mp4_mapreduce_spark.registry import all_queries
from cs425_distributed_systems_mp4_mapreduce_spark.sources.tables import table as T
from conftest import SF_T2
from test_plans import plan_of


def test_snapshot_asof_read_prunes_versions(spark):
    # build the snapshot layout, then explain an as-of read directly:
    # the v=0 filter must land in PartitionFilters (one version's dirs
    # scanned, regardless of version count)
    from cs425_distributed_systems_mp4_mapreduce_spark.queries.sinks import (
        q_source_snapshot,
        sink_path,
    )

    q_source_snapshot(spark, SF_T2)  # materializes the versioned dirs
    snap = spark.read.parquet(sink_path(SF_T2, "orders_snapshots"))
    plan = snap.filter(F.col("v") == 0)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    part = plan.split("PartitionFilters:", 1)[1].split("]")[0]
    assert "v" in part, plan
    # and the data filter is NOT re-evaluated per row (pure partition
    # prune): PushedFilters bracket stays empty
    pushed = plan.split("PushedFilters:", 1)[1].split("]")[0]
    assert "o_" not in pushed, pushed


def test_classifier_is_shuffle_free(spark):
    # inference is map-side only: no KEYED exchange anywhere — the only
    # allowed exchanges are the final presentation orderBy's range
    # partitioning and (r13) the conditional _parallelize round-robin
    # spread of the under-split scan, which carries no key and exists
    # only because the md5-per-bigram scoring is CPU-bound per-row work
    # (a single-split input ran the whole pass on one core; measured
    # 0.85 s → 0.48 s at sf0.1).  On a well-split input at scale the
    # round-robin is a no-op (operators/dedup._parallelize).
    p = plan_of(spark, "q_text_classifier")
    assert "hashpartitioning" not in p, p
    assert p.count("rangepartitioning") <= 1, p
    # the spread, when present, must be round-robin (keyless), never a
    # keyed repartition that would pretend to be a required shuffle
    assert p.count("RoundRobinPartitioning") <= 1, p


def test_secondary_sort_single_hash_shuffle(spark):
    # one hash exchange for the groupBy; the in-group ordering comes
    # from array_sort, NOT a SortAggregate or an extra sort exchange
    p = plan_of(spark, "q_secondary_sort")
    assert "SortAggregate" not in p, p
    # formatted plans carry the partitioning in the Exchange node's
    # Arguments line -> one occurrence per hash exchange
    assert p.count("hashpartitioning") == 1, p


def test_sampled_percentile_filters_before_shuffle(spark):
    # the 10% hash-sample filter must run map-side (before the
    # aggregate exchange): 90% of rows never enter the shuffle
    p = plan_of(spark, "q_agg_percentile_sampled")
    # the tree prints root-first, so "deeper than the Exchange" means
    # the Filter line comes AFTER the Exchange line in the tree text
    tree = p.split("\n\n")[0].splitlines()
    i_exch = min(i for i, l in enumerate(tree) if "Exchange" in l)
    i_filt = min(i for i, l in enumerate(tree) if "Filter" in l)
    assert i_filt > i_exch, p
    # and aggregation is two-phase (partial below, final above)
    assert sum("HashAggregate" in l or "SortAggregate" in l for l in tree) >= 2, p


def test_sampled_percentile_matches_exact_at_full_rate(spark):
    # rate=100% degenerates to the exact percentile — equivalence pin
    # for the sampling arithmetic's edge case
    li = T(spark, SF_T2, "lineitem")
    q = F.expr("percentile(CAST(l_quantity AS DOUBLE), array(0.25, 0.5, 0.75))")
    row_key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    full = (
        li.filter(F.pmod(row_key * 2654435761, F.lit(100)) < 100)
        .groupBy("l_returnflag")
        .agg(q.alias("qs"))
        .orderBy("l_returnflag")
        .collect()
    )
    exact = (
        li.groupBy("l_returnflag").agg(q.alias("qs")).orderBy("l_returnflag").collect()
    )
    assert [r.qs for r in full] == [r.qs for r in exact]


def test_classifier_empty_and_single_token_docs(spark):
    # <2 tokens -> zero features, score 0, keep false (slice arithmetic
    # must not blow up on boundary sizes)
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two tokens"), (3, "a b c")], ["doc_id", "text"]
    )
    # same bigram construction as q_text_classifier, applied to a
    # frame the boundary sizes are constructed on
    toks = "split(text, ' ')"
    bg = (
        f"zip_with(slice({toks}, 1, size({toks}) - 1),"
        f" slice({toks}, 2, size({toks}) - 1),"
        f" (a, b) -> md5(concat(a, ' ', b)))"
    )
    out = df.select("doc_id", F.expr(f"size({bg})").alias("n")).orderBy("doc_id").collect()
    assert [r.n for r in out] == [0, 1, 2]


def test_pq_adc_is_mapside_takeordered(spark):
    # PQ scoring must be map-only (assignment + ADC lookups in the
    # scan stage) with the ranked answer via TakeOrderedAndProject —
    # no shuffle, no global sort
    p = plan_of(spark, "q_sim_ann_pq")
    assert "TakeOrderedAndProject" in p, p
    assert "hashpartitioning" not in p and "rangepartitioning" not in p, p


def test_pq_adc_underestimates_never_overestimate_is_false(spark):
    # ADC distance uses the nearest-centroid proxy per subspace, so
    # approx <= true-distance-to-centroid-path is NOT guaranteed
    # against the exact vector distance in general — but approx must
    # be 0 for the query itself and strictly positive elsewhere here
    rows = all_queries()["q_sim_ann_pq"].fn(spark, SF_T2).collect()
    by_id = {r.vec_id: r for r in rows}
    assert by_id[0].approx_dist == 0 and by_id[0].exact_dist == 0
    assert all(r.approx_dist > 0 for r in rows if r.vec_id != 0)
