"""Declared sink queries: the write side of the engine, exercised
end-to-end (SURVEY.md §2.2 scans/sinks block).

The reference's SDFS put/get surface is subsumed by parquet write/read;
what matters at 100 TB is the LAYOUT — a Hive-partitioned sink turns
``WHERE partition_col = x`` into partition PRUNING (the scan lists only
the matching directory) instead of a full-table scan.  The roundtrip
below is driver-verified: the oracle aggregates the SOURCE table, so
the write → prune → read → aggregate path must be lossless and the
partition filter exact.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import dsum, o_dsum
from ..registry import query
from ..sources.formats import write_parquet_partitioned
from ..sources.tables import table as T


def sink_path(sf_dir: str, name: str) -> str:
    """Deterministic scratch location per (data dir, sink name).  The
    key includes an md5 prefix of the FULL sf_dir path, not just its
    basename (review r12): two data roots sharing a leaf name — or
    two concurrent runs against the same leaf from different roots —
    would otherwise share scratch dirs, and one run's
    mode('overwrite') rewrite races the other's lazy read."""
    import hashlib

    full = os.path.abspath(sf_dir.rstrip("/"))
    tag = hashlib.md5(full.encode()).hexdigest()[:8]
    return os.path.join(
        tempfile.gettempdir(),
        "cs425_distributed_systems_mp4_mapreduce_spark_sinks",
        f"{os.path.basename(full)}_{tag}",
        name,
    )


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT l_linestatus, {sq}, {sdp}, COUNT(*) AS n
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """.format(
        sq=o_dsum("l_quantity", "sum_qty"),
        sdp=o_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price"),
    ),
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sink roundtrip: write lineitem partitioned by
    l_returnflag, read it back with a partition filter (pruned to the
    'R' directory — asserted as PartitionFilters in tests/test_plans.py)
    and aggregate.  The oracle runs the same aggregate on the SOURCE
    table, so any loss or duplication in the sink surfaces as a hash
    mismatch."""
    li = T(spark, sf_dir, "lineitem")
    path = sink_path(sf_dir, "lineitem_by_returnflag")
    write_parquet_partitioned(li, path, ["l_returnflag"])
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return (
        back.groupBy("l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q_join_bucketed",
    oracle="""
    SELECT c_mktsegment, {rev}, COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed CO-LOCATED join: both sides written bucketed+sorted on
    the join key, so the SortMergeJoin consumes bucket files directly —
    NO join-time Exchange on either side (pinned by
    tests/test_plans.py::test_bucketed_join_query_has_no_join_exchange).
    This is the 100 TB pattern for a fact table joined repeatedly on
    one key: pay the shuffle once at write time, never again.  The
    merge hint forces the SMJ path (a broadcast would also skip the
    exchange, but trivially — at scale neither side broadcasts).
    Oracle = the plain join+aggregate: bucketing must be invisible."""
    # suffix from the sink-path tag, not the bare basename (review
    # r12): two data roots sharing a leaf name would otherwise collide
    # on the same catalog table names
    wh = sink_path(sf_dir, "bucketed")
    suffix = os.path.basename(os.path.dirname(wh)).replace(".", "_")
    for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        (
            T(spark, sf_dir, name)
            .write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(wh, name))
            .saveAsTable(f"{name}_bucketed_{suffix}")
        )
    ob = spark.table(f"orders_bucketed_{suffix}")
    cb = spark.table(f"customer_bucketed_{suffix}")
    return (
        ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(dsum("o_totalprice", "revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy("c_mktsegment")
    )


def write_zordered(
    df: DataFrame, col_a: str, col_b: str, path: str, n_files: int = 16
) -> None:
    """Z-order (Morton-curve) two-dimensional layout: each dimension is
    RANGE-NORMALIZED to 8 bits by its own min/max, the bits are
    interleaved, and files are range-partitioned on the z-value.

    The normalization is load-bearing, not cosmetic: interleaving RAW
    key bits lets the wider-ranged dimension's high bits dominate the
    curve and the narrow dimension gets no locality at all (measured:
    raw interleave of an 11-bit and a 7-bit key pruned 0 files on the
    narrow key; normalized interleave pruned 11/16 on the same query).

    Result: parquet min/max stats prune files for predicates on EITHER
    dimension — the multi-dim data-skipping layout (Delta/Iceberg
    OPTIMIZE ZORDER BY) for fact tables queried along two axes, where
    a linear sort serves only its leading key."""
    mm = df.agg(
        F.min(col_a).alias("a_lo"),
        F.max(col_a).alias("a_hi"),
        F.min(col_b).alias("b_lo"),
        F.max(col_b).alias("b_hi"),
    ).collect()[0]
    # GREATEST(range, 1): a constant dimension (filtered slice) makes
    # hi == lo, and the unguarded DIV 0 aborts under ANSI mode (review
    # r12; a constant dim degrades to z = the other dim's bits, which
    # is the right layout for it).  Integral columns only — DIV is an
    # integral operator; normalize each dim ONCE via withColumn rather
    # than inlining the cast into all 8 lambda iterations (Catalyst
    # does not CSE inside higher-order-function lambdas — the inlined
    # form re-evaluated the normalization 16x per row).
    na = (
        f"CAST(({col_a} - {mm.a_lo}) * 255 DIV"
        f" GREATEST({mm.a_hi} - {mm.a_lo}, 1) AS BIGINT)"
    )
    nb = (
        f"CAST(({col_b} - {mm.b_lo}) * 255 DIV"
        f" GREATEST({mm.b_hi} - {mm.b_lo}, 1) AS BIGINT)"
    )
    zexpr = (
        "aggregate(sequence(0, 7), 0L, (acc, i) -> acc"
        " | shiftleft((_na >> i) & 1, 2*i)"
        " | shiftleft((_nb >> i) & 1, 2*i+1))"
    )
    (
        df.withColumn("_na", F.expr(na))
        .withColumn("_nb", F.expr(nb))
        .withColumn("_z", F.expr(zexpr))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_na", "_nb", "_z")
        .write.mode("overwrite")
        .parquet(path)
    )


@query(
    "q_sink_zorder",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n, {sq}
    FROM lineitem
    WHERE l_suppkey BETWEEN 10 AND 20
    GROUP BY l_suppkey ORDER BY l_suppkey
    """.format(sq=o_dsum("l_quantity", "sum_qty")),
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered-sink roundtrip: write lineitem z-ordered on
    (l_partkey, l_suppkey), read it back filtered on the SECOND
    dimension — the one a linear partkey sort cannot prune at all —
    and aggregate.  File-level min/max pruning is measured directly in
    tests/test_bucketing.py (z-layout skips most files on either
    dimension; the partkey-sorted layout reads every file for this
    query).  The oracle aggregates the SOURCE table, so the relayout
    must be lossless."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = sink_path(sf_dir, "lineitem_zorder")
    write_zordered(li, "l_partkey", "l_suppkey", path)
    back = spark.read.parquet(path).filter(F.col("l_suppkey").between(10, 20))
    return (
        back.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "sum_qty"))
        .orderBy("l_suppkey")
    )


TARGET_FILE_BYTES = 1 << 20  # 1 MiB at test SF; 128-512 MiB in production


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_bytes: int = TARGET_FILE_BYTES
) -> int:
    """Rewrite a fragmented parquet directory into ⌈bytes/target⌉
    equal-ish files.  File sizing reads DIRECTORY METADATA only (the
    driver never touches row data); the rewrite itself is one
    round-robin shuffle.  At warehouse scale this runs per partition
    directory (each date=/hour= leaf compacts independently —
    embarrassingly parallel across partitions) — the OPTIMIZE /
    bin-packing maintenance pass every streaming ingest needs, since
    a minutely trigger writing N files/day otherwise drowns the
    scheduler in file metadata.  Returns the target file count.

    Scope note (review r12): the metadata listing here uses the
    driver's LOCAL filesystem (os.listdir) — correct for this
    harness's tempdir sinks; on HDFS/S3 the same pass lists through
    the Hadoop FileSystem API (or the table format's own OPTIMIZE),
    not this helper."""
    total = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    n = max(1, -(-total // target_bytes))
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


@query(
    "q_sink_compact",
    oracle="""
    SELECT event_type, COUNT(*) AS n, {sv}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """.format(sv=o_dsum("value", "sum_value")),
)
def q_sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction roundtrip: fragment events into 48 tiny
    files (what a minutely streaming trigger leaves behind), compact to
    size-targeted files (count measured from on-disk bytes, asserted in
    tests/test_bucketing.py), read back and aggregate.  The oracle
    aggregates the SOURCE table, so the two rewrites must be lossless
    and duplication-free."""
    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    frag = sink_path(sf_dir, "events_fragmented")
    e.repartition(48).write.mode("overwrite").parquet(frag)
    compacted = sink_path(sf_dir, "events_compacted")
    compact_parquet(spark, frag, compacted)
    back = spark.read.parquet(compacted)
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .orderBy("event_type")
    )


@query(
    "q_join_dpp",
    oracle="""
    WITH dim AS (
      SELECT o_orderpriority AS prio
      FROM (
        SELECT o_orderpriority,
               ROW_NUMBER() OVER (
                 ORDER BY COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) DESC,
                          o_orderpriority) AS rk
        FROM orders GROUP BY o_orderpriority)
      WHERE rk <= 2
    )
    SELECT o_orderpriority, COUNT(*) AS n, {rev}
    FROM orders JOIN dim ON o_orderpriority = prio
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is LAID OUT
    partitioned on the join key and the dim side is filtered on an
    AGGREGATE property (top-2 priorities by count of finished orders —
    rank-based, so scale-free), which no static rule can transpose
    into the fact scan.  At runtime the dim's surviving keys flow into
    the fact scan's PartitionFilters as a dynamicpruningexpression and
    non-matching partition DIRECTORIES are never listed — the
    partition-level complement of the row-level bloom filter
    (q_join_bloom_pruned), and the reason warehouse facts partition on
    their hottest join/filter key.  Pinned in tests/test_plans.py.
    Oracle runs the same logic on the SOURCE table, so the partitioned
    relayout must also be lossless."""
    o = T(spark, sf_dir, "orders")
    path = sink_path(sf_dir, "orders_by_priority")
    write_parquet_partitioned(o, path, ["o_orderpriority"])
    fact = spark.read.parquet(path)
    from pyspark.sql.window import Window

    w = Window.orderBy(
        F.desc(
            F.count(F.when(F.col("o_orderstatus") == "F", F.lit(1)))
        ),
        "o_orderpriority",
    )
    dim = (
        o.groupBy("o_orderpriority")
        .agg(F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 2)
        .select(F.col("o_orderpriority").alias("prio"))
    )
    return (
        fact.join(dim, fact.o_orderpriority == dim.prio)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "revenue"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_source_csv",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, {rev},
           MIN(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS min_date_us,
           MAX(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS max_date_us
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """.format(rev=o_dsum("o_totalprice", "revenue")),
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange roundtrip, driver-attested end-to-end: export
    orders to headered CSV, re-import with an EXPLICIT schema (never
    inference — it costs a second full scan and can mis-type), and
    aggregate.  The oracle aggregates the parquet SOURCE, so the text
    roundtrip must preserve every value exactly — doubles survive
    because Spark writes shortest-exact decimal representations and
    re-parses them to the identical bits.  Timestamp columns are
    exported as epoch micros (Long) — the only text form that is
    unambiguous across engines and timezones — and the exported
    o_date_us now flows into the HASHED output (per-status min/max;
    review r12: it previously never reached the oracled aggregate, so
    a reader nulling every date would still have hash-matched)."""
    from ..sources.formats import read_csv, write_csv

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_date_us"),
    )
    path = sink_path(sf_dir, "orders_csv")
    write_csv(o, path)
    back = read_csv(
        spark,
        path,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_date_us long",
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "revenue"),
            F.min("o_date_us").alias("min_date_us"),
            F.max("o_date_us").alias("max_date_us"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_source_jsonl",
    oracle="""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_len,
           MAX(source) AS max_source
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_source_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines interchange roundtrip (the universal LLM-corpus
    format): export documents to .jsonl, re-import with an explicit
    schema, aggregate.  Oracle on the parquet source — any escaping or
    encoding loss in the text roundtrip surfaces as a hash mismatch:
    the roundtripped TEXT itself is attested through the per-lang
    codepoint-length sum and the source column through its max
    (review r12: the earlier aggregate touched only numeric columns,
    so escaping loss in text/source would have passed).  Like CSV,
    JSONL is line-splittable so reads parallelize, but the engine's
    native format stays parquet (types + column pruning)."""
    from ..sources.formats import read_json, write_json

    d = T(spark, sf_dir, "documents")
    path = sink_path(sf_dir, "documents_jsonl")
    write_json(d, path)
    back = read_json(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
            F.max("source").alias("max_source"),
        )
        .orderBy("lang")
    )


@query(
    "q_source_orc",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty, {rev},
           MIN(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS min_ship_us,
           MAX(epoch_us(CAST(l_shipdate AS TIMESTAMP))) AS max_ship_us
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """.format(rev=o_dsum("l_extendedprice * (1 - l_discount)", "revenue")),
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange roundtrip (the Hive/Trino columnar sibling of
    parquet), driver-attested end-to-end: export lineitem to ORC,
    re-read it, aggregate.  The oracle aggregates the parquet SOURCE,
    so the roundtrip must preserve every value bit-exactly — ORC is
    columnar and typed, so unlike CSV/JSON no schema re-supply or
    text-parse step exists to lose precision.  Timestamps are exported
    as epoch micros (Long): Spark writes ORC timestamps in local-time
    semantics, the one cross-engine ambiguity the format has.
    Scale note: ORC reads are splittable per stripe and support
    predicate pushdown, so switching a pipeline edge from parquet to
    ORC changes no plan shape downstream."""
    from ..sources.formats import read_orc, write_orc

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("l_ship_us"),
    )
    path = sink_path(sf_dir, "lineitem_orc")
    write_orc(li, path)
    back = read_orc(spark, path)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
            dsum(rev, "revenue"),
            # the exported epoch-micros form attested per group
            # (review r12: it previously never reached the oracle)
            F.min("l_ship_us").alias("min_ship_us"),
            F.max("l_ship_us").alias("max_ship_us"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_source_evolving",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_scored,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 END)
                AS BIGINT) AS sum_score
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def q_source_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION across parquet batches — the lifecycle every
    long-lived corpus hits: batch 1 lands with the original schema
    (doc_id, lang, n_chars), batch 2 lands later with an added
    `quality_score` column.  A single `mergeSchema` read unions the
    schemas by NAME and null-fills the pre-evolution rows, so the
    reader needs no migration rewrite of old data.  The batch split
    (doc_id parity) and the added column (n_chars % 100) are pure
    arithmetic, so the oracle re-derives the exact merged result from
    the base table — null-fill semantics included, because `n_scored`
    counts only post-evolution rows.

    Scale: mergeSchema reconciles FOOTERS (one per file, driver-side
    union of column sets), not data; the scan itself stays
    column-pruned and filter-pushed per file, and old files are never
    rewritten — the property that matters when "old data" is 90 TB.
    Production note: pin the merged schema explicitly once evolution
    settles (spark.read.schema(...)), because footer reconciliation
    at very high file counts adds driver latency."""
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = sink_path(sf_dir, "documents_evolving")
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality_score", (F.col("n_chars") % 100).cast("long")
    )
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=1"), os.path.join(path, "batch=2")
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.count("quality_score").alias("n_scored"),
            F.sum("quality_score").alias("sum_score"),
        )
        .orderBy("lang")
    )


@query(
    "q_source_python",
    oracle="""
    WITH src AS (
      SELECT i AS event_id,
             (1103515245 * i + 12345) % 2147483648 AS h,
             CASE i % 5 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                        WHEN 2 THEN 'signup' WHEN 3 THEN 'purchase'
                        ELSE 'error' END AS etype
      FROM generate_series(0, 9999) t(i)
    )
    SELECT etype, COUNT(*) AS n,
           COUNT(DISTINCT h % 50) AS n_users,
           {sv}
    FROM (SELECT etype, h, (h % 10000) / 100.0 AS value FROM src)
    GROUP BY etype ORDER BY etype
    """.format(sv=o_dsum("value", "sum_value")),
)
def q_source_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source via the Python DataSource API (Spark 4): register
    a pure-Python partition-parallel source and aggregate its output.
    The source (sources/pydatasource.py) generates rows from
    deterministic integer arithmetic, so the ENTIRE read path —
    option parsing, partition planning (8 splits, reads parallelize
    like any scan), per-partition generators, Arrow transport — is
    verified by exact value hash against a DuckDB generate_series
    twin, not just a row count.  ``sf_dir`` is unused: the source IS
    the data; row count is fixed so the oracle matches at every SF."""
    from ..sources.pydatasource import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    src = (
        spark.read.format("synthetic_events")
        .option("rows", "10000")
        .option("partitions", "8")
        .load()
    )
    return (
        src.groupBy("etype")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            dsum("value", "sum_value"),
        )
        .orderBy("etype")
    )


@query(
    "q_source_snapshot",
    oracle="""
    SELECT 'v0' AS snap, o_orderstatus, COUNT(*) AS n_orders, {rev0}
    FROM orders WHERE o_orderdate < DATE '1995-01-01'
    GROUP BY o_orderstatus
    UNION ALL
    SELECT 'v1' AS snap, o_orderstatus, COUNT(*) AS n_orders, {rev1}
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY snap, o_orderstatus
    """.format(
        rev0=o_dsum("o_totalprice", "revenue"),
        rev1=o_dsum("o_totalprice", "revenue"),
    ),
)
def q_source_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned snapshot source (time travel): two copy-on-write
    snapshots of orders land under hive dirs v=0 (loads before
    1995) and v=1 (everything); an as-of read is `filter(v == N)`
    and costs exactly one version's scan via partition pruning.
    The query reads BOTH versions back through the snapshot layout
    and aggregates each; the oracle recomputes the same aggregates
    from the source table, so any row lost, duplicated, or
    mis-filed between versions breaks the hash.

    Scale: each version is a complete snapshot under a hive partition
    dir ``v=N``; an as-of read is a partition filter, so time travel
    costs ONE directory's scan (partition pruning, pinned in
    tests/test_plans_r7.py) however many versions exist."""
    o = T(spark, sf_dir, "orders")
    path = sink_path(sf_dir, "orders_snapshots")
    v0 = o.filter(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"))
    v0.write.mode("overwrite").parquet(f"{path}/v=0")
    o.write.mode("overwrite").parquet(f"{path}/v=1")

    snap = spark.read.parquet(path)  # hive-partition column `v`

    def as_of(version: int, tag: str) -> DataFrame:
        return (
            snap.filter(F.col("v") == version)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum("o_totalprice", "revenue"),
            )
            .select(F.lit(tag).alias("snap"), "o_orderstatus", "n_orders", "revenue")
        )

    return as_of(0, "v0").unionByName(as_of(1, "v1")).orderBy("snap", "o_orderstatus")
