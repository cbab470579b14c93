"""Storage-encoding analysis ops: dictionary, run-length, delta.

The three workhorse encodings of columnar storage (parquet/ORC use
all three) surfaced as first-class, fully-oracled operators — the
analysis a 100 TB table layout decision actually runs: how big is the
dictionary, how long are the runs, how small are the deltas.  These
matter at scale because encoding choice is a measured decision
(dictionary blows up past ~10^5 distinct values; RLE pays only on
sorted/clustered columns; delta needs near-monotone keys), and the
measurement must not cost more than a scan.

Scale notes:

- ``q_encode_dict``: the dictionary is built from the GROUPED distinct
  set, so the only window (code assignment) runs over |dictionary|
  rows — bounded by the dictionary assumption itself, never by corpus
  size.  The per-code frequency column IS the encoded-column
  histogram, attesting the full encode map application.

- ``q_encode_rle``: run detection is a lag-compare + running-sum
  window PARTITIONED by the natural clustering key (order), so run
  state never crosses the key the data is already shuffled by —
  the gaps-and-islands shape q_dedup_spans/q_stream_session use.

- ``q_encode_delta``: per-partition lag deltas; the emitted invariant
  (first + Σdelta = last) is visible in the result itself, so the
  driver hash also attests losslessness of the encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources.tables import table as T


@query(
    "q_encode_dict",
    oracle="""
    SELECT CAST(DENSE_RANK() OVER (ORDER BY p_type) AS BIGINT) AS code,
           p_type,
           n
    FROM (SELECT p_type, COUNT(*) AS n FROM part GROUP BY p_type)
    ORDER BY code
    """,
)
def q_encode_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary encoding of a categorical column: sorted-distinct
    code assignment + per-code frequency (the encoded-column
    histogram).  The window runs over the grouped dictionary, not the
    fact table — |dict| rows regardless of corpus size; the encode
    itself is then a broadcast join of this table back onto the scan
    (the q_join_broadcast shape)."""
    p = T(spark, sf_dir, "part")
    d = p.groupBy("p_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("p_type")
    return d.select(
        F.dense_rank().over(w).cast("bigint").alias("code"), "p_type", "n"
    ).orderBy("code")


@query(
    "q_encode_rle",
    oracle="""
    WITH flagged AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_linestatus,
             CASE WHEN l_linestatus IS DISTINCT FROM
                       LAG(l_linestatus) OVER w THEN 1 ELSE 0 END AS chg
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey)
    ),
    runs AS (
      SELECT l_orderkey, l_linestatus,
             CAST(SUM(chg) OVER (PARTITION BY l_orderkey ORDER BY rowid
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS run_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_linenumber, l_partkey,
                                                  l_suppkey) AS rowid
            FROM flagged)
    ),
    rl AS (
      SELECT l_linestatus, COUNT(*) AS run_len
      FROM runs GROUP BY l_orderkey, run_id, l_linestatus
    )
    SELECT l_linestatus,
           COUNT(*) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_values,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           ROUND(CAST(SUM(run_len) AS DOUBLE) / COUNT(*), 6) AS avg_run
    FROM rl GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q_encode_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length profile of a low-cardinality column within its
    natural clustering key (order): change-flag via lag, run ids via
    running sum, then run-length stats per value — exactly the
    measurement that decides whether RLE pays for a column in a given
    sort order.  Integer arithmetic throughout; the avg is one double
    division of exact integers, ROUND(6)-stabilized."""
    li = T(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this corpus (verified:
    # 11,785 duplicate pairs at sf0.01), so the run order carries
    # (l_partkey, l_suppkey) to make it total — otherwise run counts are
    # engine-nondeterministic
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    flagged = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_linestatus",
        F.when(
            ~F.lag("l_linestatus").over(w).eqNullSafe(F.col("l_linestatus")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    rl = runs.groupBy("l_orderkey", "run_id", "l_linestatus").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        rl.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("run_len").cast("bigint").alias("n_values"),
            F.max("run_len").cast("bigint").alias("max_run"),
            F.round(
                F.sum("run_len").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_run"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q_encode_delta",
    oracle="""
    WITH d AS (
      SELECT o_orderpriority,
             o_orderkey,
             o_orderkey - LAG(o_orderkey) OVER
               (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS delta
      FROM orders
    )
    SELECT o_orderpriority,
           COUNT(*) AS n,
           MIN(o_orderkey) AS first_key,
           MAX(o_orderkey) AS last_key,
           CAST(SUM(delta) AS BIGINT) AS sum_delta,
           CAST(MAX(delta) AS BIGINT) AS max_delta
    FROM d GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_encode_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding profile of a near-monotone key per partition
    class: lag deltas, then (count, bounds, Σdelta, max delta).  The
    losslessness invariant first_key + sum_delta = last_key is
    visible IN the result, so the driver hash attests the encoding
    reconstructs exactly; max_delta is the bit-width the encoded
    column would need."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    d = o.select(
        "o_orderpriority",
        "o_orderkey",
        (F.col("o_orderkey") - F.lag("o_orderkey").over(w)).alias("delta"),
    )
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
            F.sum("delta").cast("bigint").alias("sum_delta"),
            F.max("delta").cast("bigint").alias("max_delta"),
        )
        .orderBy("o_orderpriority")
    )


# ------------------------------------------------------------------
# Bit-pack width analysis (the 4th storage-encoding query)
# ------------------------------------------------------------------

_BITPACK_BLOCK = 16  # orderkeys per block (key-range blocks)


_BITPACK_ORACLE = f"""
WITH v AS (
  SELECT 'l_quantity' AS col, l_orderkey // {_BITPACK_BLOCK} AS block,
         CAST(l_quantity AS BIGINT) AS q FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice_cents', l_orderkey // {_BITPACK_BLOCK},
         CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'l_discount_cents', l_orderkey // {_BITPACK_BLOCK},
         CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'l_partkey', l_orderkey // {_BITPACK_BLOCK},
         CAST(l_partkey AS BIGINT) FROM lineitem),
blocks AS (
  SELECT col, block, COUNT(*) AS n, MIN(q) AS lo, MAX(q) AS hi FROM v
  GROUP BY col, block),
widths AS (
  SELECT col, block, n,
         CAST(list_sum(list_transform(range(0, 40),
              k -> IF(hi - lo >= (1::BIGINT << k), 1, 0))) AS BIGINT)
           AS width
  FROM blocks)
SELECT col, width,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(n) AS BIGINT) AS n_values,
       CAST(SUM((n * width + 7) // 8 + 8) AS BIGINT) AS packed_bytes,
       CAST(SUM(n * 8) AS BIGINT) AS plain_bytes
FROM widths GROUP BY col, width ORDER BY col, width
"""


@query("q_encode_bitpack", oracle=_BITPACK_ORACLE)
def q_encode_bitpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-packing width analysis — the fourth storage-encoding probe
    (beside dict/RLE/delta): per key-range block of lineitem rows and
    per CANDIDATE COLUMN (quantity, price cents, discount cents,
    partkey — the real decision is per column), the frame-of-reference
    width bitlen(max − min) and the packed
    size (n·width bits + an 8-byte reference) versus plain int64 —
    the measurement behind parquet's BIT_PACKED/FOR encodings.
    Blocks derive from the KEY RANGE (l_orderkey DIV {_BITPACK_BLOCK}),
    not physical row position, so the census is layout-independent
    and deterministic; width uses the integer indicator-sum bitlen.

    Scale: one map-side-combined agg to per-block (min, max, n), one
    tiny census over widths — no sort, no window."""
    li = T(spark, sf_dir, "lineitem")
    block = F.expr(f"l_orderkey DIV {_BITPACK_BLOCK}").alias("block")
    cols = [
        ("l_quantity", "CAST(l_quantity AS BIGINT)"),
        ("l_extendedprice_cents", "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"),
        ("l_discount_cents", "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)"),
        ("l_partkey", "CAST(l_partkey AS BIGINT)"),
    ]
    parts = [
        li.select(F.lit(name).alias("col"), block, F.expr(expr).alias("q"))
        for name, expr in cols
    ]
    v = parts[0]
    for pdf in parts[1:]:
        v = v.unionByName(pdf)
    blocks = v.groupBy("col", "block").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("q").alias("lo"),
        F.max("q").alias("hi"),
    )
    widths = blocks.select(
        "col",
        "n",
        F.expr(
            "CAST(aggregate(sequence(0, 39), 0L,"
            " (acc, k) -> acc + IF(hi - lo >= shiftleft(1L, k), 1L, 0L))"
            " AS BIGINT)"
        ).alias("width"),
    )
    return (
        widths.groupBy("col", "width")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("n").cast("long").alias("n_values"),
            F.sum(F.expr("(n * width + 7) DIV 8 + 8")).cast("long").alias("packed_bytes"),
            F.sum(F.expr("n * 8")).cast("long").alias("plain_bytes"),
        )
        .orderBy("col", "width")
    )


# ------------------------------------------------------------------
# Varint (LEB128) byte census (storage planning)
# ------------------------------------------------------------------

_VARINT_LADDER = " ".join(
    f"WHEN v < {1 << (7 * b)} THEN {b}" for b in range(1, 9)
)


_VARINT_ORACLE = f"""
WITH vals AS (
  SELECT 'o_orderkey' AS col, CAST(o_orderkey AS BIGINT) AS v FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS BIGINT) FROM orders
  UNION ALL
  SELECT 'total_cents', CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
  FROM orders),
b AS (
  SELECT col, CASE {_VARINT_LADDER} ELSE 9 END AS nb FROM vals)
SELECT col,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(nb) AS BIGINT) AS varint_bytes,
       CAST(COUNT(*) * 8 AS BIGINT) AS fixed_bytes,
       CAST((COUNT(*) * 8 - SUM(nb)) * 1000000 // (COUNT(*) * 8)
            AS BIGINT) AS savings_ppm
FROM b GROUP BY col ORDER BY col
"""


@query("q_encode_varint", oracle=_VARINT_ORACLE)
def q_encode_varint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Varint/LEB128 byte census per column — the fifth
    storage-encoding probe (delta/dict/RLE/bitpack are in-repo): how
    many bytes each value needs at 7 payload bits per byte, as a pure
    integer threshold ladder (no log), plus the savings vs fixed
    int64 in ppm.  The planning census a columnar writer consults
    before picking an encoding.

    Scale: map-only ladder + one 3-group census; the three columns
    stack through one scan."""
    o = T(spark, sf_dir, "orders")
    vals = o.selectExpr(
        "stack(3, 'o_orderkey', CAST(o_orderkey AS BIGINT),"
        " 'o_custkey', CAST(o_custkey AS BIGINT),"
        " 'total_cents', CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))"
        " AS (col, v)"
    )
    return (
        vals.select("col", F.expr(f"CASE {_VARINT_LADDER} ELSE 9 END").alias("nb"))
        .groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("nb").cast("long").alias("varint_bytes"),
            (F.count(F.lit(1)) * 8).cast("long").alias("fixed_bytes"),
            F.expr(
                "CAST((COUNT(1) * 8 - SUM(nb)) * 1000000"
                " DIV (COUNT(1) * 8) AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .orderBy("col")
    )
