"""Skew mitigation helpers (SURVEY.md §4.3: the reference's hot-key
problem — one juice task per key — re-solved the Spark way).

AQE's skew-join splitting handles most cases automatically
(``spark.sql.adaptive.skewJoin.enabled``, on by default here); these
helpers cover the patterns AQE cannot: skewed *aggregation* keys,
broadcast-salting a dimension for a skewed shuffled join, and an exact
global rank with no single-partition window (:func:`twopass_rank`).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted(df: DataFrame, n_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Append a salt in [0, n_salts) derived from ROW CONTENT.

    Content-derived (xxhash64 over all columns), NOT
    monotonically_increasing_id: the latter depends on partition layout
    and row order, so a task retry after partial shuffle fetch could
    re-salt rows differently and double-count/drop them downstream —
    the classic shuffle-retry hazard.  Content hashing is stable across
    retries; identical rows sharing a salt is harmless for aggregation
    (sums merge) and joins (same output either way)."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: list[Column],
    final_aggs: Callable[[DataFrame], list[Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys: groupBy(key, salt) spreads
    a hot key over n_salts reducers, then a second (tiny) aggregation
    merges the partials.  Identity: the partial aggs must be
    re-aggregatable (sum→sum, count→sum, min→min, ...)."""
    stage1 = salted(df, n_salts).groupBy(*keys, "_salt").agg(*partial_aggs)
    return stage1.groupBy(*keys).agg(*final_aggs(stage1))


def replicate_broadcast_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    dim_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Salted join for a skewed fact against a small dimension: salt the
    fact side, replicate the dim n_salts times (explode), join on
    (key, salt) — every hot key spreads over n_salts tasks.  (With a
    genuinely small dim, plain broadcast is simpler; this is the
    pattern for when the dim is just past broadcast size.)"""
    fact = salted(skewed, n_salts)
    dim_rep = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    # frame-qualified key columns, not bare F.col: when the two key
    # names coincide (the common case) bare references are ambiguous
    # after the join and Spark raises AMBIGUOUS_REFERENCE (review r12)
    return fact.join(
        dim_rep,
        (fact[key] == dim_rep[dim_key]) & (fact["_salt"] == dim_rep["_salt"]),
    ).drop("_salt")


def twopass_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    bucket_width: int,
    out_col: str,
) -> DataFrame:
    """Add ``out_col`` = the EXACT 1-based global rank of each row
    under ``ORDER BY value, tiebreak`` without any unpartitioned
    window over the row domain.  ``tiebreak_col`` must make the
    ordering total.

    * pass A: bucket census (``value DIV width``) + a running count
      over the BOUNDED bucket table (the only ordered window, sized by
      the value domain / width, never by the row count — the
      q_agg_percentile_twopass discipline);
    * pass B: per-(bucket) ``row_number`` (partitioned window) + the
      bucket's preceding cumulative count.

    Order preservation holds because integer division by a positive
    width is monotonic, and ties (equal values) always share a bucket,
    so ``(bucket, value, tiebreak)`` ordering equals the global
    ``(value, tiebreak)`` ordering."""
    b = df.withColumn("_bkt", F.expr(f"{value_col} DIV {bucket_width}"))
    census = (
        b.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    j = F.row_number().over(
        Window.partitionBy("_bkt").orderBy(value_col, tiebreak_col)
    )
    return (
        b.join(F.broadcast(census), "_bkt")
        .withColumn(out_col, (F.col("_cum_before") + j).cast("long"))
        .drop("_bkt", "_cum_before")
    )


def ntile_expr(rank_col: str, n_col: str, k: int) -> str:
    """Closed-form ntile(k) from a 1-based rank and the row count —
    replicates Spark/DuckDB ntile exactly: with q = n DIV k and
    rem = n % k, the first ``rem`` tiles hold q+1 rows, the rest q.
    (When q = 0 the first branch covers every rank, so the q-division
    in the ELSE arm is never taken.)"""
    q = f"({n_col} DIV {k})"
    rem = f"({n_col} % {k})"
    head = f"{rem} * ({q} + 1)"
    return (
        f"CASE WHEN {rank_col} <= {head}"
        f" THEN ({rank_col} - 1) DIV ({q} + 1) + 1"
        f" ELSE {rem} + ({rank_col} - {head} - 1) DIV {q} + 1 END"
    )
