"""Derived tables that query modules of more than one domain build on.

Each Spark sub-plan sits beside the DuckDB SQL it must equal, so the
two change together.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import table as T

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000

#: order total in integer cents (exact on both engines)
CENTS = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"
#: pass-A histogram bucket width for the two-pass ranks of cents values:
#: 2^16 ≈ $655 per bucket → ~10³ buckets over the o_totalprice range at
#: any SF (bucket count scales with VALUE RANGE, not rows).
CENTS_BUCKET = 65536


def events_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a µs epoch column (oracle twin: epoch_us(ts))."""
    return T(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts DIV 1000")
    )


#: daily census (day, revenue dollars, order count)
DAILY_ORDERS_SQL = """
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT) AS r,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
"""


def daily_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :data:`DAILY_ORDERS_SQL`."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy(
        F.expr("datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')").alias(
            "day"
        )
    ).agg(
        F.sum(F.expr("CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("r"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
