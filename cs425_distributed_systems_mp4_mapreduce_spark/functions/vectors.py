"""Vector math over ``array<float>`` embedding columns — pure Spark SQL
higher-order functions (JVM-evaluated, no Python in the hot path).

All folds promote elements to DOUBLE before multiplying so the
arithmetic matches DuckDB's ``list_cosine_similarity(CAST(x AS
DOUBLE[]), …)`` oracle to within ~1e-16 (measured 5.5e-17 max over
sf0.01); similarity values surfaced to the driver are rounded to 6
decimals on both sides, far above that noise floor.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM2 = (
    "aggregate({a}, CAST(0 AS DOUBLE),"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
)

#: The q_embed_quantize int8 code expression (bit-identical
#: cross-engine — see that query's oracle-discipline docstring), with
#: its DuckDB twin.
INT8_CODES = (
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 /"
    " GREATEST(CAST(array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))"
    " AS DOUBLE), 1e-30d) + 0.5d) AS BIGINT))"
)
O_INT8_CODES = (
    "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 /"
    " GREATEST(CAST(list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE))))"
    " AS DOUBLE), 1e-30) + 0.5) AS BIGINT))"
)


def dot(a: str, b: str) -> Column:
    return F.expr(DOT.format(a=a, b=b))


def l2_norm(a: str) -> Column:
    return F.sqrt(F.expr(NORM2.format(a=a)))


def cosine(a: str, b: str) -> Column:
    """cos(a, b) as a JVM expression tree.  NULL when either norm is 0
    (an all-zero embedding row): the unguarded double division aborts
    the whole job under Spark 4 ANSI mode instead of returning NaN
    (review r12); NULL sorts last in a DESC top-k, which is the
    ranking a zero vector deserves."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def cosine_to_lit(a: str, vec: Sequence[float]) -> Column:
    """cos(a, q) with the query vector folded in as a literal; its norm
    is precomputed driver-side so each row does one fold, not three.
    NULL on a zero norm, as in :func:`cosine`."""
    import math

    qnorm = math.sqrt(sum(float(x) * float(x) for x in vec))
    q = ", ".join(repr(float(x)) for x in vec)
    d = F.expr(DOT.format(a=a, b=f"array({q})"))
    denom = l2_norm(a) * F.lit(qnorm)
    return F.when(denom > 0, d / denom)
