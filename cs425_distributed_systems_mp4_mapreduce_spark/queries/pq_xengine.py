"""Product quantization (PQ) with ADC scoring — fully oracled.

PQ is the canonical 100 TB ANN memory move (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011; the IVF-PQ
layout FAISS/Milvus serve from): split each D-dim vector into M
subspaces, vector-quantize each subspace against a K-entry codebook,
store M small codes per vector (here 8 codes × 4 bits packable = 4
bytes vs 256 bytes of float32 — a 64× residency win), and answer
queries by Asymmetric Distance Computation: precompute the M×K table
of query-to-centroid distances ONCE per query, then score every
database vector with M table lookups — no float math per vector.

Oracle discipline (the q_sim_ann_xengine move, pushed one tier up the
ANN stack): every engine-private source of nondeterminism is removed
so the WHOLE pipeline — quantize, assign, tabulate, ADC-score, rank —
is hash-proven cross-engine:

1. vectors enter as the int8 codes q_embed_quantize already proved
   bit-identical cross-engine;
2. the codebook is data-derived but RNG-free: the 16 anchor vectors
   are vec_id 0..15's code vectors (production swaps in per-subspace
   k-means centroids; plan shape and the assignment/ADC algebra are
   IDENTICAL, so this parity covers the production scoring path);
3. assignment = integer L2² argmin, ties to the smaller centroid id;
4. the ADC table is integer; the per-vector score is a sum of 8
   integer lookups — associative, order-free.

Spark-first shape: anchors + query are a BOUNDED driver-side collect
(17 rows — exactly the per-query table build real ADC serving does);
codes, assignment and scoring are literal-folded JVM expressions over
the scan (map-only, whole-stage codegen); the ranked answer is
TakeOrderedAndProject.  Nothing shuffles except the final top-10.
The DuckDB oracle recomputes anchors, assignments, the ADC table and
the ranking relationally from the same parquet — no literals cross
the engine boundary, so agreement is an algorithm-level proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import INT8_CODES, O_INT8_CODES
from ..registry import query
from ..sources.tables import table as T

_DIM = 64
_M = 8          # subspaces
_SUB = _DIM // _M
_K = 16         # codebook entries per subspace (anchor vectors 0..15)
_TOPK = 10

_PQ_ORACLE = f"""
WITH cod AS (
  SELECT vec_id, {O_INT8_CODES} AS codes FROM embeddings),
anch AS (
  SELECT vec_id AS c, codes FROM cod WHERE vec_id < {_K}),
q AS (
  SELECT codes FROM cod WHERE vec_id = 0),
d3 AS (
  SELECT v.vec_id, s.s, a.c,
         list_sum(list_transform(range({_SUB}*s.s + 1, {_SUB}*s.s + {_SUB} + 1),
             d -> (v.codes[d] - a.codes[d]) * (v.codes[d] - a.codes[d]))) AS dist
  FROM cod v CROSS JOIN range(0, {_M}) s(s) CROSS JOIN anch a),
asg AS (
  SELECT vec_id, s, arg_min(c, dist * {_K} + c) AS code
  FROM d3 GROUP BY vec_id, s),
dt AS (
  SELECT s.s, a.c,
         list_sum(list_transform(range({_SUB}*s.s + 1, {_SUB}*s.s + {_SUB} + 1),
             d -> (q.codes[d] - a.codes[d]) * (q.codes[d] - a.codes[d]))) AS dq
  FROM q CROSS JOIN range(0, {_M}) s(s) CROSS JOIN anch a),
adc AS (
  SELECT asg.vec_id, SUM(dt.dq) AS approx_dist
  FROM asg JOIN dt ON dt.s = asg.s AND dt.c = asg.code
  GROUP BY asg.vec_id),
ex AS (
  SELECT v.vec_id,
         list_sum(list_transform(range(1, {_DIM} + 1),
             d -> (v.codes[d] - q.codes[d]) * (v.codes[d] - q.codes[d]))) AS exact_dist
  FROM cod v CROSS JOIN q)
SELECT adc.vec_id,
       CAST(adc.approx_dist AS BIGINT) AS approx_dist,
       CAST(ex.exact_dist AS BIGINT) AS exact_dist
FROM adc JOIN ex USING (vec_id)
ORDER BY approx_dist, vec_id
LIMIT {_TOPK}
"""


def _arr(ints) -> str:
    return "array(" + ", ".join(f"{int(x)}L" for x in ints) + ")"


@query("q_sim_ann_pq", oracle=_PQ_ORACLE)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-10 for the vec_id-0 query (module docstring has the
    full design).  approx_dist is the ADC estimate (8 integer table
    lookups per vector); exact_dist is the true int L2² on the codes,
    emitted so the driver check also attests the re-rank input the
    production path would use on the short-list."""
    e = T(spark, sf_dir, "embeddings")
    cod = e.select("vec_id", F.expr(INT8_CODES).alias("codes"))

    # bounded driver-side collect (K anchors incl. the query vector) —
    # the per-query ADC table build; same boundedness argument as the
    # z-order min/max collect in queries/sinks.py
    anchors = {
        r["vec_id"]: list(r["codes"])
        for r in cod.filter(F.col("vec_id") < _K).collect()
    }
    assert len(anchors) == _K and 0 in anchors, "need anchor vectors 0..15"
    qv = anchors[0]

    # ADC table: dt[s][c] = L2²(query_sub(s), anchor_c_sub(s)) — ints
    dt = [
        [
            sum(
                (qv[_SUB * s + j] - anchors[c][_SUB * s + j]) ** 2
                for j in range(_SUB)
            )
            for c in range(_K)
        ]
        for s in range(_M)
    ]

    cb = f"array({', '.join(_arr(anchors[c]) for c in range(_K))})"
    dt_lit = f"array({', '.join(_arr(row) for row in dt)})"
    q_lit = _arr(qv)

    # per-subspace assignment: argmin over the K codebook entries of
    # integer L2², ties to the smaller id via (dist, c) struct min
    sub_dist = (
        f"aggregate(sequence(0, {_SUB - 1}), 0L, (acc, j) -> acc +"
        f" (element_at(codes, CAST({_SUB}*s + j + 1 AS INT)) -"
        f"  element_at(element_at({cb}, CAST(c + 1 AS INT)),"
        f"             CAST({_SUB}*s + j + 1 AS INT))) *"
        f" (element_at(codes, CAST({_SUB}*s + j + 1 AS INT)) -"
        f"  element_at(element_at({cb}, CAST(c + 1 AS INT)),"
        f"             CAST({_SUB}*s + j + 1 AS INT))))"
    )
    pq_codes = (
        f"transform(sequence(0, {_M - 1}), s -> array_min("
        f"transform(sequence(0, {_K - 1}), c ->"
        f" named_struct('d', {sub_dist}, 'c', c))).c)"
    )
    approx = (
        f"aggregate(zip_with(pq, sequence(0, {_M - 1}),"
        f" (c, s) -> named_struct('c', c, 's', s)), 0L,"
        f" (acc, x) -> acc + element_at(element_at({dt_lit},"
        f" CAST(x.s + 1 AS INT)), CAST(x.c + 1 AS INT)))"
    )
    exact = (
        f"aggregate(sequence(0, {_DIM - 1}), 0L, (acc, j) -> acc +"
        f" (element_at(codes, CAST(j + 1 AS INT)) -"
        f"  element_at({q_lit}, CAST(j + 1 AS INT))) *"
        f" (element_at(codes, CAST(j + 1 AS INT)) -"
        f"  element_at({q_lit}, CAST(j + 1 AS INT))))"
    )
    return (
        cod.withColumn("pq", F.expr(pq_codes))
        .select(
            "vec_id",
            F.expr(approx).alias("approx_dist"),
            F.expr(exact).alias("exact_dist"),
        )
        .orderBy("approx_dist", "vec_id")
        .limit(_TOPK)
    )
