"""IVF (inverted-file) ANN probe — fully oracled.

Completes the cross-engine ANN ladder (q_sim_ann_xengine = LSH
discovery, q_sim_ann_pq = PQ/ADC scoring): the IVF coarse-quantizer
probe itself, hash-proven.  The production IVF path
(q_sim_ann_ivf / q_sim_ann_ivf_index) is rows-only because Spark ML
KMeans centroids come from seeded JVM RNG no oracle can replay; this
twin removes that nondeterminism the same way the PQ twin does:

1. vectors enter as the int8 codes q_embed_quantize proved
   bit-identical cross-engine (shared ``_CODES_*`` expressions);
2. the coarse codebook is data-derived and RNG-free — the ``_C``
   anchor code vectors are vec_id 0..C-1 (production swaps in KMeans
   centroids; the assignment/probe/re-rank ALGEBRA is identical, so
   this parity covers the serving path's arithmetic);
3. cell assignment = integer L2² argmin over the codebook, ties to
   the smaller cell id;
4. the query probes its ``_PROBE`` nearest cells (same integer
   metric, same tie rule) and exact-int-L2² re-ranks ONLY the
   vectors assigned there — the IVF contract.

Spark-first shape: the codebook and query are a bounded driver-side
collect (C rows); assignment and re-rank are map-only Arrow-batched
numpy kernels (exact int64); the probe is a `cell IN (...)`
filter; the answer is TakeOrderedAndProject.  In the persisted-index
lifecycle (q_sim_ann_ivf_index) the same `cell` filter is a hive
partition predicate, so the probe prunes I/O to n_probe/C of the
corpus — THAT query pins the pruning plan; THIS one hash-proves the
algebra the pruned scan feeds.

The DuckDB oracle recomputes codes, assignments, probe set and
re-rank relationally from the same parquet — no literals cross the
engine boundary, so agreement is an algorithm-level proof including
the tie rules and the cells-not-probed exclusions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import INT8_CODES, O_INT8_CODES
from ..registry import query
from ..sources.tables import table as T

_DIM = 64
_C = 8        # coarse cells (anchor vectors 0..7)
_PROBE = 2    # cells probed per query
_TOPK = 10

_IVF_ORACLE = f"""
WITH cod AS (
  SELECT vec_id, {O_INT8_CODES} AS codes FROM embeddings),
anch AS (
  SELECT vec_id AS c, codes FROM cod WHERE vec_id < {_C}),
q AS (
  SELECT codes FROM cod WHERE vec_id = 0),
dvc AS (
  SELECT v.vec_id, a.c,
         list_sum(list_transform(range(1, {_DIM} + 1),
             d -> (v.codes[d] - a.codes[d]) * (v.codes[d] - a.codes[d]))) AS dist
  FROM cod v CROSS JOIN anch a),
asg AS (
  SELECT vec_id, arg_min(c, dist * {_C} + c) AS cell
  FROM dvc GROUP BY vec_id),
qd AS (
  SELECT a.c,
         list_sum(list_transform(range(1, {_DIM} + 1),
             d -> (q.codes[d] - a.codes[d]) * (q.codes[d] - a.codes[d]))) AS dq
  FROM q CROSS JOIN anch a),
probe AS (SELECT c FROM qd ORDER BY dq, c LIMIT {_PROBE})
SELECT asg.vec_id,
       CAST(asg.cell AS INT) AS cell,
       CAST(list_sum(list_transform(range(1, {_DIM} + 1),
            d -> (v.codes[d] - q.codes[d]) * (v.codes[d] - q.codes[d])))
            AS BIGINT) AS dist
FROM asg JOIN cod v USING (vec_id) CROSS JOIN q
WHERE asg.cell IN (SELECT c FROM probe)
ORDER BY dist, vec_id
LIMIT {_TOPK}
"""


@query("q_sim_ann_ivf_xengine", oracle=_IVF_ORACLE)
def q_sim_ann_ivf_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe top-10 for the vec_id-0 query (module docstring has
    the full design): integer cell assignment against the anchor
    codebook, ``_PROBE``-nearest-cell probe, exact integer L2² re-rank
    of the probed cells only.

    Since round 9 the assignment and re-rank run through Arrow-batched
    numpy kernels (operators/dedup.codes_cell_udf / codes_l2_udf) —
    the round-7 literal-folded HOF form evaluated interpreted per row
    (measured ≈ 2 h CPU at 640k vectors, 102 s even at sf0.01: the
    repo's own documented HOF pitfall) with bit-identical int64
    results.  The IVF form that scales past one machine remains the
    persisted bucket-pruned index (q_sim_ann_ivf_index, probe-vs-scan
    measured in SCALE_PROBE.json's ivf section)."""
    e = T(spark, sf_dir, "embeddings")
    cod = e.select("vec_id", F.expr(INT8_CODES).alias("codes"))

    # bounded driver-side collect (C anchors incl. the query vector) —
    # the per-query probe-set computation real IVF serving does
    anchors = {
        r["vec_id"]: list(r["codes"])
        for r in cod.filter(F.col("vec_id") < _C).collect()
    }
    assert len(anchors) == _C and 0 in anchors, "need anchor vectors 0..C-1"
    qv = anchors[0]

    from ..operators.dedup import codes_cell_udf, codes_l2_udf

    cell_udf = codes_cell_udf([anchors[c] for c in range(_C)])
    l2_udf = codes_l2_udf(qv)

    # probe set: PROBE nearest anchors to the query, ties to smaller
    # id — O(C) driver arithmetic on already-collected ints
    qdist = [
        sum((qv[j] - anchors[c][j]) ** 2 for j in range(_DIM)) for c in range(_C)
    ]
    probed = sorted(range(_C), key=lambda c: (qdist[c], c))[:_PROBE]

    return (
        cod.withColumn("cell", cell_udf(F.col("codes")))
        .filter(F.col("cell").isin(probed))
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            l2_udf(F.col("codes")).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(_TOPK)
    )
