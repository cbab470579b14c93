"""Cross-engine ANN: hash-proven hyperplane-LSH candidate discovery
over QUANTIZED embeddings.

The embedding similarity family had three tiers before this module:
exact top-k (q_sim_topk, oracled), hyperplane-LSH discovery
(q_dedup_embedding / q_sim_ann_lsh — rows-only, float hyperplanes from
JVM RNG), and the planted-duplicate oracle (q_dedup_embedding_planted,
which attests recall but not the BUCKETING itself).  This module makes
the LSH machinery hash-provable, the same move q_dedup_simhash_xengine
made for SimHash: eliminate every float and every engine-private RNG
from the signature path.

1. Vectors are int8-quantized by the EXACT expression q_embed_quantize
   already proved bit-identical cross-engine (floor(x·127/scale + .5)
   with pinned DOUBLE casts).
2. Hyperplanes are INTEGER weight vectors w(j,d) ∈ [-7, 7], derived at
   import from the cross-engine xor-shift mix (operators/bpe-style
   checked-in constants: the weights are literals in BOTH the Spark
   plan and the DuckDB VALUES list, so neither engine hides an RNG).
3. Signature bit j = [⟨codes, w_j⟩ ≥ 0] — an integer dot product, so
   sign decisions cannot be perturbed by float summation order.
4. 16 bits band into 2 bands × 8 bits; candidates = pairs sharing a
   band value; verification = exact INTEGER dot product of the code
   vectors, re-joined by id.

Because every step is integer arithmetic, DuckDB replays the whole
pipeline and the driver hash-compare covers bucketing, banding AND
verification — the first fully-oracled ANN discovery path in the repo.

Scale posture (unchanged from the production LSH operator,
operators/dedup.embedding_near_pairs): signatures are built per-vector
(map-only); candidates come from a bucketed self-join on (band, value)
— never all-pairs; only (id, band, value) triples shuffle; payload
codes re-join by id for verification.  The oracle's brute-force side
is oracle-only.  At 100 TB the quantized codes are ALSO the storage
win (4× smaller, int8 SIMD dots downstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import INT8_CODES, O_INT8_CODES
from ..registry import query
from ..sources.tables import table as T

_P31 = 2147483647
_DIM = 64
_N_PLANES = 16
_N_BANDS = 2
_BAND_BITS = 8


def _mix(x: int) -> int:
    """The cross-engine xor-shift mix (same constants as the HLL twin
    in queries/sketches.py) — used at IMPORT time only, to derive the
    checked-in plane weights; neither engine re-runs it."""
    h = (1104335282 * x + 747730126) % _P31
    h ^= h >> 15
    h = (1342251277 * h + 578033794) % _P31
    h ^= h >> 13
    return h


#: Integer hyperplane weights, w(j, d) = mix(j·DIM + d) mod 15 − 7.
PLANES: list[list[int]] = [
    [_mix(j * _DIM + d) % 15 - 7 for d in range(_DIM)] for j in range(_N_PLANES)
]


def _band_exprs_spark() -> list:
    """One packed 8-bit band value per band: Σ_j bit_j << j, each bit
    an integer-dot sign test against a literal weight array."""
    out = []
    for k in range(_N_BANDS):
        terms = []
        for j in range(_BAND_BITS):
            plane = PLANES[k * _BAND_BITS + j]
            arr = ", ".join(f"{w}L" for w in plane)
            dot = (
                f"aggregate(zip_with(codes, array({arr}), (x, y) -> x * y),"
                " 0L, (a, c) -> a + c)"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j}L ELSE 0L END)")
        out.append(F.expr(" + ".join(terms)).alias(f"band_{k}"))
    return out


def _bands_sql() -> str:
    """The same packed band values as SQL select-list items over a
    `codes` column."""
    items = []
    for k in range(_N_BANDS):
        terms = []
        for j in range(_BAND_BITS):
            plane = PLANES[k * _BAND_BITS + j]
            arr = ", ".join(str(w) for w in plane)
            dot = (
                f"list_sum(list_transform(range(1, {_DIM + 1}),"
                f" d -> codes[d] * ([{arr}])[d]))"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)")
        items.append("(" + " + ".join(terms) + f") AS band_{k}")
    return ", ".join(items)


_ANN_XENGINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id, {O_INT8_CODES} AS codes FROM embeddings),
sig AS (
  SELECT vec_id, codes, {_bands_sql()} FROM q),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST((CASE WHEN a.band_0 = b.band_0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.band_1 = b.band_1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_bands
  FROM sig a JOIN sig b ON a.vec_id < b.vec_id
  WHERE a.band_0 = b.band_0 OR a.band_1 = b.band_1)
SELECT c.id_a, c.id_b, c.n_shared_bands,
       CAST(list_sum(list_transform(range(1, {_DIM + 1}),
            d -> sa.codes[d] * sb.codes[d])) AS BIGINT) AS dot_q
FROM cand c
JOIN sig sa ON sa.vec_id = c.id_a
JOIN sig sb ON sb.vec_id = c.id_b
ORDER BY id_a, id_b
"""


@query("q_sim_ann_xengine", oracle=_ANN_XENGINE_ORACLE)
def q_sim_ann_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-proven hyperplane-LSH candidate discovery (module
    docstring): int8-quantized codes → 16 integer-dot sign bits → 2
    bands × 8 bits → bucketed self-join on band value → exact integer
    dot-product verification.  DuckDB rebuilds signatures from the
    same checked-in integer planes and brute-forces the pair set, so
    the driver hash-compare proves the banding recovers EXACTLY the
    pairs sharing a band value — bucketing, packing, and the
    verification dots, bit for bit.

    Plan shape: signatures map-side (no shuffle until the band
    explode); the self-join keys on (band, value) so candidate volume
    is Σ_buckets C(n_b, 2), never C(N, 2) — measured 1,239 of 124,750
    possible pairs at sf0.01 (1%); codes re-join by vec_id for the
    verification dot, so only ids and 8-byte band values travel
    through the discovery shuffle."""
    e = T(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id", F.expr(INT8_CODES).alias("codes")
    ).select("vec_id", "codes", *_band_exprs_spark())
    bands = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"), F.col(f"band_{k}").alias("val")
                    )
                    for k in range(_N_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("vec_id", "bv.band", "bv.val")
    a = bands.select(
        F.col("vec_id").alias("id_a"), "band", "val"
    )
    b = bands.select(
        F.col("vec_id").alias("id_b"), "band", "val"
    )
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    codes = sig.select("vec_id", "codes")
    ca = codes.select(F.col("vec_id").alias("id_a"), F.col("codes").alias("ca"))
    cb = codes.select(F.col("vec_id").alias("id_b"), F.col("codes").alias("cb"))
    return (
        cand.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            F.expr(
                "aggregate(zip_with(ca, cb, (x, y) -> x * y), 0L, (a, c) -> a + c)"
            ).alias("dot_q"),
        )
        .orderBy("id_a", "id_b")
    )
