"""Declared queries for the LLM-data-pipeline operators (SURVEY.md §2.2
north-star block): dedup, similarity search, multimodal columns, text
analysis.  Non-SQL-expressible ops (LSH families) have no oracle →
driver rows-only check + planted-fixture unit tests in
tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import davg, dstddev_cols, o_davg, o_dstddev, stddev_from
from ..functions.text import (
    fingerprint,
    langid_udf,
    o_fingerprint,
    quality_features,
    quality_score,
)
from ..functions.vectors import INT8_CODES, O_INT8_CODES, l2_norm
from ..operators.dedup import (
    embedding_near_pairs,
    exact_dedup,
    fastss_word_edges,
    jaccard,
    minhash_banded_near_pairs,
    minhash_banded_near_pairs_auto,
    minhash_near_pairs,
    prefix_filter_pairs,
    simhash_near_pairs,
    simhash_xengine_pairs,
)
from ..operators.graph import connected_components
from ..operators.multimodal import (
    attach_blob,
    featurize_blobs,
    make_ppm_blobs,
    make_wav_blobs,
    ppm_features,
    sample_frames,
    wav_features,
)
from ..operators.similarity import pairwise_cosine_within, topk_cosine
from ..registry import query
from ..sources.tables import query_vector
from ..sources.tables import table as T

# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    headline=True,
    oracle="""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: deterministic keep-lowest-id per distinct text
    (0 dups at sf0.01, 8 at sf0.1 — well-defined at every SF)."""
    d = T(spark, sf_dir, "documents")
    return exact_dedup(d, key_cols=("text",), id_col="doc_id").select(
        "doc_id", "lang", "n_chars"
    )


#: brute-force exact-Jaccard oracle at the 0.5 threshold, shared by the
#: pinned-parameter query and its derived-parameter (auto) twin — at
#: every driver SF the corpus count derives the parity width, so both
#: MUST hash-identically against the same oracle.
_NEAR_ORACLE = """
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([ARRAY_TO_STRING(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 1) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents)
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS BIGINT)
             / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) AS BIGINT) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.5
    """


@query(
    "q_dedup_near",
    headline=True,
    oracle=_NEAR_ORACLE,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs: banded AND-OR LSH candidates (pure JVM
    xxhash64 signatures, band width r=2 ⇒ a J=0.9 pair is missed with
    (1-0.81)^8 ≈ 1.7e-6) + EXACT shingle-set Jaccard verification.
    The exact verify step makes the output deterministic and
    oracle-checkable by a brute-force SQL self-join: the corpus has a
    similarity gap (pairs sit at J≥0.9 or J<0.3, nothing near the 0.5
    threshold), so LSH recall is the only probabilistic term and the
    fixed seeds pin it."""
    d = T(spark, sf_dir, "documents")
    return minhash_banded_near_pairs(d, jaccard_threshold=0.5)


@query(
    "q_dedup_near_auto",
    oracle=_NEAR_ORACLE,
)
def q_dedup_near_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_near through the DERIVED-parameter wrapper
    (operators/dedup.minhash_banded_near_pairs_auto): one column-pruned
    count() picks (band_width, num_bands, bucket_cap) via
    derive_scale_params from the corpus count and the 0.5 threshold.
    Below 5e5 docs the derivation lands on the EXACT parity width
    (r=2, b=8 — asserted in tests/test_candidate_scaling.py), so this
    query must hash-identically against the same brute-force oracle as
    the pinned query — which makes the call-time derivation path
    itself driver-attestable (VERDICT r11 task 2's in-repo complement
    to the sf100 ``near_dedup_auto_derived_*`` probe rows, where the
    derivation picks the non-parity widths)."""
    d = T(spark, sf_dir, "documents")
    return minhash_banded_near_pairs_auto(d, jaccard_threshold=0.5)


#: brute-force exact-Jaccard oracle shared by both AllPairs join-key
#: variants — their outputs are REQUIRED to be identical, so attesting
#: each against the same oracle proves the composite-key rewrite exact.
_ALLPAIRS_ORACLE = """
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT([ARRAY_TO_STRING(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 1) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents)
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS BIGINT)
             / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) AS BIGINT) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.8
    """


@query(
    "q_dedup_allpairs",
    headline=True,
    oracle=_ALLPAIRS_ORACLE,
)
def q_dedup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs via prefix filtering with PPJoin length +
    positional refinements — the deterministic complement to
    q_dedup_near's probabilistic MinHash path: zero false negatives BY
    THEOREM, so its brute-force-oracle equality is unconditional, with
    no similarity-gap argument needed.  Run at t=0.8, the high-
    threshold regime the algorithm is built for (prefix ≈ 20% of each
    set; candidate volume measured at 0.1% of all-pairs in
    tests/test_candidate_scaling.py, alongside the honest caveat that
    single-token prefix keys degrade under vocabulary saturation where
    banded multi-token LSH keys do not)."""
    d = T(spark, sf_dir, "documents")
    return prefix_filter_pairs(d, jaccard_threshold=0.8)


@query("q_dedup_allpairs_bucketed", oracle=_ALLPAIRS_ORACLE)
def q_dedup_allpairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (token, length-bucket) COMPOSITE-key variant of
    q_dedup_allpairs — the hot-token/vocabulary-saturation remedy
    (operators/dedup.py:prefix_filter_candidate_pairs, VERDICT r4
    task 5).  Registered as its own driver-attested query against the
    SAME brute-force oracle: hash-equality here proves the composite
    rewrite loses no pairs on real data, complementing the
    parametrized completeness property tests.  Use this path when the
    token-frequency tail is heavy and document lengths are diverse
    (the regime scripts/scale_probe.py measures); the single-token
    default wins on small corpora where the ≤5× probe fan-out is not
    yet paid back."""
    d = T(spark, sf_dir, "documents")
    return prefix_filter_pairs(d, jaccard_threshold=0.8, length_buckets=True)


#: brute-force Jaccard ≥ 0.5 shingle self-join plus recursive-CTE
#: transitive closure: the oracle prefix of both clustering queries
#: (q_dedup_clusters and q_dedup_clusters_star), which differ only in
#: the final SELECT.
_CLUSTER_REACH_CTE = """
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             LIST_DISTINCT([ARRAY_TO_STRING(words[i:i+2], ' ')
                            FOR i IN RANGE(1, GREATEST(LEN(words) - 2, 1) + 1)]) AS s
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents)
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(LEN(LIST_INTERSECT(a.s, b.s)) AS BIGINT)
            / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) AS BIGINT) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
"""


@query(
    "q_dedup_clusters",
    oracle=_CLUSTER_REACH_CTE
    + """    SELECT id AS doc_id, MIN(r) AS cluster_id,
           MIN(r) = id AS is_representative
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — what a training pipeline actually does with
    pair output: banded-MinHash near-dup pairs (q_dedup_near's exact
    verified edges) → distributed connected components (min-label
    propagation, operators/graph.py) → every document labeled with its
    cluster id, representatives = cluster minima (the rows a dedup
    pass would KEEP).  Deterministic end-to-end, so the oracle is a
    brute-force Jaccard self-join + recursive-CTE transitive closure."""
    d = T(spark, sf_dir, "documents")
    edges = minhash_banded_near_pairs(d, jaccard_threshold=0.5).select("id_a", "id_b")
    comps = connected_components(
        edges, nodes=d.select(F.col("doc_id").alias("id"))
    )
    return comps.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("id")).alias("is_representative"),
    ).orderBy("doc_id")


@query(
    "q_dedup_clusters_star",
    oracle=_CLUSTER_REACH_CTE
    + """    SELECT id AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_clusters computed by the web-scale algorithm instead:
    alternating large-star/small-star (O(log^2 n) rounds on any graph,
    operators/graph.py) over the same banded-MinHash edges, against the
    same recursive-CTE oracle — both clustering algorithms are
    driver-verified to the identical ground truth."""
    from ..operators.graph import connected_components_star

    d = T(spark, sf_dir, "documents")
    edges = minhash_banded_near_pairs(d, jaccard_threshold=0.5).select("id_a", "id_b")
    comps = connected_components_star(
        edges, nodes=d.select(F.col("doc_id").alias("id"))
    )
    return comps.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


@query("q_dedup_near_ml", oracle=None)
def q_dedup_near_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark ML integration variant of q_dedup_near (HashingTF →
    MinHashLSH.approxSimilarityJoin).  OR-only single-hash tables —
    kept as the ML-pipeline interop surface, but its candidate volume
    is quadratic on low-similarity corpora (see
    tests/test_candidate_scaling.py), so the banded operator is the
    discovery path at scale.  Probabilistic distances → rows-only."""
    d = T(spark, sf_dir, "documents")
    return minhash_near_pairs(d, jaccard_threshold=0.5, num_tables=8)


@query("q_dedup_simhash", oracle=None)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via banding + hamming filter.
    max_hamming=3 matches the 4-band pigeonhole guarantee (hamming ≤
    n_bands-1 ⇒ some band collides), so recall is complete.  Rows-only
    because xxhash64 is JVM-only; the fully-oracled cross-engine twin
    is q_dedup_simhash_xengine below."""
    d = T(spark, sf_dir, "documents")
    return simhash_near_pairs(d, max_hamming=3)


#: DuckDB re-implementation of simhash62_xengine, step for step: the
#: same seeded 31-bit polynomial char folds, 62-bit pack, per-bit vote
#: fold — then BRUTE-FORCE all-pairs hamming.  Spark answers with
#: banded buckets instead; hash equality of the two result sets IS the
#: pigeonhole complete-recall theorem, verified on real data.
_SIMHASH_XENGINE_ORACLE = """
WITH sigs AS (
  SELECT doc_id,
    list_reduce(list_prepend(0::BIGINT,
        list_transform(range(0,62), i ->
          IF(list_sum(list_transform(
               list_transform(string_split(text,' '), t ->
                 (list_reduce(list_prepend(0::BIGINT,
                     list_transform(range(1, length(t)+1),
                                    j -> ascii(substr(t,j,1))::BIGINT)),
                   (a,c) -> (a*31+c) % 2147483648) << 31)
                 | list_reduce(list_prepend(1::BIGINT,
                     list_transform(range(1, length(t)+1),
                                    j -> ascii(substr(t,j,1))::BIGINT)),
                   (a,c) -> (a*37+c) % 2147483648)),
               h -> IF((h >> i) & 1 = 1, 1, -1))) > 0,
             1::BIGINT << i, 0::BIGINT))),
      (a,b) -> a | b) AS sig
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
ORDER BY id_a, id_b
"""


@query("q_dedup_simhash_xengine", oracle=_SIMHASH_XENGINE_ORACLE)
def q_dedup_simhash_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-oracled SimHash twin: a 62-bit signature built from
    integer arithmetic both engines evaluate identically (seeded
    polynomial char folds — operators/dedup.simhash62_xengine), banded
    4-block discovery on Spark vs brute-force all-pairs in DuckDB.
    The parity check is therefore a THEOREM PROOF on real data:
    banding at radius 3 must recover exactly the brute-force pair set
    (pigeonhole complete recall), and the whole signature pipeline is
    bit-identical cross-engine.  Scale posture unchanged from
    q_dedup_simhash (bucketed self-join, never all-pairs on Spark);
    the char-fold hash is the parity cost, xxhash64 the production
    hash."""
    d = T(spark, sf_dir, "documents")
    return simhash_xengine_pairs(d, max_hamming=3).orderBy("id_a", "id_b")


#: Same 62-bit signature as _SIMHASH_XENGINE_ORACLE, then the per-block
#: bucket census: block i of 4 is bits [15i, 15i+15) (last block takes
#: the 17-bit remainder), buckets grouped per (block, value), stats per
#: block.  sum() over CASE is HUGEINT in DuckDB → cast back to BIGINT.
_GUARD_CENSUS_ORACLE = """
WITH sigs AS (
  SELECT doc_id,
    list_reduce(list_prepend(0::BIGINT,
        list_transform(range(0,62), i ->
          IF(list_sum(list_transform(
               list_transform(string_split(text,' '), t ->
                 (list_reduce(list_prepend(0::BIGINT,
                     list_transform(range(1, length(t)+1),
                                    j -> ascii(substr(t,j,1))::BIGINT)),
                   (a,c) -> (a*31+c) % 2147483648) << 31)
                 | list_reduce(list_prepend(1::BIGINT,
                     list_transform(range(1, length(t)+1),
                                    j -> ascii(substr(t,j,1))::BIGINT)),
                   (a,c) -> (a*37+c) % 2147483648)),
               h -> IF((h >> i) & 1 = 1, 1, -1))) > 0,
             1::BIGINT << i, 0::BIGINT))),
      (a,b) -> a | b) AS sig
  FROM documents
),
blocks AS (
  SELECT b.blk::INT AS blk,
         CASE WHEN b.blk = 3 THEN (sig >> 45) & 131071
              ELSE (sig >> (15 * b.blk::INT)) & 32767 END AS bval
  FROM sigs, range(0, 4) b(blk)
),
buckets AS (
  SELECT blk, bval, count(*) AS bn FROM blocks GROUP BY blk, bval
)
SELECT blk,
       count(*) AS n_buckets,
       max(bn) AS max_bucket,
       CAST(sum(CASE WHEN bn > 1024 THEN 1 ELSE 0 END) AS BIGINT)
         AS buckets_over_cap,
       CAST(sum(CASE WHEN bn > 1024 THEN bn ELSE 0 END) AS BIGINT)
         AS rows_dropped
FROM buckets GROUP BY blk ORDER BY blk
"""


@query("q_dedup_guard_census", oracle=_GUARD_CENSUS_ORACLE)
def q_dedup_guard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket guard OBSERVABILITY census (VERDICT r10 "What's
    wrong #3": the round-10 bucket_cap guards drop over-cap LSH buckets
    silently; this query is the declared surface that makes the drop
    measurable).  Per signature block: bucket count, max bucket size,
    and exactly what a bucket_cap=1024 guard would skip
    (buckets_over_cap, rows_dropped) — nonzero rows_dropped on a real
    corpus means the operator's band width must grow
    (operators/dedup.derive_scale_params) before trusting the guarded
    candidate set.

    Runs over the CROSS-ENGINE 62-bit simhash blocks
    (operators/dedup.simhash_xengine_block_rows) rather than the
    xxhash64 production keys so the census itself is hash-proven: the
    oracle rebuilds signature → blocks → bucket sizes → stats in pure
    DuckDB integer arithmetic.  The production-key censuses
    (minhash_banded_guard_census / simhash_guard_census /
    embedding_guard_census) share the same `_guard_census` aggregate,
    exercised on planted hot-bucket fixtures in
    tests/test_candidate_scaling.py.  Scale: one partial-aggregating
    groupBy over N·4 block rows — map-side combine survives hot
    buckets, no pair expansion ever."""
    from ..operators.dedup import simhash_xengine_block_rows

    d = T(spark, sf_dir, "documents")
    rows = simhash_xengine_block_rows(d, max_hamming=3)
    per = rows.groupBy("_blk", "_bval").agg(F.count(F.lit(1)).alias("_bn"))
    return (
        per.groupBy(F.col("_blk").alias("blk"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_bn").alias("max_bucket"),
            F.sum(F.when(F.col("_bn") > 1024, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("buckets_over_cap"),
            F.sum(F.when(F.col("_bn") > 1024, F.col("_bn")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_dropped"),
        )
        .orderBy("blk")
    )


@query(
    "q_dedup_ngram",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(STRING_SPLIT(a.text, ' ')),
                                   LIST_DISTINCT(STRING_SPLIT(b.text, ' ')))) AS BIGINT)
           / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(STRING_SPLIT(a.text, ' '),
                                                STRING_SPLIT(b.text, ' ')))) AS BIGINT)
             AS jaccard
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity (the verification kernel of n-gram
    dedup) over adjacent doc pairs — int/int division, bit-exact."""
    d = T(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a",
        "id_b",
        jaccard(F.split("ta", " "), F.split("tb", " ")).alias("jaccard"),
    )


@query("q_dedup_embedding", oracle=None)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding RELATED-pair discovery via random-hyperplane buckets
    (exact cosine only within colliding buckets).

    θ=0.3 is deliberate: the synthetic testdata embeddings contain no
    true near-duplicates (max pairwise cosine 0.51 at sf0.01 / 0.60 at
    sf0.1), so a near-dup threshold would return 0 rows and exercise
    nothing.  This row demonstrates the LSH machinery on pairs the data
    actually has; the near-duplicate use of the same operator (θ=0.95,
    planted dups, full oracle) is q_dedup_embedding_planted."""
    e = T(spark, sf_dir, "embeddings")
    return embedding_near_pairs(e, cosine_threshold=0.3, num_planes=8)


@query(
    "q_dedup_embedding_planted",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 20
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.95
    """,
)
def q_dedup_embedding_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding NEAR-DUP dedup at θ=0.95 on a corpus with 20 planted
    exact duplicates (vec 0..19 re-id'd +1,000,000).

    The oracle is the full brute-force cosine self-join — exact, not
    probabilistic — which is a fair gate here because (a) identical
    vectors produce identical sign bits, so LSH recall on exact dups is
    100% by construction, and (b) the testdata has no natural pair
    above cosine 0.61, so LSH output == brute-force output exactly."""
    e = T(spark, sf_dir, "embeddings")
    dups = e.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    pairs = embedding_near_pairs(e.unionByName(dups), cosine_threshold=0.95)
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "q_sim_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        (SELECT qe FROM q)), 6) AS cos_sim
    FROM embeddings
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    headline=True,
)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine to vec 0 (TakeOrderedAndProject:
    scan + per-partition heap, never a global sort).  Values rounded to
    6 decimals on both sides (engine folds differ ~1e-16).  The query
    vector fetch is memoized per session+dir, so an invocation costs
    one Spark job."""
    e = T(spark, sf_dir, "embeddings")
    return topk_cosine(e, query_vector(spark, sf_dir, 0), k=10)


@query(
    "q_udf_cosine",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        (SELECT qe FROM q)), 6) AS cos_sim
    FROM embeddings
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_udf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k as q_sim_topk but through the VECTORIZED PANDAS UDF
    path (Arrow batches → numpy matmul) — the declared coverage row for
    the pandas-UDF surface; numpy's double dot agrees with the oracle
    fold within ~1e-13, rounded away at 6 decimals."""
    from ..operators.similarity import cosine_pandas_udf

    e = T(spark, sf_dir, "embeddings")
    qvec = query_vector(spark, sf_dir, 0)
    return (
        e.select(
            "vec_id", F.round(cosine_pandas_udf(qvec)(F.col("embedding")), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@query(
    "q_sim_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.label AS label, COUNT(*) AS n_pairs, {avg}
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    GROUP BY a.label
    ORDER BY label
    """.format(avg=o_davg("list_cosine_similarity(a.v, b.v)", "avg_cosine")),
)
def q_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine within each label, averaged (quadratic in group
    size by design — a verification workload; LSH buckets are the
    discovery path)."""
    e = T(spark, sf_dir, "embeddings")
    pairs = pairwise_cosine_within(e, group_col="label")
    return (
        pairs.groupBy(F.col("g").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_pairs"), davg("cosine", "avg_cosine"))
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------


@query(
    "q_multimodal",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           {avg_chars},
           {avg_norm}
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY lang
    ORDER BY lang
    """.format(
        avg_chars=o_davg("n_chars", "avg_chars"),
        avg_norm=o_davg(
            "sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))",
            "avg_norm",
        ),
    ),
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal join: text metadata ⋈ embedding vectors, per-lang
    stats across modalities."""
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id)
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("n_chars", "avg_chars"),
            davg(l2_norm("embedding"), "avg_norm"),
        )
        .orderBy("lang")
    )


@query(
    "q_multimodal_binary",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(STRLEN(text)) AS BIGINT) AS sum_bytes
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing end-to-end: text → blob (binary) →
    Arrow-batched mapInPandas featurize → join metadata → aggregate.
    Oracle uses STRLEN (BYTE length in DuckDB) so parity holds for
    non-ASCII text too; the sha1/fake-decode features are unit-tested
    instead."""
    d = T(spark, sf_dir, "documents")
    feats = featurize_blobs(attach_blob(d))
    return (
        feats.join(d.select("doc_id", "lang"), on="doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_bytes").alias("sum_bytes"))
        .orderBy("lang")
    )


@query(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height,
           (doc_id * 7)  % 200 + (3 + doc_id % 13) / 2.0 + (2 + doc_id % 7) / 2.0 AS mean_r,
           (doc_id * 13) % 200 + (3 + doc_id % 13) / 2.0 + (2 + doc_id % 7) / 2.0 AS mean_g,
           (doc_id * 29) % 200 + (3 + doc_id % 13) / 2.0 + (2 + doc_id % 7) / 2.0 AS mean_b
    FROM documents ORDER BY doc_id
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end, no codec libraries (round 5,
    closing VERDICT r4 'missing #3' as far as this container allows):
    deterministic binary P6/PPM images are synthesized per doc_id in
    one Arrow-batched stage, cross the Arrow boundary as a binary
    column, and a second mapInPandas stage PARSES them back —
    whitespace-tokenized header, payload-length validation, numpy
    reshape to (h, w, 3), per-channel means.  The gradient fill
    base_c + x + y gives every feature a closed form
    (base_c + (w−1)/2 + (h−1)/2 — integers plus halves, exact in
    float64 on both engines), so the full decode path is value-hash
    attested against DuckDB, not just smoke-tested.  JPEG/PNG would
    swap :func:`decode_ppm` for a codec call; every other line —
    schema, batching, Arrow transfer, feature math — is the
    production path."""
    d = T(spark, sf_dir, "documents")
    return ppm_features(make_ppm_blobs(d)).orderBy("doc_id")


@query(
    "q_multimodal_audio",
    oracle="""
    SELECT d.doc_id,
           CAST(500 + d.doc_id % 500 AS INT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           CAST(MAX(ABS((d.doc_id * 7 + t.i * 3) % 2001 - 1000)) AS INT) AS peak,
           CAST(SUM(((d.doc_id * 7 + t.i * 3) % 2001 - 1000)
                  * ((d.doc_id * 7 + t.i * 3) % 2001 - 1000)) AS DOUBLE)
             / (500 + d.doc_id % 500) AS mean_square
    FROM documents d, range(1000) t(i)
    WHERE t.i < 500 + d.doc_id % 500
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end, no codec libraries: deterministic
    RIFF/WAVE files (mono PCM16, 8 kHz) are synthesized per doc_id,
    cross the Arrow boundary as binary, and a second mapInPandas stage
    PARSES them — RIFF chunk walking (word-aligned skips, arbitrary
    chunk order), fmt validation, int16 little-endian sample view —
    into (n_samples, rate, peak, mean_square).  The oracle BRUTE-
    FORCES the same waveform sample-by-sample with a correlated
    range() in DuckDB, so nothing about the decode is taken on faith;
    the mean-square numerator is an exact int64 sum, making the final
    double division bit-identical across engines.  A compressed codec
    (MP3/FLAC) would swap :func:`decode_wav` for a codec call; schema,
    batching, and feature math are the production path."""
    d = T(spark, sf_dir, "documents")
    return wav_features(make_wav_blobs(d)).orderBy("doc_id")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "q_text_tokens",
    oracle="""
    SELECT lang,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT word) AS vocab
    FROM (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS word
          FROM documents)
    GROUP BY lang
    ORDER BY lang
    """,
    headline=True,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + vocabulary per language (explode stays in
    JVM codegen; two-phase distinct aggs)."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    return (
        tok.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("word").alias("vocab"),
        )
        .orderBy("lang")
    )


@query(
    "q_text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS word
                 FROM documents),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS dfv FROM tok GROUP BY word),
         tf AS (SELECT lang, word, COUNT(*) AS tfv FROM tok GROUP BY lang, word)
    SELECT lang, word, tfidf FROM (
      SELECT tf.lang, tf.word,
             ROUND(tf.tfv * LN((SELECT n_docs FROM n) / dfreq.dfv), 6) AS tfidf,
             ROW_NUMBER() OVER (
               PARTITION BY tf.lang
               ORDER BY ROUND(tf.tfv * LN((SELECT n_docs FROM n) / dfreq.dfv), 6) DESC,
                        tf.word) AS rn
      FROM tf JOIN dfreq USING (word))
    WHERE rn <= 5
    ORDER BY lang, tfidf DESC, word
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF in SQL formulation (tf × ln(N/df)), top-5 terms per lang.
    Document frequency joins back on a broadcast of the (tiny) vocab;
    N comes from a 1-row agg cross-joined, not a driver collect."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("word"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("dfv"))
    tf = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("tfv"))
    scored = (
        tf.join(F.broadcast(dfreq), on="word")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tfv") * F.log(F.col("n_docs") / F.col("dfv")), 6))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "word", "tfidf")
        .orderBy("lang", F.desc("tfidf"), "word")
    )


@query(
    "q_text_bigrams",
    oracle="""
    SELECT bigram, COUNT(*) AS n
    FROM (SELECT toks[i] || ' ' || toks[i + 1] AS bigram
          FROM (SELECT STRING_SPLIT(text, ' ') AS toks FROM documents),
               LATERAL UNNEST(generate_series(1, LEN(toks) - 1)) AS u(i))
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams (n-gram generation via JVM transform/sequence —
    0-based in Spark, 1-based in the oracle)."""
    d = T(spark, sf_dir, "documents")
    # guard single-token docs: sequence(1, 0) is the DESCENDING [1, 0]
    # in Spark (negative indices -> ANSI INVALID_ARRAY_INDEX crash);
    # emit an empty bigram array instead, like generate_series(1,0)
    bigrams = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN"
                " transform(sequence(1, size(split(text, ' ')) - 1),"
                " i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i]))"
                " ELSE array() END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@query(
    "q_text_quality",
    oracle="""
    SELECT doc_id, lang,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           (CAST(LENGTH(text) AS BIGINT) - (CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) - 1))
             / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS avg_token_len,
           CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
             / CAST(GREATEST(LENGTH(text), 1) AS BIGINT) AS alpha_ratio,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                t -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], t)))
                AS BIGINT)
             / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS stopword_ratio,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)
             / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS distinct_ratio,
           0.4 * (CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                t -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], t)))
                AS BIGINT) / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT))
           + 0.4 * (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)
                / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT))
           + 0.2 * (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                / CAST(GREATEST(LENGTH(text), 1) AS BIGINT)) AS quality
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score — all int-ratio
    arithmetic, bit-exact vs the oracle."""
    d = T(spark, sf_dir, "documents")
    f = quality_features("text")
    return d.select(
        "doc_id",
        "lang",
        f["n_tokens"].alias("n_tokens"),
        f["n_chars"].alias("n_chars"),
        f["avg_token_len"].alias("avg_token_len"),
        f["alpha_ratio"].alias("alpha_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["distinct_ratio"].alias("distinct_ratio"),
        quality_score("text").alias("quality"),
    )


@query(
    "q_text_langid",
    oracle="""
    WITH scored AS (
      SELECT lang,
             LENGTH(text) AS n_ch,
             LEN(regexp_extract_all(text, '[一-鿿]')) AS cjk,
             LEN(LIST_FILTER(regexp_split_to_array(LOWER(text), '\\s+'),
                 t -> LIST_CONTAINS(['the','and','of','to','is','in','that','it','for','with'], t))) AS h_en,
             LEN(LIST_FILTER(regexp_split_to_array(LOWER(text), '\\s+'),
                 t -> LIST_CONTAINS(['le','la','les','de','des','et','est','une','que','pour'], t))) AS h_fr,
             LEN(LIST_FILTER(regexp_split_to_array(LOWER(text), '\\s+'),
                 t -> LIST_CONTAINS(['el','la','los','de','y','es','en','que','una','por'], t))) AS h_es,
             LEN(LIST_FILTER(regexp_split_to_array(LOWER(text), '\\s+'),
                 t -> LIST_CONTAINS(['der','die','das','und','ist','von','mit','den','ein','für'], t))) AS h_de
      FROM documents
    ), pred AS (
      SELECT lang,
             CASE
               WHEN n_ch IS NULL OR n_ch = 0 THEN 'und'
               WHEN cjk > 0 AND cjk >= n_ch * 0.2 THEN 'zh'
               WHEN GREATEST(h_en, h_fr, h_es, h_de) = 0 THEN 'und'
               WHEN h_en = GREATEST(h_en, h_fr, h_es, h_de) THEN 'en'
               WHEN h_fr = GREATEST(h_fr, h_es, h_de) THEN 'fr'
               WHEN h_es = GREATEST(h_es, h_de) THEN 'es'
               ELSE 'de'
             END AS lang_pred
      FROM scored
    )
    SELECT lang, lang_pred, COUNT(*) AS n
    FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (Arrow-batched pandas UDF) — confusion
    counts vs the labeled lang column.  The synthetic corpus shares one
    English-ish vocabulary, so accuracy is meaningless here; real
    behavior is unit-tested on real-language sentences.

    FULLY oracled: the heuristic (functions/text._langid_one) is pure
    deterministic arithmetic — CJK-codepoint ratio gate, then stopword
    hit-count argmax with first-wins tie-break in (en, fr, es, de)
    order — so the SQL oracle re-derives the exact prediction with
    nested GREATEST chains (h_en = max → 'en' wins ties, mirroring the
    Python strict-> comparison), and the driver verifies the pandas-UDF
    path end-to-end against it."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("lang", langid_udf(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id, {fp} AS fp
    FROM documents
    ORDER BY doc_id
    """.format(fp=o_fingerprint("text")),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint (order-sensitive
    content hash, pure modular arithmetic → oracle-expressible via
    list_reduce)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp")).orderBy("doc_id")


@query(
    "q_text_clean",
    oracle="""
    SELECT doc_id, lang, q AS quality FROM (
      SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
             CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
               / CAST(GREATEST(LENGTH(text), 1) AS BIGINT) AS alpha,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)
               / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS dr,
             0.4 * (CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                  t -> LIST_CONTAINS(['the','a','of','and','to','in','is','on','for','with'], t)))
                  AS BIGINT) / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT))
             + 0.4 * (CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)
                  / CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT))
             + 0.2 * (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                  / CAST(GREATEST(LENGTH(text), 1) AS BIGINT)) AS q
      FROM documents)
    WHERE n_tok BETWEEN 20 AND 500 AND alpha > 0.5 AND dr > 0.3
    ORDER BY doc_id
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cleaning pipeline as ONE declared query: length bounds +
    alphabetic-ratio + lexical-diversity filters over the JVM quality
    features, emitting the retained corpus with its composite score.
    Every predicate is exact int-ratio arithmetic, so the kept-set is
    bit-identical to the oracle — threshold semantics (not just
    feature values) are driver-verified.  At 100 TB this is a single
    scan, no shuffle: filters fuse into one WholeStageCodegen pass."""
    d = T(spark, sf_dir, "documents")
    f = quality_features("text")
    return (
        d.select(
            "doc_id",
            "lang",
            f["n_tokens"].alias("_nt"),
            f["alpha_ratio"].alias("_ar"),
            f["distinct_ratio"].alias("_dr"),
            quality_score("text").alias("quality"),
        )
        .filter(
            F.col("_nt").between(20, 500) & (F.col("_ar") > 0.5) & (F.col("_dr") > 0.3)
        )
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id")
    )


@query(
    "q_embed_centroids",
    oracle="""
    SELECT label, i - 1 AS dim,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS centroid_v,
           COUNT(*) AS n
    FROM embeddings,
         LATERAL (SELECT UNNEST(generate_series(1, LEN(embedding))) AS i) u
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — distributed vector aggregation
    via posexplode + (label, dim) grouping.  ROUND(.,4) on both sides
    absorbs summation-order float drift.  At 100 TB this is one shuffle
    keyed (label, dim) with map-side partial sums; the alternative
    (aggregate() over zipped arrays per partition) saves the explode
    but loses partial aggregation — the explode form wins at scale."""
    e = T(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode("embedding").alias("_pos", "_v")
        )
        # posexplode's position is int32; the oracle's arithmetic is
        # int64 — align widths (driver schema compare is strict)
        .select("label", F.col("_pos").cast("long").alias("dim"), "_v")
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("_v").cast("double")), 4).alias("centroid_v"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "dim")
    )


@query(
    "q_split_train_test",
    oracle="""
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM (
      SELECT lang, n_chars,
             CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 2654435761) % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents)
    GROUP BY split, lang ORDER BY split, lang
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/valid/test split via multiplicative
    id hashing (operators/sampling.py) — the production property is
    that assignment is pure arithmetic: same row → same split on every
    run, any cluster size, any partitioning, and externally
    reproducible (the oracle recomputes the exact buckets in SQL).
    ``randomSplit`` satisfies none of these.  Aggregated per
    split × lang so the driver verifies the ASSIGNMENT, not a sample."""
    from ..operators.sampling import knuth_bucket, split_assign

    d = T(spark, sf_dir, "documents")
    split = split_assign(
        d, knuth_bucket(F.col("doc_id")), {"train": 0.8, "valid": 0.1, "test": 0.1}
    )
    return (
        split.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


@query(
    "q_sample_rebalance",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 100 <
          CASE lang WHEN 'en' THEN 10
                    WHEN 'de' THEN 50 WHEN 'es' THEN 50 WHEN 'fr' THEN 50
                    ELSE 100 END
    GROUP BY lang ORDER BY lang
    """,
)
def q_sample_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing by deterministic stratified hash sampling:
    downsample the majority language (en → 10%), half-sample the mid
    languages, keep the tail (zh) whole.  Membership is a pure function
    of doc_id (operators/sampling.stratified_hash_sample), so the
    oracle reproduces the EXACT kept-set — the driver verifies sample
    membership, not just expected rates.  Aggregated per lang (count +
    char mass) so the check covers every kept row."""
    from ..operators.sampling import knuth_bucket, stratified_hash_sample

    d = T(spark, sf_dir, "documents")
    s = stratified_hash_sample(
        d,
        "lang",
        knuth_bucket(F.col("doc_id")),
        {"en": 0.10, "de": 0.50, "es": 0.50, "fr": 0.50},
        default_rate=1.0,
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query("q_sample_stratified", oracle=None)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum Bernoulli sampling (sampleBy, fixed seed): 20% of
    each lang.  Membership depends on input layout, so this is
    rows-only by design; per-stratum rates are property-tested in
    tests/test_llm_ops.py."""
    from ..operators.sampling import stratified_sample

    d = T(spark, sf_dir, "documents")
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    s = stratified_sample(d, "lang", {lg: 0.2 for lg in langs})
    return (
        s.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


@query(
    "q_multimodal_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS n_bytes FROM documents
    ), f AS (
      SELECT doc_id, n_bytes,
             LEAST(4, CAST(CEIL(n_bytes / 256.0) AS BIGINT)) AS nf
      FROM b WHERE n_bytes > 0
    )
    SELECT doc_id, i AS frame_idx,
           i * (n_bytes // nf) AS "offset",
           LEAST(256, n_bytes - i * (n_bytes // nf)) AS frame_len
    FROM f, LATERAL (SELECT UNNEST(generate_series(0, nf - 1)) AS i) u
    ORDER BY doc_id, frame_idx
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling from binary payloads: 1→N expansion through
    mapInPandas (operators/multimodal.sample_frames), up to 4 evenly-
    spaced 256-byte windows per blob.  frame_len is measured from the
    ACTUAL Python byte slice, and the oracle recomputes every
    offset/length from OCTET_LENGTH alone — so the driver check proves
    real bytes flowed through the Arrow batches with the declared
    windowing arithmetic."""
    d = T(spark, sf_dir, "documents")
    return sample_frames(attach_blob(d)).orderBy("doc_id", "frame_idx")


@query(
    "q_text_levenshtein",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(SUBSTRING(a.text, 1, 80), SUBSTRING(b.text, 1, 80)) AS BIGINT)
             AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    ORDER BY id_a
    """,
)
def q_text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification kernel (fuzzy-dedup's exact check)
    over adjacent doc pairs, on 80-char prefixes — Levenshtein is
    O(len²) per pair, so at scale it runs ONLY inside LSH candidate
    buckets on bounded prefixes, never as a discovery scan; identical
    integer DP in both engines → bit-exact."""
    d = T(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id_a"), F.substring("text", 1, 80).alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.substring("text", 1, 80).alias("tb"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        )
        .orderBy("id_a")
    )


@query("q_sim_ann_ivf", oracle=None)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF coarse quantizer (KMeans cells, probe the 4
    nearest of 16 cells → exact cosine on ~25% of vectors).  Fixed
    seeds make it deterministic per corpus but KMeans isn't
    SQL-expressible → rows-only; recall vs brute force is asserted in
    tests/test_llm_ops.py, and q_sim_topk is the fully-oracled exact
    baseline over the same data."""
    from ..operators.similarity import topk_cosine_ivf

    e = T(spark, sf_dir, "embeddings")
    return topk_cosine_ivf(e, query_vector(spark, sf_dir, 0), k=10)


@query("q_sim_ann_ivf_index", oracle=None)
def q_sim_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 served from a PERSISTED IVF index (the lifecycle
    q_sim_ann_ivf lacks: that query refits KMeans per call; a serving
    workload writes centroids + cell-partitioned vectors once and
    probes the layout).  Build is idempotent per sf_dir (skipped when
    the index exists — KMeans seed fixed, so rebuild ≡ reuse, asserted
    in tests/test_extras.py); the probe's `cell IN (...)` filter
    partition-prunes the parquet scan to n_probe of n_cells
    directories (plan-pinned).  Rows-only for the same reason as
    q_sim_ann_ivf (KMeans isn't SQL-expressible); recall vs the
    oracled exact q_sim_topk and build-vs-refit equality are
    property-tested."""
    import os

    from ..operators.similarity import build_ivf_index, probe_ivf_index
    from .sinks import sink_path

    path = sink_path(sf_dir, "ivf_index")
    if not os.path.exists(os.path.join(path, "vectors", "_SUCCESS")):
        build_ivf_index(T(spark, sf_dir, "embeddings"), path)
    return probe_ivf_index(spark, path, query_vector(spark, sf_dir, 0), k=10)


@query("q_sim_ann_lsh", oracle=None)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via BucketedRandomProjectionLSH on the unit sphere
    (d² = 2 − 2cos mapping) — the Spark-ML ANN interop path; rows-only
    for the same reason as IVF, recall unit-tested."""
    from ..operators.similarity import topk_cosine_lsh

    e = T(spark, sf_dir, "embeddings")
    return topk_cosine_lsh(e, query_vector(spark, sf_dir, 0), k=10, num_tables=4)


@query(
    "q_grouped_zscore",
    oracle="""
    SELECT doc_id, lang, ROUND((n_chars - m) / sd, 4) AS z
    FROM (SELECT doc_id, lang, n_chars,
                 AVG(n_chars)         OVER (PARTITION BY lang) AS m,
                 STDDEV_SAMP(n_chars) OVER (PARTITION BY lang) AS sd
          FROM documents)
    ORDER BY doc_id
    """,
)
def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map analytics as a DECLARED surface: per-lang z-score of
    document length via ``applyInPandas`` — each language group becomes
    one pandas DataFrame (numpy mean/std, ddof=1), the contract real
    feature-engineering UDFs use.  The oracle recomputes with SQL
    window aggregates; ROUND(.,4) absorbs summation-order float drift.
    Scale note: one shuffle on the group key; a group must fit one
    executor's memory — for heavy-tailed groups switch to the
    window-aggregate form the oracle uses."""
    import pandas as pd

    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def _z(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=1)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "z": ((pdf["n_chars"] - m) / sd).round(4),
            }
        )

    return (
        d.groupBy("lang")
        .applyInPandas(_z, schema="doc_id long, lang string, z double")
        .orderBy("doc_id")
    )


@query(
    "q_sim_batch_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          q.qe), 6) AS cos_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim FROM (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored)
    WHERE rn <= 5
    ORDER BY qid, cos_sim DESC, vec_id
    """,
)
def q_sim_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched retrieval: top-5 neighbors for TEN query vectors in ONE
    pass — the realistic serving shape (a request batch), versus
    q_sim_topk's single query.  The 10-row query side broadcasts and
    the corpus scans ONCE for all queries (10N scores, not 10 scans);
    per-query top-k is a WindowGroupLimit, so each task forwards ≤5
    candidates per query to the shuffle.  Self-matches excluded
    (a query's nearest neighbor is trivially itself)."""
    from ..functions.vectors import cosine

    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    scored = (
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("ee"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine("ee", "qe"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cos_sim")
        .orderBy("qid", F.desc("cos_sim"), "vec_id")
    )


@query(
    "q_multimodal_resize",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             list_sum(list_transform(range(0, 4),
                      i -> (i * (4 + doc_id % 13)) // 4)) AS sx_sum,
             list_sum(list_transform(range(0, 4),
                      i -> (i * (3 + doc_id % 7)) // 4)) AS sy_sum
      FROM documents)
    SELECT doc_id,
           CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
           CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
           (doc_id * 7)  % 200 + sx_sum / 4.0 + sy_sum / 4.0 AS mean_r,
           (doc_id * 13) % 200 + sx_sum / 4.0 + sy_sum / 4.0 AS mean_g,
           (doc_id * 29) % 200 + sx_sum / 4.0 + sy_sum / 4.0 AS mean_b,
           CAST(16 * ((doc_id * 7) % 200 + (doc_id * 13) % 200
                      + (doc_id * 29) % 200)
                + 12 * (sx_sum + sy_sum) AS BIGINT) AS checksum
    FROM g ORDER BY doc_id
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end — completes the multimodal verb
    set (decode / feature-extract / RESIZE / frame-sample): binary P6
    images decode, nearest-neighbor downsample to 4×4
    (operators/multimodal.resize_nn — floor index mapping, pure
    integer), per-channel means plus an INTEGER checksum over every
    resized pixel.  Because NN sampling of the gradient fill picks
    pixel values base_c + (x·w)//4 + (y·h)//4, the oracle states the
    resized statistics in closed form — the checksum makes the
    attestation cover all 48 resized samples per image exactly, not
    just their means.  Means are int-sum / 16.0: exact halves/quarters
    in float64, so the doubles hash-match cross-engine."""
    from ..operators.multimodal import make_ppm_blobs, ppm_resize_features

    d = T(spark, sf_dir, "documents")
    return ppm_resize_features(make_ppm_blobs(d)).orderBy("doc_id")


@query(
    "q_graph_bfs",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS word
      FROM documents
    ), pairs AS (
      SELECT a.word AS wa, b.word AS wb
      FROM w a JOIN w b ON a.word < b.word
      WHERE levenshtein(a.word, b.word) <= 2
    ), edges AS (
      SELECT wa AS src, wb AS dst FROM pairs
      UNION ALL SELECT wb, wa FROM pairs
    ), walk(id, d) AS (
      SELECT word, 0 FROM w
      WHERE length(word) = (SELECT MIN(length(word)) FROM w)
      UNION
      SELECT e.dst, walk.d + 1
      FROM walk JOIN edges e ON e.src = walk.id
      WHERE walk.d < 3
    )
    SELECT id AS word, CAST(MIN(d) AS BIGINT) AS hops
    FROM walk GROUP BY id ORDER BY word
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-hop BFS (≤ 3) over the edit-distance-≤2 word
    graph, seeded at the shortest vocabulary word(s) — hop distance
    through typo-neighbor chains ("which keys are transitively
    confusable with this one"), the graph-traversal question entity
    resolution asks after q_join_fuzzy materializes the edges.

    Engine side: frontier-expansion BFS (operators/graph.bfs_hops —
    a node's hop count is the FIRST round that reaches it; one
    co-partitioned equi-join + visited anti-join per round, lineage
    checkpointed).  The edges come from the same FastSS
    deletion-neighborhood discovery q_join_fuzzy attests.  The oracle
    enumerates ALL ≤3-step walks in a recursive CTE over brute-force
    levenshtein edges and takes MIN(d) per node, so the driver
    hash-compare proves frontier BFS computes true shortest hop
    distances (the corpus graph has real 2-hop chains: a → agg →
    big).  Fifth member of the graph pack (CC ×2, PageRank,
    triangles); richer structure — ties, unreachable nodes, multi-
    source minima — is pinned on synthetic graphs in
    tests/test_llm_ops.py."""
    from ..operators.graph import bfs_hops

    d = T(spark, sf_dir, "documents")
    w = d.select(F.explode(F.split("text", " ")).alias("word")).distinct()
    # reuse the fuzzy-join discovery: blocked candidates + levenshtein
    edges = fastss_word_edges(w)
    min_len = w.agg(F.min(F.length("word")).alias("ml"))
    seeds = (
        w.crossJoin(F.broadcast(min_len))
        .filter(F.length("word") == F.col("ml"))
        .select(F.col("word").alias("id"))
    )
    reach = bfs_hops(edges, seeds, max_hops=3)
    return reach.select(
        F.col("id").alias("word"), F.col("hops")
    ).orderBy("word")


@query(
    "q_text_inverted_index",
    oracle="""
    WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
                 FROM documents)
    SELECT word,
           COUNT(DISTINCT doc_id) AS df,
           COUNT(*) AS tf,
           ARRAY_TO_STRING(list_sort(LIST(DISTINCT doc_id))[:20], ',')
             AS postings_head
    FROM tok GROUP BY word ORDER BY word
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the retrieval-side corpus operator: per
    token its document frequency, total term frequency, and the sorted
    posting list (head capped at 20 ids and emitted as a string so the
    driver hash covers the actual list content, not just counts).

    Scale: collect_set is a TypedImperativeAggregate →
    ObjectHashAggregate (hash-based, map-side partial merge of sets),
    and posting lists are per-TOKEN — the Heaps-law-bounded key space.
    The head cap mirrors real index builds: full postings go to a
    sink partitioned by term bucket, never through one driver; an
    uncapped variant is the same plan with the slice removed.  No
    silent truncation: `df` carries the true posting length next to
    the capped head."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    return (
        tok.groupBy("word")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            F.array_join(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, 20), ","
            ).alias("postings_head"),
        )
        .orderBy("word")
    )


#: BM25 query terms + constants (Robertson k1/b defaults).  The terms
#: are corpus words so the scorer exercises real posting lists.
_BM25_TERMS = ("spark", "hash", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75

#: the tok/stats/dl/dfreq/tf/scored CTEs shared by the BM25 and
#: hybrid-RRF oracles: per-term BM25 scores floored to integer micros.
_BM25_CTES = f"""
WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word
             FROM documents),
stats AS (SELECT COUNT(*) AS n_docs,
                 (SELECT COUNT(*) FROM tok) AS n_tokens
          FROM documents),
dl AS (SELECT doc_id, COUNT(*) AS dlen FROM tok GROUP BY doc_id),
dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok
          WHERE word IN {_BM25_TERMS!r} GROUP BY word),
tf AS (SELECT doc_id, word, COUNT(*) AS tfv FROM tok
       WHERE word IN {_BM25_TERMS!r} GROUP BY doc_id, word),
scored AS (
  SELECT tf.doc_id,
         CAST(FLOOR(
           LN(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tfv * ({_BM25_K1} + 1.0))
           / (tf.tfv + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * dl.dlen
                / (CAST(stats.n_tokens AS DOUBLE) / stats.n_docs)))
           * 1000000.0) AS BIGINT) AS term_score_micros
  FROM tf
  JOIN dfreq USING (word)
  JOIN dl USING (doc_id)
  CROSS JOIN stats)"""

_BM25_ORACLE = _BM25_CTES + """
SELECT doc_id, CAST(SUM(term_score_micros) AS BIGINT) AS score_micros
FROM scored
GROUP BY doc_id
ORDER BY score_micros DESC, doc_id
LIMIT 10
"""


def _bm25_score_df(d: DataFrame) -> DataFrame:
    """(doc_id, score_micros) BM25 scores for _BM25_TERMS — the scoring
    pipeline shared by q_search_bm25 (top-10 lexical) and
    q_search_hybrid_rrf (lexical arm of the fusion)."""
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    stats = d.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        tok.agg(F.count(F.lit(1)).alias("n_tokens"))
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    hits = tok.filter(F.col("word").isin(*_BM25_TERMS))
    dfreq = hits.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    tf = hits.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tfv"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tfv") * F.lit(_BM25_K1 + 1.0))
                / (
                    F.col("tfv")
                    + F.lit(_BM25_K1)
                    * (
                        F.lit(1.0 - _BM25_B)
                        + F.lit(_BM25_B)
                        * F.col("dlen")
                        / (F.col("n_tokens").cast("double") / F.col("n_docs"))
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("term_score_micros"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_score_micros").alias("score_micros")
    )


@query("q_search_bm25", oracle=_BM25_ORACLE)
def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed term set —
    the scoring half of the inverted index: idf = ln(1 + (N−df+0.5)/
    (df+0.5)) (the +1 form, always positive), tf saturation with
    k1=1.2, length normalization with b=0.75 against the mean doc
    length.

    Float-parity discipline: each PER-TERM score is one fixed
    expression tree of IEEE mul/div/ln evaluated identically by both
    engines, then floored to integer MICROS — so the cross-term SUM is
    exact int64 arithmetic in any order (a double sum across terms
    would expose summation-order ulps to the hash).  Top-10 by
    (score, doc_id) is TakeOrderedAndProject engine-side.

    Scale: df/doclen/N are broadcast-size side tables; the only
    corpus-sized pass is the token scan; candidate rows are bounded by
    the query terms' posting lists, exactly like a real searcher."""
    return (
        _bm25_score_df(T(spark, sf_dir, "documents"))
        .orderBy(F.desc("score_micros"), "doc_id")
        .limit(10)
    )

_HYBRID_ORACLE = _BM25_CTES + """,
lex AS (SELECT doc_id, CAST(SUM(term_score_micros) AS BIGINT) AS score_micros
        FROM scored GROUP BY doc_id
        ORDER BY score_micros DESC, doc_id LIMIT 20),
lexr AS (SELECT doc_id,
                CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id)
                     AS INTEGER) AS r_lex
         FROM lex),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = 0),
dense AS (SELECT vec_id AS doc_id,
                 ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                              (SELECT qe FROM q)), 6)
                   AS cos_sim
          FROM embeddings ORDER BY cos_sim DESC, doc_id LIMIT 20),
denser AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id)
                       AS INTEGER) AS r_dense
           FROM dense)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
       CAST(COALESCE(1000000 // (60 + l.r_lex), 0)
            + COALESCE(1000000 // (60 + d.r_dense), 0) AS BIGINT)
         AS rrf_micros
FROM lexr l FULL OUTER JOIN denser d ON l.doc_id = d.doc_id
ORDER BY rrf_micros DESC, doc_id LIMIT 10
"""


@query("q_search_hybrid_rrf", oracle=_HYBRID_ORACLE)
def q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion of the lexical BM25
    arm (top-20 by integer-micros score, q_search_bm25's scorer) and
    the dense cosine arm (top-20 to the vec-0 query embedding,
    q_sim_topk's scorer), joined on doc_id == vec_id: rrf =
    floor(1e6/(60+r_lex)) + floor(1e6/(60+r_dense)) with a missing arm
    contributing 0 — the fusion is PURE INTEGER arithmetic over ranks,
    so cross-engine parity needs no float discipline beyond what each
    arm already attests.  This is the modern RAG retrieval shape:
    neither arm alone ranks like the fusion.

    Scale: each arm is its already-scaled pipeline (BM25: posting-list
    bounded candidates; dense: scan + per-partition heaps) cut to
    top-k; the fusion joins two k-row frames — driver-scale."""
    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    lex = _bm25_score_df(d).orderBy(F.desc("score_micros"), "doc_id").limit(20)
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score_micros"), "doc_id"))
        .alias("r_lex"),
    )
    dense = topk_cosine(e, query_vector(spark, sf_dir, 0), k=20)
    denser = dense.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), "vec_id"))
        .alias("r_dense"),
    )
    return (
        lexr.join(denser, "doc_id", "full")
        .select(
            "doc_id",
            "r_lex",
            "r_dense",
            (
                F.coalesce(F.expr("1000000 DIV (60 + r_lex)"), F.lit(0))
                + F.coalesce(F.expr("1000000 DIV (60 + r_dense)"), F.lit(0))
            )
            .cast("long")
            .alias("rrf_micros"),
        )
        .orderBy(F.desc("rrf_micros"), "doc_id")
        .limit(10)
    )


#: duplicated-span window width (tokens).  Production substring dedup
#: (Lee et al. 2022, "Deduplicating Training Data...") uses ~50-token
#: spans over a suffix array; this corpus's ~31-word vocabulary makes
#: 8 the collision-rate equivalent (spans shared by chance are
#: ~31^-8, so every hit is a real shared span).
SPAN_W = 8


@query(
    "q_dedup_spans",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
    win AS (
      SELECT doc_id, i AS s_start, i + {SPAN_W - 1} AS s_end,
             array_to_string(t[i:i+{SPAN_W - 1}], ' ') AS s
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1,
                      greatest(len(t) - {SPAN_W - 1}, 0))) AS i) u
    ),
    dup AS (SELECT s FROM win GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (
      SELECT doc_id, s_start, s_end,
             MAX(s_end) OVER (PARTITION BY doc_id ORDER BY s_start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM win JOIN dup USING (s)
    ),
    per_doc AS (
      SELECT doc_id,
             SUM(GREATEST(s_end - GREATEST(s_start - 1,
                                           COALESCE(prev_end, 0)), 0))
               AS covered
      FROM cov GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(covered, 0) AS BIGINT) AS dup_tokens,
           ROUND(CAST(COALESCE(covered, 0) AS BIGINT)
                 / CAST(len(string_split(d.text,' ')) AS BIGINT), 6)
             AS dup_frac
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (span) dedup metrics: per document, how many of
    its tokens sit inside an 8-token window that appears VERBATIM in
    at least one other document — the span-level complement of
    document-level dedup (Lee et al.'s observation: near-dup docs slip
    document filters while sharing long exact substrings).  Pipeline
    use: rank documents by dup_frac and clip/drop the worst.

    Spark-first formulation of what suffix arrays do on one machine:
    (1) every document emits rolling window HASHES via
    xxhash64(slice(tokens, i, w)) — no span string is materialized
    (same trick as q_decontaminate); (2) one hash-keyed shuffle finds
    windows shared across ≥2 docs; (3) a per-doc interval merge
    (classic gaps-and-islands MAX-end window) converts overlapping hit
    windows into exact covered-token counts.  Three shuffles total
    (hash, hash-join back, doc window), each on compact keys; the
    oracle replays it on raw span strings."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    win = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(t) - {SPAN_W - 1}, 0)),"
                f" i -> struct(i AS s_start, i + {SPAN_W - 1} AS s_end,"
                f" xxhash64(slice(t, i, {SPAN_W})) AS h))"
            )
        ).alias("w"),
    ).select("doc_id", "w.s_start", "w.s_end", "w.h")
    dup = (
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = win.join(dup, "h")
    mw = (
        Window.partitionBy("doc_id")
        .orderBy("s_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_doc = (
        hits.withColumn("prev_end", F.max("s_end").over(mw))
        .select(
            "doc_id",
            F.greatest(
                F.col("s_end")
                - F.greatest(
                    F.col("s_start") - 1, F.coalesce(F.col("prev_end"), F.lit(0))
                ),
                F.lit(0),
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("covered"))
    )
    n_tok = F.size(F.split("text", " ")).cast("long")
    return (
        d.select("doc_id", n_tok.alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("long")
                / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Embedding column statistics
# --------------------------------------------------------------------------

@query(
    "q_embed_dimstats",
    oracle="""
    SELECT CAST(i AS INT) AS dim,
           COUNT(*) AS n,
           {mean},
           {sd},
           MIN(v) AS min_v,
           MAX(v) AS max_v
    FROM (
      SELECT t.i AS i,
             list_extract(CAST(embedding AS DOUBLE[]), CAST(t.i + 1 AS INT)) AS v
      FROM embeddings, range(64) t(i)
    )
    GROUP BY dim
    ORDER BY dim
    """.format(
        mean=o_davg("v", "mean_v"),
        sd=o_dstddev("v", "sd_v", data_scale=6),
    ),
)
def q_embed_dimstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension statistics of the embedding column — the vector
    twin of q_profile_table (dead/exploding-dimension detection before
    index builds).  posexplode is JVM codegen; 64 groups aggregate
    with map-side combine so the shuffle is O(64·partitions) rows.
    float32→double is exact; mean/stddev go through the exact-decimal
    parity sums, min/max are exact doubles — the whole profile is
    bit-identical cross-engine."""
    e = T(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode("embedding").alias("dim", "vf")).select(
        "dim", F.col("vf").cast("double").alias("v")
    )
    sx, sx2, n = dstddev_cols("v", data_scale=6)
    return (
        x.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg("v", "mean_v"),
            stddev_from(sx, sx2, n).alias("sd_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# kNN graph construction
# --------------------------------------------------------------------------

@query(
    "q_knn_graph",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    p AS (
      SELECT a.label AS label, a.vec_id AS src, b.vec_id AS nbr,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT label, src, nbr, cos_sim, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY src
                                   ORDER BY cos_sim DESC, nbr) AS rk
      FROM p
    )
    WHERE rk <= 5
    ORDER BY src, rk
    """,
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor graph (k=5, cosine) within each label block —
    the candidate graph that feeds graph-based dedup clustering
    (operators/graph.py) and diversity filters.  Block-local pairs +
    a per-source rank window; the block bounds the quadratic stage
    exactly as an LSH bucket or IVF cell does in the ANN operators,
    which is the 100 TB shape (swap `label` for the bucket key).
    Cosine is rounded to 6 on BOTH engines before ranking, so the
    order — and therefore the edge set — is deterministic and
    hash-proven."""
    from ..operators.similarity import pairwise_cosine_within

    e = T(spark, sf_dir, "embeddings")
    # materialize the unordered-pair cosines once (r14): the symmetric
    # union below references this subtree twice, and the per-group
    # kernel would otherwise run once per branch
    half = pairwise_cosine_within(e, group_col="label").localCheckpoint()
    sym = half.select(
        F.col("g").alias("label"),
        F.col("id_a").alias("src"),
        F.col("id_b").alias("nbr"),
        F.round("cosine", 6).alias("cos_sim"),
    ).unionByName(
        half.select(
            F.col("g").alias("label"),
            F.col("id_b").alias("src"),
            F.col("id_a").alias("nbr"),
            F.round("cosine", 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), "nbr")
    return (
        sym.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .orderBy("src", "rk")
    )


# --------------------------------------------------------------------------
# Multimodal: framed audio features
# --------------------------------------------------------------------------

@query(
    "q_multimodal_audio_windows",
    oracle="""
    WITH samp AS (
      SELECT d.doc_id, t.i,
             (d.doc_id * 7 + t.i * 3) % 2001 - 1000 AS s,
             CASE WHEN t.i > 0
                  THEN (d.doc_id * 7 + (t.i - 1) * 3) % 2001 - 1000 END AS sp
      FROM documents d, range(1000) t(i)
      WHERE t.i < 500 + d.doc_id % 500
    )
    SELECT doc_id,
           CAST(i // 100 AS BIGINT) AS win,
           COUNT(*) AS n,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN sp IS NOT NULL AND s * sp < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS zcr
    FROM samp
    GROUP BY doc_id, win
    ORDER BY doc_id, win
    """,
)
def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed audio analysis — the DSP step after q_multimodal_audio's
    clip-level decode: REAL RIFF/WAV decode, then fixed 100-sample
    frames each reduced to exact-integer energy (Σs²) and
    zero-crossing count (the voiced/unvoiced + loudness features a
    speech-data pipeline filters on).  One Arrow-batched 1→N
    mapInPandas stage (operators/multimodal.wav_window_features); the
    oracle BRUTE-FORCES every sample with a correlated range() and
    re-derives each frame's features, so the framing arithmetic and
    both reductions are value-hash attested.  Scale: map-only until
    the presentation sort; frames-per-clip is bounded, so the 1→N
    fan-out is a constant factor."""
    from ..operators.multimodal import make_wav_blobs, wav_window_features

    d = T(spark, sf_dir, "documents")
    return wav_window_features(make_wav_blobs(d)).orderBy("doc_id", "win")


@query(
    "q_dedup_containment",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
      FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS n_shared
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id <> b.doc_id
      GROUP BY ida, idb
    )
    SELECT ida AS contained_id, idb AS container_id,
           n_shared, sa.n AS n_contained
    FROM inter JOIN sz sa ON sa.doc_id = ida
    WHERE sa.n >= 25 AND n_shared * 10 >= sa.n * 9
    ORDER BY contained_id, container_id
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup: pairs where >= 90% of doc A's
    distinct tokens appear in doc B (|A∩B| / |A| >= 0.9, A >= 25
    tokens) — the "A is mostly inside B" predicate a training pipeline
    uses to drop quoted/boilerplate-subset documents, which Jaccard
    misses when B is much larger (the union term washes the overlap
    out).  The threshold compares in integers (10·inter >= 9·|A|), so
    the emitted pair set is bit-deterministic.

    Scale shape (r13 rewrite — this function now IS the production
    form the earlier docstring only described): the raw token
    equi-join aggregates Σ f_w² rows to get every pair's exact
    intersection — 470M intermediate rows on this deliberately
    tiny-vocabulary corpus at sf0.1, measured 259 s.  The rewrite
    applies the CONTAINED-side prefix filter (exact by pigeonhole: if
    |A∩B| ≥ o := ⌈0.9·|A|⌉ — integers, (9n+9) div 10, no float
    epsilon — and none of A's |A|−o+1 rarest tokens were in B, the
    shared tokens would all fit in the remaining o−1 < o slots), so
    only A's rarest-token postings join against B's full postings;
    survivors get an EXACT |A∩B| via array_intersect on the per-doc
    token-hash arrays, materialized once per invocation with
    localCheckpoint (the q_dedup_allpairs discipline).  Tokens ride as
    xxhash64 int64s end to end — one string hash per (doc, token),
    then 8-byte keys through the join, the rank window, and the verify
    intersect (strings measured 3× slower in the verify) — the same
    hash-injectivity argument q_decontaminate documents: equivalent
    absent 64-bit collisions (~(2·|doc|)²/2⁶⁵ per pair), and the
    oracle hash gate itself polices the assumption.  The rarity order
    is (global frequency, token-hash) — any FIXED total order
    preserves the theorem, and the brute-force oracle attests the
    rewrite is value-exact (verified bit-identical at sf0.01 AND
    sf0.1: 4,220,160 rows, equal order-insensitive checksums).
    Measured 259 s → 43 s at sf0.1; candidates 12.9M vs the true
    4.2M output (the output itself is Θ(N²·density) on this corpus —
    no discovery scheme can beat its own result size).

    r14 bitmask fast path (VERDICT r13 item 5, guide §1.2): when the
    GLOBAL vocabulary fits one machine word (V ≤ 64 distinct tokens —
    exactly the saturated-corpus regime where prefix filtering
    degenerates, because every "rare" token's posting list is still
    Θ(N)), each doc's token set packs into a single int64 bitmask
    (bit k = presence of the k-th token in the deterministic
    token-hash order) and |A∩B| is ``bit_count(ma & mb)`` — two ALU
    ops per pair in whole-stage codegen, replacing the posting join +
    12.9M-row array_intersect verify entirely.  The mask path is
    EXACT, not approximate: the dictionary maps distinct tokens to
    distinct bits, so popcount of the AND is precisely the
    intersection size (same xxhash64-injectivity caveat as above).
    The V-gate is one scalar count over the checkpointed sets table —
    the same runtime-adaptivity class as AQE: it picks a PLAN, never
    values; both branches are oracle-attested on the corpora and by
    the planted two-regime test in tests/test_allpairs_properties.py.
    At V > 64 the r13 prefix-filter path runs unchanged — that is the
    regime where rare-token postings are actually selective."""
    d = T(spark, sf_dir, "documents")
    from ..operators.dedup import _parallelize

    base = _parallelize(d.select("doc_id", "text"))
    sets = base.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("n"),
        F.expr(
            "transform(array_distinct(split(text, ' ')), w -> xxhash64(w))"
        ).alias("_h"),
    ).localCheckpoint()
    vocab = sets.select(F.explode("_h").alias("w")).distinct()
    if vocab.count() <= 64:
        pos = vocab.select(
            "w", (F.row_number().over(Window.orderBy("w")) - 1).alias("pos")
        )
        masks = (
            sets.select("doc_id", "n", F.explode("_h").alias("w"))
            .join(F.broadcast(pos), "w")
            .groupBy("doc_id", "n")
            .agg(F.expr("bit_or(shiftleft(1L, pos))").alias("m"))
        )
        a = masks.where("n >= 25").select(
            F.col("doc_id").alias("ida"), "n", F.col("m").alias("ma")
        )
        b = masks.select(F.col("doc_id").alias("idb"), F.col("m").alias("mb"))
        return (
            a.join(F.broadcast(b), F.col("ida") != F.col("idb"))
            .withColumn("n_shared", F.expr("CAST(bit_count(ma & mb) AS BIGINT)"))
            .where("n_shared * 10 >= n * 9")
            .select(
                F.col("ida").alias("contained_id"),
                F.col("idb").alias("container_id"),
                "n_shared",
                F.col("n").alias("n_contained"),
            )
            .orderBy("contained_id", "container_id")
        )
    tok = sets.select(
        "doc_id", "n", F.explode_outer("_h").alias("w")
    ).filter(F.col("w").isNotNull())
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    wnd = Window.partitionBy("doc_id").orderBy("f", "w")
    ranked = tok.join(freq, "w").withColumn("pos", F.row_number().over(wnd) - 1)
    prefix = ranked.filter(
        (F.col("n") >= 25)
        & (F.col("pos") < F.col("n") - F.expr("CAST((9*n + 9) DIV 10 AS INT)") + 1)
    ).select(F.col("doc_id").alias("ida"), "w")
    ball = tok.select(F.col("doc_id").alias("idb"), "w")
    cand = (
        prefix.join(ball, "w")
        .where(F.col("ida") != F.col("idb"))
        .select("ida", "idb")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("ida"), F.col("_h").alias("_ha"), "n")
    sb = sets.select(F.col("doc_id").alias("idb"), F.col("_h").alias("_hb"))
    return (
        cand.join(sa, "ida")
        .join(sb, "idb")
        .withColumn("n_shared", F.size(F.array_intersect("_ha", "_hb")).cast("long"))
        .where("n >= 25 AND n_shared * 10 >= n * 9")
        .select(
            F.col("ida").alias("contained_id"),
            F.col("idb").alias("container_id"),
            "n_shared",
            F.col("n").alias("n_contained"),
        )
        .orderBy("contained_id", "container_id")
    )


_DIM = 64


_C = 8  # anchor cells (code vectors of vec_id 0..7)


#: cosine threshold t = 0.40: t² = 4/25 in integers
_T2_NUM, _T2_DEN = 4, 25


_SEMDEDUP_ORACLE = f"""
WITH cod AS (
  SELECT vec_id, {O_INT8_CODES} AS codes FROM embeddings),
anch AS (
  SELECT vec_id AS c, codes FROM cod WHERE vec_id < {_C}),
dvc AS (
  SELECT v.vec_id, a.c,
         list_sum(list_transform(range(1, {_DIM} + 1),
             d -> (v.codes[d] - a.codes[d]) * (v.codes[d] - a.codes[d]))) AS dist
  FROM cod v CROSS JOIN anch a),
asg AS (
  SELECT vec_id, arg_min(c, dist * {_C} + c) AS cell
  FROM dvc GROUP BY vec_id),
v AS (
  SELECT asg.vec_id, asg.cell, cod.codes,
         list_sum(list_transform(range(1, {_DIM} + 1),
             d -> cod.codes[d] * cod.codes[d])) AS n2
  FROM asg JOIN cod USING (vec_id)),
pairs AS (
  SELECT a.cell, a.vec_id AS keeper, b.vec_id AS dup,
         list_sum(list_transform(range(1, {_DIM} + 1),
             d -> a.codes[d] * b.codes[d])) AS dot,
         a.n2 AS na2, b.n2 AS nb2
  FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id)
SELECT dup AS dup_id,
       CAST(MIN(keeper) AS BIGINT) AS keeper_id,
       CAST(MIN(cell) AS INT) AS cell,
       COUNT(*) AS n_neighbors
FROM pairs
WHERE dot > 0 AND {_T2_DEN} * dot * dot >= {_T2_NUM} * na2 * nb2
GROUP BY dup
ORDER BY dup_id
"""


#: max vectors a single pair-enumeration task may own.  Cells above
#: this size are sub-split into s = ceil(m / cap) hash buckets and the
#: within-cell quadratic runs as s·(s+1)/2 independent pair-group
#: tasks of ≈ cap² pairs each (~1e6 at the default) — the
#: q_join_skew_salted salting discipline applied to a self-join.
_CELL_CAP = 1024


def semdedup_frame(
    spark: SparkSession, sf_dir: str, n_cells: int | None = _C,
    cell_cap: int = _CELL_CAP, n_vectors: int | None = None,
) -> DataFrame:
    """Parameterized SemDeDup plan (the query below pins n_cells=8 for
    its oracle; the scale probe runs the SAME plan at the C ∝ √N
    discipline): integer cell assignment against the RNG-free anchor
    codebook, cell-local pairwise integer-cosine threshold test, drop
    rule = "has any smaller-id neighbor above t in my cell" with the
    smallest such neighbor reported as the keeper.

    ``n_cells=None`` derives C = ⌈√N⌉ from the vector count via
    operators/dedup.derive_scale_params — the discipline the
    third-decade A/B measured better than the pinned cell count
    (SCALE_PROBE.json ``q_dedup_semantic_c1414`` 317 s vs ``_c1024``
    388 s at 2M vectors; VERDICT r11 task 5).  The DECLARED query
    keeps its explicit parity C (the oracle hash depends on it), so
    nothing attested changes.  The anchor codebook is the code
    vectors of vec_id 0..C-1, so the derived C also needs those ids
    present — the assert below is the guard.

    Plan: the codebook is a bounded n_cells-row collect; assignment
    is the Arrow-batched numpy kernel operators/dedup.codes_cell_udf
    (the earlier literal-folded HOF form evaluated interpreted per
    row, 198 s at sf0.01); the quadratic stage is a grouped Arrow
    kernel — ONE exact-float64 BLAS matmul per (cell, pair-group) via
    applyInPandas, so candidate pairs never materialize as rows; the
    drop rule is one aggregation.

    MAX-CELL BOUND (the round-9 probe's straggler finding,
    SCALE_PROBE.json ``semdedup_wall.sf10_finding``): the C ∝ √N cell
    discipline bounds AVERAGE pair volume but not the max cell — a
    planted near-dup cluster put 25k of 200k vectors in ONE cell, so
    3.1e8 of the 5.3e8 total pairs ran as a single task (killed at
    >13 min).  Remedy implemented here: every vector gets a
    deterministic sub-bucket b = pmod(xxhash64(vec_id), s) where
    s = ceil(cell_size / cell_cap), and the pair-group key becomes
    (cell, ga, gb) over the s·(s+1)/2 unordered bucket pairs — role A
    replicates a row in bucket b to groups (b, b..s-1), role B to
    groups (0..b, b), so every within-cell pair meets in EXACTLY one
    group: cross-bucket pairs in (min_b, max_b) with the roles fixed
    by bucket order (hence keeper/dup re-derived via min/max),
    same-bucket pairs in the diagonal group (b, b) in both role
    orders (hence the ida < idb mask there).  Per-task pair volume
    is ≤ ~cell_cap² regardless of skew; replication cost is
    (s+1)/2 ≈ m/(2·cap) copies of a 64-byte code row — for the probe's
    hot cell, 25 copies of 25k rows vs 3.1e8 single-task pairs.
    Cells at or under the cap have s = 1 and reduce to the single
    diagonal group, i.e. exactly the pre-bound plan.  The kept/dropped
    RESULT is bucket-independent (the groups partition the same pair
    set), so the parity oracle is unchanged."""
    e = T(spark, sf_dir, "embeddings")
    cod = e.select("vec_id", F.expr(INT8_CODES).alias("codes"))

    if n_cells is None:
        from ..operators.dedup import derive_scale_params

        # n_vectors: the same known-count bypass as the *_pairs_auto
        # wrappers' n_docs — skip the derivation count() when the
        # caller just counted the table.
        n = e.select("vec_id").count() if n_vectors is None else int(n_vectors)
        n_cells = derive_scale_params(n)["semdedup_cells"]

    anchors = {
        r["vec_id"]: list(r["codes"])
        for r in cod.filter(F.col("vec_id") < n_cells).collect()
    }
    assert len(anchors) == n_cells, "need anchor vectors 0..C-1"

    from ..operators.dedup import codes_cell_udf

    cell_udf = codes_cell_udf([anchors[c] for c in range(n_cells)])
    n2_expr = "aggregate(transform(codes, x -> x * x), 0L, (acc, v) -> acc + v)"

    from pyspark.sql import Window

    v = cod.select(
        "vec_id",
        cell_udf(F.col("codes")).alias("cell"),
        "codes",
        F.expr(n2_expr).alias("n2"),
    )
    # ONE exchange on cell (a small parquet arrives as 1-2 splits, so
    # this is also what parallelizes the UDF stages — the
    # operators/dedup._parallelize discipline on the key), then the
    # per-cell size via an ORDER-free window on that partitioning —
    # no second scan, no broadcast-join subtree.  xxhash64 keeps the
    # sub-bucket assignment deterministic and independent of any
    # vec_id stride in the data.
    p = spark.sparkContext.defaultParallelism
    v = (
        v.repartition(p, "cell")
        .withColumn(
            "m", F.count(F.lit(1)).over(Window.partitionBy("cell"))
        )
        .withColumn(
            "s", F.expr(f"CAST((m + {cell_cap} - 1) DIV {cell_cap} AS INT)")
        )
        .withColumn(
            "b", F.pmod(F.xxhash64("vec_id"), F.col("s")).cast("int")
        )
    )
    # BOTH pair roles explode from this single subtree (A-memberships
    # (b, b..s-1) and B-memberships (0..b, b), role-tagged) into ONE
    # grouped Arrow kernel: groupBy(cell, ga, gb).applyInPandas hands
    # each pair-group ALL its memberships and the role split happens
    # inside numpy — one scan, one assignment-UDF pass, and exactly
    # two exchanges (the cell window's and the group key's).  A
    # cogrouped two-sided formulation re-computed the whole base per
    # side (the role filters sit under cogroup's own exchanges, so
    # Spark cannot reuse them across sides — verified in the
    # formatted plan), and the earlier join + per-pair Arrow dot
    # materialized every candidate pair as a row — 5.3e8 rows × two
    # 64-byte code arrays ≈ 350 s of transfer at sf10.
    members = (
        "concat("
        " transform(sequence(b, s - 1),"
        "   j -> struct(b AS ga, j AS gb, 0 AS role)),"
        " transform(sequence(0, b),"
        "   i -> struct(i AS ga, b AS gb, 1 AS role)))"
    )
    u = v.select(
        "vec_id",
        "cell",
        "codes",
        "n2",
        F.explode(F.expr(members)).alias("mb"),
    ).select(
        "vec_id", "cell", "codes", "n2",
        F.col("mb.ga").alias("ga"),
        F.col("mb.gb").alias("gb"),
        F.col("mb.role").alias("role"),
    )
    # The pair verification runs as ONE BLAS matmul per pair-group
    # instead of a join that materializes every candidate pair as a
    # row: the blocked A·Bᵀ over ≤cap-sized bucket matrices is exact
    # float64 (the codes_cell_udf argument: every product ≤ 127²,
    # every 64-term sum ≪ 2⁵³; the threshold comparison den·dot² ≥
    # num·|a|²·|b|² stays int64, see q_dedup_semantic).  Only
    # threshold-PASSING pairs ever become rows.
    import pandas as pd  # noqa: F401 — used inside the udf

    t2_num, t2_den = _T2_NUM, _T2_DEN

    _empty = pd.DataFrame(
        {
            "cell": pd.Series(dtype="int32"),
            "keeper": pd.Series(dtype="int64"),
            "dup": pd.Series(dtype="int64"),
        }
    )

    def _pair_group(key, pdf):
        import numpy as np

        _cell, ga, gb = int(key[0]), int(key[1]), int(key[2])
        left = pdf[pdf["role"] == 0]
        right = pdf[pdf["role"] == 1]
        if not len(left) or not len(right):
            return _empty
        ma = np.vstack(left["codes"].to_numpy()).astype(np.float64)
        mb = np.vstack(right["codes"].to_numpy()).astype(np.float64)
        dots = (ma @ mb.T).astype(np.int64)  # exact: all terms < 2^53
        na2 = left["n2"].to_numpy(dtype=np.int64)
        nb2 = right["n2"].to_numpy(dtype=np.int64)
        ok = (dots > 0) & (
            t2_den * dots * dots >= t2_num * na2[:, None] * nb2[None, :]
        )
        ida = left["vec_id"].to_numpy(dtype=np.int64)
        idb = right["vec_id"].to_numpy(dtype=np.int64)
        if ga == gb:
            # diagonal groups hold both role orders — keep one
            ok &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(ok)
        if not len(ii):
            return _empty
        ka, kb = ida[ii], idb[jj]
        return pd.DataFrame(
            {
                "cell": np.full(len(ii), _cell, dtype=np.int32),
                "keeper": np.minimum(ka, kb),
                "dup": np.maximum(ka, kb),
            }
        )

    pairs = u.groupBy("cell", "ga", "gb").applyInPandas(
        _pair_group, schema="cell int, keeper long, dup long"
    )
    return (
        pairs.groupBy("dup")
        .agg(
            F.min("keeper").alias("keeper_id"),
            F.min("cell").cast("int").alias("cell"),
            F.count(F.lit(1)).alias("n_neighbors"),
        )
        .select(
            F.col("dup").alias("dup_id"), "keeper_id", "cell", "n_neighbors"
        )
        .orderBy("dup_id")
    )


@query("q_dedup_semantic", oracle=_SEMDEDUP_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table — :func:`semdedup_frame` at
    the oracle-pinned parity configuration (n_cells = {_C}).  The
    C ∝ √N scale configuration of the SAME plan is wall-clocked in
    SCALE_PROBE.json's semdedup section.

    The EMBEDDING-CLUSTER pruning of Abbas et al. 2023 ("SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): assign every vector to a cluster, compute
    pairwise cosine similarity ONLY within a cluster, and drop every
    vector that has a more-canonical (here: smaller-id) neighbor above
    the similarity threshold.  Cross-engine provability comes from the
    ANN-ladder recipe (queries/ann_xengine.py / ivf_xengine.py /
    pq_xengine.py):

    * vectors enter as the int8 codes ``q_embed_quantize`` proved
      bit-identical cross-engine (``functions/vectors.INT8_CODES``);
    * cluster anchors are data-derived and RNG-free — the code vectors
      of vec_id 0..C-1 (production swaps in KMeans centroids; the
      assign/prune ALGEBRA, which is what the hash proves, is
      identical);
    * cell assignment = integer L2² argmin, ties to the smaller cell
      id (DuckDB: ``arg_min(c, dist*C + c)``);
    * the cosine threshold compares in INTEGERS: cos(a,b) >= t with
      t² = num/den  ⟺  dot > 0 AND den·dot² >= num·|a|²·|b|² — no
      sqrt, no doubles, so the kept/dropped partition is
      bit-deterministic on both engines (dot ≤ 127²·64 ≈ 1.03e6, so
      den·dot² ≤ 2.7e13: comfortably int64).

    The driver-testdata embeddings are near-random (max pairwise
    cosine ≈ 0.51), so the threshold is set at 0.40 — the tail of THIS
    corpus's similarity distribution — to exercise the pruning algebra
    on real rows; a production run on real embeddings uses ~0.95 with
    the identical plan."""
    return semdedup_frame(spark, sf_dir, _C)


# ------------------------------------------------------------------
# Multimodal near-dup: perceptual difference-hash dedup
# ------------------------------------------------------------------

_PHASH_ORACLE = """
WITH dims AS (
  SELECT doc_id,
         doc_id - CASE WHEN doc_id % 7 = 6 THEN 1 ELSE 0 END AS e
  FROM documents),
d2 AS (SELECT doc_id, e, 4 + e % 13 AS w, 3 + e % 7 AS h FROM dims),
bits AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN
                ((e*11 + ((k % (w-1)) + 1)*31 + (k // (w-1))*57) % 251)
              > ((e*11 + (k % (w-1))*31 + (k // (w-1))*57) % 251)
              THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS phash
  FROM d2, range(60) t(k)
  WHERE k // (w - 1) < h
  GROUP BY doc_id)
SELECT phash, COUNT(*) AS n_images, MIN(doc_id) AS min_doc_id
FROM bits GROUP BY phash
HAVING COUNT(*) > 1
ORDER BY min_doc_id
"""


@query("q_multimodal_phash", oracle=_PHASH_ORACLE)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection by perceptual difference hash over a
    REAL decode path: textured P6 images (planted duplicates: every
    7th doc carries the previous doc's exact bytes) are synthesized in
    one Arrow stage, PARSED back with the real P6 decoder
    (operators/multimodal.decode_ppm — header tokenization, payload
    validation, numpy reshape), dHash'd (60 horizontal-gradient sign
    bits packed into an int64), and grouped — clusters of >1 image are
    the duplicate report.  The DuckDB oracle brute-forces every pixel
    comparison from the generator's closed form (the audio-decode
    discipline: nothing about the decode is taken on faith), so the
    hash match proves decode → dHash → group end to end.

    100 TB shape: the Python stages are mapInPandas over Arrow
    batches (the only viable shape for codec work); the group-by
    shuffles 12 bytes per image.  A JPEG corpus swaps decode_ppm for
    a codec call and dHash gains the classic 9x8 grayscale resize —
    same plan, same hash algebra."""
    from ..operators.multimodal import make_textured_blobs, ppm_dhash

    d = T(spark, sf_dir, "documents")
    hashes = ppm_dhash(make_textured_blobs(d))
    return (
        hashes.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .where("n_images > 1")
        .orderBy("min_doc_id")
    )


# ------------------------------------------------------------------
# Similarity range search (threshold dual of top-k)
# ------------------------------------------------------------------

#: cosine threshold t = 0.35 → t² = 49/400 in integers
_RANGE_NUM, _RANGE_DEN = 49, 400


_RANGE_ORACLE = f"""
WITH cod AS (
  SELECT vec_id, {O_INT8_CODES} AS codes FROM embeddings),
q AS (
  SELECT codes,
         list_sum(list_transform(codes, x -> x * x)) AS n2q
  FROM cod WHERE vec_id = 0),
v AS (
  SELECT vec_id, codes,
         list_sum(list_transform(codes, x -> x * x)) AS n2
  FROM cod WHERE vec_id <> 0),
d AS (
  SELECT v.vec_id, v.n2, q.n2q,
         list_sum(list_transform(range(1, {_DIM} + 1),
             i -> v.codes[i] * q.codes[i])) AS dot
  FROM v CROSS JOIN q)
SELECT vec_id, CAST(dot AS BIGINT) AS dot,
       CAST(n2 AS BIGINT) AS n2
FROM d
WHERE dot > 0 AND {_RANGE_DEN} * dot * dot >= {_RANGE_NUM} * n2 * n2q
ORDER BY vec_id
"""


@query("q_sim_range_search", oracle=_RANGE_ORACLE)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE similarity search: every vector with cosine ≥ 0.35 of
    the vec-0 query — the threshold dual of q_sim_topk (retrieval
    asks "the k best"; dedup/clustering ask "everything above t").
    Integer-cosine algebra as in q_dedup_semantic: t² = num/den and
    cos ≥ t ⟺ dot > 0 AND den·dot² ≥ num·|a|²·|q|² — no sqrt, no
    doubles, fully hash-attested.

    Scale: map-only — the query codes ride an Arrow-batched dot
    kernel (one einsum per batch); the threshold filter needs no
    shuffle at all (contrast top-k's TakeOrdered).  At corpus scale
    the same filter runs after an LSH/IVF candidate prune
    (q_sim_ann_*), identical algebra."""
    from ..operators.dedup import codes_dot_udf

    e = T(spark, sf_dir, "embeddings")
    cod = e.select("vec_id", F.expr(INT8_CODES).alias("codes"))
    q = cod.filter(F.col("vec_id") == 0).collect()[0]["codes"]
    qv = [int(x) for x in q]
    n2q = sum(x * x for x in qv)
    dot_udf = codes_dot_udf()
    n2_expr = "aggregate(transform(codes, x -> x * x), 0L, (acc, v) -> acc + v)"
    return (
        cod.where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            dot_udf(
                F.col("codes"), F.array(*[F.lit(x) for x in qv])
            ).alias("dot"),
            F.expr(n2_expr).alias("n2"),
        )
        .where(
            (F.col("dot") > 0)
            & (
                _RANGE_DEN * F.col("dot") * F.col("dot")
                >= _RANGE_NUM * F.col("n2") * F.lit(n2q)
            )
        )
        .orderBy("vec_id")
    )


# ------------------------------------------------------------------
# Embedding norm-band census (encoder hygiene)
# ------------------------------------------------------------------

_NORM_BAND = 65536


_NORM_ORACLE = f"""
WITH cod AS (
  SELECT vec_id, {O_INT8_CODES} AS codes FROM embeddings),
n AS (
  SELECT vec_id,
         list_sum(list_transform(codes, x -> x * x)) AS n2
  FROM cod)
SELECT CAST(n2 // {_NORM_BAND} AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(n2) AS BIGINT) AS min_n2,
       CAST(MAX(n2) AS BIGINT) AS max_n2
FROM n GROUP BY 1 ORDER BY band
"""


@query("q_embed_norm_bands", oracle=_NORM_ORACLE)
def q_embed_norm_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2²-norm band census over the proven int8 codes —
    the embedding-space hygiene report (a healthy encoder yields a
    tight norm band; collapsed vectors pile into band 0, exploding
    ones into the top band — both flag encoder bugs before any
    similarity op runs).  All integer: n2 ≤ dim·127² ≈ 10⁶, bands of
    {_NORM_BAND}.

    Scale: map-only n2 + a ≤16-group census."""
    e = T(spark, sf_dir, "embeddings")
    n2_expr = "aggregate(transform(codes, x -> x * x), 0L, (acc, v) -> acc + v)"
    n = e.select(F.expr(INT8_CODES).alias("codes")).select(
        F.expr(n2_expr).alias("n2")
    )
    return (
        n.groupBy(F.expr(f"n2 DIV {_NORM_BAND}").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("n2").cast("long").alias("min_n2"),
            F.max("n2").cast("long").alias("max_n2"),
        )
        .orderBy("band")
    )


# ------------------------------------------------------------------
# kNN majority-vote classification (k=5, int8-code integer cosine)
# ------------------------------------------------------------------

_KNN_K = 5


_KNN_NQ = 8  # vec_id < 8 are the held-out queries


_KNN_ORACLE = f"""
WITH cod AS (
  SELECT vec_id, label, {O_INT8_CODES} AS codes FROM embeddings),
q AS (
  SELECT vec_id AS qid, label AS qlabel, codes AS qc
  FROM cod WHERE vec_id < {_KNN_NQ}),
v AS (
  SELECT vec_id, label, codes,
         list_sum(list_transform(codes, x -> x * x)) AS n2
  FROM cod WHERE vec_id >= {_KNN_NQ}),
d AS (
  SELECT q.qid, q.qlabel, v.vec_id, v.label, v.n2,
         list_sum(list_transform(range(1, {_DIM} + 1),
                  i -> v.codes[i] * q.qc[i])) AS dot
  FROM v CROSS JOIN q WHERE v.n2 > 0),
keyd AS (
  SELECT qid, qlabel, vec_id, label,
         CASE WHEN dot >= 0 THEN (dot * dot * 1000000) // n2
              ELSE -((dot * dot * 1000000) // n2) END AS skey
  FROM d),
top AS (
  SELECT qid, qlabel, label,
         row_number() OVER (PARTITION BY qid
                            ORDER BY skey DESC, vec_id) AS rn
  FROM keyd),
votes AS (
  SELECT qid, qlabel, label, CAST(COUNT(*) AS BIGINT) AS votes
  FROM top WHERE rn <= {_KNN_K} GROUP BY 1, 2, 3),
pick AS (
  SELECT qid, qlabel, label AS pred_label, votes,
         row_number() OVER (PARTITION BY qid
                            ORDER BY votes DESC, label) AS pr
  FROM votes)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(qlabel AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       votes,
       CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END AS correct
FROM pick WHERE pr = 1 ORDER BY qid
"""


@query("q_sim_knn_classify", oracle=_KNN_ORACLE)
def q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification: predict each held-out query
    vector's label from its k={_KNN_K} nearest labelled neighbours —
    the label-propagation/auto-labelling primitive of a training-data
    pipeline (q_knn_graph builds the graph; this consumes it for a
    decision).  Neighbour order is the sign-aware quantized
    integer-cosine key sign(dot)·(dot²·10⁶ ÷ n2) — monotone in cosine
    (query norm constant per query), floor-division ties broken by
    vec_id in BOTH engines, so the top-k set is cross-engine exact;
    vote ties break to the smallest label.  dot²·10⁶ ≤ 1.07e18 < 2⁶³.

    Scale: the {_KNN_NQ}-row query batch broadcasts (q_sim_batch_topk
    shape — the corpus scans ONCE for the whole batch); per-query
    top-k is a WindowGroupLimit so each task forwards ≤k rows per
    query.  At corpus scale the candidate set first prunes through
    IVF/LSH (q_sim_ann_*), identical key algebra."""
    from ..operators.dedup import codes_dot_udf

    e = T(spark, sf_dir, "embeddings")
    cod = e.select(
        "vec_id", "label", F.expr(INT8_CODES).alias("codes")
    )
    q = cod.where(F.col("vec_id") < _KNN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("codes").alias("qc"),
    )
    n2_expr = "aggregate(transform(codes, x -> x * x), 0L, (acc, v) -> acc + v)"
    v = cod.where(F.col("vec_id") >= _KNN_NQ).withColumn(
        "n2", F.expr(n2_expr)
    ).where(F.col("n2") > 0)
    dot_udf = codes_dot_udf()
    d = (
        v.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            "n2",
            dot_udf(F.col("codes"), F.col("qc")).alias("dot"),
        )
    )
    keyd = d.select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        F.when(
            F.col("dot") >= 0,
            F.expr("(dot * dot * 1000000) DIV n2"),
        )
        .otherwise(-F.expr("(dot * dot * 1000000) DIV n2"))
        .alias("skey"),
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("skey"), F.asc("vec_id"))
    votes = (
        keyd.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _KNN_K)
        .groupBy("qid", "qlabel", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("pr", F.row_number().over(wp))
        .where(F.col("pr") == 1)
        .select(
            F.col("qid").cast("long").alias("qid"),
            F.col("qlabel").cast("long").alias("true_label"),
            F.col("label").cast("long").alias("pred_label"),
            "votes",
            F.when(F.col("label") == F.col("qlabel"), 1)
            .otherwise(0)
            .alias("correct"),
        )
        .orderBy("qid")
    )


# ------------------------------------------------------------------
# Duplicate pressure per source
# ------------------------------------------------------------------

_DEDUP_RATE_ORACLE = """
WITH per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique
  FROM documents GROUP BY 1)
SELECT source, n_docs, n_unique,
       CAST(n_docs - n_unique AS BIGINT) AS n_dups,
       CAST((1000000 * (n_docs - n_unique)) // n_docs AS BIGINT)
         AS dup_ppm
FROM per ORDER BY source
"""


@query("q_dedup_rate_by_source", oracle=_DEDUP_RATE_ORACLE)
def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate pressure per source: docs, distinct texts, and the
    exact-ppm duplication rate — the curation dashboard that decides
    WHICH feed gets the dedup budget first (a 30% dup feed and a 0.1%
    dup feed should not share a pipeline stage).  Complements
    q_dedup_exact (which emits the canonical survivors) with the
    per-feed rate rollup.

    Scale: the distinct-count shuffles (source, text) — at 100 TB the
    text key is replaced by the 128-bit content hash the exact-dedup
    operator already standardizes on (operators/dedup.py), making the
    shuffle rows ~40 bytes; the rollup itself is source-domain
    bounded."""
    d = T(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("text").cast("long").alias("n_unique"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_dups"),
        F.expr(
            "CAST((1000000 * (n_docs - n_unique)) DIV n_docs AS BIGINT)"
        ).alias("dup_ppm"),
    ).orderBy("source")


# ------------------------------------------------------------------
# Quantization recall: int8-code cosine vs fine fixed-point reference
# ------------------------------------------------------------------

_REC_K = 10


_REC_NQ = 8


#: fine fixed-point reference: 1e4-scaled integer components — dot ≤
#: 64·1e8 = 6.4e9, exact int64; the reference ORDER is the double
#: dot/√n2 with vec_id tie-break (deterministic IEEE on exact ints).
_FINE_SPARK = "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0 + 0.5d) AS BIGINT))"


_FINE_SQL = "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"


_REC_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {O_INT8_CODES} AS codes, {_FINE_SQL} AS fine
  FROM embeddings),
q AS (
  SELECT vec_id AS qid, codes AS qc, fine AS qf
  FROM base WHERE vec_id < {_REC_NQ}),
v AS (
  SELECT vec_id, codes, fine,
         list_sum(list_transform(codes, x -> x * x)) AS cn2,
         list_sum(list_transform(fine, x -> x * x)) AS fn2
  FROM base WHERE vec_id >= {_REC_NQ}),
d AS (
  SELECT q.qid, v.vec_id, v.cn2, v.fn2,
         list_sum(list_transform(range(1, {_DIM} + 1),
                  i -> v.codes[i] * q.qc[i])) AS cdot,
         list_sum(list_transform(range(1, {_DIM} + 1),
                  i -> v.fine[i] * q.qf[i])) AS fdot
  FROM v CROSS JOIN q WHERE v.cn2 > 0 AND v.fn2 > 0),
keyd AS (
  SELECT qid, vec_id,
         CASE WHEN cdot >= 0 THEN (cdot * cdot * 1000000) // cn2
              ELSE -((cdot * cdot * 1000000) // cn2) END AS ckey,
         CAST(fdot AS DOUBLE) / SQRT(CAST(fn2 AS DOUBLE)) AS fkey
  FROM d),
ranked AS (
  SELECT qid, vec_id,
         row_number() OVER (PARTITION BY qid ORDER BY ckey DESC, vec_id)
           AS crn,
         row_number() OVER (PARTITION BY qid ORDER BY fkey DESC, vec_id)
           AS frn
  FROM keyd)
SELECT CAST(qid AS BIGINT) AS qid,
       CAST(SUM(CASE WHEN crn <= {_REC_K} AND frn <= {_REC_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST((1000000 * SUM(CASE WHEN crn <= {_REC_K} AND frn <= {_REC_K}
                THEN 1 ELSE 0 END)) // {_REC_K} AS BIGINT) AS recall_ppm
FROM ranked GROUP BY 1 ORDER BY 1
"""


@query("q_sim_recall_quantized", oracle=_REC_ORACLE)
def q_sim_recall_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the int8-code integer cosine against a fine
    1e4-fixed-point reference ranking, per query vector — the
    quantization-fidelity report every int8 ANN deployment owes its
    users (the ANN ladder q_sim_ann_*_xengine PRUNES with these codes;
    this measures what the pruning key costs in ranking fidelity).
    Both rankings are deterministic: the code key is the sign-aware
    integer floor-division key (kNN precedent, ≤1.07e18 < 2⁶³), the
    reference key is one double division over exact int64 dot/norm
    (components ≤ 6.4e9), and both carry the vec_id tie-break.

    Scale: the 8-row query batch broadcasts; the corpus scans once
    computing both keys map-side; two rank windows per query
    partition (q_sim_batch_topk's serving shape)."""
    base = T(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(INT8_CODES).alias("codes"),
        F.expr(_FINE_SPARK).alias("fine"),
    )
    q = base.where(F.col("vec_id") < _REC_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("codes").alias("qc"),
        F.col("fine").alias("qf"),
    )
    v = base.where(F.col("vec_id") >= _REC_NQ).select(
        "vec_id",
        "codes",
        "fine",
        F.expr("aggregate(transform(codes, x -> x * x), 0L, (a, x) -> a + x)")
        .alias("cn2"),
        F.expr("aggregate(transform(fine, x -> x * x), 0L, (a, x) -> a + x)")
        .alias("fn2"),
    )
    d = (
        v.crossJoin(F.broadcast(q))
        .where((F.col("cn2") > 0) & (F.col("fn2") > 0))
        .select(
            "qid",
            "vec_id",
            "cn2",
            "fn2",
            F.expr(
                "aggregate(zip_with(codes, qc, (a, b) -> a * b),"
                " 0L, (a, x) -> a + x)"
            ).alias("cdot"),
            F.expr(
                "aggregate(zip_with(fine, qf, (a, b) -> a * b),"
                " 0L, (a, x) -> a + x)"
            ).alias("fdot"),
        )
    )
    keyd = d.select(
        "qid",
        "vec_id",
        F.expr(
            "CASE WHEN cdot >= 0 THEN (cdot * cdot * 1000000) DIV cn2"
            " ELSE -((cdot * cdot * 1000000) DIV cn2) END"
        ).alias("ckey"),
        F.expr("CAST(fdot AS DOUBLE) / SQRT(CAST(fn2 AS DOUBLE))").alias(
            "fkey"
        ),
    )
    ranked = keyd.select(
        "qid",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("ckey"), F.asc("vec_id")))
        .alias("crn"),
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("fkey"), F.asc("vec_id")))
        .alias("frn"),
    )
    hit = F.when((F.col("crn") <= _REC_K) & (F.col("frn") <= _REC_K), 1).otherwise(0)
    return (
        ranked.groupBy(F.col("qid").cast("long").alias("qid"))
        .agg(
            F.sum(hit).cast("long").alias("n_overlap"),
            F.expr(
                f"CAST((1000000 * SUM(CASE WHEN crn <= {_REC_K}"
                f" AND frn <= {_REC_K} THEN 1 ELSE 0 END)) DIV {_REC_K}"
                " AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("qid")
    )


# ------------------------------------------------------------------
# MinHash estimator fidelity: estimate vs exact Jaccard
# ------------------------------------------------------------------

_MH_K = 16  # permutations


#: portable md5-prefix hash of (term, seed) — the q_text_feature_hashing
#: cross-engine idiom; 60-bit values, min is exact int64.
_MH_HASH_SPARK = (
    "CAST(conv(substring(md5(concat(term, '#', CAST(seed AS STRING))),"
    " 1, 15), 16, 10) AS BIGINT)"
)


_MH_HASH_SQL = (
    "CAST(('0x' || substr(md5(term || '#' || CAST(seed AS VARCHAR)),"
    " 1, 15)) AS BIGINT)"
)


_MHE_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, u.term
  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
  WHERE u.term <> ''),
seeds AS (SELECT UNNEST(range(0, {_MH_K})) AS seed),
sig AS (
  SELECT t.doc_id, s.seed,
         MIN({_MH_HASH_SQL}) AS mh
  FROM tok t CROSS JOIN seeds s
  GROUP BY t.doc_id, s.seed),
docs AS (SELECT DISTINCT doc_id FROM tok),
pairs AS (
  SELECT d1.doc_id AS ida, d2.doc_id AS idb
  FROM docs d1 JOIN docs d2 ON d2.doc_id = d1.doc_id + 1),
est AS (
  SELECT p.ida, p.idb,
         CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT)
           AS m
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.ida
  JOIN sig sb ON sb.doc_id = p.idb AND sb.seed = sa.seed
  GROUP BY p.ida, p.idb),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT p.ida, p.idb, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs p
  JOIN tok ta ON ta.doc_id = p.ida
  JOIN tok tb ON tb.doc_id = p.idb AND tb.term = ta.term
  GROUP BY p.ida, p.idb),
err AS (
  SELECT e.ida,
         (1000000 * e.m) // {_MH_K} AS est_ppm,
         (1000000 * COALESCE(i.c, 0))
           // (sa.n + sb.n - COALESCE(i.c, 0)) AS exact_ppm
  FROM est e
  LEFT JOIN inter i ON i.ida = e.ida AND i.idb = e.idb
  JOIN sz sa ON sa.doc_id = e.ida
  JOIN sz sb ON sb.doc_id = e.idb)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ABS(est_ppm - exact_ppm)) AS BIGINT) AS sum_abs_err_ppm,
       CAST(SUM(ABS(est_ppm - exact_ppm)) // COUNT(*) AS BIGINT)
         AS mean_abs_err_ppm,
       CAST(MAX(ABS(est_ppm - exact_ppm)) AS BIGINT) AS max_abs_err_ppm
FROM err
"""


@query("q_dedup_minhash_error", oracle=_MHE_ORACLE)
def q_dedup_minhash_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator fidelity: 16-permutation MinHash Jaccard
    estimates vs the EXACT token-set Jaccard, evaluated on
    adjacent-id document pairs, reported as a mean/max absolute-error
    census in ppm — the self-evaluation every banded-MinHash dedup
    deployment (q_dedup_near) owes its threshold choices, in the
    mold of q_sim_recall_quantized for the ANN ladder.  Signatures
    use the portable md5-prefix hash of (term, seed) so BOTH engines
    compute identical permutations; estimate (m/16) and exact
    (|∩|/|∪|) are integer ppm — the whole census hash-matches.
    Expected |err| ≈ √(J(1−J)/16) ≈ 0.12 at J = 0.5; the banding
    remedy for the variance is r growth (SCALE_PROBE heaps_curves).

    Scale: signatures are one (doc, seed) aggregation — 16 int64 per
    document however long the document; the pair evaluation joins on
    doc_id/seed keys only.  The adjacent-id pair set is a 1-per-doc
    evaluation sample, not the dedup candidate generator."""
    d = T(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .distinct()
    )
    # seed fan-out is a map-side explode of a literal sequence — never
    # a join, so the plan stays cartesian-free
    sig = (
        tok.select(
            "doc_id",
            "term",
            F.explode(F.expr(f"sequence(0L, {_MH_K - 1}L)")).alias("seed"),
        )
        .select("doc_id", "seed", F.expr(_MH_HASH_SPARK).alias("h"))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    docs = tok.select("doc_id").distinct()
    d1, d2 = docs.alias("d1"), docs.alias("d2")
    pairs = d1.join(
        d2, F.col("d2.doc_id") == F.col("d1.doc_id") + 1
    ).select(
        F.col("d1.doc_id").alias("ida"), F.col("d2.doc_id").alias("idb")
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    est = (
        pairs.join(sa, F.col("sa.doc_id") == F.col("ida"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("idb"))
            & (F.col("sb.seed") == F.col("sa.seed")),
        )
        .groupBy("ida", "idb")
        .agg(
            F.sum(
                F.when(F.col("sa.mh") == F.col("sb.mh"), 1).otherwise(0)
            )
            .cast("long")
            .alias("m")
        )
    )
    sz = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ta, tb = tok.alias("ta"), tok.alias("tb")
    inter = (
        pairs.join(ta, F.col("ta.doc_id") == F.col("ida"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("idb"))
            & (F.col("tb.term") == F.col("ta.term")),
        )
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sza = sz.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    err = (
        est.join(inter, ["ida", "idb"], "left")
        .join(sza, "ida")
        .join(szb, "idb")
        .select(
            F.expr(f"(1000000 * m) DIV {_MH_K}").alias("est_ppm"),
            F.expr(
                "(1000000 * COALESCE(c, 0))"
                " DIV (na + nb - COALESCE(c, 0))"
            ).alias("exact_ppm"),
        )
    )
    return err.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.expr("ABS(est_ppm - exact_ppm)"))
        .cast("long")
        .alias("sum_abs_err_ppm"),
        F.expr(
            "CAST(SUM(ABS(est_ppm - exact_ppm)) DIV COUNT(*) AS BIGINT)"
        ).alias("mean_abs_err_ppm"),
        F.max(F.expr("ABS(est_ppm - exact_ppm)"))
        .cast("long")
        .alias("max_abs_err_ppm"),
    )


# ------------------------------------------------------------------
# MMR diversified top-k (unrolled greedy)
# ------------------------------------------------------------------

_MMR_QID = 0      # query vector


_MMR_POOL = 20    # relevance candidate pool


_MMR_K = 5        # diversified picks


_MMR_LAMBDA = 0.5


def _mmr_stage_sql(k: int) -> str:
    """CTE pair for greedy pick k (k >= 2): candidates not yet
    selected, scored 0.5*rel - 0.5*max(sim to selected)."""
    prev_sel = " UNION ALL ".join(
        f"SELECT vec_id FROM sel{j}" for j in range(1, k)
    )
    return f"""
rem{k} AS (
  SELECT c.vec_id, c.rel FROM cand c
  WHERE c.vec_id NOT IN (SELECT vec_id FROM ({prev_sel}))),
score{k} AS (
  SELECT r.vec_id, r.rel,
         {_MMR_LAMBDA!r} * r.rel - {_MMR_LAMBDA!r} * MAX(s.sim) AS score
  FROM rem{k} r
  JOIN sims s ON s.ia = r.vec_id
   AND s.ib IN (SELECT vec_id FROM ({prev_sel}))
  GROUP BY r.vec_id, r.rel),
sel{k} AS (
  SELECT vec_id, rel, score FROM score{k}
  ORDER BY score DESC, vec_id LIMIT 1)"""


_MMR_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {_FINE_SQL} AS fine FROM embeddings),
nrm AS (
  SELECT vec_id, fine,
         list_sum(list_transform(fine, x -> x * x)) AS n2
  FROM base),
q AS (SELECT fine AS qf, n2 AS qn2 FROM nrm WHERE vec_id = {_MMR_QID}),
rel AS (
  SELECT v.vec_id,
         CAST(list_sum(list_transform(range(1, {_DIM} + 1),
              i -> v.fine[i] * q.qf[i])) AS DOUBLE)
           / (SQRT(CAST(v.n2 AS DOUBLE)) * SQRT(CAST(q.qn2 AS DOUBLE)))
           AS rel,
         v.fine, v.n2
  FROM nrm v CROSS JOIN q
  WHERE v.vec_id <> {_MMR_QID} AND v.n2 > 0 AND q.qn2 > 0),
cand AS (
  SELECT vec_id, rel, fine, n2 FROM rel
  ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}),
sims AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(list_sum(list_transform(range(1, {_DIM} + 1),
              i -> a.fine[i] * b.fine[i])) AS DOUBLE)
           / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))
           AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
sel1 AS (
  SELECT vec_id, rel, {_MMR_LAMBDA!r} * rel AS score FROM cand
  ORDER BY rel DESC, vec_id LIMIT 1),
{", ".join(_mmr_stage_sql(k) for k in range(2, _MMR_K + 1))}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT CAST({k} AS BIGINT) AS pick, vec_id, rel, score FROM sel{k}"
      for k in range(1, _MMR_K + 1)
  )}
) ORDER BY pick
"""


@query("q_sim_mmr", oracle=_MMR_ORACLE)
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversified top-k
    every RAG retrieval stack bolts onto its ANN hits: greedily pick
    argmax of λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), λ = ½, five
    picks from the top-20 relevance pool of query vector 0.  The
    greedy recursion is UNROLLED into five plan stages (the
    q_graph_kcore_peel discipline) — each stage anti-joins the
    selected set, joins the bounded pairwise-sim table, and takes one
    row by (score DESC, vec_id) — so the whole re-ranker is a single
    deterministic plan with a full DuckDB oracle.  Cosines are one
    pinned double division over exact 1e4-fixed-point int64 dots
    (the q_sim_recall_quantized discipline).

    Scale: the corpus is touched ONCE (the relevance scan); greedy
    stages run on the 20-row pool and its 20×19 sim matrix — both
    SF-independent, all joins broadcast.  At 100 TB the pool comes
    from the ANN ladder (q_sim_ann_ivf) instead of the exact scan;
    the re-ranker is unchanged."""
    base = T(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_FINE_SPARK).alias("fine")
    )
    nrm = base.select(
        "vec_id",
        "fine",
        F.expr(
            "aggregate(transform(fine, x -> x * x), 0L, (a, x) -> a + x)"
        ).alias("n2"),
    )
    q = nrm.where(F.col("vec_id") == _MMR_QID).select(
        F.col("fine").alias("qf"), F.col("n2").alias("qn2")
    )
    rel = (
        nrm.where((F.col("vec_id") != _MMR_QID) & (F.col("n2") > 0))
        .crossJoin(F.broadcast(q.where(F.col("qn2") > 0)))
        .select(
            "vec_id",
            F.expr(
                f"CAST(aggregate(zip_with(fine, qf, (a, b) -> a * b),"
                f" 0L, (a, x) -> a + x) AS DOUBLE)"
                f" / (SQRT(CAST(n2 AS DOUBLE)) * SQRT(CAST(qn2 AS DOUBLE)))"
            ).alias("rel"),
            "fine",
            "n2",
        )
    )
    # materialize the 20-row pool ONCE (r14, guide §5 / the
    # q_dedup_allpairs localCheckpoint discipline): every unrolled
    # greedy stage references cand/sims/pool, and without the barrier
    # each of the 5 stages re-derives the FULL corpus scan + top-k sort
    # inside its own subtree (the plan nests stage k-1 inside stage k's
    # anti-join), multiplying the relevance pass ~9x.
    cand = rel.orderBy(F.desc("rel"), F.asc("vec_id")).limit(_MMR_POOL).localCheckpoint()
    a, b = cand.alias("a"), cand.alias("b")
    sims = (
        F.broadcast(a)
        .join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.expr(
                "CAST(aggregate(zip_with(a.fine, b.fine, (x, y) -> x * y),"
                " 0L, (acc, x) -> acc + x) AS DOUBLE)"
                " / (SQRT(CAST(a.n2 AS DOUBLE)) * SQRT(CAST(b.n2 AS DOUBLE)))"
            ).alias("sim"),
        )
    )
    pool = cand.select("vec_id", "rel")
    sel = (
        pool.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("pick"),
            "vec_id",
            "rel",
            (F.lit(_MMR_LAMBDA) * F.col("rel")).alias("score"),
        )
    )
    picks = [sel]
    selected_ids = sel.select("vec_id")
    for k in range(2, _MMR_K + 1):
        rem = pool.join(F.broadcast(selected_ids), "vec_id", "left_anti")
        scored = (
            rem.join(F.broadcast(sims), rem.vec_id == sims.ia)
            .join(
                F.broadcast(selected_ids.withColumnRenamed("vec_id", "ib")),
                "ib",
            )
            .groupBy(rem.vec_id, "rel")
            .agg(
                (
                    F.lit(_MMR_LAMBDA) * F.col("rel")
                    - F.lit(_MMR_LAMBDA) * F.max("sim")
                ).alias("score")
            )
        )
        pick_k = (
            scored.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.lit(k).cast("long").alias("pick"),
                "vec_id",
                "rel",
                "score",
            )
        )
        picks.append(pick_k)
        selected_ids = selected_ids.unionAll(pick_k.select("vec_id"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.orderBy("pick")


# ------------------------------------------------------------------
# Per-dimension 4-sigma outlier census, exact integers
# ------------------------------------------------------------------

_DO_SIGMA = 4  # flag |x − μ| > 4σ


_DIMOUT_ORACLE = f"""
WITH comp AS (
  SELECT CAST(t.i + 1 AS BIGINT) AS dim,
         CAST(FLOOR(list_extract(CAST(embedding AS DOUBLE[]),
              CAST(t.i + 1 AS INT)) * 10000.0 + 0.5) AS BIGINT) AS v
  FROM embeddings, range(64) t(i)),
mom AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s,
         CAST(SUM(v * v) AS BIGINT) AS q
  FROM comp GROUP BY dim),
flag AS (
  SELECT c.dim,
         CASE WHEN CAST(c.v * m.n - m.s AS HUGEINT)
                   * CAST(c.v * m.n - m.s AS HUGEINT)
                   > {_DO_SIGMA * _DO_SIGMA}
                     * CAST(m.n * m.q - m.s * m.s AS HUGEINT)
              THEN 1 ELSE 0 END AS is_out
  FROM comp c JOIN mom m ON m.dim = c.dim)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers
FROM flag GROUP BY dim ORDER BY dim
"""


@query("q_embed_dim_outliers", oracle=_DIMOUT_ORACLE)
def q_embed_dim_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension 4σ outlier census over the fixed-point embedding
    components — the vector-hygiene screen that catches a corrupted
    encoder dimension before it poisons every downstream cosine
    (complements q_embed_dimstats' moments and q_embed_norm_bands'
    row-level screen).  The z² > 16 test is evaluated as the EXACT
    integer cross-multiplication (v·n − s)² > 16·(n·q − s²) — no
    float mean or variance anywhere, so the census hash-matches;
    (v·n−s)² is compared in int128/decimal (it passes 2⁶³ beyond ~9e5
    vectors at this component scale).

    Scale: one component census (posexplode is map-side), one
    64-row moment table broadcast back onto the component stream."""
    base = T(spark, sf_dir, "embeddings").select(
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
                " * 10000.0 + 0.5d) AS BIGINT))"
            )
        ).alias("dim0", "v")
    ).select((F.col("dim0") + 1).alias("dim"), "v")
    mom = base.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.expr("v * v")).cast("long").alias("q"),
    )
    flag = base.join(F.broadcast(mom), "dim").select(
        "dim",
        F.expr(
            f"CASE WHEN CAST(v * n - s AS DECIMAL(19,0))"
            f" * CAST(v * n - s AS DECIMAL(19,0))"
            f" > CAST({_DO_SIGMA * _DO_SIGMA} AS DECIMAL(19,0))"
            f" * CAST(n * q - s * s AS DECIMAL(19,0))"
            f" THEN 1 ELSE 0 END"
        ).alias("is_out"),
    )
    return (
        flag.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_out").cast("long").alias("n_outliers"),
        )
        .orderBy("dim")
    )
