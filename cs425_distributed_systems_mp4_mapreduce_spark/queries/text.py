"""Corpus text analytics: vocabulary laws (Zipf, Heaps, hapax),
n-gram language models and novelty, keyword and term-lift scoring,
readability and sentence statistics, boilerplate detection, phonetic
keys, feature hashing and a hashed linear classifier, and tokenizer
fertility.

Tokenization is single-space splitting, identical to DuckDB's
``STRING_SPLIT(text, ' ')``; log-domain quantities are quantized to
integers (``functions/text.blen_ladder``) so both engines agree
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import blen_ladder
from ..registry import query
from ..sources.tables import table as T


#: seeded affine weight map: bucket -> integer weight in [-1000, 1000]
_CLF_A, _CLF_B, _CLF_P = 49979687, 104729, 2147483647


#: hex nibble -> int via 1-based strpos into the hex alphabet (both
#: engines return 0 for "not found", and md5 output is lowercase hex
#: in both, so the arithmetic is engine-exact)
_HEX = "0123456789abcdef"


_CLASSIFIER_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), f AS (
  SELECT doc_id,
         list_transform(range(1, len(toks)),
                        i -> md5(toks[i] || ' ' || toks[i+1])) AS bg
  FROM t
), b AS (
  SELECT doc_id,
         list_transform(bg, h ->
             (strpos('{_HEX}', substr(h, 1, 1)) - 1) * 16
           + (strpos('{_HEX}', substr(h, 2, 1)) - 1)) AS buckets
  FROM f
)
SELECT doc_id,
       len(buckets) AS n_feats,
       COALESCE(list_sum(list_transform(buckets, k ->
           (k * {_CLF_A} + {_CLF_B}) % {_CLF_P} % 2001 - 1000)),
         0)::BIGINT AS score_raw,
       COALESCE(list_sum(list_transform(buckets, k ->
           (k * {_CLF_A} + {_CLF_B}) % {_CLF_P} % 2001 - 1000)),
         0) > 0 AS keep
FROM b
ORDER BY doc_id
"""


@query("q_text_classifier", oracle=_CLASSIFIER_ORACLE, headline=True)
def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier inference (fastText shape):
    token bigrams -> md5 feature hash -> bucket (two hex nibbles) ->
    integer weight -> additive score -> keep/drop sign.  The weight
    table here is a seeded universal hash of the bucket id — a fixed,
    engine-exact stand-in for trained weights; production swaps in a
    real 2^b-row weight table via broadcast join and the plan shape
    is unchanged (map-side only).  md5 as the feature hash for the
    same reason q_decontaminate chose it: DuckDB computes the SAME
    bytes, so the whole pipeline is hash-proven; xxhash64 is the
    cheaper JVM-only production alternative (one native call, no hex
    detour) with an identical plan.  Integer weights keep the sum
    associative, so partial aggregation and the cross-engine check
    are both exact.  This is the quality-filter hot path of a
    training-data pipeline: score every document, keep the positive
    class — zero shuffles, all native JVM expressions (an earlier
    per-char fold variant benched 6.6x SLOWER than even a pandas-UDF
    baseline: interpreted HOF lambda steps per character; md5 is one
    codegen'd call per feature).

    r13: the scoring projection runs over ``_parallelize``'d (doc_id,
    text) rows — the md5-per-bigram pipeline is CPU-bound per-row
    work, and an under-split input (one parquet split at test SF) ran
    the ENTIRE scoring pass on one core before the orderBy exchange
    (plan: Project directly on the single-task Scan).  Spreading first
    measured 0.85 s → 0.48 s at sf0.1; at real scale the input has
    ≥cores splits and the repartition is a no-op (see
    operators/dedup._parallelize)."""
    from ..operators.dedup import _parallelize

    d = _parallelize(T(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = "split(text, ' ')"
    bg = (
        f"zip_with(slice({toks}, 1, size({toks}) - 1),"
        f" slice({toks}, 2, size({toks}) - 1),"
        f" (a, b) -> md5(concat(a, ' ', b)))"
    )
    bucket = (
        f"h -> (instr('{_HEX}', substring(h, 1, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring(h, 2, 1)) - 1)"
    )
    w = f"k -> (k * {_CLF_A}L + {_CLF_B}L) % {_CLF_P}L % 2001L - 1000L"
    score = f"aggregate(transform(transform({bg}, {bucket}), {w}), 0L, (a, x) -> a + x)"
    # evaluate the md5-per-feature pipeline ONCE: n_feats is derivable
    # from the token count alone (|bigrams| = |toks| - 1, incl. the
    # 1-token edge case where slice() yields the empty array), and
    # `keep` reads the aliased score column — a naive projection that
    # repeats {score} in each output column triples the md5 work
    # (measured ~1.3x wall on the bench corpus)
    return (
        d.select(
            "doc_id",
            F.expr(f"CAST(size({toks}) - 1 AS BIGINT)").alias("n_feats"),
            F.expr(score).alias("score_raw"),
        )
        .withColumn("keep", F.col("score_raw") > F.lit(0))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Phonetic blocking (soundex)
# --------------------------------------------------------------------------

#: char -> soundex code map (census soundex): vowels+y -> 0 (separator),
#: h/w -> 7 (transparent — deleted BEFORE collapsing so codes merge
#: across them), consonant groups -> 1..6
_SX_MAP = "01230127022455012623017202"


#: collapse digit runs without regex backreferences (DuckDB is RE2)
_SX_COLLAPSE_SQL = "m"
for _d in "0123456":
    _SX_COLLAPSE_SQL = (
        f"regexp_replace({_SX_COLLAPSE_SQL}, '{_d}+', '{_d}', 'g')"
    )


@query(
    "q_text_phonetic",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    coded AS (
      SELECT w,
             translate(w, 'abcdefghijklmnopqrstuvwxyz', '{_SX_MAP}') AS m
      FROM toks WHERE w <> ''
    ),
    collapsed AS (
      SELECT w, m,
             replace(replace({_SX_COLLAPSE_SQL}, '7', ''), '0', '') AS m3
      FROM (SELECT w, m, replace(m, '7', '') AS m_hw
            FROM coded) t(w, m_raw, m)
    ),
    sx AS (
      SELECT w,
             upper(substr(w, 1, 1)) ||
             substr(CASE WHEN substr(m_first, 1, 1) BETWEEN '1' AND '6'
                         THEN substr(m3, 2) ELSE m3 END || '000', 1, 3) AS code
      FROM (SELECT w, m3,
                   translate(substr(w, 1, 1),
                             'abcdefghijklmnopqrstuvwxyz', '{_SX_MAP}') AS m_first
            FROM collapsed)
    )
    SELECT code,
           COUNT(*) AS n_words,
           STRING_AGG(w, ',' ORDER BY w) AS words
    FROM sx GROUP BY code ORDER BY code
    """,
)
def q_text_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking for entity resolution: census-soundex code
    per distinct token, grouped into blocks (the phonetic analogue of
    the FastSS deletion blocks in q_join_fuzzy — candidates share a
    block, verification joins within it).  Spark side is the builtin
    ``soundex()``; the DuckDB twin REPLAYS the census algorithm
    relationally (code translate → h/w deletion → run collapse →
    separator drop → first-letter casing), validated against Spark's
    implementation on the census edge-case suite (tymczak/pfister/
    ashcraft/honeyman/wray) in tests — so the driver hash proves two
    independent soundex implementations agree on real data.  Scale:
    map-side expression + one |vocabulary|-sized aggregation."""
    d = T(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    return (
        toks.select("w", F.soundex("w").alias("code"))
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.array_join(F.array_sort(F.collect_list("w")), ",").alias("words"),
        )
        .orderBy("code")
    )


# ------------------------------------------------------------------
# Bigram language-model quality scoring (KenLM-style filter)
# ------------------------------------------------------------------

#: bitlen(c) as an integer indicator sum — the cross-engine floor-log2
#: (operators/bpe.ilog2); 40 bits covers 10^12 bigram occurrences.
def _blen_sql(col: str) -> str:
    return (
        f"list_sum(list_transform(range(0, 40),"
        f" k -> IF({col} >= (1::BIGINT << k), 1, 0)))"
    )


def _blen_spark(col: str) -> str:
    return (
        f"aggregate(sequence(0, 39), 0L,"
        f" (acc, k) -> acc + IF({col} >= shiftleft(1L, k), 1L, 0L))"
    )


_BIGRAM_ORACLE = f"""
WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
bg0 AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(ws)),
                i -> {{'w1': ws[i], 'w2': ws[i + 1]}})) AS p
  FROM w),
bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0),
ctx AS (SELECT w1, COUNT(*) AS cu FROM bg GROUP BY w1),
pair AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
cost AS (
  SELECT w1, w2,
         2 * ({_blen_sql('cu')} - {_blen_sql('cb')}) + 1 AS cost
  FROM pair JOIN ctx USING (w1))
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(cost) AS BIGINT) AS total_cost,
       CAST(SUM(cost) AS DOUBLE) / COUNT(*) AS mean_cost
FROM bg JOIN cost USING (w1, w2)
GROUP BY bg.doc_id ORDER BY bg.doc_id
"""


@query("q_text_bigram_lm", oracle=_BIGRAM_ORACLE)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring — the KenLM-style corpus
    filter (score each document by its per-bigram conditional
    surprisal under the corpus's own bigram counts; outlier docs are
    gibberish or boilerplate).  cost(w2|w1) quantizes
    −log2 c(w1,w2)/c(w1) as 2·(bitlen(c(w1)) − bitlen(c(w1,w2))) + 1 —
    the same integer floor-log2 discipline as the unigram-LM tokenizer
    (operators/bpe.ilog2), so every doc's total cost is an exact int64
    and the mean an exact int/int division: the whole score table is
    hash-attested, unlike a float log-prob pipeline.

    Scale shape: bigram extraction is a JVM zip_with projection (no
    shuffle); context and pair counts are two map-side-combined aggs
    over the token stream; the re-join onto bigrams shuffles on the
    pair key exactly once.  The 1-word-doc edge (no bigrams) drops
    out of both engines identically via inner joins."""
    d = T(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
                " slice(split(text, ' '), 2, size(split(text, ' ')) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cu"))
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cost = pair.join(ctx, "w1").select(
        "w1",
        "w2",
        (
            2 * (F.expr(_blen_spark("cu")) - F.expr(_blen_spark("cb"))) + 1
        ).alias("cost"),
    )
    return (
        bg.join(cost, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("cost").cast("long").alias("total_cost"),
            (
                F.sum("cost").cast("double") / F.count(F.lit(1))
            ).alias("mean_cost"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------
# Tokenizer fertility (pieces per word / bytes per piece, per lang)
# ------------------------------------------------------------------


def _fertility_oracle() -> str:
    from ..operators.bpe import MERGES, merges_values_sql

    n_ranks = len(MERGES)
    return f"""
    WITH RECURSIVE
    merges(rank, pair, merged) AS (VALUES
    {merges_values_sql(MERGES)}),
    tok AS (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS word
            FROM documents),
    wl AS (SELECT lang, word, COUNT(*) AS n FROM tok GROUP BY lang, word),
    w0 AS (SELECT DISTINCT word FROM wl),
    seed AS (SELECT word,
                    ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s
             FROM w0),
    enc(word, s, rk) AS (
      SELECT word, s, 1 FROM seed
      UNION ALL
      SELECT e.word,
             CASE WHEN strpos(e.s, m.pair) > 0
                  THEN regexp_replace(e.s, m.pair, m.merged) ELSE e.s END,
             CASE WHEN strpos(e.s, m.pair) > 0 THEN e.rk ELSE e.rk + 1 END
      FROM enc e JOIN merges m ON m.rank = e.rk),
    encoded AS (
      SELECT word,
             CAST(length(string_split(TRIM(s), ' ')) AS BIGINT) AS n_syms
      FROM enc WHERE rk = {n_ranks + 1})
    SELECT wl.lang,
           CAST(SUM(wl.n) AS BIGINT) AS n_words,
           CAST(SUM(wl.n * e.n_syms) AS BIGINT) AS n_pieces,
           CAST(SUM(wl.n * e.n_syms) AS DOUBLE) / SUM(wl.n) AS fertility,
           CAST(SUM(wl.n * STRLEN(wl.word)) AS BIGINT) AS n_bytes,
           CAST(SUM(wl.n * STRLEN(wl.word)) AS DOUBLE)
             / SUM(wl.n * e.n_syms) AS bytes_per_piece
    FROM wl JOIN encoded e USING (word)
    GROUP BY wl.lang ORDER BY wl.lang
    """


@query("q_tokenizer_fertility", oracle=_fertility_oracle())
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY report per language — the standard
    tokenizer-evaluation metric (avg subword pieces per word; high
    fertility = the vocabulary serves that language poorly and
    training costs more tokens per byte), plus bytes-per-piece.
    Uses the checked-in provenance-pinned BPE merge table; the DuckDB
    oracle replays the full canonical encode with the recursive
    rank-stepping CTE, so the corpus-weighted fertility ratios are
    hash-proven (int sums → one exact int/int double division each).

    Scale shape: the encode pandas-UDF touches DISTINCT words only
    (the vocabulary-sized Python stage, operators/bpe.py point 1);
    the corpus-sized work is a split/explode/groupBy.  The final agg
    is per-lang (bounded groups)."""
    from ..operators.bpe import MERGES, bpe_encode_udf

    d = T(spark, sf_dir, "documents")
    wl = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    enc = (
        wl.select("word")
        .distinct()
        .withColumn("n_syms", F.size(bpe_encode_udf(MERGES)(F.col("word"))).cast("long"))
    )
    return (
        wl.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_syms")).cast("long").alias("n_pieces"),
            (
                F.sum(F.col("n") * F.col("n_syms")).cast("double")
                / F.sum("n")
            ).alias("fertility"),
            F.sum(F.col("n") * F.length("word")).cast("long").alias("n_bytes"),
            (
                F.sum(F.col("n") * F.length("word")).cast("double")
                / F.sum(F.col("n") * F.col("n_syms"))
            ).alias("bytes_per_piece"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------------------
# Feature hashing (HashingTF with a portable hash)
# ------------------------------------------------------------------

_FH_DIM = 1024


_FH_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) % {_FH_DIM}
           AS bucket
  FROM tok),
cells AS (
  SELECT doc_id, bucket, COUNT(*) AS tf FROM hashed GROUP BY doc_id, bucket)
SELECT bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       CAST(MAX(tf) AS BIGINT) AS max_tf
FROM cells GROUP BY bucket ORDER BY bucket
"""


@query("q_text_feature_hashing", oracle=_FH_ORACLE)
def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the HashingTF trick): project an unbounded
    vocabulary onto {_FH_DIM} fixed buckets by hashing tokens — the
    step that makes bag-of-words features JOINABLE and fixed-width at
    any corpus size (no vocabulary dictionary to build, ship, or keep
    consistent).  The hash is the md5-prefix→int portable form (the
    q_dedup_incremental precedent — Spark ``conv(substring(md5))``
    and DuckDB ``('0x' || substr(md5))::BIGINT`` compute the SAME
    integer), so the entire bucket census is hash-attested, collisions
    and all — exactly what Spark ML's HashingTF cannot offer an
    oracle for (murmur3 has no DuckDB twin).

    Scale: tokenize is a generator projection; the (doc, bucket)
    aggregation map-side combines; the final census is {_FH_DIM}
    bounded groups."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    hashed = tok.select(
        "doc_id",
        F.pmod(
            F.expr("CAST(conv(substring(md5(word), 1, 15), 16, 10) AS BIGINT)"),
            F.lit(_FH_DIM),
        ).alias("bucket"),
    )
    cells = hashed.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("tf"))
    return (
        cells.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.max("tf").cast("long").alias("max_tf"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------------------
# Hapax legomena census (vocabulary-health diagnostic)
# ------------------------------------------------------------------

_HAPAX_ORACLE = """
WITH tok AS (
  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
freq AS (
  SELECT source, word, COUNT(*) AS c FROM tok GROUP BY source, word)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(SUM(c) AS BIGINT) AS tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS hapax_ppm
FROM freq GROUP BY source ORDER BY source
"""


@query("q_text_hapax", oracle=_HAPAX_ORACLE)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena census per source — vocabulary-health
    diagnostics (a high hapax rate signals OCR noise / boilerplate
    mangling; a near-zero rate signals template text; the rate also
    estimates the unseen-vocabulary mass à la Good-Turing).  Integer
    ppm, two map-side-combined aggregations, no joins."""
    d = T(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        freq.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("c").cast("long").alias("tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("long")
            .alias("hapax"),
            F.expr(
                "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------------
# Term lift (distinctive vocabulary per source)
# ------------------------------------------------------------------

_LIFT_MIN_SUPPORT = 50


_LIFT_TOPK = 10


_LIFT_ORACLE = f"""
WITH tok AS (
  SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n_sw
       FROM tok GROUP BY source, word),
ws AS (SELECT word, CAST(SUM(n_sw) AS BIGINT) AS n_w FROM sw GROUP BY word),
ss AS (SELECT source, CAST(SUM(n_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n FROM ws),
lift AS (
  SELECT sw.source, sw.word, sw.n_sw,
         CAST(sw.n_sw * tot.n * 1000 // (ss.n_s * ws.n_w) AS BIGINT)
           AS lift_milli
  FROM sw JOIN ws USING (word) JOIN ss USING (source), tot
  WHERE sw.n_sw >= {_LIFT_MIN_SUPPORT}),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY lift_milli DESC, word) AS rank
  FROM lift)
SELECT source, word, n_sw, lift_milli, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= {_LIFT_TOPK}
ORDER BY source, rank
"""


@query("q_text_term_lift", oracle=_LIFT_ORACLE)
def q_text_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source by integer LIFT —
    lift(w, s) = P(w|s) / P(w) = n_sw·N / (N_s·n_w) in milli units
    (the log-free PMI: same ranking, no libm) — the corpus-diagnostic
    a mixture pipeline runs to see what each source actually
    contributes.  Support floor {_LIFT_MIN_SUPPORT} kills the
    lift-∞-singleton tail; top-{_LIFT_TOPK} per source with a total
    (lift, word) tie-break.

    Scale: token census + two bounded side-aggregates joined back
    (broadcast); the per-source top-k is a partitioned window over
    rows that survive the support floor.  At web scale n_sw·N can
    pass int64 — there the lift computes in per-million token units
    (both factors DIV 10⁶ first), same ranking."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("word"))
    sw = tok.groupBy("source", "word").agg(
        F.count(F.lit(1)).cast("long").alias("n_sw")
    )
    ws = sw.groupBy("word").agg(F.sum("n_sw").cast("long").alias("n_w"))
    ss = sw.groupBy("source").agg(F.sum("n_sw").cast("long").alias("n_s"))
    tot = ws.agg(F.sum("n_w").cast("long").alias("n"))
    lift = (
        sw.where(F.col("n_sw") >= _LIFT_MIN_SUPPORT)
        .join(ws, "word")
        .join(F.broadcast(ss), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "word",
            "n_sw",
            F.expr("n_sw * n * 1000 DIV (n_s * n_w)").alias("lift_milli"),
        )
    )
    wr = Window.partitionBy("source").orderBy(
        F.desc("lift_milli"), "word"
    )
    return (
        lift.withColumn("rank", F.row_number().over(wr).cast("long"))
        .where(F.col("rank") <= _LIFT_TOPK)
        .select("source", "word", "n_sw", "lift_milli", "rank")
        .orderBy("source", "rank")
    )


# ------------------------------------------------------------------
# Cross-document boilerplate shingle census
# ------------------------------------------------------------------

_BP_K = 6


_BP_MIN_DOCS = 3


_BP_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         LIST_DISTINCT([ARRAY_TO_STRING(words[i:i+{_BP_K - 1}], ' ')
                        FOR i IN RANGE(1, GREATEST(LEN(words) - {_BP_K - 1}, 1) + 1)])
           AS s
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents)),
x AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
c AS (
  SELECT shingle,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
  FROM x GROUP BY shingle)
SELECT shingle, n_docs, min_doc_id
FROM c WHERE n_docs >= {_BP_MIN_DOCS}
ORDER BY n_docs DESC, shingle
"""


@query("q_text_boilerplate", oracle=_BP_ORACLE)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate detector: {_BP_K}-gram shingles
    appearing in ≥ {_BP_MIN_DOCS} DISTINCT documents, with doc counts
    — the removal-target census (headers, licence blocks, navigation
    chrome) a CCNet-style pipeline subtracts before dedup;
    q_text_repetition measures within-doc repetition, this finds the
    corpus-wide offenders.

    Scale: shingle → distinct-per-doc (JVM HOF, map-side) → one
    shingle-keyed census with map-side combine; the ≥{_BP_MIN_DOCS}
    floor prunes the unique-shingle long tail before any sort.  At
    100 TB the census keys on a 64-bit shingle hash first and only
    materializes strings for survivors (the q_dedup_near staging)."""
    from ..operators.dedup import _shingle_sql

    d = T(spark, sf_dir, "documents")
    x = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(_shingle_sql("text", _BP_K)))
        ).alias("shingle"),
    )
    return (
        x.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .where(F.col("n_docs") >= _BP_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "shingle")
    )


# ------------------------------------------------------------------
# Zipf rank-frequency profile
# ------------------------------------------------------------------

_ZIPF_TOP = 50


_ZIPF_ORACLE = f"""
WITH w AS (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
c AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM w
  WHERE term <> '' GROUP BY term),
r AS (
  SELECT term, freq,
         row_number() OVER (ORDER BY freq DESC, term) AS rank
  FROM c)
SELECT CAST(rank AS BIGINT) AS rank, term, freq,
       CAST(rank * freq AS BIGINT) AS rank_freq,
       CAST(freq * 1000000 //
            (first_value(freq) OVER (ORDER BY rank)) AS BIGINT)
         AS share_of_mode_ppm
FROM r WHERE rank <= {_ZIPF_TOP} ORDER BY rank
"""


@query("q_text_zipf", oracle=_ZIPF_ORACLE)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency profile: the top-{_ZIPF_TOP} terms with the
    rank·frequency product (constant under an ideal Zipf law — its
    drift measures how far the corpus deviates) and each term's ppm
    share of the mode (the f₁/rank prediction in integer form).  The
    vocabulary-law companion to the Heaps-law probes in
    SCALE_PROBE.json.

    Scale: the global rank window runs over the TERM CENSUS, whose
    size is Heaps-bounded (measured in-repo: |V| ∝ N^0.77) — the same
    justification as the BPE trainer's vocab stage; the fact table is
    never globally sorted."""
    d = T(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    r = c.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), "term")).cast("long"),
    ).where(F.col("rank") <= _ZIPF_TOP)
    wmode = Window.orderBy("rank")
    return r.select(
        "rank",
        "term",
        "freq",
        (F.col("rank") * F.col("freq")).cast("long").alias("rank_freq"),
        F.expr(
            "CAST(freq * 1000000 DIV (first_value(freq)"
            " OVER (ORDER BY rank)) AS BIGINT)"
        ).alias("share_of_mode_ppm"),
    ).orderBy("rank")


# ------------------------------------------------------------------
# Per-document n-gram novelty curve (curation-order dedup signal)
# ------------------------------------------------------------------

_NOV_K = 3


_NOV_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         LIST_DISTINCT([ARRAY_TO_STRING(words[i:i+{_NOV_K - 1}], ' ')
                        FOR i IN RANGE(1, GREATEST(LEN(words) - {_NOV_K - 1}, 1) + 1)])
           AS s
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents)),
x AS (SELECT doc_id, UNNEST(s) AS shingle FROM sh),
firsts AS (
  SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS first_doc
  FROM x GROUP BY shingle)
SELECT x.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = x.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN f.first_doc = x.doc_id THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
FROM x JOIN firsts f ON x.shingle = f.shingle
GROUP BY x.doc_id ORDER BY x.doc_id
"""


@query("q_text_ngram_novelty", oracle=_NOV_ORACLE)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty curve: the ppm fraction of each document's
    DISTINCT {_NOV_K}-gram shingles that appear in NO earlier document
    (doc_id order) — the marginal-value signal a curation pipeline
    reads to decide when a source is exhausted (novelty decays toward
    0 as the corpus saturates); q_text_boilerplate finds the shared
    shingles, this charges them to the first document that earned
    them.

    Scale: one shingle-keyed census (MIN doc_id — map-side combined)
    joined back to the per-doc shingle stream on the SAME key — both
    sides key on the 64-bit shingle hash (r14: the docstring's 100 TB
    posture is now the implementation; the census and the join shuffle
    8-byte keys instead of shingle strings, with the q_decontaminate
    hash-injectivity argument — equivalent absent 64-bit collisions,
    policed by the oracle hash gate) and the join co-partitions with no
    extra exchange.  The hashed shingle stream is materialized once
    per invocation (localCheckpoint, the prefix_filter_pairs
    discipline): the census and the join-back otherwise each
    re-evaluate the split→shingle→distinct→explode expression.
    Same-box A/B at sf0.1, median of 5, outputs bit-identical:
    3.33 s → 1.91 s (checkpoint 1.6×, hashed keys the rest)."""
    from ..operators.dedup import _shingle_sql

    d = T(spark, sf_dir, "documents")
    x = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(_shingle_sql("text", _NOV_K)))
        ).alias("shingle"),
    ).select("doc_id", F.xxhash64("shingle").alias("shingle")).localCheckpoint()
    firsts = x.groupBy("shingle").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    return (
        x.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
            F.expr(
                "CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(1) AS BIGINT)"
            ).alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------
# Integer tf·idf keyword extraction (top-3 per document)
# ------------------------------------------------------------------

_KW_TOP = 3


_KW_ORACLE = f"""
WITH w AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM w WHERE term <> '' GROUP BY 1, 2),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
sc AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (2 * (({blen_ladder('n.n_docs')})
                       - ({blen_ladder('df.df')})) + 1) AS score
  FROM tf JOIN df ON tf.term = df.term, n),
r AS (
  SELECT doc_id, term, tf, df, CAST(score AS BIGINT) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rk
  FROM sc)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df, score
FROM r WHERE rk <= {_KW_TOP} ORDER BY doc_id, rk
"""


@query("q_text_keywords", oracle=_KW_ORACLE)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-{_KW_TOP} terms by INTEGER
    tf·idf, where idf is the half-bit quantization
    2·(blen(N) − blen(df)) + 1 of log₂(N/df) (the q_mix_entropy /
    q_text_bigram_lm discipline) — so scores are exact int64 and the
    ranking is bit-reproducible, unlike float tf·idf (q_text_tfidf
    keeps the float form; this is its deterministic dual for
    labelling/routing decisions).  Ties break (score desc, term).

    Scale: tf is one (doc, term) census; df one term census joined
    back on the SAME term key; the per-doc top-k is a WindowGroupLimit
    forwarding ≤{_KW_TOP} rows per doc per task."""
    d = T(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = w.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = tf.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    sc = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr(
                f"CAST(tf * (2 * (({blen_ladder('n_docs')})"
                f" - ({blen_ladder('df')})) + 1) AS BIGINT)"
            ).alias("score"),
        )
    )
    wk = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        sc.withColumn("rk", F.row_number().over(wk).cast("long"))
        .where(F.col("rk") <= _KW_TOP)
        .select("doc_id", "rk", "term", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    )


# ------------------------------------------------------------------
# Term burstiness: Fano factor of per-document counts
# ------------------------------------------------------------------

_FANO_MIN_FREQ = 50


_FANO_TOP = 20


_FANO_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
  WHERE u.term <> ''),
per_doc AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2),
moments AS (
  SELECT term,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM per_doc GROUP BY 1 HAVING SUM(c) >= {_FANO_MIN_FREQ}),
d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT term, s, q,
       CAST((1000000 * (q * d.n_docs - s * s)) // (d.n_docs * s) AS BIGINT)
         AS fano_ppm
FROM moments CROSS JOIN d
ORDER BY fano_ppm DESC, term
LIMIT {_FANO_TOP}
"""


@query("q_text_fano", oracle=_FANO_ORACLE)
def q_text_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness census: the Fano factor (variance-to-mean
    ratio) of each frequent term's per-document count, zeros included
    by algebra — Var/Mean = (Q·D − S²)/(D·S) over ALL D documents
    without materializing a zero row per absent document.  Bursty
    terms (Fano ≫ 1) are topical; Fano ≈ 1 is Poisson background —
    the dispersion signal TF-IDF misses at equal frequency.  All
    moments exact int64; the ppm ratio is exact integer floor
    division (cross-multiplied, no float anywhere).

    Scale: one (term, doc) reduce off the token explode, one term
    reduce (both map-side combined, Heaps-bounded term domain), a
    1-row doc-count broadcast, and a top-N.  The ≥{_FANO_MIN_FREQ}
    support cut prunes the singleton tail before the ranking."""
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    moments = (
        per_doc.groupBy("term")
        .agg(
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
        )
        .where(F.col("s") >= _FANO_MIN_FREQ)
    )
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        moments.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "s",
            "q",
            F.expr(
                "CAST((1000000 * (q * n_docs - s * s))"
                " DIV (n_docs * s) AS BIGINT)"
            ).alias("fano_ppm"),
        )
        .orderBy(F.desc("fano_ppm"), F.asc("term"))
        .limit(_FANO_TOP)
    )


# ------------------------------------------------------------------
# Token coverage vs vocabulary size
# ------------------------------------------------------------------

_COV_KS = [5, 10, 20]


_COV_KS_SQL = ", ".join(str(k) for k in _COV_KS)


_COV_ORACLE = f"""
WITH c AS (
  SELECT u.term, CAST(COUNT(*) AS BIGINT) AS freq
  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
  WHERE u.term <> '' GROUP BY 1),
ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rk,
         SUM(freq) OVER (ORDER BY freq DESC, term
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(freq) OVER () AS total,
         COUNT(*) OVER () AS n_terms
  FROM c),
grid AS (SELECT UNNEST([{_COV_KS_SQL}]) AS k)
SELECT CAST(g.k AS BIGINT) AS k,
       CAST(MAX(r.n_terms) AS BIGINT) AS n_terms,
       CAST(MAX(r.cum) AS BIGINT) AS covered_tokens,
       CAST(MAX(r.total) AS BIGINT) AS total_tokens,
       CAST((1000000 * MAX(r.cum)) // MAX(r.total) AS BIGINT)
         AS coverage_ppm
FROM grid g JOIN ranked r ON r.rk <= g.k
GROUP BY g.k ORDER BY g.k
"""


@query("q_text_vocab_coverage", oracle=_COV_ORACLE)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token coverage vs vocabulary size: for each literal rung
    k ∈ {5, 10, 20}, the exact ppm share of ALL corpus tokens covered
    by the k most frequent terms — the curve that sizes a tokenizer
    vocabulary and prices the OOV tail (the Heaps-law probes in
    SCALE_PROBE.json give this curve its growth law; the BPE
    trainer's vocab-size stopping rule reads it).  Frequency ranks
    carry the term total tie-break; coverage at a rung with fewer
    than k terms saturates at the full corpus.

    Scale: one Heaps-bounded term census; the rank window runs over
    the census (never the token stream), and the 3-row literal grid
    ≤-joins against it — a broadcast trivially."""
    d = T(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    wo = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = c.select(
        "freq",
        F.row_number().over(wo).alias("rk"),
        F.sum("freq").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
        F.sum("freq").over(Window.partitionBy()).alias("total"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_terms"),
    )
    grid = spark.createDataFrame([(k,) for k in _COV_KS], "k long")
    return (
        F.broadcast(grid)
        .join(ranked, ranked.rk <= grid.k)
        .groupBy("k")
        .agg(
            F.max("n_terms").cast("long").alias("n_terms"),
            F.max("cum").cast("long").alias("covered_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
            F.expr(
                "CAST((1000000 * MAX(cum)) DIV MAX(total) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("k")
    )


# ------------------------------------------------------------------
# Flesch readability from three integer censuses
# ------------------------------------------------------------------

#: counts via regexp_extract_all so empty strings never divide:
#: words = non-space runs, syllable proxy = vowel groups, sentences =
#: terminator runs clamped to >= 1 (prose without punctuation is one
#: sentence).
_RD_FLESCH = (
    "CASE WHEN words = 0 THEN NULL ELSE "
    "206.835 - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))"
    " - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE)) END"
)


_RD_GRADE = (
    "CASE WHEN words = 0 THEN NULL ELSE "
    "0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))"
    " + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))"
    " - 15.59 END"
)


_READ_ORACLE = f"""
WITH c AS (
  SELECT doc_id,
         CAST(length(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS words,
         CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS syllables,
         CAST(GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS sentences
  FROM documents)
SELECT doc_id, words, sentences, syllables,
       {_RD_FLESCH} AS flesch,
       {_RD_GRADE} AS fk_grade
FROM c ORDER BY doc_id
"""


@query("q_text_readability", oracle=_READ_ORACLE)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document from
    three exact integer censuses — words as non-space runs, the
    classic vowel-group syllable proxy, sentence terminators clamped
    to ≥ 1 — with the two scores as pinned-order double expressions
    over those integers (bit-identical across engines).  Empty
    documents report NULL.  The readability band is the cheapest
    quality prior a curation pipeline has (the Gopher rules of
    q_quality_composite gate on cousins of these ratios).

    Scale: three regexp censuses evaluated in one map-only projection
    — no shuffle at all until the final presentation sort."""
    d = T(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.expr(
            "CAST(size(regexp_extract_all(text, '[^ ]+', 0)) AS BIGINT)"
        ).alias("words"),
        F.expr(
            "CAST(size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"
            " AS BIGINT)"
        ).alias("syllables"),
        F.expr(
            "CAST(GREATEST(size(regexp_extract_all(text, '[.!?]+', 0)), 1)"
            " AS BIGINT)"
        ).alias("sentences"),
    )
    return c.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.expr(_RD_FLESCH).alias("flesch"),
        F.expr(_RD_GRADE).alias("fk_grade"),
    ).orderBy("doc_id")


# ------------------------------------------------------------------
# Sentence-length distribution
# ------------------------------------------------------------------

_SENT_ORACLE = """
WITH s AS (
  SELECT UNNEST(string_split_regex(text, '[.!?]+')) AS sent
  FROM documents),
t AS (
  SELECT CAST(length(regexp_extract_all(sent, '[^ ]+')) AS BIGINT)
           AS n_tokens
  FROM s)
SELECT n_tokens, CAST(COUNT(*) AS BIGINT) AS n_sentences
FROM t WHERE n_tokens > 0
GROUP BY n_tokens ORDER BY n_tokens
"""


@query("q_text_sentence_stats", oracle=_SENT_ORACLE)
def q_text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-length distribution: split on terminator runs, count
    tokens per sentence as non-space runs (so empty fragments from
    trailing punctuation vanish by the n_tokens > 0 filter instead of
    relying on either engine's split-edge-case behavior), histogram.
    Very short and very long sentence masses are standard layout /
    boilerplate quality signals.

    Scale: explode + one bounded-domain aggregation (sentence length
    is a small value domain) — map-side combine eats the fan-out."""
    d = T(spark, sf_dir, "documents")
    s = d.select(F.explode(F.split("text", "[.!?]+")).alias("sent"))
    t = s.select(
        F.expr(
            "CAST(size(regexp_extract_all(sent, '[^ ]+', 0)) AS BIGINT)"
        ).alias("n_tokens")
    )
    return (
        t.where(F.col("n_tokens") > 0)
        .groupBy("n_tokens")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sentences"))
        .orderBy("n_tokens")
    )


# ------------------------------------------------------------------
# Pairwise source-vocabulary overlap
# ------------------------------------------------------------------

_OVL_ORACLE = """
WITH v AS (
  SELECT DISTINCT source, u.term
  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
  WHERE u.term <> ''),
sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
       CAST((1000000 * i.n_common) // (sa.n + sb.n - i.n_common)
            AS BIGINT) AS jaccard_ppm,
       CAST((1000000 * i.n_common) // LEAST(sa.n, sb.n) AS BIGINT)
         AS containment_ppm
FROM inter i
JOIN sz sa ON sa.source = i.src_a
JOIN sz sb ON sb.source = i.src_b
ORDER BY src_a, src_b
"""


@query("q_text_vocab_overlap", oracle=_OVL_ORACLE)
def q_text_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap: Jaccard and containment
    (overlap over the smaller vocabulary) in exact ppm for every
    source pair — the register/domain-similarity diagnostic that
    decides whether two feeds deduplicate against each other or mix
    as complements.  Everything is an integer count over the
    per-source vocabulary sets.

    Scale: the vocabulary table is Heaps-bounded; the pair expansion
    joins ON TERM (never a cross join), so a term seen in s sources
    fans out to s(s−1)/2 pair rows — bounded by the source count,
    which is a catalog-sized dimension."""
    d = T(spark, sf_dir, "documents")
    v = (
        d.select(
            "source", F.explode(F.split("text", " ")).alias("term")
        )
        .where(F.col("term") != "")
        .distinct()
    )
    sz = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sz.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    sb = sz.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr(
                "CAST((1000000 * n_common) DIV (n_a + n_b - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr(
                "CAST((1000000 * n_common) DIV LEAST(n_a, n_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


# ------------------------------------------------------------------
# Heaps-law type/token curve at document-prefix rungs
# ------------------------------------------------------------------

_HC_RUNGS = [10, 100, 500]


_HC_RUNGS_SQL = ", ".join(str(d) for d in _HC_RUNGS)


_HEAPS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
  WHERE u.term <> ''),
grid AS (SELECT UNNEST([{_HC_RUNGS_SQL}]) AS d),
pref AS (
  SELECT g.d, t.term
  FROM grid g JOIN tok t ON t.doc_id < g.d),
agg AS (
  SELECT d,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types
  FROM pref GROUP BY d)
SELECT CAST(g.d AS BIGINT) AS d,
       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(a.n_types, 0) AS BIGINT) AS n_types,
       CAST(CASE WHEN COALESCE(a.n_tokens, 0) = 0 THEN NULL
            ELSE (1000000 * a.n_types) // a.n_tokens END AS BIGINT)
         AS ttr_ppm
FROM grid g LEFT JOIN agg a ON a.d = g.d
ORDER BY d
"""


@query("q_text_heaps_curve", oracle=_HEAPS_ORACLE)
def q_text_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Heaps-law vocabulary-growth curve materialized as a query:
    types, tokens, and type-token ratio within the first {10, 100,
    500} documents (doc_id order) — the measured curve that sizes
    MinHash key width and the BPE trainer's in-memory tier
    (SCALE_PROBE heaps_curves fits β ≈ 0.77 on growing corpora; this
    query is the per-corpus probe a pipeline runs BEFORE choosing
    those parameters).  Prefixes are literal doc_id bounds, so no
    global ordering or window ever touches the token stream, and the
    deepest rung's filter pushes into the scan.

    Scale: a 3-row literal grid ≤-joins the token stream on doc_id —
    the q_text_vocab_coverage shape; COUNT(DISTINCT) shuffles on the
    Heaps-bounded type domain only."""
    d = T(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .where(F.col("term") != "")
    )
    grid = spark.createDataFrame([(r,) for r in _HC_RUNGS], "d long")
    pref = F.broadcast(grid).join(tok, tok.doc_id < grid.d).select("d", "term")
    agg = pref.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("term").cast("long").alias("n_types"),
    )
    return (
        grid.join(agg, "d", "left")
        .select(
            F.col("d").cast("long").alias("d"),
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
            F.coalesce(F.col("n_types"), F.lit(0))
            .cast("long")
            .alias("n_types"),
            F.expr(
                "CAST(CASE WHEN COALESCE(n_tokens, 0) = 0 THEN NULL"
                " ELSE (1000000 * n_types) DIV n_tokens END AS BIGINT)"
            ).alias("ttr_ppm"),
        )
        .orderBy("d")
    )
