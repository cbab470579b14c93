"""Training-data pipeline pack: the corpus-maintenance operations a
100 TB LLM data pipeline runs between raw crawl and tokenizer —
incremental dedup against an existing corpus, PII redaction,
benchmark decontamination (n-gram overlap), and token-budget shard
packing.  All four are fully oracle-checked (the transforms are
deterministic SQL-expressible shapes; only their SCALE posture —
hashing, broadcasts — is Spark-specific).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import blen_ladder
from ..operators.dedup import shingle_col
from ..operators.sampling import KNUTH
from ..registry import query
from ..sources.tables import table as T


@query(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(text) AS h FROM documents WHERE doc_id % 10 < 8
    ),
    incoming AS (
      SELECT doc_id, lang, n_chars, md5(text) AS h
      FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT lang, COUNT(*) AS n_new_unique,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM incoming
    WHERE NOT EXISTS (SELECT 1 FROM corpus WHERE corpus.h = incoming.h)
    GROUP BY lang ORDER BY lang
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta) dedup: which INCOMING documents (doc_id%10
    ∈ {8,9} stands in for today's crawl) are not already in the
    EXISTING corpus (the other 80%)?  The daily-ingest shape of exact
    dedup: instead of re-deduping the whole corpus, anti-join the
    small delta against the corpus on a 128-bit content hash — the
    shuffle carries 16-byte md5 keys, never document bodies, and at
    100 TB the corpus side is a bucketed/sorted hash index so only the
    delta scans fresh.  md5 (not xxhash64) because DuckDB computes the
    identical digest, making the whole filter oracle-checkable."""
    d = T(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 8).select(
        F.md5(F.col("text").cast("binary")).alias("h")
    )
    incoming = d.filter(F.col("doc_id") % 10 >= 8).select(
        "lang", "n_chars", F.md5(F.col("text").cast("binary")).alias("h")
    )
    return (
        incoming.join(corpus, "h", "anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new_unique"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


#: shared regexes — kept to the syntax subset Java regex (Spark) and
#: RE2 (DuckDB) interpret identically: literal classes, +, {n}, no
#: lookaround/backrefs.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


@query(
    "q_text_redact",
    oracle=f"""
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact: user' || doc_id ||
             '@mail.example or +1-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_md5
    FROM dirty ORDER BY doc_id
    """,
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub emails and phone numbers to placeholder
    tokens, reporting per-document hit counts and a digest of the
    scrubbed text (the md5 proves the full redacted BODY matches the
    oracle, not just the counts).  The corpus has no real PII, so each
    doc gets a deterministic synthetic contact line appended first —
    same construction in both engines.  Regexes stay in the syntax
    subset Java regex and RE2 agree on.  Scale shape: pure per-row
    JVM string ops in one projection — no shuffle, no Python."""
    d = T(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    dirty = d.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    # F.lit(pattern) keeps the regex OUT of Spark's SQL string-literal
    # parser (which would eat the \+ escape); the DataFrame API passes
    # the pattern through verbatim, exactly as DuckDB's 'literal' does.
    return dirty.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
    ).orderBy("doc_id")


@query(
    "q_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(t[i:i+3], ' ') AS s
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 3, 1)))
                    AS i) u
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 25 <> 0)
    SELECT train.doc_id, COUNT(DISTINCT train.s) AS n_shared
    FROM train JOIN bench ON train.s = bench.s
    GROUP BY train.doc_id ORDER BY train.doc_id
    """,
    headline=True,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing ≥1
    verbatim 4-gram with the held-out benchmark set (docs with
    doc_id % 25 == 0 stand in for an eval suite), with the count of
    distinct leaked n-grams each.  The Dolma/C4-style leak check —
    production uses 8-13-gram windows; this corpus's ~30-word synthetic
    vocabulary makes 4-grams the collision-rate equivalent (8-grams
    yield zero overlap here, which would make the check vacuous).
    Scale shape: the benchmark n-gram set is tiny relative to the
    corpus, so it BROADCASTS — the training side never shuffles; each
    task stream-filters its shingles against the in-memory set.  The
    n-gram key is xxhash64 OVER THE 4-TOKEN ARRAY SLICE — the shingle
    string is never materialized (profiled 1.6 s of the 1.8 s total at
    sf0.1 was concat_ws string building; hashing the slice is ~20×
    faster end-to-end), so the broadcast table, the per-row probe, and
    the distinct-count state all carry 8-byte longs.  Joining on the
    hashed token-slice == joining on the space-joined string (tokens
    contain no spaces, so the string form is injective over token
    sequences), and the oracle replays the join on raw strings —
    equivalent absent 64-bit collisions (~n²/2⁶⁵; a collision would
    surface as an oracle hash mismatch, so the gate itself polices the
    assumption)."""
    d = T(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(t) - 3, 1)),"
                " i -> xxhash64(slice(t, i, 4)))"
            )
        ).alias("h"),
    )
    bench = sh.filter(F.col("doc_id") % 25 == 0).select("h").distinct()
    train = sh.filter(F.col("doc_id") % 25 != 0)
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count_distinct(F.col("h")).alias("n_shared"))
        .orderBy("doc_id")
    )


@query(
    "q_pack_shards",
    oracle="""
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS shard
    FROM (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
               OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM documents
    ) ORDER BY doc_id
    """,
)
def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: within each lang, assign documents
    (in doc_id order) to consecutive 512-token shards by their
    cumulative token offset — the deterministic sequential-fill
    sharding a tokenizer pipeline uses to emit bounded training files.
    Pure integer window arithmetic (running sum + integer divide), so
    bit-exact across engines.  Scale shape: one shuffle on lang; for
    skewed corpora you'd range-partition on (lang, doc_id) so each
    task packs a contiguous slice."""
    d = T(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "lang", ntok.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr("(cum - n_tokens) DIV 512").alias("shard"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS b
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(t) - 1, 1)))
                    AS i) u
    ),
    counts AS (
      SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b
    )
    SELECT doc_id,
           ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS dup_frac,
           ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_frac
    FROM counts GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (Gopher-style quality rules): per document,
    the duplicate-bigram fraction (1 − distinct/total) and the
    top-bigram share — high values flag boilerplate/spam for the
    filtering stage.  Two aggregations, both keyed by doc_id, so the
    per-doc pass stays one shuffle; ROUND(…,6) on the ratio keeps the
    double division hash-stable across engines."""
    d = T(spark, sf_dir, "documents")
    bg = d.select("doc_id", F.explode(shingle_col("text", 2)).alias("b"))
    counts = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.round(
                1.0 - F.count(F.lit(1)) / F.sum("c").cast("double"), 6
            ).alias("dup_frac"),
            F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_chunk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    )
    SELECT doc_id, i AS chunk_idx,
           array_to_string(t[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
           CAST(least(32, n - i * 24) AS BIGINT) AS n_chunk_tokens
    FROM toks,
         LATERAL (SELECT unnest(generate_series(0,
                    CAST(CEIL(n / 24.0) AS BIGINT) - 1)) AS i) u
    ORDER BY doc_id, chunk_idx
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for embedding/context pipelines: window
    of 32 tokens, stride 24 (8-token overlap), so every token lands in
    ≥1 chunk and boundaries carry context.  The 1→N expansion is a
    generator projection (explode over sequence) — no shuffle, no
    Python; chunk count derives from the token count with the same
    ceil arithmetic in both engines."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).cast("long").alias("n"),
    )
    return (
        toks.select(
            "doc_id",
            "t",
            "n",
            F.explode(
                F.sequence(
                    F.lit(0), F.expr("CAST(CEIL(n / 24.0) AS LONG) - 1")
                )
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr("concat_ws(' ', slice(t, chunk_idx * 24 + 1, 32))").alias(
                "chunk_text"
            ),
            F.expr("CAST(least(32, n - chunk_idx * 24) AS LONG)").alias(
                "n_chunk_tokens"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "q_shard_rendezvous",
    oracle="""
    WITH scored AS (
      SELECT d.doc_id, s.shard,
             md5(CONCAT_WS(':', d.doc_id, s.shard)) AS score
      FROM documents d, range(8) s(shard)
    ),
    assign AS (
      SELECT doc_id, ARG_MAX(shard, score) AS shard FROM scored GROUP BY doc_id
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc
    FROM assign GROUP BY shard ORDER BY shard
    """,
)
def q_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding — STABLE shard
    assignment for incremental corpus maintenance: each doc goes to
    argmax over shards of md5(doc_id:shard), so growing N→N+1 shards
    relocates only ~1/(N+1) of documents (property-tested in
    tests/test_llm_ops.py) instead of rehashing nearly everything the
    way mod-N does.  md5-over-strings is bit-identical in every
    engine, making the assignment itself oracle-attestable — unlike
    xxhash/murmur sharding whose seeds are engine-private.

    Scale shape: doc×N_shards expansion is linear (N is small and
    fixed), one groupBy(doc) with max_by, one tiny groupBy(shard)
    rollup; no shuffle keyed on anything hot.  At 100 TB with
    thousands of shards you'd switch the argmax to a jump-consistent
    hash (O(1) per doc, same stability bound) — the assignment
    CONTRACT (stable under resize) is what this operator pins."""
    d = T(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(8).select(F.col("id").alias("shard"))
    scored = d.crossJoin(shards).withColumn(
        "score", F.md5(F.concat_ws(":", F.col("doc_id"), F.col("shard")))
    )
    assign = scored.groupBy("doc_id").agg(
        F.expr("max_by(shard, score)").alias("shard")
    )
    return (
        assign.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
        .orderBy("shard")
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id, label,
             GREATEST(CAST(list_max(list_transform(embedding,
                 x -> ABS(CAST(x AS DOUBLE)))) AS DOUBLE), 1e-30) AS s,
             list_transform(embedding,
                 x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 /
                       GREATEST(CAST(list_max(list_transform(embedding,
                           y -> ABS(CAST(y AS DOUBLE)))) AS DOUBLE), 1e-30)
                       + 0.5) AS BIGINT)) AS codes
      FROM embeddings
    )
    SELECT vec_id, label, s AS scale,
           CAST(LEN(codes) AS INT) AS n_dims,
           CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
           CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
           CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max
    FROM q ORDER BY vec_id
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the compression step a
    100 TB vector corpus runs before ANN indexing (4× smaller, int8
    SIMD dot products): per-vector scale = max|x|, code_i =
    round(x_i·127/scale).  Everything stays in JVM higher-order
    functions (transform/aggregate) — no UDF, no Python.

    Oracle discipline: the rounding is written as floor(x+0.5) with
    every operand explicitly cast to DOUBLE on BOTH engines, because
    the idiomatic forms disagree — Spark round() is HALF_UP, DuckDB
    round() is engine-defined at .5, and DuckDB keeps FLOAT arithmetic
    in float32 unless cast.  With the casts pinned, the int codes are
    bit-identical and the attested columns are exact integers (sum /
    min / max of codes) plus the scale (a max of floats — no
    arithmetic, so exact).  Reconstruction quality (max abs error ≤
    scale/254 per dim) is asserted separately in
    tests/test_llm_ops.py with numpy."""
    e = T(spark, sf_dir, "embeddings")
    s = F.greatest(
        F.expr(
            "CAST(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)"
        ),
        F.lit(1e-30),
    )
    q = e.select(
        "vec_id",
        "label",
        s.alias("s"),
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 /"
            " GREATEST(CAST(array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS DOUBLE), 1e-30d)"
            " + 0.5d) AS BIGINT))"
        ).alias("codes"),
    )
    return q.select(
        "vec_id",
        "label",
        F.col("s").alias("scale"),
        F.size("codes").alias("n_dims"),
        F.expr("aggregate(codes, 0L, (a, c) -> a + c)").alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
    ).orderBy("vec_id")


@query(
    "q_outliers_mad",
    oracle="""
    WITH w1 AS (
      SELECT event_type, value,
             quantile_cont(value, 0.5) OVER (PARTITION BY event_type) AS med
      FROM events
    ),
    w2 AS (
      SELECT *, quantile_cont(ABS(value - med), 0.5)
                  OVER (PARTITION BY event_type) AS mad
      FROM w1
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ABS(value - med) > 3 * mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           ANY_VALUE(med) AS median_value, ANY_VALUE(mad) AS mad
    FROM w2 GROUP BY event_type ORDER BY event_type
    """,
)
def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median absolute deviation — the
    quality filter that survives heavy tails where mean/stddev z-scores
    are dragged by the very outliers they should flag.  Flags
    |v − median| > 3·MAD per event_type.

    Scale shape: the q_events_funnel trick again — both EXACT
    percentiles are computed as stacked window aggregates over the
    same partitioning, so the whole three-pass-looking computation
    (median → MAD over residuals → outlier count) rides ONE hash
    shuffle on event_type and the final groupBy elides its exchange.
    Exact medians interpolate lo + (hi−lo)·0.5 identically in Spark's
    percentile() and DuckDB's quantile_cont, so the doubles are
    bit-identical.  At 100 TB exact per-group percentiles shuffle all
    values of a group to its partition — keyed by a LOW-cardinality
    hot column this is the known caveat; approx_percentile (mergeable
    sketch) is the scale path when ±ε is acceptable, as q_agg_percentile
    documents."""
    e = T(spark, sf_dir, "events").select("event_type", "value")
    e = e.withColumn(
        "med",
        F.expr(
            "percentile(value, 0.5) OVER (PARTITION BY event_type)"
        ),
    ).withColumn(
        "mad",
        F.expr(
            "percentile(abs(value - med), 0.5) OVER (PARTITION BY event_type)"
        ),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
                .otherwise(0)
            ).alias("n_outliers"),
            F.first("med").alias("median_value"),
            F.first("mad").alias("mad"),
        )
        .orderBy("event_type")
    )


@query(
    "q_mix_sources",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_total,
             CASE WHEN CAST(SUBSTR(source, 4) AS INT) % 2 = 0
                  THEN 0.6 ELSE 0.3 END AS w
      FROM documents
    )
    SELECT source, CAST(ANY_VALUE(n_total) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rk <= CEIL(w * n_total) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= CEIL(w * n_total) THEN doc_id ELSE 0 END) AS BIGINT) AS kept_checksum
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus remixing to target per-source weights —
    the "data mixing" step of training-set construction (downsample
    over-represented sources to a prescribed distribution).  Unlike
    sampleBy (per-row RNG, rows-only checkable), selection is by
    md5-rank within source: reproducible across engines, runs, AND
    partitionings, so the chosen SET itself is oracle-attested via an
    integer checksum.  One window shuffle on source + the same-keyed
    groupBy (exchange elided); weights here demonstrate the shape
    (60% even-numbered sources, 30% odd)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    w = F.when(
        F.expr("CAST(SUBSTR(source, 4) AS INT)") % 2 == 0, F.lit(0.6)
    ).otherwise(F.lit(0.3))
    win = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = (
        d.withColumn("rk", F.row_number().over(win))
        .withColumn("n_total", F.count(F.lit(1)).over(Window.partitionBy("source")))
        .withColumn("w", w)
    )
    kept = F.col("rk") <= F.ceil(F.col("w") * F.col("n_total"))
    return (
        ranked.groupBy("source")
        .agg(
            F.first("n_total").alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(0)).alias("kept_checksum"),
        )
        .orderBy("source")
    )


@query(
    "q_batch_padding",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, n_chars, n_chars // 256 AS bucket,
             ROW_NUMBER() OVER (PARTITION BY n_chars // 256
                                ORDER BY n_chars, doc_id) AS rk
      FROM documents
    ),
    batched AS (
      SELECT *, CAST((rk - 1) // 32 AS BIGINT) AS batch_idx FROM ranked
    )
    SELECT bucket, batch_idx, COUNT(*) AS n_docs,
           CAST(MAX(n_chars) AS BIGINT) AS max_len,
           CAST(COUNT(*) * MAX(n_chars) - SUM(n_chars) AS BIGINT) AS padded_waste
    FROM batched GROUP BY bucket, batch_idx ORDER BY bucket, batch_idx
    """,
)
def q_batch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching — the serving-side prep step
    that cuts padding FLOPs: sort documents into 256-char buckets,
    fill fixed-size batches (B=32) in length order within each bucket,
    and account the padding waste (B·max_len − Σlen) per batch.
    Random batching pads every sequence to the batch max; bucketing
    by length makes the max tight.  Deterministic fill order
    (n_chars, doc_id) so the batch assignment itself is
    oracle-attested, not just the waste totals.

    Scale shape: one window shuffle on the bucket key; the final
    (bucket, batch_idx) groupBy is a finer key on the SAME partition
    set, so it aggregates locally after the window sort."""
    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    bucket = (F.col("n_chars") / 256).cast("long")
    win = Window.partitionBy("bucket").orderBy("n_chars", "doc_id")
    b = (
        d.withColumn("bucket", bucket)
        .withColumn("rk", F.row_number().over(win))
        .withColumn("batch_idx", ((F.col("rk") - 1) / 32).cast("long"))
    )
    return (
        b.groupBy("bucket", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_chars").alias("max_len"),
            (F.count(F.lit(1)) * F.max("n_chars") - F.sum("n_chars")).alias(
                "padded_waste"
            ),
        )
        .orderBy("bucket", "batch_idx")
    )


@query(
    "q_text_selfinfo",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
    ),
    freq AS (
      SELECT word, COUNT(*) AS c, SUM(COUNT(*)) OVER () AS total
      FROM tok GROUP BY word
    )
    SELECT t.doc_id, COUNT(*) AS n_words,
           ROUND(AVG(-LN(CAST(f.c AS DOUBLE) / f.total)), 4) AS self_info
    FROM tok t JOIN freq f ON t.word = f.word
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def q_text_selfinfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical quality scoring: per-document average
    self-information −ln p(w) under the corpus' own unigram model —
    the zero-dependency gist of LM-perplexity filtering (KenLM-style
    pipelines threshold exactly this quantity; docs of mostly-common
    words score low, rare-token gibberish scores high).  Complements
    the heuristic q_text_quality (length/punct/stopword ratios) with
    the statistical signal.

    Scale shape: token explode → count agg (map-side combine collapses
    hot words per partition) → unigram table joins BACK to the token
    stream (the unigram table is vocab-sized — broadcastable at any
    corpus scale, since vocabulary grows ~log of corpus) → per-doc
    agg.  The scoring model derives from the data in the SAME query —
    two passes over tokens, no side file.  Float discipline: the
    per-doc mean of logs is ROUND(·,4) on BOTH engines (repo rule,
    SURVEY §2.2) so libm ulp differences and summation order cannot
    break the value hash."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    scored = tok.join(freq, "word").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(
                F.avg(-F.log(F.col("c").cast("double") / F.col("total"))), 4
            ).alias("self_info"),
        )
        .orderBy("doc_id")
    )


def nfc_pandas_udf():
    """Arrow-batched Unicode NFC normalization (UAX #15).

    The canonical pre-dedup cleaning step for crawled text: the SAME
    glyph can arrive as U+00E9 or e+U+0301 depending on the producer,
    and every content-hash operator downstream (exact dedup, minhash
    shingles, simhash — see the NFC/NFD property pinned in
    tests/test_text_adversarial.py) treats the two forms as different
    documents unless normalization runs first.  Spark SQL has no NFC
    builtin, so this is one of the sanctioned pandas-UDF cases (numpy/
    stdlib capability the JVM expression language lacks); Python's
    unicodedata and DuckDB's nfc_normalize both implement UAX #15 and
    agree byte-for-byte (verified across accents, Hangul/half-width
    compositions, and multi-mark stacks), which is what lets the full
    UDF path be value-hash-oracled."""
    import pandas as pd
    import unicodedata
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _nfc(texts):
        return texts.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    return _nfc


@query(
    "q_text_nfc",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN nfc_normalize(text) <> text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_denormalized,
           COUNT(DISTINCT md5(nfc_normalize(text))) AS n_unique_nfc
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
)
def q_text_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization audit per language: how many documents
    are not in canonical form, and corpus cardinality AFTER
    normalization (the number exact dedup would actually see).  The
    full Arrow pandas-UDF path — transfer, batch normalize, JVM md5 of
    the result — is value-hash-checked against DuckDB's nfc_normalize.

    Scale: one scan, the UDF is per-batch linear, and only (lang,
    md5) pairs reach the distinct-agg shuffle — document bodies never
    leave their input partition."""
    d = T(spark, sf_dir, "documents")
    nfc = nfc_pandas_udf()
    normd = d.select("lang", "text", nfc(F.col("text")).alias("nfc_text"))
    return (
        normd.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("nfc_text") != F.col("text"), 1).otherwise(0)
            ).alias("n_denormalized"),
            F.countDistinct(F.md5(F.col("nfc_text").cast("binary"))).alias(
                "n_unique_nfc"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q_decontaminate_substring",
    oracle="""
    WITH needles AS (
      SELECT DISTINCT substr(text, 20, 16) AS ndl FROM documents
      WHERE doc_id % 25 = 0 AND length(text) >= 35
    )
    SELECT d.doc_id, COUNT(*) AS n_needles
    FROM documents d JOIN needles ON contains(d.text, needles.ndl)
    WHERE d.doc_id % 25 <> 0
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def q_decontaminate_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-level benchmark decontamination: training documents
    containing a verbatim 16-char span of any benchmark doc (doc_id %
    25 == 0, span at offset 20) as a SUBSTRING — the leak q_decontaminate's
    token-aligned n-grams miss when formatting shifts token boundaries
    (joined/split words, punctuation changes).

    Physical shape: the needle set collapses to ONE row (collect_set)
    and cross-broadcasts onto the train side — the sanctioned 1-row
    scalar-broadcast form (PLAN_AUDIT SCALAR_CROSS_OK) — then each
    task explodes the needle array locally and runs ``contains`` in
    JVM codegen.  (A ``size(filter(needles, n -> contains(text, n)))``
    lambda would avoid the explode, but Catalyst mis-binds the OUTER
    ``text`` reference inside the lambda across the broadcast join —
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, reproduced on 4.1.2 — so the
    explode form is the one that both runs and keeps the same cost:
    |docs| × |needles| codegen rows, no shuffle until the tiny
    (doc_id) agg.)  Right for benchmark-scale needle sets (10²-10⁴);
    a million-needle workload graduates to a rolling-hash equi
    prefilter or Aho-Corasick pass, trading the zero-shuffle train
    side for index build cost."""
    d = T(spark, sf_dir, "documents")
    needles = (
        d.filter((F.col("doc_id") % 25 == 0) & (F.length("text") >= 35))
        .select(F.expr("substring(text, 20, 16)").alias("ndl"))
        .agg(F.collect_set("ndl").alias("needles"))
    )
    train = d.filter(F.col("doc_id") % 25 != 0).select("doc_id", "text")
    return (
        train.crossJoin(F.broadcast(needles))
        .select("doc_id", "text", F.explode("needles").alias("n"))
        .filter(F.expr("contains(text, n)"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_needles"))
        .orderBy("doc_id")
    )


def _profile_block_sql(col: str, minmax: str) -> str:
    """One UNION-ALL block of the profiling oracle; ``minmax`` is a SQL
    expression template receiving the aggregate (MIN/MAX) call."""
    return f"""
    SELECT '{col}' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT({col}) AS n_null,
           COUNT(DISTINCT {col}) AS n_distinct,
           {minmax.format(agg=f"MIN({col})")} AS min_s,
           {minmax.format(agg=f"MAX({col})")} AS max_s
    FROM orders
    """


#: per-type normalization into strings so one result relation profiles
#: heterogeneous columns.  Doubles detour through DECIMAL(18,2) —
#: decimal→string renders identically in Spark and DuckDB, while raw
#: double→string does not (scientific-notation thresholds differ).
_MINMAX = {
    "o_orderkey": "CAST({agg} AS VARCHAR)",
    "o_totalprice": "CAST(CAST({agg} AS DECIMAL(18,2)) AS VARCHAR)",
    "o_orderstatus": "{agg}",
}


@query(
    "q_profile_table",
    oracle=" UNION ALL ".join(
        _profile_block_sql(c, t) for c, t in _MINMAX.items()
    )
    + " ORDER BY col",
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ANALYZE/data-quality sweep): per column —
    row count, null count, exact distinct count, min/max normalized to
    strings.  One scan per column block, each a partial+final agg; at
    100 TB you'd fuse the blocks into one pass with conditional
    aggregates or approx_count_distinct, but the exact per-column form
    is what the oracle can replay bit-for-bit."""
    o = T(spark, sf_dir, "orders")
    blocks = []
    for colname in _MINMAX:
        col = F.col(colname)
        if colname == "o_totalprice":
            mn = F.min(col).cast("decimal(18,2)").cast("string")
            mx = F.max(col).cast("decimal(18,2)").cast("string")
        else:
            mn = F.min(col).cast("string")
            mx = F.max(col).cast("string")
        blocks.append(
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(col)).alias("n_null"),
                F.count_distinct(col).alias("n_distinct"),
                mn.alias("min_s"),
                mx.alias("max_s"),
            ).select(F.lit(colname).alias("col"), "*")
        )
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionByName(b)
    return out.orderBy("col")


@query(
    "q_sample_reservoir",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, n_chars, rk FROM ranked WHERE rk <= 5
    ORDER BY lang, rk
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir sample: k=5 documents per
    language, selected by rank of md5(doc_id) — a uniform-at-random
    draw (the hash is effectively a random permutation) that is
    REPRODUCIBLE across engines and runs, unlike rand()-based
    sampling.  This is how a pipeline pins audit samples: same corpus
    in, same sample out, no seed bookkeeping.

    Scale shape: per-group top-k over a hash ordering — Spark plans
    the rank filter as WindowGroupLimit, pruning to ≤k rows per group
    BEFORE the shuffle, so the exchange carries k·|groups| rows, not
    the corpus."""
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------------
# Data-quality constraint audit
# --------------------------------------------------------------------------

@query(
    "q_validate_constraints",
    oracle="""
    WITH o AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
                  AS BIGINT) AS v_price,
             CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
                  AS BIGINT) AS v_status,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_unique
      FROM orders
    ),
    l AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 0 ELSE 1 END)
                  AS BIGINT) AS v_disc
      FROM lineitem
    ),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v_fk
      FROM lineitem li
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = li.l_orderkey)
    )
    SELECT rule, n_checked, n_violations
    FROM (
      SELECT 'lineitem_discount_in_range' AS rule, l.n AS n_checked, l.v_disc AS n_violations FROM l
      UNION ALL
      SELECT 'lineitem_fk_orders', l.n, fk.v_fk FROM l, fk
      UNION ALL
      SELECT 'orders_orderkey_unique', o.n, o.v_unique FROM o
      UNION ALL
      SELECT 'orders_status_domain', o.n, o.v_status FROM o
      UNION ALL
      SELECT 'orders_totalprice_positive', o.n, o.v_price FROM o
    )
    ORDER BY rule
    """,
)
def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit (dbt-test / Great-Expectations shape): range,
    domain, and uniqueness rules as one conditional-aggregation scan
    per table, FK integrity as one left-anti join, unpivoted via
    ``stack`` into a (rule, n_checked, n_violations) report.  NULL
    predicate results count as violations on both engines (CASE WHEN
    pred THEN 0 ELSE 1).  Cost = one scan per audited table.

    Scale: each rule family is ONE map-side-combined conditional-agg scan
    per table (violations are counted in the scan that reads the table,
    so the audit costs what a COUNT(*) costs); the FK anti-join
    broadcasts the key side when bounded or falls back to the SMJ
    Catalyst picks."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")

    viol = lambda pred: F.sum(F.when(pred, 0).otherwise(1))  # noqa: E731
    o_agg = o.agg(
        F.count(F.lit(1)).alias("o_rows"),
        viol(F.col("o_totalprice") > 0).alias("v_price"),
        viol(F.col("o_orderstatus").isin("O", "F", "P")).alias("v_status"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_unique"),
    )
    l_agg = li.agg(
        F.count(F.lit(1)).alias("l_rows"),
        viol(F.col("l_discount").between(0, 1)).alias("v_disc"),
    )
    fk_agg = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("v_fk"))
    )
    row = o_agg.crossJoin(l_agg).crossJoin(fk_agg)
    return row.selectExpr(
        """stack(5,
            'lineitem_discount_in_range', l_rows, v_disc,
            'lineitem_fk_orders',         l_rows, v_fk,
            'orders_orderkey_unique',     o_rows, v_unique,
            'orders_status_domain',       o_rows, v_status,
            'orders_totalprice_positive', o_rows, v_price
        ) AS (rule, n_checked, n_violations)"""
    ).orderBy("rule")


# --------------------------------------------------------------------------
# Weighted systematic (PPS) sampling
# --------------------------------------------------------------------------

#: one pick per $10M of cumulative order value (integer cents)
_PPS_STEP = 1_000_000_000


@query(
    "q_sample_systematic",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority, w, cum
    FROM (
      SELECT o_orderkey, o_orderpriority, w,
             CAST(SUM(w) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM (SELECT o_orderkey, o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS w
            FROM orders)
    )
    WHERE cum // {_PPS_STEP} > (cum - w) // {_PPS_STEP}
    ORDER BY o_orderkey
    """,
)
def q_sample_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted systematic (probability-proportional-to-size) sample:
    within each priority class, walk orders in key order accumulating
    integer-cent weights and pick every row whose cumulative weight
    crosses a $10M boundary — heavier orders are proportionally more
    likely to straddle a boundary, the PPS property.  All arithmetic
    is integer (FLOOR(x*100 + 0.5) — the repo's cents discipline: the
    +0.5 corrects double representation error like 0.29*100→28.999…,
    and FLOOR before the cast pins the one engine divergence:
    DuckDB's double→BIGINT cast rounds, Spark's truncates), so the
    selected set is hash-attested.  The prefix sum is windowed per
    priority key — bounded partitions, no global sort; an
    unpartitioned 100 TB stream would range-partition and add
    per-range offsets (two passes, same arithmetic)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    weighted = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("w"),
    ).withColumn("cum", F.sum("w").over(w))
    return (
        weighted.filter(F.expr(f"cum DIV {_PPS_STEP} > (cum - w) DIV {_PPS_STEP}"))
        .select("o_orderkey", "o_orderpriority", "w", "cum")
        .orderBy("o_orderkey")
    )


# ------------------------------------------------------------------
# Temperature-scaled source mixture (multilingual data balancing)
# ------------------------------------------------------------------

_MIX_B = 1 << 20


_MIX_ORACLE = f"""
WITH census AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents
  GROUP BY source),
thr AS (
  SELECT source, n_total,
         CAST(FLOOR(SQRT(CAST((SELECT MIN(n_total) FROM census) AS DOUBLE)
                         / n_total) * {_MIX_B}) AS BIGINT) AS threshold
  FROM census),
kept AS (
  SELECT d.source, d.doc_id, d.n_chars, t.n_total, t.threshold
  FROM documents d JOIN thr t USING (source)
  WHERE ((d.doc_id % {_MIX_B}) * {KNUTH}) % {_MIX_B} < t.threshold)
SELECT thr.source, thr.n_total, thr.threshold,
       CAST(COUNT(kept.doc_id) AS BIGINT) AS n_kept,
       CAST(COALESCE(SUM(kept.n_chars), 0) AS BIGINT) AS kept_chars
FROM thr LEFT JOIN kept ON kept.source = thr.source
GROUP BY thr.source, thr.n_total, thr.threshold
ORDER BY thr.source
"""


@query("q_mix_temperature", oracle=_MIX_ORACLE)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (α = 0.5) — the multilingual /
    multi-source balancing recipe (sample source s with probability ∝
    N_s^α, i.e. keep-rate q_s = sqrt(N_min/N_s): the smallest source
    is kept whole, large sources are downsampled toward the temperature
    mixture; effective masses become ∝ sqrt(N_s)).  Keep decisions are
    a pure function of doc_id (Knuth multiplicative hash vs an integer
    threshold pinned by FLOOR(q_s·2^20)), so the EXACT kept set — not
    just expected rates — is hash-attested, the q_sample_rebalance
    discipline with DATA-DERIVED rates instead of config constants.

    Scale: one census agg (4 groups), thresholds broadcast back on the
    source key, keep test is a map-only integer compare.  The report
    aggregates per source so the check covers every kept row."""
    d = T(spark, sf_dir, "documents")
    census = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    thr = census.withColumn(
        "threshold",
        F.expr(
            f"CAST(FLOOR(SQRT(CAST(MIN(n_total) OVER () AS DOUBLE) / n_total)"
            f" * {_MIX_B}) AS BIGINT)"
        ),
    )
    kept = (
        d.join(F.broadcast(thr), "source")
        .where(
            # doc_id is reduced mod 2^20 BEFORE the Knuth multiply
            # (congruent result mod 2^20) so the product stays below
            # 2^52 — a raw doc_id*2654435761 overflows int64 past
            # ~3.5e9 ids, where DuckDB raises and Spark wraps (ADVICE r8)
            F.expr(f"((doc_id % {_MIX_B}) * {KNUTH}) % {_MIX_B}")
            < F.col("threshold")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
    )
    return (
        thr.join(kept, "source", "left")
        .fillna({"n_kept": 0, "kept_chars": 0})
        .select("source", "n_total", "threshold", "n_kept", "kept_chars")
        .orderBy("source")
    )


# ------------------------------------------------------------------
# Composite quality filter (Gopher/C4-style rule ensemble)
# ------------------------------------------------------------------

_QUALITY_ORACLE = """
WITH tok AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
per_word AS (
  SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY doc_id, word),
sig AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c * STRLEN(word)) AS BIGINT) AS n_letters,
         CAST(MAX(c) AS BIGINT) AS top_freq
  FROM per_word GROUP BY doc_id),
scored AS (
  SELECT doc_id, n_words,
         n_distinct * 1000000 // n_words AS distinct_ppm,
         top_freq * 1000000 // n_words AS top_share_ppm,
         n_letters * 1000 // n_words AS mean_word_len_milli
  FROM sig)
SELECT doc_id, n_words, distinct_ppm, top_share_ppm, mean_word_len_milli,
       CAST(n_words >= 30 AND distinct_ppm >= 100000
            AND top_share_ppm <= 300000
            AND mean_word_len_milli BETWEEN 2000 AND 12000 AS INT) AS keep
FROM scored ORDER BY doc_id
"""


@query("q_quality_composite", oracle=_QUALITY_ORACLE)
def q_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality filter — the Gopher/C4-style rule
    ensemble as ONE keep/drop verdict per document: minimum length,
    type-token (distinct-word) ratio, hottest-word share, and mean
    word length, every signal an exact integer (ppm / milli by
    integer division) so both the scorecard and the verdict bit are
    hash-attested.  This is the decision layer the individual signal
    queries (q_text_quality, q_text_repetition, q_text_bigram_lm)
    feed in a production filter chain.

    Scale: one tokenize + two map-side-combined aggregations keyed by
    doc — no joins, no windows, no Python."""
    d = T(spark, sf_dir, "documents")
    per_word = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sig = per_word.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.length("word")).cast("long").alias("n_letters"),
        F.max("c").cast("long").alias("top_freq"),
    )
    scored = sig.select(
        "doc_id",
        "n_words",
        F.expr("n_distinct * 1000000 DIV n_words").alias("distinct_ppm"),
        F.expr("top_freq * 1000000 DIV n_words").alias("top_share_ppm"),
        F.expr("n_letters * 1000 DIV n_words").alias("mean_word_len_milli"),
    )
    return scored.select(
        "*",
        F.expr(
            "CAST(n_words >= 30 AND distinct_ppm >= 100000"
            " AND top_share_ppm <= 300000"
            " AND mean_word_len_milli BETWEEN 2000 AND 12000 AS INT)"
        ).alias("keep"),
    ).orderBy("doc_id")


# ------------------------------------------------------------------
# Source-mixture entropy (floor-log2 half-bit surprisal)
# ------------------------------------------------------------------

_ENT_ORACLE = f"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
s AS (
  SELECT c.source, c.n_docs, t.total,
         2 * (({blen_ladder('t.total')}) - ({blen_ladder('c.n_docs')})) + 1
           AS surprisal_halfbits
  FROM c, t)
SELECT source, n_docs, total, CAST(surprisal_halfbits AS BIGINT)
         AS surprisal_halfbits,
       CAST(n_docs * surprisal_halfbits AS BIGINT) AS cost_halfbits
FROM s ORDER BY source
"""


@query("q_mix_entropy", oracle=_ENT_ORACLE)
def q_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture entropy census: each source's quantized
    surprisal −log₂(n/N) as the integer half-bit cost
    2·(blen(N) − blen(n)) + 1 (the q_text_bigram_lm discipline) and
    its n·surprisal contribution — Σcost/N is the mixture entropy a
    data-mix monitor alarms on when one source starts dominating
    (entropy → 0) after a bad refresh.  Exact int64 end-to-end; the
    bit-length is a CASE ladder, not an interpreted HOF.

    Scale: one map-side-combined source census (≤ dozens of groups),
    then per-group scalar algebra against the 1-row total."""
    d = T(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    t = c.agg(F.sum("n_docs").cast("long").alias("total"))
    s = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "total",
        F.expr(
            f"CAST(2 * (({blen_ladder('total')}) - ({blen_ladder('n_docs')}))"
            " + 1 AS BIGINT)"
        ).alias("surprisal_halfbits"),
    )
    return s.select(
        "source",
        "n_docs",
        "total",
        "surprisal_halfbits",
        (F.col("n_docs") * F.col("surprisal_halfbits"))
        .cast("long")
        .alias("cost_halfbits"),
    ).orderBy("source")


# ------------------------------------------------------------------
# Target-mixture upsample plan (pinned target weights)
# ------------------------------------------------------------------

#: pinned target mixture in ppm (sums to 1,000,000) — the plan every
#: LLM-data run starts from; sources absent from the corpus get no row
#: (they cannot be sampled into existence), extra corpus sources get
#: target 0.
_MIX_TARGETS = {
    "src0": 300000,
    "src1": 200000,
    "src2": 150000,
    "src3": 100000,
    "src4": 100000,
    "src5": 50000,
    "src6": 50000,
    "src7": 50000,
}


_MIX_CASES = " ".join(
    f"WHEN source = '{s}' THEN {t}" for s, t in sorted(_MIX_TARGETS.items())
)


_PLAN_ORACLE = f"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
p AS (
  SELECT c.source, c.n_docs, t.total,
         CAST(CASE {_MIX_CASES} ELSE 0 END AS BIGINT) AS target_ppm
  FROM c, t)
SELECT source, n_docs, target_ppm,
       CAST(target_ppm * total // n_docs AS BIGINT) AS factor_ppm,
       CASE WHEN target_ppm * total > 1000000 * n_docs THEN 1 ELSE 0 END
         AS needs_upsample
FROM p ORDER BY source
"""


@query("q_mix_upsample_plan", oracle=_PLAN_ORACLE)
def q_mix_upsample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-factor plan to hit a pinned target source mixture:
    factor = target_share·N / nᵢ (in ppm — 1,000,000 = keep as is,
    less = downsample, more = repeat/upsample), with the
    needs_upsample flag as an exact cross-multiplied comparison.
    This is the PLANNING census a mixture run consults before
    q_mix_temperature/q_mix_sources executes it; the epoch bound is
    max factor over the must-not-repeat sources.

    Scale: one source census (≤ dozens of groups) against the 1-row
    corpus total — map-side combined, scalar algebra after."""
    d = T(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    t = c.agg(F.sum("n_docs").cast("long").alias("total"))
    p = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.expr(f"CAST(CASE {_MIX_CASES} ELSE 0 END AS BIGINT)").alias(
            "target_ppm"
        ),
        "total",
    )
    return p.select(
        "source",
        "n_docs",
        "target_ppm",
        F.expr("CAST(target_ppm * total DIV n_docs AS BIGINT)").alias(
            "factor_ppm"
        ),
        F.when(
            F.col("target_ppm") * F.col("total")
            > 1000000 * F.col("n_docs"),
            1,
        )
        .otherwise(0)
        .alias("needs_upsample"),
    ).orderBy("source")


# ------------------------------------------------------------------
# Referential-integrity audit across the star schema
# ------------------------------------------------------------------

_FK_ORACLE = """
SELECT * FROM (
  SELECT 'orders.o_custkey->customer' AS fk,
         CAST((SELECT COUNT(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey))
              AS BIGINT) AS orphan_rows,
         CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey))
              AS BIGINT) AS dangling_keys
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders',
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
              AS BIGINT),
         CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
              AS BIGINT)
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p
                                 WHERE p.p_partkey = l.l_partkey))
              AS BIGINT),
         CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p
                                 WHERE p.p_partkey = l.l_partkey))
              AS BIGINT)
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                 WHERE s.s_suppkey = l.l_suppkey))
              AS BIGINT),
         CAST((SELECT COUNT(DISTINCT l_suppkey) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                 WHERE s.s_suppkey = l.l_suppkey))
              AS BIGINT)
) ORDER BY fk
"""


@query("q_validate_fk", oracle=_FK_ORACLE)
def q_validate_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned-row and dangling-key
    counts for the star schema's four foreign keys, via LEFT ANTI
    joins — the data-quality gate a warehouse runs after every load
    (q_validate_constraints checks per-column invariants; this checks
    the RELATIONSHIPS).  Zeros everywhere on the generator's
    consistent data; the query's value is the shape.

    Scale: each relationship is one anti-join where the dimension
    side broadcasts (customer/part/supplier) or shuffles on the
    already-co-partitioned key (orders→lineitem); counts are exact."""
    def audit(fact, fk_col, dim, pk_col, label):
        orphans = fact.join(
            dim.select(F.col(pk_col).alias(fk_col)), fk_col, "left_anti"
        )
        return orphans.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).cast("long").alias("orphan_rows"),
            F.countDistinct(fk_col).cast("long").alias("dangling_keys"),
        ).select("fk", "orphan_rows", "dangling_keys")

    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    parts = [
        audit(o, "o_custkey", T(spark, sf_dir, "customer"), "c_custkey",
              "orders.o_custkey->customer"),
        audit(li, "l_orderkey", o, "o_orderkey",
              "lineitem.l_orderkey->orders"),
        audit(li, "l_partkey", T(spark, sf_dir, "part"), "p_partkey",
              "lineitem.l_partkey->part"),
        audit(li, "l_suppkey", T(spark, sf_dir, "supplier"), "s_suppkey",
              "lineitem.l_suppkey->supplier"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("fk")
