"""Scalar function families: string / date-time / math / array / JSON.

One composite query per family (SURVEY.md §2.2 "Scalar functions").
Cross-engine semantics verified or aligned explicitly:

- DuckDB regexp_replace replaces FIRST match unless the 'g' flag is
  given; Spark replaces all → oracle uses 'g'.
- Spark ``dayofweek`` is Sunday=1; DuckDB ``dayofweek`` is Sunday=0.
  We emit ISO day-of-week instead: Spark ``weekday()+1`` ≡ DuckDB
  ``isodow`` (Monday=1).
- Spark ``ceil/floor`` on double returns LONG; DuckDB returns DOUBLE →
  cast Spark side.
- Spark ``date_add`` returns DATE; oracle casts its timestamp+interval
  to DATE, and both sides stringify for a type-stable comparison.
- ln / pow are libm calls not guaranteed correctly-rounded — last-ulp
  divergence is possible, so those two columns are rounded to 6
  decimals on both sides (cliff probability ~1e-9/row, negligible —
  unlike the exactly-representable money columns, never round those).
- Integer-returning scalar functions are BIGINT in DuckDB → Spark ints
  cast to long.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parity import o_dsum
from ..registry import query
from ..sources.tables import table as T


@query(
    "q_scalar_string",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           SUBSTRING(p_name, 1, 8) AS name_prefix,
           CONCAT_WS('/', p_brand, p_type) AS brand_type,
           TRIM(p_type) AS type_trim,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           CAST(LEN(STRING_SPLIT(p_type, ' ')) AS BIGINT) AS type_tokens,
           REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_word,
           REGEXP_REPLACE(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part
    """,
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/lower/substring/concat_ws/trim/length/
    split/regexp_extract/regexp_replace."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.col("p_type")).alias("type_trim"),
        F.length("p_name").cast("long").alias("name_len"),
        F.size(F.split("p_type", " ")).cast("long").alias("type_tokens"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


@query(
    "q_scalar_date",
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
           CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
           CAST(ISODOW(o_orderdate) AS BIGINT) AS order_isodow,
           CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since_95,
           CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR)
             AS due_date
    FROM orders
    """,
)
def q_scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: year/month/iso-dow/datediff/date_add."""
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        (F.weekday("o_orderdate") + 1).cast("long").alias("order_isodow"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_95"),
        F.date_add(F.col("o_orderdate"), 30).cast("string").alias("due_date"),
    )


@query(
    "q_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 50000) AS abs_centered,
           CEIL(l_extendedprice) AS price_ceil,
           FLOOR(l_extendedprice) AS price_floor,
           SQRT(l_extendedprice) AS price_sqrt,
           ROUND(LN(l_extendedprice + 1), 6) AS price_ln,
           ROUND(POW(l_quantity, 1.5), 6) AS qty_pow,
           l_partkey % 7 AS partkey_mod
    FROM lineitem
    """,
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family.  sqrt/abs are IEEE-exact; ln/pow go through libm
    (JVM vs C) so they are rounded to 6 decimals on both sides."""
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 50000).alias("abs_centered"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(1.5)), 6).alias("qty_pow"),
        F.expr("l_partkey % 7").alias("partkey_mod"),
    )


@query(
    "q_scalar_array",
    oracle="""
    SELECT vec_id, label,
           CAST(LEN(embedding) AS BIGINT) AS dim,
           ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           LIST_SORT(embedding)[3] AS third_smallest,
           LIST_CONTAINS(embedding, 0.0) AS has_zero
    FROM embeddings
    """,
)
def q_scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over the embedding column: size, higher-order
    aggregate (L2 norm via fold), sort+index, contains.  The norm is
    rounded to 6 decimals on BOTH sides: the driver's value-hash has no
    tolerance channel, and DuckDB's list_sum fold association is an
    implementation detail that can differ from Spark's left fold by an
    ulp."""
    e = T(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(
            F.sqrt(
                F.expr(
                    "aggregate(embedding, CAST(0 AS DOUBLE),"
                    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
                )
            ),
            6,
        ).alias("l2_norm"),
        F.element_at(F.sort_array("embedding"), 3).alias("third_smallest"),
        F.array_contains("embedding", 0.0).alias("has_zero"),
    )


@query(
    "q_scalar_json",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           {sk},
           CAST(SUM(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(json_extract_string(props, '$.k')) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """.format(sk=o_dsum("CAST(json_extract_string(props, '$.k') AS BIGINT)", "sum_k")),
)
def q_scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: extract ``$.k`` from the props JSON string and
    aggregate per event type."""
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("k").cast("decimal(18,6)")).cast("double").alias("sum_k"),
            (
                F.sum(F.col("k").cast("decimal(18,6)")).cast("double") / F.count("k")
            ).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q_scalar_collation",
    oracle="""
    SELECT lower(c_mktsegment) AS segment, COUNT(*) AS n,
           {bal}
    FROM customer
    WHERE lower(c_mktsegment) IN ('building', 'machinery', 'household')
    GROUP BY segment ORDER BY segment
    """.format(bal=o_dsum("c_acctbal", "sum_acctbal")),
)
def q_scalar_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 string COLLATION surface: predicates and grouping under
    UTF8_LCASE semantics — case-insensitive comparison WITHOUT
    rewriting every expression through lower() (the collation is a
    property of the column; Catalyst folds it into the comparison,
    and at scale the optimizer can still prune/push since the
    collation is declared, not hidden inside a function).  The filter
    matches the table's uppercase segments against mixed-case
    literals; output keys are lower()-projected so the result is
    deterministic and the DuckDB oracle (which has no collation
    support) expresses the same semantics with explicit lower()."""
    c = T(spark, sf_dir, "customer")
    seg = F.expr("collate(c_mktsegment, 'UTF8_LCASE')")
    return (
        c.select(seg.alias("seg"), "c_acctbal")
        .filter(F.col("seg").isin("building", "MACHINERY", "Household"))
        .groupBy(F.lower("seg").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("string").cast("double").alias("sum_acctbal"),
        )
        .orderBy("segment")
    )


@query(
    "q_scalar_variant",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_scalar_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT surface (Spark 4): parse the events
    ``props`` JSON into the binary VARIANT type once, then extract
    typed paths with variant_get — the open-schema ingestion pattern
    (store first, type at query time) that replaces brittle
    get_json_object string re-parsing.  VARIANT keeps a parsed binary
    form, so repeated path extraction does not re-tokenize the JSON —
    at 100 TB the parse happens once per row, not once per accessed
    field.  Oracle extracts the same path with DuckDB's JSON reader."""
    e = T(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------
# URL canonicalization census
# ------------------------------------------------------------------

#: deterministic synthetic URL per document (the corpus carries no
#: URL column): scheme and tracking query vary by doc_id so the
#: normalization has real work to do.
_URL_EXPR_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END"
    " || '://WWW.' || source || '.Example.COM/' || lang"
    " || '/doc-' || CAST(doc_id AS VARCHAR)"
    " || CASE WHEN doc_id % 2 = 0"
    "    THEN '?utm_source=feed&session=' || CAST(doc_id AS VARCHAR)"
    "    ELSE '' END"
)


_URL_EXPR_SPARK = (
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END"
    " || '://WWW.' || source || '.Example.COM/' || lang"
    " || '/doc-' || CAST(doc_id AS STRING)"
    " || CASE WHEN doc_id % 2 = 0"
    "    THEN '?utm_source=feed&session=' || CAST(doc_id AS STRING)"
    "    ELSE '' END"
)


#: regexp parsing shared by both engines: scheme, host, path, query
_URL_HOST_RE = "^[a-zA-Z]+://([^/?]+)"


_URL_PATH_RE = "^[a-zA-Z]+://[^/?]+(/[^?]*)"


_URL_ORACLE = f"""
WITH u AS (
  SELECT doc_id, {_URL_EXPR_SQL} AS url FROM documents),
parsed AS (
  SELECT doc_id,
         lower(regexp_extract(url, '{_URL_HOST_RE}', 1)) AS host,
         regexp_extract(url, '{_URL_PATH_RE}', 1) AS path,
         CASE WHEN url LIKE '%?%' THEN 1 ELSE 0 END AS had_query
  FROM u),
canon AS (
  SELECT CASE WHEN host LIKE 'www.%' THEN substr(host, 5) ELSE host END
           AS chost,
         had_query
  FROM parsed)
SELECT chost AS host,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(had_query) AS BIGINT) AS n_with_query
FROM canon GROUP BY 1 ORDER BY 1
"""


@query("q_scalar_url", oracle=_URL_ORACLE)
def q_scalar_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization census — the normalization every
    web-crawl dedup runs before hashing keys: lowercase the host,
    strip the www. prefix, detect (and in the canonical key, drop)
    tracking query strings.  Parsing is shared REGEXP on both engines
    (Spark's parse_url has no DuckDB twin — the portable-idiom rule
    that picked md5-prefix over murmur3); URLs are synthesized
    deterministically from document columns, mixed-case and
    tracking-parameter pollution included.

    Scale: map-only string expressions into a host-bounded census —
    no shuffle wider than the host domain."""
    d = T(spark, sf_dir, "documents")
    u = d.select("doc_id", F.expr(_URL_EXPR_SPARK).alias("url"))
    parsed = u.select(
        F.expr(f"lower(regexp_extract(url, '{_URL_HOST_RE}', 1))").alias(
            "host"
        ),
        F.expr(
            "CASE WHEN url LIKE '%?%' THEN 1 ELSE 0 END"
        ).alias("had_query"),
    )
    canon = parsed.select(
        F.expr(
            "CASE WHEN host LIKE 'www.%' THEN substr(host, 5) ELSE host END"
        ).alias("host"),
        "had_query",
    )
    return (
        canon.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.sum("had_query").cast("long").alias("n_with_query"),
        )
        .orderBy("host")
    )


@query(
    "q_scalar_posexplode",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE doc_id % 100 = 0
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS word
    FROM toks,
         LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) u
    ORDER BY doc_id, pos
    """,
)
def q_scalar_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (ordinality-preserving expansion): token position is
    part of the output — what plain explode (and the wordcount UDTF)
    discards, and what sequence/attention features need.  Generator
    projection, no shuffle."""
    d = T(spark, sf_dir, "documents").filter(F.expr("doc_id % 100 = 0"))
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "word"),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "word")
        .orderBy("doc_id", "pos")
    )
