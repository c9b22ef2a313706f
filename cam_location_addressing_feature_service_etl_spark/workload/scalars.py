"""Scalar-function operators — SURVEY.md §2.8 (F1-F11).

Reference semantics reproduced (file:line into /root/reference):

- F1 synthetic CONCAT keys      pls/queries/address.py:311,314,328; road.py:77
- F2 UCASE                      pls/queries/road.py:77
- F3 IF/COALESCE rewrite        pls/queries/parcel.py:57-68 (lot_no "0"→"9999")
- F4 constant BIND              pls/queries/road.py:118
- F5 vocab notation lookup      pls/queries/address.py:187-204; geocode.py:45-62
- F6 URI→code normalization w/ initialism fallback   geocode.py:123-145
- F7 numeric→string casts       geocode.py:212-218
- F8/F9/F10 timezone/epoch-ms/formatting             time_convert.py:6-19
- F11 prefix ops                s3.py:41; geocode.py:135-139,225-228

All are built-in column expressions — zero UDFs, so every one stays
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_tuned
from . import register


@register(
    "f1_f2_synthetic_keys",
    oracle="""
SELECT CAST(p_partkey AS VARCHAR) || '/' || UPPER(p_brand) || '/'
         || UPPER(p_type) AS road_key,
       'P' AS road_cat_desc,
       p_partkey
FROM part
""",
)
def f1_f2_synthetic_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2+F4: CONCAT(STR(k),'/',code,'/',UCASE(name)) synthetic key
    plus a constant BIND column."""
    (part,) = load_tuned(spark, sf_dir, "part")
    return part.select(
        F.concat_ws(
            "/", F.col("p_partkey").cast("string"), F.upper("p_brand"), F.upper("p_type")
        ).alias("road_key"),
        F.lit("P").alias("road_cat_desc"),
        "p_partkey",
    )


@register(
    "f3_conditional_rewrite",
    oracle="""
SELECT p_partkey,
       CASE WHEN p_size = 1 THEN '9999' ELSE CAST(p_size AS VARCHAR) END AS lot_no
FROM part
""",
)
def f3_conditional_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: the reference's COALESCE(IF(cond,'9999',1/0), x) error-as-null
    trick is just when/otherwise in Spark."""
    (part,) = load_tuned(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.when(F.col("p_size") == 1, F.lit("9999"))
        .otherwise(F.col("p_size").cast("string"))
        .alias("lot_no"),
    )


_PRIORITY_VOCAB = [
    ("1-URGENT", "U"),
    ("2-HIGH", "H"),
    ("3-MEDIUM", "M"),
    ("4-NOT SPECIFIED", "N"),
    ("5-LOW", "L"),
]


@register(
    "f5_vocab_lookup",
    oracle=f"""
SELECT o.o_orderkey, v.code AS priority_code
FROM orders o
JOIN (VALUES {", ".join(f"('{k}', '{v}')" for k, v in _PRIORITY_VOCAB)}) v(pri, code)
  ON v.pri = o.o_orderpriority
""",
)
def f5_vocab_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: concept-IRI → legacy code via a broadcast vocab DataFrame
    (the reference ships skos:notation lookups to the triplestore)."""
    (orders,) = load_tuned(spark, sf_dir, "orders")
    vocab = spark.createDataFrame(_PRIORITY_VOCAB, "o_orderpriority string, priority_code string")
    return orders.join(F.broadcast(vocab), "o_orderpriority", "inner").select(
        "o_orderkey", "priority_code"
    )


_KNOWN_TYPE_CODES = {
    "economy-anodized-steel": "EAST",
    "standard-polished-tin": "SPT",
}


@register(
    "f6_normalize_initialism",
    oracle=f"""
WITH base AS (
  SELECT p_partkey,
         'https://example.com/geocode-types/'
           || REPLACE(LOWER(p_type), ' ', '-') AS iri,
         REPLACE(LOWER(p_type), ' ', '-')      AS slug
  FROM part
)
SELECT p_partkey,
       CASE
         WHEN slug = 'economy-anodized-steel' THEN 'EAST'
         WHEN slug = 'standard-polished-tin' THEN 'SPT'
         ELSE SUBSTRING(UPPER(array_to_string(
                list_transform(string_split(slug, '-'), w -> SUBSTRING(w, 1, 1)), '')), 1, 4)
       END AS type_code
FROM base
""",
)
def f6_normalize_initialism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: geocode-type URI → ≤4-char code; known codes from a dict,
    unknown slugs fall back to word-initial letters (geocode.py:123-145)."""
    (part,) = load_tuned(spark, sf_dir, "part")
    slug = F.replace(F.lower(F.col("p_type")), F.lit(" "), F.lit("-"))
    initials = F.substring(
        F.upper(F.array_join(F.transform(F.split(slug, "-"), lambda w: F.substring(w, 1, 1)), "")),
        1,
        4,
    )
    code = initials
    for known_slug, known_code in reversed(_KNOWN_TYPE_CODES.items()):
        code = F.when(slug == known_slug, F.lit(known_code)).otherwise(code)
    return part.select("p_partkey", code.alias("type_code"))


@register(
    "f7_string_casts",
    oracle="""
SELECT CAST(o_orderkey AS VARCHAR) AS objectid,
       CAST(o_custkey AS VARCHAR) AS address_pid
FROM orders
""",
)
def f7_string_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: ESRI numeric attributes normalized to strings."""
    (orders,) = load_tuned(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").cast("string").alias("objectid"),
        F.col("o_custkey").cast("string").alias("address_pid"),
    )


@register(
    "f8_f9_f10_time_suite",
    oracle="""
SELECT event_id,
       CAST(epoch_ms(ts) AS BIGINT)                                   AS epoch_millis,
       STRFTIME(ts, '%Y-%m-%dT%H:%M:%S+0000')                         AS iso_utc,
       STRFTIME(ts + INTERVAL 10 HOUR, '%Y-%m-%dT%H:%M:%S+1000')      AS iso_brisbane,
       STRFTIME(ts, '%Y-%m-%d %H:%M:%S')                              AS esri_ts
FROM events
""",
)
def f8_f9_f10_time_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 UTC→Australia/Brisbane (+10:00, no DST), F9 epoch-ms round trip,
    F10 the reference's three output formats (time_convert.py:6-19,
    main_pls.py:82-83)."""
    (events,) = load_tuned(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.unix_millis("ts").alias("epoch_millis"),
        F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("+0000")).alias("iso_utc"),
        F.concat(
            F.date_format(F.from_utc_timestamp("ts", "Australia/Brisbane"), "yyyy-MM-dd'T'HH:mm:ss"),
            F.lit("+1000"),
        ).alias("iso_brisbane"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("esri_ts"),
    )


@register(
    "f11_prefix_ops",
    oracle="""
SELECT doc_id,
       CAST(regexp_replace(source, '^src', '') AS BIGINT) AS src_num,
       source || '/query' AS query_url
FROM documents WHERE source LIKE 'src1%'
""",
)
def f11_prefix_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: startswith filter + removeprefix/removesuffix reshaping."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return documents.filter(F.col("source").startswith("src1")).select(
        "doc_id",
        F.regexp_replace("source", "^src", "").cast("long").alias("src_num"),
        F.concat(F.col("source"), F.lit("/query")).alias("query_url"),
    )


@register(
    "f_json_extract_props",
    oracle="""
SELECT event_id, CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS prop_k
FROM events
""",
)
def f_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction (the reference parses nested
    JSON in Python at ingest; Spark keeps it columnar)."""
    (events,) = load_tuned(spark, sf_dir, "events")
    return events.select(
        "event_id", F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("prop_k")
    )
