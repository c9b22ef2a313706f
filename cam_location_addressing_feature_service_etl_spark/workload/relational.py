"""Relational operators from SURVEY.md §2 (P/J/A/D/O/U/M families),
each expressed over the driver's TPC-H-ish testdata with a DuckDB
oracle proving identical semantics.

Reference semantics being reproduced (file:line into /root/reference):

- P4  anti-join lifecycle/privacy filter    pls/queries/address.py:41-44,91-96
- P5  incremental predicate pushdown        geocode.py:190-202
- P8  debug subsetting via VALUES           pls/queries/address.py:23-29
- J1  graph-pattern multiway equi-join      pls/queries/address.py:49-89
- J2  OPTIONAL pattern = left outer join    pls/queries/address.py:193-281
- J3  VALUES key-batch semi-join            pls/queries/address.py:137-153
- J5  left-join-find-unmapped               id_map.py:61
- J6  anti-join prune                       pls/tables.py:817-830,895-908
- J7  NOT IN (UNION) new-key detection      id_map.py:36-45
- J8  update-join (correlated subquery)     pls/tables.py:856-882
- J9  dict-lookup join with miss-skipping   pls/tables.py:764-814
- J10 cache merge, fetched-wins             geocode.py:362-388
- A1  grouped-MAX latest-version-per-key    pls/queries/address.py:31-47
- A2/A4 predicate counts / rowcount deltas  esri_rest_api.py:83-113; pls/tables.py:829
- D1/D2 distinct & first-wins dedup         pls/queries/address.py:21; pls/tables.py:421-446
- O1/O2 top-1 latest snapshot / LIMIT guard s3.py:37-46; geocode.py:60
- U1/U2 union-distinct / carry-forward      id_map.py:40-44; main_pls.py:121-186
- M1/M2 upsert, upsert-with-column-reset    address_iri_pid_map.py:121-137; geocode.py:231-270
- M3  stable dense surrogate ids            id_map.py:8-84
- F12 CHECK-constraint validation           pls/tables.py:70-79

Scale notes: all small dimension sides are explicitly ``broadcast()``;
grouped-max is a partial-aggregatable ``max`` (map-side combine);
window-based latest-row shuffles once on the partition key; the
surrogate-id assignment (``assign_surrogate_ids_bulk``, here over one
table) range-sorts the (small) new-keys set once, reads its
per-partition counts and the carried max(id) on the driver in one
read, and numbers every new key in one narrow projection — dense and
stable, with no single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import tune
from ..tables import load, load_tuned
from ..operators.upsert import upsert_by_key, upsert_with_reset
from ..operators.dedup import dedup_first_wins, merge_fetched_wins
from ..operators.id_map import assign_surrogate_ids_bulk
from ..operators.topk import ASC as TOPK_ASC, DESC as TOPK_DESC, global_topk_ranked, rank_small_frame
from . import register
from ..runtime import materialize


# ---------------------------------------------------------------------------
# Flagship: "current, non-private address selection" — the reference's core
# semantic (A1 grouped latest + P4 anti-join exclusion + J1 multiway join +
# F1/F2 synthetic concat keys), per SURVEY.md §7 phase 0.
# ---------------------------------------------------------------------------

@register(
    "flagship_current_address",
    oracle="""
WITH latest AS (
  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
),
excl AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
SELECT CAST(l.o_custkey AS VARCHAR) || '/' || UPPER(n.n_name) || '/'
         || CAST(l.o_orderkey AS VARCHAR)        AS addr_key,
       c.c_name                                   AS cust_name,
       UPPER(n.n_name)                            AS nation_name,
       STRFTIME(l.o_orderdate, '%Y-%m-%d')        AS latest_order_date,
       ROUND(l.o_totalprice, 2)                   AS latest_total
FROM latest l
JOIN customer c ON c.c_custkey = l.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.rn = 1
  AND NOT EXISTS (SELECT 1 FROM excl e WHERE e.o_custkey = l.o_custkey)
""",
)
def flagship_current_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation = load_tuned(spark, sf_dir, "orders", "customer", "nation")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    latest = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    excl = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey").distinct()
    return (
        latest.join(excl, "o_custkey", "left_anti")
        .join(customer, latest["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select(
            F.concat_ws(
                "/",
                F.col("o_custkey").cast("string"),
                F.upper("n_name"),
                F.col("o_orderkey").cast("string"),
            ).alias("addr_key"),
            F.col("c_name").alias("cust_name"),
            F.upper("n_name").alias("nation_name"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_order_date"),
            F.round("o_totalprice", 2).alias("latest_total"),
        )
    )


# ---------------------------------------------------------------------------
# P — projections / filters
# ---------------------------------------------------------------------------

@register(
    "p1_column_projection",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def p1_column_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column pruning must reach the scan (ReadSchema shows 3 cols)."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return lineitem.select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "p2_computed_projection",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem
""",
)
def p2_computed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: (expr AS ?alias) computed projection."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
    )


@register(
    "p3_typed_literal_filter",
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag
FROM lineitem WHERE l_returnflag = 'R'
""",
)
def p3_typed_literal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: FILTER(DATATYPE(?x) = <tag>) → equality filter on a tag column."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )


@register(
    "p4_anti_join_open_lifecycle",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
""",
)
def p4_anti_join_open_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: FILTER NOT EXISTS {lifecycle hasEnd} → left_anti join."""
    customer, orders = load_tuned(spark, sf_dir, "customer", "orders")
    ended = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(ended, "c_custkey", "left_anti").select("c_custkey", "c_name")


@register(
    "p5_incremental_predicate",
    oracle="""
SELECT l_orderkey, l_linenumber, STRFTIME(l_shipdate, '%Y-%m-%d') AS ship_date
FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
""",
)
def p5_incremental_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: last_edited_date >= <prev run> — pushed to the parquet scan."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


@register(
    "p7_notnull_filter",
    oracle="""
SELECT event_id, ROUND(value, 4) AS err_value
FROM events WHERE event_type = 'error' AND value IS NOT NULL
""",
)
def p7_notnull_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: IS NOT NULL probe filter."""
    (events,) = load_tuned(spark, sf_dir, "events")
    return events.filter(
        (F.col("event_type") == "error") & F.col("value").isNotNull()
    ).select("event_id", F.round("value", 4).alias("err_value"))


_DEBUG_KEYS = list(range(1, 501, 20))  # 25 fixed keys, mirrors debug_parcels.py


@register(
    "p8_debug_subset_semijoin",
    oracle=f"""
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN ({", ".join(str(k) for k in _DEBUG_KEYS)})
""",
)
def p8_debug_subset_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: debug VALUES subsetting → semi-join against a literal DataFrame."""
    (orders,) = load_tuned(spark, sf_dir, "orders")
    keys = spark.createDataFrame([(k,) for k in _DEBUG_KEYS], "o_custkey long")
    return orders.join(F.broadcast(keys), "o_custkey", "left_semi").select(
        "o_orderkey", "o_custkey"
    )


# ---------------------------------------------------------------------------
# J — joins
# ---------------------------------------------------------------------------

@register(
    "j1_multiway_equijoin",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name, r.r_name AS region_name
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
""",
)
def j1_multiway_equijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: chained graph-pattern equi-joins; small dims broadcast."""
    customer, nation, region = load_tuned(spark, sf_dir, "customer", "nation", "region")
    return (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


@register(
    "j2_optional_left_join",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, ROUND(o.o_totalprice, 2) AS total_price
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
""",
)
def j2_optional_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: OPTIONAL pattern — unmatched rows surface NULL columns (P6)."""
    customer, orders = load_tuned(spark, sf_dir, "customer", "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left"
    ).select("c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"))


@register(
    "j3_values_batch_semijoin",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 50)
""",
)
def j3_values_batch_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: the reference serializes ≤10k keys into a VALUES clause per
    batch; here the whole key set is one broadcast semi-join."""
    lineitem, part = load_tuned(spark, sf_dir, "lineitem", "part")
    keys = part.filter(F.col("p_size") == 50).select(F.col("p_partkey").alias("l_partkey"))
    return lineitem.join(F.broadcast(keys), "l_partkey", "left_semi").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )


@register(
    "j5_left_join_unmapped",
    oracle="""
SELECT c.c_custkey, c.c_name FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey IS NULL
""",
)
def j5_left_join_unmapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: LEFT JOIN ... WHERE right.id IS NULL — rows lacking a mapping."""
    customer, orders = load_tuned(spark, sf_dir, "customer", "orders")
    pending = orders.filter(F.col("o_orderstatus") == "P")
    return (
        customer.join(pending, customer["c_custkey"] == pending["o_custkey"], "left")
        .filter(F.col("o_orderkey").isNull())
        .select("c_custkey", "c_name")
    )


@register(
    "j6_prune_keep_semi",
    oracle="""
SELECT l_orderkey, l_linenumber FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_orderkey = lineitem.l_orderkey AND o.o_orderstatus = 'O')
""",
)
def j6_prune_keep_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: DELETE WHERE NOT EXISTS inverted to the Spark-idiomatic
    keep-side left_semi join."""
    lineitem, orders = load_tuned(spark, sf_dir, "lineitem", "orders")
    keep = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    return lineitem.join(keep, "l_orderkey", "left_semi").select(
        "l_orderkey", "l_linenumber"
    )


@register(
    "j7_anti_union_newkeys",
    oracle="""
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  UNION
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
""",
)
def j7_anti_union_newkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: pk NOT IN (SELECT iri FROM map UNION SELECT id FROM map)."""
    customer, orders = load_tuned(spark, sf_dir, "customer", "orders")
    known = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .union(
            orders.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_custkey").alias("c_custkey")
            )
        )
        .distinct()
    )
    return customer.join(known, "c_custkey", "left_anti").select("c_custkey")


@register(
    "j8_update_join_enrich",
    oracle="""
SELECT o.o_orderkey, COALESCE(c.c_mktsegment, 'NONE') AS segment
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def j8_update_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: UPDATE t SET col = (SELECT ... ) rewritten as an immutable
    left join + coalesce — no rowid batching needed (pls/tables.py:856-882)."""
    orders, customer = load_tuned(spark, sf_dir, "orders", "customer")
    mapping = customer.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    return orders.join(mapping, "o_custkey", "left").select(
        "o_orderkey", F.coalesce("c_mktsegment", F.lit("NONE")).alias("segment")
    )


@register(
    "j9_lookup_join_miss_skip",
    oracle="""
SELECT l.l_orderkey, l.l_partkey, p.p_name AS part_name
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_retailprice > 950
""",
)
def j9_lookup_join_miss_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: per-batch dict probe with miss-skipping → broadcast inner join
    (misses drop out; the reference logs them, pls/tables.py:786-789)."""
    lineitem, part = load_tuned(spark, sf_dir, "lineitem", "part")
    lookup = part.filter(F.col("p_retailprice") > 950).select(
        F.col("p_partkey").alias("l_partkey"), F.col("p_name").alias("part_name")
    )
    return lineitem.join(F.broadcast(lookup), "l_partkey", "inner").select(
        "l_orderkey", "l_partkey", "part_name"
    )


@register(
    "j10_cache_merge_fetched_wins",
    oracle="""
WITH stored AS (
  SELECT p_partkey AS key, ROUND(p_retailprice, 2) AS price, 'stored' AS src, 0 AS pri
  FROM part
),
fetched AS (
  SELECT p_partkey AS key, ROUND(p_retailprice * 1.1, 2) AS price, 'fetched' AS src, 1 AS pri
  FROM part WHERE p_partkey % 3 = 0
),
merged AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key ORDER BY pri DESC) AS rn
  FROM (SELECT * FROM stored UNION ALL SELECT * FROM fetched)
)
SELECT key, price, src FROM merged WHERE rn = 1
""",
)
def j10_cache_merge_fetched_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: stored|fetched dict union, fetched wins on key collision
    (geocode.py:362-388). Precedence is explicit via a priority column —
    never rely on orderBy-before-dropDuplicates."""
    (part,) = load_tuned(spark, sf_dir, "part")
    stored = part.select(
        F.col("p_partkey").alias("key"),
        F.round("p_retailprice", 2).alias("price"),
        F.lit("stored").alias("src"),
        F.lit(0).alias("pri"),
    )
    fetched = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("key"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price"),
        F.lit("fetched").alias("src"),
        F.lit(1).alias("pri"),
    )
    return merge_fetched_wins(stored, fetched, key_cols=["key"], priority_col="pri").select(
        "key", "price", "src"
    )


# ---------------------------------------------------------------------------
# A — aggregations
# ---------------------------------------------------------------------------

@register(
    "a1_grouped_max_latest",
    oracle="""
SELECT o_custkey, STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS latest_start_time
FROM orders GROUP BY o_custkey
""",
)
def a1_grouped_max_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (agg form): SELECT key, MAX(start) GROUP BY key — partial-agg
    (map-side combine) makes this shuffle only one value per key."""
    (orders,) = load_tuned(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("latest_start_time")
    )


@register(
    "a1_latest_row_window",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderpriority FROM (
  SELECT o_custkey, o_orderkey, o_orderpriority,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
""",
)
def a1_latest_row_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (window form): keep the whole latest row, not just the max."""
    (orders,) = load_tuned(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderpriority")
    )


@register(
    "a2_count_with_predicate",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-06-01'
""",
)
def a2_count_with_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: ESRI returnCountOnly=true with a where clause."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return lineitem.filter(
        F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp")
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "a4_rowcount_delta",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS pruned_cnt FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'O')
""",
)
def a4_rowcount_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: cursor.rowcount after DELETE → count of the pruned set."""
    lineitem, orders = load_tuned(spark, sf_dir, "lineitem", "orders")
    keep = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    return lineitem.join(keep, "l_orderkey", "left_anti").agg(
        F.count(F.lit(1)).alias("pruned_cnt")
    )


# ---------------------------------------------------------------------------
# D — distinct / dedup
# ---------------------------------------------------------------------------

@register(
    "d1_distinct_projection",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def d1_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return lineitem.select("l_returnflag", "l_linestatus").distinct()


@register(
    "d2_first_wins_dedup",
    oracle="""
SELECT l_partkey, l_orderkey, l_linenumber FROM (
  SELECT l_partkey, l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
                            ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1
""",
)
def d2_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: seen-set first-wins dedup (pls/tables.py:421-446) — "first" made
    explicit as min (l_orderkey, l_linenumber) per key."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return dedup_first_wins(
        lineitem.select("l_partkey", "l_orderkey", "l_linenumber"),
        key_cols=["l_partkey"],
        order_cols=["l_orderkey", "l_linenumber"],
    )


@register(
    "d3_distinct_keys_sorted",
    oracle="SELECT DISTINCT l_suppkey AS key FROM lineitem ORDER BY key",
)
def d3_distinct_keys_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: sorted({row[k] for row in rows}) before a lookup fetch
    (pls/tables.py:767-773) — distinct key extraction."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    return lineitem.select(F.col("l_suppkey").alias("key")).distinct().orderBy("key")


@register(
    "d4_distinct_values_pushdown",
    oracle="SELECT DISTINCT event_type FROM events",
)
def d4_distinct_values_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: ESRI returnDistinctValues=true on one field (geocode.py:331-338)."""
    (events,) = load_tuned(spark, sf_dir, "events")
    return events.select("event_type").distinct()


# ---------------------------------------------------------------------------
# O — sorts / limits
# ---------------------------------------------------------------------------

@register(
    "o1_latest_snapshot_top1",
    oracle="""
SELECT event_id, STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS latest_ts FROM events
ORDER BY ts DESC, event_id DESC LIMIT 1
""",
)
def o1_latest_snapshot_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: desc-lex sort + first = latest-snapshot selection (s3.py:37-46).
    Spark executes this as a TakeOrderedAndProject, no full sort."""
    (events,) = load_tuned(spark, sf_dir, "events")
    return (
        events.orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(1)
        .select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("latest_ts"))
    )


@register(
    "o2_limit_guard",
    oracle="SELECT p_partkey, p_name FROM part ORDER BY p_partkey LIMIT 1000",
)
def o2_limit_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: LIMIT 1000 guard — made deterministic with a total order."""
    (part,) = load_tuned(spark, sf_dir, "part")
    return part.orderBy("p_partkey").limit(1000).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# U — set operations
# ---------------------------------------------------------------------------

@register(
    "u1_union_distinct",
    oracle="""
SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'O'
UNION
SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0
""",
)
def u1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION (dedup) of two key extracts (id_map.py:40-44)."""
    orders, customer = load_tuned(spark, sf_dir, "orders", "customer")
    a = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("key"))
    b = customer.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey").alias("key"))
    return a.union(b).distinct()


@register(
    "u2_carry_forward_reshape",
    oracle="""
SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS total_price, 'carried' AS src
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS total_price, 'current' AS src
FROM orders WHERE o_orderstatus = 'O'
""",
)
def u2_carry_forward_reshape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: INSERT INTO t SELECT ... FROM previous.t with column
    reshaping/NULL-ing (geocode carry-forward, main_pls.py:123-133)."""
    (orders,) = load_tuned(spark, sf_dir, "orders")
    carried = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_custkey",
        F.lit(None).cast("double").alias("total_price"),
        F.lit("carried").alias("src"),
    )
    current = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.lit("current").alias("src"),
    )
    return carried.unionByName(current)


# ---------------------------------------------------------------------------
# M — upsert / surrogate-key semantics
# ---------------------------------------------------------------------------

@register(
    "m1_upsert_last_write_wins",
    oracle="""
WITH updates AS (
  SELECT c_custkey AS key, 'UPDATED' AS val FROM customer WHERE c_custkey % 5 = 0
)
SELECT key, val FROM updates
UNION ALL
SELECT c_custkey AS key, c_mktsegment AS val FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.key = c.c_custkey)
""",
)
def m1_upsert_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: INSERT ... ON CONFLICT DO UPDATE → updates ∪ (base ⟕̸ updates)."""
    (customer,) = load_tuned(spark, sf_dir, "customer")
    base = customer.select(F.col("c_custkey").alias("key"), F.col("c_mktsegment").alias("val"))
    updates = (
        customer.filter(F.col("c_custkey") % 5 == 0)
        .select(F.col("c_custkey").alias("key"), F.lit("UPDATED").alias("val"))
    )
    return upsert_by_key(base, updates, key_cols=["key"])


@register(
    "m2_upsert_reset_column",
    oracle="""
WITH incoming AS (
  SELECT s_suppkey AS key, 'NEW-' || s_name AS name FROM supplier WHERE s_suppkey % 2 = 0
)
SELECT i.key, i.name, CAST(NULL AS DOUBLE) AS enriched FROM incoming i
UNION ALL
SELECT s.s_suppkey AS key, s.s_name AS name, ROUND(s.s_acctbal, 2) AS enriched
FROM supplier s
WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.key = s.s_suppkey)
""",
)
def m2_upsert_reset_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: check-then-upsert that resets the enrichment column to NULL on
    update (geocode.py:231-270: site_id reset on re-import)."""
    (supplier,) = load_tuned(spark, sf_dir, "supplier")
    base = supplier.select(
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
        F.round("s_acctbal", 2).alias("enriched"),
    )
    incoming = supplier.filter(F.col("s_suppkey") % 2 == 0).select(
        F.col("s_suppkey").alias("key"),
        F.concat(F.lit("NEW-"), F.col("s_name")).alias("name"),
    )
    return upsert_with_reset(base, incoming, key_cols=["key"], reset_cols=["enriched"])


@register(
    "m3_stable_surrogate_ids",
    oracle="""
WITH iris AS (
  SELECT 'iri/' || CAST(p_partkey AS VARCHAR) AS iri, p_partkey, p_name FROM part
),
seeded AS (
  SELECT iri, CAST(ROW_NUMBER() OVER (ORDER BY iri) AS BIGINT) AS id
  FROM iris WHERE p_partkey <= 100
),
newkeys AS (
  SELECT i.iri FROM iris i
  WHERE NOT EXISTS (SELECT 1 FROM seeded s WHERE s.iri = i.iri)
),
mx AS (SELECT MAX(id) AS m FROM seeded),
full_map AS (
  SELECT iri, id FROM seeded
  UNION ALL
  SELECT iri, (SELECT m FROM mx) + CAST(ROW_NUMBER() OVER (ORDER BY iri) AS BIGINT) AS id
  FROM newkeys
)
SELECT m.id AS part_id, i.p_name AS part_name
FROM iris i JOIN full_map m ON m.iri = i.iri
""",
)
def m3_stable_surrogate_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: stable dense surrogate-id assignment (id_map.py:8-84).

    Pre-seed the map with the first 100 keys (mirrors a carried-forward
    map), assign max(id)+row_number over deterministic iri order to the
    rest, then rewrite the table PK text→int via the map join. Never
    takes an id from monotonically_increasing_id (not dense, not
    stable).
    """
    (part,) = load_tuned(spark, sf_dir, "part")
    iris = part.select(
        F.concat(F.lit("iri/"), F.col("p_partkey").cast("string")).alias("iri"),
        "p_partkey",
        "p_name",
    )
    # seed frame is 100 rows by the filter — ranked windowless
    # (operators/topk.py sorted-array aggregate). The corpus-sized leg
    # (numbering every unseen iri) uses the BULK variant — range-
    # partitioned two-phase numbering, no global window — which
    # assigns the exact same deterministic ids.
    seeded = rank_small_frame(
        iris.filter(F.col("p_partkey") <= 100).select("iri"),
        [(F.col("iri"), TOPK_ASC)],
        ["iri"],
        rank_name="id",
    )
    full_map = assign_surrogate_ids_bulk({"part": iris.select("iri")}, {"part": seeded})["part"]
    return iris.join(full_map, "iri").select(
        F.col("id").alias("part_id"), F.col("p_name").alias("part_name")
    )


@register(
    "pipeline_prune_enrich_composite",
    oracle="""
WITH lf_address AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS addr_id,
         CAST(o_custkey AS VARCHAR) AS address_pid,
         'site-' || CAST(o_orderkey AS VARCHAR) AS site_id
  FROM orders
),
pid_map AS (SELECT CAST(c_custkey AS VARCHAR) AS address_pid FROM customer WHERE c_acctbal > 0),
addr AS (
  SELECT * FROM lf_address a
  WHERE EXISTS (SELECT 1 FROM pid_map m WHERE m.address_pid = a.address_pid)
),
geo AS (
  SELECT 'g-' || CAST(c_custkey AS VARCHAR) AS geocode_id,
         CAST(c_custkey AS VARCHAR) AS address_pid,
         CAST(NULL AS VARCHAR) AS site_id
  FROM customer
),
mapping AS (SELECT address_pid, MIN(site_id) AS new_site FROM addr GROUP BY 1),
enriched AS (
  SELECT g.geocode_id, g.address_pid, COALESCE(g.site_id, m.new_site) AS site_id
  FROM geo g LEFT JOIN mapping m ON m.address_pid = g.address_pid
)
SELECT e.geocode_id, e.address_pid, e.site_id FROM enriched e
WHERE EXISTS (SELECT 1 FROM addr a WHERE a.address_pid = e.address_pid)
""",
)
def pipeline_prune_enrich_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's post-extract composite (§3.1 steps 5-6: prune
    addresses → update-join geocode enrichment → prune geocodes),
    composed from the actual plans.pipeline stage functions and modeled
    on testdata (orders = addresses, customers = geocodes). The engine
    enriches and prunes in one join (``enrich_geocodes``); the oracle
    keeps the reference's left join then semi-join."""
    from ..plans.pipeline import enrich_geocodes, prune_addresses_without_pid_mapping

    orders, customer = load_tuned(spark, sf_dir, "orders", "customer")
    lf_address = orders.select(
        F.col("o_orderkey").cast("string").alias("addr_id"),
        F.col("o_custkey").cast("string").alias("address_pid"),
        F.concat(F.lit("site-"), F.col("o_orderkey").cast("string")).alias("site_id"),
    )
    pid_map = customer.filter(F.col("c_acctbal") > 0).select(
        F.col("c_custkey").cast("string").alias("address_pid")
    )
    geocodes = customer.select(
        F.concat(F.lit("g-"), F.col("c_custkey").cast("string")).alias("geocode_id"),
        F.col("c_custkey").cast("string").alias("address_pid"),
        F.lit(None).cast("string").alias("site_id"),
    )
    addr = prune_addresses_without_pid_mapping(lf_address, pid_map)
    geo = enrich_geocodes(geocodes, addr)
    return geo.select("geocode_id", "address_pid", "site_id")


# ---------------------------------------------------------------------------
# F12 — CHECK-constraint validation stage
# ---------------------------------------------------------------------------

@register(
    "f12_validation_checks",
    oracle="""
SELECT 'name_width' AS rule, CAST(COUNT(*) FILTER (LENGTH(c_name) > 18) AS BIGINT) AS violations FROM customer
UNION ALL
SELECT 'segment_width' AS rule, CAST(COUNT(*) FILTER (LENGTH(c_mktsegment) > 10) AS BIGINT) AS violations FROM customer
UNION ALL
SELECT 'status_len1' AS rule, CAST(COUNT(*) FILTER (LENGTH(o_orderstatus) <> 1) AS BIGINT) AS violations FROM orders
""",
)
def f12_validation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: DDL CHECK constraints (length(x) <= N, length(status) = 1,
    pls/tables.py:70-79) as a data-quality validation stage."""
    customer, orders = load_tuned(spark, sf_dir, "customer", "orders")
    name_w = customer.agg(
        F.lit("name_width").alias("rule"),
        F.count(F.when(F.length("c_name") > 18, 1)).alias("violations"),
    )
    seg_w = customer.agg(
        F.lit("segment_width").alias("rule"),
        F.count(F.when(F.length("c_mktsegment") > 10, 1)).alias("violations"),
    )
    status1 = orders.agg(
        F.lit("status_len1").alias("rule"),
        F.count(F.when(F.length("o_orderstatus") != 1, 1)).alias("violations"),
    )
    return name_w.unionByName(seg_w).unionByName(status1)


# ---------------------------------------------------------------------------
# ROLLUP hierarchy + INTERSECT / EXCEPT set ops (engine-completeness:
# the reference uses only UNION — SURVEY §2.7 — but a drop-in analytics
# engine owes the full set-op family)
# ---------------------------------------------------------------------------

@register(
    "agg_rollup_region_nation",
    oracle="""
SELECT COALESCE(r.r_name, '(all)') AS region,
       COALESCE(n.n_name, '(all)') AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))), 2)::DOUBLE AS total_acctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""",
)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the region→nation hierarchy: per-nation, per-region
    subtotal, and grand-total rows in one Expand+partial-agg pass (no
    3× rescan). The two dimension joins broadcast (25/5 rows)."""
    tune(spark)
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


@register(
    "u3_intersect_nations",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
)
def u3_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: nations having both customers and suppliers.
    Catalyst plans it as a distinct + left-semi — one shuffle per
    side, no row explosion."""
    tune(spark)
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "u4_except_nations",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
EXCEPT
SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
""",
)
def u4_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: nations with high-balance customers but no high-balance
    suppliers (distinct + left-anti under the hood — the set-op twin
    of the reference's NOT-EXISTS prune, SURVEY J6; both filters push
    to the scans)."""
    tune(spark)
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    return (
        customer.filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
        .subtract(
            supplier.filter(F.col("s_acctbal") > 9000).select(
                F.col("s_nationkey").alias("nationkey")
            )
        )
    )


@register(
    "u5_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 3 = 0 THEN ROUND(o_totalprice * 1.1, 2)
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT COALESCE(new.o_orderkey, old.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
   OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
""",
)
def u5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff — the set-based form of the reference's
    incremental upsert bookkeeping (SURVEY §2.9 M1 + A4 rowcount
    delta): full-outer join two snapshot versions on the primary key
    and classify each key as added / removed / changed, dropping
    unchanged rows. One shuffle on the pk; at 100 TB both snapshots
    would be bucketed by pk so the join is co-located, and the value
    compare extends to a hash column per row. The two 'snapshots' are
    deterministic filters/mutations of orders so the oracle replays
    them exactly. Presence is classified on explicit membership
    markers (not value-column nullity), and the changed filter is
    null-safe, so a legitimately-NULL value column in either snapshot
    is still diffed correctly."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    old = orders.filter(F.pmod("o_orderkey", F.lit(10)) != 0).select(
        "o_orderkey", "o_totalprice", F.lit(True).alias("_in_old")
    )
    new = orders.filter(F.pmod("o_orderkey", F.lit(7)) != 0).select(
        "o_orderkey",
        F.when(
            F.pmod("o_orderkey", F.lit(3)) == 0,
            F.round(F.col("o_totalprice") * 1.1, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        F.lit(True).alias("_in_new"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, on="o_orderkey", how="full_outer")
    return joined.select(
        "o_orderkey",
        F.when(F.col("o._in_old").isNull(), "added")
        .when(F.col("n._in_new").isNull(), "removed")
        .otherwise("changed")
        .alias("change_type"),
        F.col("o._in_old").alias("_in_old"),
        F.col("n._in_new").alias("_in_new"),
        F.col("o.o_totalprice").alias("_old"),
        F.col("n.o_totalprice").alias("_new"),
    ).filter(
        F.col("_in_old").isNull()
        | F.col("_in_new").isNull()
        | ~F.col("_old").eqNullSafe(F.col("_new"))
    ).select("o_orderkey", "change_type")


@register(
    "agg_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2)::DOUBLE AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of the ROLLUP/CUBE
    family already covered): per (status, priority), per status, and
    grand total in one pass, tagged with grouping_id. Spark expands
    sets into a single Expand + partial-aggregatable hash aggregate —
    one shuffle for all three granularities (vs three separate
    groupBys)."""
    tune(spark)
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """)


# ---------------------------------------------------------------------------
# J11: blocked fuzzy matching (entity resolution by edit distance)
# ---------------------------------------------------------------------------

_FUZZY_MAX_DIST = 3


@register(
    "j11_fuzzy_blocked_match",
    oracle=f"""
WITH names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts FROM part GROUP BY p_name
),
b AS (
  SELECT p_name, n_parts, split_part(p_name, ' ', 2) AS blk,
         LENGTH(p_name) AS ln
  FROM names
)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist,
       a.n_parts AS n_parts_a, c.n_parts AS n_parts_b
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE ABS(a.ln - c.ln) <= {_FUZZY_MAX_DIST}
  AND levenshtein(a.p_name, c.p_name) BETWEEN 1 AND {_FUZZY_MAX_DIST}
""",
)
def j11_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11 (extension): blocked fuzzy entity matching — the
    record-linkage shape of the reference's locality/alias
    reconciliation (SURVEY §2.4 J5 find-unmapped + §2.7 F6 initialism
    fallback chains, which are exact-key fallbacks; this is the fuzzy
    tier a matcher adds when exact keys run out): candidate pairs are
    generated ONLY within a blocking key (here the head noun of the
    part name), pruned by the length-difference lower bound
    |len(a)-len(b)| <= d (an edit-distance admissible bound, applied
    before the quadratic comparator), then verified with
    levenshtein <= {d} — JVM whole-stage codegen, no UDF.

    Matching runs at the distinct-name level (names repeat across
    parts; comparing carriers would square the duplicate factor) and
    carries per-name part counts back as aggregates. Scale: one
    distinct + one blocking-key shuffle; within-block pairing is
    quadratic in BLOCK size only — the blocking key bounds it, hot
    blocks get AQE skew-split, and a production matcher would salt or
    sub-block (add a length band to the key) before relaxing the
    block."""
    (part,) = load_tuned(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    b = names.select(
        "p_name",
        "n_parts",
        # coalesce to '' for single-word names: DuckDB's split_part
        # yields '' where Spark's element_at yields NULL, and a NULL
        # block silently drops rows from the equi-join
        F.coalesce(F.element_at(F.split("p_name", " "), 2), F.lit("")).alias("blk"),
        F.length("p_name").alias("ln"),
    ).transform(materialize)
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .filter(
            (F.abs(F.col("a.ln") - F.col("c.ln")) <= _FUZZY_MAX_DIST)
            & dist.between(1, _FUZZY_MAX_DIST)
        )
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            dist.cast("long").alias("dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("c.n_parts").alias("n_parts_b"),
        )
    )


j11_fuzzy_blocked_match.__doc__ = j11_fuzzy_blocked_match.__doc__.format(
    d=_FUZZY_MAX_DIST
)


# ---------------------------------------------------------------------------
# A9: join-key skew profile (the pre-join diagnostic)
# ---------------------------------------------------------------------------

_SKEW_TOP = 20


@register(
    "a9_key_skew_profile",
    oracle=f"""
WITH freq AS (
  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k FROM freq
)
SELECT f.key, f.cnt,
       CAST((f.cnt * 1000000) // tot.n AS BIGINT) AS share_ppm,
       CAST((f.cnt * tot.k * 100) // tot.n AS BIGINT) AS pct_of_mean,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC) AS rnk
  FROM freq
) f CROSS JOIN tot
WHERE rnk <= {_SKEW_TOP}
""",
)
def a9_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (extension): hot-key profile of a join key before the join —
    the diagnostic every skew mitigation (salting, AQE skew-split,
    broadcast fallback) starts from. Top-{t} keys by frequency with
    exact integer share (ppm of all rows) and percent-of-mean-key
    load; a key at pct_of_mean >> 100 is the straggler-task signal.

    All arithmetic is exact integers (floor division of non-negative
    counts — identical semantics in both engines); ranking orders by
    the integer count with the key as tiebreak. One partial-
    aggregatable groupBy + a 1-row broadcast total; the top-k window
    runs on the (already key-cardinality-sized) frequency table."""
    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    freq = lineitem.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).transform(materialize)
    tot = freq.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("k")
    )
    # top-k via TakeOrderedAndProject (distributed — the frequency table
    # is key-cardinality-sized: millions of suppliers at 100x, and is
    # never globally sorted), then the windowless k-row rank of
    # operators/topk.py.
    return (
        global_topk_ranked(
            freq,
            [(F.col("cnt"), TOPK_DESC), (F.col("key"), TOPK_ASC)],
            _SKEW_TOP,
            ["key", "cnt"],
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            # integral `div`, matching the oracle's exact `//` — a
            # double-divide + cast would round the product at 2^53
            F.expr("(cnt * 1000000L) div n").alias("share_ppm"),
            F.expr("(cnt * k * 100L) div n").alias("pct_of_mean"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


a9_key_skew_profile.__doc__ = a9_key_skew_profile.__doc__.format(t=_SKEW_TOP)


# ---------------------------------------------------------------------------
# M7: CDC apply with tombstones (I/U/D log → snapshot)
# ---------------------------------------------------------------------------

@register(
    "m7_cdc_apply_tombstones",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
),
log AS (
  SELECT o_orderkey, 1 AS seq, 'I' AS op, ROUND(o_totalprice * 2, 2) AS price
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 1, 'U',
         CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 11) // 10 AS DOUBLE) / 100
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, 2, 'D', NULL
  FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 0
),
last AS (
  SELECT o_orderkey, op, price FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
       ROUND(CASE WHEN l.op IN ('I', 'U') THEN l.price
                  ELSE b.o_totalprice END, 2) AS o_totalprice
FROM base b FULL OUTER JOIN last l ON l.o_orderkey = b.o_orderkey
WHERE COALESCE(l.op, '') <> 'D'
""",
)
def m7_cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 (extension): apply a CDC log with INSERT / UPDATE / DELETE
    tombstones to a snapshot — the general form of the reference's M1
    upsert (address_iri_pid_map.py:121-137), which never deletes; a
    feed with retractions needs the tombstone leg. The log is
    deterministic here (derived from orders by key residue, one key —
    %91 — carrying both a U and a later D to prove last-write-wins by
    sequence number).

    Per key: latest op by seq wins (one partition-key window over the
    log, which is delta-sized, not snapshot-sized); D removes, I/U
    set the value, untouched base rows carry forward. One full-outer
    join on the pk — at 100 TB both sides bucketed by pk make it
    co-located, the same layout M1 assumes."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    base, log = _cdc_orders_base_and_log(orders)
    return _cdc_apply(base, log)


def _cdc_orders_base_and_log(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The deterministic (base snapshot, CDC log) pair shared by
    ``m7_cdc_apply_tombstones`` (applies the whole log) and
    ``m8_time_travel_asof`` (applies a seq prefix)."""
    k = F.col("o_orderkey")
    base = orders.filter(k % 10 != 0).select("o_orderkey", "o_totalprice")
    # derive all three op kinds from ONE scan (conditional structs +
    # explode, null entries dropped) instead of three filtered branches
    # each re-scanning the orders fact
    op_struct = lambda seq, op, price: F.struct(  # noqa: E731
        F.lit(seq).alias("seq"), F.lit(op).alias("op"), price.alias("price")
    )
    log = (
        orders.select(
            "o_orderkey",
            F.explode(
                F.array(
                    F.when(
                        k % 10 == 0,
                        op_struct(1, "I", F.round(F.col("o_totalprice") * 2, 2)),
                    ),
                    F.when(
                        (k % 7 == 0) & (k % 10 != 0),
                        op_struct(
                            1,
                            "U",
                            # exact centi arithmetic: *1.1 + ROUND
                            # double-rounds onto half-cent edges
                            F.expr(
                                "CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) "
                                "AS BIGINT) * 11) DIV 10 AS DOUBLE) / 100"
                            ),
                        ),
                    ),
                    F.when(
                        (k % 13 == 0) & (k % 10 != 0),
                        op_struct(2, "D", F.lit(None).cast("double")),
                    ),
                )
            ).alias("o"),
        )
        .filter(F.col("o").isNotNull())
        .select("o_orderkey", "o.seq", "o.op", "o.price")
    )
    return base, log


def _cdc_apply(base: DataFrame, log: DataFrame) -> DataFrame:
    """Apply a CDC log to a snapshot: per key the latest op by seq
    wins, D removes, I/U set the value, untouched rows carry forward."""
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    last = (
        log.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "op", "price")
    )
    b, l = base.alias("b"), last.alias("l")
    joined = b.join(l, F.col("l.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    return (
        joined.filter(F.coalesce(F.col("l.op"), F.lit("")) != "D")
        .select(
            F.coalesce(F.col("b.o_orderkey"), F.col("l.o_orderkey")).alias("o_orderkey"),
            F.round(
                F.when(F.col("l.op").isin("I", "U"), F.col("l.price")).otherwise(
                    F.col("b.o_totalprice")
                ),
                2,
            ).alias("o_totalprice"),
        )
    )


_M8_ASOF_SEQ = 1


@register(
    "m8_time_travel_asof",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 <> 0
),
log AS (
  SELECT o_orderkey, 1 AS seq, 'I' AS op, ROUND(o_totalprice * 2, 2) AS price
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 1, 'U',
         CAST((CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 11) // 10 AS DOUBLE) / 100
  FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, 2, 'D', NULL
  FROM orders WHERE o_orderkey % 13 = 0 AND o_orderkey % 10 <> 0
),
last AS (
  SELECT o_orderkey, op, price FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
    FROM log WHERE seq <= {_M8_ASOF_SEQ}
  ) WHERE rn = 1
)
SELECT COALESCE(b.o_orderkey, l.o_orderkey) AS o_orderkey,
       ROUND(CASE WHEN l.op IN ('I', 'U') THEN l.price
                  ELSE b.o_totalprice END, 2) AS o_totalprice
FROM base b FULL OUTER JOIN last l ON l.o_orderkey = b.o_orderkey
WHERE COALESCE(l.op, '') <> 'D'
""",
)
def m8_time_travel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the CDC log: reconstruct the table AS OF
    sequence {t} by applying only the log prefix ``seq <= {t}`` to the
    snapshot — the same apply core as ``m7_cdc_apply_tombstones``
    (shared ``_cdc_apply``, so the as-of state and the current state
    cannot drift in semantics), differing only in the prefix filter.
    Here the seq-2 deletes have not happened yet: keys m7 removes are
    still present with their updated values, which the oracle pins by
    restating the same prefix cut. At scale the log prefix filter is a
    pushed-down predicate on the delta table's seq column (partition
    key in any real CDC layout), so reconstructing an old state reads
    snapshot + prefix, never the full log history."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    base, log = _cdc_orders_base_and_log(orders)
    return _cdc_apply(base, log.filter(F.col("seq") <= _M8_ASOF_SEQ))


m8_time_travel_asof.__doc__ = m8_time_travel_asof.__doc__.format(t=_M8_ASOF_SEQ)


# ---------------------------------------------------------------------------
# Theta-sketch semi-join cardinality (sketch algebra ACROSS tables)
# ---------------------------------------------------------------------------

_A13_TOL = 0.05

_A13_ORACLE = """
WITH buyers AS (SELECT DISTINCT o_custkey FROM orders),
per_nation AS (
  SELECT c.c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(COUNT(*) FILTER (WHERE b.o_custkey IS NOT NULL) AS BIGINT)
           AS exact_buyers
  FROM customer c LEFT JOIN buyers b ON b.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT c_nationkey, n_customers, exact_buyers, TRUE AS inter_within_tol
FROM per_nation
"""


@register("a13_theta_join_cardinality", oracle=_A13_ORACLE)
def a13_theta_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join cardinality estimation from sketches ALONE — the
    query-planner / data-catalog application of the a10 theta algebra,
    across tables: per-nation customer sketches intersected with ONE
    sketch of distinct order-placing customers estimate "how many of
    nation X's customers have ordered" without joining the raw tables.
    At 100 TB each table is sketched once during ingest (a
    partial-aggregatable groupBy producing kilobyte states); every
    later cross-table overlap question is T-row sketch algebra — the
    same economics that made a10 never rescan events.

    Self-verified like a10: exact counts (one semi-join) are
    hash-checked against the oracle; the intersection estimate must
    land within {t:.0%} (with lgNomEntries=16 both sides stay in exact
    mode below 64k distinct keys, so the flag is deterministic at the
    test scales — the bound, not a hope, covers the 100 TB regime)."""
    customer, orders = load_tuned(spark, sf_dir, "customer", "orders")
    nat_sk = customer.groupBy("c_nationkey").agg(
        F.theta_sketch_agg(F.col("c_custkey"), lgNomEntries=16).alias("sk"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    buyers_sk = orders.agg(
        F.theta_sketch_agg(F.col("o_custkey"), lgNomEntries=16).alias("bsk")
    )
    est = nat_sk.crossJoin(F.broadcast(buyers_sk)).select(
        "c_nationkey",
        "n_customers",
        F.theta_sketch_estimate(F.theta_intersection("sk", "bsk")).alias(
            "est_buyers"
        ),
    )
    exact = (
        customer.join(
            orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_semi",
        )
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("exact_buyers"))
    )
    return (
        est.join(exact, "c_nationkey", "left")
        .select(
            "c_nationkey",
            "n_customers",
            F.coalesce("exact_buyers", F.lit(0)).cast("long").alias("exact_buyers"),
            (
                F.abs(F.col("est_buyers") - F.coalesce("exact_buyers", F.lit(0)))
                <= _A13_TOL * F.greatest(F.coalesce("exact_buyers", F.lit(0)), F.lit(1))
            ).alias("inter_within_tol"),
        )
    )


a13_theta_join_cardinality.__doc__ = a13_theta_join_cardinality.__doc__.format(
    t=_A13_TOL
)


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning (runtime-filter pattern, made explicit)
# ---------------------------------------------------------------------------

_A14_PRICE = 480_000
_A14_BITS = 2048
_A14_K = 3


@register(
    "a14_bloom_semijoin_prune",
    oracle=f"""
WITH sel AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > {_A14_PRICE}
),
seeds AS (SELECT * FROM (VALUES (0), (1), (2)) s(i)),
bloom AS (
  SELECT DISTINCT
    ('0x' || substr(md5(k::VARCHAR || '#' || i::VARCHAR), 1, 8))::BIGINT
      % {_A14_BITS} AS pos
  FROM sel CROSS JOIN seeds
),
probe AS (
  SELECT c_custkey, i,
    ('0x' || substr(md5(c_custkey::VARCHAR || '#' || i::VARCHAR), 1, 8))::BIGINT
      % {_A14_BITS} AS pos
  FROM customer CROSS JOIN seeds
),
passk AS (
  SELECT c_custkey
  FROM probe JOIN bloom USING (pos)
  GROUP BY 1 HAVING COUNT(DISTINCT i) = {_A14_K}
)
SELECT p.c_custkey, (s.k IS NOT NULL) AS is_member,
       (s.k IS NULL) AS false_positive
FROM passk p LEFT JOIN sel s ON s.k = p.c_custkey
""",
)
def a14_bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SEMI-JOIN PRUNING, expressed relationally — the
    runtime-filter pattern (Spark's
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects it
    implicitly for shuffle joins; this query makes the structure
    explicit, measurable, and oracle-checkable): the build side's
    distinct keys (customers with an order over {p:,}) hash into a
    {m}-bit Bloom filter represented as a DISTINCT-POSITIONS table
    (≤ {m} rows — KILOBYTES, broadcast); the probe side keeps only
    keys whose {k} positions are ALL present (one broadcast equi-join
    + a count-distinct-seeds filter). No false negatives by
    construction (every member's positions are in the table); false
    positives are VISIBLE output — each surviving key carries
    ``is_member`` and ``false_positive`` flags from the exact
    verification join that follows the prune.

    The 100 TB story: the expensive shuffle join's probe side shrinks
    by the Bloom pass BEFORE the shuffle — network ∝ survivors, not
    rows — while the filter itself costs one map-side hash + a
    broadcast lookup. The md5/substr hash family keeps both engines
    bit-identical (the repo's cross-engine hash discipline); at
    production scale swap xxhash64 and a real bitmap (same algebra,
    the positions table IS the bitmap in relational form). Parameters
    deliberately undersize the filter (n·k/m ≈ 0.77) so the FP path is
    non-vacuous: at sf0.01, 522 members pass plus 154 false positives
    a correctly-sized filter would suppress."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    seeds = F.explode(
        F.array(*[F.lit(i) for i in range(_A14_K)])
    ).alias("i")

    def positions(df: DataFrame, key: str) -> DataFrame:
        return df.select(F.col(key).alias("k"), seeds).select(
            "k",
            "i",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("#", F.col("k"), F.col("i"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % _A14_BITS
            ).alias("pos"),
        )

    sel = (
        orders.filter(F.col("o_totalprice") > _A14_PRICE)
        .select("o_custkey")
        .distinct()
        .transform(materialize)
    )
    bloom = positions(sel, "o_custkey").select("pos").distinct()
    probe = positions(customer, "c_custkey")
    passk = (
        probe.join(F.broadcast(bloom), "pos")
        .groupBy("k")
        .agg(F.count_distinct("i").alias("nseed"))
        .filter(F.col("nseed") == _A14_K)
        .select(F.col("k").alias("c_custkey"))
    )
    member = sel.select(F.col("o_custkey").alias("c_custkey")).withColumn(
        "is_member", F.lit(True)
    )
    return passk.join(member, "c_custkey", "left").select(
        "c_custkey",
        F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        F.col("is_member").isNull().alias("false_positive"),
    )


a14_bloom_semijoin_prune.__doc__ = a14_bloom_semijoin_prune.__doc__.format(
    p=_A14_PRICE, m=_A14_BITS, k=_A14_K
)


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud/synthetic-data smell test)
# ---------------------------------------------------------------------------

#: log10(1 + 1/d) for d = 1..9, pre-computed once and embedded as the
#: SAME literals in both engines (never let two libms derive a log)
_BENFORD_P = {
    d: p
    for d, p in zip(
        range(1, 10),
        (
            0.301029996,
            0.176091259,
            0.124938737,
            0.096910013,
            0.079181246,
            0.06694679,
            0.057991947,
            0.051152522,
            0.045757491,
        ),
    )
}

#: the CAST is load-bearing in BOTH engines: bare 0.301029996 parses
#: as DECIMAL (the _ev_pos_sql lesson), and the whole audit must run
#: in IEEE doubles
_BENFORD_CASE = (
    "CAST(CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items())
    + " END AS DOUBLE)"
)


@register(
    "dq_benford_audit",
    oracle=f"""
WITH cents AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM cents WHERE c > 0
),
cnt AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS big_n FROM cnt)
SELECT digit, n_obs,
       ROUND(big_n * ({_BENFORD_CASE}), 6) AS expected_n,
       ROUND(
         (n_obs - big_n * ({_BENFORD_CASE}))
         * (n_obs - big_n * ({_BENFORD_CASE}))
         / (big_n * ({_BENFORD_CASE})), 6) AS chi2_part
FROM cnt CROSS JOIN tot
""",
)
def dq_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    fabricated-/synthetic-data smell test a DQ suite runs beside the
    profile: naturally-occurring multiplicative amounts follow
    P(d) = log10(1 + 1/d), so per-digit observed counts vs N·P(d)
    with the χ² contribution localize WHERE a distribution was
    manufactured (TPC-H prices are uniform-ish, so this corpus
    legitimately FAILS Benford — large chi2_part on every digit — and
    the audit showing that loudly is the demonstration).

    Determinism: the first digit comes from exact integer cents (a
    double → string first-char would expose engine float formatting),
    the nine Benford probabilities are pre-computed literals shared by
    both engines, and each output row's arithmetic is per-digit —
    no engine-ordered summation anywhere. Scale: a 9-group partial-
    aggregatable count plus a broadcast 1-row total."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    cnt = (
        orders.select(cents.alias("c"))
        .filter(F.col("c") > 0)
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = cnt.agg(F.sum("n_obs").alias("big_n"))
    p = F.expr(_BENFORD_CASE)
    exp_n = F.col("big_n") * p
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(exp_n, 6).alias("expected_n"),
        F.round(
            (F.col("n_obs") - exp_n) * (F.col("n_obs") - exp_n) / exp_n, 6
        ).alias("chi2_part"),
    )


# ---------------------------------------------------------------------------
# Data-quality column profile (expectation-suite input)
# ---------------------------------------------------------------------------

#: (column, value-expression SQL for min/max repr). Price profiles in
#: exact centi-units and the timestamp through an explicit format so
#: the repr is engine-independent (double/timestamp default casts are
#: not a cross-engine contract).
_DQ_COLS = [
    ("o_orderkey", "CAST({c} AS VARCHAR)", "CAST(o_orderkey AS STRING)"),
    ("o_custkey", "CAST({c} AS VARCHAR)", "CAST(o_custkey AS STRING)"),
    ("o_orderstatus", "{c}", "o_orderstatus"),
    (
        "o_totalprice",
        "CAST(CAST(FLOOR({c} * 100 + 0.5) AS BIGINT) AS VARCHAR)",
        "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)",
    ),
    (
        "o_orderdate",
        "STRFTIME({c}, '%Y-%m-%d %H:%M:%S')",
        "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')",
    ),
    ("o_orderpriority", "{c}", "o_orderpriority"),
]


def _dq_oracle() -> str:
    selects = []
    for col, duck_repr, _ in _DQ_COLS:
        r = duck_repr.format(c=col)
        rmin = duck_repr.format(c=f"MIN({col})")
        rmax = duck_repr.format(c=f"MAX({col})")
        selects.append(f"""
SELECT '{col}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
       {rmin} AS min_repr, {rmax} AS max_repr
FROM orders""")
    return "\nUNION ALL\n".join(selects)


@register("dq_profile_orders", oracle=_dq_oracle())
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile — the input an expectation suite is
    written against (null rates, cardinalities, value ranges), as one
    engine pass: a SINGLE aggregate row computes every column's
    non-null count, exact distinct count, and min/max representation,
    is lazily checkpointed (six per-column output rows fan out of it —
    without the boundary the orders scan replays per branch), and
    unpivots to one row per column. Exact countDistinct across N
    columns plans one Expand (N× row multiplication before partial
    aggregation) — acceptable for profile runs; a continuous monitor
    at 100 TB swaps in approx_count_distinct and the Expand disappears.
    Representations are pinned engine-independently (centi-units for
    the double, explicit format for the timestamp); the oracle states
    the same profile as six scans UNIONed — same answer, proving the
    single-pass unpivot purely physical."""
    tune(spark)
    # widen=True: the 6-column exact-countDistinct Expand (7× row
    # multiplication) and its partial aggregation happen in the scan
    # stage — single-task on a one-row-group file without the
    # probe-gated repartition (no-op at scale; guide §2.5)
    orders = load(spark, sf_dir, "orders", widen=True)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, _, spark_repr in _DQ_COLS:
        aggs.extend(
            [
                F.count(col).alias(f"nn_{col}"),
                F.countDistinct(col).alias(f"nd_{col}"),
                F.expr(spark_repr.replace(col, f"MIN({col})", 1)).alias(
                    f"mn_{col}"
                ),
                F.expr(spark_repr.replace(col, f"MAX({col})", 1)).alias(
                    f"mx_{col}"
                ),
            ]
        )
    row = orders.agg(*aggs).transform(materialize)
    out = None
    for col, _, _ in _DQ_COLS:
        sel = row.select(
            F.lit(col).alias("column_name"),
            F.col("n_rows").cast("long"),
            (F.col("n_rows") - F.col(f"nn_{col}")).cast("long").alias("n_nulls"),
            F.col(f"nd_{col}").cast("long").alias("n_distinct"),
            F.col(f"mn_{col}").alias("min_repr"),
            F.col(f"mx_{col}").alias("max_repr"),
        )
        out = sel if out is None else out.unionByName(sel)
    return out


# ---------------------------------------------------------------------------
# Bivariate statistics (correlation / covariance) from exact moments
# ---------------------------------------------------------------------------


@register(
    "agg_corr_price_quantity",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT)) AS sx,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS HUGEINT)) AS sy,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT)
             * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT)) AS sxx,
         SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS HUGEINT)
             * CAST(FLOOR(l_quantity * 100 + 0.5) AS HUGEINT)) AS syy,
         SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT)
             * CAST(FLOOR(l_quantity * 100 + 0.5) AS HUGEINT)) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_pq,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * n AS DOUBLE) / 10000.0, 6) AS covar_pop_pq,
       ROUND(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 100.0, 6) AS stddev_pop_price,
       ROUND(sqrt(CAST(n * syy - sy * sy AS DOUBLE))
             / CAST(n AS DOUBLE) / 100.0, 6) AS stddev_pop_qty
FROM m
""",
)
def agg_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics — Pearson correlation, population
    covariance, and both stddevs of (price, quantity) per return flag
    — computed from EXACT integer moments rather than the engines'
    built-in streaming estimators: centi-quantized values make every
    moment (n, Σx, Σy, Σx², Σy², Σxy) an exact DECIMAL/HUGEINT sum,
    and the final formulas consume identical integers on both engines,
    so the doubles agree bit-for-bit BEFORE rounding (built-in
    corr()/covar update algorithms differ across engines in last-ulp
    accumulation order; exact moments sidestep the comparison problem
    entirely, and the scale factors cancel inside the correlation).
    Plan: one partial-aggregatable groupBy — six map-side-combined
    sums — then per-group scalar math; shuffle is 6 numbers per
    (group, partition), the same shape at any corpus size. The moment
    trick is also the MERGEABLE form: per-shard moment sets union and
    re-sum, so this extends to the incremental/streaming maintenance
    discipline like every other abelian aggregate here."""
    tune(spark)
    lineitem = load(spark, sf_dir, "lineitem")
    xi = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("decimal(38,0)")
    yi = F.floor(F.col("l_quantity") * 100 + 0.5).cast("decimal(38,0)")
    m = lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum(yi * yi).alias("syy"),
        F.sum(xi * yi).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    dxy = (n * F.col("sxy") - sx * sy).cast("double")
    dx = (n * F.col("sxx") - sx * sx).cast("double")
    dy = (n * F.col("syy") - sy * sy).cast("double")
    return m.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(dxy / F.sqrt(dx * dy), 6).alias("corr_pq"),
        F.round(dxy / (n * n).cast("double") / 10000.0, 6).alias("covar_pop_pq"),
        F.round(F.sqrt(dx) / n.cast("double") / 100.0, 6).alias("stddev_pop_price"),
        F.round(F.sqrt(dy) / n.cast("double") / 100.0, 6).alias("stddev_pop_qty"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence feature binning (supervised encoding)
# ---------------------------------------------------------------------------

_WOE_BIN_W = 50_000


@register(
    "agg_woe_price_bins",
    oracle=f"""
WITH labeled AS (
  SELECT CAST(FLOOR(o_totalprice / {_WOE_BIN_W}) AS BIGINT) AS bin,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_event
  FROM orders
),
cnt AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS BIGINT) AS n_event,
         CAST(SUM(CASE WHEN is_event THEN 0 ELSE 1 END) AS BIGINT)
           AS n_nonevent
  FROM labeled GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_event) AS BIGINT) AS te,
         CAST(SUM(n_nonevent) AS BIGINT) AS tn
  FROM cnt
),
w AS (
  SELECT bin, n_event, n_nonevent,
         LN((CAST(n_event + 1 AS DOUBLE) / (te + 1))
            / (CAST(n_nonevent + 1 AS DOUBLE) / (tn + 1))) AS woe_raw,
         (CAST(n_event + 1 AS DOUBLE) / (te + 1)
          - CAST(n_nonevent + 1 AS DOUBLE) / (tn + 1)) AS pdiff
  FROM cnt CROSS JOIN tot
)
SELECT bin, n_event, n_nonevent,
       ROUND(woe_raw, 6) AS woe, ROUND(pdiff * woe_raw, 6) AS iv_part
FROM w
""",
)
def agg_woe_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence encoding + Information Value — the classic
    supervised binning of credit scoring, here binning order totals
    against the "urgent order" event: per bin,
    WOE = ln(P(bin|event) / P(bin|non-event)) (Laplace-smoothed) and
    the IV contribution (P_e − P_n)·WOE, whose sum ranks the feature's
    predictive power. Completes the stats family next to the exact-
    moment bivariate query: WOE is the categorical-feature counterpart
    a model-prep pipeline materializes as an encoding dimension table
    (broadcastable — it is |bins| rows).

    Determinism: counts are exact integers, probabilities exact
    rationals, ONE ln/multiply per bin on identical doubles (the PSI
    precedent), per-bin output rows so no engine-ordered summation.
    Scale: one partial-aggregatable groupBy on the bin (network ∝
    bins) + a broadcast 1-row total."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    cnt = (
        orders.select(
            F.floor(F.col("o_totalprice") / _WOE_BIN_W)
            .cast("long")
            .alias("bin"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .alias("is_event"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_event"), 1).otherwise(0)).alias("n_event"),
            F.sum(F.when(~F.col("is_event"), 1).otherwise(0)).alias(
                "n_nonevent"
            ),
        )
    )
    tot = cnt.agg(
        F.sum("n_event").alias("te"), F.sum("n_nonevent").alias("tn")
    )
    pe = (F.col("n_event") + 1).cast("double") / (F.col("te") + 1)
    pn = (F.col("n_nonevent") + 1).cast("double") / (F.col("tn") + 1)
    woe_raw = F.log(pe / pn)
    return cnt.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_event",
        "n_nonevent",
        F.round(woe_raw, 6).alias("woe"),
        F.round((pe - pn) * woe_raw, 6).alias("iv_part"),
    )


# ---------------------------------------------------------------------------
# Declarative constraint-suite verification (Deequ-style, one pass/table)
# ---------------------------------------------------------------------------


@register(
    "dq_constraint_suite",
    oracle="""
WITH o AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS nd,
         CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                         OR o_orderdate >= TIMESTAMP '1999-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_date,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         OR o_orderstatus IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
  FROM orders
),
c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS nd
  FROM customer
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS viol,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n
  FROM orders o WHERE NOT EXISTS (
    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT rule, n_checked, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'orders_orderkey_unique' AS rule, n AS n_checked,
         n - nd AS n_violations FROM o
  UNION ALL
  SELECT 'orders_totalprice_positive', n, bad_price FROM o
  UNION ALL
  SELECT 'orders_orderdate_in_window', n, bad_date FROM o
  UNION ALL
  SELECT 'orders_status_domain', n, bad_status FROM o
  UNION ALL
  SELECT 'orders_custkey_fk_customer', n, viol FROM fk
  UNION ALL
  SELECT 'customer_custkey_unique', n, n - nd FROM c
)
""",
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite — the Deequ-style
    verification run a pipeline gates ingest on: uniqueness,
    referential integrity, domain membership, value positivity, and
    freshness-window rules evaluated together, emitting one
    (rule, n_checked, n_violations, passed) row each. The suite
    INTENTIONALLY contains a failing rule on this data (the order-date
    window ends 1999; the table runs to 2001) so downstream consumers
    exercise the non-green path.

    Scale shape: all per-row rules on a table fold into ONE
    partial-aggregatable pass (conditional counts + a two-phase
    COUNT(DISTINCT) Catalyst plans as expand+reaggregate); the
    referential rule is a shuffle-free-when-broadcastable anti-join
    COUNT. Each 1-row stats frame explodes into its rule rows —
    nothing here materializes more than the violation COUNTS (row-level
    violation SAMPLES are a LIMIT away from the same predicates).
    Rules are data-independent of each other, so the suite extends by
    appending structs, not by adding passes."""
    tune(spark)
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    o = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("o_orderkey").cast("long").alias("nd"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_price"),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_date"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P")
                | F.col("o_orderstatus").isNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_status"),
    )

    def _rule(name: str, checked, viol):
        return F.struct(
            F.lit(name).alias("rule"),
            checked.cast("long").alias("n_checked"),
            viol.cast("long").alias("n_violations"),
        )

    o_rules = o.select(
        F.explode(
            F.array(
                _rule(
                    "orders_orderkey_unique", F.col("n"), F.col("n") - F.col("nd")
                ),
                _rule("orders_totalprice_positive", F.col("n"), F.col("bad_price")),
                _rule("orders_orderdate_in_window", F.col("n"), F.col("bad_date")),
                _rule("orders_status_domain", F.col("n"), F.col("bad_status")),
            )
        ).alias("r")
    ).select("r.*")
    c = customer.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("c_custkey").cast("long").alias("nd"),
    )
    c_rules = c.select(
        F.explode(
            F.array(
                _rule(
                    "customer_custkey_unique", F.col("n"), F.col("n") - F.col("nd")
                )
            )
        ).alias("r")
    ).select("r.*")
    n_orders = orders.agg(F.count(F.lit(1)).cast("long").alias("n"))
    fk_viol = (
        orders.join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("viol"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.lit("orders_custkey_fk_customer").alias("rule"),
            F.col("n").alias("n_checked"),
            F.col("viol").alias("n_violations"),
        )
    )
    return (
        o_rules.unionByName(c_rules)
        .unionByName(fk_viol)
        .withColumn("passed", F.col("n_violations") == 0)
    )
