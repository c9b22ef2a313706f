"""The session this package builds keeps every generated class that a
repeated workload compiles: the second pass over a fixed query list
compiles none.

Spark caches compiled generated classes in an LRU cache
(``spark.sql.codegen.cache.maxEntries``, a static conf, default 100).
A cyclic working set larger than the cache misses on every access: one
pass over ``QUERY_MIX`` generates ≈ 150 distinct classes, so at
Spark's default the second pass recompiles ≈ 130 of them."""

from __future__ import annotations

from cam_location_addressing_feature_service_etl_spark.benchwarm import timed_noop_run
from cam_location_addressing_feature_service_etl_spark.session import CODEGEN_CACHE_ENTRIES
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES
from tests.conftest import SF_SMOKE

#: the ETL's relational stages as standalone queries (the benchmark's
#: ``query_mix`` list)
QUERY_MIX = (
    "flagship_current_address",
    "o1_latest_snapshot_top1",
    "u2_carry_forward_reshape",
    "m1_upsert_last_write_wins",
    "m2_upsert_reset_column",
    "j10_cache_merge_fetched_wins",
    "j6_prune_keep_semi",
    "j8_update_join_enrich",
    "j9_lookup_join_miss_skip",
    "j7_anti_union_newkeys",
    "m3_stable_surrogate_ids",
    "pipeline_prune_enrich_composite",
)


def _compiles(spark) -> int:
    """Generated classes compiled in this JVM so far (Janino)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_pass_compiles_nothing(spark):
    passes = []
    for _ in range(2):
        before = _compiles(spark)
        for name in QUERY_MIX:
            timed_noop_run(spark, QUERIES[name], SF_SMOKE)
        passes.append(_compiles(spark) - before)
    assert passes[1] == 0, f"classes compiled per pass: {passes}"
