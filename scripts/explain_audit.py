#!/usr/bin/env python
"""Audit physical plans of the workload queries for the properties that
matter at 100 TB: predicate pushdown reaching the scan, column-pruned
ReadSchema, broadcast joins on small sides, no cartesian products, and
whole-stage codegen coverage.

Usage: python scripts/explain_audit.py [sf_dir] [name_substring ...]

Known-intentional CARTESIAN flags (broadcast cross joins against tiny
build sides, the designed plan): sim_cosine_topk_bruteforce /
sim_ann_ivf_bucketed (every vector scored against a broadcast query /
centroid set), and ev_value_band_join (inequality join against a 3-row
literal dimension — BroadcastNestedLoop with a tiny build side IS the
plan), and the 1-row broadcast scalar aggregates in text_tfidf_topk
(corpus doc count), text_unigram_logprob (corpus token total), and
ev_funnel_conversion (three stage counts combined into one row), and
sim_kmeans_assignments (every vector scored against the broadcast k=8
centroid set — one per Lloyd round plus the init top-k), and the 1-row
broadcast scalars in emb_pca_power_projection (per-round max|u|
renormalizer), sample_temperature_mix (total source weight), and
text_vocab_coverage (corpus token total), and emb_ivfpq_index (every
member vector scored against the broadcast 8-row cell-centroid set —
the same intentional shape as sim_kmeans_assignments).

Iterative operators (dedup_connected_components) localCheckpoint per
round, so the audit sees only the final round's plan — by design:
lineage truncation is what keeps iterative plans bounded.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cam_location_addressing_feature_service_etl_spark.session import get_spark
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES


def _empty_partition_windows(plan) -> int:
    """Count Window nodes with an EMPTY partition spec in a logical
    plan (py4j walk) — the single-partition sort WindowExec warns
    about; tests/test_explain_audit.py fails the suite on any hit."""
    n, stack = 0, [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            n += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return n

CHECKS = {
    "pushed_filters": re.compile(r"PushedFilters: \[([^\]]+)\]"),
    "read_schema": re.compile(r"ReadSchema: (\S+)"),
    "broadcast_join": re.compile(r"BroadcastHashJoin"),
    "sortmerge_join": re.compile(r"SortMergeJoin"),
    "CARTESIAN": re.compile(r"CartesianProduct|BroadcastNestedLoopJoin"),
    "window_group_limit": re.compile(r"WindowGroupLimit"),
    "exchanges": re.compile(r"Exchange hashpartitioning"),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    filters = sys.argv[2:]
    spark = get_spark(app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    for name in sorted(QUERIES):
        if filters and not any(f in name for f in filters):
            continue
        qe = QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        plan = qe.explainString(mode)
        unpart = _empty_partition_windows(qe.optimizedPlan())
        facts = [f"UNPARTITIONED_WINDOW×{unpart}"] if unpart else []
        for label, pat in CHECKS.items():
            hits = pat.findall(plan)
            if hits:
                n = len(hits)
                sample = hits[0][:60] if isinstance(hits[0], str) else ""
                facts.append(f"{label}×{n}" + (f"({sample})" if label in ("pushed_filters",) else ""))
        flag = "  !! CARTESIAN !!" if CHECKS["CARTESIAN"].search(plan) else ""
        flag += "  !! UNPARTITIONED WINDOW !!" if unpart else ""
        print(f"{name:36s} {'; '.join(facts)}{flag}")


if __name__ == "__main__":
    main()
