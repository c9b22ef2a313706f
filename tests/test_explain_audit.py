"""CI gate over the physical plans of every registry query: no
cartesian/broadcast-nested-loop join outside the explicit allowlist of
designed tiny-build-side plans, and the known-pushdown queries must
show their filters reaching the parquet scan.

This is scripts/explain_audit.py's check, wired as a test so a plan
regression (a lost broadcast hint, a filter that stopped pushing below
a join) fails the suite instead of waiting for a human to re-run the
audit by hand.
"""

from __future__ import annotations

import re

import pytest

from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

SF_DIR = "/root/testdata/sf0.001"

#: Queries whose BroadcastNestedLoopJoin / CartesianProduct is the
#: DESIGNED plan: a cross join against a broadcast build side that is
#: 1 row (scalar aggregates), k centroids, a literal dimension, or the
#: deduplicated candidate set of a prefix filter. Keep this list
#: MINIMAL — every entry must name why it is intentional.
CARTESIAN_ALLOWED = {
    # bbox-filtered points vs broadcast 8-row polygon edge table,
    # joined ON the ray-crossing predicate itself (BNLJ by design)
    "geo_point_in_polygon_raycast",
    # every vector scored against broadcast query/centroid set
    "sim_cosine_topk_bruteforce",
    "sim_ann_ivf_bucketed",
    "sim_ann_ivf_nprobe2",
    "sim_hard_negative_mining",     # same broadcast-centroid probe stage as nprobe2
    "emb_matryoshka_recall",        # brute-force scoring twice (full/half dims)
    "text_bigram_logprob",          # 1-row broadcast vocabulary size
    "sim_kmeans_assignments",
    "sample_cluster_diversity",      # same k-centroid broadcast argmin as kmeans
    "sim_semdedup_prune",            # same k-centroid broadcast argmin (assignment stage)
    # emb_ivfpq_index's broadcast-centroid cross now sits behind the
    # materialized residual frame (r16 C6) — invisible to this audit
    # (the documented LogicalRDD caveat), so its entry is pruned; the
    # family members below still show their query-side probe cross.
    "emb_ivfpq_incremental",        # frozen-centroid broadcast argmin on the add path
    "sim_ann_ivfpq_search",         # queries/members scored vs broadcast centroids
    "sim_ann_ivfpq_rerank",         # same ADC stage feeding the exact rerank
    "sim_ann_ivfpq_filtered",       # same ADC stage with a pre-filtered code table
    # Lloyd training + assignment/probe: every vector scored against
    # the broadcast k-row trained-centroid frame (the sim_kmeans shape,
    # k rounds deep), then the ivf_search broadcast-query probe
    "sim_ann_ivf_trained",
    "sim_ann_ivf_scaled",           # same trained-centroid broadcast shape, k=32
    # cohesion audit: lloyd_train + one more broadcast-centroid argmin
    # keeping the distance, plus the k×k (64-row) centroid pair table
    "sim_kmeans_cohesion_audit",
    # recall audit: brute exact leg + both trained tiers in one plan —
    # every cross is a broadcast query/centroid/1-row-count frame
    "sim_ann_recall_audit",
    # MMR shortlist scoring: corpus vs the broadcast 1-row query
    # frame (single) / <=100-row query frame (grouped) — the
    # sim_cosine_topk_bruteforce shape. Visible since the r16 fold
    # rewrite removed the materialize boundary that hid it (the
    # greedy loop itself is now join-free map-side work)
    "sim_mmr_rerank",
    "sim_mmr_rerank_grouped",
    # hybrid fusion: dense leg = brute_force_topk's broadcast-query
    # scoring pass; lexical leg carries the 1-row corpus-stats frame
    "sim_rrf_fusion",
    # same lexical leg; ANN dense leg adds the trained-centroid
    # broadcast argmin (the sim_ann_ivf_trained shape)
    "sim_rrf_fusion_ann",
    # 1-row broadcast scalar aggregates
    "text_tfidf_topk",              # corpus doc count
    "text_unigram_logprob",         # corpus token total
    "ev_funnel_conversion",         # three stage counts in one row
    "ev_decayed_engagement",        # 1-row max-timestamp anchor frame
    "a12_cms_heavy_hitters",        # 1-row total-count frame for the CMS bound
    "a13_theta_join_cardinality",   # 1-row buyers-sketch frame for the pair algebra
    "a10_theta_audience_overlap",   # T-row (event types) sketch-pair algebra
    "a11_kll_quantile_rollup",      # 1-row merged-sketch x 1-row exact frame
    "emb_pca_power_projection",     # per-round max|u| renormalizer
    "sample_temperature_mix",       # total source weight
    "text_vocab_coverage",          # corpus token total
    "text_pmi_collocations",        # 1-row token/bigram totals
    "a9_key_skew_profile",          # 1-row total/cardinality frame
    "text_bm25_topk",               # 1-row corpus stats frame
    "sample_importance_dsir",       # 1-row LM totals frame
    "dq_psi_drift",                 # 1-row (ref_total, cur_total) frame
    "dq_benford_audit",             # 1-row grand-total frame
    "agg_woe_price_bins",           # 1-row (event, non-event) totals frame
    # inequality join against a 3-row literal dimension
    "ev_value_band_join",
    # NB classifier: test tokens fanned against the 5-row label-stats
    # broadcast (itself two 1-row scalar crossjoins: vocab size, train
    # doc total) — label-count-bounded, the text_bigram_logprob shape
    "text_nb_langid_classifier",
    # (text_langid_confusion_audit needs NO entry: its nb_train_score
    # scoring crossjoins sit behind the materialize boundary, so the
    # final confusion plan is crossjoin-free)
    # LR classifier: test docs scored against the broadcast 1-ROW
    # weight frame (train-side gradient crossjoins sit behind
    # materialize boundaries)
    "text_lr_quality_classifier",
    # LR scoring stage: held-out docs vs the broadcast 1-ROW weight
    # frame (same shape as text_lr_quality_classifier, reused core)
    "dq_calibration_ece",
    # two 1-row scalar frames combined (totals x chance-agreement sum)
    "dq_classifier_agreement_kappa",
    # FK-violation count x 1-row table-total frame
    "dq_constraint_suite",
    # 1-row total source-weight frame (the sample_temperature_mix shape)
    "sample_mix_epoch_plan",
    # 1-row (tr, tc, k) totals frame (the dq_psi_drift shape)
    "dq_chi2_drift",
    # five 1-row count frames combined into the single audit row
    # (the dq_constraint_suite shape)
    "er_blocking_quality",
    # t-closeness grid: each quasi-id cell fanned by the broadcast
    # sensitive-value DOMAIN (≤10 rows) for the cumulative-distance
    # sum, plus 1-row scalar totals (N, m−1)
    "pii_t_closeness_audit",
    # whole_name (unblocked) pass: the constant block key folds the
    # PassJoin FALLBACK leg's equi-condition to true, leaving its
    # length-band inequality as a BNLJ — build side is the indexed
    # names SHORTER THAN tau+1 CHARS (ln < 3), bounded by the alphabet
    # (a constant), and empty on real name data; the main candidate
    # join keeps its (seg_idx, len, substring) hash equi-keys
    "geo_fuzzy_link_feed_full",
}
# NOTE: queries whose cross-join shapes sit BEHIND a lazy checkpoint
# (bpe rounds' 1-row top-pair join, emb_pq_codes' codebook argmin) show
# up as LogicalRDD in the static plan, so the audit cannot see inside
# them — their join shapes are documented in the operator modules and
# exercised by parity instead.

#: (query, regex that must appear in the plan) — the pushdown/pruning
#: whose presence *is* the operator's scale story.
#: dedup_incremental_minhash's boundary pushdown cannot be asserted
#: here: its scan sits behind the materialized banded frame
#: (LogicalRDD), so the static plan hides it — the judge-verified
#: below-the-self-join filter placement is covered by the operator's
#: docstring and parity instead.
PUSHDOWN_REQUIRED = {
    "p5_incremental_predicate": re.compile(r"PushedFilters: \[[^\]]*GreaterThan"),
    # column pruning: the projection must reach the parquet scan — a
    # scan reading all of lineitem for a 2-column projection is wrong
    "p1_column_projection": re.compile(
        r"ReadSchema: struct<l_orderkey:\w+,l_linenumber:\w+,l_quantity:[\w()., ]+>"
    ),
}

CARTESIAN = re.compile(r"CartesianProduct|BroadcastNestedLoopJoin")

#: Plan-shape ceilings pinning the r16/r17 optimization wins
#: (r16 verdict #5): (max "Exchange" occurrences, max "Window"
#: occurrences, max "events.parquet" scans) in the sf0.001 simple-mode
#: plan of each plan-paired query, set to the counts measured on the
#: optimized tree. A count above its ceiling means a won shape
#: silently regrew (a window argmin came back, a materialize boundary
#: was lost, a duplicated subtree re-planned) — fix the plan, don't
#: raise the ceiling without a plan-pair justifying it. The counts are
#: loose unions of the wins, not exact equalities, so benign planner
#: drift below the ceiling stays green.
PLAN_SHAPE_MAX: dict[str, tuple[int, int, int]] = {
    # C1 (r16): map-side array_min argmin replaced crossJoin+window
    "sim_kmeans_assignments": (3, 0, 0),
    "sim_semdedup_prune": (6, 0, 0),
    "sim_ann_ivf_trained": (8, 3, 0),
    "sim_ann_ivf_scaled": (8, 3, 0),
    # C5 (r16): NB counts/conf materialized once
    "dq_classifier_agreement_kappa": (5, 0, 0),
    "text_nb_langid_classifier": (17, 0, 0),
    # C6 (r16): IVF-PQ residual frame materialized once
    "emb_ivfpq_index": (3, 0, 0),
    "emb_ivfpq_incremental": (8, 0, 0),
    "sim_ann_ivfpq_search": (9, 6, 0),
    "sim_ann_ivfpq_filtered": (11, 6, 0),
    "sim_ann_ivfpq_rerank": (14, 9, 0),
    # C8 (r16): funnel frontiers materialized (events scanned once in
    # the final frame; the stage frames sit behind checkpoints)
    "ev_conversion_latency_histogram": (5, 0, 1),
    # C2 (r16): adjacency-array walks (per-hop windows gone)
    "graph_node2vec_walks": (10, 0, 0),
    "graph_walk_skipgram_pairs": (11, 0, 0),
    "graph_deterministic_walks": (6, 0, 0),
    # C3 (r16): array-native BPE (exchange-free final frame)
    "text_bpe_encode": (0, 0, 0),
    # C9 (r16): greedy MMR as one map-side fold
    "sim_mmr_rerank": (3, 0, 0),
    "sim_mmr_rerank_grouped": (4, 3, 0),
    # r17: DIMSUM sorted-basket map-side pairing
    "graph_copurchase_cosine_dimsum": (1, 0, 0),
    # r17: single-partition CC fast path (gated on edge count)
    "dedup_connected_components": (1, 0, 0),
    "dedup_cc_star_converged": (0, 0, 0),
    "dedup_cluster_canonical": (5, 1, 0),
    "sample_split_leakfree": (3, 0, 0),
    # one-shot ER resolve: blocking PassJoin + star-CC label chain
    "er_resolve_entities": (15, 0, 0),
    # bulk surrogate ids numbered in one narrow projection over the
    # materialized new keys (was (8, 1, 0): count exchanges, prefix-sum
    # aggregate, max-id cross join, _pid window)
    "m3_stable_surrogate_ids": (2, 0, 0),
    # enrich and prune as one inner join with the address_pid → site_id
    # mapping: one addresses subtree, one orders scan (was (5, 0, 0):
    # a left join for the mapping, then a semi-join on addresses again)
    "pipeline_prune_enrich_composite": (3, 0, 0),
}

#: Queries allowed to keep a Window with an EMPTY partition spec — the
#: single-partition sort WindowExec warns about. Every entry must prove
#: the window's input frame is bounded (≤ top-k rows) — e.g. it sits
#: above an orderBy().limit(k). Unbounded frames must use the
#: windowless sorted-array rank in operators/topk.py instead. Keep
#: EMPTY if at all possible.
UNPARTITIONED_WINDOW_ALLOWED: dict[str, str] = {
    # two-phase distributed scan: the global window runs over the
    # per-partition TOTALS frame (<= _PACK_SCAN_PARTS = 32 rows, one
    # per scan partition — bounded metadata, never rows); the per-doc
    # cumsum window is partitioned by pid
    "sample_pack_concat_chunks": "offsets over <=32-row partition totals",
}


def _empty_partition_windows(logical_plan) -> list[str]:
    """Walk a logical plan (py4j) and return the simpleString of every
    Window node whose partitionSpec is empty. Windows hidden behind a
    materialize() boundary (LogicalRDD) are invisible here — same
    caveat as the cartesian audit above."""
    found: list[str] = []
    stack = [logical_plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            found.append(node.simpleString(200))
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return found


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    for name, fn in QUERIES.items():
        qe = fn(spark, SF_DIR)._jdf.queryExecution()
        out[name] = {
            "plan": qe.explainString(mode),
            "empty_windows": _empty_partition_windows(qe.optimizedPlan()),
        }
    return out


def test_no_unexpected_cartesian(plans):
    offenders = sorted(
        name
        for name, info in plans.items()
        if CARTESIAN.search(info["plan"]) and name not in CARTESIAN_ALLOWED
    )
    assert offenders == [], (
        f"non-allowlisted cartesian/BNLJ in: {offenders} — either fix the "
        f"plan or justify an allowlist entry"
    )


def test_cartesian_allowlist_minimal(plans):
    stale = sorted(
        name for name in CARTESIAN_ALLOWED
        if name in plans and not CARTESIAN.search(plans[name]["plan"])
    )
    assert stale == [], (
        f"allowlist entries whose plans no longer contain a cartesian: "
        f"{stale} — prune them so the allowlist stays minimal"
    )


def test_plan_shape_ceilings(plans):
    """The r16/r17 plan wins may not silently regress: each pinned
    query's Exchange/Window/events-scan counts must stay at or below
    the ceilings measured on the optimized tree (see PLAN_SHAPE_MAX)."""
    over = {}
    for name, (max_ex, max_win, max_ev) in PLAN_SHAPE_MAX.items():
        if name not in plans:
            continue
        p = plans[name]["plan"]
        got = (
            p.count("Exchange"),
            p.count("Window"),
            p.count("events.parquet"),
        )
        if got[0] > max_ex or got[1] > max_win or got[2] > max_ev:
            over[name] = {
                "got (exchange, window, events_scans)": got,
                "max": (max_ex, max_win, max_ev),
            }
    assert over == {}, (
        f"plan shapes regrew past their pinned ceilings: {over} — a won "
        f"optimization regressed; fix the plan (or justify a new ceiling "
        f"with a before/after plan pair)"
    )


def test_pushdown_reaches_scan(plans):
    missing = sorted(
        name for name, pat in PUSHDOWN_REQUIRED.items()
        if name in plans and not pat.search(plans[name]["plan"])
    )
    assert missing == [], f"expected pushed filters not in scan for: {missing}"


def test_no_unpartitioned_window(plans):
    """No registry query may plan a Window with an empty partition spec
    — the single-partition sort that WindowExec warns about and that
    becomes THE job at 100 TB. Global top-k/rank shapes must go through
    operators/topk.py (TakeOrderedAndProject + windowless array rank)."""
    offenders = {
        name: info["empty_windows"]
        for name, info in plans.items()
        if info["empty_windows"] and name not in UNPARTITIONED_WINDOW_ALLOWED
    }
    assert offenders == {}, (
        f"unpartitioned Window in optimized plans: {offenders} — rewrite "
        f"with operators/topk.py (orderBy().limit(k) + sorted-array rank) "
        f"or, for a frame PROVEN <= top-k rows, add a justified "
        f"UNPARTITIONED_WINDOW_ALLOWED entry"
    )


def test_unpartitioned_window_allowlist_minimal(plans):
    stale = sorted(
        name for name in UNPARTITIONED_WINDOW_ALLOWED
        if name in plans and not plans[name]["empty_windows"]
    )
    assert stale == [], (
        f"UNPARTITIONED_WINDOW_ALLOWED entries whose plans no longer "
        f"contain an unpartitioned window: {stale} — prune them"
    )
