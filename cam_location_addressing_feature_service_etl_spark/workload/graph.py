"""Graph analytics over the relational schema: fixed-round PageRank
on the customer↔supplier interaction graph.

Together with ``dedup_connected_components`` this gives the engine an
iterative-graph family: deterministic round counts make both
oracle-checkable (the SQL unrolls the same rounds as CTEs), and both
share the same scale shape — edge set materialized once, one
join + grouped aggregate per round, lineage truncated per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.labelprop import label_propagation
from ..operators.pagerank import pagerank
from ..tables import load_tuned
from . import register
from ..runtime import materialize

_PR_ROUNDS = 3
_PR_DAMP = 0.85
# The teleport constant is passed as the SAME literal to both engines:
# Python's 1.0 - 0.85 is 1 ulp above the double nearest "0.15", and the
# per-round ROUND(..., 6) could flip between Spark and the oracle.
_PR_TELEPORT = 0.15


def _pagerank_oracle(rounds: int = _PR_ROUNDS) -> str:
    parts = [
        """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src, CAST(1.0 AS DOUBLE) AS pr FROM deg)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node, SUM(r.pr / d.outdeg) AS s
  FROM edges e JOIN r{i - 1} r ON e.src = r.src JOIN deg d ON e.src = d.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT deg.src,
         ROUND(CAST({_PR_TELEPORT!r} AS DOUBLE)
               + CAST({_PR_DAMP!r} AS DOUBLE) * COALESCE(c{i}.s, 0), 6) AS pr
  FROM deg LEFT JOIN c{i} ON deg.src = c{i}.node
)"""
        )
    parts.append(f"\nSELECT src AS node, pr AS rank FROM r{rounds}")
    return "".join(parts)


@register("graph_pagerank_3round", oracle=_pagerank_oracle())
def graph_pagerank_3round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({n} fixed rounds, d={d}) over the symmetrized
    customer↔supplier graph (an edge per distinct customer-supplier
    trading pair from orders ⋈ lineitem). Fixed rounds + 6-digit
    per-round rounding make the result oracle-checkable independent
    of convergence; the oracle unrolls the rounds as CTEs.

    Scale: the edge build is one shuffle join + distinct; each round
    is a node-keyed join + partial-aggregatable groupBy via
    ``operators/pagerank.py`` — no global stage, AQE splits hub
    skew."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
        # both symmetrization legs consume the (orders ⋈ lineitem +
        # distinct) subtree — materialize it once, not per leg
        .transform(materialize)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return pagerank(
        edges, iterations=_PR_ROUNDS, damping=_PR_DAMP, teleport=_PR_TELEPORT
    )


graph_pagerank_3round.__doc__ = graph_pagerank_3round.__doc__.format(
    n=_PR_ROUNDS, d=_PR_DAMP
)


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered) on the supplier co-purchase graph
# ---------------------------------------------------------------------------

#: suppliers are connected when they supply >= this many common parts
_TRI_MIN_SHARED = 22
_TRI_TOP = 20


@register(
    "graph_triangle_counts",
    oracle=f"""
WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (
  SELECT a.s AS u, b.s AS v
  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2 HAVING COUNT(*) >= {_TRI_MIN_SHARED}
),
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
  GROUP BY 1
),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v) THEN e.u ELSE e.v END AS src,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e.u < e.v) THEN e.v ELSE e.u END AS dst
  FROM edges e JOIN deg da ON da.n = e.u JOIN deg db ON db.n = e.v
),
wedges AS (
  SELECT a.src AS apex, a.dst AS x, b.dst AS y
  FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst
),
tri AS (
  SELECT w.apex, w.x, w.y
  FROM wedges w JOIN edges e ON e.u = w.x AND e.v = w.y
),
pn AS (
  SELECT unnest([apex, x, y]) AS node, 1 AS one FROM tri
),
counts AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM pn GROUP BY node
)
SELECT node, triangles, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT node, triangles,
         ROW_NUMBER() OVER (ORDER BY triangles DESC, node ASC) AS rnk
  FROM counts
) WHERE rnk <= {_TRI_TOP}
""",
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} suppliers by triangle participation in the supplier
    co-purchase graph (edge when two suppliers supply ≥ {k} common
    parts). Degree-ordered orientation (operators/triangles.py) keeps
    the wedge join bounded by Σ min-deg² — the "last reducer" fix for
    hub skew; the co-occurrence edge build is one self-join on the
    part key whose fan-out is bounded by per-part supplier counts (at
    web scale, cap per-part fan-out or raise the threshold — the
    HAVING pushes into the partial aggregate either way)."""
    from ..operators.topk import ASC, DESC, global_topk_ranked
    from ..operators.triangles import triangle_counts_per_node

    (lineitem,) = load_tuned(spark, sf_dir, "lineitem")
    # both sides of the co-occurrence self-join consume the distinct
    # (part, supplier) projection — materialize it once (Spark does not
    # reuse exchanges across self-join branches)
    ps = (
        lineitem.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .transform(materialize)
    )
    edges = (
        ps.alias("a")
        .join(
            ps.alias("b"),
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("id_a"), F.col("b.s").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= _TRI_MIN_SHARED)
        .select("id_a", "id_b")
    )
    counts = triangle_counts_per_node(edges)
    # top-k via TakeOrderedAndProject (distributed per-partition heaps;
    # the node-count frame is never globally sorted), then the
    # windowless k-row rank of operators/topk.py.
    return global_topk_ranked(
        counts,
        [(F.col("triangles"), DESC), (F.col("node"), ASC)],
        _TRI_TOP,
        ["node", "triangles"],
    )


graph_triangle_counts.__doc__ = graph_triangle_counts.__doc__.format(
    top=_TRI_TOP, k=_TRI_MIN_SHARED
)


# ---------------------------------------------------------------------------
# k-core peeling on the repeat-trading graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3
#: an edge requires this many distinct orders between the pair
_KCORE_MIN_ORDERS = 2


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    parts = [
        f"""
WITH e0 AS (
  SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS u,
         's:' || CAST(l.l_suppkey AS VARCHAR) AS v
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2 HAVING COUNT(DISTINCT o.o_orderkey) >= {_KCORE_MIN_ORDERS}
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
d{i} AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e{i - 1} UNION ALL SELECT v AS n FROM e{i - 1})
  GROUP BY n
),
k{i} AS (SELECT n FROM d{i} WHERE d >= {k}),
e{i} AS (
  SELECT u, v FROM e{i - 1}
  JOIN k{i} a ON e{i - 1}.u = a.n JOIN k{i} b ON e{i - 1}.v = b.n
)"""
        )
    parts.append(
        f""",
df AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM e{rounds} UNION ALL SELECT v AS n FROM e{rounds})
  GROUP BY n
)
SELECT n AS node, CAST(d AS BIGINT) AS degree FROM df"""
    )
    return "".join(parts)


@register("graph_kcore_peel3", oracle=_kcore_oracle())
def graph_kcore_peel3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core peeling ({r} fixed rounds) of the repeat-trading graph
    (customer—supplier edge when the pair traded >= {m} distinct
    orders): iteratively drop nodes with degree < {k}, cascading —
    the standard dense-subgraph refinement that separates habitual
    trading cores from one-off pairs, and (over similarity edge sets)
    dense near-dup clusters from pendant chains. Fixed rounds keep
    the result oracle-checkable whether or not the peel has converged
    (operators/kcore.py); the oracle unrolls the identical peels as
    chained CTEs. Scale: the edge set only shrinks; each round is one
    partial-aggregatable degree groupBy + two broadcast anti-joins on the peeled frontier."""
    from ..operators.kcore import kcore_peel

    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("id_a"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("id_b"),
        )
        .agg(F.countDistinct("o_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") >= _KCORE_MIN_ORDERS)
        .select("id_a", "id_b")
    )
    return kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)


graph_kcore_peel3.__doc__ = graph_kcore_peel3.__doc__.format(
    k=_KCORE_K, r=_KCORE_ROUNDS, m=_KCORE_MIN_ORDERS
)


# ---------------------------------------------------------------------------
# Item-item co-purchase cosine similarity (market-basket / DIMSUM shape)
# ---------------------------------------------------------------------------

_COSIM_MIN_COOC = 3

#: Sorted-basket map-side pair generation (r16 verdict #2; guide §2.3
#: "shuffle keys and metadata instead of payloads" / §2.4): collapse
#: each customer's basket to ONE sorted array (a single partial-
#: aggregatable groupBy) and emit the (u < v) pairs MAP-SIDE with a
#: posexplode + slice stream straight into the pair count's partial
#: aggregate. Measured this round (interleaved A/B at sf0.1): it WINS
#: only for the DIMSUM twin (×0.86 — the basket build deduplicates the
#: sampled frame the join form computed twice); for the exact
#: cosine/adamic-adar/triangle forms it LOST ×1.16–1.68 (the
#: self-join's two exchanges already collapse to one at runtime via
#: AQE exchange reuse, and the array path trades codegen'd
#: SMJ+partial-agg for ObjectHashAggregate + per-element slice
#: allocation), so only dimsum ships it. The cap is the hub-degree
#: bound that keeps the per-row array (and the O(deg²) per-row pair
#: stream) memory-safe: a basket above it routes the WHOLE query to
#: the join form — byte-identical pair set — via one bounded scalar
#: gate over the already-materialized basket frame (the measured-gate
#: discipline of operators/dedup.py). Sampled DIMSUM baskets are
#: ~γ·√deg ≪ cap by construction; the fallback covers a γ-misconfig.
#: Documented in SCALING.md.
_BASKET_ARRAY_CAP = 1024


def _basket_pair_stream(baskets: DataFrame, xs: str = "xs") -> DataFrame:
    """MAP-SIDE (u < v) pair stream over a frame of SORTED, distinct
    basket arrays: posexplode each element, pair it with the strictly-
    later slice of the same array. Streaming (no basket² array is ever
    built — the second explode consumes a per-element slice), exact
    (sorted + distinct ⇒ every unordered pair exactly once, a < b)."""
    return baskets.select(
        *[c for c in baskets.columns if c != xs],
        F.col(xs),
        F.posexplode(xs).alias("_i", "_a"),
    ).select(
        *[c for c in baskets.columns if c != xs],
        "_a",
        F.explode(
            F.slice(
                F.col(xs), F.col("_i") + 2, F.size(xs) - F.col("_i") - 1
            )
        ).alias("_b"),
    )


def copurchase_pairs_exact(cp, min_cooc: int):
    """Exact co-occurrence pairs over a (c, p) basket frame: the
    Σ basket² bounded self-join on the customer key, partial-agg
    count, integer HAVING prune. Shared by ``graph_copurchase_cosine``
    and ``scripts/scale_probe.py`` so the probe times the SHIPPED
    operator, not a copy.

    r17 NEGATIVE RESULT (measured, kept out): the sorted-basket
    map-side pair stream (collect_list per customer + posexplode/slice
    pairing — the C2 adjacency-array discipline) LOST the interleaved
    A/B ×1.16 (cosine) / ×1.68 (adamic-adar) at sf0.1: the self-join's
    two cp exchanges canonicalize to ONE at runtime (AQE exchange
    reuse over the identical checkpointed child), so there was no
    shuffle to save, while the array path swapped the codegen'd
    SMJ+partial-agg pair stream for ObjectHashAggregate + per-element
    slice allocation. The DIMSUM twin is the exception (see
    ``copurchase_pairs_dimsum``): there the basket build deduplicates
    the sampled frame the join form computed twice."""
    a, b = cp.alias("a"), cp.alias("b")
    return (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= min_cooc)
    )


def copurchase_pairs_dimsum(cp):
    """DIMSUM-sampled co-occurrence pairs over a (c, p) basket frame:
    per-item keep rate min(1, γ/√deg) in exact integer ppm, the seeded
    md5 coin applied BEFORE the pairing shuffle, Horvitz-Thompson
    ingredients (du/dv/pu/pv) carried through the aggregate. Shared by
    ``graph_copurchase_cosine_dimsum`` and ``scripts/scale_probe.py``
    (same single source of truth for the coin layout — a probe-local
    copy could silently drift from the shipped sampler)."""
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    keep = deg.select(
        "p",
        "d",
        F.least(
            F.lit(1000000).cast("long"),
            F.floor(F.lit(float(_DIMSUM_GAMMA)) * 1000000.0 / F.sqrt(F.col("d"))),
        ).alias("ppm"),
    )
    coin = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(_DIMSUM_SEED + ":"),
                    F.col("c").cast("string"),
                    F.lit(":"),
                    F.col("p").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") % 1000000
    s = cp.join(keep, "p").filter(coin < F.col("ppm"))
    # sorted-basket map-side pairing (r17 — same shape/gate as
    # copurchase_pairs_exact): the struct sorts on p first (distinct
    # within a basket), so the stream emits every sampled (u < v) pair
    # exactly once with its (d, ppm) payload riding along; d/ppm are
    # functions of the item, so the group MINs equal the carried values
    # exactly as in the join form.
    baskets = (
        s.groupBy("c")
        .agg(F.sort_array(F.collect_list(F.struct("p", "d", "ppm"))).alias("xs"))
        .transform(materialize)
    )
    dmax = baskets.agg(F.max(F.size("xs")).alias("m")).collect()[0]["m"] or 0
    if dmax <= _BASKET_ARRAY_CAP:
        pairs = _basket_pair_stream(baskets.select("xs")).select(
            F.col("_a.p").alias("u"),
            F.col("_b.p").alias("v"),
            F.col("_a.d").alias("_du"),
            F.col("_b.d").alias("_dv"),
            F.col("_a.ppm").alias("_pu"),
            F.col("_b.ppm").alias("_pv"),
        )
    else:  # hub fallback: the r16 self-join form, byte-identical pairs
        sa = s.select(
            "c",
            F.col("p").alias("u"),
            F.col("d").alias("_du"),
            F.col("ppm").alias("_pu"),
        )
        sb = s.select(
            "c",
            F.col("p").alias("v"),
            F.col("d").alias("_dv"),
            F.col("ppm").alias("_pv"),
        )
        pairs = sa.join(sb, (sa["c"] == sb["c"]) & (sa["u"] < sb["v"])).select(
            "u", "v", "_du", "_dv", "_pu", "_pv"
        )
    return (
        pairs.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("cooc_s"),
            F.min("_du").alias("du"),
            F.min("_dv").alias("dv"),
            F.min("_pu").alias("pu"),
            F.min("_pv").alias("pv"),
        )
        .filter(F.col("cooc_s") >= _DIMSUM_MIN_SAMPLED)
    )


@register(
    "graph_copurchase_cosine",
    oracle=f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM cp GROUP BY p),
pairs AS (
  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cooc
  FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_COSIM_MIN_COOC}
)
SELECT pr.u, pr.v, pr.cooc,
       ROUND(pr.cooc / SQRT(da.d * 1.0 * db.d), 6) AS cosine
FROM pairs pr JOIN deg da ON da.p = pr.u JOIN deg db ON db.p = pr.v
""",
)
def graph_copurchase_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over customer co-purchase baskets
    (parts bought by >= {t} common customers) — the "customers who
    bought X also bought Y" similarity join, the implicit-feedback
    sibling of the embedding near-dup family.

    Shape: the basket self-join on the customer key is bounded by
    Σ basket-size² (never all item pairs); the count aggregate is
    partial (map-side combine collapses each customer's pair list
    before the shuffle) and the integer HAVING prunes before the
    degree joins, which are item-cardinality-sized and AQE-broadcast.
    At web scale this is exactly where DIMSUM (Zadeh & Carlsson)
    sampling slots in — sample each basket ∝ 1/√deg before pairing to
    bound hub baskets; the exact form here IS the correctness oracle
    such a sampler is validated against. Membership is gated on the
    integer co-occurrence count; the cosine is one mirrored
    sqrt-divide ROUNDed at the output edge."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    cp = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(materialize)
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    pairs = copurchase_pairs_exact(cp, _COSIM_MIN_COOC)
    return (
        pairs.join(deg.select(F.col("p").alias("u"), F.col("d").alias("da")), "u")
        .join(deg.select(F.col("p").alias("v"), F.col("d").alias("db")), "v")
        .select(
            "u",
            "v",
            "cooc",
            F.round(
                F.col("cooc") / F.sqrt(F.col("da") * 1.0 * F.col("db")), 6
            ).alias("cosine"),
        )
    )


graph_copurchase_cosine.__doc__ = graph_copurchase_cosine.__doc__.format(
    t=_COSIM_MIN_COOC
)


#: DIMSUM sampling: keep a basket entry of item p with probability
#: min(1, GAMMA/sqrt(deg(p))) — hub items contribute ~GAMMA*sqrt(d)
#: surviving instances instead of d, so the pair join's fan-out is
#: bounded. Probabilities are exact integer ppm and the coin is a
#: seeded md5 (both engines replicate it bit-for-bit).
_DIMSUM_GAMMA = "3.0"
_DIMSUM_SEED = "dimsum7"
_DIMSUM_MIN_SAMPLED = 2


@register(
    "graph_copurchase_cosine_dimsum",
    oracle=f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM cp GROUP BY p),
keep AS (
  SELECT p, d,
         LEAST(1000000, CAST(FLOOR({_DIMSUM_GAMMA} * 1000000.0 / SQRT(d)) AS BIGINT)) AS ppm
  FROM deg
),
s AS (
  SELECT cp.c, cp.p, k.d, k.ppm
  FROM cp JOIN keep k ON k.p = cp.p
  WHERE ('0x' || substr(md5('{_DIMSUM_SEED}:' || CAST(cp.c AS VARCHAR) || ':' || CAST(cp.p AS VARCHAR)), 1, 8))::BIGINT
        % 1000000 < k.ppm
),
pairs AS (
  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS cooc_s,
         MIN(a.d) AS du, MIN(b.d) AS dv, MIN(a.ppm) AS pu, MIN(b.ppm) AS pv
  FROM s a JOIN s b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_DIMSUM_MIN_SAMPLED}
)
SELECT u, v, cooc_s,
       ROUND(cooc_s * 1000000000000.0 / (pu * pv) / SQRT(du * 1.0 * dv), 6) AS cosine_est
FROM pairs
""",
)
def graph_copurchase_cosine_dimsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMSUM-sampled twin of ``graph_copurchase_cosine`` (Zadeh &
    Carlsson, "Dimension Independent Similarity Computation"): each
    basket entry of item p survives with probability
    min(1, {g}/sqrt(deg(p))), so a hub item's expected surviving
    instances are {g}*sqrt(d) — SUBLINEAR in its degree — and the
    customer-key self-join's fan-out is bounded before pairing, which
    is the hub-basket scale dial the exact form cannot offer. The
    Horvitz-Thompson estimate cosine_est = cooc_s/(p_u*p_v)/sqrt(du*dv)
    is unbiased for the exact cosine.

    Determinism/oracle: the sampling coin is a seeded md5 over
    (customer, item) reduced mod 1e6 against an exact integer-ppm
    threshold — both engines flip identical coins, so the ENTIRE
    sampled pipeline (not just its expectation) is oracle-checked.
    Estimator quality vs the exact query (recall of strong pairs +
    mean squared error) is pinned by a property test
    (tests/test_dimsum_hll_properties.py::test_dimsum_estimator_quality);
    the exact query IS the oracle the sampler is validated against.

    Scale: deg is a partial-aggregatable groupBy broadcast onto the
    basket frame (item-cardinality-sized); the sample filter is a pure
    column predicate applied BEFORE the self-join shuffle; everything
    downstream matches the exact twin's bounded-pair shape."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    cp = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(materialize)
    )
    pairs = copurchase_pairs_dimsum(cp)
    return pairs.select(
        "u",
        "v",
        "cooc_s",
        F.round(
            F.col("cooc_s")
            * 1000000000000.0
            / (F.col("pu") * F.col("pv"))
            / F.sqrt(F.col("du") * 1.0 * F.col("dv")),
            6,
        ).alias("cosine_est"),
    )


graph_copurchase_cosine_dimsum.__doc__ = graph_copurchase_cosine_dimsum.__doc__.format(
    g=_DIMSUM_GAMMA
)


# ---------------------------------------------------------------------------
# Label propagation (community detection) on the trading graph
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
r0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
v{i} AS (
  SELECT node, label, cnt,
         ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
  FROM (
    SELECT node, label, COUNT(*) AS cnt FROM (
      SELECT e.dst AS node, r.label
      FROM edges e JOIN r{i - 1} r ON r.node = e.src
      UNION ALL
      SELECT node, label FROM r{i - 1}
    ) GROUP BY 1, 2
  )
),
r{i} AS (SELECT node, label FROM v{i} WHERE rn = 1)"""
        )
    parts.append(f"\nSELECT node, label FROM r{rounds}")
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: {n} synchronous label-propagation rounds
    over the symmetrized customer↔supplier trading graph (the
    pagerank edge set). Deterministic by construction — self-vote
    damping (mandatory: the graph is bipartite, pure sync LPA
    oscillates), ties broken by MIN label — so the oracle can unroll
    the identical rounds as CTEs; no convergence flag, no randomness.

    Scale: ``operators/labelprop.py`` — per round one node-keyed join
    plus two partial-aggregatable groupBys (vote counts, then
    min(struct(-cnt,label)) argmax); NO window function anywhere, so
    every stage map-side combines and hub skew is an AQE split, not a
    sort spill. Lineage truncated per round, edges materialized once.
    """
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
        .transform(materialize)
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    return label_propagation(edges, rounds=_LPA_ROUNDS)


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    n=_LPA_ROUNDS
)


# ---------------------------------------------------------------------------
# Hierarchy resolution by pointer jumping (log-depth rounds)
# ---------------------------------------------------------------------------

_PJ_ROUNDS = 5  # covers depth <= 2^5 = 32; the decimal trie here is <= 7


@register(
    "graph_pointer_jump_roots",
    oracle="""
WITH RECURSIVE nodes AS (SELECT DISTINCT p_partkey AS node FROM part),
walk(node, cur, d) AS (
  SELECT node, node, 0 FROM nodes
  UNION ALL
  SELECT node, cur // 10, d + 1 FROM walk WHERE cur >= 10
)
SELECT node, CAST(cur AS BIGINT) AS root, CAST(d AS BIGINT) AS depth
FROM walk WHERE cur < 10
""",
)
def graph_pointer_jump_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy resolution — every node's ROOT and DEPTH in a forest
    (org charts, bill-of-materials, reply threads, category trees) —
    in LOG-DEPTH rounds by POINTER JUMPING: each round joins the
    ancestor-pointer frame with itself (my ancestor's ancestor becomes
    my ancestor; hop counts add), so known-ancestor distance DOUBLES
    per round and {r} rounds resolve any depth ≤ 2^{r}. The naive
    one-parent-per-round walk needs DEPTH rounds — the difference
    between 5 shuffles and 10,000 on a deep tree; this is the tree
    analogue of the star-contraction trick the CC family uses. The
    fixture forest is the decimal trie over part keys (parent = key
    DIV 10, roots are single digits — depth ≤ 7 at any testdata SF),
    but the TRAVERSAL is generic over the (node, parent) edge
    relation; only edge construction knows the rule. The oracle walks
    the same relation with a recursive CTE — round-count independent,
    checking the true fixed point. Per round: one self equi-join of
    the pointer frame + lineage truncation; resolved (root-pointing)
    rows stop changing, and at scale the join key is the pointer
    column, so AQE sees the shrinking frontier. Measured regimes
    (scripts/pj_regimes.py): on a depth-63 chain forest pointer
    jumping is 4.7x the naive walk (2.8s vs 13.2s) and 6 naive rounds
    return 112k WRONG rows; on this shallow trie the naive walk's
    cheaper per-round join wins (1.7s vs 3.9s) — kept on pointer
    jumping because 2^rounds is a depth BOUND, where the naive round
    count must track the data's actual depth to even be correct."""
    from ..operators.hierarchy import pointer_jump
    from ..session import tune
    from ..tables import load

    tune(spark)
    part = load(spark, sf_dir, "part")
    parents = part.select(F.col("p_partkey").alias("node")).distinct().select(
        "node",
        F.when(F.col("node") < 10, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("node") / 10).cast("long"))
        .alias("parent"),
    )
    out = pointer_jump(parents, _PJ_ROUNDS)
    return out.select(
        "node",
        F.col("root").cast("long"),
        F.col("depth").cast("long"),
    )


graph_pointer_jump_roots.__doc__ = graph_pointer_jump_roots.__doc__.format(
    r=_PJ_ROUNDS
)


# ---------------------------------------------------------------------------
# Link prediction: Adamic-Adar + neighbor-Jaccard over co-purchase
# ---------------------------------------------------------------------------


@register(
    "graph_adamic_adar_linkpred",
    oracle=f"""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
cdeg AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS bc FROM cp GROUP BY c
),
cpw AS (
  SELECT cp.c, cp.p,
         CAST(FLOOR(1000000.0 / ln(d.bc) + 0.5) AS BIGINT) AS w_micro
  FROM cp JOIN cdeg d ON d.c = cp.c WHERE d.bc >= 2
),
pdeg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM cp GROUP BY p),
pairs AS (
  SELECT a.p AS u, b.p AS v,
         CAST(COUNT(*) AS BIGINT) AS cooc,
         CAST(SUM(a.w_micro) AS BIGINT) AS aa_micro
  FROM cpw a JOIN cpw b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_COSIM_MIN_COOC}
)
SELECT pr.u, pr.v, pr.cooc,
       ROUND(pr.aa_micro / 1000000.0, 6) AS adamic_adar,
       ROUND(pr.cooc * 1.0 / (da.d + db.d - pr.cooc), 6) AS jaccard
FROM pairs pr JOIN pdeg da ON da.p = pr.u JOIN pdeg db ON db.p = pr.v
""",
)
def graph_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores over the co-purchase graph — the two
    classical common-neighbor indices side by side for every item pair
    sharing >= {t} customers: Adamic-Adar (each shared customer
    contributes 1/ln(basket size) — rare shared neighbors count more
    than hubs, the signal that beats raw co-occurrence for "will these
    co-occur next week?") and neighbor-set Jaccard (|Γu∩Γv| /
    |Γu∪Γv|). Complements ``graph_copurchase_cosine``: cosine ranks
    by normalized volume, AA by the INFORMATIVENESS of the shared
    neighbors.

    Determinism discipline: the per-customer AA weight is quantized
    ONCE to integer micro-units (floor(1e6/ln(bc)+0.5) — ln of an
    exact integer is the same IEEE double on both engines), so the
    pair score is an exact integer SUM in any aggregation order;
    Jaccard is the integer rational cooc/(du+dv-cooc). One final
    division per column, rounded at the output edge.

    Scale shape: identical to the cosine twin — weights attach to the
    basket frame BEFORE pairing (a key-sized join, AQE-broadcast when
    small), the self-join is bounded by Σ basket², map-side combine
    collapses each customer's pairs before the shuffle, and the
    integer HAVING prunes before the degree joins. Hub baskets bound
    exactly as there: at web scale the DIMSUM 1/√deg sampler slots in
    front unchanged (the AA weight rides the sampled rows, its
    Horvitz-Thompson correction mirroring cooc's)."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    cp = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .transform(materialize)
    )
    cdeg = cp.groupBy("c").agg(F.count(F.lit(1)).alias("bc"))
    cpw = (
        cp.join(cdeg.filter(F.col("bc") >= 2), "c")
        .select(
            "c",
            "p",
            F.floor(1000000.0 / F.log(F.col("bc")) + 0.5)
            .cast("long")
            .alias("w_micro"),
        )
        .transform(materialize)
    )
    pdeg = cp.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # NOTE (r17): the sorted-basket map-side pairing was tried here and
    # measured ×1.68 SLOWER interleaved — see copurchase_pairs_exact's
    # negative-result note; the self-join's two cp exchanges already
    # collapse to one at runtime (AQE exchange reuse).
    a, b = cpw.alias("a"), cpw.alias("b")
    pairs = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cooc"),
            F.sum(F.col("a.w_micro")).cast("long").alias("aa_micro"),
        )
        .filter(F.col("cooc") >= _COSIM_MIN_COOC)
    )
    return (
        pairs.join(pdeg.select(F.col("p").alias("u"), F.col("d").alias("da")), "u")
        .join(pdeg.select(F.col("p").alias("v"), F.col("d").alias("db")), "v")
        .select(
            "u",
            "v",
            "cooc",
            F.round(F.col("aa_micro") / 1000000.0, 6).alias("adamic_adar"),
            F.round(
                F.col("cooc") * 1.0 / (F.col("da") + F.col("db") - F.col("cooc")),
                6,
            ).alias("jaccard"),
        )
    )


graph_adamic_adar_linkpred.__doc__ = graph_adamic_adar_linkpred.__doc__.format(
    t=_COSIM_MIN_COOC
)


# ---------------------------------------------------------------------------
# Deterministic random walks (node2vec-style corpus prep, hash coins)
# ---------------------------------------------------------------------------

_WALK_STEPS = 3
_WALK_SEED = "wseed7"


def _walks_oracle() -> str:
    parts = [
        """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
nbr AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
  FROM edges
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
w0 AS (SELECT src AS start, src AS cur FROM deg WHERE src LIKE 's:%')"""
    ]
    for t in range(1, _WALK_STEPS + 1):
        parts.append(
            f""",
w{t} AS (
  SELECT w.start, n.dst AS cur, w.cur AS prev{t}
  FROM w{t - 1} w
  JOIN deg d ON d.src = w.cur
  JOIN nbr n ON n.src = w.cur
   AND n.rn = 1 + ('0x' || substr(md5(
         '{_WALK_SEED}:' || w.start || ':' || {t} || ':' || w.cur
       ), 1, 8))::BIGINT % d.d
)"""
        )
    return "".join(parts) + (
        """
SELECT w1.start, w1.cur AS hop1,
       w2.cur AS hop2, w3.cur AS hop3
FROM w1 JOIN w2 ON w2.prev2 = w1.cur AND w2.start = w1.start
        JOIN w3 ON w3.prev3 = w2.cur AND w3.start = w2.start
"""
    )


@register("graph_deterministic_walks", oracle=_walks_oracle())
def graph_deterministic_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the customer↔supplier graph —
    the corpus-generation step of DeepWalk/node2vec embedding training
    (walk sequences ARE the "sentences" the skip-gram model consumes),
    with the RNG replaced by hash coins so the walk corpus is
    reproducible across runs AND engines: at step t from node u, the
    walk started at s takes the neighbor ranked
    1 + md5(seed:s:t:u) mod deg(u) in the per-node (dst-sorted)
    adjacency ranking. One {n}-hop walk starts from every supplier
    node.

    Determinism: the neighbor rank is an exact integer from the md5
    hex prefix (the DIMSUM/bootstrap coin discipline), the adjacency
    ranking is a totally-ordered window per node — no RNG state, no
    float.

    Plan shape (r16, guide §2.4): the adjacency builds once as a
    per-node SORTED neighbor array (one partial-aggregatable groupBy —
    the previous per-node row_number ranking window is gone), and each
    hop is ONE walk⋈adjacency equi-join on ``cur`` with the pick a
    map-side ``element_at(nbrs, 1 + coin mod size)`` — the (rank =
    coin) probe row the previous plan paid a second join to fetch is
    an array index. ``sort_array`` on strings is the same binary UTF8
    ordering as the window's ORDER BY dst, so ranks are identical.

    Scale: L hops cost L walk-frame joins against the node-keyed
    adjacency (broadcast when it fits, else keyed shuffle of
    walk-count rows) — the frontier never explodes to candidate rows.
    Hub-node skew ships ONE array row per hub per join instead of
    deg(hub) ranked rows. The walk table feeds skip-gram windows
    exactly like ``text_train_order_interleave`` feeds packing."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").unionByName(
        pairs.selectExpr("s AS src", "c AS dst")
    )
    adj = (
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("_nbrs"))
        .transform(materialize)
    )
    walk = adj.filter(F.col("src").startswith("s:")).select(
        F.col("src").alias("start"), F.col("src").alias("cur")
    )
    hops = []
    for t in range(1, _WALK_STEPS + 1):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(_WALK_SEED),
                            F.col("start"),
                            F.lit(str(t)),
                            F.col("cur"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.size("_nbrs").cast("long")
            + 1
        )
        walk = (
            walk.join(adj, adj["src"] == walk["cur"])
            .select(
                "start",
                *[F.col(f"hop{i}") for i in range(1, t)],
                F.element_at(F.col("_nbrs"), pick.cast("int")).alias(f"hop{t}"),
            )
            .withColumn("cur", F.col(f"hop{t}"))
        )
        hops.append(f"hop{t}")
    return walk.select("start", *hops)


# ---------------------------------------------------------------------------
# Second-order (p,q-biased) node2vec walks — the return/in-out bias
# needs the PREVIOUS node in both the coin and the transition weights
# ---------------------------------------------------------------------------

_N2V_STEPS = 3
_N2V_SEED = "n2vseed3"
#: node2vec bias: p=4, q=2 — the alpha weights (1/p, 1, 1/q) scaled by
#: 4 to the EXACT integers (return, common-neighbor, far) = (1, 4, 2),
#: so the cumulative-weight inversion below never touches a float
_N2V_W_RETURN = 1
_N2V_W_COMMON = 4
_N2V_W_FAR = 2


def node2vec_walk_frame(
    edges: DataFrame, starts: DataFrame, steps: int, seed: str
) -> DataFrame:
    """Deterministic second-order walks over a symmetric, distinct
    ``(src, dst)`` edge frame from the ``(start)`` nodes: at step t the
    walk at ``cur`` (arrived from ``prev``) assigns every neighbor x
    its integer node2vec weight — ``_N2V_W_RETURN`` when x = prev,
    ``_N2V_W_COMMON`` when (prev, x) is an edge (x closes a triangle
    with where we came from), else ``_N2V_W_FAR``; the first hop has
    no prev and is uniform — and takes the neighbor whose cumulative-
    weight interval (dst-sorted) contains
    ``md5(seed:start:t:cur:prev) mod Σweights``. The RNG of node2vec
    replaced by the hash-coin discipline: exact integers end to end,
    reproducible across runs AND engines (the DuckDB oracle replays
    the identical algebra).

    Plan shape (r16, guide §2.3/§2.4 — shuffle keys and metadata, not
    the candidate explosion): the edge set is collapsed ONCE to a
    per-node sorted adjacency array (one partial-aggregatable
    groupBy), and each hop is a walk⋈adjacency equi-join on ``cur``
    plus a LEFT walk⋈adjacency join on ``prev`` — the weighting, the
    integer cumulative-weight inversion and the interval pick are a
    MAP-SIDE fold over the sorted neighbor array (``aggregate`` with a
    (cum, pick) struct accumulator), replaying the exact
    (dst ASC)-ordered window cumsum the previous plan shuffled
    frontier×degree exploded rows to evaluate. The triangle check is
    ``array_intersect`` of the two sorted adjacency arrays (hash-set
    build, O(deg_cur + deg_prev)) + membership against that
    intersection — the (prev, dst) edge-set SMJ probe is gone.

    Scale: per hop the only shuffle-eligible rows are the WALK frame
    itself (adjacency broadcasts when it fits, else the join keys on
    node id) — the frontier×degree candidate explosion never crosses
    the network, where the previous shape shuffled it three times per
    hop (edge join, (prev,dst) probe, per-walk window). Per-task cost
    picks up the O(deg_cur · |common(prev,cur)|) membership loop —
    bounded by the intersection, which hub skew shrinks (a hub's
    neighbors rarely share many neighbors with one walker's prev) —
    the classic shuffle-for-compute trade of guide §2.3. node2vec's
    alias-table preprocessing (per (prev,cur) pair) would instead pay
    O(Σ deg(u)·deg(v)) state; the per-hop join+fold form is the one
    that survives 100 TB."""
    adj = (
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("_nbrs"))
        .transform(materialize)
    )
    padj = adj.select(
        F.col("src").alias("_psrc"), F.col("_nbrs").alias("_pnbrs")
    )
    walk = starts.select(
        F.col("start"),
        F.col("start").alias("cur"),
        F.lit(None).cast("string").alias("prev"),
    )
    # Higher-order-function discipline (measured this round, 17x): a
    # COMPUTED outer column referenced once inside a lambda gets
    # CollapseProject-inlined and re-evaluated PER ELEMENT (the
    # tokenize-once gotcha). Every per-row scalar the fold needs — the
    # intersection, the weight total, the coin — is therefore threaded
    # through the folds' ZERO-value structs, which Spark evaluates once
    # per row, never per element.
    def wt(x, common):
        return (
            F.when(F.col("prev").isNull(), F.lit(1))
            .when(x == F.col("prev"), F.lit(_N2V_W_RETURN))
            .when(F.array_contains(common, x), F.lit(_N2V_W_COMMON))
            .otherwise(F.lit(_N2V_W_FAR))
        ).cast("long")

    for t in range(1, steps + 1):
        cand = (
            walk.join(adj, adj["src"] == walk["cur"]).drop("src")
            .join(padj, F.col("_psrc") == F.col("prev"), "left")
        )
        # common neighbors of (prev, cur): sorted-array hash intersect;
        # membership tests run against THIS (≤ min-degree) array, not
        # the full prev adjacency. Computed ONCE per row as the weight
        # fold's zero field.
        common = F.coalesce(
            F.array_intersect(F.col("_nbrs"), F.col("_pnbrs")),
            F.array().cast("array<string>"),
        )
        # weight total: fold carrying (sum, common) so the intersect is
        # the zero expression (once per row)
        pre = F.aggregate(
            F.col("_nbrs"),
            F.struct(
                F.lit(0).cast("long").alias("sum"), common.alias("common")
            ),
            lambda acc, x: F.struct(
                (acc["sum"] + wt(x, acc["common"])).alias("sum"),
                acc["common"].alias("common"),
            ),
            lambda acc: acc,
        )
        coin = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.lit(seed),
                            F.col("start"),
                            F.lit(str(t)),
                            F.col("cur"),
                            F.coalesce(F.col("prev"), F.lit("-")),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("_pre")["sum"]
        )
        # interval pick = first neighbor (dst ASC) whose cumulative
        # weight exceeds the coin — identical to the window form's
        # (coin >= cum - w AND coin < cum) interval filter, because the
        # cumsum is strictly increasing (all weights >= 1). coin and
        # common ride in the accumulator (once-per-row).
        picked = F.aggregate(
            F.col("_nbrs"),
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(None).cast("string").alias("pick"),
                F.col("_coin").alias("coin"),
                F.col("_pre")["common"].alias("common"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + wt(x, acc["common"])).alias("cum"),
                F.when(
                    acc["pick"].isNull()
                    & (acc["coin"] < acc["cum"] + wt(x, acc["common"])),
                    x,
                )
                .otherwise(acc["pick"])
                .alias("pick"),
                acc["coin"].alias("coin"),
                acc["common"].alias("common"),
            ),
            lambda acc: acc["pick"],
        )
        walk = (
            cand.withColumn("_pre", pre)
            .withColumn("_coin", coin)
            .select(
                "start",
                *[F.col(f"hop{i}") for i in range(1, t)],
                picked.alias(f"hop{t}"),
                F.col("cur").alias("prev"),
            )
            .withColumn("cur", F.col(f"hop{t}"))
        )
    return walk.select("start", *[f"hop{i}" for i in range(1, steps + 1)])


def _n2v_oracle() -> str:
    hops_out = ", ".join(f"hop{i}" for i in range(1, _N2V_STEPS + 1))
    return _n2v_cte() + f"\nSELECT start, {hops_out} FROM w{_N2V_STEPS}"


def _n2v_cte() -> str:
    """The WITH chain replaying the node2vec walk algebra through
    ``w{_N2V_STEPS}`` — shared by the walk oracle and the skip-gram
    corpus oracle."""
    parts = [
        """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l.l_suppkey AS VARCHAR) AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
w0 AS (
  SELECT DISTINCT src AS start, src AS cur, CAST(NULL AS VARCHAR) AS prev
  FROM edges WHERE src LIKE 's:%'
)"""
    ]
    for t in range(1, _N2V_STEPS + 1):
        hops_in = ", ".join(f"w.hop{i}" for i in range(1, t))
        hops_mid = ", ".join(f"hop{i}" for i in range(1, t))
        sel_in = (hops_in + ", ") if hops_in else ""
        sel_mid = (hops_mid + ", ") if hops_mid else ""
        parts.append(
            f""",
w{t} AS (
  SELECT start, {sel_mid}dst AS hop{t}, dst AS cur, cur AS prev
  FROM (
    SELECT x.*,
           SUM(wt) OVER (PARTITION BY start ORDER BY dst
                         ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(wt) OVER (PARTITION BY start) AS tot
    FROM (
      SELECT w.start, {sel_in}w.cur, w.prev, e.dst,
             CAST(CASE WHEN w.prev IS NULL THEN 1
                       WHEN e.dst = w.prev THEN {_N2V_W_RETURN}
                       WHEN pe.src IS NOT NULL THEN {_N2V_W_COMMON}
                       ELSE {_N2V_W_FAR} END AS BIGINT) AS wt
      FROM w{t - 1} w
      JOIN edges e ON e.src = w.cur
      LEFT JOIN edges pe ON pe.src = w.prev AND pe.dst = e.dst
    ) x
  ) y
  WHERE ('0x' || substr(md5('{_N2V_SEED}:' || start || ':' || {t} || ':'
                            || cur || ':' || COALESCE(prev, '-')), 1, 8)
        )::BIGINT % tot BETWEEN cum - wt AND cum - 1
)"""
        )
    return "".join(parts)


@register("graph_node2vec_walks", oracle=_n2v_oracle())
def graph_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec SECOND-ORDER walks over the customer↔supplier graph —
    ``graph_deterministic_walks`` upgraded with the return/in-out bias
    that makes node2vec node2vec: the transition weight depends on the
    PREVIOUS node (return to prev gets α=1/p, a neighbor that closes a
    triangle with prev gets α=1, a farther node gets α=1/q; p={p},
    q={q}, carried as the exact integers {wr}/{wc}/{wf} so the
    cumulative-weight inversion is float-free), and the hash coin
    includes prev so identical (cur, prev) states draw identical
    transitions. One {n}-hop walk per supplier node, hop 1 uniform
    (no prev yet).

    Determinism/oracle: the coin is the md5-prefix integer mod the
    integer weight total; the picked neighbor is the one whose
    cumulative interval (dst-sorted per walk) contains the coin — the
    DuckDB oracle replays the identical joins, CASE weights, window
    cumsum and interval pick, hop by hop.

    Scale: see ``node2vec_walk_frame`` — the extra cost over
    first-order is exactly one (prev, dst) edge-set probe per hop."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").unionByName(
        pairs.selectExpr("s AS src", "c AS dst")
    ).transform(materialize)
    starts = (
        edges.filter(F.col("src").startswith("s:"))
        .select(F.col("src").alias("start"))
        .distinct()
    )
    return node2vec_walk_frame(edges, starts, _N2V_STEPS, _N2V_SEED)


graph_node2vec_walks.__doc__ = graph_node2vec_walks.__doc__.format(
    p=4, q=2, wr=_N2V_W_RETURN, wc=_N2V_W_COMMON, wf=_N2V_W_FAR, n=_N2V_STEPS
)


# ---------------------------------------------------------------------------
# Skip-gram training pairs from the walk corpus — the step that turns
# node2vec walks into the (center, context) corpus the embedding
# trainer consumes
# ---------------------------------------------------------------------------

_SG_WINDOW = 2


def _skipgram_oracle() -> str:
    pos = ["start"] + [f"hop{i}" for i in range(1, _N2V_STEPS + 1)]
    legs = []
    for i in range(len(pos)):
        for j in range(len(pos)):
            if i != j and abs(i - j) <= _SG_WINDOW:
                legs.append(f"SELECT {pos[i]} AS center, {pos[j]} AS context FROM seqs")
    union = "\n  UNION ALL ".join(legs)
    return f"""{_n2v_cte()},
seqs AS (SELECT start, {", ".join(pos[1:])} FROM w{_N2V_STEPS}),
prs AS (
  {union}
)
SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM prs GROUP BY 1, 2
"""


@register("graph_walk_skipgram_pairs", oracle=_skipgram_oracle())
def graph_walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts from the node2vec walk
    corpus — the materialization step between walk generation and
    embedding training: every walk position emits its neighbors within
    ±{w} positions as ordered training pairs (both directions, the
    word2vec convention), aggregated corpus-wide. Composes
    ``graph_node2vec_walks`` exactly (same seed/bias algebra, so the
    oracle replays the walks THEN the windowing — the full
    walks→pairs pipeline is engine-checked end to end).

    Scale: pair emission is a map-side explode of a per-walk struct
    array (no join — positions are columns of the walk frame), and
    the count is one partial-aggregatable groupBy on (center,
    context) — vocabulary-sized output no matter how many walks;
    longer walks or windows only widen the exploded array."""
    (orders, lineitem) = load_tuned(spark, sf_dir, "orders", "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("c AS src", "s AS dst").unionByName(
        pairs.selectExpr("s AS src", "c AS dst")
    ).transform(materialize)
    starts = (
        edges.filter(F.col("src").startswith("s:"))
        .select(F.col("src").alias("start"))
        .distinct()
    )
    walks = node2vec_walk_frame(edges, starts, _N2V_STEPS, _N2V_SEED)
    pos = ["start"] + [f"hop{i}" for i in range(1, _N2V_STEPS + 1)]
    legs = [
        F.struct(
            F.col(pos[i]).alias("center"), F.col(pos[j]).alias("context")
        )
        for i in range(len(pos))
        for j in range(len(pos))
        if i != j and abs(i - j) <= _SG_WINDOW
    ]
    return (
        walks.select(F.explode(F.array(*legs)).alias("pr"))
        .select(F.col("pr.center").alias("center"), F.col("pr.context").alias("context"))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


graph_walk_skipgram_pairs.__doc__ = graph_walk_skipgram_pairs.__doc__.format(
    w=_SG_WINDOW
)
