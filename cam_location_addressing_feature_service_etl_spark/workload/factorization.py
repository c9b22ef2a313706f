"""Embedding linear-algebra workload: Gram-matrix PCA power iteration
and product-quantization codes (``operators/factorization.py``).

Both queries run in exact micro-unit integer arithmetic end to end, so
the DuckDB oracles match bit-for-bit with no float tolerance: Spark
sums DECIMAL(38,0) where DuckDB sums HUGEINT, and every division is an
integer division of non-negative operands. The PCA oracle unrolls the
fixed iteration rounds as CTEs exactly like the PageRank/BPE oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.factorization import (
    MICRO,
    gram_matrix,
    micro_array,
    micro_components,
    pca_project,
    power_iteration,
    pq_codes,
)
from ..tables import load_tuned
from . import register
from ..runtime import materialize

_PCA_ROUNDS = 3
_PQ_CODEBOOK = 16
_PQ_SUB_DIMS = 8

_COMP_CTE = f"""raw AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
),
comp AS (
  SELECT vec_id, pos, CAST(FLOOR(x * {MICRO} + 0.5) AS BIGINT) AS xi FROM raw
)"""


def _pca_oracle(rounds: int = _PCA_ROUNDS) -> str:
    parts = [
        f"""
WITH {_COMP_CTE},
gram AS (
  SELECT a.pos AS i, b.pos AS j,
         SUM(CAST(a.xi AS HUGEINT) * CAST(b.xi AS HUGEINT)) AS g
  FROM comp a JOIN comp b USING (vec_id)
  GROUP BY 1, 2
),
v0 AS (SELECT DISTINCT pos, CAST({MICRO} AS HUGEINT) AS vi FROM comp)"""
    ]
    prev = "v0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
u{r} AS (
  SELECT g.i AS pos, SUM(g.g * v.vi) AS u
  FROM gram g JOIN {prev} v ON v.pos = g.j
  GROUP BY 1
),
m{r} AS (SELECT MAX(ABS(u)) AS m FROM u{r}),
v{r} AS (
  SELECT pos,
         CAST(SIGN(u) AS HUGEINT) * COALESCE((ABS(u) * {MICRO}) // NULLIF(m, 0), 0) AS vi
  FROM u{r}, m{r}
)"""
        )
        prev = f"v{r}"
    parts.append(
        f"""
SELECT c.vec_id, CAST(SUM(CAST(c.xi AS HUGEINT) * v.vi) AS BIGINT) AS proj
FROM comp c JOIN {prev} v ON v.pos = c.pos
GROUP BY c.vec_id"""
    )
    return "".join(parts)


@register("emb_pca_power_projection", oracle=_pca_oracle())
def emb_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA: exact Gram matrix (one map-combinable pass —
    the d² reduction that keeps shuffle size independent of corpus
    rows), {n} rounds of exact-integer power iteration on the d×d
    frame, then a broadcast-join projection of every vector onto the
    dominant direction. The classic pre-step for whitening / spectral
    filtering of an embedding corpus before ANN or clustering; at
    100 TB only the first and last stage touch the data, each once."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    xs = micro_array(embeddings, "vec_id", "embedding").transform(materialize)
    x = xs.select("vec_id", F.posexplode("xs").alias("pos0", "xi")).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"), "xi"
    )
    g = gram_matrix(xs)
    v = power_iteration(g, rounds=_PCA_ROUNDS)
    return pca_project(x, v).select("vec_id", F.col("proj"))


emb_pca_power_projection.__doc__ = emb_pca_power_projection.__doc__.format(n=_PCA_ROUNDS)


_PQ_ORACLE = f"""
WITH {_COMP_CTE},
xs AS (
  SELECT vec_id, (pos - 1) // {_PQ_SUB_DIMS} AS subspace, pos, xi FROM comp
),
cb AS (
  SELECT vec_id AS code, subspace, pos, xi AS ci
  FROM xs WHERE vec_id < {_PQ_CODEBOOK}
),
per AS (
  SELECT x.vec_id, x.subspace, c.code,
         SUM((x.xi - c.ci) * (x.xi - c.ci)) AS dist_sq
  FROM xs x JOIN cb c ON c.subspace = x.subspace AND c.pos = x.pos
  GROUP BY 1, 2, 3
),
best AS (
  SELECT vec_id, subspace, code, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                            ORDER BY dist_sq, code) AS rn
  FROM per
)
SELECT vec_id, CAST(subspace AS BIGINT) AS subspace, code,
       CAST(dist_sq AS BIGINT) AS dist_sq
FROM best WHERE rn = 1
"""


@register("emb_pq_codes", oracle=_PQ_ORACLE)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: dims split into {m}-dim subspaces, each
    (vector, subspace) assigned its nearest of the {k} deterministic
    codebook entries (vectors with the lowest ids) under the exact
    integer squared-L2 metric. PQ codes are the memory-compressed
    representation ANN indexes rerank against; the codebook side is
    broadcast and the argmin is a lexicographic struct MIN, so the
    plan is two partial-aggregatable groupBys with no window."""
    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    x = micro_components(embeddings, "vec_id", "embedding")
    return pq_codes(x, codebook_ids=_PQ_CODEBOOK, sub_dims=_PQ_SUB_DIMS).select(
        "vec_id",
        F.col("subspace").cast("long"),
        "code",
        F.col("dist_sq").cast("long"),
    )


emb_pq_codes.__doc__ = emb_pq_codes.__doc__.format(m=_PQ_SUB_DIMS, k=_PQ_CODEBOOK)


_IVFPQ_CELLS = 8
_IVFPQ_CODEBOOK = 16

#: shared CTE chain of the IVF-PQ build — reused verbatim by the index
#: oracle and the ADC-search oracle so both express the SAME index.
_IVFPQ_CTES = f"""{_COMP_CTE},
cent AS (SELECT vec_id AS centroid_id, pos, xi AS ci FROM comp WHERE vec_id < {_IVFPQ_CELLS}),
mem AS (SELECT * FROM comp WHERE vec_id >= {_IVFPQ_CELLS}),
ad AS (
  SELECT m.vec_id, c.centroid_id, SUM((m.xi - c.ci) * (m.xi - c.ci)) AS d
  FROM mem m JOIN cent c USING (pos)
  GROUP BY 1, 2
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, centroid_id) AS rn
    FROM ad
  ) WHERE rn = 1
),
resid AS (
  SELECT m.vec_id, a.centroid_id, m.pos,
         (m.pos - 1) // {_PQ_SUB_DIMS} AS subspace,
         m.xi - c.ci AS ri
  FROM mem m
  JOIN assigned a USING (vec_id)
  JOIN cent c ON c.centroid_id = a.centroid_id AND c.pos = m.pos
),
cb AS (
  SELECT vec_id AS code, subspace, pos, ri AS bi
  FROM resid WHERE vec_id < {_IVFPQ_CELLS + _IVFPQ_CODEBOOK}
),
per AS (
  SELECT r.vec_id, r.centroid_id, r.subspace, c.code,
         SUM((r.ri - c.bi) * (r.ri - c.bi)) AS dist_sq
  FROM resid r JOIN cb c ON c.subspace = r.subspace AND c.pos = r.pos
  GROUP BY 1, 2, 3, 4
),
best AS (
  SELECT vec_id, centroid_id, subspace, code, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY vec_id, subspace
                            ORDER BY dist_sq, code) AS rn
  FROM per
)"""

_IVFPQ_ORACLE = f"""
WITH {_IVFPQ_CTES}
SELECT vec_id, centroid_id, CAST(subspace AS BIGINT) AS subspace, code,
       CAST(dist_sq AS BIGINT) AS dist_sq
FROM best WHERE rn = 1
"""


@register("emb_ivfpq_index", oracle=_IVFPQ_ORACLE)
def emb_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index build — coarse cells + product-quantized RESIDUALS
    (the FAISS composite; residual energy is far smaller than vector
    energy, so the same code budget quantizes far more precisely).
    Cells and codebook are deterministic (lowest-id vectors / member
    residuals), every distance an exact integer, so the whole index
    hash-matches the SQL oracle. Cell assignment is a broadcast
    zip_with/aggregate fold (no explode, no shuffle); the PQ argmin is
    the same two partial-aggregatable groupBys as emb_pq_codes."""
    from ..operators.factorization import ivfpq_index

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    # the array frame fans out into centroid / member / codebook
    # branches — materialize once instead of re-scanning per branch
    xs = micro_array(embeddings, "vec_id", "embedding").transform(materialize)
    return ivfpq_index(
        xs,
        n_cells=_IVFPQ_CELLS,
        codebook_ids=_IVFPQ_CODEBOOK,
        sub_dims=_PQ_SUB_DIMS,
    ).select(
        "vec_id",
        "centroid_id",
        F.col("subspace").cast("long"),
        "code",
        F.col("dist_sq").cast("long"),
    )


_ADC_QUERY_LO, _ADC_QUERY_HI = 8, 18
_ADC_NPROBE = 2
_ADC_K = 3

#: CTE chain through the ADC ranking — shared by the pure-ADC search
#: oracle and the two-stage rerank oracle.
_IVFPQ_SEARCH_CTES = f"""{_IVFPQ_CTES},
q AS (
  SELECT vec_id AS query_id, pos, xi FROM comp
  WHERE vec_id >= {_ADC_QUERY_LO} AND vec_id < {_ADC_QUERY_HI}
),
qd AS (
  SELECT q.query_id, c.centroid_id, SUM((q.xi - c.ci) * (q.xi - c.ci)) AS d
  FROM q JOIN cent c USING (pos)
  GROUP BY 1, 2
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT query_id, centroid_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY d, centroid_id) AS rn
    FROM qd
  ) WHERE rn <= {_ADC_NPROBE}
),
rq AS (
  SELECT p.query_id, p.centroid_id, q.pos,
         (q.pos - 1) // {_PQ_SUB_DIMS} AS subspace,
         q.xi - c.ci AS rqi
  FROM probes p
  JOIN q ON q.query_id = p.query_id
  JOIN cent c ON c.centroid_id = p.centroid_id AND c.pos = q.pos
),
dt AS (
  SELECT r.query_id, r.centroid_id, r.subspace, c.code,
         SUM((r.rqi - c.bi) * (r.rqi - c.bi)) AS dt
  FROM rq r JOIN cb c ON c.subspace = r.subspace AND c.pos = r.pos
  GROUP BY 1, 2, 3, 4
),
codes AS (
  SELECT vec_id, centroid_id, subspace, code FROM best WHERE rn = 1
),
adc AS (
  SELECT d.query_id, k.vec_id AS neighbor_id, SUM(d.dt) AS adc_dist
  FROM codes k
  JOIN dt d ON d.centroid_id = k.centroid_id
           AND d.subspace = k.subspace AND d.code = k.code
  WHERE k.vec_id <> d.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
)
"""

_IVFPQ_SEARCH_ORACLE = f"""
WITH {_IVFPQ_SEARCH_CTES}
SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_ADC_K}
"""


@register("sim_ann_ivfpq_search", oracle=_IVFPQ_SEARCH_ORACLE)
def sim_ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-{k} over the IVF-PQ index emb_ivfpq_index builds — the
    search path that turns the index from an artifact into the 100 TB
    ANN answer: each query probes its {p} nearest cells, builds the
    m×k table of exact integer residual-to-codebook distances, and
    ranks neighbors from their PQ CODES alone (Σ_subspace table
    lookups) — the raw vectors are never read on the scan side.

    Plan: centroids/codebook/distance-tables are broadcast; the scan
    side is the code table restricted to probed cells via a broadcast
    hash join (partition pruning when the index is written partitioned
    by centroid_id); one partial-aggregatable sum per (query,
    neighbor); ranking is a query-PARTITIONED window. All integer
    micro-unit arithmetic — ADC distances hash-match the oracle.
    Recall-vs-exact is pinned in tests/test_factorization.py (the
    sim_ann_ivf_nprobe2 property-test pattern)."""
    from ..operators.factorization import ivfpq_adc_search

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    xs = micro_array(embeddings, "vec_id", "embedding").transform(materialize)
    queries = xs.filter(
        (F.col("vec_id") >= _ADC_QUERY_LO) & (F.col("vec_id") < _ADC_QUERY_HI)
    )
    return ivfpq_adc_search(
        xs,
        queries,
        n_cells=_IVFPQ_CELLS,
        codebook_ids=_IVFPQ_CODEBOOK,
        sub_dims=_PQ_SUB_DIMS,
        k=_ADC_K,
        nprobe=_ADC_NPROBE,
    )


sim_ann_ivfpq_search.__doc__ = sim_ann_ivfpq_search.__doc__.format(
    k=_ADC_K, p=_ADC_NPROBE
)


_RERANK_SHORTLIST = 50

_IVFPQ_RERANK_ORACLE = f"""
WITH {_IVFPQ_SEARCH_CTES},
short AS (
  SELECT query_id, neighbor_id FROM ranked WHERE rank <= {_RERANK_SHORTLIST}
),
ex AS (
  SELECT s.query_id, s.neighbor_id,
         SUM((q.xi - m.xi) * (q.xi - m.xi)) AS dist_sq
  FROM short s
  JOIN comp q ON q.vec_id = s.query_id
  JOIN comp m ON m.vec_id = s.neighbor_id AND m.pos = q.pos
  GROUP BY 1, 2
),
rr AS (
  SELECT query_id, neighbor_id, dist_sq,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dist_sq, neighbor_id) AS rank
  FROM ex
)
SELECT query_id, neighbor_id, CAST(dist_sq AS BIGINT) AS dist_sq,
       CAST(rank AS BIGINT) AS rank
FROM rr WHERE rank <= {_ADC_K}
"""


@register("sim_ann_ivfpq_rerank", oracle=_IVFPQ_RERANK_ORACLE)
def sim_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ search (the production FAISS shape): ADC
    shortlists the top-{r} per query from PQ codes alone, then ONLY
    those Q×{r} candidates are re-scored against raw vectors (exact
    integer squared L2) for the final top-{k}. Repairs PQ quantization
    loss while touching {r} raw vectors per query instead of a cell's
    whole membership — at 100 TB the code table is the scan, the
    vector table is a broadcast-semi-join point fetch, and {r} is the
    recall/fetch dial. Measured regimes at sf0.001 (random-vector
    corpus — PQ's WORST case, no cluster structure for the residual
    codebook to exploit): recall@3 = 0.167 pure-ADC -> 0.500 reranked,
    vs 0.533 probed-cell ceiling (nprobe=2 of 8 cells) — the rerank
    recovers 15 of the 16 reachable true neighbors. Pinned in
    tests/test_factorization.py (adc <= rerank <= ceiling)."""
    from ..operators.factorization import ivfpq_adc_rerank

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    xs = micro_array(embeddings, "vec_id", "embedding").transform(materialize)
    queries = xs.filter(
        (F.col("vec_id") >= _ADC_QUERY_LO) & (F.col("vec_id") < _ADC_QUERY_HI)
    )
    return ivfpq_adc_rerank(
        xs,
        queries,
        n_cells=_IVFPQ_CELLS,
        codebook_ids=_IVFPQ_CODEBOOK,
        sub_dims=_PQ_SUB_DIMS,
        k=_ADC_K,
        nprobe=_ADC_NPROBE,
        shortlist=_RERANK_SHORTLIST,
    )


sim_ann_ivfpq_rerank.__doc__ = sim_ann_ivfpq_rerank.__doc__.format(
    k=_ADC_K, r=_RERANK_SHORTLIST
)


_FILTER_LANG = "en"

#: the search CTE chain with the code table PRE-filtered by the
#: metadata predicate — string-derived from _IVFPQ_SEARCH_CTES so the
#: two oracles can never drift apart structurally.
_IVFPQ_SEARCH_CTES_FILTERED = _IVFPQ_SEARCH_CTES.replace(
    """codes AS (
  SELECT vec_id, centroid_id, subspace, code FROM best WHERE rn = 1
)""",
    f"""allowed AS (
  SELECT doc_id AS vec_id FROM documents WHERE lang = '{_FILTER_LANG}'
),
codes AS (
  SELECT b.vec_id, b.centroid_id, b.subspace, b.code
  FROM best b JOIN allowed a ON a.vec_id = b.vec_id
  WHERE b.rn = 1
)""",
)
assert "allowed AS" in _IVFPQ_SEARCH_CTES_FILTERED

_IVFPQ_FILTERED_ORACLE = f"""
WITH {_IVFPQ_SEARCH_CTES_FILTERED}
SELECT query_id, neighbor_id, CAST(adc_dist AS BIGINT) AS adc_dist,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_ADC_K}
"""


@register("sim_ann_ivfpq_filtered", oracle=_IVFPQ_FILTERED_ORACLE)
def sim_ann_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — ADC top-{k} restricted to neighbors
    whose document metadata passes a predicate (lang = '{lang}'),
    applied as a PRE-filter semi-join on the code table before
    scoring. This is the production 'vector search + WHERE clause'
    shape: post-filtering an unfiltered top-k can return fewer than k
    (or none) under a selective predicate, while the pre-filter
    guarantees k among allowed and costs one semi-join on the
    byte-sized code side — with the index written clustered by the
    filter column, it becomes row-group pruning. Raw vectors are
    still never scanned."""
    from ..operators.factorization import ivfpq_adc_search

    embeddings, docs = load_tuned(spark, sf_dir, "embeddings", "documents")
    allowed = docs.filter(F.col("lang") == _FILTER_LANG).select(
        F.col("doc_id").alias("vec_id")
    )
    xs = micro_array(embeddings, "vec_id", "embedding").transform(materialize)
    queries = xs.filter(
        (F.col("vec_id") >= _ADC_QUERY_LO) & (F.col("vec_id") < _ADC_QUERY_HI)
    )
    return ivfpq_adc_search(
        xs,
        queries,
        n_cells=_IVFPQ_CELLS,
        codebook_ids=_IVFPQ_CODEBOOK,
        sub_dims=_PQ_SUB_DIMS,
        k=_ADC_K,
        nprobe=_ADC_NPROBE,
        allowed=allowed,
    )


sim_ann_ivfpq_filtered.__doc__ = sim_ann_ivfpq_filtered.__doc__.format(
    k=_ADC_K, lang=_FILTER_LANG
)


#: base/increment split for the incremental index query: vectors with
#: id >= _INC_SPLIT arrive "later" and are encoded against the frozen
#: base index. The split keeps every cell/codebook vector in the base.
_INC_SPLIT = 400


@register("emb_ivfpq_incremental", oracle=_IVFPQ_ORACLE)
def emb_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ maintenance: build the index over the base
    vectors (id < {s}), then encode the 'newly arrived' vectors
    (id >= {s}) against the FROZEN cells + codebook and union the
    rows — the FAISS add() path. The ORACLE IS THE FULL REBUILD
    (emb_ivfpq_index's SQL over all vectors): because cells and
    codebook derive from low-id base vectors, add-then-union must be
    bit-identical to rebuilding from scratch — the surrogate-id
    stability discipline applied to index maintenance. At 100 TB this
    turns daily embedding arrivals into one broadcast encode pass
    instead of a corpus re-cluster."""
    from ..operators.factorization import _ivfpq_parts, ivfpq_encode_increment

    (embeddings,) = load_tuned(spark, sf_dir, "embeddings")
    xs = micro_array(embeddings, "vec_id", "embedding").transform(materialize)
    base = xs.filter(F.col("vec_id") < _INC_SPLIT)
    new = xs.filter(F.col("vec_id") >= _INC_SPLIT)
    cents, cb, base_codes = _ivfpq_parts(
        base, n_cells=_IVFPQ_CELLS, codebook_ids=_IVFPQ_CODEBOOK, sub_dims=_PQ_SUB_DIMS
    )
    inc_codes = ivfpq_encode_increment(new, cents, cb, sub_dims=_PQ_SUB_DIMS)
    return (
        base_codes.unionByName(inc_codes)
        .select(
            "vec_id",
            "centroid_id",
            F.col("subspace").cast("long"),
            "code",
            F.col("dist_sq").cast("long"),
        )
    )


emb_ivfpq_incremental.__doc__ = emb_ivfpq_incremental.__doc__.format(s=_INC_SPLIT)
