"""Fixed-round PageRank as pure DataFrame iteration.

Same engineering shape as ``operators/dedup.connected_components``:
a deterministic, oracle-checkable number of rounds, the edge set
materialized once before fan-out, and lineage truncated per round so
the final plan stays bounded (the GraphX checkpoint pattern).

Scale: each round is one join (edges ⋈ ranks on src) plus one
partial-aggregatable groupBy on dst — shuffle keyed on node id, no
global stage. Skewed hub nodes are handled by AQE skew splitting; at
extreme skew pre-split hubs with the salting operators. Dangling
nodes never arise when the caller feeds an undirected
(symmetrized) edge set — every node then has out-degree ≥ 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..runtime import materialize

#: Standard damping factor.
DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    iterations: int,
    damping: float = DAMPING,
    teleport: float | None = None,
) -> DataFrame:
    """Unnormalized PageRank (init rank 1.0, ``rank = (1-d) + d·Σ
    rank/outdeg``) for exactly ``iterations`` rounds over the given
    directed edge list ``(src, dst)``. Ranks are rounded to 6 digits each round so a
    SQL oracle unrolling the same rounds agrees despite differing
    float summation orders.

    ``teleport`` defaults to ``1 - damping`` but can be passed
    explicitly: ``1.0 - 0.85`` is 1 ulp away from the double nearest
    the literal ``0.15`` a SQL oracle would parse, and the per-round
    ROUND(..., 6) boundary could flip between engines. Callers with a
    SQL twin should pass the same literal to both sides.

    Returns (node, rank). Nodes = distinct sources (feed a
    symmetrized edge set for undirected graphs so every node appears
    and none dangles).
    """
    t = (1.0 - damping) if teleport is None else teleport
    e = edges.select("src", "dst").transform(materialize)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).transform(materialize)
    # Join outdeg onto the edges ONCE, outside the loop: every round
    # then does a single edges ⋈ ranks join instead of edges ⋈ ranks ⋈
    # deg (one edge-sized join per round saved; the division stays
    # rank/outdeg, the exact float expression the SQL oracle computes).
    ew = e.join(deg, "src").select("src", "dst", "outdeg").transform(materialize)
    ranks = deg.select("src", F.lit(1.0).alias("rank"))
    for i in range(iterations):
        contrib = (
            ew.join(ranks, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        ranks = (
            deg.select(F.col("src"))
            .join(contrib.groupBy("node").agg(F.sum("c").alias("s")),
                  deg["src"] == F.col("node"), "left")
            .select(
                "src",
                F.round(
                    F.lit(t) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                    6,
                ).alias("rank"),
            )
        )
        if i < iterations - 1:
            ranks = ranks.transform(materialize)
    return ranks.select(F.col("src").alias("node"), "rank")
