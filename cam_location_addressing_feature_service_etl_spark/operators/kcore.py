"""Fixed-round k-core peeling over an undirected edge set.

The k-core of a graph is the maximal subgraph in which every node has
degree >= k; it is computed by repeatedly PEELING nodes of degree < k
(removing a node can drop its neighbors below k, hence the rounds).
A fixed round count makes the intermediate state deterministic and
oracle-checkable — the SQL oracle unrolls the same peels as chained
CTEs — mirroring the discipline of ``connected_components`` /
``operators/pagerank.py`` (converged behavior documented, fixed-round
result checked).

Reference provenance: the reference engine has no graph surface; this
extends the dedup-cluster family (SURVEY §2 extensions) where k-core
is the standard "drop weakly-connected boilerplate clusters / keep
dense near-dup cores" refinement over the same similarity edge sets
fed to ``connected_components``.

Scale: the edge set is materialized once and only SHRINKS; each round
is one degree aggregation (partial-aggregatable on node id) plus two
ANTI-joins that drop edges touching peeled endpoints. The peeled set
is the small side (after round 1 it is just the cascade frontier), so
AQE turns both endpoint filters into broadcast joins — the edge set
never reshuffles for them; a first peel that kills most of a graph is
the one case AQE falls back to a shuffled join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runtime import materialize


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """Peel nodes of degree < ``k`` for exactly ``rounds`` rounds over
    the undirected edge set ``(id_a, id_b)`` and return the surviving
    nodes with their residual degrees.

    Each round: degree per node over the current edge set (one
    union-both-directions groupBy), then anti-join the edge set
    against the degree-< k PEELED nodes on BOTH endpoints (equivalent
    to semi-joining the survivors — every edge endpoint appears in the
    degree table — but with the SMALL side as the build side). The
    result after N rounds is a pure function of the edge set, so the
    oracle unrolls the identical algebra. Lineage is truncated per
    round (``materialize``) — without it the shrinking edge frame
    fans out into the degree aggregation and both anti-join branches
    and the whole prefix replays per round.

    Returns (node, degree) for nodes alive after the final peel, with
    degrees measured on the final surviving edge set.
    """
    e = (
        edges.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        )
        .distinct()
        .transform(materialize)
    )

    def degrees(df: DataFrame) -> DataFrame:
        return (
            df.select(F.col("u").alias("node"))
            .unionAll(df.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    for _ in range(rounds):
        # anti-join against the PEELED set, not semi-join against the
        # survivors: the peeled set is the small side (after round 1 it
        # is just the cascade frontier), so AQE turns both endpoint
        # filters into broadcast joins — no shuffle of the edge set.
        # The first peel of a mostly-dying graph is the one case where
        # the peeled side is large; AQE falls back to a shuffled join
        # there on its own.
        peeled = degrees(e).filter(F.col("degree") < k).select("node")
        e = (
            e.join(peeled.withColumnRenamed("node", "u"), "u", "left_anti")
            .join(peeled.withColumnRenamed("node", "v"), "v", "left_anti")
            .select("u", "v")
            .transform(materialize)
        )
    return degrees(e)
