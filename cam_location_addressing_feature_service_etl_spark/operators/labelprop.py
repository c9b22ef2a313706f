"""Fixed-round synchronous label propagation (community detection)
as pure DataFrame iteration.

Same engineering shape as ``operators/pagerank.py``: a deterministic,
oracle-checkable round count, edges materialized once before the
per-round fan-out, lineage truncated per round. Ties are broken
deterministically (max vote count, then MIN label), and every node
votes for its OWN current label too — the standard self-vote damping,
without which synchronous LPA oscillates on bipartite graphs (and the
trading graph here IS bipartite).

The per-round argmax is two partial-aggregatable groupBys — vote
counts, then ``min(struct(-cnt, label))`` per node — no window
function, so map-side combine applies at every stage and there is no
per-node sort. Skewed hubs split under AQE like every other
node-keyed shuffle in the graph family.

Reference parity note: the reference engine has no graph surface;
this extends the engine's own iterative-graph family (pagerank,
connected components, k-core) with the community-detection member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..runtime import materialize


def label_propagation(edges: DataFrame, rounds: int) -> DataFrame:
    """Run exactly ``rounds`` synchronous LPA rounds over a directed
    edge list ``(src, dst)`` (feed a symmetrized set for undirected semantics).
    Initial label of a node is its own id (string); each round every
    node adopts the most frequent label among its neighbors plus
    itself, ties to the smallest label. Returns (node, label).

    The node universe is src UNION dst, so on a non-symmetrized edge
    list a dst-only node still gets its self-label at round 0 and a
    self-vote every round (it receives in-messages but emits none —
    directed semantics; symmetrize for undirected).
    """
    e = edges.select("src", "dst").transform(materialize)
    labels = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .transform(materialize)
    )
    for i in range(rounds):
        msgs = e.join(
            labels, e["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "label").unionByName(labels)
        votes = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        labels = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("neg"), F.col("label"))
                ).alias("best")
            )
            .select("node", F.col("best.label").alias("label"))
        )
        if i < rounds - 1:
            labels = labels.transform(materialize)
    return labels
