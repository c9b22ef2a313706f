"""Iterative BPE-style merge-rule induction over tokenized documents.

Each round: count adjacent token pairs corpus-wide, pick the single
most frequent pair (count desc, lexicographic tiebreak), merge its
non-overlapping occurrences greedy-left, repeat on the merged
sequences. This is the data-dependent iterative algorithm family —
unlike fixed-parameter iteration (connected components, PageRank),
the round-r transformation depends on a global statistic of round
r-1's output.

Representation (r16, guide §2.4 — remove shuffles outright): sequences
live as ONE ``array<string>`` row per document, not exploded
``(doc, pos, tok)`` rows. Adjacent pairs are a map-side
``zip_with(toks, slice(toks, 2, ...))`` (no lead() window), and the
greedy-left rewrite is a map-side ``aggregate`` fold with a
``(out, pend)`` accumulator — the classic streaming BPE merge: hold
one pending token; when (pend, x) is the round's pair emit the merged
token and clear, else flush pend and hold x. That is exactly
greedy-left including self-pair runs (a,a,a → [aa, a]), previously
expressed as a five-window gaps-and-islands pipeline. Per round the
ONLY exchange is the partial-aggregatable pair count (+ its top-1
TakeOrdered); the rewrite costs zero shuffles, and the inter-round
checkpoints hold one array row per doc instead of one row per token.

Scale: the pair-count aggregate map-side combines; the merged pair is
a 1-row broadcast; per-doc fold cost is O(tokens), the same work the
window pipeline did after sorting. No UDF, no sequential scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..runtime import materialize

#: Joiner for merged tokens ("new vocabulary entries").
JOIN_CH = "_"


def bpe_merge_rules(
    tokens: DataFrame,
    rounds: int,
) -> DataFrame:
    """Run ``rounds`` merge rounds over ``tokens`` (columns: ``doc_id``,
    ``pos`` long, ``tok`` string; pos need only be ordered, not dense)
    and return the learned rules: (round, pair_a, pair_b, pair_count).
    """
    rules, _ = bpe_rounds_seqs(_collect_seqs(tokens), rounds)
    return rules


def bpe_apply(
    tokens: DataFrame,
    rounds: int,
) -> DataFrame:
    """The ENCODE side of BPE: the token stream after ``rounds``
    greedy-left merge rounds (rules re-learned from the same corpus —
    train→apply as one deterministic pipeline). Returns (id, pos, tok)
    with pos renumbered dense per doc."""
    _, seqs = bpe_rounds_seqs(_collect_seqs(tokens), rounds)
    return seqs.select(
        F.col("doc_id"), F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), "tok")


def _collect_seqs(tokens: DataFrame) -> DataFrame:
    """Collapse exploded ``(id, pos, tok)`` rows to one pos-ordered
    ``toks`` array per document (compat shim for exploded-input
    callers; array-native callers skip straight to
    :func:`bpe_rounds_seqs`)."""
    return tokens.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"],
        ).alias("toks")
    )


def bpe_rounds_seqs(
    seqs: DataFrame,
    rounds: int,
) -> tuple[DataFrame, DataFrame]:
    """Array-native BPE rounds over ``(doc_id, toks array<string>)``.
    Returns ``(rules, final_seqs)`` where rules = (merge_round, pair_a,
    pair_b, pair_count) and final_seqs keeps the input shape."""
    expl = seqs.select("doc_id", "toks").transform(materialize)
    rules = None
    for r in range(1, rounds + 1):
        # adjacent pairs map-side: zip the array with itself shifted by
        # one (zip_with pads the shorter side with null, so the last
        # element pairs with null and the filter drops it — the exact
        # rows lead() produced)
        pair_rows = expl.select(
            F.explode(
                F.zip_with(
                    F.col("toks"),
                    F.slice(
                        F.col("toks"),
                        2,
                        F.greatest(F.size("toks") - 1, F.lit(0)),
                    ),
                    lambda a, b: F.struct(a.alias("tok"), b.alias("nxt")),
                )
            ).alias("pr")
        ).select("pr.tok", "pr.nxt")
        top = (
            pair_rows.filter(F.col("nxt").isNotNull())
            .groupBy("tok", "nxt")
            .agg(F.count(F.lit(1)).alias("pair_count"))
            .orderBy(F.desc("pair_count"), "tok", "nxt")
            .limit(1)
            .select(
                F.lit(r).alias("merge_round"),
                F.col("tok").alias("pair_a"),
                F.col("nxt").alias("pair_b"),
                F.col("pair_count"),
            )
            .transform(materialize)
        )
        rules = top if rules is None else rules.unionByName(top)
        # Greedy-left rewrite as a map-side (out, pend) fold — see the
        # module docstring. LEFT join, not crossJoin: when a round
        # finds no adjacent pair anywhere (every doc a single token),
        # ``top`` is EMPTY and a cross join would annihilate the
        # stream; with a null pair the match condition is never true
        # and the round is a no-op. With the usual 1-row top the plans
        # are identical (broadcast nested loop over one row).
        expl = (
            expl.join(
                F.broadcast(top.select("pair_a", "pair_b")), F.lit(True), "left"
            )
            .select(F.col("doc_id"), _merge_fold().alias("toks"))
            .transform(materialize)
        )
    return rules, expl


def _merge_fold() -> Column:
    """Fold ``toks`` through the (out, pend) greedy-left merge against
    the ``pair_a``/``pair_b`` columns riding on the row."""
    merged_tok = F.concat(F.col("pair_a"), F.lit(JOIN_CH), F.col("pair_b"))

    def step(acc, x):
        flushed = F.concat(acc["out"], F.array(acc["pend"]))
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == F.col("pair_a")) & (x == F.col("pair_b")),
                F.struct(
                    F.concat(acc["out"], F.array(merged_tok)).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(F.struct(flushed.alias("out"), x.alias("pend")))
        )

    return F.aggregate(
        F.col("toks"),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        step,
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )
