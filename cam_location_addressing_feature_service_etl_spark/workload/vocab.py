"""Vocabulary induction: iterative BPE-style merge-rule learning.

The third iterative family member (after connected components and
PageRank) and the only DATA-DEPENDENT one: the transformation applied
in round r is chosen from a global statistic of round r-1's output
(the most frequent adjacent pair), so the oracle must unroll both the
statistic and the rewrite each round. ``operators/bpe.py`` holds the
window-function formulation of greedy-left merging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import JOIN_CH, bpe_rounds_seqs
from ..operators.dedup import tokens_col
from ..tables import load_tuned
from .llm_text import TOKENS_SQL
from . import register
from ..operators.topk import ASC, DESC, prefix_sum_small_frame

_BPE_ROUNDS = 3


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    toks = TOKENS_SQL.format(col="text")
    parts = [
        f"""
WITH tokl AS (SELECT doc_id, {toks} AS t FROM documents),
tok0 AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tokl
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
wn{p} AS (
  SELECT doc_id, pos, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tok{p}
),
top{r} AS (
  SELECT tok AS a, nxt AS b, COUNT(*) AS cnt
  FROM wn{p} WHERE nxt IS NOT NULL
  GROUP BY tok, nxt ORDER BY cnt DESC, a, b LIMIT 1
),
m{r} AS (
  SELECT w.doc_id, w.pos FROM wn{p} w JOIN top{r} ON w.tok = top{r}.a AND w.nxt = top{r}.b
),
i{r} AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM m{r}
),
tk{r} AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           pos - MIN(pos) OVER (PARTITION BY doc_id, isl) AS off
    FROM i{r}
  ) WHERE off % 2 = 0
),
tok{r} AS (
  SELECT t.doc_id,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS pos,
         CASE WHEN s.pos IS NOT NULL THEN top{r}.a || '{JOIN_CH}' || top{r}.b
              ELSE t.tok END AS tok
  FROM tok{p} t
  CROSS JOIN top{r}
  LEFT JOIN tk{r} s ON s.doc_id = t.doc_id AND s.pos = t.pos
  LEFT JOIN tk{r} d ON d.doc_id = t.doc_id AND d.pos + 1 = t.pos
  WHERE d.pos IS NULL
)"""
        )
    return "".join(parts)


def _bpe_oracle_rules(rounds: int = _BPE_ROUNDS) -> str:
    selects = [
        f"SELECT {r} AS merge_round, a AS pair_a, b AS pair_b, CAST(cnt AS BIGINT) AS pair_count FROM top{r}"
        for r in range(1, rounds + 1)
    ]
    return _bpe_oracle(rounds) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_oracle_encode(rounds: int = _BPE_ROUNDS) -> str:
    return (
        _bpe_oracle(rounds)
        + f"""
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS stream_hash
FROM tok{rounds}
GROUP BY doc_id"""
    )


@register("text_bpe_merge_rules", oracle=_bpe_oracle_rules())
def text_bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn {n} BPE-style merge rules over the document corpus: per
    round, the corpus-wide most frequent adjacent token pair (count
    desc, lexicographic tiebreak) is merged greedy-left everywhere and
    the next round re-counts on the rewritten sequences. Output: one
    rule per round with its pre-merge pair count — the vocabulary
    deltas a tokenizer-training job would emit.

    Plan shape (r16): sequences stay ARRAY-per-doc straight from the
    tokenizer split (no posexplode, no per-round lead() window) — per
    round the only exchange is the map-side-combined pair count; the
    greedy-left rewrite is a map-side fold (operators/bpe.py)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    seqs = documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    rules, _ = bpe_rounds_seqs(seqs, rounds=_BPE_ROUNDS)
    return rules


text_bpe_merge_rules.__doc__ = text_bpe_merge_rules.__doc__.format(n=_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (Zipf head coverage)
# ---------------------------------------------------------------------------

_COV_TOP = 100


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {{toks}} AS t FROM documents),
tok AS (SELECT unnest(t) AS tok FROM tokl),
cnt AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT SUM(cnt) AS total FROM cnt),
top AS (SELECT tok, cnt FROM cnt ORDER BY cnt DESC, tok LIMIT {_COV_TOP}),
run AS (
  SELECT tok, cnt,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_count
  FROM top
)
SELECT r.tok, r.cnt, r.cum_count,
       CAST((CAST(r.cum_count AS HUGEINT) * 1000000) // t.total AS BIGINT) AS cum_ppm
FROM run r, tot t
""".format(toks=TOKENS_SQL.format(col="text")),
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head-coverage curve: the {k} most frequent tokens with the
    cumulative fraction of all token occurrences they cover, in exact
    ppm (integer division — no float aggregation, hash-stable). The
    statistic tokenizer-vocabulary sizing reads off directly ("how
    many types cover 95% of tokens").

    Scale shape: one token-count aggregation (map-side combinable),
    a global top-k that Spark executes as TakeOrderedAndProject (never
    a full sort), a single-row total broadcast, and a windowless
    sorted-array cumulative over just the {k} surviving rows — the
    only single-reducer step touches {k} rows, not the corpus."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.agg(F.sum("cnt").alias("total"))
    top = cnt.orderBy(F.col("cnt").desc(), F.col("tok")).limit(_COV_TOP)
    # Cumulative sum over the k survivors WITHOUT a window (an empty-
    # partition-spec window — even over k rows — plans as the warned
    # single-partition WindowExec): operators/topk.py's sorted-array
    # prefix sum — O(k²) scalar adds on k rows, free.
    cum = prefix_sum_small_frame(
        top,
        [(F.col("cnt"), DESC), (F.col("tok"), ASC)],
        ["tok", "cnt"],
        sum_col="cnt",
        sum_name="cum_count",
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "cnt",
            "cum_count",
            F.expr("CAST((CAST(cum_count AS DECIMAL(38,0)) * 1000000) DIV total AS BIGINT)").alias(
                "cum_ppm"
            ),
        )
    )


text_vocab_coverage.__doc__ = text_vocab_coverage.__doc__.format(k=_COV_TOP)


@register("text_bpe_encode", oracle=_bpe_oracle_encode())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of BPE (train→apply as one pipeline): rewrite
    every document with the {n} learned merge rules and emit per-doc
    post-merge token counts plus an md5 of the exact rewritten token
    stream — so the oracle verifies every merge position in every
    document, not just the rule list.

    Plan shape (r16): the rewritten sequence is already one array row
    per doc (operators/bpe.py array-native rounds), so the count and
    the order-exact stream hash are map-side ``size``/``array_join``
    projections — the former collect_list re-aggregation of the
    exploded stream (one more corpus shuffle) is gone. Empty docs are
    filtered exactly as the exploded form dropped them (no token rows
    → no group)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    seqs = documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    _, out = bpe_rounds_seqs(seqs, rounds=_BPE_ROUNDS)
    return out.filter(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.array_join("toks", " ")).alias("stream_hash"),
    )


text_bpe_encode.__doc__ = text_bpe_encode.__doc__.format(n=_BPE_ROUNDS)
