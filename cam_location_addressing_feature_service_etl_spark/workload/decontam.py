"""Training-corpus hygiene operators: benchmark decontamination,
deterministic epoch ordering, and corpus length statistics.

These extend the LLM-pipeline surface (SURVEY §2 extensions) with the
three remaining stages a 100 TB pretraining pipeline runs between
dedup and tokenization:

- **decontamination** — drop/flag documents whose n-grams overlap an
  evaluation benchmark (the standard n-gram-collision check, e.g.
  GPT-3 appendix C / PaLM §7): benchmark n-gram sets are tiny relative
  to the corpus, so the scale plan is a broadcast (or bloom-filter)
  join against the exploded document n-grams — never a corpus-side
  shuffle on the benchmark key.
- **epoch ordering** — a deterministic, seedable global shuffle
  expressed WITHOUT a global window: a per-source hash rank is
  computed in parallel (window partitioned by ``source``), and the
  training read order is the range-partitioned sort on
  (rank, source) downstream. No single-task stage anywhere.
- **length quantiles** — exact per-group percentiles for corpus QA
  dashboards. Exact ``percentile`` holds each group's values in
  memory; at 100 TB switch to ``approx_percentile`` (t-digest,
  mergeable map-side) — the exact form is kept here because the
  oracle must be bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.topk import ASC, DESC, global_topk_ranked

from ..operators.dedup import exact_dedup, shingle_postings, tokens_col
from ..tables import load_tuned
from .llm_text import _STOPWORDS, TOKENS_SQL, _shingle_cte
from . import register
from ..runtime import materialize

#: Decontamination n-gram width. Real pipelines use 8-13; the synthetic
#: docs are short (~tens of tokens), so 5 keeps a meaningful hit rate.
_DC_N = 5
#: Fraction of a doc's distinct n-grams that must collide with the
#: benchmark set before the doc is flagged.
_DC_THRESHOLD = 0.2
#: Deterministic stand-in for "the benchmark set": every 97th doc.
_DC_BENCH_MOD = 97


def contamination_stats(
    bench: DataFrame,
    docs: DataFrame | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """THE per-doc contamination derivation — the batch query and the
    streaming monitor (``streaming/decontam.py``) both call this one
    definition, so the n-gram width, hit rule and flag threshold can
    never drift between the oracle-checked query and the standing
    guard. ``bench`` is any frame with a ``shingle`` column (the
    benchmark's distinct n-grams); pass ``postings`` when the caller
    already materialized the corpus side's ``shingle_postings``.
    Returns (doc_id, n_shingles, n_hit, contamination_rate,
    contaminated)."""
    sh = (
        postings
        if postings is not None
        else shingle_postings(docs, "doc_id", "text", _DC_N)
    )
    b = bench.select("shingle").distinct().withColumn("_bench", F.lit(True))
    rate = F.round(
        F.count(F.when(F.col("_bench"), 1)) / F.count(F.lit(1)), 6
    )
    return (
        sh.join(F.broadcast(b), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("_bench"), 1)).alias("n_hit"),
            rate.alias("contamination_rate"),
            (rate >= _DC_THRESHOLD).alias("contaminated"),
        )
    )


@register(
    "text_contamination_ngram",
    oracle=f"""
WITH {_shingle_cte(_DC_N)},
bench AS (
  SELECT DISTINCT shingle FROM shingle WHERE doc_id % {_DC_BENCH_MOD} = 0
),
hits AS (
  SELECT s.doc_id, b.shingle IS NOT NULL AS hit
  FROM shingle s LEFT JOIN bench b USING (shingle)
  WHERE s.doc_id % {_DC_BENCH_MOD} <> 0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_hit,
       ROUND(COUNT(CASE WHEN hit THEN 1 END)::DOUBLE / COUNT(*), 6)
         AS contamination_rate,
       ROUND(COUNT(CASE WHEN hit THEN 1 END)::DOUBLE / COUNT(*), 6)
         >= {_DC_THRESHOLD} AS contaminated
FROM hits GROUP BY doc_id
""",
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag documents whose {n}-gram sets
    overlap the benchmark set above {t:.0%}. The benchmark here is a
    deterministic corpus slice (doc_id % {m} == 0) standing in for an
    eval suite; in production it is an external table of benchmark
    n-grams.

    Plan shape: one explode of each side's distinct n-grams, a
    broadcast LEFT join of corpus postings against the (small,
    distinct) benchmark n-gram set, one partial-aggregatable groupBy
    per doc. The corpus side is never shuffled on the n-gram key, so
    hot n-grams cannot skew; at real scale the broadcast becomes a
    bloom filter pushed into the scan."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    # both the benchmark branch and the corpus branch consume the
    # postings: materialize the tokenize+shingle+explode subtree once
    # (it runs twice otherwise — ~2× warm wall-time at sf0.1)
    sh = shingle_postings(documents, "doc_id", "text", _DC_N).transform(materialize)
    bench = sh.filter(F.col("doc_id") % _DC_BENCH_MOD == 0).select("shingle")
    corpus = sh.filter(F.col("doc_id") % _DC_BENCH_MOD != 0)
    return contamination_stats(bench, postings=corpus)


text_contamination_ngram.__doc__ = text_contamination_ngram.__doc__.format(
    n=_DC_N, t=_DC_THRESHOLD, m=_DC_BENCH_MOD
)


_EPOCH_SEED = "epoch-1"


@register(
    "text_train_order_interleave",
    oracle=f"""
SELECT doc_id, source,
       md5('{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY md5('{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS interleave_pos
FROM documents
""",
)
def text_train_order_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + source interleave: each doc gets a
    seeded hash key, and its rank WITHIN its source under that key.
    The training read order is ORDER BY (interleave_pos, source) — a
    round-robin interleave of per-source shuffled streams, stable
    across reruns for the same seed (reproducible data order is a
    training requirement, not a nicety).

    Scale: the only window is partitioned by ``source`` (parallel,
    no global ordering stage); the final global sort is left to the
    writer, where Spark range-partitions it across the cluster.
    Changing the epoch re-keys everything by seed string alone."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(_EPOCH_SEED + ":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("shuffle_key", "doc_id")
    return (
        documents.select("doc_id", "source", key.alias("shuffle_key"))
        .withColumn("interleave_pos", F.row_number().over(w).cast("long"))
    )


#: Per-quality-quartile keep rates (percent): the pretraining-mix
#: pattern — keep all of the best quartile, downsample the rest.
_QW_RATES = {1: 100, 2: 50, 3: 25, 4: 10}
_QW_SEED = "qs"


@register(
    "sample_quality_weighted",
    oracle=f"""
WITH tokl AS (
  SELECT doc_id, source,
         {{toks}} AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         ROUND(least(len(toks) / 100.0, 1.0) * 0.5
               + (len(list_filter(toks, t -> t IN ({{stops}})))
                  / greatest(len(toks), 1)) * 0.5, 6) AS quality
  FROM tokl
),
binned AS (
  SELECT doc_id, source, quality,
         CAST(NTILE(4) OVER (PARTITION BY source
                             ORDER BY quality DESC, doc_id) AS BIGINT) AS q_bin,
         ('0x' || substr(md5('{_QW_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 100 AS h
  FROM scored
)
SELECT doc_id, source, quality, q_bin
FROM binned
WHERE h < CASE q_bin {" ".join(f"WHEN {b} THEN {r}" for b, r in _QW_RATES.items())} END
""".format(
        toks=TOKENS_SQL.format(col="text"),
        stops=", ".join(repr(s) for s in _STOPWORDS),
    ),
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sampling (the pretraining-mix stage):
    score each doc, quartile it WITHIN its source (ntile over a
    deterministic total order), then keep a per-quartile fraction via
    a seeded hash — top quartile kept whole, lower quartiles
    downsampled to 50/25/10%. Deterministic end to end: same seed →
    same corpus, the reproducibility requirement for training mixes.

    Scale: scoring is map-only; the only shuffle is the per-source
    ntile window (partitioned by source, no global stage); the sample
    filter is a pure column predicate, so it pushes into the scan
    when the score/bin are materialized columns in a real layout."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    scored = documents.select(
        "doc_id",
        "source",
        tokens_col(F.col("text")).alias("_toks"),
    ).select(
        "doc_id",
        "source",
        F.round(
            F.least(F.size("_toks") / 100.0, F.lit(1.0)) * 0.5
            + (
                F.size(F.filter(F.col("_toks"), lambda t: t.isin(*_STOPWORDS)))
                / F.greatest(F.size("_toks"), F.lit(1))
            )
            * 0.5,
            6,
        ).alias("quality"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("quality"), "doc_id")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_QW_SEED + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.create_map(
        *[F.lit(x) for br in _QW_RATES.items() for x in br]
    )
    binned = scored.withColumn("q_bin", F.ntile(4).over(w).cast("long")).withColumn(
        "_h", h
    )
    return binned.filter(F.col("_h") < rate[F.col("q_bin")]).select(
        "doc_id", "source", "quality", "q_bin"
    )


_LQ_PCTS = [0.25, 0.5, 0.75, 0.9, 0.99]


@register(
    "text_length_quantiles",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {", ".join(
           f"ROUND(quantile_cont(n_chars, {p}), 6) AS p{int(p * 100)}"
           for p in _LQ_PCTS
       )}
FROM documents GROUP BY source
""",
)
def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length quantiles (corpus QA: spot truncated
    or runaway sources before tokenization). Exact linear-interpolation
    percentiles — identical definition in Spark ``percentile`` and
    DuckDB ``quantile_cont`` — so the oracle matches bit-for-bit after
    rounding. At 100 TB use ``approx_percentile`` (mergeable t-digest)
    instead: exact percentile materializes each group's values."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    aggs = [F.count(F.lit(1)).alias("n_docs")] + [
        F.round(F.percentile("n_chars", F.lit(p)), 6).alias(f"p{int(p * 100)}")
        for p in _LQ_PCTS
    ]
    return documents.groupBy("source").agg(*aggs)


_CP_MIN_QUALITY = 0.3


@register(
    "llm_corpus_prep_composite",
    oracle=f"""
WITH {{shingles}},
bench AS (
  SELECT DISTINCT shingle FROM shingle WHERE doc_id % {_DC_BENCH_MOD} = 0
),
contam AS (
  SELECT s.doc_id,
         ROUND(COUNT(CASE WHEN b.shingle IS NOT NULL THEN 1 END)::DOUBLE
               / COUNT(*), 6) AS rate
  FROM shingle s LEFT JOIN bench b USING (shingle)
  WHERE s.doc_id % {_DC_BENCH_MOD} <> 0
  GROUP BY s.doc_id
),
dedup AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents WHERE doc_id % {_DC_BENCH_MOD} <> 0
  ) WHERE rn = 1
),
scored AS (
  SELECT doc_id, source,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         ROUND(least(len(toks) / 100.0, 1.0) * 0.5
               + (len(list_filter(toks, t -> t IN ({{stops}})))
                  / greatest(len(toks), 1)) * 0.5, 6) AS quality
  FROM (SELECT doc_id, source, {{toks}} AS toks FROM dedup)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       -- integer micro-units keep the mean deterministic: summing the
       -- 6-digit-rounded qualities as BIGINTs is exact in any order,
       -- so the single final division rounds identically in both
       -- engines (a float AVG straddled a 1e-6 boundary here)
       ROUND(SUM(CAST(ROUND(quality * 1000000, 0) AS BIGINT))::DOUBLE
             / COUNT(*) / 1000000, 6) AS avg_quality
FROM scored s LEFT JOIN contam c USING (doc_id)
WHERE s.quality >= {_CP_MIN_QUALITY} AND COALESCE(c.rate, 0) < {_DC_THRESHOLD}
GROUP BY source
""".format(
        shingles=_shingle_cte(_DC_N),
        toks=TOKENS_SQL.format(col="text"),
        stops=", ".join(repr(s) for s in _STOPWORDS),
    ),
)
def llm_corpus_prep_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-side flagship composite: the full corpus-preparation
    pipeline as ONE plan — benchmark exclusion → exact dedup →
    quality gate → n-gram decontamination → per-source corpus stats.
    Mirrors the ETL-side full-lifecycle composite
    (flagship_current_address / plans/run.py) for the training-data
    workload: every stage is an operator verified standalone
    elsewhere in the registry; this query proves they compose.

    Scale shape: dedup is one hash groupBy; quality is map-only; the
    decontamination join is broadcast on the benchmark n-gram set;
    the final rollup is a partial-aggregatable groupBy on source.
    Nothing quadratic, no global stage."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    nonbench = documents.filter(F.col("doc_id") % _DC_BENCH_MOD != 0)
    kept = exact_dedup(nonbench, text_col="text", id_col="doc_id")
    sh = shingle_postings(documents, "doc_id", "text", _DC_N).transform(materialize)
    bench = (
        sh.filter(F.col("doc_id") % _DC_BENCH_MOD == 0)
        .select("shingle")
        .distinct()
        .withColumn("_bench", F.lit(True))
    )
    contam = (
        sh.filter(F.col("doc_id") % _DC_BENCH_MOD != 0)
        .join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.round(F.count(F.when(F.col("_bench"), 1)) / F.count(F.lit(1)), 6).alias(
                "rate"
            )
        )
    )
    scored = kept.select(
        "doc_id", "source", tokens_col(F.col("text")).alias("_toks")
    ).select(
        "doc_id",
        "source",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(
            F.least(F.size("_toks") / 100.0, F.lit(1.0)) * 0.5
            + (
                F.size(F.filter(F.col("_toks"), lambda t: t.isin(*_STOPWORDS)))
                / F.greatest(F.size("_toks"), F.lit(1))
            )
            * 0.5,
            6,
        ).alias("quality"),
    )
    return (
        scored.join(contam, "doc_id", "left")
        .filter(
            (F.col("quality") >= _CP_MIN_QUALITY)
            & (F.coalesce(F.col("rate"), F.lit(0.0)) < _DC_THRESHOLD)
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # exact integer micro-unit sum -> one deterministic division
            # (see oracle comment: float AVG straddles 1e-6 boundaries)
            F.round(
                F.sum(F.round(F.col("quality") * 1e6).cast("long"))
                / F.count(F.lit(1))
                / 1e6,
                6,
            ).alias("avg_quality"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (target-domain unigram log-ratio)
# ---------------------------------------------------------------------------

_DSIR_TARGET_LANG = "zh"
_DSIR_TOP = 100

_DSIR_ORACLE = f"""
WITH tokl AS (
  SELECT doc_id, lang, {TOKENS_SQL.format(col="text")} AS t FROM documents
),
tok AS (SELECT doc_id, lang, unnest(t) AS tok FROM tokl),
corpus AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
target AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tc FROM tok
  WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1
),
stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS c_tot,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM tok
            WHERE lang = '{_DSIR_TARGET_LANG}') AS t_tot,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS v
),
scored AS (
  SELECT t.doc_id,
         CAST(FLOOR(
           LN(((COALESCE(g.tc, 0) + 1) * 1.0 / (s.t_tot + s.v))
              * ((s.c_tot + s.v) * 1.0 / (c.c + 1)))
           * 1000000 + 0.5) AS BIGINT) AS lr_micro
  FROM tok t
  JOIN corpus c ON c.tok = t.tok
  LEFT JOIN target g ON g.tok = t.tok
  CROSS JOIN stats s
),
perdoc AS (
  SELECT doc_id, CAST(SUM(lr_micro) AS BIGINT) AS sum_micro,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(sum_micro / (n_tokens * 1000000.0), 6) AS avg_logratio,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT doc_id, n_tokens, sum_micro,
         ROW_NUMBER() OVER (ORDER BY sum_micro * 1.0 / n_tokens DESC, doc_id ASC)
           AS rnk
  FROM perdoc
) WHERE rnk <= {_DSIR_TOP}
"""


@register("sample_importance_dsir", oracle=_DSIR_ORACLE)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance weighting (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the mean per-token log-ratio of an add-one-
    smoothed TARGET unigram LM (docs with lang='{lang}') against the
    corpus LM, and keep the top {top} — the "select corpus data that
    looks like the target domain" primitive behind domain-tuned
    pretraining mixes.

    Determinism discipline: each token's log-ratio is fixed-pointed
    to integer micro-units (FLOOR(x*1e6 + 0.5) — half-up, identical
    in both engines since FLOOR yields an integral double); per-doc
    totals are exact BIGINT sums, ranking compares the single-IEEE-op
    quotient sum_micro/n with doc_id tiebreak, and the only output
    float is one final ROUND. Scale: both LM count tables are
    vocabulary-sized broadcasts joined onto one token pass; the rank
    window sees one row per doc."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).transform(materialize)
    # corpus counts feed the scoring join AND the vocab-size aggregate —
    # materialize the (vocabulary-sized) table instead of re-aggregating
    # the token pass per branch
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).transform(materialize)
    target = (
        tok.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    # both scalar totals in ONE pass over the token frame (conditional
    # count), not two separate aggregations
    stats = tok.agg(
        F.count(F.lit(1)).alias("c_tot"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.lit(1))).alias("t_tot"),
    ).crossJoin(corpus.agg(F.count(F.lit(1)).alias("v")))
    lr_micro = F.floor(
        F.log(
            ((F.coalesce(F.col("tc"), F.lit(0)) + 1) * 1.0 / (F.col("t_tot") + F.col("v")))
            * ((F.col("c_tot") + F.col("v")) * 1.0 / (F.col("c") + 1))
        )
        * 1000000
        + 0.5
    ).cast("long")
    perdoc = (
        tok.join(F.broadcast(corpus), "tok")
        .join(F.broadcast(target), "tok", "left")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", lr_micro.alias("lr_micro"))
        .groupBy("doc_id")
        .agg(
            F.sum("lr_micro").alias("sum_micro"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )
    # Global top-N via TakeOrderedAndProject on the materialized ratio
    # column (distributed per-partition heaps; the per-doc frame is
    # never globally sorted), then the windowless N-row rank of
    # operators/topk.py.
    ratio = (F.col("sum_micro") * 1.0 / F.col("n_tokens")).alias("_ratio")
    return global_topk_ranked(
        perdoc.select("*", ratio),
        [(F.col("_ratio"), DESC), (F.col("doc_id"), ASC)],
        _DSIR_TOP,
        ["doc_id", "n_tokens", "sum_micro"],
    ).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("sum_micro") / (F.col("n_tokens") * 1000000.0), 6).alias(
            "avg_logratio"
        ),
        "rnk",
    )


sample_importance_dsir.__doc__ = sample_importance_dsir.__doc__.format(
    lang=_DSIR_TARGET_LANG, top=_DSIR_TOP
)


# ---------------------------------------------------------------------------
# Weighted reservoir sample (Efraimidis–Spirakis A-ES, deterministic)
# ---------------------------------------------------------------------------

_RES_K = 100
_RES_SEED = "res7"

_RES_ORACLE = f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM documents),
keyed AS (
  SELECT doc_id,
         CAST(GREATEST(len(toks), 1) AS BIGINT) AS w,
         ROUND(
           -LN((('0x' || substr(md5('{_RES_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
               / 4294967296.0)
           / GREATEST(len(toks), 1), 9) AS res_key
  FROM tokl
)
SELECT doc_id, w, res_key, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT doc_id, w, res_key,
         ROW_NUMBER() OVER (ORDER BY res_key ASC, doc_id ASC) AS rnk
  FROM keyed
) WHERE rnk <= {_RES_K}
"""


@register("sample_weighted_reservoir", oracle=_RES_ORACLE)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random sample WITHOUT replacement of {k} docs, weight =
    token count, via the Efraimidis–Spirakis A-ES reduction: give each
    doc the exponential race key -ln(u)/w (u uniform in (0,1]) and
    take the k SMALLEST keys — P(doc in sample) is then proportional
    to its weight, the one-pass distributed form of weighted
    reservoir sampling (used for corpus subsampling where long docs
    should be proportionally represented).

    Determinism: u is a seeded md5 of the doc id mapped to (0,1], the
    key is rounded to 9 digits before ranking (the kmeans
    round-digits discipline — both engines rank identical values;
    doc_id breaks ties), so the "random" sample is reproducible and
    fully oracle-checked. Scale: map-only key computation, then the
    distributed top-k of operators/topk.py (TakeOrderedAndProject +
    windowless k-row rank) — the corpus is never globally sorted."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = documents.select("doc_id", tokens_col(F.col("text")).alias("_toks"))
    w = F.greatest(F.size("_toks").cast("long"), F.lit(1).cast("long"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_RES_SEED + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / 4294967296.0
    keyed = toks.select(
        "doc_id",
        w.alias("w"),
        F.round(-F.log(u) / w, 9).alias("res_key"),
    )
    return global_topk_ranked(
        keyed,
        [(F.col("res_key"), ASC), (F.col("doc_id"), ASC)],
        _RES_K,
        ["doc_id", "w", "res_key"],
    )


sample_weighted_reservoir.__doc__ = sample_weighted_reservoir.__doc__.format(k=_RES_K)
