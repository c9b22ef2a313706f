"""LLM-training-data text operators over the ``documents`` table:
exact dedup, MinHash+LSH, SimHash, n-gram Jaccard near-dup, language
ID, quality scoring, token counting, fingerprinting.

These extend the reference's surface (BASELINE.json north star): a
100 TB text pipeline needs dedup/quality stages as first-class
operators. Tokenization is deliberately reproducible in ANSI SQL so
every query here has a full DuckDB oracle (md5 as the hash family —
at production scale swap xxhash64, same algebra).

Scale notes: MinHash-LSH is the linear-shuffle path (band-bucket
join, never O(n²)); n-gram Jaccard uses an inverted shingle index
whose worst case is bounded by posting-list length (add stop-shingle
pruning at scale); SimHash pair-scan is quadratic and kept only as a
small-data verifier — the banded variants are the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_edges,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    shingle_postings,
    simhash_from_postings,
    simhash_pairs_exact,
    tokens_col,
)
from ..operators.topk import ASC, DESC, global_topk_ranked
from ..session import tune
from ..tables import load, load_tuned
from . import register
from ..runtime import materialize

# --- shared DuckDB SQL fragments (mirror tokens_col / shingles_col) --------

TOKENS_SQL = (
    "list_filter(string_split_regex("
    "regexp_replace(lower({col}), '[^a-z0-9 ]', ' ', 'g'), ' +'), x -> x <> '')"
)


def _shingle_cte(n: int = 3, table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    """CTE producing (id, shingle) distinct n-gram shingles, matching
    operators.dedup.shingles_col bit-for-bit."""
    toks = TOKENS_SQL.format(col=text_col)
    joins = []
    concat = "t1.tok"
    for k in range(2, n + 1):
        joins.append(
            f"JOIN tok t{k} ON t{k}.{id_col} = t1.{id_col} AND t{k}.pos = t1.pos + {k - 1}"
        )
        concat += f" || ' ' || t{k}.tok"
    return f"""
tokl AS (SELECT {id_col}, {toks} AS toks FROM {table}),
tok AS (SELECT {id_col}, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM tokl),
shingle AS (
  SELECT DISTINCT t1.{id_col}, {concat} AS shingle
  FROM tok t1 {" ".join(joins)}
)"""


# ---------------------------------------------------------------------------
# Exact dedup + fingerprint
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_hash",
    oracle="""
SELECT doc_id, md5(text) AS content_hash FROM (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep lowest doc_id per content hash."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    kept = exact_dedup(documents, text_col="text", id_col="doc_id")
    return kept.select("doc_id", F.md5("text").alias("content_hash"))


@register(
    "text_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({TOKENS_SQL.format(col="text")})), ' '))
         AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set (robust to token shuffling, unlike md5(text))."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return documents.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates
# ---------------------------------------------------------------------------

_MH_HASHES = 16
_MH_BANDS = 4
_MH_SHINGLE_N = 2


def _minhash_ctes() -> str:
    """Shared CTE prefix (shingle → hx → sigs → bands) used by EVERY
    MinHash oracle — the signature algebra and band geometry must be
    defined exactly once, or dedup_minhash_lsh and its derivatives
    could silently test different LSH definitions."""
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    mins = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * x + {MINHASH_B[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(_MH_HASHES)
    )
    rpb = _MH_HASHES // _MH_BANDS
    band_selects = []
    for b in range(_MH_BANDS):
        cols = " || '|' || ".join(
            f"CAST(h{b * rpb + k} AS VARCHAR)" for k in range(rpb)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {cols} AS bucket FROM sigs"
        )
    bands = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH {_shingle_cte(_MH_SHINGLE_N)},
hx AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x FROM shingle
),
sigs AS (
  SELECT doc_id,
         {mins}
  FROM hx GROUP BY doc_id
),
bands AS (
  {bands}
)"""


def _minhash_oracle() -> str:
    return f"""{_minhash_ctes()}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands × 4 rows) candidate pairs over
    2-token shingles. 4-row bands put the collision knee near J≈0.6:
    planted near-dups (J≳0.8) are caught w.p. ~99%, while background
    pairs (J≈0.1) collide at ~4e-4 — shuffle stays linear in docs."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        documents, id_col="doc_id", text_col="text",
        num_hashes=_MH_HASHES, shingle_n=_MH_SHINGLE_N,
    )
    return lsh_candidate_pairs(sigs, id_col="doc_id", num_hashes=_MH_HASHES, bands=_MH_BANDS)


_MH_NEW_LO = 400


def _minhash_incremental_oracle() -> str:
    base = _minhash_oracle()
    # same signature/band CTEs; restrict the join to (existing, new)
    # cross-boundary pairs only
    out = base.replace(
        "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id",
        f"""SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
WHERE a.doc_id < {_MH_NEW_LO} AND b.doc_id >= {_MH_NEW_LO}""",
    )
    # If the base oracle's final SELECT is ever reworded, replace()
    # silently no-ops and this oracle reverts to full-pair semantics —
    # fail loudly at import time instead of as a confusing parity
    # mismatch.
    assert out != base, "incremental minhash oracle patch did not apply"
    return out


@register("dedup_incremental_minhash", oracle=_minhash_incremental_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-shaped dedup: an incoming batch (doc_id >= {lo})
    checked against the existing corpus index (doc_id < {lo}) — only
    cross-boundary band collisions become candidates, the shape every
    continuously-ingesting pipeline runs (the full-corpus self-join
    happens once; every day after is this query). At 100 TB the
    existing side is the persisted band index (bucket-partitioned);
    the new batch's bands hash-join into it, shuffle ∝ batch size,
    not corpus size."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        documents, id_col="doc_id", text_col="text",
        num_hashes=_MH_HASHES, shingle_n=_MH_SHINGLE_N,
    )
    pairs = lsh_candidate_pairs(sigs, id_col="doc_id", num_hashes=_MH_HASHES, bands=_MH_BANDS)
    return pairs.filter(
        (F.col("id_a") < _MH_NEW_LO) & (F.col("id_b") >= _MH_NEW_LO)
    )


dedup_incremental_minhash.__doc__ = dedup_incremental_minhash.__doc__.format(lo=_MH_NEW_LO)


# ---------------------------------------------------------------------------
# n-gram Jaccard exact near-dup pairs
# ---------------------------------------------------------------------------

_NJ_THRESHOLD = 0.6
_NJ_SHINGLE_N = 3


def _nj_oracle(text_col: str = "text") -> str:
    return f"""
WITH {_shingle_cte(_NJ_SHINGLE_N, text_col=text_col)},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM shingle a JOIN shingle b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {_NJ_THRESHOLD}
"""


_NJ_ORACLE = _nj_oracle()


@register("dedup_ngram_jaccard", oracle=_NJ_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-trigram Jaccard pairs ≥ 0.6 via inverted index.
    Trigram shingles keep posting lists short (bigram postings explode
    on small vocabularies — measured 25× slower at sf0.1)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        documents, id_col="doc_id", text_col="text",
        threshold=_NJ_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )


@register("dedup_ngram_jaccard_prefix", oracle=_NJ_ORACLE)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME exact Jaccard pairs via prefix filtering (AllPairs/
    PPJoin): only each doc's rarest |A|−⌈t·|A|⌉+1 shingles are
    indexed, so corpus-hot shingles never generate candidates, then
    survivors verify on the full set intersection. Checked against the
    same brute-force-index oracle as dedup_ngram_jaccard — identical
    output, sub-quadratic candidate volume (the 100 TB path)."""
    from ..operators.dedup import ngram_jaccard_pairs_prefix

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_prefix(
        documents, id_col="doc_id", text_col="text",
        threshold=_NJ_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )


# ---------------------------------------------------------------------------
# The boilerplate (hot-shingle) regime: every real web/document corpus
# carries repeated footers/headers/licenses. One footer line shared by
# all docs turns the naive index's collision volume from 1.27M into
# 164M at sf0.1 (every footer shingle has df = N, emitting N²/2 pairs),
# while prefix filtering drops corpus-hot shingles out of every prefix
# — candidates barely move. Measured at sf0.1: naive 4.6s vs prefix
# 3.0s, and the gap grows ∝ N² on the naive side only. These two
# queries pin that comparison into the bench record; the oracle is the
# same brute-force index (DuckDB crunches the 164M-row join once).
# ---------------------------------------------------------------------------

_BOILER_FOOTER = (
    " copyright footer terms of service all rights reserved"
    " privacy policy do not reproduce this document"
)
_NJB_ORACLE = _nj_oracle(text_col=f"text || '{_BOILER_FOOTER}'")


def _boiler_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return documents.withColumn("text", F.concat(F.col("text"), F.lit(_BOILER_FOOTER)))


@register("dedup_jaccard_boiler_naive", oracle=_NJB_ORACLE)
def dedup_jaccard_boiler_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive inverted-index Jaccard on the boilerplate corpus — the
    hot-shingle quadratic blowup made visible (164M collisions at
    sf0.1; scales ∝ N² per hot shingle)."""
    return ngram_jaccard_pairs(
        _boiler_docs(spark, sf_dir), id_col="doc_id", text_col="text",
        threshold=_NJ_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )


@register("dedup_jaccard_boiler_prefix", oracle=_NJB_ORACLE)
def dedup_jaccard_boiler_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered Jaccard on the boilerplate corpus: corpus-hot
    footer shingles sort last in df order and fall out of every
    prefix, so candidate volume stays at the clean-corpus level —
    the regime the AllPairs/PPJoin design exists for."""
    from ..operators.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(
        _boiler_docs(spark, sf_dir), id_col="doc_id", text_col="text",
        threshold=_NJ_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )


_CT_THRESHOLD = 0.8


_CT_ORACLE = f"""
WITH {_shingle_cte(_NJ_SHINGLE_N)},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM shingle a JOIN shingle b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / sa.sz, 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
WHERE inter / sa.sz >= {_CT_THRESHOLD}
"""


@register("text_shingle_containment", oracle=_CT_ORACLE)
def text_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: containment C(A→B) = |A∩B|/|A| ≥ {t} —
    the measure for "A is substantially inside B" (benchmark
    contamination, quote/clone detection), which Jaccard misses when
    |B| ≫ |A|. Same inverted-index count-intersection plan as the
    Jaccard family (one self-join shuffle, partial-aggregatable), but
    DIRECTED pairs: both (A,B) and (B,A) are scored, each against its
    own left size. The ratio is one exact-integer division (IEEE
    correctly rounded, identical across engines) rounded at the output
    edge."""
    from ..operators.dedup import shingle_postings

    (documents,) = load_tuned(spark, sf_dir, "documents")
    sh = shingle_postings(documents, "doc_id", "text", _NJ_SHINGLE_N).transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), "sz"), "id_a")
        .withColumn("containment", F.round(F.col("inter") / F.col("sz"), 6))
        .filter(F.col("inter") / F.col("sz") >= _CT_THRESHOLD)
        .select("id_a", "id_b", "containment")
    )


text_shingle_containment.__doc__ = text_shingle_containment.__doc__.format(t=_CT_THRESHOLD)


# ---------------------------------------------------------------------------
# SimHash near-dup (small-data verifier; banded variants are the scale path)
# ---------------------------------------------------------------------------

_SH_BITS = 32
_SH_MAXDIST = 1
_SH_SHINGLE_N = 3


def _simhash_oracle() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * COUNT(*) FILTER (substring(md5(shingle), {i + 1}, 1) "
        f"IN ('8','9','a','b','c','d','e','f')) > COUNT(*) THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(_SH_BITS)
    )
    return f"""
WITH {_shingle_cte(_SH_SHINGLE_N)},
sh AS (SELECT doc_id, {bit_terms} AS simhash FROM shingle GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAXDIST}
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32 bit, trigram features) pairs with hamming ≤ 1 — EXACT
    result via chunk indexing (hamming ≤ 1 ⇒ one of the two 16-bit
    halves is identical), never an O(n²) scan. The DuckDB oracle IS
    the brute force, proving the index loses nothing."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    postings = shingle_postings(documents, "doc_id", "text", _SH_SHINGLE_N)
    sh = simhash_from_postings(postings, id_col="doc_id", bits=_SH_BITS)
    return simhash_pairs_exact(
        sh, id_col="doc_id", hash_col="simhash", bits=_SH_BITS, max_dist=_SH_MAXDIST
    )


# ---------------------------------------------------------------------------
# Language ID / quality / token counts
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "and"),
    "de": ("der", "und"),
    "fr": ("le", "et"),
    "es": ("el", "y"),
}


def _langid_oracle() -> str:
    toks = TOKENS_SQL.format(col="text")
    scores = ",\n       ".join(
        f"len(list_filter(toks, t -> t IN ({', '.join(repr(m) for m in ms)}))) AS s_{lang}"
        for lang, ms in _LANG_MARKERS.items()
    )
    return f"""
WITH tokl AS (SELECT doc_id, {toks} AS toks FROM documents),
scored AS (
  SELECT doc_id,
       {scores}
  FROM tokl
)
SELECT doc_id,
       CASE
         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
         WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         WHEN s_es > 0 THEN 'es'
         ELSE 'und'
       END AS lang_pred,
       CAST(s_en AS BIGINT) AS score_en
FROM scored
"""


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: marker-token counts per language,
    argmax with a deterministic precedence chain."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    df = documents.select("doc_id", toks.alias("toks"))
    for lang, markers in _LANG_MARKERS.items():
        df = df.withColumn(
            f"s_{lang}", F.size(F.filter(F.col("toks"), lambda t: t.isin(*markers)))
        )
    pred = (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") > 0),
            "en",
        )
        .when((F.col("s_de") >= F.col("s_fr")) & (F.col("s_de") >= F.col("s_es")) & (F.col("s_de") > 0), "de")
        .when((F.col("s_fr") >= F.col("s_es")) & (F.col("s_fr") > 0), "fr")
        .when(F.col("s_es") > 0, "es")
        .otherwise("und")
    )
    return df.select(
        "doc_id", pred.alias("lang_pred"), F.col("s_en").cast("long").alias("score_en")
    )


# ---------------------------------------------------------------------------
# Trained language classifier — multinomial Naive Bayes, in-engine
# ---------------------------------------------------------------------------

#: leak-free 80/20 train/test split (mirrors sample_split_leakfree's
#: deterministic-key discipline; % 5 keeps both engines exact)
_NB_TEST_MOD = 5


def _nb_oracle() -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
WITH tokl AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM tokl),
train_tok AS (SELECT * FROM tok WHERE doc_id % {_NB_TEST_MOD} <> 0),
test_tok AS (SELECT doc_id, tok FROM tok WHERE doc_id % {_NB_TEST_MOD} = 0),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM train_tok),
tdocs AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % {_NB_TEST_MOD} <> 0),
stats AS (
  SELECT l.lbl, l.tot, p.docs, v.v, t.n
  FROM (SELECT lang AS lbl, COUNT(*) AS tot FROM train_tok GROUP BY 1) l
  JOIN (SELECT lang AS lbl, COUNT(*) AS docs FROM documents
        WHERE doc_id % {_NB_TEST_MOD} <> 0 GROUP BY 1) p USING (lbl)
  CROSS JOIN vocab v CROSS JOIN tdocs t
),
counts AS (SELECT lang AS lbl, tok, COUNT(*) AS cnt FROM train_tok GROUP BY 1, 2),
scored AS (
  SELECT tt.doc_id, s.lbl,
         ROUND(SUM(ln((COALESCE(c.cnt, 0) + 1.0) / (s.tot + s.v)))
               + MIN(ln(s.docs * 1.0 / s.n)), 6) AS score
  FROM test_tok tt
  CROSS JOIN stats s
  LEFT JOIN counts c ON c.lbl = s.lbl AND c.tok = tt.tok
  GROUP BY tt.doc_id, s.lbl
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, lbl DESC) AS rn
  FROM scored
)
SELECT r.doc_id, d.lang AS gold_lang, r.lbl AS pred_lang,
       r.score AS nb_score, r.lbl = d.lang AS correct
FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
WHERE r.rn = 1
"""


def nb_train_score(documents: DataFrame, test_mod: int) -> DataFrame:
    """Multinomial Naive Bayes with Laplace smoothing over unigram
    tokens, trained and applied in one plan. ``documents`` carries
    (doc_id, lang, text); docs with ``doc_id % test_mod != 0`` train,
    the rest are scored. Returns per test doc: gold label, argmax
    prediction, rounded score, correctness flag. Shared by the
    registered query and the signal-bearing learning test
    (``tests/test_llm_text.py``), so the learner the oracle pins and
    the learner proven to learn are one function."""
    is_test = F.col("doc_id") % test_mod == 0
    counts, stats = nb_fit(documents.filter(~is_test))
    preds = nb_score(documents.filter(is_test), counts, stats)
    gold = documents.filter(is_test).select("doc_id", F.col("lang").alias("gold_lang"))
    return preds.join(gold, "doc_id").select(
        "doc_id",
        "gold_lang",
        "pred_lang",
        "nb_score",
        (F.col("pred_lang") == F.col("gold_lang")).alias("correct"),
    )


def nb_token_counts(train_docs: DataFrame) -> DataFrame:
    """The NB model's sufficient statistic: per-(label, token) counts.
    A pure count aggregation, which is why the model is MERGEABLE —
    counts from corpus batches union + re-sum to exactly the
    full-corpus counts (``text_nb_incremental_train`` pins this)."""
    return (
        train_docs.select(
            "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy(F.col("lang").alias("lbl"), "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def nb_merge_counts(*counts: DataFrame) -> DataFrame:
    """Merge per-batch NB count tables into one model — union + re-sum
    (the mergeable-sketch discipline applied to a classifier)."""
    merged = counts[0]
    for c in counts[1:]:
        merged = merged.unionByName(c)
    return merged.groupBy("lbl", "tok").agg(F.sum("cnt").alias("cnt"))


def nb_fit(train_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB: returns (counts, stats) — the
    (label, token) count table and the per-label stats frame
    (token total, doc prior, vocab size, train doc total). Both are
    pure aggregations; stats is label-count-sized (broadcast).

    ``counts`` is materialized: three plan branches consume it (the
    label totals, the vocab size, and the scorer's left join) and
    Spark does not reuse exchanges across branches — without the
    checkpoint the corpus-sized tokenize+count subtree executes once
    PER BRANCH (measured: the classifier plan carried 44 Exchanges,
    the kappa audit 148). The checkpointed frame is vocab×labels-
    sized, never corpus-sized."""
    counts = materialize(nb_token_counts(train_docs))
    ltot = counts.groupBy("lbl").agg(F.sum("cnt").alias("tot"))
    prior = train_docs.groupBy(F.col("lang").alias("lbl")).agg(
        F.count(F.lit(1)).alias("docs")
    )
    vocab = counts.select("tok").distinct().agg(F.count(F.lit(1)).alias("v"))
    tdocs = train_docs.agg(F.count(F.lit(1)).alias("n"))
    stats = (
        ltot.join(prior, "lbl")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tdocs))
    )
    return counts, stats


def nb_score(docs: DataFrame, counts: DataFrame, stats: DataFrame) -> DataFrame:
    """Score (doc_id, text) docs against a fitted NB model: per-doc
    argmax label and rounded log-joint score. Stateless per doc — the
    streaming leg (``streaming/classify.py``) runs THIS function per
    micro-batch against the persisted model frames."""
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    scored = (
        tok.crossJoin(F.broadcast(stats))
        .join(counts, ["lbl", "tok"], "left")
        .groupBy("doc_id", "lbl")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1.0)
                        / (F.col("tot") + F.col("v"))
                    )
                )
                + F.min(F.log(F.col("docs") * 1.0 / F.col("n"))),
                6,
            ).alias("score")
        )
    )
    best = scored.groupBy("doc_id").agg(
        F.max(F.struct("score", "lbl")).alias("best")
    )
    return best.select(
        "doc_id",
        F.col("best.lbl").alias("pred_lang"),
        F.col("best.score").alias("nb_score"),
    )


@register("text_nb_langid_classifier", oracle=_nb_oracle())
def text_nb_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRAINED language classifier — multinomial Naive Bayes with
    Laplace smoothing over unigram tokens, learned and applied inside
    the engine: train on the deterministic 80% split (doc_id % 5 != 0),
    score the held-out 20%, emit each test doc's gold label, argmax
    prediction, and correctness flag — the learned complement of the
    hand-written marker heuristic ``text_langid``.

    Honesty note on THIS corpus: the synthetic documents' ``lang``
    labels are independent of their token content (no marker tokens
    exist — verified by sweep), so the Bayes-optimal classifier IS the
    majority-class prior and the measured ~0.40 accuracy ≈ the en
    share; what the oracle pins here is the full train+score
    mechanics (smoothing, priors, leak-free split, rounded argmax).
    That the same function actually LEARNS when signal exists is
    pinned separately: ``tests/test_llm_text.py`` feeds
    ``nb_train_score`` a signal-bearing labeled corpus and asserts
    perfect held-out classification.

    Why NB is the production baseline at corpus scale: TRAINING is one
    count aggregation — (label, token) counts, label token totals,
    label priors, vocab size — all partial-aggregatable (map-side
    combine), shuffle bounded by vocab × labels, never corpus size.
    SCORING is a fan-out of test tokens against the label-stats frame
    (broadcast) plus a left join to the vocab-bounded count table,
    then one sum per (doc, label) and a window-free argmax via
    ``max(struct(score, label))``. Scores are rounded to 6 digits on
    BOTH engines before the argmax so rank and value compare exactly
    (float-discipline rule); smoothing keeps unseen test tokens
    defined. The oracle restates training and scoring in pure SQL with
    a rank window."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return nb_train_score(documents, _NB_TEST_MOD)


@register(
    "text_langid_confusion_audit",
    oracle=f"""
WITH preds AS ({_nb_oracle()}),
gt AS (
  SELECT gold_lang, CAST(COUNT(*) AS BIGINT) AS gold_total
  FROM preds GROUP BY 1
)
SELECT p.gold_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(gt.gold_total) AS BIGINT) AS gold_total,
       ROUND(COUNT(*) / (1.0 * MIN(gt.gold_total)), 6) AS row_share
FROM preds p JOIN gt USING (gold_lang)
GROUP BY 1, 2
""",
)
def text_langid_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier CONFUSION audit — the audit-family discipline
    (``sim_ann_recall_audit``, ``sim_kmeans_cohesion_audit``,
    ``er_blocking_quality``) applied to the learned langid stage: the
    held-out confusion matrix of the trained NB classifier —
    per (gold, predicted) language, doc count, the gold class's total
    and the row-normalized share (recall lives on the diagonal, each
    off-diagonal row names WHICH confusion eats it). A model
    regression now fails a parity row instead of surfacing as a
    drifting corpus mix three stages later.

    One plan: the SAME ``nb_train_score`` (train on the 80% split,
    score the 20%) the registered classifier query runs, then a
    labels²-bounded aggregate — the audit costs one extra tiny
    groupBy over the prediction frame, not a second train. Same
    honesty note as the classifier on THIS corpus (labels are
    content-independent, so the matrix is the prior's confusion);
    the learning behavior itself is pinned by the signal-bearing
    fixture test."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    preds = materialize(nb_train_score(documents, _NB_TEST_MOD))
    gt = preds.groupBy("gold_lang").agg(
        F.count(F.lit(1)).cast("long").alias("gold_total")
    )
    return (
        preds.join(F.broadcast(gt), "gold_lang")
        .groupBy("gold_lang", "pred_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("gold_total").cast("long").alias("gold_total"),
            F.round(
                F.count(F.lit(1)) / (1.0 * F.min("gold_total")), 6
            ).alias("row_share"),
        )
    )


@register(
    "text_nb_incremental_train",
    oracle=f"""
WITH tokl AS (SELECT doc_id, lang, {TOKENS_SQL.format(col="text")} AS toks
              FROM documents WHERE doc_id % {_NB_TEST_MOD} <> 0),
tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM tokl)
SELECT lang AS lbl, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
""",
)
def text_nb_incremental_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental classifier training: the NB model's sufficient
    statistic is a count table, so training is MERGEABLE — fit two
    disjoint corpus batches separately, union + re-sum the counts, and
    the merged model is bit-identical to training on the full corpus
    at once (the oracle IS the full-corpus training). This is the
    continuous-ingest shape for model maintenance at 100 TB: each
    arriving batch contributes its own map-side-combined count table,
    the merge is one vocab-bounded aggregation, and NOTHING is
    retrained — the same mergeable-state discipline as the sketch
    family (a5-a8) applied to a learned model. The split key (doc_id %
    2) is arbitrary; any partition of the corpus merges to the same
    model because counting is associative-commutative."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    train = documents.filter(F.col("doc_id") % _NB_TEST_MOD != 0)
    batch_a = train.filter(F.col("doc_id") % 2 == 0)
    batch_b = train.filter(F.col("doc_id") % 2 != 0)
    return nb_merge_counts(
        nb_token_counts(batch_a), nb_token_counts(batch_b)
    ).select("lbl", "tok", F.col("cnt").cast("long").alias("cnt"))


_STOPWORDS = ("the", "a", "and", "of", "to")


@register(
    "text_quality_score",
    oracle=f"""
WITH tokl AS (
  SELECT doc_id, n_chars, {TOKENS_SQL.format(col="text")} AS toks,
         length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS punct_cnt
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(punct_cnt AS BIGINT) AS punct_cnt,
       ROUND(len(list_filter(toks, t -> t IN ({", ".join(repr(s) for s in _STOPWORDS)})))
             / greatest(len(toks), 1), 6) AS stopword_ratio,
       ROUND(least(len(toks) / 100.0, 1.0) * 0.5
             + (len(list_filter(toks, t -> t IN ({", ".join(repr(s) for s in _STOPWORDS)})))
                / greatest(len(toks), 1)) * 0.5, 6) AS quality
FROM tokl
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword-ratio features
    combined into a bounded [0,1] score."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    df = documents.select(
        "doc_id",
        toks.alias("toks"),
        F.length(F.regexp_replace("text", "[^.,!?;:]", "")).alias("punct_cnt"),
    )
    stop_cnt = F.size(F.filter(F.col("toks"), lambda t: t.isin(*_STOPWORDS)))
    n_tok = F.size("toks")
    stop_ratio = stop_cnt / F.greatest(n_tok, F.lit(1))
    return df.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.col("punct_cnt").cast("long"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5 + stop_ratio * 0.5, 6).alias(
            "quality"
        ),
    )


# ---------------------------------------------------------------------------
# Trained quality classifier — full-batch logistic regression, in-engine
# ---------------------------------------------------------------------------

_LR_ROUNDS = 3
_LR_RATE = 1.0

#: shared feature/label SQL (mirrors the column expressions in
#: lr_train_score token for token): x1 = capped length, x2 = stopword
#: ratio, label = the quality composite >= 0.5 — a separable boundary
#: (x1 + x2 >= 1) the model can actually learn.
_LR_FEATS_SQL = f"""
tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS toks FROM documents),
feat AS (
  SELECT doc_id,
         ROUND(least(len(toks) / 100.0, 1.0), 6) AS x1,
         ROUND(len(list_filter(toks, t -> t IN ({", ".join(repr(s) for s in _STOPWORDS)})))
               / greatest(len(toks), 1), 6) AS x2,
         doc_id % {_NB_TEST_MOD} = 0 AS is_test
  FROM tokl
),
lab AS (
  SELECT doc_id, x1, x2, is_test,
         CASE WHEN 0.5 * x1 + 0.5 * x2 >= 0.5 THEN 1.0 ELSE 0.0 END AS y
  FROM feat
)"""


def _lr_oracle(rounds: int = _LR_ROUNDS, rate: float = _LR_RATE) -> str:
    parts = [f"WITH {_LR_FEATS_SQL},\nw0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)"]
    prev = "w0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
g{r} AS (
  SELECT AVG(y - 1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2)))) AS g0,
         AVG((y - 1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2)))) * x1) AS g1,
         AVG((y - 1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2)))) * x2) AS g2
  FROM lab CROSS JOIN {prev} w WHERE NOT is_test
),
w{r} AS (
  SELECT ROUND(w.b + {rate} * g.g0, 6) AS b,
         ROUND(w.w1 + {rate} * g.g1, 6) AS w1,
         ROUND(w.w2 + {rate} * g.g2, 6) AS w2
  FROM {prev} w CROSS JOIN g{r} g
)"""
        )
        prev = f"w{r}"
    parts.append(
        f"""
SELECT l.doc_id,
       ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * l.x1 + w.w2 * l.x2))), 6) AS p_quality,
       ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * l.x1 + w.w2 * l.x2))), 6) >= 0.5 AS pred,
       l.y = 1.0 AS gold,
       (ROUND(1.0 / (1.0 + exp(-(w.b + w.w1 * l.x1 + w.w2 * l.x2))), 6) >= 0.5)
         = (l.y = 1.0) AS correct
FROM lab l CROSS JOIN {prev} w WHERE l.is_test"""
    )
    return "".join(parts)


def lr_train_score(
    documents: DataFrame,
    test_mod: int,
    rounds: int = _LR_ROUNDS,
    rate: float = _LR_RATE,
) -> DataFrame:
    """Full-batch gradient-descent logistic regression trained and
    applied in one plan: features and the derived label are computed
    per doc, the 80% split trains ``rounds`` GD steps, the held-out
    20% is scored. The weight vector lives as a 1-ROW FRAME threaded
    through the loop (the PCA power-iteration pattern — no driver
    collect): each step is one partial-aggregatable AVG over the train
    split (three gradient components), a broadcast crossJoin onto the
    weight row, and a ROUND(·, 6) that pins the weights to the same
    6-digit grid on both engines — the per-iteration rounding is what
    keeps float drift from compounding across steps (same discipline
    as operators/kmeans.py lloyd). Shuffle per step is ONE 3-number
    aggregate; at 100 TB the cost is `rounds` passes over the train
    split, each map-side-combined to 3 doubles per partition.

    Why there is NO streaming-training twin (the NB model has one,
    ``streaming/classify.py train_model_stream``): GD steps are
    order-dependent and non-associative — batch-1-then-batch-2 ≠
    one-shot — so per-batch folding cannot reproduce batch training
    the way NB's mergeable counts can; online SGD is a different
    algorithm with different semantics (parameter-server territory),
    not a streaming re-expression of this one. The honest streaming
    composition for the linear model is: retrain in batch on a
    schedule, hot-swap the weight frame between scoring batches."""
    is_test = F.col("doc_id") % test_mod == 0
    toks = tokens_col(F.col("text"))
    stop_cnt = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    n_tok = F.size(toks)
    feats = documents.select(
        "doc_id",
        F.round(F.least(n_tok / F.lit(100.0), F.lit(1.0)), 6).alias("x1"),
        F.round(stop_cnt / F.greatest(n_tok, F.lit(1)), 6).alias("x2"),
        is_test.alias("is_test"),
    )
    lab = feats.withColumn(
        "y",
        F.when(0.5 * F.col("x1") + 0.5 * F.col("x2") >= 0.5, 1.0).otherwise(0.0),
    ).transform(materialize)
    train = lab.filter(~F.col("is_test"))

    spark = documents.sparkSession
    w = spark.createDataFrame([(0.0, 0.0, 0.0)], "b double, w1 double, w2 double")
    margin = F.col("b") + F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2")
    resid = F.col("y") - 1.0 / (1.0 + F.exp(-margin))
    for _ in range(rounds):
        g = (
            train.crossJoin(F.broadcast(w))
            .agg(
                F.avg(resid).alias("g0"),
                F.avg(resid * F.col("x1")).alias("g1"),
                F.avg(resid * F.col("x2")).alias("g2"),
            )
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .select(
                F.round(F.col("b") + rate * F.col("g0"), 6).alias("b"),
                F.round(F.col("w1") + rate * F.col("g1"), 6).alias("w1"),
                F.round(F.col("w2") + rate * F.col("g2"), 6).alias("w2"),
            )
            .transform(materialize)
        )
    p = F.round(1.0 / (1.0 + F.exp(-margin)), 6)
    return (
        lab.filter(F.col("is_test"))
        .crossJoin(F.broadcast(w))
        .select(
            "doc_id",
            p.alias("p_quality"),
            (p >= 0.5).alias("pred"),
            (F.col("y") == 1.0).alias("gold"),
            ((p >= 0.5) == (F.col("y") == 1.0)).alias("correct"),
        )
    )


@register("text_lr_quality_classifier", oracle=_lr_oracle())
def text_lr_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A trained QUALITY classifier — the supervised companion to the
    heuristic ``text_quality_score`` and the linear complement of the
    Naive Bayes ``text_nb_langid_classifier``: full-batch logistic
    regression on two quality features (capped length, stopword
    ratio), labels derived from the quality composite's 0.5 threshold
    (a linearly separable boundary, so the model has real signal to
    learn — held-out accuracy is asserted in ``tests/test_llm_text.py``
    through the same ``lr_train_score`` core with more steps). The
    oracle unrolls the {n} GD steps as CTEs exactly like the
    PCA/PageRank/BPE oracles; weights are rounded to 6 digits after
    every step ON BOTH ENGINES, so the iteration stays on one float
    grid and the final per-doc probabilities hash-match."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return lr_train_score(documents, _NB_TEST_MOD)


text_lr_quality_classifier.__doc__ = text_lr_quality_classifier.__doc__.format(
    n=_LR_ROUNDS
)


@register(
    "text_token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len({TOKENS_SQL.format(col="text")}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
         AS bpe_ish_tokens
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex segmentation
    (letters runs / digit runs / single other glyphs)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).cast("long").alias("ws_tokens"),
        F.regexp_count(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"))
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------------------
# Dedup clustering: connected components over near-dup edges
# ---------------------------------------------------------------------------

_CC_THRESHOLD = 0.5
_CC_ITERATIONS = 4


def _cc_ctes() -> tuple[str, str]:
    """Shared CTE chain (shingle → jaccard pairs → e → l0 → lN) for the
    min-label component family; returns (chain, final_label_cte_name)
    so derivatives (canonical selection) extend the SAME algebra."""
    rounds = []
    prev = "l0"
    for i in range(1, _CC_ITERATIONS + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT l.node, LEAST(l.label, COALESCE(MIN(nl.label), l.label)) AS label
  FROM {prev} l
  LEFT JOIN e ON e.s = l.node
  LEFT JOIN {prev} nl ON nl.node = e.d
  GROUP BY l.node, l.label
)"""
        )
        prev = f"l{i}"
    rounds_sql = ",\n".join(rounds)
    chain = f"""
WITH {_shingle_cte(_NJ_SHINGLE_N)},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM shingle a JOIN shingle b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {_CC_THRESHOLD}
),
e AS (SELECT id_a AS s, id_b AS d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM e),
{rounds_sql}"""
    return chain, prev


def _cc_oracle() -> str:
    chain, prev = _cc_ctes()
    return f"""{chain}
SELECT node AS doc_id, label AS component_id FROM {prev}
"""


@register("dedup_connected_components", oracle=_cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: trigram-Jaccard ≥ 0.5 pairs as edges, then
    {n} rounds of min-label propagation — each near-dup cluster
    collapses to its minimum doc_id (the canonical survivor). Fixed
    iteration count makes the result oracle-checkable independent of
    convergence; the oracle unrolls the same rounds as SQL."""
    from ..operators.dedup import connected_components

    (documents,) = load_tuned(spark, sf_dir, "documents")
    # edge stage: measured-gate choice between the naive count-join
    # and PPJoin prefix filtering (identical pair set either way, so
    # the oracle is unchanged) — prefix wins exactly when the corpus
    # has a rare shingle tail for hot boilerplate to fall behind; the
    # df profile decides (operators/dedup.py near_dup_edges, SCALING.md)
    pairs = near_dup_edges(
        documents, id_col="doc_id", text_col="text",
        threshold=_CC_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )
    labels = connected_components(pairs, iterations=_CC_ITERATIONS)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


dedup_connected_components.__doc__ = dedup_connected_components.__doc__.format(
    n=_CC_ITERATIONS
)


def _cc_star_cte() -> str:
    """Shared WITH-body: recursive label reachability over the trigram
    Jaccard near-dup edge set (every node collects all labels
    reachable over the symmetric edges; the MIN is the component
    minimum). Round-count independent."""
    return f"""WITH RECURSIVE {_shingle_cte(_NJ_SHINGLE_N)},
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM shingle a JOIN shingle b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter / (sa.sz + sb.sz - inter), 6) >= {_CC_THRESHOLD}
),
e AS (SELECT id_a AS s, id_b AS d FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
cc(node, label) AS (
  SELECT s, s FROM e
  UNION
  SELECT e.d, cc.label FROM cc JOIN e ON e.s = cc.node
)"""


def _cc_star_oracle() -> str:
    """Converged-components oracle: checks the large-star/small-star
    variant's fixed point via :func:`_cc_star_cte`."""
    return f"""
{_cc_star_cte()}
SELECT node AS doc_id, MIN(label) AS component_id FROM cc GROUP BY node
"""


@register("dedup_cc_star_converged", oracle=_cc_star_oracle())
def dedup_cc_star_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME dedup clustering as ``dedup_connected_components`` but
    via large-star/small-star alternation run to CONVERGENCE — the
    O(log n)-round 100 TB path (fixed-round propagation needs diameter
    rounds and re-joins the full adjacency each round; star rounds
    shrink the edge set toward per-component stars). The oracle is a
    recursive reachability CTE, so it checks the true fixed point
    rather than any particular round count.

    Measured regimes (scripts/cc_star_regimes.py, quiet local[32],
    best-of-3): on THIS dedup edge set at sf0.1 — diameter ~2, where a
    fixed 3 rounds happens to suffice — cc_star 2.17s vs fixed-3 cc
    2.54s: convergence detection is no longer a premium even in the
    fixed-round variant's best regime. On a diameter-63 chain graph
    (2000 chains x 64 nodes) cc_star converges in 5.66s while
    fixed-round propagation needs 63 rounds = 26.2s to be CORRECT
    (3 rounds returns wrong labels in 2.8s). Fixed-round stays
    registered because its round-unrolled oracle checks a different
    property (exact per-round semantics vs converged fixed point)."""
    from ..operators.dedup import connected_components_star

    (documents,) = load_tuned(spark, sf_dir, "documents")
    # edge stage: measured-gate choice between the naive count-join
    # and PPJoin prefix filtering (identical pair set either way, so
    # the oracle is unchanged) — prefix wins exactly when the corpus
    # has a rare shingle tail for hot boilerplate to fall behind; the
    # df profile decides (operators/dedup.py near_dup_edges, SCALING.md)
    pairs = near_dup_edges(
        documents, id_col="doc_id", text_col="text",
        threshold=_CC_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )
    labels = connected_components_star(pairs)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


# ---------------------------------------------------------------------------
# Leakage-free train/heldout split (near-dup-cluster-aware)
# ---------------------------------------------------------------------------

_SPLIT_SEED = "split7"
_SPLIT_TRAIN_PCT = 80


def _split_oracle() -> str:
    return f"""
{_cc_star_cte()},
lab AS (SELECT node AS doc_id, MIN(label) AS group_id FROM cc GROUP BY node),
g AS (
  SELECT d.doc_id, COALESCE(l.group_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id
)
SELECT doc_id, group_id,
       CASE WHEN ('0x' || substr(md5('{_SPLIT_SEED}:' || CAST(group_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 < {_SPLIT_TRAIN_PCT} THEN 'train' ELSE 'heldout' END AS split
FROM g
"""


@register("sample_split_leakfree", oracle=_split_oracle())
def sample_split_leakfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/heldout split: the split coin is
    flipped per NEAR-DUP CLUSTER (converged components of the trigram
    Jaccard graph, singletons = the doc itself), not per document —
    so a heldout doc can never have a near-duplicate in train, the
    group-aware-split requirement every eval-integrity audit starts
    from (naive per-doc splits leak {t}-Jaccard neighbors across the
    boundary). ~{p}% of GROUPS land in train via a seeded md5 coin.

    Determinism/oracle: cluster labels come from the converged
    large-star fixed point (checked by the same recursive CTE as
    ``dedup_cc_star_converged``), the coin is the seeded-hash idiom —
    the whole split is reproducible and fully oracle-checked; the
    no-straddle invariant is additionally asserted over the actual
    near-dup pair list in tests/test_dimsum_hll_properties.py.

    Scale: the Jaccard candidate pipeline and star rounds are the
    banded/shrinking shapes of their parent queries; the split coin
    is a map-only projection on the component label."""
    from ..operators.dedup import connected_components_star

    (documents,) = load_tuned(spark, sf_dir, "documents")
    # edge stage: measured-gate choice between the naive count-join
    # and PPJoin prefix filtering (identical pair set either way, so
    # the oracle is unchanged) — prefix wins exactly when the corpus
    # has a rare shingle tail for hot boilerplate to fall behind; the
    # df profile decides (operators/dedup.py near_dup_edges, SCALING.md)
    pairs = near_dup_edges(
        documents, id_col="doc_id", text_col="text",
        threshold=_CC_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )
    labels = connected_components_star(pairs)
    g = (
        documents.select("doc_id")
        .join(labels, documents["doc_id"] == labels["node"], "left")
        .select(
            "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("group_id")
        )
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(_SPLIT_SEED + ":"), F.col("group_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return g.select(
        "doc_id",
        "group_id",
        F.when(coin < _SPLIT_TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("heldout"))
        .alias("split"),
    )


sample_split_leakfree.__doc__ = sample_split_leakfree.__doc__.format(
    t=_CC_THRESHOLD, p=_SPLIT_TRAIN_PCT
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling k-gram hash, window minimum)
# ---------------------------------------------------------------------------

_WN_K = 3  # tokens per k-gram
_WN_W = 4  # k-grams per winnowing window


@register(
    "text_winnow_fingerprint",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tokpos AS (
  SELECT doc_id, t, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tokl
),
sh AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos + {_WN_K - 1}], ' ')) AS h,
         len(t) - {_WN_K - 1} AS n_sh
  FROM tokpos
  WHERE pos <= len(t) - {_WN_K - 1}
),
winmin AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WN_W - 1} FOLLOWING) AS sel
  FROM sh
  QUALIFY pos <= n_sh - {_WN_W - 1}
),
sel AS (SELECT DISTINCT doc_id, sel FROM winmin)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_selected,
       md5(string_agg(sel, '' ORDER BY sel)) AS winnow_fp
FROM sel GROUP BY doc_id
""",
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al., MOSS): hash
    every {k}-token k-gram, slide a window of {w} consecutive hashes,
    keep each window's minimum, fingerprint = md5 over the sorted
    distinct selected hashes. Near-dup docs share selected hashes even
    after edits — the basis of copy detection at corpus scale. Pure
    column exprs + one explode; no shuffle until the final per-doc
    aggregation."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    toks = documents.select("doc_id", tokens_col(F.col("text")).alias("t"))
    sh = (
        toks.withColumn("n_sh", F.size("t") - (_WN_K - 1))
        .filter(F.col("n_sh") >= 1)
        .select(
            "doc_id",
            "n_sh",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_sh") - 1),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", *[F.element_at("t", i + k + 1) for k in range(_WN_K)]
                        )
                    ),
                )
            ).alias("pos", "h"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WN_W - 1)
    )
    winmin = (
        sh.withColumn("sel", F.min("h").over(w))
        .filter(F.col("pos") <= F.col("n_sh") - _WN_W)
        .select("doc_id", "sel")
        .distinct()
    )
    return winmin.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.md5(F.array_join(F.array_sort(F.collect_list("sel")), "")).alias("winnow_fp"),
    )


text_winnow_fingerprint.__doc__ = text_winnow_fingerprint.__doc__.format(
    k=_WN_K, w=_WN_W
)


# ---------------------------------------------------------------------------
# PII-style regex scan + redaction
# ---------------------------------------------------------------------------

@register(
    "pii_redact_props",
    oracle="""
SELECT event_id,
       CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_numbers,
       regexp_replace(props, '[0-9]+', '[NUM]', 'g') AS redacted
FROM events
""",
)
def pii_redact_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrub over the raw event payload: count numeric spans
    and redact them — the pattern slot where production pipelines put
    email/phone/SSN regexes. Pure JVM regex (regexp_count /
    regexp_replace), no Python in the row path."""
    tune(spark)
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_count("props", F.lit("[0-9]+")).cast("long").alias("n_numbers"),
        F.regexp_replace("props", "[0-9]+", "[NUM]").alias("redacted"),
    )


_DP_CAP_K = 20      # max events one user may contribute
_DP_CLAMP_LO = 0    # value clamp bounds (centi-units below)
_DP_CLAMP_HI = 10


@register(
    "pii_dp_bounded_contribution",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, user_id,
         LEAST(GREATEST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT),
                        {_DP_CLAMP_LO * 100}), {_DP_CLAMP_HI * 100}) AS cv,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
capped AS (SELECT * FROM ranked WHERE rn <= {_DP_CAP_K})
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cv) AS BIGINT) AS sum_clamped_centi
FROM capped GROUP BY event_type
""",
)
def pii_dp_bounded_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity bounding — the deterministic preprocessing half of
    a differentially private release (the noise half is a separate,
    necessarily non-deterministic step; what an engine must provide is
    the part that makes the noise scale FINITE): every user's
    contribution is capped at the first {k} events (deterministic
    (ts, event_id) order, so both engines cap the same rows) and every
    value winsorized into [{lo}, {hi}], after which one user can shift
    any per-type sum by at most {k}·{hi} and any count by at most {k}
    — the bounded sensitivity a DP mechanism needs, and a useful
    robustness guard (bot/whale damping) even without noise. Plan: one
    per-user window rank (the cap), pure column clamps, one
    partial-aggregatable groupBy — shuffle ∝ users + types. Companion
    to the k-anonymity/l-diversity audits: they measure re-identifi-
    cation structure, this bounds influence. Exact centi-ints."""
    from pyspark.sql.window import Window

    tune(spark)
    ev = load(spark, sf_dir, "events")

    cv = F.least(
        F.greatest(
            F.floor(F.col("value") * 100 + 0.5).cast("long"),
            F.lit(_DP_CLAMP_LO * 100),
        ),
        F.lit(_DP_CLAMP_HI * 100),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        ev.select("event_type", "user_id", cv.alias("cv"), "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DP_CAP_K)
    )
    return capped.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cv").cast("long").alias("sum_clamped_centi"),
    )


pii_dp_bounded_contribution.__doc__ = pii_dp_bounded_contribution.__doc__.format(
    k=_DP_CAP_K, lo=_DP_CLAMP_LO, hi=_DP_CLAMP_HI
)


_KANON_K = 5


@register(
    "pii_k_anonymity_audit",
    oracle=f"""
SELECT c_nationkey AS nation, c_mktsegment AS segment,
       CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       (COUNT(*) < {_KANON_K}) AS suppress
FROM customer GROUP BY 1, 2, 3
""",
)
def pii_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifier combinations — the
    privacy gate a training-data export runs before release: any
    (nation, market segment, balance band) cell with fewer than
    k={k} members re-identifies its members and must be suppressed or
    generalized (Sweeney 2002). Emits every cell with its size and
    suppress flag; the suppressed rows themselves are the semi-join of
    the source against the flagged cells.

    Scale: one partial-aggregatable groupBy on the quasi-id tuple —
    map-side combine collapses each partition to its distinct cells
    before the shuffle, so network volume is ∝ cell cardinality, not
    rows; the flag is a scalar comparison on the aggregate. The
    100 TB-relevant trap is the OTHER direction: auditing
    high-cardinality quasi-ids (cells ≈ rows) makes every row its own
    singleton cell — that is a finding (suppress everything), not a
    performance problem."""
    tune(spark)
    customer = load(spark, sf_dir, "customer")
    return customer.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) < _KANON_K).alias("suppress"),
    )


pii_k_anonymity_audit.__doc__ = pii_k_anonymity_audit.__doc__.format(k=_KANON_K)


_LDIV_L = 3


@register(
    "pii_l_diversity_audit",
    oracle=f"""
SELECT c_nationkey AS nation, c_mktsegment AS segment,
       CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT right(c_name, 1)) AS BIGINT) AS n_sensitive,
       (COUNT(DISTINCT right(c_name, 1)) < {_LDIV_L}) AS homogeneous
FROM customer GROUP BY 1, 2, 3
""",
)
def pii_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity companion to ``pii_k_anonymity_audit`` — same
    quasi-identifier cells, but the question is the HOMOGENEITY attack
    k-anonymity misses (Machanavajjhala 2007): a cell can be large
    enough to pass k yet carry only one sensitive value, so membership
    alone discloses it. Each cell reports its distinct-sensitive-value
    count (sensitive attribute: the name's check digit, a stand-in
    uncorrelated with the quasi-ids) and a ``homogeneous`` flag when
    that count is below l={l}. Together the two audits close the
    suppress-vs-generalize loop: k flags cells too SMALL to publish,
    l flags cells too UNIFORM — generalizing the balance band until
    both flags clear is the release procedure.

    Scale: one groupBy on the quasi-id tuple with a distinct aggregate;
    Spark plans COUNT(DISTINCT) as two partial-aggregatable phases
    (distinct (cell, value) pairs, then counts), so network volume is
    ∝ distinct pairs per cell — bounded by cell cardinality × sensitive
    domain, never by rows."""
    tune(spark)
    customer = load(spark, sf_dir, "customer")
    n_sens = F.count_distinct(F.substring("c_name", -1, 1))
    return customer.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        n_sens.cast("long").alias("n_sensitive"),
        (n_sens < _LDIV_L).alias("homogeneous"),
    )


pii_l_diversity_audit.__doc__ = pii_l_diversity_audit.__doc__.format(l=_LDIV_L)


_TCLOSE_T = 0.2


@register(
    "pii_t_closeness_audit",
    oracle=f"""
WITH pairs AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
         right(c_name, 1) AS sv, COUNT(*) AS c
  FROM customer GROUP BY 1, 2, 3, 4
),
dom AS (SELECT DISTINCT sv FROM pairs),
mrow AS (SELECT COUNT(*) AS m FROM dom),
gdist AS (SELECT sv, CAST(SUM(c) AS BIGINT) AS g FROM pairs GROUP BY 1),
gcum AS (SELECT sv, CAST(SUM(g) OVER (ORDER BY sv) AS BIGINT) AS gc FROM gdist),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS big_n FROM pairs),
cells AS (
  SELECT nation, segment, bal_band, CAST(SUM(c) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2, 3
),
grid AS (SELECT cells.*, dom.sv FROM cells CROSS JOIN dom),
cc AS (
  SELECT g.nation, g.segment, g.bal_band, g.n, g.sv,
         CAST(SUM(COALESCE(p.c, 0)) OVER (
           PARTITION BY g.nation, g.segment, g.bal_band ORDER BY g.sv
         ) AS BIGINT) AS cum
  FROM grid g LEFT JOIN pairs p USING (nation, segment, bal_band, sv)
),
nums AS (
  SELECT nation, segment, bal_band, n,
         CAST(SUM(ABS(cum * (SELECT big_n FROM tot) - gc * n)) AS BIGINT)
           AS num,
         CAST(n * (SELECT big_n FROM tot)
              * ((SELECT m FROM mrow) - 1) AS BIGINT) AS den
  FROM cc JOIN gcum USING (sv) GROUP BY 1, 2, 3, 4
)
SELECT nation, segment, bal_band, n,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS emd,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) > {_TCLOSE_T}
         AS not_close
FROM nums
""",
)
def pii_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness — the third leg of the privacy trio (Li, Li,
    Venkatasubramanian 2007): l-diversity counts DISTINCT sensitive
    values per quasi-id cell, but a cell can be diverse yet SKEWED
    (99% one value), which still discloses; t-closeness bounds the
    Earth Mover's Distance between each cell's sensitive-value
    distribution and the GLOBAL one. Over an ordered value domain with
    unit ground distance the EMD closed form is the mean absolute
    difference of the two cumulative distributions:
    EMD = Σ_i |CDF_cell(i) − CDF_global(i)| / (m − 1). Cells whose
    EMD exceeds t={t} are flagged ``not_close``.

    Exactness discipline: the CDFs are rationals, so both engines
    compute the integer numerator Σ|cum_cell·N − cum_global·n| and the
    integer denominator n·N·(m−1) exactly and perform ONE final double
    division + round — bit-equal across engines (the float-free-oracle
    rule in the verify recipe). At 100 TB the numerator products reach
    ~N² per cell — swap the longs for decimal(38,0) (Spark) /
    HUGEINT (DuckDB), both exact.

    Scale: counts per (cell, sensitive value) are one partial-
    aggregatable groupBy (network ∝ distinct pairs); the cumulative
    grid fans each cell by the sensitive DOMAIN (m ≈ 10 — a broadcast
    cross join, allowlisted) and the per-cell CDF is a window
    PARTITIONED by cell; the global CDF is a triangular join on the
    m-row domain frame, never an unpartitioned window over data."""
    tune(spark)
    customer = load(spark, sf_dir, "customer")
    pairs = (
        customer.groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
            F.substring("c_name", -1, 1).alias("sv"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize)
    )
    dom = pairs.select("sv").distinct()
    gdist = pairs.groupBy("sv").agg(F.sum("c").alias("g"))
    g2 = gdist.select(F.col("sv").alias("sv2"), F.col("g").alias("g2"))
    gcum = (
        gdist.join(F.broadcast(g2), F.col("sv2") <= F.col("sv"))
        .groupBy("sv")
        .agg(F.sum("g2").alias("gc"))
    )
    tot = pairs.agg(F.sum("c").alias("big_n"))
    mrow = dom.agg((F.count(F.lit(1)) - 1).alias("m1"))
    cells = pairs.groupBy("nation", "segment", "bal_band").agg(
        F.sum("c").alias("n")
    )
    grid = cells.crossJoin(F.broadcast(dom))
    w = Window.partitionBy("nation", "segment", "bal_band").orderBy("sv")
    cc = (
        grid.join(pairs, ["nation", "segment", "bal_band", "sv"], "left")
        .withColumn(
            "cum",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .join(F.broadcast(gcum), "sv")
        .crossJoin(F.broadcast(tot))
    )
    nums = cc.groupBy("nation", "segment", "bal_band", "n").agg(
        F.sum(
            F.abs(F.col("cum") * F.col("big_n") - F.col("gc") * F.col("n"))
        ).alias("num"),
        F.first(F.col("n") * F.col("big_n")).alias("n_bign"),
    )
    emd = F.round(
        F.col("num").cast("double") / (F.col("n_bign") * F.col("m1")).cast("double"),
        6,
    )
    return (
        nums.crossJoin(F.broadcast(mrow))
        .select(
            "nation",
            "segment",
            "bal_band",
            "n",
            emd.alias("emd"),
            (emd > _TCLOSE_T).alias("not_close"),
        )
    )


pii_t_closeness_audit.__doc__ = pii_t_closeness_audit.__doc__.format(
    t=_TCLOSE_T
)


# ---------------------------------------------------------------------------
# BPE-style merge statistics (global adjacent-pair counts)
# ---------------------------------------------------------------------------

_BPE_TOP = 20


@register(
    "text_bpe_pair_stats",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tokpos AS (
  SELECT doc_id, t, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tokl
),
pairs AS (
  SELECT tok || ' ' || t[pos + 1] AS pair
  FROM tokpos WHERE pos < len(t)
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT {_BPE_TOP}
""",
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE vocabulary training: corpus-wide counts
    of adjacent token pairs, top-{n} by frequency. One explode + one
    partial-agg groupBy; the top-k is a TakeOrderedAndProject (no full
    sort). At 100 TB this is exactly the job you iterate per merge
    round — counts are mergeable, so map-side combine does most of the
    work before the shuffle."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = documents.select(tokens_col(F.col("text")).alias("t"))
    pairs = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.concat_ws(
                        " ", F.element_at("t", i + 1), F.element_at("t", i + 2)
                    ),
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


text_bpe_pair_stats.__doc__ = text_bpe_pair_stats.__doc__.format(n=_BPE_TOP)


# ---------------------------------------------------------------------------
# Training-sequence chunking (fixed-size overlapping token windows)
# ---------------------------------------------------------------------------

_CHUNK_LEN = 64
_CHUNK_STRIDE = 48


@register(
    "text_chunk_for_training",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tokpos AS (
  SELECT doc_id, t, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tokl
),
starts AS (
  SELECT doc_id, t, pos,
         CAST((pos - 1) / {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx
  FROM tokpos
  WHERE (pos - 1) % {_CHUNK_STRIDE} = 0
)
SELECT doc_id, chunk_idx,
       CAST(len(t[pos:pos + {_CHUNK_LEN - 1}]) AS BIGINT) AS n_tokens,
       md5(array_to_string(t[pos:pos + {_CHUNK_LEN - 1}], ' ')) AS chunk_hash
FROM starts
""",
)
def text_chunk_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence prep for training: overlapping {L}-token chunks at
    stride {S} (16-token overlap preserves context across boundaries).
    One row per chunk with its token count and content hash. Explode +
    slice stay JVM-side; at 100 TB this is a map-only stage — no
    shuffle at all."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = documents.select("doc_id", tokens_col(F.col("text")).alias("t"))
    chunks = toks.filter(F.size("t") >= 1).select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("t") - 1) / _CHUNK_STRIDE).cast("long"),
            )
        ).alias("chunk_idx"),
    )
    sliced = chunks.withColumn(
        "chunk", F.slice("t", F.col("chunk_idx").cast("int") * _CHUNK_STRIDE + 1, _CHUNK_LEN)
    )
    return sliced.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
    )


text_chunk_for_training.__doc__ = text_chunk_for_training.__doc__.format(
    L=_CHUNK_LEN, S=_CHUNK_STRIDE
)


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk block spans, per source)
# ---------------------------------------------------------------------------

_PACK_CAP = 256


@register(
    "text_pack_sequences",
    oracle=f"""
WITH tokl AS (
  SELECT doc_id, source,
         CAST(len({TOKENS_SQL.format(col="text")}) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         -- CAST: DuckDB widens windowed SUM(BIGINT) to HUGEINT, which
         -- fetchdf() materializes as float64 and breaks type-sensitive
         -- hash comparison against Spark's int64.
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM tokl
)
SELECT doc_id, source, n_tokens, start_offset,
       CAST(FLOOR(start_offset / {_PACK_CAP}) AS BIGINT) AS first_block,
       CAST(FLOOR((start_offset + GREATEST(n_tokens, 1) - 1) / {_PACK_CAP}) AS BIGINT)
         AS last_block
FROM cum
""",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): within each
    source stream, documents are concatenated in doc_id order and cut
    into fixed {cap}-token training blocks; each doc maps to its
    [first_block, last_block] span. One running-sum window partitioned
    by source — the packing key IS the partition key, so at 100 TB
    this is a single shuffle on source with no global ordering
    bottleneck (the classic mistake is a corpus-wide window). For the
    keyless CORPUS-GLOBAL packing order see
    ``sample_pack_concat_chunks`` (two-phase distributed scan)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    toks = documents.select(
        "doc_id", "source", F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = toks.withColumn(
        "start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / _PACK_CAP).cast("long").alias("first_block"),
        F.floor(
            (F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
            / _PACK_CAP
        )
        .cast("long")
        .alias("last_block"),
    )


text_pack_sequences.__doc__ = text_pack_sequences.__doc__.format(cap=_PACK_CAP)


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------

_TFIDF_K = 3


@register(
    "text_tfidf_topk",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM tokl),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
idf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, idf.df,
         ROUND(tf.tf * ln((n.n_docs + 1.0) / (idf.df + 1.0)), 6) AS tfidf
  FROM tf JOIN idf USING (tok) CROSS JOIN n
)
SELECT doc_id, tok AS term, tf, df, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, tok ASC) AS rn
  FROM scored
) WHERE rn <= {_TFIDF_K}
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{k} TF-IDF terms (smoothed idf). Term
    frequencies partial-aggregate map-side; the document-frequency
    table is vocabulary-sized (≪ corpus) so AQE broadcasts it; ranking
    happens on the ROUNDed score (both engines) with a term tie-break
    so top-k is total-ordered."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    tok = documents.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    idf = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(idf, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_K)
        .select("doc_id", F.col("tok").alias("term"), "tf", "df", "tfidf")
    )


text_tfidf_topk.__doc__ = text_tfidf_topk.__doc__.format(k=_TFIDF_K)


# ---------------------------------------------------------------------------
# Corpus unigram log-probability (perplexity-proxy quality signal)
# ---------------------------------------------------------------------------

@register(
    "text_unigram_logprob",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM tokl),
freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(ln(f.cnt / (1.0 * tot.total))), 6) AS avg_logprob
FROM tok t JOIN freq f USING (tok) CROSS JOIN tot
GROUP BY t.doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under the corpus unigram
    distribution — the cheap perplexity proxy used to filter
    gibberish/boilerplate before training. Two aggregations (corpus
    term counts, then per-doc mean over a vocab join); the frequency
    table is vocabulary-sized, so the join broadcasts."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt") / (1.0 * F.col("total")))), 6).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (hash-ordered per-stratum cap)
# ---------------------------------------------------------------------------

_STRAT_K = 40


@register(
    "sample_stratified_hash",
    oracle=f"""
SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS sample_rank
  FROM documents
) WHERE sample_rank <= {_STRAT_K}
""",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for data mixes: within each
    language stratum keep the first {k} docs in content-hash order —
    reproducible across runs and engines (no RNG), uniform because the
    hash destroys doc_id locality. At scale this is one shuffle on the
    stratum key; the per-stratum top-k never materializes the full
    sort (rank + filter prunes early)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        documents.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _STRAT_K)
        .select("doc_id", "lang", F.col("sample_rank").cast("long"))
    )


_MIX_BUDGET = 200


@register(
    "sample_temperature_mix",
    oracle=f"""
WITH n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS w
  FROM n
),
tot AS (SELECT SUM(w) AS tw FROM w),
quota AS (
  SELECT source, CAST((CAST(w AS HUGEINT) * {_MIX_BUDGET}) // tw AS BIGINT) AS quota
  FROM w, tot
),
ranked AS (
  SELECT d.doc_id, d.source, q.quota,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rnk
  FROM documents d JOIN quota q USING (source)
)
SELECT doc_id, source, CAST(rnk AS BIGINT) AS sample_rank
FROM ranked WHERE rnk <= quota
""",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling (t=0.5): each source\'s
    share of a {b}-doc budget is proportional to sqrt(its size), the
    standard multilingual/multi-domain rebalancing that upsamples rare
    sources relative to their natural frequency. Quotas are exact
    integers (sqrt is correctly rounded IEEE, then floored to
    micro-units; the division is integer), and the per-source picks
    are the first quota docs in content-hash order — reproducible
    across engines with no RNG.

    Scale shape: one tiny per-source aggregate (broadcast back), one
    shuffle on the source key for the rank window; the md5 order
    destroys doc_id locality so the "sample" is uniform within each
    source."""
    from pyspark.sql.window import Window

    (documents,) = load_tuned(spark, sf_dir, "documents")
    n = documents.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_int = n.select(
        "source",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000).cast("long").alias("w"),
    )
    tot = w_int.agg(F.sum("w").alias("tw"))
    quota = (
        w_int.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(
                f"CAST((CAST(w AS DECIMAL(38,0)) * {_MIX_BUDGET}) DIV tw AS BIGINT)"
            ).alias("quota"),
        )
    )
    wnd = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        documents.join(F.broadcast(quota), "source")
        .withColumn("rnk", F.row_number().over(wnd))
        .filter(F.col("rnk") <= F.col("quota"))
        .select("doc_id", "source", F.col("rnk").cast("long").alias("sample_rank"))
    )


sample_temperature_mix.__doc__ = sample_temperature_mix.__doc__.format(b=_MIX_BUDGET)


# ---------------------------------------------------------------------------
# Inverted index (posting lists, document frequency)
# ---------------------------------------------------------------------------

_POST_TOP = 50
_POST_CAP = 10


@register(
    "text_postings_index",
    oracle=f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
dt AS (SELECT DISTINCT doc_id, tok
       FROM (SELECT doc_id, unnest(t) AS tok FROM tokl)),
agg AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         array_to_string(list_sort(list(doc_id))[1:{_POST_CAP}], ',') AS postings
  FROM dt GROUP BY tok
)
SELECT tok AS term, df, postings
FROM agg ORDER BY df DESC, term ASC LIMIT {_POST_TOP}
""",
)
def text_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → document frequency + the
    first {cap} postings (sorted doc_ids), for the {top} highest-df
    terms. The posting cap bounds per-term state (a real index shards
    long posting lists); the top-k is TakeOrderedAndProject, not a
    full sort."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    dt = (
        documents.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .distinct()
    )
    agg = dt.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_set("doc_id")), 1, _POST_CAP),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return (
        agg.select(F.col("tok").alias("term"), "df", "postings")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(_POST_TOP)
    )


text_postings_index.__doc__ = text_postings_index.__doc__.format(
    cap=_POST_CAP, top=_POST_TOP
)


# ---------------------------------------------------------------------------
# Repetition-ratio quality rule (Gopher-style duplicate n-gram filter)
# ---------------------------------------------------------------------------

_REP_DUP_MAX = 0.2
_REP_DISTINCT_MIN = 0.5


def _repetition_oracle() -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
WITH {_shingle_cte(3)},
sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS distinct_3g FROM shingle GROUP BY doc_id),
base AS (SELECT doc_id, {toks} AS t FROM documents),
scored AS (
  SELECT b.doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         ROUND(len(list_distinct(t)) / (1.0 * GREATEST(len(t), 1)), 6)
           AS distinct_token_ratio,
         ROUND(CASE WHEN len(t) > 2
                    THEN 1.0 - COALESCE(sc.distinct_3g, 0) / (1.0 * (len(t) - 2))
                    ELSE 0.0 END, 6) AS dup_trigram_ratio
  FROM base b LEFT JOIN sc ON sc.doc_id = b.doc_id
)
SELECT doc_id, n_tokens, distinct_token_ratio, dup_trigram_ratio,
       (dup_trigram_ratio > {_REP_DUP_MAX}
        OR distinct_token_ratio < {_REP_DISTINCT_MIN}) AS flagged
FROM scored
"""


@register("text_repetition_ratio", oracle=_repetition_oracle())
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule: fraction of duplicate
    trigrams (1 - distinct/total) and distinct-token ratio; a doc is
    flagged when dup_trigram_ratio > {dup} or distinct_token_ratio <
    {dis} — the boilerplate/spam filter every corpus pass runs. Pure
    array exprs per row (tokenize once, then count); the flag compares
    the ROUNDed ratios so both engines decide identically at the
    boundary."""
    from ..operators.dedup import shingles_col

    (documents,) = load_tuned(spark, sf_dir, "documents")
    base = documents.select("doc_id", tokens_col(F.col("text")).alias("t"))
    n = F.size("t")
    distinct_ratio = F.round(
        F.size(F.array_distinct("t")) / F.greatest(n, F.lit(1)), 6
    )
    dup_ratio = F.round(
        F.when(
            n > 2,
            1.0 - F.size(shingles_col(F.col("t"), 3)) / (1.0 * (n - 2)),
        ).otherwise(0.0),
        6,
    )
    scored = base.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        distinct_ratio.alias("distinct_token_ratio"),
        dup_ratio.alias("dup_trigram_ratio"),
    )
    return scored.withColumn(
        "flagged",
        (F.col("dup_trigram_ratio") > _REP_DUP_MAX)
        | (F.col("distinct_token_ratio") < _REP_DISTINCT_MIN),
    )


text_repetition_ratio.__doc__ = text_repetition_ratio.__doc__.format(
    dup=_REP_DUP_MAX, dis=_REP_DISTINCT_MIN
)


# ---------------------------------------------------------------------------
# Quality-filter funnel (one-pass survival audit over the filter chain)
# ---------------------------------------------------------------------------

#: the funnel's stage constants — stage 3 reuses the REGISTERED
#: repetition rule's thresholds verbatim so the funnel audits the
#: same filters the pipeline runs, not a private copy
_FUNNEL_LANGS = ("en", "es", "de", "fr")
_FUNNEL_MIN_TOKENS = 30
_FUNNEL_QUALITY_TAU = 0.25


def funnel_doc_flags(documents: DataFrame) -> DataFrame:
    """Per-doc cumulative pass flags for the 4-stage quality funnel
    (lang → length → repetition → quality), every predicate doc-local
    and computed from ONE tokenize. Shared by the batch query and the
    streaming twin (``streaming/quality_funnel.py``) so a stage
    definition can never drift between them. Stage predicates compare
    ROUNDed ratios (the ``text_repetition_ratio`` boundary
    discipline)."""
    from ..operators.dedup import shingles_col

    toks = tokens_col(F.col("text"))
    base = documents.select("doc_id", "lang", toks.alias("t"))
    n = F.size("t")
    dtr = F.round(F.size(F.array_distinct("t")) / F.greatest(n, F.lit(1)), 6)
    dup3 = F.round(
        F.when(
            n > 2, 1.0 - F.size(shingles_col(F.col("t"), 3)) / (1.0 * (n - 2))
        ).otherwise(0.0),
        6,
    )
    stop_ratio = F.size(
        F.filter(F.col("t"), lambda t: t.isin(*_STOPWORDS))
    ) / F.greatest(n, F.lit(1))
    quality = F.round(
        F.least(n / F.lit(100.0), F.lit(1.0)) * 0.5 + stop_ratio * 0.5, 6
    )
    p1 = F.col("lang").isin(*_FUNNEL_LANGS)
    p2 = p1 & (n >= _FUNNEL_MIN_TOKENS)
    p3 = p2 & ~((dup3 > _REP_DUP_MAX) | (dtr < _REP_DISTINCT_MIN))
    p4 = p3 & (quality >= _FUNNEL_QUALITY_TAU)
    return base.select(
        "doc_id",
        p1.alias("p1"),
        p2.alias("p2"),
        p3.alias("p3"),
        p4.alias("p4"),
    )


def funnel_counts(flags: DataFrame) -> DataFrame:
    """The funnel's sufficient statistics: one row of cumulative
    survival counters. ADDITIVE over disjoint batches (every predicate
    is doc-local), so the streaming twin folds these with a plain
    sum."""
    cnt = lambda c: F.count(F.when(F.col(c), F.lit(1))).cast("long")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        cnt("p1").alias("k1"),
        cnt("p2").alias("k2"),
        cnt("p3").alias("k3"),
        cnt("p4").alias("k4"),
    )


def funnel_table_from_counts(counts: DataFrame) -> DataFrame:
    """Unpivot the 1-row counters into the 4-row funnel table —
    (stage_ord, stage, n_in, n_kept, n_dropped, drop_rate), stage i's
    n_in = stage i-1's n_kept."""
    stages = [
        (1, "lang", "n_total", "k1"),
        (2, "length", "k1", "k2"),
        (3, "repetition", "k2", "k3"),
        (4, "quality", "k3", "k4"),
    ]
    stack = ", ".join(
        f"CAST({o} AS BIGINT), '{s}', {i}, {k}" for o, s, i, k in stages
    )
    return counts.selectExpr(
        f"stack(4, {stack}) AS (stage_ord, stage, n_in, n_kept)"
    ).select(
        "stage_ord",
        "stage",
        "n_in",
        "n_kept",
        (F.col("n_in") - F.col("n_kept")).alias("n_dropped"),
        F.round(
            (F.col("n_in") - F.col("n_kept"))
            / F.greatest(F.col("n_in"), F.lit(1)),
            6,
        ).alias("drop_rate"),
    )


def _funnel_flags_sql() -> str:
    """Complete statement yielding (doc_id, p1, p2, p3, p4) cumulative
    pass flags — the SQL twin of ``funnel_doc_flags``, shared by the
    funnel oracle and the curation-budget composite oracle."""
    toks = TOKENS_SQL.format(col="text")
    langs = ", ".join(repr(s) for s in _FUNNEL_LANGS)
    stops = ", ".join(repr(s) for s in _STOPWORDS)
    return f"""
WITH {_shingle_cte(3)},
sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS d3 FROM shingle GROUP BY doc_id),
base AS (SELECT doc_id, lang, {toks} AS t FROM documents),
scored AS (
  SELECT b.doc_id, b.lang, len(t) AS n,
         ROUND(len(list_distinct(t)) / (1.0 * GREATEST(len(t), 1)), 6) AS dtr,
         ROUND(CASE WHEN len(t) > 2
                    THEN 1.0 - COALESCE(sc.d3, 0) / (1.0 * (len(t) - 2))
                    ELSE 0.0 END, 6) AS dup3,
         ROUND(LEAST(len(t) / 100.0, 1.0) * 0.5
               + (len(list_filter(t, x -> x IN ({stops})))
                  / (1.0 * GREATEST(len(t), 1))) * 0.5, 6) AS quality
  FROM base b LEFT JOIN sc ON sc.doc_id = b.doc_id
)
SELECT doc_id,
       lang IN ({langs}) AS p1,
       lang IN ({langs}) AND n >= {_FUNNEL_MIN_TOKENS} AS p2,
       lang IN ({langs}) AND n >= {_FUNNEL_MIN_TOKENS}
         AND NOT (dup3 > {_REP_DUP_MAX} OR dtr < {_REP_DISTINCT_MIN}) AS p3,
       lang IN ({langs}) AND n >= {_FUNNEL_MIN_TOKENS}
         AND NOT (dup3 > {_REP_DUP_MAX} OR dtr < {_REP_DISTINCT_MIN})
         AND quality >= {_FUNNEL_QUALITY_TAU} AS p4
FROM scored
"""


def _funnel_oracle() -> str:
    return f"""
WITH flags AS ({_funnel_flags_sql()}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(COUNT(*) FILTER (p1) AS BIGINT) AS k1,
         CAST(COUNT(*) FILTER (p2) AS BIGINT) AS k2,
         CAST(COUNT(*) FILTER (p3) AS BIGINT) AS k3,
         CAST(COUNT(*) FILTER (p4) AS BIGINT) AS k4
  FROM flags
),
stages AS (
  SELECT CAST(1 AS BIGINT) AS stage_ord, 'lang' AS stage, n_total AS n_in, k1 AS n_kept FROM agg
  UNION ALL SELECT 2, 'length', k1, k2 FROM agg
  UNION ALL SELECT 3, 'repetition', k2, k3 FROM agg
  UNION ALL SELECT 4, 'quality', k3, k4 FROM agg
)
SELECT stage_ord, stage, n_in, n_kept,
       n_in - n_kept AS n_dropped,
       ROUND((n_in - n_kept) / (1.0 * GREATEST(n_in, 1)), 6) AS drop_rate
FROM stages
"""


@register("text_quality_funnel", oracle=_funnel_oracle())
def text_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL audit — the pipeline-observability table
    every corpus curation run reports: per filter stage (lang →
    length → repetition → quality, the registered filters' own
    thresholds), how many docs entered, survived, dropped, and the
    drop rate, with stage i's intake = stage i-1's survivors. The row
    a curator reads to see WHERE the corpus went before asking why.

    Scale: every stage predicate is doc-local, so the whole funnel is
    ONE corpus scan (one tokenize feeding all four predicates) into a
    5-counter map-side-combined aggregate — adding a stage adds a
    counter, not a pass. The unpivot runs on the 1-row counter frame.
    The counters are ADDITIVE over disjoint batches, so the standing
    streaming twin (``streaming/quality_funnel.py``) folds the same
    ``funnel_counts`` per micro-batch and derives the identical table
    at read — both sides call the SAME stage definitions
    (``funnel_doc_flags``), so a threshold can never drift between
    the audit and the monitor."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return funnel_table_from_counts(funnel_counts(funnel_doc_flags(documents)))


# ---------------------------------------------------------------------------
# Corpus bigram log-probability (the stronger perplexity proxy)
# ---------------------------------------------------------------------------

#: the bigram model + per-doc score CTE chain, shared verbatim by the
#: text_bigram_logprob oracle and the perplexity-bucket oracle
_BG_CTES = f"""tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM tokl),
bg AS (
  SELECT doc_id, prev, tok FROM (
    SELECT doc_id, tok,
           LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM tok
  ) WHERE prev IS NOT NULL
),
cb AS (SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1, 2),
cc AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cc FROM bg GROUP BY 1),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM tok),
score AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         ROUND(AVG(ln((f.cb + 1.0) / (c.cc + vocab.v))), 6) AS avg_logprob
  FROM bg b
  JOIN cb f ON f.prev = b.prev AND f.tok = b.tok
  JOIN cc c ON c.prev = b.prev
  CROSS JOIN vocab
  GROUP BY b.doc_id
)"""


def bigram_doc_logprob(documents: DataFrame) -> DataFrame:
    """Per-document mean log-probability under the add-one-smoothed
    corpus bigram model: ``(doc_id, n_bigrams, avg_logprob)``, docs
    with at least one bigram. Shared by ``text_bigram_logprob`` and
    the perplexity-bucket query so the model algebra cannot drift."""
    from pyspark.sql.window import Window

    tok = documents.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    ).transform(materialize)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.withColumn("prev", F.lag("tok").over(wdoc))
        .filter(F.col("prev").isNotNull())
        .select("doc_id", "prev", "tok")
        # feeds the two count aggregations AND the scoring join
        .transform(materialize)
    )
    cb = bg.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cb"))
    cc = bg.groupBy("prev").agg(F.count(F.lit(1)).alias("cc"))
    vocab = tok.agg(F.countDistinct("tok").alias("v"))
    return (
        bg.join(cb, ["prev", "tok"])
        .join(cc, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(
                    F.log((F.col("cb") + F.lit(1.0)) / (F.col("cc") + F.col("v")))
                ),
                6,
            ).alias("avg_logprob"),
        )
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
WITH {_BG_CTES}
SELECT doc_id, n_bigrams, avg_logprob FROM score
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under an add-one-smoothed
    corpus BIGRAM model — the stronger perplexity proxy (catches
    scrambled word order that the unigram score cannot). One token
    pass builds the bigram stream via a doc-partitioned lag window;
    bigram and context counts are partial-aggregatable groupBys; the
    per-doc score joins the bigram stream back to the (vocabulary-
    sized, AQE-broadcast) count tables. Same determinism discipline
    as text_unigram_logprob: exact-integer count ratios inside ln,
    one rounded AVG at the output edge."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    return bigram_doc_logprob(documents)


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail per language)
# ---------------------------------------------------------------------------

#: σ multiplier of the per-language bucket bands — ±0.43σ are the
#: tercile boundaries of a normal, the CCNet head/middle/tail split
#: re-expressed as a THRESHOLD rule so no global rank window exists
_PPL_BAND = 0.43

_PPL_ORACLE = f"""
WITH {_BG_CTES},
lab AS (
  SELECT s.doc_id, d.lang, s.avg_logprob
  FROM score s JOIN documents d USING (doc_id)
),
st AS (
  SELECT lang, ROUND(AVG(avg_logprob), 6) AS mu,
         ROUND(STDDEV_SAMP(avg_logprob), 6) AS sigma
  FROM lab GROUP BY 1
)
SELECT l.doc_id, l.lang, l.avg_logprob,
       CASE WHEN l.avg_logprob >= ROUND(mu + {_PPL_BAND} * sigma, 6) THEN 'head'
            WHEN l.avg_logprob <= ROUND(mu - {_PPL_BAND} * sigma, 6) THEN 'tail'
            ELSE 'middle' END AS bucket
FROM lab l JOIN st USING (lang)
"""


@register("text_perplexity_buckets", oracle=_PPL_ORACLE)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: every document scored under
    the corpus bigram model (``bigram_doc_logprob`` — the SAME builder
    as ``text_bigram_logprob``, so the model cannot drift) and split
    into head / middle / tail PER LANGUAGE — head = most-probable text
    (lowest perplexity), tail = least — the split CCNet feeds to
    downstream sampling (train mostly on head+middle, keep a tail
    slice for diversity).

    Scale shape — the textbook split is a per-language NTILE, i.e. a
    rank window over the whole corpus partitioned by a handful of
    Zipfian language keys: a single-task sort of the 'en' partition at
    100 TB. This re-expresses the split as a THRESHOLD rule: per-lang
    mean ± {band}σ of the score (the tercile boundaries under
    normality), computed by one languages-sized aggregate that
    broadcasts back — the corpus is never rank-sorted, docs bucket
    map-side, and the plan has no window at all outside the model's
    doc-partitioned lag. Thresholds and scores are ROUNDed to 6 on
    both sides so boundary docs bucket identically in both engines;
    a language with one scored doc has NULL σ and buckets middle by
    the CASE's ELSE in both."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    score = bigram_doc_logprob(documents)
    lab = score.join(documents.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "avg_logprob"
    )
    # feeds the per-lang stats AND the bucket join — one score pass
    lab = materialize(lab)
    stats = lab.groupBy("lang").agg(
        F.round(F.avg("avg_logprob"), 6).alias("mu"),
        F.round(F.stddev_samp("avg_logprob"), 6).alias("sigma"),
    )
    hi = F.round(F.col("mu") + _PPL_BAND * F.col("sigma"), 6)
    lo = F.round(F.col("mu") - _PPL_BAND * F.col("sigma"), 6)
    return (
        lab.join(F.broadcast(stats), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(F.col("avg_logprob") >= hi, "head")
            .when(F.col("avg_logprob") <= lo, "tail")
            .otherwise("middle")
            .alias("bucket"),
        )
    )


text_perplexity_buckets.__doc__ = text_perplexity_buckets.__doc__.format(
    band=_PPL_BAND
)


#: per-bucket target share of each language's byte budget — the CCNet
#: mix: train mostly on head+middle, keep a tail slice for diversity
_MIX_W = (("head", 0.5), ("middle", 0.35), ("tail", 0.15))

_MIX_ORACLE = f"""
WITH bucketed AS ({_PPL_ORACLE}),
cell AS (
  SELECT b.lang, b.bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(d.n_chars) AS BIGINT) AS cell_chars
  FROM bucketed b JOIN documents d USING (doc_id)
  GROUP BY 1, 2
),
tot AS (
  SELECT lang, CAST(SUM(cell_chars) AS BIGINT) AS lang_chars
  FROM cell GROUP BY 1
),
w(bucket, wt) AS (VALUES {", ".join(f"('{b}', {wt})" for b, wt in _MIX_W)})
SELECT c.lang, c.bucket, c.n_docs, c.cell_chars,
       ROUND(t.lang_chars * w.wt, 6) AS target_chars,
       ROUND(LEAST(1.0, (t.lang_chars * w.wt) / c.cell_chars), 6)
         AS sample_rate,
       ROUND(LEAST(CAST(c.cell_chars AS DOUBLE), t.lang_chars * w.wt), 6)
         AS planned_chars
FROM cell c JOIN tot t USING (lang) JOIN w USING (bucket)
"""


@register("sample_ppl_bucket_mix", oracle=_MIX_ORACLE)
def sample_ppl_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet ENDGAME over the perplexity buckets: a per-
    (language × bucket) sampling plan that reshapes each language's
    byte budget to the target bucket shares ({w}) — train mostly on
    head+middle, keep a tail slice for diversity. Per cell: docs,
    bytes, the language's target bytes for that bucket, the capped
    sampling rate (≤ 1 — a cell smaller than its target is taken
    whole, the standard under-supply rule), and the planned bytes a
    downstream writer draws. Composes ``text_perplexity_buckets``
    (the SAME registered builder) exactly the way
    ``sample_mix_epoch_plan`` composes the source mix.

    Scale: the bucket frame joins doc-keyed to the corpus for byte
    counts, then everything is cells-sized: one (lang × 3) aggregate,
    a languages-sized total re-broadcast, a 3-row weight table. The
    plan itself never re-scans the corpus — the only corpus-sized
    stages are inside the bucket builder."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    bucketed = text_perplexity_buckets(spark, sf_dir)
    cell = (
        bucketed.join(documents.select("doc_id", "n_chars"), "doc_id")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("cell_chars"),
        )
    )
    cell = materialize(cell)  # feeds the lang totals AND the plan join
    tot = cell.groupBy("lang").agg(
        F.sum("cell_chars").cast("long").alias("lang_chars")
    )
    w = spark.createDataFrame(list(_MIX_W), "bucket string, wt double")
    target = F.col("lang_chars") * F.col("wt")
    return (
        cell.join(F.broadcast(tot), "lang")
        .join(F.broadcast(w), "bucket")
        .select(
            "lang",
            "bucket",
            "n_docs",
            "cell_chars",
            F.round(target, 6).alias("target_chars"),
            F.round(
                F.least(F.lit(1.0), target / F.col("cell_chars")), 6
            ).alias("sample_rate"),
            F.round(
                F.least(F.col("cell_chars").cast("double"), target), 6
            ).alias("planned_chars"),
        )
    )


sample_ppl_bucket_mix.__doc__ = sample_ppl_bucket_mix.__doc__.format(
    w=", ".join(f"{b} {wt}" for b, wt in _MIX_W)
)


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. suffix-array dedup, k-gram form)
# ---------------------------------------------------------------------------

_SPAN_K = 8

#: shared CTE chain (tokl → gram → dup → hit → isl → spans): the span
#: algebra is defined once for both the span query and its removal twin
_SPAN_CTES = f"""
WITH tokl AS (
  SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM documents
),
gram AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos,
         array_to_string(toks[p:p + {_SPAN_K - 1}], ' ') AS gram
  FROM tokl, UNNEST(generate_series(1, len(toks) - {_SPAN_K - 1})) AS t(p)
  WHERE len(toks) >= {_SPAN_K}
),
dup AS (SELECT gram FROM gram GROUP BY gram HAVING COUNT(*) > 1),
hit AS (SELECT g.doc_id, g.pos FROM gram g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_SPAN_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM hit
  )
),
spans AS (
  SELECT doc_id,
         MIN(pos) AS span_start,
         MAX(pos) + {_SPAN_K - 1} AS span_end,
         MAX(pos) + {_SPAN_K} - MIN(pos) AS span_tokens
  FROM isl
  GROUP BY doc_id, island
)"""

_SPAN_ORACLE = f"""{_SPAN_CTES}
SELECT doc_id, span_start, span_end, span_tokens FROM spans
"""


@register("dedup_exact_substring_spans", oracle=_SPAN_ORACLE)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans (>= 8 tokens) per document — the
    exact-substring dedup of Lee et al. 2022, re-expressed as maximal
    runs of duplicated 8-gram start positions (operators/dedup.py
    duplicated_token_spans). The oracle reproduces the identical
    gram/run algebra over raw gram strings; the engine shuffles
    md5(gram) instead, so the exchange never carries full n-grams."""
    from ..operators.dedup import duplicated_token_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return duplicated_token_spans(documents, "doc_id", "text", k=_SPAN_K)


# ---------------------------------------------------------------------------
# PMI collocation mining (corpus bigram association)
# ---------------------------------------------------------------------------

#: a bigram must occur at least this often to be scored (also the
#: integer-only filter — no float ever decides membership)
_PMI_MIN_COUNT = 40

_PMI_ORACLE = f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM tokl),
bg AS (
  SELECT prev, tok FROM (
    SELECT tok, LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM tok
  ) WHERE prev IS NOT NULL
),
cab AS (
  SELECT prev, tok, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS u,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bg) AS n
)
SELECT cab.prev, cab.tok, cab.pair_count,
       ROUND(LN(((cab.pair_count * 1.0 * tot.u) / tot.n)
                * (tot.u * 1.0 / ca.c) / cb.c), 6) AS pmi
FROM cab
JOIN uni ca ON ca.tok = cab.prev
JOIN uni cb ON cb.tok = cab.tok
CROSS JOIN tot
"""


@register("text_pmi_collocations", oracle=_PMI_ORACLE)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of adjacent-token bigrams occurring
    >= {m} times — collocation mining, the association score behind
    phrase vocabularies (word2vec phrases, tokenizer merge seeding).
    PMI = ln(p(ab) / (p(a)p(b))) with p(ab) over the bigram total and
    p(·) over the token total.

    Determinism discipline: membership is decided by the INTEGER
    pair count alone; the float PMI is computed by the same literal
    expression tree in both engines from exact integer counts and
    ROUNDed once at the output edge — no float ranking, no float AVG.
    Scale: two partial-aggregatable counts over one token pass (the
    lag window partitions by doc); the surviving bigram table is
    vocabulary-sized, its unigram joins AQE-broadcast; the 1-row
    totals frame is an explicit broadcast."""
    from pyspark.sql.window import Window

    (documents,) = load_tuned(spark, sf_dir, "documents")
    tok = documents.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok")
    ).transform(materialize)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.withColumn("prev", F.lag("tok").over(wdoc))
        .filter(F.col("prev").isNotNull())
        .select("prev", "tok")
        .transform(materialize)
    )
    cab = (
        bg.groupBy("prev", "tok")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= _PMI_MIN_COUNT)
    )
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("u")).crossJoin(
        bg.agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        cab.join(uni.select(F.col("tok").alias("prev"), F.col("c").alias("ca")), "prev")
        .join(uni.select("tok", F.col("c").alias("cb")), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "tok",
            "pair_count",
            F.round(
                F.log(
                    ((F.col("pair_count") * 1.0 * F.col("u")) / F.col("n"))
                    * (F.col("u") * 1.0 / F.col("ca"))
                    / F.col("cb")
                ),
                6,
            ).alias("pmi"),
        )
    )


text_pmi_collocations.__doc__ = text_pmi_collocations.__doc__.format(m=_PMI_MIN_COUNT)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the corpus
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_TOP = 25

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = f"""
WITH tokl AS (SELECT doc_id, {TOKENS_SQL.format(col="text")} AS t FROM documents),
lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tokl),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS BIGINT) AS tot
  FROM lens
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS tok FROM tokl)
  WHERE tok IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           LN((CAST(s.n AS DOUBLE) - d.df + 0.5) / (d.df + 0.5) + 1)
           * (tf.tf * ({_BM25_K1} + 1))
           / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
              + {_BM25_B} * l.dl / (s.tot * 1.0 / s.n))), 6)
         AS DECIMAL(18,6)) AS term_score
  FROM tf
  JOIN dfreq d ON d.tok = tf.tok
  JOIN lens l ON l.doc_id = tf.doc_id
  CROSS JOIN stats s
),
total AS (
  SELECT doc_id, SUM(term_score) AS score_d FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(score_d AS DOUBLE) AS score, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT doc_id, score_d,
         ROW_NUMBER() OVER (ORDER BY score_d DESC, doc_id ASC) AS rnk
  FROM total
) WHERE rnk <= {_BM25_TOP}
"""


@register("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1={k1}, b={b}) for the fixed query
    {terms}, top {top} documents — the scoring function behind every
    inverted-index search tier (and the retrieval leg of RAG corpus
    tooling), over the same token pass as text_postings_index.

    Determinism discipline: each (doc, term) partial score is ROUNDed
    to 6 digits and summed as exact DECIMAL, so the per-doc total
    never depends on float summation order; ranking orders by the
    exact DECIMAL total with doc_id tiebreak. Scale: term filter
    pushes into the token explode (only query-term postings survive
    the shuffle); df and the corpus stats are 1-row / vocabulary-
    sized broadcasts; the top-k is TakeOrderedAndProject + the
    windowless k-row rank (operators/topk.py)."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    tokl = documents.select(
        "doc_id", tokens_col(F.col("text")).alias("t")
    ).transform(materialize)
    lens = tokl.select("doc_id", F.size("t").cast("long").alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot")
    )
    tf = (
        tokl.select("doc_id", F.explode("t").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    term_score = F.round(
        F.log(
            (F.col("n").cast("double") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        * (F.col("tf") * (F.expr(k1) + 1))
        / (
            F.col("tf")
            + F.expr(k1)
            * (1 - F.expr(b) + F.expr(b) * F.col("dl") / (F.col("tot") * 1.0 / F.col("n")))
        ),
        6,
    ).cast("decimal(18,6)")
    total = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", term_score.alias("term_score"))
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score_d"))
    )
    # Global top-k the distributed way: TakeOrderedAndProject (per-
    # partition bounded heaps, merge k*P rows — the corpus is never
    # globally sorted), then the windowless k-row rank of
    # operators/topk.py (no unpartitioned WindowExec anywhere).
    return global_topk_ranked(
        total,
        [(F.col("score_d"), DESC), (F.col("doc_id"), ASC)],
        _BM25_TOP,
        ["doc_id", "score_d"],
    ).select(
        "doc_id",
        F.col("score_d").cast("double").alias("score"),
        "rnk",
    )


text_bm25_topk.__doc__ = text_bm25_topk.__doc__.format(
    k1=_BM25_K1, b=_BM25_B, terms=_BM25_TERMS, top=_BM25_TOP
)


# ---------------------------------------------------------------------------
# MinHash Jaccard-estimator quality (estimate vs exact per candidate)
# ---------------------------------------------------------------------------

def _minhash_estimate_oracle() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(_MH_HASHES)
    )
    return f"""{_minhash_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM shingle GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM cand c
  JOIN shingle p ON p.doc_id = c.id_a
  JOIN shingle q ON q.doc_id = c.id_b AND q.shingle = p.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       ROUND(({agree}) / {_MH_HASHES}.0, 6) AS est_jaccard,
       ROUND(COALESCE(i.i, 0) * 1.0
             / (za.sz + zb.sz - COALESCE(i.i, 0)), 6) AS exact_jaccard
FROM cand c
JOIN sigs sa ON sa.doc_id = c.id_a
JOIN sigs sb ON sb.doc_id = c.id_b
JOIN sz za ON za.doc_id = c.id_a
JOIN sz zb ON zb.doc_id = c.id_b
LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
"""


@register("dedup_minhash_estimate", oracle=_minhash_estimate_oracle())
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the MinHash family: for every LSH
    candidate pair, the signature-agreement Jaccard estimate
    (matching perms / {k}) next to the EXACT shingle-set Jaccard —
    the per-pair audit that validates signature length and band
    geometry before committing a threshold at corpus scale (the
    sketch-vs-exact discipline of a5/a7, applied to MinHash). Both
    columns are exact integer ratios rounded once; the exact side
    reuses the postings count-intersection (inner-join counts,
    missing pair = empty intersection via COALESCE 0). Scale: the
    signature/candidate legs are the linear LSH path; the exact leg
    touches only candidate pairs — never all pairs."""
    from ..operators.dedup import shingle_postings

    (documents,) = load_tuned(spark, sf_dir, "documents")
    # one tokenize+shingle scan feeds BOTH the signature leg and the
    # exact-Jaccard postings leg (the scan is the dominant cost)
    sh = shingle_postings(
        documents, "doc_id", "text", _MH_SHINGLE_N
    ).transform(materialize)
    sigs = minhash_signatures(
        documents, id_col="doc_id", text_col="text",
        num_hashes=_MH_HASHES, shingle_n=_MH_SHINGLE_N, postings=sh,
    ).transform(materialize)
    cand = lsh_candidate_pairs(
        sigs, id_col="doc_id", num_hashes=_MH_HASHES, bands=_MH_BANDS
    ).transform(materialize)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    pb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    # candidate pairs are the small-by-design side (LSH banding bounds
    # them); the hint avoids the bimodal AQE broadcast/SMJ flip the
    # prefix-join documents at operators/dedup.py — same caveat: if a
    # corpus defeats the banding economics, drop the hint, never
    # broadcast an unbounded pair set
    inter = (
        pa.join(F.broadcast(cand), "id_a")
        .join(pb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_MH_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_MH_HASHES)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_MH_HASHES)
    )
    ii = F.coalesce(F.col("i"), F.lit(0))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .join(sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("za")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("zb")), "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.round(agree / float(_MH_HASHES), 6).alias("est_jaccard"),
            F.round(ii * 1.0 / (F.col("za") + F.col("zb") - ii), 6).alias(
                "exact_jaccard"
            ),
        )
    )


dedup_minhash_estimate.__doc__ = dedup_minhash_estimate.__doc__.format(k=_MH_HASHES)


# ---------------------------------------------------------------------------
# Training-shard manifest (deterministic hash sharding)
# ---------------------------------------------------------------------------

_SHARD_N = 16

_SHARD_ORACLE = f"""
WITH tokl AS (
  SELECT doc_id, source,
         CAST(len({TOKENS_SQL.format(col="text")}) AS BIGINT) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % {_SHARD_N} AS shard
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       md5(string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY CAST(doc_id AS VARCHAR)))
         AS member_fingerprint
FROM tokl
GROUP BY shard
"""


@register("text_shard_manifest", oracle=_SHARD_ORACLE)
def text_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest: every doc is assigned to
    one of {n} shards by a seedless content-independent hash of its id
    (stable across runs and cluster sizes — re-running the pipeline
    reproduces byte-identical shards), with per-shard doc/token/source
    tallies and an order-insensitive membership fingerprint (md5 over
    the id list sorted per shard). This is the manifest a trainer's
    data loader consumes; the balance check (n_docs, total_tokens per
    shard) is what you inspect before burning GPU-hours on a skewed
    split. One partial-aggregatable groupBy on the shard key; at
    100 TB the same expression IS the partitionBy column of the
    shard write."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _SHARD_N
    )
    toks = documents.select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        shard.alias("shard"),
    )
    return toks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ",")
        ).alias("member_fingerprint"),
    )


text_shard_manifest.__doc__ = text_shard_manifest.__doc__.format(n=_SHARD_N)


_SPAN_REMOVE_ORACLE = f"""{_SPAN_CTES},
tokpos AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos, toks[p] AS tok
  FROM tokl, UNNEST(generate_series(1, len(toks))) AS t(p)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM tokpos t
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.span_start AND s.span_end
  )
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_hash
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(len(l.toks) AS BIGINT) AS n_tokens,
       COALESCE(a.kept_tokens, 0) AS kept_tokens,
       CAST(len(l.toks) AS BIGINT) - COALESCE(a.kept_tokens, 0) AS removed_tokens,
       COALESCE(a.cleaned_hash, md5('')) AS cleaned_hash
FROM tokl l LEFT JOIN agg a USING (doc_id)
"""


@register("dedup_remove_spans", oracle=_SPAN_REMOVE_ORACLE)
def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact substring-span dedup: cut every maximal
    duplicated span (>= {k} tokens, from dedup_exact_substring_spans'
    algebra) out of each document; per-doc token accounting plus an
    order-exact hash of the cleaned token stream proves the rebuild is
    byte-identical between engines (operators/dedup.py
    remove_duplicated_spans). The span side of the anti-join is
    span-cardinality-sized; the rebuild partitions by doc."""
    from ..operators.dedup import remove_duplicated_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return remove_duplicated_spans(documents, "doc_id", "text", k=_SPAN_K)


dedup_remove_spans.__doc__ = dedup_remove_spans.__doc__.format(k=_SPAN_K)


# ---------------------------------------------------------------------------
# Fuzzy-dedup apply: canonical survivor per near-dup cluster
# ---------------------------------------------------------------------------

def _cluster_canonical_oracle() -> str:
    chain, prev = _cc_ctes()
    return f"""{chain},
docs AS (
  SELECT doc_id, CAST(len({TOKENS_SQL.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
),
labeled AS (
  SELECT d.doc_id, d.n_tokens, COALESCE(l.label, d.doc_id) AS component_id
  FROM docs d LEFT JOIN {prev} l ON l.node = d.doc_id
),
ranked AS (
  SELECT doc_id, n_tokens, component_id,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY n_tokens DESC, doc_id ASC) AS rn,
         FIRST_VALUE(doc_id) OVER (PARTITION BY component_id
                                   ORDER BY n_tokens DESC, doc_id ASC)
           AS canonical_id
  FROM labeled
)
SELECT doc_id, component_id, canonical_id, n_tokens,
       rn = 1 AS kept
FROM ranked
"""


@register("dedup_cluster_canonical", oracle=_cluster_canonical_oracle())
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of fuzzy dedup: every document mapped to its
    near-dup component (the SAME {n}-round min-label algebra as
    dedup_connected_components; singletons label themselves) and the
    per-component CANONICAL survivor chosen longest-doc-first (doc_id
    tiebreak) — the keep-one policy of MinHashLSH dedup pipelines
    (keep the most complete copy, drop the rest). `kept` is the
    corpus keep-list a downstream writer filters on.

    Scale: component labels come from the iterative operator (edge-
    bounded shuffles); the canonical choice is one window over the
    doc-per-component frame, partitioned on the component key."""
    from ..operators.dedup import connected_components

    (documents,) = load_tuned(spark, sf_dir, "documents")
    # edge stage: measured-gate choice between the naive count-join
    # and PPJoin prefix filtering (identical pair set either way, so
    # the oracle is unchanged) — prefix wins exactly when the corpus
    # has a rare shingle tail for hot boilerplate to fall behind; the
    # df profile decides (operators/dedup.py near_dup_edges, SCALING.md)
    pairs = near_dup_edges(
        documents, id_col="doc_id", text_col="text",
        threshold=_CC_THRESHOLD, shingle_n=_NJ_SHINGLE_N,
    )
    labels = connected_components(pairs, iterations=_CC_ITERATIONS)
    from pyspark.sql.window import Window

    docs = documents.select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens")
    )
    labeled = docs.join(
        labels.select(F.col("node").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("component_id"),
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    return labeled.select(
        "doc_id",
        "component_id",
        F.first("doc_id").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("canonical_id"),
        "n_tokens",
        (F.row_number().over(w) == 1).alias("kept"),
    )


dedup_cluster_canonical.__doc__ = dedup_cluster_canonical.__doc__.format(
    n=_CC_ITERATIONS
)


# ---------------------------------------------------------------------------
# Incremental corpus-dedup registry (r12 verdict #3): the keep-list
# accretes batch by batch, clustering never re-runs from zero
# ---------------------------------------------------------------------------

def _incremental_registry_oracle() -> str:
    """Converged one-shot canonicalization: recursive reachability CC
    over the trigram-Jaccard edges + the keep-longest window — the
    order-independence argument makes ANY batching of the incremental
    fold reconcile with this exactly (``operators/dedup_registry.py``)."""
    return f"""
{_cc_star_cte()},
docs AS (
  SELECT doc_id, CAST(len({TOKENS_SQL.format(col='text')}) AS BIGINT) AS n_tokens
  FROM documents
),
comp AS (SELECT node, MIN(label) AS label FROM cc GROUP BY node),
labeled AS (
  SELECT d.doc_id, d.n_tokens, COALESCE(c.label, d.doc_id) AS component_id
  FROM docs d LEFT JOIN comp c ON c.node = d.doc_id
),
ranked AS (
  SELECT doc_id, n_tokens, component_id,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY n_tokens DESC, doc_id ASC) AS rn,
         FIRST_VALUE(doc_id) OVER (PARTITION BY component_id
                                   ORDER BY n_tokens DESC, doc_id ASC)
           AS canonical_id
  FROM labeled
)
SELECT doc_id, component_id, canonical_id, n_tokens,
       rn = 1 AS kept
FROM ranked
"""


@register("dedup_incremental_registry", oracle=_incremental_registry_oracle())
def dedup_incremental_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL fuzzy dedup — ``dedup_cluster_canonical``'s
    registry built by folding the corpus in THREE deterministic
    batches (doc_id % 3) through ``dedup_fold_increment``, never
    re-clustering the accumulated corpus: each fold probes ONLY the
    batch's shingle postings against the standing inverted index,
    verifies candidates with exact Jaccard, merges touched components
    via a bounded label-level re-label, and recomputes kept/canonical
    for touched components only. The oracle is the CONVERGED one-shot
    (recursive reachability CTE + keep-longest window) — passing means
    the accreting fold and the from-zero clustering land on identical
    keep-lists, including the merge-DEMOTION case (a component merge
    can strip `kept` from a previously-kept doc — the case the
    one-shot never sees; pinned with a forced demotion in
    tests/test_dedup_registry.py). Streaming twin:
    ``streaming/corpus_dedup.py`` over the partitioned versioned
    state, write-IO ∝ touched doc-hash buckets."""
    from ..operators.dedup_registry import (
        dedup_fold_increment,
        empty_dedup_dfreq,
        empty_dedup_postings,
        empty_dedup_registry,
    )

    (documents,) = load_tuned(spark, sf_dir, "documents")
    registry = empty_dedup_registry(spark)
    postings = empty_dedup_postings(spark)
    # the additive df side state (r15): threading it between folds is
    # what keeps each fold free of any ∝-corpus aggregate — the fold
    # only ever looks its batch's shingles up in it
    dfreq = empty_dedup_dfreq(spark)
    for i in range(3):
        registry, postings, dfreq = dedup_fold_increment(
            registry,
            postings,
            documents.filter(F.col("doc_id") % 3 == i),
            threshold=_CC_THRESHOLD,
            shingle_n=_NJ_SHINGLE_N,
            dfreq=dfreq,
        )
        registry = materialize(registry)
        postings = materialize(postings)
        dfreq = materialize(dfreq)
    return registry.select(
        "doc_id",
        F.col("label").alias("component_id"),
        "canonical_id",
        "n_tokens",
        "kept",
    )


# ---------------------------------------------------------------------------
# Zipf exponent fit over the corpus token-frequency curve
# ---------------------------------------------------------------------------

#: fit over the top-K tokens (the Zipfian head; the tail is dominated
#: by hapax noise and the reference curve flattens)
_ZIPF_TOP = 500


@register(
    "text_zipf_slope",
    oracle=f"""
WITH freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest({{toks}}) AS tok FROM documents)
  GROUP BY 1
),
ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
  FROM freq ORDER BY cnt DESC, tok LIMIT {_ZIPF_TOP}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(COVAR_POP(ln(rnk), ln(cnt)) / VAR_POP(ln(rnk)), 6) AS zipf_slope,
       ROUND(AVG(ln(cnt)) - COVAR_POP(ln(rnk), ln(cnt)) / VAR_POP(ln(rnk))
             * AVG(ln(rnk)), 6) AS zipf_intercept
FROM ranked
""".format(toks=TOKENS_SQL.format(col="text")),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus: least-squares slope of
    ln(freq) against ln(rank) over the top-{k} tokens (a healthy
    natural-language corpus sits near -1; a scrape of boilerplate or
    generated spam drifts off — the corpus-level twin of the per-doc
    quality score). Rank is made deterministic by the (cnt DESC,
    token ASC) total order; the fit reduces to COVAR_POP/VAR_POP over
    {k} doubles, rounded once at the end (the avg-of-logs float
    discipline every logprob query here uses).

    Scale: token frequency is one explode + partial-agg groupBy; the
    top-{k} head is TakeOrderedAndProject (operators/topk.py — no
    global sort, no unpartitioned window); the regression aggregates
    are a single-pass reduce to ONE row. Nothing here scales with
    corpus size except the map-side token count."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    freq = (
        documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    head = global_topk_ranked(
        freq,
        keys=[(F.col("cnt"), DESC), (F.col("tok"), ASC)],
        k=_ZIPF_TOP,
        cols=["cnt"],
        rank_name="rnk",
    )
    lnr, lnf = F.log(F.col("rnk").cast("double")), F.log(F.col("cnt").cast("double"))
    slope = F.covar_pop(lnr, lnf) / F.var_pop(lnr)
    return head.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.avg(lnf) - slope * F.avg(lnr), 6).alias("zipf_intercept"),
    )


text_zipf_slope.__doc__ = text_zipf_slope.__doc__.format(k=_ZIPF_TOP)


# ---------------------------------------------------------------------------
# Classifier calibration audit (reliability bins / ECE contributions)
# ---------------------------------------------------------------------------

_ECE_BINS = 10


def _ece_oracle() -> str:
    return f"""
WITH scored AS ({_lr_oracle()}),
b AS (
  SELECT LEAST(CAST(FLOOR(p_quality * 1000000 + 0.5) AS BIGINT) // 100000,
               {_ECE_BINS - 1}) AS bin,
         CAST(FLOOR(p_quality * 1000000 + 0.5) AS BIGINT) AS conf_micro,
         CASE WHEN gold THEN 1 ELSE 0 END AS pos
  FROM scored
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(conf_micro) * 1.0 / (COUNT(*) * 1000000.0), 6) AS avg_conf,
       ROUND(SUM(pos) * 1.0 / COUNT(*), 6) AS frac_pos,
       ROUND(ABS(SUM(conf_micro) - SUM(pos) * 1000000) * 1.0
             / (COUNT(*) * 1000000.0), 6) AS abs_gap
FROM b GROUP BY bin
"""


@register("dq_calibration_ece", oracle=_ece_oracle())
def dq_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability audit of the trained quality classifier — the
    per-bin table behind Expected Calibration Error: held-out
    predictions bucketed into {b} equal-width confidence bins, each
    reporting size, mean confidence, empirical positive rate, and the
    |confidence - accuracy| gap. This is the model-DQ gate a training
    pipeline runs before TRUSTING a quality classifier's scores as
    sampling weights (``sample_quality_weighted``): a well-ranked but
    mis-calibrated model silently skews the mixture.

    Determinism discipline: ``p_quality`` is already pinned to the
    6-digit grid by the LR query both engines hash-match on, so
    ``conf_micro = floor(p * 1e6 + 0.5)`` is an exact integer and the
    BIN assignment is integer division — no float comparison sits on
    a bin edge. All three ratios divide exact integer sums, so the
    doubles agree bit-for-bit before the display round.

    Scale: scoring is embarrassingly parallel; the audit itself is a
    {b}-key partial-aggregatable groupBy — shuffle is {b} rows of 3
    integers per partition, mergeable across shards/batches (the
    streaming twin folds the same counts)."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    scored = lr_train_score(documents, _NB_TEST_MOD)
    b = scored.select(
        F.floor(F.col("p_quality") * 1000000 + 0.5)
        .cast("long")
        .alias("conf_micro"),
        F.when(F.col("gold"), 1).otherwise(0).alias("pos"),
    ).select(
        F.least(
            F.expr("conf_micro DIV 100000"), F.lit(_ECE_BINS - 1)
        ).alias("bin"),
        "conf_micro",
        "pos",
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum("conf_micro") * 1.0 / (F.count(F.lit(1)) * 1000000.0), 6
        ).alias("avg_conf"),
        F.round(F.sum("pos") * 1.0 / F.count(F.lit(1)), 6).alias("frac_pos"),
        F.round(
            F.abs(F.sum("conf_micro") - F.sum("pos") * 1000000)
            * 1.0
            / (F.count(F.lit(1)) * 1000000.0),
            6,
        ).alias("abs_gap"),
    )


dq_calibration_ece.__doc__ = dq_calibration_ece.__doc__.format(b=_ECE_BINS)


# ---------------------------------------------------------------------------
# Inter-classifier / classifier-vs-gold agreement (Cohen's kappa)
# ---------------------------------------------------------------------------


def _kappa_oracle() -> str:
    return f"""
WITH nb AS ({_nb_oracle()}),
conf AS (
  SELECT gold_lang AS g, pred_lang AS p, CAST(COUNT(*) AS BIGINT) AS c
  FROM nb GROUP BY 1, 2
),
rows_ AS (SELECT g, SUM(c) AS r FROM conf GROUP BY 1),
cols_ AS (SELECT p, SUM(c) AS cc FROM conf GROUP BY 1),
tot AS (
  SELECT SUM(c) AS n,
         SUM(CASE WHEN g = p THEN c ELSE 0 END) AS agree
  FROM conf
),
rc AS (
  SELECT COALESCE(SUM(r * cc), 0) AS s
  FROM rows_ JOIN cols_ ON rows_.g = cols_.p
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(agree AS BIGINT) AS n_agree,
       ROUND(agree * 1.0 / n, 6) AS po,
       ROUND(s * 1.0 / (n * n), 6) AS pe,
       CASE WHEN n * n <> s THEN
         ROUND(CAST(n * agree - s AS DOUBLE) / CAST(n * n - s AS DOUBLE), 6)
       END AS kappa
FROM tot, rc
"""


@register("dq_classifier_agreement_kappa", oracle=_kappa_oracle())
def dq_classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the NB language classifier against the gold
    labels — chance-corrected agreement, the standard acceptance
    metric for auto-labelers and annotator pools before their labels
    feed a training mix (accuracy alone is inflated by the majority
    class; kappa subtracts the agreement two independent raters with
    these marginals would reach by luck).

    Exact-arithmetic discipline: the confusion matrix, its row/column
    marginals, the observed-agreement count, and the chance term
    s = sum_l row_l * col_l are all exact BIGINTs; kappa collapses to
    the integer rational (n*agree - s) / (n^2 - s) and po/pe divide
    the same integers, so one final double division per output column
    is the only float op on either engine. Degenerate marginals
    (pe = 1, i.e. n^2 = s) yield NULL on both sides.

    Scale: one groupBy on (gold, pred) — label-pair cardinality, not
    corpus cardinality — then label-sized marginal aggregates joined
    label-to-label; every frame after the first aggregate is
    vocabulary-of-labels sized, and the final combine is two 1-row
    broadcasts. The confusion counts are mergeable, so the same audit
    runs incrementally over scoring batches."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    preds = nb_train_score(documents, _NB_TEST_MOD)
    # materialized: four branches (row marginals, column marginals,
    # totals, the chance term) consume the confusion matrix, and
    # without the checkpoint each branch re-executes the whole
    # train+score subtree (the plan carried 148 Exchanges). The
    # checkpointed frame is labels²-sized.
    conf = materialize(
        preds.groupBy("gold_lang", "pred_lang").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
    )
    rows = conf.groupBy("gold_lang").agg(F.sum("c").alias("r"))
    cols = conf.groupBy("pred_lang").agg(F.sum("c").alias("cc"))
    tot = conf.agg(
        F.sum("c").alias("n"),
        F.sum(
            F.when(F.col("gold_lang") == F.col("pred_lang"), F.col("c")).otherwise(
                F.lit(0)
            )
        ).alias("agree"),
    )
    rc = (
        rows.join(cols, rows["gold_lang"] == cols["pred_lang"])
        .agg(F.coalesce(F.sum(F.col("r") * F.col("cc")), F.lit(0)).alias("s"))
    )
    n, agree, s = F.col("n"), F.col("agree"), F.col("s")
    return (
        tot.crossJoin(F.broadcast(rc))
        .select(
            n.cast("long").alias("n_docs"),
            agree.cast("long").alias("n_agree"),
            F.round(agree * 1.0 / n, 6).alias("po"),
            F.round(s * 1.0 / (n * n), 6).alias("pe"),
            F.when(
                n * n != s,
                F.round(
                    (n * agree - s).cast("double") / (n * n - s).cast("double"), 6
                ),
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget mixture planning (epochs / repeat factors per source)
# ---------------------------------------------------------------------------

_MIX_TOKEN_BUDGET = 12000
_MIX_EPOCH_CAP = 4


def _mix_epoch_oracle() -> str:
    toks = TOKENS_SQL.format(col="text")
    return f"""
WITH avail AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({toks})) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_docs, avail_tokens,
         CAST(FLOOR(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000) AS HUGEINT) AS w
  FROM avail WHERE avail_tokens > 0
),
tot AS (SELECT SUM(w) AS tw FROM w),
quota AS (
  SELECT source, n_docs, avail_tokens,
         CAST((w * {_MIX_TOKEN_BUDGET}) // tw AS BIGINT) AS quota_tokens
  FROM w, tot
)
SELECT source, n_docs, avail_tokens, quota_tokens,
       CAST(LEAST({_MIX_EPOCH_CAP} * 1000000,
                  (CAST(quota_tokens AS HUGEINT) * 1000000) // avail_tokens)
            AS BIGINT) AS epochs_micro,
       CAST((CAST(avail_tokens AS HUGEINT)
             * LEAST({_MIX_EPOCH_CAP} * 1000000,
                     (CAST(quota_tokens AS HUGEINT) * 1000000) // avail_tokens))
            // 1000000 AS BIGINT) AS planned_tokens
FROM quota
"""


@register("sample_mix_epoch_plan", oracle=_mix_epoch_oracle())
def sample_mix_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning under a token budget — the table a
    training run derives its per-source sampling/repeat factors from:
    each source's share of a {b}-token budget is temperature-weighted
    (t=0.5: weight ∝ sqrt of its available token mass, the standard
    rare-source upsampling), then converted to EPOCHS over that
    source, capped at {c}× (repeating data beyond a few epochs stops
    helping — the data-constrained scaling regime), reporting the
    planned token draw. Complements ``sample_temperature_mix``: that
    query picks documents for a doc-count budget; this one sizes the
    repeat factor per source for a token budget, which is how mixes
    are actually specified for LLM training.

    Exact-arithmetic discipline: available token mass is an exact
    integer sum of per-doc token counts; weights land on the 1e-6 grid
    via floor(sqrt·1e6) (sqrt is correctly-rounded IEEE on both
    engines); quota, epochs (micro-units), and planned tokens are
    integer division all the way down — no float ever crosses an
    engine boundary.

    Scale: one partial-aggregatable groupBy on the source key (the
    whole fact-table pass), then source-cardinality frames and a
    1-row total broadcast — the plan is a metadata computation after
    the first aggregate, identical at any corpus size."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    avail = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokens_col(F.col("text")))).cast("long").alias("avail_tokens"),
    # a source whose docs ALL tokenize to zero tokens would otherwise
    # divide by avail_tokens below — NULL under Spark's non-ANSI DIV,
    # an error under DuckDB; filtered identically on both engines
    ).filter(F.col("avail_tokens") > 0)
    w = avail.withColumn(
        "w",
        F.floor(F.sqrt(F.col("avail_tokens").cast("double")) * 1000000)
        .cast("decimal(38,0)"),
    )
    tot = w.agg(F.sum("w").alias("tw"))
    quota = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "avail_tokens",
        F.expr(
            f"CAST((w * {_MIX_TOKEN_BUDGET}) DIV tw AS BIGINT)"
        ).alias("quota_tokens"),
    )
    epochs_micro = F.expr(
        f"LEAST(CAST({_MIX_EPOCH_CAP} * 1000000 AS BIGINT), "
        f"CAST((CAST(quota_tokens AS DECIMAL(38,0)) * 1000000) "
        f"DIV avail_tokens AS BIGINT))"
    )
    return quota.select(
        "source",
        "n_docs",
        "avail_tokens",
        "quota_tokens",
        epochs_micro.alias("epochs_micro"),
        F.expr(
            "CAST((CAST(avail_tokens AS DECIMAL(38,0)) * epochs_micro) "
            "DIV 1000000 AS BIGINT)"
        ).alias("planned_tokens"),
    )


sample_mix_epoch_plan.__doc__ = sample_mix_epoch_plan.__doc__.format(
    b=_MIX_TOKEN_BUDGET, c=_MIX_EPOCH_CAP
)


# ---------------------------------------------------------------------------
# TextRank keyword extraction (weighted PageRank on the co-occurrence
# graph, fixed rounds — the graph_pagerank_3round discipline on text)
# ---------------------------------------------------------------------------

_TR_ROUNDS = 3
#: d=0.85 / teleport 0.15, carried as the INTEGER pair 850/150000 in
#: the micro-unit recurrence (see the query docstring) — no float
#: damping constant ever crosses an engine boundary
_TR_DAMP = 0.85
_TR_TOP = 20


def _textrank_oracle() -> str:
    toks = TOKENS_SQL.format(col="text")
    parts = [
        f"""
WITH tokl AS (SELECT doc_id, {toks} AS toks FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS tok,
         generate_subscripts(toks, 1) AS i
  FROM tokl
),
adj AS (
  SELECT LEAST(a.tok, b.tok) AS u, GREATEST(a.tok, b.tok) AS v
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  WHERE a.tok <> b.tok
),
wedge AS (SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM adj GROUP BY 1, 2),
edges AS (
  SELECT u AS src, v AS dst, w FROM wedge
  UNION ALL
  SELECT v AS src, u AS dst, w FROM wedge
),
wdeg AS (SELECT src, SUM(w) AS tw FROM edges GROUP BY src),
r0 AS (SELECT src, CAST(1000000 AS BIGINT) AS prm FROM wdeg)"""
    ]
    for i in range(1, _TR_ROUNDS + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node,
         SUM(CAST((CAST(r.prm AS HUGEINT) * e.w * 1000) // d.tw AS BIGINT))
           AS s_nano
  FROM edges e JOIN r{i - 1} r ON e.src = r.src JOIN wdeg d ON e.src = d.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT wdeg.src,
         150000 + CAST((CAST(COALESCE(c{i}.s_nano, 0) AS HUGEINT) * 850)
                       // 1000000 AS BIGINT) AS prm
  FROM wdeg LEFT JOIN c{i} ON wdeg.src = c{i}.node
)"""
        )
    parts.append(
        f"""
SELECT src AS token, CAST(prm AS DOUBLE) / 1000000.0 AS rank,
       CAST(ROW_NUMBER() OVER (ORDER BY prm DESC, src ASC) AS BIGINT) AS rnk
FROM r{_TR_ROUNDS} ORDER BY prm DESC, src ASC LIMIT {_TR_TOP}"""
    )
    return "".join(parts)


@register("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction — weighted PageRank ({n} fixed
    rounds, d={d}) over the corpus token co-occurrence graph (an
    undirected edge per adjacent-token pair, weighted by corpus
    adjacency count), top-{k} tokens by stationary score. The
    graph-centrality complement to frequency-based ``text_tfidf_topk``
    /``text_bm25_topk``: a token ranks high when its NEIGHBORS are
    central, not merely when it is common — the classic
    unsupervised keyword/keyphrase primitive.

    Spark-first shapes: the adjacency pairs come from ONE
    ``transform(sequence(...))`` over each doc's token array —
    adjacent-pair extraction is array algebra in whole-stage codegen,
    no positional self-join, no shuffle before the pair count (the
    oracle states the same pairs as a positional join, plan-free
    semantics). Ranking is fixed-round weighted PageRank in EXACT
    INTEGER MICRO-UNITS: pr is a bigint (1.0 = 1e6), each edge
    contribution (pr·w/tw) lands on the nano grid via integer DIV, and
    the per-round reduce is an integer SUM — order-independent across
    partitions and engines, unlike the float-sum + round-6 form, whose
    accumulation order could flip parity within an ulp of a rounding
    boundary (r13 ADVICE); damping is the integer pair 850/150000; the
    top-k is TakeOrderedAndProject + the windowless array rank
    (``operators/topk.py``), never an unpartitioned window over the
    vocabulary.

    Scale: the vocabulary graph is corpus-vocabulary-sized (≪ corpus);
    each round is one edge join + partial-aggregatable groupBy with
    lineage cut per round; hub words (stopwords) are AQE skew
    territory, and a stopword filter slots in front unchanged."""
    tune(spark)
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    pairs = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS x, toks[i + 1] AS y))"
                )
            ).alias("pr")
        )
        .select(
            F.least(F.col("pr.x"), F.col("pr.y")).alias("u"),
            F.greatest(F.col("pr.x"), F.col("pr.y")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    wedge = pairs.groupBy("u", "v").agg(F.count(F.lit(1)).cast("long").alias("w"))
    edges = wedge.selectExpr("u AS src", "v AS dst", "w").unionByName(
        wedge.selectExpr("v AS src", "u AS dst", "w")
    ).transform(materialize)
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("tw")).transform(materialize)
    # pr carried as INTEGER micro-units (1.0 = 1_000_000); each edge's
    # contribution pr*w/tw lands on the nano grid by exact integer DIV,
    # so the per-round SUM is an order-independent integer — no float
    # accumulation ever crosses an engine or partition boundary (the
    # adamic_adar micro-unit discipline; closes the r13 ADVICE ulp risk
    # that the old round-to-6 float sum carried)
    r = wdeg.select("src", F.lit(1000000).cast("long").alias("prm"))
    for _ in range(_TR_ROUNDS):
        c = (
            edges.join(r, "src")
            .join(wdeg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr(
                        "CAST((CAST(prm AS DECIMAL(38,0)) * w * 1000) DIV tw"
                        " AS BIGINT)"
                    )
                ).alias("s_nano")
            )
        )
        r = (
            wdeg.join(c, wdeg["src"] == c["node"], "left")
            .select(
                "src",
                (
                    F.lit(150000).cast("long")
                    + F.expr(
                        "CAST((CAST(COALESCE(s_nano, 0) AS DECIMAL(38,0)) * 850)"
                        " DIV 1000000 AS BIGINT)"
                    )
                ).alias("prm"),
            )
            .transform(materialize)
        )
    ranked = global_topk_ranked(
        r.select(
            F.col("src").alias("token"),
            (F.col("prm").cast("double") / F.lit(1000000.0)).alias("rank"),
        ),
        keys=[(F.col("rank"), DESC), (F.col("token"), ASC)],
        k=_TR_TOP,
        cols=["token", "rank"],
        rank_name="rnk",
    )
    return ranked


text_textrank_keywords.__doc__ = text_textrank_keywords.__doc__.format(
    n=_TR_ROUNDS, d=_TR_DAMP, k=_TR_TOP
)


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk into fixed context windows
# ---------------------------------------------------------------------------

_PACK_L = 2048
#: scan partitions of the two-phase cumsum (per-partition sums +
#: broadcast prefix offsets); the offsets frame is <= this many rows
_PACK_SCAN_PARTS = 32


@register(
    "sample_pack_concat_chunks",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len({TOKENS_SQL.format(col='text')}) + 1 AS BIGINT) AS sz
  FROM documents
),
c AS (
  SELECT doc_id, sz,
         CAST(SUM(sz) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
  FROM t
)
SELECT CAST((cum - sz) // {_PACK_L} AS BIGINT) AS window_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sz) AS BIGINT) AS n_pack_tokens,
       CAST(SUM(CASE WHEN (cum - sz) // {_PACK_L} <> (cum - 1) // {_PACK_L}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
FROM c GROUP BY 1
""",
)
def sample_pack_concat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing — the step every LLM training
    pipeline runs between the document store and the trainer: docs in
    deterministic doc_id order are concatenated (1 separator token
    each) and sliced into fixed {l}-token context windows; the
    manifest reports, per window, how many docs START there, their
    token mass, and how many straddle a window boundary (the
    cross-document-attention / truncation cost the packing strategy
    trades against padding waste). Sibling of ``text_pack_sequences``:
    that one packs WITHIN each source (the packing key is a partition
    key, one partitioned window); this one packs the WHOLE corpus in
    one global id order — the shape with no partition key to hide
    behind, which is exactly what the two-phase scan below exists for.

    Spark-first global scan WITHOUT a global window: range-partition
    by doc_id, ONE within-partition window cumsum, and a ≤{p}-row
    per-partition-totals frame whose prefix offsets broadcast back —
    the classic two-phase distributed scan. The offsets window is
    over partition COUNTS (bounded metadata), never over rows, so no
    stage sees the corpus single-threaded. Output is deterministic
    regardless of where the sampled range boundaries land: a doc's
    global cumsum is a pure function of the doc_id order.

    The oracle states the same scan as one SQL running sum —
    plan-free semantics, engine-checked window arithmetic."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    toks = documents.select(
        "doc_id",
        (F.size(tokens_col(F.col("text"))) + 1).cast("long").alias("sz"),
    )
    part = (
        toks.repartitionByRange(_PACK_SCAN_PARTS, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .transform(materialize)
    )
    per = part.groupBy("pid").agg(F.sum("sz").alias("psum"))
    wofs = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    ofs = per.select(
        "pid", F.coalesce(F.sum("psum").over(wofs), F.lit(0)).alias("off")
    )
    w = Window.partitionBy("pid").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = part.join(F.broadcast(ofs), "pid").select(
        "sz", (F.sum("sz").over(w) + F.col("off")).alias("cum")
    )
    # integer DIV, not floor(double division) (r15 ADVICE): the
    # running cumsum is exact long arithmetic end-to-end, so the
    # window id matches the oracle's `//` algebra at ANY corpus size —
    # a double division loses exactness once cum exceeds 2^53, which
    # a 100 TB token count brushes against
    start_w = F.expr(f"(cum - sz) DIV {_PACK_L}")
    end_w = F.expr(f"(cum - 1) DIV {_PACK_L}")
    return (
        cum.select(
            start_w.alias("window_id"),
            "sz",
            (start_w != end_w).cast("int").alias("crosses"),
        )
        .groupBy("window_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("sz").cast("long").alias("n_pack_tokens"),
            F.sum("crosses").cast("long").alias("n_boundary_docs"),
        )
    )


sample_pack_concat_chunks.__doc__ = sample_pack_concat_chunks.__doc__.format(
    l=_PACK_L, p=_PACK_SCAN_PARTS
)


# ---------------------------------------------------------------------------
# Cross-document exact shared spans (pairwise ExactSubstr with
# alignment: WHICH docs share WHICH maximal token runs, and where)
# ---------------------------------------------------------------------------

_SS_K = 5
_SS_MIN_SPAN = 8


@register(
    "dedup_shared_spans",
    oracle=f"""
WITH tokl AS (
  SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM documents
),
kg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i + 1 : i + {_SS_K}], ' ')) AS kg
  FROM tokl, UNNEST(generate_series(0, len(toks) - {_SS_K})) AS t(i)
  WHERE len(toks) >= {_SS_K}
),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pa, a.pos - b.pos AS d
  FROM kg a JOIN kg b ON a.kg = b.kg AND a.doc_id < b.doc_id
),
r AS (
  SELECT id_a, id_b, d, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, d
                                 ORDER BY pa) AS grp
  FROM j
),
s AS (
  SELECT id_a, id_b, d, CAST(MIN(pa) AS BIGINT) AS start_a,
         CAST(COUNT(*) + {_SS_K} - 1 AS BIGINT) AS span_tokens
  FROM r GROUP BY id_a, id_b, d, grp
)
SELECT id_a, id_b, start_a, CAST(start_a - d AS BIGINT) AS start_b,
       span_tokens
FROM s WHERE span_tokens >= {_SS_MIN_SPAN}
""",
)
def dedup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRWISE exact shared-substring spans — the cross-document
    alignment form of ExactSubstr dedup (Lee et al.): for every doc
    pair, every MAXIMAL shared run of ≥ {m} tokens, with its 0-based
    start position in both docs. ``duplicated_token_spans`` reports
    each doc's duplicated COVERAGE (what to cut); this reports the
    alignment (who shares what with whom — the evidence table a
    dedup/licensing/contamination audit drills into).

    Diagonal-islands algebra, no suffix array: a shared substring of
    length L contributes L−{k}+1 matching {k}-gram alignments at
    consecutive positions on ONE diagonal (pos_a − pos_b constant),
    so maximal runs = consecutive-pos islands per (pair, diagonal) —
    the pos − row_number() grouping trick, one window partitioned by
    (pair, diagonal). Gram keys travel as md5 (32-byte exchange, the
    duplicated_token_spans discipline).

    Scale: the alignment join is bounded by Σ df(kg)² over {k}-gram
    hashes. Unlike the Jaccard pair stage — where corpus-hot shingles
    are NOISE to prune — a hot {k}-gram here IS the signal (the
    shared boilerplate those audits hunt); the safety valve for a
    pathological all-identical corpus is a df cap on gram hashes
    (drop grams with df > D, losing only spans shared by > D docs —
    report as a stop-gram ledger), the near_dup_edges gate discipline
    applied lossy-with-a-ledger. At 100 TB the suffix-array
    alternative trades this join for a global sort; the join form
    shards on the gram hash and needs no order."""
    from ..operators.dedup import shared_token_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return shared_token_spans(
        documents, "doc_id", "text", k=_SS_K, min_span=_SS_MIN_SPAN
    )


dedup_shared_spans.__doc__ = dedup_shared_spans.__doc__.format(
    k=_SS_K, m=_SS_MIN_SPAN
)


#: gram-df cap of the CAPPED alignment variant — a k-gram hash posted
#: more than this many times is a stop-gram, dropped from the join and
#: reported in the ledger. 2 is deliberately tight for the synthetic
#: fixture (max gram df at sf0.01 is 3, so the cap provably bites:
#: 74 stop-grams, 25 → 22 spans); a production web corpus sets it to
#: the df where posting lists stop being evidence and start being
#: boilerplate (10²–10⁴).
_SS_CAP = 2

_SS_KG_CTE = f"""
WITH tokl AS (
  SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM documents
),
kg AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i + 1 : i + {_SS_K}], ' ')) AS kg
  FROM tokl, UNNEST(generate_series(0, len(toks) - {_SS_K})) AS t(i)
  WHERE len(toks) >= {_SS_K}
)"""


@register(
    "dedup_shared_spans_capped",
    oracle=_SS_KG_CTE + f""",
hot AS (
  SELECT kg FROM (SELECT kg, COUNT(*) AS c FROM kg GROUP BY kg)
  WHERE c > {_SS_CAP}
),
kgf AS (SELECT * FROM kg WHERE kg NOT IN (SELECT kg FROM hot)),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pa, a.pos - b.pos AS d
  FROM kgf a JOIN kgf b ON a.kg = b.kg AND a.doc_id < b.doc_id
),
r AS (
  SELECT id_a, id_b, d, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, d
                                 ORDER BY pa) AS grp
  FROM j
),
s AS (
  SELECT id_a, id_b, d, CAST(MIN(pa) AS BIGINT) AS start_a,
         CAST(COUNT(*) + {_SS_K} - 1 AS BIGINT) AS span_tokens
  FROM r GROUP BY id_a, id_b, d, grp
)
SELECT id_a, id_b, start_a, CAST(start_a - d AS BIGINT) AS start_b,
       span_tokens
FROM s WHERE span_tokens >= {_SS_MIN_SPAN}
""",
)
def dedup_shared_spans_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_shared_spans`` with the df-cap safety valve ENGAGED
    (r14 verdict #2 — the valve the uncapped docstring prescribed is
    now real): k-gram hashes posted more than {cap} times are
    stop-grams, dropped from the alignment join BEFORE the pair stage,
    so candidate volume is bounded by Σ over df ≤ {cap} of df² ≤
    {cap}·|postings| — LINEAR in the corpus — instead of Σ df(kg)²,
    which on a boilerplate web corpus is Ω(doc-pairs) in the join AND
    the output. What the cap drops is not lost: the companion ledger
    query ``dedup_shared_span_stopgrams`` reports every dropped gram
    with its posting and doc counts (lossy-with-a-ledger, the
    near_dup_edges gate discipline). A span crossing a stop-gram
    splits at it (or falls under the {m}-token floor) — the retained
    spans are exactly the alignments evidenced by sub-cap grams.
    SCALING.md measures the uncapped/capped growth A/B on a forced-
    boilerplate corpus."""
    from ..operators.dedup import shared_token_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return shared_token_spans(
        documents, "doc_id", "text",
        k=_SS_K, min_span=_SS_MIN_SPAN, max_gram_df=_SS_CAP,
    )


dedup_shared_spans_capped.__doc__ = dedup_shared_spans_capped.__doc__.format(
    cap=_SS_CAP, m=_SS_MIN_SPAN
)


@register(
    "dedup_shared_span_stopgrams",
    oracle=_SS_KG_CTE + f"""
SELECT kg, gram_df, n_docs FROM (
  SELECT kg, CAST(COUNT(*) AS BIGINT) AS gram_df,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM kg GROUP BY kg
) WHERE gram_df > {_SS_CAP}
""",
)
def dedup_shared_span_stopgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-gram LEDGER of ``dedup_shared_spans_capped``: every
    k-gram hash the cap dropped from the alignment join, with its
    posting count and distinct-doc count — the audit artifact that
    makes the cap lossy-with-a-ledger instead of silently lossy (a
    reviewer reads the ledger to decide whether a dropped gram was
    boilerplate or evidence, and re-runs capped higher if the latter).
    One partial-aggregated groupBy over the gram postings; the ledger
    is ≤ |postings|/{cap} rows by construction."""
    from ..operators.dedup import shared_span_stop_grams

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return shared_span_stop_grams(
        documents, "doc_id", "text", k=_SS_K, max_gram_df=_SS_CAP
    )


dedup_shared_span_stopgrams.__doc__ = (
    dedup_shared_span_stopgrams.__doc__.format(cap=_SS_CAP)
)


@register(
    "dedup_remove_shared_spans",
    oracle=_SS_KG_CTE + f""",
hot AS (
  SELECT kg FROM (SELECT kg, COUNT(*) AS c FROM kg GROUP BY kg)
  WHERE c > {_SS_CAP}
),
kgf AS (SELECT * FROM kg WHERE kg NOT IN (SELECT kg FROM hot)),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pa, a.pos - b.pos AS d
  FROM kgf a JOIN kgf b ON a.kg = b.kg AND a.doc_id < b.doc_id
),
r AS (
  SELECT id_a, id_b, d, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, d
                                 ORDER BY pa) AS grp
  FROM j
),
s AS (
  SELECT id_a, id_b, d, CAST(MIN(pa) AS BIGINT) AS start_a,
         CAST(COUNT(*) + {_SS_K} - 1 AS BIGINT) AS span_tokens
  FROM r GROUP BY id_a, id_b, d, grp
),
cuts AS (
  SELECT id_b AS doc_id, CAST(start_a - d AS BIGINT) AS cs,
         CAST(start_a - d + span_tokens - 1 AS BIGINT) AS ce
  FROM s WHERE span_tokens >= {_SS_MIN_SPAN}
),
pos AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, toks[i] AS tok
  FROM tokl, UNNEST(generate_series(1, len(toks))) AS u(i)
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok FROM pos
  WHERE NOT EXISTS (SELECT 1 FROM cuts
                    WHERE cuts.doc_id = pos.doc_id
                      AND pos.p BETWEEN cuts.cs AND cuts.ce)
),
reb AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_hash
  FROM kept GROUP BY 1
),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tokl)
SELECT base.doc_id, n_tokens,
       COALESCE(kept_tokens, 0) AS kept_tokens,
       n_tokens - COALESCE(kept_tokens, 0) AS removed_tokens,
       COALESCE(cleaned_hash, md5('')) AS cleaned_hash
FROM base LEFT JOIN reb USING (doc_id)
""",
)
def dedup_remove_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document span REMOVAL — the act the alignment queries
    prepare for, completing the ExactSubstr story (Lee et al. 2022's
    endgame; r15 verdict #4): the capped shared spans
    (``dedup_shared_spans_capped``'s exact pipeline, cap {cap}) are
    resolved to ONE survivor per span — keep-first: the lower doc id
    keeps its copy, the span's token range is cut from the higher —
    and the corpus is rewritten. Per-doc accounting out, the
    ``dedup_remove_spans`` shape: (doc_id, n_tokens, kept_tokens,
    removed_tokens, cleaned_hash), every doc present, cut or not, so
    ``SUM(removed_tokens)`` is the corpus-level dedup yield and the
    hash pins the rewritten text. tests/test_llm_text.py proves on a
    planted fixture that the removed text IS the reported spans.

    Scale: span generation is the capped (linear) join; the cut frame
    is spans-sized; the position anti-join is equi-on-doc-id with a
    range predicate, fan-out bounded by cuts-per-doc; the rebuild
    groups by doc id. Nothing in the plan materializes doc pairs."""
    from ..operators.dedup import remove_shared_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    return remove_shared_spans(
        documents, "doc_id", "text",
        k=_SS_K, min_span=_SS_MIN_SPAN, max_gram_df=_SS_CAP,
    )


dedup_remove_shared_spans.__doc__ = dedup_remove_shared_spans.__doc__.format(
    cap=_SS_CAP
)


# ---------------------------------------------------------------------------
# Cross-corpus doc-level decontamination (train vs frozen benchmark)
# ---------------------------------------------------------------------------

#: benchmark split: every doc whose id divides by this is "held-out
#: eval"; the rest is the training corpus under audit. A deterministic
#: arithmetic split (not a hash) so the oracle states it verbatim.
_XC_MOD = 83
#: flag threshold: a train doc covering >= this fraction of a benchmark
#: doc's distinct shingles is contaminated BY that benchmark doc.
_XC_TAU = 0.2

_XC_ORACLE = f"""
WITH {_shingle_cte(_NJ_SHINGLE_N)},
bench AS (SELECT doc_id AS bench_id, shingle FROM shingle WHERE doc_id % {_XC_MOD} = 0),
corp AS (SELECT doc_id, shingle FROM shingle WHERE doc_id % {_XC_MOD} <> 0),
bsz AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS bench_sz FROM bench GROUP BY 1),
inter AS (
  SELECT c.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM corp c JOIN bench b USING (shingle)
  GROUP BY 1, 2
)
SELECT doc_id, bench_id, n_inter, bench_sz,
       ROUND(n_inter / bench_sz, 6) AS containment
FROM inter JOIN bsz USING (bench_id)
WHERE n_inter / bench_sz >= {_XC_TAU}
"""


@register("dedup_cross_corpus", oracle=_XC_ORACLE)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOC-LEVEL cross-corpus decontamination: flag training documents
    that cover ≥ {tau} of a held-out benchmark document's distinct
    {n}-gram shingles (containment measured against the BENCHMARK
    side, the direction eval-leakage audits care about — a giant train
    doc quoting a whole eval question is contaminated however small
    the quote is relative to the train doc). Complements the n-gram
    decontamination suite (``text_contamination_ngram``, the streaming
    guard): those report WHICH grams leak; this reports WHICH DOC
    PAIRS, with coverage evidence — the row a curator acts on.

    Scale shape — the asymmetry IS the plan: the benchmark side is
    tiny and FROZEN (thousands of docs against a 100 TB corpus), so
    its postings broadcast to every executor and the train corpus is
    scanned exactly once map-side; the only shuffle is the collision
    stream (corpus postings that hit a benchmark shingle — at a
    realistic leak rate, orders of magnitude under the corpus), into
    one partial-aggregated pair count. No corpus self-join exists
    anywhere in the plan, unlike the within-corpus Jaccard family.
    Shingles travel as raw trigram text here to keep the oracle
    verbatim; at 100 TB key them md5/xxhash64 (the
    ``duplicated_token_spans`` discipline — same algebra)."""
    from ..operators.dedup import shingle_postings

    (documents,) = load_tuned(spark, sf_dir, "documents")
    sh = shingle_postings(documents, "doc_id", "text", _NJ_SHINGLE_N)
    bench = (
        sh.filter(F.col("doc_id") % _XC_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "shingle")
        .transform(materialize)
    )
    corp = sh.filter(F.col("doc_id") % _XC_MOD != 0)
    bsz = bench.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_sz"))
    inter = (
        corp.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(bsz), "bench_id")
        .withColumn(
            "containment", F.round(F.col("n_inter") / F.col("bench_sz"), 6)
        )
        .filter(F.col("n_inter") / F.col("bench_sz") >= _XC_TAU)
        .select("doc_id", "bench_id", "n_inter", "bench_sz", "containment")
    )


dedup_cross_corpus.__doc__ = dedup_cross_corpus.__doc__.format(
    tau=_XC_TAU, n=_NJ_SHINGLE_N
)


# ---------------------------------------------------------------------------
# Span-level cross-corpus decontamination REWRITE (cut the quote,
# keep the doc)
# ---------------------------------------------------------------------------

#: k-gram width of the contamination match (the ExactSubstr width —
#: an 8-token verbatim overlap with an eval doc is a quote, not chance)
_XR_K = 8

_XR_ORACLE = f"""
WITH tokl AS (
  SELECT doc_id, {TOKENS_SQL.format(col='text')} AS toks FROM documents
),
gram AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(toks[i + 1 : i + {_XR_K}], ' ')) AS kg
  FROM tokl, UNNEST(generate_series(0, len(toks) - {_XR_K})) AS t(i)
  WHERE len(toks) >= {_XR_K}
),
bkg AS (SELECT DISTINCT kg FROM gram WHERE doc_id % {_XC_MOD} = 0),
hit AS (
  SELECT doc_id, pos FROM gram
  WHERE doc_id % {_XC_MOD} <> 0 AND kg IN (SELECT kg FROM bkg)
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {_XR_K} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM hit
  )
),
cuts AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS cs,
         CAST(MAX(pos) + {_XR_K} - 1 AS BIGINT) AS ce
  FROM isl GROUP BY doc_id, island
),
pos AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, toks[i] AS tok
  FROM tokl, UNNEST(generate_series(1, len(toks))) AS u(i)
  WHERE doc_id % {_XC_MOD} <> 0
),
kept AS (
  SELECT pos.doc_id, pos.p, pos.tok FROM pos
  WHERE NOT EXISTS (SELECT 1 FROM cuts
                    WHERE cuts.doc_id = pos.doc_id
                      AND pos.p BETWEEN cuts.cs AND cuts.ce)
),
reb AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_hash
  FROM kept GROUP BY 1
),
base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM tokl WHERE doc_id % {_XC_MOD} <> 0
)
SELECT base.doc_id, n_tokens,
       COALESCE(kept_tokens, 0) AS kept_tokens,
       n_tokens - COALESCE(kept_tokens, 0) AS removed_tokens,
       COALESCE(cleaned_hash, md5('')) AS cleaned_hash
FROM base LEFT JOIN reb USING (doc_id)
"""


@register("dedup_decontam_span_rewrite", oracle=_XR_ORACLE)
def dedup_decontam_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL cross-corpus decontamination — the REWRITE the
    doc-level audit prepares for: ``dedup_cross_corpus`` names the
    contaminated (train, benchmark) doc pairs; this cuts the quoted
    token ranges OUT of the training docs and keeps the rest (dropping
    a book because it quotes one eval question wastes the book — the
    surgical form real pipelines run). Same deterministic split as the
    audit (benchmark = doc_id % {mod} = 0); a train position is
    contaminated iff some {k}-gram covering it appears anywhere in the
    benchmark; adjacent hits island-merge; cuts rewrite. Output is the
    ``dedup_remove_spans`` accounting shape over TRAIN docs only —
    SUM(removed_tokens) is the contamination yield, the hash pins the
    rewritten text (tests/test_llm_text.py proves on a planted fixture
    that the removed text IS the benchmark quote).

    Scale: the frozen benchmark's distinct {k}-gram set broadcasts;
    the 100 TB train corpus is scanned ONCE map-side; the only
    shuffled stream is the collision hits (doc-local island window),
    then a spans-sized cut frame into a per-doc bounded anti-join.
    No corpus-vs-corpus join anywhere (operators/dedup.py
    remove_contaminated_spans)."""
    from ..operators.dedup import remove_contaminated_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    bench = documents.filter(F.col("doc_id") % _XC_MOD == 0)
    train = documents.filter(F.col("doc_id") % _XC_MOD != 0)
    return remove_contaminated_spans(train, bench, "doc_id", "text", k=_XR_K)


dedup_decontam_span_rewrite.__doc__ = dedup_decontam_span_rewrite.__doc__.format(
    mod=_XC_MOD, k=_XR_K
)


@register(
    "llm_curation_budget_composite",
    oracle=f"""
WITH f AS ({_funnel_flags_sql()}),
rw AS ({_XR_ORACLE}),
j AS (
  SELECT rw.doc_id, d.lang, rw.n_tokens, rw.kept_tokens,
         rw.removed_tokens
  FROM rw JOIN f USING (doc_id) JOIN documents d USING (doc_id)
  WHERE f.p2
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pre_tokens,
       CAST(SUM(kept_tokens) AS BIGINT) AS kept_tokens,
       CAST(SUM(removed_tokens) AS BIGINT) AS removed_tokens,
       ROUND(SUM(removed_tokens) / (1.0 * GREATEST(SUM(n_tokens), 1)), 6)
         AS removal_rate
FROM j GROUP BY lang
""",
)
def llm_curation_budget_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r16 curation stages composed as ONE plan — funnel
    structural gate → span-level decontamination rewrite →
    per-language token budget: docs passing the funnel's STRUCTURAL
    stages (p2 = lang + length — the content-quality stages belong
    AFTER decontamination, scoring the cleaned text, so they gate the
    next hop, not this one) and the benchmark split are rewritten
    against the frozen benchmark's k-grams, and the surviving token
    budget rolls up per language — the table a mix planner starts
    from AFTER filtering and decontamination, i.e. what's actually
    trainable, not what was crawled. Every stage is verified
    standalone (``text_quality_funnel``,
    ``dedup_decontam_span_rewrite``); this query proves they compose
    — the ``llm_corpus_prep_composite`` discipline for the r16
    additions.

    Scale shape: the funnel flags are map-side over one tokenize; the
    survivor semi-join keys on doc id; the rewrite's only cross-doc
    stage is the broadcast benchmark gram probe (rewrite accounting
    is a pure per-doc function, so restricting to survivors first is
    semantics-free and shrinks every downstream stage); the rollup is
    a languages-sized partial aggregate. No corpus-vs-corpus join,
    no global window."""
    from ..operators.dedup import remove_contaminated_spans

    (documents,) = load_tuned(spark, sf_dir, "documents")
    survivors = (
        funnel_doc_flags(documents).filter(F.col("p2")).select("doc_id")
    )
    bench = documents.filter(F.col("doc_id") % _XC_MOD == 0)
    train = documents.filter(F.col("doc_id") % _XC_MOD != 0).join(
        survivors, "doc_id", "leftsemi"
    )
    acct = remove_contaminated_spans(train, bench, "doc_id", "text", k=_XR_K)
    return (
        acct.join(documents.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("pre_tokens"),
            F.sum("kept_tokens").cast("long").alias("kept_tokens"),
            F.sum("removed_tokens").cast("long").alias("removed_tokens"),
            F.round(
                F.sum("removed_tokens")
                / F.greatest(F.sum("n_tokens"), F.lit(1)),
                6,
            ).alias("removal_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source document caps (the CommonCrawl-style domain cap)
# ---------------------------------------------------------------------------

#: keep at most this many documents per source
_SRC_CAP = 10
#: salt fan-out of the two-phase top-cap (phase 1 ranks within
#: (source, salt) so no task ever sorts a whole source's partition)
_SRC_SALT = 8

_SRC_CAP_ORACLE = f"""
SELECT source, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM documents
) WHERE rnk <= {_SRC_CAP}
"""


def source_cap_phase1(df: DataFrame) -> DataFrame:
    """Phase 1 of the two-phase salted per-source top-cap: rank within
    (source, salt = doc_id mod ``_SRC_SALT``) and keep ≤ ``_SRC_CAP``
    per salt class, so no task ever sorts a whole hot source. Exact by
    containment: every global per-source top-cap winner wins its own
    salt class. Shared by the batch query and the streaming twin
    (``streaming/source_cap.py``) so the priority order can never
    drift between them."""
    w1 = Window.partitionBy("source", "_salt").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        df.withColumn("_salt", F.pmod(F.col("doc_id"), F.lit(_SRC_SALT)))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") <= _SRC_CAP)
        .drop("_salt", "_r")
    )


def source_cap_phase2(df: DataFrame) -> DataFrame:
    """Phase 2: re-rank the bounded phase-1 survivors per source and
    keep the global per-source top-``_SRC_CAP`` with its rank — the
    output shape. The input is ≤ cap·salt rows per source by
    construction."""
    w2 = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        df.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= _SRC_CAP)
        .select("source", "doc_id", "n_chars", "rnk")
    )


@register("sample_source_cap", oracle=_SRC_CAP_ORACLE)
def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — keep the top {cap} docs per source by
    the deterministic priority (n_chars DESC, doc_id ASC): the domain-
    cap stage every web-scale corpus runs so one crawler-friendly host
    cannot dominate the training mix (the same shape caps per-domain,
    per-license, or per-language with a different key/priority).

    Scale shape — a single ``row_number`` window per source is the
    WRONG plan at 100 TB: sources are Zipfian, so the biggest source's
    partition is a single-task sort of billions of rows. This runs the
    TWO-PHASE SALTED top-cap instead: phase 1 ranks within
    (source, salt = doc_id mod {salt}) and keeps ≤ {cap} per salt —
    every task sorts ~1/{salt} of even the hottest source, and the
    salt fan-out dials with skew; phase 2 re-ranks the ≤ {cap}·{salt}
    survivors per source — a bounded frame however large the source.
    Exact by containment: the global per-source top-{cap} is a subset
    of the union of per-salt top-{cap}s (each global winner wins its
    own salt class too), so phase 2 sees every winner. The oracle is
    the one-window form; the salted plan must (and does) reproduce it
    byte-for-byte.

    Honest engine note: Spark ≥ 3.5 plans rank-filter windows with
    ``WindowGroupLimit`` (visible in this query's plan at both
    phases), so even the one-window form keeps ≤ {cap} rows per
    source per MAP task before the exchange — but that partial bound
    is cap × numTasks (10⁵+ tasks at 100 TB → 10⁶+ rows of one hot
    source on a single reducer); the salt phase replaces it with the
    CONSTANT bound cap × {salt} into the final re-rank, independent
    of task count."""
    (documents,) = load_tuned(spark, sf_dir, "documents")
    base = documents.select("source", "doc_id", "n_chars")
    return source_cap_phase2(source_cap_phase1(base))


sample_source_cap.__doc__ = sample_source_cap.__doc__.format(
    cap=_SRC_CAP, salt=_SRC_SALT
)
