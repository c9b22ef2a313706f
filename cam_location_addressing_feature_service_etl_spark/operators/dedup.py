"""Deduplication operators.

Reference semantics (SURVEY §2.5, §2.3 J10):

- D2 first-wins dedup via a ``seen_road_ids`` set
  (``address_etl/pls/tables.py:421-446``);
- J10 cache merge where freshly-fetched entries win over stored ones
  (``address_etl/geocode.py:362-388``).

Both need *explicit* precedence: ``orderBy`` before ``dropDuplicates``
is NOT guaranteed in Spark (shuffle may reorder), so precedence is a
window ``row_number`` over explicit order columns.

Plus the LLM-pipeline dedup family over the ``documents`` table:
exact hash dedup, token-shingle MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (see ``workload/llm_text.py`` /
``workload/llm_similarity.py`` for the driver-checked query forms).

Scale notes: every dedup here is a single shuffle on the dedup key
(or on LSH band buckets, which bound the candidate-pair blowup).
MinHash signatures use md5 (deterministic everywhere, including the
DuckDB oracle) — at 100 TB you'd swap in xxhash64 for speed, the
algebra is identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..runtime import materialize


def dedup_first_wins(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """D2: keep exactly one row per key, "first" = min(order_cols)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_fetched_wins(
    stored: DataFrame,
    fetched: DataFrame,
    key_cols: Sequence[str],
    priority_col: str,
) -> DataFrame:
    """J10: union two same-schema sides; highest priority wins per key."""
    merged = stored.unionByName(fetched)
    w = Window.partitionBy(*key_cols).orderBy(F.desc(priority_col))
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Text tokenization / shingling shared by the dedup family. Tokenization is
# deliberately simple (lowercase, non-alnum → space, whitespace split) so the
# DuckDB oracle can reproduce it bit-for-bit.
# ---------------------------------------------------------------------------

def tokens_col(text: Column) -> Column:
    """Whitespace tokens of lowercased, punctuation-stripped text."""
    cleaned = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", " ")
    return F.filter(F.split(cleaned, " +"), lambda t: t != "")


def shingles_col(toks: Column, n: int = 3) -> Column:
    """Distinct n-token shingles (word n-grams joined by single spaces).

    Guarded for short docs: Spark's ``sequence(1, 0)`` DESCENDS rather
    than returning empty, so the index list is built only when
    size(toks) >= n.
    """
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + k).cast("int")) for k in range(n)]
        ),
    )
    return F.array_distinct(grams)


def shingle_postings(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingle) exploded postings. Tokens are materialized as a
    column BEFORE shingling: passing ``tokens_col(...)`` straight into
    ``shingles_col`` inlines the regexp+split expression into every
    ``element_at`` inside the lambda, re-tokenizing each doc ~3n times
    (measured 29s → <2s at sf0.1 for this one change)."""
    toks = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_toks"))
    return toks.select(
        F.col(id_col), F.explode(shingles_col(F.col("_toks"), shingle_n)).alias("shingle")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy, keep the smallest id per hash."""
    hashed = df.withColumn("_h", F.md5(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy(id_col)
    return hashed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn", "_h")


# Universal-hash parameters for MinHash permutations: h_i(x) =
# (A[i]*x + B[i]) mod P with x = first 32 bits of md5(shingle).
# A[i] < 2^31 and x < 2^32 keep a*x+b < 2^63 (no 64-bit overflow in
# either engine). Constants are arbitrary fixed odd/prime-ish values —
# hardcoded so the DuckDB oracle reproduces them literally.
MINHASH_P = 4294967291  # largest prime < 2^32
MINHASH_A = [
    1103515245, 1664525, 22695477, 214013, 134775813, 1140671485,
    1481765933, 65793, 1226874159, 784588716, 1744073, 997525853,
    1990057, 67867979, 86028157, 122949829,
]
MINHASH_B = [
    12345, 1013904223, 1, 2531011, 1, 12820163, 1, 4282663,
    911, 45989, 777, 104729, 7919, 3, 57885161, 43112609,
]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature via universal hashing: the shingle is
    md5'd ONCE (its first 32 bits become x), then each permutation is
    h_i = (A[i]*x + B[i]) mod P — integer ops instead of ``num_hashes``
    md5 calls per shingle (~3× faster end-to-end at sf0.1), with the
    identical algebra expressible in the ANSI-SQL oracle.

    Pass ``postings`` (an (id, shingle) frame, e.g. an already-
    materialized ``shingle_postings``) when the caller also needs the
    postings for other legs — the tokenize+shingle scan is the
    dominant cost and must not run twice.
    """
    sh = postings if postings is not None else shingle_postings(
        df, id_col, text_col, shingle_n
    )
    x = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    withx = sh.select(F.col(id_col), x.alias("x"))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    return withx.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Band the signature (rows_per_band = num_hashes/bands), bucket-join:
    pairs sharing ≥1 band bucket are candidates. Output (id_a < id_b).

    The band bucket join is the scale path: candidates ~ O(collisions),
    never O(n²). Skewed buckets (boilerplate docs) are handled by AQE
    skew-join splitting.
    """
    rpb = num_hashes // bands
    band_exprs = []
    for b in range(bands):
        cols = [F.col(f"h{b * rpb + k}").cast("string") for k in range(rpb)]
        band_exprs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *cols).alias("bucket"))
        )
    banded = (
        signatures.select(F.col(id_col), F.explode(F.array(*band_exprs)).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        # both sides of the bucket self-join consume this frame; without
        # materialization the signature aggregation (the expensive part)
        # runs once per branch — Spark does not reuse the exchange here
        .transform(materialize)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col(f"a.bucket") == F.col(f"b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash_pairs_exact(
    sh: DataFrame, id_col: str, hash_col: str, bits: int = 16, max_dist: int = 1
) -> DataFrame:
    """EXACT hamming-distance pair search via chunk indexing (Manku et
    al., WWW'07): split the ``bits``-bit hash into ``max_dist + 1``
    chunks — any pair within ``max_dist`` must agree exactly on at
    least one chunk (pigeonhole) — bucket-join per chunk, then verify.

    Replaces the O(n²) pair scan with a shuffle on (chunk_id, chunk
    value); worst case degrades only when one chunk value dominates
    (handled by AQE skew splitting).
    """
    n_chunks = max_dist + 1
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    # the chunk expansion below self-joins; materialize the (usually
    # aggregation-produced) signature frame once instead of per branch
    sh = sh.transform(materialize)
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk_id"),
            F.shiftright(F.col(hash_col), i * chunk_bits).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for i in range(n_chunks)
    ]
    chunked = sh.select(
        F.col(id_col), F.col(hash_col), F.explode(F.array(*chunk_structs)).alias("c")
    ).select(id_col, hash_col, "c.chunk_id", "c.val")
    a, b = chunked.alias("a"), chunked.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"a.{hash_col}").alias("h_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"b.{hash_col}").alias("h_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").cast("long").bitwiseXOR(F.col("h_b").cast("long")))
    return (
        cands.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_dist)
        .select("id_a", "id_b", "hamming")
    )


def simhash_from_postings(
    postings: DataFrame, id_col: str, bits: int = 32
) -> DataFrame:
    """SimHash as ONE grouped aggregation over (id, shingle) postings:
    bit_i set iff the majority of a doc's shingles hash to 1 at
    position i (bit source: high bit of the i-th hex digit of
    md5(shingle), reproducible in SQL). Returns (id_col, simhash long).

    A single shuffle on id_col with partial aggregation — at 100 TB
    this is a map-side-combined groupBy, no window, no O(n²) anywhere.
    Shingle features (not raw tokens) keep the hash diverse on
    homogeneous corpora: token-level simhash collapses when documents
    share a small vocabulary (measured 449k hamming≤1 pairs at sf0.1
    with 16-bit token simhash vs ~10³ with 32-bit shingle simhash).
    """
    # Bit source: the high bit of hex digit i of md5(shingle). Rather
    # than 32 substring+set-membership aggregate expressions (which
    # also re-evaluate the md5 per bit), convert the hash to 8-hex-
    # digit long chunks ONCE per row, then each bit is a shift+AND —
    # integer ops inside the partial aggregate. Digit i (0-based from
    # the left) lives in chunk i//8 at nibble 7-(i%8); its high bit is
    # nibble_bit 3. Semantics identical to the substring form (the
    # oracle keeps the substring spelling).
    h = F.md5(F.col("shingle"))
    n_chunks = (bits + 7) // 8
    pre = postings.select(
        F.col(id_col),
        *[
            F.conv(F.substring(h, 8 * j + 1, 8), 16, 10).cast("long").alias(f"_c{j}")
            for j in range(n_chunks)
        ],
    )
    aggs = [F.count(F.lit(1)).alias("_total")] + [
        F.sum(
            F.shiftright(F.col(f"_c{i // 8}"), 4 * (7 - i % 8) + 3).bitwiseAND(F.lit(1))
        ).alias(f"_o{i}")
        for i in range(bits)
    ]
    grouped = pre.groupBy(id_col).agg(*aggs)
    acc = F.lit(0).cast("long")
    for i in range(bits):
        acc = acc + F.when(F.col(f"_o{i}") * 2 > F.col("_total"), F.lit(1 << i)).otherwise(
            F.lit(0)
        ).cast("long")
    return grouped.select(F.col(id_col), acc.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle index.

    candidates = pairs sharing ≥1 shingle (token-postings join), then
    |A∩B| counted per pair, |A|,|B| joined in, jaccard filtered. Exact
    (no candidate above threshold is missed: any pair with J>0 shares a
    shingle), and distributed: the worst-case blowup is bounded by
    posting-list sizes — at scale, drop top-frequency shingles first
    (stop-shingle pruning), which only removes pairs sharing *nothing
    rare*, then verify.
    """
    # postings feed three branches (both self-join sides + the size
    # aggregate): materialize the tokenize+shingle+explode subtree once
    sh = shingle_postings(df, id_col, text_col, shingle_n).transform(materialize)
    return _nj_pairs_naive(sh, id_col, threshold)


def _nj_pairs_naive(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Count-join pair stage over materialized shingle postings — the
    inverted-index probe of :func:`ngram_jaccard_pairs` (rationale
    there), shared with the adaptive :func:`near_dup_edges`."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        # AllPairs length filter, SAME predicate as the prefix stage
        # (r15 ADVICE): both branches now share the full guarantee
        # chain — length filter for J ≥ t exactly, plus the round-6
        # compare. The two rules disagree only on a knife-edge pair
        # whose exact J sits within 5e-7 BELOW t while min/max < t,
        # which needs |A∪B| ≳ 2·10⁶ shingles in one document —
        # unreachable at any tested scale; the filter makes the
        # naive/prefix identical-output claim airtight rather than
        # scale-conditional.
        .filter(
            F.greatest("sz_a", "sz_b") * threshold <= F.least("sz_a", "sz_b")
        )
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (the AllPairs/
    PPJoin prefix principle, Bayardo et al. WWW'07) — same output as
    ``ngram_jaccard_pairs``, far fewer candidates.

    Why it stays exact: J(A,B) ≥ t implies |A∩B| ≥ t·max(|A|,|B|)
    (since the union is at least the larger set), so by pigeonhole the
    shared shingles cannot all sit in a doc's last ⌈t·|A|⌉−1 shingles
    under ANY global total order. Index only each doc's first
    |A| − ⌈t·|A|⌉ + 1 shingles in ascending document-frequency order:
    every qualifying pair still collides on some indexed shingle, but
    the corpus-hot shingles — exactly the posting lists whose |df|²
    blowup dominates the naive index — sort LAST and fall out of every
    prefix. Surviving candidates are verified with the full
    set intersection, so no false positives either.

    Scale: candidate volume drops from Σ df² over all shingles to
    Σ df_prefix² over rare shingles — measured 1.27M → 312k collisions
    (4×) at sf0.1/t=0.6, and the ratio grows with corpus size because
    hot-shingle df² grows superlinearly while prefix df is capped by
    rarity. The global df ranking is one extra aggregation over the
    postings — partial-aggregatable, no hot key (it groups BY shingle,
    and the ranking window is per doc, never global).

    Verify stage: candidate-restricted postings count-intersection —
    the deduplicated candidate pairs (small by design; that is the
    point of prefix filtering) are broadcast onto the a-side postings,
    and the probe rows match b-side postings on (id_b, shingle); a
    count per pair is the exact |A∩B|. Per-pair cost is |A| probe rows
    (the PPJoin verify shape), no per-doc set arrays are ever
    aggregated or moved. Earlier forms were measured slower at sf0.1:
    round 3 collect_set'd full sets per CANDIDATE (quadratic
    re-shuffle), rounds 4-5 aggregated a per-doc ``collect_set`` frame
    and ``array_intersect``-ed it per pair — the set-aggregation pass
    plus array building cost more than this join-count form.

    WHEN EACH VARIANT WINS — measured, not assumed. On the synthetic
    sf0.1 corpus (5000 all-distinct docs, NO repeated boilerplate,
    t=0.6) the naive index wins at every measured size: min-of-3 warm
    times 1.04/0.93/1.21s (naive) vs 1.30/1.33/1.90s (prefix) at
    1250/2500/5000 docs, because collisions (76k → 315k → 1.27M,
    exactly ×4 per doubling) stay cheap for the partial-aggregated
    count-join while the prefix pipeline pays ~4 extra serial stage
    boundaries plus an |A|-rows-per-candidate verify. That corpus is
    the skew-free best case for naive. Add ONE boilerplate footer
    line to every doc — the shape of every real web/document corpus —
    and naive's collisions jump to 164M at the same 5000 docs (each
    footer shingle has df = N and emits N²/2 pairs); measured: naive
    4.6s vs prefix 3.0s, and the naive side grows ∝ N² per hot
    shingle while prefix candidates barely move (hot shingles sort
    last in df order and fall out of every prefix). The registry pins
    this comparison as dedup_jaccard_boiler_{naive,prefix} so the
    bench records it every round. At 100 TB the boilerplate regime is
    the only regime; a df=10⁸ shingle is 5·10¹⁵ emitted pairs — the
    naive plan does not complete, prefix does not notice.

    A semi-join pre-filter of the b-side postings by candidate ids was
    measured SLOWER at sf0.1 (one more stage boundary than it saves);
    re-evaluate at cluster scale where shuffle volume, not stage
    count, dominates.
    """
    # The postings feed three plan branches (rank/size pass, set agg,
    # frequency agg); materialize the tokenize+shingle+explode subtree
    # once, already hash-partitioned on the doc id.
    sh = (
        shingle_postings(df, id_col, text_col, shingle_n)
        .repartition(F.col(id_col))
        .transform(materialize)
    )
    return _nj_pairs_prefix(sh, _nj_ranked(sh, id_col), id_col, threshold)


def _nj_ranked(sh: DataFrame, id_col: str) -> DataFrame:
    """Per-doc ascending-df rank + doc size + df for each posting —
    the AllPairs total order both the prefix pair stage and the
    adaptive gate (:func:`near_dup_edges`) read."""
    # df ranking: one aggregate per distinct shingle. NOT broadcast-
    # hinted — at corpus scale the distinct-shingle table is huge and
    # must stay a shuffle join; locally AQE broadcasts it from runtime
    # stats.
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return _nj_ranked_from_freq(sh, freq, id_col)


def _nj_ranked_from_freq(
    sh: DataFrame, freq: DataFrame, id_col: str
) -> DataFrame:
    # row_number + count reuse the checkpoint's id partitioning — the
    # join with freq is broadcast (AQE), so no re-exchange before the
    # windows.
    w = Window.partitionBy(id_col).orderBy("df", "shingle")
    wsz = Window.partitionBy(id_col)
    return sh.join(freq, "shingle").select(
        id_col,
        "shingle",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wsz).alias("sz"),
        "df",
    )


def _nj_pairs_prefix(
    sh: DataFrame, ranked: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Prefix-filtered pair stage from the ranked postings — the body
    of :func:`ngram_jaccard_pairs_prefix` (rationale there), shared
    with the adaptive :func:`near_dup_edges`."""
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        "shingle",
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        "shingle",
        F.col("sz").alias("sz_b"),
        F.col("rn").alias("rn_b"),
    )
    # Candidate pairs: prefix collision + the AllPairs length filter
    # (J ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)) + the PPJoin positional
    # filter: a collision at df-order positions (rn_a, rn_b) can lead
    # to at most 1 + min(sz_a − rn_a, sz_b − rn_b) total overlap, which
    # must reach the equivalent-overlap bound t/(1+t)·(sz_a+sz_b). The
    # 1e-9 slack makes float rounding err only toward ADMITTING a
    # candidate — the verify stage is exact, so extra candidates cost
    # time, never correctness. Measured candidate pairs at sf0.1/t=0.6:
    # 300k (prefix alone) → 193k (+length) → 69k (+positional).
    need = F.ceil(
        F.lit(threshold) / (1.0 + threshold) * (F.col("sz_a") + F.col("sz_b"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.greatest("sz_a", "sz_b") * threshold <= F.least("sz_a", "sz_b"))
            & (
                1 + F.least(F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b"))
                >= need
            )
        )
        .select("id_a", "id_b", "sz_a", "sz_b")
    )
    # Verify: candidate-restricted postings count-intersection.
    # Candidates are deduplicated FIRST (a pair colliding on several
    # prefix shingles would otherwise multiply its intersection
    # count); the distinct is over the tiny filtered candidate set.
    # The dedup'd pairs are broadcast onto the a-side postings — the
    # candidate set is the small-by-design side (that is the entire
    # point of prefix filtering; left to AQE the plan was observed to
    # flip broadcast/sort-merge run to run, 3.7s vs 8.4s bimodal) —
    # producing |A| probe rows per pair, which match b-side postings
    # on (id_b, shingle). The count per pair is exactly |A∩B|: probe
    # rows are distinct (a doc's shingles are distinct postings) and
    # survive the b-join iff the shingle is also in B. Partial
    # aggregation collapses the probe join's output before the final
    # per-pair shuffle. If a corpus defeats the prefix economics (no
    # rare tail), the candidate set is NOT small and the hint is
    # withheld (measured-count gate below) rather than broadcast an
    # unbounded candidate set.
    # Adaptive hint (r14): when the corpus has NO rare tail (a fixed
    # tiny vocabulary — every shingle hot), the prefix cannot prune
    # and the candidate set is pair-scale, not small; broadcasting it
    # was measured at 129s on the 50k-doc fixed-31-word-vocab sf1
    # corpus where the unhinted shuffle join takes a fraction of that.
    # The candidate count is one bounded scalar action on the
    # materialized frame (the convergence-check pattern below).
    candd = cand.distinct().transform(materialize)
    pa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    pb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    return (
        pa.join(
            F.broadcast(candd) if candd.count() <= 200_000 else candd, "id_a"
        )
        .join(pb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: choose the prefix pair stage only when it cuts measured probe
#: volume by at least this factor over the naive count-join — below
#: that, prefix's extra stage boundaries + per-candidate intersection
#: recount cost more than they save (measured: fixed-31-word-vocab
#: sf1, ratio ≈ 0.5, prefix 129–195s vs naive 35s; boilerplate corpus,
#: ratio ≈ 0.004, prefix flat vs naive ∝ N per hot shingle)
NEAR_DUP_PREFIX_GAIN = 4.0


def near_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard near-dup pairs with a MEASURED choice of pair
    stage — the edge source the CC/canonical dedup family uses.

    Both stages are exact, so the choice is pure economics, and the
    economics hinge on whether the corpus has a RARE TAIL:

    - a real web/document corpus (rich vocabulary + hot boilerplate)
      is the prefix stage's regime — hot shingles fall out of every
      prefix and candidates stay near clean-corpus volume while the
      naive probe's Σ df² collisions grow ∝ N² per hot shingle;
    - a corpus with NO rare tail (the driver's fixed-31-word-vocab
      synthetic: every shingle df ≈ N/|vocab|) defeats prefix
      filtering — its prefixes still hold hot-ish shingles, so the
      candidate set is pair-scale AND it pays the intersection
      recount the naive count-join gets for free. Measured at the
      generated sf1 (50k docs, 29.8k distinct shingles, mean df 88):
      naive 34.6s vs prefix 129s (hinted broadcast) / 195s (shuffle
      verify) for the identical 2,380-pair output.

    The gate is TWO-STAGE so the common (naive) path pays almost
    nothing beyond the postings it needs anyway:

    1. df-profile screen — one aggregate over the per-shingle df
       table: does a hot head (df ≥ max(20×mean, 10)) carry the
       MAJORITY of Σ df·(df−1) collision volume? If not, no prefix
       order can remove the dominant cost — run naive, never build
       the rank window.
    2. exact confirm — only when a hot head dominates, build the
       df-ranked postings and read both probe volumes exactly
       (Σ df over ALL postings bounds the naive collision join's
       output; Σ df over PREFIX postings bounds the prefix probe's).
       This catches the corpus the screen cannot: documents whose
       boilerplate EXCEEDS the 1−τ prefix fraction must keep hot
       shingles inside their prefixes, so prefix would pay its
       recount for no candidate reduction. Prefix runs only when it
       wins by ``NEAR_DUP_PREFIX_GAIN``×.

    Each stage is one bounded scalar action (the convergence-check
    pattern). At 100 TB the df profile is a metadata-scale statistic
    a deployment caches per corpus snapshot; the decision is
    deterministic given the corpus, so replays/oracles are unaffected
    (both branches emit the same pair set)."""
    # no doc-id repartition yet: the naive branch neither needs nor
    # wants it (its self-join shuffles on the shingle); the prefix
    # branch repartitions below, where the rank windows run
    sh = shingle_postings(df, id_col, text_col, shingle_n).transform(materialize)
    freq = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .transform(materialize)
    )
    # collision volumes as doubles: gate heuristics, not results —
    # exactness lives in the pair stages, which are identical-output.
    # ONE bounded scalar action: the mean-df threshold comes from a
    # broadcast 1-row totals frame so hot-head and total collision
    # volume aggregate in the same job. Hotness is RELATIVE (20× the
    # mean posting-list length): an absolute floor would blind the
    # screen on small corpora where a footer shared by all N docs has
    # df = N; the tiny floor of 10 only suppresses noise on toy inputs.
    dfd = F.col("df").cast("double")
    tot = freq.agg(F.sum("df").alias("p"), F.count(F.lit(1)).alias("s"))
    st = (
        freq.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(dfd * (dfd - 1)).alias("coll"),
            F.sum(
                F.when(
                    dfd
                    >= F.greatest(
                        F.lit(10.0), F.lit(20.0) * F.col("p") / F.col("s")
                    ),
                    dfd * (dfd - 1),
                )
            ).alias("hot"),
        )
        .collect()[0]
    )
    if st["hot"] is None or st["coll"] is None or st["hot"] * 2.0 < st["coll"]:
        return _nj_pairs_naive(sh, id_col, threshold)
    sh = sh.repartition(F.col(id_col)).transform(materialize)
    ranked = _nj_ranked_from_freq(sh, freq, id_col).transform(materialize)
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    st2 = ranked.agg(
        F.sum("df").alias("full"),
        F.sum(F.when(F.col("rn") <= plen, F.col("df"))).alias("pre"),
    ).collect()[0]
    if st2["pre"] is not None and st2["pre"] * NEAR_DUP_PREFIX_GAIN <= st2["full"]:
        return _nj_pairs_prefix(sh, ranked, id_col, threshold)
    return _nj_pairs_naive(sh, id_col, threshold)


def connected_components(edges: DataFrame, iterations: int) -> DataFrame:
    """Fixed-iteration min-label propagation over an undirected edge
    set ``(id_a, id_b)``: each node's label starts as itself and each
    round becomes the minimum of its own and its neighbors' labels.
    After ``iterations`` rounds the label is the component minimum for
    every node within that graph distance of its component's minimum —
    the dedup-cluster representative (union-find, but set-based and
    distributed).

    Determinism: the result after exactly N rounds is a pure function
    of the edge set, so a fixed N yields an oracle-checkable result
    whether or not propagation has converged. Each round is a single
    join + min-aggregate over an adjacency list that carries a
    self-loop per node — min(self ∪ neighbors) in one pass, instead
    of the neighbor-min + left-join-back-to-self formulation (same
    result, one fewer shuffle per round). At 100 TB scale switch to
    the large-star/small-star alternation (Kiveris et al., "CC in
    MapReduce and Beyond"), which converges in O(log n) rounds with
    the same per-round plan shape.

    Returns (node, label) with label = component representative.
    """
    # Materialize the edge set FIRST: it feeds both symmetrization
    # legs, the node derivation, and the initial label frame — without
    # this the (often expensive) edge-producing subtree (e.g. the
    # Jaccard candidate+verify pipeline) is replicated into each of
    # those plan branches and recomputed per branch. Measured at
    # sf0.1: full query 12.6s → 3.7s from this one line.
    e = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).transform(materialize)

    # Single-partition fast path for SMALL edge sets (r17 — the
    # connected_components_star discipline, see _STAR_LOCAL_MAX): a
    # near-dup edge set is collision-bounded and usually tiny relative
    # to the corpus, yet every round paid the join + min-agg exchanges
    # and each exchange is an AQE query-stage job of ~107–175 ms fixed
    # driver latency. One physical partition satisfies every
    # distribution requirement, so below the cap the whole round chain
    # is exchange-free and the final action runs it as ONE narrow
    # stage per checkpoint segment. The count doubles as e's
    # checkpoint trigger; algebra (and results) are unchanged; above
    # the cap the distributed rounds run exactly as before.
    local = e.count() <= _STAR_LOCAL_MAX

    def narrow(df: DataFrame) -> DataFrame:
        return df.coalesce(1) if local else df

    bidir = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = narrow(bidir).select(F.col("src").alias("node")).distinct()
    adj = (
        narrow(
            bidir.unionByName(
                nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
            )
        )
        # the adjacency list is re-joined every round: materialize it
        # once (without this the edge-derivation subtree is replicated
        # into every iteration's plan — measured 248 parquet scans for
        # 4 rounds over an LSH edge set)
        .transform(materialize)
    )
    labels = nodes.withColumn("label", F.col("node"))
    for i in range(iterations):
        # localCheckpoint drops outputPartitioning (r9 caveat), so the
        # local path re-asserts SinglePartition on both join inputs
        # each round — a no-op narrow dependency over 1-partition data.
        # The label side additionally carries a broadcast hint on the
        # local path: the measured gate BOUNDS it (≤ 2·cap + cap node
        # rows), but the lazy-checkpoint LogicalRDDs inherit their
        # producing plan's (huge) size estimate, so without the hint
        # EnsureRequirements re-shuffles the SinglePartition children
        # (spark.sql.maxSinglePartitionBytes) and the exchange-free
        # round is lost — measured on the sf0.1 near-dup graph: the
        # hinted round plans BHJ with zero hash exchanges and both
        # aggregate halves collapse in place.
        adj_i = narrow(adj)
        lbl_i = F.broadcast(narrow(labels)) if local else labels
        labels = (
            adj_i.join(lbl_i, adj_i["dst"] == F.col("node"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        # truncate lineage each round (iterative plans grow without
        # bound otherwise — the same reason GraphX checkpoints);
        # lazy: nothing executes until the caller's action
        if i < iterations - 1:
            labels = labels.transform(materialize)
    return labels


#: Edge-count cap for connected_components_star's single-partition
#: fast path (see the in-function comment): below it, every star
#: round and convergence check runs exchange-free on ONE partition
#: (~2^17 canonical edges sort/hash in milliseconds in a single task);
#: above it, the distributed window rounds run unchanged. Priced per
#: call by the canonical edge count — which the operator materializes
#: anyway, so the gate costs no extra pass over the data.
_STAR_LOCAL_MAX = 131072

#: star rounds before connected_components_star gives up; convergence
#: is O(log n) rounds, so 25 is ample for any real graph
_STAR_MAX_ROUNDS = 25


def connected_components_star(edges: DataFrame) -> DataFrame:
    """Connected components of the edge set ``(id_a, id_b)`` via
    LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the O(log n)-round scale path that ``connected_components``'s
    docstring promises for 100 TB graphs, run to convergence.

    Each round is two window-min passes (one exchange each) plus one
    dedup exchange over the edge set; the edge set only shrinks toward
    a star per component, so the per-round cost FALLS as the algorithm
    proceeds (fixed-round label propagation instead re-joins the full
    adjacency every round and needs diameter rounds).

    Convergence detection exploits that the alternation's fixed points
    are exactly the FLAT FORESTS: canonical edge sets where every
    ``u`` carries exactly one edge and never appears as a ``v`` (no
    chains). Since ``canon`` orients every edge larger→smaller, such a
    forest is a disjoint set of stars whose center is the component
    minimum — the answer itself. Flatness is a single distributed
    aggregation (one scalar driver action), so convergence is detected
    DIRECTLY at the converged round, rather than by comparing edge-set
    fingerprints across two consecutive checked rounds. Checks start
    after round 2 (one round can never finish a non-trivial graph) on
    a {2, 3, 5, 7, ...} schedule tuned for the dedup-cluster shape
    (tiny components, fixed point in 2-3 rounds → ONE check in the
    common case); the driver loop is scalar-only and every data
    operation is distributed. The lazy per-round checkpoints
    materialize inside the next check's action either way, so each
    skipped check is one fewer blocking scheduler round-trip.

    Raises ``RuntimeError`` if ``_STAR_MAX_ROUNDS`` is exhausted before
    the fixed point: callers (and the recursive-CTE parity oracle)
    assume converged labels, so returning a non-converged edge set
    would be silently wrong — a node could carry conflicting labels.

    Returns (node, label) for every node incident to an edge, label =
    component minimum — identical to converged min-label propagation.
    """

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    e = canon(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).transform(materialize)

    # Single-partition fast path for SMALL edge sets (r17; guide §2.4
    # remove shuffles outright, §7.3 driver-side per-stage latency):
    # the registry folds' label-level mini-graphs are ∝ batch edges by
    # contract, yet each star round paid 3 exchanges (two window-min
    # passes + the distinct) and each convergence check 2 more — under
    # AQE every exchange is a separate query-stage JOB with a measured
    # 107–175 ms fixed driver cost, so a 2-round mini-CC cost ~11
    # sequential jobs of almost pure scheduling latency. A single
    # physical partition satisfies EVERY clustering/distribution
    # requirement, so coalesce(1) makes every window, distinct and
    # aggregate below it exchange-free — the whole check collapses to
    # ONE job — while the ALGEBRA is untouched (window min per u sees
    # the same rows; results are bit-identical). The measured-count
    # gate prices it per call: the count doubles as e's checkpoint
    # trigger (the canonical edge set is materialized here either
    # way), and anything above the cap keeps the distributed rounds —
    # at 100 TB a corpus-scale CC never enters the local path, while
    # the fold minis do. The gate is taken ONCE, on the initial edge
    # count: a graph that starts above the cap stays distributed for
    # every round, even once its edge set has shrunk under the cap
    # toward the fixed point — converged tails are NOT covered.
    local = e.count() <= _STAR_LOCAL_MAX

    def narrow(df: DataFrame) -> DataFrame:
        # no-op reshuffle-free narrowing: inputs on this path are
        # either already 1 partition or a just-checkpointed tiny frame
        # (localCheckpoint drops outputPartitioning, so each round
        # must re-assert SinglePartition — r9 measured caveat)
        return df.coalesce(1) if local else df

    def non_flat_count(df: DataFrame) -> int:
        # Edges violating flatness: a u with >1 edge, or a node that is
        # both a u and a v (a chain). Two-level aggregation — partial-
        # aggregatable on node id, then a single scalar — one action.
        per_node = (
            narrow(
                df.select(F.col("u").alias("x"), F.lit(1).alias("is_u"))
                .unionAll(
                    df.select(F.col("v").alias("x"), F.lit(0).alias("is_u"))
                )
            )
            .groupBy("x")
            .agg(F.sum("is_u").alias("cu"), F.count(F.lit(1)).alias("ct"))
        )
        bad = (F.col("cu") > 1) | ((F.col("cu") > 0) & (F.col("ct") > F.col("cu")))
        return per_node.agg(
            F.count(F.when(bad, F.lit(1))).alias("n")
        ).collect()[0]["n"]

    wu = Window.partitionBy("u")
    converged = False
    for rnd in range(1, _STAR_MAX_ROUNDS + 1):
        # LARGE-STAR: every strictly-larger neighbor of u re-attaches
        # to u's neighborhood minimum (including u itself). The
        # neighborhood minimum is a partition-wide window min — ONE
        # exchange on u — instead of the groupBy + join-back
        # formulation (two exchanges plus a join build per round).
        bidir = narrow(
            e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        )
        large = (
            bidir.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # large-star output is already canonically oriented (v > u >= m
        # implies new-u > new-v), and cross-source duplicate edges are
        # tolerated undeduplicated: the small-star window min is
        # duplicate-insensitive, so the round's single distinct lands
        # AFTER small-star — one exchange instead of two.
        #
        # SMALL-STAR: every strictly-smaller neighbor of u, and u
        # itself, attach to u's minimum neighbor. Each input row (u, v)
        # emits exactly one edge — (u, m) when v is the minimum, (v, m)
        # otherwise — so the union-with-centers branch collapses into a
        # conditional projection over the same window pass.
        small = (
            large.withColumn("m", F.min("v").over(wu))
            .select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m").alias("v"),
            )
            .distinct()
            .transform(materialize)
        )
        e = small
        # check schedule: {2, 3, 5, 7, ...} ∪ {_STAR_MAX_ROUNDS}
        if rnd == 2 or (rnd >= 3 and rnd % 2 == 1) or rnd == _STAR_MAX_ROUNDS:
            if non_flat_count(e) == 0:
                converged = True
                break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not reach a fixed point in "
            f"{_STAR_MAX_ROUNDS} rounds; labels would be unreliable — raise "
            f"_STAR_MAX_ROUNDS (convergence is O(log n) rounds)"
        )
    # converged stars: u -> component minimum; centers label themselves
    return e.select(F.col("u").alias("node"), F.col("v").alias("label")).unionByName(
        narrow(
            e.select(F.col("v").alias("node"), F.col("v").alias("label"))
        ).distinct()
    )


def duplicated_token_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact substring-span dedup detection (the suffix-array dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better", re-expressed as a k-gram-run scan): for every document,
    the maximal contiguous token intervals covered by duplicated
    k-grams (grams occurring more than once in the corpus, cross-doc
    or repeated in-doc). A duplicated substring of length L >= k
    contributes exactly L - k + 1 duplicated grams at consecutive
    start positions, and the run merge unions gram coverage whose
    starts are <= k-1 apart — so overlapping or adjacent duplicated
    substrings coalesce into ONE reported interval (their union), not
    one interval per substring. No suffix array needed, one groupBy +
    one window.

    Returns (id, span_start, span_end, span_tokens), token positions
    1-based inclusive. Downstream removal is a slice of the token
    array per doc (map-only).

    Scale: one shuffle counts gram multiplicity (key = md5(gram), so
    the exchange carries 32-byte keys, not 8-token strings; at 100 TB
    swap xxhash64 and replace the count>1 set with a broadcast Bloom
    filter of duplicated grams), one shuffle joins hits back, and the
    run-merge window partitions by doc — never wider than one
    document's gram list. No O(n^2) stage, no suffix sort.
    """
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= k)
    # sequence(1, n) DESCENDS for n < 1 — guarded by the size filter.
    idx = F.sequence(F.lit(1), F.size("_toks") - (k - 1))
    gram = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(F.col("_toks"), (i + j).cast("int"))
                        for j in range(k)
                    ],
                )
            ).alias("gh"),
        ),
    )
    grams = toks.select(F.col(id_col), F.explode(gram).alias("g")).select(
        F.col(id_col), F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
    )
    grams = materialize(grams)
    dup = grams.groupBy("gh").count().filter(F.col("count") > 1).select("gh")
    hits = grams.join(dup, "gh", "leftsemi")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    # spans [prev, prev+k-1] and [pos, pos+k-1] merge iff pos <= prev+k
    brk = F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    islands = hits.withColumn("_isl", F.sum(brk).over(w))
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            (F.max("pos") + k - F.min("pos")).alias("span_tokens"),
        )
        .drop("_isl")
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """The APPLY step of exact substring-span dedup (Lee et al.): cut
    every maximal duplicated span found by ``duplicated_token_spans``
    out of each document and return per-doc removal accounting plus a
    hash of the cleaned token stream (the cleaned text itself is a
    map-side ``array_join`` away — hashed here to keep the result
    frame narrow).

    Scale: the span frame is tiny (spans, not tokens); the anti-join
    tests each token position against its OWN doc's spans only (equi
    on the doc id, range on the position), so the join fan-out is
    bounded by spans-per-doc. The rebuild groups by doc id — the same
    single-doc-width partitioning the detection pass used.
    """
    spans = duplicated_token_spans(df, id_col, text_col, k).transform(materialize)
    # the tokenized frame feeds BOTH the position explode and the
    # n_tokens base — materialize it or the corpus tokenize runs once
    # per branch (the repo-wide shared-subtree rule)
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).transform(materialize)
    pos = toks.select(
        F.col(id_col), F.posexplode("_toks").alias("p0", "tok")
    ).select(F.col(id_col), (F.col("p0") + 1).alias("pos"), "tok")
    t, s = pos.alias("t"), spans.alias("s")
    kept = t.join(
        s,
        (F.col(f"t.{id_col}") == F.col(f"s.{id_col}"))
        & F.col("t.pos").between(F.col("s.span_start"), F.col("s.span_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda r: r["tok"],
                ),
                " ",
            )
        ).alias("cleaned_hash"),
    )
    base = toks.select(F.col(id_col), F.size("_toks").cast("long").alias("n_tokens"))
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0))).alias(
            "removed_tokens"
        ),
        F.coalesce(F.col("cleaned_hash"), F.md5(F.lit(""))).alias("cleaned_hash"),
    )


def _gram_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Positional k-gram postings ``(_id, pos, kg)`` — kg the md5 of
    the k consecutive tokens starting at 0-based ``pos``; docs shorter
    than ``k`` tokens contribute nothing. Shared by the alignment join
    and its stop-gram ledger. ``toks``: optional pre-tokenized,
    already-materialized ``(_id, _toks)`` frame, so a caller that
    needs the token stream anyway (``remove_shared_spans``'s rebuild)
    pays the corpus tokenize ONCE instead of once per pass."""
    if toks is not None:
        tokd = toks.filter(F.size("_toks") >= k)
    else:
        tokd = (
            df.select(
                F.col(id_col).alias("_id"),
                tokens_col(F.col(text_col)).alias("_toks"),
            )
            .filter(F.size("_toks") >= k)
            .transform(materialize)
        )
    return tokd.select(
        "_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(_toks) - {k}), "
                f"i -> struct(CAST(i AS BIGINT) AS pos, "
                f"md5(array_join(slice(_toks, i + 1, {k}), ' ')) AS kg))"
            )
        ).alias("g"),
    ).select("_id", F.col("g.pos").alias("pos"), F.col("g.kg").alias("kg"))


def shared_span_stop_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_gram_df: int = 50,
) -> DataFrame:
    """The STOP-GRAM LEDGER of the capped alignment
    (:func:`shared_token_spans` with ``max_gram_df``): every k-gram
    hash whose posting count exceeds the cap, with its posting count
    and the number of distinct docs carrying it — exactly what the cap
    dropped from the join, reported instead of silently lost
    (lossy-with-a-ledger, the ``near_dup_edges`` gate discipline).
    Returns ``(kg, gram_df, n_docs)``."""
    kg = _gram_postings(df, id_col, text_col, k)
    return (
        kg.groupBy("kg")
        .agg(
            F.count(F.lit(1)).alias("gram_df"),
            F.count_distinct("_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("gram_df") > max_gram_df)
    )


def shared_token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_span: int = 8,
    max_gram_df: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Pairwise maximal shared token runs (cross-document ExactSubstr
    alignment) — see the registered ``dedup_shared_spans`` docstring
    for semantics and the scale story. Returns
    ``(id_a, id_b, start_a, start_b, span_tokens)``, starts 0-based,
    ``id_a < id_b``, every run maximal on its diagonal.

    ``max_gram_df`` is the SAFETY VALVE the uncapped form needs at
    corpus scale (r14 verdict #2): the alignment join is bounded by
    Σ df(kg)² over k-gram hashes, and on a real web corpus boilerplate
    runs are universal — the uncapped join (and the uncapped OUTPUT,
    which is Ω(doc-pairs sharing the hot footer)) both explode. With a
    cap, gram hashes whose posting count exceeds ``max_gram_df`` are
    dropped from the join BEFORE the pair stage (one aggregate over
    the postings + a broadcast-scale anti join), so candidate volume
    is bounded by Σ over df ≤ D of df² ≤ D · |postings|; a span crossing a
    dropped gram splits (or falls under ``min_span``) — the loss is
    exactly the spans shared hotter than the cap, and
    :func:`shared_span_stop_grams` reports WHAT was dropped as a
    ledger instead of losing it silently. ``None`` keeps the exact
    uncapped semantics (audits of bounded pair sets, and the
    registered uncapped query's oracle)."""
    kg = _gram_postings(df, id_col, text_col, k, toks=toks)
    if max_gram_df is not None:
        gdf = kg.groupBy("kg").agg(F.count(F.lit(1)).alias("g_df"))
        hot = gdf.filter(F.col("g_df") > max_gram_df).select("kg")
        # the hot set is ≤ |postings| / max_gram_df rows — broadcast-
        # scale by construction (AQE converts from its runtime size)
        kg = kg.join(hot, "kg", "left_anti")
    a = kg.select(F.col("_id").alias("id_a"), F.col("pos").alias("pa"), "kg")
    b = kg.select(F.col("_id").alias("id_b"), F.col("pos").alias("pb"), "kg")
    j = (
        a.join(b, "kg")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("d"))
    )
    w = Window.partitionBy("id_a", "id_b", "d").orderBy("pa")
    runs = j.withColumn("grp", F.col("pa") - F.row_number().over(w))
    return (
        runs.groupBy("id_a", "id_b", "d", "grp")
        .agg(
            F.min("pa").cast("long").alias("start_a"),
            (F.count(F.lit(1)) + k - 1).cast("long").alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select(
            "id_a",
            "id_b",
            "start_a",
            (F.col("start_a") - F.col("d")).cast("long").alias("start_b"),
            "span_tokens",
        )
    )


def remove_shared_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_span: int = 8,
    max_gram_df: int | None = None,
) -> DataFrame:
    """CROSS-document span removal — the endgame of ExactSubstr dedup
    (Lee et al. 2022): :func:`shared_token_spans` reports who shares
    what with whom; this REWRITES the corpus so each shared span keeps
    ONE survivor. Survivor policy: keep-first — for every reported
    span the lexicographically-lower doc (``id_a``) keeps its copy and
    the span's token range is cut from ``id_b``. Deterministic and
    local (no global ordering pass); under chained duplication
    A=B=C the lowest id keeps the text and every later doc loses it
    (each later doc is ``id_b`` of at least one pair with a lower id).
    Overlapping cuts on one doc union naturally — a token goes if ANY
    cut covers it.

    Returns per-doc accounting, the :func:`remove_duplicated_spans`
    shape: ``(id, n_tokens, kept_tokens, removed_tokens,
    cleaned_hash)`` — the cleaned text itself is a map-side
    ``array_join`` away; hashed to keep the frame narrow. Every doc
    appears, cut or not.

    Scale: the cut frame is spans-not-tokens sized (and with
    ``max_gram_df`` its generation is linear in the corpus — the
    capped join); the anti-join tests each token position against its
    OWN doc's cuts only (equi on the doc id, range on the position),
    so fan-out is bounded by cuts-per-doc; the rebuild groups by doc
    id — single-doc-width partitions throughout."""
    # ONE corpus tokenize, materialized: it feeds the alignment's gram
    # postings (via the toks pass-through), the position explode AND
    # the n_tokens base — without the sharing the corpus would
    # tokenize once per pass
    toks = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).transform(materialize)
    spans = shared_token_spans(
        df,
        id_col,
        text_col,
        k=k,
        min_span=min_span,
        max_gram_df=max_gram_df,
        toks=toks.select(F.col(id_col).alias("_id"), "_toks"),
    )
    # keep-first survivor: id_a (the lower id) keeps; cut from id_b.
    # 0-based [cut_start, cut_end] token ranges, matching the spans'
    # 0-based starts.
    cuts = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").alias("cut_start"),
        (F.col("start_b") + F.col("span_tokens") - 1).alias("cut_end"),
    ).transform(materialize)
    pos = toks.select(
        F.col(id_col), F.posexplode("_toks").alias("p", "tok")
    )
    t, c = pos.alias("t"), cuts.alias("c")
    kept = t.join(
        c,
        (F.col(f"t.{id_col}") == F.col(f"c.{id_col}"))
        & F.col("t.p").between(F.col("c.cut_start"), F.col("c.cut_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda r: r["tok"],
                ),
                " ",
            )
        ).alias("cleaned_hash"),
    )
    base = toks.select(
        F.col(id_col), F.size("_toks").cast("long").alias("n_tokens")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0))).alias(
            "removed_tokens"
        ),
        F.coalesce(F.col("cleaned_hash"), F.md5(F.lit(""))).alias(
            "cleaned_hash"
        ),
    )


def remove_contaminated_spans(
    train_df: DataFrame,
    bench_df: DataFrame | None,
    id_col: str,
    text_col: str,
    k: int = 8,
    bench_kg: DataFrame | None = None,
) -> DataFrame:
    """SPAN-LEVEL cross-corpus decontamination — the rewrite act the
    doc-level audit (``dedup_cross_corpus``) prepares for: instead of
    dropping whole training documents that quote a held-out benchmark,
    cut ONLY the quoted token ranges and keep the rest of the doc (the
    surgical decontamination large pipelines actually run — dropping a
    book because it quotes one eval question wastes the book).

    A train token position is contaminated iff some k-gram covering it
    appears ANYWHERE in the benchmark corpus; overlapping/adjacent hit
    grams merge into maximal islands (two hits merge iff their k-token
    windows touch: gap <= k), and each island's [min, max + k - 1]
    token range is cut. Returns the per-doc accounting shape of
    :func:`remove_duplicated_spans` over TRAIN docs only:
    ``(id, n_tokens, kept_tokens, removed_tokens, cleaned_hash)`` —
    every train doc present, cut or not, so ``SUM(removed_tokens)`` is
    the corpus-level contamination yield and the hash pins the
    rewritten text.

    Scale shape — the asymmetry IS the plan (the ``dedup_cross_corpus``
    argument): the benchmark side is tiny and FROZEN, so its distinct
    k-gram set broadcasts and the train corpus is scanned exactly
    once map-side; the only shuffled stream is the collision hits
    (doc-local island window, spans-sized cut frame). The position
    anti-join is equi-on-doc-id with a range predicate, fan-out
    bounded by cuts-per-doc; the rebuild groups by doc id. No
    corpus-vs-corpus join exists anywhere in the plan.

    ``bench_kg``: optional pre-built distinct benchmark k-gram hash
    frame (one ``kg`` column) — the streaming guard freezes it once
    (``streaming/decontam_rewrite.py``) instead of rescanning the
    benchmark per batch; when given, ``bench_df`` is unused.
    """
    # ONE train tokenize, materialized: feeds the gram postings, the
    # position explode AND the n_tokens base (the repo-wide shared-
    # subtree rule)
    toks = train_df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).transform(materialize)
    if bench_kg is None:
        bench_kg = (
            _gram_postings(bench_df, id_col, text_col, k).select("kg").distinct()
        )
    grams = _gram_postings(
        train_df, id_col, text_col, k,
        toks=toks.select(F.col(id_col).alias("_id"), "_toks"),
    )
    # the frozen-benchmark gram set is broadcast-scale by premise;
    # semi join keeps the hit stream only
    hits = grams.join(F.broadcast(bench_kg), "kg", "leftsemi").select(
        F.col("_id").alias(id_col), "pos"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    islands = hits.withColumn("_isl", F.sum(brk).over(w))
    cuts = (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("cut_start"),
            (F.max("pos") + (k - 1)).alias("cut_end"),
        )
        .drop("_isl")
        .transform(materialize)
    )
    pos = toks.select(F.col(id_col), F.posexplode("_toks").alias("p", "tok"))
    t, c = pos.alias("t"), cuts.alias("c")
    kept = t.join(
        c,
        (F.col(f"t.{id_col}") == F.col(f"c.{id_col}"))
        & F.col("t.p").between(F.col("c.cut_start"), F.col("c.cut_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda r: r["tok"],
                ),
                " ",
            )
        ).alias("cleaned_hash"),
    )
    base = toks.select(
        F.col(id_col), F.size("_toks").cast("long").alias("n_tokens")
    )
    return base.join(rebuilt, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("kept_tokens"), F.lit(0)).alias("kept_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("kept_tokens"), F.lit(0))).alias(
            "removed_tokens"
        ),
        F.coalesce(F.col("cleaned_hash"), F.md5(F.lit(""))).alias(
            "cleaned_hash"
        ),
    )
