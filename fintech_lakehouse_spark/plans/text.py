"""Text-analysis & dedup queries over `documents` (SURVEY.md §7.6 —
the [NEW] training-data-pipeline surface: token stats, quality scores,
language ID, fingerprints, exact + near dedup).

Everything stays in built-in JVM functions (split/array ops/md5/regexp)
— no Python UDFs — so the plans whole-stage-codegen and scale linearly;
the documents table is the 100 TB web-corpus stand-in.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fintech_lakehouse_spark.functions.text import (
    drop_hot_keys,
    language_best_guess,
    lsh_band_pairs_md5,
    md5_hex,
    minhash_signatures_md5,
    rolling_md5_chain,
    shingle_rows,
    simhash_hex_md5,
    verified_jaccard_pairs,
    word_shingles,
)
from fintech_lakehouse_spark.functions.sampling import hash_bucket, sql_hash_bucket
from fintech_lakehouse_spark.plans._num import davg_int, sql_davg_int, sql_isum
from fintech_lakehouse_spark.plans.registry import register
from fintech_lakehouse_spark.sources.readers import load_table


@register(
    "doc_stats_by_lang",
    oracle=f"""
    SELECT lang, source,
           COUNT(*)                     AS n_docs,
           {sql_davg_int('n_chars')}    AS avg_chars,
           {sql_davg_int('n_tokens')}   AS avg_tokens,
           {sql_isum('n_tokens')}       AS total_tokens
    FROM (
        SELECT lang, source, n_chars,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    GROUP BY lang, source
    """,
)
def doc_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per (lang, source): whitespace token counting
    (SURVEY §7.6 text stats). Averages use the exact integer
    floor-division pattern (plans/_num.py) — char/token counts are
    ints whose true averages hit round() midpoints."""
    documents = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    return documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg_int("n_chars").alias("avg_chars"),
        davg_int("n_tokens").alias("avg_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@register(
    "doc_quality_scores",
    oracle="""
    SELECT doc_id, lang,
           len(string_split(text, ' '))                             AS n_tokens,
           len(list_distinct(string_split(text, ' ')))              AS n_unique_tokens,
           ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)                 AS unique_ratio,
           ROUND(CAST(length(text) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)                 AS avg_token_len,
           length(text)                                             AS n_chars_actual,
           ROUND(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                 / length(text), 4)                                 AS punct_ratio,
           ROUND(CAST(len(list_filter(string_split(text, ' '),
                     x -> list_contains(['the','a','and','of','to','is','in'], x))) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)                 AS stopword_ratio
    FROM documents
    WHERE doc_id < 100
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (SURVEY §7.6 quality scoring):
    token count, type/token (unique) ratio, mean token length,
    punctuation ratio, stopword ratio — the standard cheap filters a
    pretraining pipeline applies before expensive dedup. Narrow
    projection, zero shuffle."""
    documents = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    return documents.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(tokens)).alias("n_unique_tokens"),
        F.round(F.size(F.array_distinct(tokens)).cast("double") / n_tokens, 4).alias(
            "unique_ratio"
        ),
        F.round(F.length("text").cast("double") / n_tokens, 4).alias("avg_token_len"),
        F.length("text").alias("n_chars_actual"),
        F.round(
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "[^a-z0-9 ]", ""))
            ).cast("double")
            / F.length("text"),
            4,
        ).alias("punct_ratio"),
        F.round(
            F.size(
                F.filter(
                    tokens,
                    lambda x: x.isin("the", "a", "and", "of", "to", "is", "in"),
                )
            ).cast("double")
            / n_tokens,
            4,
        ).alias("stopword_ratio"),
    )


@register(
    "exact_dedup_docs",
    oracle="""
    SELECT md5(array_to_string(string_split(text, ' ')[1:12], ' '))
               AS content_hash,
           COUNT(*)     AS n_copies,
           MIN(doc_id)  AS keep_doc_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup (SURVEY §7.6): hash-groupBy on an md5
    content key; keep lowest doc_id. At 100 TB this is the canonical
    first dedup stage — hashes shuffle, never the documents themselves.

    The dedup key is the first 12 whitespace tokens (prefix/snippet
    fingerprint — the boilerplate-head dedup every crawl pipeline runs
    alongside full-text dedup; same operator, different key
    expression). Chosen over md5(full text) because the test corpus has
    ZERO byte-identical documents below sf0.1, which made the driver's
    check a vacuous 0 == 0 (VERDICT r2 wrong-item 3); the prefix key
    yields real dup groups at every sf (20/22/228 at
    sf0.001/0.01/0.1)."""
    documents = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ")
    return (
        documents.select(F.md5(prefix.cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_copies") > 1)
    )


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH all_shingles AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(string_split(text, ' ')[i:i+2], ' ')
             FOR i IN range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]
        )) AS shingle
        FROM documents
    ),
    hot AS (
        SELECT shingle FROM all_shingles GROUP BY shingle HAVING COUNT(*) > 100
    ),
    shingles AS (
        SELECT * FROM all_shingles WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - n_shared), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_shared) >= 0.30
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dedup (SURVEY §7.6): word-3-gram shingles →
    hot-shingle drop → inverted-index self-join on shingle →
    shared-count → Jaccard ≥ 0.30 over the surviving shingles.

    This is the exact-Jaccard ground truth MinHash approximates; the
    shingle join IS the scalable formulation (only docs sharing a
    shingle ever meet — no O(n²) cross join). The skew bound that
    makes it hold at 100 TB is the hot-shingle drop (same pattern and
    >100-doc threshold as test_set_decontamination): a boilerplate
    shingle shared by k docs fans out k² join rows, so shingles in
    more than 100 documents are excluded BEFORE the join — from both
    the index and the per-doc sizes, so the Jaccard metric is defined
    over informative shingles on both engines. At the test SFs no
    shingle crosses the threshold (max df 25 at sf0.1), so the drop is
    inert locally and pure insurance at scale. Uncapped since r4
    (r1-r3 measured a doc_id<250 subset — VERDICT r3 wrong-item 3).

    Plan note (r6): the consumers of the shingle index exchange on
    THREE different keys (hot groupBy on shingle, sizes groupBy on
    doc_id, self-join on shingle post-anti-join), so ReusedExchange —
    which only dedupes IDENTICAL exchanges — left the scan→shingle→
    explode derivation recomputing ~3× (ROUND_NOTES fact 20). The
    explicit ``repartition("shingle")`` right after explode gives
    every consumer the SAME exchange subtree to reuse: the derivation
    runs once and the groupBys/joins read the reused shuffle.
    A/B (BASELINE.md §2 Round-6b, sf0.1, fresh session ×3):
    min 7.11 s → 3.00 s, first-cold 12.6 s → 3.2 s. This also
    subsumes the r5 persist() A/B (cold-equal, rejected): repartition
    stays inside the shuffle system and pipelines, persist() is an
    eager BlockManager barrier."""
    documents = load_table(spark, sf_dir, "documents")
    shingled = word_shingles(documents, n=3)
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).repartition("shingle")
    # hot-shingle drop as a COUNT window over the shingle partition
    # (r16; see functions/text.py::drop_hot_keys — one pass, no join,
    # window sort pre-orders the index for the self-join below).
    # count(*) ≡ countDistinct(doc_id): shingles are per-doc distinct.
    exploded = drop_hot_keys(exploded, "shingle", 100)
    sizes = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jaccard = F.col("n_shared").cast("double") / (
        F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_shared")
    )
    return (
        pairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jaccard >= 0.30)
        .select("doc_a", "doc_b", F.round(jaccard, 4).alias("jaccard"))
    )


@register(
    "ngram_containment_pairs",
    oracle="""
    WITH all_shingles AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(string_split(text, ' ')[i:i+2], ' ')
             FOR i IN range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]
        )) AS shingle
        FROM documents
    ),
    hot AS (
        SELECT shingle FROM all_shingles GROUP BY shingle HAVING COUNT(*) > 100
    ),
    shingles AS (
        SELECT * FROM all_shingles WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE)
                 / least(sa.n_shingles, sb.n_shingles), 4) AS containment
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_shared AS DOUBLE) / least(sa.n_shingles, sb.n_shingles) >= 0.25
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dedup (SURVEY §7.6): same
    inverted-index shingle join as ngram_jaccard_pairs, but scored by
    CONTAINMENT — shared shingles over the SMALLER doc's shingle set
    (Broder's containment coefficient, the standard companion metric
    to resemblance/Jaccard). This catches the case Jaccard
    structurally misses: a short document embedded verbatim inside a
    much longer one scores containment ≈ 1 while Jaccard ≈
    |A|/|B| ≈ 0 — the quote-a-whole-article and boilerplate-wrapper
    duplicates a pretraining corpus is full of. At sf0.01 the 0.25
    threshold surfaces 28 pairs vs Jaccard-0.30's 25 — the 3 extras
    are exactly these asymmetric pairs.

    Scale shape is identical to ngram_jaccard_pairs (inverted-index
    join bounded by the >100-doc hot-shingle drop on both engines;
    same single repartition("shingle") that lets ReusedExchange
    collapse every copy of the shingle derivation — see that query's
    r6 plan note and BASELINE.md §2 Round-6b); only the final
    scoring expression differs, so the plan inherits that query's
    measured linearity."""
    documents = load_table(spark, sf_dir, "documents")
    shingled = word_shingles(documents, n=3)
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).repartition("shingle")
    # hot-shingle drop as a COUNT window (r16; drop_hot_keys rationale)
    exploded = drop_hot_keys(exploded, "shingle", 100)
    sizes = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    containment = F.col("n_shared").cast("double") / F.least(
        F.col("sa.n_shingles"), F.col("sb.n_shingles")
    )
    return (
        pairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(containment >= 0.25)
        .select("doc_a", "doc_b", F.round(containment, 4).alias("containment"))
    )


def _minhash_cte_sql(n_hashes: int = 32, n_bands: int = 8) -> str:
    """DuckDB CTE chain `toks → shing → chunks → sigs → bands → cand →
    pairs` computing EXACTLY what minhash_signatures_md5 +
    lsh_band_pairs_md5 + verified_jaccard_pairs compute (K/4
    seed-salted md5s per 3-gram shingle, minhash = lexicographic MIN
    of each independent 8-hex chunk — functions/text.py documents why
    chunks, not linear combinations; band index baked into the band
    md5; candidates verified by exact Jaccard ≥ 0.5 over distinct
    shingles). The jaccard double is a single int/int IEEE division —
    bit-identical across engines."""
    rows_per_band = n_hashes // n_bands
    hexes = ",\n               ".join(
        f"md5('{j}' || '|' || shingle) AS hx{j}" for j in range(n_hashes // 4)
    )
    chunk_cols = ",\n               ".join(
        f"substr(hx{k // 4}, {1 + 8 * (k % 4)}, 8) AS h{k}"
        for k in range(n_hashes)
    )
    mins = ",\n               ".join(
        f"MIN(h{k}) AS mh{k}" for k in range(n_hashes)
    )
    band_sigs = ",\n            ".join(
        "md5('{}' || '|' || {})".format(
            band,
            " || '|' || ".join(
                f"mh{band * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for band in range(n_bands)
    )
    return f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    shing AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+2], ' ')
                       FOR i IN range(1, greatest(len(t) - 2, 0) + 1)]) AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    hx AS (
        SELECT doc_id,
               {hexes}
        FROM shing
    ),
    chunks AS (
        SELECT doc_id,
               {chunk_cols}
        FROM hx
    ),
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM chunks GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, unnest([
            {band_sigs}
        ]) AS band_sig
        FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    dshing AS (SELECT DISTINCT doc_id, shingle FROM shing),
    dsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dshing GROUP BY doc_id),
    shared AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
        FROM cand c
        JOIN dshing a ON a.doc_id = c.doc_a
        JOIN dshing b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
        SELECT s.doc_a, s.doc_b,
               CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
        FROM shared s
        JOIN dsizes sa ON sa.doc_id = s.doc_a
        JOIN dsizes sb ON sb.doc_id = s.doc_b
        WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.5
    )"""


def _simhash_oracle_sql() -> str:
    nibbles = ",\n               ".join(
        f"('0x' || substr(h, {j + 1}, 1))::INT AS n{j}" for j in range(16)
    )
    votes = ",\n               ".join(
        f"SUM(CASE WHEN (n{b // 4} // {2 ** (b % 4)}) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    chars = " ||\n           ".join(
        "substr('0123456789abcdef', 1 + "
        + " + ".join(
            f"{2 ** t} * (CASE WHEN v{4 * j + t} > 0 THEN 1 ELSE 0 END)"
            for t in range(4)
        )
        + ", 1)"
        for j in range(16)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hx AS (SELECT doc_id, md5(token) AS h FROM toks),
    nib AS (
        SELECT doc_id,
               {nibbles}
        FROM hx
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM nib GROUP BY doc_id
    )
    SELECT doc_id,
           {chars} AS simhash_hex
    FROM votes
    """


# Session-scoped cache of the verified-pairs stage: keyed by
# (SparkSession, sf_dir); holding the session object keeps its id()
# from being recycled. Entries are tiny ((long,long,double) rows).
_VERIFIED_PAIRS_CACHE: dict[tuple, tuple] = {}


def reset_stage_caches() -> None:
    """Unpersist and drop every session-scoped stage cache.

    Benchmarks MUST call this between timed repeats: with the cache
    warm, a repeat of minhash_lsh_pairs measures a cache read
    (~0.1 s), not the shingle → signature → LSH → verify pipeline
    (~3 s at sf0.1) — best-of-N then reports the artifact as the
    query's cost (VERDICT r3 wrong-item 2). Production consumers
    (duplicate_clusters, corpus_dedup_survivors in one session) keep
    the shared cache — only timing protocols need the reset.

    Also releases the builders' TRANSIENT caches
    (functions.text.release_transient_caches): an inner cache the
    registry dict doesn't track still matches the rebuilt plan in
    Spark's CacheManager, so without this a "cold" repeat silently
    reuses the previous run's LSH candidate table (measured 1.4 s vs
    3.4 s true-cold minhash at sf0.1 — the r5 bench artifact)."""
    from fintech_lakehouse_spark.functions.text import (
        release_transient_caches,
    )

    for _, pairs in _VERIFIED_PAIRS_CACHE.values():
        try:
            pairs.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _VERIFIED_PAIRS_CACHE.clear()
    release_transient_caches()
    # the winnowing pair snapshot (plans/curation.py, r9) is the same
    # stage-cache class — one reset entry point clears them all
    from fintech_lakehouse_spark.plans.curation import (
        reset_winnow_pairs_cache,
    )

    reset_winnow_pairs_cache()


def verified_pairs_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared shingle → signature → LSH → exact-verify stage.

    Three registered queries (minhash_lsh_pairs, duplicate_clusters,
    corpus_dedup_survivors) consume the SAME verified pair set
    (n=3, K=32, B=8, J≥0.5); before this helper each rebuilt the whole
    pipeline from raw text (~9-11s per query at sf0.01 — VERDICT r2
    perf item). Build it once per (session, sf_dir), cache() and
    materialize the result, and share the cached DataFrame — at 100 TB
    this is "persist the signature/pair table once, build dedup
    consumers on it", the same checkpoint a production corpus-dedup
    run writes to storage between the LSH stage and its consumers."""
    key = (id(spark), sf_dir)
    hit = _VERIFIED_PAIRS_CACHE.get(key)
    if hit is not None:
        return hit[1]
    documents = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    signatures = minhash_signatures_md5(shingle_rows(documents, n=3), n_hashes=32)
    candidates = lsh_band_pairs_md5(signatures, n_hashes=32, n_bands=8)
    # materialize=False (r16, VERDICT r15 item 3): the candidate cache
    # stays lazy — `pairs.count()` below is the ONE consumer of the
    # candidate table here, so the eager candidate count was a whole
    # extra Spark job on the critical path for nothing (the lazy cache
    # still computes candidates once inside the count action: cached
    # partitions are block-locked, so the id semi-join branch and the
    # pair-join branch share one evaluation). Interleaved min-of-5
    # A/B on the composed pipeline: 1.620 → 1.342 s at sf0.1.
    pairs = verified_jaccard_pairs(
        documents, candidates, n=3, threshold=0.5, materialize=False
    ).cache()
    pairs.count()  # materialize before consumers branch (lineage runs once)
    # the candidate table was only needed to build `pairs` — free it
    # now (an eviction-triggered recompute of pairs rebuilds it)
    from fintech_lakehouse_spark.functions.text import (
        release_transient_caches,
    )

    release_transient_caches()
    _VERIFIED_PAIRS_CACHE[key] = (spark, pairs)
    return pairs


@register(
    "minhash_lsh_pairs",
    oracle=f"WITH {_minhash_cte_sql()}\nSELECT doc_a, doc_b, jaccard FROM pairs",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified (SURVEY §7.6) — the
    scale path for ngram_jaccard_pairs.

    shingle → K minhashes → B bands of R rows → band-signature bucket
    join (linear in corpus size for bounded bucket width) → exact
    Jaccard ≥ 0.5 verification on the CANDIDATE SET ONLY. K=32, B=8,
    R=4 targets the Jaccard≳0.5 region. Uses the portable md5 hash
    family (functions/text.py) — K permutations as the four 32-bit
    chunks of K/4 seed-salted md5s per shingle (NEVER h1 + k·h2: linear
    combinations correlate the permutations and flood LSH with false
    candidates, see the module-level hash-family note in
    functions/text.py) — so the DuckDB oracle verifies the exact pair set
    end-to-end; the map-side partial agg still collapses shingles to
    K·docs before the shuffle, and the verification join touches only
    candidate docs, never all-pairs. The stage is built via
    :func:`verified_pairs_stage` and shared with the two clustering
    consumers."""
    return verified_pairs_stage(spark, sf_dir)


def _lsh_recall_audit_oracle() -> str:
    from fintech_lakehouse_spark.plans.registry import ORACLES

    return f"""
    WITH exact AS (
        SELECT doc_a, doc_b FROM ({ORACLES["ngram_jaccard_pairs"]})
        WHERE jaccard >= 0.5
    ),
    lsh AS (
        SELECT doc_a, doc_b FROM ({ORACLES["minhash_lsh_pairs"]})
    ),
    joined AS (
        SELECT e.doc_a AS ea, l.doc_a AS la
        FROM exact e FULL OUTER JOIN lsh l
          ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT CAST(COUNT(ea) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(la) AS BIGINT) AS n_lsh_pairs,
           CAST(SUM(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN ea IS NOT NULL AND la IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
           CAST(SUM(CASE WHEN ea IS NULL AND la IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
           CAST(SUM(CASE WHEN ea IS NOT NULL AND la IS NOT NULL
                         THEN 1 ELSE 0 END) * 1000000
                // NULLIF(COUNT(ea), 0) AS BIGINT)     AS recall_ppm
    FROM joined
    """


@register("lsh_recall_audit", oracle=_lsh_recall_audit_oracle())
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the MinHash-LSH dedup path against the exact
    n-gram ground truth — the dedup twin of ann_recall_eval and
    bloom_decontamination_audit (every approximate stage in this repo
    carries a driver-checked eval of its own error): full-outer-join
    the exact Jaccard ≥ 0.5 pair set (ngram_jaccard_pairs, the
    inverted-index exact formulation) against the LSH-then-verified
    pair set (minhash_lsh_pairs) and report, in ONE row, the pair
    counts, the misses (true near-dup pairs whose minhash signatures
    never shared a band — the banding false-negative rate K=32/B=8/R=4
    trades for linearity), the extras (pairs the two pipelines score
    differently around the 0.5 boundary — e.g. the exact side's
    hot-shingle drop perturbs its Jaccard), and recall in integer ppm.

    Determinism: both sub-plans are individually hash-checked; the
    exact side filters on its ROUNDED jaccard (identical across
    engines), and everything downstream is integer arithmetic.

    Scale shape: the union of the two sub-plans (each documented at
    its own registration — shingle-bucketed joins, never all-pairs)
    plus one join over pair-set-sized frames. At 100 TB you run this
    audit on a corpus SAMPLE — the exact side's inverted index is
    linear in shingle mass but its constant is why LSH exists."""
    exact = (
        ngram_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", F.lit(1).alias("e"))
    )
    lsh = verified_pairs_stage(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("l")
    )
    joined = exact.join(lsh, ["doc_a", "doc_b"], "full_outer")
    return joined.agg(
        F.count("e").cast("long").alias("n_exact_pairs"),
        F.count("l").cast("long").alias("n_lsh_pairs"),
        F.sum(
            F.when(
                F.col("e").isNotNull() & F.col("l").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_common"),
        F.sum(
            F.when(F.col("e").isNotNull() & F.col("l").isNull(), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_missed"),
        F.sum(
            F.when(F.col("e").isNull() & F.col("l").isNotNull(), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_extra"),
        F.expr(
            "SUM(CASE WHEN e IS NOT NULL AND l IS NOT NULL THEN 1 ELSE 0 "
            "END) * 1000000 DIV NULLIF(COUNT(e), 0)"
        )
        .cast("long")
        .alias("recall_ppm"),
    )


@register("simhash_fingerprints", oracle=_simhash_oracle_sql())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash document fingerprints (SURVEY §7.6): per token,
    md5 → ±1 vote per bit position weighted by term frequency;
    fingerprint bit b = sign of the vote sum, rendered as 16 hex chars
    (engine-portable — see functions/text.py::simhash_hex_md5, which
    documents why hex-string output beats a sign-bit-laden BIGINT).
    Near-dups differ in few bits; the xxhash64 variant simhash64 +
    hamming64 stays the in-engine pairing path."""
    documents = load_table(spark, sf_dir, "documents")
    return simhash_hex_md5(documents)


# Shared by lang_id_heuristic (registered as-is) and
# lang_id_confusion (embedded as a CTE): the DuckDB replay of
# language_best_guess's array_max(struct(score, lang)) argmax.
_LANG_ID_SQL = """
    WITH scored AS (
        SELECT doc_id, lang AS labeled_lang,
               list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, labeled_lang,
               len(list_intersect(toks, ['the', 'a', 'and', 'of', 'to'])) AS s_en,
               len(list_intersect(toks, ['der', 'die', 'und', 'das', 'ist'])) AS s_de,
               len(list_intersect(toks, ['el', 'la', 'los', 'que', 'de'])) AS s_es,
               len(list_intersect(toks, ['le', 'la', 'les', 'et', 'est'])) AS s_fr,
               len(list_intersect(toks, ['de5', 'shi4', 'le5', 'zai4', 'he2'])) AS s_zh
        FROM scored
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN best = 0 THEN 'und' WHEN s_zh = best THEN 'zh' WHEN s_fr = best THEN 'fr' WHEN s_es = best THEN 'es' WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de' END AS predicted_lang,
           best AS marker_hits
    FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best FROM s)
    """


@register("lang_id_heuristic", oracle=_LANG_ID_SQL)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (SURVEY §7.6): score each doc against
    per-language stopword marker sets via array intersection, predict
    argmax (functions/text.py::language_best_guess). A real corpus
    would use char-n-gram profiles; the mechanism (token-set overlap,
    argmax over struct array) is the same and stays JVM-side.

    Oracle replicates Spark's array_max(struct(score, lang)) argmax
    exactly: max score, ties broken by the greatest language code
    (the CASE tests languages in descending order)."""
    documents = load_table(spark, sf_dir, "documents")
    best = language_best_guess()
    return documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best.getField("lang").alias("predicted_lang"),
        best.getField("score").alias("marker_hits"),
    )


@register(
    "duplicate_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte_sql()},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    """,
)
def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: MinHash-LSH candidate pairs → connected
    components → (doc_id, cluster_id) with cluster_id = canonical
    (minimum) doc_id. The full near-dedup pipeline a training-data
    run executes before dropping non-canonical rows (SURVEY §7.6).
    Iterative min-label propagation (functions/text.py::
    dedup_clusters); the oracle reaches the same fixpoint with a
    recursive CTE over the portable md5-LSH verified pair set — fine
    at oracle SF, while the Spark side's bounded-iteration label
    propagation is the 100 TB path. Clustering runs on VERIFIED pairs
    (exact Jaccard ≥ 0.5 on candidates), not raw LSH candidates —
    false-positive edges would chain unrelated docs into one giant
    cluster. Pairs come from the shared cached
    :func:`verified_pairs_stage` — the signature pipeline runs once per
    session, not once per consumer."""
    from fintech_lakehouse_spark.functions.text import dedup_clusters

    pairs = verified_pairs_stage(spark, sf_dir)
    return dedup_clusters(pairs).orderBy("doc_id")


@register(
    "doc_token_counts",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                            AS ws_tokens,
           len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
           len(regexp_extract_all(text, '[0-9]+'))                 AS numeric_tokens,
           len(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS vocab_size
    FROM documents
    WHERE doc_id < 200
    """,
)
def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (SURVEY §7.6): whitespace split and a
    BPE-ish regex lexer (runs of alphanumerics + single punctuation
    marks — the pre-tokenization most BPE vocabularies apply). Both
    stay in JVM regexp engines; identical regex dialect on the oracle
    side."""
    documents = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]+"), 0)).alias(
            "numeric_tokens"
        ),
        F.size(
            F.array_distinct(F.regexp_extract_all(F.col("text"), F.lit(r"[a-z0-9]+"), 0))
        ).alias("vocab_size"),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               len(string_split(text, ' '))                            AS ws,
               len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) AS bpe,
               len(text)                                               AS chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)   AS n_docs,
           CAST(SUM(ws) AS BIGINT)    AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT)   AS bpe_ish_tokens,
           CAST(SUM(chars) AS BIGINT) AS n_chars,
           CAST(SUM(bpe) * 1000000 // SUM(ws) AS BIGINT)    AS fertility_ppm,
           CAST(SUM(chars) * 1000000 // SUM(bpe) AS BIGINT) AS chars_per_token_ppm
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility / compression audit per language — the
    table every multilingual-tokenizer evaluation publishes (fertility
    = subword tokens per word; a language whose fertility is 2× pays
    2× the sequence length for the same content, and bytes-per-token
    measures how much raw text each token carries): per lang, corpus
    totals of whitespace words, BPE-ish regex tokens (the same
    pre-tokenization lexer as doc_token_counts) and characters, plus
    fertility and chars-per-token in floor-divided integer ppm — exact
    cross-engine arithmetic, no float.

    Scale shape: a pure scan→map→groupBy(lang) with map-side partial
    aggregation — per-doc counts collapse to one row per language
    before the (tiny, ≤#langs-wide) shuffle. At 100 TB this is a
    single pass; the regexes run in the JVM regexp engine inside
    whole-stage codegen."""
    documents = load_table(spark, sf_dir, "documents")
    per_doc = documents.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("ws"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), 0
            )
        ).alias("bpe"),
        F.length("text").alias("chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_ish_tokens"),
            F.sum("chars").cast("long").alias("n_chars"),
            F.expr("SUM(bpe) * 1000000 DIV SUM(ws)")
            .cast("long")
            .alias("fertility_ppm"),
            F.expr("SUM(chars) * 1000000 DIV SUM(bpe)")
            .cast("long")
            .alias("chars_per_token_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "source_lang_impurity",
    oracle="""
    WITH counts AS (
        SELECT source, lang, COUNT(*) AS cnt
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT source, SUM(cnt) AS n_docs FROM counts GROUP BY source
    ),
    shares AS (
        SELECT c.source, c.cnt, c.cnt * 1000000 // t.n_docs AS share_ppm
        FROM counts c JOIN tot t ON c.source = t.source
    )
    SELECT s.source,
           CAST(MAX(t.n_docs) AS BIGINT)        AS n_docs,
           CAST(COUNT(*) AS BIGINT)             AS n_langs,
           CAST(MAX(s.share_ppm) AS BIGINT)     AS majority_share_ppm,
           CAST(1000000 - SUM(s.share_ppm * s.share_ppm) // 1000000
                AS BIGINT)                      AS gini_impurity_ppm
    FROM shares s JOIN tot t ON s.source = t.source
    GROUP BY s.source
    ORDER BY s.source
    """,
)
def source_lang_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix impurity per source — the corpus-composition audit
    a mixture designer runs before weighting sources (a source whose
    language distribution is near-pure behaves like a monolingual
    corpus; a high-impurity source needs per-language splitting first):
    per source, doc count, distinct languages, the majority language's
    share, and the Gini impurity 1 − Σ pᵢ² — all in floor-divided
    integer ppm (shares are computed in ppm FIRST, so the squared terms
    stay ≤ 1e12 and the arithmetic is overflow-safe for sources up to
    ~9e12 docs — entropy would need a log and leave exact integers).

    Scale shape: two cascaded groupBys ((source, lang) then source) —
    both map-side combinable, shuffle width bounded by
    |sources|×|langs|. One corpus scan."""
    documents = load_table(spark, sf_dir, "documents")
    counts = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = counts.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    shares = counts.join(F.broadcast(tot), "source").select(
        "source",
        "n_docs",
        F.expr("cnt * 1000000 DIV n_docs").alias("share_ppm"),
    )
    return (
        shares.groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.max("share_ppm").cast("long").alias("majority_share_ppm"),
            (
                F.lit(1000000)
                - F.expr("SUM(share_ppm * share_ppm) DIV 1000000")
            )
            .cast("long")
            .alias("gini_impurity_ppm"),
        )
        .orderBy("source")
    )


@register(
    "hof_token_metrics",
    oracle="""
    SELECT doc_id,
           CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '),
                x -> length(x))), (a, b) -> a + b) AS BIGINT)        AS total_token_chars,
           len(list_filter(string_split(text, ' '), x -> length(x) > 5)) AS n_long_tokens,
           list_has_any(list_transform(string_split(text, ' '),
                x -> regexp_matches(x, '[0-9]')), [true])            AS has_numeric_token,
           CAST(list_reduce(list_prepend(0,
                [ (i + 1) * length(string_split(text, ' ')[i + 1])
                  FOR i IN range(0, len(string_split(text, ' '))) ]),
                (a, b) -> a + b) AS BIGINT)                          AS pos_weighted_chars
    FROM documents
    WHERE doc_id < 150
    """,
)
def hof_token_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function gallery (SURVEY §2.8 [NEW]): aggregate
    (fold), filter, exists, and the indexed transform lambda — all
    JVM-side array lambdas, zero UDFs, zero explodes. The shapes a
    feature pipeline uses to reduce array columns without paying a
    Generate + re-aggregate round trip."""
    documents = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    toks = F.split(F.col("text"), " ")
    total = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ).cast("long")
    n_long = F.size(F.filter(toks, lambda x: F.length(x) > 5))
    has_num = F.exists(toks, lambda x: x.rlike("[0-9]"))
    pos_weighted = F.aggregate(
        F.transform(toks, lambda x, i: (i + 1) * F.length(x)),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("long")
    return documents.select(
        "doc_id",
        total.alias("total_token_chars"),
        n_long.alias("n_long_tokens"),
        has_num.alias("has_numeric_token"),
        pos_weighted.alias("pos_weighted_chars"),
    )


@register(
    "doc_repetition_filters",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE doc_id < 300
    ),
    grams AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+1], ' ')
                       FOR i IN range(1, greatest(len(t) - 1, 0) + 1)]) AS g
        FROM toks WHERE len(t) >= 2
    ),
    gram_counts AS (
        SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    ),
    gram_stats AS (
        SELECT doc_id, MAX(c) AS top_2gram_count, SUM(c) AS n_2grams
        FROM gram_counts GROUP BY doc_id
    ),
    tok_counts AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok
    ),
    tok_stats AS (
        SELECT doc_id, MAX(c) AS top_token_count, SUM(c) AS n_tokens
        FROM tok_counts GROUP BY doc_id
    )
    SELECT g.doc_id,
           g.top_2gram_count,
           CAST(g.top_2gram_count AS DOUBLE) / g.n_2grams AS top_2gram_frac,
           t.top_token_count,
           CAST(t.top_token_count AS DOUBLE) / t.n_tokens AS top_token_frac,
           (CAST(g.top_2gram_count AS DOUBLE) / g.n_2grams) > 0.20
               AS flag_repetitive
    FROM gram_stats g JOIN tok_stats t ON g.doc_id = t.doc_id
    """,
)
def doc_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filters (SURVEY §7.6 quality scoring —
    the Gopher-rules shape: fraction of mass in the most frequent
    token / 2-gram flags boilerplate and degenerate text). Two
    explode→count→max/sum chains joined on doc_id; every fraction is a
    single int/int IEEE division so both engines agree bit-exactly."""
    documents = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = documents.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    grams = shingle_rows(documents, n=2).groupBy(
        "doc_id", "shingle"
    ).agg(F.count(F.lit(1)).alias("c"))
    gram_stats = grams.groupBy("doc_id").agg(
        F.max("c").alias("top_2gram_count"), F.sum("c").alias("n_2grams")
    )
    tok_counts = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.max("c").alias("top_token_count"), F.sum("c").alias("n_tokens")
    )
    g2 = F.col("top_2gram_count").cast("double") / F.col("n_2grams")
    tf = F.col("top_token_count").cast("double") / F.col("n_tokens")
    return gram_stats.join(tok_stats, "doc_id").select(
        "doc_id",
        "top_2gram_count",
        g2.alias("top_2gram_frac"),
        "top_token_count",
        tf.alias("top_token_frac"),
        (g2 > 0.20).alias("flag_repetitive"),
    )


@register(
    "quality_above_mean_prune",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               (len(list_distinct(string_split(text, ' '))) * 1000000)
                   // len(string_split(text, ' ')) AS uscore
        FROM documents
    ),
    m AS (SELECT SUM(uscore) // COUNT(*) AS mean_score FROM scored)
    SELECT lang,
           COUNT(*) AS n_docs,
           {sql_isum('CASE WHEN uscore >= mean_score THEN 1 ELSE 0 END')} AS n_kept
    FROM scored, m
    GROUP BY lang
    """,
)
def quality_above_mean_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pruning by a GLOBAL quality threshold (SURVEY §7.6): keep
    documents whose type/token ratio beats the corpus mean. The mean is
    a 1-row aggregate broadcast back over the scan (crossJoin of a
    single row — the scale-safe way to apply a global statistic; a
    global-order window would serialize into one task). All arithmetic
    is scaled-integer (ppm score, floor-division mean): a double AVG
    wobbles at the last ulp between engines, and a >= threshold test
    is exactly the comparison an ulp can flip."""
    documents = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = documents.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) * 1000000"
            " DIV size(split(text, ' '))"
        ).alias("uscore"),
    )
    mean_row = F.broadcast(
        scored.agg(
            F.expr("SUM(uscore) DIV COUNT(*)").alias("mean_score")
        )
    )
    return (
        scored.crossJoin(mean_row)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("uscore") >= F.col("mean_score"), 1).otherwise(0)
            ).alias("n_kept"),
        )
    )


@register(
    "vocab_top_tokens",
    oracle="""
    WITH tok AS (
        SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS n_occurrences
        FROM tok GROUP BY token
    )
    SELECT token, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) AS vocab_rank
    FROM counts
    ORDER BY vocab_rank LIMIT 100
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building (SURVEY §7.6 extension): global token
    frequencies → top-100 by count — the first step of every tokenizer
    / vocab-pruning pipeline. The explode collapses in a map-side
    partial aggregate (shuffle carries one row per distinct token per
    partition, not per occurrence); the final top-k is a
    TakeOrdered, never a full sort. Ties break on the token so the
    ranking is total and oracle-stable."""
    documents = load_table(spark, sf_dir, "documents")
    counts = (
        documents.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    from pyspark.sql.window import Window

    # Top-k FIRST (TakeOrderedAndProject — distributed), THEN rank the
    # 100 survivors. Ranking before limiting would put the entire
    # vocabulary through one global-window task; the total order (count
    # desc, token) makes the two formulations identical.
    top = counts.orderBy(F.col("n_occurrences").desc(), F.col("token")).limit(100)
    return top.withColumn(
        "vocab_rank",
        F.row_number().over(
            Window.orderBy(F.col("n_occurrences").desc(), F.col("token"))
        ),
    )


@register(
    "corpus_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte_sql()},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    clusters AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    ),
    dropped AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    SELECT d.lang,
           COUNT(*) AS n_docs,
           {sql_isum('CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END')} AS n_survivors
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
    GROUP BY d.lang
    """,
)
def corpus_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the near-dedup pipeline (SURVEY §7.6): per language,
    how many documents survive after dropping non-canonical cluster
    members (cluster survivor = minimum doc_id). LSH → exact verify →
    connected components → anti-join back onto the corpus — exactly
    what a pretraining run executes before writing shards. The
    anti-join side is only the dropped ids (tiny), so the corpus scan
    stays single-pass. Pairs come from the shared cached
    :func:`verified_pairs_stage` — the signature pipeline runs once per
    session, not once per consumer."""
    from fintech_lakehouse_spark.functions.text import dedup_clusters

    documents = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pairs = verified_pairs_stage(spark, sf_dir)
    dropped = dedup_clusters(pairs).filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select("doc_id")
    survivors = documents.join(dropped, "doc_id", "left_anti")
    return (
        documents.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            survivors.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_survivors")
            ),
            "lang",
        )
    )


@register(
    "shard_token_budgets",
    oracle=f"""
    SELECT ('0x' || substr(md5('shard' || '|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 8 AS shard,
           COUNT(*) AS n_docs,
           {sql_isum("len(string_split(text, ' '))")} AS total_tokens
    FROM documents
    GROUP BY shard
    """,
)
def shard_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output sharding for training-data writes (SURVEY §7.6
    extension): assign every document to one of 8 shards by portable
    hash, report per-shard doc and token totals — the balance check
    before writing tokenized shards. Hash sharding keeps assignment
    deterministic and join-free; the aggregate shows the (tight, by
    uniformity) token spread across shards."""
    documents = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.concat_ws("|", F.lit("shard"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    shard = (F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % 8).alias("shard")
    return documents.groupBy(shard).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
    )


@register(
    "doc_rolling_fingerprints",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend('', string_split(text, ' ')),
                       (acc, x) -> md5(acc || '|' || x)) AS rolling_md5,
           md5(text) AS md5_hash
    FROM documents
    """,
)
def doc_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (SURVEY §7.6 fingerprinting):
    fold md5(acc || '|' || token) over the token sequence.
    Order-sensitive (unlike MinHash/SimHash) — equal fingerprints mean
    equal token SEQUENCES, the strictest near-zero-cost dedup key after
    whole-text md5. Chain hashing instead of acc*31+h: multiplication
    overflows under ANSI mode; the md5 chain is equally order-sensitive
    and engine-portable (DuckDB list_reduce computes the same fold —
    see functions/text.py::rolling_md5_chain)."""
    documents = load_table(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        rolling_md5_chain("text").alias("rolling_md5"),
        md5_hex("text").alias("md5_hash"),
    )


@register(
    "test_set_decontamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest(list_distinct(
                 [array_to_string(string_split(text, ' ')[i:i+7], ' ')
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)]
               )) AS gram
        FROM documents
    ),
    hot AS (
        SELECT gram FROM sh GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 100
    )
    SELECT t.doc_id AS test_doc_id, c.doc_id AS corpus_doc_id,
           COUNT(*) AS n_shared_grams
    FROM sh t JOIN sh c ON t.gram = c.gram
    WHERE t.b >= 9000 AND c.b < 9000
      AND t.gram NOT IN (SELECT gram FROM hot)
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def test_set_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination detection (SURVEY §7.6 extension): for
    every held-out eval document (hash-split bucket >= 9000, the same
    leakage-safe split as train_test_split_counts), find corpus
    documents (train+val, bucket < 9000) sharing >= 3 distinct 8-gram
    token windows — the n-gram-overlap decontamination check every
    pretraining run executes before trusting its eval numbers.

    Shape: inverted-index equi-join on the 8-gram (linear in total
    grams, never doc-pairs), with a hot-gram drop first — grams
    appearing in > 100 documents (boilerplate) are excluded before the
    join, which is both standard decontamination practice and the skew
    bound that keeps the join's per-key fan-out constant at 100 TB.
    The eval side is ~10% of the corpus; the pair aggregate is bounded
    by true overlaps, not the cross product.

    Plan note (r6): the explicit repartition("gram") is the fact-20
    exchange-reuse fix (see ngram_jaccard_pairs) — hot-counts, the
    test side, and the corpus side all consume the gram index through
    DIFFERENT subtrees, so without it the scan→8-gram→explode
    derivation ran once per consumer; with it the derivation feeds one
    reused shuffle and the contamination join needs no further
    exchange (both sides already hash-partitioned on gram)."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    grams = (
        word_shingles(documents, n=8)
        .select("doc_id", F.explode("shingles").alias("gram"))
        .withColumn("b", hash_bucket("doc_id", "split"))
        .repartition("gram")
    )
    # hot-gram drop as a COUNT window over the gram partition (r16;
    # functions/text.py::drop_hot_keys — one pass, no anti join, the
    # window sort pre-orders the index for the contamination join).
    # count(*) ≡ countDistinct(doc_id): grams are per-doc distinct by
    # construction (word_shingles' array_distinct; r15 rewrite, DuckDB
    # oracle keeps COUNT(DISTINCT doc_id) — same integers).
    clean = drop_hot_keys(grams, "gram", 100)
    test = clean.filter(F.col("b") >= 9000).select(
        F.col("doc_id").alias("test_doc_id"), "gram"
    )
    corpus = clean.filter(F.col("b") < 9000).select(
        F.col("doc_id").alias("corpus_doc_id"), "gram"
    )
    return (
        test.join(corpus, "gram")
        .groupBy("test_doc_id", "corpus_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= 3)
    )


PACK_BUDGET_TOKENS = 1024
N_PACK_SHARDS = 8


@register(
    "sequence_pack_manifest",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               ('0x' || substr(md5('shard' || '|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                   % {N_PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT shard, doc_id, n_tokens,
               CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                     - n_tokens) AS BIGINT) // {PACK_BUDGET_TOKENS} AS pack_id
        FROM sized
    )
    SELECT shard, CAST(pack_id AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           {sql_isum('n_tokens')} AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed
    GROUP BY shard, pack_id
    """,
)
def sequence_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing manifest (SURVEY §7.6 extension): assign
    documents to fixed token-budget packs — the contiguous-cumsum
    packing a tokenized-shard writer runs so every training sequence
    file lands near the context-window budget. Docs are ordered by
    doc_id within a hash shard; a doc's pack is
    floor(exclusive-cumsum / budget), i.e. a new pack starts once the
    running total crosses a budget multiple (a pack may overrun by at
    most its final doc — the standard overflow-tolerant variant, and
    the one expressible as a single window cumsum; bin-perfect packing
    is NP-hard and non-deterministic under parallelism).

    Scale shape: the only total order is WITHIN a shard (window
    partitioned by shard), and shard count is a parameter — at 100 TB
    you run O(output-files) shards so each window partition holds one
    writer's worth of docs; there is no global window anywhere. The
    integer cumsum DIV is engine-exact (no float rounding at pack
    boundaries)."""
    documents = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    h = F.md5(
        F.concat_ws("|", F.lit("shard"), F.col("doc_id").cast("string")).cast(
            "binary"
        )
    )
    sized = documents.select(
        "doc_id",
        (F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % N_PACK_SHARDS).alias(
            "shard"
        ),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    packed = sized.withColumn(
        "pack_id",
        F.expr(
            f"CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) "
            f"AS BIGINT) DIV {PACK_BUDGET_TOKENS}"
        ),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_CMS_DEPTH, _CMS_WIDTH = 4, 1024


def _cms_heavy_hitters_oracle_sql(
    depth: int = _CMS_DEPTH, width: int = _CMS_WIDTH
) -> str:
    """DuckDB twin of the count-min estimate chain: same seed-salted
    md5 hash family as the Spark side (functions/sketches.py::
    cms_bucket_md5 — first 48 md5 bits of 'cms{j}|token', mod width),
    so sketch counts and MIN-over-rows estimates replay bit-exact."""
    rows = ", ".join(str(j) for j in range(depth))
    bucket = (
        "(('0x' || substr(md5('cms' || j || '|' || token), 1, 12))"
        f"::BIGINT % {width})"
    )
    return f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        FROM documents
    ),
    hashes AS (
        SELECT j AS h, {bucket} AS bucket
        FROM toks, (SELECT unnest([{rows}]) AS j)
    ),
    sketch AS (
        SELECT h, bucket, COUNT(*) AS cnt FROM hashes GROUP BY h, bucket
    ),
    top AS (
        SELECT token, COUNT(*) AS exact_count
        FROM toks GROUP BY token
        ORDER BY exact_count DESC, token LIMIT 20
    ),
    probes AS (
        SELECT token, exact_count, j AS h, {bucket} AS bucket
        FROM top, (SELECT unnest([{rows}]) AS j)
    )
    SELECT p.token, p.exact_count, MIN(s.cnt) AS cms_estimate
    FROM probes p JOIN sketch s USING (h, bucket)
    GROUP BY p.token, p.exact_count
    """


@register("approx_token_heavy_hitters", oracle=_cms_heavy_hitters_oracle_sql())
def approx_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the top-20 tokens
    (SURVEY §7.6 extension).

    The sketch is the DISTRIBUTED relational formulation
    (functions/sketches.py::cms_sketch_table_md5): explode each token
    into its ``depth`` (row, bucket) cells, hash-groupBy — the
    map-side partial aggregation IS the mergeable-sketch property, at
    most depth×width rows survive the shuffle, and nothing collects to
    the driver. Point estimates join the probe buckets of the exact
    top-20 against the sketch and take MIN over rows. Because the hash
    family is seed-salted md5 (portable, VERDICT r3 item 4), the DuckDB
    oracle replays sketch AND estimates bit-exact — this was rows-only
    in r1-r3. The JVM `count_min_sketch` build (build_count_min_sketch)
    remains for binary interchange and is bounds-tested separately.
    Guarantee: exact <= estimate <= exact + (e/width)·N per row with
    prob 1 - e^-depth. Deterministic: fixed hash family, tie-broken
    top-k ranking."""
    from fintech_lakehouse_spark.functions.sketches import (
        cms_estimates_md5,
        cms_sketch_table_md5,
    )

    documents = load_table(spark, sf_dir, "documents")
    toks = documents.select(
        F.explode(F.expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).alias("token")
    )
    sketch = cms_sketch_table_md5(toks, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "token")
        .limit(20)
    )
    return cms_estimates_md5(
        sketch, top, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )


@register(
    "doc_top_rare_tokens",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        FROM documents WHERE doc_id < 200
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
        SELECT tf.doc_id, tf.token, tf.tf, df.df,
               CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df
                   AS rarity,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf AS DOUBLE)
                            * (SELECT n_docs FROM n) / df.df DESC,
                            tf.token
               ) AS rnk
        FROM tf JOIN df USING (token)
    )
    SELECT doc_id, token, tf, df, ROUND(rarity, 4) AS rarity, rnk
    FROM scored WHERE rnk <= 3
    """,
)
def doc_top_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (SURVEY §7.6 extension): top-3
    tokens per doc by a tf·(N/df) rarity score — tf-idf with the
    inverse-document-frequency ratio left un-logged, which keeps every
    arithmetic step a single IEEE operation (int→double cast, one
    multiply, one divide — each correctly rounded by the standard) so
    the score is BIT-IDENTICAL across engines; a log-based idf would
    hang the hash check on libm's 1-ulp slack. Ties break on the token
    for a total, oracle-stable order. The doc_id<200 cap bounds the
    driver payload (3 rows/doc), not the computation pattern.

    Scale shape: token explode → per-(doc,token) tf (map-side partial
    agg) → token df agg → join tf⋈df on token (df side is
    vocabulary-sized — broadcastable after pruning) → per-doc window
    top-3. The window partitions by doc_id, so no global sort; the
    corpus-wide constant N arrives via a 1-row cross join, the same
    scale-safe global-statistic pattern as quality_above_mean_prune."""
    documents = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    tok = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = tok.select(
        F.countDistinct("doc_id").alias("n_docs")
    )
    from pyspark.sql.window import Window

    rarity = F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
    w = Window.partitionBy("doc_id").orderBy(
        rarity.desc(), F.col("token").asc()
    )
    return (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(rarity, 4).alias("rarity"),
            "rnk",
        )
    )


def _with_repetition_metrics(documents: DataFrame) -> DataFrame:
    """Attach the zero-shuffle repetition metrics (n_tokens,
    top_token_count, top_bigram_count, n_adjacent_repeats) to a
    documents frame — shared by doc_repetition_scores and the
    curated_corpus_shards composite pipeline."""
    run_max = (
        "aggregate(array_sort({arr}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        "(acc, v) -> named_struct("
        "  'prev', v, "
        "  'run', IF(v <=> acc.prev, acc.run + 1, 1), "
        "  'best', GREATEST(acc.best, IF(v <=> acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best)"
    )
    return (
        documents.withColumn("t", F.split("text", " "))
        .withColumn("n_tokens", F.size("t").cast("long"))
        .withColumn(
            "grams",
            F.expr(
                "IF(size(t) < 2, array(), "
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(t[i-1], ' ', t[i])))"
            ),
        )
        .withColumn(
            "top_token_count", F.expr(run_max.format(arr="t")).cast("long")
        )
        .withColumn(
            "top_bigram_count", F.expr(run_max.format(arr="grams")).cast("long")
        )
        .withColumn(
            "n_adjacent_repeats",
            F.expr(
                "IF(size(t) < 2, CAST(0 AS BIGINT), "
                "CAST(size(filter(sequence(1, size(t) - 1), "
                "i -> t[i-1] = t[i])) AS BIGINT))"
            ),
        )
        .drop("grams")
    )


def _is_repetitive() -> Column:
    """The composite repetition flag over _with_repetition_metrics
    columns — thresholds documented at doc_repetition_scores."""
    tt = F.col("top_token_count") / F.col("n_tokens").cast("double")
    denom = F.nullif(F.col("n_tokens") - 1, F.lit(0)).cast("double")
    tb = F.col("top_bigram_count") / denom
    aj = F.col("n_adjacent_repeats") / denom
    return (
        (tt > 0.15)
        | F.coalesce(tb > 0.08, F.lit(False))
        | F.coalesce(aj > 0.10, F.lit(False))
    )



@register(
    "doc_repetition_scores",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    base AS (
        SELECT doc_id, t, len(t) AS n,
               [t[i] || ' ' || t[i+1]
                FOR i IN generate_series(1, len(t)-1)]               AS grams,
               [CASE WHEN t[i] = t[i+1] THEN 1 ELSE 0 END
                FOR i IN generate_series(1, len(t)-1)]               AS adj
        FROM toks
    ),
    m AS (
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_tokens,
               CAST(list_max(list_transform(list_distinct(t),
                    x -> len(list_filter(t, y -> y = x)))) AS BIGINT)
                   AS top_token_count,
               CAST(CASE WHEN n < 2 THEN 0 ELSE
                    list_max(list_transform(list_distinct(grams),
                        x -> len(list_filter(grams, y -> y = x)))) END
                    AS BIGINT) AS top_bigram_count,
               CAST(CASE WHEN n < 2 THEN 0 ELSE list_sum(adj) END AS BIGINT)
                   AS n_adjacent_repeats
        FROM base
    )
    SELECT doc_id, n_tokens, top_token_count, top_bigram_count,
           n_adjacent_repeats,
           ROUND(top_token_count / CAST(n_tokens AS DOUBLE), 4)
               AS top_token_frac,
           CASE WHEN n_tokens < 2 THEN NULL ELSE
               ROUND(top_bigram_count / CAST(n_tokens - 1 AS DOUBLE), 4) END
               AS top_bigram_frac,
           (top_token_count / CAST(n_tokens AS DOUBLE) > 0.15
            OR COALESCE(top_bigram_count / CAST(NULLIF(n_tokens - 1, 0) AS DOUBLE)
                        > 0.08, false)
            OR COALESCE(n_adjacent_repeats / CAST(NULLIF(n_tokens - 1, 0) AS DOUBLE)
                        > 0.10, false))
               AS is_repetitive
    FROM m
    """,
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher/Dolma repetition
    rules adapted to the token-stream test corpus): per document, the
    most-frequent-token share, the most-frequent-bigram share, and the
    count of immediately repeated tokens ("batch batch batch"), plus
    the composite ``is_repetitive`` filter flag a pretraining pipeline
    drops documents on. Thresholds (0.15 / 0.08 / 0.10) are adapted to
    this corpus's distribution so the flag splits it non-vacuously
    (~25% flagged at sf0.01) — the published Gopher thresholds assume
    natural-language prose.

    Scale shape: ZERO shuffles — every metric is computed inside the
    row with higher-order array functions. Top-of-histogram counts use
    sort-the-array + longest-equal-run fold (aggregate over
    array_sort) instead of the explode → groupBy → window idiom, so a
    100 TB corpus never materializes a token-level table; the whole
    query is a parallel scan. The DuckDB twin computes the same
    histogram maxima via list_distinct/list_filter — different
    algorithm, identical integers, which is the point of the
    cross-engine check.

    Comparison safety: fractions are exact-integer ÷ exact-integer in
    IEEE double on both engines (identical bit results), so the
    threshold booleans and ROUND(…, 4) displays cannot diverge."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    # single-token docs have no bigrams/adjacency: their denominators
    # NULL out (nullif) instead of dividing by zero under ANSI mode,
    # and the flag coalesces those terms to false — mirrored verbatim
    # in the oracle so both engines agree on the boolean. (Both this
    # and the 1-token index guard in _with_repetition_metrics were
    # caught by the hypothesis model test, not the corpus oracle — the
    # corpus has no 1-token docs.)
    scored = _with_repetition_metrics(documents)
    tt = F.col("top_token_count") / F.col("n_tokens").cast("double")
    denom = F.nullif(F.col("n_tokens") - 1, F.lit(0)).cast("double")
    tb = F.col("top_bigram_count") / denom
    return scored.select(
        "doc_id",
        "n_tokens",
        "top_token_count",
        "top_bigram_count",
        "n_adjacent_repeats",
        F.round(tt, 4).alias("top_token_frac"),
        F.round(tb, 4).alias("top_bigram_frac"),
        _is_repetitive().alias("is_repetitive"),
    )


@register(
    "curated_corpus_shards",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    m AS (
        SELECT doc_id, t, len(t) AS n,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               list_max(list_transform(list_distinct(t),
                   x -> len(list_filter(t, y -> y = x)))) AS top_tok,
               CASE WHEN len(t) < 2 THEN 0 ELSE
                   list_max(list_transform(list_distinct(
                       [t[i] || ' ' || t[i+1]
                        FOR i IN generate_series(1, len(t)-1)]),
                       x -> len(list_filter(
                       [t[i] || ' ' || t[i+1]
                        FOR i IN generate_series(1, len(t)-1)], y -> y = x))))
                   END AS top_bg,
               CASE WHEN len(t) < 2 THEN 0 ELSE
                   list_sum([CASE WHEN t[i] = t[i+1] THEN 1 ELSE 0 END
                             FOR i IN generate_series(1, len(t)-1)]) END AS adj
        FROM toks
    ),
    quality AS (
        SELECT doc_id, t, n FROM m
        WHERE b < 9000 AND n >= 10
          AND NOT (top_tok / CAST(n AS DOUBLE) > 0.15
               OR COALESCE(top_bg / CAST(NULLIF(n - 1, 0) AS DOUBLE)
                           > 0.08, false)
               OR COALESCE(adj / CAST(NULLIF(n - 1, 0) AS DOUBLE)
                           > 0.10, false))
    ),
    dedup AS (
        SELECT MIN(doc_id) AS doc_id FROM quality
        GROUP BY md5(array_to_string(t[1:12], ' '))
    ),
    sh AS (
        SELECT doc_id, {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest(list_distinct(
                 [array_to_string(string_split(text, ' ')[i:i+7], ' ')
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)]
               )) AS gram
        FROM documents
    ),
    hot AS (
        SELECT gram FROM sh GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 100
    ),
    contaminated AS (
        SELECT c.doc_id
        FROM sh t JOIN sh c ON t.gram = c.gram
        WHERE t.b >= 9000 AND c.b < 9000
          AND t.gram NOT IN (SELECT gram FROM hot)
        GROUP BY t.doc_id, c.doc_id
        HAVING COUNT(*) >= 3
    ),
    survivors AS (
        SELECT q.doc_id, q.n FROM quality q
        JOIN dedup d ON q.doc_id = d.doc_id
        WHERE q.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT ('0x' || substr(md5('shard' || '|' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               % {N_PACK_SHARDS} AS shard,
           CAST(COUNT(*) AS BIGINT)  AS n_docs,
           {sql_isum('n')}           AS total_tokens,
           MIN(doc_id)               AS first_doc,
           MAX(doc_id)               AS last_doc
    FROM survivors
    GROUP BY shard
    """,
)
def curated_corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline every pretraining run executes,
    as ONE composed lazy plan (the capstone over the individual
    operators, each separately oracle-checked):

    1. **Split**: train side only (portable hash bucket < 9000 — the
       same leakage-safe split as train_test_split_counts).
    2. **Quality filter**: length ≥ 10 tokens AND not repetitive
       (the doc_repetition_scores flag, via the shared
       _with_repetition_metrics helper — zero-shuffle).
    3. **Exact dedup**: keep the lowest doc_id per 12-token-prefix
       md5 (exact_dedup_docs' key; hashes shuffle, never documents).
    4. **Decontamination**: drop survivors sharing ≥ 3 non-hot
       8-grams with any eval doc (test_set_decontamination's
       inverted-index join with the >100-doc hot-gram skew bound).
    5. **Shard manifest**: deterministic md5 shards with doc/token
       totals — the handoff artifact a tokenizer/packer consumes.

    Scale: every stage is the already-measured-scale-safe shape; the
    composition adds ONE extra semi-join (dedup keep-set) and ONE
    anti-join (contaminated set) over the filtered survivor stream —
    both keyed on doc_id, both candidate-bounded. Catalyst fuses the
    scan for stages 1-3 (quality metrics and the dedup key come from
    the same row read)."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    m = _with_repetition_metrics(documents).withColumn(
        "b", hash_bucket("doc_id", "split")
    )
    # Cheap predicates stay a plain filter (they prune BEFORE the
    # fold-heavy metrics evaluate); the EXPENSIVE repetition flag must
    # NOT be a filter below the dedup window: physical scan-operation
    # collapse substitutes the metric aliases into the Filter node,
    # inlining split(text) ~16× into one interpreted (CodegenFallback
    # HOF) predicate tree — the same pathology word_shingles documents
    # for pushed generator filters. Measured: the collapsed filter
    # cost 4.5 s vs 0.98 s for the identical metrics as a projection
    # (sf0.1, min-of-3). Instead the flag is a PROJECTED column below
    # the window exchange (evaluated once per row, with the token
    # array staged in its own projection) and quality membership folds
    # into the window: survivor = quality row holding the group's
    # minimum quality doc_id (r15 optimization round).
    base = m.filter((F.col("b") < 9000) & (F.col("n_tokens") >= 10))
    # keep-lowest-doc_id per prefix hash via a keyed window rather
    # than groupBy + semi-join-back: the join-back would reference the
    # `quality` subtree twice, recomputing the expression-heavy
    # repetition metrics per reference (no exchange boundary for
    # ReusedExchange to dedupe) — measured 1.5× the whole query.
    prefix = F.array_join(F.slice(F.col("t"), 1, 12), " ")
    from pyspark.sql.window import Window as _W

    flagged = base.select(
        "doc_id",
        "n_tokens",
        F.md5(prefix.cast("binary")).alias("_h"),
        (~_is_repetitive()).alias("_keep"),
    )
    # min over quality rows only: when() excludes non-quality rows, so
    # doc_id == _kmin picks exactly the row row_number()=1 picked over
    # the quality-filtered input (doc_id is unique; a group with no
    # quality row yields _kmin NULL and the filter drops it).
    keep_min = F.min(F.when(F.col("_keep"), F.col("doc_id"))).over(
        _W.partitionBy("_h")
    )
    deduped = (
        flagged.withColumn("_kmin", keep_min)
        .filter(F.col("_keep") & (F.col("doc_id") == F.col("_kmin")))
        .drop("_h", "_keep", "_kmin")
    )

    # repartition("gram"): fact-20 exchange-reuse fix, same as
    # test_set_decontamination — one derivation of the 8-gram index
    # shared by hot-counts and both join sides.
    grams = (
        word_shingles(documents, n=8)
        .select("doc_id", F.explode("shingles").alias("gram"))
        .withColumn("b", hash_bucket("doc_id", "split"))
        .repartition("gram")
    )
    # hot-gram drop as a COUNT window (r16; drop_hot_keys rationale —
    # count(*) ≡ countDistinct(doc_id) via per-doc-distinct grams)
    clean = drop_hot_keys(grams, "gram", 100)
    test = clean.filter(F.col("b") >= 9000).select(
        F.col("doc_id").alias("test_doc_id"), "gram"
    )
    corpus = clean.filter(F.col("b") < 9000).select("doc_id", "gram")
    contaminated = (
        test.join(corpus, "gram")
        .groupBy("test_doc_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
    )
    survivors = deduped.join(contaminated, "doc_id", "left_anti")
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("shard"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("long")
        % N_PACK_SHARDS
    )
    return (
        survivors.select(shard.alias("shard"), "doc_id", "n_tokens")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "pii_redaction_stats",
    oracle="""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN
                   text || ' contact user_' || CAST(doc_id AS VARCHAR)
                        || '@example.com or +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9_.]+@[a-z0-9.]+'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\\+1-555-[0-9]{4}'))
                AS BIGINT) AS n_phones,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(length(regexp_replace(regexp_replace(text,
                    '[a-z0-9_.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
                    '\\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS BIGINT)
               AS n_chars_redacted
    FROM seeded
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (the redaction pass every training-data pipeline
    runs before tokenization): detect and replace email- and
    phone-shaped spans, reporting per-document match counts and the
    before/after byte sizes a scrubbing audit logs.

    The synthetic corpus contains no PII, which would make the check
    vacuous (the VERDICT r2 lesson) — so the query DERIVES a
    deterministic contaminated revision: every 10th doc_id gets a
    synthetic contact line appended (same derive-then-operate pattern
    as order_snapshot_changelog). Redaction itself is plain
    regexp_replace — scan-shaped, zero shuffles, linear at any corpus
    size; patterns are deliberately within the common subset of Java
    regex (Spark) and RE2 (DuckDB) so both engines match identical
    spans."""
    documents = load_table(spark, sf_dir, "documents")
    email_re = "[a-z0-9_.]+@[a-z0-9.]+"
    phone_re = r"\+1-555-[0-9]{4}"
    seeded = documents.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user_"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.col("text")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email_re, "[EMAIL]"),
        phone_re,
        "[PHONE]",
    )
    return seeded.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{email_re}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(r"regexp_extract_all(text, '\\+1-555-[0-9]{4}', 0)"))
        .cast("long")
        .alias("n_phones"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(redacted).cast("long").alias("n_chars_redacted"),
    )


CHUNK_TOKENS = 128
CHUNK_STRIDE = 96


@register(
    "doc_chunk_manifest",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents
    ),
    chunks AS (
        SELECT doc_id, n, unnest(generate_series(0, n - 1, {CHUNK_STRIDE}))
                   AS start_token
        FROM sized
    )
    SELECT doc_id,
           CAST(start_token / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start_token AS BIGINT)                  AS start_token,
           CAST(least({CHUNK_TOKENS}, n - start_token) AS BIGINT)
               AS chunk_tokens,
           (start_token + {CHUNK_TOKENS} >= n)          AS is_last
    FROM chunks
    """,
)
def doc_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (the ingest shape for
    embedding/RAG pipelines and long-doc training): fixed
    {CHUNK_TOKENS}-token windows at stride {CHUNK_STRIDE} (32-token
    overlap), emitted as a per-chunk manifest a downstream embedder
    consumes. Complements sequence packing (packing concatenates
    SHORT docs up to a budget; chunking splits LONG docs down to one).

    Shape: per-row sequence + explode (Generate) — zero shuffles,
    output linear in total tokens / stride; no token-level table, the
    chunk list derives from the token COUNT alone, so the scan reads
    one derived int per doc."""
    documents = load_table(spark, sf_dir, "documents")
    sized = documents.select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    return sized.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start_token"),
    ).select(
        "doc_id",
        (F.col("start_token") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
        F.col("start_token").cast("long"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start_token"))
        .cast("long")
        .alias("chunk_tokens"),
        (F.col("start_token") + CHUNK_TOKENS >= F.col("n")).alias("is_last"),
    )


@register(
    "corpus_mixture_weights",
    oracle="""
    WITH per_lang AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents
        GROUP BY lang
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens,
                   COUNT(*) AS n_langs FROM per_lang)
    SELECT p.lang, p.n_docs, p.n_tokens,
           ROUND(p.n_tokens / CAST(t.total_tokens AS DOUBLE), 6)
               AS actual_share,
           ROUND((CAST(t.total_tokens AS DOUBLE) / t.n_langs) / p.n_tokens, 6)
               AS sampling_weight,
           (p.n_tokens * t.n_langs > t.total_tokens) AS is_overrepresented
    FROM per_lang p CROSS JOIN tot t
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture reweighting (the mixing step of every pretraining
    recipe): per-language token counts, actual corpus share, and the
    sampling weight that equalizes tokens across languages (weight =
    target_tokens_per_lang / actual_tokens; >1 upsamples, <1
    downsamples). The uniform target is the illustrative policy — any
    target vector is the same plan with different literals.

    Shape: one groupBy to language cardinality, a 1-row total
    broadcast back (BroadcastNestedLoopJoin over one row — the
    standard global-denominator pattern, never a global window), all
    further arithmetic on the tiny aggregate. The weight division is
    exact-int / exact-int in IEEE double on both engines."""
    documents = load_table(spark, sf_dir, "documents")
    per_lang = (
        documents.select("lang", F.size(F.split("text", " ")).alias("_n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    share = F.col("n_tokens") / F.col("total_tokens").cast("double")
    weight = (F.col("total_tokens").cast("double") / F.col("n_langs")) / F.col(
        "n_tokens"
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("actual_share"),
        F.round(weight, 6).alias("sampling_weight"),
        (F.col("n_tokens") * F.col("n_langs") > F.col("total_tokens")).alias(
            "is_overrepresented"
        ),
    )


# ---------------------------------------------------------------------------
# Block-level (paragraph) dedup and tokenizer merge induction (r6).
# ---------------------------------------------------------------------------

CHUNK_DEDUP_BLOCK = 10


def chunk_block_hashes(documents: DataFrame) -> DataFrame:
    """(doc_id, block_hash) — md5 of each non-overlapping
    CHUNK_DEDUP_BLOCK-token block of ``text`` (the final block keeps
    the remainder tokens). Pure per-row transform + explode, no
    shuffle; extracted so the property test can drive it with
    synthetic documents against a Python model.

    The token array is materialized in a projection first — the
    word_shingles re-split trap: with split() inlined, every
    block_of slice re-splits the document (one split per block
    instead of one per doc)."""
    toks = F.col("_toks")
    tokenized = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    )
    n_blocks = F.ceil(F.size(toks) / F.lit(CHUNK_DEDUP_BLOCK)).cast("int")
    block_of = lambda i: F.md5(  # noqa: E731
        F.array_join(
            F.slice(toks, i * CHUNK_DEDUP_BLOCK + 1, CHUNK_DEDUP_BLOCK), " "
        ).cast("binary")
    )
    return tokenized.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), n_blocks - 1), block_of)
        ).alias("block_hash"),
    )


@register(
    "chunk_dedup_fractions",
    oracle=f"""
    WITH blocks AS (
        SELECT doc_id, unnest(
            [md5(array_to_string(
                 t[(i-1)*{CHUNK_DEDUP_BLOCK}+1 : (i-1)*{CHUNK_DEDUP_BLOCK}+{CHUNK_DEDUP_BLOCK}], ' '))
             FOR i IN range(1, CAST(ceil(len(t) / {CHUNK_DEDUP_BLOCK}.0) AS INT) + 1)]
        ) AS block_hash
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    counts AS (
        SELECT block_hash, COUNT(*) AS n_copies FROM blocks GROUP BY block_hash
    ),
    per_doc AS (
        SELECT b.doc_id,
               COUNT(*) AS n_blocks,
               {sql_isum('CASE WHEN c.n_copies > 1 THEN 1 ELSE 0 END')} AS n_dup_blocks
        FROM blocks b JOIN counts c USING (block_hash)
        GROUP BY b.doc_id
    )
    SELECT doc_id, n_blocks, n_dup_blocks,
           n_dup_blocks * 10 >= n_blocks * 3 AS drop_doc
    FROM per_doc
    WHERE n_dup_blocks > 0
    """,
)
def chunk_dedup_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level dedup fractions (SURVEY §7.6 extension — the
    RefinedWeb/CCNet line-level dedup op): chunk every document into
    non-overlapping 10-token blocks, hash each block, and report per
    document how many of its blocks also occur elsewhere in the corpus
    (within-doc repeats count too — a self-repeating doc is equally
    boilerplate). ``drop_doc`` flags documents whose duplicated-block
    share reaches 30% — the integer cross-multiplication
    ``n_dup * 10 >= n_blocks * 3`` keeps the threshold exact (no
    rounded ratio to flake at a display-scale midpoint, ROUND_NOTES
    fact 22). Only contaminated docs (n_dup_blocks > 0) are returned.

    Scale shape: explode to (doc_id, block_hash) → ONE explicit
    repartition on block_hash that both the copy-count groupBy and the
    count join-back reuse (fact-20 exchange-reuse pattern, see
    ngram_jaccard_pairs) → per-doc rollup. The copy counts come from a
    map-side-combining groupBy + join-back rather than a
    count-over-window: a boilerplate block shared by millions of
    documents lands its whole window partition in ONE task, while the
    groupBy collapses it map-side and the join fans it back 1×N —
    the skew-safe formulation at 100 TB."""
    documents = load_table(spark, sf_dir, "documents")
    blocks = chunk_block_hashes(documents).repartition("block_hash")
    counts = blocks.groupBy("block_hash").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return (
        blocks.join(counts, "block_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias(
                "n_dup_blocks"
            ),
        )
        .filter(F.col("n_dup_blocks") > 0)
        .withColumn(
            "drop_doc", F.col("n_dup_blocks") * 10 >= F.col("n_blocks") * 3
        )
    )


@register(
    "bpe_merge_candidates",
    oracle="""
    WITH pairs AS (
        SELECT unnest(
            [array_to_string(t[i : i+1], ' ') FOR i IN range(1, len(t))]
        ) AS pair
        FROM (SELECT string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
    ),
    counts AS (SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY pair)
    SELECT pair, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair) AS merge_rank
    FROM counts
    QUALIFY merge_rank <= 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer merge induction — one BPE merge step at word level
    (SURVEY §7.6 extension): count every ADJACENT token pair across the
    corpus (non-distinct — merge scoring counts occurrences, unlike the
    distinct shingle sets dedup uses) and return the 20 most frequent
    pairs with their merge rank. Iterating this query with the winning
    pair folded into the vocabulary IS the BPE training loop; one step
    is the oracle-checkable unit.

    Scale shape: pair explode is a per-row transform (no shuffle), the
    pair count is a map-side-combining groupBy on the pair key, and the
    top-20 is ``orderBy().limit(20)`` — Spark plans that as
    TakeOrderedAndProject (per-partition top-k, then a 20-row merge on
    one reducer), NOT a global sort; the merge_rank window then runs on
    the 20 surviving rows. A pair-vocabulary of billions never passes
    through a single-partition exchange.

    Pair derivation is ``zip_with(slice(t,1,n-1), slice(t,2,n-1))``
    over the INLINE split: zip_with evaluates ``split(text)`` a
    constant number of times per row (once per slice argument), so it
    dodges the word_shingles re-split trap without needing the _toks
    projection — ``transform(sequence, i -> t[i], t[i+1])`` with the
    split inlined re-splits the document per element access and
    measured 6.5× slower (2.4 s vs 0.37 s for the sf0.1
    explode+count; with a materializing projection all forms tie at
    ~0.35 s)."""
    from pyspark.sql.window import Window as _W

    documents = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top = (
        documents.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )
    rank_w = _W.orderBy(F.col("n_occurrences").desc(), "pair")
    return top.withColumn("merge_rank", F.row_number().over(rank_w))


TFCOS_HOT_DOCS = 100  # terms in more docs than this are boilerplate
_TFCOS_N = 3  # term = word 3-gram (the corpus's informative unit)


@register(
    "tf_cosine_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest([array_to_string(toks[i:i+{_TFCOS_N - 1}], ' ')
                       FOR i IN range(1, greatest(len(toks) - {_TFCOS_N - 1}, 0) + 1)]) AS term
        FROM t
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, term
    ),
    hot AS (
        SELECT term FROM tf GROUP BY term
        HAVING COUNT(*) > {TFCOS_HOT_DOCS}
    ),
    clean AS (
        SELECT * FROM tf WHERE term NOT IN (SELECT term FROM hot)
    ),
    norms AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
        FROM clean GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM clean a JOIN clean b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, dot,
           CAST((dot * dot * 1000000) // (na.n2 * nb.n2) AS BIGINT) AS cos_sq_ppm
    FROM pairs
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE 4 * dot * dot >= na.n2 * nb.n2
    """,
)
def tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (term-frequency) cosine near-dup pairs (SURVEY §7.6
    dedup family): cosine over word-3-gram COUNT vectors, threshold
    cos >= 0.5. The multiset weighting is what separates this from
    ngram_jaccard_pairs (set semantics): a doc that repeats a template
    block 10x looks 10x more similar here, which is exactly the signal
    boilerplate-heavy near-dup review wants. Terms are 3-grams, not
    whitespace tokens, because the test corpus draws from a 31-token
    vocabulary — every token is corpus-ubiquitous and a token-level
    vector is degenerate (one dimension survives any df cut).

    Determinism design: everything is exact integer arithmetic — tf
    counts, dot = SUM(tf_a*tf_b), squared norms, and the threshold as
    the cross-multiplied comparison 4*dot^2 >= n2a*n2b (cos >= 0.5
    without a sqrt); the reported similarity is floor-divided ppm of
    cos^2. No float enters the plan, so the DuckDB twin is bit-exact
    under any shuffle order (the fact-29/fact-32 rules: all operands
    non-negative, so Spark DIV trunc == DuckDB // floor). At web-scale
    document lengths (1e5+ tokens) dot^2*1e6 can exceed int64 — there
    the display column moves to DECIMAL(38) while the threshold
    comparison stays int64-safe (dot, n2 <= 1e10 each side).

    Scale shape: identical to the other inverted-index pair queries —
    explode terms, repartition("term") (the fact-20 exchange-reuse
    point shared by the hot-count, norm, and self-join consumers),
    drop terms in > {TFCOS_HOT_DOCS} docs BEFORE the join (bounded
    k^2 fan-out; at 100 TB the join cost is sum over terms of df^2
    with df capped), then candidate-bounded norm join-back. Nothing is
    pairwise in corpus size."""
    documents = load_table(spark, sf_dir, "documents")
    tf = (
        shingle_rows(documents, n=_TFCOS_N)
        .withColumnRenamed("shingle", "term")
        .repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    hot = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > TFCOS_HOT_DOCS)
        .select("term")
    )
    clean = tf.join(hot, "term", "left_anti")
    norms = clean.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("n2")
    )
    a = clean.select(F.col("doc_id").alias("doc_a"), "term", F.col("tf").alias("tf_a"))
    b = clean.select(F.col("doc_id").alias("doc_b"), "term", F.col("tf").alias("tf_b"))
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("long").alias("dot"))
    )
    dot, n2a, n2b = F.col("dot"), F.col("na.n2"), F.col("nb.n2")
    return (
        pairs.join(norms.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(norms.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .filter(4 * dot * dot >= n2a * n2b)
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.expr("(dot * dot * 1000000) DIV (na.n2 * nb.n2)").alias("cos_sq_ppm"),
        )
    )


@register(
    "lang_length_percentiles",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                 AS n_docs,
           quantile_cont(n_tokens, 0.25)            AS p25_tokens,
           quantile_cont(n_tokens, 0.50)            AS p50_tokens,
           quantile_cont(n_tokens, 0.75)            AS p75_tokens,
           quantile_cont(n_tokens, 0.90)            AS p90_tokens,
           CAST(MAX(n_tokens) AS BIGINT)            AS max_tokens
    FROM (
        SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents
    )
    GROUP BY lang
    """,
)
def lang_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length percentile profile (SURVEY §7.6
    text stats; the length-cutoff calibration every corpus pipeline
    runs before setting truncation/packing budgets — ROUND_NOTES r5
    candidate 5). Exact percentiles over INTEGER token counts: the
    interpolation a + (b-a)*frac is the same single IEEE expression in
    Spark percentile() and DuckDB quantile_cont (parity established by
    quantity_percentiles / order_value_outliers).

    Scale shape: one groupBy(lang) with exact percentile — fine while
    per-group cardinality fits an executor (percentile materializes
    the group); at 100 TB swap percentile -> approx_percentile (KLL)
    per the approx_quantity_percentiles pattern, which is
    sketch-mergeable and never materializes a group."""
    documents = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile("n_tokens", 0.25).alias("p25_tokens"),
        F.percentile("n_tokens", 0.50).alias("p50_tokens"),
        F.percentile("n_tokens", 0.75).alias("p75_tokens"),
        F.percentile("n_tokens", 0.90).alias("p90_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )


@register(
    "bigram_collocations",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    uni AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    bi AS (
        SELECT unnest(
            [t[i] || ' ' || t[i+1] FOR i IN range(1, greatest(len(t) - 1, 0) + 1)]
        ) AS bigram
        FROM (SELECT string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 2
    ),
    bic AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bi GROUP BY bigram
    )
    SELECT bigram, c_xy, u1.c AS c_x, u2.c AS c_y,
           (2 * c_xy * 1000000) // (u1.c + u2.c) AS dice_ppm
    FROM bic
    JOIN uni u1 ON u1.tok = string_split(bigram, ' ')[1]
    JOIN uni u2 ON u2.tok = string_split(bigram, ' ')[2]
    ORDER BY dice_ppm DESC, bigram
    LIMIT 20
    """,
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by Dice association (SURVEY §7.6 text
    analysis; the phrase-induction step next to bpe_merge_candidates):
    rank adjacent token pairs by dice = 2·c(xy)/(c(x)+c(y)) instead of
    raw count — association-normalized, so a pair of RARE tokens that
    always co-occur outranks a pair of ubiquitous tokens that
    co-occur incidentally. Dice over (say) PMI because it stays in
    exact integer arithmetic: 2·c_xy·1e6 DIV (c_x+c_y) needs no log
    and no N² product (PMI's c_xy·N² numerator overflows int64 at
    large corpus sizes; Dice's numerator is ≤ 2e6·corpus tokens).

    Scale shape: two map-side-combinable counts (unigrams — vocab
    cardinality; adjacent pairs — in-row zip, no shuffle before the
    combine) and a join of the bigram counts to the TINY unigram
    relation (vocab-sized, broadcast), then a distributed top-20
    (TakeOrderedAndProject). Nothing scales past the bigram-type
    cardinality."""
    documents = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    uni = (
        documents.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bic = (
        documents.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
    )
    t1 = F.split(F.col("bigram"), " ")[0]
    t2 = F.split(F.col("bigram"), " ")[1]
    return (
        bic.join(F.broadcast(uni.alias("u1")), t1 == F.col("u1.tok"))
        .join(F.broadcast(uni.alias("u2")), t2 == F.col("u2.tok"))
        .select(
            "bigram",
            "c_xy",
            F.col("u1.c").alias("c_x"),
            F.col("u2.c").alias("c_y"),
            F.expr("(2 * c_xy * 1000000) DIV (u1.c + u2.c)").alias("dice_ppm"),
        )
        .orderBy(F.col("dice_ppm").desc(), "bigram")
        .limit(20)
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH preds AS ({_LANG_ID_SQL})
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN labeled_lang = predicted_lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM preds
    GROUP BY labeled_lang, predicted_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    declared label (SURVEY §7.6 text analysis; the model-eval query
    every classifier in the curation pipeline — lang-ID, quality
    classifier — needs next to its scoring query). One groupBy over
    the per-doc predictions; per-class precision/recall read straight
    off the matrix.

    Scale shape: the prediction is the scan-shaped
    language_best_guess expression (no shuffle); the matrix groupBy
    shuffles one row per doc with map-side combine into a
    |langs|²-bounded result."""
    documents = load_table(spark, sf_dir, "documents")
    best = language_best_guess()
    preds = documents.select(
        F.col("lang").alias("labeled_lang"),
        best.getField("lang").alias("predicted_lang"),
    )
    return preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("labeled_lang") == F.col("predicted_lang"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )


@register(
    "temperature_mixture_shares",
    oracle="""
    WITH per_lang AS (
        SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens,
                   SUM(sqrt(CAST(n_tokens AS DOUBLE))) AS sqrt_mass
            FROM per_lang)
    SELECT p.lang, p.n_tokens,
           ROUND(p.n_tokens / CAST(t.total_tokens AS DOUBLE), 6)
               AS actual_share,
           ROUND(sqrt(CAST(p.n_tokens AS DOUBLE)) / t.sqrt_mass, 6)
               AS temp_share,
           ROUND((sqrt(CAST(p.n_tokens AS DOUBLE)) / t.sqrt_mass)
                 / (p.n_tokens / CAST(t.total_tokens AS DOUBLE)), 6)
               AS boost
    FROM per_lang p CROSS JOIN tot t
    """,
)
def temperature_mixture_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (the exponent-smoothing
    policy of multilingual pretraining — sample language l with
    probability ∝ share^α; mBERT/XLM-R publish α∈[0.3,0.7]): the
    α=0.5 instance, chosen because √ is IEEE-exact on both engines
    (a fractional pow() would be libm-dependent and could flip the
    driver hash at rounding midpoints). Complements
    corpus_mixture_weights (the uniform-target policy): temp_share is
    what the sampler draws, boost = temp_share/actual_share is the
    up/down-sampling factor per language (>1 boosts tails).

    Shape: identical to corpus_mixture_weights — language-cardinality
    aggregate + 1-row broadcast denominator; nothing rescans text."""
    documents = load_table(spark, sf_dir, "documents")
    per_lang = (
        documents.select("lang", F.size(F.split("text", " ")).alias("_n"))
        .groupBy("lang")
        .agg(F.sum("_n").alias("n_tokens"))
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("sqrt_mass"),
    )
    actual = F.col("n_tokens") / F.col("total_tokens").cast("double")
    temp = F.sqrt(F.col("n_tokens").cast("double")) / F.col("sqrt_mass")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round(temp, 6).alias("temp_share"),
        F.round(temp / actual, 6).alias("boost"),
    )


@register(
    "doc_contamination_fraction",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest(list_distinct(
                 [array_to_string(string_split(text, ' ')[i:i+7], ' ')
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)]
               )) AS gram
        FROM documents
    ),
    hot AS (
        SELECT gram FROM sh GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 100
    ),
    clean AS (SELECT * FROM sh WHERE gram NOT IN (SELECT gram FROM hot)),
    corpus_grams AS (
        SELECT DISTINCT gram FROM clean WHERE b < 9000
    )
    SELECT t.doc_id AS test_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(c.gram) AS BIGINT) AS n_contaminated,
           COUNT(c.gram) / CAST(COUNT(*) AS DOUBLE) AS contaminated_frac
    FROM clean t LEFT JOIN corpus_grams c ON t.gram = c.gram
    WHERE t.b >= 9000
    GROUP BY t.doc_id
    """,
)
def doc_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination SCORE — the graded companion of
    test_set_decontamination's binary pair report (GPT-3 appendix C
    publishes exactly this policy: an eval doc is dirty above an
    n-gram overlap FRACTION, not on first hit): for every held-out
    eval doc, the fraction of its distinct clean 8-grams that appear
    anywhere in the train corpus. Downstream, thresholding
    contaminated_frac picks between dropping the doc vs just the
    overlapping spans.

    Shape: the same gram inverted index as test_set_decontamination
    (shared md5 split, same >100-doc hot-gram drop on BOTH numerator
    and denominator so boilerplate cannot saturate the score), but the
    corpus side collapses to DISTINCT grams before the probe join —
    per-gram fan-out is exactly 1, so the join output is bounded by
    eval-side gram count regardless of corpus duplication; the
    fraction is int/int IEEE division (deterministic, unrounded)."""
    documents = load_table(spark, sf_dir, "documents", spread="doc_id")
    grams = (
        word_shingles(documents, n=8)
        .select("doc_id", F.explode("shingles").alias("gram"))
        .withColumn("b", hash_bucket("doc_id", "split"))
        .repartition("gram")
    )
    # hot-gram drop as a COUNT window (r16; drop_hot_keys rationale —
    # count(*) ≡ countDistinct(doc_id) via per-doc-distinct grams)
    clean = drop_hot_keys(grams, "gram", 100)
    corpus_grams = (
        clean.filter(F.col("b") < 9000).select("gram").distinct()
        .withColumn("_hit", F.lit(1))
    )
    test = clean.filter(F.col("b") >= 9000).select(
        F.col("doc_id").alias("test_doc_id"), "gram"
    )
    return (
        test.join(corpus_grams, "gram", "left")
        .groupBy("test_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_contaminated"),
        )
        .select(
            "test_doc_id",
            "n_grams",
            "n_contaminated",
            (
                F.col("n_contaminated") / F.col("n_grams").cast("double")
            ).alias("contaminated_frac"),
        )
    )


@register(
    "cluster_safe_split_counts",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte_sql()},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    clusters AS (SELECT doc_id, MIN(label) AS cluster_id
                 FROM reach GROUP BY doc_id),
    assigned AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS rep,
               CASE WHEN {sql_hash_bucket('COALESCE(c.cluster_id, d.doc_id)', 'split')} < 8000 THEN 'train'
                    WHEN {sql_hash_bucket('COALESCE(c.cluster_id, d.doc_id)', 'split')} < 9000 THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN {sql_hash_bucket('d.doc_id', 'split')} < 8000 THEN 'train'
                    WHEN {sql_hash_bucket('d.doc_id', 'split')} < 9000 THEN 'val'
                    ELSE 'test' END AS doc_split
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    ),
    leaks AS (
        SELECT CAST(COUNT(*) FILTER (
                   WHERE n_cluster_splits > 1) AS BIGINT) AS by_cluster,
               CAST(COUNT(*) FILTER (
                   WHERE n_doc_splits > 1) AS BIGINT) AS by_doc
        FROM (SELECT rep, COUNT(DISTINCT split) AS n_cluster_splits,
                     COUNT(DISTINCT doc_split) AS n_doc_splits
              FROM assigned GROUP BY rep)
    )
    SELECT a.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.rep) AS BIGINT) AS n_clusters,
           l.by_cluster AS n_leaky_clusters_cluster_split,
           l.by_doc AS n_leaky_clusters_doc_split
    FROM assigned a CROSS JOIN leaks l
    GROUP BY a.split, l.by_cluster, l.by_doc
    """,
)
def cluster_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split — the leakage class doc-level
    hashing CANNOT fix: if two near-duplicate docs hash to different
    splits, the eval set contains (a near-copy of) training data and
    decontamination reports it as contamination after the fact. The
    correct split key is the dedup CLUSTER representative: every doc
    is assigned by md5(rep) (rep = its connected-component canonical
    id from the verified MinHash pair graph, or itself when
    unclustered), so a cluster can never straddle splits.

    Verification pins the invariant as a hash-checked VALUE (the
    bloom_decontamination_audit pattern):
    n_leaky_clusters_cluster_split must be 0 on ANY data, while
    n_leaky_clusters_doc_split — the same count under naive doc-id
    hashing — reports how many clusters WOULD have leaked (non-zero
    wherever multi-doc clusters exist), making the fixed failure mode
    visible in the same row.

    Scale shape: clustering reuses the cached verified-pairs stage
    (one signature pipeline per session); label propagation is the
    bounded-iteration CC already proven to 100 TB shapes; the split
    assignment adds one equi-join of docs to the (tiny) cluster map +
    a two-level aggregate. The oracle replays CC with its recursive
    CTE twin."""
    from fintech_lakehouse_spark.functions.text import dedup_clusters

    documents = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(verified_pairs_stage(spark, sf_dir))
    rep = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    assigned = (
        documents.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("rep"),
            _split_of(hash_bucket(rep, "split")).alias("split"),
            _split_of(hash_bucket("doc_id", "split")).alias("doc_split"),
        )
    )
    per_rep = assigned.groupBy("rep").agg(
        F.countDistinct("split").alias("_ns"),
        F.countDistinct("doc_split").alias("_nd"),
    )
    leaks = per_rep.agg(
        F.sum((F.col("_ns") > 1).cast("long")).alias(
            "n_leaky_clusters_cluster_split"
        ),
        F.sum((F.col("_nd") > 1).cast("long")).alias(
            "n_leaky_clusters_doc_split"
        ),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
    )


def _split_of(bucket):
    return (
        F.when(bucket < 8000, "train")
        .when(bucket < 9000, "val")
        .otherwise("test")
    )


BM25_QUERY_TERMS = ("table", "spark", "query")
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "bm25_doc_ranking",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    stats AS (
        SELECT AVG(dl) AS avgdl, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sized
    ),
    tf AS (
        SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM sized)
        WHERE term IN {BM25_QUERY_TERMS!r}
        GROUP BY doc_id, dl, term
    ),
    df AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    )
    SELECT doc_id,
           ROUND(SUM(
               ((s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1.0))
               / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                                       + {BM25_B} * tf.dl / s.avgdl))
           ), 4) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_terms_matched
    FROM tf JOIN df USING (term) CROSS JOIN stats s
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson & Spärck Jones probabilistic
    ranking — the scoring function of every Lucene/Elasticsearch
    deployment and the sparse half of hybrid RAG retrieval), ranked
    over the corpus for a fixed 3-term query: per-(doc, term) tf, per-
    term df, document-length normalization against the corpus average,
    k1=1.2 / b=0.75. The idf factor is the UN-LOGGED odds ratio
    (N−df+0.5)/(df+0.5) — the doc_top_rare_tokens precedent — because
    ln() is libm-dependent across engines while the pure
    divide/multiply chain hashes bit-identically; ranking by the
    rounded score with doc_id tie-break keeps the top-20 total order
    engine-stable.

    Scale shape: the term filter pushes into the token explode so only
    query-term postings survive (3 terms ≈ the inverted-index posting
    lists a search engine reads — never the full corpus vocabulary);
    df (3 rows) and the avgdl/N row broadcast into the scoring join;
    the final top-20 is TakeOrderedAndProject. At 100 TB the same plan
    reads a pre-built (term → postings) table instead of re-exploding,
    which is the only change."""
    documents = load_table(spark, sf_dir, "documents")
    sized = documents.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).alias("dl"),
    )
    stats = sized.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        sized.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    norm = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(idf * (F.col("tf") * (BM25_K1 + 1.0)) / norm), 4
            ).alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "quality_aware_keepers",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte_sql()},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    clusters AS (
        SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    ),
    scored AS (
        SELECT c.cluster_id, c.doc_id,
               len(list_distinct(string_split(d.text, ' '))) * 1000000
                   // len(string_split(d.text, ' ')) AS q_ppm
        FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           MIN(doc_id) FILTER (WHERE rk = 1) AS keeper_doc_id,
           MAX(q_ppm) AS keeper_q_ppm,
           (MIN(doc_id) FILTER (WHERE rk = 1)) <> cluster_id
               AS keeper_differs_from_min_id
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY q_ppm DESC, doc_id) AS rk
        FROM scored
    )
    GROUP BY cluster_id
    """,
)
def quality_aware_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster-representative selection — the keeper
    POLICY refinement over corpus_dedup_survivors' min-doc_id rule:
    production dedup keeps the best cluster member (highest quality
    score; here the type/token ratio in exact integer ppm — the
    doc_quality_scores unique_ratio made hash-stable via floor
    division), because near-duplicate clusters often pair a clean
    original with boilerplate-padded copies and min-id keeps whichever
    crawled first. The keeper_differs_from_min_id flag column shows,
    cluster by cluster, where the two policies actually disagree — the
    policy's value is hash-checked, not asserted.

    Shape: clusters from the shared cached verified-pairs stage; the
    quality score joins on cluster members only (cluster-cardinality,
    tiny vs corpus); keeper selection is a keyed window over clusters
    with a deterministic (q_ppm DESC, doc_id) order shared with the
    oracle. At 100 TB every stage is bounded by cluster membership,
    never corpus size."""
    from fintech_lakehouse_spark.functions.text import dedup_clusters
    from pyspark.sql.window import Window

    documents = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(verified_pairs_stage(spark, sf_dir))
    toks = F.split("text", " ")
    scored = clusters.join(documents, "doc_id").select(
        "cluster_id",
        "doc_id",
        (
            F.size(F.array_distinct(toks)).cast("long")
            * 1_000_000
            / F.size(toks)
        )
        .cast("long")
        .alias("q_ppm"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("q_ppm"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
            "keeper_doc_id"
        ),
        F.max("q_ppm").alias("keeper_q_ppm"),
        (
            F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
            != F.col("cluster_id")
        ).alias("keeper_differs_from_min_id"),
    )


def _train_doc_removed_positions(documents: DataFrame):
    """(sized, removals) building blocks shared by the span-removal
    stats query and the decontaminated packing capstone: ``sized`` =
    (doc_id, toks, n_tokens, split bucket) for every doc; ``removals``
    = (doc_id, n_removed) for train docs covered by ≥1 shared clean
    8-gram window (distinct position union — overlapping windows
    never double-count). One definition so the action and the
    manifest can never disagree about what got removed."""
    toks = F.split("text", " ")
    sized = documents.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).alias("n_tokens"),
        hash_bucket("doc_id", "split").alias("b"),
    )
    pos_grams = (
        sized.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            "b",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 8),
                    lambda i: F.concat_ws(
                        " ", *[F.col("toks")[i + j] for j in range(8)]
                    ),
                )
            ).alias("pos0", "gram"),
        )
        # oracle positions are 1-based (DuckDB list slicing); align
        .select("doc_id", "b", (F.col("pos0") + 1).alias("pos"), "gram")
        .repartition("gram")
    )
    hot = (
        pos_grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 100)
        .select("gram")
    )
    eval_grams = (
        pos_grams.filter(F.col("b") >= 9000)
        .join(hot, "gram", "left_anti")
        .select("gram")
        .distinct()
    )
    covered = (
        pos_grams.filter(F.col("b") < 9000)
        .join(eval_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + 7)
            ).alias("cpos"),
        )
    )
    removals = covered.groupBy("doc_id").agg(
        F.countDistinct("cpos").alias("n_removed")
    )
    return sized, removals


@register(
    "contaminated_span_removal_stats",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest([STRUCT_PACK(pos := i, gram := array_to_string(
                   string_split(text, ' ')[i:i+7], ' '))
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)])
                   AS pg
        FROM documents
    ),
    pos_grams AS (
        SELECT doc_id, b, pg.pos AS pos, pg.gram AS gram FROM sh
    ),
    hot AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pos_grams)
        GROUP BY gram HAVING COUNT(*) > 100
    ),
    eval_grams AS (
        SELECT DISTINCT gram FROM pos_grams
        WHERE b >= 9000 AND gram NOT IN (SELECT gram FROM hot)
    ),
    covered AS (
        SELECT p.doc_id, unnest(range(p.pos, p.pos + 8)) AS cpos
        FROM pos_grams p JOIN eval_grams e USING (gram)
        WHERE p.b < 9000
    ),
    sizes AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    )
    SELECT c.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT c.cpos) AS BIGINT) AS n_removed,
           CAST(s.n_tokens - COUNT(DISTINCT c.cpos) AS BIGINT) AS n_kept,
           (s.n_tokens - COUNT(DISTINCT c.cpos)) * 1000000
               // s.n_tokens AS kept_ppm
    FROM covered c JOIN sizes s USING (doc_id)
    GROUP BY c.doc_id, s.n_tokens
    """,
)
def contaminated_span_removal_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REMOVAL action of decontamination (GPT-3 appendix C removes
    the overlapping WINDOWS from training docs rather than dropping
    whole documents — the policy doc_contamination_fraction's score
    chooses between): for every train doc sharing ≥1 clean 8-gram
    with the eval split, the number of token positions covered by at
    least one shared window (union of [pos, pos+7] ranges —
    overlapping windows must not double-count, hence the DISTINCT
    position union), the surviving token count, and the kept fraction
    in exact integer ppm.

    Shape: positional 8-grams (posexplode keeps the window start),
    eval side collapsed to DISTINCT clean grams before the probe join
    (fan-out 1 per gram — the doc_contamination_fraction design), the
    >100-doc hot-gram drop bounding skew, and coverage counting via
    an 8-element sequence explode bounded by SHARED-gram count, never
    corpus size. At 100 TB the output of this query IS the rewrite
    manifest: (doc, covered positions) drives the actual span
    deletion in the shard writer."""
    documents = load_table(spark, sf_dir, "documents")
    sized, removals = _train_doc_removed_positions(documents)
    return (
        removals.join(sized.select("doc_id", "n_tokens"), "doc_id")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_removed",
            (F.col("n_tokens") - F.col("n_removed"))
            .cast("long")
            .alias("n_kept"),
            (
                (F.col("n_tokens") - F.col("n_removed"))
                .cast("long")
                * 1_000_000
                / F.col("n_tokens")
            )
            .cast("long")
            .alias("kept_ppm"),
        )
    )


@register(
    "decontaminated_pack_manifest",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               {sql_hash_bucket('doc_id', 'split')} AS b,
               unnest([STRUCT_PACK(pos := i, gram := array_to_string(
                   string_split(text, ' ')[i:i+7], ' '))
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)])
                   AS pg
        FROM documents
    ),
    pos_grams AS (
        SELECT doc_id, b, pg.pos AS pos, pg.gram AS gram FROM sh
    ),
    hot AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pos_grams)
        GROUP BY gram HAVING COUNT(*) > 100
    ),
    eval_grams AS (
        SELECT DISTINCT gram FROM pos_grams
        WHERE b >= 9000 AND gram NOT IN (SELECT gram FROM hot)
    ),
    removals AS (
        SELECT p.doc_id, COUNT(DISTINCT cpos) AS n_removed
        FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS cpos
              FROM pos_grams JOIN eval_grams USING (gram)
              WHERE b < 9000) p
        GROUP BY p.doc_id
    ),
    train AS (
        SELECT d.doc_id,
               ('0x' || substr(md5('dshard' || '|' || CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT
                   % {N_PACK_SHARDS} AS shard,
               len(string_split(d.text, ' ')) - COALESCE(r.n_removed, 0)
                   AS n_kept,
               COALESCE(r.n_removed, 0) > 0 AS was_contaminated
        FROM documents d LEFT JOIN removals r USING (doc_id)
        WHERE {sql_hash_bucket('d.doc_id', 'split')} < 8000
    ),
    packed AS (
        SELECT shard, doc_id, n_kept, was_contaminated,
               CAST((SUM(n_kept) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING)
                     - n_kept) AS BIGINT) // {PACK_BUDGET_TOKENS} AS pack_id
        FROM train
    )
    SELECT shard, CAST(pack_id AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           {sql_isum('n_kept')} AS kept_tokens,
           {sql_isum('CASE WHEN was_contaminated THEN 1 ELSE 0 END')}
               AS n_decontaminated_docs
    FROM packed
    GROUP BY shard, pack_id
    """,
)
def decontaminated_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-7 capstone: the span-removal ACTION composed with
    budgeted sequence packing in ONE lazy plan — what a shard writer
    actually executes when releasing training data: (1) the TRAIN
    split (md5 bucket < 8000, the leakage-safe recipe), (2) per-doc
    kept-token counts after deleting every position covered by a
    clean 8-gram shared with the eval split (the shared
    ``_train_doc_removed_positions`` stage — the manifest can never
    disagree with contaminated_span_removal_stats about what got
    removed), (3) contiguous-cumsum packing of the KEPT counts into
    1024-token budget packs within md5 shards (sequence_pack_manifest
    semantics on post-removal sizes). Per (shard, pack): doc count,
    kept tokens, and how many member docs were decontaminated.

    Scale shape: every stage is the separately-verified scale shape —
    gram index with hot-drop and fan-out-1 eval probe, split filters
    pushed to the scan, no global window (cumsum partitioned by
    shard), integer DIV at pack boundaries."""
    documents = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    sized, removals = _train_doc_removed_positions(documents)
    train = (
        sized.filter(F.col("b") < 8000)
        .join(removals, "doc_id", "left")
        .select(
            "doc_id",
            hash_bucket("doc_id", "dshard", N_PACK_SHARDS).alias("shard"),
            (
                F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0))
            ).alias("n_kept"),
            (F.coalesce(F.col("n_removed"), F.lit(0)) > 0).alias(
                "was_contaminated"
            ),
        )
    )
    packed = train.withColumn(
        "pack_id",
        F.expr(
            f"CAST((SUM(n_kept) OVER (PARTITION BY shard ORDER BY doc_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_kept) "
            f"AS BIGINT) DIV {PACK_BUDGET_TOKENS}"
        ),
    )
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_kept").cast("long").alias("kept_tokens"),
        F.sum(F.col("was_contaminated").cast("long")).alias(
            "n_decontaminated_docs"
        ),
    )


VOCAB_GROWTH_SEGMENTS = 8

# word-bigram derivation over a MATERIALIZED token array `toks` —
# shared by vocab_growth_curve and hapax_vocabulary_profile so the two
# vocabulary diagnostics can never disagree on the type unit (r7s3
# review finding #4); the IF guards Spark's downward-counting
# sequence(1, negative) on short docs (fact 6)
_BIGRAMS_OVER_TOKS = (
    "IF(size(toks) < 2, array(), "
    "transform(sequence(1, size(toks) - 1), "
    "i -> concat(toks[i-1], ' ', toks[i])))"
)


def _sql_bigrams(col: str) -> str:
    """DuckDB twin of _BIGRAMS_OVER_TOKS over token-list column
    ``col`` — shared by both vocabulary oracles so plan and oracle
    (and the two oracles) cannot drift apart on the type unit (r7s3
    review wave 2 finding #6). range(1, 0/neg) is empty in DuckDB, so
    no short-doc guard is needed on this side."""
    return (
        f"list_transform(range(1, len({col})), "
        f"i -> {col}[i] || ' ' || {col}[i + 1])"
    )


@register(
    "vocab_growth_curve",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        FROM documents
    ),
    n AS (SELECT MAX(doc_id) + 1 AS sz FROM docs),
    doc_seg AS (
        SELECT ({VOCAB_GROWTH_SEGMENTS} * doc_id + {VOCAB_GROWTH_SEGMENTS}
                + n.sz - 1) // n.sz AS k,
               len(toks) AS nt
        FROM docs CROSS JOIN n
    ),
    tok_agg AS (
        SELECT token, MIN(doc_id) AS fd
        FROM (SELECT doc_id,
                     unnest({_sql_bigrams('toks')}) AS token
              FROM docs)
        GROUP BY token
    ),
    tok_seg AS (
        SELECT ({VOCAB_GROWTH_SEGMENTS} * t.fd + {VOCAB_GROWTH_SEGMENTS}
                + n.sz - 1) // n.sz AS k,
               COUNT(*) AS new_types
        FROM tok_agg t CROSS JOIN n GROUP BY 1
    ),
    doc_agg AS (
        SELECT k, COUNT(*) AS nd, SUM(nt) AS ntok
        FROM doc_seg GROUP BY k
    ),
    spine AS (SELECT CAST(r.k AS BIGINT) AS prefix_eighth
              FROM range(1, {VOCAB_GROWTH_SEGMENTS + 1}) r(k)),
    joined AS (
        SELECT s.prefix_eighth,
               COALESCE(d.nd, 0)        AS nd,
               COALESCE(d.ntok, 0)      AS ntok,
               COALESCE(t.new_types, 0) AS nv
        FROM spine s
        LEFT JOIN doc_agg d ON d.k = s.prefix_eighth
        LEFT JOIN tok_seg t ON t.k = s.prefix_eighth
    )
    SELECT prefix_eighth,
           CAST(SUM(nd)   OVER cum AS BIGINT) AS n_docs,
           CAST(SUM(ntok) OVER cum AS BIGINT) AS n_tokens,
           CAST(SUM(nv)   OVER cum AS BIGINT) AS vocab_size,
           CAST(SUM(nv) OVER cum * 1000000
                // SUM(ntok) OVER cum AS BIGINT) AS type_token_ppm
    FROM joined
    WINDOW cum AS (ORDER BY prefix_eighth ROWS UNBOUNDED PRECEDING)
    ORDER BY prefix_eighth
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve — distinct vocabulary size as
    a function of corpus-prefix size, at {VOCAB_GROWTH_SEGMENTS}
    doc-id-ordered checkpoints (the diagnostic behind tokenizer vocab
    sizing and dedup health: a corpus whose curve flattens early is
    template-dominated; natural text keeps growing ~N^0.5). Per
    checkpoint: docs seen, tokens seen, distinct TYPES seen, and the
    type/token ratio in floor-divided ppm. The type unit is the word
    BIGRAM: this synthetic corpus has a degenerate 31-token unigram
    vocabulary (every type appears in the first eighth — the
    tf_cosine_pairs discovery, ROUND_NOTES r6s5), while its ~900
    bigram types keep arriving through the last eighth, so the curve
    actually curves.

    Determinism: a token's first occurrence is MIN(doc_id) (total,
    engine-identical); checkpoint membership uses the exact integer
    identity floor(N·k/8) > d  ⇔  k >= ceil((8d+8)/N), computed with
    one ceiling-division on both engines — no float boundary anywhere.

    Scale shape: token first-occurrences collapse in a map-side
    partial MIN (shuffle carries distinct tokens per partition, not
    occurrences — the vocab_top_tokens contract); each doc and each
    type is then assigned its FIRST checkpoint segment and aggregated
    to {VOCAB_GROWTH_SEGMENTS} rows; the cumulative window runs on
    that many rows. The doc-stats and first-occurrence branches are two
    consumers of the tokenized projection, so the corpus scans (and
    tokenizes) TWICE — at 100 TB persist the tokenized frame or
    accept the 2× (r7s3 review finding #6; Spark does not CSE across
    action branches, fact 16). The ×{VOCAB_GROWTH_SEGMENTS}
    corpus-replication formulation (cross join with the checkpoint
    spine, then filter) was deliberately avoided."""
    from pyspark.sql.window import Window

    documents = load_table(spark, sf_dir, "documents")
    docs = documents.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0).alias("toks"),
    )
    n_row = F.broadcast(docs.agg((F.max("doc_id") + 1).alias("sz")))
    seg = (
        f"({VOCAB_GROWTH_SEGMENTS} * %s + {VOCAB_GROWTH_SEGMENTS}"
        " + sz - 1) DIV sz"
    )
    doc_agg = (
        docs.select("doc_id", F.size("toks").alias("nt"))
        .crossJoin(n_row)
        .groupBy(F.expr(seg % "doc_id").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("nt").alias("ntok"),
        )
    )
    tok_seg = (
        docs.select(
            "doc_id",
            F.explode(F.expr(_BIGRAMS_OVER_TOKS)).alias("token"),
        )
        .groupBy("token")
        .agg(F.min("doc_id").alias("fd"))
        .crossJoin(n_row)
        .groupBy(F.expr(seg % "fd").alias("k"))
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    spine = spark.range(1, VOCAB_GROWTH_SEGMENTS + 1).select(
        F.col("id").cast("long").alias("prefix_eighth")
    )
    joined = (
        spine.join(
            F.broadcast(doc_agg), spine.prefix_eighth == doc_agg.k, "left"
        )
        .drop("k")
        .join(F.broadcast(tok_seg), spine.prefix_eighth == tok_seg.k, "left")
        .drop("k")
        .select(
            "prefix_eighth",
            F.coalesce("nd", F.lit(0)).alias("nd"),
            F.coalesce("ntok", F.lit(0)).alias("ntok"),
            F.coalesce("nv", F.lit(0)).alias("nv"),
        )
    )
    cum = Window.orderBy("prefix_eighth").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cumd = joined.select(
        "prefix_eighth",
        F.sum("nd").over(cum).cast("long").alias("n_docs"),
        F.sum("ntok").over(cum).cast("long").alias("n_tokens"),
        F.sum("nv").over(cum).cast("long").alias("vocab_size"),
    )
    return cumd.withColumn(
        "type_token_ppm",
        F.expr("vocab_size * 1000000 DIV n_tokens").cast("long"),
    ).orderBy("prefix_eighth")


@register(
    "hapax_vocabulary_profile",
    oracle=f"""
    WITH docs AS (
        SELECT lang, regexp_extract_all(text, '[a-z0-9]+') AS t
        FROM documents
    ),
    f AS (
        SELECT lang, bg, COUNT(*) AS c
        FROM (SELECT lang,
                     unnest({_sql_bigrams('t')}) AS bg
              FROM docs)
        GROUP BY lang, bg
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                  AS n_types,
           CAST(SUM(c) AS BIGINT)                    AS n_occurrences,
           CAST(COUNT(*) FILTER (c = 1) AS BIGINT)   AS n_hapax,
           CAST(COUNT(*) FILTER (c = 1) * 1000000
                // COUNT(*) AS BIGINT)               AS hapax_type_ppm,
           CAST(MAX(c) * 1000000 // SUM(c)
                AS BIGINT)                           AS top_type_share_ppm
    FROM f GROUP BY lang ORDER BY lang
    """,
)
def hapax_vocabulary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile per language — the vocabulary-health
    diagnostic next to vocab_growth_curve (growth says how fast types
    ARRIVE; hapax share says how heavy the once-only tail is — natural
    text runs ~40-60% hapax at the type level, while template/boiler-
    plate corpora collapse toward zero, and a high top-type share
    flags a degenerate head). Types are word bigrams (the corpus's
    unigram vocabulary is a degenerate 31 — the vocab_growth_curve
    note); per language: type count, occurrence count, hapax count and
    floor-div ppm type share, and the most frequent type's occurrence
    share.

    Scale shape: explode → (lang, gram) map-side-combined count (the
    vocab_top_tokens shuffle contract: distinct grams per partition,
    not occurrences) → per-lang aggregate over the vocab-sized frame.
    One scan, two bounded aggregates."""
    documents = load_table(spark, sf_dir, "documents")
    # materialize the token array BEFORE the bigram lambda — Catalyst
    # does not CSE into lambda bodies, and inlining the regex would
    # re-derive it per element (fact 3, the word_shingles lesson)
    toks = documents.select(
        "lang",
        F.regexp_extract_all(F.col("text"), F.lit("[a-z0-9]+"), 0).alias(
            "toks"
        ),
    )
    f = (
        toks.select(
            "lang",
            F.explode(F.expr(_BIGRAMS_OVER_TOKS)).alias("bg"),
        )
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        f.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("n_occurrences"),
            F.sum((F.col("c") == 1).cast("long"))
            .cast("long")
            .alias("n_hapax"),
            F.expr(
                "SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(1)"
            )
            .cast("long")
            .alias("hapax_type_ppm"),
            F.expr("MAX(c) * 1000000 DIV SUM(c)")
            .cast("long")
            .alias("top_type_share_ppm"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_datasheet",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang, source,
               len(string_split(text, ' ')) AS nt,
               md5(array_to_string(string_split(text, ' ')[1:12], ' '))
                   AS ck
        FROM documents
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT)                AS n_docs,
               CAST(SUM(nt) AS BIGINT)                 AS n_tokens,
               CAST(COUNT(DISTINCT lang) AS BIGINT)    AS n_langs,
               CAST(COUNT(DISTINCT source) AS BIGINT)  AS n_sources,
               {sql_davg_int('nt')}                    AS mean_tokens,
               CAST(FLOOR(quantile_cont(nt, 0.5)) AS BIGINT)
                                                       AS p50_tokens
        FROM base
    ),
    dups AS (
        SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS dup_docs
        FROM (SELECT COUNT(*) AS n FROM base GROUP BY ck HAVING COUNT(*) > 1)
    )
    SELECT s.n_docs, s.n_tokens, s.n_langs, s.n_sources,
           s.mean_tokens, s.p50_tokens,
           d.dup_docs,
           CAST(d.dup_docs * 1000000 // s.n_docs AS BIGINT) AS dup_ppm
    FROM stats s CROSS JOIN dups d
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary (Datasheets for Datasets, Gebru et al.
    2018 — the one-row corpus profile a data release ships): document
    and token counts, language/source coverage, exact mean and median
    tokens per doc, and the duplicate population under the
    12-token-prefix fingerprint (docs sharing a snippet head — the
    exact_dedup_docs key; full-text md5 finds ZERO dups below sf0.1
    on this corpus, the r2 vacuity class) in floor-divided ppm. The
    capstone READOUT next to curated_corpus_shards' capstone
    PIPELINE: every number here is the headline a consumer checks
    before training on the release.

    Determinism: counts exact; mean via integer floor-division
    (plans/_num.py); median via the FLOOR-then-integer rule (r7s3
    finding #1 — never bare-CAST an interpolated percentile);
    dup_ppm floor-div.

    Scale shape: one scan for the moment/coverage aggregates plus the
    content-hash groupBy for duplicates (its own shuffle, bounded by
    distinct contents) — the dq_lineitem_report two-branch contract,
    joined as 1×1 broadcasts."""
    documents = load_table(spark, sf_dir, "documents")
    base = documents.select(
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("nt"),
        F.md5(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 12), " ")
        ).alias("ck"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        davg_int("nt").alias("mean_tokens"),
        F.expr("CAST(FLOOR(percentile(nt, 0.5)) AS BIGINT)").alias(
            "p50_tokens"
        ),
    )
    dups = (
        base.groupBy("ck")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("dup_docs"))
    )
    return stats.crossJoin(F.broadcast(dups)).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_sources",
        "mean_tokens",
        "p50_tokens",
        "dup_docs",
        F.expr("dup_docs * 1000000 DIV n_docs").cast("long").alias("dup_ppm"),
    )


@register(
    "doc_novelty_scores",
    oracle="""
    WITH g AS (
        SELECT doc_id,
               unnest(list_distinct(
                 [array_to_string(string_split(text, ' ')[i:i+7], ' ')
                  FOR i IN range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1)]
               )) AS gram
        FROM documents
    ),
    f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT)          AS n_seen_earlier,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM g JOIN f ON f.gram = g.gram
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY profile — the memorization/duplication
    signal dedup-aware curricula and data-curation audits read (Lee et
    al. 2022's observation operationalized per document: a doc whose
    8-grams were mostly FIRST SEEN in earlier documents adds little
    new sequence content, however "unique" its exact hash is): for
    every doc with ≥8 tokens, its distinct 8-gram count, how many of
    those grams first appeared in an EARLIER doc (arrival order =
    doc_id, the corpus convention), and the novelty fraction in
    floor-divided integer ppm. Uses the SAME 8-gram definition as
    test_set_decontamination, so the two reports compose.

    Scale shape: inverted index, never pairwise — one gram groupBy
    (min doc_id, map-side combinable) and one join back on the gram,
    both exchanging on the SAME key so the exploded gram derivation is
    shared (the ngram_jaccard_pairs exchange-reuse pattern via an
    explicit repartition). Linear in total gram mass; no hot-gram
    hazard because nothing fans out quadratically — a gram shared by
    k docs contributes k join rows, same as its index size."""
    documents = load_table(spark, sf_dir, "documents")
    grams = (
        word_shingles(documents, n=8)
        .select("doc_id", F.explode("shingles").alias("gram"))
        .repartition("gram")
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_seen_earlier"),
            F.expr(
                "SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) "
                "* 1000000 DIV COUNT(1)"
            )
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "levenshtein_near_pairs",
    oracle="""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(string_split(text, ' ')[i:i+4], ' ')
             FOR i IN range(1, greatest(len(string_split(text, ' ')) - 4, 0) + 1)]
        )) AS shingle
        FROM documents
    ),
    hot AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 50
    ),
    sh2 AS (
        SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh2 a JOIN sh2 b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               levenshtein(da.text, db.text) AS ed,
               GREATEST(LENGTH(da.text), LENGTH(db.text)) AS mx
        FROM cand c
        JOIN documents da ON da.doc_id = c.doc_a
        JOIN documents db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(ed AS BIGINT) AS edit_distance,
           CAST(ed * 1000000 // mx AS BIGINT) AS edit_ratio_ppm
    FROM verified
    WHERE ed * 4 <= mx
    """,
)
def levenshtein_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDIT-DISTANCE near-dedup (r12 — The Stack / BigCode's dedup
    verifies MinHash candidates with an edit-similarity gate; this is
    that second stage as a first-class op): word-5-gram inverted-index
    candidates (hot-shingle drop >50 docs, the standard skew bound) →
    full-text Levenshtein on the CANDIDATE pairs only → keep pairs
    whose edit distance is ≤ 1/4 of the longer text. Both engines
    compute the same character-grain Levenshtein built-in, and the
    ratio is exact integer ppm (``ed·1e6 DIV max_len``) so the driver
    hash replays bit-for-bit — no float thresholds. At the test SFs
    the verify stage actually discriminates: ~36 candidates, ~28
    survivors.

    100 TB shape: the O(L²) Levenshtein runs ONLY on candidate pairs
    the shingle join produced (never all-pairs), and the integer
    threshold prunes inside the same JVM stage. For very long
    documents a production deployment caps L by comparing fixed-size
    prefixes first (cheap upper bound on the ratio) — the candidate
    generator and the verify contract are unchanged by that
    refinement."""
    documents = load_table(spark, sf_dir, "documents")
    shingled = word_shingles(documents, n=5)
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).repartition("shingle")
    hot = (
        exploded.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 50)
        .select("shingle")
    )
    exploded = exploded.join(hot, "shingle", "left_anti")
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    da = documents.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
    )
    db = documents.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
    )
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("ed", F.levenshtein("text_a", "text_b"))
        .withColumn(
            "mx", F.greatest(F.length("text_a"), F.length("text_b"))
        )
        .filter(F.col("ed") * 4 <= F.col("mx"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.col("ed").cast("long").alias("edit_distance"),
        ((F.col("ed") * F.lit(1000000)).cast("long") / F.col("mx"))
        .cast("long")
        .alias("edit_ratio_ppm"),
    )


@register(
    "vocab_concentration_profile",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    freq AS (
        SELECT lang, token, COUNT(*) AS f FROM tok GROUP BY lang, token
    ),
    tot AS (
        SELECT lang, SUM(f) AS t, COUNT(*) AS n_vocab
        FROM freq GROUP BY lang
    ),
    ranked AS (
        SELECT lang, token, f,
               SUM(f) OVER (PARTITION BY lang ORDER BY f DESC, token
                            ROWS UNBOUNDED PRECEDING) AS cum,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY f DESC, token) AS r
        FROM freq
    )
    SELECT rk.lang,
           CAST(t.n_vocab AS BIGINT) AS n_vocab,
           CAST(t.t AS BIGINT) AS n_tokens,
           CAST(MAX(CASE WHEN rk.r = 1 THEN rk.f END) * 1000000 // t.t
                AS BIGINT) AS top1_ppm,
           CAST(MIN(CASE WHEN 2 * rk.cum >= t.t THEN rk.r END)
                AS BIGINT) AS k50,
           CAST(MIN(CASE WHEN 10 * rk.cum >= 9 * t.t THEN rk.r END)
                AS BIGINT) AS k90
    FROM ranked rk JOIN tot t USING (lang)
    GROUP BY rk.lang, t.n_vocab, t.t
    """,
)
def vocab_concentration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY CONCENTRATION per language (r12 — the "how
    head-heavy is this corpus" diagnostic a mixture designer reads
    next to Heaps'/Zipf curves): per lang, the vocabulary size, total
    token mass, the top token's share in exact integer ppm, and the
    Pareto-style k50/k90 — the minimal number of distinct tokens
    whose deterministic-rank cumulative frequency covers 50% / 90% of
    the mass. Rank ties break on the token string, so both engines
    rank identically; every output is an integer (cross-multiplied
    comparisons, ``·1e6 DIV total`` share) — the ln()-free stance of
    plans/_num.py, since a Zipf log-log slope would ride
    libm-divergent logarithms (the order_price_drift_tvd precedent).

    100 TB shape: one token-explode groupBy (map-side combinable) per
    lang, one window over the per-lang VOCABULARY (orders of magnitude
    smaller than the corpus), constant-size output."""
    from pyspark.sql.window import Window

    documents = load_table(spark, sf_dir, "documents")
    freq = (
        documents.select(
            "lang", F.explode(F.split("text", " ")).alias("token")
        )
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    tot = freq.groupBy("lang").agg(
        F.sum("f").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("f").desc(), F.col("token")
    )
    ranked = freq.withColumn(
        "cum", F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("r", F.row_number().over(w))
    joined = ranked.join(tot, "lang")
    return (
        joined.groupBy("lang", "n_vocab", "t")
        .agg(
            (
                (F.max(F.when(F.col("r") == 1, F.col("f")))
                 * F.lit(1000000)).cast("long")
                / F.col("t")
            )
            .cast("long")
            .alias("top1_ppm"),
            F.min(
                F.when(F.col("cum") * 2 >= F.col("t"), F.col("r"))
            ).cast("long").alias("k50"),
            F.min(
                F.when(F.col("cum") * 10 >= F.col("t") * 9, F.col("r"))
            ).cast("long").alias("k90"),
        )
        .select(
            "lang",
            F.col("n_vocab").cast("long").alias("n_vocab"),
            F.col("t").cast("long").alias("n_tokens"),
            "top1_ppm",
            "k50",
            "k90",
        )
    )


@register(
    "cross_source_duplication_matrix",
    oracle="""
    WITH h AS (
        SELECT doc_id, source,
               md5(array_to_string(string_split(text, ' ')[1:12], ' '))
                   AS content_hash
        FROM documents
    ),
    p AS (
        SELECT LEAST(a.source, b.source) AS src_a,
               GREATEST(a.source, b.source) AS src_b,
               a.content_hash
        FROM h a JOIN h b
          ON a.content_hash = b.content_hash AND a.doc_id < b.doc_id
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(DISTINCT content_hash) AS BIGINT) AS n_dup_groups
    FROM p GROUP BY src_a, src_b
    """,
)
def cross_source_duplication_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CROSS-SOURCE duplication matrix (r12 — the provenance
    diagnostic a corpus curator reads before weighting sources: "how
    much of crawl B is already in crawl A"): documents sharing the
    same content fingerprint (the exact_dedup_docs 12-word-prefix md5,
    so the two queries agree on what a duplicate IS) pair up, each
    pair is attributed to its unordered (source, source) cell, and the
    matrix reports pair and group counts per cell. Diagonal cells are
    intra-source duplication; off-diagonal mass means shared upstream
    content or mirror sites — the signal that downweights a source
    BEFORE mixture balancing instead of letting dedup silently shift
    the mix.

    100 TB shape: the self-join is keyed on the content hash, so work
    is Σ|group|² over true duplicate groups — bounded by real
    duplication, never all-pairs. A pathological boilerplate prefix
    shared by k docs fans out k² pairs; at that scale add the
    hot-hash drop the shingle-join family uses (>100-doc groups are
    boilerplate, not duplication — same threshold rationale as
    ngram_jaccard_pairs)."""
    documents = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 12), " "
    )
    h = documents.select(
        "doc_id",
        "source",
        F.md5(prefix.cast("binary")).alias("content_hash"),
    )
    a, b = h.alias("a"), h.alias("b")
    pairs = a.join(
        b,
        (F.col("a.content_hash") == F.col("b.content_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.least("a.source", "b.source").alias("src_a"),
        F.greatest("a.source", "b.source").alias("src_b"),
        F.col("a.content_hash").alias("content_hash"),
    )
    return pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.countDistinct("content_hash").cast("long").alias("n_dup_groups"),
    )


@register(
    "duplicate_window_fractions",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest([array_to_string(w[i:i+7], ' ')
                       FOR i IN range(1, greatest(len(w) - 7, 0) + 1)])
                   AS gram
        FROM toks
    ),
    owners AS (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_duplicated,
           SUM(CASE WHEN o.nd > 1 THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE) AS dup_frac
    FROM g JOIN owners o USING (gram)
    GROUP BY g.doc_id
    """,
)
def duplicate_window_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-INTERNAL duplicated-text fraction per document (r13 —
    the Lee et al. "deduplicating training data" per-doc metric the
    family lacked next to pairwise containment and test-set
    contamination): every word-8-gram window of every doc, counted
    WITH multiplicity, is 'duplicated' when the same gram occurs in at
    least one OTHER document; the fraction of a doc's windows that are
    duplicated is its cross-doc boilerplate share.

    Scale shape: windows explode to ~tokens-per-doc rows (linear in
    corpus token mass, never pairwise); one shuffle groups grams for
    the distinct-owner count, one joins the owner count back on the
    gram key. A universal gram is a hot JOIN key, not a pair
    generator — its join output stays bounded by that gram's
    occurrence count (AQE skew split handles the reduce side); there
    is deliberately NO hot-gram drop here because dropping would
    undercount the very boilerplate the metric measures."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(w) - 7, 0)),"
                " i -> array_join(slice(w, i, 8), ' '))"
            )
        ).alias("gram"),
    )
    # no explicit repartition (the r6b multi-consumer rule does not
    # apply): both consumers of g — the owner count and the join —
    # exchange on the SAME key (gram), so at scale the sort-merge plan
    # produces two identical hashpartitioning(gram) exchanges and
    # runtime exchange reuse dedupes the explode; at bench SF the
    # planner broadcasts the owner side instead, which skips the
    # probe-side shuffle entirely (measured: adding the repartition
    # cost 15% here and buys nothing at scale)
    owners = g.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.when(F.col("nd") > 1, F.lit(1)).otherwise(F.lit(0))
    return (
        g.join(owners, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(dup).cast("long").alias("n_duplicated"),
            (F.sum(dup) / F.count(F.lit(1)).cast("double")).alias(
                "dup_frac"
            ),
        )
    )


_CODE_SWITCH_LANG_CASE = """
           CASE WHEN best = 0 THEN 'und'
                WHEN s_zh = best THEN 'zh' WHEN s_fr = best THEN 'fr'
                WHEN s_es = best THEN 'es' WHEN s_en = best THEN 'en'
                WHEN s_de = best THEN 'de' END
"""


@register(
    "code_switch_fractions",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    wins AS (
        SELECT doc_id,
               unnest([list_distinct(w[i:i+39])
                       FOR i IN range(1, len(w) + 1, 40)]) AS dw
        FROM toks
    ),
    ws AS (
        SELECT doc_id,
               len(list_intersect(dw, ['the','a','and','of','to'])) AS s_en,
               len(list_intersect(dw, ['der','die','und','das','ist'])) AS s_de,
               len(list_intersect(dw, ['el','la','los','que','de'])) AS s_es,
               len(list_intersect(dw, ['le','la','les','et','est'])) AS s_fr,
               len(list_intersect(dw, ['de5','shi4','le5','zai4','he2'])) AS s_zh
        FROM wins
    ),
    wp AS (
        SELECT doc_id, {_CODE_SWITCH_LANG_CASE} AS wlang
        FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best
              FROM ws)
    ),
    ds AS (
        SELECT doc_id,
               len(list_intersect(dt, ['the','a','and','of','to'])) AS s_en,
               len(list_intersect(dt, ['der','die','und','das','ist'])) AS s_de,
               len(list_intersect(dt, ['el','la','los','que','de'])) AS s_es,
               len(list_intersect(dt, ['le','la','les','et','est'])) AS s_fr,
               len(list_intersect(dt, ['de5','shi4','le5','zai4','he2'])) AS s_zh
        FROM (SELECT doc_id, list_distinct(w) AS dt FROM toks)
    ),
    doc AS (
        SELECT doc_id, {_CODE_SWITCH_LANG_CASE} AS doc_lang
        FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS best
              FROM ds)
    )
    SELECT w.doc_id,
           d.doc_lang,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN wlang <> 'und' AND wlang <> d.doc_lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_switched,
           SUM(CASE WHEN wlang <> 'und' AND wlang <> d.doc_lang
                    THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
               AS switch_frac
    FROM wp w JOIN doc d USING (doc_id)
    GROUP BY w.doc_id, d.doc_lang
    """,
)
def code_switch_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CODE-SWITCHING fraction (r13 — the intra-doc twin
    of the per-source ``source_lang_impurity``): the doc splits into
    fixed 40-token windows, each window language-IDs independently via
    the marker-set argmax (``LANGUAGE_MARKERS``, same tie rule as
    ``lang_id_heuristic``: max score, ties to the greatest language
    code, zero overlap → 'und'), and the fraction of windows whose
    CONFIDENT prediction ('und' excluded) disagrees with the
    doc-level prediction is the code-switch share — the mixed-language
    contamination signal curation stacks gate on before monolingual
    training mixes.

    Scale shape: windows explode linearly in token mass; every score
    is a JVM-side array_intersect over a 5-literal array (no UDF, no
    shuffle until the per-doc groupBy); the doc-level argmax reuses
    the same scan branch and joins back on doc_id — two shuffles
    total at any SF."""
    from fintech_lakehouse_spark.functions.text import LANGUAGE_MARKERS

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))

    def best_lang(arr_col):
        dw = F.array_distinct(arr_col)
        scores = F.array(
            *[
                F.struct(
                    F.size(
                        F.array_intersect(
                            dw, F.array(*[F.lit(m) for m in markers])
                        )
                    ).alias("score"),
                    F.lit(lang).alias("lang"),
                )
                for lang, markers in LANGUAGE_MARKERS.items()
            ]
        )
        best = F.array_max(scores)
        return F.when(
            best.getField("score") == 0, F.lit("und")
        ).otherwise(best.getField("lang"))

    wins = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, size(w), 40),"
                   " i -> slice(w, i, 40))")
        ).alias("wtoks"),
    ).select("doc_id", best_lang(F.col("wtoks")).alias("wlang"))
    doc = toks.select("doc_id", best_lang(F.col("w")).alias("doc_lang"))
    switched = F.when(
        (F.col("wlang") != "und") & (F.col("wlang") != F.col("doc_lang")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        wins.join(doc, "doc_id")
        .groupBy("doc_id", "doc_lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum(switched).cast("long").alias("n_switched"),
            (F.sum(switched) / F.count(F.lit(1)).cast("double")).alias(
                "switch_frac"
            ),
        )
    )


@register(
    "sorted_neighborhood_pairs",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               lower(substr(text, 1, 24)) AS sk,
               substr(lower(text), 1, 6) AS blk,
               list_distinct(string_split(text, ' ')) AS toks
        FROM documents
    ),
    nbr AS (
        SELECT doc_id, blk, sk,
               lead(doc_id, 1) OVER w AS n1,
               lead(doc_id, 2) OVER w AS n2,
               lead(doc_id, 3) OVER w AS n3
        FROM keyed
        WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)
    ),
    cand AS (
        SELECT doc_id AS doc_a, unnest([n1, n2, n3]) AS doc_b
        FROM nbr
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b,
               CAST(1000000 * len(list_intersect(a.toks, b.toks))
                    // len(list_distinct(a.toks || b.toks)) AS BIGINT)
                   AS jac_ppm
        FROM cand c
        JOIN keyed a ON a.doc_id = c.doc_a
        JOIN keyed b ON b.doc_id = c.doc_b
        WHERE c.doc_b IS NOT NULL
    )
    SELECT doc_a, doc_b, jac_ppm
    FROM verified
    WHERE jac_ppm >= 200000
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD near-duplicate candidates (r13; skew-proofed
    r14 — the SORT-based blocking mechanism of the entity-resolution
    literature, next to the family's hash-based generators: minhash
    bands, shingle inverted indexes, winnowing, simhash): docs sort by
    a normalized 24-char prefix key WITHIN 6-char prefix blocks, each
    doc pairs with its next 3 sort neighbors, and candidates verify by
    exact token-set Jaccard in integer ppm, emitted at ≥ 0.2.

    Scale shape (r14, VERDICT r13 item 5 — the oversized-block guard):
    r13 windowed the whole block in ONE task, so a boilerplate prefix
    ("copyright…", "<!doctype…") concentrating a block serialized the
    sort — the classic SNM skew case. Now each doc's GLOBAL rank
    within its block is assembled from bounded pieces and neighbors
    resolve by a (block, rank) EQUI-JOIN, so no task ever holds more
    than ``FLS_SNM_BLOCK_CAP`` rows (default 100k, env-overridable —
    set above bench block sizes so plans stay comparable):

    * blocks at or under the cap rank in one window task as before;
    * HOT blocks sub-split by the FULL 24-char sort key (sub-blocks
      are contiguous runs of the block's sort order, so ranks stay
      exact): within-sub ``row_number`` (task bounded by the ties on
      the full key) + a prefix-sum of sub-block sizes over the tiny
      per-sub table = the exact global rank;
    * pair generation is ``explode(rank+1..rank+3)`` equi-joined on
      (block, rank) — near-unique join keys, perfectly partitionable,
      and AQE splits any residual join skew (a WINDOW task cannot be
      split; a JOIN task can — that is the whole fix);
    * tokens ride the join, so the verify needs no extra doc joins.

    The answer is IDENTICAL to the r13 window-lead form (same global
    (sort-key, doc_id) order, same W=4 neighborhood, same verify) —
    the oracle is unchanged. Residual worst case, documented: > cap
    docs sharing an IDENTICAL full 24-char key still rank in one task
    (any order among full ties is the same answer, but the protocol
    here keeps doc_id order for determinism).
    """
    from pyspark.sql.window import Window

    cap = int(os.environ.get("FLS_SNM_BLOCK_CAP", "100000"))
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.lower(F.substring("text", 1, 24)).alias("sk"),
        F.substring(F.lower("text"), 1, 6).alias("blk"),
        F.array_distinct(F.split("text", " ")).alias("toks"),
    )
    blk_n = keyed.groupBy("blk").agg(F.count("*").alias("_n_blk"))
    # sub-block key: whole block when cold, the full sort key when hot
    # — sub-blocks are CONTIGUOUS runs of the (sk, doc_id) block order,
    # which is what makes offset + within-rank an exact global rank
    keyed = keyed.join(blk_n, "blk").withColumn(
        "sub", F.when(F.col("_n_blk") > cap, F.col("sk")).otherwise(F.lit(""))
    )
    w_sub = Window.partitionBy("blk", "sub").orderBy("sk", "doc_id")
    ranked = keyed.withColumn("r", F.row_number().over(w_sub))
    sizes = ranked.groupBy("blk", "sub").agg(F.count("*").alias("cnt"))
    w_off = (
        Window.partitionBy("blk")
        .orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0))
    ).select("blk", "sub", "off")
    pos = ranked.join(offsets, ["blk", "sub"]).select(
        "blk",
        "doc_id",
        "toks",
        (F.col("off") + F.col("r")).alias("p"),
    )
    left = pos.select(
        "blk",
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.explode(
            F.array(F.col("p") + 1, F.col("p") + 2, F.col("p") + 3)
        ).alias("p"),
    )
    right = pos.select(
        "blk",
        "p",
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("toks_b"),
    )
    verified = left.join(right, ["blk", "p"]).select(
        "doc_a",
        "doc_b",
        F.expr(
            "CAST(1000000 * size(array_intersect(toks_a, toks_b))"
            " DIV size(array_union(toks_a, toks_b)) AS LONG)"
        ).alias("jac_ppm"),
    )
    return verified.filter(F.col("jac_ppm") >= 200000).select(
        "doc_a", "doc_b", "jac_ppm"
    )
