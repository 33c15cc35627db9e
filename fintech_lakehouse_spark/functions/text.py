"""Text-analysis building blocks (SURVEY §7.6): tokenization, word
shingles, MinHash signatures, SimHash fingerprints, language scoring.

All built-in JVM expressions — no Python UDFs — so every function
composes into whole-stage codegen and scales linearly with the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Intermediate cache()s created inside operator builders (the LSH
# candidate table in verified_jaccard_pairs). They must be releasable:
# an untracked inner cache survives plans.text.reset_stage_caches()
# in Spark's CacheManager (canonical-plan match → "already cached"),
# so a rebuilt pipeline silently reuses it and a "cold" benchmark run
# measures a half-warm query (~1.4 s vs 3.4 s for minhash_lsh_pairs
# at sf0.1 — the r5 artifact, same class as VERDICT r3 wrong-item 2).
_TRANSIENT_CACHES: list[DataFrame] = []


def release_transient_caches() -> None:
    """Unpersist every tracked intermediate cache. Called by
    plans.text.reset_stage_caches() (benchmark cold-run protocol) and
    by verified_pairs_stage once its result is materialized (the
    candidates are only needed to build the pair table; if the pair
    cache is later evicted, lineage recompute rebuilds them
    correctly)."""
    while _TRANSIENT_CACHES:
        df = _TRANSIENT_CACHES.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def tokens(text_col: str | Column = "text") -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def drop_hot_keys(rows: DataFrame, key: str, max_df: int) -> DataFrame:
    """Bounded-fan-out skew guard shared by the pair/decontamination
    family: drop every row whose ``key`` value occurs in more than
    ``max_df`` rows (boilerplate shingles/grams/fingerprints fan out
    k² join rows, so they are excluded BEFORE any self-join).

    r16 formulation (guide §2.3/§2.4 fewer passes, remove joins): a
    COUNT window over the key partition instead of the previous
    groupBy→filter→left-anti-join-back. The join form made two full
    passes over the index (a ~1M-group aggregate, then the anti join);
    the window computes df in ONE pass over the already key-partitioned
    index — no join — and its partition sort pre-orders the index for
    the sort-merge self-join every consumer runs next. Interleaved
    min-of-5 A/B at sf0.1: ngram_jaccard pipeline 1.551 → 1.003 s,
    ngram_containment 1.380 → 1.002 s; row-identity vs the anti-join
    form pinned at sf0.01 (OPTIMIZATION_r16.md §3). Callers whose
    DuckDB oracle says COUNT(DISTINCT doc_id) rely on per-doc
    distinctness of the exploded rows (word_shingles/winnow_selected
    return distinct arrays) — pinned by tests/test_scale_patterns.py::
    test_hot_count_rewrite_distinctness_premise. NULL keys pass through
    unchanged, as they did through the anti join: count(key) skips
    NULLs, so the NULL group's df is 0."""
    from pyspark.sql.window import Window as _W

    return (
        rows.withColumn("_df", F.count(key).over(_W.partitionBy(key)))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def word_shingles(documents: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct word n-grams.

    The token array is materialized in its own projection first:
    inlining ``split(text)`` into the shingle lambda makes Catalyst
    re-split the document for every element access (measured ~20×
    slower on the corpus). Short docs are dropped by filtering on the
    CHEAP token count BEFORE the shingle transform — a post-shingle
    ``size(shingles) > 0`` filter gets pushed down into the parquet
    scan's data filter, where it re-derives the whole shingle
    transform (with split() inlined per element) for every row of the
    corpus (measured 10ms/doc vs 0.5ms/doc). The >= n filter also
    guards Spark's sequence(0, negative), which counts downward
    instead of returning []."""
    toks = F.col("_toks")
    tokenized = documents.select("doc_id", tokens(text_col).alias("_toks")).filter(
        F.size(F.col("_toks")) >= n
    )
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(n)]),
    )
    return tokenized.select("doc_id", F.array_distinct(ngrams).alias("shingles"))


def with_shingles(
    documents: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """``documents`` + a ``shingles: array<string>`` column (distinct
    word n-grams; EMPTY array for docs shorter than n tokens) — the
    row-preserving sibling of :func:`word_shingles` for callers that
    must keep every input row (e.g. the online-dedup state store,
    which records short docs too: they can never verify as duplicates,
    but their arrival decision must still be emitted). Same token and
    ngram construction, so ``explode(shingles)`` feeds MinHash with
    exactly word_shingles' sets (MinHash over a distinct set equals
    MinHash over the multiset — min is duplicate-insensitive)."""
    toks = F.col("_flh_toks")
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(n)]),
    )
    return (
        documents.withColumn("_flh_toks", tokens(text_col))
        .withColumn(
            "shingles",
            F.when(
                F.size(toks) >= n, F.array_distinct(ngrams)
            ).otherwise(F.array().cast("array<string>")),
        )
        .drop("_flh_toks")
    )


def shingle_rows(documents: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) exploded rows — NOT deduplicated (MinHash is
    duplicate-insensitive: min over repeats equals min over the set, so
    skipping the dedup shuffle is free). Use word_shingles when set
    semantics matter (exact Jaccard)."""
    toks = F.col("_toks")
    tokenized = documents.select("doc_id", tokens(text_col).alias("_toks")).filter(
        F.size(toks) >= n
    )
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(n)]),
    )
    return tokenized.select("doc_id", F.explode(ngrams).alias("shingle"))


def minhash_signatures(shingle_rows_df: DataFrame, n_hashes: int = 32) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) — K-permutation MinHash signature from
    exploded (doc_id, shingle) rows.

    Shape chosen for scale: hash each shingle K ways in one
    projection, take grouped MINs. The partial (map-side) aggregation
    collapses each document's shingles to one K-wide row BEFORE any
    shuffle, so shuffle volume is K·docs, not K·shingles."""
    hashed = shingle_rows_df.select(
        "doc_id",
        *[F.xxhash64("shingle", F.lit(k)).alias(f"h{k}") for k in range(n_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"h{k}").alias(f"mh{k}") for k in range(n_hashes)]
    )


def _validate_bands(n_hashes: int, n_bands: int) -> None:
    """n_bands must divide n_hashes with >= 1 row per band: a
    non-divisor silently ignores trailing signature columns, and
    n_bands > n_hashes makes every band signature CONSTANT — the
    self-join then emits all O(n²) pairs (review finding r6s5)."""
    if n_bands < 1 or n_bands > n_hashes or n_hashes % n_bands != 0:
        raise ValueError(
            f"n_bands={n_bands} must divide n_hashes={n_hashes} with at "
            f"least one signature row per band"
        )


def lsh_band_pairs(
    signatures: DataFrame, n_hashes: int = 32, n_bands: int = 8
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: split the signature
    into bands, bucket-join docs sharing any band signature. Linear in
    corpus size for bounded bucket width."""
    _validate_bands(n_hashes, n_bands)
    rows_per_band = n_hashes // n_bands
    bands = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"mh{band * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ]
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("band", "band_sig"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Portable (engine-independent) hash family.
#
# xxhash64 is Spark-specific, so the signatures above can only get a
# rows-only driver check. The md5-based family below computes the SAME
# values in Spark and DuckDB (both render md5 of a UTF-8 string as the
# same 32-char hex), so the full MinHash/LSH/SimHash/rolling-hash
# pipelines become SQL-expressible and get real value-hash oracles.
#
# The K MinHash permutations are the four 32-bit CHUNKS of K/4
# seed-salted md5s — chunks of a cryptographic hash are independent
# random functions. Do NOT substitute linear/polynomial combinations
# of fewer hashes (h1 + k·h2 double hashing): a shingle whose value is
# minimal at the anchor chunks dominates every k by linearity, which
# correlates the K permutations and floods LSH with false candidates
# (measured at sf0.1: 15,513 candidate pairs vs 256 with independent
# chunks, and false "similar" pairs at true Jaccard < 0.01).
#
# Each minhash is kept as its 8-char hex substring: fixed-width hex
# compares lexicographically exactly as it does numerically in BOTH
# engines, and skipping 32 conv() calls per shingle halves signature
# cost.
# ---------------------------------------------------------------------------

HEX_DIGITS = "0123456789abcdef"


def md5_hex(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def minhash_signatures_md5(shingle_rows_df: DataFrame, n_hashes: int = 32) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) — portable MinHash over independent
    32-bit chunk hashes (see the hash-family note above). ``n_hashes``
    must be a multiple of 4 (four chunks per md5). Same
    map-side-combine shape as minhash_signatures: shuffle volume is
    K·docs, not K·shingles."""
    if n_hashes % 4:
        raise ValueError("n_hashes must be a multiple of 4 (4 chunks per md5)")
    # SQL-text projections (r11): the Column-algebra form paid one
    # py4j round-trip per operator (~130 chained calls), a fixed
    # driver cost re-paid on every fresh build — including every
    # streaming micro-batch. selectExpr parses each projection in one
    # call; the Catalyst tree and results are bit-identical
    # (tests/test_functions.py::test_minhash_sql_text_twin).
    hexed = shingle_rows_df.selectExpr(
        "doc_id",
        *[
            f"md5(CAST(concat_ws('|', '{j}', shingle) AS BINARY)) AS hx{j}"
            for j in range(n_hashes // 4)
        ],
    )
    chunks = hexed.selectExpr(
        "doc_id",
        *[
            f"substring(hx{k // 4}, {1 + 8 * (k % 4)}, 8) AS h{k}"
            for k in range(n_hashes)
        ],
    )
    return chunks.groupBy("doc_id").agg(
        *[F.expr(f"min(h{k}) AS mh{k}") for k in range(n_hashes)]
    )


def band_signatures(
    signatures: DataFrame, n_hashes: int = 32, n_bands: int = 8
) -> DataFrame:
    """(doc_id, band_sig) exploded rows from md5-banded signatures —
    the ONE definition of the band-signature hash, shared by the batch
    pair join (:func:`lsh_band_pairs_md5`) and the streaming online
    dedup (streaming/events.py::foreach_batch_online_dedup), so the
    stream≡batch candidate-set guarantee can never drift from a
    one-sided edit (review finding r7). The band index is baked into
    the hash input, so downstream bucket joins need only this single
    equality key. Validates the (n_hashes, n_bands) pair like every
    banding entry point (finding r6s5)."""
    _validate_bands(n_hashes, n_bands)
    rows_per_band = n_hashes // n_bands
    items = []
    for band in range(n_bands):
        cols = ", ".join(
            f"mh{band * rows_per_band + r}" for r in range(rows_per_band)
        )
        items.append(
            f"md5(CAST(concat_ws('|', '{band}', {cols}) AS BINARY))"
        )
    # one parsed expression (see the minhash_signatures_md5 note)
    return signatures.selectExpr(
        "doc_id", f"explode(array({', '.join(items)})) AS band_sig"
    )


def lsh_band_pairs_md5(
    signatures: DataFrame, n_hashes: int = 32, n_bands: int = 8
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from md5-banded signatures. The
    band index is baked into the band-signature hash input, so the
    bucket join needs only one equality key."""
    bands = band_signatures(signatures, n_hashes, n_bands)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def verified_jaccard_pairs(
    documents: DataFrame,
    candidates: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    materialize: bool = True,
    unique_docs: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact-Jaccard verification of LSH
    candidate pairs, the second half of the production near-dedup
    pipeline: LSH generates candidates linearly, then the exact check
    runs ONLY on candidate docs (bounded by candidate count, never
    all-pairs). The jaccard column is a single int/int IEEE division —
    deterministic across engines, unlike a rounded value.

    Docs are semi-joined down to the candidate set BEFORE re-shingling:
    near-dup candidates are a tiny fraction of the corpus, so the
    verification scan is bounded by candidates, not corpus size (a
    full-corpus re-shingle here measured 4× the whole pipeline at
    bench SF). Signature-estimate filtering is NOT a substitute: with
    K permutations derived from one md5 per shingle, a shingle minimal
    at the anchor chunks dominates every k by linearity, so unrelated
    docs sharing one hot shingle fake est≈1 (measured: 80+ false pairs
    at true Jaccard < 0.01).

    NOTE: verification assumes candidate membership; a pair absent
    from ``candidates`` is never checked (that's LSH recall, tuned by
    K/bands).

    ``materialize=False`` (r9, for foreachBatch callers whose upstream
    band frames are ALREADY persisted): cache the candidate table
    lazily instead of forcing it with an eager count — the scheduler
    still computes it once at execution time, but the caller saves one
    whole Spark job per micro-batch."""
    # The candidate set feeds two branches (the id semi-join and the
    # pair join); uncached, Spark recomputes the entire signature
    # pipeline per branch (measured 2× the whole query). It is a tiny
    # (long, long) table — cache it. At cluster scale this is the
    # natural checkpoint between the LSH stage and the verify stage.
    candidates = candidates.cache()
    _TRANSIENT_CACHES.append(candidates)
    if materialize:
        candidates.count()
    cand_ids = candidates.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    cand_docs = documents.join(cand_ids, "doc_id", "left_semi")
    if not unique_docs:
        # r9: callers whose corpus is a replay-window union (batch ∪
        # stored docs) may hold a doc_id twice; deduping AFTER the
        # semi-join bounds the shuffle to candidate docs and spares
        # those callers a full-corpus dropDuplicates per call. Batch
        # callers with unique corpora keep their shuffle-free plan.
        cand_docs = cand_docs.dropDuplicates(["doc_id"])
    shingled = word_shingles(cand_docs, n=n)
    return jaccard_pair_join(candidates, shingled, threshold)


def jaccard_pair_join(
    candidates: DataFrame, shingled: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """(doc_a, doc_b, jaccard) — THE one exact-Jaccard pair join over
    precomputed (doc_id, shingles) arrays, shared by the batch verify
    (:func:`verified_jaccard_pairs`) and the streaming online dedup's
    shingle-carrying state path (streaming/events.py), so the
    stream≡batch jaccard definition can never drift from a one-sided
    edit (the band_signatures sharing rule, r9).

    Shingle ARRAYS join directly onto the pairs (array_intersect for
    the overlap, array sizes for the union) — bounded to candidate
    docs, this beats the explode-and-rejoin formulation by ~6 shuffle
    stages of fixed overhead. Exploded shingles only make sense when
    the pair set is unbounded; here LSH already bounded it. The
    jaccard column is a single int/int IEEE division — deterministic
    across engines. Empty shingle arrays yield NULL jaccard (0/0) and
    are filtered — the same outcome as word_shingles dropping short
    docs."""
    sh_a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("_sh_a")
    )
    sh_b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    jaccard = inter.cast("double") / (
        F.size("_sh_a") + F.size("_sh_b") - inter
    )
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .filter(jaccard >= threshold)
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
    )


def simhash_hex_md5(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash_hex) — portable 64-bit SimHash rendered as a
    16-char hex string (a BIGINT rendering would need the sign bit;
    hex strings compare and hamming-count identically in both
    engines). Bit b (= 4*j + t for md5 hex char j, low bit t) votes
    ±1 per token occurrence; fingerprint bit = sign of the vote sum."""
    toks = documents.select("doc_id", F.explode(tokens(text_col)).alias("token"))
    hexed = toks.select("doc_id", md5_hex("token").alias("hx"))
    # SQL-text projections (r11, the minhash_signatures_md5 note): the
    # Column form chained ~400 py4j calls per build
    nibbles = hexed.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(hx, {j + 1}, 1), 16, 10) AS INT) AS n{j}"
            for j in range(16)
        ],
    )
    votes = nibbles.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(n{b // 4}, {b % 4}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(64)
        ]
    )
    chars = []
    for j in range(16):
        nib = " + ".join(
            f"CASE WHEN v{4 * j + t} > 0 THEN {2 ** t} ELSE 0 END"
            for t in range(4)
        )
        chars.append(f"substring('{HEX_DIGITS}', ({nib}) + 1, 1)")
    return votes.selectExpr(
        "doc_id", f"concat({', '.join(chars)}) AS simhash_hex"
    )


def rolling_md5_chain(text_col: str | Column = "text") -> Column:
    """Order-sensitive rolling fingerprint: fold md5(acc || '|' || tok)
    over the token sequence, seeded with ''. Equal values ⇒ equal token
    SEQUENCES. DuckDB twin: list_reduce(list_prepend('', tokens), ...)."""
    return F.aggregate(
        tokens(text_col),
        F.lit(""),
        lambda acc, x: F.md5(F.concat_ws("|", acc, x).cast("binary")),
    )


def winnow_selected(
    documents: DataFrame, k: int = 4, w: int = 5, text_col: str = "text"
) -> DataFrame:
    """Robust winnowing selection (Schleimer/Wilkerson/Aiken, SIGMOD
    '03): hash every k-token gram (md5 prefix → BIGINT, the portable
    sampling.hash_bucket family), slide a window of w consecutive gram
    hashes, select each window's minimum, return the distinct selected
    set sorted ascending.

    Returns (doc_id, n_grams: long, selected: array<long>). Guarantee
    (the winnowing theorem, unit-tested): two documents sharing any
    token run of length >= k + w - 1 share at least one selected
    fingerprint. Docs with fewer than w grams select the single global
    minimum; docs with no full gram select nothing.

    r16 optimization round: vectorized ``mapInArrow`` implementation
    (guide §4.2/§4.3). The original all-JVM expression form (kept
    below as :func:`winnow_selected_expr` — the bit-equivalence twin)
    pays interpreted-HOF cost per row: higher-order functions are
    CodegenFallback, so the gram build, the per-gram md5→conv chain
    and the O(n·w) slice/array_min walk all run on the interpreted
    path (~0.9 s of the 2.0–2.4 s winnowing stage at sf0.1 — VERDICT
    r15 item 1). Here the same walk is hashlib.md5 (C) + one NumPy
    sliding-window min per document, with ONLY (doc_id, text) crossing
    the Python boundary (§4.1 column pruning). The fingerprint family
    is bit-identical — int.from_bytes(md5(gram)[:6], 'big') ==
    conv(substring(md5_hex, 1, 12), 16, 10) — pinned against the
    expression twin on corpus + adversarial docs by
    tests/test_functions.py::test_winnow_arrow_matches_expr_twin and
    end-to-end by the DuckDB oracles of every winnowing consumer.

    Zero-Exchange scan either way: one PythonMapInArrow node inside
    the scan stage, no shuffle."""
    arrow_fn = _winnow_batches(k, w, text_col)
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), text_col
    ).mapInArrow(arrow_fn, "doc_id long, n_grams long, selected array<long>")


def _list_offsets(sizes):
    """int32 Arrow list offsets for per-row list ``sizes``, summed in
    int64: past 2^31 - 1 values the int32 conversion raises
    ArrowInvalid instead of wrapping to negative offsets."""
    import numpy as np
    import pyarrow as pa

    return pa.array(np.cumsum([0, *sizes], dtype=np.int64), type=pa.int32())


def _winnow_batches(k: int, w: int, text_col: str):
    """Arrow-batch winnowing kernel factory (executor-side body of
    :func:`winnow_selected`). Per document: split on single spaces
    (Python str.split(' ') ≡ Spark split(text, ' ') — both keep
    leading/trailing/consecutive-space empty tokens), hash each
    k-token gram to the first 48 bits of its md5 (big-endian — the
    same integer as conv(substring(md5_hex,1,12),16,10)), take the
    min of each w-wide sliding window (whole-array min when fewer
    than w grams), and emit the sorted distinct selection."""

    def fn(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        swv = np.lib.stride_tricks.sliding_window_view
        out_schema = pa.schema(
            [
                pa.field("doc_id", pa.int64()),
                pa.field("n_grams", pa.int64()),
                pa.field("selected", pa.list_(pa.int64())),
            ]
        )
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            n_rows = len(texts)
            n_grams = np.zeros(n_rows, dtype=np.int64)
            sizes = np.zeros(n_rows, dtype=np.int64)
            sel_parts = []
            for r, t in enumerate(texts):
                toks = t.split(" ") if t is not None else []
                ng = len(toks) - k + 1
                if ng <= 0:
                    continue
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            md5(" ".join(toks[i : i + k]).encode()).digest()[:6],
                            "big",
                        )
                        for i in range(ng)
                    ),
                    dtype=np.int64,
                    count=ng,
                )
                n_grams[r] = ng
                if ng >= w:
                    sel = np.unique(swv(hs, w).min(axis=1))
                else:
                    sel = hs.min(keepdims=True)
                sel_parts.append(sel)
                sizes[r] = sel.size
            values = (
                np.concatenate(sel_parts)
                if sel_parts
                else np.empty(0, dtype=np.int64)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.array(n_grams),
                    pa.ListArray.from_arrays(
                        _list_offsets(sizes), pa.array(values, type=pa.int64())
                    ),
                ],
                schema=out_schema,
            )

    return fn


def winnow_selected_expr(
    documents: DataFrame, k: int = 4, w: int = 5, text_col: str = "text"
) -> DataFrame:
    """The original all-JVM expression form of :func:`winnow_selected`
    — grams, hashes and window minima as higher-order functions inside
    the row. Retained as the bit-equivalence twin for the vectorized
    mapInArrow path (and as the fallback for environments without
    Arrow): the r16 unit pin runs both over the same corpus and
    asserts identical rows. Interpreted-HOF cost makes it ~2× slower
    per scanned row (VERDICT r15 item 1); semantics are identical.

    Each intermediate array is materialized in its own projection (see
    word_shingles: inlining split() into the gram lambda re-splits the
    text per element, measured ~20×)."""
    toks = F.col("_toks")
    tokenized = documents.select(
        "doc_id", tokens(text_col).alias("_toks")
    )
    n = F.size(toks)
    gram_idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        gram_idx, lambda i: F.concat_ws(" ", *[toks[i + j] for j in range(k)])
    )
    hashes = F.transform(
        grams,
        lambda gm: F.conv(
            F.substring(F.md5(gm.cast("binary")), 1, 12), 16, 10
        ).cast("long"),
    )
    hashed = tokenized.select("doc_id", hashes.alias("_hashes"))

    h = F.col("_hashes")
    m = F.size(h)
    win_idx = (
        F.when(m >= w, F.sequence(F.lit(1), m - w + 1))
        .when(m >= 1, F.array(F.lit(1)))
        .otherwise(F.array().cast("array<int>"))
    )
    mins = F.transform(
        win_idx, lambda i: F.array_min(F.slice(h, i, F.least(F.lit(w), m)))
    )
    return hashed.select(
        "doc_id",
        m.cast("long").alias("n_grams"),
        F.array_sort(F.array_distinct(mins)).alias("selected"),
    )


def simhash64(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash64) — 64-bit SimHash fingerprint: per token,
    ±1 vote per bit position (term-frequency weighted); bit b of the
    fingerprint = sign of vote sum. Near-dups differ in few bits.
    The explode collapses immediately in a partial aggregate."""
    toks = documents.select(
        "doc_id", F.explode(tokens(text_col)).alias("token")
    ).withColumn("h", F.xxhash64("token"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{bit}")
            for bit in range(64)
        ]
    )
    fingerprint = None
    for bit in range(64):
        if bit < 63:
            contrib = F.when(
                F.col(f"v{bit}") > 0, F.lit(2**bit).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        else:  # sign bit
            contrib = F.when(
                F.col(f"v{bit}") > 0, F.lit(-(2**63)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        fingerprint = contrib if fingerprint is None else fingerprint + contrib
    return votes.select("doc_id", fingerprint.alias("simhash64"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of
    XOR) — the SimHash near-dup metric."""
    return F.bit_count(a.bitwiseXOR(b))


def dedup_clusters(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-dup pairs
    (doc_a, doc_b): every document in a dup cluster maps to the
    cluster's minimum doc_id, the canonical survivor.

    Iterative min-label propagation WITH POINTER DOUBLING, run to the
    fixpoint: each round a node takes the minimum of (its label, its
    neighbors' labels, its LABEL'S label). The neighbor step moves
    labels one hop; the label-of-label jump doubles the distance a
    minimum has already traveled, so convergence is O(log diameter)
    instead of O(diameter) — a 60-hop dup chain converges in ~7 rounds
    rather than 59 (ADVICE r2's large-star/small-star suggestion; the
    jump preserves the invariant that a node's label is always a
    member of its own component, so the fixpoint is the same). The
    DuckDB recursive-CTE oracle computes the true fixpoint, so
    stopping early would be a WRONG answer, not an approximation.
    ``max_iterations`` is a safety cap only: hitting it without
    convergence raises rather than silently returning partial labels.

    Each round ends in an eager ``localCheckpoint()`` (via the shared
    operators/graph.py::iterate_edges runner): the pointer jump
    references ``labels`` twice, so WITHOUT lineage truncation the
    logical plan doubles per iteration and planning itself OOMs
    around round 10 (measured — the heap died generating the plan
    tree string, not executing). Checkpointing materializes the ~one
    row per clustered doc and resets the plan to a leaf — the
    standard Spark shape for iterative algorithms. This is the one
    genuinely iterative operator in the engine — inexpressible in
    single-pass SQL (SURVEY §7.6)."""
    from fintech_lakehouse_spark.operators.graph import iterate_edges

    if max_iterations <= 0:
        raise RuntimeError(
            f"dedup_clusters: max_iterations must be >= 1, got "
            f"{max_iterations}"
        )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # undirected: propagate both ways; cached — reused every iteration
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    labels0 = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )

    def _propagate(labels: DataFrame, _i: int) -> DataFrame:
        labels = labels.drop("_changed")
        neighbor_min = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("neighbor_cluster"))
        )
        # pointer jump: the label of my current label
        lbl2 = labels.select(
            F.col("doc_id").alias("_l_doc"), F.col("cluster_id").alias("_l_lbl")
        )
        # new label + changed flag in ONE pass (a separate join-back
        # to detect convergence would double the per-iteration jobs)
        new_label = F.least(
            F.col("cluster_id"),
            F.coalesce(F.col("neighbor_cluster"), F.col("cluster_id")),
            F.coalesce(F.col("_l_lbl"), F.col("cluster_id")),
        )
        return (
            labels.join(
                neighbor_min, labels.doc_id == neighbor_min.src, "left"
            )
            .join(lbl2, labels.cluster_id == lbl2._l_doc, "left")
            .select(
                "doc_id",
                new_label.alias("cluster_id"),
                (new_label < F.col("cluster_id")).alias("_changed"),
            )
        )

    def _converged(updated: DataFrame) -> bool:
        n = updated.agg(
            F.sum(F.col("_changed").cast("int")).alias("n")
        ).collect()[0]["n"]
        return not n

    try:
        labels, _, stopped = iterate_edges(
            labels0,
            _propagate,
            max_iterations,
            checkpoint_input=True,
            stop=_converged,
        )
        if not stopped:
            still = labels.agg(
                F.sum(F.col("_changed").cast("int")).alias("n")
            ).collect()[0]["n"]
            raise RuntimeError(
                f"dedup_clusters did not converge within {max_iterations} "
                f"iterations ({still} labels still moving) — the pair "
                "graph has a chain longer than the safety cap; raise "
                "max_iterations"
            )
    finally:
        sym.unpersist()
    return labels.drop("_changed")


LANGUAGE_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "los", "que", "de"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def language_best_guess(text_col: str | Column = "text") -> Column:
    """struct(score, lang) of the best marker-set overlap — argmax via
    array_max over per-language structs (SURVEY §7.6 language ID).
    ZERO overlap with every marker set yields lang 'und'
    (undetermined): the bare argmax tie-broke score-0 structs on the
    lexicographically largest language code, confidently labeling
    marker-free text as 'zh' (review finding r6s5). Real ties at
    score > 0 still break on the larger code — arbitrary but
    deterministic and mirrored by the SQL twin."""
    distinct_tokens = F.array_distinct(tokens(text_col))
    scores = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(
                        distinct_tokens, F.array(*[F.lit(m) for m in markers])
                    )
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in LANGUAGE_MARKERS.items()
        ]
    )
    best = F.array_max(scores)
    return F.when(
        best.getField("score") == 0,
        F.struct(F.lit(0).alias("score"), F.lit("und").alias("lang")),
    ).otherwise(best)


def compression_ratio_scores(
    documents: DataFrame, text_col: str = "text", level: int = 6
) -> DataFrame:
    """Compression-ratio quality signal (the 'perplexed-by-gzip'
    heuristic of real curation stacks — e.g. CCNet-era pipelines and
    the gzip-distance literature, all public): highly repetitive or
    machine-generated text compresses far below natural prose, and
    near-random noise barely compresses at all, so the DEFLATE ratio
    is a cheap model-free quality band. Emits (doc_id, n_bytes,
    n_compressed, ratio_ppm) with the ratio in exact integer ppm.

    Arrow-batched mapInPandas: zlib is CPU-only per-row work with no
    cross-row state, the textbook vectorized-UDF shape (zero
    shuffles; parallel across partitions). NOT in the driver oracle
    registry: DuckDB has no zlib scalar, and pinning byte-exact
    DEFLATE output across zlib builds would couple correctness to a
    compressor version — the unit test pins the ORDERING property
    (repetitive < natural < random) and exact ppm arithmetic
    instead."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("n_bytes", LongType(), False),
            StructField("n_compressed", LongType(), False),
            StructField("ratio_ppm", LongType(), False),
        ]
    )

    def batches(iterator):
        import zlib

        import pandas as pd

        for pdf in iterator:
            raw = [
                (t or "").encode("utf-8") for t in pdf[text_col]
            ]
            comp = [len(zlib.compress(b, level)) for b in raw]
            n = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "n_compressed": comp,
                    "ratio_ppm": [
                        (c * 1_000_000) // b if b else 0
                        for c, b in zip(comp, n)
                    ],
                }
            )

    return documents.select("doc_id", text_col).mapInPandas(batches, schema)
