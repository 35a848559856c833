"""Deduplication operators for document-scale corpora.

Four tiers, cheapest first — the standard LLM-data-pipeline ladder:

1. exact: hash-groupBy on a content fingerprint — one shuffle of
   (fingerprint, id), nothing else moves;
2. n-gram Jaccard: exact set-overlap via shingle inverted index —
   precise but pair-quadratic in the worst case; fine below ~10^6 docs
   per shingle bucket, the verification stage for candidates;
3. MinHash + LSH banding: near-dup at corpus scale — cost linear in
   docs × signature width, candidate pairs only where a band bucket
   collides;
4. SimHash: 64-bit Hamming sketch — cheapest signature, banding on
   16-bit quarters for candidate generation.

All signatures use xxhash64 (seeded, JVM built-in) — deterministic
across runs/partitions, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sales_etl_spark.functions.text import (
    WORD_RE,
    fingerprint,
    normalize_text,
    shingles_from_tokens,
    tokens,
)


def _spread_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Narrow (id, text) projection, spread across cores when it
    arrives under-partitioned (operators/skew.py:spread_narrow_input):
    the tokenize + gram folds behind it are the text tier's CPU, and
    the local single-row-group testdata would otherwise run them on
    one core. No-op on split storage; partition-independent consumers
    only (exact thresholds — the oracle's bit-exact-under-any-
    parallelism contract is the guard)."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    return spread_narrow_input(df.select(id_col, text_col))


def _exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hashed: bool = False,
) -> DataFrame:
    """Distinct (doc, shingle) pairs, tokenizing once per document:
    tokens materialize in their own projection so the shingle lambda
    slices a concrete array instead of re-running the regex per gram
    (see functions.text.shingles_from_tokens).

    ``hashed=True`` replaces the shingle string with a 64-bit hash
    BEFORE the distinct: every downstream shuffle then moves fixed
    8-byte keys instead of variable-length strings, and the hash is
    computed DIRECTLY over the n token columns (multi-arg xxhash64) so
    the per-gram concat_ws string is never built — measured 1.12 s →
    0.66 s for the sf0.1 index build vs the string path. Set equality
    is preserved absent 64-bit collisions (≈n²/2⁶⁵ — for a
    10⁹-shingle corpus, P ≈ 3·10⁻²).

    Tokenization lowers only (no whitespace-collapse pass):
    ``\\w+`` extraction is invariant to normalize_text's collapse —
    asserted identical output at sf0.1 — so the second regex pass over
    the corpus is skipped."""
    if hashed:
        # per-doc array_distinct IS the (doc, shingle) distinct — a
        # doc's grams live in one row, so deduping inside the array
        # (map-side, free) replaces the global .distinct(), deleting a
        # full shuffle of the gram stream from the index build
        # (sf0.1 A/B: index build 0.71→0.49 s; full query unchanged
        # within local noise — the win is the deleted corpus-wide
        # exchange, which grows with data while the local delta
        # doesn't).
        toks = tokens(F.lower(F.col(text_col)), WORD_RE)
        base = _spread_text(df, id_col, text_col).select(
            F.col(id_col).alias("doc"), toks.alias("__toks")
        )
        return base.select(
            "doc",
            F.explode(
                F.array_distinct(_hashed_gram_array(n))
            ).alias("shingle"),
        )
    toks = tokens(F.lower(F.col(text_col)), WORD_RE)
    out = _spread_text(df, id_col, text_col).select(
        F.col(id_col).alias("doc"), toks.alias("__toks")
    ).select(
        "doc",
        F.explode(
            shingles_from_tokens(F.col("__toks"), n)
        ).alias("shingle"),
    )
    return out.distinct()


def _hashed_gram_stream(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, shingle-hash) stream WITHOUT distinct — the shared
    front-end of the jaccard index (which deduplicates) and minhash
    (where min is duplicate-insensitive, so a distinct would cost a
    shuffle for nothing).

    element_at past the end is NULL; xxhash64 skips NULL args, so a
    doc shorter than n words hashes its whole token list — the same
    "one shingle of the whole doc" contract as the string path."""
    toks = tokens(F.lower(F.col(text_col)), WORD_RE)
    base = _spread_text(df, id_col, text_col).select(
        F.col(id_col).alias("doc"), toks.alias("__toks")
    )
    return base.select(
        "doc", F.explode(_hashed_gram_array(n)).alias("shingle")
    )


def _hashed_gram_array(n: int, toks_col: str = "__toks") -> F.Column:
    """Array of 64-bit gram hashes over a MATERIALIZED token-array
    column (see `_hashed_gram_stream` for the hashing contract). Shared
    by the dedup index and `operators/decontam.py`, which wraps it in
    `array_distinct` to keep gram dedup map-side."""
    k = F.size(F.col(toks_col))
    idx = F.sequence(F.lit(1), F.greatest(k - F.lit(n - 1), F.lit(1)))
    grams = F.transform(
        idx,
        lambda i: F.xxhash64(
            *[
                F.element_at(F.col(toks_col), i + F.lit(j))
                for j in range(n)
            ]
        ),
    )
    return F.when(k > 0, grams).otherwise(F.array().cast("array<bigint>"))

# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, keep: str = "min"
) -> DataFrame:
    """One survivor per identical (normalized) content: group by
    fingerprint, keep the min/max id — deterministic, single shuffle
    on the 128-bit fingerprint (uniform keys, no skew)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(agg.alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Dedup an INCOMING batch against itself and an existing corpus —
    the per-ingest shape of a continuously-growing training set (the
    full-corpus re-sweep is the thing this avoids).

    Survivors = batch docs that are (a) first-in-batch for their
    content fingerprint (min id) and (b) whose fingerprint does not
    already exist in the corpus.

    Scale shape: the batch is small relative to the corpus by
    definition, so its fingerprint set BROADCASTS; the corpus-side
    work is ONE map-side semi-join per ingest (corpus scanned, never
    shuffled — `already` is corpus ∩ batch fingerprints, at most
    batch-sized), and the final anti-join is again small vs small.
    In production the corpus leg reads a maintained (fp → id) store
    instead of re-fingerprinting raw text; the joins are unchanged.
    """
    batch_fp = batch.withColumn("fp", fingerprint(text_col))
    first_in_batch = batch_fp.groupBy("fp").agg(
        F.min(id_col).alias(id_col)
    )
    already = (
        corpus.withColumn("fp", fingerprint(text_col))
        .join(F.broadcast(first_in_batch.select("fp")), "fp", "left_semi")
        .select("fp")
        .distinct()
    )
    return first_in_batch.join(
        F.broadcast(already), "fp", "left_anti"
    ).select("fp", id_col)


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard via shingle inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Exact Jaccard-similar pairs (a < b) over word n-gram sets.

    Plan: distinct (id, shingle) → self-join on shingle (the inverted
    index) → count common shingles per pair → join set sizes →
    jaccard = common / (|A| + |B| − common).

    Scale note: the self-join fans out per shingle bucket; a stopword
    shingle shared by 10^5 docs creates 10^10 pairs, so shingles whose
    document frequency exceeds ``max_shingle_df`` are dropped from the
    index (they carry no discriminating power; dropping them shrinks
    every affected pair's intersection AND union by the same count).
    Default 10 000 bounds the worst bucket at ~10^8 pairs spread over
    the shuffle; ``None`` disables the guard (exact-verification tier).

    NOTE: set sizes are computed AFTER the cap, so jaccard stays a true
    Jaccard over the capped shingle sets — both sides of the oracle
    comparison must apply the same cap when it is low enough to bite."""
    stats = _ngram_pair_stats(df, id_col, text_col, n, max_shingle_df)
    return (
        stats.withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "size_a", "size_b", "jaccard")
    )


def _ngram_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared inverted-index pair statistics: (doc_a < doc_b, common,
    size_a, size_b) over distinct word n-gram sets — the common core
    of every exact set-overlap score (Jaccard, containment, overlap
    coefficient, dice; each is one arithmetic expression over these
    four columns)."""
    # The RAW stream is cached (it is reused four times: the DF-cap
    # frequency pass + index sides a/b + set sizes), so the corpus is
    # scanned and shingled exactly ONCE; the cap re-applies per
    # consumer as a map-side broadcast semi-join over cached rows.
    # Hashed shingle keys keep every downstream shuffle fixed-width.
    sh = _exploded_shingles(df, id_col, text_col, n, hashed=True).cache()
    if max_shingle_df is not None:
        sh = dedup_by_df_cap(sh, max_shingle_df)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("set_size").alias("size_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Exact containment-similar pairs (a < b): common / min(|A|, |B|)
    — the ASYMMETRIC sibling of Jaccard that catches document-inside-
    document near-dups (a quote, a mirrored article inside a longer
    page, boilerplate-wrapped reposts). A short doc fully contained in
    a long one scores containment 1.0 while its Jaccard can be
    arbitrarily low — which is exactly the pair class Jaccard-threshold
    dedup ships to training by mistake.

    Same plan as :func:`ngram_jaccard_pairs` (one cached shingle scan,
    DF-capped inverted-index join, one arithmetic score over the pair
    stats); same 100 TB shape, same cap caveat: sizes are post-cap."""
    stats = _ngram_pair_stats(df, id_col, text_col, n, max_shingle_df)
    return (
        stats.withColumn(
            "containment",
            F.col("common").cast("double")
            / F.least(F.col("size_a"), F.col("size_b")),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a", "doc_b", "common", "size_a", "size_b", "containment"
        )
    )


def dedup_by_df_cap(sh: DataFrame, max_shingle_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap — the
    skew guard for the inverted-index join at corpus scale.

    Implemented as a broadcast LEFT ANTI join against the DROP list
    (shingles over the cap), not a semi-join on the keep list: the
    drop list is bounded by the number of stopword-grade hot shingles
    (tiny at any corpus size — that is WHY they are dropped), while
    the keep list is the whole vocabulary and stops being
    broadcastable long before 100 TB."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    drop = freq.filter(F.col("df") > max_shingle_df).select("shingle")
    return sh.join(F.broadcast(drop), "shingle", "left_anti")


# ---------------------------------------------------------------------------
# 3. MinHash + LSH banding
# ---------------------------------------------------------------------------


def _require_wraparound(df: DataFrame) -> None:
    """The signature hashes below (MinHash's universal hash ``a·h + b``
    and SimHash's bit packing) compute over the wrapping 64-bit ring;
    under ANSI mode Spark raises ARITHMETIC_OVERFLOW mid-job instead.
    :func:`session.pin_semantics` disables ANSI, but a locked-down
    session can refuse the conf — fail fast with a clear error here
    rather than a task-level overflow 20 minutes into a corpus run."""
    from sales_etl_spark.session import pin_semantics

    spark = df.sparkSession
    pin_semantics(spark)
    # No default arg: conf.get with a default returns the DEFAULT for
    # an unset conf, hiding Spark 4's ANSI-on built-in default exactly
    # when pin_semantics's conf.set silently failed. The no-arg form
    # returns the effective value (built-in default included).
    if spark.conf.get("spark.sql.ansi.enabled").lower() == "true":
        raise RuntimeError(
            "minhash/simhash signatures need spark.sql.ansi.enabled=false "
            "(64-bit wrap-around arithmetic); the session is locked to "
            "ANSI mode"
        )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document.

    One explode of shingles, ONE xxhash64 per shingle, then
    ``num_hashes`` universal-hash variants (h_i = a_i·h + b_i over the
    wrapping 64-bit ring — 32 multiply-adds instead of 32 string
    hashes) reduced by min in a single groupBy. No distinct before the
    min: min is duplicate-insensitive, so deduplicating shingles first
    would buy nothing and cost a full extra shuffle. Total: one
    shuffle, map-side CPU linear in shingles."""
    import numpy as np

    _require_wraparound(df)

    rng = np.random.RandomState(seed)
    # odd multipliers → bijections on the 64-bit ring
    mult = [int(a) | 1 for a in rng.randint(1, 2**62, size=num_hashes)]
    add = [int(b) for b in rng.randint(0, 2**62, size=num_hashes)]

    exploded = _hashed_gram_stream(
        df, id_col, text_col, shingle_n
    ).withColumnRenamed("shingle", "h")
    mins = [
        F.min(F.lit(mult[i]) * F.col("h") + F.lit(add[i])).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = exploded.groupBy("doc").agg(*mins)
    return sig.select(
        "doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("signature")
    )


def banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a (doc, signature) frame into its LSH band buckets:
    one row per (doc, band) carrying the band's bucket hash (xxhash64
    of the band's signature slice) beside the full signature. This is
    the INDEX ROW format — what a persisted LSH index stores and what
    both the batch self-join and the incremental probe equi-join on."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col("signature")[b * rows_per_band + r].cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc", "signature", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc", "signature", "bb.band", "bb.bucket")


def _est_jaccard(sig_a, sig_b, num_hashes: int):
    """Estimated Jaccard = fraction of agreeing signature positions."""
    return F.aggregate(
        F.zip_with(
            sig_a, sig_b,
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(num_hashes)


def incremental_minhash_lsh(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental fuzzy dedup: probe a PERSISTED LSH index with a new
    ingest batch — the near-duplicate complement of
    :func:`incremental_exact_dedup`. Returns ``(new_index_rows,
    candidate_pairs)``: the batch's band rows (append them to the
    index — :func:`banded_signatures` format) and every candidate
    pair touching the batch (batch×corpus AND batch×batch), scored by
    estimated Jaccard exactly like :func:`minhash_lsh_pairs`.

    Scale shape — O(batch) per ingest: the batch's signatures build
    from the batch alone (one bounded shuffle), then BROADCAST into
    an equi-join against the index scan, so the corpus-sized index is
    read but NEVER shuffled and nothing is recomputed for old docs.
    Incremental ≡ full-corpus LSH restricted to batch-touching pairs
    (same hash family, same band buckets — asserted in tests), so
    ingest-by-ingest dedup converges to exactly what a from-scratch
    run would find."""
    sig = minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n)
    new_rows = banded_signatures(sig, num_hashes, bands).cache()
    full = index.unionByName(new_rows)
    a, b = full.alias("a"), new_rows.alias("b")
    cand = (
        a.join(
            F.broadcast(b),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
            _est_jaccard(
                F.col("a.signature"), F.col("b.signature"), num_hashes
            ).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )
    return new_rows, cand


def incremental_jaccard_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """EXACT Jaccard pairs touching an ingest batch — the hash-checkable
    ground-truth twin of :func:`incremental_minhash_lsh` (same batch,
    same pair universe batch×corpus ∪ batch×batch, but true n-gram
    Jaccard instead of the banded-MinHash estimate). Output matches
    :func:`ngram_jaccard_pairs` restricted to pairs with at least one
    batch doc: (doc_a < doc_b, common, size_a, size_b, jaccard).

    Scale shape — the batch side is small by definition, so its
    shingle set BROADCASTS into both candidate legs: batch×corpus
    candidates come from one map-side broadcast join against the
    corpus shingle stream (corpus scanned, never shuffled), and
    batch×batch candidates from the broadcast self-join. Per-ingest
    shuffle cost is O(candidates), not O(corpus). In production the
    corpus leg reads a maintained (doc, shingle-hash) inverted-index
    store with its document-frequency stats kept alongside (exactly
    like the persisted LSH index) instead of re-shingling raw text;
    the joins are unchanged. ``max_shingle_df`` drops stopword-grade
    hot shingles from BOTH legs (df measured over corpus ∪ batch) —
    the same skew guard, and the same "jaccard over capped sets"
    contract, as :func:`ngram_jaccard_pairs`."""
    corpus_sh = _exploded_shingles(
        corpus, id_col, text_col, n, hashed=True
    ).cache()
    batch_sh = _exploded_shingles(
        batch, id_col, text_col, n, hashed=True
    ).cache()
    if max_shingle_df is not None:
        # df over corpus ∪ batch (the post-ingest corpus), ONE drop
        # list applied to both legs so the capped sets agree
        freq = (
            corpus_sh.unionByName(batch_sh)
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        drop = freq.filter(F.col("df") > max_shingle_df).select("shingle")
        corpus_sh = corpus_sh.join(F.broadcast(drop), "shingle", "left_anti")
        batch_sh = batch_sh.join(F.broadcast(drop), "shingle", "left_anti")
    sizes = (
        corpus_sh.unionByName(batch_sh)
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("set_size"))
    )
    return _pair_scores_from_candidates(
        corpus_sh, batch_sh, sizes, threshold
    )


def _pair_scores_from_candidates(
    corpus_sh: DataFrame,
    batch_sh: DataFrame,
    sizes: DataFrame,
    threshold: float,
) -> DataFrame:
    """Candidate generation + exact scoring for the incremental pair
    probe: corpus×batch from a broadcast probe of the corpus stream,
    batch×batch from the broadcast self-join, then common counts and
    the Jaccard expression over integer set sizes (one double division
    — exact cross-engine)."""
    cross = (
        corpus_sh.alias("a")
        .join(
            F.broadcast(batch_sh).alias("b"),
            F.col("a.shingle") == F.col("b.shingle"),
        )
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
    )
    within = (
        batch_sh.alias("a")
        .join(
            F.broadcast(batch_sh).alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
    )
    common = (
        cross.unionByName(within)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        common.join(
            sizes.select(
                F.col("doc").alias("doc_a"),
                F.col("set_size").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc").alias("doc_b"),
                F.col("set_size").alias("size_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", "common", "size_a", "size_b", "jaccard"
    )


def substring_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    min_shared: int = 8,
    max_gram_df: int | None = 32,
) -> DataFrame:
    """EXACT substring-span dedup: pairs of docs sharing long literal
    character runs — the char-level tier the published training-data
    dedup recipe pairs with document-level MinHash (a W-char run
    shared at ANY offset guarantees a shared W-gram, no alignment or
    sampling assumptions). Complements the token shingle tiers: it
    catches quote/boilerplate/code blocks embedded mid-document that
    word n-gram Jaccard dilutes away.

    Semantics: normalized text (lowercase, whitespace collapsed) is
    expanded to its md5'd char ``window``-grams at EVERY position
    (docs shorter than ``window`` cannot share a run and contribute
    nothing); a pair is emitted when ≥ ``min_shared`` distinct gram
    values coincide — a single contiguous shared run of length L
    contributes L − window + 1 distinct grams, so the default flags
    runs of ~``window + min_shared − 1`` = 71+ chars, and ``est_span``
    reports that footprint. ``max_gram_df`` drops boilerplate-grade
    hot grams (same skew guard, same capped-set contract as the
    shingle tiers).

    Scale shape: gram stream is linear in corpus characters (one gram
    per char position); gram VALUES are 64-bit xxhash64 keys — the
    output carries only pair counts over distinct gram sets, so any
    collision-free hash family gives identical results and 8-byte
    keys cross every shuffle instead of gram strings (the oracle uses
    md5 for the same set algebra — the `hashed=True` shingle
    contract). Per-doc ``array_distinct`` keeps the dedup map-side;
    the inverted-index self-join is pair-quadratic only within capped
    gram buckets. The normalize + gram fold is staged into its own
    projections so the interpreted HOF evaluates once per row."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    # The every-position gram fold below is the costliest per-row
    # transform in the text tier (window chars hashed per position);
    # spread the (doc, text) frame when it arrives under-partitioned
    # (single local row group) so it never serializes on one core —
    # no-op wherever storage already splits the corpus.
    norm = spread_narrow_input(
        df.select(
            F.col(id_col).alias("doc"),
            normalize_text(text_col).alias("__norm"),
        ).filter(F.length("__norm") >= window)
    )
    grams = norm.select(
        "doc",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.length("__norm") - F.lit(window - 1)
                ),
                lambda i: F.xxhash64(
                    F.col("__norm").substr(i, F.lit(window))
                ),
            )
        ).alias("__grams"),
    )
    g = grams.select(
        "doc", F.explode("__grams").alias("shingle")
    ).cache()
    if max_gram_df is not None:
        g = dedup_by_df_cap(g, max_gram_df)
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("n_shared") + F.lit(window - 1)).alias("est_span"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    bands=8 × rows=4 over a 32-wide signature → collision probability
    ≈ 1−(1−j⁴)⁸: ~0.97 at j=0.8, ~0.04 at j=0.2 — the usual S-curve.
    Candidates are verified with the *estimated* Jaccard (fraction of
    agreeing signature positions); swap in ngram_jaccard_pairs on the
    candidate set when exactness matters.

    Shuffles: signature groupBy, band-bucket self-join, pair distinct —
    all on hashed (uniform) keys. No quadratic blowup unless a bucket
    is hot, and hot buckets mean near-identical docs, which is the
    signal itself."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = banded_signatures(sig, num_hashes, bands)
    # signatures are tiny (num_hashes longs/doc); cache so the shingle
    # explode + min-agg pipeline runs once, not once per join side
    banded = banded.cache()

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = _est_jaccard(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("doc_a", "doc_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, each bit votes
    ±1 weighted by term frequency, sign of the vote is the bit.

    One explode + one groupBy with ``bits`` conditional sums — wide
    but flat; everything stays in one shuffle."""
    _require_wraparound(df)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    hashed = toks.withColumn("th", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright("th", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = hashed.groupBy("doc").agg(*votes)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(
            F.col(f"v{i}") > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63))
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    bands: int = 8,
) -> DataFrame:
    """Near-dup candidates: docs whose SimHashes agree on at least one
    (64/bands)-bit band, verified by exact Hamming ≤ ``max_hamming``
    via bit_count(xor).

    Pigeonhole guarantee: a pair at Hamming distance ≤ bands−1 always
    shares a band, so set ``bands > max_hamming`` for exhaustive
    recall within the radius (defaults: 8 bands of 8 bits cover ≤7
    exactly and ≤8 with high probability). More bands = more candidate
    join fan-out — the recall/cost dial.

    100 TB shape: both join sides are the SAME uncached banded frame,
    so exchange reuse shares their shuffles — the tokenize and vote
    pass over the corpus runs once and the other side reads a reused
    exchange (the doc vote shuffle when AQE broadcasts the join, the
    (band, bucket) shuffle when it sort-merges). Nothing is cached,
    so nothing has to outlive the call."""
    band_width = 64 // bands
    mask = (1 << band_width) - 1
    sh = simhash(df, id_col, text_col)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(q).alias("band"),
                F.shiftright("simhash", q * band_width)
                .bitwiseAND(F.lit(mask))
                .alias("bucket"),
            )
            for q in range(bands)
        ]
    )
    banded = sh.select(
        "doc", "simhash", F.explode(band_arr).alias("bb")
    ).select("doc", "simhash", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# 5. Pair -> cluster resolution (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Resolve a candidate-pair list into clusters: ``(node,
    cluster_id)`` where ``cluster_id`` is the MINIMUM node id reachable
    through the pair graph — the step that turns LSH/Jaccard *pairs*
    into an actual dedup decision (keep one doc per component).

    Algorithm: iterative min-label propagation with pointer jumping.
    Each round every node takes ``min(label, min(neighbor labels))``,
    then short-circuits one hop through the label table
    (``label <- label(label)``), which contracts chains geometrically —
    O(log n) rounds on a path graph, 1-2 rounds on the star/clique
    shapes near-dup clusters actually take. This is the same doubling
    idea as the large-star/small-star MapReduce algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond") restated as
    two DataFrame joins per round.

    Scale shape: per round, one shuffle of the (undirected) edge list
    joined to the label table plus one label-table self-join; no
    driver-side graph state — the only driver actions are the per-round
    convergence probe and the lineage-truncating ``localCheckpoint``
    (without which the iterated plan grows superlinearly; swap for
    ``checkpoint()`` + a checkpoint dir on a fault-tolerant cluster
    run). Labels only ever decrease, so convergence ("no label
    changed this round") is a fixed point, not an approximation.

    Deterministic by construction: min over an orderable id type —
    no dependence on partitioning or visit order.
    """
    undirected = pairs.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    )
    edges = (
        undirected.union(
            undirected.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # reused every round: scan once
    )
    labels = edges.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("cluster_id")
    ).localCheckpoint(eager=True)
    if labels.limit(1).count() == 0:
        return labels
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy(edges["a"].alias("node"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    "cluster_id", F.coalesce("nbr_min", "cluster_id")
                ).alias("cluster_id"),
                F.col("cluster_id").alias("__old"),
            )
        )
        # Pointer jump: follow the label one hop (label of my label).
        # The round's STARTING label rides along as __old so the
        # convergence probe is a filter over the already-checkpointed
        # result — no extra join/shuffle per round.
        lhs = stepped.alias("l")
        ptr = stepped.select(
            F.col("node").alias("p_node"), F.col("cluster_id").alias("p_label")
        ).alias("p")
        # LAZY checkpoint + full-count probe: the convergence count is
        # the round's ONE materializing action — it scans every
        # partition (no limit short-circuit), so the checkpoint
        # persists completely inside the same job. r11: one job per
        # round instead of eager-checkpoint-then-probe's two (the
        # probe stage folds into the materializing job; total stages
        # measured 75 → 73 at sf0.01, the win is the deleted
        # per-round job-scheduling round-trip).
        jumped = (
            lhs.join(ptr, F.col("l.cluster_id") == F.col("p.p_node"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.least(
                    F.col("l.cluster_id"),
                    F.coalesce(F.col("p.p_label"), F.col("l.cluster_id")),
                ).alias("cluster_id"),
                F.col("l.__old").alias("__old"),
            )
            .localCheckpoint(eager=False)
        )
        changed = jumped.filter(
            F.col("cluster_id") != F.col("__old")
        ).count()
        labels = jumped.select("node", "cluster_id")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def resolve_clusters(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
) -> DataFrame:
    """Dedup decision table from a candidate-pair list: one row per doc
    that appears in any pair — ``(doc_id, cluster_id, cluster_size,
    is_canonical)`` with the min-id doc of each component canonical.
    Downstream: anti-join the corpus against the non-canonical rows to
    drop near-duplicates while keeping exactly one survivor per
    cluster."""
    cc = connected_components(pairs, src_col, dst_col)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("node").alias("cluster_size")
    )
    return (
        cc.join(sizes, "cluster_id")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            "cluster_size",
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def perceptual_cluster_resolve(pairs: DataFrame) -> DataFrame:
    """:func:`resolve_clusters` over a PERCEPTUAL verified-pair frame —
    the ``(media_a, media_b, hamming)`` shape every modality's
    :func:`banded_hamming_pairs` emits (image aHash, audio energy
    fingerprint, video grid signature), so image/audio/video all share
    ONE transitive-closure resolve exactly as they share one
    candidate-gen/verify ladder. Returns ``(media_id, cluster_id,
    cluster_size, is_canonical)`` with the min-id member of each
    connected component canonical.

    Why this exists alongside the greedy min-id-wins rule
    (plans/monitor.py:video_dedup_pipeline_e2e, "dropped iff verified
    against any smaller id"): on CHAINED near-dups (A~B, B~C, A!~C)
    greedy keeps every node that never appears on the right of a pair
    — possibly several survivors per component — while CC keeps
    exactly the component minimum. Greedy's drop set is always a
    subset of CC's (pairs are emitted a < b, so a component's min id
    never appears as media_b); the per-source divergence is
    quantified by plans/monitor.py:dedup_video_cluster_e2e.

    Scale shape: inherited from :func:`connected_components` — the
    pair graph is localCheckpointed once and min-label propagation
    with pointer jumping converges in O(log n) rounds, each round two
    bounded joins over the (small relative to corpus) pair set."""
    return resolve_clusters(pairs, "media_a", "media_b").withColumnRenamed(
        "doc_id", "media_id"
    )


def scrub_hot_lines(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_line_df: int,
    min_line_chars: int = 10,
    sep: str = "\n",
) -> DataFrame:
    """RefinedWeb-style cross-document LINE deduplication: lines that
    appear (identically) in more than ``max_line_df`` documents are
    boilerplate — nav bars, cookie banners, license footers — and are
    removed from every document; each doc's remaining lines rejoin in
    original order. Lines shorter than ``min_line_chars`` after trim
    are exempt (blank separators and markup stubs are structure, not
    boilerplate, and their df is meaninglessly high).

    Scale shape: posexplode keeps (doc, position, line); the line-df
    count runs over DISTINCT (doc, line-hash) pairs — one shuffle on
    the 8-byte line hash; the hot-line set is a bounded DROP list
    (only boilerplate-grade lines exceed the cap — the same asymmetry
    as the shingle df-cap) broadcast back as an anti-join condition;
    reassembly is one groupBy(doc) with an array_sort on carried
    positions — the second and last shuffle. The corpus text bytes
    move through each exchange once.

    Returns (id, text, n_lines_kept, n_lines_dropped) with ``text``
    rebuilt from the kept lines.
    """
    lines = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("__lk", F.xxhash64("line"))
    eligible = F.length(F.trim(F.col("line"))) >= min_line_chars

    hot = (
        lines.filter(eligible)
        .select("doc", "__lk")
        .distinct()
        .groupBy("__lk")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_line_df)
        .select("__lk")
    )
    kept = lines.join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))), "__lk", "left"
    ).withColumn(
        "__drop", eligible & F.coalesce(F.col("__hot"), F.lit(False))
    )
    return (
        kept.groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("__drop"),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                sep,
            ).alias(text_col),
            F.sum(F.when(~F.col("__drop"), 1).otherwise(0)).alias(
                "n_lines_kept"
            ),
            F.sum(F.when(F.col("__drop"), 1).otherwise(0)).alias(
                "n_lines_dropped"
            ),
        )
        .withColumnRenamed("doc", id_col)
    )


def hash_bands() -> Column:
    """The four 16-bit LSH bands of a 64-bit ``(hash_lo, hash_hi)``
    fingerprint, as one ``posexplode`` generator of ``(band_idx,
    band_val)`` rows: bands 0 and 1 are the low and high 16 bits of
    ``hash_lo``, bands 2 and 3 those of ``hash_hi``. The one band split
    of every perceptual tier (the DuckDB oracles state it on their
    own)."""
    return F.posexplode(
        F.array(
            F.col("hash_lo") % 65536,
            F.shiftright("hash_lo", 16),
            F.col("hash_hi") % 65536,
            F.shiftright("hash_hi", 16),
        )
    ).alias("band_idx", "band_val")


def banded_hamming_pairs(
    hashed: DataFrame,
    id_col: str = "media_id",
    cap: int = 64,
    max_hamming: int = 6,
) -> DataFrame:
    """Shared verify half of the perceptual dedup tiers: from a
    (id, hash_lo, hash_hi) 64-bit fingerprint frame, emit the ordered
    pairs sharing at least one 16-bit LSH band (:func:`hash_bands`)
    whose FULL hashes differ in ≤ ``max_hamming`` bits —
    :func:`simhash_pairs`' ladder restated over split-half hashes
    (the image, audio and video pair queries all build on this, so a
    threshold or cap tweak lands in one place).

    Band buckets holding more than ``cap`` members are dropped before
    the pair join (near-constant media carry no discriminating power —
    the dedup_by_df_cap contract applied to perceptual buckets), so
    the self-join is pair-quadratic only within capped buckets. The
    bucket size is a window count over (band_idx, band_val), so the
    cap costs no extra aggregate or anti-join; DISTINCT before the
    Hamming filter so a pair colliding in several bands verifies once.

    100 TB shape: ONE shuffle of the banded rows on (band_idx,
    band_val). The window count and both self-join sides share it —
    the fingerprint lineage (the decode kernel) runs once and the other
    join side is a reused exchange. Hot-bucket rows cross that shuffle
    before the cap drops them (a ~4N/cap-row drop list used to be
    broadcast and anti-joined map-side); in exchange the plan caches
    nothing."""
    bands = hashed.select(F.col(id_col), "hash_lo", "hash_hi", hash_bands())
    kept = bands.withColumn(
        "c",
        F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_val")),
    ).filter(F.col("c") <= cap)
    a = kept.alias("a")
    b = kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("media_a"),
            F.col(f"b.{id_col}").alias("media_b"),
            F.col("a.hash_lo").alias("lo_a"),
            F.col("a.hash_hi").alias("hi_a"),
            F.col("b.hash_lo").alias("lo_b"),
            F.col("b.hash_hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("int")
    return cand.select(
        "media_a", "media_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def probe_banded_index(
    index_bands: DataFrame,
    batch_bands: DataFrame,
    cap: int = 64,
    max_hamming: int = 6,
) -> DataFrame:
    """The INCREMENTAL half of the perceptual pair ladder, shared by
    the batch probe (plans/monitor.py:dedup_video_incremental) and
    the streaming ingest (streaming/media_dedup.py): candidates are
    batch x (index ∪ batch) band collisions — an arriving batch
    fingerprints only itself and never re-shuffles the index — and
    bucket caps count index + batch members, so every emitted pair
    is exactly a pair the from-scratch :func:`banded_hamming_pairs`
    over (index ∪ batch) would emit.

    Both frames carry (media_id, hash_lo, hash_hi, band_idx,
    band_val). Output: ordered (media_a, media_b, hamming) with
    hamming <= ``max_hamming``; batch x batch pairs included once
    (DISTINCT over the ordered form).

    Cap monotonicity caveat for SEQUENTIAL ingests: bucket counts
    only grow, so a bucket that is hot in the final corpus may have
    been under-cap in an early ingest — the UNION of sequential
    probe outputs is therefore a SUPERSET of the one-shot banded
    result whenever a bucket crosses the cap mid-stream (early pairs
    are already emitted; later ones are suppressed). If the final
    corpus never crosses the cap, the union is EXACTLY the one-shot
    result (asserted in tests); an exactly-once consumer that wants
    one-shot semantics re-filters against the final hot list.

    The batch side is broadcast BY DESIGN (one ingest vs the whole
    corpus); the index scan never shuffles."""
    batch_bands = batch_bands.cache()
    all_bands = index_bands.unionByName(batch_bands)
    hot = (
        all_bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > cap)
        .select("band_idx", "band_val")
    )
    kept_all = all_bands.join(hot, ["band_idx", "band_val"], "left_anti")
    kept_batch = batch_bands.join(
        hot, ["band_idx", "band_val"], "left_anti"
    )
    b = kept_batch.alias("b")
    o = kept_all.alias("o")

    def pick(small: str, big: str) -> F.Column:
        return F.when(
            F.col("b.media_id") < F.col("o.media_id"), F.col(small)
        ).otherwise(F.col(big))

    cand = (
        o.join(
            F.broadcast(b),
            (F.col("b.band_idx") == F.col("o.band_idx"))
            & (F.col("b.band_val") == F.col("o.band_val"))
            & (F.col("b.media_id") != F.col("o.media_id")),
        )
        .select(
            F.least("b.media_id", "o.media_id").alias("media_a"),
            F.greatest("b.media_id", "o.media_id").alias("media_b"),
            pick("b.hash_lo", "o.hash_lo").alias("lo_a"),
            pick("b.hash_hi", "o.hash_hi").alias("hi_a"),
            pick("o.hash_lo", "b.hash_lo").alias("lo_b"),
            pick("o.hash_hi", "b.hash_hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("int")
    return cand.select(
        "media_a", "media_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
