"""LLM-data-pipeline extension queries (SURVEY.md §7.7) + connector
round-trips + event-time windows — the beyond-the-reference surface,
each with a DuckDB oracle wherever ANSI SQL can express the semantics.

Rows-only entries (no oracle): the LSH-approximate operators — their
output is defined by hash-bucket collisions, which a SQL oracle would
have to replicate hash-for-hash; the exact counterparts of each are
oracle-checked, and the tests assert LSH ⊆/≈ exact instead.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_etl_spark.functions import text as TX
from sales_etl_spark.functions import vectors
from sales_etl_spark.functions.vectors import cosine_rounded
from sales_etl_spark.operators.skew import spread_narrow_input
from sales_etl_spark.operators import (
    decontam,
    dedup,
    multimodal,
    sampling,
    similarity,
)
from sales_etl_spark.plans.registry import query
from sales_etl_spark.session import pin_semantics
from sales_etl_spark.sources.star import load_star
from sales_etl_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)

import os as _os

#: Scratch root for queries that materialize files (format demos, the
#: persisted LSH index, backfill marts). Scoped PER PROCESS by
#: default: two concurrent runs (a pytest session and a check_oracle
#: sweep, or the driver and a local sweep) previously shared one
#: directory tree and raced each other's rmtree/rebuild cycles —
#: intermittent, hard-to-reproduce failures that vanish when run
#: alone. The per-process name is a uuid4 (NOT the bare pid: pids
#: recycle, so a new process could adopt a stale sentinel-complete
#: tree built by an earlier, possibly different-code run — and the
#: dirs would pile up unboundedly) and the tree is removed at
#: interpreter exit. Within one process the sentinel-based build-once
#: caching is unchanged. ``SPARK_ETL_SCRATCH`` overrides the root
#: (e.g. to share a pre-built index deliberately) and is then left on
#: disk — deliberate sharing implies deliberate lifecycle.
_SCRATCH_OVERRIDE = _os.environ.get("SPARK_ETL_SCRATCH")
if _SCRATCH_OVERRIDE:
    SCRATCH = Path(_SCRATCH_OVERRIDE)
else:
    import atexit as _atexit
    import shutil as _shutil
    import uuid as _uuid

    SCRATCH = (
        Path(__file__).resolve().parent.parent.parent
        / ".scratch"
        / f"run-{_uuid.uuid4().hex[:12]}"
    )
    _atexit.register(
        lambda: _shutil.rmtree(SCRATCH, ignore_errors=True)
    )


def _scratch(name: str, sf_dir: str) -> Path:
    """Per-(query, sf) scratch dir. Scoping by the sf identity matters
    since builders are plan-memoized per (app, query, sf_dir): a shared
    path would let a later build for another sf overwrite the files a
    memoized plan still reads."""
    import os

    return SCRATCH / f"{name}-{os.path.basename(os.path.abspath(sf_dir))}"

#: DuckDB expression mirroring functions.text.normalize_text
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
#: DuckDB expression mirroring functions.text.tokens(normalize_text)
_TOKS = f"regexp_extract_all({_NORM}, '\\w+')"


def _star(spark: SparkSession, sf_dir: str):
    pin_semantics(spark)
    return load_star(spark, sf_dir)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(regexp_extract_all(text, '\\w+')) AS n_words,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens_bpe,
           CASE WHEN len(regexp_extract_all(text, '\\w+')) > 0
                THEN CAST(list_sum(list_transform(
                         regexp_extract_all(text, '\\w+'),
                         t -> length(t))) AS DOUBLE)
                     / len(regexp_extract_all(text, '\\w+'))
                ELSE 0.0 END AS avg_word_len,
           CASE WHEN length(text) > 0
                THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                     / length(text)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(regexp_extract_all(lower(text), '\\w+')) > 0
                THEN CAST(len(list_filter(
                         regexp_extract_all(lower(text), '\\w+'),
                         t -> t IN ('the','a','of','and','to','in','is')))
                     AS DOUBLE)
                     / len(regexp_extract_all(lower(text), '\\w+'))
                ELSE 0.0 END AS stopword_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring feature set per document: char/word/BPE-token
    counts, mean word length, punctuation + stopword ratios — all
    codegen'd regex/array expressions, zero UDFs. r12: the narrow
    (doc_id, text) frame spreads before the regex battery (guide §2.5
    — one local row group serialized 6 regex passes onto one core;
    no-op at scale); only those two columns cross the exchange."""
    st = _star(spark, sf_dir)
    docs = st.documents.select("doc_id", "text")
    return spread_narrow_input(docs).select(
        "doc_id",
        TX.char_count("text").alias("n_chars_calc"),
        TX.word_count("text").alias("n_words"),
        TX.token_count("text").alias("n_tokens_bpe"),
        TX.avg_word_len("text").alias("avg_word_len"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
    )


_LANG_SCORES_SQL = ", ".join(
    f"len(list_filter(regexp_extract_all(lower(text), '\\w+'), "
    f"t -> t IN ({', '.join(repr(w) for w in words)}))) AS s_{code}"
    for code, words in sorted(TX.LANG_MARKERS.items())
)


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang AS labeled_lang, {_LANG_SCORES_SQL}
        FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE
             WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             ELSE 'fr'
           END AS predicted_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic: per-language hit score, argmax
    with alphabetical-first tie-break, 'und' when nothing matches."""
    st = _star(spark, sf_dir)
    return st.documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.lang_id("text").alias("predicted_lang"),
    )


@query(
    "text_fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM}) AS fp FROM documents",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit content fingerprint of whitespace/case-normalized text."""
    st = _star(spark, sf_dir)
    return st.documents.select("doc_id", TX.fingerprint("text").alias("fp"))


@query(
    "text_repetition",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len({_TOKS}) - 1, 1)),
                   i -> array_to_string(({_TOKS})[i:i+1], ' ')
               )) AS gram
        FROM documents
        WHERE len({_TOKS}) > 1
    ),
    counts AS (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS INTEGER) AS n_grams,
           CAST(MAX(c) AS INTEGER) AS top_gram_count,
           round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS repetition_ratio
    FROM counts GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: share of a doc's 2-grams taken
    by its single most-repeated 2-gram (boilerplate / template spam
    scores high). Distributed shape: explode grams -> (doc, gram)
    count -> per-doc max — two partial-agg shuffles, no per-row
    quadratic array scan; docs with <2 tokens have no 2-gram and are
    excluded (same WHERE in the oracle). The exclusion is applied
    AFTER the final aggregate, on a token count carried through the
    explode: a pre-explode `filter(size(toks) > 1)` gets pushed into
    a scan-level predicate that re-runs the tokenizer per row (2×
    scan CPU), and the aggregate is the nearest pushdown barrier."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    grams = (
        st.documents.select("doc_id", toks.alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").alias("__ntoks"),
            F.explode(
                TX.shingles_from_tokens(F.col("__toks"), 2)
            ).alias("gram"),
        )
    )
    counts = grams.groupBy("doc_id", "gram").agg(
        F.count("*").alias("c"), F.first("__ntoks").alias("__ntoks")
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("int").alias("n_grams"),
            F.max("c").cast("int").alias("top_gram_count"),
            F.round(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("repetition_ratio"),
            F.first("__ntoks").alias("__ntoks"),
        )
        .filter(F.col("__ntoks") > 1)
        .drop("__ntoks")
    )


@query(
    "text_dup_gram_chars",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len({_TOKS}) - 2, 1)),
                   i -> array_to_string(({_TOKS})[i:i+2], ' ')
               )) AS gram
        FROM documents
        WHERE len({_TOKS}) > 2
    ),
    counts AS (
        SELECT doc_id, gram, COUNT(*) AS c, length(gram) AS glen
        FROM grams GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c * glen) AS BIGINT) AS total_gram_chars,
           CAST(SUM(CASE WHEN c >= 2 THEN c * glen ELSE 0 END)
                AS BIGINT) AS dup_gram_chars,
           round(CAST(SUM(CASE WHEN c >= 2 THEN c * glen ELSE 0 END)
                      AS DOUBLE) / SUM(c * glen), 6) AS dup_char_fraction
    FROM counts GROUP BY doc_id
    """,
)
def text_dup_gram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate n-gram character signal: the share of a
    doc's 3-gram character mass sitting in grams that repeat within
    the doc (template spam scores high; complements the top-gram
    ratio in text_repetition). Gram identity is an 8-byte hash and
    the gram LENGTH is derived from token lengths arithmetically —
    no gram string is ever built or shuffled. Docs with ≤2 tokens
    have no proper 3-gram and explode an empty array (the
    pushdown-safe exclusion; same WHERE in the oracle)."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    base = spread_narrow_input(
        st.documents.select("doc_id", "text")
    ).select("doc_id", toks.alias("__toks"))
    k = F.size("__toks")
    idx = F.sequence(F.lit(1), F.greatest(k - F.lit(2), F.lit(1)))
    gram = F.transform(
        idx,
        lambda i: F.struct(
            F.xxhash64(
                F.element_at("__toks", i),
                F.element_at("__toks", i + F.lit(1)),
                F.element_at("__toks", i + F.lit(2)),
            ).alias("h"),
            (
                F.length(F.element_at("__toks", i))
                + F.length(F.element_at("__toks", i + F.lit(1)))
                + F.length(F.element_at("__toks", i + F.lit(2)))
                + F.lit(2)
            ).alias("glen"),
        ),
    )
    counts = (
        base.select(
            "doc_id",
            F.explode(
                F.when(k > 2, gram).otherwise(
                    F.array().cast("array<struct<h:bigint,glen:int>>")
                )
            ).alias("g"),
        )
        .groupBy("doc_id", F.col("g.h"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first(F.col("g.glen")).alias("glen"),
        )
    )
    dup_mass = F.sum(
        F.when(F.col("c") >= 2, F.col("c") * F.col("glen")).otherwise(0)
    )
    total_mass = F.sum(F.col("c") * F.col("glen"))
    return counts.groupBy("doc_id").agg(
        total_mass.cast("long").alias("total_gram_chars"),
        dup_mass.cast("long").alias("dup_gram_chars"),
        F.round(
            dup_mass.cast("double") / total_mass, 6
        ).alias("dup_char_fraction"),
    )


_CONTACT_SQL = (
    "'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)"
    " || '@mail.example.com or https://profile.example.com/u/'"
    " || CAST(c_custkey AS VARCHAR)"
)


@query(
    "text_redact_pii",
    oracle=f"""
    SELECT customer_id,
           CAST(len(regexp_extract_all(txt, '{TX.EMAIL_PII_RE}'))
                AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(txt, '{TX.URL_PII_RE}'))
                AS INTEGER) AS n_urls,
           regexp_replace(
               regexp_replace(txt, '{TX.URL_PII_RE}', '[URL]', 'g'),
               '{TX.EMAIL_PII_RE}', '[EMAIL]', 'g') AS redacted
    FROM (SELECT c_custkey AS customer_id, {_CONTACT_SQL} AS txt
          FROM customer) t
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: emails/URLs -> typed placeholders + per-row counts,
    over a contact string synthesized deterministically from customer
    fields (the testdata documents carry no PII, so the oracle would
    otherwise verify an identity transform). Patterns are written in
    the RE2 ∩ Java dialect and shared verbatim with the oracle. Pure
    codegen regexp chain — no UDF, no shuffle."""
    st = _star(spark, sf_dir)
    txt = F.concat(
        F.lit("reach "), F.col("c_name"), F.lit(" at user"),
        F.col("c_custkey").cast("string"),
        F.lit("@mail.example.com or https://profile.example.com/u/"),
        F.col("c_custkey").cast("string"),
    )
    return st.customer.select(
        F.col("c_custkey").alias("customer_id"), txt.alias("txt")
    ).select(
        "customer_id",
        TX.pii_email_count("txt").alias("n_emails"),
        TX.pii_url_count("txt").alias("n_urls"),
        TX.redact_pii("txt").alias("redacted"),
    )


#: RAG-style chunking geometry: fixed token windows with overlap.
_CHUNK_SIZE = 64
_CHUNK_OVERLAP = 16
_CHUNK_STRIDE = _CHUNK_SIZE - _CHUNK_OVERLAP


@query(
    "text_chunk_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST((s - 1) // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           CAST(len(toks[s:s + {_CHUNK_SIZE - 1}]) AS INTEGER) AS n_tokens,
           array_to_string(toks[s:s + {_CHUNK_SIZE - 1}], ' ') AS chunk_text
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) t,
         unnest(generate_series(1, greatest(len(toks), 1),
                                {_CHUNK_STRIDE})) AS u(s)
    WHERE len(toks) > 0 AND s <= len(toks)
    """,
)
def text_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks ({_CHUNK_SIZE} tokens, stride
    {_CHUNK_STRIDE}) — the RAG/context-window splitter. Pure codegen:
    one sequence+explode per doc, slice per chunk, no UDF and no
    shuffle; chunk_id derives arithmetically from the window start so
    it is stable under any partitioning. The final window may be
    shorter than the overlap (contained in its predecessor) — the
    well-defined tail of a fixed-stride scheme. Empty docs are
    excluded by exploding an EMPTY start array (the `when` guard)
    rather than a `filter(size(toks) > 0)`: the filter form gets
    pushed into a scan-level predicate that re-runs the tokenizer per
    row, doubling scan CPU."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    base = spread_narrow_input(
        st.documents.select("doc_id", "text")
    ).select("doc_id", toks.alias("__toks"))
    k = F.size("__toks")
    starts = F.when(
        k > 0,
        F.sequence(F.lit(1), k, F.lit(_CHUNK_STRIDE)),
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice(F.col("__toks"), F.col("s"), _CHUNK_SIZE)
    return (
        base.select("doc_id", "__toks", F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.floor((F.col("s") - 1) / _CHUNK_STRIDE)
            .cast("int")
            .alias("chunk_id"),
            F.size(chunk).alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Training-data mixing: deterministic stratified sampling
# ---------------------------------------------------------------------------

#: Mixing weights per source stratum: up-/down-sample named sources,
#: everything else at the default. Includes the 1.0 (keep-all), 0.0
#: (drop-all), and fractional edges.
_MIX_RATES = {
    "src0": 1.0,
    "src1": 0.75,
    "src2": 0.5,
    "src3": 0.25,
    "src4": 0.1,
    "src5": 0.0,
}


@query(
    "sample_stratified",
    oracle=sampling.sample_oracle_sql(
        "documents", "source", "doc_id",
        "doc_id, source, lang, n_chars",
        _MIX_RATES, default_rate=0.5, seed="mix-v1",
    ),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixing sample with Horvitz-Thompson
    reweighting — md5-threshold inclusion, no RNG, no shuffle; the
    oracle runs the generated SQL twin of the same rate table."""
    st = _star(spark, sf_dir)
    return sampling.stratified_sample(
        st.documents.select("doc_id", "source", "lang", "n_chars"),
        "source", "doc_id", _MIX_RATES, default_rate=0.5, seed="mix-v1",
    )


# ---------------------------------------------------------------------------
# Boilerplate detection (cross-document repeated chunks)
# ---------------------------------------------------------------------------

#: Boilerplate geometry: non-overlapping token chunks + the minimum
#: number of DISTINCT docs a chunk must appear in to count as
#: boilerplate (2 = "appears anywhere else").
_BOILER_W = 8
_BOILER_MIN_DF = 2


@query(
    "text_boilerplate",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id, array_to_string(toks[s:s + {_BOILER_W - 1}], ' ') AS chunk
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '\\w+') AS toks
              FROM documents) t,
             unnest(generate_series(1, greatest(len(toks), 1),
                                    {_BOILER_W})) AS u(s)
        WHERE len(toks) > 0
    ),
    freq AS (
        SELECT chunk, COUNT(DISTINCT doc_id) AS df
        FROM chunks GROUP BY chunk
    ),
    boiler AS (SELECT chunk FROM freq WHERE df >= {_BOILER_MIN_DF})
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           COUNT(b.chunk) AS n_boilerplate,
           round(CAST(COUNT(b.chunk) AS DOUBLE) / COUNT(*), 6)
               AS boilerplate_ratio
    FROM chunks c LEFT JOIN boiler b USING (chunk)
    GROUP BY c.doc_id
    """,
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate signal: share of a doc's non-overlapping
    {_BOILER_W}-token chunks whose content also appears in ≥
    {_BOILER_MIN_DF - 1} other doc(s) (headers/footers/templates score
    high). Shape: chunk fingerprints are 8-byte xxhash64 of the token
    slice (strings never shuffle); the chunk document-frequency table
    — vocabulary-sized, like the tf-idf DF table — broadcasts back
    onto the chunk stream, so the corpus pays one distinct-(doc,fp)
    aggregation and one final groupBy(doc)."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    k = F.size("__toks")
    fps = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1)), F.lit(_BOILER_W)),
            lambda i: F.xxhash64(F.slice(F.col("__toks"), i, _BOILER_W)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # empty docs explode an empty fp array (no scan-level size filter —
    # that form re-runs the tokenizer per row; see text_chunk_tokens)
    stream = (
        st.documents.select("doc_id", toks.alias("__toks"))
        .select("doc_id", F.explode(fps).alias("fp"))
    )
    boiler = (
        stream.distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _BOILER_MIN_DF)
        .select("fp", F.lit(1).alias("__hit"))
    )
    # no broadcast hint: the boilerplate list is bounded by repeated
    # content, which a dup-heavy crawl can make arbitrarily large —
    # the runtime stats decide (AQE picks broadcast when it fits,
    # verified locally; a shuffle join is the correct fallback)
    return (
        stream.join(boiler, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("__hit").alias("n_boilerplate"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_boilerplate",
            F.round(
                F.col("n_boilerplate").cast("double") / F.col("n_chunks"), 6
            ).alias("boilerplate_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier
# ---------------------------------------------------------------------------

#: Weight-hash seed: token -> md5 -> uint32 -> integer weight
#: 2·u32 − 2^32 ∈ [−2^32, 2^32). The score sums INTEGER weights and
#: divides by 2^32 (a power of two — exact in double) then by the
#: token count, so exactly ONE float rounding happens and both engines
#: produce the identical bits despite a float-valued model.
_QW_SEED = "qw-v1"
_QW_INT_SQL = (
    f"2 * CAST('0x' || substr(md5('{_QW_SEED}:' || t), 1, 8) AS BIGINT)"
    " - 4294967296"
)


@query(
    "quality_classifier_score",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CASE WHEN len(toks) > 0
                THEN round(CAST(list_sum(list_transform(
                         toks, t -> {_QW_INT_SQL})) AS DOUBLE)
                     / 4294967296 / len(toks), 6)
                ELSE 0.0 END AS quality_score,
           CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(
                         toks, t -> {_QW_INT_SQL})) AS DOUBLE)
                     / 4294967296 / len(toks) > 0.0
                ELSE FALSE END AS keep
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks
          FROM documents) t
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fasttext-style hashed linear quality classifier: each token maps
    to a hash bucket whose weight is a deterministic pseudo-weight in
    [−1, 1); the doc's score is the mean weight and ``keep`` its sign.
    (A production model broadcasts learned bucket weights; the
    plumbing — hash, lookup, mean, threshold — is identical.) Pure
    map-side codegen fold over the token array: no shuffle, no UDF,
    no explode — the classifier costs one projection at 100 TB.

    r12 (guide §2.5 input skew): the local documents table is ONE
    parquet row group, so the per-token md5 fold — the whole cost of
    the query — ran on one core of 32; spread_narrow_input
    repartitions the narrow (doc_id, text) frame before the fold
    (conditional: a no-op at 100 TB where storage provides splits)."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    w_int = lambda t: (  # noqa: E731
        F.lit(2)
        * F.conv(
            F.substring(F.md5(F.concat(F.lit(_QW_SEED + ":"), t)), 1, 8),
            16, 10,
        ).cast("long")
        - F.lit(4294967296)
    )
    base = spread_narrow_input(
        st.documents.select("doc_id", "text")
    ).select("doc_id", toks.alias("__toks"))
    k = F.size("__toks")
    sum_int = F.aggregate(
        F.transform(F.col("__toks"), w_int),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = sum_int.cast("double") / F.lit(4294967296.0) / k
    return base.select(
        "doc_id",
        k.alias("n_tokens"),
        F.when(k > 0, F.round(score, 6)).otherwise(F.lit(0.0))
        .alias("quality_score"),
        F.when(k > 0, score > 0.0).otherwise(F.lit(False)).alias("keep"),
    )


#: Conformal gate miscoverage level: the calibrated keep-threshold
#: guarantees >= (1 - alpha) of exchangeable good docs pass.
_CONF_ALPHA = 0.1
_CONF_SEED = "conformal-v1"


@query(
    "quality_conformal_gate",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id,
               CASE WHEN len(toks) > 0
                    THEN round(CAST(list_sum(list_transform(
                             toks, t -> {_QW_INT_SQL})) AS DOUBLE)
                         / 4294967296 / len(toks), 6)
                    ELSE 0.0 END AS score
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '\\w+') AS toks
              FROM documents) t
    ),
    sp AS (
        SELECT *,
               CASE WHEN substr(md5('{_CONF_SEED}:'
                                    || CAST(doc_id AS VARCHAR)), 1, 8)
                         < '{sampling.threshold_hex(0.5)}'
                    THEN 'cal' ELSE 'test' END AS split
        FROM scored
    ),
    cal AS (
        SELECT score,
               ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn
        FROM sp WHERE split = 'cal'
    ),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
               CAST(floor((COUNT(*) + 1) * {_CONF_ALPHA}) AS BIGINT)
                   AS k_rank
        FROM cal
    ),
    thr AS (
        SELECT st.n_cal, st.k_rank, cal.score AS threshold_score
        FROM cal JOIN st ON cal.rn = st.k_rank
    )
    SELECT thr.n_cal, thr.k_rank, thr.threshold_score,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN s.score >= thr.threshold_score
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(SUM(CASE WHEN s.score >= thr.threshold_score
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS coverage
    FROM sp s, thr WHERE s.split = 'test'
    GROUP BY thr.n_cal, thr.k_rank, thr.threshold_score
    """,
)
def quality_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration of the quality gate: hash-split the
    corpus into calibration/test halves (the md5 cumulative-threshold
    split — stable under corpus growth), set the keep-threshold to the
    floor(alpha*(n_cal+1))-th SMALLEST calibration score (the exact
    split-conformal order statistic), and report the empirical
    coverage of `score >= threshold` on the held-out half — which
    exchangeability guarantees is >= 1 - alpha in expectation. The
    distribution-free way to turn the heuristic classifier score
    (quality_classifier_score) into a gate with a keep-rate guarantee.

    Spark-first shape: scoring is the same map-side codegen fold as
    the classifier (no shuffle); the order statistic comes from the
    bucket-offset global rank (operators/windows.py — NO
    single-partition sort of the calibration half; buckets on the
    milli-score, bounded domain) joined to a broadcast 1-row count
    frame; the final pass is one partial-agg over the test half with
    the 1-row threshold broadcast in. Only TWO exchanges ever carry
    corpus-sized frames (the calibration bucket shuffle and the
    test-half partial-agg merge); the remaining plan exchanges move
    bucket-count/1-row frames. Exactness: scores are the 6-dp rounding of
    exact long sums (identical in both engines), the rank tiebreak is
    total (score, doc_id), and coverage is one IEEE division rounded
    to 6 dp."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    base = spread_narrow_input(
        st.documents.select("doc_id", "text")
    ).select("doc_id", toks.alias("__toks"))
    k = F.size("__toks")
    w_int = lambda t: (  # noqa: E731
        F.lit(2)
        * F.conv(
            F.substring(F.md5(F.concat(F.lit(_QW_SEED + ":"), t)), 1, 8),
            16, 10,
        ).cast("long")
        - F.lit(4294967296)
    )
    sum_int = F.aggregate(
        F.transform(F.col("__toks"), w_int),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    score = F.when(
        k > 0,
        F.round(sum_int.cast("double") / F.lit(4294967296.0) / k, 6),
    ).otherwise(F.lit(0.0))
    scored = base.select("doc_id", score.alias("score"))
    # Q15 cache pattern: the scored+split frame is read by BOTH the
    # calibration branch and the test branch; without the cache each
    # consumer re-runs the full token-scoring fold over the corpus
    # (neither ReuseExchange nor AQE dedupes a view read twice).
    sp = sampling.split_assign(
        scored, "doc_id", {"cal": 0.5, "test": 0.5}, seed=_CONF_SEED
    ).cache()
    cal = sp.filter(F.col("split") == "cal")
    thr = sampling.conformal_threshold(
        cal.select("doc_id", "score"), "score", "doc_id", _CONF_ALPHA
    )
    test = sp.filter(F.col("split") == "test")
    kept = F.sum(
        F.when(
            F.col("score") >= F.col("threshold_score"), 1
        ).otherwise(0)
    ).cast("bigint")
    return (
        test.crossJoin(F.broadcast(thr))
        .groupBy("n_cal", "k_rank", "threshold_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            kept.alias("n_kept"),
            F.round(
                kept.cast("double") / F.count(F.lit(1)), 6
            ).alias("coverage"),
        )
    )


#: Per-domain document cap (C4/RefinedWeb-style host cap).
_DOMAIN_CAP = 18


@query(
    "sample_domain_cap",
    oracle=sampling.domain_cap_oracle_sql(
        "documents", "source", "doc_id",
        "doc_id, source, lang, n_chars",
        _DOMAIN_CAP, seed="cap-v1",
    ),
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep a deterministic uniform sample of
    at most {_DOMAIN_CAP} docs per source — the anti-mega-host guard a
    crawl corpus applies before mixing. WindowGroupLimit turns the
    rank filter into a per-mapper partial top-k before the single
    shuffle on source."""
    st = _star(spark, sf_dir)
    return sampling.domain_cap(
        st.documents.select("doc_id", "source", "lang", "n_chars"),
        "source", "doc_id", _DOMAIN_CAP, seed="cap-v1",
    )


#: Token budgets per source stratum (BPE-ish tokens; ~1750/source at
#: sf0.01) — named sources get explicit targets, the rest the default.
_TOKEN_BUDGETS = {"src0": 2_000, "src1": 1_500, "src2": 600, "src3": 0}
_TOKEN_BUDGET_DEFAULT = 1_000

#: DuckDB twin of functions.text.token_count (BPE-ish pre-tokenizer).
_BPE_COUNT_SQL = (
    r"CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INTEGER)"
)


@query(
    "mix_token_budget",
    oracle=sampling.token_budget_oracle_sql(
        "documents", "source", "doc_id",
        _BPE_COUNT_SQL,
        "doc_id, source",
        _TOKEN_BUDGETS, _TOKEN_BUDGET_DEFAULT, seed="budget-v1",
    ),
)
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix token budgeting: fill each source's token target
    with a deterministic uniform prefix of its docs (strict — never
    overshoots; a zero budget drops the source). One shuffle on
    source + a single hash-ordered running sum."""
    st = _star(spark, sf_dir)
    docs = st.documents.select(
        "doc_id", "source", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return sampling.token_budget_mix(
        docs, "source", "doc_id", "n_tokens",
        _TOKEN_BUDGETS, _TOKEN_BUDGET_DEFAULT, seed="budget-v1",
    )


#: Sequence-packing parameters: 512-token training examples over 8
#: shards (bench-scale; production uses thousands of shards).
_PACK_SEQ_LEN = 512
_PACK_SHARDS = 8


@query(
    "mix_pack_sequences",
    oracle=sampling.pack_oracle_sql(
        "documents", "doc_id", _BPE_COUNT_SQL,
        _PACK_SEQ_LEN, _PACK_SHARDS, seed="pack-v1",
    ),
)
def mix_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in a
    deterministic sharded order and split every _PACK_SEQ_LEN tokens;
    each doc learns its shard, token offset, and the first/last
    training example it lands in (a long doc spans several). One
    shuffle on the shard key + one running sum per shard
    (operators/sampling.py pack_sequences)."""
    st = _star(spark, sf_dir)
    docs = st.documents.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    return sampling.pack_sequences(
        docs, "doc_id", "n_tokens",
        seq_len=_PACK_SEQ_LEN, n_shards=_PACK_SHARDS, seed="pack-v1",
    )


@query(
    "mix_pack_assemble",
    oracle=f"""
    WITH packed AS ({sampling.pack_oracle_sql(
        "documents", "doc_id", _BPE_COUNT_SQL,
        _PACK_SEQ_LEN, _PACK_SHARDS, seed="pack-v1",
    )}),
    x AS (
        SELECT shard, b.b AS bin, doc_id, tok_offset, n_tokens,
               least(tok_offset + n_tokens, (b.b + 1) * {_PACK_SEQ_LEN})
               - greatest(tok_offset, b.b * {_PACK_SEQ_LEN}) AS toks
        FROM packed,
             unnest(generate_series(start_bin, end_bin)) AS b(b)
    )
    SELECT shard, CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS tokens_in_bin,
           string_agg(CAST(doc_id AS VARCHAR), ','
                      ORDER BY tok_offset) AS doc_list
    FROM x GROUP BY shard, bin
    """,
)
def mix_pack_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXAMPLE ASSEMBLER downstream of sequence packing — the
    step mix_pack_sequences' contract promises ("an example assembler
    groups by (shard, bin)"): one row per 512-token training example
    with the documents composing it IN CONCATENATION ORDER (CSV of
    doc_ids, mixing-hash order — the deterministic string form both
    engines agg identically), how many documents touch the example,
    and how many of its token slots are filled (every bin holds
    exactly seq_len except each shard's partial tail — the padding
    the training loader adds). A doc spanning several examples
    contributes its clipped overlap to each:
    min(end, (bin+1)·L) − max(start, bin·L). Scale shape: the bin
    explode multiplies rows only by spans-per-doc (~n_tokens/L), and
    the ONE exchange is the (shard, bin) groupBy — bins are
    ~seq_len-token uniform by construction, so the example grain is
    skew-free at any corpus size."""
    st = _star(spark, sf_dir)
    docs = st.documents.select(
        "doc_id", TX.token_count(F.col("text")).alias("n_tokens")
    )
    packed = sampling.pack_sequences(
        docs, "doc_id", "n_tokens",
        seq_len=_PACK_SEQ_LEN, n_shards=_PACK_SHARDS, seed="pack-v1",
    )
    L = F.lit(_PACK_SEQ_LEN).cast("bigint")
    x = packed.select(
        "shard",
        "doc_id",
        "tok_offset",
        "n_tokens",
        F.explode(
            F.sequence(F.col("start_bin"), F.col("end_bin"))
        ).alias("bin"),
    ).select(
        "shard",
        "bin",
        "doc_id",
        "tok_offset",
        (
            F.least(
                F.col("tok_offset") + F.col("n_tokens"),
                (F.col("bin") + 1) * L,
            )
            - F.greatest(F.col("tok_offset"), F.col("bin") * L)
        ).alias("toks"),
    )
    return x.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("tokens_in_bin"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tok_offset", "doc_id"))
                ),
                lambda s: s["doc_id"].cast("string"),
            ),
            ",",
        ).alias("doc_list"),
    )


#: Train/val/test fractions (cumulative-hash split).
_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


@query(
    "sample_split_assign",
    oracle=sampling.split_oracle_sql(
        "documents", "doc_id", "doc_id, source", _SPLIT_FRACTIONS,
        seed="split-v1",
    ),
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by cumulative hash thresholds —
    deterministic, and stable under corpus growth (a doc's split
    depends only on (seed, id), so new data never migrates old docs
    across splits). Pure codegen projection, no shuffle."""
    st = _star(spark, sf_dir)
    return sampling.split_assign(
        st.documents.select("doc_id", "source"),
        "doc_id", _SPLIT_FRACTIONS, seed="split-v1",
    )


@query(
    "emb_label_centroids",
    oracle="""
    WITH vals AS (
        SELECT e.label, CAST(t.i AS INTEGER) AS dim,
               CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000
                          + 0.5) AS BIGINT) AS q
        FROM embeddings e,
             unnest(generate_series(1, len(e.embedding))) AS t(i)
    )
    SELECT label, dim,
           COUNT(*) AS n_vecs,
           round(CAST(SUM(q) AS DOUBLE) / 1000000000 / COUNT(*), 6)
               AS centroid
    FROM vals
    GROUP BY label, dim
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus, one row per (label,
    dimension) — the class-prototype reduction behind IVF seeding,
    label drift monitoring, and nearest-class-mean classification.
    Float means are order-dependent, so each element quantizes to
    EXACT integer nano-units (floor-based, engine-agnostic) and the
    per-cell sum is an order-free long: a bit-exact distributed
    vector mean with one partial-agg shuffle on (label, dim)."""
    st = _star(spark, sf_dir)
    return (
        st.embeddings.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .select(
            "label",
            (F.col("pos") + F.lit(1)).alias("dim"),
            F.floor(
                F.col("val").cast("double") * F.lit(1_000_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("q"),
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("q").cast("double")
                / F.lit(1_000_000_000.0)
                / F.count(F.lit(1)),
                6,
            ).alias("centroid"),
        )
        .select("label", "dim", "n_vecs", "centroid")
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_docs",
    oracle=f"""
    SELECT md5({_NORM}) AS fp,
           MIN(doc_id) AS doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY md5({_NORM})
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per identical normalized
    content; single shuffle on the uniform 128-bit fingerprint."""
    st = _star(spark, sf_dir)
    return dedup.exact_dedup(st.documents, "doc_id", "text")


_SHINGLES_SQL = f"""
    shingled AS (
        SELECT doc_id AS doc,
               list_transform(
                   generate_series(1, greatest(len({_TOKS}) - 2, 1)),
                   i -> array_to_string(({_TOKS})[i:i+2], ' ')
               ) AS sh
        FROM documents
        WHERE len({_TOKS}) > 0
    ),
    sh AS (SELECT DISTINCT doc, unnest(sh) AS shingle FROM shingled)
"""


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    )
    SELECT c.doc_a, c.doc_b, c.common,
           sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(c.common AS DOUBLE)
               / (sa.set_size + sb.set_size - c.common) AS jaccard
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc
    JOIN sizes sb ON c.doc_b = sb.doc
    WHERE CAST(c.common AS DOUBLE)
          / (sa.set_size + sb.set_size - c.common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs ≥ 0.5 via shingle inverted index —
    the precise verifier for near-dup candidates. The hot-shingle
    guard (``max_shingle_df``) bounds the inverted-index fan-out at
    corpus scale; 10 000 is far above any testdata DF (max 25 at
    sf0.1), so the oracle — which applies no cap — is unchanged."""
    st = _star(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        st.documents, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_df=10_000,
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    )
    SELECT c.doc_a, c.doc_b, c.common,
           sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(c.common AS DOUBLE)
               / least(sa.set_size, sb.set_size) AS containment
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc
    JOIN sizes sb ON c.doc_b = sb.doc
    WHERE CAST(c.common AS DOUBLE)
          / least(sa.set_size, sb.set_size) >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram containment pairs ≥ 0.6 (common / min set size) —
    the asymmetric near-dup detector for document-INSIDE-document
    cases (quotes, mirrored articles, boilerplate-wrapped reposts)
    that a Jaccard threshold structurally misses: full containment of
    a short doc in a long one has containment 1.0 but arbitrarily low
    Jaccard. Shares the single cached shingle scan + DF-capped
    inverted index with dedup_ngram_jaccard (operators/dedup.py:
    _ngram_pair_stats); the two scores are different one-line
    arithmetic over the same pair statistics."""
    st = _star(spark, sf_dir)
    return dedup.ngram_containment_pairs(
        st.documents, "doc_id", "text", n=3, threshold=0.6,
        max_shingle_df=10_000,
    )


@query("dedup_minhash_lsh", oracle=None)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + 8-band LSH near-dup candidates (est. Jaccard ≥
    0.5). Approximate by construction → rows-only driver check; tested
    against the exact Jaccard query in tests/test_dedup.py."""
    st = _star(spark, sf_dir)
    return dedup.minhash_lsh_pairs(
        st.documents, "doc_id", "text",
        num_hashes=32, bands=8, min_est_jaccard=0.5,
    )


@query("dedup_lsh_incremental", oracle=None)
def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup against a PERSISTED LSH index — the
    near-duplicate complement of dedup_incremental's exact
    fingerprints: the corpus's banded MinHash signatures live as a
    lake table (built once, committed atomically), and an arriving
    batch (doc_id % 4 = 0) computes signatures for ITSELF only, then
    broadcasts into an equi-join probe of the index scan — per-ingest
    cost O(batch), the corpus-sized index read but never shuffled,
    nothing recomputed for old docs. Candidates cover batch×corpus
    AND batch×batch, scored by estimated Jaccard exactly like
    dedup_minhash_lsh. Approximate family → rows-only driver check;
    incremental ≡ full-corpus-LSH-restricted-to-batch-touching-pairs
    is asserted in tests/test_dedup.py (same hash family, same band
    buckets — ingest-by-ingest converges to the from-scratch result).
    Index build is idempotent/crash-safe (completion sentinel)."""
    import shutil
    from pathlib import Path

    from sales_etl_spark import lake

    st = _star(spark, sf_dir)
    corpus = st.documents.filter(F.col("doc_id") % 4 != 0)
    batch = st.documents.filter(F.col("doc_id") % 4 == 0)
    path = str(_scratch("lsh_index", sf_dir))
    done = Path(path) / "_build_complete"
    if not done.exists():
        shutil.rmtree(path, ignore_errors=True)
        sig = dedup.minhash_signatures(
            corpus, "doc_id", "text", num_hashes=32, shingle_n=3
        )
        lake.commit_write(
            dedup.banded_signatures(sig, num_hashes=32, bands=8),
            path,
            mode="append",
        )
        done.touch()
    index = lake.read_table(spark, path)
    _, pairs = dedup.incremental_minhash_lsh(
        index, batch, "doc_id", "text",
        num_hashes=32, bands=8, min_est_jaccard=0.5,
    )
    return pairs


@query(
    "dedup_incremental_pairs_exact",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        WHERE a.doc % 4 = 0 OR b.doc % 4 = 0
        GROUP BY a.doc, b.doc
    )
    SELECT c.doc_a, c.doc_b, c.common,
           sa.set_size AS size_a, sb.set_size AS size_b,
           CAST(c.common AS DOUBLE)
               / (sa.set_size + sb.set_size - c.common) AS jaccard
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc
    JOIN sizes sb ON c.doc_b = sb.doc
    WHERE CAST(c.common AS DOUBLE)
          / (sa.set_size + sb.set_size - c.common) >= 0.5
    """,
)
def dedup_incremental_pairs_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-exact ground-truth twin of dedup_lsh_incremental: the SAME
    arriving batch (doc_id % 4 = 0) probed against the SAME corpus,
    but scored by TRUE n-gram Jaccard instead of the banded-MinHash
    estimate — so the approximate tier's no-SQL-oracle row is paired
    with a bit-exact row over the identical pair universe
    (batch×corpus ∪ batch×batch, threshold 0.5).

    Incremental shape (operators/dedup.py:incremental_jaccard_pairs):
    the batch's shingle set broadcasts into a map-side probe of the
    corpus shingle stream — per-ingest shuffle O(candidates), corpus
    never shuffled; the oracle states the same result declaratively as
    the full-corpus pair join restricted to batch-touching pairs."""
    st = _star(spark, sf_dir)
    batch = st.documents.filter(F.col("doc_id") % 4 == 0)
    corpus = st.documents.filter(F.col("doc_id") % 4 != 0)
    return dedup.incremental_jaccard_pairs(
        corpus, batch, "doc_id", "text", n=3, threshold=0.5
    )


@query(
    "dedup_substring_span",
    oracle=f"""
    WITH norm AS (SELECT doc_id, {_NORM} AS nt FROM documents),
    grams AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, length(nt) - 63),
            i -> md5(substr(nt, i, 64)))) AS gs
        FROM norm WHERE length(nt) >= 64
    ),
    g AS (SELECT doc_id, unnest(gs) AS h FROM grams),
    keep AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) <= 32),
    cg AS (SELECT g.* FROM g JOIN keep USING (h)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM cg a JOIN cg b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(n_shared + 63 AS BIGINT) AS est_span
    FROM pairs WHERE n_shared >= 8
    """,
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup over the documents table: pairs
    sharing ≥ 8 distinct 64-char gram values of normalized text — the
    char-level literal-run tier (embedded quotes, boilerplate, code
    blocks at arbitrary offsets) that word-shingle Jaccard dilutes
    away and MinHash sampling can miss. Plan and guards in
    operators/dedup.py:substring_span_pairs (every-position md5
    grams, map-side array_distinct, df-capped inverted index)."""
    st = _star(spark, sf_dir)
    return dedup.substring_span_pairs(
        st.documents, "doc_id", "text",
        window=64, min_shared=8, max_gram_df=32,
    )


@query(
    "dedup_cluster_resolve",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc
        JOIN sizes sb ON c.doc_b = sb.doc
        WHERE CAST(c.common AS DOUBLE)
              / (sa.set_size + sb.set_size - c.common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
    ),
    cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    csize AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM cc GROUP BY cluster_id
    )
    SELECT cc.node AS doc_id, cc.cluster_id, s.cluster_size,
           cc.node = cc.cluster_id AS is_canonical
    FROM cc JOIN csize s USING (cluster_id)
    """,
)
def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair list -> dedup decision: connected components over the exact
    Jaccard >= 0.5 pair graph (min-label propagation + pointer
    jumping, O(log n) rounds), one canonical min-id survivor per
    cluster. The oracle states the same fixpoint declaratively as a
    DuckDB recursive transitive closure — an iterative distributed
    algorithm checked bit-exact against a recursive CTE."""
    st = _star(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        st.documents, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_df=10_000,
    )
    return dedup.resolve_clusters(pairs)


@query(
    "dedup_cluster_weights",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc
        JOIN sizes sb ON c.doc_b = sb.doc
        WHERE CAST(c.common AS DOUBLE)
              / (sa.set_size + sb.set_size - c.common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
    ),
    cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    csize AS (
        SELECT cluster_id, COUNT(*) AS cluster_size
        FROM cc GROUP BY cluster_id
    )
    SELECT d.doc_id,
           COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
           CAST(COALESCE(s.cluster_size, 1) AS BIGINT) AS cluster_size,
           1.0 / COALESCE(s.cluster_size, 1) AS weight
    FROM documents d
    LEFT JOIN cc ON cc.node = d.doc_id
    LEFT JOIN csize s USING (cluster_id)
    """,
)
def dedup_cluster_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates, every doc gets
    sampling weight 1/cluster_size over the exact-Jaccard cluster
    graph (singletons keep weight 1.0) — the down-weighting
    alternative to hard removal, which preserves rare phrasing inside
    duplicate clusters while equalizing each cluster's total mass to
    one document. Feed the weight column straight into
    sample_weighted_k / mix_token_budget for a dedup-aware mixture.

    Same distributed machinery as dedup_cluster_resolve (inverted-
    index pairs → min-label CC), then one broadcast join back to the
    corpus for the singleton fill — the cluster frame is |clustered
    docs|-sized, never corpus-sized. weight = 1/size is a division of
    exact integers (identical IEEE both engines)."""
    st = _star(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        st.documents, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_df=10_000,
    )
    clustered = dedup.resolve_clusters(pairs).select(
        F.col("doc_id"), "cluster_id", "cluster_size"
    )
    return (
        st.documents.select("doc_id")
        .join(F.broadcast(clustered), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
                "cluster_id"
            ),
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            (
                F.lit(1.0)
                / F.coalesce(F.col("cluster_size"), F.lit(1)).cast(
                    "double"
                )
            ).alias("weight"),
        )
    )


@query(
    "dedup_corpus_survivors",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc
        JOIN sizes sb ON c.doc_b = sb.doc
        WHERE CAST(c.common AS DOUBLE)
              / (sa.set_size + sb.set_size - c.common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
    ),
    cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    LEFT JOIN cc ON d.doc_id = cc.node
    WHERE cc.node IS NULL OR cc.node = cc.cluster_id
    """,
)
def dedup_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup decision APPLIED: documents minus the
    non-canonical members of every near-dup cluster (Jaccard >= 0.5 ->
    connected components -> keep the min-id doc per component). The
    corpus-side operation is a left anti join against the non-survivor
    list; its size is data-dependent (dup density), so no broadcast
    hint — the checkpointed list carries runtime stats and AQE picks
    broadcast when it fits."""
    st = _star(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        st.documents, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_df=10_000,
    )
    losers = (
        dedup.resolve_clusters(pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    return st.documents.join(losers, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "text_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS t
        FROM documents
    ),
    tf AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v FROM tf),
    lp AS (
        SELECT t,
               CAST(floor(ln((c + 1.0) / (n + v)) * 1000000
                          + 0.5) AS BIGINT) AS lp_micro
        FROM tf, tot
    )
    SELECT toks.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(lp.lp_micro) AS DOUBLE) / 1000000 / COUNT(*)
               AS mean_logp
    FROM toks JOIN lp ON toks.t = lp.t
    GROUP BY toks.doc_id
    """,
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: train a unigram LM (add-one
    smoothing) on the corpus itself, score each doc by mean token
    log-probability — boilerplate/TLD-spam scores low, typical prose
    high; the production filter drops the tails. Shape mirrors tf-idf:
    token stream → vocabulary-sized TF table with a broadcast 1-row
    total, log-probs broadcast back onto the stream, one groupBy(doc).
    Cross-engine exactness: each token's ln converts to EXACT integer
    micro-nats via the IDENTICAL IEEE sequence in both engines
    (ln·1e6 + 0.5, floor — never a decimal round(), whose algorithm
    differs between engines near .5 boundaries and mismatched at
    sf0.1), so the per-doc sum is an order-free long; the output is
    two raw double divisions of exact integers, also identical."""
    st = _star(spark, sf_dir)
    # r12: spread the narrow text frame before the tokenize+explode —
    # the stream is consumed twice (TF pass + scoring join), and both
    # scans otherwise run the regex on one core (guide §2.5; no-op at
    # scale).
    toks_stream = spread_narrow_input(
        st.documents.select("doc_id", "text")
    ).select(
        "doc_id",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("t"),
    )
    tf = toks_stream.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    tot = tf.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")
    )
    lp = tf.crossJoin(F.broadcast(tot)).select(
        "t",
        F.floor(
            F.log((F.col("c") + F.lit(1.0)) / (F.col("n") + F.col("v")))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long").alias("lp_micro"),
    )
    return (
        toks_stream.join(F.broadcast(lp), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("__s").cast("double")
                / F.lit(1_000_000.0)
                / F.col("n_tokens")
            ).alias("mean_logp"),
        )
    )


@query(
    "corpus_report",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))
                AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_en,
           COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ',
                                                  'g')))) AS n_unique,
           round(CAST(SUM(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')))
                      AS DOUBLE) / COUNT(*), 6) AS avg_tokens
    FROM documents
    GROUP BY source
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition dashboard: per-source doc/token/char volume,
    language spread, unique-content count (exact dup rate), mean doc
    length — the report a data-mixing decision reads. One partial-agg
    shuffle on source; token counts are exact integers summed in longs,
    the single division rounds once."""
    st = _star(spark, sf_dir)
    return (
        st.documents.select(
            "source", "lang", "n_chars",
            TX.token_count(F.col("text")).alias("__ntok"),
            TX.fingerprint(F.col("text")).alias("__fp"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ntok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(
                F.when(F.col("lang") == "en", 1).otherwise(0)
            ).alias("n_en"),
            F.countDistinct("__fp").alias("n_unique"),
            F.round(
                F.sum("__ntok").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tokens"),
        )
    )


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


@query(
    "dedup_incremental",
    oracle=f"""
    WITH batch AS (
        SELECT md5({_NORM_SQL}) AS fp, MIN(doc_id) AS doc_id
        FROM documents WHERE doc_id % 4 = 0
        GROUP BY md5({_NORM_SQL})
    ),
    corpus AS (
        SELECT DISTINCT md5({_NORM_SQL}) AS fp
        FROM documents WHERE doc_id % 4 <> 0
    )
    SELECT fp, doc_id FROM batch
    WHERE fp NOT IN (SELECT fp FROM corpus)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: an arriving batch (doc_id % 4 = 0
    stands in for 'today's crawl') deduped against itself and the
    existing corpus by content fingerprint. The batch fingerprint set
    broadcasts; the corpus contributes one map-side semi-join and is
    never shuffled — per-ingest cost stays O(batch), not O(corpus)."""
    st = _star(spark, sf_dir)
    batch = st.documents.filter(F.col("doc_id") % 4 == 0)
    corpus = st.documents.filter(F.col("doc_id") % 4 != 0)
    return dedup.incremental_exact_dedup(batch, corpus, "doc_id", "text")


# ---------------------------------------------------------------------------
# Benchmark decontamination (eval-set n-gram overlap)
# ---------------------------------------------------------------------------

#: Synthetic eval-set membership: deterministic md5-threshold draw so
#: the same ~2% of documents are "the benchmark" on every engine and
#: re-run (a real pipeline swaps this predicate for a scan of the
#: actual benchmark table; everything downstream is unchanged).
_EVAL_SEED = "eval-v1"
_EVAL_RATE = 0.02
_DECONTAM_N = 5

_EVAL_SQL = (
    f"substr(md5('{_EVAL_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)"
    f" < '{sampling.threshold_hex(_EVAL_RATE)}'"
)

#: Per-doc DISTINCT word 5-gram sets (lowercased \w+ tokens, docs
#: shorter than n contribute their whole token list — the
#: shingles_from_tokens contract, mirrored by the slice upper bound).
_DECONTAM_SH_SQL = f"""
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - {_DECONTAM_N - 1}, 1)),
                   i -> array_to_string(toks[i:i+{_DECONTAM_N - 1}], ' ')
               )) AS grams
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '\\w+') AS toks
              FROM documents) t
        WHERE len(toks) > 0
    ),
    ev AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE {_EVAL_SQL}),
    tr AS (SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
                  unnest(grams) AS g
           FROM sh WHERE NOT ({_EVAL_SQL}))
"""


@query(
    "decontam_overlap",
    oracle=f"""
    WITH {_DECONTAM_SH_SQL}
    SELECT tr.doc_id,
           COUNT(*) AS n_overlap,
           any_value(tr.n_grams) AS n_grams,
           round(CAST(COUNT(*) AS DOUBLE) / any_value(tr.n_grams), 6)
               AS overlap_ratio
    FROM tr JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    HAVING COUNT(*) >= 1
    """,
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/PaLM-style benchmark decontamination report: every
    training doc sharing a distinct word 5-gram with the eval set,
    with overlap count and contaminated share. 100 TB shape: the
    (small) eval gram set is broadcast, per-doc gram dedup stays
    map-side in the shingle array, and the only shuffle is the final
    partial-aggregated groupBy on doc_id."""
    st = _star(spark, sf_dir)
    return decontam.ngram_decontaminate(
        st.documents, "doc_id", "text",
        n=_DECONTAM_N, eval_seed=_EVAL_SEED, eval_rate=_EVAL_RATE,
    )


@query(
    "decontam_corpus",
    oracle=f"""
    WITH {_DECONTAM_SH_SQL},
    hits AS (
        SELECT tr.doc_id FROM tr JOIN ev ON tr.g = ev.g
        GROUP BY tr.doc_id HAVING COUNT(*) >= 1
    )
    SELECT doc_id, source, lang, n_chars
    FROM documents
    WHERE NOT ({_EVAL_SQL})
      AND doc_id NOT IN (SELECT doc_id FROM hits)
    """,
)
def decontam_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination decision APPLIED: the corpus minus eval
    docs minus contaminated docs — what actually ships to training.
    Left-anti join against the (small, broadcast) contaminated-id
    list; the big side is scanned once and never shuffled."""
    st = _star(spark, sf_dir)
    return decontam.decontaminated_corpus(
        st.documents, "doc_id", "text",
        n=_DECONTAM_N, eval_seed=_EVAL_SEED, eval_rate=_EVAL_RATE,
    ).select("doc_id", "source", "lang", "n_chars")


@query(
    "decontam_shuffled",
    oracle=f"""
    WITH {_DECONTAM_SH_SQL}
    SELECT tr.doc_id,
           COUNT(*) AS n_overlap,
           any_value(tr.n_grams) AS n_grams,
           round(CAST(COUNT(*) AS DOUBLE) / any_value(tr.n_grams), 6)
               AS overlap_ratio
    FROM tr JOIN ev ON tr.g = ev.g
    GROUP BY tr.doc_id
    HAVING COUNT(*) >= 1
    """,
)
def decontam_shuffled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination when the eval side is TOO BIG TO BROADCAST (a
    merged mega-benchmark suite, or corpus-vs-corpus decontamination):
    the contamination join runs as a shuffle-hash join on the hashed
    8-byte gram key — one extra exchange of the (map-side-distinct)
    gram stream, linear and skew-free, instead of an impossible
    broadcast. Result identical to decontam_overlap (shared oracle).

    Note on runtime bloom filters: Spark's InjectRuntimeFilter cannot
    prefilter this plan's big side because the join key is GENERATED
    (post-explode) — filter lineage stops at Generate, so there is no
    scan column to push might_contain onto (see join_bloom_pruned for
    the scan-column case where the engine does inject it). The
    map-side reducers here are array_distinct inside the doc and the
    8-byte hashed keys themselves."""
    st = _star(spark, sf_dir)
    return decontam.ngram_decontaminate_shuffled(
        st.documents, "doc_id", "text",
        n=_DECONTAM_N, eval_seed=_EVAL_SEED, eval_rate=_EVAL_RATE,
    )


@query("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup candidates (Hamming ≤ 8 via 16-bit band
    collisions). Rows-only; recall vs exact checked in tests."""
    st = _star(spark, sf_dir)
    return dedup.simhash_pairs(st.documents, "doc_id", "text", max_hamming=8)


_DOT_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


@query(
    "dedup_embedding_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / nullif(sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
                      * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}), 0),
               6) AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(
               {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / nullif(sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
                      * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}), 0),
               6) >= 0.5
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (cosine ≥ 0.5, a < b) — the
    brute-force ground truth the LSH variant approximates. Sequential
    fold = deterministic doubles; rounded to 1e-6 for hash parity."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_rounded(F.col("a.embedding"), F.col("b.embedding")).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= 0.5)
    )


@query("dedup_embedding_lsh", oracle=None)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs (threshold 0.9) — the
    scale path (no self-crossJoin). Rows-only; recall vs the exact
    pairs query asserted in tests."""
    st = _star(spark, sf_dir)
    return similarity.embedding_cosine_dedup(st.embeddings, threshold=0.9)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(
                   {_DOT_SQL.format(a='q.qv', b='e.embedding')}
                   / nullif(sqrt({_DOT_SQL.format(a='q.qv', b='q.qv')})
                          * sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')}), 0),
                   6) AS cosine_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cosine_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id
        ) AS rnk
        FROM scored
    )
    WHERE rnk <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors: broadcast
    queries, one corpus scan, per-query top-k. The ANN baseline."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    return similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10,
    )


@query(
    "ann_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                      embedding AS qv
               FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, q.query_label,
               e.vec_id AS neighbor_id, e.label AS neighbor_label,
               round(
                   {{dot_qe}}
                   / nullif(sqrt({{dot_qq}})
                          * sqrt({{dot_ee}}), 0),
                   6) AS cosine_sim
        FROM q JOIN embeddings e ON e.label <> q.query_label
    )
    SELECT query_id, query_label, CAST(rnk AS INTEGER) AS rank,
           neighbor_id, neighbor_label, cosine_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id
        ) AS rnk
        FROM scored
    )
    WHERE rnk <= 10
    """.format(
        dot_qe=_DOT_SQL.format(a="q.qv", b="e.embedding"),
        dot_qq=_DOT_SQL.format(a="q.qv", b="q.qv"),
        dot_ee=_DOT_SQL.format(a="e.embedding", b="e.embedding"),
    ),
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query
    vector, the 10 most-similar corpus vectors with a DIFFERENT label
    — the confusable negatives that carry the gradient signal in a
    contrastive batch (random negatives are trivially separated;
    retrieval-training recipes mine exactly this). Same plan as
    ann_cosine_topk (broadcast queries, codegen cosine, partial
    WindowGroupLimit) with the cross-label predicate as one extra
    codegen filter on the scored stream; at 100 TB the scoring pass
    scales with the corpus like the baseline — swap in the LSH/IVF
    tiers for candidate generation and keep this as the exact
    re-scorer over candidates."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    return similarity.hard_negatives(
        e, e.filter(F.col("vec_id") < 5), k=10
    )


@query("ann_lsh_topk", oracle=None)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane buckets + 1-bit
    multiprobe — corpus never broadcast/crossed. Rows-only; recall vs
    exact asserted in tests."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    return similarity.lsh_topk(e, e.filter(F.col("vec_id") < 5), k=10)


#: DuckDB twin of functions.vectors.int8_scale / dequantize_int8.
_Q8_SCALE_SQL = (
    "list_max(list_transform({v}, x -> abs(CAST(x AS DOUBLE)))) / 127.0"
)
_Q8_DEQUANT_SQL = (
    "list_transform({v}, x -> floor(CAST(x AS DOUBLE) / nullif({s}, 0.0)"
    " + 0.5) * nullif({s}, 0.0))"
)


@query(
    "emb_quantize_stats",
    oracle=f"""
    WITH dq AS (
        SELECT vec_id, label, embedding,
               {_Q8_SCALE_SQL.format(v='embedding')} AS scale,
               {_Q8_DEQUANT_SQL.format(v='embedding', s=_Q8_SCALE_SQL.format(v='embedding'))} AS vq
        FROM embeddings
    )
    SELECT vec_id, label,
           round(scale, 9) AS scale,
           round(list_max(list_transform(
               list_zip(embedding, vq),
               p -> abs(CAST(p[1] AS DOUBLE) - p[2]))), 9) AS max_abs_err,
           round(
               {_DOT_SQL.format(a='embedding', b='vq')}
               / nullif(sqrt({_DOT_SQL.format(a='embedding', b='embedding')})
                      * sqrt({_DOT_SQL.format(a='vq', b='vq')}), 0),
               6) AS cos_dequant
    FROM dq
    """,
)
def emb_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization fidelity: scale,
    worst-element reconstruction error, and cosine(original,
    dequantized). The scale path for ANN memory (4× smaller corpus
    vectors); pure map-side codegen, no shuffle — and the exact
    arithmetic (floor-based rounding, one IEEE division) makes even
    this float-heavy op bit-exact against the oracle."""
    from sales_etl_spark.functions.vectors import (
        cosine_rounded,
        dequantize_int8,
        int8_scale,
    )

    st = _star(spark, sf_dir)
    base = st.embeddings.select(
        "vec_id", "label", "embedding",
        int8_scale("embedding").alias("__scale"),
    ).select(
        "vec_id", "label", "embedding", "__scale",
        dequantize_int8("embedding", F.col("__scale")).alias("__vq"),
    )
    err = F.array_max(
        F.zip_with(
            F.transform("embedding", lambda x: x.cast("double")),
            F.col("__vq"),
            lambda a, b: F.abs(a - b),
        )
    )
    return base.select(
        "vec_id", "label",
        F.round("__scale", 9).alias("scale"),
        F.round(err, 9).alias("max_abs_err"),
        cosine_rounded("embedding", "__vq").alias("cos_dequant"),
    )


@query(
    "ann_quantized_topk",
    oracle=f"""
    WITH dq AS (
        SELECT vec_id,
               {_Q8_DEQUANT_SQL.format(v='embedding', s=_Q8_SCALE_SQL.format(v='embedding'))} AS vq
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(
                   {_DOT_SQL.format(a='q.qv', b='e.vq')}
                   / nullif(sqrt({_DOT_SQL.format(a='q.qv', b='q.qv')})
                          * sqrt({_DOT_SQL.format(a='e.vq', b='e.vq')}), 0),
                   6) AS cosine_sim
        FROM q JOIN dq e ON e.vec_id <> q.query_id
    )
    SELECT query_id, CAST(rnk AS INTEGER) AS rank, neighbor_id, cosine_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY cosine_sim DESC, neighbor_id
        ) AS rnk
        FROM scored
    )
    WHERE rnk <= 10
    """,
)
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine against the int8-DEQUANTIZED corpus
    (full-precision queries) — what brute-force scoring over an
    int8-stored corpus returns. Same broadcast + WindowGroupLimit
    shape as ann_cosine_topk; the dequantization is one extra
    map-side transform on the corpus leg. Recall vs the
    full-precision ranking is asserted in tests/test_similarity.py."""
    from sales_etl_spark.functions.vectors import (
        dequantize_int8,
        int8_scale,
    )

    st = _star(spark, sf_dir)
    e = st.embeddings
    corpus = e.select(
        "vec_id",
        dequantize_int8("embedding", int8_scale("embedding")).alias(
            "embedding"
        ),
    )
    return similarity.cosine_topk(
        corpus, e.filter(F.col("vec_id") < 5), k=10
    )


@query(
    "emb_norm_stats",
    oracle=f"""
    SELECT vec_id, label,
           round(sqrt({_DOT_SQL.format(a='embedding', b='embedding')}), 6)
               AS l2_norm
    FROM embeddings
    """,
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm (embedding hygiene check before cosine ops)."""
    st = _star(spark, sf_dir)
    from sales_etl_spark.functions.vectors import norm

    return st.embeddings.select(
        "vec_id", "label", F.round(norm("embedding"), 6).alias("l2_norm")
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_length,
           md5(text) AS content_hash,
           CAST(16 + CAST('0x' || substr(sha256(text), 1, 2) AS INTEGER) % 240
                AS INTEGER) AS width,
           CAST(16 + CAST('0x' || substr(sha256(text), 3, 2) AS INTEGER) % 240
                AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1
                ELSE 1 + CAST('0x' || substr(sha256(text), 5, 2) AS INTEGER) % 64
                END AS INTEGER) AS n_frames
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYNTHETIC-PAYLOAD compatibility twin — NO real decode: the
    kernel derives width/height/frames from a content hash
    (decode_stub=True), standing in for external-lib codecs (libav
    etc.) this environment lacks. What it genuinely tests is the
    Arrow row-kernel plumbing — binary payloads crossing to Python
    once per batch under a fixed output schema — byte-for-byte
    against an oracle that replicates the stub. For REAL decode use
    the media_* tier (media_png_decode / media_jpeg_decode /
    media_gif_decode / media_wav_samples / media_mjpeg_frames),
    whose pixels and samples come from actual codecs."""
    st = _star(spark, sf_dir)
    media = multimodal.documents_as_media(st.documents)
    return multimodal.featurize_media(media, decode_stub=True)


@query(
    "multimodal_frames",
    oracle="""
    WITH vids AS (
        SELECT doc_id AS media_id,
               1 + CAST('0x' || substr(sha256(text), 5, 2) AS INTEGER) % 64
                   AS n_frames
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT media_id, CAST(unnest(generate_series(0, n_frames - 1, 10))
                          AS INTEGER) AS frame_idx
    FROM vids
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYNTHETIC-PAYLOAD compatibility twin — NO real decode: frame
    COUNTS come from the stub's hash-derived metadata, exercising the
    row-multiplying row-kernel explode shape (one row per video per
    every-10th frame index). The REAL video path is
    media_mjpeg_frames: actual AVI container walk + per-frame JPEG
    decode with pixel-level oracle checks."""
    st = _star(spark, sf_dir)
    media = multimodal.documents_as_media(st.documents)
    return multimodal.sample_frames(media, every_n=10).select(
        "media_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch forms; streaming twins in streaming/)
# ---------------------------------------------------------------------------


@query(
    "events_json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props extraction (semi-structured column surface)."""
    st = _star(spark, sf_dir)
    return st.events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "events_window_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def events_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event type — identical
    expression serves batch and streaming (streaming/windows.py)."""
    st = _star(spark, sf_dir)
    return tumbling_agg(st.events, "1 hour")


@query(
    "events_window_sliding",
    oracle="""
    WITH expanded AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               value
        FROM events
    )
    SELECT w AS window_start, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM expanded GROUP BY w
    """,
)
def events_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event in exactly two
    windows; the oracle expands the two buckets explicitly)."""
    st = _star(spark, sf_dir)
    return sliding_agg(st.events, "1 hour", "30 minutes")


@query(
    "events_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts)
                    < INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 30-min inactivity gap. Session end =
    last event + gap (Spark session_window half-open semantics; the
    oracle sessionizes with lag + cumulative flag — merge iff the gap
    is strictly less than 30 min)."""
    st = _star(spark, sf_dir)
    return session_agg(st.events, "30 minutes")


# ---------------------------------------------------------------------------
# Connector round-trips
# ---------------------------------------------------------------------------


@query(
    "scan_csv",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector round-trip (reference S1: CSV scan with explicit
    schema): write a CSV projection of documents to scratch, read it
    back typed. Proves the schema-first CSV path end-to-end."""
    from pyspark.sql import types as T

    st = _star(spark, sf_dir)
    out = _scratch("scan_csv", sf_dir)
    st.documents.select("doc_id", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).option("header", True).csv(str(out))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.read.csv(str(out), header=True, schema=schema)


@query(
    "sink_roundtrip",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           l_shipdate
    FROM lineitem
    """,
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink round-trip (reference S4's batch load as a lake
    write): full-fidelity write + re-read of lineitem, including NTZ
    timestamps."""
    from sales_etl_spark.load import write_parquet

    st = _star(spark, sf_dir)
    out = str(_scratch("sink_roundtrip", sf_dir))
    write_parquet(st.lineitem, out)
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# Skew mitigation + JSON connector
# ---------------------------------------------------------------------------


@query(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag AS returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a pathologically hot key
    (l_returnflag has 3 values → 3 reducers unsalted, regardless of
    cluster size). The salt splits each hot key across 16 reducers;
    DECIMAL partials make the merged result bit-identical to the
    oracle's plain GROUP BY — the distributed-only rewrite is fully
    hash-checkable (operators/skew.py)."""
    from sales_etl_spark.operators import skew

    st = _star(spark, sf_dir)
    out = skew.salted_agg(
        st.lineitem.select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
            F.col("l_quantity").alias("qty"),
        ),
        keys=["returnflag"],
        aggs={
            "n_lines": ("count", F.lit(1)),
            "total_price": ("sum", F.col("price")),
            "max_qty": ("max", F.col("qty")),
        },
        n_salts=16,
    )
    return out.select(
        "returnflag",
        "n_lines",
        F.col("total_price").cast("double").alias("total_price"),
        "max_qty",
    )


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '1997-06-01'
    GROUP BY 1
    """,
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact join with Spark's RUNTIME BLOOM FILTER pruning the
    big side's scan: the selective orders filter (priority + date)
    aggregates into a bloom whose ``might_contain(l_orderkey)``
    predicate is injected ABOVE the lineitem scan — non-candidate
    lines drop map-side, before the shuffle, so the exchange carries
    only (matches + the bloom's false-positive share) instead of the
    whole fact. The exact join then removes false positives; results
    are exact. This is the 100 TB shape for a fact⨝fact join whose
    dim-like side is too big to broadcast but highly filtered:
    SortMergeJoin forced by hint, bloom rebuilding most of the
    broadcast advantage. Plan shape (might_contain + bloom_filter_agg,
    no broadcast) locked by tests/test_plans.py.

    The cluster regime (orders past the broadcast threshold, corpus
    past the 10 GB application-side floor — where injection fires on
    DEFAULT confs) is modeled in an ISOLATED child session
    (``newSession``: shared context, independent conf), because
    InjectRuntimeFilter declines any join it could broadcast by size
    — and un-scoped conf overrides would strip every other query's
    dim broadcasts."""
    spark = pin_semantics(spark.newSession())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold", "0"
    )
    st = _star(spark, sf_dir)
    o = st.orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (
            F.col("o_orderdate")
            >= F.lit("1997-06-01").cast("timestamp_ntz")
        )
    ).select("o_orderkey", "o_orderdate")
    li = st.lineitem.select("l_orderkey", "l_extendedprice")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "scan_jsonl",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector round-trip: write a documents projection
    as JSONL, read it back with an explicit schema (no inference pass
    — at scale schema inference is a full extra read of the corpus)."""
    from pyspark.sql import types as T

    st = _star(spark, sf_dir)
    out = _scratch("scan_jsonl", sf_dir)
    st.documents.select("doc_id", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).json(str(out))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.read.json(str(out), schema=schema)


@query(
    "scan_orc",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector round-trip (columnar alternative to parquet,
    native vectorized reader): write a documents projection as ORC,
    read it back — schema travels in the file footer, so unlike
    CSV/JSONL no explicit StructType is needed and pruning/pushdown
    still reach the scan."""
    st = _star(spark, sf_dir)
    out = _scratch("scan_orc", sf_dir)
    st.documents.select("doc_id", "lang", "source", "n_chars").write.mode(
        "overwrite"
    ).orc(str(out))
    return spark.read.orc(str(out))


@query("ann_ivf_topk", oracle=None)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF-flat (sample-trained spherical
    k-means lists, n_probe nearest lists per query, exact re-rank
    inside) — candidates shrink to ~n_probe/n_centroids of the
    corpus. Rows-only; recall vs exact asserted in tests."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    return similarity.ivf_topk(
        e, e.filter(F.col("vec_id") < 5), k=10,
        n_centroids=16, n_probe=4,
    )


@query(
    "text_quality_filter",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\\w+')) AS n_words,
               CASE WHEN length(text) > 0
                    THEN CAST(len(regexp_extract_all(text, '[^\\w\\s]'))
                              AS DOUBLE) / length(text)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN len(regexp_extract_all(lower(text), '\\w+')) > 0
                    THEN CAST(len(list_filter(
                             regexp_extract_all(lower(text), '\\w+'),
                             t -> t IN ('the','a','of','and','to','in','is')))
                         AS DOUBLE)
                         / len(regexp_extract_all(lower(text), '\\w+'))
                    ELSE 0.0 END AS stopword_ratio
        FROM documents
    )
    SELECT doc_id, n_words, punct_ratio, stopword_ratio,
           (n_words >= 5 AND n_words <= 100000
            AND punct_ratio < 0.30
            AND stopword_ratio >= 0.01) AS keep
    FROM feats
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-corpus quality gate (Gopher-rule style): word-count
    band + punctuation ceiling + stopword floor composed into one
    boolean ``keep``. Emitted as a flag column rather than a filter so
    the decision is auditable; the production pipeline filters on it
    (a pushdown-eligible predicate, zero UDFs)."""
    st = _star(spark, sf_dir)
    n_words = TX.word_count("text")
    punct = TX.punct_ratio("text")
    stop = TX.stopword_ratio("text")
    return st.documents.select(
        "doc_id",
        n_words.alias("n_words"),
        punct.alias("punct_ratio"),
        stop.alias("stopword_ratio"),
        (
            (n_words >= 5)
            & (n_words <= 100000)
            & (punct < 0.30)
            & (stop >= 0.01)
        ).alias("keep"),
    )


@query("agg_approx_distinct", oracle=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB swap for exact count-distinct (SCALE.md §3):
    approx_count_distinct (HyperLogLog++, rsd=2%) per category — ONE
    exchange instead of the distinct-expand's two, constant memory per
    group. Rows-only check; the ±2% accuracy contract vs the exact
    count is asserted in tests (test_queries_extra.py)."""
    st = _star(spark, sf_dir)
    return st.orders.groupBy(
        F.col("o_orderpriority").alias("category")
    ).agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias(
            "approx_customers"
        )
    )


@query(
    "join_salted_skew",
    oracle="""
    SELECT o.o_orderpriority AS category,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py): the big side is salted,
    the small side replicated n_salts× so one hot key spreads over 16
    tasks — and the aggregate downstream proves the rewrite is
    result-identical to the oracle's plain join (decimal sums make the
    check bit-exact). The explicit form of what AQE's skew splitting
    does at runtime, for when the salted partitioning must persist
    into downstream stages."""
    from sales_etl_spark.operators import skew

    st = _star(spark, sf_dir)
    li = st.lineitem.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    o = st.orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_orderpriority").alias("category"),
    )
    joined = skew.salted_join(li, o, on=["order_id"], n_salts=16)
    return joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("price").cast("double").alias("total_price"),
    )


@query(
    "text_term_freq",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term
        FROM documents
    ),
    counts AS (
        SELECT term,
               COUNT(*) AS tf,
               COUNT(DISTINCT doc_id) AS df
        FROM toks GROUP BY term
    )
    SELECT term, tf, df
    FROM counts
    QUALIFY row_number() OVER (ORDER BY tf DESC, term) <= 50
    """,
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 terms by total frequency
    with document frequency — the tokenizer-training / stopword-
    discovery primitive. explode → one groupBy carrying both TF and
    exact DF (distinct over doc_id), top-k via TakeOrderedAndProject.
    At 100 TB swap the exact DF for approx_count_distinct and the
    global top-k stays cheap (it cuts after the aggregate, which is
    |vocabulary|-sized, not corpus-sized)."""
    st = _star(spark, sf_dir)
    toks = st.documents.select(
        "doc_id",
        F.explode(
            TX.tokens(TX.normalize_text("text"), TX.WORD_RE)
        ).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )
    return (
        counts.orderBy(F.desc("tf"), F.asc("term"))
        .limit(50)
    )


@query(
    "text_tfidf_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
                          * 1000000 + 0.5) AS BIGINT) / 1000000.0
                   AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document. Shape at scale: per-doc TF
    is one groupBy of the exploded tokens; the DF table is
    vocabulary-sized and BROADCAST back onto it (never a shuffle of
    the token stream against itself); idf = ln(N/df) computed
    identically in both engines (tf and df are exact integers, ln and
    multiply are deterministic — but ln itself is NOT correctly
    rounded cross-engine (JVM vs libm differ by an ulp), so the score
    collapses to integer micro-units via the IDENTICAL IEEE sequence
    floor(x*1e6 + 0.5) in BOTH engines BEFORE ranking — never a
    decimal round(), whose algorithm differs between engines near .5
    boundaries (the text_lm_score sf0.1 lesson); per-doc top-3 via
    rank window with a term tiebreak."""
    st = _star(spark, sf_dir)
    toks = st.documents.select(
        "doc_id",
        F.explode(
            TX.tokens(TX.normalize_text("text"), TX.WORD_RE)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # N rides the plan as a broadcast 1-row aggregate (no driver-side
    # count() job per invocation); the cross join is 1 × |vocabulary|.
    n_docs = st.documents.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs")
    )
    df_tbl = (
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    scored = tf.join(F.broadcast(df_tbl), "term").select(
        "doc_id",
        "term",
        (
            F.floor(
                F.col("tf")
                * F.log(F.col("__n_docs") / F.col("df"))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1_000_000.0)
        ).alias("tfidf"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "text_ngram_topk",
    oracle=f"""
    WITH grams AS (
        SELECT unnest(list_transform(
                   generate_series(1, greatest(len(toks) - 1, 1)),
                   i -> array_to_string(toks[i:i+1], ' ')
               )) AS gram
        FROM (SELECT regexp_extract_all(lower(text), '\\w+') AS toks
              FROM documents) t
        WHERE len(toks) > 1
    )
    SELECT gram, COUNT(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram
    LIMIT 25
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word bigrams — the vocabulary/collocation
    report that seeds stopword-shingle caps and tokenizer audits.
    One partial-agg shuffle on the gram, then TakeOrderedAndProject
    (count desc, gram asc tiebreak — a total order, so the top-k is
    deterministic under any partitioning); the gram strings shuffle
    only AFTER map-side combine collapses them to vocabulary size."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    base = st.documents.select(toks.alias("__toks"))
    k = F.size("__toks")
    grams = F.when(
        k > 1, TX.shingles_from_tokens(F.col("__toks"), 2)
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Partition pruning end-to-end (SCALE.md §2's claim, demonstrated)
# ---------------------------------------------------------------------------


@query(
    "scan_partition_prune",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-01' AND '1997-12'
    GROUP BY 1
    """,
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned lake layout, written AND pruned end-to-end:
    orders land as ``order_month=YYYY-MM/`` hive-partitioned parquet
    (load.write_parquet partition_by — the 100 TB replacement for the
    reference's whole-table TRUNCATE+reload: a daily load rewrites only
    its own partition), then the month-range query reads back through
    the partition filter. The scan's ``PartitionFilters`` prunes at the
    DIRECTORY level — non-matching months contribute zero files, zero
    footers, zero IO; at 100 TB that is the difference between reading
    ~1/80th of the table and reading all of it. Plan shape + actual
    scanned-file count are locked by tests/test_plans.py."""
    from sales_etl_spark.load import write_parquet

    st = _star(spark, sf_dir)
    out = str(_scratch("partitioned_orders", sf_dir))
    write_parquet(
        st.orders.select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        ),
        out,
        partition_by=["order_month"],
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("order_month").between("1997-01", "1997-12"))
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


#: Late-correction window for the partition-backfill demo: Q1-1995
#: order prices double after the mart first materialized.
_BACKFILL_LO = "1995-01-01"
_BACKFILL_HI = "1995-04-01"


@query(
    "mart_backfill_partitions",
    oracle=f"""
    WITH up AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               CAST(o_totalprice AS DECIMAL(18,2))
               * CASE WHEN o_orderdate >= CAST('{_BACKFILL_LO}' AS TIMESTAMP)
                       AND o_orderdate <  CAST('{_BACKFILL_HI}' AS TIMESTAMP)
                      THEN 2 ELSE 1 END AS p
        FROM orders
    )
    SELECT order_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p) AS DOUBLE) AS revenue
    FROM up GROUP BY 1
    """,
)
def mart_backfill_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level mart BACKFILL — the 100 TB late-data pattern:
    the month-partitioned revenue mart materializes, THEN an upstream
    correction lands (Q1-1995 prices double); instead of a full
    rebuild, the backfill derives the affected months FROM THE
    CORRECTION SET (a distributed distinct, broadcast as a semi-join
    filter), recomputes mart rows for those months only, and rewrites
    them with DYNAMIC partition overwrite — untouched month
    directories keep their physical files (asserted byte-level in
    tests/test_queries_extra.py). At 100 TB this is the difference
    between rewriting ~3/80 partitions and rewriting the mart; the
    final state must equal the oracle's full relational rebuild, so
    the split-then-patch sequence provably loses nothing. Scratch
    build is idempotent/crash-safe (completion sentinel)."""
    import shutil
    from pathlib import Path

    from sales_etl_spark.load import write_parquet

    st = _star(spark, sf_dir)
    out = str(_scratch("backfill_mart", sf_dir))
    done = Path(out) / "_build_complete"
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        # v1: the mart as first materialized (pre-correction upstream)
        write_parquet(
            st.orders.groupBy(month).agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            ),
            out,
            partition_by=["order_month"],
        )
        # the correction arrives: derive affected months from it,
        # recompute ONLY those months from corrected upstream
        in_window = F.col("o_orderdate").between(
            F.lit(_BACKFILL_LO).cast("timestamp_ntz"),
            F.lit(_BACKFILL_HI).cast("timestamp_ntz"),
        ) & (
            F.col("o_orderdate")
            < F.lit(_BACKFILL_HI).cast("timestamp_ntz")
        )
        affected = (
            st.orders.filter(in_window).select(month).distinct()
        )
        corrected_price = F.col("o_totalprice").cast(
            "decimal(18,2)"
        ) * F.when(in_window, F.lit(2)).otherwise(F.lit(1))
        fix = (
            st.orders.select(month, corrected_price.alias("p"))
            .join(F.broadcast(affected), "order_month", "left_semi")
            .groupBy("order_month")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("p").cast("double").alias("revenue"),
            )
        )
        write_parquet(
            fix,
            out,
            mode="overwrite",
            partition_by=["order_month"],
            dynamic_partition_overwrite=True,
        )
        done.touch()
    return spark.read.parquet(out).select(
        "order_month", "n_orders", "revenue"
    )


# ---------------------------------------------------------------------------
# Corpus analytics: pairwise source overlap matrix (round 4)
# ---------------------------------------------------------------------------


@query(
    "corpus_overlap_matrix",
    oracle=f"""
    WITH sg AS (
        SELECT DISTINCT source, g
        FROM (
            SELECT source,
                   unnest(list_distinct(list_transform(
                       generate_series(
                           1, greatest(len(toks) - {_DECONTAM_N - 1}, 1)
                       ),
                       i -> array_to_string(
                           toks[i:i+{_DECONTAM_N - 1}], ' '
                       )
                   ))) AS g
            FROM (SELECT source,
                         regexp_extract_all(lower(text), '\\w+') AS toks
                  FROM documents) t
            WHERE len(toks) > 0
        )
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared,
           round(CAST(COUNT(*) AS DOUBLE) / any_value(ta.n), 6)
               AS share_of_a,
           round(CAST(COUNT(*) AS DOUBLE) / any_value(tb.n), 6)
               AS share_of_b
    FROM sg a
    JOIN sg b ON a.g = b.g AND a.source < b.source
    JOIN tot ta ON ta.source = a.source
    JOIN tot tb ON tb.source = b.source
    GROUP BY a.source, b.source
    """,
)
def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source contamination matrix: for every source
    pair, how many distinct word 5-grams they share and what fraction
    of each side's gram vocabulary that is — the corpus-level view of
    decontamination (which sources bleed into which), the report a
    data-mixture owner reads before assigning dedup/mixing priorities.

    100 TB shape: per-doc grams dedup map-side (array_distinct) and
    hash to fixed 8-byte keys; ONE exchange builds the distinct
    (source, gram) vocabulary; the pair join is a self-join keyed on
    the gram with per-key multiplicity bounded by |sources| (≤ dozens)
    — never by corpus size — so its output is linear in vocabulary.
    Per-source totals broadcast back for the share columns. The oracle
    runs string grams where Spark runs xxhash64 keys: aggregates match
    unless 64-bit grams collide (the same standing assumption every
    hashed-gram operator here documents)."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    # r11 optimization-round plan (guide §2.3/§2.4): ONE exchange —
    # groupBy(gram) with collect_set(source) performs the (source,
    # gram) distinct AND builds the posting list in the same shuffle,
    # where the old plan evaluated the scan+tokenize+distinct THREE
    # times (totals + self-join sides a AND b) and moved the gram
    # stream through four exchanges. Posting lists are bounded by
    # |sources| (≤ dozens — the data model), so in-bucket pair
    # generation is a map-side array fold; per-source totals fall out
    # of the exploded postings at gram-vocabulary grain.
    post = (
        st.documents.select("source", toks.alias("__toks"))
        .select(
            "source",
            F.explode(
                F.array_distinct(dedup._hashed_gram_array(_DECONTAM_N))
            ).alias("g"),
        )
        .groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("__srcs"))
        .cache()  # two consumers: per-source totals + pair counts
    )
    tot = (
        post.select(F.explode("__srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        post.filter(F.size("__srcs") >= 2)
        .select(
            "__srcs", F.posexplode("__srcs").alias("__i", "source_a")
        )
        .select(
            "source_a",
            F.explode(
                F.slice(
                    "__srcs", F.col("__i") + F.lit(2), F.size("__srcs")
                )
            ).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("n").alias("__na")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("n").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.col("__na"), 6
            ).alias("share_of_a"),
            F.round(
                F.col("n_shared").cast("double") / F.col("__nb"), 6
            ).alias("share_of_b"),
        )
    )


@query(
    "scan_zorder_prune",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS total_value
    FROM events
    WHERE date_part('hour', ts) BETWEEN 6 AND 11
      AND value BETWEEN 50 AND 150
    GROUP BY event_type
    """,
)
def scan_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order lake layout end-to-end: events land clustered by the
    Morton key of (hour-of-day, value) — load.zorder_value — and the
    2-D rectangle query (hour AND value range) reads back through
    tight per-file min/max stats on BOTH columns; 1-D clustering
    could only serve one. Correctness never depends on the layout
    (the raw-column filters decide), so the oracle runs on the
    unclustered source; the pruning property itself is locked by the
    sink tests on real parquet footers. Bucket domains are fixed
    (hour 0-23, value 0-500 with clamp-to-edge for outliers) so the
    layout is stable across scale factors."""
    from sales_etl_spark.load import write_parquet, zorder_value

    st = _star(spark, sf_dir)
    ev = st.events.select(
        "event_type", "ts", "value", F.hour("ts").alias("hr")
    )
    out = str(_scratch("zordered_events", sf_dir))
    write_parquet(
        ev.withColumn(
            "__z",
            zorder_value(
                F.col("hr"), 0, 23, F.col("value"), 0, 500, bits=8
            ),
        ),
        out,
        cluster_by=["__z"],
        max_records_per_file=2_000,
    )
    return (
        spark.read.parquet(out)
        .filter(F.col("hr").between(6, 11) & F.col("value").between(50, 150))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus pipeline, oracle-checked as ONE query (round 4)
# ---------------------------------------------------------------------------

_E2E_CAP = 15


@query(
    "corpus_pipeline_e2e",
    oracle=f"""
    WITH RECURSIVE
    csh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(toks) - {_DECONTAM_N - 1}, 1)),
                   i -> array_to_string(toks[i:i+{_DECONTAM_N - 1}], ' ')
               )) AS grams
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '\\w+') AS toks
              FROM documents) t
        WHERE len(toks) > 0
    ),
    ev AS (SELECT DISTINCT unnest(grams) AS g FROM csh WHERE {_EVAL_SQL}),
    tr AS (SELECT doc_id, unnest(grams) AS g FROM csh
           WHERE NOT ({_EVAL_SQL})),
    hits AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.g = ev.g),
    clean AS (
        SELECT * FROM documents
        WHERE NOT ({_EVAL_SQL})
          AND doc_id NOT IN (SELECT doc_id FROM hits)
    ),
    shingled AS (
        SELECT doc_id AS doc,
               list_transform(
                   generate_series(1, greatest(len({_TOKS}) - 2, 1)),
                   i -> array_to_string(({_TOKS})[i:i+2], ' ')
               ) AS sh
        FROM clean
        WHERE len({_TOKS}) > 0
    ),
    sh AS (SELECT DISTINCT doc, unnest(sh) AS shingle FROM shingled),
    sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
    common AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
        GROUP BY a.doc, b.doc
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM common c
        JOIN sizes sa ON c.doc_a = sa.doc
        JOIN sizes sb ON c.doc_b = sb.doc
        WHERE CAST(c.common AS DOUBLE)
              / (sa.set_size + sb.set_size - c.common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.node
    ),
    cc AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    survivors AS (
        SELECT c2.doc_id, c2.source
        FROM clean c2 LEFT JOIN cc ON c2.doc_id = cc.node
        WHERE cc.node IS NULL OR cc.node = cc.cluster_id
    )
    SELECT doc_id, source, domain_rank
    FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5('cap-v1:' || CAST(doc_id AS VARCHAR)),
                                   1, 8),
                            doc_id
               ) AS INTEGER) AS domain_rank
        FROM survivors
    ) ranked
    WHERE domain_rank <= {_E2E_CAP}
    """,
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard pretraining scrub as ONE oracle-checked
    composition — the README's pipeline, end to end: benchmark
    decontamination (eval docs + 5-gram-contaminated docs out) →
    near-dup resolution (3-gram Jaccard ≥ 0.5 → connected components
    → min-id survivor per cluster) → per-source domain cap. Every
    stage is also a registered query on its own; this entry proves
    the COMPOSITION is still bit-exact against a single chained SQL
    oracle (recursive CTE and all) — operators compose without
    re-materialization because each returns a plain DataFrame plan.
    Shuffle budget = the sum of its stages': the corpus text is
    scanned once per gram pass, never collected."""
    st = _star(spark, sf_dir)
    clean = decontam.decontaminated_corpus(
        st.documents, "doc_id", "text",
        n=_DECONTAM_N, eval_seed=_EVAL_SEED, eval_rate=_EVAL_RATE,
    )
    pairs = dedup.ngram_jaccard_pairs(
        clean, "doc_id", "text", n=3, threshold=0.5,
        max_shingle_df=10_000,
    )
    losers = (
        dedup.resolve_clusters(pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id")
    )
    survivors = clean.join(losers, "doc_id", "left_anti")
    return sampling.domain_cap(
        survivors.select("doc_id", "source"),
        "source", "doc_id", _E2E_CAP, seed="cap-v1",
    )


@query(
    "sample_weighted_k",
    oracle=sampling.weighted_sample_oracle_sql(
        "documents", "source", "doc_id", "n_chars",
        "doc_id, source, n_chars", k=10, seed="wsample-v1",
    ),
)
def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling without replacement, 10 docs per
    source with selection probability ∝ n_chars (longer docs carry
    more training tokens — the A-ES sampler the mixing family was
    missing). Deterministic across engines/partitionings: exact-
    integer uniform draw, micro-collapsed ln-key, id tiebreak
    (operators/sampling.py weighted_sample_k)."""
    st = _star(spark, sf_dir)
    return sampling.weighted_sample_k(
        st.documents.select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", k=10, seed="wsample-v1",
    )


# ---------------------------------------------------------------------------
# Feature hashing (hashing-trick bag of words)
# ---------------------------------------------------------------------------

#: Hashing-vectorizer spec: 64 buckets, md5-based (the one hash both
#: engines compute bit-identically; see the classifier/sampler family).
_HF_SEED = "hf-v1"
_HF_DIM = 64


@query(
    "text_hash_features",
    oracle=f"""
    SELECT doc_id,
           CAST(b AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5('{_HF_SEED}:' || t), 1, 8)
                    AS BIGINT) % {_HF_DIM} AS b
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\\w+')) AS t
              FROM documents) u
    ) s
    GROUP BY doc_id, b
    """,
)
def text_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words (sparse): each token md5-hashes into
    one of 64 buckets and the doc's feature vector is the per-bucket
    count, emitted sparse as (doc_id, bucket, n) — the vocabularyless
    featurization classic (no dictionary to build, broadcast, or keep
    consistent across 100 TB of shards).

    Spark-first plan: MAP-ONLY. One md5 per token builds the bucket
    list, an in-row fold accumulates the 64-slot count array, and
    posexplode + filter emits the sparse pairs — no explode-then-
    groupBy exchange of the token stream (the right trade at dim=64;
    for dims ≫ tokens-per-doc the explode + partial-agg shuffle wins
    and this plan should flip). Counting is order-free integer work,
    so the map-side fold and the oracle's flat GROUP BY agree
    exactly."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    bucket = lambda t: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_HF_SEED + ":"), t)), 1, 8
            ),
            16, 10,
        ).cast("long")
        % _HF_DIM
    )
    buckets = F.transform(toks, bucket)
    counts = F.aggregate(
        buckets,
        F.array_repeat(F.lit(0).cast("long"), _HF_DIM),
        lambda acc, b: F.transform(
            acc,
            lambda c, i: F.when(i.cast("long") == b, c + 1).otherwise(c),
        ),
    )
    return (
        st.documents.select("doc_id", counts.alias("__c"))
        .select("doc_id", F.posexplode("__c").alias("bucket", "n"))
        .filter(F.col("n") > 0)
        .select("doc_id", F.col("bucket").cast("int").alias("bucket"), "n")
    )


#: Sparse-cosine postings cap: terms in more than this many documents
#: are dropped from the index BEFORE the pair join (stopword-class
#: postings would dominate Σdf² cost while carrying no discriminative
#: signal). Part of the operator's declared semantics — the oracle
#: applies the identical cap.
_TF_COSINE_DF_CAP = 64
_TF_COSINE_THRESHOLD = 0.6


@query(
    "dedup_tf_cosine",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    keep AS (
        SELECT term FROM tf
        GROUP BY term HAVING COUNT(*) <= {_TF_COSINE_DF_CAP}
    ),
    ctf AS (SELECT tf.* FROM tf JOIN keep USING (term)),
    norms AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
        FROM ctf GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM ctf a
        JOIN ctf b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, dot,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE))
                * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE)
            / (sqrt(CAST(na.n2 AS DOUBLE))
               * sqrt(CAST(nb.n2 AS DOUBLE))) >= {_TF_COSINE_THRESHOLD}
    """,
)
def dedup_tf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TERM-VECTOR cosine similarity join: document pairs whose
    TF-weighted cosine clears the threshold, computed through an
    inverted index — the bag-of-words sibling of the dense embedding
    join (dedup_semantic) and the weighted upgrade of set Jaccard
    (dedup_ngram_jaccard).

    Scale shape: postings self-join on the term key, so candidate cost
    is Σ_term df² — bounded LINEARLY by dropping terms with df above
    the cap before the join (declared semantics, oracle-mirrored; the
    same hot-key guard as the n-gram shingle cap, here also a
    relevance argument: stopword-class terms carry no signal). Dot
    products are integer TF sums (order-independent, bit-exact); the
    ONLY float math is one final sqrt·sqrt division — IEEE sqrt is
    correctly rounded, so both engines agree to the bit even at the
    threshold boundary.
    """
    st = _star(spark, sf_dir)
    tf = (
        st.documents.select(
            "doc_id",
            F.explode(
                TX.tokens(TX.normalize_text("text"), TX.WORD_RE)
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    keep = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= _TF_COSINE_DF_CAP)
        .select("term")
    )
    ctf = tf.join(keep, "term")
    norms = ctf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    a = ctf.select(
        "term", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = ctf.select(
        "term", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("n2").alias("__n2a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("n2").alias("__n2b")
    )
    cos = (
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("__n2a").cast("double"))
            * F.sqrt(F.col("__n2b").cast("double"))
        )
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "dot", cos.alias("cosine"))
        .filter(F.col("cosine") >= _TF_COSINE_THRESHOLD)
    )


#: Matryoshka truncation budgets evaluated (full dim is 64).
_TRUNC_BUDGETS = (8, 16, 32)

#: DuckDB dot of the first-k slice with itself (fold order = Spark's).
_TRUNC_SSQ_SQL = (
    "list_reduce(list_transform("
    "list_zip(list_slice(embedding, 1, ks.k), "
    "list_slice(embedding, 1, ks.k)), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)


@query(
    "emb_truncate_fidelity",
    oracle=f"""
    WITH ks AS (SELECT unnest(ARRAY{list(_TRUNC_BUDGETS)}) AS k),
    per AS (
        SELECT ks.k,
               CAST(floor(sqrt({_TRUNC_SSQ_SQL}
                   / {_DOT_SQL.format(a='embedding', b='embedding')})
                   * 1000000.0 + 0.5) AS BIGINT) AS f_micro
        FROM embeddings, ks
    )
    SELECT CAST(k AS INTEGER) AS budget,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(f_micro) AS DOUBLE) / 1000000.0 / COUNT(*)
               AS mean_fidelity,
           CAST(MIN(f_micro) AS DOUBLE) / 1000000.0 AS min_fidelity
    FROM per GROUP BY k
    """,
)
def emb_truncate_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: how much of each
    vector survives keeping only the first k dims — cosine between
    the full vector and its zero-padded truncation is exactly
    ‖x[:k]‖/‖x‖, so the report gives mean and worst-case fidelity per
    budget. This is the measurement behind the 'store 64 dims, search
    8/16/32' decision: run it BEFORE committing an MRL-truncated ANN
    index (ann_quantized_topk's int8 evaluation is the precision
    sibling; this is the dimension one).

    Spark-first plan: MAP-ONLY per-row slice dot-products (identical
    left-fold order as the vectors.dot_double twin), the per-row
    fidelity quantized to integer micro-units before the 3-group
    distributed mean — zero joins, one 3-group exchange. Min over
    micro-units is integer-exact; the means are divisions of exact
    operands."""
    st = _star(spark, sf_dir)
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    ssq_full = vectors.dot_double(xd, xd)
    per = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).cast("int").alias("budget"),
                    vectors.dot_double(
                        F.slice(xd, 1, k), F.slice(xd, 1, k)
                    ).alias("ssq_k"),
                )
                for k in _TRUNC_BUDGETS
            ]
        )
    ).alias("per")
    rows = st.embeddings.select(ssq_full.alias("ssq"), per).select(
        F.col("per.budget").alias("budget"),
        F.floor(
            F.sqrt(F.col("per.ssq_k") / F.col("ssq"))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("f_micro"),
    )
    return rows.groupBy("budget").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (
            F.sum("f_micro").cast("double")
            / F.lit(1_000_000.0)
            / F.count(F.lit(1))
        ).alias("mean_fidelity"),
        (F.min("f_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "min_fidelity"
        ),
    )


# ---------------------------------------------------------------------------
# RAG prep: overlapping token chunking (round 5)
# ---------------------------------------------------------------------------

#: Chunk geometry: 64-token windows every 48 tokens (16-token overlap)
#: — the retrieval-prep shape (chunk → embed → index). Deterministic
#: coverage contract: starts at 1 + k·stride for k = 0..⌈(len−C)/S⌉,
#: the final window truncating at the doc end, so every token lands in
#: ≥1 chunk and interior tokens in exactly ⌈C/S⌉.
_CHUNK_C = 64
_CHUNK_S = 48


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    base AS (
        SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ),
    idx AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   0,
                   (greatest(n - {_CHUNK_C}, 0) + {_CHUNK_S - 1})
                       // {_CHUNK_S}
               )) AS k
        FROM base
    )
    SELECT doc_id,
           CAST(k AS INTEGER) AS chunk_idx,
           CAST(1 + k * {_CHUNK_S} AS INTEGER) AS start_tok,
           CAST(len(toks[1 + k * {_CHUNK_S} :
                         k * {_CHUNK_S} + {_CHUNK_C}]) AS INTEGER)
               AS n_tokens,
           md5(array_to_string(
               toks[1 + k * {_CHUNK_S} : k * {_CHUNK_S} + {_CHUNK_C}],
               ' ')) AS chunk_hash
    FROM idx
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token chunking — the RAG ingestion front-end
    (chunk → embed → index): every document expands to 64-token
    windows at a 48-token stride (16-token overlap so no answer span
    straddles a boundary unseen), the tail window truncating at the
    doc end. Emits (doc_id, chunk_idx, start_tok, n_tokens,
    chunk_hash) — the hash stands in for the chunk payload so the
    mart stays narrow; a real pipeline feeds the slice to the
    embedder.

    Spark-first plan: MAP-ONLY — tokens materialize once per doc in
    their own projection (interpreted-HOF staging), the chunk-start
    index list is pure integer arithmetic on the token count, and one
    explode emits the windows; zero exchanges at any corpus size (the
    embarrassingly-parallel shape chunking should be)."""
    st = _star(spark, sf_dir)
    toks = TX.tokens(F.lower(F.col("text")))
    base = st.documents.select(
        "doc_id", toks.alias("__toks")
    ).filter(F.size("__toks") > 0)
    n_extra = F.expr(
        f"(greatest(size(__toks) - {_CHUNK_C}, 0) + {_CHUNK_S - 1}) "
        f"div {_CHUNK_S}"
    )
    chunks = base.select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0), n_extra)).alias("k"),
    ).select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_idx"),
        (F.lit(1) + F.col("k") * _CHUNK_S).cast("int").alias("start_tok"),
        F.slice(
            F.col("__toks"),
            (F.lit(1) + F.col("k") * _CHUNK_S).cast("int"),
            _CHUNK_C,
        ).alias("__chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("__chunk").cast("int").alias("n_tokens"),
        F.md5(F.array_join("__chunk", " ")).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (round 5)
# ---------------------------------------------------------------------------

_PQ_M = 8        #: subspaces
_PQ_K = 16       #: codes per subspace (seeded from vec_id < 16)
_PQ_QID = 0      #: the fixed demo query vector
_PQ_SUB_D = 8    #: dim 64 / 8 subspaces
_PQ_SQDIST = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
)

#: Shared PQ codebook-training CTE block (subvector split, seed
#: codebooks, one deterministic Lloyd round in exact nano/micro
#: integer units, query subvectors) — the declarative restatement of
#: operators/similarity.py:_pq_train, embedded by both the flat-PQ
#: and the IVF-PQ oracles.
_PQ_TRAIN_CTES = f"""sub AS (
        SELECT vec_id, t.m,
               embedding[t.m * {_PQ_SUB_D} + 1 :
                         t.m * {_PQ_SUB_D} + {_PQ_SUB_D}] AS sv
        FROM embeddings, unnest(generate_series(0, {_PQ_M - 1})) AS t(m)
    ),
    seeds AS (
        SELECT m, vec_id AS code, sv AS cv FROM sub WHERE vec_id < {_PQ_K}
    ),
    s0 AS (
        SELECT s.vec_id, s.m, d.code,
               round({_PQ_SQDIST.format(a='s.sv', b='d.cv')}, 6) AS dd
        FROM sub s JOIN seeds d ON d.m = s.m
    ),
    a0 AS (
        SELECT vec_id, m, code FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY dd, code) AS rn
            FROM s0
        ) WHERE rn = 1
    ),
    q1 AS (
        SELECT a0.m, a0.code, t.i AS dim,
               SUM(CAST(floor(CAST(s.sv[t.i] AS DOUBLE)
                              * 1000000000 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM a0
        JOIN sub s ON s.vec_id = a0.vec_id AND s.m = a0.m,
             unnest(generate_series(1, {_PQ_SUB_D})) AS t(i)
        GROUP BY a0.m, a0.code, t.i
    ),
    c1 AS (
        SELECT m, code,
               list(CAST(CAST(floor(CAST(sq AS DOUBLE) / 1000000000 / n
                                    * 1000000 + 0.5) AS BIGINT)
                         AS DOUBLE) / 1000000.0
                    ORDER BY dim) AS cv
        FROM q1 GROUP BY m, code
    ),
    qv AS (SELECT m, sv AS qsv FROM sub WHERE vec_id = {_PQ_QID})"""


@query(
    "ann_pq_topk",
    oracle=f"""
    WITH {_PQ_TRAIN_CTES},
    e0 AS (
        SELECT s.vec_id, s.m, c.code,
               round({_PQ_SQDIST.format(a='s.sv', b='c.cv')}, 6) AS dd,
               round({_PQ_SQDIST.format(a='qv.qsv', b='c.cv')}, 6) AS adc
        FROM sub s
        JOIN c1 c ON c.m = s.m
        JOIN qv ON qv.m = s.m
        WHERE s.vec_id <> {_PQ_QID}
    ),
    e1 AS (
        SELECT vec_id, m, adc FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY dd, code) AS rn
            FROM e0
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT vec_id,
               CAST(SUM(CAST(floor(adc * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS est_micro
        FROM e1 GROUP BY vec_id
    )
    SELECT vec_id, CAST(est_micro AS DOUBLE) / 1000000.0 AS dist_est
    FROM scored ORDER BY dist_est, vec_id LIMIT 10
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 for the fixed demo query —
    the memory-bound tier completing the ladder (exact cosine → LSH →
    IVF → int8 → PQ): per-subspace codebooks trained with one
    deterministic Lloyd round, vectors encoded to m one-byte codes,
    distance estimated by asymmetric-distance lookup. Plan and
    exactness recipe in operators/similarity.py:pq_topk (one map-only
    training pass + one ≤1024-row exchange collected as driver state,
    then map-only encode+score into TakeOrderedAndProject); the
    oracle restates codebook training, encoding, and the ADC sum
    declaratively."""
    from sales_etl_spark.operators.similarity import pq_topk

    st = _star(spark, sf_dir)
    return pq_topk(
        st.embeddings.select("vec_id", "embedding"),
        query_id=_PQ_QID, k=10, m_subs=_PQ_M, k_codes=_PQ_K,
    )


_IVFPQ_LISTS = 8   #: coarse cells (seeded from vec_id < 8)
_IVFPQ_PROBE = 2   #: cells scored per query


@query(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH {_PQ_TRAIN_CTES},
    coarse AS (
        SELECT vec_id AS cid, embedding AS cv
        FROM embeddings WHERE vec_id < {_IVFPQ_LISTS}
    ),
    cassign AS (
        SELECT e.vec_id, c.cid,
               round({_PQ_SQDIST.format(a='e.embedding', b='c.cv')}, 6)
                   AS dd
        FROM embeddings e, coarse c
    ),
    alist AS (
        SELECT vec_id, cid AS list_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dd, cid) AS rn
            FROM cassign
        ) WHERE rn = 1
    ),
    qprobe AS (
        SELECT cid AS list_id FROM (
            SELECT c.cid,
                   round({_PQ_SQDIST.format(a='q.embedding', b='c.cv')},
                         6) AS dd
            FROM coarse c,
                 (SELECT embedding FROM embeddings
                  WHERE vec_id = {_PQ_QID}) q
        ) ORDER BY dd, cid LIMIT {_IVFPQ_PROBE}
    ),
    e0 AS (
        SELECT s.vec_id, al.list_id, s.m, c.code,
               round({_PQ_SQDIST.format(a='s.sv', b='c.cv')}, 6) AS dd,
               round({_PQ_SQDIST.format(a='qv.qsv', b='c.cv')}, 6) AS adc
        FROM sub s
        JOIN alist al ON al.vec_id = s.vec_id
        JOIN qprobe p ON p.list_id = al.list_id
        JOIN c1 c ON c.m = s.m
        JOIN qv ON qv.m = s.m
        WHERE s.vec_id <> {_PQ_QID}
    ),
    e1 AS (
        SELECT vec_id, list_id, m, adc FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, m ORDER BY dd, code) AS rn
            FROM e0
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT vec_id, list_id,
               CAST(SUM(CAST(floor(adc * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS est_micro
        FROM e1 GROUP BY vec_id, list_id
    )
    SELECT vec_id, list_id,
           CAST(est_micro AS DOUBLE) / 1000000.0 AS dist_est
    FROM scored ORDER BY dist_est, vec_id LIMIT 10
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-10 — the production composition closing the
    ladder (exact cosine → LSH → IVF → int8 → PQ → IVF-PQ): a coarse
    {_IVFPQ_LISTS}-cell inverted file prunes the corpus to the
    query's {_IVFPQ_PROBE} nearest cells, and only those candidates
    are scored with the PQ asymmetric-distance estimate. Unlike
    ann_ivf_topk (rows-only), every stage here — coarse assignment,
    probe selection, codebook training, ADC scoring — is exact
    integer/rounded arithmetic, making this the first HASH-EXACT
    IVF-family row. Plan and exactness recipe in
    operators/similarity.py:ivfpq_topk (map-only assignment over
    literal centroids, driver-side probe set, shared _pq_train /
    _pq_est_micro); the oracle restates coarse assign + probe + PQ
    train + filtered ADC scoring declaratively."""
    from sales_etl_spark.operators.similarity import ivfpq_topk

    st = _star(spark, sf_dir)
    return ivfpq_topk(
        st.embeddings.select("vec_id", "embedding"),
        query_id=_PQ_QID, k=10,
        n_lists=_IVFPQ_LISTS, n_probe=_IVFPQ_PROBE,
        m_subs=_PQ_M, k_codes=_PQ_K,
    )
