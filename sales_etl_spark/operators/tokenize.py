"""Distributed BPE tokenizer training — the tokenizer-learning step
of an LLM data pipeline, split into a driver-side fit and a
Spark-side apply.

Byte-pair encoding (Sennrich et al. 2016, public): start from the
character segmentation of every word, then repeatedly merge the
most-frequent adjacent symbol pair (corpus-frequency weighted) into a
new symbol. The merge TABLE is the trained tokenizer; applying the
merges in order segments any text.

- **Fit.** The corpus collapses ONCE to the (word, freq) vocabulary —
  the only corpus-wide exchange — and ONE action collects it. The
  sequential argmax-and-merge loop then runs in plain Python on the
  driver: pair counts weighted by word frequency, a total tiebreak
  (count DESC, then ``a`` ASC, then ``b`` ASC; Python ``str`` order is
  code-point order, which is the UTF-8 byte order Spark sorts by), and
  an early stop once every word is one symbol. A build therefore runs
  the same few Spark jobs for any ``n_merges``. Driver state is the
  vocabulary, as in every single-node BPE trainer; under Heaps' law it
  grows roughly with the square root of the corpus token count.
- **Apply.** The fit already holds every vocabulary word's final
  segmentation, so the returned (w, freq, s) vocabulary is that driver
  state handed back to Spark as a local relation (``driver_table``):
  no second corpus pass, no Python worker when it runs, and the same
  build-time snapshot as the merge table. ``_merge_fold_sql`` states
  one merge as a map-only in-row fold, the stateless apply a stream
  of new documents uses once the table is trained.
- Merge application is the standard single-pass left-to-right
  non-overlapping rule (re.sub semantics in the reference
  implementation). The in-row fold and the driver's ``_merge_pass``
  state it the same way: a merge fires when the accumulator's LAST
  symbol is ``a`` and the incoming symbol is ``b`` — after a fire the
  tail becomes ``ab`` (never equal to ``a``, since ``b`` is
  non-empty), so a run "a a a a" merges at positions 1 and 3 exactly
  like the reference (tests/test_corpus_ops.py pins the run semantics
  and that the driver's segmentation equals the chained folds' output).

Cross-engine exactness: counts are exact integers, the tiebreak is
total, and symbols are ``\\w`` characters (no quoting hazards), so the
DuckDB oracle — the same rounds unrolled as MATERIALIZED CTEs with a
recursive position-walk for merge application — matches bit-for-bit.

Reference parity: the reference pipeline has no tokenizer tier (its
etl/ is tabular); this extends the text-analysis family the
training-data brief requires (token counting under a LEARNED
segmentation instead of the fixed BPE_RE regex heuristic).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sales_etl_spark.functions.text import WORD_RE, tokens
from sales_etl_spark.sources.local import driver_table


def word_vocabulary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq, s) vocabulary: lowercase ``\\w+`` words with corpus
    frequencies and their character segmentation — the one corpus-wide
    aggregation of BPE training. The narrow (text) input spreads when
    it arrives under-partitioned (single local row group)."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    words = spread_narrow_input(docs.select(text_col)).select(
        F.explode(tokens(F.lower(F.col(text_col)), WORD_RE)).alias("w")
    )
    vocab = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    return vocab.select(
        "w",
        "freq",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("s"),
    )


def _merge_fold_sql(a: str, b: str) -> str:
    """In-row merge application (see module docstring for the proof it
    equals the reference's single-pass re.sub rule). Symbols are
    interpolated into SQL, so whitelist-validate them: every symbol a
    merge can produce is a concatenation of ``\\w`` characters (the
    vocabulary is ``WORD_RE = \\w+`` words), so anything outside
    ``\\w+`` means the tokenizer contract was broken upstream — fail
    loudly instead of trusting a blacklist."""
    import re

    for sym in (a, b):
        if not re.fullmatch(r"\w+", sym):
            raise ValueError(f"non-\\w+ BPE symbol cannot be merged: {sym!r}")
    ab = a + b
    return (
        "aggregate(s, CAST(array() AS array<string>), (acc, x) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a}' "
        f"AND x = '{b}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{ab}')) "
        "ELSE concat(acc, array(x)) END)"
    )


def _merge_pass(s: list[str], a: str, b: str) -> list[str]:
    """Driver twin of ``_merge_fold_sql``: one left-to-right pass that
    merges every non-overlapping ``a b`` into ``ab``."""
    out: list[str] = []
    for x in s:
        if out and out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _fit_merges(
    vocab: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple], dict[str, list[str]]]:
    """The sequential BPE loop over a collected (word, freq)
    vocabulary. Returns the merge table [(merge_idx, sym_a, sym_b,
    merged, pair_count), ...] and every word's final segmentation."""
    freq = dict(vocab)
    segs = {w: list(w) for w in freq}
    merges: list[tuple] = []
    for k in range(n_merges):
        counts: Counter[tuple[str, str]] = Counter()
        for w, s in segs.items():
            for pair in zip(s, s[1:]):
                counts[pair] += freq[w]
        if not counts:
            break  # corpus exhausted (every word one symbol)
        (a, b), cnt = min(counts.items(), key=lambda pc: (-pc[1], pc[0]))
        merges.append((k, a, b, a + b, cnt))
        segs = {w: _merge_pass(s, a, b) for w, s in segs.items()}
    return merges, segs


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> tuple[list[tuple], DataFrame]:
    """Train ``n_merges`` BPE merge rules over the corpus. Returns
    ``(merges, final_vocab)``: ``merges`` is the learned rule table
    [(merge_idx, sym_a, sym_b, merged, pair_count), ...], fitted on
    the driver from one collect of the (word, freq) vocabulary;
    ``final_vocab`` is that vocabulary with every word's segmentation
    under the learned rules, (w, freq, s), as a local relation."""
    vocab = [
        (r["w"], r["freq"])
        for r in word_vocabulary(docs, text_col).select("w", "freq").collect()
    ]
    merges, segs = _fit_merges(vocab, n_merges)
    return merges, driver_table(
        docs.sparkSession,
        [(w, f, segs[w]) for w, f in vocab],
        "w string, freq long, s array<string>",
    )


def bpe_merge_table(
    docs: DataFrame, text_col: str = "text", n_merges: int = 8
) -> DataFrame:
    """The trained merge table as a DataFrame (the tokenizer
    artifact a pipeline persists)."""
    merges, _ = bpe_train(docs, text_col, n_merges)
    return driver_table(
        docs.sparkSession,
        merges,
        "merge_idx int, sym_a string, sym_b string, "
        "merged string, pair_count long",
    )


def bpe_segmented_vocab(
    docs: DataFrame, text_col: str = "text", n_merges: int = 8
) -> DataFrame:
    """Every vocabulary word segmented under the learned merges:
    (w, freq, n_syms, seg) with the segmentation joined as a
    space-separated string — the apply half of the tokenizer, stated
    at vocabulary grain (token counts per document follow by joining
    words back to docs)."""
    _, vocab = bpe_train(docs, text_col, n_merges)
    return vocab.select(
        "w",
        "freq",
        F.size("s").cast("int").alias("n_syms"),
        F.array_join("s", " ").alias("seg"),
    )


def bpe_token_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Per-document token counts under the LEARNED segmentation:
    (doc_id, n_words, n_tokens) where n_tokens sums each word's
    post-merge symbol count — the production token-budget metric a
    fixed regex heuristic (functions.text.token_count) only
    approximates. Plan: the doc->word stream (narrow, spread like
    every text front-end) joins the segmented vocabulary — a
    vocabulary-sized BROADCAST at any corpus scale (the vocab is the
    small side by construction), so the corpus never shuffles; the
    per-doc rollup is the only corpus-grain exchange."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    _, vocab = bpe_train(docs, text_col, n_merges)
    sizes = vocab.select("w", F.size("s").cast("long").alias("n_syms"))
    words = spread_narrow_input(docs.select(id_col, text_col)).select(
        id_col,
        F.explode(tokens(F.lower(F.col(text_col)), WORD_RE)).alias("w"),
    )
    return (
        words.join(F.broadcast(sizes), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
        )
    )
