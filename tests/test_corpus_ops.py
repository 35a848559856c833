"""Invariant tests for the corpus-hygiene registry queries
(boilerplate, quality classifier, decontamination corpus arithmetic)
on real testdata — the bit-exact gate is the DuckDB oracle; these pin
the semantic invariants a refactor could silently break."""

from __future__ import annotations

import hashlib

import pytest

from sales_etl_spark.plans import QUERY_REGISTRY

SF = "/root/testdata/sf0.001"


def test_boilerplate_invariants(spark):
    rows = QUERY_REGISTRY["text_boilerplate"].builder(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_boilerplate <= r.n_chunks
        assert 0.0 <= r.boilerplate_ratio <= 1.0
    # at least one repeated-chunk doc exists in the planted dup corpus
    assert any(r.n_boilerplate > 0 for r in rows)


def test_quality_score_matches_python_model(spark):
    out = {
        r.doc_id: r
        for r in QUERY_REGISTRY["quality_classifier_score"]
        .builder(spark, SF)
        .collect()
    }
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    assert set(out) == set(docs)
    import re

    for doc_id, text in list(sorted(docs.items()))[:25]:
        toks = re.findall(r"\w+", text.lower())
        s = sum(
            2 * int(hashlib.md5(f"qw-v1:{t}".encode()).hexdigest()[:8], 16)
            - 2**32
            for t in toks
        )
        score = s / 4294967296 / len(toks)
        r = out[doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.quality_score - round(score, 6)) < 1e-12
        assert r.keep == (score > 0.0)
    # the pseudo-weights are zero-mean: both classes occur
    keeps = {r.keep for r in out.values()}
    assert keeps == {True, False}


def test_bpe_merge_fold_matches_reference_run_semantics(spark):
    """The in-row merge fold must reproduce the reference BPE rule
    (single-pass left-to-right non-overlapping, re.sub semantics) —
    including the same-symbol-run case: 'aaaa' under merge (a,a)
    becomes [aa, aa] (positions 1 and 3), 'aaa' becomes [aa, a], and a
    merged tail never re-fires the rule ('ab' + 'b' with merge (a,b)
    stays put). Pinned against a literal python re.sub reference."""
    import re

    from pyspark.sql import functions as F

    from sales_etl_spark.operators.tokenize import _merge_fold_sql

    cases = ["aaaa", "aaa", "aa", "a", "abab", "aab", "abb", "banana"]
    for a, b in (("a", "a"), ("a", "b"), ("an", "a")):
        # reference: Sennrich-style single-pass sub on space-joined
        # symbols (start from chars, except the pre-merged 'an' case)
        for word in cases:
            if (a, b) == ("an", "a"):
                # apply (a,n) first so the 'an' symbol exists
                pre = re.sub(
                    r"(?<!\S)a n(?!\S)", "an", " ".join(word)
                ).split()
            else:
                pre = list(word)
            want = re.sub(
                rf"(?<!\S){re.escape(a)} {re.escape(b)}(?!\S)",
                a + b,
                " ".join(pre),
            ).split()
            df = spark.createDataFrame([(pre,)], "s array<string>")
            got = df.select(
                F.expr(_merge_fold_sql(a, b)).alias("m")
            ).collect()[0]["m"]
            assert got == want, (a, b, word, got, want)


def test_bpe_train_merge_table_properties(spark):
    """Trained merges on a controlled corpus: the first merge is the
    most frequent adjacent pair, counts are corpus-frequency weighted,
    and re-segmentation feeds later rounds (the second merge can use
    the symbol created by the first)."""
    from sales_etl_spark.operators.tokenize import bpe_train

    docs = spark.createDataFrame(
        [("the thermos there",), ("the thin theory",), ("banana bandana",)],
        "text string",
    )
    merges, _ = bpe_train(docs, "text", n_merges=3)
    assert [m[0] for m in merges] == [0, 1, 2]
    # 'th' leads: t-h is adjacent in the/thermos/there/thin/theory
    assert (merges[0][1], merges[0][2]) == ("t", "h")
    assert merges[0][3] == "th" and merges[0][4] >= 5
    # second round merges 'th'+'e' (the created symbol participates)
    assert (merges[1][1], merges[1][2]) == ("th", "e")


def test_bpe_train_build_jobs_do_not_depend_on_n_merges(spark):
    """The merges are fitted on the driver from ONE collect of the
    (word, freq) vocabulary, so building the tokenizer starts the same
    Spark jobs for one merge as for eight — no job per merge round."""
    import uuid

    from sales_etl_spark.operators.tokenize import bpe_train

    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [("the thermos there",), ("the thin theory",), ("banana bandana",)],
        "text string",
    )
    jobs = {}
    for n in (1, 8):
        group = f"bpe-fit-{n}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            merges, _ = bpe_train(docs, "text", n_merges=n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(merges) == n
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= jobs[1] == jobs[8], jobs


@pytest.mark.parametrize(
    "texts, merges, segs",
    [
        pytest.param(
            # count ties: a ASC first, then b ASC; weights are word freqs
            ["cd ab ad bc", "ac ab cd ad bc"],
            [
                ("a", "b", 2), ("a", "d", 2), ("b", "c", 2), ("c", "d", 2),
                ("a", "c", 1),
            ],
            {"ab": ["ab"], "ad": ["ad"], "bc": ["bc"], "cd": ["cd"],
             "ac": ["ac"]},
            id="tiebreak",
        ),
        pytest.param(
            # same-symbol runs merge left to right, non-overlapping:
            # aaaaa -> aa aa a -> aa aaa -> aaaaa
            ["aaaa aaa aaaaa"],
            [("a", "a", 9), ("aa", "a", 2), ("aa", "aa", 1), ("aa", "aaa", 1)],
            {"aaa": ["aaa"], "aaaa": ["aaaa"], "aaaaa": ["aaaaa"]},
            id="runs",
        ),
        pytest.param(
            # 'abc' reached as ab+c (tie: (a,b) < (b,c)) ...
            ["abc"],
            [("a", "b", 1), ("ab", "c", 1)],
            {"abc": ["abc"]},
            id="path-ab-c",
        ),
        pytest.param(
            # ... and as a+bc once 'bc' is the heavier pair
            ["abc bc"],
            [("b", "c", 2), ("a", "bc", 1)],
            {"abc": ["abc"], "bc": ["bc"]},
            id="path-a-bc",
        ),
        pytest.param(
            # nothing to merge: the loop stops before its first round
            ["a b a"], [], {"a": ["a"], "b": ["b"]}, id="exhausted",
        ),
        pytest.param(["... !?"], [], {}, id="empty"),
    ],
)
def test_bpe_fit_and_lazy_apply_agree(spark, texts, merges, segs):
    """Adversarial corpora (each stops before its 8 merges): the
    driver-side fit learns the expected table and returns the expected
    segmentation of every word, and the lazy apply (the learned rules
    chained as in-row folds over the character-split vocabulary, as a
    stream applies them) segments every word the same way."""
    from pyspark.sql import functions as F

    from sales_etl_spark.operators.tokenize import (
        _merge_fold_sql,
        bpe_train,
        word_vocabulary,
    )

    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got, vocab = bpe_train(docs, "text", n_merges=8)
    assert got == [
        (k, a, b, a + b, cnt) for k, (a, b, cnt) in enumerate(merges)
    ]
    fitted = sorted((r.w, r.freq, list(r.s)) for r in vocab.collect())
    assert {w: s for w, _, s in fitted} == segs
    folded = word_vocabulary(docs, "text")
    for _, a, b, _, _ in got:
        folded = folded.select(
            "w", "freq", F.expr(_merge_fold_sql(a, b)).alias("s")
        )
    assert sorted((r.w, r.freq, list(r.s)) for r in folded.collect()) == fitted
