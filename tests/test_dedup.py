"""Dedup tier: controlled synthetic corpora with known duplicates,
plus recall-vs-exact checks on the driver testdata (all deterministic
— seeded hashes, no randomness at runtime)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import Row

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sales_etl_spark.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

SF_DIR = "/root/testdata/sf0.001"

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "on the warm mat near the old oak door"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text=BASE),
        Row(doc_id=2, text=BASE),  # exact duplicate
        Row(doc_id=3, text="The  Quick  Brown fox jumps over the lazy dog "
                           "while the cat sleeps on the warm mat near the "
                           "old oak door"),  # case/space variant → exact dup
        Row(doc_id=4, text=BASE.replace("dog", "wolf")),  # near-dup
        Row(doc_id=5, text="completely different content about spark "
                           "catalyst optimizer rules and shuffle exchanges "
                           "in distributed query plans"),
        Row(doc_id=6, text=""),  # empty doc edge case
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_groups_normalized_content(docs):
    out = exact_dedup(docs, "doc_id", "text").collect()
    groups = {r.doc_id: r.dup_count for r in out}
    # 1,2,3 collapse (normalization folds case+whitespace); 4,5,6 unique
    assert groups[1] == 3
    assert groups[4] == 1
    assert groups[5] == 1
    assert len(out) == 4


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    # exact dups share all shingles
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0
    # one-word substitution keeps most 3-grams
    assert got[(1, 4)] > 0.7
    # unrelated docs below threshold
    assert (1, 5) not in got


def test_ngram_jaccard_df_cap_drops_hot_shingle(spark):
    # Five docs share only the stopword-grade shingle "a b c"; two of
    # them additionally share their full remaining content. With the
    # cap below 5, the hot shingle leaves the inverted index: the
    # near-identical pair keeps (capped) jaccard 1.0 while the pairs
    # related ONLY through the hot shingle vanish entirely.
    rows = [
        Row(doc_id=i, text=f"a b c unique{i} token{i} word{i}")
        for i in range(1, 4)
    ] + [
        Row(doc_id=4, text="a b c shared tail content here"),
        Row(doc_id=5, text="a b c shared tail content here"),
    ]
    docs = spark.createDataFrame(rows)
    uncapped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, max_shingle_df=None
    )
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, max_shingle_df=4
    )
    got_uncapped = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    got_capped = {(r.doc_a, r.doc_b): r.jaccard for r in capped.collect()}
    # every doc pairs with every other through "a b c" when uncapped
    assert (1, 2) in got_uncapped and (1, 3) in got_uncapped
    # capped: only the genuinely-similar pair survives, at full score
    assert set(got_capped) == {(4, 5)}
    assert got_capped[(4, 5)] == 1.0


def test_minhash_lsh_recovers_known_pairs(docs):
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, min_est_jaccard=0.5
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= got
    assert (1, 4) in got  # near-dup caught
    assert (1, 5) not in got


def test_simhash_hamming_orders_similarity(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_pairs(docs, "doc_id", "text", max_hamming=7)
             .collect()}
    assert pairs[(1, 2)] == 0  # identical content → identical sketch
    assert pairs[(1, 3)] == 0  # normalization-equal tokens (lowercased)
    # near-dup measured at hamming 4 — within the ≤7 pigeonhole
    # guarantee of 8-band bucketing, so it MUST be found
    assert pairs[(1, 4)] <= 7
    assert (1, 5) not in pairs  # hamming 32, far outside radius


def test_minhash_recall_of_exact_high_jaccard_on_testdata(spark):
    from sales_etl_spark.plans import QUERY_REGISTRY

    exact = QUERY_REGISTRY["dedup_ngram_jaccard"].builder(spark, SF_DIR)
    approx = QUERY_REGISTRY["dedup_minhash_lsh"].builder(spark, SF_DIR)
    hi = {(r.doc_a, r.doc_b) for r in exact.collect() if r.jaccard >= 0.8}
    cand = {(r.doc_a, r.doc_b) for r in approx.collect()}
    assert hi, "testdata should contain high-jaccard near-dups"
    recall = len(hi & cand) / len(hi)
    assert recall >= 0.9, f"minhash recall {recall} too low"


# ---------------------------------------------------------------------------
# connected components / cluster resolution
# ---------------------------------------------------------------------------


def _uf_components(edges, nodes):
    """Reference union-find, driver-side, for cross-checking."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to component min: the root IS the min because unions
    # always point the larger root at the smaller one
    return {n: find(n) for n in nodes}


def _cc_dict(spark, edges, partitions=None):
    from sales_etl_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges]
    )
    if partitions:
        df = df.repartition(partitions)
    return {
        r.node: r.cluster_id
        for r in connected_components(df).collect()
    }


def test_cc_chain_converges_to_min(spark):
    # worst case for naive propagation: a long path
    edges = [(i, i + 1) for i in range(1, 30)]
    got = _cc_dict(spark, edges)
    assert got == {i: 1 for i in range(1, 31)}


def test_cc_disjoint_components_and_cycle(spark):
    edges = [(1, 2), (2, 3), (3, 1),      # cycle -> cluster 1
             (10, 11), (11, 12),          # path  -> cluster 10
             (20, 21)]                    # pair  -> cluster 20
    got = _cc_dict(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_cc_matches_union_find_random_graph(spark):
    # deterministic pseudo-random graph (fixed seed), odd parallelism
    import random

    rng = random.Random(1234)
    nodes = list(range(100))
    edges = [
        (rng.randrange(100), rng.randrange(100)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    touched = sorted({n for e in edges for n in e})
    expect = _uf_components(edges, touched)
    got = _cc_dict(spark, edges, partitions=7)
    assert got == expect


def test_resolve_clusters_canonical_and_sizes(spark):
    from sales_etl_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [Row(doc_a=5, doc_b=2), Row(doc_a=2, doc_b=9), Row(doc_a=7, doc_b=8)]
    )
    rows = {r.doc_id: r for r in resolve_clusters(pairs).collect()}
    assert rows[2].cluster_id == 2 and rows[2].is_canonical
    assert rows[5].cluster_id == 2 and not rows[5].is_canonical
    assert rows[9].cluster_size == 3
    assert rows[7].cluster_id == 7 and rows[7].cluster_size == 2
    assert rows[8].cluster_id == 7 and not rows[8].is_canonical


def test_perceptual_cluster_resolve_vs_greedy(spark):
    """The shared perceptual resolve on the canonical divergence
    shape: component {1,5,3} linked only through 5 (pairs (1,5),
    (3,5)) — greedy min-id-wins drops only 5 (node 3 never appears as
    media_b), CC drops 3 AND 5 (everything but the component min). In
    every graph greedy's drop set is a subset of CC's, since an
    a < b pair list never shows a component minimum on the right."""
    from sales_etl_spark.operators.dedup import perceptual_cluster_resolve

    pairs = spark.createDataFrame(
        [
            Row(media_a=1, media_b=5, hamming=2),
            Row(media_a=3, media_b=5, hamming=1),
            Row(media_a=7, media_b=8, hamming=0),
        ]
    )
    rows = {r.media_id: r for r in perceptual_cluster_resolve(pairs).collect()}
    assert set(rows) == {1, 3, 5, 7, 8}
    assert rows[1].cluster_id == 1 and rows[1].is_canonical
    assert rows[3].cluster_id == 1 and not rows[3].is_canonical
    assert rows[5].cluster_size == 3 and not rows[5].is_canonical
    assert rows[7].is_canonical and rows[8].cluster_id == 7
    greedy_drops = {r.media_b for r in pairs.collect()}
    cc_drops = {m for m, r in rows.items() if not r.is_canonical}
    assert greedy_drops == {5, 8}
    assert cc_drops == {3, 5, 8}
    assert greedy_drops < cc_drops  # strict here: 3 is chain-only


def test_banded_cache_footprint_bounded_without_clearcache(spark):
    """Bounded cache footprint without clearCache(): consecutive
    perceptual registry entries through one session must not leave
    cached frames behind. banded_hamming_pairs and simhash_pairs cache
    nothing (one reused band shuffle feeds both join sides), so a
    long-lived embedder cannot leak a cached frame per call; the
    bound below keeps the historic allowance of two frames."""
    import time

    from sales_etl_spark.plans import QUERY_REGISTRY

    spark.catalog.clearCache()

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # baseline, not zero: catalog.clearCache() drops SQL-cached frames
    # but earlier tests' localCheckpoint RDD blocks (e.g. connected
    # components) linger until GC'd — measure the DELTA these four
    # entries add on top
    base = n_cached()
    for name in ("dedup_phash_pairs", "dedup_audio_pairs",
                 "dedup_video_pairs", "dedup_simhash"):
        if name not in QUERY_REGISTRY:
            continue
        QUERY_REGISTRY[name].builder(spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
    # GC-driven cleanup of earlier blocks is async: poll briefly
    deadline = time.time() + 15
    while time.time() < deadline and n_cached() > base + 2:
        time.sleep(0.5)
    # at most two frames on top of the baseline (which can only
    # shrink via GC meanwhile)
    assert n_cached() <= base + 2
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name",
    ["dedup_phash_pairs", "dedup_audio_pairs", "dedup_video_pairs",
     "video_dedup_pipeline_e2e"],
)
def test_banded_pairs_plan_needs_no_cache_after_clearcache(spark, name):
    """No cliff after a cache eviction: a memoized banded-pair plan
    rebuilt after clearCache() (a plan-memo hit) must neither read a
    cache nor copy the interpreted higher-order fingerprint hash into
    a pushed filter. An uncached plan that did so re-evaluated the
    hash per row inside an inferred isnotnull() (dedup_video_pairs at
    sf0.1 on local[4]: ~180 s uncached vs 0.65 s cached). Reads only
    the optimized plan, so no Spark job runs."""
    from sales_etl_spark.plans import QUERY_REGISTRY

    builder = QUERY_REGISTRY[name].builder
    builder(spark, SF_DIR)
    spark.catalog.clearCache()
    df = builder(spark, SF_DIR)  # memo hit
    plan = df.select("*")._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
    hof_filters = [
        line for line in plan.splitlines()
        if "Filter" in line and "lambdafunction" in line
    ]
    assert not hof_filters, hof_filters


def test_incremental_exact_dedup_planted(spark):
    from sales_etl_spark.operators.dedup import incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(1, "old news today"), (2, "evergreen content")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "Old   News TODAY"),   # dup of corpus doc 1 (normalized)
            (11, "fresh document one"),
            (12, "fresh document one"),  # intra-batch dup of 11
            (13, "fresh document two"),
        ],
        "doc_id long, text string",
    )
    out = incremental_exact_dedup(batch, corpus, "doc_id", "text")
    assert sorted(r.doc_id for r in out.collect()) == [11, 13]


def test_scrub_hot_lines_removes_cross_doc_boilerplate(spark):
    """Planted boilerplate: a footer shared by 3 docs is scrubbed from
    all of them; unique lines and short structural lines survive in
    original order; line order and doc reassembly are exact."""
    from sales_etl_spark.operators.dedup import scrub_hot_lines

    footer = "subscribe to our newsletter for updates"
    docs = [
        (1, f"alpha unique content line\n{footer}\nmore alpha text here"),
        (2, f"{footer}\nbeta body paragraph with words"),
        (3, f"gamma opening line of text\n--\n{footer}"),
        (4, "delta stands alone entirely here"),
    ]
    out = {
        r.doc_id: (r.text, r.n_lines_kept, r.n_lines_dropped)
        for r in scrub_hot_lines(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text", max_line_df=2,
        ).collect()
    }
    assert out[1] == (
        "alpha unique content line\nmore alpha text here", 2, 1
    )
    assert out[2] == ("beta body paragraph with words", 1, 1)
    # '--' is short/structural: exempt from dedup, kept in order
    assert out[3] == ("gamma opening line of text\n--", 2, 1)
    assert out[4] == ("delta stands alone entirely here", 1, 0)


def test_scrub_hot_lines_df_threshold_and_invariance(spark):
    from sales_etl_spark.operators.dedup import scrub_hot_lines

    shared2 = "this line appears in exactly two documents"
    docs = [
        (1, f"{shared2}\nunique one"),
        (2, f"{shared2}\nunique two"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # df == 2 does NOT exceed max_line_df=2 -> untouched
    keep = {
        r.doc_id: r.text
        for r in scrub_hot_lines(df, "doc_id", "text", max_line_df=2).collect()
    }
    assert keep == {1: docs[0][1], 2: docs[1][1]}
    # threshold 1 -> scrubbed; result invariant under repartitioning
    a = sorted(
        (r.doc_id, r.text)
        for r in scrub_hot_lines(df, "doc_id", "text", max_line_df=1).collect()
    )
    b = sorted(
        (r.doc_id, r.text)
        for r in scrub_hot_lines(
            df.repartition(7), "doc_id", "text", max_line_df=1
        ).collect()
    )
    assert a == b == [(1, "unique one"), (2, "unique two")]


def test_semantic_dedup_survivors_are_delta_separated(spark):
    """The drop rule (drop x iff a more-central neighbor sits within
    delta) implies survivors within a cluster are pairwise FARTHER
    than delta apart: for any surviving pair within delta, one side is
    more central (centrality is a total order with the vec_id
    tiebreak) and the other would have been dropped. This is the
    operator's contract — one representative per delta-neighborhood."""
    from itertools import combinations

    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.plans.trade import _SEMDEDUP_DELTA

    sf = "/root/testdata/sf0.001"
    surv = QUERY_REGISTRY["dedup_semantic"].builder(spark, sf).collect()
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for r in surv:
        by_cluster.setdefault(r.cluster_id, []).append(r.vec_id)
    assert sum(len(v) for v in by_cluster.values()) == len(surv) > 0
    for members in by_cluster.values():
        for a, b in combinations(members, 2):
            d = round(
                sum((x - y) ** 2 for x, y in zip(vecs[a], vecs[b])), 6
            )
            assert d > _SEMDEDUP_DELTA, (a, b, d)


def test_containment_dominates_jaccard(spark):
    """containment = common/min(|A|,|B|) >= jaccard for every pair
    (min(|A|,|B|) <= union), so the jaccard-qualified pairs at a given
    threshold are a SUBSET of the containment-qualified pairs at the
    same threshold — the reason containment is the doc-inside-doc
    catcher."""
    from sales_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.6
        ).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", threshold=0.6
        ).collect()
    }
    assert set(jac) <= set(cont)
    for pair, j in jac.items():
        assert cont[pair] >= j - 1e-12, (pair, cont[pair], j)


def test_containment_catches_doc_inside_doc_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment 1.0,
    jaccard far below threshold — the pair class the operator exists
    for."""
    from sales_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"filler{i} word{i} token{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, f"{filler} {short} {filler}")],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(df, "doc_id", "text", threshold=0.9)
    rows = cont.collect()
    assert len(rows) == 1 and rows[0].containment == 1.0
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    assert jac.count() == 0


def test_incremental_lsh_equals_full_corpus_restriction(spark):
    """The incremental probe must find EXACTLY the full-corpus LSH
    pairs that touch the batch (same hash family, same band buckets):
    ingest-by-ingest dedup converges to the from-scratch result. Also
    locks the scale shape — the batch side broadcasts (the corpus
    index is never shuffled)."""
    from sales_etl_spark.operators.dedup import (
        banded_signatures,
        incremental_minhash_lsh,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter("doc_id % 4 <> 0")
    batch = docs.filter("doc_id % 4 = 0")
    kw = dict(num_hashes=32, bands=8, min_est_jaccard=0.3)

    index = banded_signatures(
        minhash_signatures(corpus, "doc_id", "text", 32, 3), 32, 8
    )
    _, inc = incremental_minhash_lsh(index, batch, "doc_id", "text", **kw)
    got = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9)) for r in inc.collect()
    }

    full = minhash_lsh_pairs(docs, "doc_id", "text", **kw)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    want = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in full.collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    assert got == want and len(got) > 0

    plan = inc._sc._jvm.PythonSQLUtils.explainString(
        inc._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_incremental_lsh_two_ingests_converge(spark, docs):
    """Two sequential ingests over a planted corpus: every known dup
    pair lands in exactly one ingest's candidate set (the one where
    its second member arrives), and the union equals the from-scratch
    pair set."""
    from sales_etl_spark.operators.dedup import (
        banded_signatures,
        incremental_minhash_lsh,
        minhash_signatures,
    )

    kw = dict(num_hashes=32, bands=8, min_est_jaccard=0.5)
    base = docs.filter("doc_id <= 2")          # doc 1 + its exact dup 2
    ingest1 = docs.filter("doc_id IN (3, 4)")  # variants of 1
    ingest2 = docs.filter("doc_id >= 5")

    index = banded_signatures(
        minhash_signatures(base, "doc_id", "text", 32, 3), 32, 8
    )
    rows1, p1 = incremental_minhash_lsh(index, ingest1, "doc_id", "text", **kw)
    index = index.unionByName(rows1)
    rows2, p2 = incremental_minhash_lsh(index, ingest2, "doc_id", "text", **kw)

    def pairs(df):
        return {(r.doc_a, r.doc_b) for r in df.collect()}

    got = pairs(p1) | pairs(p2)
    # base-internal pair (1,2) is the only one no ingest can see
    want = pairs(
        minhash_lsh_pairs(docs, "doc_id", "text", **kw)
    ) - {(1, 2)}
    assert got == want
    assert pairs(p1) & pairs(p2) == set()


def test_incremental_jaccard_pairs_equals_full_restriction(spark):
    """The exact incremental probe (the hash-checked twin of the LSH
    tier) must find EXACTLY the full-corpus ngram_jaccard_pairs that
    touch the batch — same shingles, same cap, same scores. Also locks
    the scale shape: the batch shingles broadcast, the corpus stream
    is never shuffled for candidate generation."""
    from sales_etl_spark.operators.dedup import incremental_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter("doc_id % 4 <> 0")
    batch = docs.filter("doc_id % 4 = 0")
    kw = dict(n=3, threshold=0.3)

    inc = incremental_jaccard_pairs(corpus, batch, "doc_id", "text", **kw)
    got = {
        (r.doc_a, r.doc_b, r.common, r.size_a, r.size_b, r.jaccard)
        for r in inc.collect()
    }

    full = ngram_jaccard_pairs(docs, "doc_id", "text", **kw)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    want = {
        (r.doc_a, r.doc_b, r.common, r.size_a, r.size_b, r.jaccard)
        for r in full.collect()
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    assert got == want and len(got) > 0

    plan = inc._sc._jvm.PythonSQLUtils.explainString(
        inc._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_substring_span_catches_embedded_literal_runs(spark):
    """A 100+-char block quoted VERBATIM inside an otherwise unrelated
    document must pair doc-with-quote ↔ source (at any offset), while
    token-disjoint docs never pair; est_span reports the contiguous
    footprint n_shared + window − 1."""
    from sales_etl_spark.operators.dedup import substring_span_pairs

    block = (
        "the quarterly revenue recognition policy requires that all "
        "multi element arrangements allocate consideration at the "
        "inception of the contract"
    )  # 140 chars normalized
    filler_a = "alpha beta gamma delta epsilon zeta eta theta " * 6
    filler_b = "one two three four five six seven eight nine ten " * 6
    rows = [
        (1, f"{filler_a} {block}"),          # quote at the tail
        (2, f"{block} {filler_b}"),          # same quote at the head
        (3, filler_a),                        # shares filler with 1 only
        (4, "totally different words entirely unrelated content " * 6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.est_span)
        for r in substring_span_pairs(
            df, "doc_id", "text", window=64, min_shared=8,
            max_gram_df=None,
        ).collect()
    }
    assert (1, 2) in got
    n_shared, est_span = got[(1, 2)]
    # the shared 140-char run contributes ~140-64+1 distinct grams
    assert n_shared >= 70 and est_span == n_shared + 63
    assert (1, 3) in got  # repeated filler is itself a literal run
    assert not any(4 in p for p in got)
