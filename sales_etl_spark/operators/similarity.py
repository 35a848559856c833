"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- ``cosine_topk`` — exact brute force: broadcast the (small) query
  set, one scan of the corpus, per-query top-k. The right baseline at
  any scale where queries ≪ corpus: cost = one pass, no index.
- ``lsh_topk`` — random-hyperplane LSH: bucketed candidate
  generation, exact re-rank inside buckets. The scale path when the
  corpus is huge AND the query set is itself large: candidates shrink
  per-query work from N to bucket size.

Hyperplanes are generated from a fixed seed (numpy RandomState) and
shipped as array literals — pure deterministic expressions, no UDF.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sales_etl_spark.functions.vectors import (
    cosine_prenorm_rounded,
    dot_double,
    lit_array,
    lit_array_sql,
    norm,
    sql_literal,
    to_double,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Physical shape: broadcast-nested-loop of corpus × queries (queries
    broadcast), cosine in codegen, then per-query top-k. The q·N
    scored rows never reach the shuffle: the ``rank <= k`` filter
    compiles to ``WindowGroupLimit`` with a PARTIAL pass below the
    exchange (Catalyst's InferWindowGroupLimit), so each map partition
    keeps ≤k rows per query and the exchange carries q·partitions·k
    rows (plan asserted in tests/test_plans.py). The q·N SCORING cost
    still scales with the corpus — when that pass itself is too big,
    switch to the LSH/IVF tiers.

    Self-matches (same id both sides) are excluded.

    Per-pair cost is ONE zip_with-multiply fold: the element casts and
    both sqrt-norms are hoisted into the pre-join projections
    (evaluated once per row, not once per pair — bit-identical, see
    cosine_prenorm_rounded)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        to_double(vec_col).alias("__qv"),
        norm(vec_col).alias("__qn"),
    )
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double(vec_col).alias("__cv"),
        norm(vec_col).alias("__cn"),
    ).crossJoin(F.broadcast(q))
    scored = scored.filter(F.col("neighbor_id") != F.col(query_id_col)).select(
        query_id_col,
        "neighbor_id",
        cosine_prenorm_rounded("__qv", "__qn", "__cv", "__cn").alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cosine_sim")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    query, the k nearest corpus vectors with a DIFFERENT label — the
    most-confusable negatives, which carry nearly all the gradient
    signal in a contrastive batch (random negatives are trivially
    separated). Same physical shape as :func:`cosine_topk` (broadcast
    queries, codegen cosine with hoisted norms, partial
    WindowGroupLimit under the single exchange); the label inequality
    is one extra codegen predicate on the scored stream, so the
    top-k state holds only cross-label candidates. Self-matches are
    excluded by the label filter itself (same id ⇒ same label)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(label_col).alias("__ql"),
        to_double(vec_col).alias("__qv"),
        norm(vec_col).alias("__qn"),
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            to_double(vec_col).alias("__cv"),
            norm(vec_col).alias("__cn"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("__ql"))
        .select(
            query_id_col,
            F.col("__ql").alias("query_label"),
            "neighbor_id",
            "neighbor_label",
            cosine_prenorm_rounded("__qv", "__qn", "__cv", "__cn").alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            "query_label",
            "rank",
            "neighbor_id",
            "neighbor_label",
            "cosine_sim",
        )
    )


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((planes, dim))


def lsh_signature(vec_col, planes: np.ndarray):
    """Bucket id = sign bits of dot(vec, plane_i), packed to a long.

    ``vec_col`` must be an ALREADY-DOUBLE array (to_double hoisted to
    the caller's projection): with L tables × b planes the signature
    evaluates L·b dots per row, so re-casting inside each dot would
    multiply the cast cost by L·b."""
    bits = []
    for i, plane in enumerate(planes):
        lit_plane = lit_array(plane)
        bits.append(
            F.when(dot_double(vec_col, lit_plane) >= 0, F.lit(2**i)).otherwise(
                F.lit(0)
            )
        )
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("long")


def _multi_table_buckets(vec_col, tables: int, planes: int, dim: int, seed: int):
    """Array of (table, bucket) structs — one signature per hash table,
    each table drawing its own hyperplanes from a derived seed."""
    entries = []
    for t in range(tables):
        hp = _hyperplanes(dim, planes, seed + 1000 * t)
        entries.append(
            F.struct(
                F.lit(t).alias("table"),
                lsh_signature(vec_col, hp).alias("bucket"),
            )
        )
    return F.array(*entries)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    tables: int = 8,
    planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Recall math (sign agreement per plane p = 1 − θ/π): one b-bit
    table hits with ~p^b; with L tables + 1-bit multiprobe the miss
    probability compounds to (1 − (p^b + b·p^(b−1)(1−p)))^L — at the
    defaults (L=8, b=6) that is ≳0.9 recall even for ~0.3-cosine
    neighbors, measured 0.9+ on the test corpus. L and b are THE
    recall/cost dials: corpus is replicated L× into buckets (map-side
    only), candidates per query shrink 2^b×.

    Shuffles: one equi-join on (table, bucket) + per-query top-k —
    the corpus is never broadcast or crossed, so this is the path
    when both corpus and query set are large."""
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            to_double(vec_col).alias("__cv"),
            norm(vec_col).alias("__cn"),
        )
        .select(
            "neighbor_id",
            "__cv",
            "__cn",
            F.explode(
                _multi_table_buckets(F.col("__cv"), tables, planes, dim, seed)
            ).alias("tb"),
        )
        .select("neighbor_id", "__cv", "__cn",
                F.col("tb.table").alias("table"),
                F.col("tb.bucket").alias("bucket"))
    )
    q = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            to_double(vec_col).alias("__qv"),
            norm(vec_col).alias("__qn"),
        )
        .select(
            query_id_col,
            "__qv",
            "__qn",
            F.explode(
                _multi_table_buckets(F.col("__qv"), tables, planes, dim, seed)
            ).alias("tb"),
        )
        .select(
            query_id_col, "__qv", "__qn", F.col("tb.table").alias("table"),
            F.col("tb.bucket").alias("q_bucket"),
        )
    )
    # 1-bit multiprobe: exact bucket + all single-bit flips
    probes = F.array(
        F.col("q_bucket"),
        *[
            F.col("q_bucket").bitwiseXOR(F.lit(2**i)).cast("long")
            for i in range(planes)
        ],
    )
    q = q.select(
        query_id_col, "__qv", "__qn", "table",
        F.explode(probes).alias("bucket"),
    )
    joined = c.join(q, ["table", "bucket"]).filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    scored = joined.select(
        query_id_col,
        "neighbor_id",
        cosine_prenorm_rounded("__qv", "__qn", "__cv", "__cn").alias(
            "cosine_sim"
        ),
    ).dropDuplicates([query_id_col, "neighbor_id"])
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cosine_sim")
    )


def embedding_cosine_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tables: int = 8,
    planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (a < b) by embedding cosine ≥ threshold.

    Multi-table LSH self-join (near-identical vectors share a full
    sign signature in at least one table w.h.p.), exact cosine verify,
    pair dedup across tables. The embedding-modality analogue of
    minhash_lsh_pairs — no self-crossJoin at any scale."""
    sig = (
        df.select(
            F.col(id_col).alias("doc"),
            to_double(vec_col).alias("__v"),
            norm(vec_col).alias("__n"),
        )
        .select(
            "doc",
            "__v",
            "__n",
            F.explode(
                _multi_table_buckets(F.col("__v"), tables, planes, dim, seed)
            ).alias("tb"),
        )
        .select("doc", "__v", "__n", F.col("tb.table").alias("table"),
                F.col("tb.bucket").alias("bucket"))
        .cache()
    )
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            cosine_prenorm_rounded(
                F.col("a.__v"), F.col("a.__n"), F.col("b.__v"), F.col("b.__n")
            ).alias("cosine_sim"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) tier
# ---------------------------------------------------------------------------


def _kmeans_fit(sample: np.ndarray, n_centroids: int, iters: int = 5) -> np.ndarray:
    """Deterministic spherical k-means on a driver-side sample (the
    FAISS-style coarse-quantizer recipe: train on a bounded sample,
    never the corpus). Init = first n_centroids sample rows."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cents = x[:n_centroids].copy()
    for _ in range(iters):
        sims = x @ cents.T  # cosine == dot on normalized vectors
        assign = sims.argmax(axis=1)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


def _centroid_lit(cents: np.ndarray):
    return F.expr(f"array({', '.join(lit_array_sql(row) for row in cents)})")


def _centroid_scores(vec_col, vec_norm, cents: np.ndarray):
    """array<struct<s,double idx,int>> of cosine-vs-centroid scores —
    pure codegen expressions (fold-based dot), no UDF.

    ``vec_col``/``vec_norm`` are the pre-cast double array and its
    pre-computed norm (hoisted by the caller — n_centroids dots per
    row is the irreducible cost; n_centroids casts + norm folds were
    not). Centroid norms are driver-side constants; they are ~1.0 by
    construction (spherical k-means) and a last-ulp numpy-vs-JVM sqrt
    difference can only flip a 6-dp-rounded argmax on an exact
    boundary tie — it changes a candidate list assignment, never a
    returned score."""
    norms = [float(np.sqrt(np.dot(row, row))) for row in cents]
    norms_lit = lit_array(norms)
    return F.transform(
        _centroid_lit(cents),
        lambda c, i: F.struct(
            F.round(
                dot_double(vec_col, c)
                / F.nullif(
                    vec_norm * F.element_at(norms_lit, i + F.lit(1)),
                    F.lit(0.0),
                ),
                6,
            ).alias("s"),
            i.alias("idx"),
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    train_rows: int = 512,
) -> DataFrame:
    """Approximate top-k via an inverted-file index (IVF-flat):

    1. TRAIN: spherical k-means centroids on a small deterministic
       sample (lowest ids — TakeOrdered, bounded driver memory).
    2. ASSIGN: each corpus vector → its nearest centroid's list, a
       pure map-side projection (argmax over the centroid literal).
    3. PROBE: each query expands to its n_probe nearest centroids,
       equi-joins the matching lists, exact cosine re-rank inside.

    Candidates per query ≈ (n_probe/n_centroids)·N instead of N; the
    corpus is never broadcast or crossed. The recall/cost dials are
    (n_centroids, n_probe) — the same dials as FAISS IVF. LSH vs IVF:
    LSH needs no training and handles adversarial distributions; IVF
    adapts its partitions to the data's actual clusters (fewer probes
    for the same recall on clustered corpora).
    """
    sample = np.array(
        [
            row[0]
            for row in corpus.select(vec_col)
            .orderBy(id_col)
            .limit(train_rows)
            .collect()
        ],
        dtype="float64",
    )
    cents = _kmeans_fit(sample, min(n_centroids, len(sample)))

    best = F.array_max(
        _centroid_scores(F.col("__cv"), F.col("__cn"), cents)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        to_double(vec_col).alias("__cv"),
        norm(vec_col).alias("__cn"),
    ).withColumn("list_id", best["idx"])

    q_scores = F.reverse(
        F.array_sort(_centroid_scores(F.col("__qv"), F.col("__qn"), cents))
    )
    q = (
        queries.select(
            F.col(id_col).alias(query_id_col),
            to_double(vec_col).alias("__qv"),
            norm(vec_col).alias("__qn"),
        )
        .withColumn(
            "list_id",
            F.explode(
                F.transform(
                    F.slice(q_scores, 1, n_probe), lambda s: s["idx"]
                )
            ),
        )
    )
    joined = c.join(q, "list_id").filter(
        F.col("neighbor_id") != F.col(query_id_col)
    )
    scored = joined.select(
        query_id_col,
        "neighbor_id",
        cosine_prenorm_rounded("__qv", "__qn", "__cv", "__cn").alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (round 5): the memory-bound ANN tier
# ---------------------------------------------------------------------------


def _quote_ident(name: str) -> str:
    """Backtick-quoted SQL identifier (inner backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _pq_slice(vec_col: str, m: int, sub_d: int) -> str:
    """SQL text of the m-th length-``sub_d`` subvector (1-based slice)."""
    return f"slice({_quote_ident(vec_col)}, {m * sub_d + 1}, {sub_d})"


def _sq_l2_fold(subvec: str, cv: str) -> str:
    """SQL text of sq_l2 between a row subvector and a codeword array
    (both SQL expressions) via the zip_with/aggregate fold — the
    identical IEEE sequence as a left-associated unrolled sum
    (0.0 + t₁ ≡ t₁; every tᵢ = dᵢ² ≥ 0, so the seed never flips a
    sign bit).

    Round-5 tried the unrolled literal expression tree instead,
    betting on whole-stage codegen — and janino REJECTED the
    ~14.6k-line generated class (m·k·sub_d = 1024 unrolled terms in
    one projection can't be method-split once WSCG has piped the
    inputs into locals), so Spark silently ran the whole stage
    interpreted AND paid two doomed compile attempts per run. The HOF
    form keeps the generated stage tiny — the fold is one
    CodegenFallback leaf, everything around it still compiles;
    tests/test_plans.py locks the query under
    spark.sql.codegen.fallback=false so a giant-class regression
    fails loudly instead of silently interpreting. It is SQL text so
    that _pq_best can hand the whole argmin to the JVM parser in one
    call."""
    return (
        f"aggregate(zip_with({subvec}, {cv}, (x, y) -> "
        "(CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, t) -> acc + t)"
    )


def _sq_l2_const(a: list[float], b: list[float]) -> float:
    """Literal-vs-literal sq_l2 with the same left-associated IEEE
    sequence, evaluated in Python doubles (bit-identical to what the
    JVM/DuckDB compute for the same constants)."""
    total = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        total = total + d * d if total else d * d
    return total


def _pq_best(subvec: str, codebook: list[tuple[int, list[float]]], q_sub):
    """Literal-codebook argmin struct for one subspace, built as ONE
    SQL expression: one Py4J call, where element-wise ``F.lit`` /
    ``F.struct`` / lambda construction cost ~2.7k round trips per
    16x8 codebook. The codebook enters as a literal
    array<struct<code, cv, adc>> (codes ``CAST(n AS BIGINT)``, doubles
    written by functions.vectors.sql_literal, which the parser reads
    back bit-for-bit); a ``transform`` scores every code by
    round(sq_l2, 6) and ``array_min`` picks (distance, code)
    lexicographically — the kmeans-assign move. The struct CARRIES the
    code's ADC term (distance from the QUERY subvector to the code
    word — a pure constant, precomputed in Python doubles with the
    same left-associated IEEE sequence), so the encode and the lookup
    are one array_min. ``subvec`` is SQL text (_pq_slice, or the
    quoted vector column); see _sq_l2_fold for why this is HOFs over a
    literal array rather than an unrolled expression tree."""
    book = ", ".join(
        f"struct(CAST({int(code)} AS BIGINT) AS code, "
        f"{lit_array_sql(float(b) for b in cv)} AS cv, "
        f"round({sql_literal(_sq_l2_const(q_sub, cv))}, 6) AS adc)"
        for code, cv in codebook
    )
    return F.expr(
        f"array_min(transform(array({book}), c -> struct("
        f"round({_sq_l2_fold(subvec, 'c.cv')}, 6) AS d, "
        "c.code AS code, c.adc AS adc)))"
    )


def pq_topk(
    corpus: DataFrame,
    query_id: int = 0,
    k: int = 10,
    m_subs: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN: the memory-bound tier of the ladder
    (exact cosine → LSH → IVF → int8 → PQ). Vectors compress to
    ``m_subs`` one-byte codes (a per-subspace codebook of ``k_codes``
    words, trained with one deterministic Lloyd round from the
    vec_id<k seeds) and query distance is estimated by ASYMMETRIC
    DISTANCE COMPUTATION — the sum over subspaces of the
    query-to-codeword distances, read from a lookup table instead of
    touching the original vector. Returns the top-``k`` corpus ids by
    estimated distance (exact integer micro-unit sum, deterministic
    tiebreak).

    Spark-first shape — the Lloyd/PCA bounded-driver-state pattern:
    the query vector and the seeds arrive in ONE collect
    (_pq_driver_state); codebook training is ONE map-only assign pass
    (literal seed codebooks, in-row argmin for all ``m_subs``
    subspaces in one projection) into ONE partial-aggregated exchange
    of m·k·sub_d ≤ 1024 nano-unit rows (the only other thing
    collected); encode+score is then MAP-ONLY (updated codebooks and
    the ADC terms re-enter as literals — each row's estimate never
    touches the query vector), and top-k compiles to
    TakeOrderedAndProject. Each per-subspace argmin is one SQL
    expression (_pq_best), so the build is a few jobs plus ~1.6k Py4J
    round trips. At 100 TB: training cost is one scan + one bounded
    exchange, scoring runs at scan speed over 8-byte codes — the
    reason PQ is the production tier when vectors no longer fit in
    RAM.

    Cross-engine exactness (the emb_kmeans_lloyd recipe): assignment
    distances round to 1e-6 with code-id tiebreaks; centroid updates
    quantize elements to integer nano-units and means to micro-unit
    doubles; ADC terms round to 1e-6 and sum as exact micro longs."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    rows = _pq_driver_state(corpus, query_id, k_codes, id_col, vec_col)
    # r12 (guide §2.5): the local embeddings table is one parquet row
    # group, so the interpreted-HOF argmin scan — the whole scoring
    # cost — ran on one core; spread the narrow (id, vector) frame
    # first (conditional no-op at scale).
    corpus = spread_narrow_input(corpus)
    q_subs, sub_d = _pq_query_subs(rows[query_id], m_subs)
    trained = _pq_train(corpus, _pq_seeds(rows, k_codes), q_subs, sub_d,
                        m_subs, vec_col)
    est = _pq_est_micro(vec_col, trained, q_subs, m_subs, sub_d)
    return (
        corpus.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), est.alias("__est_micro"))
        .select(
            id_col,
            (F.col("__est_micro").cast("double") / F.lit(1_000_000.0))
            .alias("dist_est"),
        )
        .orderBy("dist_est", id_col)
        .limit(k)
    )


def _pq_driver_state(
    corpus: DataFrame,
    query_id: int,
    n_seeds: int,
    id_col: str,
    vec_col: str,
) -> dict[int, list[float]]:
    """All driver state of one PQ/IVF-PQ query in ONE collect: the
    ``id < n_seeds`` rows (codebook seeds, coarse centroids) and the
    query row, as id → vector in Python doubles. Callers pass the
    frame from BEFORE spread_narrow_input: the id filter then prunes
    at the scan, where the spread frame would shuffle the whole corpus
    for every collect."""
    return {
        r[0]: [float(x) for x in r[1]]
        for r in corpus.filter(
            (F.col(id_col) < n_seeds) | (F.col(id_col) == query_id)
        )
        .select(id_col, vec_col)
        .collect()
    }


def _pq_seeds(
    rows: dict[int, list[float]], n: int
) -> list[tuple[int, list[float]]]:
    """The ``id < n`` rows of the driver state, ascending by id."""
    return sorted((i, v) for i, v in rows.items() if i < n)


def _pq_query_subs(
    q: list[float], m_subs: int
) -> tuple[list[list[float]], int]:
    """The query vector's per-subspace slices and the subspace width."""
    sub_d = len(q) // m_subs
    return [q[m * sub_d : (m + 1) * sub_d] for m in range(m_subs)], sub_d


def _pq_train(
    corpus: DataFrame,
    seeds: list[tuple[int, list[float]]],
    q_subs: list[list[float]],
    sub_d: int,
    m_subs: int,
    vec_col: str,
) -> list[list[tuple[int, list[float]]]]:
    """One deterministic Lloyd round per subspace from the vec_id<k
    ``seeds``: ONE map-only assign pass + ONE partial-aggregated
    exchange of m·k·sub_d ≤ 1024 nano-unit rows (the only driver
    state). Returns the trained per-subspace codebooks in micro-unit
    doubles (the emb_kmeans_lloyd exactness recipe)."""
    sub_seeds = [
        [(code, v[m * sub_d : (m + 1) * sub_d]) for code, v in seeds]
        for m in range(m_subs)
    ]

    # -- train: one assign pass + one bounded exchange ---------------
    code_cols = [
        _pq_best(_pq_slice(vec_col, m, sub_d), sub_seeds[m], q_subs[m])[
            "code"
        ].alias(f"__c{m}")
        for m in range(m_subs)
    ]
    assigned = corpus.select(vec_col, *code_cols)
    micro = (
        assigned.select(
            F.array(*[f"__c{m}" for m in range(m_subs)]).alias("__codes"),
            F.posexplode(vec_col).alias("pos", "val"),
        )
        .select(
            (F.col("pos") / sub_d).cast("int").alias("m"),
            F.element_at(
                F.col("__codes"), (F.col("pos") / sub_d).cast("int") + 1
            ).alias("code"),
            (F.col("pos") % sub_d + 1).alias("dim"),
            F.floor(
                F.col("val").cast("double") * F.lit(1_000_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("q"),
        )
        .groupBy("m", "code", "dim")
        .agg(
            F.floor(
                F.sum("q").cast("double")
                / F.lit(1_000_000_000.0)
                / F.count(F.lit(1))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("mq")
        )
        .collect()  # ≤ m·k·sub_d rows — the PQ codebook driver state
    )
    book: dict[int, dict[int, dict[int, int]]] = {}
    for r in micro:
        book.setdefault(r.m, {}).setdefault(r.code, {})[r.dim] = r.mq
    return [
        [
            (code, [dims[d] / 1e6 for d in sorted(dims)])
            for code, dims in sorted(book.get(m, {}).items())
        ]
        for m in range(m_subs)
    ]


def _pq_est_micro(
    vec_col: str,
    trained: list[list[tuple[int, list[float]]]],
    q_subs: list[list[float]],
    m_subs: int,
    sub_d: int,
):
    """Map-only encode + ADC estimate in exact integer micro-units:
    per subspace, the in-row argmin over the trained literal codebook
    carries its query-to-codeword term; the per-row estimate is the
    order-free long sum over subspaces."""
    return sum(
        F.floor(
            _pq_best(_pq_slice(vec_col, m, sub_d), trained[m], q_subs[m])[
                "adc"
            ]
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long")
        for m in range(m_subs)
    )


def ivfpq_topk(
    corpus: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 2,
    m_subs: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN shape — a coarse inverted-file
    quantizer prunes the corpus to ``n_probe`` of ``n_lists`` cells,
    and ONLY the surviving cells are scored with the PQ asymmetric-
    distance estimate. The two halves compose exactly as FAISS's
    IVFPQ does (coarse filter × compressed fine scoring); residual
    encoding — quantizing vector-minus-centroid instead of the raw
    vector — is the library refinement deliberately left out so every
    stage stays closed-form for the oracle.

    Spark-first shape: the coarse quantizer is the vec_id<n_lists
    seed set, fetched with the PQ seeds and the query vector in ONE
    collect of ``id < max(k_codes, n_lists) OR id = query_id``
    (_pq_driver_state — bounded driver state, same move as the
    PQ/Lloyd seeds); cell assignment is ONE in-row argmin over the
    literal centroid array, built as one SQL expression by the same
    _pq_best as the PQ subspaces (map-only — HOF over literals, so
    whole-stage codegen holds); the query's probe set is computed
    driver-side from the same literals and prunes rows BEFORE any
    shuffle via an ``isin`` filter on the computed cell. At 100 TB
    the cell id is stored as a partition column at ingest, turning
    that same filter into partition pruning so the fine pass READS
    only ~n_probe/n_lists of the corpus — the entire point of IVF;
    this demo computes the assignment in-row because the testdata is
    not pre-partitioned.
    PQ training and ADC scoring are shared verbatim with pq_topk
    (_pq_train/_pq_est_micro: one assign pass, one ≤1024-row
    exchange, map-only estimate, TakeOrderedAndProject).

    Cross-engine exactness: coarse distances round to 1e-6 with
    centroid-id tiebreaks (driver Python and the SQL oracle fold the
    identical IEEE sequence); everything downstream inherits the PQ
    recipe. Returns (id, list_id, dist_est)."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    rows = _pq_driver_state(
        corpus, query_id, max(k_codes, n_lists), id_col, vec_col
    )
    corpus = spread_narrow_input(corpus)  # r12: see pq_topk
    q = rows[query_id]
    q_subs, sub_d = _pq_query_subs(q, m_subs)
    coarse = _pq_seeds(rows, n_lists)
    # half-away-from-zero 6-dp rounding (floor(x*1e6+0.5) on the
    # nonnegative distances) — the SQL round() semantics, NOT
    # Python's banker's round(), so probe ties break identically
    probed = [
        cid
        for _, cid in sorted(
            (math.floor(_sq_l2_const(q, cv) * 1e6 + 0.5), cid)
            for cid, cv in coarse
        )[:n_probe]
    ]
    # in-row coarse assignment over the full-dim literal centroids;
    # q_sub=q makes the carried adc term the (unused) query distance
    assign = _pq_best(_quote_ident(vec_col), coarse, q)["code"]
    cand = (
        corpus.filter(F.col(id_col) != query_id)
        .withColumn("list_id", assign)
        .filter(F.col("list_id").isin([int(p) for p in probed]))
    )
    trained = _pq_train(corpus, _pq_seeds(rows, k_codes), q_subs, sub_d,
                        m_subs, vec_col)
    est = _pq_est_micro(vec_col, trained, q_subs, m_subs, sub_d)
    return (
        cand.select(
            F.col(id_col), "list_id", est.alias("__est_micro")
        )
        .select(
            id_col,
            "list_id",
            (F.col("__est_micro").cast("double") / F.lit(1_000_000.0))
            .alias("dist_est"),
        )
        .orderBy("dist_est", id_col)
        .limit(k)
    )
