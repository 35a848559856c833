"""Corpus-structure and graph-profile closers (round-4 final tier).

Operator families still missing from the registry, each a standard
warehouse / LLM-data-pipeline ask with a distinct Spark-first shape:

- cross-document repeated-chunk removal (the paragraph-dedup pass of
  CCNet/RefinedWeb-style corpus cleaning): chunk → count distinct
  docs per chunk → drop shared chunks → reassemble survivors in
  order, all in four narrow shuffles on chunk/doc keys;
- local clustering coefficient over the co-purchase graph: ordered-
  edge triangle enumeration (a<b<c joins each triangle exactly once)
  on a support-thresholded edge list — the standard bounded-degree
  trick that keeps the wedge join linear in |E|;
- per-user event-type Shannon entropy: behavioral-diversity profile
  whose transcendental terms are floored to exact integer micro-nats
  before the distributed sum (the lm_score recipe applied to
  entropy);
- per-source Zipf slope: least-squares fit of log-frequency against
  log-rank carried entirely in exact integer sums (one double
  division at the end) — distribution profiling with zero
  order-dependence;
- Okapi BM25 ranking and hybrid lexical+semantic retrieval fused by
  reciprocal rank (RRF): corpus scalars on broadcast 1-row frames,
  idf/partials in exact integer micro-units, global ranks via the
  bucket-offset decomposition (never a single-partition window);
- experimentation & monitoring: a Welch z-test on per-user spend
  (power sums as exact integers, the whole statistic one IEEE
  expression) and a two-sample Kolmogorov–Smirnov drift statistic
  whose sup runs over integer cross-products on the value-domain
  grain.

Reference parity: the reference engine (etl/transform.py) has no
graph, entropy, or corpus-hygiene surface — this tier is engine
extension per SURVEY.md §2.6. Determinism rules are the registry's
(plans/registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sales_etl_spark.functions import text as TX
from sales_etl_spark.operators import aggregates
from sales_etl_spark.operators.windows import (
    global_prefix_sum,
    global_row_number,
)
from sales_etl_spark.plans.registry import query
from sales_etl_spark.session import pin_semantics
from sales_etl_spark.sources.local import driver_table
from sales_etl_spark.sources.star import load_star


def _star(spark: SparkSession, sf_dir: str):
    pin_semantics(spark)
    return load_star(spark, sf_dir)


#: DuckDB expression mirroring functions.text.tokens(normalize_text)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"regexp_extract_all({_NORM}, '\\w+')"


# ---------------------------------------------------------------------------
# Cross-document repeated-chunk removal (paragraph dedup)
# ---------------------------------------------------------------------------

_CHUNK_W = 4


@query(
    "dedup_paragraphs",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ch AS (
        SELECT doc_id,
               unnest(generate_series(
                   0, CAST(ceil(len(t) / {_CHUNK_W}.0) AS INT) - 1)) AS pos,
               t
        FROM w WHERE len(t) > 0
    ),
    c2 AS (
        SELECT doc_id, pos,
               array_to_string(
                   t[pos * {_CHUNK_W} + 1 : pos * {_CHUNK_W} + {_CHUNK_W}],
                   ' ') AS chunk
        FROM ch
    ),
    dup AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM c2 GROUP BY chunk),
    kept AS (
        SELECT c.doc_id, c.pos, c.chunk
        FROM c2 c JOIN dup d USING (chunk) WHERE d.nd = 1
    ),
    k AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c2 GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           COALESCE(tot.n_chunks, 0) AS n_chunks,
           COALESCE(tot.n_chunks, 0) - COALESCE(k.n_kept, 0) AS n_dropped
    FROM documents d
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN k USING (doc_id)
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style paragraph dedup: remove every chunk of
    text that also appears verbatim in ANOTHER document, keeping each
    doc's surviving chunks in original order. (The synthetic corpus
    has no newline structure, so "paragraph" is a fixed 4-token
    chunk — the operator is the same for any splitter.)

    Spark-first plan: chunking is pure codegen (sequence → slice →
    array_join, no Python); the corpus-wide duplicate decision is ONE
    groupBy on the chunk value (count DISTINCT docs — a chunk
    repeated inside one doc is not boilerplate); survivors join back
    on the chunk key and reassemble with an order-free
    sort_array(collect_list(struct(pos, chunk))) fold, so no window
    or global sort touches the corpus. Shuffles are all on uniform
    chunk/doc keys. At 100 TB the chunk value in the exchange is
    replaced by its 128-bit fingerprint (xxhash64/md5 — same plan,
    narrower rows) and the dup table above a DF cap is tiny, exactly
    the hot-shingle treatment dedup_ngram_jaccard applies."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    st = _star(spark, sf_dir)
    # normalize+tokenize+chunk is the CPU; spread the narrow
    # (doc_id, text) frame when it arrives as one local row group.
    # r11 optimization-round plan (guide §2.3/§2.4): the chunk ARRAY
    # is built once and CACHED (the old plan re-ran normalize+tokenize
    # +chunk three times — dup pass, join back, totals); per-doc chunk
    # totals are map-side size(array), deleting a full chunk-stream
    # groupBy(doc_id) exchange; the corpus-wide duplicate decision
    # keeps the scale-safe constant-memory aggregate shape but tests
    # nd==1 as min(doc_id)==max(doc_id) — a plain partial-aggregable
    # min/max instead of countDistinct's expand+double-aggregate (no
    # per-group set, ~half the aggregate work). A posting-list
    # collect_list variant was considered and rejected: a corpus-wide
    # boilerplate chunk would materialize an unbounded occurrence
    # list in one reducer, a 100 TB scale-killer the join-back shape
    # does not have. Survivor rows come from joining the SINGLE-DOC
    # chunk set (already filtered, smaller than the old full dup
    # table) back onto the cached chunk stream.
    nch = F.ceil(F.size("t") / F.lit(float(_CHUNK_W))).cast("int")
    carr = (
        spread_narrow_input(st.documents.select("doc_id", "text"))
        .select(
            "doc_id", TX.tokens(TX.normalize_text("text")).alias("t")
        )
        .select(
            "doc_id",
            F.when(
                F.size("t") > 0,
                F.transform(
                    F.sequence(F.lit(0), nch - 1),
                    lambda i: F.array_join(
                        F.slice("t", i * _CHUNK_W + 1, _CHUNK_W), " "
                    ),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("__chunks"),
        )
        .cache()  # two consumers: postings + map-side totals
    )
    ch = carr.select(
        "doc_id", F.posexplode("__chunks").alias("pos", "chunk")
    )
    single_doc = (
        ch.groupBy("chunk")
        .agg(F.min("doc_id").alias("__dmin"), F.max("doc_id").alias("__dmax"))
        .filter(F.col("__dmin") == F.col("__dmax"))
        .select("chunk")
    )
    kept = ch.join(single_doc, "chunk")
    k = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    tot = carr.select(
        "doc_id", F.size("__chunks").cast("long").alias("__n_chunks")
    )
    return (
        st.documents.select("doc_id")
        .join(tot, "doc_id", "left")
        .join(k, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__clean"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("__n_chunks"), F.lit(0).cast("long")).alias(
                "n_chunks"
            ),
            (
                F.coalesce(F.col("__n_chunks"), F.lit(0).cast("long"))
                - F.coalesce(F.col("__n_kept"), F.lit(0).cast("long"))
            ).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient (triangles) over the co-purchase graph
# ---------------------------------------------------------------------------

_EDGE_SUPPORT = 2


@query(
    "graph_triangle_cluster",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pr AS (
        SELECT a.p AS pa, b.p AS pb, COUNT(*) AS c
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    ),
    e AS (SELECT pa, pb FROM pr WHERE c >= {_EDGE_SUPPORT}),
    deg AS (
        SELECT node, COUNT(*) AS degree
        FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
        GROUP BY node
    ),
    tri AS (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM e e1
        JOIN e e2 ON e1.pb = e2.pa
        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    tn AS (
        SELECT node, COUNT(*) AS triangles
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY node
    )
    SELECT deg.node AS part_id,
           deg.degree,
           COALESCE(tn.triangles, 0) AS triangles,
           CASE WHEN deg.degree >= 2
                THEN CAST(2 * COALESCE(tn.triangles, 0) AS DOUBLE)
                     / CAST(deg.degree * (deg.degree - 1) AS DOUBLE)
                ELSE 0.0 END AS clustering
    FROM deg LEFT JOIN tn USING (node)
    ORDER BY COALESCE(tn.triangles, 0) DESC, deg.node
    LIMIT 20
    """,
)
def graph_triangle_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of the part co-purchase graph:
    for the 20 most triangle-dense parts, how tightly do their
    co-purchase neighbors co-purchase each other.

    Spark-first plan: the graph is bounded BEFORE any quadratic step
    — the self-join runs on the DISTINCT (order, part) grain (≤7
    lines/order → ≤21 pairs), and only pairs with support ≥ 2 become
    edges, the market-basket thresholding that keeps degree bounded
    under scale-up. Triangles enumerate over ORDERED edges (a<b<c),
    so each triangle matches exactly once with no post-join dedup:
    one wedge join on the shared middle vertex plus one closing
    equi-join — the standard two-shuffle triangle count, linear in
    wedges. Per-node counts come from an explode (map-side), the
    coefficient is one double division of exact integers, and the
    final top-20 is TakeOrderedAndProject with the unique node id as
    tiebreak."""
    st = _star(spark, sf_dir)
    # r11 optimization-round shape (guide §2.4): ONE groupBy(order)
    # with collect_set(part) replaces distinct + self-join — the
    # collect_set IS the per-order distinct, and in-bucket pair
    # generation (posexplode + tail-slice explode over the sorted
    # ≤7-part basket) replaces the join, deleting a full exchange of
    # the (order, part) stream. Bucket size is bounded by the DATA
    # MODEL (≤7 lines/order), so the collected set can never grow
    # with corpus scale. Measured at sf0.1: shuffle write
    # 18.5 → 16.8 MB, 10 → 9 stages, 54 → 50 tasks, bit-exact — the
    # residual shuffle is the (pa, pb) support count, which is the
    # algorithm's fundamental exchange (near-unique pair keys defeat
    # map-side partial aggregation by construction).
    baskets = (
        st.lineitem.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("__ps"))
        .filter(F.size("__ps") >= 2)
    )
    pairs = (
        baskets.select(
            "__ps", F.posexplode("__ps").alias("__i", "pa")
        )
        .select(
            "pa",
            F.explode(
                F.slice("__ps", F.col("__i") + F.lit(2), F.size("__ps"))
            ).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    e = pairs.filter(F.col("c") >= _EDGE_SUPPORT).select("pa", "pb")
    deg = (
        e.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = (
        e.alias("e1")
        .join(
            e.alias("e2").hint("SHUFFLE_HASH"),
            F.col("e1.pb") == F.col("e2.pa"),
        )
        .join(
            e.alias("e3").hint("SHUFFLE_HASH"),
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("a"),
            F.col("e1.pb").alias("b"),
            F.col("e2.pb").alias("c3"),
        )
    )
    tn = (
        tri.select(F.explode(F.array("a", "b", "c3")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(tn, "node", "left")
        .select(
            F.col("node").alias("part_id"),
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias(
                "triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                (
                    F.lit(2)
                    * F.coalesce(F.col("triangles"), F.lit(0).cast("long"))
                ).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
    return out.orderBy(F.desc("triangles"), F.asc("part_id")).limit(20)


@query(
    "events_audience_overlap",
    oracle="""
    WITH aud AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM aud GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM aud a
        JOIN aud b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT i.type_a, i.type_b,
           sa.n AS n_a, sb.n AS n_b, i.n_both,
           CAST(sa.n + sb.n - i.n_both AS BIGINT) AS n_union,
           round(CAST(i.n_both AS DOUBLE)
                 / (sa.n + sb.n - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.event_type = i.type_a
    JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types — for every type
    pair, the exact distinct-user intersection, union
    (inclusion-exclusion) and Jaccard: the adtech/segment-overlap
    readout, and the EXACT twin a sketch tier (HLL unions à la
    events_hll_rollup, |A∩B| = |A|+|B|−|A∪B|) would be validated
    against at scale.

    Scale shape: the (type, user) distinct grain collapses FIRST (one
    partial-agg exchange — users with duplicate events cannot inflate
    counts); the pair expansion is bounded by the DATA MODEL like the
    co-purchase pass (a user has ≤|types| = 5 distinct types ⇒ ≤10
    pairs per user, linear in users); sizes broadcast into the
    ≤|types|² pair frame. Jaccard is one IEEE division of exact longs
    rounded 6 dp."""
    st = _star(spark, sf_dir)
    aud = st.events.select("event_type", "user_id").distinct()
    sizes = aud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = aud.select(
        F.col("event_type").alias("type_a"), "user_id"
    )
    b = aud.select(
        F.col("event_type").alias("type_b"), "user_id"
    )
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    out = inter.join(F.broadcast(sa), "type_a").join(
        F.broadcast(sb), "type_b"
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        union.cast("bigint").alias("n_union"),
        F.round(F.col("n_both").cast("double") / union, 6).alias(
            "jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# Per-user event-type entropy
# ---------------------------------------------------------------------------


@query(
    "events_type_entropy",
    oracle="""
    WITH cnt AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS t,
               COUNT(*) AS n_types
        FROM cnt GROUP BY user_id
    ),
    term AS (
        SELECT cnt.user_id, tot.t, tot.n_types,
               CAST(floor(
                   -((CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                     * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)))
                   * 1000000.0 + 0.5) AS BIGINT) AS e_micro
        FROM cnt JOIN tot USING (user_id)
    )
    SELECT user_id,
           MIN(t) AS n_events,
           MIN(n_types) AS n_types,
           CAST(SUM(e_micro) AS DOUBLE) / 1000000.0 AS entropy
    FROM term GROUP BY user_id
    """,
)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity profile (bot traffic scores ~0, exploratory
    users high).

    Spark-first plan: two partial-aggregating groupBys on the same
    user key (AQE coalesces to one exchange lineage), the probability
    term computed per (user, type) row map-side. Cross-engine
    exactness: each -p·ln p converts to integer micro-nats via the
    IDENTICAL IEEE sequence in both engines (divide, ln, multiply,
    floor + 0.5 — the lm_score recipe), so the per-user sum is an
    order-free long and the output division of exact operands is one
    identical IEEE op."""
    st = _star(spark, sf_dir)
    cnt = st.events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("user_id").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("t").cast("double")
    term = cnt.join(tot, "user_id").select(
        "user_id",
        "t",
        "n_types",
        F.floor(-(p * F.log(p)) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("e_micro"),
    )
    return term.groupBy("user_id").agg(
        F.min("t").alias("n_events"),
        F.min("n_types").alias("n_types"),
        (F.sum("e_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "entropy"
        ),
    )


# ---------------------------------------------------------------------------
# Per-source Zipf slope
# ---------------------------------------------------------------------------

_ZIPF_TOP = 20


@query(
    "text_zipf_slope",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS term FROM documents
    ),
    tf AS (
        SELECT source, term, COUNT(*) AS tf
        FROM toks GROUP BY source, term
    ),
    ranked AS (
        SELECT source, tf,
               row_number() OVER (
                   PARTITION BY source ORDER BY tf DESC, term) AS r
        FROM tf
        QUALIFY r <= {_ZIPF_TOP}
    ),
    pts AS (
        SELECT source,
               CAST(floor(ln(CAST(r AS DOUBLE)) * 100000.0 + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(tf AS DOUBLE)) * 100000.0 + 0.5)
                    AS BIGINT) AS y
        FROM ranked
    ),
    s AS (
        SELECT source, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM pts GROUP BY source
    )
    SELECT source, n AS n_terms,
           CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent estimate: least-squares slope of
    ln(term frequency) against ln(rank) over each source's top-20
    terms — natural text tracks ≈ −1; template/spam sources flatten.
    The corpus-profiling companion to text_term_freq.

    Spark-first plan: the regression runs on the vocabulary-grain
    aggregate (|sources|·|vocab| rows), never the token stream; the
    rank window partitions by source over that tiny frame. Both logs
    are floored to exact integer 1e-5 units via the identical IEEE
    sequence in both engines, so every regression sum is exact 64-bit
    integer arithmetic under any partitioning (magnitudes bounded:
    n·Σxy < 2^53) and the slope is ONE double division of
    exactly-representable operands."""
    st = _star(spark, sf_dir)
    toks = st.documents.select(
        "source",
        F.explode(TX.tokens(TX.normalize_text("text"))).alias("term"),
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    r = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("tf"), F.asc("term")
        )
    )
    ranked = tf.select("source", "tf", r.alias("r")).filter(
        F.col("r") <= _ZIPF_TOP
    )
    pts = ranked.select(
        "source",
        F.floor(
            F.log(F.col("r").cast("double")) * F.lit(100_000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("x"),
        F.floor(
            F.log(F.col("tf").cast("double")) * F.lit(100_000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("y"),
    )
    s = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_terms"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# BM25 ranking and hybrid (text + vector) retrieval
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ("spark", "join", "window")
_RRF_K = 60

#: DuckDB twin of the BM25 per-(doc, term) partial score. Every
#: double op appears in the IDENTICAL order as the Spark expression
#: below; idf is pre-floored to exact integer micro-units, so each
#: partial is an exact long and the per-doc sum commutes.
_BM25_PARTIAL_SQL = """
    CAST(floor(
        idf_micro * ((tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75
                        * (CAST(dl AS DOUBLE) / avgdl))))
        + 0.5) AS BIGINT)
"""


def _bm25_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenized corpus shared by the BM25/RRF/nDCG tier:
    (doc_id, __toks) with empty docs dropped, CACHED — so the regexp
    normalize+tokenize (the text tier's dominant CPU) runs ONE corpus
    pass per query instead of once per consumer leg (r12, guide §2.3:
    the literal-term BM25 needs a stats pass AND a scoring pass, and
    nDCG adds a relevance pass — previously three full tokenize
    scans). The narrow (doc_id, text) frame is spread before the
    tokenize when storage under-partitions it (one local row group).
    At 100 TB the trade is deliberate: the cached token frame spills
    to disk gracefully (MEMORY_AND_DISK) and replaces two further
    full-corpus regexp passes — the same cache-the-derived-array call
    dedup_paragraphs' chunk frame made in r11. Lifecycle matches the
    sibling inline caches: per-query transient, dropped by the
    harness's clearCache between queries."""
    from sales_etl_spark.operators.skew import spread_narrow_input

    st = _star(spark, sf_dir)
    return (
        spread_narrow_input(st.documents.select("doc_id", "text"))
        .select(
            "doc_id",
            TX.tokens(TX.normalize_text("text")).alias("__toks"),
        )
        .filter(F.size("__toks") > 0)
        .cache()
    )


def _bm25_scores(spark: SparkSession, sf_dir: str, query_terms, base=None):
    """Shared BM25 pipeline: (doc_id, bm25_micro) for every document
    matching ≥1 query term. ``query_terms`` is either a literal tuple
    of terms or a 1-column DataFrame of distinct terms (broadcast).
    ``base`` optionally injects a prebuilt :func:`_bm25_base` frame so
    a composite query (nDCG) shares one cached tokenize pass across
    its legs.

    Optimization-round shape (r11, guide §2.3/§2.4): document length
    is ``size(tokens)`` — a map-side projection — never an explode +
    full-token-stream groupBy (that exchange moved every token in the
    corpus to compute one long per doc). For LITERAL query terms the
    whole score is one corpus scan with zero row-grain exchanges:
    per-term tf is an array fold over the materialized token array,
    (n_docs, Σdl, df_t…) collapse into ONE broadcast 1-row aggregate,
    and each per-(doc, term) partial applies the IDENTICAL IEEE
    sequence as before (idf floored to micro-longs first; a tf=0 term
    contributes floor(idf·0 + 0.5) = 0, exactly the rows the old
    per-(doc, term) frame never materialized), so the per-doc long
    sum is unchanged bit-for-bit. Rows: docs matching ≥1 term, as
    before. For a DataFrame term set the explode+groupBy tf path
    stays (per-doc term columns need literals), but it now joins the
    map-side dl frame instead of a shuffled token-stream aggregate."""
    if base is None:
        base = _bm25_base(spark, sf_dir)
    if isinstance(query_terms, DataFrame):
        dl = base.select("doc_id", F.size("__toks").alias("dl"))
        nstats = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
        toks = base.select(
            "doc_id", F.explode("__toks").alias("term")
        )
        qtoks = toks.join(F.broadcast(query_terms), "term")
        tf = qtoks.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
        df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        idf = df.crossJoin(F.broadcast(nstats)).select(
            "term",
            F.floor(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("idf_micro"),
        )
        avgdl = (
            F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
        )
        partial = (
            tf.join(dl, "doc_id")
            .join(F.broadcast(idf), "term")
            .crossJoin(F.broadcast(nstats))
            .select(
                "doc_id",
                F.floor(
                    F.col("idf_micro")
                    * (
                        (F.col("tf") * F.lit(2.2))
                        / (
                            F.col("tf")
                            + F.lit(1.2)
                            * (
                                F.lit(0.25)
                                + F.lit(0.75)
                                * (F.col("dl").cast("double") / avgdl)
                            )
                        )
                    )
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("partial_micro"),
            )
        )
        return partial.groupBy("doc_id").agg(
            F.sum("partial_micro").alias("bm25_micro")
        )
    # Literal term tuple: fully map-side scoring.
    terms = list(dict.fromkeys(query_terms))

    def term_tf(t: str) -> F.Column:
        # NB: the HOF lambda must take exactly ONE positional arg —
        # PySpark treats a second parameter as the array index.
        return F.size(F.filter("__toks", lambda x: x == F.lit(t)))

    # Pass 1 needs only dl and term PRESENCE (df) — array_contains
    # (early-exit scan) instead of a full occurrence count.
    stats_src = base.select(
        F.size("__toks").alias("dl"),
        *[
            F.array_contains("__toks", F.lit(t)).alias(f"__in_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = stats_src.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(
                F.when(F.col(f"__in_{i}"), F.lit(1)).otherwise(F.lit(0))
            ).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")

    def idf_micro(i: int) -> F.Column:
        return F.floor(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col(f"__df_{i}") + F.lit(0.5))
                / (F.col(f"__df_{i}") + F.lit(0.5))
            )
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long")

    def partial_micro(i: int) -> F.Column:
        tf = term_tf(terms[i]).cast("long")
        return F.floor(
            idf_micro(i)
            * (
                (tf * F.lit(2.2))
                / (
                    tf
                    + F.lit(1.2)
                    * (
                        F.lit(0.25)
                        + F.lit(0.75)
                        * (F.size("__toks").cast("long").cast("double") / avgdl)
                    )
                )
            )
            + F.lit(0.5)
        ).cast("long")

    score = partial_micro(0)
    for i in range(1, len(terms)):
        score = score + partial_micro(i)
    matched = F.greatest(
        *[
            F.array_contains("__toks", F.lit(t)) for t in terms
        ]
    ) if len(terms) > 1 else F.array_contains("__toks", F.lit(terms[0]))
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(matched)
        .select("doc_id", score.alias("bm25_micro"))
    )


#: Shared SQL CTE prefix mirroring _bm25_scores for a given query-term
#: predicate (``{qpred}`` filters the token stream).
_BM25_SQL = f"""
    toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    nstats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
               FROM dl),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE {{qpred}} GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    idf AS (
        SELECT term,
               CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                          * 1000000.0 + 0.5) AS BIGINT) AS idf_micro
        FROM df, nstats
    ),
    partial AS (
        SELECT tf.doc_id,
               {_BM25_PARTIAL_SQL} AS partial_micro
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN idf ON tf.term = idf.term,
        (SELECT CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
         FROM nstats) a
    ),
    bm25 AS (
        SELECT doc_id, CAST(SUM(partial_micro) AS BIGINT) AS bm25_micro
        FROM partial GROUP BY doc_id
    )
"""


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {_BM25_SQL.format(qpred="term IN ('spark', 'join', 'window')")}
    SELECT doc_id,
           CAST(bm25_micro AS DOUBLE) / 1000000.0 AS bm25
    FROM bm25
    ORDER BY bm25_micro DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) top-20 documents for a fixed
    3-term query — the length-normalized ranking function production
    retrieval uses where tf-idf stops (text_tfidf_keywords).

    Spark-first plan: the token stream is scanned once; document
    length and the (N, Σdl) corpus scalars aggregate from it (the
    scalars ride a broadcast 1-row frame — no collect); the query-term
    filter cuts the stream to |Q| terms BEFORE the tf groupBy, so the
    scoring join is query-sized, not corpus-sized. Cross-engine
    exactness: idf floors to integer micro-units first, each
    per-(doc, term) partial applies the IDENTICAL IEEE sequence in
    both engines and floors again, so the per-doc sum is an order-free
    long; top-20 is TakeOrderedAndProject on (long, doc_id)."""
    scores = _bm25_scores(spark, sf_dir, _BM25_QUERY)
    return (
        scores.select(
            "doc_id",
            (F.col("bm25_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "bm25"
            ),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


_RRF_QUERY_ID = 0


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH {_BM25_SQL.format(
        qpred=f"term IN (SELECT DISTINCT unnest({_TOKS}) "
              f"FROM documents WHERE doc_id = {_RRF_QUERY_ID})"
    )},
    trank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS tr
        FROM bm25 WHERE doc_id <> {_RRF_QUERY_ID}
    ),
    q AS (SELECT embedding AS qv FROM embeddings
          WHERE vec_id = {_RRF_QUERY_ID}),
    cos AS (
        SELECT e.vec_id AS doc_id,
               round(
                   list_reduce(list_transform(list_zip(q.qv, e.embedding),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                       (x, y) -> x + y)
                   / nullif(
                       sqrt(list_reduce(list_transform(list_zip(q.qv, q.qv),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                           (x, y) -> x + y))
                       * sqrt(list_reduce(list_transform(
                           list_zip(e.embedding, e.embedding),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                           (x, y) -> x + y)), 0),
                   6) AS sim
        FROM embeddings e, q WHERE e.vec_id <> {_RRF_QUERY_ID}
    ),
    vrank AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sim DESC, doc_id) AS vr
        FROM cos
    )
    SELECT v.doc_id,
           COALESCE(1.0 / ({_RRF_K} + t.tr), 0.0)
               + 1.0 / ({_RRF_K} + v.vr) AS rrf,
           t.tr AS text_rank, v.vr AS vector_rank
    FROM vrank v LEFT JOIN trank t USING (doc_id)
    ORDER BY rrf DESC, v.doc_id
    LIMIT 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: rank the corpus
    by BM25 against document 0's terms AND by embedding cosine
    against vector 0, then fuse as Σ 1/(60+rank) — the standard
    lexical+semantic ensemble (RRF needs no score calibration, which
    is exactly why production search uses it).

    Spark-first plan: the text leg reuses the BM25 pipeline with the
    query's term set as a broadcast frame; the vector leg is the
    cosine_topk shape (query vector broadcast over one corpus scan,
    pre-normed fold). Both global ranks use the bucket-offset
    decomposition (operators/windows.py:global_row_number) — score
    ranges as monotone buckets, so NO single-partition window touches
    the corpus-sized rank lists. The fuse
    is a LEFT join from the vector leg (every doc has a vector; docs
    sharing no term contribute only the vector term via COALESCE), and
    both reciprocal terms divide exact small integers — identical
    IEEE in both engines. Top-10 is TakeOrderedAndProject."""
    st = _star(spark, sf_dir)
    qterms = (
        st.documents.filter(F.col("doc_id") == _RRF_QUERY_ID)
        .select(
            F.explode(TX.tokens(TX.normalize_text("text"))).alias("term")
        )
        .distinct()
    )
    bm25 = _bm25_scores(spark, sf_dir, qterms).filter(
        F.col("doc_id") != _RRF_QUERY_ID
    )
    trank = global_row_number(
        bm25,
        order_by=[F.desc("bm25_micro"), F.asc("doc_id")],
        bucket=-(F.col("bm25_micro") / F.lit(100_000)).cast("long"),
        out="tr",
    ).select("doc_id", "tr")
    e = st.embeddings
    qv = e.filter(F.col("vec_id") == _RRF_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    from sales_etl_spark.functions.vectors import cosine_rounded

    cos = (
        e.filter(F.col("vec_id") != _RRF_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_rounded("qv", "embedding").alias("sim"),
        )
    )
    vrank = global_row_number(
        cos,
        order_by=[F.desc("sim"), F.asc("doc_id")],
        bucket=-F.floor(F.col("sim") * F.lit(100.0)).cast("long"),
        out="vr",
    ).select("doc_id", "vr")
    fused = (
        vrank.join(trank, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("tr")),
                    F.lit(0.0),
                )
                + F.lit(1.0) / (F.lit(_RRF_K) + F.col("vr"))
            ).alias("rrf"),
            F.col("tr").alias("text_rank"),
            F.col("vr").alias("vector_rank"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


# ---------------------------------------------------------------------------
# Experimentation & monitoring: Welch A/B test, KS drift
# ---------------------------------------------------------------------------


@query(
    "events_ab_welch",
    oracle="""
    WITH spend AS (
        SELECT user_id,
               CAST(user_id % 2 AS INTEGER) AS variant,
               CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS sp
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    v AS (
        SELECT variant,
               COUNT(*) AS n,
               CAST(SUM(sp) AS BIGINT) AS s1,
               SUM(CAST(sp AS HUGEINT) * sp) AS s2
        FROM spend GROUP BY variant
    ),
    w AS (
        SELECT
            MAX(CASE WHEN variant = 0 THEN n END) AS n_control,
            MAX(CASE WHEN variant = 0 THEN s1 END) AS s1_c,
            MAX(CASE WHEN variant = 0 THEN s2 END) AS s2_c,
            MAX(CASE WHEN variant = 1 THEN n END) AS n_treatment,
            MAX(CASE WHEN variant = 1 THEN s1 END) AS s1_t,
            MAX(CASE WHEN variant = 1 THEN s2 END) AS s2_t
        FROM v
    )
    SELECT n_control, n_treatment,
           (CAST(s1_c AS DOUBLE) / n_control) / 1000000.0 AS mean_control,
           (CAST(s1_t AS DOUBLE) / n_treatment) / 1000000.0
               AS mean_treatment,
           ((CAST(s1_t AS DOUBLE) / n_treatment)
            - (CAST(s1_c AS DOUBLE) / n_control)) / 1000000.0 AS lift,
           ((CAST(s1_t AS DOUBLE) / n_treatment)
            - (CAST(s1_c AS DOUBLE) / n_control))
           / sqrt(
               ((CAST(s2_c AS DOUBLE)
                 - (CAST(s1_c AS DOUBLE) / n_control) * s1_c)
                / (n_control - 1)) / n_control
               + ((CAST(s2_t AS DOUBLE)
                   - (CAST(s1_t AS DOUBLE) / n_treatment) * s1_t)
                  / (n_treatment - 1)) / n_treatment
           ) AS z_score
    FROM w
    """,
)
def events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch z-test for an A/B experiment on per-user purchase spend
    (variant = deterministic user-id parity split — the hash-bucket
    assignment production experimentation uses, minus the salt).

    Spark-first plan: spend quantizes to integer micro-units at the
    scan (floor·1e6+0.5 — the registry's transcendental-free exact
    recipe), so both the per-user fold and the per-variant (n, Σx,
    Σx²) power sums are order-free longs — the agg_stats recipe
    applied to experimentation. The 2-row variant frame pivots to ONE
    row via conditional MAX and the entire Welch statistic (means,
    sample variances, pooled standard error) evaluates as a single
    deterministic IEEE expression over exact integer operands —
    bit-identical in both engines, no float accumulates anywhere."""
    st = _star(spark, sf_dir)
    sp_micro = F.floor(F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
        "long"
    )
    spend = (
        st.events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(sp_micro).alias("sp"))
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"), "sp"
        )
    )
    sp19 = F.col("sp").cast("decimal(19,0)")
    v = spend.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sp").alias("s1"),
        # Σsp² needs 128-bit headroom (micro-unit spends square to
        # ~1e22 at sf0.01): exact decimal(38,0), HUGEINT in the twin.
        F.sum(sp19 * sp19).alias("s2"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_control"),
        F.max(F.when(F.col("variant") == 0, F.col("s1"))).alias("s1_c"),
        F.max(F.when(F.col("variant") == 0, F.col("s2"))).alias("s2_c"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias(
            "n_treatment"
        ),
        F.max(F.when(F.col("variant") == 1, F.col("s1"))).alias("s1_t"),
        F.max(F.when(F.col("variant") == 1, F.col("s2"))).alias("s2_t"),
    )
    mean_c = F.col("s1_c").cast("double") / F.col("n_control")
    mean_t = F.col("s1_t").cast("double") / F.col("n_treatment")
    var_c = (
        F.col("s2_c").cast("double") - mean_c * F.col("s1_c")
    ) / (F.col("n_control") - 1)
    var_t = (
        F.col("s2_t").cast("double") - mean_t * F.col("s1_t")
    ) / (F.col("n_treatment") - 1)
    return w.select(
        "n_control",
        "n_treatment",
        (mean_c / F.lit(1_000_000.0)).alias("mean_control"),
        (mean_t / F.lit(1_000_000.0)).alias("mean_treatment"),
        ((mean_t - mean_c) / F.lit(1_000_000.0)).alias("lift"),
        (
            (mean_t - mean_c)
            / F.sqrt(
                var_c / F.col("n_control") + var_t / F.col("n_treatment")
            )
        ).alias("z_score"),
    )


#: DiD period cutoff: events span 2024-01-01..01-30; mid-month gives
#: both periods real mass in every cell.
_DID_CUTOFF = "2024-01-16"


@query(
    "events_did_estimator",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS variant,
               CAST(ts >= TIMESTAMP '{_DID_CUTOFF}' AS INTEGER) AS post,
               COUNT(*) AS n,
               CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS s
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    w AS (
        SELECT
            MAX(CASE WHEN variant=0 AND post=0 THEN n END) AS n_c_pre,
            MAX(CASE WHEN variant=0 AND post=0 THEN s END) AS s_c_pre,
            MAX(CASE WHEN variant=0 AND post=1 THEN n END) AS n_c_post,
            MAX(CASE WHEN variant=0 AND post=1 THEN s END) AS s_c_post,
            MAX(CASE WHEN variant=1 AND post=0 THEN n END) AS n_t_pre,
            MAX(CASE WHEN variant=1 AND post=0 THEN s END) AS s_t_pre,
            MAX(CASE WHEN variant=1 AND post=1 THEN n END) AS n_t_post,
            MAX(CASE WHEN variant=1 AND post=1 THEN s END) AS s_t_post
        FROM cells
    )
    SELECT CAST(n_c_pre AS BIGINT) AS n_c_pre,
           CAST(n_c_post AS BIGINT) AS n_c_post,
           CAST(n_t_pre AS BIGINT) AS n_t_pre,
           CAST(n_t_post AS BIGINT) AS n_t_post,
           round(CAST(s_c_pre AS DOUBLE) / n_c_pre / 1000000.0, 6)
               AS mean_c_pre,
           round(CAST(s_c_post AS DOUBLE) / n_c_post / 1000000.0, 6)
               AS mean_c_post,
           round(CAST(s_t_pre AS DOUBLE) / n_t_pre / 1000000.0, 6)
               AS mean_t_pre,
           round(CAST(s_t_post AS DOUBLE) / n_t_post / 1000000.0, 6)
               AS mean_t_post,
           round((CAST(s_t_post AS DOUBLE) / n_t_post
                  - CAST(s_t_pre AS DOUBLE) / n_t_pre
                  - CAST(s_c_post AS DOUBLE) / n_c_post
                  + CAST(s_c_pre AS DOUBLE) / n_c_pre)
                 / 1000000.0, 6) AS did_effect
    FROM w
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase value — the panel-data
    causal readout completing the experimentation family (Welch z for
    parallel groups, CUPED for variance reduction, DiD for
    treatment-over-time with a control trend): effect =
    (T_post − T_pre) − (C_post − C_pre), the parallel-trends
    identification. Variant is the deterministic user-id parity split
    and period splits at mid-window, so all four cells carry real
    mass at every sf.

    Spark-first plan: ONE partial-aggregated pass builds the four
    (variant, period) cells — values quantize to integer micro-units
    at the scan so the cell sums are order-free longs — the 4-row
    frame pivots via conditional MAX, and the estimator evaluates as
    one deterministic IEEE expression over exact operands. The same
    agg_stats recipe as Welch; no new exchange shape at any scale."""
    st = _star(spark, sf_dir)
    v_micro = F.floor(
        F.col("value") * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    cells = (
        st.events.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.col("user_id") % 2).cast("int").alias("variant"),
            (
                F.col("ts")
                >= F.lit(_DID_CUTOFF).cast("timestamp_ntz")
            ).cast("int").alias("post"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(v_micro).alias("s"))
    )

    def cell(vv: int, pp: int, col: str):
        return F.max(
            F.when(
                (F.col("variant") == vv) & (F.col("post") == pp),
                F.col(col),
            )
        )

    w = cells.agg(
        cell(0, 0, "n").alias("n_c_pre"), cell(0, 0, "s").alias("s_c_pre"),
        cell(0, 1, "n").alias("n_c_post"), cell(0, 1, "s").alias("s_c_post"),
        cell(1, 0, "n").alias("n_t_pre"), cell(1, 0, "s").alias("s_t_pre"),
        cell(1, 1, "n").alias("n_t_post"), cell(1, 1, "s").alias("s_t_post"),
    )

    def mean(s: str, n: str):
        return F.col(s).cast("double") / F.col(n)

    return w.select(
        F.col("n_c_pre").cast("bigint").alias("n_c_pre"),
        F.col("n_c_post").cast("bigint").alias("n_c_post"),
        F.col("n_t_pre").cast("bigint").alias("n_t_pre"),
        F.col("n_t_post").cast("bigint").alias("n_t_post"),
        F.round(mean("s_c_pre", "n_c_pre") / F.lit(1_000_000.0), 6)
        .alias("mean_c_pre"),
        F.round(mean("s_c_post", "n_c_post") / F.lit(1_000_000.0), 6)
        .alias("mean_c_post"),
        F.round(mean("s_t_pre", "n_t_pre") / F.lit(1_000_000.0), 6)
        .alias("mean_t_pre"),
        F.round(mean("s_t_post", "n_t_post") / F.lit(1_000_000.0), 6)
        .alias("mean_t_post"),
        F.round(
            (
                mean("s_t_post", "n_t_post")
                - mean("s_t_pre", "n_t_pre")
                - mean("s_c_post", "n_c_post")
                + mean("s_c_pre", "n_c_pre")
            )
            / F.lit(1_000_000.0),
            6,
        ).alias("did_effect"),
    )


#: Kaplan-Meier censoring cutoff: one day past the event window
#: (events span 2024-01-01..01-30), so every non-converter censors at
#: a well-defined duration.
_KM_CUTOFF = "2024-01-31"


@query(
    "events_km_survival",
    oracle=f"""
    WITH signup AS (
        SELECT user_id, MIN(ts) AS s_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT g.user_id, g.s_ts, MIN(e.ts) AS p_ts
        FROM signup g
        LEFT JOIN events e
          ON e.user_id = g.user_id AND e.event_type = 'purchase'
         AND e.ts >= g.s_ts
        GROUP BY g.user_id, g.s_ts
    ),
    durations AS (
        SELECT user_id,
               CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev,
               CAST(CASE WHEN p_ts IS NOT NULL
                    THEN date_diff('microsecond', s_ts, p_ts)
                    ELSE date_diff('microsecond', s_ts,
                                   TIMESTAMP '{_KM_CUTOFF}')
                    END // 86400000000 AS BIGINT) AS day
        FROM conv
    ),
    daily AS (
        SELECT day,
               CAST(SUM(ev) AS BIGINT) AS d,
               CAST(SUM(1 - ev) AS BIGINT) AS c
        FROM durations GROUP BY day
    ),
    risk AS (
        SELECT day, d, c,
               -- explicit BIGINT: the window SUM widens to DECIMAL in
               -- DuckDB and the driver hash is dtype-sensitive (the
               -- flagship_big_orders r5 lesson)
               CAST(CAST((SELECT COUNT(*) FROM durations) AS BIGINT)
                    - COALESCE(SUM(d + c) OVER (
                          ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        FROM daily
    ),
    terms AS (
        SELECT day, d, c, n_risk,
               CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
                    WHEN d < n_risk THEN
                        CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                                   * 1000000000.0 + 0.5) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS ln_nano,
               CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dies
        FROM risk
    )
    SELECT day, n_risk, d AS n_events, c AS n_censored,
           CASE WHEN SUM(dies) OVER (ORDER BY day) > 0 THEN 0.0
                ELSE round(exp(CAST(SUM(ln_nano) OVER (ORDER BY day)
                                    AS DOUBLE) / 1000000000.0), 6)
           END AS km_survival
    FROM terms ORDER BY day
    """,
)
def events_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of signup→purchase conversion time, with
    right-censoring at the window edge — the survival-analysis member
    of the experimentation family (Welch/CUPED/DiD measure effect
    size; KM measures time-to-event under censoring, the estimator
    behind retention curves and LTV horizon picks). S(t) =
    Π_{{s≤t}} (1 − d_s/n_s) over daily event times; non-converters
    censor at the cutoff and leave the risk set without contributing
    an event — dropping them instead (the naive mistake) biases the
    curve down.

    Spark-first + exactness shape: per-user durations are two
    pushdown-filtered scans and a user-grain aggregate (exact integer
    microsecond arithmetic → day buckets); everything after lives on
    a ≤31-row daily frame, so the unpartitioned cumulative windows
    are calendar-bounded (the registry's bounded-domain window
    contract). Each factor's ln(1 − d/n) is one transcendental of
    one IEEE division of two exact longs, quantized to NANO units
    BEFORE the cumulative sum via round-half-up — floor(ln*1e9 + 0.5),
    the DSIR/lm-score recipe, the identical expression in both
    engines so negative values agree — and the
    survival product is exp of an exact integer sum, rounded 6 dp; a
    day where the whole risk set fails pins the curve to exactly 0."""
    st = _star(spark, sf_dir)
    ev = st.events
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(pur, "user_id", "left")
        .filter(F.col("p_ts").isNull() | (F.col("p_ts") >= F.col("s_ts")))
        .groupBy("user_id", "s_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    # users whose only purchases precede signup: the left join keeps
    # them only via rows that failed the >= filter — reattach as
    # censored by re-joining signup (anti pattern below keeps one row
    # per signup user regardless)
    conv = signup.join(
        conv.select("user_id", "p_ts"), "user_id", "left"
    )
    us = F.unix_micros(F.col("s_ts").cast("timestamp"))
    up = F.unix_micros(F.col("p_ts").cast("timestamp"))
    uc = F.unix_micros(
        F.lit(_KM_CUTOFF).cast("timestamp_ntz").cast("timestamp")
    )
    # integer `div`, not double-divide+floor: an exact-multiple-of-a-
    # day duration must bucket identically to DuckDB's BIGINT `//`
    durations = conv.select(
        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0).alias("ev"),
        F.when(F.col("p_ts").isNotNull(), up - us)
        .otherwise(uc - us)
        .alias("__dur_us"),
    ).select(
        "ev",
        F.expr("__dur_us div 86400000000").cast("bigint").alias("day"),
    )
    return aggregates.km_survival_curve(durations, "day", "ev")


_KS_SRC_A = "src0"
_KS_SRC_B = "src1"


@query(
    "quality_ks_drift",
    oracle=f"""
    WITH pts AS (
        SELECT n_chars AS x,
               CASE WHEN source = '{_KS_SRC_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN source = '{_KS_SRC_B}' THEN 1 ELSE 0 END AS ib
        FROM documents WHERE source IN ('{_KS_SRC_A}', '{_KS_SRC_B}')
    ),
    per_x AS (
        SELECT x, CAST(SUM(ia) AS BIGINT) AS ca,
               CAST(SUM(ib) AS BIGINT) AS cb
        FROM pts GROUP BY x
    ),
    cum AS (
        SELECT x,
               CAST(SUM(ca) OVER (ORDER BY x) AS BIGINT) AS cum_a,
               CAST(SUM(cb) OVER (ORDER BY x) AS BIGINT) AS cum_b
        FROM per_x
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS na,
               CAST(SUM(cb) AS BIGINT) AS nb
        FROM per_x
    )
    SELECT tot.na AS n_a, tot.nb AS n_b,
           CAST(MAX(abs(cum_a * tot.nb - cum_b * tot.na)) AS BIGINT)
               AS d_num,
           CAST(MAX(abs(cum_a * tot.nb - cum_b * tot.na)) AS DOUBLE)
               / (tot.na * tot.nb) AS ks_stat
    FROM cum, tot
    GROUP BY tot.na, tot.nb
    """,
)
def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the document-
    length distributions of two sources — the distribution-drift
    monitor a production data pipeline runs between corpus snapshots
    (KS needs no binning choice, unlike a chi-square histogram).

    Spark-first plan: the corpus collapses to the VALUE-DOMAIN grain
    first (one groupBy on n_chars with per-source conditional counts),
    so the CDF window runs over |distinct values| rows — domain-sized,
    not corpus-sized (for continuous metrics you pre-bin, making the
    domain the histogram width). The KS statistic stays exact the
    whole way: the sup runs over INTEGER cross-products |Fa·nb −
    Fb·na| (never a float CDF), and the single division at the end is
    one identical IEEE op in both engines."""
    st = _star(spark, sf_dir)
    pts = st.documents.filter(
        F.col("source").isin(_KS_SRC_A, _KS_SRC_B)
    ).select(
        F.col("n_chars").alias("x"),
        F.when(F.col("source") == _KS_SRC_A, 1).otherwise(0).alias("ia"),
        F.when(F.col("source") == _KS_SRC_B, 1).otherwise(0).alias("ib"),
    )
    per_x = pts.groupBy("x").agg(
        F.sum("ia").alias("ca"), F.sum("ib").alias("cb")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_x.select(
        "x",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = per_x.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "na",
            "nb",
            F.abs(
                F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
            ).alias("dn"),
        )
        .groupBy("na", "nb")
        .agg(F.max("dn").alias("d_num"))
    )
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "d_num",
        (
            F.col("d_num").cast("double") / (F.col("na") * F.col("nb"))
        ).alias("ks_stat"),
    )


# ---------------------------------------------------------------------------
# Association rules (market-basket lift) and Benford profile
# ---------------------------------------------------------------------------

_RULE_SUPPORT = 3


@query(
    "agg_association_rules",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM op),
    item AS (SELECT p, COUNT(*) AS n_p FROM op GROUP BY p),
    pair AS (
        SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    )
    SELECT part_a, part_b, n_ab,
           ia.n_p AS n_a, ib.n_p AS n_b,
           CAST(n_ab AS DOUBLE) / ia.n_p AS confidence,
           (CAST(n_ab AS DOUBLE) * n.n_orders)
               / (CAST(ia.n_p AS DOUBLE) * ib.n_p) AS lift
    FROM pair
    JOIN item ia ON ia.p = part_a
    JOIN item ib ON ib.p = part_b, n
    WHERE n_ab >= {_RULE_SUPPORT}
    ORDER BY lift DESC, part_a, part_b
    LIMIT 20
    """,
)
def agg_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the order baskets: for every co-purchased
    part pair at support ≥ 3, confidence P(b|a) and lift
    P(ab)/(P(a)P(b)) — the step from raw pair counts
    (agg_copurchase_topk) to an actual recommendation/affinity signal
    (lift > 1 = genuinely associated, not just individually popular).

    Spark-first plan: baskets reduce to the DISTINCT (order, part)
    grain first (≤7 lines/order bounds the pair join by the data
    model); item counts aggregate from the same cached grain; the
    1-row basket count rides a broadcast frame. The support filter
    cuts the pair table BEFORE the two item-count joins (both
    broadcastable — |parts|-sized). Confidence and lift are divisions
    of exact integers in a pinned IEEE order, so the lift sort ranks
    identically in both engines; top-20 is TakeOrderedAndProject with
    the unique pair as tiebreak."""
    st = _star(spark, sf_dir)
    op = st.lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = op.agg(F.countDistinct("o").alias("n_orders"))
    item = op.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    pair = (
        op.alias("a")
        .join(
            op.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("part_a"), F.col("b.p").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _RULE_SUPPORT)
    )
    ia = item.select(F.col("p").alias("part_a"), F.col("n_p").alias("n_a"))
    ib = item.select(F.col("p").alias("part_b"), F.col("n_p").alias("n_b"))
    out = (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (F.col("n_ab").cast("double") / F.col("n_a")).alias(
                "confidence"
            ),
            (
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


@query(
    "quality_benford_digits",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice >= 1.0
    ),
    obs AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY digit),
    n AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS total FROM obs)
    SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / n.total AS obs_share,
           CAST(floor(log10(1.0 + 1.0 / digit) * 1000000.0 + 0.5)
                AS BIGINT) AS exp_micro,
           CAST(n_obs AS DOUBLE) / n.total
               - CAST(floor(log10(1.0 + 1.0 / digit) * 1000000.0 + 0.5)
                      AS BIGINT) / 1000000.0 AS deviation
    FROM obs, n
    """,
)
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit profile of order totals — the
    classic bookkeeping-fraud / synthetic-data smell test (organic
    multiplicative amounts follow log10(1+1/d); fabricated ones
    don't).

    Spark-first plan: the digit extracts map-side from the integer
    part (string head of the floored total — no log in the hot path),
    one 9-bucket groupBy, and the 1-row total broadcast back. The
    expected Benford share is transcendental, so it converts to exact
    integer micro-units via the identical floor(log10·1e6+0.5)
    sequence in both engines; observed shares and deviations are then
    divisions of exact operands."""
    st = _star(spark, sf_dir)
    d = st.orders.filter(F.col("o_totalprice") >= 1.0).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    n = obs.agg(F.sum("n_obs").alias("total"))
    exp_micro = (
        F.floor(
            F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
            * F.lit(1_000_000.0)
            + F.lit(0.5)
        ).cast("long")
    )
    return obs.crossJoin(F.broadcast(n)).select(
        "digit",
        "n_obs",
        (F.col("n_obs").cast("double") / F.col("total")).alias("obs_share"),
        exp_micro.alias("exp_micro"),
        (
            F.col("n_obs").cast("double") / F.col("total")
            - exp_micro / F.lit(1_000_000.0)
        ).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Distributed PCA: top principal component by integer power iteration
# ---------------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_VSCALE = 100_000  # iterate quantization (1e-5 units)


def _pca_sql() -> str:
    """Unrolled power-iteration oracle. Every iterate is EXACT integer
    arithmetic: the scaled covariance C' = n·Σqqᵀ − (Σq)(Σq)ᵀ in
    nano²-units (HUGEINT), the matvec in HUGEINT, and the
    renormalization as sign-split nonnegative floor division
    (|w|·scale // max|w|) — `//` and Spark's `div` agree on
    nonnegative operands, and the sign never rides the division."""
    iters = ""
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        iters += f""",
    w{k} AS (
        SELECT cp.i, SUM(cp.cp * v.v) AS w
        FROM cp JOIN {prev} v ON v.i = cp.j
        GROUP BY cp.i
    ),
    m{k} AS (SELECT MAX(abs(w)) AS m FROM w{k}),
    v{k} AS (
        SELECT i,
               CAST(CASE WHEN w < 0
                    THEN -((abs(w) * {_PCA_VSCALE}) // m.m)
                    ELSE (abs(w) * {_PCA_VSCALE}) // m.m
               END AS BIGINT) AS v
        FROM w{k}, m{k} m
    )"""
        prev = f"v{k}"
    return f"""
    WITH q AS (
        SELECT vec_id, i,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000000.0
                          + 0.5) AS BIGINT) AS q
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings)
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM q),
    s AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY i),
    gram AS (
        SELECT a.i AS i, b.i AS j, SUM(CAST(a.q AS HUGEINT) * b.q) AS g
        FROM q a JOIN q b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    cp AS (
        SELECT g.i, g.j,
               CAST(n.n AS HUGEINT) * g.g
                   - CAST(si.s AS HUGEINT) * sj.s AS cp
        FROM gram g
        JOIN s si ON si.i = g.i
        JOIN s sj ON sj.i = g.j, n
    ),
    v0 AS (SELECT DISTINCT i, CAST({_PCA_VSCALE} AS BIGINT) AS v FROM q){iters},
    nrm AS (SELECT CAST(SUM(v * v) AS BIGINT) AS n2 FROM {prev})
    SELECT v.i AS dim, v.v AS v_scaled,
           CAST(v.v AS DOUBLE) / sqrt(CAST(nrm.n2 AS DOUBLE)) AS loading
    FROM {prev} v, nrm
    """


@query("emb_pca_power", oracle=_pca_sql())
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — distributed PCA in EXACTLY MLlib's RowMatrix shape:
    ONE O(n·d²) distributed pass builds the Gram/covariance, then the
    eigensolve runs LOCAL over the d²-bounded matrix (d=64 → 2080
    upper-triangle cells — driver state, like Lloyd's centroids),
    never touching the corpus again. Earlier revisions ran the 3
    matvec+renormalize rounds as chained distributed jobs over the
    4096-row frame; that burned ~4 s of pure task-scheduling floor on
    ~36 tiny stages at bench scale — the local solve removes every
    one of them and is the only sane shape at ANY scale (the iterate
    is d ints; the cluster's job is the corpus pass).

    Bit-exact across engines end to end: elements quantize to integer
    nano-units at the scan; the Gram matrix accumulates exact integer
    products (long hi/lo split accumulators / HUGEINT), mean-centering
    uses the division-free scaling C' = n·Σqqᵀ − (Σq)(Σq)ᵀ (a positive
    rescale cannot change eigenvectors), each matvec is an exact
    arbitrary-precision integer sum (Python ints ≡ the oracle's
    HUGEINT), and renormalization is sign-split NONNEGATIVE floor
    division by max|w| (Python `//` ≡ DuckDB `//` on nonnegative
    operands — the sign never rides the division, so truncate-vs-
    floor cannot diverge). Floats appear exactly once: the final
    loading = v/√Σv² over small exact integers, identical IEEE in
    both engines. The exact-integer iteration is replicated
    independently in tests/test_structure.py."""
    st = _star(spark, sf_dir)
    q = st.embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.floor(
            F.col("x").cast("double") * F.lit(1_000_000_000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    n = q.agg(F.countDistinct("vec_id").alias("n"))
    s = q.groupBy("i").agg(F.sum("q").alias("s"))
    # Gram via array slices instead of the q⨯q self-join: each row
    # keeps its quantized vector, a first posexplode fixes i, and the
    # tail slice [i..d] generates only the UPPER-TRIANGLE products —
    # one pipelined stage (no join shuffle/probe), half the decimal
    # multiplies, then the symmetric half is mirrored from the
    # 4096-row aggregate. Bit-identical by symmetry and decimal
    # exactness (measured: same 4096 cells, ~2.1× faster at sf0.1).
    qarr = st.embeddings.select(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * F.lit(1_000_000_000.0) + F.lit(0.5)
            ).cast("long"),
        ).alias("qa")
    )
    tri = (
        qarr.select(F.posexplode("qa").alias("pos", "qi"), "qa")
        .select(
            (F.col("pos") + 1).alias("i"),
            "qi",
            F.slice("qa", F.col("pos") + 1, F.lit(1 << 20)).alias("tail"),
        )
        .select("i", "qi", F.posexplode("tail").alias("k", "qj"))
        .select(
            "i",
            (F.col("i") + F.col("k")).alias("j"),
            (F.col("qi") * F.col("qj")).alias("p"),
        )
    )
    # The pair product stays in LONG arithmetic (|x| < 3 ⇒ |q| < 3e9
    # ⇒ |p| < 9e18 < 2^63 — the synthetic embeddings sit well inside
    # at |x| < 0.6), and the per-cell sum — which CAN overflow a long
    # — splits into two long accumulators via the truncating div/mod
    # identity p = (p div 2^31)·2^31 + (p mod 2^31), exact for either
    # sign. Reconstruction into decimal happens on the 4096 final
    # cells only. Same cells bit-for-bit as the former
    # decimal(19,0)×decimal(19,0) path, measured 3× faster at sf0.1
    # (no BigDecimal multiply per pair; whole-stage codegen long
    # math). Long-sum safety bound: n_rows·2^31 < 2^63 ⇒ n < 4.3e9
    # vectors per cell — beyond that, revert the sum (not the
    # product) to decimal.
    _M = 1 << 31
    tri = tri.select(
        "i",
        "j",
        F.expr(f"p div {_M}").alias("hi"),
        F.expr(f"p % {_M}").alias("lo"),
    )
    gram_u = (
        tri.groupBy("i", "j")
        .agg(F.sum("hi").alias("shi"), F.sum("lo").alias("slo"))
        .select(
            "i",
            "j",
            (
                F.lit(_M).cast("decimal(38,0)")
                * F.col("shi").cast("decimal(38,0)")
                + F.col("slo").cast("decimal(38,0)")
            ).alias("g"),
        )
    )
    # LOCAL eigensolve over the collected d²-bounded state (2080
    # upper-triangle cells + d sums + 1 count — the ONLY collects,
    # all O(d²) metadata regardless of corpus size). Arbitrary-
    # precision Python ints reproduce the oracle's HUGEINT arithmetic
    # exactly; the distributed version of these 3 rounds cost ~36
    # scheduler floors and computed the identical 64 longs.
    n_vecs = n.collect()[0]["n"]
    s_by_dim = {r["i"]: int(r["s"]) for r in s.collect()}
    d = len(s_by_dim)
    g: dict[tuple[int, int], int] = {}
    for r in gram_u.collect():
        gv = int(r["g"])
        g[(r["i"], r["j"])] = gv
        g[(r["j"], r["i"])] = gv
    cp = [
        [
            n_vecs * g[(i, j)] - s_by_dim[i] * s_by_dim[j]
            for j in range(1, d + 1)
        ]
        for i in range(1, d + 1)
    ]
    v = [_PCA_VSCALE] * d
    for _ in range(_PCA_ITERS):
        w = [
            sum(cp[i][j] * v[j] for j in range(d)) for i in range(d)
        ]
        m = max(abs(x) for x in w)
        v = [
            -((-x) * _PCA_VSCALE // m)
            if x < 0
            else x * _PCA_VSCALE // m
            for x in w
        ]
    n2 = sum(x * x for x in v)
    import math

    root = math.sqrt(float(n2))
    return driver_table(
        spark,
        [(i + 1, v[i], float(v[i]) / root) for i in range(d)],
        "dim int, v_scaled long, loading double",
    )


# ---------------------------------------------------------------------------
# Agg-only argmin, sequence paths, dynamic partition pruning
# ---------------------------------------------------------------------------


@query(
    "agg_argmin_supplier",
    oracle="""
    WITH ps AS (
        SELECT l_partkey AS p, l_suppkey AS s,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS mp
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT p, MIN(mp) AS bp FROM ps GROUP BY p)
    SELECT ps.p AS part_id,
           MIN(ps.s) AS best_supp,
           CAST(best.bp AS DOUBLE) AS best_price
    FROM ps JOIN best ON ps.p = best.p AND ps.mp = best.bp
    GROUP BY ps.p, best.bp
    """,
)
def agg_argmin_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part (TPC-H Q2's correlated-min shape,
    restated over the fact table): for every part, the supplier whose
    best offered price is lowest, ties resolved to the smallest
    supplier key.

    Spark-first plan: argmin WITHOUT a rank window — the struct-min
    trick. min(struct(price, supplier)) compares lexicographically,
    so one ordinary aggregate returns (lowest price, smallest
    supplier among its ties) with the tiebreak BUILT INTO the
    comparator: fully map-side partial-aggregable, one exchange on
    the part key, no per-group sort state. A row_number window gives
    the identical answer but forces a sort of every group; at 100 TB
    the struct-min is the difference between a combinable hash
    aggregate and a window sort over the fact. Decimal price keeps
    the comparator exact (a double comparator could rank two engines'
    roundings differently)."""
    st = _star(spark, sf_dir)
    ps = st.lineitem.groupBy(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("mp")
    )
    arg = ps.groupBy("p").agg(
        F.min(F.struct("mp", "s")).alias("__best")
    )
    return arg.select(
        F.col("p").alias("part_id"),
        F.col("__best.s").alias("best_supp"),
        F.col("__best.mp").cast("double").alias("best_price"),
    )


_PATH_K = 15


@query(
    "events_path_topk",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type AS t3,
               lag(event_type, 1) OVER w AS t2,
               lag(event_type, 2) OVER w AS t1
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t1 AS step1, t2 AS step2, t3 AS step3,
           COUNT(*) AS n_paths
    FROM seq WHERE t1 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n_paths DESC, step1, step2, step3
    LIMIT {_PATH_K}
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event 3-step paths across all users — the sequence-mining
    extension of the Markov pair matrix (events_transition_matrix):
    which 3-grams of behavior dominate (view→click→purchase vs
    view→view→view tells a product team more than either pair).

    Spark-first plan: ONE shuffle on the user key serves both lag
    windows (same partition spec, one sort), the path triple then
    counts over the ≤|types|³ domain-bounded key space — map-side
    combine collapses each task to that bound before the tiny final
    exchange, so output size is independent of stream length.
    Deterministic tiebreak (event_id) pins same-timestamp ordering;
    top-15 is TakeOrderedAndProject."""
    st = _star(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = st.events.select(
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    return (
        seq.groupBy(
            F.col("t1").alias("step1"),
            F.col("t2").alias("step2"),
            F.col("t3").alias("step3"),
        )
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(_PATH_K)
    )


@query(
    "scan_dpp_prune",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1997-04' AND '1997-06'
    GROUP BY 1
    """,
)
def scan_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning, end to end: the month filter is not
    in the query at all — it lives on a quarter attribute of a
    calendar dimension, and Spark derives the partition list AT
    RUNTIME from the filtered dim (broadcast), pruning the
    hive-partitioned fact's directories before reading them. This is
    the star-schema complement of scan_partition_prune's static
    pruning: at 100 TB virtually every BI query filters on dim
    attributes (quarter, region tier, brand), not raw partition
    values, and DPP is what keeps those scans partition-bounded.
    The plan carries ``dynamicpruningexpression`` on the partitioned
    scan (locked by test)."""
    from sales_etl_spark.load import write_parquet
    from sales_etl_spark.plans.extensions import _scratch

    st = _star(spark, sf_dir)
    out = str(_scratch("dpp_orders", sf_dir))
    write_parquet(
        st.orders.select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        ),
        out,
        partition_by=["order_month"],
    )
    months = (
        st.orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .distinct()
        .select(
            "order_month",
            F.concat(
                F.substring("order_month", 1, 4),
                F.lit("-Q"),
                (
                    (F.substring("order_month", 6, 2).cast("int") + 2)
                    / F.lit(3)
                )
                .cast("int")
                .cast("string"),
            ).alias("quarter"),
        )
    )
    fact = spark.read.parquet(out)
    return (
        fact.join(
            F.broadcast(months.filter(F.col("quarter") == "1997-Q2")),
            "order_month",
        )
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# FP&A analytics: revenue bridge, Pareto concentration, weighted median
# ---------------------------------------------------------------------------

_BR_P0 = ("1996-01-01", "1996-07-01")
_BR_P1 = ("1996-07-01", "1997-01-01")

#: Per-period per-part aggregate (qty as exact bigint, revenue as the
#: shared decimal money contract).
_BR_PERIOD_SQL = """
        SELECT l_partkey AS p,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * CAST(1 - l_discount AS DECIMAL(8,4))) AS r
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{lo}'
          AND l_shipdate <  TIMESTAMP '{hi}'
        GROUP BY l_partkey
"""


@query(
    "flagship_revenue_bridge",
    oracle=f"""
    WITH p0 AS ({_BR_PERIOD_SQL.format(lo=_BR_P0[0], hi=_BR_P0[1])}),
    p1 AS ({_BR_PERIOD_SQL.format(lo=_BR_P1[0], hi=_BR_P1[1])}),
    j AS (
        SELECT COALESCE(p0.p, p1.p) AS p,
               p0.q AS q0, p0.r AS r0, p1.q AS q1, p1.r AS r1
        FROM p0 FULL OUTER JOIN p1 ON p0.p = p1.p
    ),
    eff AS (
        SELECT
            CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL THEN
                CAST(floor((q1 - q0)
                           * (CAST(r0 AS DOUBLE) / q0)
                           * 1000000.0 + 0.5) AS BIGINT)
            ELSE 0 END AS vol_micro,
            CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL THEN
                CAST(floor(q1 * ((CAST(r1 AS DOUBLE) / q1)
                                 - (CAST(r0 AS DOUBLE) / q0))
                           * 1000000.0 + 0.5) AS BIGINT)
            ELSE 0 END AS price_micro,
            CASE WHEN q0 IS NULL
                 THEN CAST(r1 * 1000000 AS BIGINT) ELSE 0 END AS new_micro,
            CASE WHEN q1 IS NULL
                 THEN CAST(r0 * 1000000 AS BIGINT) ELSE 0 END AS lost_micro,
            CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
                 THEN 1 ELSE 0 END AS is_common,
            CASE WHEN q0 IS NULL THEN 1 ELSE 0 END AS is_new,
            CASE WHEN q1 IS NULL THEN 1 ELSE 0 END AS is_lost,
            COALESCE(r1, 0) - COALESCE(r0, 0) AS dr
        FROM j
    )
    -- micro sums reach ~1e16 at sf1.0 — past 2^53, where DuckDB's
    -- HUGEINT->DOUBLE cast is not correctly rounded (SCALE.md §31.2:
    -- SUM(BIGINT) widens to HUGEINT). Route through BIGINT (the sums
    -- provably fit) so the int64->double path matches Spark's
    -- correctly-rounded long->double bit-for-bit. Caught by the r11
    -- sf1.0 digest sweep: price_effect off by 1 ULP, sf0.1 green.
    SELECT CAST(SUM(dr) AS DOUBLE) AS delta_revenue,
           CAST(CAST(SUM(vol_micro) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS volume_effect,
           CAST(CAST(SUM(price_micro) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS price_effect,
           CAST(CAST(SUM(new_micro) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS new_effect,
           -CAST(CAST(SUM(lost_micro) AS BIGINT) AS DOUBLE)
               / 1000000.0 AS lost_effect,
           CAST(SUM(is_common) AS BIGINT) AS n_common,
           CAST(SUM(is_new) AS BIGINT) AS n_new,
           CAST(SUM(is_lost) AS BIGINT) AS n_lost
    FROM eff
    """,
)
def flagship_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue bridge (the FP&A waterfall): H2−H1
    revenue change decomposed per part into volume effect
    (Δq at old price), price effect (new qty at Δprice), new-part and
    lost-part contributions — (q1−q0)·p0 + q1·(p1−p0) telescopes to
    r1−r0 exactly, so the components reconcile to the total by
    construction.

    Spark-first plan: two date-pruned scans aggregate to the part
    grain BEFORE the full outer join (the join carries |parts| rows,
    not the fact), and every per-part effect floors to integer
    micro-units immediately — the distributed sums of the waterfall
    are order-free longs, with the exact-decimal ΔR column alongside
    as the reconciliation check. Unit prices divide exact operands
    (decimal revenue cast to double over an exact integer qty) — one
    identical IEEE sequence in both engines."""
    st = _star(spark, sf_dir)

    def period(lo: str, hi: str):
        return (
            st.lineitem.filter(
                (F.col("l_shipdate") >= F.lit(lo).cast("timestamp_ntz"))
                & (F.col("l_shipdate") < F.lit(hi).cast("timestamp_ntz"))
            )
            .groupBy(F.col("l_partkey").alias("p"))
            .agg(
                F.sum(F.col("l_quantity").cast("bigint")).alias("q"),
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")
                ).alias("r"),
            )
        )

    p0 = period(*_BR_P0).select(
        "p", F.col("q").alias("q0"), F.col("r").alias("r0")
    )
    p1 = period(*_BR_P1).select(
        "p", F.col("q").alias("q1"), F.col("r").alias("r1")
    )
    j = p0.join(p1, "p", "full_outer")
    both = F.col("q0").isNotNull() & F.col("q1").isNotNull()
    up0 = F.col("r0").cast("double") / F.col("q0")
    up1 = F.col("r1").cast("double") / F.col("q1")
    micro = lambda c: F.floor(c * F.lit(1_000_000.0) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    eff = j.select(
        F.when(both, micro((F.col("q1") - F.col("q0")) * up0))
        .otherwise(F.lit(0))
        .alias("vol_micro"),
        F.when(both, micro(F.col("q1") * (up1 - up0)))
        .otherwise(F.lit(0))
        .alias("price_micro"),
        F.when(
            F.col("q0").isNull(),
            (F.col("r1") * 1_000_000).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("new_micro"),
        F.when(
            F.col("q1").isNull(),
            (F.col("r0") * 1_000_000).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("lost_micro"),
        F.when(both, 1).otherwise(0).alias("is_common"),
        F.when(F.col("q0").isNull(), 1).otherwise(0).alias("is_new"),
        F.when(F.col("q1").isNull(), 1).otherwise(0).alias("is_lost"),
        (
            F.coalesce(F.col("r1"), F.lit(0).cast("decimal(18,2)"))
            - F.coalesce(F.col("r0"), F.lit(0).cast("decimal(18,2)"))
        ).alias("dr"),
    )
    return eff.agg(
        F.sum("dr").cast("double").alias("delta_revenue"),
        (F.sum("vol_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "volume_effect"
        ),
        (F.sum("price_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "price_effect"
        ),
        (F.sum("new_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "new_effect"
        ),
        (-F.sum("lost_micro").cast("double") / F.lit(1_000_000.0)).alias(
            "lost_effect"
        ),
        F.sum("is_common").cast("bigint").alias("n_common"),
        F.sum("is_new").cast("bigint").alias("n_new"),
        F.sum("is_lost").cast("bigint").alias("n_lost"),
    )


@query(
    "agg_pareto_cut",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
               SUM(cents) OVER (
                   ORDER BY cents DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM cust
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total,
                   COUNT(*) AS n_customers FROM cust)
    SELECT tot.n_customers,
           MIN(ranked.rn) AS k_top,
           CAST(MIN_BY(ranked.cum, ranked.rn) AS DOUBLE) / tot.total
               AS share_at_cut,
           CAST(tot.total AS DOUBLE) / 100.0 AS revenue_total
    FROM ranked, tot
    WHERE 5 * ranked.cum >= 4 * tot.total
    GROUP BY tot.n_customers, tot.total
    """,
)
def agg_pareto_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration cut: the smallest k such that the top-k
    customers (by lifetime order value) carry ≥ 80% of all revenue —
    the "how 80/20 is this business" profile the Gini coefficient
    (agg_gini_revenue) summarizes but does not localize.

    Spark-first plan: customer revenue reduces to exact integer cents
    at the customer grain; the global prefix sum uses the SAME
    bucket-offset decomposition as global_row_number (per-bucket
    subtotals → tiny cumulative-offset frame → within-bucket window),
    so no single-partition window touches the customer list. The 80%
    test is exact integer arithmetic (5·cum ≥ 4·total — no float
    share is ever compared), and only the one division at the cut
    produces a double."""
    st = _star(spark, sf_dir)
    cust = st.orders.groupBy("o_custkey").agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("cents")
    )
    tot = cust.agg(
        F.sum("cents").alias("total"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    # bucket-offset global prefix sum over (cents DESC, custkey ASC)
    ranked = global_prefix_sum(
        cust,
        order_by=[F.desc("cents"), F.asc("o_custkey")],
        bucket=-(F.col("cents") / F.lit(1_000_000)).cast("long"),
        value_col="cents",
        out="cum",
        rn_out="rn",
    ).select("cents", "cum", "rn")
    cut = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(5 * F.col("cum") >= 4 * F.col("total"))
        .agg(
            F.min("n_customers").alias("n_customers"),
            F.min("rn").alias("k_top"),
            F.min_by("cum", "rn").alias("__cum_at_cut"),
            F.min("total").alias("__total"),
        )
    )
    return cut.select(
        "n_customers",
        "k_top",
        (F.col("__cum_at_cut").cast("double") / F.col("__total")).alias(
            "share_at_cut"
        ),
        (F.col("__total").cast("double") / F.lit(100.0)).alias(
            "revenue_total"
        ),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH vw AS (
        SELECT l_returnflag AS flag,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wt
        FROM lineitem GROUP BY l_returnflag, price
    ),
    cum AS (
        SELECT flag, price, wt,
               SUM(wt) OVER (
                   PARTITION BY flag ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cw
        FROM vw
    ),
    tot AS (SELECT flag, CAST(SUM(wt) AS BIGINT) AS tw FROM vw
            GROUP BY flag)
    SELECT cum.flag AS returnflag,
           CAST(MIN(cum.price) AS DOUBLE) AS weighted_median,
           tot.tw AS total_weight
    FROM cum JOIN tot ON cum.flag = tot.flag
    WHERE 2 * cum.cw >= tot.tw
    GROUP BY cum.flag, tot.tw
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag — the
    "median dollar" (half of all UNITS sold cost less), which moves
    very differently from the row median when big orders cluster at
    one end. Completes the rank-selection family (agg_median_disc is
    the unweighted sibling).

    Spark-first plan: the fact collapses to the (flag, price) VALUE
    grain first — exact integer weights per distinct price — so the
    cumulative-weight window runs over the price domain, not the fact
    (the agg-below-window rewrite). The median test is exact integer
    arithmetic (2·cum ≥ total), the selected price is exact decimal,
    and one cast produces the output double."""
    from sales_etl_spark.operators.aggregates import weighted_median

    st = _star(spark, sf_dir)
    base = st.lineitem.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    return weighted_median(
        base, ["returnflag"], "price", "wt", out="__med"
    ).select(
        "returnflag",
        F.col("__med").cast("double").alias("weighted_median"),
        "total_weight",
    )


# ---------------------------------------------------------------------------
# Drawdown series analytics and mergeable HLL sketch rollup
# ---------------------------------------------------------------------------


@query(
    "window_drawdown",
    oracle="""
    WITH day AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    series AS (
        SELECT d, cents,
               SUM(cents) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM day
    ),
    dd AS (
        SELECT d, cum,
               MAX(cum) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - cum AS drawdown
        FROM series
    ),
    mx AS (SELECT MAX(drawdown) AS mdd FROM dd)
    SELECT (SELECT COUNT(*) FROM day) AS n_days,
           CAST((SELECT SUM(cents) FROM day) AS DOUBLE) / 100.0
               AS total_revenue,
           CAST(mx.mdd AS DOUBLE) / 100.0 AS max_drawdown,
           (SELECT MIN(d) FROM dd WHERE dd.drawdown = mx.mdd)
               AS trough_day
    FROM mx
    """,
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily revenue series — the
    risk/anomaly profile quant desks run on any cumulative metric
    (how far below its best-ever level did the running total fall,
    and when).

    Spark-first plan: the fact collapses to the DAY grain first
    (exact integer cents per day — the agg-below-window rewrite), so
    both cumulative windows run over a calendar-bounded series
    (~|days| rows), not the fact; prefix sum and running max are the
    same one sorted pass. All series arithmetic is exact integer
    cents; the trough day resolves by a second pass over the tiny
    frame (earliest day at the max drawdown — deterministic), and
    doubles appear only in the two output casts."""
    st = _star(spark, sf_dir)
    day = st.orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "bigint"
            )
        ).alias("cents")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    series = day.select("d", F.sum("cents").over(w).alias("cum"))
    dd = series.select(
        "d", (F.max("cum").over(w) - F.col("cum")).alias("drawdown")
    )
    mx = dd.agg(F.max("drawdown").alias("mdd"))
    tot = day.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("__total"),
    )
    trough = (
        dd.crossJoin(F.broadcast(mx))
        .filter(F.col("drawdown") == F.col("mdd"))
        .agg(F.min("d").alias("trough_day"), F.min("mdd").alias("__mdd"))
    )
    return (
        tot.crossJoin(F.broadcast(trough))
        .select(
            "n_days",
            (F.col("__total").cast("double") / F.lit(100.0)).alias(
                "total_revenue"
            ),
            (F.col("__mdd").cast("double") / F.lit(100.0)).alias(
                "max_drawdown"
            ),
            "trough_day",
        )
    )


@query("events_hll_rollup", oracle=None)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users per event type via MERGEABLE HyperLogLog
    sketches: daily sketches aggregate once, the weekly figure is a
    sketch UNION — the pattern that makes 100 TB distinct counting
    tractable (exact distinct needs a full reshuffle per rollup
    level; sketches merge associatively, so every coarser grain is a
    map-side combine over the finer one, and the same daily sketches
    serve day/week/month/all-time without touching the events again).

    Declared approximate (rows-only contract, like the LSH tiers):
    the unit tier asserts (a) estimates within the HLL error bound of
    the exact distinct counts and (b) union-of-daily-sketches equals
    the directly-built weekly sketch EXACTLY — HLL registers are
    order-insensitive maxima, so merge associativity is bit-exact
    even though the estimate is approximate."""
    st = _star(spark, sf_dir)
    daily = st.events.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = daily.groupBy("etype", "week").agg(
        F.hll_union_agg("sk").alias("wsk"),
        F.count(F.lit(1)).alias("n_days"),
    )
    return weekly.select(
        "etype",
        F.col("week").cast("date").alias("week"),
        "n_days",
        F.hll_sketch_estimate("wsk").alias("est_users"),
    ).orderBy("etype", "week")


# ---------------------------------------------------------------------------
# Schema evolution scan and ANN recall evaluation
# ---------------------------------------------------------------------------


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                THEN o_orderpriority ELSE 'unknown' END AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across lake batches, read back as ONE table:
    an early batch lands without the priority column, a later batch
    adds it, and ``mergeSchema`` unifies the footprints at scan time
    (old rows read NULL — no backfill rewrite of petabytes of
    history, the entire point of additive schema evolution).

    Spark-first plan: the two writes are ordinary partitioned appends;
    the merged scan is still ONE distributed parquet read whose
    per-file schema reconciliation happens in the reader (each file
    group projects its own physical schema into the merged logical
    one). The report coalesces the evolution boundary explicitly
    (NULL → 'unknown'), mirroring the oracle's date-cased twin."""
    from sales_etl_spark.load import write_parquet
    from sales_etl_spark.plans.extensions import _scratch

    st = _star(spark, sf_dir)
    out = str(_scratch("schema_evolution", sf_dir))
    cutoff = F.lit("1997-01-01").cast("timestamp_ntz")
    write_parquet(
        st.orders.filter(F.col("o_orderdate") < cutoff).select(
            "o_orderkey", "o_totalprice"
        ),
        out + "/batch=1",
    )
    write_parquet(
        st.orders.filter(F.col("o_orderdate") >= cutoff).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ),
        out + "/batch=2",
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        out + "/batch=1", out + "/batch=2"
    )
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("unknown")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query("ann_recall_eval", oracle=None)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the approximate ANN tiers against the exact
    cosine ranking — ANN EVALUATION AS AN OPERATOR: the measurement a
    production vector pipeline re-runs whenever the index parameters
    or the corpus change (tuning n_tables/n_probes against a recall
    budget), not a one-off test. Declared approximate like the tiers
    it scores (rows-only contract; thresholds asserted in the unit
    tier).

    Spark-first plan: exact and approximate top-k reuse the
    registered operators (one corpus scan each, candidate generation
    banded/bucketed); the recall join matches (query, neighbor) pairs
    — a LEFT SEMI from approximate hits into exact hits — and the
    per-tier recall is one exact integer division. Nothing collects;
    the 2-row report is the only driver-sized frame."""
    from sales_etl_spark.operators import similarity

    st = _star(spark, sf_dir)
    e = st.embeddings
    queries = e.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    tiers = {
        "lsh": similarity.lsh_topk(e, queries, k=10),
        "ivf": similarity.ivf_topk(e, queries, k=10),
    }
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    reports = None
    for name, approx in tiers.items():
        hits = (
            approx.select("query_id", "neighbor_id")
            .join(exact, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(name).alias("tier"), "n_hits")
        )
        reports = hits if reports is None else reports.unionAll(hits)
    return reports.crossJoin(F.broadcast(n_exact)).select(
        "tier",
        "n_hits",
        "n_exact",
        (F.col("n_hits").cast("double") / F.col("n_exact")).alias(
            "recall_at_10"
        ),
    )


# ---------------------------------------------------------------------------
# Customer churn and dedup recall evaluation
# ---------------------------------------------------------------------------


@query(
    "agg_churn_rate",
    oracle="""
    WITH cm AS (
        SELECT DISTINCT o_custkey AS c,
               strftime(o_orderdate, '%Y-%m') AS m
        FROM orders
    ),
    months AS (SELECT DISTINCT m FROM cm),
    nxt AS (
        SELECT m,
               lead(m) OVER (ORDER BY m) AS m_next
        FROM months
    ),
    j AS (
        SELECT nxt.m AS month, nxt.m_next,
               cur.c AS c_cur, fut.c AS c_next
        FROM nxt
        LEFT JOIN cm cur ON cur.m = nxt.m
        LEFT JOIN cm fut ON fut.m = nxt.m_next AND fut.c = cur.c
        WHERE nxt.m_next IS NOT NULL
    )
    SELECT month,
           COUNT(c_cur) AS n_active,
           COUNT(c_cur) - COUNT(c_next) AS n_churned,
           CAST(COUNT(c_cur) - COUNT(c_next) AS DOUBLE)
               / COUNT(c_cur) AS churn_rate
    FROM j
    GROUP BY month
    """,
)
def agg_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month customer churn: of the customers active in
    month m, how many placed no order in the NEXT active month — the
    subscription-style retention readout (the cohort matrix
    events_cohort_retention generalizes; this is the per-period
    operational number).

    Spark-first plan: the fact collapses to the DISTINCT (customer,
    month) grain first, so churn is a self-anti-join of that grain
    against itself shifted one month — implemented as a LEFT join on
    (customer, next-month) with COUNT(matched) (one shuffle on the
    customer key; the |months|-row calendar frame with its lead()
    window broadcasts). Churn rate is one division of exact counts.
    Months with no successor month are excluded (churn undefined, not
    zero)."""
    st = _star(spark, sf_dir)
    cm = st.orders.select(
        F.col("o_custkey").alias("c"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m"),
    ).distinct()
    months = cm.select("m").distinct()
    nxt = months.select(
        "m", F.lead("m").over(Window.orderBy("m")).alias("m_next")
    ).filter(F.col("m_next").isNotNull())
    cur = cm.join(F.broadcast(nxt), "m")
    fut = cm.select(
        F.col("c").alias("c2"), F.col("m").alias("m_next2")
    )
    j = cur.join(
        fut,
        (F.col("c") == F.col("c2")) & (F.col("m_next") == F.col("m_next2")),
        "left",
    )
    return (
        j.groupBy(F.col("m").alias("month"))
        .agg(
            F.count("c").alias("n_active"),
            (F.count("c") - F.count("c2")).alias("n_churned"),
        )
        .select(
            "month",
            "n_active",
            "n_churned",
            (
                F.col("n_churned").cast("double") / F.col("n_active")
            ).alias("churn_rate"),
        )
    )


@query("dedup_recall_eval", oracle=None)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate pairs against the exact
    n-gram Jaccard pair set — dedup evaluation as a REGISTERED
    operator (the twin of ann_recall_eval for the dedup ladder): the
    measurement that tunes bands/rows against a recall budget before
    committing a corpus-wide dedup run. Declared approximate
    (rows-only contract; floors asserted in the unit tier).

    Spark-first plan: both pair sets come from the production
    operators (banded LSH equi-join vs inverted-index exact join);
    the hit test is a LEFT SEMI on the ordered (doc_a, doc_b) pair,
    and recall is one exact integer division on a 1-row frame."""
    from sales_etl_spark.operators import dedup

    st = _star(spark, sf_dir)
    docs = st.documents
    exact = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5
    ).select("doc_a", "doc_b")
    approx = dedup.minhash_lsh_pairs(docs, "doc_id", "text").select(
        "doc_a", "doc_b"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        exact.join(approx, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_caught"))
    )
    return hits.crossJoin(F.broadcast(n_exact)).select(
        F.lit("minhash_lsh").alias("tier"),
        "n_caught",
        "n_exact",
        (F.col("n_caught").cast("double") / F.col("n_exact")).alias(
            "recall"
        ),
    )


# ---------------------------------------------------------------------------
# Retrieval quality evaluation: nDCG@k of the BM25 ranking (round 5)
# ---------------------------------------------------------------------------

#: Cutoffs for the retrieval-eval report.
_NDCG_KS = (5, 10, 20)


@query(
    "search_ndcg_eval",
    oracle=f"""
    WITH {{bm25}},
    ranked AS (
        SELECT doc_id, bm25_micro,
               row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rnk
        FROM bm25
    ),
    rel AS (
        SELECT doc_id, CAST(COUNT(DISTINCT term) AS INTEGER) AS rel
        FROM toks WHERE {{qpred}} GROUP BY doc_id
    ),
    gains AS (
        SELECT r.rnk,
               CAST(floor(CAST((1::BIGINT << rel.rel) - 1 AS DOUBLE)
                          / log2(CAST(r.rnk + 1 AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS g_micro
        FROM ranked r JOIN rel USING (doc_id) WHERE r.rnk <= 20
    ),
    relcnt AS (
        SELECT SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS n3,
               SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
               SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1,
               CAST(COUNT(*) AS BIGINT) AS n_rel
        FROM rel
    ),
    ideal AS (
        SELECT i,
               CAST(floor(CAST((1::BIGINT << (
                            CASE WHEN i <= n3 THEN 3
                                 WHEN i <= n3 + n2 THEN 2
                                 WHEN i <= n3 + n2 + n1 THEN 1
                                 ELSE 0 END)) - 1 AS DOUBLE)
                          / log2(CAST(i + 1 AS DOUBLE))
                          * 1000000.0 + 0.5) AS BIGINT) AS g_micro
        FROM range(1, 21) t(i), relcnt
    ),
    ks AS (SELECT unnest([5, 10, 20]) AS k),
    dcg AS (SELECT k, CAST(SUM(g_micro) AS BIGINT) AS dcg_micro
            FROM ks JOIN gains ON rnk <= k GROUP BY k),
    idcg AS (SELECT k, CAST(SUM(g_micro) AS BIGINT) AS idcg_micro
             FROM ks JOIN ideal ON i <= k GROUP BY k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           relcnt.n_rel,
           CAST(dcg_micro AS DOUBLE) / 1000000.0 AS dcg,
           CAST(idcg_micro AS DOUBLE) / 1000000.0 AS idcg,
           CAST(dcg_micro AS DOUBLE) / idcg_micro AS ndcg
    FROM ks JOIN dcg USING (k) JOIN idcg USING (k), relcnt
    """.replace(
        "{bm25}",
        _BM25_SQL.format(qpred="term IN ('spark', 'join', 'window')"),
    ).replace("{qpred}", "term IN ('spark', 'join', 'window')"),
)
def search_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality report: nDCG@{{5,10,20}} of the BM25 ranking
    against GRADED deterministic relevance (rel = number of distinct
    query terms a document contains, 0-3) — the standard offline eval
    for a ranking change, on the same fixed query text_bm25_topk
    ranks. DCG uses the classic (2^rel − 1)/log2(rank+1) gains; IDCG
    re-ranks the corpus's full relevance multiset ideally.

    Spark-first plan: the ranking leg reuses the shared BM25 pipeline
    and the bucket-offset global rank (NO single-partition window over
    the scored corpus); gains are micro-floored per rank and summed as
    exact longs. The IDEAL leg never sorts anything: the relevance
    multiset collapses to 3 grade counts (one bounded aggregation) and
    the grade at ideal rank i falls out of cumulative-count CASE
    arithmetic on a literal 20-row rank frame. Every frame past the
    two corpus scans is ≤20 rows; nDCG is one division of two exact
    longs."""
    base = _bm25_base(spark, sf_dir)
    scores = _bm25_scores(spark, sf_dir, _BM25_QUERY, base=base)
    ranked = global_row_number(
        scores,
        order_by=[F.desc("bm25_micro"), F.asc("doc_id")],
        bucket=-(F.col("bm25_micro") / F.lit(100_000)).cast("long"),
        out="rnk",
    ).filter(F.col("rnk") <= 20)
    # rel = number of DISTINCT query terms present — a map-side sum of
    # array_contains over the materialized token array (r11: replaces
    # explode → filter → groupBy countDistinct, deleting the matched-
    # token exchange; row set unchanged: docs with ≥1 matched term —
    # the size(__toks)>0 filter the shared base adds drops no rel>0
    # doc, a matched doc has ≥1 token). r12: the token array comes
    # from the SAME cached _bm25_base frame the ranking leg reads, so
    # the relevance leg no longer re-tokenizes the corpus (was the
    # query's third full regexp pass); deriving rel from the cached
    # arrays is a map-side array_contains fold, cheap enough that the
    # separate rel cache is gone too.
    rel_expr = sum(
        F.array_contains(F.col("__toks"), F.lit(t)).cast("int")
        for t in _BM25_QUERY
    )
    rel = base.select("doc_id", rel_expr.alias("rel")).filter(
        F.col("rel") > 0
    )
    g_micro = F.floor(
        F.expr("CAST(shiftleft(1L, rel) - 1 AS DOUBLE)")
        / F.log2(F.col("rnk").cast("double") + F.lit(1.0))
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    gains = ranked.join(rel, "doc_id").select(
        "rnk", g_micro.alias("g_micro")
    )
    relcnt = rel.agg(
        F.sum(F.when(F.col("rel") == 3, 1).otherwise(0)).alias("n3"),
        F.sum(F.when(F.col("rel") == 2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(F.col("rel") == 1, 1).otherwise(0)).alias("n1"),
        F.count(F.lit(1)).cast("long").alias("n_rel"),
    )
    ideal_rel_sql = (
        "CASE WHEN i <= n3 THEN 3 WHEN i <= n3 + n2 THEN 2 "
        "WHEN i <= n3 + n2 + n1 THEN 1 ELSE 0 END"
    )
    ideal = (
        spark.range(1, 21)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(relcnt))
        .select(
            "i",
            "n_rel",
            F.floor(
                F.expr(
                    f"CAST(shiftleft(1L, {ideal_rel_sql}) - 1 AS DOUBLE)"
                )
                / F.log2(F.col("i").cast("double") + F.lit(1.0))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("g_micro"),
        )
    )
    ks = spark.range(0, 3).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _NDCG_KS]),
            (F.col("id") + 1).cast("int"),
        ).cast("int").alias("k")
    )
    dcg = (
        F.broadcast(ks)
        .join(gains, F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("g_micro").alias("dcg_micro"))
    )
    idcg = (
        F.broadcast(ks)
        .join(ideal, F.col("i") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("g_micro").alias("idcg_micro"),
            F.first("n_rel").alias("n_rel"),
        )
    )
    return (
        dcg.join(idcg, "k")
        .select(
            "k",
            "n_rel",
            (F.col("dcg_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "dcg"
            ),
            (F.col("idcg_micro").cast("double") / F.lit(1_000_000.0)).alias(
                "idcg"
            ),
            (F.col("dcg_micro").cast("double") / F.col("idcg_micro")).alias(
                "ndcg"
            ),
        )
    )


# --------------------------------------------------------------------------
# BPE tokenizer training (round 8) — operators/tokenize.py
# --------------------------------------------------------------------------

_BPE_N = 8  #: merge rounds learned by the text_bpe_* queries


def _bpe_oracle_sql(n: int, final: str) -> str:
    """Generate the DuckDB twin of operators/tokenize.py:bpe_train —
    the n merge rounds UNROLLED, each round a pair-count argmax
    (identical tiebreak) plus a recursive position-walk applying the
    merge to every vocabulary word. Round CTEs are MATERIALIZED:
    chained recursive CTEs otherwise re-inline exponentially (measured
    as a hang at n=6). ``final`` selects either the merge table or the
    segmented vocabulary from the shared pipeline."""
    parts = [
        """WITH RECURSIVE words AS (
        SELECT unnest(regexp_extract_all(lower(text), '\\w+')) AS w
        FROM documents
    ),
    v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY w),
    s0 AS MATERIALIZED (
        SELECT w, freq,
               list_transform(generate_series(1, length(w)),
                              i -> substr(w, i, 1)) AS s
        FROM v
    )"""
    ]
    for k in range(n):
        parts.append(f""",
    p{k} AS (
        SELECT s[i.i] AS a, s[i.i + 1] AS b,
               CAST(SUM(freq) AS BIGINT) AS cnt
        FROM s{k}, unnest(generate_series(1, len(s) - 1)) AS i(i)
        GROUP BY 1, 2
    ),
    m{k} AS MATERIALIZED (
        SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    r{k}(w, freq, n, pos, acc) AS (
        SELECT w, freq, len(s), 1, CAST([] AS VARCHAR[]) FROM s{k}
        UNION ALL
        SELECT r.w, r.freq, r.n,
               CASE WHEN r.pos < r.n AND s.s[r.pos] = m.a
                         AND s.s[r.pos + 1] = m.b
                    THEN r.pos + 2 ELSE r.pos + 1 END,
               list_append(r.acc,
                   CASE WHEN r.pos < r.n AND s.s[r.pos] = m.a
                             AND s.s[r.pos + 1] = m.b
                        THEN m.a || m.b ELSE s.s[r.pos] END)
        FROM r{k} r JOIN s{k} s USING (w) CROSS JOIN m{k} m
        WHERE r.pos <= r.n
    ),
    s{k + 1} AS MATERIALIZED (
        SELECT w, freq, acc AS s FROM r{k} WHERE pos = n + 1
    )""")
    parts.append("\n    " + final.format(n=n))
    return "".join(parts)


_BPE_TRAIN_FINAL = "\n    UNION ALL ".join(
    f"SELECT {k} AS merge_idx, a AS sym_a, b AS sym_b, a || b AS merged,"
    f" cnt AS pair_count FROM m{k}"
    for k in range(_BPE_N)
)


@query(
    "text_bpe_train",
    oracle=_bpe_oracle_sql(_BPE_N, _BPE_TRAIN_FINAL),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus: the 8 most-frequent
    adjacent-symbol merges, learned iteratively (each round counts
    corpus-frequency-weighted adjacent symbol pairs over the
    vocabulary, picks the argmax with a total tiebreak, and re-segments
    every word under the new rule). The merge table IS the tokenizer
    artifact an LLM data pipeline persists. Fit/apply shape in
    operators/tokenize.py: the corpus collapses once to (word, freq),
    ONE collect brings that vocabulary to the driver, and the merge
    rounds run there in plain Python, so the build runs the same few
    jobs for any merge count; driver state is the vocabulary. The
    oracle unrolls the same rounds as recursive DuckDB CTEs — a wrong
    tiebreak, a fold that mishandles same-symbol runs, or an off-by-one
    in the pair window flips the hash."""
    from sales_etl_spark.operators.tokenize import bpe_merge_table

    st = _star(spark, sf_dir)
    return bpe_merge_table(st.documents, "text", _BPE_N)


@query(
    "text_bpe_segment",
    oracle=_bpe_oracle_sql(
        _BPE_N,
        f"""SELECT w, freq, CAST(len(s) AS INTEGER) AS n_syms,
           array_to_string(s, ' ') AS seg
    FROM s{_BPE_N}""",
    ),
)
def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges: every vocabulary word re-segmented
    under the 8 trained rules, with its corpus frequency and symbol
    count — the tokenize half of the tokenizer (per-document token
    counts follow by joining words back to documents). Shares the
    driver-side fit with text_bpe_train, which already segments every
    word, so the plan is one LocalTableScan of that fitted vocabulary:
    no second corpus pass and no Python worker when it runs. The
    oracle's final CTE is the fully-merged vocabulary, so every
    learned rule's application to every word (including same-symbol
    runs) is on the hash."""
    from sales_etl_spark.operators.tokenize import bpe_segmented_vocab

    st = _star(spark, sf_dir)
    return bpe_segmented_vocab(st.documents, "text", _BPE_N)


@query(
    "text_bpe_token_count",
    oracle=_bpe_oracle_sql(
        _BPE_N,
        f"""SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(sN.s)) AS BIGINT) AS n_tokens
    FROM (SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '\\w+')) AS w
          FROM documents) d
    JOIN s{_BPE_N} sN USING (w)
    GROUP BY d.doc_id""",
    ),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the LEARNED BPE segmentation —
    the production token-budget metric (mix_token_budget's regex
    heuristic, upgraded to a trained tokenizer). The merges and every
    word's segmentation are fitted on the driver from one vocabulary
    collect; the doc->word stream joins that fitted vocabulary, a
    local relation, as a BROADCAST (the vocab is the small side at any
    corpus scale), so the plan scans the documents once, the corpus
    never shuffles for the lookup, and the per-doc rollup is the only
    corpus-grain exchange. The oracle re-derives the same counts from
    the unrolled-rounds pipeline's final vocabulary."""
    from sales_etl_spark.operators.tokenize import bpe_token_counts

    st = _star(spark, sf_dir)
    return bpe_token_counts(st.documents, "doc_id", "text", _BPE_N)


# --------------------------------------------------------------------------
# Tokenizer pipeline composition (round 9)
# --------------------------------------------------------------------------

#: tokenize_pipeline_e2e budgets: per-source BPE-token targets at
#: bench scale (~5 000 learned tokens per source at sf0.01) — one
#: over-budget source, one tight, one zeroed-out, the rest default.
_TOKE2E_BUDGETS = {"src0": 3_000, "src1": 2_000, "src2": 0}
_TOKE2E_DEFAULT = 2_500
_TOKE2E_SEQ = 256    #: packed training-example length (tokens)
_TOKE2E_SHARDS = 8   #: pack shards (bench scale)


def _tokenize_e2e_final(n: int) -> str:
    """Chained-oracle tail for tokenize_pipeline_e2e: the learned
    segmentation's per-document token counts (re-derived from the
    unrolled BPE rounds' final vocabulary) feed the token-budget
    oracle, whose survivors feed the sequence-packing oracle — three
    independently-verified stages joined into ONE SQL lineage, so the
    hash breaks if any stage boundary (column names, zero-token
    filter, survivor set) drifts between engines."""
    from sales_etl_spark.operators import sampling

    budget_sql = sampling.token_budget_oracle_sql(
        "tok", "source", "doc_id", "n_tokens", "doc_id, source",
        _TOKE2E_BUDGETS, _TOKE2E_DEFAULT, seed="tok-budget-v1",
    )
    pack_sql = sampling.pack_oracle_sql(
        "budgeted", "doc_id", "n_tokens",
        _TOKE2E_SEQ, _TOKE2E_SHARDS, seed="tok-pack-v1",
    )
    return f""",
    tok AS MATERIALIZED (
        SELECT d.doc_id, d.source,
               CAST(SUM(len(sN.s)) AS BIGINT) AS n_tokens
        FROM (SELECT doc_id, source,
                     unnest(regexp_extract_all(lower(text), '\\w+')) AS w
              FROM documents) d
        JOIN s{n} sN USING (w)
        GROUP BY d.doc_id, d.source
    ),
    budgeted AS MATERIALIZED ({budget_sql})
    {pack_sql}"""


@query(
    "tokenize_pipeline_e2e",
    oracle=_bpe_oracle_sql(_BPE_N, _tokenize_e2e_final(_BPE_N)),
)
def tokenize_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOKENIZER pipeline end-to-end — tokenize -> budget -> pack
    in one lineage (the tokenizer sibling of corpus_pipeline_e2e's
    scrub chain): train the 8-rule BPE tokenizer on the corpus, count
    every document's tokens under the LEARNED segmentation
    (text_bpe_token_count's broadcast-vocabulary join), fill each
    source's token budget with a deterministic uniform prefix
    (mix_token_budget's strict never-overshoot rule, here over real
    learned counts instead of the regex heuristic), and pack the
    surviving documents into 256-token training examples across 8
    shards (mix_pack_sequences' shard + running-sum shape). One row
    per packed doc: its shard, learned token count, stream offset and
    first/last example span. The oracle chains the same three stages
    behind the unrolled-rounds BPE pipeline, so a drift anywhere —
    a merge rule, a budget boundary doc, a pack offset — flips the
    hash. Scale shape: the tokenizer's build is one vocabulary
    collect plus the merge rounds on the driver, whose segmented
    vocabulary enters the plan as a local relation; the chain adds ONE
    doc-grain equi-join (counts x source) and two stratum/shard window
    sums to the per-document counts; nothing quadratic, and no driver
    state beyond the (word, freq) vocabulary."""
    from sales_etl_spark.operators import sampling
    from sales_etl_spark.operators.tokenize import bpe_token_counts

    st = _star(spark, sf_dir)
    counts = bpe_token_counts(st.documents, "doc_id", "text", _BPE_N)
    tok = counts.join(
        st.documents.select("doc_id", "source"), "doc_id"
    ).select("doc_id", "source", "n_tokens")
    budgeted = sampling.token_budget_mix(
        tok, "source", "doc_id", "n_tokens",
        _TOKE2E_BUDGETS, _TOKE2E_DEFAULT, seed="tok-budget-v1",
    )
    return sampling.pack_sequences(
        budgeted.select("doc_id", "n_tokens"), "doc_id", "n_tokens",
        seq_len=_TOKE2E_SEQ, n_shards=_TOKE2E_SHARDS, seed="tok-pack-v1",
    )
