"""Deep-analytics flagships, clustering, profiling (round-4 tier).

Join/agg patterns the registry did not yet demonstrate end-to-end,
plus distributed k-means over the embeddings table and two
data-profiling closers:

- Q10-shaped returned-item report: agg-below-join grain rewrite, then
  a dim join on the (already reduced) aggregate, then TakeOrdered;
- Q14-shaped promo revenue: conditional decimal aggregation over a
  fact ⨝ dim join collapsing to ONE row;
- Q4-shaped late-order priority count: correlated-EXISTS semi-join
  with a non-equi residual predicate;
- nearest-centroid assignment: MAP-ONLY — literal centroid array,
  fold-based squared-L2, in-row argmin via array_min over structs —
  the inner loop of Lloyd's algorithm (and of IVF list assignment in
  operators/similarity.py);
- a FULL Lloyd iteration (assign → bit-exact nano-unit centroid
  update → re-assign), k×dim driver state only — MLlib's shape;
- bucketed-table co-located join: the order-key exchange elided for
  every downstream consumer (SCALE.md §14);
- decayed trailing event rate whose alpha=1/2 terms are exact dyadic
  rationals — order-free float sums with no quantization step;
- lifetime-value ntile quartiles and a fixed-width histogram (the
  distribution-profile companions to agg_stats);
- per-group top-N (WindowGroupLimit pushdown), rolling 7-day distinct
  users (contribution explode), per-dim z-score standardization,
  incremental mart refresh ≡ full recompute, and the transaction-log
  lake on the oracle-checked surface (scan_lake_table).

Reference parity: the reference engine (etl/transform.py) stops at
group-by marts; these queries are the extension tier SURVEY.md §2.4/
§2.6 lists as the natural Spark upgrades. Determinism rules are the
registry's (plans/registry.py docstring): decimal money sums, double
division only on exact operands, full tiebreakers on any top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sales_etl_spark.functions import scalars, vectors
from sales_etl_spark.plans.registry import query
from sales_etl_spark.session import pin_semantics
from sales_etl_spark.sources.local import driver_table
from sales_etl_spark.sources.star import load_star


def _star(spark: SparkSession, sf_dir: str):
    pin_semantics(spark)
    return load_star(spark, sf_dir)


#: The shared money contract (functions/scalars.py) — one definition
#: for every lineitem-revenue query and oracle in the registry.
_REV_SQL = scalars.LINE_REVENUE_SQL.format(q="l.")
_rev = scalars.line_revenue


@query(
    "flagship_returned_items",
    oracle=f"""
    WITH per_cust AS (
        SELECT o.o_custkey,
               SUM({_REV_SQL}) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-10-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY o.o_custkey
    )
    SELECT c.c_custkey AS customer_id,
           c.c_name AS customer_name,
           CAST(p.rev AS DOUBLE) AS revenue,
           c.c_acctbal AS acctbal,
           n.n_name AS nation
    FROM per_cust p
    JOIN customer c ON c.c_custkey = p.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    ORDER BY CAST(p.rev AS DOUBLE) DESC, c.c_custkey
    LIMIT 20
    """,
)
def flagship_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: the 20 customers who
    returned the most revenue in a quarter.

    Spark-first plan: the textbook Q10 joins customer BEFORE
    aggregating; here the aggregate runs at o_custkey grain FIRST
    (lineitem['R'] ⨝ date-pruned orders, one exchange), so the
    customer dim joins against ≤|active customers| aggregate rows,
    not |lineitem| fact rows — at 100 TB that's the difference
    between shuffling the fact with all customer payload columns
    attached and shuffling it with one key. The fixed 25-row nation
    dim constant-folds to a literal map (no join), and the final
    top-20 is TakeOrderedAndProject (no global sort materialization).
    Tiebreak: unique c_custkey after the double revenue sort."""
    st = _star(spark, sf_dir)
    nmap = F.create_map(
        *[
            F.lit(x)
            for r in st.nation.select("n_nationkey", "n_name").collect()
            for x in (r.n_nationkey, r.n_name)
        ]
    )
    o = st.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = st.lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_cust = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("__rev"))
    )
    cust = st.customer.select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("__rev").cast("double").alias("revenue"),
            F.col("c_acctbal").alias("acctbal"),
            nmap[F.col("c_nationkey")].alias("nation"),
        )
        .orderBy(F.desc("revenue"), "customer_id")
        .limit(20)
    )


@query(
    "flagship_promo_revenue",
    oracle=f"""
    SELECT CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                      THEN {_REV_SQL} ELSE 0 END) AS DOUBLE)
                / CAST(SUM({_REV_SQL}) AS DOUBLE) AS DOUBLE)
               AS promo_pct,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_REV_SQL} ELSE 0 END) AS DOUBLE)
               AS promo_revenue,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def flagship_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share for one ship month.

    Spark-first plan: part is projected to (key, is-promo boolean)
    before the join — the only dim payload the query needs — so the
    join carries one bit, not the part row. At test SF the filtered
    dim broadcasts (AQE); at 100 TB part is SF-scaled and the planner
    falls back to a shuffle join on the part key, where map-side
    partial aggregation collapses each task's output to two decimal
    sums before the single-row final exchange. Division happens once,
    on exact decimal sums cast to double — one identical IEEE
    operation in both engines."""
    st = _star(spark, sf_dir)
    li = st.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    part = st.part.select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("__is_promo")
    )
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("__is_promo"), _rev()).otherwise(
                    F.lit(0).cast("decimal(18,2)")
                )
            )
            .cast("double")
            .alias("__promo"),
            F.sum(_rev()).cast("double").alias("total_revenue"),
        )
    )
    return agg.select(
        (
            (F.lit(100.0) * F.col("__promo")) / F.col("total_revenue")
        ).alias("promo_pct"),
        F.col("__promo").alias("promo_revenue"),
        "total_revenue",
    )


@query(
    "flagship_late_orders",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n_late_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def flagship_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped priority report: orders in a quarter with at
    least one line shipped >90 days after the order date, counted per
    priority. (The driver's lineitem has no commit/receipt dates —
    reference Q4's commitdate<receiptdate becomes a ship-lag
    predicate; the plan shape is identical.)

    Spark-first plan: LEFT SEMI join — EXISTS never duplicates the
    probe side, so no post-join dedup is needed, and the build side
    carries only (l_orderkey, l_shipdate). The non-equi ship-lag
    predicate rides the equi-join as a residual filter (no theta
    join). The date window prunes the orders scan; at 100 TB the
    quarter filter makes orders the small side and AQE broadcasts
    it, turning the semi-join map-side."""
    st = _star(spark, sf_dir)
    o = st.orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = st.lineitem.select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        ),
        "left_semi",
    )
    return late.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(F.count(F.lit(1)).alias("n_late_orders"))


#: DuckDB twin of functions.vectors.sq_l2 — identical sequential left
#: fold over double-cast elements, so the result is bit-identical.
_SQDIST_SQL = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
)

_KMEANS_K = 8


@query(
    "emb_kmeans_assign",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cluster_id, embedding AS cv
        FROM embeddings WHERE vec_id < {_KMEANS_K}
    ),
    scored AS (
        SELECT e.vec_id, c.cluster_id,
               round({_SQDIST_SQL.format(a='e.embedding', b='c.cv')}, 6)
                   AS dist_sq
        FROM embeddings e CROSS JOIN c
    )
    SELECT vec_id, cluster_id, dist_sq
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist_sq, cluster_id
        ) AS rn
        FROM scored
    )
    WHERE rn = 1
    """,
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step / IVF list
    assignment): every embedding gets the closest of k=8 deterministic
    seed centroids (the vec_id<8 vectors) by squared L2.

    Spark-first plan: MAP-ONLY. The k centroids enter the plan as a
    literal struct array (collected once — bounded at k rows, the
    driver state Lloyd's algorithm is about) and each row scores all
    k and takes the argmin inside ONE projection (transform fold +
    array_min over (dist_sq, cid) structs) — zero joins, zero
    exchanges, zero windows; at 100 TB the pass runs at scan speed,
    where a crossJoin+row_number formulation would shuffle the k×N
    candidate stream. The round-to-1e-6 collapses last-ulp fold
    drift exactly as ann_cosine_topk does; struct ordering breaks
    ties on cluster_id exactly like the oracle's ORDER BY."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    seeds = _collect_centroids(
        e.filter(F.col("vec_id") < _KMEANS_K).select(
            F.col("vec_id").alias("cluster_id"),
            F.col("embedding").alias("cv"),
        )
    )
    return _kmeans_score(e.select("vec_id", "embedding"), seeds)


def _collect_centroids(df: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect a (cluster_id, vector) frame into sorted driver state —
    bounded at k rows, the one collect Lloyd's algorithm is ABOUT
    (centroids live on the driver between rounds; the corpus never
    does). Float elements widen to Python doubles exactly."""
    return sorted(
        (r.cluster_id, [float(x) for x in r.cv]) for r in df.collect()
    )


def _kmeans_score(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """MAP-ONLY nearest-centroid argmin: the k centroids enter the
    plan as a literal array of (cid, vector) structs, each row scores
    all k inside one projection (transform → fold), and array_min
    over (dist_sq, cid) structs is the argmin — Spark's struct
    ordering is field-wise, so ties break on cid exactly like the
    oracle's ORDER BY dist_sq, cluster_id. ZERO joins, ZERO
    exchanges, no window: at 100 TB the scoring pass is embarrassingly
    parallel scan-speed work (the shuffle-free shape the plan test
    locks), vs the k×N candidate shuffle a crossJoin+row_number
    formulation pays."""
    best = _kmeans_argmin(cents)
    return e.select(
        "vec_id",
        best["cluster_id"].alias("cluster_id"),
        best["dist_sq"].alias("dist_sq"),
    )


def _kmeans_argmin(cents: list[tuple[int, list[float]]]):
    """The literal-centroid argmin struct expression over the row's
    ``embedding`` column (see :func:`_kmeans_score`)."""
    arr = F.array(
        *[
            F.struct(
                F.lit(cid).cast("long").alias("cid"),
                vectors.lit_array(vec).alias("cv"),
            )
            for cid, vec in cents
        ]
    )
    return F.array_min(
        F.transform(
            arr,
            lambda c: F.struct(
                F.round(
                    vectors.sq_l2(F.col("embedding"), c["cv"]), 6
                ).alias("dist_sq"),
                c["cid"].alias("cluster_id"),
            ),
        )
    )


def _kmeans_score_with_vec(
    e: DataFrame, cents: list[tuple[int, list[float]]]
) -> DataFrame:
    """Map-only scoring that KEEPS the embedding column beside the
    assignment — the Lloyd update path (no corpus self-join)."""
    best = _kmeans_argmin(cents)
    return e.select(
        "vec_id",
        "embedding",
        best["cluster_id"].alias("cluster_id"),
        best["dist_sq"].alias("dist_sq"),
    )


@query(
    "emb_kmeans_lloyd",
    oracle=f"""
    WITH s0 AS (
        SELECT e.vec_id, c.vec_id AS cluster_id,
               round({_SQDIST_SQL.format(a='e.embedding',
                                         b='c.embedding')}, 6) AS d
        FROM embeddings e
        JOIN embeddings c ON c.vec_id < {_KMEANS_K}
    ),
    a0 AS (
        SELECT vec_id, cluster_id
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
              FROM s0)
        WHERE rn = 1
    ),
    q1 AS (
        SELECT a0.cluster_id, CAST(t.i AS INTEGER) AS dim,
               SUM(CAST(floor(CAST(e.embedding[t.i] AS DOUBLE)
                              * 1000000000 + 0.5) AS BIGINT)) AS sq,
               COUNT(*) AS n
        FROM a0 JOIN embeddings e ON e.vec_id = a0.vec_id,
             unnest(generate_series(1, len(e.embedding))) AS t(i)
        GROUP BY a0.cluster_id, t.i
    ),
    c1 AS (
        SELECT cluster_id,
               list(CAST(CAST(floor(CAST(sq AS DOUBLE) / 1000000000 / n
                                    * 1000000 + 0.5) AS BIGINT)
                         AS DOUBLE) / 1000000.0
                    ORDER BY dim) AS cv
        FROM q1 GROUP BY cluster_id
    ),
    s1 AS (
        SELECT e.vec_id, c.cluster_id,
               round({_SQDIST_SQL.format(a='e.embedding',
                                         b='c.cv')}, 6) AS dist_sq
        FROM embeddings e CROSS JOIN c1 c
    )
    SELECT vec_id, cluster_id, dist_sq
    FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY dist_sq, cluster_id) AS rn
          FROM s1)
    WHERE rn = 1
    """,
)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd k-means iteration, bit-exact across engines:
    seed-assign (vec_id<8 centroids) → centroid UPDATE → re-assign.
    The iterative-algorithm pattern SURVEY.md's Spark-first design
    calls for: per-round state is a k×dim centroid table, so each
    round is (a) one MAP-ONLY scoring pass over the corpus (literal
    centroids + in-row argmin, see _kmeans_score — no join, no
    exchange, no window; the assignment keeps the embedding beside
    it, so the update needs no corpus self-join either), and (b) one
    posexplode partial-agg shuffle on (cluster, dim) whose k×dim
    result (512 rows here) is the ONLY thing the driver collects —
    the MLlib execution shape exactly (centroids live on the driver
    between rounds; the corpus never does). The whole iteration costs
    exactly ONE exchange, on k×dim post-agg rows.

    Float means are order-dependent, so the update quantizes elements
    to integer nano-units (order-free long sums, the
    emb_label_centroids move) and re-quantizes the mean to micro-unit
    doubles via floor(x*1e6+0.5) — the engine-agnostic rounding the
    registry mandates — making a 2-round distributed Lloyd agree with
    single-threaded DuckDB to the bit. Clusters emptied by round 1
    drop identically in both engines."""
    st = _star(spark, sf_dir)
    e = st.embeddings.select("vec_id", "embedding")
    seeds = _collect_centroids(
        e.filter(F.col("vec_id") < _KMEANS_K).select(
            F.col("vec_id").alias("cluster_id"),
            F.col("embedding").alias("cv"),
        )
    )
    # map-only scoring keeps the embedding beside its assignment, so
    # the centroid update needs NO join back to the corpus
    scored0 = _kmeans_score_with_vec(e, seeds)
    micro = (
        scored0.select(
            "cluster_id",
            F.posexplode("embedding").alias("pos", "val"),
        )
        .select(
            "cluster_id",
            (F.col("pos") + F.lit(1)).alias("dim"),
            F.floor(
                F.col("val").cast("double") * F.lit(1_000_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("q"),
        )
        .groupBy("cluster_id", "dim")
        .agg(
            F.floor(
                F.sum("q").cast("double")
                / F.lit(1_000_000_000.0)
                / F.count(F.lit(1))
                * F.lit(1_000_000.0)
                + F.lit(0.5)
            ).cast("long").alias("m")
        )
        .collect()  # k x dim rows (bounded: 8 x 64) — the Lloyd driver state
    )
    by_cluster: dict[int, dict[int, int]] = {}
    for r in micro:
        by_cluster.setdefault(r.cluster_id, {})[r.dim] = r.m
    cents1 = [
        (cid, [dims[d] / 1e6 for d in sorted(dims)])
        for cid, dims in sorted(by_cluster.items())
    ]
    return _kmeans_score(e, cents1)


@query(
    "emb_silhouette",
    oracle="""
    WITH q AS (
        SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM (SELECT vec_id, label, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings)
    ),
    cent AS (
        SELECT label, i,
               CAST(SUM(CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM q GROUP BY label, i
    ),
    d AS (
        SELECT q.vec_id, q.label AS own, c.label AS other,
               CAST(SUM(CAST(floor(
                   (q.x - CAST(c.s AS DOUBLE) / 1000000000.0
                          / CAST(c.n AS DOUBLE))
                 * (q.x - CAST(c.s AS DOUBLE) / 1000000000.0
                          / CAST(c.n AS DOUBLE))
                 * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                   AS dsq_pico
        FROM q JOIN cent c USING (i)
        GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT vec_id, own AS label,
               sqrt(CAST(MAX(CASE WHEN other = own THEN dsq_pico END)
                         AS DOUBLE) / 1000000000000.0) AS a_d,
               sqrt(CAST(MIN(CASE WHEN other <> own THEN dsq_pico END)
                         AS DOUBLE) / 1000000000000.0) AS b_d
        FROM d GROUP BY 1, 2
    ),
    s AS (
        SELECT label,
               CASE WHEN greatest(a_d, b_d) = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(floor((b_d - a_d) / greatest(a_d, b_d)
                                    * 1000000000.0 + 0.5) AS BIGINT)
               END AS s_nano
        FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_nano) AS DOUBLE) / 1000000000.0 / COUNT(*)
               AS mean_silhouette
    FROM s
    GROUP BY label
    """,
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette score per label — the cluster-quality
    readout for the embedding corpus (is a label tight and separated,
    or smeared into its neighbors?): for each vector, a = distance to
    its OWN label centroid, b = distance to the NEAREST other
    centroid, s = (b−a)/max(a,b); report each label's mean s. The
    centroid form is the O(n·k) silhouette used at corpus scale —
    exact pairwise silhouette is O(n²) and adds nothing at 100 TB.

    Spark-first plan: ONE bounded shuffle builds exact per-label
    centroids (integer nano-unit sums over (label, dim) — k·64
    groups, map-side partial), the k centroids re-enter the plan as
    literals, and scoring is MAP-ONLY (each row computes all k
    distances in one projection — zero joins, the kmeans-assign
    shape) into a k-group final agg. Bit-exact across engines by the
    emb_dist_outliers recipe: per-dim squared deltas quantize to
    integer pico-units (order-free sums), a and b become identical
    IEEE doubles via the same sqrt/divide sequence, and the per-row
    silhouette quantizes to nano-units before the distributed mean.
    Singleton/tight labels where max(a,b)=0 score 0 by convention."""
    st = _star(spark, sf_dir)
    e = st.embeddings
    cent_rows = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(
                F.floor(
                    F.col("x").cast("double") * F.lit(1_000_000_000.0)
                    + F.lit(0.5)
                ).cast("long")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()  # k x dim rows (bounded: |labels| x 64)
    )
    by_label: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        # identical IEEE sequence to the oracle's
        # CAST(s AS DOUBLE)/1e9/CAST(n AS DOUBLE)
        by_label.setdefault(r.label, {})[r.pos] = r.s / 1e9 / r.n
    cents = [
        (lab, [dims[p] for p in sorted(dims)])
        for lab, dims in sorted(by_label.items())
    ]
    xd = F.transform(F.col("embedding"), lambda v: v.cast("double"))

    def dsq_pico(vec: list[float]):
        return F.aggregate(
            F.zip_with(
                xd,
                vectors.lit_array(vec),
                lambda x, c: F.floor(
                    (x - c) * (x - c) * F.lit(1_000_000_000_000.0)
                    + F.lit(0.5)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    arr = F.array(
        *[
            F.struct(
                F.lit(lab).cast("int").alias("lab"),
                dsq_pico(vec).alias("dsq"),
            )
            for lab, vec in cents
        ]
    )
    # STAGED projections: the k-distance array, the own/other picks,
    # and the score each land in their own Project so every
    # higher-order fold evaluates ONCE per row. Referencing `arr`
    # directly from own+other+score would re-run the k×d fold up to
    # 4× per row — HOFs are interpreted (not codegen), so the
    # duplication was the dominant cost (measured 1.9 s → ~0.3 s at
    # sf0.1; CollapseProject keeps expensive expressions staged).
    staged = (
        e.select("label", arr.alias("darr"))
        .select(
            "label",
            F.element_at(
                F.filter("darr", lambda c: c["lab"] == F.col("label")), 1
            )["dsq"].alias("own"),
            F.array_min(
                F.transform(
                    F.filter(
                        "darr", lambda c: c["lab"] != F.col("label")
                    ),
                    lambda c: c["dsq"],
                )
            ).alias("other"),
        )
        .select(
            "label",
            F.sqrt(
                F.col("own").cast("double") / F.lit(1_000_000_000_000.0)
            ).alias("a_d"),
            F.sqrt(
                F.col("other").cast("double")
                / F.lit(1_000_000_000_000.0)
            ).alias("b_d"),
        )
    )
    s_nano = F.when(
        F.greatest(F.col("a_d"), F.col("b_d")) == F.lit(0.0),
        F.lit(0).cast("long"),
    ).otherwise(
        F.floor(
            (F.col("b_d") - F.col("a_d"))
            / F.greatest(F.col("a_d"), F.col("b_d"))
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("long")
    )
    return (
        staged.select("label", s_nano.alias("s_nano"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum("s_nano").cast("double")
                / F.lit(1_000_000_000.0)
                / F.count(F.lit(1))
            ).alias("mean_silhouette"),
        )
    )


@query(
    "window_ntile_quartiles",
    oracle="""
    WITH ltv AS (
        SELECT o_custkey AS customer_id,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS lifetime_value
        FROM orders GROUP BY o_custkey
    )
    SELECT customer_id, lifetime_value,
           CAST(ntile(4) OVER (
               ORDER BY lifetime_value DESC, customer_id
           ) AS INTEGER) AS quartile
    FROM ltv
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value quartiles: decimal-exact per-customer
    spend, quartiled over the global value order — the RFM-style
    segmentation mart. Bit-exact with the SQL-standard ntile(4)
    oracle (the first ``n mod 4`` buckets get one extra row); the
    unique customer_id tiebreak makes the global order total.

    Spark-first shape: NO single-partition ntile window (|customers|
    grows with the corpus — at 100 TB that window is one task sorting
    ~10⁹ rows). Instead the global rank comes from the bucket-offset
    decomposition (operators/windows.py:global_row_number — per-bucket
    sorts + a broadcast offset frame; the only unpartitioned window
    runs over the tiny post-agg per-bucket counts), and the
    SQL-standard bucket assignment is computed CLOSED-FORM from the
    rank and the broadcast 1-row global count: with q = n div 4 and
    r = n mod 4, rows rn ≤ r·(q+1) land in bucket (rn−1) div (q+1) + 1
    and the rest in r + (rn − r·(q+1) − 1) div q + 1 — pure integer
    arithmetic, identical in both engines. Two bounded exchanges
    total; the per-bucket sort parallelizes over value-range buckets."""
    from sales_etl_spark.operators.windows import global_row_number

    st = _star(spark, sf_dir)
    ltv = st.orders.groupBy(
        F.col("o_custkey").alias("customer_id")
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                "long"
            )
        ).alias("lv_cents")
    ).cache()  # customer-grain frame: 3 consumers (count scalar +
    #            rank passes) — cache keeps the orders scan single.
    nn = ltv.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # bucket = −(cents div $10k): monotone NON-decreasing along the
    # DESC value order (ties share a bucket); long→double→trunc is
    # exact for cents ≪ 2^53.
    ranked = global_row_number(
        ltv,
        order_by=[F.desc("lv_cents"), F.asc("customer_id")],
        bucket=(-F.col("lv_cents") / F.lit(1_000_000)).cast("long"),
        out="rn",
    )
    scored = ranked.crossJoin(F.broadcast(nn))
    quartile = F.expr(
        "CAST(CASE WHEN rn <= (n % 4) * (n div 4 + 1)"
        " THEN (rn - 1) div (n div 4 + 1) + 1"
        " ELSE (n % 4) + (rn - (n % 4) * (n div 4 + 1) - 1)"
        "      div greatest(n div 4, 1) + 1 END AS INT)"
    )
    return scored.select(
        "customer_id",
        (F.col("lv_cents").cast("double") / F.lit(100.0)).alias(
            "lifetime_value"
        ),
        quartile.alias("quartile"),
    )


@query(
    "events_ewma_rate",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           make_timestamp(a.h * 3600000000) AS hour,
           a.n_events,
           CAST(SUM(CAST(b.n_events AS DOUBLE)
                    / CAST(1::BIGINT << CAST(a.h - b.h AS INTEGER)
                           AS DOUBLE)) AS DOUBLE) AS ewma
    FROM hourly a
    JOIN hourly b
      ON b.event_type = a.event_type
     AND b.h BETWEEN a.h - 23 AND a.h
    GROUP BY a.event_type, a.h, a.n_events
    """,
)
def events_ewma_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed trailing event rate per type: each hour's
    score sums the trailing 24 hourly counts weighted by 2^-(hour
    gap) — the recency-weighted complement to events_rate_anomaly's
    uniform baseline, with TRUE hour distance (absent hours decay the
    weight; a count 5 silent hours ago contributes c/32).

    Why alpha = 1/2 exactly: every weight is a dyadic rational
    (1 << gap is an exact long; one double divide per term is exact),
    so every term is an exact multiple of 2^-23 and bounded sums of
    them are EXACT in IEEE double regardless of order — a decayed
    float aggregate that is bit-identical distributed vs
    single-threaded, with no quantization step and no pow() (libm
    pow is not cross-engine correctly-rounded; shiftleft is).

    Scale shape: the raw stream collapses to (type, hour) grain in
    one partial-aggregated exchange; the 24x self range-join runs on
    post-agg |types|x|hours| rows — negligible at any corpus size."""
    st = _star(spark, sf_dir)
    hourly = (
        st.events.select(
            "event_type",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    a = hourly
    b = hourly.select(
        F.col("event_type").alias("__bt"),
        F.col("h").alias("__bh"),
        F.col("n_events").alias("__bn"),
    )
    term = F.col("__bn").cast("double") / F.expr(
        "CAST(shiftleft(1L, CAST(h - __bh AS INT)) AS DOUBLE)"
    )
    return (
        a.join(
            b,
            (F.col("__bt") == F.col("event_type"))
            & F.col("__bh").between(F.col("h") - F.lit(23), F.col("h")),
        )
        .groupBy("event_type", "h", "n_events")
        .agg(F.sum(term).alias("ewma"))
        .select(
            "event_type",
            F.timestamp_micros(
                F.col("h") * F.lit(3_600_000_000)
            ).cast("timestamp_ntz").alias("hour"),
            "n_events",
            "ewma",
        )
    )


@query(
    "window_topn_per_group",
    oracle="""
    WITH part_rev AS (
        SELECT o.o_orderpriority AS category,
               l.l_partkey AS product_id,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * CAST(1 - l.l_discount AS DECIMAL(8,4)))
                    AS DOUBLE) AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    )
    SELECT category, CAST(rnk AS INTEGER) AS rank, product_id, revenue
    FROM (SELECT *, row_number() OVER (
              PARTITION BY category
              ORDER BY revenue DESC, product_id) AS rnk
          FROM part_rev)
    WHERE rnk <= 3
    """,
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 products per order priority by revenue — per-GROUP top-N
    (the global ranking's harder sibling: a limit can't express it).

    Spark-first plan: after the (category, product) aggregate, the
    rank filter compiles to WindowGroupLimit — each task keeps only
    its local top-3 per category BEFORE the window exchange, so the
    sort/shuffle sees ≤3·|categories| rows per task instead of the
    full product list (the optimization the exact-ANN tier
    (cosine_topk) relies on, demonstrated on the relational side and
    locked by a plan test). Double revenue sort with product_id
    tiebreak — identical total order in both engines."""
    st = _star(spark, sf_dir)
    li = st.lineitem.select("l_orderkey", "l_partkey", _rev().alias("__r"))
    o = st.orders.select("o_orderkey", "o_orderpriority")
    part_rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("category"),
            F.col("l_partkey").alias("product_id"),
        )
        .agg(F.sum("__r").cast("double").alias("revenue"))
    )
    w = Window.partitionBy("category").orderBy(
        F.desc("revenue"), "product_id"
    )
    return (
        part_rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("category", F.col("rank").cast("int").alias("rank"),
                "product_id", "revenue")
    )


#: Fixed histogram spec for order totals: 12 x 50k buckets, overflow
#: clamped into the last bucket. Literal bounds — no extra min/max
#: pass, and floor(x / width) is one identical IEEE op per engine.
_HIST_WIDTH = 50_000.0
_HIST_BUCKETS = 12


@query(
    "agg_histogram",
    oracle=f"""
    SELECT CAST(least(floor(o_totalprice / {_HIST_WIDTH}),
                      {_HIST_BUCKETS - 1}) AS INTEGER) AS bucket,
           CAST(least(floor(o_totalprice / {_HIST_WIDTH}),
                      {_HIST_BUCKETS - 1}) * {_HIST_WIDTH} AS DOUBLE)
               AS bucket_lo,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS bucket_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (the data-profiling
    companion to agg_stats): bucket index via one floor-divide,
    overflow clamped to the last bucket, per-bucket count + exact
    decimal mass. Map-side combine reduces every task to ≤12 rows
    before the single tiny exchange — the cheapest possible
    distribution profile of a 100 TB column."""
    st = _star(spark, sf_dir)
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(_HIST_WIDTH)),
        F.lit(_HIST_BUCKETS - 1),
    )
    return (
        st.orders.select(
            bucket.cast("int").alias("bucket"),
            (bucket * F.lit(_HIST_WIDTH)).cast("double").alias("bucket_lo"),
            F.col("o_totalprice"),
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bucket_total"),
        )
    )


@query(
    "scan_lake_table",
    oracle="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def scan_lake_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transaction-log lake exercised end-to-end on the
    oracle-checked surface: orders land as TWO atomic commits (a base
    load and an append delta — the incremental-ingest shape), the
    table is then OPTIMIZE-compacted (lake.compact — an overwrite
    version; history stays time-travelable), and the query reads the
    LATEST snapshot through the manifest. The aggregate must equal
    the flat parquet oracle — proving commit atomicity, append
    semantics, and the compaction rewrite all preserve the data
    exactly. Builds are idempotent per scratch table AND crash-safe:
    a completion sentinel (written last) guards reuse, and a table
    left half-built by an interrupted run is torn down and rebuilt
    rather than served — version-log presence alone would latch a
    partial load forever."""
    import shutil
    from pathlib import Path

    from sales_etl_spark import lake
    from sales_etl_spark.plans.extensions import _scratch

    st = _star(spark, sf_dir)
    path = str(_scratch("lake_orders", sf_dir))
    done = Path(path) / "_build_complete"
    if not done.exists():
        shutil.rmtree(path, ignore_errors=True)
        cut = F.lit(_REFRESH_CUT).cast("timestamp_ntz")
        base = st.orders.filter(F.col("o_orderdate") < cut)
        delta = st.orders.filter(F.col("o_orderdate") >= cut)
        lake.commit_write(base, path, mode="append")
        lake.commit_write(delta, path, mode="append")
        lake.compact(spark, path, target_files=2)
        done.touch()
    return (
        lake.read_table(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@query(
    "scan_lake_dml",
    oracle="""
    WITH after_delete AS (
        SELECT * FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)
    ),
    merge_source AS (
        SELECT o_orderkey, o_orderstatus,
               o_totalprice * 2 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 3
        UNION ALL
        SELECT -o_orderkey, 'N' AS o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 7
    ),
    final AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM after_delete
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM merge_source)
        UNION ALL
        SELECT * FROM merge_source
    )
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM final GROUP BY 1
    """,
)
def scan_lake_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake's row-level DML on the oracle-checked surface: orders
    land as one commit, a DELETE masks a slice via positional
    deletion vectors (no file rewrite), then a MERGE INTO atomically
    replaces every %10==3 key (price doubled — exact in IEEE) and
    inserts fresh negative-key rows — including re-merging any key
    the DELETE removed, which must come back as the NEW row only.
    The final snapshot's aggregate must equal a flat-parquet oracle
    that reconstructs the same end state relationally — proving
    vector application, carry-forward, and the one-manifest merge all
    preserve exact row-level semantics. Scratch build is idempotent
    and crash-safe (completion sentinel; see scan_lake_table)."""
    import shutil
    from pathlib import Path

    from sales_etl_spark import lake
    from sales_etl_spark.plans.extensions import _scratch

    st = _star(spark, sf_dir)
    base = st.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = str(_scratch("lake_dml", sf_dir))
    done = Path(path) / "_build_complete"
    if not done.exists():
        shutil.rmtree(path, ignore_errors=True)
        lake.commit_write(base, path, mode="append")
        lake.delete_where(
            spark, path, "o_orderstatus = 'F' AND o_orderkey % 10 = 0"
        )
        source = base.filter(F.col("o_orderkey") % 10 == 3).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ).unionByName(
            base.filter(F.col("o_orderkey") % 1000 == 7).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
        lake.merge_into(spark, path, source, keys=["o_orderkey"])
        done.touch()
    return (
        lake.read_table(spark, path)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


#: Bloom skip-index point-lookup key (exists at every SF: doc_ids are
#: dense from 0).
_BLOOM_KEY = 17


@query(
    "scan_bloom_skip",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id = {_BLOOM_KEY}
    """,
)
def scan_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the lake's BLOOM skip index on the
    oracle-checked surface: documents land HASH-distributed across 8
    files (every file spans the full doc_id range, so min/max zone
    maps can prune NOTHING — the layout where range skipping is
    useless by construction), with a per-file bloom on doc_id in the
    manifest (lake._file_blooms — built distributed, xxhash64 bit-OR
    into m/64 longs/file, m auto-sized to ≥16 bits/row). The read
    probes the bloom
    (read_table(point=...)): all but ~1 file are skipped without
    being opened (no false negatives; the plan-shape test asserts
    n_skipped ≥ 6 of 8), then the row filter lands on the survivor.
    The result must equal the flat-parquet oracle — skipping is an
    optimization, never a filter.

    Scale notes: this is Delta's bloom index / Iceberg's puffin blobs
    manifest-native — at 100 TB a needle lookup on a non-clustered
    key reads O(1) files instead of O(all); the index itself is
    manifest metadata (1 KB/file/col), built in the same distributed
    pass as the write. Scratch build is idempotent and crash-safe
    (completion sentinel; see scan_lake_table)."""
    import shutil
    from pathlib import Path

    from sales_etl_spark import lake
    from sales_etl_spark.plans.extensions import _scratch

    st = _star(spark, sf_dir)
    path = str(_scratch("lake_bloom", sf_dir))
    done = Path(path) / "_build_complete"
    if not done.exists():
        shutil.rmtree(path, ignore_errors=True)
        docs = st.documents.select(
            "doc_id", "lang", "source", "n_chars"
        ).repartition(8, "doc_id")
        lake.commit_write(docs, path, mode="append", bloom_cols=["doc_id"])
        done.touch()
    return (
        lake.read_table(spark, path, point=("doc_id", _BLOOM_KEY))
        .filter(F.col("doc_id") == _BLOOM_KEY)
        .select("doc_id", "lang", "source", "n_chars")
    )


#: binaryFile ingestion fixture: this many docs land as loose files.
_BINFILE_N = 100


@query(
    "scan_binary_files",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    WHERE doc_id < {_BINFILE_N}
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — how image/audio/video corpora
    actually arrive (directories of opaque files, not parquet): a
    fixture of loose ``doc_<id>.bin`` files is scanned as (path,
    length, content) rows, the id recovered from the file name and
    the payload fingerprinted. The oracle recomputes byte length and
    md5 from the documents table the fixture was written from, so the
    ENTIRE ingest loop — file write → distributed directory scan →
    binary column → fingerprint — is hash-verified.

    Scale notes: binaryFile scans parallelize across files like any
    file source (one row per file; partition count follows
    maxPartitionBytes over file sizes); pair with
    ``pathGlobFilter``/``recursiveFileLookup`` for lake layouts, and
    hand the binary column to the multimodal tier
    (operators/multimodal.py) for Arrow-batched decode. The fixture
    write is driver-side and bounded (one-time, {_BINFILE_N} small
    files, guarded by a completion sentinel)."""
    from pathlib import Path

    from sales_etl_spark.plans.extensions import _scratch

    st = _star(spark, sf_dir)
    root = Path(_scratch("binfiles", sf_dir))
    done = root / "_complete"
    if not done.exists():
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        (root / "data").mkdir(parents=True)
        rows = (
            st.documents.filter(F.col("doc_id") < _BINFILE_N)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            (root / "data" / f"doc_{r.doc_id}.bin").write_bytes(
                r.text.encode("utf-8")
            )
        done.touch()
    files = spark.read.format("binaryFile").load(str(root / "data"))
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "emb_standardize",
    oracle="""
    WITH vals AS (
        SELECT e.vec_id, CAST(t.i AS INTEGER) AS dim,
               CAST(floor(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000
                          + 0.5) AS BIGINT) AS q
        FROM embeddings e,
             unnest(generate_series(1, len(e.embedding))) AS t(i)
    ),
    stats AS (
        SELECT dim,
               COUNT(*) AS n,
               CAST(SUM(q) AS DECIMAL(38,0)) AS s,
               CAST(SUM(CAST(q AS DECIMAL(38,0))
                        * CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS ss
        FROM vals GROUP BY dim
    )
    SELECT v.vec_id, v.dim,
           CASE WHEN (CAST(ss AS DOUBLE) / n)
                     - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                     > 0
                THEN round(
                    (v.q - CAST(s AS DOUBLE) / n)
                    / sqrt((CAST(ss AS DOUBLE) / n)
                           - (CAST(s AS DOUBLE) / n)
                             * (CAST(s AS DOUBLE) / n)),
                    6)
           END AS z
    FROM vals v JOIN stats USING (dim)
    """,
)
def emb_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus
    (the feature-scaling pass before distance-based models): two-pass
    — one partial-agg exchange computes per-dim moments, then a
    broadcast of the 64-row stats table scores every element
    map-side. NULL z for a zero-variance dimension (undefined, not
    zero — the agg_stats rule).

    Bit-exactness: elements quantize to integer nano-units; Σq is an
    order-free long and Σq² an order-free DECIMAL(38,0) (q² alone
    reaches 4e18 — a long Σq² would overflow), and both engines then
    evaluate the IDENTICAL double expression (mean, variance, sqrt —
    correctly-rounded IEEE in both) on the same exact integers. Same
    playbook as agg_stats / events_rate_anomaly, at corpus scale."""
    st = _star(spark, sf_dir)
    vals = st.embeddings.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + F.lit(1)).alias("dim"),
        F.floor(
            F.col("val").cast("double") * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("long").alias("q"),
    )
    qd = F.col("q").cast("decimal(38,0)")
    stats = vals.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("s"),
        F.sum(qd * qd).cast("decimal(38,0)").alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    return (
        vals.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            F.when(
                var > 0,
                F.round((F.col("q") - mean) / F.sqrt(var), 6),
            ).alias("z"),
        )
    )


@query(
    "events_rolling_active_users",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM user_days)
    SELECT make_timestamp(d.day * 86400000000) AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days d
    JOIN user_days u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — the windowed-DISTINCT
    metric (WAU) that plain sliding-window sums cannot express
    (distinct does not decompose over overlapping windows).

    Spark-first plan: the raw stream first collapses to the DISTINCT
    (user, day) grain — one exchange doing all the heavy lifting,
    after which a user active 20× a day is one row. Each (user, day)
    then EXPLODES into the 7 window-days it contributes to (a
    generate, not a range join — a day-vs-user-days theta join would
    plan as a nested-loop product) and an equi-join against the
    observed-day list (broadcast; |days| rows) drops windows that
    never happened, before the final count-distinct per window day on
    post-agg rows. At 100 TB the upgrade path is a per-day HLL sketch
    union-merged over the trailing window (agg_approx_distinct's
    machinery) when exactness can yield; this query is the exact
    tier."""
    st = _star(spark, sf_dir)
    user_days = (
        st.events.select(
            "user_id",
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000"
            ).alias("day"),
        )
        .distinct()
    )
    days = user_days.select("day").distinct()
    contrib = user_days.select(
        F.col("user_id").alias("__uid"),
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("__wday"),
    )
    return (
        contrib.join(
            F.broadcast(days), F.col("__wday") == F.col("day")
        )
        .groupBy("day")
        .agg(F.countDistinct("__uid").alias("active_7d"))
        .select(
            F.timestamp_micros(
                F.col("day") * F.lit(86_400_000_000)
            ).cast("timestamp_ntz").alias("day"),
            "active_7d",
        )
    )


#: Incremental-refresh cutover: rows before this date are the "stored
#: base mart"; rows at/after it are the arriving delta batch.
_REFRESH_CUT = "1999-01-01"


@query(
    "mart_incremental_refresh",
    oracle="""
    SELECT o_orderstatus AS status,
           strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_order_value
    FROM orders
    GROUP BY 1, 2
    """,
)
def mart_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental mart refresh ≡ full recompute, proven as a query:
    the (status, month) order mart is computed as a BASE slice
    (orders before the cutover — standing in for the stored mart a
    real deployment reads back, not recomputes) merged with the DELTA
    slice via operators.aggregates.merge_marts, and the oracle is the
    flat full-table aggregation. Exact-decimal accumulators make the
    two-level aggregation tree equal the one-level one bit-for-bit;
    the derived average recomputes from merged accumulators at the
    output boundary (ratios don't merge — sums do).

    At 100 TB this is the difference between a daily refresh that
    costs O(delta) + O(mart) and one that re-scans the fact: the same
    mergeability property Spark's partial aggregation relies on,
    surfaced as the ingest contract for every mart in the registry."""
    from sales_etl_spark.operators.aggregates import merge_marts

    st = _star(spark, sf_dir)
    cut = F.lit(_REFRESH_CUT).cast("timestamp_ntz")

    def partial(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col("o_orderstatus").alias("status"),
                F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                F.col("o_totalprice").cast("decimal(18,2)").alias("__t"),
            )
            .groupBy("status", "month")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("__t").alias("__total"),
            )
        )

    base = partial(st.orders.filter(F.col("o_orderdate") < cut))
    delta = partial(st.orders.filter(F.col("o_orderdate") >= cut))
    merged = merge_marts(
        [base, delta], keys=["status", "month"],
        sum_cols=["n_orders", "__total"],
    )
    return merged.select(
        "status",
        "month",
        "n_orders",
        F.col("__total").cast("double").alias("total_price"),
        (
            F.col("__total").cast("double") / F.col("n_orders")
        ).cast("double").alias("avg_order_value"),
    )


_BUCKETS = 8


@query(
    "scan_bucketed_join",
    oracle="""
    SELECT l.l_orderkey AS order_id,
           o.o_orderpriority AS priority,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(8,4))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY l.l_orderkey, o.o_orderpriority
    """,
)
def scan_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join, written AND exploited
    end-to-end: lineitem and orders land as catalog tables bucketed
    8-ways on the order key (one file per bucket via a matching
    pre-repartition), then order-grain agg ⨝ orders runs with ZERO
    exchanges — the bucketed scans already satisfy every distribution
    requirement (agg keys ⊇ bucket key; join keys = bucket key).

    This is the 100 TB answer to the registry's hottest shuffle: the
    lineitem⨝orders order-key exchange appears in every mart, and
    bucketing both tables once at ingest amortizes it across every
    downstream query forever (partition pruning's sibling: one is
    scan elision, this is exchange elision). The plan-shape test
    asserts Exchange-free physical plans; Spark's native bucketing
    uses the same Murmur3 hash as repartition(), so bucket b holds
    exactly partition b's rows."""
    from sales_etl_spark.plans.extensions import _scratch

    base = _scratch("bucketed", sf_dir)
    st = _star(spark, sf_dir)
    tag = "".join(
        ch if ch.isalnum() else "_" for ch in base.name.lower()
    )
    tbls = {"lineitem": f"b_li_{tag}", "orders": f"b_o_{tag}"}
    # require BOTH tables: an interrupted first build that landed only
    # lineitem must re-run the (overwrite-mode, idempotent) writes
    # rather than erroring forever on the missing orders table
    if not all(spark.catalog.tableExists(t) for t in tbls.values()):
        (
            st.lineitem.select(
                "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
            )
            .repartition(_BUCKETS, "l_orderkey")
            .write.mode("overwrite")
            .option("path", str(base / "lineitem"))
            .bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(tbls["lineitem"])
        )
        (
            st.orders.select("o_orderkey", "o_orderpriority")
            .repartition(_BUCKETS, "o_orderkey")
            .write.mode("overwrite")
            .option("path", str(base / "orders"))
            .bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(tbls["orders"])
        )
    li = spark.table(tbls["lineitem"])
    o = spark.table(tbls["orders"])
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty"),
        F.sum(_rev()).cast("double").alias("revenue"),
    )
    return per_order.join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    ).select(
        F.col("l_orderkey").alias("order_id"),
        F.col("o_orderpriority").alias("priority"),
        "total_qty",
        "revenue",
    )


@query(
    "flagship_forecast_revenue",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE)
               AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01'
      AND l_shipdate <  TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def flagship_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6-shaped forecast-revenue-change: what discount revenue would
    have been earned had low-quantity discounts in a year band not been
    given — a single filter→agg with NO join and NO group key.

    The whole query is a scan-shape test: all three predicates (ship
    year, discount band, quantity cap) must reach the parquet reader
    as PushedFilters, the scan reads exactly 4 columns, and the
    aggregate is a map-side partial + 1-row merge — zero meaningful
    shuffle. At 100 TB with date-partitioned or range-clustered files
    the year band prunes whole files before any row is read
    (scan_partition_prune / scan_zorder_prune demonstrate that half).
    Decimal price×discount keeps the sum exact and order-free.
    """
    st = _star(spark, sf_dir)
    li = st.lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        # Decimal keeps the sum exact and order-free; the OUTPUT cast
        # to double makes the dtype engine-invariant (registry
        # convention — exposed DecimalType hash-diverges between
        # Spark toPandas float64 and DuckDB decimal.Decimal).
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(8,4)")
        )
        .cast("double")
        .alias("revenue_delta"),
    )


@query(
    "agg_copurchase_topk",
    oracle="""
    WITH order_parts AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a,
           b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM order_parts a
    JOIN order_parts b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
)
def agg_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the 50 part pairs most often bought
    in the same order — the candidate-pair half of frequent-itemset
    mining (the A-Priori k=2 pass).

    Scale shape: the pair blowup is bounded by the DATA MODEL, not by
    luck — an order has ≤7 lines, so the orderkey self-join expands
    each order to ≤21 pairs (linear in rows, like the blocked-linkage
    and LSH-band joins; contrast an unkeyed part×part cross join). The
    distinct (order, part) grain collapses first so duplicate parts in
    one order cannot inflate counts; both self-join sides share one
    exchange key (co-partitioned SMJ — bucketing lineitem on orderkey
    would elide even that, SCALE.md §14); the pair count is a
    map-side-combinable groupBy; TakeOrderedAndProject caps the output
    with a full tiebreak.
    """
    st = _star(spark, sf_dir)
    order_parts = st.lineitem.select("l_orderkey", "l_partkey").distinct()
    a = order_parts.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("part_a")
    )
    b = order_parts.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "__ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(50)
    )


@query(
    "agg_yoy_growth",
    oracle="""
    WITH monthly AS (
        SELECT EXTRACT(year FROM o_orderdate) * 12
                 + EXTRACT(month FROM o_orderdate) AS ym,
               strftime(MIN(o_orderdate), '%Y-%m') AS month,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM orders
        GROUP BY 1
    )
    SELECT cur.month,
           cur.rev_cents,
           prev.rev_cents AS prev_rev_cents,
           CAST(cur.rev_cents AS DOUBLE)
             / CAST(prev.rev_cents AS DOUBLE) AS yoy_ratio
    FROM monthly cur
    LEFT JOIN monthly prev ON prev.ym = cur.ym - 12
    """,
)
def agg_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue ratio — the calendar-aware
    comparison a lag(12)-over-rows window gets WRONG on sparse months
    (row offset ≠ calendar offset). The month sequence joins itself on
    an integer year·12+month index, so a missing month yields a NULL
    ratio instead of a silently shifted comparison.

    Scale: the fact collapses to ≤ |months| rows in one exchange; the
    self-join runs on the tiny aggregate (broadcast). Integer-cents
    sums; the ratio is one double division of exact operands.
    """
    st = _star(spark, sf_dir)
    monthly = (
        st.orders.groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "ym"
            )
        )
        .agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM").alias("month"),
            F.sum(
                (
                    F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100)
                ).cast("bigint")
            ).cast("bigint").alias("rev_cents"),
        )
    )
    prev = monthly.select(
        (F.col("ym") + 12).alias("__ym_next"),
        F.col("rev_cents").alias("prev_rev_cents"),
    )
    return (
        monthly.join(
            F.broadcast(prev), monthly.ym == prev.__ym_next, "left"
        )
        .select(
            "month",
            "rev_cents",
            "prev_rev_cents",
            (
                F.col("rev_cents").cast("double")
                / F.col("prev_rev_cents").cast("double")
            ).alias("yoy_ratio"),
        )
    )


@query(
    "agg_winsorized_stats",
    oracle="""
    WITH base AS (
        SELECT o_orderpriority AS category,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS cents
        FROM orders
    ),
    ranked AS (
        SELECT category, cents,
               ROW_NUMBER() OVER (
                   PARTITION BY category ORDER BY cents
               ) AS rn,
               COUNT(*) OVER (PARTITION BY category) AS n
        FROM base
    ),
    bounds AS (
        SELECT category,
               MIN(CASE WHEN rn = GREATEST(
                   1, CAST(ceil(0.01 * n) AS BIGINT)) THEN cents END)
                 AS lo_cents,
               MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                   THEN cents END) AS hi_cents
        FROM ranked
        GROUP BY category
    )
    SELECT r.category,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(b.lo_cents) AS lo_cents,
           MIN(b.hi_cents) AS hi_cents,
           CAST(SUM(LEAST(b.hi_cents,
                          GREATEST(b.lo_cents, r.cents))) AS BIGINT)
             AS wins_sum_cents,
           CAST(SUM(LEAST(b.hi_cents, GREATEST(b.lo_cents, r.cents)))
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS wins_mean_cents
    FROM ranked r
    JOIN bounds b USING (category)
    GROUP BY r.category
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order-value statistics per priority class: clamp each
    group's values at its own exact p01/p99 DISCRETE percentiles, then
    average — the outlier-robust mean that plain AVG is not.

    Exactness chain: percentile bounds are actual data values selected
    by rank (no interpolation — the agg_median_disc recipe, so no
    float ambiguity), the clamp and sums run in integer cents, and the
    final mean is one double division of exact operands. Shape: one
    shuffle on the group key for the rank window, the 5-row bounds
    frame broadcasts back, and the final agg map-side-combines. (A
    GLOBAL winsorize would swap the rank window for the bucket-offset
    numbering — same machinery as agg_gini_revenue.)
    """
    st = _star(spark, sf_dir)
    base = st.orders.select(
        F.col("o_orderpriority").alias("category"),
        (
            F.col("o_totalprice").cast("decimal(18,2)") * F.lit(100)
        ).cast("bigint").alias("cents"),
    )
    w_rank = Window.partitionBy("category").orderBy("cents")
    w_all = Window.partitionBy("category")
    ranked = base.select(
        "category",
        "cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    lo_rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.ceil(F.lit(0.01) * F.col("n")).cast("bigint"),
    )
    hi_rank = F.ceil(F.lit(0.99) * F.col("n")).cast("bigint")
    bounds = (
        ranked.filter(
            (F.col("rn") == lo_rank) | (F.col("rn") == hi_rank)
        )
        .groupBy("category")
        .agg(
            F.min(
                F.when(F.col("rn") == lo_rank, F.col("cents"))
            ).alias("lo_cents"),
            F.max(
                F.when(F.col("rn") == hi_rank, F.col("cents"))
            ).alias("hi_cents"),
        )
    )
    clamped = ranked.join(F.broadcast(bounds), "category").select(
        "category",
        "lo_cents",
        "hi_cents",
        F.least(
            F.col("hi_cents"), F.greatest(F.col("lo_cents"), F.col("cents"))
        ).alias("wc"),
    )
    return clamped.groupBy("category").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.min("lo_cents").alias("lo_cents"),
        F.min("hi_cents").alias("hi_cents"),
        F.sum("wc").cast("bigint").alias("wins_sum_cents"),
        (
            F.sum("wc").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("wins_mean_cents"),
    )


@query(
    "flagship_above_avg_balance",
    oracle="""
    WITH nat AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_nation,
               SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum
        FROM customer
        GROUP BY c_nationkey
    )
    SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
           nat.n_nation
    FROM customer c
    JOIN nat ON nat.c_nationkey = c.c_nationkey
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * nat.n_nation
            > nat.bal_sum
    """,
)
def flagship_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose balance exceeds their nation's average — the
    correlated-scalar-subquery pattern, decorrelated the way Catalyst
    (and DuckDB) rewrite it: aggregate once per nation, join back,
    filter.

    The avg comparison is restated as `bal · n > Σbal` so EVERYTHING
    stays exact decimal/integer — an actual AVG would divide into
    engine-specific decimal scales (Spark avg(DECIMAL(18,2)) widens to
    (22,6) with HALF_UP; DuckDB returns DOUBLE) and the boundary rows
    would flicker. Shape: the ≤|nations|-row aggregate broadcasts into
    the customer scan — one exchange for the agg, zero for the join.
    """
    st = _star(spark, sf_dir)
    nat = st.customer.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nation"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal_sum"),
    )
    return (
        st.customer.join(F.broadcast(nat), "c_nationkey")
        .filter(
            F.col("c_acctbal").cast("decimal(18,2)") * F.col("n_nation")
            > F.col("bal_sum")
        )
        .select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal", "n_nation"
        )
    )


@query(
    "quality_orphan_audit",
    oracle="""
    SELECT 'orders_orphan_customer' AS check_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orphan_order',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'customer_negative_balance',
           CAST(COUNT(*) AS BIGINT)
    FROM customer WHERE c_acctbal < 0
    UNION ALL
    SELECT 'customers_without_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    """,
)
def quality_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity and domain audit mart: orphaned facts
    (FK rows with no parent), childless dimension rows, and
    domain-rule violations, one count per named check — the
    cross-TABLE companion to quality_expectations' per-column rules.

    Shape: each referential check is a LEFT ANTI join on the key (the
    scalable NOT EXISTS — shuffle or broadcast per AQE, never a
    per-row subquery), collapsed map-side to a single count before the
    4-row union. A healthy pipeline reports zeros for the orphan rows;
    the audit exists so an UNHEALTHY ingest fails loudly with a named
    check instead of silently joining away rows downstream.
    """
    st = _star(spark, sf_dir)

    def count_named(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )

    orphan_orders = st.orders.join(
        st.customer.select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey",
        "left_anti",
    )
    orphan_lines = st.lineitem.join(
        st.orders.select(F.col("o_orderkey").alias("l_orderkey")),
        "l_orderkey",
        "left_anti",
    )
    negative_bal = st.customer.filter(F.col("c_acctbal") < 0)
    childless = st.customer.join(
        st.orders.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
        "left_anti",
    )
    return (
        count_named(orphan_orders, "orders_orphan_customer")
        .unionAll(count_named(orphan_lines, "lineitem_orphan_order"))
        .unionAll(count_named(negative_bal, "customer_negative_balance"))
        .unionAll(count_named(childless, "customers_without_orders"))
    )


@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS from_type
        FROM events
    )
    SELECT from_type,
           event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq
    WHERE from_type IS NOT NULL
    GROUP BY from_type, event_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event types per
    user — the behavioral-flow matrix product analytics builds sankeys
    and next-step predictors from.

    One shuffle on user_id for the lag window (deterministic total
    order: ts then event_id), then a map-side-combinable count over
    the ≤|types|² matrix — the output is domain-bounded (25 cells
    here) no matter how many events stream through. The funnel
    (events_funnel) asks "did the ordered path happen"; this asks
    "what does EVERY adjacent step look like".
    """
    st = _star(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = st.events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(w).alias("from_type"),
    )
    return (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )


@query(
    "mart_incremental_join_refresh",
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def mart_incremental_join_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view, proven as a query: for
    V = A ⨝ B with arriving deltas, V_new = V_old ∪ ΔA⨝B_old ∪
    A_old⨝ΔB ∪ ΔA⨝ΔB — the classic delta-join identity, here carried
    through the priority revenue mart and checked against the flat
    full join+agg oracle.

    mart_incremental_refresh proved aggregates merge; this proves the
    JOIN layer refreshes in O(Δ): the three incremental terms each
    have a delta on at least one side (delta-sized probe into the old
    fact — broadcast/DPP territory at real delta:base ratios), so a
    daily refresh never re-joins base against base. Each term partial-
    aggregates to the ≤|priorities| grain BEFORE the 4-way merge
    (merge_marts), so the union never materializes join-grain rows.
    Exact decimal revenue accumulators make the 4-term tree equal the
    flat join bit-for-bit.
    """
    from sales_etl_spark.operators.aggregates import merge_marts

    st = _star(spark, sf_dir)
    cut = F.lit("1996-01-01").cast("timestamp_ntz")
    a_old = st.orders.filter(F.col("o_orderdate") < cut)
    a_new = st.orders.filter(F.col("o_orderdate") >= cut)
    b_old = st.lineitem.filter(F.col("l_shipdate") < cut)
    b_new = st.lineitem.filter(F.col("l_shipdate") >= cut)

    def partial(orders: DataFrame, lines: DataFrame) -> DataFrame:
        return (
            lines.select("l_orderkey", _rev().alias("__r"))
            .join(
                orders.select("o_orderkey", "o_orderpriority"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum("__r").alias("__rev"),
            )
        )

    terms = [
        partial(a_old, b_old),  # the stored view, V_old
        partial(a_new, b_old),  # ΔA ⨝ B_old
        partial(a_old, b_new),  # A_old ⨝ ΔB
        partial(a_new, b_new),  # ΔA ⨝ ΔB
    ]
    merged = merge_marts(
        terms, keys=["priority"], sum_cols=["n_lines", "__rev"]
    )
    return merged.select(
        "priority",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("__rev").cast("double").alias("revenue"),
    )


#: k-center coreset size (greedy farthest-point traversal).
_KCENTER_K = 8

#: DuckDB pico-quantized squared L2 between two embedding arrays —
#: identical per-term IEEE + integer fold as the Spark zip_with.
_DSQ_PICO = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(floor((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * 1000000000000.0 + 0.5) AS BIGINT)), (x, y) -> x + y)"
)


def _kcenter_sql() -> str:
    """Unrolled greedy k-center oracle: seed = min vec_id, then each
    step picks the vector FARTHEST from its nearest chosen center
    (pico-integer distances; vec_id tiebreak), exactly the Spark
    loop's arithmetic."""
    steps = []
    sel = ["SELECT 1 AS rank, vec_id, CAST(0 AS BIGINT) AS mind FROM c1"]
    steps.append(
        "c1 AS (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 1)"
    )
    steps.append(
        "d1 AS (SELECT e.vec_id, "
        + _DSQ_PICO.format(a="e.embedding", b="c1.embedding")
        + " AS mind FROM e, c1)"
    )
    for j in range(2, _KCENTER_K + 1):
        steps.append(
            f"c{j} AS (SELECT d.vec_id, e.embedding, d.mind "
            f"FROM d{j - 1} d JOIN e USING (vec_id) "
            f"ORDER BY d.mind DESC, d.vec_id LIMIT 1)"
        )
        sel.append(
            f"SELECT {j} AS rank, vec_id, mind FROM c{j}"
        )
        if j < _KCENTER_K:
            steps.append(
                f"d{j} AS (SELECT d.vec_id, "
                f"LEAST(d.mind, "
                + _DSQ_PICO.format(a="e.embedding", b=f"c{j}.embedding")
                + f") AS mind "
                f"FROM d{j - 1} d JOIN e USING (vec_id), c{j})"
            )
    return (
        "WITH e AS (SELECT vec_id, embedding FROM embeddings),\n"
        + ",\n".join(steps)
        + "\nSELECT CAST(rank AS INTEGER) AS rank, vec_id,\n"
        "       sqrt(CAST(mind AS DOUBLE) / 1000000000000.0)\n"
        "           AS dist_to_chosen\n"
        "FROM (" + " UNION ALL ".join(sel) + ")"
    )


@query("sample_kcenter_coreset", oracle=_kcenter_sql())
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-maximizing coreset by greedy k-center (farthest-point
    traversal): seed with the min-id vector, then repeatedly take the
    vector FARTHEST from its nearest chosen center — the classic
    2-approximation to the k-center cover, and the standard
    diversity-selection move for training-data curation (pick the
    examples that cover embedding space, not the densest cluster;
    complements the density-driven samplers in operators/sampling.py).
    Output: selection order, vec_id, and each pick's distance to the
    previously chosen set (the running coverage radius, decreasing).

    Spark-first plan: the chosen set is k-BOUNDED DRIVER STATE (the
    Lloyd/PCA pattern) — each of the k−1 rounds is ONE map-only pass
    (literal center vector, pico-integer min-distance update) into a
    1-row argmax (max over (dist, -vec_id) structs — largest distance,
    smallest id on ties), so the corpus is never joined or shuffled;
    the running min-distance column folds into the next round's
    projection. Bit-exact across engines: per-term pico quantization
    before the fold, integer comparisons throughout, one sqrt at the
    output boundary.

    Practical k ceiling: the traversal is inherently sequential —
    k−1 driver rounds of 2 jobs each (O(k) scheduler launches, ~0.1 s
    per round at any data size) and a k×dim literal in the final
    plan. Both are fine for coreset-sized k (≤ a few hundred: ~30 s
    of pure scheduling at k=300); for k beyond ~10³ use the k-means++
    style over-sampling variant (sample O(k) candidates per pass in a
    few passes, then greedy-select within the candidate set) — the
    per-round-job shape, not memory, is the binding limit."""
    st = _star(spark, sf_dir)
    e = st.embeddings.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
            "xd"
        ),
    )

    def dsq(center: list[float]):
        return F.aggregate(
            F.zip_with(
                F.col("xd"),
                vectors.lit_array(center),
                lambda x, c: F.floor(
                    (x - c) * (x - c) * F.lit(1_000_000_000_000.0)
                    + F.lit(0.5)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    seed = e.orderBy("vec_id").limit(1).collect()[0]
    chosen = [(1, int(seed["vec_id"]), 0)]
    center = [float(x) for x in seed["xd"]]
    cur = e.select("vec_id", "xd", dsq(center).alias("mind"))
    for j in range(2, _KCENTER_K + 1):
        top = (
            cur.select(
                F.max(
                    F.struct(F.col("mind"), (-F.col("vec_id")).alias("nid"))
                ).alias("m")
            )
            .collect()[0]["m"]
        )
        far_id, far_d = -top["nid"], int(top["mind"])
        chosen.append((j, far_id, far_d))
        if j < _KCENTER_K:
            center = [
                float(x)
                for x in e.filter(F.col("vec_id") == far_id)
                .collect()[0]["xd"]
            ]
            cur = cur.select(
                "vec_id",
                "xd",
                F.least(F.col("mind"), dsq(center)).alias("mind"),
            )
    import math

    return driver_table(
        spark,
        [
            (rank, vid, math.sqrt(float(d) / 1e12))
            for rank, vid, d in chosen
        ],
        "rank int, vec_id long, dist_to_chosen double",
    )


# ---------------------------------------------------------------------------
# Markov steady state over the behavioral-flow matrix (round 5)
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 12

_MARKOV_BASE_SQL = """
    seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS from_type
        FROM events
    ),
    cnt AS MATERIALIZED (
        SELECT from_type AS i, event_type AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    rt AS MATERIALIZED (SELECT i, CAST(SUM(c) AS BIGINT) AS r
                        FROM cnt GROUP BY i),
    types AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM events),
    p0 AS MATERIALIZED (
        SELECT t,
               CAST(1000000 // (SELECT COUNT(*) FROM types) AS BIGINT)
                   AS v
        FROM types
    )
"""


def _markov_level_sql(k: int) -> str:
    """One exact-integer power-iteration level: each type's next mass
    is the floor-divided inflow Σᵢ (πᵢ·cᵢⱼ) // rᵢ plus any dangling
    (no-outgoing) type's self-retained mass."""
    return f"""
    p{k} AS MATERIALIZED (
        SELECT t.t,
               CAST(
                 COALESCE((SELECT SUM((p.v * c.c) // r.r)
                           FROM p{k - 1} p
                           JOIN cnt c ON c.i = p.t AND c.j = t.t
                           JOIN rt r ON r.i = p.t), 0)
                 + COALESCE((SELECT SUM(p.v) FROM p{k - 1} p
                             WHERE p.t = t.t AND NOT EXISTS
                                   (SELECT 1 FROM rt WHERE rt.i = p.t)),
                            0)
               AS BIGINT) AS v
        FROM types t
    )"""


@query(
    "events_markov_stationary",
    oracle=(
        "WITH "
        + _MARKOV_BASE_SQL
        + ","
        + ",".join(_markov_level_sql(k) for k in range(1, _MARKOV_ITERS + 1))
        + f"""
    SELECT t AS event_type,
           v AS stationary_micro,
           CAST(v AS DOUBLE) / 1000000.0 AS stationary
    FROM p{_MARKOV_ITERS}
    """
    ),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state distribution of the behavioral Markov chain: where
    does a user's session settle if the observed event-type
    transition probabilities keep acting — the long-run attention
    share per event type (events_transition_matrix asks what each
    step looks like; this asks where the flow CONVERGES). Dangling
    types (no outgoing transitions) retain their mass — the
    self-loop convention.

    Spark-first shape — the bounded-iteration local-solve pattern
    (Lloyd/PCA/Holt): the transition matrix is domain-bounded
    (≤|types|² cells), so ONE shuffle builds it, the driver collects
    those ≤25 rows, and the power iteration runs in exact Python
    integers — π quantized to micro-units, each level summing
    floor-divided inflows (πᵢ·cᵢⱼ) // rᵢ, 12 levels unrolled — with
    the result re-entering as a literal frame. Chaining 12 tiny
    distributed jobs instead would be pure scheduler floor. The
    oracle restates the identical integer iteration as 12 unrolled
    MATERIALIZED CTE levels (DuckDB // ≡ Python // on the
    non-negative masses), so the ENTIRE fixpoint is hash-checked,
    not just the last step."""
    st = _star(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = st.events.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w).alias("from_type"),
    )
    cells = (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # ≤|types|² rows — the bounded driver state
    )
    types = sorted(
        r.event_type
        for r in st.events.select("event_type").distinct().collect()
    )
    c: dict[str, dict[str, int]] = {}
    r: dict[str, int] = {}
    for row in cells:
        c.setdefault(row.from_type, {})[row.event_type] = row.c
        r[row.from_type] = r.get(row.from_type, 0) + row.c
    pi = {t: 1_000_000 // len(types) for t in types}
    for _ in range(_MARKOV_ITERS):
        nxt = {t: 0 for t in types}
        for i in types:
            if r.get(i, 0) > 0:
                for j, cij in c.get(i, {}).items():
                    nxt[j] += (pi[i] * cij) // r[i]
            else:
                nxt[i] += pi[i]
        pi = nxt
    return driver_table(
        spark,
        [(t, pi[t], pi[t] / 1e6) for t in types],
        "event_type string, stationary_micro long, stationary double",
    )
