"""Plan-shape regression tier: the scale properties SCALE.md claims,
asserted on real optimized/executed plans so a refactor cannot
silently regress them (a wrong plan is a perf bug at 100 TB even when
every value is correct).
"""

from __future__ import annotations

import re

import pytest

from sales_etl_spark.plans import QUERY_REGISTRY
from tools.query_profile import python_rdd_scans

SF = "/root/testdata/sf0.001"


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _build(spark, name):
    return QUERY_REGISTRY[name].builder(spark, SF)


def test_summary_scan_prunes_columns_and_pushes_filters(spark):
    plan = _formatted(_build(spark, "agg_sales_summary"))
    # lineitem scan must read exactly the 3 referenced columns
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity", "l_extendedprice"}, cols
    assert "PushedFilters: [IsNotNull(l_orderkey)]" in plan


def test_asof_join_pushes_event_type_to_scan(spark):
    plan = _formatted(_build(spark, "join_asof_prior_purchase"))
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    # union/window form: no join node at all, exactly one shuffle axis
    assert "Join" not in plan.split("== Physical Plan ==")[1].split("(1)")[0]


def test_dim_joins_broadcast_not_shuffle(spark):
    plan = _formatted(_build(spark, "agg_avg_check_by_region"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no fact-side shuffle for dims


def test_topk_compiles_to_take_ordered(spark):
    plan = _formatted(_build(spark, "topk_product_ranking"))
    assert "TakeOrderedAndProject" in plan  # distributed top-k, no global sort


def test_relational_paths_have_no_python_nodes(spark):
    relational = [
        "agg_sales_summary",
        "agg_avg_check_by_region",
        "topk_product_ranking",
        "join_asof_prior_purchase",
        "window_time_range",
        "text_stats",
        "dedup_ngram_jaccard",
        "ann_cosine_topk",
        "agg_stats",
    ]
    for name in relational:
        plan = _formatted(_build(spark, name))
        assert not re.search(r"EvalPython|InPandas|InArrow", plan), name


def test_multimodal_is_arrow_batched_python(spark):
    # the ONE place Python belongs — and it must be an Arrow row
    # kernel (mapInArrow), never row-at-a-time BatchEvalPython
    plan = _formatted(_build(spark, "multimodal_features"))
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


def test_summary_has_no_distinct_expand(spark):
    # grain rewrite: exactly 2 exchanges (per-order pre-agg + final
    # group), and no aggregate keyed on order_id above the join
    plan = _formatted(_build(spark, "agg_sales_summary"))
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected 2 exchanges, got {n_exchanges}"


def test_cosine_topk_local_group_limit_before_shuffle(spark):
    # the rank<=k filter must compile to WindowGroupLimit with a
    # PARTIAL pass below the exchange (InferWindowGroupLimit): each
    # map partition keeps <=k rows per query, so the shuffle carries
    # q x partitions x k rows instead of the full q x N scored set
    plan = _formatted(_build(spark, "ann_cosine_topk"))
    assert "WindowGroupLimit" in plan, plan
    body = plan.split("== Physical Plan ==")[1]
    assert "Partial" in body and "Final" in body, body


def test_domain_cap_partial_group_limit_before_shuffle(spark):
    # the per-domain cap must keep <=cap rows PER MAPPER before the
    # exchange — a mega-domain never ships wholesale into the shuffle
    plan = _formatted(_build(spark, "sample_domain_cap"))
    assert "WindowGroupLimit" in plan, plan
    body = plan.split("== Physical Plan ==")[1]
    assert "Partial" in body and "Final" in body, body


def test_decontam_broadcasts_eval_grams_single_doc_shuffle(spark):
    plan = _formatted(_build(spark, "decontam_overlap"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one doc-keyed exchange for the final aggregate; the eval-gram
    # distinct adds its own small-side exchanges, but the big gram
    # stream shuffles exactly once
    body = plan.split("== Physical Plan ==")[1]
    assert not re.search(r"EvalPython|InPandas|InArrow", body)


def _physical_nodes(df):
    """Every node of the physical plan as planned, before AQE re-plans
    it: the same answer whether or not the memoized frame has already
    run (the formatted explain of an executed plan lists each exchange
    twice, under its Final and its Initial Plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def test_map_only_scorers_have_zero_exchanges(spark):
    # the quality classifier and int8 fidelity stats are pure
    # projections. The one exchange allowed is spread_narrow_input's
    # round-robin repartition directly above the scan, which fires
    # when the scan has fewer partitions than the cores can use; any
    # other exchange is a regression
    wrappers = {"WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec"}
    for name in ("quality_classifier_score", "emb_quantize_stats"):
        for node in _physical_nodes(_build(spark, name)):
            if "Exchange" not in node.getClass().getSimpleName():
                continue
            child = node.children().apply(0)
            while child.getClass().getSimpleName() in wrappers:
                child = child.children().apply(0)
            spread = (
                node.getClass().getSimpleName() == "ShuffleExchangeExec"
                and node.outputPartitioning().getClass().getSimpleName()
                == "RoundRobinPartitioning"
                and child.getClass().getSimpleName() == "FileSourceScanExec"
            )
            assert spread, f"{name}: unexpected exchange {node.toString()}"


def test_bpe_token_count_scans_the_documents_once(spark):
    # the fitted vocabulary enters the plan as a local relation, so
    # the corpus is read once, by the doc->word stream; recomputing
    # the vocabulary would scan it a second time
    scans = [
        node.toString()
        for node in _physical_nodes(_build(spark, "text_bpe_token_count"))
        if node.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert len(scans) == 1, scans
    assert "documents.parquet" in scans[0], scans


def test_text_operators_tokenize_once_per_row(spark):
    # pushdown must never duplicate the tokenizer into a scan-level
    # filter (the InferFiltersFromGenerate / size-filter trap)
    for name in ("text_repetition", "text_chunk_tokens",
                 "decontam_overlap", "text_lm_score"):
        plan = _formatted(_build(spark, name))
        body = plan.split("== Physical Plan ==")[1]
        assert not re.search(
            r"Filter [^\n]*regexp_extract_all", body
        ), name


def test_incremental_dedup_broadcasts_both_joins(spark):
    plan = _formatted(_build(spark, "dedup_incremental"))
    body = plan.split("== Physical Plan ==")[1]
    assert "SortMergeJoin" not in body
    assert len(re.findall(r"BroadcastHashJoin", body)) >= 2


def test_partitioned_scan_prunes_directories(spark):
    """scan_partition_prune must hit the month filter at the DIRECTORY
    level: PartitionFilters non-empty in the plan, and the files the
    scan actually touches are a strict subset of the table's files —
    exactly the 12 months the predicate selects."""
    df = _build(spark, "scan_partition_prune")
    plan = _formatted(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), plan
    assert "order_month" in m.group(1)

    import os

    from sales_etl_spark.plans.extensions import _scratch

    from pyspark.sql import functions as F

    root = str(_scratch("partitioned_orders", SF))
    all_parts = {d for d in os.listdir(root) if d.startswith("order_month=")}
    # input_file_name() reports the files the executed scan actually
    # touched — the runtime ground truth of directory-level pruning
    # (df.inputFiles() lists the whole relation, pre-pruning).
    scanned_parts = {
        r.f.split("/")[-2]
        for r in spark.read.parquet(root)
        .filter(F.col("order_month").between("1997-01", "1997-12"))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert scanned_parts  # the pruned scan still reads something
    assert scanned_parts < all_parts  # strictly fewer directories
    assert all(
        p.startswith("order_month=1997-") for p in scanned_parts
    ), scanned_parts


def test_decontam_shuffled_uses_shuffle_hash_not_broadcast(spark):
    plan = _formatted(_build(spark, "decontam_shuffled"))
    body = plan.split("== Physical Plan ==")[1]
    assert "ShuffledHashJoin" in body
    assert "BroadcastHashJoin" not in body


def test_join_bloom_pruned_injects_runtime_bloom_filter(spark):
    """The selective orders side must materialize a bloom filter and
    the lineitem side must carry its might_contain predicate ABOVE the
    scan (map-side pre-shuffle pruning); no broadcast anywhere."""
    plan = _formatted(_build(spark, "join_bloom_pruned"))
    body = plan.split("== Physical Plan ==")[1]
    assert "bloom_filter_agg" in body
    assert "might_contain" in body
    assert "SortMergeJoin" in body
    assert "BroadcastHashJoin" not in body


def test_topn_per_group_uses_window_group_limit(spark):
    """window_topn_per_group: the rank<=3 filter must push into a
    WindowGroupLimit pair (partial before the exchange, final after)
    so tasks ship only their local top-3 per category."""
    plan = _formatted(_build(spark, "window_topn_per_group"))
    body = plan.split("== Physical Plan ==")[1]
    assert body.count("WindowGroupLimit") >= 2, body


def test_kmeans_assignment_is_map_only(spark):
    """emb_kmeans_assign: literal-centroid in-row argmin — the plan
    must contain NO exchange, NO join, and NO window of any kind
    (scan → project, full stop)."""
    plan = _formatted(_build(spark, "emb_kmeans_assign"))
    body = plan.split("== Physical Plan ==")[1]
    assert "Exchange" not in body, body
    assert "Join" not in body, body
    assert "Window" not in body, body


def test_returned_items_aggregates_below_the_dim_join(spark):
    """flagship_returned_items: the o_custkey-grain aggregate must sit
    BELOW the customer join (the dim joins aggregate rows, not fact
    rows), the returnflag filter must reach the lineitem scan, and the
    top-20 must compile to TakeOrderedAndProject."""
    plan = _formatted(_build(spark, "flagship_returned_items"))
    body = plan.split("== Physical Plan ==")[1]
    assert "TakeOrderedAndProject" in body
    # the aggregate node must appear before any join mentioning c_name
    agg_pos = body.find("HashAggregate")
    join_pos = body.find("c_name")
    assert 0 < agg_pos < join_pos, (agg_pos, join_pos)
    m = re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan)
    assert m, plan


def test_late_orders_is_a_semi_join(spark):
    """flagship_late_orders: EXISTS must compile to LeftSemi with the
    ship-lag predicate as a join residual (no theta/nested-loop), and
    the quarter filter must reach the orders scan."""
    plan = _formatted(_build(spark, "flagship_late_orders"))
    body = plan.split("== Physical Plan ==")[1]
    assert "LeftSemi" in body
    assert "BroadcastNestedLoopJoin" not in body
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan


def test_ewma_contains_no_pow_and_bounded_exchanges(spark):
    """events_ewma_rate: the decay weight must be shiftleft-based (no
    libm pow anywhere in the plan), and the raw events scan must feed
    exactly one pre-aggregation exchange — the (type, hour) collapse;
    the only other exchange is the final post-join group on already-
    aggregated rows. A third exchange means the fact stream started
    shuffling twice."""
    plan = _formatted(_build(spark, "events_ewma_rate"))
    body = plan.split("== Physical Plan ==")[1]
    assert not re.search(r"\bpow(er)?\(", body, re.I), body
    assert "shiftleft" in body
    n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", body))
    assert n_exchanges == 2, f"expected 2 exchanges, got {n_exchanges}"


def test_bucketed_join_elides_every_shuffle(spark):
    """scan_bucketed_join: both scans must report Bucketed: true and
    the plan must contain ZERO shuffle Exchange nodes — the order-key
    agg and the join both ride the bucket distribution. At sf scale
    the orders side broadcasts (a broadcast, not a shuffle); in the
    cluster regime (broadcast disabled) the same catalog tables must
    produce the co-located SortMergeJoin, still shuffle-free."""
    plan = _formatted(_build(spark, "scan_bucketed_join"))
    body = plan.split("== Physical Plan ==")[1]
    assert body.count("Bucketed: true") >= 1, body
    assert not re.search(r"\(\d+\) Exchange\b", body), body

    from sales_etl_spark.session import pin_semantics

    iso = pin_semantics(spark.newSession())
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    plan2 = _formatted(QUERY_REGISTRY["scan_bucketed_join"].builder(iso, SF))
    body2 = plan2.split("== Physical Plan ==")[1]
    assert "SortMergeJoin" in body2, body2
    assert body2.count("Bucketed: true") == 2, body2
    assert not re.search(r"\(\d+\) Exchange\b", body2), body2
    assert "BroadcastExchange" not in body2, body2

    # bucket PRUNING: an equality filter on the bucket key must scan
    # exactly one bucket (the point-lookup payoff of the same layout).
    # autoBucketedScan demotes a joinless bucketed scan to a plain one
    # (dropping the pruning with it), so pin it on for this check —
    # the conf a point-lookup-serving cluster would run with.
    from pyspark.sql import functions as F

    iso.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    point = iso.table("b_o_bucketed_sf0_001").filter(
        F.col("o_orderkey") == 42
    )
    plan3 = _formatted(point)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan3)
    assert m, plan3
    assert (int(m.group(1)), int(m.group(2))) == (1, 8), plan3


def test_local_volume_constant_folds_nation_region(spark):
    """flagship_local_volume: the ASIA nationkey IN-list must reach
    BOTH the supplier and customer parquet scans (the folded
    nation⨝region snowflake), the order-date range must reach the
    orders scan, and no nation/region table appears in the plan."""
    plan = _formatted(_build(spark, "flagship_local_volume"))
    assert re.search(r"PushedFilters: \[[^\]]*In\(s_nationkey", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(c_nationkey", plan), plan
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan
    )
    body = plan.split("== Physical Plan ==")[1]
    assert "nation.parquet" not in body and "region.parquet" not in body


#: Queries whose plans legitimately contain Arrow-batched Python
#: (the multimodal tier) — anything else with a Python node is a
#: regression into the slow path.
_PYTHON_OK = {
    "multimodal_features",
    "multimodal_frames",
    # the clamp recurrence is non-associative — provably no prefix-sum
    # rewrite exists, so grouped-map applyInPandas IS the Spark-first
    # shape (plans/resolution.py:window_capped_running_sum)
    "window_capped_running_sum",
    # Arrow-batched WAV synthesis + RIFF header parse over binary
    # columns (operators/multimodal.py) — byte-structure work is the
    # declared Python tier
    "multimodal_audio",
    # Arrow-batched stdlib PNG encode/decode kernels (operators/png.py)
    # — the real-pixel-decode tier; the raster fingerprint downstream
    # is native posexplode + JVM aggregation
    "media_png_decode",
    # same kernels + nearest-neighbor resample over the decoded raster
    "media_png_resize",
    # Arrow-batched baseline-JPEG encode/decode kernels
    # (operators/jpeg.py) — second format of the real-decode tier
    "media_jpeg_decode",
    # real PCM sample decode (RIFF walk + signed-16 unpack)
    "media_wav_samples",
    # same decode kernel; the windowed features themselves are native
    # higher-order functions (zip_with/slice/aggregate), zero extra
    # Python past the codec
    "media_audio_features",
    # real video tier: AVI container walk + per-frame JPEG decode
    "media_mjpeg_frames",
    # real LZW GIF decode (third image format; lossless => arbitrary
    # rasters on the hash)
    "media_gif_decode",
    # perceptual-hash banding: the PNG decode kernel yields the aHash
    # (operators/multimodal.py:png_ahash); the band groupBy is native
    "dedup_image_phash",
    # audio sibling: the PCM decode kernel yields the energy-envelope
    # fingerprint; the band groupBy is native
    "dedup_audio_fingerprint",
    # same aHash kernel as dedup_image_phash; the band join and
    # bit_count(XOR) Hamming verify are native
    "dedup_phash_pairs",
    # same fingerprint kernel as dedup_audio_fingerprint; native verify
    "dedup_audio_pairs",
    # AVI walk + JPEG decode kernel yielding the grid signature; the
    # band groupBy and Hamming verify are native
    "dedup_video_phash",
    "dedup_video_pairs",
    "video_dedup_pipeline_e2e",
    "dedup_video_recall_eval",
    # same AVI/JPEG decode lineage feeding the pair graph; the CC
    # resolve (min-label propagation) is native joins all the way
    "perceptual_cluster_resolve",
    "dedup_video_cluster_e2e",
    # planted recall corpora ride the same PNG / PCM decode kernels;
    # brute-force + banded comparison is native
    "dedup_image_recall_eval",
    "dedup_audio_recall_eval",
    # same AVI/JPEG decode kernel, yielding the motion envelope
    "media_video_features",
    # batch-side decode kernel only; index scan + broadcast probe and
    # the Hamming verify are native
    "dedup_video_incremental",
    # header-only dimension parse across all three fixture formats
    "media_header_dimensions",
    # header-only MP4 box walk + MP3 frame-header walk (fixtures with
    # real container structure, synthetic payloads); one slim
    # metadata row out per payload, union is native
    "media_container_probe",
    # the multimodal quality gate chains both decode kernels into one
    # lineage; join + gate + rollup stay native
    "media_pipeline_e2e",
}

#: Declared ground-truth tiers allowed an all-pairs join at
#: verification scale (each has an implemented, tested scale twin).
_CARTESIAN_OK = {"dedup_embedding_pairs", "ann_cosine_topk",
                 "ann_quantized_topk",
                 # brute-force exact-Hamming ground-truth legs of the
                 # banded-recall evals (declared verification-scale
                 # tier; the production path is the banded operator)
                 "dedup_video_recall_eval",
                 "dedup_image_recall_eval",
                 "dedup_audio_recall_eval",
                 # same broadcast-queries × corpus scoring shape as
                 # the cosine baseline (declared exact tier; LSH/IVF
                 # are the candidate-generation scale path)
                 "ann_hard_negatives"}

#: Queries that broadcast a ONE-ROW aggregate (corpus doc count /
#: log-prob normalizer) into every row — Spark plans that scalar
#: attach as a BroadcastNestedLoopJoin, which is the correct shape
#: for a 1-row side (it is how scalar subqueries compile too).
_SCALAR_BNLJ_OK = {
    "text_lm_score",
    "text_tfidf_keywords",
    # 1-row global-average threshold broadcast into the customer scan
    "flagship_idle_balances",
    # 1-row span aggregate -> sequence() grid, then the |types|x|hours|
    # grid cross — every side bounded by construction, never data-sized
    "events_gapfill",
    "events_locf",
    # 1-row weight-total broadcast into the |sources|-row mass frame
    "mix_temperature_resample",
    # 9-row decile frame cross + non-equi (score > boundary) broadcast
    # join against the 9-row boundary frame — both sides literal-sized
    "sample_quality_deciles",
    # 1-row node-count scalar broadcast into ranks each iteration
    "graph_pagerank_trade",
    # 1-row (N, Σdl) corpus-scalar frame broadcast into the BM25
    # scoring join; the hybrid query adds the 1-row query-vector frame
    "text_bm25_topk",
    "search_hybrid_rrf",
    # 1-row (na, nb) sample-size frame broadcast into the
    # value-domain-grain CDF rows
    "quality_ks_drift",
    # 1-row basket-count / digit-total scalars broadcast into the
    # support-filtered pair table / 9-bucket digit frame
    "agg_association_rules",
    "quality_benford_digits",
    # 1-row vector-count / max|w| / norm scalars broadcast into the
    # d²-row covariance frame and d-row iterates
    "emb_pca_power",
    # 1-row (total, n_customers) scalar broadcast into the ranked
    # customer frame for the integer 80% test
    "agg_pareto_cut",
    # 1-row max-drawdown / trough scalars broadcast into the
    # day-grain series frame
    "window_drawdown",
    # 1-row exact-pair-count scalar broadcast into the 2-row tier
    # report
    "ann_recall_eval",
    # same 1-row scalar shape for the dedup-recall report
    "dedup_recall_eval",
    # monitoring tier: 1-row marginal/total frames broadcast into the
    # |categories|-bounded cached cells (chi2, MI), the |keys|-row
    # skew frame, the 7-row weekday frame, the 25-row hierarchy frame
    "quality_chi2_drift",
    "quality_mutual_info",
    "quality_key_skew",
    "agg_weekday_seasonality",
    "agg_share_of_parent",
    # 1-row customer-count scalar broadcast into the quartile scoring
    "agg_rfm_segments",
    # 1-row customer-count scalar broadcast into the bucket-offset
    # ranked frame for the closed-form SQL-standard ntile assignment
    "window_ntile_quartiles",
    # 1-row (nt, ns) token-total frame broadcast into the 256-row
    # bucket marginals for the smoothed DSIR log-ratios
    "sample_dsir_weights",
    # 1-row grade-count frame into the literal 20-row ideal-rank
    # frame, plus the 3-row k-cutoff frame's non-equi (rank <= k)
    # broadcast joins — every side literal-sized
    "search_ndcg_eval",
    # the literal 3-row percentile frame crossed into the ≤|groups|-row
    # (group, n) frame for the 15 rank marks
    "agg_percentile_cont",
    # 1-row (n, Sx, Sy, Sxx, Sxy) moments frame broadcast into the
    # user-grain CUPED adjustment
    "events_ab_cuped",
    # 1-row catalog-total scalar broadcast into the prefix-summed
    # part frame for the A/B/C boundary tests
    "agg_abc_classification",
    # 1-row vector-count scalar broadcast into the ranked distance
    # frame for the exact p99 rank cut
    "emb_dist_outliers",
    # two 1-row corpus totals (unigram tokens, bigram count) broadcast
    # into the vocab-sized scored frame for the PMI denominator
    "text_pmi_collocations",
    # 1-row (total, cnt) frame broadcast into the part-grain supply
    # values for the scale-free Q11 importance threshold
    "flagship_important_stock",
    # 1-row (t_ref, t_cur) totals broadcast into the 10-row bin frame
    # for the PSI shares
    "quality_psi_drift",
    # 1-row conformal threshold (n_cal, k_rank, threshold_score)
    # broadcast into the test-half coverage aggregate
    "quality_conformal_gate",
    # 1-row subject-count scalar broadcast into the <=31-row daily
    # risk-set frame for the at-risk prefix subtraction
    "events_km_survival",
}


def test_every_registered_query_obeys_global_plan_invariants(spark):
    """Registry-wide plan audit (analysis only, no execution): NO
    row-at-a-time Python anywhere — neither a Python UDF nor a scan of
    a Python RDD (``createDataFrame`` on a Python list), which starts
    Python workers on every execution; Arrow Python only in the
    multimodal tier, and there as ``row_kernel``s over ``mapInArrow``,
    never a hand-written ``mapInPandas`` row loop; no
    cartesian/nested-loop product outside the declared
    exact-verification queries. New queries inherit these
    invariants automatically — a regression in any builder fails here
    by name."""
    bad: list[str] = []
    for name, qd in QUERY_REGISTRY.items():
        df = qd.builder(spark, SF)
        plan = _formatted(df)
        body = plan.split("== Physical Plan ==")[-1]
        if "BatchEvalPython" in body:
            bad.append(f"{name}: row-at-a-time Python")
        if python_rdd_scans(df._jdf.queryExecution()):
            bad.append(f"{name}: Python RDD scan")
        if re.search(r"InPandas|InArrow", body) and name not in _PYTHON_OK:
            bad.append(f"{name}: unexpected Python node")
        if re.search(r"\bMapInPandas\b", body):
            bad.append(f"{name}: mapInPandas row loop, not row_kernel")
        if (
            re.search(r"CartesianProduct", body)
            and name not in _CARTESIAN_OK
        ):
            bad.append(f"{name}: cartesian product")
        if (
            "BroadcastNestedLoopJoin" in body
            and name not in _CARTESIAN_OK | _SCALAR_BNLJ_OK
        ):
            bad.append(f"{name}: nested-loop join")
    assert not bad, bad


def test_brand_revenue_hoists_disjunct_envelopes_to_scans(spark):
    """flagship_brand_revenue: the OR-of-ANDs spans both join inputs,
    so Catalyst cannot push any of it down on its own — the builder
    hoists the per-table ENVELOPES explicitly. Locks: quantity
    [1,30] reaches the lineitem scan's PushedFilters, the brand
    IN-list reaches the part scan, and the dim join broadcasts."""
    plan = _formatted(_build(spark, "flagship_brand_revenue"))
    assert re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_quantity,1\.0\)", plan
    ), plan
    assert re.search(
        r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_quantity,30\.0\)", plan
    ), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(p_brand", plan), plan
    assert "BroadcastHashJoin" in plan


def test_cust_order_dist_keeps_the_outer_join_outer(spark):
    """flagship_cust_order_dist: the priority predicate lives INSIDE
    the left-outer join condition; a regression that turns the join
    inner (predicate as post-filter) or flips it would silently drop
    the zero-order customers that ARE the k=0 histogram bucket. The
    pushed filter on the orders scan is fine (it only prunes the
    nullable side's input) and locked as present."""
    plan = _formatted(_build(spark, "flagship_cust_order_dist"))
    body = plan.split("== Physical Plan ==")[1]
    assert "LeftOuter" in body, body
    assert re.search(
        r"PushedFilters: \[[^\]]*Not\(EqualTo\(o_orderpriority,1-URGENT\)\)",
        plan,
    ), plan


def test_top_supplier_caches_the_aggregate_not_the_fact(spark):
    """flagship_top_supplier: the per-supplier aggregate feeds both
    the probe side and the scalar max. Neither static ReuseExchange
    nor AQE stage reuse dedupes the two branches (verified: the
    un-cached form executes two ShuffleQueryStages and scans the fact
    twice), so the builder caches the exchange OUTPUT — the plan must
    read the InMemoryRelation in both branches and contain the
    parquet fact scan exactly once (inside the cache populate)."""
    plan = _formatted(_build(spark, "flagship_top_supplier"))
    body = plan.split("== Physical Plan ==")[1]
    assert "InMemoryTableScan" in body, body
    assert len(re.findall(r"\(\d+\) Scan parquet", body)) <= 2  # fact+dim


def test_nation_trade_constant_folds_both_nation_dims(spark):
    """flagship_nation_trade / flagship_market_share: the nation (and
    region) dims must NOT appear in the executed plan — they constant-
    fold into scan IN-lists and a literal map at build time. Locks the
    IN-list pushdown on the supplier and customer scans too."""
    for name in ("flagship_nation_trade", "flagship_market_share"):
        plan = _formatted(_build(spark, name))
        body = plan.split("== Physical Plan ==")[1]
        assert "nation.parquet" not in body, name
        assert "region.parquet" not in body, name
    trade = _formatted(_build(spark, "flagship_nation_trade"))
    assert re.search(r"PushedFilters: \[In\(s_nationkey", trade), trade
    assert re.search(r"PushedFilters: \[In\(c_nationkey", trade), trade


def test_idle_balances_is_an_anti_join(spark):
    """flagship_idle_balances: NOT EXISTS must compile to LeftAnti on
    the customer key with orders projected to that one column — and
    the 1-row threshold attaches as a broadcast, never a shuffle."""
    plan = _formatted(_build(spark, "flagship_idle_balances"))
    body = plan.split("== Physical Plan ==")[1]
    assert "LeftAnti" in body, body
    assert re.search(r"ReadSchema: [^\n]*o_custkey", plan), plan


def test_corr_moments_single_aggregation_pass(spark):
    """agg_corr_qty_price: all five moment sums plus the count ride
    ONE partial+final hash aggregate — exactly one exchange in the
    whole plan, no second pass for the means (the mean-centered
    formula's extra scan is the thing the moment form exists to
    avoid)."""
    plan = _formatted(_build(spark, "agg_corr_qty_price"))
    body = plan.split("== Physical Plan ==")[1]
    # count node headers "(N) Exchange" — the formatted body repeats
    # each node in the tree sketch AND a detail section
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", body))
    assert n_exchanges == 1, body
    assert len(re.findall(r"\(\d+\) Scan parquet", body)) == 1


def test_gapfill_grid_is_generated_not_scanned(spark):
    """events_gapfill: the dense grid must come from sequence() over
    the 1-row span aggregate (a Generate node), with the events
    parquet scanned at most twice (sparse rollup + distinct types) —
    never once per grid row; and the sparse rollup joins back via
    broadcast (the grid and rollup are both bounded). Catalyst prunes
    the span branch to a direct min/max over the single ts column, so
    the file is scanned three times — each scan 1-2 columns wide and
    page-cache-cheap, which beats materializing the rollup to dodge
    one narrow re-read."""
    plan = _formatted(_build(spark, "events_gapfill"))
    body = plan.split("== Physical Plan ==")[1]
    assert "Generate" in body, body
    assert len(re.findall(r"\(\d+\) Scan parquet", body)) <= 3


def test_semantic_dedup_is_cluster_bucketed_anti_join(spark):
    """dedup_semantic: candidate pairs must be generated ONLY within a
    cluster (equi-join on cluster_id — never a cartesian/theta pair
    stream), the survivor selection must be a LEFT ANTI join (NOT
    EXISTS without post-dedup), and the centroid scoring must stay
    map-only (no extra exchange between the scans and the join)."""
    plan = _formatted(_build(spark, "dedup_semantic"))
    body = plan.split("== Physical Plan ==")[1]
    assert "LeftAnti" in body, body
    assert "CartesianProduct" not in body
    assert "BroadcastNestedLoopJoin" not in body
    # map-only scoring: the only exchanges are the anti-join's own
    # (at most one per side + AQE reads); no aggregate exchange exists
    assert "HashAggregate" not in body, body


def test_session_stats_reuses_the_sessionize_exchange(spark):
    """events_session_stats: the lag flag, the running session number
    AND the session-grain aggregation must all ride ONE user_id
    exchange — the (user_id, session_seq) grain extends the window
    partitioning, so a second exchange means Catalyst stopped
    recognizing the prefix."""
    plan = _formatted(_build(spark, "events_session_stats"))
    body = plan.split("== Physical Plan ==")[1]
    assert len(re.findall(r"\(\d+\) Exchange", body)) == 1, body
    assert len(re.findall(r"\(\d+\) Scan parquet", body)) == 1


def test_salted_join_never_broadcasts_the_replica(spark):
    """The n_salts-replicated side must SHUFFLE, not broadcast:
    Catalyst's size estimate doesn't scale through the Generate, so
    without the hint the planner materializes n_salts copies on every
    executor (measured 316 MiB at sf0.1) — and a broadcastable side
    would make salting pointless to begin with."""
    plan = _formatted(_build(spark, "join_salted_skew"))
    body = plan.split("== Physical Plan ==")[1]
    assert "BroadcastHashJoin" not in body
    assert "ShuffledHashJoin" in body or "SortMergeJoin" in body


def test_big_orders_broadcasts_the_having_pruned_keyset(spark):
    """Q18 shape: the HAVING-filtered lineitem aggregate must reach the
    orders join as a broadcast (semi-join pruner), never a shuffle of
    the orders fact."""
    plan = _formatted(_build(spark, "flagship_big_orders"))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_fuzzy_names_is_codegen_no_python(spark):
    """Blocked linkage scores with JVM levenshtein inside codegen —
    no BatchEvalPython / ArrowEvalPython node anywhere."""
    plan = _formatted(_build(spark, "dedup_fuzzy_names"))
    assert "EvalPython" not in plan, plan
    assert "levenshtein" in plan.lower(), plan


def test_pq_topk_compiles_no_codegen_fallback(spark):
    """ann_pq_topk must EXECUTE with whole-stage-codegen fallback
    disabled — the round-5 regression this locks against: the unrolled
    literal PQ scoring generated a ~14.6k-line class janino rejected,
    and Spark silently ran the stage interpreted (plus paid two doomed
    compile attempts per run — the query was 4× slower than the HOF
    form that replaced it). With spark.sql.codegen.fallback=false a
    compile failure raises instead of degrading, so a future giant
    expression tree fails THIS test rather than the bench."""
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = _build(spark, "ann_pq_topk").collect()
        assert len(rows) == 10
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_global_rownum_has_no_full_table_global_sort(spark):
    """The bucket-offset numbering must not range-repartition the doc
    table for a global sort; the only unpartitioned window runs over
    the tiny per-bucket counts frame (post-aggregation)."""
    plan = _formatted(_build(spark, "window_global_rownum"))
    # the docs-side window is partitioned by bucket; the offsets window
    # follows an aggregate, so no rangepartitioning over raw doc rows
    assert "rangepartitioning(doc_id" not in plan.lower(), plan


def test_ntile_quartiles_has_no_single_partition_customer_window(spark):
    """window_ntile_quartiles must NOT run ntile over the customer
    frame through one task: the quartile comes from the bucket-offset
    global rank plus the closed-form SQL-standard assignment, so the
    plan has no ntile node at all, the customer-side window is
    partitioned by the value bucket, and the only SinglePartition
    exchange feeds the tiny post-agg per-bucket offsets window."""
    plan = _formatted(_build(spark, "window_ntile_quartiles"))
    body = plan.split("== Physical Plan ==")[1]
    assert "ntile" not in body.lower(), body
    # the big-frame window shuffles on the bucket key, never globally
    assert "hashpartitioning(__bkt" in body, body
    # no range repartition of customer rows for a global sort
    assert "rangepartitioning(lv_cents" not in body.lower(), body
    assert "rangepartitioning(customer_id" not in body.lower(), body


def test_forecast_revenue_pushes_all_predicates_and_prunes(spark):
    """Q6 shape: every predicate reaches the parquet scan and the scan
    reads exactly the 4 referenced columns — the query is pure
    scan+1-row-agg, so a missed pushdown IS the regression."""
    plan = _formatted(_build(spark, "flagship_forecast_revenue"))
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }, cols
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, (frag, pushed)


def test_copurchase_self_join_shares_one_exchange_key(spark):
    """The orderkey self-join must co-partition both sides on the same
    key (no part×part blowup path, no broadcast of the full fact)."""
    plan = _formatted(_build(spark, "agg_copurchase_topk"))
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_yoy_growth_joins_on_the_tiny_aggregate(spark):
    """The self-join runs post-aggregation on |months| rows —
    broadcast, never a shuffle of the orders fact for the join."""
    plan = _formatted(_build(spark, "agg_yoy_growth"))
    assert "BroadcastHashJoin" in plan, plan


def test_above_avg_balance_broadcasts_nation_aggregate(spark):
    """Decorrelated correlated-subquery: the ≤|nations|-row aggregate
    must broadcast into the customer scan (no shuffle join of the
    dimension against itself)."""
    plan = _formatted(_build(spark, "flagship_above_avg_balance"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_orphan_audit_uses_anti_joins_not_subqueries(spark):
    """Every NOT EXISTS compiles to a hash anti join; no nested-loop
    (per-row) existence path anywhere."""
    plan = _formatted(_build(spark, "quality_orphan_audit"))
    assert plan.count("LeftAnti") >= 3, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pagerank_iteration_has_no_driver_state_and_no_python(spark):
    """Iterative PageRank: the node-count scalar rides a broadcast
    1-row frame (no collect), contributions are integer folds (no
    Python nodes), top-20 via TakeOrderedAndProject."""
    plan = _formatted(_build(spark, "graph_pagerank_trade"))
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_supply_tier_locks_broadcast_and_pushdown_shapes(spark):
    """TPC-H-22 supply tier (plans/supply.py): every dim join
    broadcasts (no SortMergeJoin anywhere in the tier at dim scale),
    the part-slice predicates reach the part scan, and the
    min-cost-supplier catalog agg happens AFTER the broadcast dim
    filters cut the fact (the filtered join keys appear below the
    aggregate in the tree)."""
    for name in (
        "flagship_min_cost_supplier",
        "flagship_product_profit",
        "flagship_supplier_variety",
        "flagship_dominant_supplier",
    ):
        plan = _formatted(_build(spark, name))
        body = plan.split("== Physical Plan ==")[1]
        assert "SortMergeJoin" not in body, (name, plan)
        assert "BroadcastHashJoin" in body, (name, plan)

    plan = _formatted(_build(spark, "flagship_min_cost_supplier"))
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualTo\(p_type,STANDARD\)", plan
    ), plan
    # the window's best-cost filter must be exact equality on the
    # grouped min — no tolerance epsilon anywhere in the tree
    assert "Window" in plan, plan

    plan = _formatted(_build(spark, "flagship_dominant_supplier"))
    assert re.search(
        r"PushedFilters: \[[^\]]*IsNotNull\(l_shipdate\)", plan
    ) or re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    # dominance window rides the (part, supplier) agg partitioning:
    # exactly ONE hash exchange of fact-derived rows (the agg), the
    # window adds none on top
    n_fact_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(partkey", plan)
    )
    assert n_fact_exchanges <= 1, plan


def test_fs_linkage_pair_generation_is_parallel(spark):
    """dedup_fs_linkage: the customer dim arrives as ONE scan
    partition, so without the explicit repartition the self-join
    generates all |block|^2/2 pairs in a single task (measured 2.36 s
    -> 0.29 s at sf0.1 when fixed in r6). The plan must carry a
    REPARTITION_BY_NUM exchange on the block key with the full
    defaultParallelism fan-out — REPARTITION_BY_NUM is exempt from
    AQE coalescing, which would otherwise fold the 15k-row exchange
    back to 1 partition, blind to the pair fan-out downstream."""
    plan = _formatted(_build(spark, "dedup_fs_linkage"))
    body = plan.split("== Physical Plan ==")[1]
    m = re.search(
        r"hashpartitioning\(__blk#\d+, (\d+)\), REPARTITION_BY_NUM", body
    )
    assert m, body
    n = int(m.group(1))
    assert n == spark.sparkContext.defaultParallelism > 1, body


def test_conformal_gate_caches_the_scored_split(spark):
    """quality_conformal_gate: the scored+split frame feeds BOTH the
    calibration-threshold branch and the test-coverage branch;
    neither ReuseExchange nor AQE dedupes a view read twice, so
    without the cache each branch re-runs the full token-scoring fold
    over the corpus. The plan must read InMemoryRelation in both
    branches and scan the documents parquet exactly once (inside the
    cache populate)."""
    plan = _formatted(_build(spark, "quality_conformal_gate"))
    body = plan.split("== Physical Plan ==")[1]
    assert len(re.findall(r"InMemoryTableScan", body)) >= 2, body
    assert len(re.findall(r"\(\d+\) Scan parquet", body)) <= 1, body


def test_media_fingerprints_are_map_only(spark):
    """The media decode fingerprints return one row per image/frame —
    input grain equals output grain — so the metrics are in-row
    higher-order-function folds and the plan must carry NO exchange
    of media data (the earlier posexplode+groupBy shape shuffled one
    partial row per image for nothing; the plan audit caught it). At
    1000 executors this is the difference between a pure map pass
    over the payload column and a corpus-wide shuffle.

    ONE exchange is sanctioned: the fixture synthesizer's round-robin
    spread of its narrow (doc_id, n_chars) input
    (operators/multimodal.py:_spread_fixture_input) — the local
    testdata is a single unsplittable row group, and without the
    spread the whole media tier serializes onto one core. The lock
    therefore asserts: at most one exchange, it must be round-robin
    (never a key shuffle), and it must sit BELOW the first Python
    kernel — i.e. payloads and decoded rasters never cross it."""
    for name in (
        "media_png_decode",
        "media_jpeg_decode",
        "media_gif_decode",
        "media_wav_samples",
        "media_mjpeg_frames",
        "media_audio_features",
    ):
        plan = _formatted(_build(spark, name))
        body = plan.split("== Physical Plan ==")[1]
        exchanges = re.findall(r"\(\d+\) Exchange\n(.*\n.*)", body)
        assert len(exchanges) <= 1, (name, body)
        if exchanges:
            assert "RoundRobinPartitioning" in exchanges[0], (name, body)
            # only the 2-int doc frame crosses the wire — payloads
            # and decoded rasters are created ABOVE the exchange
            assert "payload" not in exchanges[0], (name, body)
            assert "pixels" not in exchanges[0], (name, body)


#: Every query that fingerprints or pools decoded media: the image,
#: audio and video hash tiers and the video motion features.
_MEDIA_REDUCTION_QUERIES = (
    "dedup_image_phash", "dedup_phash_pairs", "dedup_image_recall_eval",
    "dedup_audio_fingerprint", "dedup_audio_pairs",
    "dedup_audio_recall_eval",
    "dedup_video_phash", "dedup_video_pairs", "video_dedup_pipeline_e2e",
    "perceptual_cluster_resolve", "dedup_video_cluster_e2e",
    "dedup_video_incremental", "dedup_video_recall_eval",
    "media_video_features",
)


@pytest.mark.parametrize("name", _MEDIA_REDUCTION_QUERIES)
def test_media_reductions_hold_no_higher_order_function(spark, name):
    """Each fingerprint and the motion envelope is computed in the
    decode kernel, which yields only its result: the optimized plan
    holds no interpreted higher-order function (``lambdafunction``),
    fresh or rebuilt from the memo after ``clearCache()``. A HOF over a
    shipped raster is not codegen'd, and pushdown can copy it into a
    per-row filter — the cliff an evicted cache used to expose. Reads
    the optimized plans only."""
    from sales_etl_spark.plans.registry import clear_plan_cache

    clear_plan_cache()
    spark.catalog.clearCache()
    plans = [_build(spark, name)]
    spark.catalog.clearCache()
    plans.append(_build(spark, name))  # memo hit
    for df in plans:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan, plan


def test_video_signature_exchanges_are_bounded(spark):
    """The video perceptual tier shuffles only BOUNDED rows: the
    decode kernel yields one signature per video, and the band tiers
    move (id, band) rows. Raw rasters and media payloads must never
    cross an exchange — a plan that shuffles the pixels column
    re-serializes the whole corpus at 100 TB."""
    for name in ("dedup_video_phash", "dedup_video_pairs"):
        plan = _formatted(_build(spark, name))
        body = plan.split("== Physical Plan ==")[1]
        for ex in re.findall(r"\(\d+\) Exchange\n(.*\n.*)", body):
            assert "pixels" not in ex, (name, ex)
            assert "payload" not in ex, (name, ex)
