"""Streaming tier: the SAME aggregation expressions run as Structured
Streaming jobs (file source → availableNow trigger → memory sink) and
must equal their batch results — the unified-model guarantee the
engine's streaming surface is built on."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sales_etl_spark.sources.star import load_star  # noqa: E402
from sales_etl_spark.streaming.windows import (  # noqa: E402
    read_events_stream,
    stream_dedup,
    stream_tumbling_counts,
    tumbling_agg,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # Normalize the driver's NANOS-timestamp events once into a
    # µs-precision parquet dir that the file-source stream can read
    # with an explicit schema (multiple files → multiple triggers).
    path = str(tmp_path_factory.mktemp("events_stream"))
    events = load_star(spark, SF_DIR).table("events")
    # streaming event-time needs TimestampType (instant); UTC session
    # makes the wall-clock values identical to the batch NTZ view
    events = events.withColumn("ts", events["ts"].cast("timestamp"))
    events.repartition(4).write.mode("overwrite").parquet(path)
    return path


def test_stream_tumbling_equals_batch(spark, events_dir):
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in tumbling_agg(spark.read.parquet(events_dir)).collect()
    }
    stream = stream_tumbling_counts(
        read_events_stream(spark, events_dir), watermark="100 days"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got == batch
    q.stop()


def test_stream_dedup_drops_replayed_events(spark, events_dir, tmp_path):
    # replay the same files twice → at-least-once delivery simulation
    dup_dir = str(tmp_path / "dup")
    base = spark.read.parquet(events_dir)
    base.union(base).repartition(6).write.mode("overwrite").parquet(dup_dir)

    deduped = stream_dedup(
        read_events_stream(spark, dup_dir), watermark="100 days"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT COUNT(DISTINCT event_id) AS n, COUNT(*) AS total "
                  "FROM dedup_test").collect()[0]
    assert n.total == n.n, "duplicates survived the watermark dedup"
    assert n.n == base.count()
    q.stop()


def test_stateful_user_profile_final_state_equals_batch(spark, events_dir):
    """applyInPandasWithState running profile: after the stream drains,
    the last emission per user must equal the batch groupBy over the
    same files (state correctly accumulated across micro-batches —
    maxFilesPerTrigger forces >1 batch)."""
    from pyspark.sql import functions as F

    from sales_etl_spark.streaming.stateful import user_profile_stream
    from sales_etl_spark.streaming.windows import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
        .select("user_id", "ts", "value")
    )
    q = (
        user_profile_stream(stream)
        .writeStream.format("memory")
        .queryName("profile_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    emitted = spark.sql("SELECT * FROM profile_test")
    # >1 micro-batch ⇒ at least one user emitted more than once
    assert emitted.count() > emitted.select("user_id").distinct().count()
    final = {
        r.user_id: (r.n_events, round(r.total_value, 6), r.last_ts_micros)
        for r in emitted.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.desc("n_events"))
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    batch = {
        r.user_id: (
            r.n_events,
            round(r.total_value, 6),
            r.last_ts_micros,
        )
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.unix_micros(F.max("ts")).alias("last_ts_micros"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for uid in batch:
        assert final[uid][0] == batch[uid][0], uid  # exact counts
        assert final[uid][2] == batch[uid][2], uid  # exact last ts
        assert abs(final[uid][1] - batch[uid][1]) < 1e-6, uid


def test_stream_watermark_drops_late_events(spark, tmp_path):
    """An event arriving AFTER the watermark has passed its window is
    dropped from the aggregation state (bounded-state guarantee).
    File mtimes order the micro-batches: fresh file first (advances
    the watermark), stale file second (its event is now late)."""
    import datetime as dt
    import os

    from sales_etl_spark.streaming.windows import (
        read_events_stream,
        stream_tumbling_counts,
    )

    def mk(path, ts, event_id):
        spark.createDataFrame(
            [(event_id, ts, 1, "click", 1.0, "{}")],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(path)

    d = tmp_path / "late"
    fresh_ts = dt.datetime(2024, 1, 30, 12, 0, 0)
    stale_ts = dt.datetime(2024, 1, 1, 0, 0, 0)  # weeks behind watermark
    mk(str(d / "a"), fresh_ts, 1)
    mk(str(d / "b"), stale_ts, 2)
    data = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(data)

    def move_in(sub):
        for f in os.listdir(str(d / sub)):
            if f.endswith(".parquet"):
                os.rename(str(d / sub / f), f"{data}/{sub}_{f}")

    def drain(qname):
        got: list = []
        out = stream_tumbling_counts(
            read_events_stream(spark, data),
            width="1 hour",
            watermark="2 hours",
        )
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: got.extend(df.collect())
            )
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return {r.window_start for r in got}

    # run 1: fresh event only — advances the persisted watermark to
    # fresh_ts - 2h
    move_in("a")
    starts1 = drain("late_run1")
    assert fresh_ts.replace(minute=0) in starts1

    # run 2 (same checkpoint): the stale file arrives weeks behind the
    # persisted watermark — its window must never be emitted
    move_in("b")
    starts2 = drain("late_run2")
    assert stale_ts not in starts2, "late event leaked past the watermark"


def test_stream_static_enrichment_join(spark, events_dir):
    """Stream-static join: a readStream of events joined to the static
    customer dim produces exactly the batch join's rows — the
    streaming form of join_events_enrich (static side re-broadcast per
    micro-batch, no state store involved)."""
    from pyspark.sql import functions as F

    from sales_etl_spark.sources.star import load_star
    from sales_etl_spark.streaming.windows import read_events_stream

    dim = (
        load_star(spark, SF_DIR)
        .customer.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = read_events_stream(spark, events_dir).select(
        "event_id", "user_id"
    )
    q = (
        stream.join(F.broadcast(dim), "user_id", "left")
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r.event_id, r.segment)
        for r in spark.sql("SELECT event_id, segment FROM enrich_test").collect()
    }
    batch = {
        (r.event_id, r.segment)
        for r in spark.read.parquet(events_dir)
        .select("event_id", "user_id")
        .join(dim, "user_id", "left")
        .collect()
    }
    assert got == batch


def test_stream_pipeline_sample_redact_chunk_equals_batch(spark, tmp_path):
    """The training-data scrub pipeline (stratified sample -> PII
    redact -> token chunking) is stateless projection/filter/explode,
    so the SAME expressions run under Structured Streaming unchanged —
    batch output == streamed output on identical input files."""
    from pyspark.sql import Row, functions as F
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )
    from sales_etl_spark.functions.text import redact_pii
    from sales_etl_spark.operators.sampling import stratified_sample

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ])
    rows = [
        Row(doc_id=i, source=f"s{i % 3}",
            text=(f"doc {i} mail u{i}@x.io see https://x.io/{i} "
                  + " ".join(f"w{j}" for j in range(i % 7 * 20))))
        for i in range(200)
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(path)

    def pipeline(df):
        sampled = stratified_sample(
            df, "source", "doc_id", {"s0": 1.0, "s1": 0.5}, 0.25
        )
        toks = F.split(redact_pii(F.col("text")), " ")
        base = sampled.select(
            "doc_id", "sample_weight", toks.alias("__toks")
        ).filter(F.size("__toks") > 0)
        starts = F.sequence(F.lit(1), F.size("__toks"), F.lit(16))
        chunk = F.slice(F.col("__toks"), F.col("s"), 24)
        return base.select(
            "doc_id", "sample_weight", "__toks", F.explode(starts).alias("s")
        ).select(
            "doc_id",
            "sample_weight",
            F.floor((F.col("s") - 1) / 16).cast("int").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )

    batch = {
        (r.doc_id, r.chunk_id): (r.sample_weight, r.chunk_text)
        for r in pipeline(spark.read.parquet(path)).collect()
    }
    q = (
        pipeline(spark.readStream.schema(schema).parquet(path))
        .writeStream.format("memory")
        .queryName("scrub_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.chunk_id): (r.sample_weight, r.chunk_text)
        for r in spark.sql("SELECT * FROM scrub_stream").collect()
    }
    q.stop()
    assert got == batch and len(batch) > 100


def test_stream_decontam_equals_batch(spark, tmp_path):
    """Streaming contamination detection (stream-static broadcast join
    on the eval gram set + stateful once-only emit) flags exactly the
    doc_ids the batch decontamination pass reports."""
    from pyspark.sql import Row
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sales_etl_spark.operators import decontam

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    # word-soup docs over a tiny vocabulary => real 5-gram collisions
    rows = [
        Row(doc_id=i,
            text=" ".join(
                f"w{(i * 7 + j * j) % 11}" for j in range(30)
            ))
        for i in range(300)
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(path)

    batch_docs = spark.read.parquet(path)
    eval_grams = decontam.eval_gram_set(
        batch_docs, "doc_id", "text", n=5, eval_seed="t-ev", eval_rate=0.1
    )
    want = {
        r.doc_id
        for r in decontam.ngram_decontaminate(
            batch_docs, "doc_id", "text",
            n=5, eval_seed="t-ev", eval_rate=0.1,
        ).collect()
    }
    assert want  # fixture must actually contaminate

    stream = decontam.contaminated_doc_stream(
        spark.readStream.schema(schema).parquet(path),
        eval_grams,
        "doc_id", "text", n=5,
    )
    # the stream sees ALL docs; eval docs themselves hit their own
    # grams, so subtract eval membership exactly like the batch side
    flagged = stream.filter(
        ~decontam.eval_membership("doc_id", "t-ev", 0.1)
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("decontam_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id
        for r in spark.sql("SELECT * FROM decontam_stream").collect()
    }
    q.stop()
    assert got == want


def test_stream_upsert_sink_equals_batch_upsert(spark, tmp_path):
    """foreachBatch streaming upsert over 3 micro-batches converges to
    the same keyed snapshot as one batch last-wins compaction over the
    full input — last-wins is by the version column, not batch order."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from sales_etl_spark.operators.upsert import upsert_last_wins
    from sales_etl_spark.streaming.upsert_sink import stream_upsert_parquet

    schema = StructType([
        StructField("k", LongType()),
        StructField("v", StringType()),
        StructField("ver", LongType()),
    ])
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, "a0", 1), (2, "b0", 1), (3, "c0", 1)],
        [(1, "a2", 3), (2, "b1", 2)],          # newer versions
        [(1, "a1", 2), (4, "d0", 1)],          # STALE update for k=1
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = {
        (r.k, r.v, r.ver)
        for r in upsert_last_wins(all_rows, ["k"], ["ver"]).collect()
    }

    target = str(tmp_path / "snapshot")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream_upsert_parquet(
            stream, target, ["k"], ["ver"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {
        (r.k, r.v, r.ver)
        for r in spark.read.parquet(target).collect()
    }
    assert got == want
    assert ("1", ) not in got and len(got) == 4


def test_upsert_sink_recovers_lost_snapshot(spark, tmp_path):
    """Crash between the two swap renames leaves no target dir (the
    prior snapshot stranded in .old) — the next merge must restore it
    instead of bootstrapping from the batch alone (ADVICE r3)."""
    import os

    from sales_etl_spark.streaming.upsert_sink import (
        merge_batch_into_parquet,
    )

    schema = "k long, v string, ver long"
    target = str(tmp_path / "snap")
    merge_batch_into_parquet(
        spark.createDataFrame([(1, "a0", 1), (2, "b0", 1)], schema),
        target, ["k"], ["ver"],
    )
    # simulate the crash window: target renamed away, tmp never landed
    os.rename(target, f"{target}.old")
    merge_batch_into_parquet(
        spark.createDataFrame([(2, "b1", 2), (3, "c0", 1)], schema),
        target, ["k"], ["ver"],
    )
    got = {(r.k, r.v, r.ver) for r in spark.read.parquet(target).collect()}
    # k=1 from the pre-crash snapshot survives; k=2 takes the newer row
    assert got == {(1, "a0", 1), (2, "b1", 2), (3, "c0", 1)}
    assert not os.path.exists(f"{target}.old")


def test_upsert_sink_recovers_from_complete_tmp(spark, tmp_path):
    """Crash after the tmp write but before any rename: no target, no
    .old, a complete .tmp — the merge adopts the tmp as the snapshot."""
    import os

    from sales_etl_spark.streaming.upsert_sink import (
        merge_batch_into_parquet,
    )

    schema = "k long, v string, ver long"
    target = str(tmp_path / "snap")
    merge_batch_into_parquet(
        spark.createDataFrame([(1, "a0", 1)], schema),
        target, ["k"], ["ver"],
    )
    os.rename(target, f"{target}.tmp")
    merge_batch_into_parquet(
        spark.createDataFrame([(2, "b0", 1)], schema),
        target, ["k"], ["ver"],
    )
    got = {(r.k, r.v, r.ver) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a0", 1), (2, "b0", 1)}


def test_stream_anomaly_twin_equals_batch_query(spark, events_dir):
    """The streaming anomaly pipeline: tumbling 1h counts materialize
    from the stream, the sink applies trailing_zscore over the
    snapshot — and the result matches the registered batch
    events_rate_anomaly query row-for-row (same grain, same scores)."""
    from sales_etl_spark.operators.windows import trailing_zscore
    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.streaming.windows import (
        read_events_stream,
        stream_tumbling_counts,
    )

    batch = {
        (r.event_type, r.hour): (r.n_events, r.zscore)
        for r in QUERY_REGISTRY["events_rate_anomaly"]
        .builder(spark, SF_DIR)
        .collect()
    }

    stream = stream_tumbling_counts(
        read_events_stream(spark, events_dir), watermark="100 days"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("anomaly_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    counts = spark.sql(
        "SELECT event_type, window_start AS hour, n_events "
        "FROM anomaly_counts"
    )
    got = {
        (r.event_type, r.hour): (r.n_events, r.zscore)
        for r in trailing_zscore(
            counts, "event_type", "hour", "n_events",
            baseline_rows=24, min_baseline=12,
        ).collect()
    }
    assert got == batch and len(got) > 100


def _run_stateful_funnel(spark, events_dir, stream_fn, sink_name):
    """Shared body for the two stateful-funnel twins: run the stream,
    take the max-n_seen emission per user (the converged snapshot) and
    compare against the batch events_funnel query — equality must hold
    even though micro-batches deliver files (event times) out of
    order, because per-step times accumulate in state and the funnel
    re-derives per update."""
    import datetime as dt

    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.streaming.windows import read_events_stream

    def to_us(ts):
        if ts is None:
            return None
        return int(
            (ts - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )

    batch = {
        r.user_id: (
            to_us(r.t_view), to_us(r.t_click), to_us(r.t_purchase),
            r.steps_completed,
        )
        for r in QUERY_REGISTRY["events_funnel"]
        .builder(spark, SF_DIR)
        .collect()
    }

    q = (
        stream_fn(read_events_stream(spark, events_dir))
        .writeStream.format("memory")
        .queryName(sink_name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(f"SELECT * FROM {sink_name}").collect()
    q.stop()
    final: dict[int, tuple] = {}
    best_n: dict[int, int] = {}
    for r in rows:
        if r.n_seen >= best_n.get(r.user_id, -1):
            best_n[r.user_id] = r.n_seen
            final[r.user_id] = (
                r.t_view_micros, r.t_click_micros, r.t_purchase_micros,
                r.steps_completed,
            )
    assert final == batch and len(final) >= 10


def test_stateful_funnel_legacy_converges_to_batch(spark, events_dir):
    from sales_etl_spark.streaming.funnel import funnel_stream_legacy

    _run_stateful_funnel(
        spark, events_dir, funnel_stream_legacy, "funnel_legacy"
    )


def test_stateful_funnel_tws_converges_to_batch(spark, events_dir):
    from sales_etl_spark.streaming.funnel import (
        funnel_stream,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf")
    # transformWithState keeps each state variable in its own column
    # family — only the RocksDB provider supports that; the default
    # HDFS-backed store refuses at query start. Scoped to this query
    # (the conf is read per-start), restored for the rest of the suite.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        _run_stateful_funnel(spark, events_dir, funnel_stream, "funnel_tws")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_kmeans_scoring_equals_batch(spark, tmp_path):
    """Model-serving twin: nearest-centroid scoring of an embedding
    STREAM (broadcast constant-k centroid table, argmin as a
    min(struct) aggregate — streaming plans take no window functions,
    and min-of-struct is the order-free argmin that needs no
    watermark semantics) must equal the batch emb_kmeans_assign
    query row for row."""
    from pyspark.sql import functions as F

    from sales_etl_spark.functions import vectors
    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.plans.analytics import _KMEANS_K

    emb = load_star(spark, SF_DIR).table("embeddings")
    path = str(tmp_path / "emb_stream")
    emb.repartition(3).write.mode("overwrite").parquet(path)

    cents = F.broadcast(
        emb.filter(F.col("vec_id") < _KMEANS_K).select(
            F.col("vec_id").alias("cluster_id"),
            F.col("embedding").alias("__cv"),
        )
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .parquet(path)
        .select("vec_id", "embedding")
        .crossJoin(cents)
        .select(
            "vec_id",
            "cluster_id",
            F.round(vectors.sq_l2("embedding", "__cv"), 6).alias("dist_sq"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist_sq", "cluster_id")).alias("best"))
        .select(
            "vec_id",
            F.col("best.cluster_id").alias("cluster_id"),
            F.col("best.dist_sq").alias("dist_sq"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("kmeans_scoring_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()

    got = {
        (r.vec_id, r.cluster_id, r.dist_sq)
        for r in spark.sql("SELECT * FROM kmeans_scoring_test").collect()
    }
    batch = {
        (r.vec_id, r.cluster_id, r.dist_sq)
        for r in QUERY_REGISTRY["emb_kmeans_assign"].builder(spark, SF_DIR).collect()
    }
    assert got == batch


def test_stream_stream_join_equals_batch_interval_join(spark, events_dir):
    """Stream-stream attribution join (watermarked, time-bounded state)
    must produce exactly the batch interval join's rows — the
    unified-model guarantee on the hardest streaming operator."""
    from pyspark.sql import functions as F

    from sales_etl_spark.streaming.windows import (
        read_events_stream,
        stream_stream_attribution_join,
    )

    clicks = read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, events_dir).filter(
        F.col("event_type") == "purchase"
    )
    # the fixture's files are randomly partitioned, so event time is
    # NOT monotone across micro-batches — a production-sized watermark
    # would (correctly!) drop cross-file stragglers as late. Equality
    # with batch therefore needs a watermark covering the fixture's
    # whole span; the default stays production-sized.
    q = (
        stream_stream_attribution_join(
            clicks, purchases, watermark="40 days"
        )
        .writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()

    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ss_join_test").collect()
    }

    ev = spark.read.parquet(events_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 hour")
            ),
        ).collect()
    }
    assert got == want
    assert got  # non-vacuous: the fixture produces matches


# ---------------------------------------------------------------------------
# lake_cdc: the transaction log as a Python Data Source streaming source
# ---------------------------------------------------------------------------


def _lake_cdc_run(spark, table, ck, out):
    from sales_etl_spark.streaming.lake_source import register_lake_source

    register_lake_source(spark)
    q = (
        spark.readStream.format("lake_cdc").option("path", table).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)


def test_lake_cdc_source_reads_and_resumes_exactly_once(spark, tmp_path):
    """The lake as a readStream source: the first run drains every
    append commit, a checkpointed restart emits ONLY commits that
    landed in between, and an idle rerun emits nothing — version
    offsets + immutable files = exactly-once delivery."""
    from sales_etl_spark import lake

    t, ck, out = (str(tmp_path / x) for x in ("tbl", "ck", "out"))
    lake.commit_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        t, "append",
    )
    lake.commit_write(
        spark.createDataFrame([(3, "c")], "k long, v string"), t, "append"
    )
    _lake_cdc_run(spark, t, ck, out)
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    lake.commit_write(
        spark.createDataFrame([(4, "d")], "k long, v string"), t, "append"
    )
    _lake_cdc_run(spark, t, ck, out)
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    _lake_cdc_run(spark, t, ck, out)  # no new commits -> no new rows
    assert len(spark.read.parquet(out).collect()) == 4


def test_lake_cdc_starting_version_tails_only_new_commits(spark, tmp_path):
    from sales_etl_spark import lake
    from sales_etl_spark.streaming.lake_source import register_lake_source

    t, ck, out = (str(tmp_path / x) for x in ("tbl", "ck", "out"))
    lake.commit_write(
        spark.createDataFrame([(1, "old")], "k long, v string"), t, "append"
    )
    head = lake.versions(t)[-1]
    lake.commit_write(
        spark.createDataFrame([(2, "new")], "k long, v string"), t, "append"
    )
    register_lake_source(spark)
    q = (
        spark.readStream.format("lake_cdc")
        .option("path", t).option("startingVersion", str(head)).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(2, "new")]


def test_lake_cdc_refuses_to_cross_non_append_commits(spark, tmp_path):
    """A delete/overwrite commit has no append-only change feed — the
    stream must fail loudly, not silently emit wrong changes."""
    from sales_etl_spark import lake

    t, ck, out = (str(tmp_path / x) for x in ("tbl", "ck", "out"))
    lake.commit_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        t, "append",
    )
    lake.delete_where(spark, t, "k = 1")
    import pyspark.errors

    try:
        _lake_cdc_run(spark, t, ck, out)
        raised = False
    except pyspark.errors.exceptions.base.PySparkException:
        raised = True
    except Exception:
        raised = True
    assert raised


def test_lake_to_lake_incremental_pipeline_composes(spark, tmp_path):
    """The composition claim: a lake table as SOURCE (lake_cdc) and a
    second lake table as SINK (exactly-once streaming upsert) form an
    incremental pipeline whose result equals the batch recompute —
    run once, append more, run again; the derived table converges
    without ever reprocessing old rows."""
    from pyspark.sql import functions as F

    from sales_etl_spark import lake
    from sales_etl_spark.streaming.lake_source import register_lake_source

    src, dst, ck = (str(tmp_path / x) for x in ("src", "dst", "ck"))
    register_lake_source(spark)

    def drain():
        stream = (
            spark.readStream.format("lake_cdc").option("path", src).load()
            .withColumn("total", F.col("qty") * F.col("price"))
        )
        writer = lake.stream_upsert_lake(
            stream, dst, keys=["k"], order_by=["ver"], checkpoint_dir=ck
        )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(180)

    lake.commit_write(
        spark.createDataFrame(
            [(1, 1, 2, 10.0), (2, 1, 3, 20.0)],
            "k long, ver long, qty long, price double",
        ),
        src, "append",
    )
    drain()
    # newer version of k=1 plus a fresh k=3 arrive as a second commit
    lake.commit_write(
        spark.createDataFrame(
            [(1, 2, 5, 10.0), (3, 1, 1, 7.0)],
            "k long, ver long, qty long, price double",
        ),
        src, "append",
    )
    drain()
    got = sorted(
        (r.k, r.ver, r.total)
        for r in lake.read_table(spark, dst).collect()
    )
    # batch recompute: last version per key over the full source
    assert got == [(1, 2, 50.0), (2, 1, 60.0), (3, 1, 7.0)]


def test_stream_ledger_equals_batch_capped_running_sum(spark, tmp_path):
    """Streaming clamped ledger (applyInPandasWithState, O(1) state per
    key): fed the order history in date order across 3 micro-batches,
    the emitted log must equal the batch operator's output bit-exactly
    (integer cents — no float drift across the state hops)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from sales_etl_spark.operators.windows import capped_running_sum
    from sales_etl_spark.plans.resolution import _LEDGER_CAP, _LEDGER_FLOOR
    from sales_etl_spark.streaming.ledger import ledger_stream
    from tests.conftest import SF_SMOKE

    seq = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.expr(
            "(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE -1 END)"
            " * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("delta_cents"),
    )
    # three in-order micro-batches: date-range chunks, one file each
    # (per-key cross-batch order falls out of the global date cuts;
    # within a batch the fold sorts, so in-file order is free)
    src = tmp_path / "ledger_src"
    src.mkdir()
    cuts = [
        "o_orderdate < '1994-06-01'",
        "o_orderdate >= '1994-06-01' AND o_orderdate < '1996-06-01'",
        "o_orderdate >= '1996-06-01'",
    ]
    for i, cond in enumerate(cuts):
        d = tmp_path / f"chunk{i}"
        seq.filter(cond).coalesce(1).write.parquet(str(d))
        part = next(p for p in d.iterdir() if p.name.endswith(".parquet"))
        dst = src / f"{i:03d}.parquet"
        shutil.move(str(part), dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    stream = (
        spark.readStream.schema(seq.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        ledger_stream(stream, _LEDGER_FLOOR, _LEDGER_CAP)
        .writeStream.format("memory")
        .queryName("ledger_twin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    # availableNow's progress reporting can coalesce/lag file batches;
    # ≥2 row-bearing batches still proves the balance state crossed a
    # micro-batch boundary (the equality below proves it crossed
    # CORRECTLY).
    assert n_batches >= 2, "state was never carried across micro-batches"

    got = sorted(
        (r.o_custkey, r.o_orderkey, r.balance_cents)
        for r in spark.sql("SELECT * FROM ledger_twin").collect()
    )
    want = sorted(
        (r.o_custkey, r.o_orderkey, r.balance_cents)
        for r in capped_running_sum(
            seq,
            ["o_custkey"],
            ["o_orderdate", "o_orderkey"],
            "delta_cents",
            floor=_LEDGER_FLOOR,
            cap=_LEDGER_CAP,
            out="balance_cents",
        )
        .select("o_custkey", "o_orderkey", "balance_cents")
        .collect()
    )
    assert len(got) == len(want) and got == want


def test_stream_lsh_dedup_converges_to_batch_result(spark, tmp_path):
    """Streaming fuzzy ingest dedup: 3 micro-batches through the
    persisted-index probe emit, in union, EXACTLY the full-corpus
    batch LSH pair set (each pair surfaces once — when its later
    member arrives), and the index holds one lake version per
    non-empty batch."""
    from sales_etl_spark import lake
    from sales_etl_spark.operators.dedup import minhash_lsh_pairs
    from sales_etl_spark.streaming.dedup_stream import stream_lsh_dedup

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        docs.filter(f"doc_id % 3 = {i}").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    kw = dict(num_hashes=32, bands=8, min_est_jaccard=0.3)
    index_path = str(tmp_path / "lsh_index")
    pairs_path = str(tmp_path / "pairs")
    q = (
        stream_lsh_dedup(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            index_path, pairs_path,
            checkpoint_dir=str(tmp_path / "ckpt"),
            **kw,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
    }
    assert got == want and len(want) > 0
    assert len(lake.versions(index_path)) == 3  # one commit per batch
    # the index is the full corpus's band rows
    assert (
        lake.read_table(spark, index_path).select("doc").distinct().count()
        == docs.count()
    )


def test_session_close_stream_equals_batch_sessionization(
    spark, events_dir, tmp_path
):
    """Timer-closed sessionization ≡ the batch 30-min-gap mart: stream
    the real events table file-by-file (arbitrary order, 45-day
    watermark so nothing is late), flush with far-future sentinel
    events so the watermark closes every real session, and compare
    the emitted rows against events_session_stats row-for-row —
    session numbering, counts, exact microsecond durations, and
    decimal-exact value totals all match, and every session is
    emitted exactly once."""
    import shutil

    from pyspark.sql import functions as F

    from sales_etl_spark.plans import QUERY_REGISTRY
    from sales_etl_spark.streaming.funnel import (
        transform_with_state_available,
    )
    from sales_etl_spark.streaming.sessions import session_close_stream
    from sales_etl_spark.streaming.windows import read_events_stream

    if not transform_with_state_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf")

    stream_dir = str(tmp_path / "sess_stream")
    shutil.copytree(events_dir, stream_dir)
    # three sentinel files, 50 days apart beyond the data: each flush
    # batch advances the watermark computed from the previous one, so
    # by the last batch every real session's close timer has fired
    hi = spark.read.parquet(events_dir).agg(F.max("ts")).collect()[0][0]
    for i in (1, 2, 3):
        spark.createDataFrame(
            [(-(100 + i), hi, -1, "flush", 0.0, "{}")],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        ).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {50 * i} DAYS")
        ).coalesce(1).write.mode("append").parquet(stream_dir)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            session_close_stream(
                read_events_stream(spark, stream_dir),
                watermark_delay="45 days",
            )
            .writeStream.format("memory")
            .queryName("sessions_tws")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        rows = spark.sql(
            "SELECT * FROM sessions_tws WHERE user_id >= 0"
        ).collect()
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    got = {
        (r.user_id, r.session_seq): (
            r.n_events, r.duration_us, r.total_value
        )
        for r in rows
    }
    assert len(got) == len(rows), "a session emitted more than once"
    batch = {
        (r.user_id, r.session_seq): (
            r.n_events, r.duration_us, r.total_value
        )
        for r in QUERY_REGISTRY["events_session_stats"]
        .builder(spark, SF_DIR)
        .collect()
    }
    assert got == batch and len(got) >= 50


def test_stream_media_decode_kernel_equals_batch(spark, tmp_path):
    """The media decode kernels are STATELESS Arrow transforms, so
    they must compose with Structured Streaming unchanged: the same
    documents_as_png -> png_pixels chain over a file-source stream
    (availableNow, memory sink) yields exactly the batch result —
    the unified-model guarantee extended to the multimodal tier. At
    100 TB this is the continuous-ingest shape: payloads decode as
    micro-batches arrive, no replan, no separate streaming codepath."""
    from pyspark.sql import functions as F

    from sales_etl_spark.operators.multimodal import (
        documents_as_png,
        png_pixels,
    )

    docs = load_star(spark, SF_DIR).table("documents").limit(60)
    path = str(tmp_path / "docs_stream")
    docs.select("doc_id", "n_chars").repartition(3).write.mode(
        "overwrite"
    ).parquet(path)

    def fingerprint(df):
        dec = png_pixels(documents_as_png(df))
        return dec.select(
            "media_id",
            "width",
            "height",
            F.aggregate(
                "pixels",
                F.lit(0).cast("bigint"),
                lambda a, x: a + x.cast("bigint"),
            ).alias("pixel_sum"),
        )

    batch = {
        tuple(r) for r in fingerprint(spark.read.parquet(path)).collect()
    }

    stream = spark.readStream.schema(
        "doc_id long, n_chars long"
    ).parquet(path)
    q = (
        fingerprint(stream)
        .writeStream.format("memory")
        .queryName("media_stream_fp")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r)
        for r in spark.sql("SELECT * FROM media_stream_fp").collect()
    }
    assert got == batch and len(got) == 60


def test_stream_audio_fingerprint_kernel_equals_batch(spark, tmp_path):
    """The perceptual-audio tier's stateless prefix — chirp WAV
    synthesis -> PCM decode -> window energies -> 64-bit fingerprint
    halves — must yield identical hashes over a file-source stream
    (availableNow) as over the batch read: the unified-model
    guarantee extended to the round-8 dedup tier. Only the band
    PROFILE (a global groupBy) is batch-shaped; candidate hashing is
    pure map and streams unchanged."""
    from pyspark.sql import functions as F

    from sales_etl_spark.operators.multimodal import (
        documents_as_chirp_wav,
        wav_pcm_samples,
    )

    docs = load_star(spark, SF_DIR).table("documents").limit(50)
    path = str(tmp_path / "docs_afp_stream")
    docs.select("doc_id", "n_chars").repartition(3).write.mode(
        "overwrite"
    ).parquet(path)

    def hashes(df):
        pcm = wav_pcm_samples(documents_as_chirp_wav(df))
        t = pcm.select(
            "media_id",
            F.expr("""
                transform(sequence(0, 63), w -> aggregate(
                    slice(samples,
                          CAST((w * size(samples)) DIV 64 AS INT) + 1,
                          CAST(((w + 1) * size(samples)) DIV 64 AS INT)
                          - CAST((w * size(samples)) DIV 64 AS INT)),
                    CAST(0 AS BIGINT),
                    (a, x) -> a + CAST(x AS BIGINT) * CAST(x AS BIGINT)))
            """).alias("e"),
            F.expr("""
                transform(sequence(0, 63), w ->
                    CAST(((w + 1) * size(samples)) DIV 64 AS BIGINT)
                    - CAST((w * size(samples)) DIV 64 AS BIGINT))
            """).alias("cnt"),
            F.expr(
                "aggregate(samples, CAST(0 AS BIGINT), "
                "(a, x) -> a + CAST(x AS BIGINT) * CAST(x AS BIGINT))"
            ).alias("te"),
            F.size("samples").cast("bigint").alias("tc"),
        )
        half = lambda lo: F.expr(f"""
            aggregate(sequence({lo}, {lo + 31}), CAST(0 AS BIGINT),
                (a, w) -> a + IF(e[w] * tc > te * cnt[w],
                    shiftleft(CAST(1 AS BIGINT), w - {lo}),
                    CAST(0 AS BIGINT)))
        """)
        return t.select(
            "media_id",
            half(0).alias("hash_lo"),
            half(32).alias("hash_hi"),
        )

    batch = {tuple(r) for r in hashes(spark.read.parquet(path)).collect()}

    stream = spark.readStream.schema(
        "doc_id long, n_chars long"
    ).parquet(path)
    q = (
        hashes(stream)
        .writeStream.format("memory")
        .queryName("afp_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        tuple(r) for r in spark.sql("SELECT * FROM afp_stream").collect()
    }
    assert got == batch and len(got) == 50


def test_stream_bpe_segmentation_equals_batch(spark, tmp_path):
    """The BPE APPLY half is stateless once the merge table is
    trained (the rules enter the plan as literals), so segmenting a
    stream of documents must equal the batch segmentation — train on
    the batch corpus, apply to a file-source stream of the same docs.
    At 100 TB this is the production split: train once offline,
    tokenize continuously on ingest."""
    from pyspark.sql import functions as F

    from sales_etl_spark.operators.tokenize import (
        _merge_fold_sql,
        bpe_train,
    )

    docs = load_star(spark, SF_DIR).table("documents").limit(80)
    path = str(tmp_path / "docs_bpe_stream")
    docs.select("doc_id", "text").repartition(3).write.mode(
        "overwrite"
    ).parquet(path)

    merges, _ = bpe_train(spark.read.parquet(path), "text", 4)

    def segment(df):
        words = df.select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '\\\\w+', 0)")
            ).alias("w"),
        ).select(
            "doc_id",
            "w",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("s"),
        )
        for _, a, b, _, _ in merges:  # learned rules as literals
            words = words.select(
                "doc_id", "w", F.expr(_merge_fold_sql(a, b)).alias("s")
            )
        return words.select(
            "doc_id", "w", F.array_join("s", " ").alias("seg")
        )

    batch = sorted(
        tuple(r) for r in segment(spark.read.parquet(path)).collect()
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        path
    )
    q = (
        segment(stream)
        .writeStream.format("memory")
        .queryName("bpe_stream_seg")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r)
        for r in spark.sql("SELECT * FROM bpe_stream_seg").collect()
    )
    assert got == batch and len(got) > 0


def test_stream_media_dedup_converges_to_batch_result(spark, tmp_path):
    """Streaming perceptual ingest dedup: 3 micro-batches of raw AVI
    payloads through the persisted-index probe emit, in union,
    EXACTLY the one-shot banded_hamming_pairs set over the same
    corpus. Both sides run with cap=500 — the fixture's degenerate
    constant-video buckets reach 162 members even at 200 docs, and
    with any bucket crossing the cap mid-stream the union is a
    documented SUPERSET, not equal (the probe_banded_index
    monotonicity caveat); an uncrossed cap is the equivalence
    precondition. One lake version per batch."""
    from sales_etl_spark import lake
    from sales_etl_spark.operators.dedup import banded_hamming_pairs
    from sales_etl_spark.operators.multimodal import (
        documents_as_mjpeg,
        mjpeg_grid_hash,
    )
    from sales_etl_spark.streaming.media_dedup import stream_media_dedup

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars")
        .filter("doc_id < 200")
    )
    media = documents_as_mjpeg(docs)  # (media_id, payload)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        media.filter(f"media_id % 3 = {i}").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    index_path = str(tmp_path / "vhash_index")
    pairs_path = str(tmp_path / "pairs")
    q = (
        stream_media_dedup(
            spark.readStream.schema("media_id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            index_path, pairs_path,
            checkpoint_dir=str(tmp_path / "ckpt"),
            cap=500,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in spark.read.parquet(pairs_path).collect()
    }
    want_sig = mjpeg_grid_hash(media, every_n=2)
    want = {
        (r.media_a, r.media_b, r.hamming)
        for r in banded_hamming_pairs(want_sig, cap=500).collect()
    }
    assert got == want and len(want) > 0
    assert len(lake.versions(index_path)) == 3  # one commit per batch
    assert (
        lake.read_table(spark, index_path)
        .select("media_id").distinct().count()
        == docs.count()
    )


def test_stream_media_dedup_cap_crossing_yields_superset(spark, tmp_path):
    """The probe_banded_index monotonicity caveat, pinned as the
    DIRECTION it documents: with the default cap (64) the fixture's
    degenerate buckets cross mid-stream, so the streamed union must
    be a strict SUPERSET of the one-shot capped result (early pairs
    from later-hot buckets are already emitted) — and every extra
    pair must verify at hamming <= 6 (no garbage, just early)."""
    from sales_etl_spark.operators.dedup import banded_hamming_pairs
    from sales_etl_spark.operators.multimodal import (
        documents_as_mjpeg,
        mjpeg_grid_hash,
    )
    from sales_etl_spark.streaming.media_dedup import stream_media_dedup

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars")
        .filter("doc_id < 200")
    )
    media = documents_as_mjpeg(docs)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        media.filter(f"media_id % 3 = {i}").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    pairs_path = str(tmp_path / "pairs")
    q = (
        stream_media_dedup(
            spark.readStream.schema("media_id long, payload binary")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            str(tmp_path / "vhash_index"), pairs_path,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in spark.read.parquet(pairs_path).collect()
    }
    want_sig = mjpeg_grid_hash(media, every_n=2)
    want = {
        (r.media_a, r.media_b, r.hamming)
        for r in banded_hamming_pairs(want_sig).collect()
    }
    assert want < got  # strict superset: the cap crossed mid-stream
    assert all(0 <= h <= 6 and a < b for a, b, h in got)


def test_media_batch_replay_skipped_preserves_convergence(spark, tmp_path):
    """foreachBatch crash-replay of an already-committed media batch
    is skipped BEFORE the probe (round-9 advice): the index gains no
    version and no duplicate band rows — duplicates would inflate
    bucket counts past the cap and silently suppress pairs for every
    later batch — and the final pair union still equals the one-shot
    banded_hamming_pairs result exactly."""
    from sales_etl_spark import lake
    from sales_etl_spark.operators.dedup import banded_hamming_pairs
    from sales_etl_spark.operators.multimodal import (
        documents_as_mjpeg,
        mjpeg_grid_hash,
    )
    from sales_etl_spark.streaming.media_dedup import process_media_batch

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars")
        .filter("doc_id < 120")
    )
    media = documents_as_mjpeg(docs)
    batches = [media.filter(f"media_id % 3 = {i}") for i in range(3)]
    index_path = str(tmp_path / "vhash_index")
    pairs_path = str(tmp_path / "pairs")
    kw = dict(cap=500)
    assert process_media_batch(
        batches[0], 0, index_path, pairs_path, **kw
    ) == 0
    assert process_media_batch(
        batches[1], 1, index_path, pairs_path, **kw
    ) == 1
    rows_after_b1 = lake.read_table(spark, index_path).count()
    # crash between index commit and checkpoint commit → replay of
    # batch 1: skipped before any write; a STALE batch 0 (only
    # possible via a reset checkpoint) raises instead of silently
    # skipping future data (round-10 advice)
    assert process_media_batch(
        batches[1], 1, index_path, pairs_path, **kw
    ) is None
    with pytest.raises(lake.BatchIdRegression):
        process_media_batch(batches[0], 0, index_path, pairs_path, **kw)
    assert lake.versions(index_path) == [0, 1]
    assert lake.read_table(spark, index_path).count() == rows_after_b1
    assert process_media_batch(
        batches[2], 2, index_path, pairs_path, **kw
    ) == 2
    got = {
        (r.media_a, r.media_b, r.hamming)
        for r in spark.read.parquet(pairs_path).collect()
    }
    want_sig = mjpeg_grid_hash(media, every_n=2)
    want = {
        (r.media_a, r.media_b, r.hamming)
        for r in banded_hamming_pairs(want_sig, cap=500).collect()
    }
    assert got == want and len(want) > 0


def test_lsh_batch_replay_skipped_preserves_convergence(spark, tmp_path):
    """Same replay-idempotence contract for the MinHash ingest: a
    replayed micro-batch neither re-probes nor double-appends
    signatures, and the pair union still equals the one-shot batch
    LSH result."""
    from sales_etl_spark import lake
    from sales_etl_spark.operators.dedup import minhash_lsh_pairs
    from sales_etl_spark.streaming.dedup_stream import process_lsh_batch

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 150")
    )
    batches = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    index_path = str(tmp_path / "lsh_index")
    pairs_path = str(tmp_path / "pairs")
    kw = dict(num_hashes=32, bands=8, min_est_jaccard=0.3)
    assert process_lsh_batch(
        batches[0], 0, index_path, pairs_path, **kw
    ) == 0
    assert process_lsh_batch(
        batches[1], 1, index_path, pairs_path, **kw
    ) == 1
    rows_after_b1 = lake.read_table(spark, index_path).count()
    assert process_lsh_batch(
        batches[1], 1, index_path, pairs_path, **kw
    ) is None
    assert lake.versions(index_path) == [0, 1]
    assert lake.read_table(spark, index_path).count() == rows_after_b1
    assert process_lsh_batch(
        batches[2], 2, index_path, pairs_path, **kw
    ) == 2
    got = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in spark.read.parquet(pairs_path).collect()
    }
    want = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
    }
    assert got == want and len(want) > 0
