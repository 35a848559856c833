"""Streaming PERCEPTUAL media ingest dedup: each micro-batch of raw
media payloads decodes ITSELF inside the executor kernel (AVI walk +
per-frame JPEG decode) and collapses each video to its grid signature
in the same kernel (operators/multimodal.py:mjpeg_grid_hash), probes
the PERSISTED
banded-signature index for near-duplicates against everything
ingested so far, and appends its own band rows to the index — the
perceptual mirror of streaming/dedup_stream.py's MinHash ingest, with
a STRONGER equivalence: the grid signature is deterministic, so when
the final corpus never crosses the bucket cap, the union of the
stream's per-batch pair emissions equals the one-shot
banded_hamming_pairs result EXACTLY (asserted in
tests/test_streaming.py; the cap-monotonicity caveat is documented on
operators/dedup.py:probe_banded_index).

Scale shape per micro-batch: O(batch) decode and signature, map-only,
then a broadcast-batch probe of the index scan —
the index is read but never reshuffled, no old video is ever
re-decoded, and the index grows by one atomic lake commit per
non-empty batch. The index commit is EXACTLY-ONCE under foreachBatch
replay: each batch's id is tested against the lake manifest BEFORE
any work (lake.latest_batch_id) and stamped on the committed version
(lake.commit_append_batch, marker written atomically with the
publish), so a crash-replay neither re-probes nor double-appends band
rows — double-appended bands would inflate bucket counts past ``cap``
and silently suppress pairs for every later batch, breaking the
one-shot-convergence property. The pair sink is one parquet partition
directory per batch_id, OVERWRITTEN on replay — a crashed attempt's
pairs are replaced with identical recomputed content (the grid
signature is deterministic), so the pair sink shares the index's
exactly-once property instead of relying on a downstream
(media_a, media_b) dedup.

Reference parity: the reference has no media tier at all (etl/ is
tabular); this is the continuous-ingest shape of the round-9 batch
operators (plans/monitor.py:dedup_video_incremental).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sales_etl_spark import lake
from sales_etl_spark.operators.dedup import hash_bands, probe_banded_index
from sales_etl_spark.operators.multimodal import mjpeg_grid_hash


def _batch_bands(batch_df: DataFrame, every_n: int) -> DataFrame:
    """(media_id, hash_lo, hash_hi, band_idx, band_val) for one
    micro-batch of (media_id, payload) rows — decode, signature and
    band split all executor-side."""
    return mjpeg_grid_hash(batch_df, every_n=every_n).select(
        "media_id", "hash_lo", "hash_hi", hash_bands()
    )


def process_media_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    every_n: int = 2,
    cap: int = 64,
    max_hamming: int = 6,
    query_id: str | None = None,
) -> int | None:
    """One micro-batch of the perceptual ingest: decode+sign → probe
    the persisted index → overwrite the batch's verified-pair
    partition → exactly-once commit of the batch's band rows
    (batch_id-stamped manifest, atomic with the publish). A replayed
    batch (its id equal to this query's newest-first marker — foreign
    commits on the index can't erase it) is skipped BEFORE the probe
    — its bands are already committed, so re-probing would pair the
    batch against its own index rows and re-appending would inflate
    bucket counts past ``cap``; an id below the marker raises
    lake.BatchIdRegression (checkpoint reset) instead of silently
    skipping new data. Returns the committed index version, or None
    for an empty or replayed batch. Exposed as a plain function so
    replay semantics are directly testable (tests/test_streaming.py).
    """
    if batch_df.isEmpty():
        return None
    if lake.is_replayed_batch(index_path, batch_id, query_id):
        return None  # foreachBatch replay: bands already committed
    spark = batch_df.sparkSession
    bands = _batch_bands(batch_df, every_n).cache()
    if lake.versions(index_path):
        index = lake.read_table(spark, index_path)
    else:
        index = bands.limit(0)  # first batch: intra-batch only
    pairs = probe_banded_index(
        index, bands, cap=cap, max_hamming=max_hamming
    )
    # pair sink: one partition directory per batch, OVERWRITTEN on
    # replay — a crashed attempt's pairs are replaced with identical
    # content (deterministic signatures) instead of duplicated, so
    # the sink shares the index's exactly-once property.
    pairs.write.mode("overwrite").parquet(
        f"{pairs_path}/batch_id={batch_id}"
    )
    version = lake.commit_append_batch(
        bands.select(
            "media_id", "hash_lo", "hash_hi", "band_idx", "band_val"
        ),
        index_path,
        batch_id,
        query_id=query_id,
    )
    bands.unpersist()
    return version


def stream_media_dedup(
    stream_df: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    every_n: int = 2,
    cap: int = 64,
    max_hamming: int = 6,
    query_id: str | None = None,
):
    """Wire a (media_id, payload) stream into incremental perceptual
    dedup. Returns the writeStream builder (caller picks trigger and
    starts). Each batch runs :func:`process_media_batch`: decode+sign
    itself → probe the index (caps count index+batch) → overwrite the
    batch's verified-pair partition under ``pairs_path`` →
    exactly-once commit of the batch's band rows to ``index_path``
    (one batch_id-stamped lake version per non-empty batch, replays
    skipped). Pass a stable ``query_id`` when the index table has
    other writers so this query's replay marker survives their
    commits."""

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        process_media_batch(
            batch_df, batch_id, index_path, pairs_path,
            every_n=every_n, cap=cap, max_hamming=max_hamming,
            query_id=query_id,
        )

    return (
        stream_df.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", checkpoint_dir)
    )
