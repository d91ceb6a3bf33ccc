"""Incremental streaming VIDEO near-dedup against an accumulated index.

Completes the modality set (text: ``dedup_stream.py``, images:
``image_dedup_stream.py``, audio: ``audio_dedup_stream.py`` — the
round-6 verdict's #4): media arrives in micro-batches; each batch
decodes through the REAL Y4M codec to its per-frame vertical-strip
block means (``video_motion_stats`` — non-Y4M payloads take the
zero-signature fallback row, whose all-zero bands nominate nothing,
so undecodable clips are KEPT rather than silently deduped against
each other), is probed against the accumulated signature index of all
previously KEPT clips via the per-frame spatial bands, exact-L1
verified (<= ``VID_L1_MAX`` over the full VID_FRAMES x VID_BLOCKS
signature), and flagged keep-or-duplicate. Kept clips' RAW block-mean
signatures join the index (32 bigints/clip); duplicates never do —
keep-FIRST semantics in stream order, matching the other twins.

The index stores the raw signal (block means), not pre-exploded band
values, so banding is re-derived per batch as a pure column expression
(``VIDEO_MOTION.band_rows``, shared with the batch query) over the
stored signature — store the signal, derive the blocking, and the
index never needs rewriting if the banding policy changes. The batch
query's hot-band cap is deliberately NOT applied on the probe side
(the image/audio twins' argument: an incremental probe against a
capped index silently drops true dups as buckets heat up over epochs;
probe join cost is |batch| x bucket, bounded by the batch size).
Admission (keep-first greedy, epoch tokens, replay safety):
``streaming/near_dup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_stream_spark.operators.multimodal import VIDEO_MOTION, video_motion_stats
from flink_stream_spark.streaming.near_dup import (
    admit_batch,
    band_candidates,
    replay_parquet,
    run_per_batch,
    verified_pairs,
)
from flink_stream_spark.tables.managed import ManagedTable


def process_video_batch(
    batch: DataFrame,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: "int | None" = None,
) -> None:
    """Admit one micro-batch of (doc_id, payload binary) against the
    signature index. Within the batch, stream order is doc_id order
    (the replay contract); a batch clip can be a duplicate of an
    earlier KEPT batch clip, resolved greedily DataFrame-side."""
    spark = batch.sparkSession
    sigs_new = (
        video_motion_stats(batch)
        .select("doc_id", "block_means")
        .localCheckpoint(eager=True)
    )
    bands_new = VIDEO_MOTION.band_rows(sigs_new)

    def probe() -> DataFrame:
        idx = index_table.read(spark)
        idx_bands = VIDEO_MOTION.band_rows(idx)
        cand = band_candidates(bands_new, idx_bands, within_batch=False)
        return verified_pairs(cand, sigs_new, idx, "block_means", VIDEO_MOTION.near)

    cand_local = band_candidates(bands_new, bands_new, within_batch=True)
    admit_batch(
        batch.select("doc_id"),
        [(index_table, sigs_new)],
        probe,
        verified_pairs(
            cand_local, sigs_new, sigs_new, "block_means", VIDEO_MOTION.near
        ),
        flags_table,
        epoch_id,
    )


def start_incremental_video_dedup(
    spark: SparkSession,
    source_dir: str,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """File-replayed media stream → per-batch incremental video dedup."""
    return run_per_batch(
        replay_parquet(spark, "doc_id bigint, payload binary", source_dir),
        lambda b, e: process_video_batch(b, index_table, flags_table, epoch_id=e),
        checkpoint_dir,
    )
