"""Incremental streaming AUDIO near-dedup against an accumulated index.

The audio twin of ``streaming/image_dedup_stream.py``, completing the
modality set (text: ``dedup_stream.py``, images:
``image_dedup_stream.py``): media arrives in micro-batches; each
batch decodes through the REAL WAV codec to its 16-window integer
energy envelope (``wav_envelope_stats`` — non-WAV payloads take the
zero-envelope fallback row, the shared decode-ladder; all-zero bands
nominate nothing, so undecodable clips are KEPT rather than silently
deduped against each other), is probed
against the accumulated envelope index of all previously KEPT clips
via the banded signatures, exact-L1 verified (≤ ``AUDIO_L1_MAX`` over
the full envelope), and flagged keep-or-duplicate. Kept clips' RAW
envelopes join the index (16 bigints/doc); duplicates never do —
keep-FIRST semantics in stream order, matching the text and image
twins.

The index stores the raw envelope, not pre-exploded band values, so
banding is re-derived per batch as a pure column expression
(``AUDIO_ENVELOPE.band_rows``, shared with the batch query) over the
stored signal — the image-stream lesson: store the signal, derive the
blocking, and the index never needs rewriting if the banding policy
changes. The batch query's
hot-band cap is deliberately NOT applied on the probe side: the cap
is a batch-global recall/cost trade, and an incremental probe joining
new-batch rows (small) against a capped index would silently drop
true dups as buckets heat up over epochs; probe join cost is
|batch|×bucket, bounded by the batch size. Admission (keep-first
greedy, epoch tokens, replay safety): ``streaming/near_dup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_stream_spark.operators.multimodal import AUDIO_ENVELOPE, wav_envelope_stats
from flink_stream_spark.streaming.near_dup import (
    admit_batch,
    band_candidates,
    replay_parquet,
    run_per_batch,
    verified_pairs,
)
from flink_stream_spark.tables.managed import ManagedTable


def process_audio_batch(
    batch: DataFrame,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: "int | None" = None,
) -> None:
    """Admit one micro-batch of (doc_id, payload binary) against the
    envelope index. Within the batch, stream order is doc_id order
    (the replay contract); a batch clip can be a duplicate of an
    earlier KEPT batch clip, resolved greedily DataFrame-side."""
    spark = batch.sparkSession
    sigs_new = (
        wav_envelope_stats(batch)
        .select("doc_id", "env")
        .localCheckpoint(eager=True)
    )
    bands_new = AUDIO_ENVELOPE.band_rows(sigs_new)

    def probe() -> DataFrame:
        idx = index_table.read(spark)
        idx_bands = AUDIO_ENVELOPE.band_rows(idx)
        cand = band_candidates(bands_new, idx_bands, within_batch=False)
        return verified_pairs(cand, sigs_new, idx, "env", AUDIO_ENVELOPE.near)

    cand_local = band_candidates(bands_new, bands_new, within_batch=True)
    admit_batch(
        batch.select("doc_id"),
        [(index_table, sigs_new)],
        probe,
        verified_pairs(
            cand_local, sigs_new, sigs_new, "env", AUDIO_ENVELOPE.near
        ),
        flags_table,
        epoch_id,
    )


def start_incremental_audio_dedup(
    spark: SparkSession,
    source_dir: str,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """File-replayed media stream → per-batch incremental audio dedup."""
    return run_per_batch(
        replay_parquet(spark, "doc_id bigint, payload binary", source_dir),
        lambda b, e: process_audio_batch(b, index_table, flags_table, epoch_id=e),
        checkpoint_dir,
    )
