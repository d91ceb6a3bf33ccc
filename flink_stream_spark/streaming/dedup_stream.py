"""Incremental streaming near-dedup against an accumulated corpus.

The streaming form of the MinHash-LSH near-dedup pipeline
(operators/dedup.py): documents arrive in micro-batches; each batch is
signed (K=32 minhashes → 8 bands), probed against the accumulated
band index of all previously KEPT documents, exact-Jaccard verified,
and flagged keep-or-duplicate. Kept documents' bands and shingle sets
join the index; duplicates never do (keep-FIRST semantics in stream
order, matching a curation pipeline that admits a document only if
nothing like it was admitted before).

This is the reference's keyed-upsert-sink machinery
(flink/jobs/flink_json_to_iceberg.py:61-71) carrying a dedup index
instead of a mirror table. Scale posture: per batch, the probe join is
on (band, sig) buckets — the index side is |kept docs|×8 short rows,
the shuffle is bucket-keyed, and no stage compares a batch doc against
the whole corpus. State (band index + shingle sets) lives in managed
tables, not executor memory, so a 100 TB backfill streams through in
bounded batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.dedup import (
    banded_frame,
    minhash_wide,
    shingled_docs,
)
from flink_stream_spark.streaming.near_dup import (
    admit_batch,
    band_candidates,
    replay_parquet,
    run_per_batch,
    verified_pairs,
)
from flink_stream_spark.tables.managed import ManagedTable

JACCARD_THRESHOLD = 0.5


def _jaccard_at_least(sh_new, sh_old):
    """Exact-Jaccard verify predicate over two shingle sets."""
    shared = F.size(F.array_intersect(sh_new, sh_old))
    jac = shared.cast("double") / (F.size(sh_new) + F.size(sh_old) - shared)
    return jac >= JACCARD_THRESHOLD


def process_batch(
    batch: DataFrame,
    bands_table: ManagedTable,
    shingles_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: int | None = None,
) -> None:
    """Admit one micro-batch of (doc_id, text) against the index.

    Within the batch, stream order is doc_id order (the replay
    contract); a batch doc can be a duplicate of an earlier KEPT batch
    doc, resolved greedily in doc_id order. Admission, replay safety
    and compaction: ``streaming/near_dup.py``.
    """
    spark = batch.sparkSession
    sh_new = shingled_docs(batch).localCheckpoint(eager=True)
    # reuse the checkpointed shingles: tokenization+shingling is the
    # CPU-heaviest stage and would otherwise run twice per batch. The
    # shared banding layout (dedup.banded_frame) keeps the streaming
    # index from drifting from the batch pipeline.
    bands_new = banded_frame(minhash_wide(batch, shingled=sh_new)).localCheckpoint(
        eager=True
    )

    def probe() -> DataFrame:
        cand = band_candidates(bands_new, bands_table.read(spark), within_batch=False)
        return verified_pairs(
            cand, sh_new, shingles_table.read(spark), "shingles", _jaccard_at_least
        )

    cand_local = band_candidates(bands_new, bands_new, within_batch=True)
    admit_batch(
        batch.select("doc_id"),
        [(bands_table, bands_new), (shingles_table, sh_new)],
        probe,
        verified_pairs(cand_local, sh_new, sh_new, "shingles", _jaccard_at_least),
        flags_table,
        epoch_id,
    )


def start_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    bands_table: ManagedTable,
    shingles_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """File-replayed document stream → per-batch incremental dedup."""
    return run_per_batch(
        replay_parquet(spark, "doc_id bigint, text string", source_dir),
        lambda b, e: process_batch(
            b, bands_table, shingles_table, flags_table, epoch_id=e
        ),
        checkpoint_dir,
    )
