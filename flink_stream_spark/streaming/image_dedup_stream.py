"""Incremental streaming IMAGE near-dedup against an accumulated index.

The image twin of ``streaming/dedup_stream.py`` — the shape a daily
multimodal crawl runs: media arrives in micro-batches; each batch is
dHashed (PNG payloads decode to real pixels via operators/png.py,
everything else byte-resamples — the identical ladder as the batch
query), probed against the accumulated dHash index of all previously
KEPT images via Hamming-LSH banding, exact-Hamming verified (≤
``DHASH_HAMMING_MAX`` over the full 64 bits), and flagged
keep-or-duplicate. Kept images' RAW 8-byte-band hashes join the index
(16 bytes/doc); duplicates never do — keep-FIRST semantics in stream
order, matching the text twin.

Because the index stores the raw byte-bands (not pre-exploded band
values), the corpus-adaptive band tier is re-derived per batch from
ONE scalar count of index+batch and both sides re-block
algebraically (``dhash_band_vals`` is a pure column expression over
the stored hash) — the index never needs rewriting when the corpus
crosses a tier boundary, the property that makes the adaptive
banding usable in an always-on stream. The batch query's hot-band
cap is deliberately NOT applied on the probe side: the cap is a
batch-global recall/cost trade, and an incremental probe joining
new-batch rows (small) against a capped index would silently drop
true dups as buckets heat up over epochs; the probe join cost is
|batch|×bucket, bounded by the batch size. Admission (keep-first
greedy, epoch tokens, replay safety): ``streaming/near_dup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.multimodal import (
    DHASH_HAMMING_MAX,
    dhash_band_vals,
    dhash_bands,
    dhash_hamming,
    dhash_num_bands,
)
from flink_stream_spark.streaming.near_dup import (
    admit_batch,
    band_candidates,
    replay_parquet,
    run_per_batch,
    verified_pairs,
)
from flink_stream_spark.tables.managed import ManagedTable


def _explode_bands(hashes: DataFrame, nb: int) -> DataFrame:
    return hashes.select(
        "doc_id", F.posexplode(dhash_band_vals(nb)).alias("band_idx", "band_val")
    )


def _hamming_near(h_new, h_old):
    """Exact-Hamming verify — the same 8 codegen'd bit_count(xor) terms
    as the batch query."""
    return dhash_hamming(h_new, h_old) <= DHASH_HAMMING_MAX


def process_image_batch(
    batch: DataFrame,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: "int | None" = None,
) -> None:
    """Admit one micro-batch of (doc_id, payload binary) against the
    dHash index. Within the batch, stream order is doc_id order (the
    replay contract); a batch image can be a duplicate of an earlier
    KEPT batch image, resolved greedily DataFrame-side."""
    spark = batch.sparkSession
    hashes_new = dhash_bands(batch).localCheckpoint(eager=True)
    # adaptive tier from ONE scalar count over index + batch; the raw
    # stored hash re-blocks at any tier without rewriting
    idx = index_table.read(spark) if index_table.exists() else None
    nb = dhash_num_bands(
        (0 if idx is None else idx.count()) + hashes_new.count()
    )
    e_new = _explode_bands(hashes_new, nb)

    def probe() -> DataFrame:
        cand = band_candidates(e_new, _explode_bands(idx, nb), within_batch=False)
        return verified_pairs(cand, hashes_new, idx, "bands", _hamming_near)

    cand_local = band_candidates(e_new, e_new, within_batch=True)
    admit_batch(
        batch.select("doc_id"),
        [(index_table, hashes_new)],
        probe,
        verified_pairs(cand_local, hashes_new, hashes_new, "bands", _hamming_near),
        flags_table,
        epoch_id,
    )


def start_incremental_image_dedup(
    spark: SparkSession,
    source_dir: str,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """File-replayed media stream → per-batch incremental image dedup."""
    return run_per_batch(
        replay_parquet(spark, "doc_id bigint, payload binary", source_dir),
        lambda b, e: process_image_batch(b, index_table, flags_table, epoch_id=e),
        checkpoint_dir,
    )
