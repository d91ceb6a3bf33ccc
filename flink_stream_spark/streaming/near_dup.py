"""The incremental near-dup admission contract shared by every streaming
dedup twin (text, Jaccard, SemDeDup, image, audio, video).

Batch and incremental similarity search are one index-plus-probe
contract; only the signature, the blocking join and the verify
predicate vary per modality. Each twin owns exactly those three parts.
This module owns the rest — the admission policy:

- the ``epoch:<id>`` idempotency token every commit carries, so an
  at-least-once foreachBatch redelivery no-ops on commit (the
  keyed-upsert idempotency contract the reference gets from Flink
  checkpoints + Iceberg commit metadata);
- the empty-index case (the first epoch has nothing to probe);
- keep-FIRST in stream order: a batch doc is a duplicate of the
  smallest verified KEPT index doc, else of the smallest verified
  kept earlier batch doc, resolved greedily DataFrame-side — no pair
  is ever collected;
- the flags frame ``(doc_id, dup_of, is_dup)`` and the token-carrying
  appends of the kept docs' signature rows to the index tables, in a
  fixed order (flags first, then each index table);
- post-commit small-files maintenance (``maybe_compact``).

The probe joins exclude self-pairs (operators/blocking.py's identity
filter), so a replay against a partially-committed epoch (index already
holding this batch's kept docs) still computes the identical flag set.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.blocking import probe_pairs, self_pairs
from flink_stream_spark.tables.managed import ManagedTable


def resolve_greedy_keep_first(
    batch_ids: DataFrame, edges: DataFrame, index_flagged: DataFrame
) -> DataFrame:
    """Greedy keep-first over the within-batch verified pair graph,
    resolved entirely DataFrame-side (no pair is ever collected).

    ``edges`` (new_doc, old_doc) point strictly to smaller doc_ids, so
    the graph is a DAG. Fixed-point status propagation:

    - a doc is DUP as soon as ANY earlier neighbor is known-KEPT;
    - a doc is KEPT once ALL its earlier neighbors are determined and
      none is KEPT (or it has no earlier neighbors / is not flagged
      against the index).

    Each round determines at least the smallest undetermined doc, so
    the loop always terminates; a batch of N mutual near-dups (a
    clique — the adversarial case that blew up the old collect-based
    greedy quadratically) resolves in 2 rounds. Only a scalar count
    is collected per round — same convergence-check pattern
    as dedup_cluster_assign. ``dup_of`` (the smallest kept earlier
    neighbor, the reference greedy's cands[0]) is computed after the
    fixpoint so it never reads a half-determined status.

    Returns (new_doc, dup_of) for batch docs flagged duplicate-of-a-
    kept-BATCH-doc (index flags excluded — caller unions them).
    """
    idx_dup_ids = index_flagged.select(F.col("new_doc").alias("doc_id"))
    has_edge = edges.select(F.col("new_doc").alias("doc_id")).distinct()
    det = (
        batch_ids.join(idx_dup_ids, "doc_id", "left_semi")
        .withColumn("kept", F.lit(False))
        .unionByName(
            batch_ids.join(idx_dup_ids, "doc_id", "left_anti")
            .join(has_edge, "doc_id", "left_anti")
            .withColumn("kept", F.lit(True))
        )
        .localCheckpoint(eager=True)
    )
    undet = batch_ids.join(det, "doc_id", "left_anti").localCheckpoint(eager=True)
    while undet.count() > 0:
        u_edges = edges.join(
            undet.withColumnRenamed("doc_id", "new_doc"), "new_doc", "left_semi"
        )
        per_doc = (
            u_edges.join(
                det.withColumnRenamed("doc_id", "old_doc"), "old_doc", "left"
            )
            .groupBy("new_doc")
            .agg(
                F.max(F.col("kept").isNull().cast("int")).alias("any_undet"),
                F.max(F.when(F.col("kept"), 1).otherwise(0)).alias("any_kept"),
            )
        )
        newly = (
            per_doc.filter((F.col("any_kept") == 1) | (F.col("any_undet") == 0))
            .select(
                F.col("new_doc").alias("doc_id"),
                (F.col("any_kept") == 0).alias("kept"),
            )
            .localCheckpoint(eager=True)
        )
        det = det.unionByName(newly).localCheckpoint(eager=True)
        undet = undet.join(newly, "doc_id", "left_anti").localCheckpoint(eager=True)
    kept_side = det.filter("kept").select(F.col("doc_id").alias("old_doc"))
    return (
        edges.join(kept_side, "old_doc", "left_semi")
        .groupBy("new_doc")
        .agg(F.min("old_doc").alias("dup_of"))
        .join(index_flagged.select("new_doc"), "new_doc", "left_anti")
    )


def band_candidates(new: DataFrame, old: DataFrame, within_batch: bool) -> DataFrame:
    """Distinct (new_doc, old_doc) pairs sharing a band bucket: every
    column but ``doc_id`` is a key — (band, sig) for MinHash,
    (band_idx, band_val) for the raw-signal twins. Against the index,
    ``probe_pairs``; within the batch, the uncapped ``self_pairs`` with
    the smaller id on the "old" (keep-first) side. Never capped: the
    parity rule in operators/blocking.py."""
    keys = [c for c in new.columns if c != "doc_id"]
    if within_batch:
        pairs = self_pairs(new, keys).select(
            F.col("doc_b").alias("new_doc"), F.col("doc_a").alias("old_doc")
        )
    else:
        pairs = probe_pairs(new, old, keys)
    return pairs.distinct()


def verified_pairs(
    cand: DataFrame,
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    sig_col: str,
    keep: Callable[[Column, Column], Column],
) -> DataFrame:
    """Candidates (new_doc, old_doc) whose full signatures pass the
    exact verify predicate ``keep(sig_new, sig_old)``."""
    a = new_sigs.select(
        F.col("doc_id").alias("new_doc"), F.col(sig_col).alias("sig_new")
    )
    b = old_sigs.select(
        F.col("doc_id").alias("old_doc"), F.col(sig_col).alias("sig_old")
    )
    return (
        cand.join(a, "new_doc")
        .join(b, "old_doc")
        .filter(keep(F.col("sig_new"), F.col("sig_old")))
        .select("new_doc", "old_doc")
    )


def admit_batch(
    batch_ids: DataFrame,
    index: Sequence[tuple[ManagedTable, DataFrame]],
    probe: Callable[[], DataFrame],
    local_pairs: DataFrame,
    flags_table: ManagedTable,
    epoch_id: int | None,
) -> None:
    """Flag one micro-batch keep-or-duplicate and admit its kept docs.

    ``batch_ids`` is the one-column frame of the batch's ids; its column
    name (``doc_id``, or ``vec_id`` for SemDeDup) keys every signature
    frame in ``index``, a list of (index table, the batch's rows for
    it). ``probe()`` returns the verified (new_doc, old_doc) pairs
    against the index and runs only once every index table has a
    committed version. ``local_pairs`` are the verified within-batch
    pairs, ``old_doc < new_doc``.
    """
    spark = batch_ids.sparkSession
    token = None if epoch_id is None else f"epoch:{epoch_id}"
    id_col = batch_ids.columns[0]
    ids = batch_ids.select(F.col(id_col).alias("doc_id"))

    if all(t.exists() for t, _ in index):
        flagged = probe().groupBy("new_doc").agg(F.min("old_doc").alias("dup_of"))
    else:
        flagged = spark.createDataFrame([], "new_doc bigint, dup_of bigint")
    flagged = flagged.localCheckpoint(eager=True)

    local_flagged = resolve_greedy_keep_first(
        ids, local_pairs.localCheckpoint(eager=True), flagged
    )
    flagged = flagged.unionByName(local_flagged)
    flags = (
        ids.join(flagged, F.col("doc_id") == F.col("new_doc"), "left")
        .select("doc_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup"))
        .localCheckpoint(eager=True)
    )
    flags_table.append(flags, token=token)

    kept = flags.filter(~F.col("is_dup")).select(F.col("doc_id").alias(id_col))
    for table, rows in index:
        table.append(rows.join(kept, id_col), token=token)

    # small-files maintenance: each epoch appends one file per touched
    # bucket, so without this an always-on stream degrades index reads
    # O(epochs). Threshold-triggered; a no-op costs one manifest read.
    # Runs AFTER the token-carrying commits so a crash before/after
    # compaction never affects replay idempotency (compact rewrites
    # files, never the commit-log tokens).
    for table in (flags_table, *(t for t, _ in index)):
        table.maybe_compact(spark)


def replay_parquet(spark: SparkSession, schema: str, source_dir: str) -> DataFrame:
    """A file-replayed parquet stream, one file per trigger: batch
    boundaries stay deterministic for the parity tests, and a
    Kafka/object-store source swaps in behind the same foreachBatch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def run_per_batch(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """Start ``stream`` with ``process(batch, epoch_id)`` as its
    foreachBatch sink, skipping empty micro-batches."""

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        process(batch, epoch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
