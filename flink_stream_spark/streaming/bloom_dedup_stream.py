"""Incremental streaming EXACT dedup behind a bloom-maintained index.

The streaming form of ``dedup_incremental_bloom`` (operators/dedup.py):
documents arrive in micro-batches; each batch's content hashes are
prefiltered by a Bloom filter maintained INCREMENTALLY alongside the
kept-hash index, and only the bloom "maybe" tail pays the exact join
against the index. Keep-first semantics in stream order, identical to
a batch greedy over the whole corpus (the parity test pins it).

Why this shape at 100 TB: the kept-hash index grows with the corpus
and lives in a managed table; re-shuffling it against every micro-
batch is the cost this module deletes. The bloom table is m/64 rows
of 64-bit words — BIT_OR is associative, commutative, and IDEMPOTENT,
so incremental maintenance is an APPEND of the new kept hashes' words
and the read side folds with one tiny aggregate (fold-on-read; the
small-files compactor bounds the row count). Idempotence also makes
replay trivially safe: re-appending a replayed epoch's words changes
no bit, and the epoch token no-ops the commit anyway.

``m_bits`` is FIXED at stream creation (positions are functions of m,
so resizing invalidates every stored word). Production sizes m for
the target corpus (8 bits/doc — see bloom_num_bits); an undersized
filter degrades gracefully to more exact-join traffic, never to a
wrong answer, and a rebuild from the hash index is one narrow pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.dedup import bloom_prefilter, bloom_words
from flink_stream_spark.streaming.near_dup import replay_parquet, run_per_batch
from flink_stream_spark.tables.managed import ManagedTable

DEFAULT_M_BITS = 1 << 20


def _folded_bloom(bloom_table: ManagedTable, spark: SparkSession) -> DataFrame:
    """Fold the appended word rows to the live filter: one aggregate
    over <= m/64 x epochs rows (compaction keeps epochs small)."""
    return (
        bloom_table.read(spark)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def process_batch(
    batch: DataFrame,
    hash_table: ManagedTable,
    bloom_table: ManagedTable,
    flags_table: ManagedTable,
    m_bits: int = DEFAULT_M_BITS,
    epoch_id: int | None = None,
) -> None:
    """Admit one micro-batch of (doc_id, text) against the index.

    1. hash every batch doc (md5 — the exact-dedup content key);
    2. bloom-prefilter the batch against the folded word table: docs
       whose k positions are not all set CANNOT be in the index and
       skip the exact join entirely;
    3. exact-join the survivors against the kept-hash index -> dup;
    4. within-batch keep-first: same-hash docs keep the smallest
       doc_id (unless the hash is already indexed — then every one
       of them is a duplicate of the indexed doc);
    5. append flags, the kept (doc_id, h) rows, and the kept hashes'
       bloom words, each under the epoch idempotency token.

    Replay safety: at-least-once foreachBatch + token'd appends; the
    bloom append is ALSO algebraically idempotent (BIT_OR), so even a
    torn replay that re-merges words cannot corrupt the filter.
    """
    spark = batch.sparkSession
    token = None if epoch_id is None else f"epoch:{epoch_id}"
    hashes = batch.select("doc_id", F.md5("text").alias("h")).localCheckpoint(
        eager=True
    )

    if hash_table.exists():
        words = _folded_bloom(bloom_table, spark).localCheckpoint(eager=True)
        maybe = bloom_prefilter(hashes, words, m_bits)
        idx_min = (
            hash_table.read(spark)
            .groupBy("h")
            .agg(F.min("doc_id").alias("idx_doc"))
        )
        vs_index = maybe.join(idx_min, "h", "inner").select(
            "doc_id", F.col("idx_doc").alias("dup_of_idx"), "h"
        )
    else:
        vs_index = spark.createDataFrame(
            [], "doc_id bigint, dup_of_idx bigint, h string"
        )
    vs_index = vs_index.localCheckpoint(eager=True)

    # within-batch keep-first: smallest doc_id per hash group wins,
    # unless the hash is indexed (then the indexed doc is the keeper
    # for the WHOLE group — keep-first in stream order)
    grp = hashes.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    idx_hit = vs_index.groupBy("h").agg(F.min("dup_of_idx").alias("idx_doc"))
    flags = (
        hashes.join(grp, "h")
        .join(idx_hit, "h", "left")
        .select(
            "doc_id",
            "h",
            F.when(F.col("idx_doc").isNotNull(), F.col("idx_doc"))
            .when(F.col("doc_id") != F.col("first_doc"), F.col("first_doc"))
            .alias("dup_of"),
        )
        .select("doc_id", "h", "dup_of", F.col("dup_of").isNotNull().alias("is_dup"))
        .localCheckpoint(eager=True)
    )
    flags_table.append(flags.select("doc_id", "dup_of", "is_dup"), token=token)

    kept = flags.filter(~F.col("is_dup")).select("doc_id", "h")
    hash_table.append(kept, token=token)
    bloom_table.append(bloom_words(kept, m_bits), token=token)

    for t in (flags_table, hash_table, bloom_table):
        t.maybe_compact(spark)


def start_incremental_bloom_dedup(
    spark: SparkSession,
    source_dir: str,
    hash_table: ManagedTable,
    bloom_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
    m_bits: int = DEFAULT_M_BITS,
):
    """File-replayed document stream → per-batch bloom-prefiltered
    exact dedup."""
    return run_per_batch(
        replay_parquet(spark, "doc_id bigint, text string", source_dir),
        lambda b, e: process_batch(
            b, hash_table, bloom_table, flags_table, m_bits, epoch_id=e
        ),
        checkpoint_dir,
    )
