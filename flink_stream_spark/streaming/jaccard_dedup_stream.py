"""Incremental streaming EXACT-Jaccard near-dedup with COMPLETE
recall — the streaming twin of ``dedup_jaccard_prefix_filter``
(round-8 verdict, Next #7).

Every other dedup family here has an incremental form; this closes
the last batch-only one. Documents arrive in micro-batches; each
batch's distinct-3-gram shingle sets probe the accumulated index of
all previously KEPT documents through the SAME prefix-filter
discipline as the batch join (SSJoin/PPJoin: prefix of length
n − ceil(τ·n) + 1 under a global token order, length filter
τ·max ≤ min, positional remaining-overlap filter), then candidates
are verified by the exact integer test 5·shared ≥ 3·union over the
full sorted shingle arrays. Keep-FIRST semantics in stream order;
within-batch pairs resolve through the shared greedy fixpoint
(``streaming/near_dup.py`` — no pair is ever collected).

THE ORDERING TRADE, stated honestly: the batch join ranks prefixes
by global (document-frequency, shingle) ascending — a PERFORMANCE
heuristic that pushes hot shingles out of prefixes. df drifts as a
stream accumulates, and a prefix stored under yesterday's df order
is not recall-safe against a probe ranked under today's (the shared
token can fall out of one side's prefix). Prefix filtering is
recall-COMPLETE under ANY single consistent total order, so the
stream fixes the order to (xxhash64(shingle), shingle) — df-free
and immutable. Consequences: (a) a kept document's prefix NEVER
changes, so the index stores it exploded once at admit time and is
never rewritten (the store-the-signal property that makes the
image/audio twins usable always-on); (b) recall stays complete —
parity with the batch-complete pair set is exact, property-tested
incl. cross-batch near-dups; (c) hot shingles land in prefixes at
their natural rate instead of last, so candidate counts run higher
than the batch join's — the price of incrementality, bounded by the
same positional+length filters and by probe cost |batch prefix| ×
bucket, never index².

Replay safety: every commit carries an ``epoch:<id>`` idempotency
token (``streaming/near_dup.py``); the probe side reads only tables
committed by PRIOR epochs, so an at-least-once redelivery recomputes
the identical flag set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.dedup import (
    JPF_TAU_DEN,
    JPF_TAU_NUM,
    shingled_docs,
)
from flink_stream_spark.streaming.near_dup import (
    admit_batch,
    replay_parquet,
    run_per_batch,
    verified_pairs,
)
from flink_stream_spark.tables.managed import ManagedTable


def shingle_arrays(batch: DataFrame) -> DataFrame:
    """(doc_id, arr, n): sorted distinct 3-gram shingle array per doc
    — the raw signal the index stores. Zero-shingle docs are excluded
    (Jaccard is undefined on empty sets; they are always kept)."""
    return (
        shingled_docs(batch)
        .select(
            "doc_id",
            F.sort_array(F.array_distinct("shingles")).alias("arr"),
        )
        .withColumn("n", F.size("arr"))
        .filter(F.col("n") > 0)
    )


def prefix_rows(arrs: DataFrame) -> DataFrame:
    """(doc_id, shingle, rk, n): the SSJoin prefix under the FIXED
    (xxhash64(shingle), shingle) order — first n − ceil(τ·n) + 1
    tokens. Derived once per doc; immutable thereafter (the module
    docstring's ordering trade)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.xxhash64("shingle"), F.col("shingle")
    )
    plen = (
        F.col("n")
        - F.expr(f"({JPF_TAU_NUM} * n + {JPF_TAU_DEN - 1}) div {JPF_TAU_DEN}")
        + F.lit(1)
    )
    return (
        arrs.select("doc_id", "n", F.explode("arr").alias("shingle"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= plen)
        .select("doc_id", "shingle", "rk", "n")
    )


def _candidates(pa: DataFrame, pb: DataFrame, within_batch: bool) -> DataFrame:
    """Prefix-share candidates (new_doc, old_doc) with the length and
    PPJoin positional filters riding the join condition — identical
    discipline to the batch join. Identity filter as in
    operators/blocking.py (``!=`` against the index, ``<`` within
    the batch)."""
    cols = ("doc_id", "shingle", "rk", "n")
    a = pa.select(*cols).toDF("new_doc", "sh_a", "ra", "na")
    b = pb.select(*cols).toDF("old_doc", "sh_b", "rb", "nb")
    alpha = F.expr(
        f"({JPF_TAU_NUM} * (na + nb) + {JPF_TAU_NUM + JPF_TAU_DEN - 1}) "
        f"div {JPF_TAU_NUM + JPF_TAU_DEN}"
    )
    ident = (
        (F.col("new_doc") > F.col("old_doc"))
        if within_batch
        else (F.col("new_doc") != F.col("old_doc"))
    )
    return (
        a.join(
            b,
            (F.col("sh_a") == F.col("sh_b"))
            & ident
            & (
                F.lit(JPF_TAU_DEN) * F.least("na", "nb")
                >= F.lit(JPF_TAU_NUM) * F.greatest("na", "nb")
            )
            & (
                F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
                + 1
                >= alpha
            ),
        )
        .select("new_doc", "old_doc")
        .distinct()
    )


def _jaccard_accepts(arr_a, arr_b):
    """Exact integer-threshold verify over full sorted arrays —
    5·shared ≥ 3·union, bit-identical to the batch accept test."""
    shared = F.size(F.array_intersect(arr_a, arr_b))
    union = F.size(arr_a) + F.size(arr_b) - shared
    return F.lit(JPF_TAU_DEN) * shared >= F.lit(JPF_TAU_NUM) * union


def process_jaccard_batch(
    batch: DataFrame,
    arr_table: ManagedTable,
    prefix_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: "int | None" = None,
) -> None:
    """Admit one micro-batch of (doc_id, text) against the Jaccard
    index. Stream order within the batch is doc_id order (the replay
    contract); a batch doc can duplicate an earlier KEPT batch doc,
    resolved greedily DataFrame-side (``streaming/near_dup.py``)."""
    spark = batch.sparkSession
    arrs_new = shingle_arrays(batch).localCheckpoint(eager=True)
    pre_new = prefix_rows(arrs_new).localCheckpoint(eager=True)

    def probe() -> DataFrame:
        cand = _candidates(pre_new, prefix_table.read(spark), within_batch=False)
        return verified_pairs(
            cand, arrs_new, arr_table.read(spark), "arr", _jaccard_accepts
        )

    # within-batch: larger doc_id is the "new" side (keep-first)
    cand_local = _candidates(pre_new, pre_new, within_batch=True)
    admit_batch(
        batch.select("doc_id"),
        [(arr_table, arrs_new), (prefix_table, pre_new)],
        probe,
        verified_pairs(cand_local, arrs_new, arrs_new, "arr", _jaccard_accepts),
        flags_table,
        epoch_id,
    )


def start_incremental_jaccard_dedup(
    spark: SparkSession,
    source_dir: str,
    arr_table: ManagedTable,
    prefix_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """File-replayed document stream → per-batch incremental exact-
    Jaccard dedup."""
    return run_per_batch(
        replay_parquet(spark, "doc_id bigint, text string", source_dir),
        lambda b, e: process_jaccard_batch(
            b, arr_table, prefix_table, flags_table, epoch_id=e
        ),
        checkpoint_dir,
    )
