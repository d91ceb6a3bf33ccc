"""Incremental streaming SEMANTIC near-dedup (SemDeDup) against an
accumulated per-cluster index of kept embeddings.

The semantic twin completing the streaming-dedup family (text:
``dedup_stream.py``, bloom-prefiltered exact: ``bloom_dedup_stream.py``,
images: ``image_dedup_stream.py``, audio: ``audio_dedup_stream.py``,
video: ``video_dedup_stream.py``): embeddings arrive in micro-batches;
each batch is assigned to its nearest centroid (the SAME exact
scaled-int64 argmin as the batch ``dedup_semdedup_cluster`` kernel),
probed against the accumulated index of previously KEPT vectors in the
same cluster with an exact cosine >= SEMDEDUP_TAU verify, and flagged
keep-or-duplicate. Kept vectors join the index; duplicates never do —
keep-FIRST semantics in stream order, matching every other twin.

Centroid model: PINNED at deploy time (the production semantic-dedup
pattern — a k-means model is trained once on a seed corpus, then
applied online; FAISS-style). The batch query's corpus-adaptive
K = max(64, n // 256) is its re-clustering story for full-corpus
passes; an online stream cannot re-derive K per batch without
re-assigning — and therefore re-pairing — everything already indexed.
``centroids`` is the (K, d) int64 scaled-centroid matrix with its id
vector, exactly the shape ``dedup_semdedup_cluster`` collects
driver-side (bounded: K rows, never corpus rows).

Cluster blocking bounds probe cost to |batch| x cluster-population —
the index is stored WITH its cluster key, so the probe is a cluster-
keyed equi-join, never batch x index. Admission (keep-first greedy,
epoch tokens, replay safety): ``streaming/near_dup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.similarity import (
    SEMDEDUP_TAU,
    _scaled_expr,
    _sdot,
)
from flink_stream_spark.streaming.near_dup import (
    admit_batch,
    replay_parquet,
    run_per_batch,
)
from flink_stream_spark.tables.managed import ManagedTable


def scale_and_assign(batch: DataFrame, cent_ids, C) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, cl, s, nrm): exact scaled-int
    vectors, cluster by int64 argmin distance — identical arithmetic
    to the batch kernel (products <= 1e12, 64-term sums <= 6.4e13, all
    exact in int64/float64)."""
    import numpy as np
    import pandas as pd

    cc = (C * C).sum(axis=1)

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["s"].to_numpy()).astype("int64")
            score = cc[None, :] - 2 * (x @ C.T)  # exact int64
            cl = cent_ids[np.argmin(score, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cl": cl,
                    "s": pdf["s"],
                    "nrm": pdf["nrm"],
                }
            )

    scaled = batch.select(
        "vec_id", _scaled_expr(F.col("embedding")).alias("s")
    ).withColumn("nrm", F.sqrt(_sdot(F.col("s"), F.col("s"))))
    return scaled.mapInPandas(
        assign, "vec_id long, cl long, s array<double>, nrm double"
    )


def _cosine_dup_pairs(new: DataFrame, old: DataFrame, within_batch: bool) -> DataFrame:
    """Cluster-blocked candidate pairs carrying both scaled vectors,
    exact cosine >= SEMDEDUP_TAU verified with the batch kernel's
    threshold arithmetic. Identity filter as in
    operators/blocking.py (``!=`` against the index, ``<`` within
    the batch)."""
    cols = ("vec_id", "cl", "s", "nrm")
    n_side = new.select(*cols).toDF("new_doc", "cl_new", "s_new", "nrm_new")
    o_side = old.select(*cols).toDF("old_doc", "cl_old", "s_old", "nrm_old")
    ident = (
        F.col("old_doc") < F.col("new_doc")
        if within_batch
        else F.col("new_doc") != F.col("old_doc")
    )
    cos = _sdot(F.col("s_new"), F.col("s_old")) / (
        F.col("nrm_new") * F.col("nrm_old")
    )
    return (
        n_side.join(o_side, (F.col("cl_new") == F.col("cl_old")) & ident)
        .filter(cos >= F.lit(SEMDEDUP_TAU))
        .select("new_doc", "old_doc")
    )


def process_semdedup_batch(
    batch: DataFrame,
    cent_ids,
    C,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: "int | None" = None,
) -> None:
    """Admit one micro-batch of (vec_id, embedding array<float>) against
    the per-cluster kept-vector index. Stream order within a batch is
    vec_id order (the replay contract)."""
    spark = batch.sparkSession
    new = scale_and_assign(batch, cent_ids, C).localCheckpoint(eager=True)
    admit_batch(
        batch.select("vec_id"),
        [(index_table, new)],
        lambda: _cosine_dup_pairs(new, index_table.read(spark), within_batch=False),
        _cosine_dup_pairs(new, new, within_batch=True),
        flags_table,
        epoch_id,
    )


def start_incremental_semdedup(
    spark: SparkSession,
    source_dir: str,
    cent_ids,
    C,
    index_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """File-replayed embedding stream → per-batch incremental semantic
    dedup."""
    return run_per_batch(
        replay_parquet(spark, "vec_id bigint, embedding array<float>", source_dir),
        lambda b, e: process_semdedup_batch(
            b, cent_ids, C, index_table, flags_table, epoch_id=e
        ),
        checkpoint_dir,
    )
