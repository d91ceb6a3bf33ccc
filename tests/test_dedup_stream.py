"""Incremental streaming near-dedup parity.

A document stream replayed in doc_id order through the LSH band-index
pipeline must flag exactly the documents a greedy keep-first pass over
the batch-verified near-dup pair graph flags — independent of where
the micro-batch boundaries fall.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.dedup import dedup_minhash_lsh_pairs
from flink_stream_spark.streaming.dedup_stream import start_incremental_dedup
from flink_stream_spark.tables.managed import Warehouse


def _greedy_reference(all_ids, verified_pairs):
    """Keep-first in doc_id order: a doc is a duplicate iff it has a
    verified pair with a smaller-id doc that was itself kept."""
    smaller = {}
    for a, b in verified_pairs:  # a < b by construction
        smaller.setdefault(b, []).append(a)
    kept, dup_of = set(), {}
    for doc in sorted(all_ids):
        cands = sorted(x for x in smaller.get(doc, []) if x in kept)
        if cands:
            dup_of[doc] = cands[0]
        else:
            kept.add(doc)
    return kept, dup_of


def test_incremental_dedup_matches_greedy_batch(spark, sf_small, tmp_path):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    # replay in 4 files of contiguous doc_id ranges (deterministic
    # stream order via strictly increasing mtimes)
    src = tmp_path / "stream_src"
    src.mkdir()
    rows = docs.orderBy("doc_id").collect()
    import pyarrow as pa
    import pyarrow.parquet as pq

    quarter = (len(rows) + 3) // 4
    for i in range(4):
        part = rows[i * quarter : (i + 1) * quarter]
        if not part:
            continue
        tbl = pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in part], pa.int64()),
                "text": pa.array([r["text"] for r in part], pa.string()),
            }
        )
        fpath = str(src / f"batch_{i:03d}.parquet")
        pq.write_table(tbl, fpath)
        os.utime(fpath, (1_700_000_000 + i, 1_700_000_000 + i))

    wh = Warehouse(str(tmp_path / "wh"))
    bands = wh.table("dedup_bands")
    shingles = wh.table("dedup_shingles")
    flags = wh.table("dedup_flags")
    q = start_incremental_dedup(
        spark,
        str(src),
        bands,
        shingles,
        flags,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r["doc_id"]: r["dup_of"]
        for r in flags.read(spark).filter(F.col("is_dup")).collect()
    }
    verified = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh_pairs(spark, sf_small)
        .select("doc_a", "doc_b")
        .collect()
    ]
    kept, want = _greedy_reference([r["doc_id"] for r in rows], verified)
    assert got == want
    # the band index holds exactly the kept docs
    assert {r["doc_id"] for r in bands.read(spark).select("doc_id").distinct().collect()} == kept


def test_adversarial_clique_batch_no_driver_pairs(spark, tmp_path):
    """One batch of 1000 MUTUAL near-dups (a full clique in the verified
    pair graph — ~500k pairs). The old greedy collected every pair to
    the driver (O(batch²)); the DataFrame-side fixpoint resolves the
    clique in one propagation round with only scalar counts crossing to
    the driver. Exactly the smallest doc is kept."""
    from flink_stream_spark.streaming.dedup_stream import process_batch

    n = 1000
    docs = spark.range(n).select(
        (F.col("id") + 100).alias("doc_id"),
        F.lit("the same exact document text repeated for everyone here").alias("text"),
    )
    wh = Warehouse(str(tmp_path / "wh"))
    bands, shingles, flags = (
        wh.table("b"), wh.table("s"), wh.table("f"),
    )
    process_batch(docs, bands, shingles, flags, epoch_id=0)
    out = flags.read(spark)
    kept_ids = [r["doc_id"] for r in out.filter(~F.col("is_dup")).collect()]
    assert kept_ids == [100]
    assert out.filter(F.col("is_dup")).count() == n - 1
    # every duplicate points at the one kept doc
    assert out.filter(F.col("is_dup")).select("dup_of").distinct().collect()[0][0] == 100
    # index holds only the kept doc
    assert bands.read(spark).select("doc_id").distinct().count() == 1


def _replay_twins():
    """Per twin: (batch factory, index-table names, process call). Each
    batch holds originals AND later near-dups, so the replayed epoch
    runs the index probe and the within-batch resolve."""
    from tests.test_audio_dedup_stream import _corpus as audio_corpus
    from tests.test_image_dedup_stream import _corpus as image_corpus
    from tests.test_jaccard_dedup_stream import _corpus as text_corpus
    from tests.test_semdedup_stream import _centroids
    from tests.test_semdedup_stream import _corpus as vec_corpus
    from tests.test_video_dedup_stream import _corpus as video_corpus

    from flink_stream_spark.streaming.audio_dedup_stream import process_audio_batch
    from flink_stream_spark.streaming.dedup_stream import process_batch
    from flink_stream_spark.streaming.image_dedup_stream import process_image_batch
    from flink_stream_spark.streaming.jaccard_dedup_stream import (
        process_jaccard_batch,
    )
    from flink_stream_spark.streaming.semdedup_stream import process_semdedup_batch
    from flink_stream_spark.streaming.video_dedup_stream import process_video_batch

    def text(spark):
        return spark.createDataFrame(text_corpus()[:8], "doc_id bigint, text string")

    def media(corpus):
        docs = corpus()
        return lambda spark: spark.createDataFrame(
            docs[:4] + docs[8:10], "doc_id bigint, payload binary"
        )

    def vectors(spark):
        docs = vec_corpus()
        return spark.createDataFrame(
            docs[:4] + docs[16:18], "vec_id bigint, embedding array<float>"
        )

    cent_ids, C = _centroids()
    return {
        "text": (text, ("bands", "shingles"), process_batch),
        "jaccard": (text, ("arrs", "prefixes"), process_jaccard_batch),
        "semdedup": (
            vectors,
            ("index",),
            lambda b, *t, epoch_id: process_semdedup_batch(
                b, cent_ids, C, *t, epoch_id=epoch_id
            ),
        ),
        "image": (media(image_corpus), ("index",), process_image_batch),
        "audio": (media(audio_corpus), ("index",), process_audio_batch),
        "video": (media(video_corpus), ("index",), process_video_batch),
    }


@pytest.mark.parametrize(
    "twin", ["text", "jaccard", "semdedup", "image", "audio", "video"]
)
def test_process_replay_is_noop(spark, tmp_path, twin):
    """At-least-once replay: re-running an epoch whose commits landed
    must not change any table — every commit carries the epoch token
    (the double-append hazard), for every streaming dedup twin."""
    make_batch, index_names, process = _replay_twins()[twin]
    batch = make_batch(spark)
    wh = Warehouse(str(tmp_path / "wh"))
    tables = [wh.table(n) for n in (*index_names, "flags")]
    process(batch, *tables, epoch_id=7)

    def state():
        return [(t.current_version(), t.read(spark).count()) for t in tables]

    before = state()
    assert all(v > 0 for v, _ in before)
    process(batch, *tables, epoch_id=7)  # replay
    assert state() == before
    # the replayed flags still flag at least one duplicate
    assert tables[-1].read(spark).filter(F.col("is_dup")).count() > 0
