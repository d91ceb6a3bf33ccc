"""Incremental streaming video near-dedup parity: a Y4M stream
replayed through the per-frame spatial-band index pipeline must flag
exactly the clips a greedy keep-first pass over the batch-verified
near-dup pair graph flags — independent of micro-batch boundaries —
and the index must hold exactly the kept clips' raw signatures.
Completes the round-6 verdict's #4 (video was the only batch-only
dedup modality)."""

from __future__ import annotations

import os

import numpy as np

from flink_stream_spark.operators.multimodal import (
    VID_FRAMES,
    VID_H,
    VID_W,
    VIDEO_MOTION,
    banded_l1_near_dup_pairs,
    video_motion_stats,
)
from flink_stream_spark.operators.y4m import encode_y4m
from flink_stream_spark.streaming.video_dedup_stream import (
    start_incremental_video_dedup,
)
from flink_stream_spark.tables.managed import Warehouse


def _greedy_reference(all_ids, verified_pairs):
    """Keep-first in doc_id order (same reference as the other twins)."""
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


def _corpus() -> list[tuple[int, bytes]]:
    """26 clips: 8 distinct base clips; each base followed later in
    the stream by a COLORSPACE re-encode (mono/420/444 rotate — the
    luma plane decodes identically, so the signature is identical)
    and a small-perturbation near-dup, interleaved so duplicates land
    in DIFFERENT micro-batches than their originals. Two non-Y4M
    payloads exercise the zero-signature fallback: both must be KEPT
    (all-zero bands nominate nothing — undecodable clips are never
    silently deduped against each other)."""
    rng = np.random.RandomState(47)
    cs = ["mono", "420", "444"]
    bases = [
        rng.randint(0, 256, (VID_FRAMES, VID_H, VID_W)).astype(np.uint8)
        for _ in range(8)
    ]
    docs = []
    for k, fr in enumerate(bases):
        docs.append((k, encode_y4m(fr, colorspace=cs[k % 3])))
    for k, fr in enumerate(bases):
        # same luma, different chroma framing: the decoded signature
        # must be identical
        docs.append((100 + k, encode_y4m(fr, colorspace=cs[(k + 1) % 3])))
    for k, fr in enumerate(bases):
        pert = np.clip(
            fr.astype(np.int64) + rng.randint(-2, 3, fr.shape), 0, 255
        ).astype(np.uint8)
        docs.append((200 + k, encode_y4m(pert, colorspace=cs[k % 3])))
    docs.append((998, b"not video at all"))
    docs.append((999, b"also not video, a different text"))
    return docs


def _write_stream_files(docs, src) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = sorted(docs)
    third = (len(docs) + 2) // 3
    for i in range(3):
        part = docs[i * third : (i + 1) * third]
        if not part:
            continue
        tbl = pa.table(
            {
                "doc_id": pa.array([d for d, _ in part], pa.int64()),
                "payload": pa.array([p for _, p in part], pa.binary()),
            }
        )
        fpath = str(src / f"batch_{i:03d}.parquet")
        pq.write_table(tbl, fpath)
        os.utime(fpath, (1_700_000_000 + i, 1_700_000_000 + i))


def test_incremental_video_dedup_matches_greedy_batch(spark, tmp_path):
    docs = _corpus()
    src = tmp_path / "video_src"
    src.mkdir()
    _write_stream_files(docs, src)

    wh = Warehouse(str(tmp_path / "wh"))
    index = wh.table("vid_index")
    flags = wh.table("vid_flags")
    q = start_incremental_video_dedup(
        spark, str(src), index, flags, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    # reference: batch pairs over the FULL corpus (no hot cap — the
    # probe semantics) -> greedy keep-first
    media = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in docs], "doc_id bigint, payload binary"
    )
    stats = video_motion_stats(media).select("doc_id", "block_means")
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in banded_l1_near_dup_pairs(
            stats, VIDEO_MOTION, cap_hot=False
        ).collect()
    ]
    kept_ref, dup_of_ref = _greedy_reference([d for d, _ in docs], pairs)

    flag_rows = flags.read(spark).collect()
    got_dups = {r["doc_id"]: r["dup_of"] for r in flag_rows if r["is_dup"]}
    got_kept = {r["doc_id"] for r in flag_rows if not r["is_dup"]}
    assert got_dups == dup_of_ref
    assert got_kept == kept_ref
    # every colorspace re-encode (100+k) was caught as a dup of its
    # base — the chroma-framing change decodes to identical luma
    assert all(100 + k in got_dups for k in range(8))
    # both undecodable payloads were KEPT — the zero-band guard: they
    # must never be flagged duplicates of each other
    assert 998 in got_kept and 999 in got_kept

    # bounded index growth: exactly one signature row per KEPT clip
    idx_rows = index.read(spark).select("doc_id").collect()
    assert {r["doc_id"] for r in idx_rows} == kept_ref
    assert len(idx_rows) == len(kept_ref)


def test_video_stream_boundary_independence(spark, tmp_path):
    """The same corpus replayed as ONE batch produces the identical
    flag set as the 3-batch replay (batch-boundary independence)."""
    docs = _corpus()
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "video_one"
    src.mkdir()
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in sorted(docs)], pa.int64()),
            "payload": pa.array([p for _, p in sorted(docs)], pa.binary()),
        }
    )
    pq.write_table(tbl, str(src / "all.parquet"))

    wh = Warehouse(str(tmp_path / "wh1"))
    index = wh.table("vid_index")
    flags = wh.table("vid_flags")
    q = start_incremental_video_dedup(
        spark, str(src), index, flags, str(tmp_path / "ckpt1")
    )
    q.processAllAvailable()
    q.stop()

    src3 = tmp_path / "video_three"
    src3.mkdir()
    _write_stream_files(docs, src3)
    wh3 = Warehouse(str(tmp_path / "wh3"))
    index3 = wh3.table("vid_index")
    flags3 = wh3.table("vid_flags")
    q3 = start_incremental_video_dedup(
        spark, str(src3), index3, flags3, str(tmp_path / "ckpt3")
    )
    q3.processAllAvailable()
    q3.stop()

    one = {
        (r["doc_id"], r["dup_of"], r["is_dup"]) for r in flags.read(spark).collect()
    }
    three = {
        (r["doc_id"], r["dup_of"], r["is_dup"]) for r in flags3.read(spark).collect()
    }
    assert one == three
