"""Incremental streaming audio near-dedup parity: a WAV stream
replayed through the envelope band-index pipeline must flag exactly
the clips a greedy keep-first pass over the batch-verified near-dup
pair graph flags — independent of micro-batch boundaries — and the
index must hold exactly the kept clips' raw envelopes."""

from __future__ import annotations

import os

import numpy as np

from flink_stream_spark.operators.multimodal import (
    AUDIO_ENVELOPE,
    banded_l1_near_dup_pairs,
    wav_envelope_stats,
)
from flink_stream_spark.operators.wav import encode_wav
from flink_stream_spark.streaming.audio_dedup_stream import (
    start_incremental_audio_dedup,
)
from flink_stream_spark.tables.managed import Warehouse


def _greedy_reference(all_ids, verified_pairs):
    """Keep-first in doc_id order (same reference as the text/image twins)."""
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
    """24 clips: 8 distinct base waveforms; each base followed later
    in the stream by a bit-depth re-encode (identical samples after
    int16 widening to int32 — the decoded envelope is identical) and
    a small-perturbation near-dup, interleaved so duplicates land in
    DIFFERENT micro-batches than their originals. One non-WAV payload
    exercises the zero-envelope fallback path (it may dedup against
    other silent/fallback rows but must not crash the stream)."""
    rng = np.random.RandomState(31)
    bases = []
    for k in range(8):
        t = np.arange(512)
        wave = (
            6000 * np.sin(2 * np.pi * t / (20 + 3 * k))
            + rng.randint(-500, 500, 512)
        ).astype(np.int64)
        bases.append(np.clip(wave, -32768, 32767))
    docs = []
    for k, w in enumerate(bases):
        docs.append((k, encode_wav(w, rate=16000, bits=16)))
    for k, w in enumerate(bases):
        # same samples, different container params: int32 re-encode for
        # even k (values unchanged), rate change for odd k (envelope is
        # rate-independent)
        if k % 2 == 0:
            docs.append((100 + k, encode_wav(w, rate=16000, bits=32)))
        else:
            docs.append((100 + k, encode_wav(w, rate=44100, bits=16)))
    for k, w in enumerate(bases):
        perturbed = np.clip(w + rng.randint(-40, 40, 512), -32768, 32767)
        docs.append((200 + k, encode_wav(perturbed, rate=16000, bits=16)))
    docs.append((999, b"not audio at all, just text bytes"))
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


def test_incremental_audio_dedup_matches_greedy_batch(spark, tmp_path):
    docs = _corpus()
    src = tmp_path / "audio_src"
    src.mkdir()
    _write_stream_files(docs, src)

    wh = Warehouse(str(tmp_path / "wh"))
    index = wh.table("aud_index")
    flags = wh.table("aud_flags")
    q = start_incremental_audio_dedup(
        spark, str(src), index, flags, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    # reference: batch pairs over the FULL corpus (no hot cap — the
    # probe semantics) -> greedy keep-first
    media = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in docs], "doc_id bigint, payload binary"
    )
    stats = wav_envelope_stats(media).select("doc_id", "env")
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in banded_l1_near_dup_pairs(
            stats, AUDIO_ENVELOPE, cap_hot=False
        ).collect()
    ]
    kept_ref, dup_of_ref = _greedy_reference([d for d, _ in docs], pairs)

    flag_rows = flags.read(spark).collect()
    got_dups = {r["doc_id"]: r["dup_of"] for r in flag_rows if r["is_dup"]}
    got_kept = {r["doc_id"] for r in flag_rows if not r["is_dup"]}
    assert got_dups == dup_of_ref
    assert got_kept == kept_ref
    # every re-encode (100+k) was caught as a dup of its base — the
    # bit-depth/rate container changes decode to the same envelope
    assert all(100 + k in got_dups for k in range(8))

    # bounded index growth: exactly one envelope row per KEPT clip
    idx_rows = index.read(spark).select("doc_id").collect()
    assert {r["doc_id"] for r in idx_rows} == kept_ref
    assert len(idx_rows) == len(kept_ref)


def test_audio_stream_boundary_independence(spark, tmp_path):
    """The same corpus replayed as ONE batch produces the identical
    flag set as the 3-batch replay (batch-boundary independence)."""
    docs = _corpus()
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "audio_one"
    src.mkdir()
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in sorted(docs)], pa.int64()),
            "payload": pa.array([p for _, p in sorted(docs)], pa.binary()),
        }
    )
    pq.write_table(tbl, str(src / "all.parquet"))

    wh = Warehouse(str(tmp_path / "wh1"))
    index = wh.table("aud_index")
    flags = wh.table("aud_flags")
    q = start_incremental_audio_dedup(
        spark, str(src), index, flags, str(tmp_path / "ckpt1")
    )
    q.processAllAvailable()
    q.stop()

    src3 = tmp_path / "audio_three"
    src3.mkdir()
    _write_stream_files(docs, src3)
    wh3 = Warehouse(str(tmp_path / "wh3"))
    index3 = wh3.table("aud_index")
    flags3 = wh3.table("aud_flags")
    q3 = start_incremental_audio_dedup(
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
