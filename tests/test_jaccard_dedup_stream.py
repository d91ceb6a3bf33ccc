"""Incremental streaming exact-Jaccard dedup parity (round-8 verdict,
Next #7): a document stream replayed through the prefix-filter index
pipeline must flag exactly what a greedy keep-first pass over the
COMPLETE (brute-force) J >= 0.6 pair set flags — the twin inherits
the batch join's complete-recall property because prefix filtering is
recall-complete under any single consistent token order — independent
of where micro-batch boundaries fall, with a bounded index. Replay
idempotence: ``tests/test_dedup_stream.py``."""

from __future__ import annotations

import os

from flink_stream_spark.operators.dedup import JPF_TAU_DEN, JPF_TAU_NUM
from flink_stream_spark.streaming.jaccard_dedup_stream import (
    start_incremental_jaccard_dedup,
)
from flink_stream_spark.tables.managed import Warehouse

_W = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
).split()


def _corpus() -> list[tuple[int, str]]:
    """18 docs: 6 distinct 20-token bases; each base followed LATER in
    the stream by an exact duplicate and a tail-edit near-dup
    (J ~ 0.64 >= 0.6), interleaved so duplicates land in different
    micro-batches than their originals; plus borderline-below pairs
    that must NOT flag."""
    docs = []
    for k in range(6):
        toks = [_W[(i * (k + 3) + k) % len(_W)] for i in range(20)]
        base = " ".join(toks)
        docs.append((k, base))
        docs.append((100 + k, base))  # exact dup, later batch
        near = " ".join(toks[:-2] + ["zulu", f"yankee{k}"])
        docs.append((200 + k, near))  # tail-edit near-dup
    # an unrelated doc and a half-overlap doc (J < 0.6): never flagged
    docs.append((300, " ".join(_W[:10] + ["x1", "x2", "x3", "x4", "x5"])))
    docs.append((301, " ".join(["x1", "x2", "x3", "x4", "x5"] + _W[10:])))
    return docs


def _shingles(text: str) -> set[str]:
    toks = text.split(" ")
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    } if len(toks) >= 3 else set()


def _brute_pairs(docs):
    """ALL pairs with integer-exact 5*shared >= 3*union — the
    complete-recall ground truth (no blocking at all)."""
    out = []
    items = sorted(docs)
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            (da, ta), (db, tb) = items[i], items[j]
            sa, sb = _shingles(ta), _shingles(tb)
            if not sa or not sb:
                continue
            shared = len(sa & sb)
            union = len(sa | sb)
            if JPF_TAU_DEN * shared >= JPF_TAU_NUM * union:
                out.append((da, db))
    return out


def _greedy_reference(all_ids, pairs):
    smaller = {}
    for a, b in pairs:
        smaller.setdefault(b, []).append(a)
    kept, dup_of = set(), {}
    for doc in sorted(all_ids):
        cands = sorted(x for x in smaller.get(doc, []) if x in kept)
        if cands:
            dup_of[doc] = cands[0]
        else:
            kept.add(doc)
    return kept, dup_of


def _write_stream_files(docs, src, n_files=3) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = sorted(docs)
    per = (len(docs) + n_files - 1) // n_files
    for i in range(n_files):
        part = docs[i * per : (i + 1) * per]
        if not part:
            continue
        tbl = pa.table(
            {
                "doc_id": pa.array([d for d, _ in part], pa.int64()),
                "text": pa.array([t for _, t in part], pa.string()),
            }
        )
        fpath = str(src / f"batch_{i:03d}.parquet")
        pq.write_table(tbl, fpath)
        os.utime(fpath, (1_700_000_000 + i, 1_700_000_000 + i))


def _run_stream(spark, tmp_path, docs, tag, n_files):
    src = tmp_path / f"src_{tag}"
    src.mkdir()
    _write_stream_files(docs, src, n_files)
    wh = Warehouse(str(tmp_path / f"wh_{tag}"))
    arrs = wh.table("jac_arrs")
    prefixes = wh.table("jac_prefixes")
    flags = wh.table("jac_flags")
    q = start_incremental_jaccard_dedup(
        spark, str(src), arrs, prefixes, flags, str(tmp_path / f"ckpt_{tag}")
    )
    q.processAllAvailable()
    q.stop()
    return arrs, prefixes, flags


def test_incremental_jaccard_matches_complete_greedy(spark, tmp_path):
    docs = _corpus()
    arrs, prefixes, flags = _run_stream(spark, tmp_path, docs, "par", 3)

    kept_ref, dup_of_ref = _greedy_reference(
        [d for d, _ in docs], _brute_pairs(docs)
    )
    rows = flags.read(spark).collect()
    got_dups = {r["doc_id"]: r["dup_of"] for r in rows if r["is_dup"]}
    got_kept = {r["doc_id"] for r in rows if not r["is_dup"]}
    assert got_dups == dup_of_ref
    assert got_kept == kept_ref
    # every exact dup AND every tail-edit near-dup caught — including
    # the cross-batch ones (originals land in batch 0, copies later)
    for k in range(6):
        assert 100 + k in got_dups and 200 + k in got_dups
    # the J < 0.6 half-overlap pair must NOT flag
    assert 300 in got_kept and 301 in got_kept

    # bounded index: exactly one array row per KEPT doc; prefix rows
    # are each doc's n - ceil(tau n) + 1 tokens, nothing more
    idx = {r["doc_id"] for r in arrs.read(spark).select("doc_id").collect()}
    assert idx == kept_ref
    import math

    pre_counts = {
        r["doc_id"]: r["cnt"]
        for r in prefixes.read(spark)
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    n_by_doc = {
        r["doc_id"]: r["n"]
        for r in arrs.read(spark).select("doc_id", "n").collect()
    }
    for d, n in n_by_doc.items():
        expect = n - math.ceil(JPF_TAU_NUM * n / JPF_TAU_DEN) + 1
        assert pre_counts[d] == expect


def test_jaccard_stream_boundary_independence(spark, tmp_path):
    docs = _corpus()
    _a1, _p1, f1 = _run_stream(spark, tmp_path, docs, "one", 1)
    _a3, _p3, f3 = _run_stream(spark, tmp_path, docs, "three", 3)
    one = {
        (r["doc_id"], r["dup_of"], r["is_dup"]) for r in f1.read(spark).collect()
    }
    three = {
        (r["doc_id"], r["dup_of"], r["is_dup"]) for r in f3.read(spark).collect()
    }
    assert one == three
