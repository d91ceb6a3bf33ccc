"""The blocking-join contract (operators/blocking.py): ``self_pairs`` in
both forms, ``probe_pairs`` and the DuckDB mirror ``self_pairs_duck``
all equal a pure-Python reference — one row per shared key, the cap
boundary inclusive, the probe's ``!=`` identity filter."""

from __future__ import annotations

from collections import defaultdict

import duckdb
import pandas as pd
import pytest

from flink_stream_spark.operators.blocking import (
    probe_pairs,
    self_pairs,
    self_pairs_duck,
)

CAP = 3
KEYS = ["band", "sig"]
ROWS = (
    # (0, "at_cap") held by exactly CAP docs: nominates
    [(d, 0, "at_cap") for d in (1, 2, 3)]
    # (0, "over_cap") held by CAP + 1 docs: nominates only uncapped
    + [(d, 0, "over_cap") for d in (4, 5, 6, 7)]
    # docs 8 and 9 share two keys: two rows
    + [(8, 1, "x"), (9, 1, "x"), (8, 2, "x"), (9, 2, "x")]
    # a singleton key and a key shared across the capped groups
    + [(10, 3, "solo"), (1, 4, "y"), (4, 4, "y")]
)
SCHEMA = "doc_id bigint, band int, sig string"


def _buckets(rows):
    by = defaultdict(list)
    for d, *key in rows:
        by[tuple(key)].append(d)
    return by


def ref_self_pairs(rows, cap):
    return sorted(
        (a, b)
        for ds in _buckets(rows).values()
        if cap is None or len(ds) <= cap
        for a in ds
        for b in ds
        if a < b
    )


def ref_probe_pairs(new, old):
    old_by = _buckets(old)
    return sorted(
        (d, e) for d, *key in new for e in old_by.get(tuple(key), []) if e != d
    )


def _collect(df, a, b):
    return sorted((r[a], r[b]) for r in df.collect())


@pytest.mark.parametrize("cap", [None, CAP])
def test_self_pairs_matches_reference(spark, cap):
    got = _collect(
        self_pairs(spark.createDataFrame(ROWS, SCHEMA), KEYS, cap), "doc_a", "doc_b"
    )
    assert got == ref_self_pairs(ROWS, cap)
    assert got.count((8, 9)) == 2
    assert ((1, 2) in got) and (((4, 5) in got) == (cap is None))


@pytest.mark.parametrize("cap", [None, CAP])
def test_self_pairs_duck_matches_reference(cap):
    rows = pd.DataFrame(ROWS, columns=["doc_id", *KEYS])
    con = duckdb.connect()
    con.register("rows", rows)
    got = sorted(
        con.sql(
            f"WITH {self_pairs_duck('rows', KEYS, cap)} SELECT doc_a, doc_b FROM kpairs"
        ).fetchall()
    )
    assert got == ref_self_pairs(ROWS, cap)


def test_probe_pairs_matches_reference(spark):
    # doc 1 sits on both sides: it must not pair with itself, but still
    # pairs with the other old docs holding its keys
    new = [r for r in ROWS if r[0] in (1, 8, 10)]
    old = [r for r in ROWS if r[0] in (1, 2, 4, 9)]
    got = _collect(
        probe_pairs(
            spark.createDataFrame(new, SCHEMA), spark.createDataFrame(old, SCHEMA), KEYS
        ),
        "new_doc",
        "old_doc",
    )
    assert got == ref_probe_pairs(new, old)
    assert (1, 1) not in got and (1, 2) in got and got.count((8, 9)) == 2
