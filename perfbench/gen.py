"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of a seed:

* ``write_fixtures`` writes the ten parquet tables the registry queries
  read (the TPC-H-style star schema plus ``events``, ``documents`` and
  ``embeddings``) with the same column names, types and value domains
  as the engine's test fixtures.
* ``cdc_log`` produces a Debezium envelope log for the reference's two
  routed tables, ``account`` and ``product``: insert/update/delete ops,
  runs of equal ``ts_ms`` (ties broken by a strictly increasing
  ``lsn``), an optional drift field on a window of events, and keys
  drawn either spread over the key space or Zipf-hot.

``replay`` applies such a log in pure Python with the engine's
semantics (last event per key wins inside a batch, ``d`` deletes), so
it is the reference final state the CDC workloads are checked against.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part a merge window "
    "order column join vector"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
P_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

_US_PER_DAY = 86_400_000_000


def _days_us(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * _US_PER_DAY


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale ``sf`` (sf=0.01 is 60k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 40)
    n_vec = max(int(50_000 * sf), 40)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days_us("1995-01-01", 2404, rng, n_ord)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_days_us("1995-01-02", 2498, rng, n_li)),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.sort(
        rng.integers(0, 30 * _US_PER_DAY, n_ev)
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(40.0, n_ev) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 0.12, (10, 64))
    vecs = (centroids[labels] + rng.normal(0.0, 0.05, (n_vec, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_fixtures(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every fixture table and
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# -- CDC envelope logs --------------------------------------------------------

DRIFT_FIELD = "tier"
DELETE_SHARE = 0.1  # share of changes to a live key that delete it
TIE_RUN = 4  # consecutive envelopes sharing one ts_ms


@dataclass(frozen=True)
class Event:
    table: str
    op: str  # c | u | d
    key: int
    row: dict | None  # after-image (None for deletes)
    before: dict | None
    ts_ms: int
    lsn: int

    def envelope(self) -> str:
        return json.dumps(
            {
                "payload": {
                    "before": self.before,
                    "after": self.row,
                    "source": {"table": self.table, "schema": "commerce", "lsn": self.lsn},
                    "op": self.op,
                    "ts_ms": self.ts_ms,
                }
            },
            separators=(",", ":"),
        )


def _row(table: str, key: int, rng, drift: bool) -> dict:
    if table == "account":
        row = {
            "user_id": key,
            "email": f"u{key}_{int(rng.integers(0, 1_000_000)):06d}@example.com",
            "balance_cents": int(rng.integers(-50_000, 5_000_000)),
        }
        if drift:
            row[DRIFT_FIELD] = ("bronze", "silver", "gold")[int(rng.integers(0, 3))]
        return row
    return {
        "product_id": key,
        "product_name": f"Item_{key}_{int(rng.integers(0, 1000)):03d}",
        "stock": int(rng.integers(0, 10_000)),
    }


def cdc_log(
    seed: int,
    n_events: int,
    n_keys: int,
    *,
    zipf: float | None = None,
    tables: tuple[str, ...] = ("account", "product"),
    drift_window: tuple[int, int] | None = None,
    live: dict[tuple[str, int], dict] | None = None,
    start_lsn: int = 1,
) -> list[Event]:
    """A Debezium change log of ``n_events`` envelopes.

    Keys come from ``[0, n_keys)`` per table: uniform (``zipf=None``,
    spread over every bucket) or Zipf-distributed with exponent ``zipf``
    (a few hot keys take most of the changes). A key that is not live
    gets a ``c``; a live key gets ``u`` or, with ``DELETE_SHARE``, ``d``.
    ``ts_ms`` advances once every ``TIE_RUN`` events, so neighbours tie
    on ``ts_ms`` and only the strictly increasing ``lsn`` orders them.
    Account events with index inside ``drift_window`` carry the extra
    ``tier`` field. ``live`` (key state, updated in place) continues an
    earlier log; ``start_lsn`` continues its lsn sequence.
    """
    rng = np.random.default_rng(seed)
    live = {} if live is None else live
    if zipf is not None:
        ranks = np.arange(1, n_keys + 1, dtype=np.float64)
        p = ranks**-zipf
        p /= p.sum()
        perm = rng.permutation(n_keys)  # hot keys scattered over buckets
        keys = perm[rng.choice(n_keys, size=n_events, p=p)]
    else:
        keys = rng.integers(0, n_keys, n_events)
    which = rng.integers(0, len(tables), n_events)
    coin = rng.random(n_events)
    out = []
    for i in range(n_events):
        table, key = tables[int(which[i])], int(keys[i])
        prev = live.get((table, key))
        drift = (
            table == "account"
            and drift_window is not None
            and drift_window[0] <= i < drift_window[1]
        )
        lsn = start_lsn + i
        ts_ms = 1_700_000_000_000 + (lsn // TIE_RUN) * 7
        if prev is None:
            ev = Event(table, "c", key, _row(table, key, rng, drift), None, ts_ms, lsn)
        elif coin[i] < DELETE_SHARE:
            ev = Event(table, "d", key, None, prev, ts_ms, lsn)
        else:
            ev = Event(table, "u", key, _row(table, key, rng, drift), prev, ts_ms, lsn)
        if ev.op == "d":
            live.pop((table, key), None)
        else:
            live[(table, key)] = ev.row
        out.append(ev)
    return out


def snapshot_log(seed: int, n_keys: int, table: str = "account") -> list[Event]:
    """Initial-snapshot envelopes (Debezium op ``r``): one per key in
    ``[0, n_keys)``, the preload of a keyed table."""
    rng = np.random.default_rng(seed)
    return [
        Event(table, "r", k, _row(table, k, rng, False), None, 1_600_000_000_000, k + 1)
        for k in range(n_keys)
    ]


def replay(state: dict[str, dict[int, dict]], batch: list[Event]) -> int:
    """Apply one batch to ``state`` (table -> key -> row) with the
    engine's semantics: the event with the highest ``(ts_ms, lsn)`` per
    key wins, ``d`` removes the key, anything else replaces the row.
    Returns the number of rows applied (distinct keys in the batch)."""
    last: dict[tuple[str, int], Event] = {}
    for ev in batch:
        k = (ev.table, ev.key)
        if k not in last or (ev.ts_ms, ev.lsn) > (last[k].ts_ms, last[k].lsn):
            last[k] = ev
    for (table, key), ev in last.items():
        rows = state.setdefault(table, {})
        if ev.op == "d":
            rows.pop(key, None)
        else:
            rows[key] = dict(ev.row)
    return len(last)
