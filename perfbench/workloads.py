"""The four workloads. Each drives the engine only through its public
entry points and returns a ``Result``: set-up time, the wall time of
each unit of work, per-operation latencies, correctness counts, and
the per-layer figures it can take from its own spans and the tables'
metadata (the event-log figures are added by ``run.py``).

Protocol common to all four: one client thread, a closed loop (the
next operation is handed over only when the previous one is visible),
every correctness check outside the timed window.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_stream_spark.cdc.envelope import apply_cdc_batch, parse_envelopes
from flink_stream_spark.operators import REGISTRY
from flink_stream_spark.streaming.cdc_pipeline import start_cdc_pipeline
from flink_stream_spark.tables.managed import ManagedTable, Warehouse
from flink_stream_spark.testing.oracle import compare_query

from perfbench.gen import DRIFT_FIELD, cdc_log, replay, snapshot_log, write_fixtures
from perfbench.trace import Tracer, cpu_s, median

# modules whose import registers the queries below
OPERATOR_MODULES = (
    "relational", "tpch_extra", "events", "cdc", "dedup", "corpus_ops", "multimodal",
)

# No Python UDFs: scan, codegen, exchanges and per-task overhead.
RELATIONAL = (
    "q1_pricing_summary", "q5_local_supplier_volume", "q18_large_volume_customer",
    "window_row_number_topk", "events_sessionize", "cdc_apply_final_state",
)
# Python boundary (codecs, UDFs), build-time jobs, near-dup band joins.
CURATION = (
    "dedup_minhash_lsh_pairs", "text_bpe_encode", "multimodal_image_dedup_dhash",
)
FIXTURE_SF = 0.01

ACCOUNT = T.StructType(
    [
        T.StructField("user_id", T.IntegerType()),
        T.StructField("email", T.StringType()),
        T.StructField("balance_cents", T.LongType()),
    ]
)
PRODUCT = T.StructType(
    [
        T.StructField("product_id", T.IntegerType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("stock", T.IntegerType()),
    ]
)
SCHEMAS = {"account": ACCOUNT, "product": PRODUCT}
KEYS = {"account": ["user_id"], "product": ["product_id"]}
FILES_PER_BATCH = 16  # start_cdc_pipeline's maxFilesPerTrigger


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer


@dataclass
class Result:
    setup_s: float
    units: list[float]
    ops: list[float]
    attempted: int
    failed: int
    unit_name: str
    op_name: str
    # human-readable figures beside the JSON metrics
    notes: dict = field(default_factory=dict)
    # CPU seconds of the engine's processes per unit of work
    unit_cpu: list[float] = field(default_factory=list)
    # per-layer figures per unit of work (traced run only)
    layer: dict = field(default_factory=dict)
    # event-log job selector for the measured window
    select: Callable[[dict], bool] | None = None
    problems: list[str] = field(default_factory=list)


class _Collected:
    """A materialized result handed to ``compare_query`` in place of
    the DataFrame, so the check does not run the query a second time."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _group(ctx: Ctx, name: str) -> None:
    ctx.spark.sparkContext.setJobGroup(name, name)


def units_for(seconds: float, unit_s: float, least: int = 1) -> int:
    """Units of work in the timed window: as many units of nominal
    length ``unit_s`` as fit in ``seconds``, fixed before the run so
    that every run of a seed does the same work."""
    return max(least, int(seconds // unit_s))


# -- batch workloads ----------------------------------------------------------


def _batch(ctx: Ctx, queries: tuple[str, ...], pass_s: float) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "fixtures")
    write_fixtures(sf_dir, ctx.seed, FIXTURE_SF)
    problems: list[str] = []

    # set-up: one untimed pass that warms the JVM and materializes
    # every result for the oracle check below
    t0 = time.perf_counter()
    _group(ctx, "setup")
    results = {}
    for q in queries:
        spark.catalog.clearCache()
        try:
            results[q] = REGISTRY[q].build(spark, sf_dir).toPandas()
        except Exception as e:  # a failing query counts, the run goes on
            problems.append(f"{q}: warm-up failed: {type(e).__name__}: {e}"[:300])
    setup_s = time.perf_counter() - t0
    spark.catalog.clearCache()

    failed = len(queries) - len(results)
    for q, pdf in results.items():
        oracle = REGISTRY[q].oracle
        r = compare_query(q, _Collected(pdf), oracle, sf_dir)
        ok = r.ok if oracle is not None else r.spark_rows > 0
        if not ok:
            failed += 1
            problems.append(f"{q}: wrong result: {r.detail or (r.spark_rows, r.duck_rows)}")

    units, ops, unit_cpu = [], [], []
    attempted = len(queries)
    tr.reset()
    for _ in range(units_for(ctx.seconds, pass_s)):
        t_pass, c_pass = time.perf_counter(), cpu_s()
        for q in queries:
            spark.catalog.clearCache()
            attempted += 1
            t = time.perf_counter()
            try:
                _group(ctx, f"build:{q}")
                with tr.span("operators.build"):
                    df = REGISTRY[q].build(spark, sf_dir)
                _group(ctx, f"run:{q}")
                with tr.span("spark.run"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed += 1
                problems.append(f"{q}: failed: {type(e).__name__}: {e}"[:300])
                continue
            ops.append(time.perf_counter() - t)
        units.append(time.perf_counter() - t_pass)
        unit_cpu.append(cpu_s() - c_pass)
    _group(ctx, "teardown")
    spark.catalog.clearCache()

    n = len(units)
    return Result(
        setup_s, units, ops, attempted, failed, f"cold pass of {len(queries)} queries", "query",
        notes={"passes": n},
        unit_cpu=unit_cpu,
        layer={"operators.build_s": tr.total("operators.build") / n},
        select=lambda p: p.get("spark.jobGroup.id", "").startswith(("build:", "run:")),
        problems=problems,
    )


def batch_relational(ctx: Ctx) -> Result:
    return _batch(ctx, RELATIONAL, pass_s=6.5)


def batch_curation(ctx: Ctx) -> Result:
    return _batch(ctx, CURATION, pass_s=6.5)


# -- CDC helpers --------------------------------------------------------------


def _write_envelopes(path: str, events, mtime: float | None = None) -> None:
    with open(path, "w") as f:
        f.write("\n".join(e.envelope() for e in events) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _state_mismatches(pdf, expected: dict[int, dict], key: str, cols) -> int:
    """Keys whose row in ``pdf`` differs from the replayed state."""
    got = {}
    for rec in pdf.to_dict("records"):
        got[int(rec[key])] = {
            c: (None if _isnull(rec.get(c)) else rec.get(c)) for c in cols
        }
    bad = len(set(got) ^ set(expected))
    for k in set(got) & set(expected):
        want = {c: expected[k].get(c) for c in cols}
        if any(_norm(got[k][c]) != _norm(want[c]) for c in cols):
            bad += 1
    return bad


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _norm(v):
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    return v


def _table_layer(table: ManagedTable, v_from: int, units: int) -> dict:
    """tables.* figures from the table's own metadata: the commit log
    and the version-to-version diff of ``data_files()``."""
    log = [c for c in table.versions() if c["version"] > v_from]
    added = removed = written = 0
    prev = set(table.data_files(v_from)) if v_from else set()
    for c in log:
        cur = set(table.data_files(c["version"]))
        new = cur - prev
        added += len(new)
        removed += len(prev - cur)
        written += sum(os.path.getsize(p) for p in new)
        prev = cur
    live = table.data_files()
    live_bytes = sum(os.path.getsize(p) for p in live) or 1
    return {
        "tables.versions": len(log) / units,
        "tables.compactions": sum(c["operation"] == "compact" for c in log) / units,
        "tables.files_added": added / units,
        "tables.files_removed": removed / units,
        "tables.live_files": len(live),
        "tables.write_amp": written / live_bytes,
    }


def _stream_batches(ckpt: str) -> dict[int, list[str]]:
    """Files per micro-batch, from the file source's metadata log in
    the query's checkpoint (plain and compacted log files)."""
    out: dict[int, set[str]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(int(e["batchId"]), set()).add(os.path.basename(e["path"]))
    return {b: sorted(fs) for b, fs in out.items()}


# -- cdc_stream_cow -----------------------------------------------------------

STREAM_KEYS = 4000  # per table, spread over every bucket
STREAM_EVENTS_PER_FILE = 50
STREAM_WARMUP_BATCHES = 2
STREAM_BURST_S = 5.0  # --seconds per timed burst


def _stream_files(src: str, events, n_files: int, base_mtime: float) -> dict[str, list]:
    os.makedirs(src, exist_ok=True)
    files = {}
    per = STREAM_EVENTS_PER_FILE
    for i in range(n_files):
        name = f"part-{i:06d}.json"
        chunk = events[i * per : (i + 1) * per]
        # strictly increasing mtimes: the file source takes the oldest
        # files first, so micro-batches follow log order
        _write_envelopes(os.path.join(src, name), chunk, base_mtime + i)
        files[name] = chunk
    return files


def cdc_stream_cow(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    per_batch = FILES_PER_BATCH * STREAM_EVENTS_PER_FILE
    n_bursts = units_for(ctx.seconds, STREAM_BURST_S, least=3)
    n_files = n_bursts * FILES_PER_BATCH  # a burst is one micro-batch
    mid = (n_files // 2) * STREAM_EVENTS_PER_FILE  # drift on one file
    events = cdc_log(
        ctx.seed, n_files * STREAM_EVENTS_PER_FILE, STREAM_KEYS,
        drift_window=(mid, mid + STREAM_EVENTS_PER_FILE),
    )
    warm_events = cdc_log(ctx.seed + 7919, STREAM_WARMUP_BATCHES * per_batch, STREAM_KEYS)
    base = time.time() - 10 * n_files
    _stream_files(os.path.join(ctx.work, "warm_src"), warm_events,
                  STREAM_WARMUP_BATCHES * FILES_PER_BATCH, base)
    wh = Warehouse(os.path.join(ctx.work, "wh"))

    # set-up: drain a short backlog into separate warm-up tables
    t0 = time.perf_counter()
    _group(ctx, "setup")
    q = start_cdc_pipeline(
        spark, os.path.join(ctx.work, "warm_src"), wh, SCHEMAS, KEYS,
        checkpoint_dir=os.path.join(ctx.work, "warm_ckpt"),
        trigger_seconds=0, table_suffix="_warmup",
    )
    q.processAllAvailable()
    q.stop()
    setup_s = time.perf_counter() - t0

    # the backlog is staged beside the source directory and lands in
    # bursts; each burst restarts the pipeline from its checkpoint and
    # drains it (landing files while a query lists the directory would
    # split micro-batches at random)
    stage, src = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "src")
    files = _stream_files(stage, events, n_files, base + n_files)
    names = sorted(files)
    os.makedirs(src)
    ckpt = os.path.join(ctx.work, "ckpt")
    problems: list[str] = []
    _group(ctx, "stream")
    committed: dict[int, object] = {}  # batch id -> its progress report
    query_id = None
    tr.reset()
    units: list[float] = []
    unit_cpu: list[float] = []
    try:
        for b in range(n_bursts):
            for n in names[b * FILES_PER_BATCH : (b + 1) * FILES_PER_BATCH]:
                os.rename(os.path.join(stage, n), os.path.join(src, n))
            t, c = time.perf_counter(), cpu_s()
            q = None
            try:
                with tr.span("streaming.burst"):
                    q = start_cdc_pipeline(
                        spark, src, wh, SCHEMAS, KEYS, checkpoint_dir=ckpt, trigger_seconds=0,
                    )
                    q.processAllAvailable()
                units.append(time.perf_counter() - t)
                unit_cpu.append(cpu_s() - c)
            finally:
                if q is not None:
                    query_id = q.id
                    committed.update(
                        {p.batchId: p for p in q.recentProgress if p.numInputRows > 0}
                    )
                    q.stop()
    except Exception as e:
        problems.append(f"stream failed: {type(e).__name__}: {e}"[:300])
    progress = [committed[b] for b in sorted(committed)]
    _group(ctx, "teardown")

    # correctness: both tables against the pure-Python replay
    state: dict[str, dict[int, dict]] = {}
    replay(state, events)
    failed = n_bursts - len(units)
    drifted = any(DRIFT_FIELD in (e.row or {}) for e in events)
    for t, schema in SCHEMAS.items():
        cols = [f.name for f in schema.fields]
        if t == "account" and drifted:
            cols.append(DRIFT_FIELD)
        table = wh.table(f"{t}_postgres")
        bad = _state_mismatches(
            table.read(spark).toPandas(), state.get(t, {}), KEYS[t][0], cols
        )
        if bad:
            failed += 1
            problems.append(f"{t}_postgres: {bad} keys differ from the replay")
    n_committed = sum(p.numInputRows for p in progress)
    if n_committed != len(events):
        failed += 1
        problems.append(f"stream committed {n_committed} of {len(events)} envelopes")

    ops = [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in progress]
    n_units = max(len(units), 1)
    layer = {}
    if tr.enabled:
        by_batch = _stream_batches(ckpt)
        applied = sum(
            replay({}, [e for f in fs for e in files[f]]) for fs in by_batch.values()
        )
        layer = {
            "cdc.events_in": len(events) / n_units,
            "cdc.rows_applied": applied / n_units,
            "cdc.reduce_ratio": applied / len(events),
            "streaming.batches": len(progress) / n_units,
        }
        for phase, name in (
            ("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
            ("walCommit", "wal_commit_s"), ("latestOffset", "latest_offset_s"),
            ("commitOffsets", "commit_offsets_s"),
        ):
            layer[f"streaming.{name}"] = median(
                [p.durationMs.get(phase, 0) / 1000.0 for p in progress] or [0.0]
            )
        layer["tables.merge_s"] = tr.total("tables.merge") / n_units
        layer["tables.compact_s"] = tr.total("tables.compact") / n_units
        for t in SCHEMAS:
            for k, v in _table_layer(wh.table(f"{t}_postgres"), 0, n_units).items():
                layer[k] = layer.get(k, 0) + v
        layer["tables.write_amp"] /= len(SCHEMAS)
    return Result(
        setup_s, units, ops, n_bursts + len(progress) + len(SCHEMAS) + 1, failed,
        "burst of one micro-batch", "micro-batch",
        notes={
            "cdc_events_per_s": len(events) / max(sum(units), 1e-9),
            "micro_batches": len(progress),
            "envelopes": len(events),
        },
        unit_cpu=unit_cpu,
        layer=layer,
        select=lambda p: p.get("sql.streaming.queryId") == query_id,
        problems=problems,
    )


# -- cdc_mor_rw ---------------------------------------------------------------

MOR_KEYS = 5000
MOR_BATCH_EVENTS = 500
MOR_ZIPF = 1.1
MOR_CYCLES_PER_ROUND = 2  # commits per round; each round ends in a full scan
MOR_WARMUP_CYCLES = 1
MOR_ROUND_S = 13.0  # --seconds per timed round


def cdc_mor_rw(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    src = os.path.join(ctx.work, "mor_batches")
    os.makedirs(src)
    snap = snapshot_log(ctx.seed, MOR_KEYS)
    live = {("account", e.key): e.row for e in snap}
    n_rounds = units_for(ctx.seconds, MOR_ROUND_S)
    max_cycles = MOR_WARMUP_CYCLES + MOR_CYCLES_PER_ROUND * n_rounds
    log = cdc_log(
        ctx.seed + 1, max_cycles * MOR_BATCH_EVENTS, MOR_KEYS, zipf=MOR_ZIPF,
        tables=("account",), live=live, start_lsn=MOR_KEYS + 1,
    )
    batches = [
        log[i * MOR_BATCH_EVENTS : (i + 1) * MOR_BATCH_EVENTS] for i in range(max_cycles)
    ]
    _write_envelopes(os.path.join(src, "snapshot.json"), snap)
    for i, b in enumerate(batches):
        _write_envelopes(os.path.join(src, f"b{i:05d}.json"), b)
    rng = np.random.default_rng(ctx.seed + 2)
    probe = [int(b[int(rng.integers(0, len(b)))].key) for b in batches]

    table = ManagedTable(os.path.join(ctx.work, "wh"), "account_mor", ["user_id"])
    lookups: list[tuple[int, int, list]] = []  # (cycle, key, rows)
    scans: list[tuple[int, tuple]] = []  # (cycle, (count, sum))
    t_merge, t_lookup, t_scan = [], [], []

    def envelopes(name):
        raw = spark.read.text(os.path.join(src, name))
        return parse_envelopes(raw, ACCOUNT)

    def cycle(i: int) -> float:
        t = time.perf_counter()
        with tr.span("cdc.apply"):
            apply_cdc_batch(table, envelopes(f"b{i:05d}.json"), ["user_id"], merge_mode="mor")
        dt = time.perf_counter() - t
        with tr.span("tables.maybe_compact"):
            table.maybe_compact(spark)
        t = time.perf_counter()
        with tr.span("tables.lookup"):
            rows = [r.asDict() for r in table.lookup(spark, {"user_id": probe[i]}).collect()]
        t_lookup.append(time.perf_counter() - t)
        lookups.append((i, probe[i], rows))
        return dt

    def scan(i: int) -> None:
        t = time.perf_counter()
        with tr.span("tables.scan"):
            r = table.read(spark).agg(F.count("*"), F.sum("balance_cents")).collect()[0]
        t_scan.append(time.perf_counter() - t)
        scans.append((i, (int(r[0]), int(r[1] or 0))))

    # set-up: preload the snapshot, then a warm-up cycle and a scan
    t0 = time.perf_counter()
    _group(ctx, "setup")
    apply_cdc_batch(table, envelopes("snapshot.json"), ["user_id"])
    for i in range(MOR_WARMUP_CYCLES):
        cycle(i)
    scan(MOR_WARMUP_CYCLES - 1)
    setup_s = time.perf_counter() - t0
    v_start = table.current_version()
    t_lookup.clear()
    t_scan.clear()
    tr.reset()

    problems: list[str] = []
    units, ops, unit_cpu = [], [], []
    failed = 0
    i = MOR_WARMUP_CYCLES
    for _ in range(n_rounds):
        t_round, c_round = time.perf_counter(), cpu_s()
        try:
            for _ in range(MOR_CYCLES_PER_ROUND):
                _group(ctx, f"cycle:{i}")
                ops.append(cycle(i))
                i += 1
            scan(i - 1)
        except Exception as e:
            failed += 1
            problems.append(f"cycle {i}: {type(e).__name__}: {e}"[:300])
            break
        units.append(time.perf_counter() - t_round)
        unit_cpu.append(cpu_s() - c_round)
    _group(ctx, "teardown")
    n_cycles = i

    # correctness: replay the same log, checking every lookup and scan
    # at the commit it followed, then the final table
    state: dict[str, dict[int, dict]] = {}
    replay(state, snap)
    look_at = {c: (k, rows) for c, k, rows in lookups}
    scan_at = dict(scans)
    for c in range(n_cycles):
        replay(state, batches[c])
        rows = state["account"]
        k, got = look_at[c]
        want = [rows[k]] if k in rows else []
        if [{**g} for g in got] != [dict(w) for w in want]:
            failed += 1
            problems.append(f"lookup of {k} after commit {c}: {got} != {want}")
        if c in scan_at:
            exp = (len(rows), sum(r["balance_cents"] for r in rows.values()))
            if scan_at[c] != exp:
                failed += 1
                problems.append(f"scan after commit {c}: {scan_at[c]} != {exp}")
    cols = [f.name for f in ACCOUNT.fields]
    bad = _state_mismatches(table.read(spark).toPandas(), state["account"], "user_id", cols)
    if bad:
        failed += 1
        problems.append(f"account_mor: {bad} keys differ from the replay")

    n_units = max(len(units), 1)
    measured = n_cycles - MOR_WARMUP_CYCLES
    layer = {}
    if tr.enabled:
        applied = sum(
            replay({}, batches[c]) for c in range(MOR_WARMUP_CYCLES, n_cycles)
        )
        events_in = measured * MOR_BATCH_EVENTS
        layer = {
            "cdc.events_in": events_in / n_units,
            "cdc.rows_applied": applied / n_units,
            "cdc.reduce_ratio": applied / max(events_in, 1),
            "tables.merge_s": tr.total("tables.merge") / n_units,
            "tables.compact_s": tr.total("tables.compact") / n_units,
            **_table_layer(table, v_start, n_units),
        }
    return Result(
        setup_s, units, ops, measured + len(lookups) + len(scans) + 1, failed,
        f"round of {MOR_CYCLES_PER_ROUND} commits + scan", "commit",
        notes={
            "cdc_events_per_s": measured * MOR_BATCH_EVENTS / max(sum(ops), 1e-9),
            "lookup_p50_s": median(t_lookup or [0.0]),
            "scan_p50_s": median(t_scan or [0.0]),
            "lookups": len(t_lookup),
            "scans": len(t_scan),
        },
        unit_cpu=unit_cpu,
        layer=layer,
        select=lambda p: p.get("spark.jobGroup.id", "").startswith("cycle:"),
        problems=problems,
    )


WORKLOADS = {
    "batch_relational": batch_relational,
    "batch_curation": batch_curation,
    "cdc_stream_cow": cdc_stream_cow,
    "cdc_mor_rw": cdc_mor_rw,
}
