"""The benchmark's own tests: input determinism, the replay against the
engine's CDC apply, the event-log parser, and the metric contract.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.gen import cdc_log, fixture_tables, replay, snapshot_log  # noqa: E402
from perfbench.trace import Tracer, median, parse_event_log, tail  # noqa: E402


# -- generators ---------------------------------------------------------------


def test_fixtures_are_a_function_of_the_seed():
    a, b, c = fixture_tables(3, 0.001), fixture_tables(3, 0.001), fixture_tables(4, 0.001)
    assert sorted(a) == sorted(
        ["region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"]
    )
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_cdc_log_is_a_function_of_the_seed():
    kw = dict(n_events=300, n_keys=40, drift_window=(100, 120))
    a = [e.envelope() for e in cdc_log(5, **kw)]
    assert a == [e.envelope() for e in cdc_log(5, **kw)]
    assert a != [e.envelope() for e in cdc_log(6, **kw)]


def test_cdc_log_shape():
    log = cdc_log(1, 2000, 50, drift_window=(500, 600))
    assert {e.op for e in log} == {"c", "u", "d"}
    assert [e.lsn for e in log] == sorted({e.lsn for e in log})  # strictly increasing
    ts = [e.ts_ms for e in log]
    assert ts == sorted(ts) and len(set(ts)) < len(ts)  # ordered, with ties
    drifted = [i for i, e in enumerate(log) if "tier" in (e.row or {})]
    assert drifted and all(500 <= i < 600 for i in drifted)
    zipf = cdc_log(1, 2000, 1000, zipf=1.1, tables=("account",))
    counts = sorted(
        (sum(e.key == k for e in zipf) for k in {e.key for e in zipf}), reverse=True
    )
    assert counts[0] > 20 * counts[len(counts) // 2]  # a few keys are hot


def test_replay_last_event_per_key_wins():
    log = cdc_log(2, 400, 10, tables=("account",))
    state: dict = {}
    applied = replay(state, log)
    assert applied == len({e.key for e in log})
    final: dict = {}
    for e in log:  # sequential application gives the same state
        if e.op == "d":
            final.pop(e.key, None)
        else:
            final[e.key] = e.row
    assert state.get("account", {}) == final


# -- replay against the engine ------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from flink_stream_spark import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_replay_equals_apply_cdc_batch(spark, tmp_path, mode):
    from flink_stream_spark.cdc.envelope import apply_cdc_batch, parse_envelopes
    from flink_stream_spark.tables.managed import ManagedTable

    from perfbench.workloads import ACCOUNT, _state_mismatches

    snap = snapshot_log(9, 30)
    live = {("account", e.key): e.row for e in snap}
    log = cdc_log(9, 240, 30, zipf=1.1, tables=("account",), live=live, start_lsn=31)
    table = ManagedTable(str(tmp_path), "account", ["user_id"], num_buckets=4)
    state: dict = {}
    for i, batch in enumerate([snap, log[:80], log[80:160], log[160:]]):
        path = tmp_path / f"b{i}.json"
        path.write_text("\n".join(e.envelope() for e in batch) + "\n")
        changes = parse_envelopes(spark.read.text(str(path)), ACCOUNT)
        apply_cdc_batch(table, changes, ["user_id"], merge_mode=mode)
        replay(state, batch)
    got = table.read(spark).toPandas()
    cols = [f.name for f in ACCOUNT.fields]
    assert len(got) == len(state["account"])
    assert _state_mismatches(got, state["account"], "user_id", cols) == 0


# -- tracing ------------------------------------------------------------------


def _recorded_log():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        return f.readlines()


def test_event_log_parser_on_recorded_log():
    """The recorded log holds two job groups: ``run:udf`` (a Python UDF
    over 20 rows) and ``run:agg`` (a grouped aggregate, one shuffle)."""
    lines = _recorded_log()
    udf = parse_event_log(lines, lambda p: p.get("spark.jobGroup.id") == "run:udf")
    agg = parse_event_log(lines, lambda p: p.get("spark.jobGroup.id") == "run:agg")
    everything = parse_event_log(lines, lambda p: True)
    assert udf.jobs >= 1 and agg.jobs >= 1
    assert udf.python_udf_nodes == 1 and agg.python_udf_nodes == 0
    assert udf.python_rows_sent == 20
    assert udf.python_bytes_sent > 0 and udf.python_bytes_received > 0
    assert agg.python_rows_sent == 0 and agg.python_bytes_sent == 0
    assert agg.exchanges >= 1 and agg.shuffle_write_bytes > 0
    assert agg.shuffle_read_bytes == agg.shuffle_write_bytes
    assert everything.tasks == sum(
        1 for line in lines if '"Event":"SparkListenerTaskEnd"' in line
    )
    for s in (udf, agg):
        assert 0 < s.busy_s and 0 < s.task_overhead_s < s.task_s


def test_stream_batch_jobs_are_counted_by_batch_id():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": j, "Submission Time": 1000 * j,
                    "Stage IDs": [j], "Properties": props})
        for j, props in enumerate([
            {"streaming.sql.batchId": "0", "sql.streaming.queryId": "q"},
            {"streaming.sql.batchId": "0", "sql.streaming.queryId": "q"},
            {"streaming.sql.batchId": "1", "sql.streaming.queryId": "q"},
            {"spark.jobGroup.id": "setup"},
        ])
    ]
    s = parse_event_log(lines, lambda p: p.get("sql.streaming.queryId") == "q")
    assert s.jobs == 3 and dict(s.jobs_by_batch) == {"0": 2, "1": 1}


def test_span_self_time():
    tr = Tracer(enabled=True)
    with tr.span("cdc.apply"):
        with tr.span("tables.merge"):
            pass
    tr.spans[0].start, tr.spans[0].end = 0.0, 3.0
    tr.spans[1].start, tr.spans[1].end = 1.0, 2.5
    assert tr.self_times() == {"cdc": 1.5, "tables": 1.5}
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    v, pct = tail(xs)
    assert pct == 90.0 and v == 90.0 and sum(x > v for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (median([3.0, 1.0, 2.0]), 50.0)


# -- metric contract ----------------------------------------------------------


def test_printed_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    # the contract runs a subset; the rest are run by hand
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
