"""bench.py must print exactly one valid JSON line with the driver's
expected keys.

The contract under test is the line SHAPE (metric/unit/value/queries/
sf), which a 10-query subset exercises identically to the full 88 —
round 9's full-bench-in-pytest form measured ~556 s at sf0.001/8cpus
and blew the driver's pytest window (VERIFY_r09 tests_ok: false), so
the default test now runs the subset via SPARK_GRAFT_BENCH_ONLY (a
test-only knob bench.py validates against HEADLINE; the driver never
sets it). The full-set invocation stays covered by the nightly-gated
test below.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# 10 cheap CORE queries — enough to exercise dict shape, rounding and
# the CORE-line restriction; all sub-second at sf0.001.
SUBSET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "agg_rollup",
    "window_row_number_topk",
    "events_window_tumbling",
    "cdc_apply_final_state",
    "text_fingerprint",
    "dedup_exact_hash",
    "sample_train_split",
    "quality_gopher_rules",
]


def _run_bench(extra_env: dict[str, str], timeout: int) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    env.update(extra_env)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=timeout,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def _assert_contract(doc: dict, min_queries: int) -> None:
    assert doc["metric"] == "headline_core_total"
    assert doc["unit"] == "sec"
    assert isinstance(doc["value"], (int, float)) and doc["value"] > 0
    assert doc["sf"] == 0.001
    assert isinstance(doc["queries"], dict) and len(doc["queries"]) >= min_queries
    assert all(isinstance(v, (int, float)) for v in doc["queries"].values())


def test_bench_json_contract():
    doc = _run_bench({"SPARK_GRAFT_BENCH_ONLY": ",".join(SUBSET)}, timeout=600)
    _assert_contract(doc, min_queries=10)
    assert set(doc["queries"]) == set(SUBSET)
    # a subset run identifies itself on the official line ...
    assert doc["subset"] is True
    assert doc["n_queries"] == len(SUBSET)
    # ... and without the knob the official line is byte-identical to
    # the untagged form (checked on json_lines itself: a full run is
    # the nightly test below)
    sys.path.insert(0, REPO)
    from bench import json_lines

    timings = {"q1_pricing_summary": 1.234, "text_fingerprint": 0.5}
    full, line = json_lines(timings, "0.1", subset=False)
    assert line == (
        '{"metric":"headline_core_total","value":1.73,"unit":"sec",'
        '"queries":{"q1_pricing_summary":1.23,"text_fingerprint":0.5},'
        '"sf":0.1}'
    )
    assert full == (
        '{"metric":"headline_full","value":1.734,"unit":"sec",'
        '"queries":{"q1_pricing_summary":1.234,"text_fingerprint":0.5},'
        '"sf":0.1}'
    )
    tagged = json.loads(json_lines(timings, "0.1", subset=True)[1])
    assert (tagged["subset"], tagged["n_queries"]) == (True, 2)


def test_bench_only_rejects_unknown_names():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    env["SPARK_GRAFT_BENCH_ONLY"] = "no_such_query"
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
        cwd=REPO,
    )
    assert out.returncode != 0
    assert "no_such_query" in out.stderr + out.stdout


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_NIGHTLY"),
    reason="full 88-query bench run is nightly/manual: set SPARK_GRAFT_NIGHTLY=1",
)
def test_bench_json_contract_full():
    doc = _run_bench({}, timeout=1800)
    _assert_contract(doc, min_queries=50)
