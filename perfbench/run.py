#!/usr/bin/env python3
"""Cold-cache end-to-end benchmark of the engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: batch_relational, batch_curation, cdc_stream_cow, cdc_mor_rw
(see perfbench/README.md). The run makes its inputs from the seed,
starts one Spark session on ``local[nproc]``, sets up, measures for
``--seconds`` seconds, checks every output outside the timed window and
prints a human-readable summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the process also writes a Spark event log and records
spans, and the metrics are the per-layer ones. Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed
at exit, apart from two small files per workload: the last untraced
result, which the traced run reads to report its own overhead, and the
traced run's spans.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {"setup_s": "s", "suite_cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_overhead_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.exchanges": "count",
    "python.rows_sent": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.udf_nodes": "count",
    "cdc.events_in": "count",
    "cdc.rows_applied": "count",
    "cdc.reduce_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.jobs_per_batch": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.commit_offsets_s": "s",
    "tables.merge_s": "s",
    "tables.compact_s": "s",
    "tables.compactions": "count",
    "tables.versions": "count",
    "tables.files_added": "count",
    "tables.files_removed": "count",
    "tables.live_files": "count",
    "tables.write_amp": "ratio",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; in the traced run, turn on Spark's event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM, the launcher included: no hsperfdata files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = ["--driver-java-options", f"-Dderby.system.home={tmp}"]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{evdir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            args += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM
    and every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = {p for p in workers if _alive(p)}
        time.sleep(0.05)
    for p in workers:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _event_log_layer(work: str, res, units: int) -> dict:
    from perfbench.trace import parse_event_log

    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    if not logs:
        raise RuntimeError("traced run left no Spark event log")
    with open(logs[0]) as f:
        s = parse_event_log(f, res.select)
    per = lambda v: v / units  # noqa: E731
    out = {
        "operators.build_jobs": per(
            sum(n for g, n in s.jobs_by_group.items() if g.startswith("build:"))
        ),
        "spark.run_s": per(s.busy_s),
        "spark.jobs": per(s.jobs),
        "spark.stages": per(s.stages),
        "spark.tasks": per(s.tasks),
        "spark.task_s": per(s.task_s),
        "spark.task_overhead_s": per(s.task_overhead_s),
        "spark.shuffle_write_bytes": per(s.shuffle_write_bytes),
        "spark.shuffle_read_bytes": per(s.shuffle_read_bytes),
        "spark.spill_bytes": per(s.spill_bytes),
        "spark.gc_s": per(s.gc_s),
        "spark.input_bytes": per(s.input_bytes),
        "spark.exchanges": per(s.exchanges),
        "python.rows_sent": per(s.python_rows_sent),
        "python.bytes_sent": per(s.python_bytes_sent),
        "python.bytes_received": per(s.python_bytes_received),
        "python.udf_nodes": per(s.python_udf_nodes),
    }
    if s.jobs_by_batch:
        out["streaming.jobs_per_batch"] = sum(s.jobs_by_batch.values()) / len(
            s.jobs_by_batch
        )
    return out


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "flink_stream_spark", "__init__.py")):
        print(f"perfbench: no engine source (flink_stream_spark) in {ROOT}", file=sys.stderr)
        return 2
    for mod in ("pyspark", "duckdb"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod}", file=sys.stderr)
            return 2
    from perfbench.trace import Tracer, median, tail
    from perfbench.workloads import OPERATOR_MODULES, WORKLOADS, Ctx

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work, bool(a.trace))
        for m in OPERATOR_MODULES:
            importlib.import_module(f"flink_stream_spark.operators.{m}")
        from flink_stream_spark import get_spark
        from flink_stream_spark.tables.managed import ManagedTable

        tracer = Tracer(enabled=bool(a.trace))
        tracer.wrap(ManagedTable, "merge", "tables.merge")
        tracer.wrap(ManagedTable, "compact", "tables.compact")
        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench", cpus=cpus)
        session_s = time.perf_counter() - t0
        try:
            ctx = Ctx(spark, work, a.seed, a.seconds, tracer)
            res = WORKLOADS[a.workload](ctx)
            rss = _jvm_peak_rss_mb(spark)
        finally:
            _stop(spark)
        layer = {}
        if a.trace:
            units = max(len(res.units), 1)
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(res.layer)
            layer.update(_event_log_layer(work, res, units))
            layer["session.start_s"] = session_s
            layer["session.jvm_peak_rss_mb"] = rss
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + res.setup_s
    # 0: the first unit failed
    suite_s = median(res.units) if res.units else 0.0
    suite_cpu_s = median(res.unit_cpu) if res.unit_cpu else 0.0
    ops = res.ops or [0.0]
    op_tail, pct = tail(ops)
    e2e = {"setup_s": setup_s, "suite_cpu_s": suite_cpu_s}
    error_rate = res.failed / res.attempted
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  "
          f"cpus {cpus}  traced {'yes' if a.trace else 'no'}")
    print(f"  setup_s      {setup_s:9.3f} s   session start {session_s:.3f} s"
          f" + warm-up/preload {res.setup_s:.3f} s")
    print(f"  suite_cpu_s  {suite_cpu_s:9.3f} s   CPU of the engine's processes,"
          f" median of {len(res.unit_cpu)} x {res.unit_name}")
    print(f"  suite_s      {suite_s:9.3f} s   wall, median of {len(res.units)} x {res.unit_name}")
    print(f"  op_p50_s     {median(ops):9.3f} s   wall per {res.op_name}, {len(res.ops)} samples")
    print(f"  op_tail      {op_tail:9.3f} s   p{pct:.0f} per {res.op_name}"
          + ("" if len(ops) >= 20 else " (the median: a tail needs 20 samples)"))
    for k, v in res.notes.items():
        print(f"  {k:<12} {v:9.3f}" if isinstance(v, float) else f"  {k:<12} {v:>9}")
    print(f"  error_rate   {error_rate:9.3f}     {res.failed} of {res.attempted} failed or wrong")
    for p in res.problems[:20]:
        print(f"  ! {p}")
    print(f"  correct      {'yes' if res.failed == 0 else 'NO'}")

    os.makedirs(WORK_ROOT, exist_ok=True)
    last_untraced = os.path.join(WORK_ROOT, f"untraced_{a.workload}.json")
    if a.trace:
        tracer.dump(os.path.join(WORK_ROOT, f"spans_{a.workload}.json"))
        for name, secs in sorted(tracer.self_times().items()):
            print(f"  self time {name:<12} {secs / max(len(res.units), 1):9.3f} s per {res.unit_name}")
        base = {}
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
        if base.get("unit") == res.unit_name and base.get("seconds") == a.seconds:
            for k, v in (("suite_cpu_s", suite_cpu_s), ("suite_s", suite_s)):
                d = v - base[k]
                print(f"  tracing overhead {d:+.3f} s ({100 * d / base[k]:+.1f}%) on {k}"
                      f" against the untraced run of seed {base['seed']}")
        else:
            print("  tracing overhead: no comparable untraced run of this workload recorded")
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        with open(last_untraced, "w") as f:
            json.dump(
                {"seed": a.seed, "seconds": a.seconds, "unit": res.unit_name,
                 "suite_s": suite_s, "suite_cpu_s": suite_cpu_s}, f
            )
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
