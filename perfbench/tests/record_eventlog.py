#!/usr/bin/env python3
"""Record the small Spark event log the parser test reads.

Runs two jobs on ``local[2]`` with the event log on: job group
``run:udf`` (a Python UDF over 20 rows) and job group ``run:agg`` (a
grouped aggregate with one shuffle). Keeps only the event kinds the
parser reads, and only the job properties it looks at, and writes them
to ``data/eventlog_small.jsonl`` beside this file.

Usage:  python3 perfbench/tests/record_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    "SQLExecutionStart",
    "SQLAdaptiveExecutionUpdate",
)
PROPS = ("spark.jobGroup.id", "spark.sql.execution.id")


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{tmp}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ])
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
        sc = spark.sparkContext
        plus_one = F.udf(lambda x: x + 1, "long")
        sc.setJobGroup("run:udf", "run:udf")
        spark.range(20).select(plus_one("id").alias("y")).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("run:agg", "run:agg")
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().write.format(
            "noop"
        ).mode("overwrite").save()
        spark.stop()
        (path,) = glob.glob(os.path.join(tmp, "*"))
        out = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if not ev["Event"].endswith(KEEP):
                    continue
                if ev["Event"] == "SparkListenerJobStart":
                    ev.pop("Stage Infos", None)
                    ev["Properties"] = {
                        k: v for k, v in (ev.get("Properties") or {}).items() if k in PROPS
                    }
                out.append(json.dumps(ev, separators=(",", ":")))
    os.makedirs(os.path.join(HERE, "data"), exist_ok=True)
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl"), "w") as f:
        f.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
