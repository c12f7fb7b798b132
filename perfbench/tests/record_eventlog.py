#!/usr/bin/env python3
"""Re-record ``data/eventlog_small.jsonl`` and ``data/eventlog_small_phases.json``.

Three phases on a tiny ``local[2]`` session: a grouped count (with 0.3 s of
driver-only time), a pandas UDF, and an availableNow streaming aggregation
whose micro-batch jobs run on the stream's own thread. Only the event kinds
the fold reads are kept, trimmed to the fields it uses.

Usage (from the root of a checkout): python3 perfbench/tests/record_eventlog.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

from perfbench.procs import stop_spark  # noqa: E402
from perfbench.trace import Phases  # noqa: E402

KEEP = ("JobStart", "JobEnd", "StageCompleted", "TaskEnd", "QueryProgressEvent")
TASK_METRICS = ("Executor CPU Time", "JVM GC Time", "Disk Bytes Spilled")


def trim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        ev.pop("Stage Infos", None)
        ev["Properties"] = {
            k: v for k, v in ev.get("Properties", {}).items() if k == "spark.jobGroup.id"
        }
    elif kind == "SparkListenerStageCompleted":
        ev["Stage Info"] = {
            k: v for k, v in ev["Stage Info"].items()
            if k not in ("RDD Info", "Accumulables", "Parent IDs", "Stage Name", "Details")
        }
    elif kind.endswith("QueryProgressEvent"):
        # source and sink descriptions name local paths
        ev["progress"] = {
            k: v for k, v in ev["progress"].items() if k not in ("sources", "sink")
        }
    elif kind == "SparkListenerTaskEnd":
        m = ev["Task Metrics"]
        ev["Task Metrics"] = {k: m[k] for k in TASK_METRICS}
        ev["Task Metrics"]["Shuffle Read Metrics"] = {
            k: m["Shuffle Read Metrics"][k] for k in ("Remote Bytes Read", "Local Bytes Read")
        }
        ev["Task Metrics"]["Shuffle Write Metrics"] = {
            "Shuffle Bytes Written": m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        }
        info = ev["Task Info"]
        ev["Task Info"] = {
            "Launch Time": info["Launch Time"],
            "Finish Time": info["Finish Time"],
            "Accumulables": [
                a for a in info.get("Accumulables", []) if a.get("Name", "").startswith("data ")
            ],
        }
        for k in ("Task End Reason", "Task Executor Metrics"):
            ev.pop(k, None)
    return ev


def main() -> None:
    work = os.path.join(ROOT, ".perfbench_work", "record_eventlog")
    shutil.rmtree(work, ignore_errors=True)
    log = os.path.join(work, "log")
    os.makedirs(log)
    spark = (
        SparkSession.builder.master("local[2]").appName("record-eventlog")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )

    @pandas_udf("double")
    def plus1(v):
        return v + 1.0

    phases = Phases(spark.sparkContext)
    p = phases.start("build", "count")
    spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count().collect()
    time.sleep(0.3)
    phases.end(p)
    p = phases.start("exec", "udf")
    spark.range(500).select(plus1(F.col("id").cast("double")).alias("x")).agg(F.sum("x")).collect()
    phases.end(p)
    src = os.path.join(work, "src")
    spark.range(20).write.parquet(src)
    p = phases.start("build", "stream")
    query = (
        spark.readStream.schema("id long").parquet(src)
        .groupBy((F.col("id") % 2).alias("k")).count()
        .writeStream.format("memory").queryName("record_eventlog").outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .start()
    )
    query.awaitTermination()
    phases.end(p)
    stop_spark(spark)

    (path,) = glob.glob(os.path.join(log, "*"))
    data = os.path.join(HERE, "data")
    os.makedirs(data, exist_ok=True)
    with open(path) as fh, open(os.path.join(data, "eventlog_small.jsonl"), "w") as out:
        for line in fh:
            ev = json.loads(line)
            if any(ev.get("Event", "").endswith(k) for k in KEEP):
                out.write(json.dumps(trim(ev), separators=(",", ":")) + "\n")
    with open(os.path.join(data, "eventlog_small_phases.json"), "w") as out:
        json.dump([p.__dict__ for p in phases.items], out, indent=1)
        out.write("\n")


if __name__ == "__main__":
    main()
