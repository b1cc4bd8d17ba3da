"""Record the tiny event log that test_eventlog.py parses.

    python3 -m perfbench.tests.record_eventlog

Runs two spans in a one-core session with the event log on: ``scan`` (a
parquet scan to a noop sink) and ``py`` (a mapInPandas over 1000 rows).
Keeps only the events the parser reads, drops plan text and call sites,
and writes the log and the span times under ``tests/data``."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time

from perfbench import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
KEEP = ("SparkListenerJobStart", "SparkListenerTaskEnd", "SQLExecutionStart",
        "SQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates")


def _scrub(e: dict, tmp: str) -> dict:
    for k in ("physicalPlanDescription", "details", "Task Executor Metrics"):
        e.pop(k, None)
    if "Properties" in e:
        e["Properties"] = {k: v for k, v in e["Properties"].items()
                           if k in ("spark.job.description", "spark.sql.execution.id")}
    if "Stage Infos" in e:
        e["Stage Infos"] = [{"Stage ID": s["Stage ID"]} for s in e["Stage Infos"]]
    return json.loads(json.dumps(e).replace(tmp, "/data"))


def main() -> None:
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp()
    logs = os.path.join(tmp, "log")
    os.makedirs(logs)
    b = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
    for k, v in eventlog.conf(logs).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    sc = spark.sparkContext
    spark.range(1000, numPartitions=2).write.parquet(os.path.join(tmp, "t"))
    spans = []
    for name, fn in (
        ("scan", lambda: spark.read.parquet(os.path.join(tmp, "t")).write.format("noop").mode("overwrite").save()),
        ("py", lambda: spark.range(1000, numPartitions=2).mapInPandas(lambda it: it, "id long").count()),
    ):
        sc.setJobDescription(f"tiny:{name}:run")
        t0 = time.time()
        fn()
        spans.append({"op": name, "phase": "run", "start": t0, "end": time.time(), "pass_no": 0})
    spark.stop()
    os.makedirs(DATA, exist_ok=True)
    with open(glob.glob(os.path.join(logs, "*"))[0]) as f, open(os.path.join(DATA, "tiny_eventlog.jsonl"), "w") as out:
        for line in f:
            e = json.loads(line)
            if e["Event"].endswith(KEEP):
                out.write(json.dumps(_scrub(e, tmp)) + "\n")
    with open(os.path.join(DATA, "tiny_spans.json"), "w") as f:
        json.dump(spans, f, indent=1)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
