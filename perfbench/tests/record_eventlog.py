"""Re-record tests/data/eventlog_small.jsonl, the event-log parser's fixture.

    python3 perfbench/tests/record_eventlog.py

Runs two small jobs under two job groups in a local[2] session with the
event log on, then keeps only the events and fields the parser reads.
The job groups' start and end times go to eventlog_small_spans.json.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageSubmitted",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd"}
DROP = {"RDD Info", "Accumulables", "Details", "Parent IDs", "Stage Infos", "Stage Name"}


def slim(ev: dict) -> dict:
    out = {}
    for k, v in ev.items():
        if k in DROP:
            continue
        if k == "Properties":
            v = {p: x for p, x in v.items() if p.startswith("spark.job")}
        elif isinstance(v, dict):
            v = slim(v)
        out[k] = v
    return out


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    work = tempfile.mkdtemp()
    spark = (SparkSession.builder.master("local[2]").appName("eventlog-fixture")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.dir", "file://" + work)
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    spans = {}
    for group, action in (
        ("fixture:agg", lambda: spark.range(20000, numPartitions=3)
            .groupBy((F.col("id") % 7).alias("k")).count().collect()),
        ("fixture:write", lambda: spark.range(5000, numPartitions=2)
            .write.mode("overwrite").parquet(os.path.join(work, "out"))),
    ):
        sc.setJobGroup(group, group)
        t0 = time.time()
        action()
        spans[group] = [group.split(":")[1], t0, time.time()]
        sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    (log,) = [p for p in glob.glob(os.path.join(work, "*")) if os.path.isfile(p)]
    with open(log) as fh, open(os.path.join(HERE, "data", "eventlog_small.jsonl"), "w") as out:
        for line in fh:
            ev = json.loads(line)
            if ev.get("Event") in KEEP:
                out.write(json.dumps(slim(ev)) + "\n")
    with open(os.path.join(HERE, "data", "eventlog_small_spans.json"), "w") as out:
        json.dump(spans, out, indent=1)
    shutil.rmtree(work)


if __name__ == "__main__":
    sys.exit(main())
