"""Record the small Spark event log the fold test runs on.

    PYTHONPATH=. python3 perfbench/tests/record_eventlog.py

Runs three spans at local[2] with the event log on: ``main`` runs two
actions from the calling thread (one of them with a Python UDF), ``pool``
runs one action from a separate thread, which does not inherit the job
group, and ``idle`` submits none. Writes ``data/eventlog.jsonl`` (only
the events and fields the fold reads, plus each job's group) and
``data/spans.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Stage ID", "Task Info", "Task Metrics"),
}


def _identity(batches):
    yield from batches


def main() -> None:
    from pyspark.sql import SparkSession

    work = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".perfbench")
    os.makedirs(work, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=work)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file:{tmp}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    spans = []

    def span(name, body):
        sc.setJobGroup(name, name)
        t0 = time.time() * 1000
        body()
        spans.append({"name": name, "t0_ms": t0, "t1_ms": time.time() * 1000})
        time.sleep(0.2)

    span("main", lambda: (spark.range(100).count(),
                          spark.range(8, numPartitions=2).mapInPandas(_identity, "id long").count()))

    def pooled():
        th = threading.Thread(target=lambda: spark.range(50).selectExpr("sum(id)").collect())
        th.start()
        th.join()

    span("pool", pooled)
    span("idle", lambda: time.sleep(0.1))
    spark.stop()

    (log,) = [os.path.join(tmp, n) for n in os.listdir(tmp) if not n.startswith(".")]
    with open(log) as f, open(os.path.join(HERE, "data", "eventlog.jsonl"), "w") as out:
        for line in f:
            e = json.loads(line)
            keep = KEEP.get(e["Event"])
            if keep:
                slim = {"Event": e["Event"], **{k: e[k] for k in keep if k in e}}
                if "Properties" in e and e["Event"] == "SparkListenerJobStart":
                    slim["Properties"] = {"spark.jobGroup.id": e["Properties"].get("spark.jobGroup.id")}
                if "Task Info" in slim:
                    slim["Task Info"]["Accumulables"] = [
                        {"Name": a.get("Name"), "Update": a.get("Update")}
                        for a in slim["Task Info"].get("Accumulables", [])
                        if "Python" in (a.get("Name") or "")
                    ]
                out.write(json.dumps(slim) + "\n")
    with open(os.path.join(HERE, "data", "spans.json"), "w") as f:
        json.dump(spans, f, indent=1)
    shutil.rmtree(tmp)


if __name__ == "__main__":
    main()
