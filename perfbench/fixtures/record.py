"""Re-record the small event-log fixture the ledger test reads.

    python3 perfbench/fixtures/record.py

Runs a handful of Spark jobs under known spans with the event log on, then
keeps only the events and fields `ledger.read_jobs` reads (paths in call
sites are cut down to the package path) and writes `eventlog.jsonl` and
`spans.json` beside this file.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]

from ledger import Spans  # noqa: E402

_KEEP_TASK = ("Executor Run Time", "Executor CPU Time", "Disk Bytes Spilled",
              "Shuffle Read Metrics", "Shuffle Write Metrics",
              "Input Metrics", "Output Metrics")
_PY = ("time to run Python workers", "time to start Python workers")


def trim(ev: dict) -> dict | None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        site = (ev.get("Properties") or {}).get("callSite.short", "")
        site = re.sub(r"\S*/(itext2kg_spark/)", r"/src/\1", site)
        site = re.sub(r"\S*/(perfbench/)", r"/src/\1", site)
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": {"callSite.short": site}}
    if kind == "SparkListenerTaskEnd":
        tm = ev.get("Task Metrics") or {}
        acc = [{"Name": a["Name"], "Update": a.get("Update")}
               for a in (ev.get("Task Info") or {}).get("Accumulables", [])
               if a.get("Name") in _PY]
        return {"Event": kind, "Stage ID": ev["Stage ID"],
                "Task Info": {"Accumulables": acc},
                "Task Metrics": {k: tm[k] for k in _KEEP_TASK if k in tm}}
    return None


def main():
    import pandas as pd
    from pyspark.sql import functions as F

    from itext2kg_spark.merge.components import connected_components
    from itext2kg_spark.session import get_spark

    tmp = tempfile.mkdtemp()
    spark = get_spark(cores=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + tmp,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spans = Spans()
    with spans.span("outer", root=True):
        spark.range(2000, numPartitions=4).groupBy(
            (F.col("id") % 7).alias("k")).count().collect()
    with spans.span("merge.kg", root=True, refine=True):
        edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
        connected_components(spark.range(8), edges).collect()

        def double(batches):
            for pdf in batches:
                yield pd.DataFrame({"id": pdf["id"] * 2})

        spark.range(100, numPartitions=2).mapInPandas(double, "id long").collect()
    spark.range(10).count()  # outside every span
    spark.stop()

    with open(glob.glob(os.path.join(tmp, "*"))[0]) as f:
        events = [t for t in (trim(json.loads(line)) for line in f if line.strip()) if t]
    shutil.rmtree(tmp)
    with open(os.path.join(HERE, "eventlog.jsonl"), "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    with open(os.path.join(HERE, "spans.json"), "w") as f:
        json.dump(spans.spans, f, indent=1)


if __name__ == "__main__":
    main()
