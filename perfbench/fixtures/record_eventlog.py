"""Re-record the small event log the self-test parses.

    python3 perfbench/fixtures/record_eventlog.py

Runs two job groups on a local[2] session: ``shuffle`` (a grouped count)
and ``spill`` (a sort forced to spill after 200 records).  Writes the
event log, trimmed to the events the parser reads, to ``eventlog.jsonl``,
and the figures Spark itself reports — job ids from statusTracker, task
counts and byte totals from each completed stage's accumulators — to
``eventlog.expected.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerTaskEnd", "SparkListenerStageCompleted"}
ACCUMULATORS = {
    "shuffle_write_bytes": ["internal.metrics.shuffle.write.bytesWritten"],
    "shuffle_read_bytes": ["internal.metrics.shuffle.read.remoteBytesRead",
                           "internal.metrics.shuffle.read.localBytesRead"],
    "spill_bytes": ["internal.metrics.memoryBytesSpilled",
                    "internal.metrics.diskBytesSpilled"],
}


def main() -> int:
    from pyspark.sql import SparkSession
    work = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.shuffle.partitions", "3")
                 .config("spark.sql.adaptive.enabled", "false")
                 .config("spark.shuffle.spill.numElementsForceSpillThreshold",
                         "200")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + work)
                 .config("spark.eventLog.rolling.enabled", "false")
                 .config("spark.eventLog.compress", "false")
                 .getOrCreate())
        sc = spark.sparkContext
        sc.setJobGroup("shuffle", "grouped count")
        spark.range(0, 5000, 1, 4).selectExpr("id % 7 AS k") \
            .groupBy("k").count().collect()
        sc.setJobGroup("spill", "forced-spill sort")
        spark.range(0, 5000, 1, 2).selectExpr("id * 7919 % 5003 AS k") \
            .orderBy("k").collect()
        groups = {g: len(sc.statusTracker().getJobIdsForGroup(g))
                  for g in ("shuffle", "spill")}
        app = sc.applicationId
        spark.stop()

        want = {"jobs": sum(groups.values()), "tasks": 0, "groups": groups,
                **{k: 0 for k in ACCUMULATORS}}
        kept = []
        with open(glob.glob(os.path.join(work, app))[0]) as f:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] not in KEEP:
                    continue
                if ev["Event"] == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    want["tasks"] += info["Number of Tasks"]
                    acc = {a["Name"]: int(a["Value"])
                           for a in info["Accumulables"]}
                    for key, names in ACCUMULATORS.items():
                        want[key] += sum(acc.get(n, 0) for n in names)
                    # only what the parser and this script read: no call
                    # sites, which carry the recording host's paths
                    ev["Stage Info"] = {
                        "Stage ID": info["Stage ID"],
                        "Number of Tasks": info["Number of Tasks"],
                        "Accumulables": [
                            a for a in info["Accumulables"]
                            if a["Name"].startswith("internal.metrics.")]}
                elif ev["Event"] == "SparkListenerJobStart":
                    ev["Properties"] = {"spark.jobGroup.id":
                                        ev["Properties"].get(
                                            "spark.jobGroup.id")}
                    ev["Stage Infos"] = []
                elif ev["Event"] == "SparkListenerTaskEnd":
                    ev["Task Info"]["Accumulables"] = []
                kept.append(json.dumps(ev))
        with open(os.path.join(HERE, "eventlog.jsonl"), "w") as f:
            f.write("\n".join(kept) + "\n")
        with open(os.path.join(HERE, "eventlog.expected.json"), "w") as f:
            json.dump(want, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(want))
    return 0


if __name__ == "__main__":
    sys.exit(main())
