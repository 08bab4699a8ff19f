"""Re-record ``eventlog_small.jsonl``, the fixture of
``test_eventlog_totals_on_recorded_log``:

    python3 perfbench/tests/fixtures/record_eventlog.py

A 1000-row table is written as 2 parquet files (untagged jobs), then read
back with the local properties ``perfbench.op=0`` and
``perfbench.span=7`` set, passed through a pandas UDF and a 3-partition
shuffle, and counted.  Only the events the parser reads are kept
(LogStart, JobStart, JobEnd, TaskEnd), and of the job properties only
the ``perfbench.*`` ones, so no host path or environment is recorded.
A new recording has new timings and byte counts: update the totals the
test expects.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerLogStart", "SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerTaskEnd"}
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(HERE))))


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from data_quality_check_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="perfbench-evlog-")
    try:
        spark = get_spark(master="local[2]", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        })

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        table = os.path.join(work, "t")
        spark.range(1000).repartition(2).write.parquet(table)
        sc = spark.sparkContext
        sc.setLocalProperty("perfbench.op", "0")
        sc.setLocalProperty("perfbench.span", "7")
        (spark.read.parquet(table).select(plus_one("id").alias("x"))
         .repartition(3, "x").agg(F.count("*")).collect())
        spark.stop()
        log = [p for p in glob.glob(os.path.join(work, "*")) if os.path.isfile(p)]
        with open(log[0]) as src, open(os.path.join(HERE, "eventlog_small.jsonl"), "w") as dst:
            for line in src:
                e = json.loads(line)
                if e["Event"] not in KEEP:
                    continue
                if "Properties" in e:
                    e["Properties"] = {k: v for k, v in e["Properties"].items()
                                       if k.startswith("perfbench.")}
                e.pop("Stage Infos", None)
                dst.write(json.dumps(e) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
