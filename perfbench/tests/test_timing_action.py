"""The benchmark's timing action must compute every output column.

``count()`` lets Catalyst prune a projection it does not need; the noop
write the benchmark times must keep it. The plans compared are the ones
Spark ran, read back from the event log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from perfbench import harness


def _executed_plans(eventlog_dir: str) -> dict[str, str]:
    plans = {}
    for path in glob.glob(os.path.join(eventlog_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                if e["Event"].endswith("SparkListenerSQLExecutionStart"):
                    plans[e["description"]] = e["physicalPlanDescription"]
    return plans


def test_noop_write_keeps_the_projection_count_prunes(tmp_path):
    workdir = str(tmp_path)
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    spark = harness.start_session(workdir, trace=True)
    try:
        sc = spark.sparkContext
        df = spark.range(64).select(
            "id", F.sha2(F.col("id").cast("string"), 256).alias("digest")
        )
        sc.setJobDescription("timed")
        harness.noop(df)
        sc.setJobDescription("counted")
        assert df.count() == 64
    finally:
        harness.stop(spark)
    plans = _executed_plans(os.path.join(workdir, "eventlog"))
    assert "sha2" in plans["timed"]
    assert "sha2" not in plans["counted"]
