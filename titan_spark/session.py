"""SparkSession factory tuned for this engine.

Local-mode defaults run one JVM with one task thread per CPU this
process may use; the same settings (AQE, adaptive coalescing, skew
join, arrow) are what we would ship on a real cluster — only master
and memory sizing change.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession


def _local_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` when it is a positive integer, else the
    number of CPUs this process may run on."""
    detected = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is not None:
        try:
            if int(raw) >= 1:
                return int(raw)
        except ValueError:
            pass
        warnings.warn(
            f"SPARK_GRAFT_CPUS={raw!r} is not a positive integer; "
            f"using the {detected} detected CPUs",
            RuntimeWarning,
        )
    return detected


def get_spark(
    app_name: str = "titan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE is on so runtime statistics re-plan joins (broadcast
    conversion, skew-join splitting, partition coalescing) — at 100 TB
    these matter more than any static tuning we could do here. AQE
    also sizes the shuffles of iterative loops: their per-round state
    is far smaller than the corpus, and coalescing shrinks those
    shuffles to the data without any per-loop partition setting.

    ``$SPARK_GRAFT_CPUS`` sets the local thread count (``local[N]``) and
    the default shuffle partition count; unset or malformed, both use
    the CPUs this process may run on.

    ``checkpoint_dir`` (or ``$TITAN_SPARK_CHECKPOINT_DIR``): reliable
    checkpoint location (HDFS/S3 on a cluster). When set, every
    iterative lineage cut (Pregel rounds, repeat_until, LSH stage
    materializations) upgrades from executor-local ``localCheckpoint``
    to a reliable ``checkpoint`` that survives executor loss — see
    compute/checkpointing.cut_lineage.
    """
    cpus = _local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # without this, a cache()d relation keeps the session partition
        # count (AQE cannot coalesce it), and every loop that caches its
        # edge set re-reads it as that many mostly empty partitions
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver == the only executor: every task thread
        # shares this heap. 8g was measured too tight for the full bench
        # suite at sf1 on local[32] (task-page allocation failures,
        # GC-locker thrash). 20g is a ceiling the JVM grows toward, not
        # a reservation; on a host with less memory set
        # TITAN_SPARK_DRIVER_MEM below its RAM.
        .config("spark.driver.memory", os.environ.get("TITAN_SPARK_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    checkpoint_dir = checkpoint_dir or os.environ.get("TITAN_SPARK_CHECKPOINT_DIR")
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    return spark
