"""Session, timing, tracing and statistics shared by every workload.

The untraced run times each op end to end and nothing else. The traced
run (``--trace 1``) additionally:

* keeps spans in memory — name, start, end, parent, op id — around each
  call into a titan_spark layer, and writes them out at the end;
* tags every Spark job with its op's job group and reads tasks, shuffle,
  spill, GC and scheduler delay per op from the uncompressed event log;
* reads Catalyst's analysis / optimization / planning time from the
  ``queryExecution().tracker()`` of each DataFrame the op writes;
* probes leftover state after each op: block-manager bytes (memory plus
  disk, from ``getRDDStorageInfo``) and bytes left under the Spark local
  directory.

Nothing inside ``titan_spark`` is instrumented: spans are taken from the
benchmark's side of each call.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import platform
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from titan_spark import get_spark


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory_mb() -> int:
    """Driver heap sized from physical memory: an eighth of MemTotal,
    capped at 2 GiB, which the workloads' inputs fit with room to spare.
    The engine's 20g default is unsafe on small, swapless hosts."""
    return max(1024, min(2048, meminfo_kb("MemTotal") // 8 // 1024))


def live_heap_mb(spark: SparkSession) -> float:
    """Driver heap in use after a full collection, in MiB: the data the
    engine keeps alive. (Its resident set would mostly show how far the
    collector chose to grow the heap.) Spark's context cleaner drops
    blocks only after their owners are collected, so this collects again,
    a second apart, until two readings agree."""
    # Python's handles on JVM objects go first: one in a reference cycle
    # would keep its JVM object, and whatever blocks it owns, alive
    gc.collect()
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(6):
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and abs(used - last) < 1.0:
            break
        last = used
        time.sleep(1)
    return used


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass  # a shuffle/spill file removed while walking
    return total


def noop(df: DataFrame) -> None:
    """The timing action: write the full output to Spark's ``noop`` sink,
    so every output column is computed (``count()`` lets Catalyst prune
    the projection)."""
    df.write.format("noop").mode("overwrite").save()


def start_session(workdir: str, trace: bool) -> SparkSession:
    cores = host_cores()
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir}/tmp",
        "spark.local.dir": f"{workdir}/local",
        "spark.sql.warehouse.dir": f"{workdir}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{workdir}/eventlog", exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{workdir}/eventlog",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def stop(spark: SparkSession) -> None:
    """Stop the session, then end the JVM and wait until it has exited
    (it also exits on its own once its stdin closes, but nobody waits)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_block(spark: SparkSession, seed: int, workload: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    jvm = spark.sparkContext._jvm
    return {
        "cores": host_cores(),
        "mem_total_kb": meminfo_kb("MemTotal"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "git_commit": commit,
        "seed": seed,
        "workload": workload,
    }


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank-interpolated percentile (``q`` in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    """In-memory spans plus the per-op Spark, Catalyst and leftover-state
    readings. Disabled, every method is a no-op and nothing touches the
    session."""

    def __init__(self, spark: SparkSession, workdir: str, enabled: bool):
        self.spark = spark
        self.workdir = workdir
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_attrs: dict[str, dict] = {}

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sp = Span(name, time.perf_counter(), 0.0, parent, op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def job_group(self, op_id: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def current_op(self) -> str | None:
        return self.spans[self._stack[0]].op_id if self._stack else None

    def analysis(self, op_id: str, df: DataFrame) -> None:
        """Catalyst analysis time of ``df``'s final plan, read as soon as
        the DataFrame exists: DataFrames are analyzed when built, and
        the tracker's phase summary runs from the first to the last time
        a phase was entered, so a later read could include unrelated
        work."""
        if not self.enabled:
            return
        self._add_phases(op_id, df, ("analysis",))

    def planning(self, op_id: str, df: DataFrame) -> None:
        """Optimization and physical planning time of ``df``'s plan,
        forced here, off the clock. The noop write plans the same
        analyzed tree inside its own query execution."""
        if not self.enabled:
            return
        df._jdf.queryExecution().executedPlan()
        self._add_phases(op_id, df, ("optimization", "planning"))

    def _add_phases(self, op_id: str, df: DataFrame, names) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        acc = self.op_attrs.setdefault(op_id, {}).setdefault(
            "catalyst", {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        )
        for name in names:
            opt = phases.get(name)
            if opt.isDefined():
                acc[name] += float(opt.get().durationMs())

    def probe_state(self, op_id: str) -> None:
        """Leftover state after an op: block-manager bytes and bytes
        left under the Spark local directory."""
        if not self.enabled:
            return
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        bm = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        local = dir_bytes(os.path.join(self.workdir, "local"))
        self.op_attrs.setdefault(op_id, {})["state"] = {
            "block_manager_bytes": bm,
            "local_dir_bytes": local,
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def exec_counters(eventlog_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, job wall, scheduler delay, shuffle
    read/write, spill and GC, read from the event log after the session
    has stopped."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return out.setdefault(
            group,
            {
                "jobs": 0,
                "tasks": 0,
                "job_ms": 0.0,
                "scheduler_delay_ms": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "gc_ms": 0.0,
            },
        )

    files = sorted(glob.glob(os.path.join(eventlog_dir, "**", "events_*"), recursive=True))
    files += sorted(
        f for f in glob.glob(os.path.join(eventlog_dir, "*")) if os.path.isfile(f)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = e["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = e["Submission Time"]
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                    acc(group)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_group:
                        acc(job_group[jid])["job_ms"] += e["Completion Time"] - job_start[jid]
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(e["Stage ID"])
                    if group is None:
                        continue
                    info = e["Task Info"]
                    m = e.get("Task Metrics") or {}
                    a = acc(group)
                    a["tasks"] += 1
                    total = info["Finish Time"] - info["Launch Time"]
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + (info["Finish Time"] - info["Getting Result Time"]
                           if info.get("Getting Result Time") else 0)
                    )
                    a["scheduler_delay_ms"] += max(0, total - busy)
                    rd = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    a["gc_ms"] += m.get("JVM GC Time", 0)
    return out
