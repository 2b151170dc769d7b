"""titan_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload traversal_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts one
Spark session at ``local[<cores>]``, sets up (session start, input
generation and load, warm-up), then runs whole passes of the workload
for about ``--seconds`` seconds — at least one, and another only if it
should end within the time — checking every output against DuckDB off
the clock. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics. The traced run precedes each
traced pass with an untraced twin of the ops that can be repeated: the
same query templates with fresh constants, the curation stages on the
same corpus (an ingest batch never repeats). The mean difference between
a traced op and its twin is reported as ``trace.overhead_ms``.

Before it come a host block (cores, memory, versions, master, default
parallelism, commit, seed) and an inputs block (sizes and seed-drawn
shares). A traced run writes its spans to
``.perfbench_work/spans/<workload>-seed<seed>.jsonl``; everything else
the run writes is removed before it exits.

Exit status is 0 when the run completed (wrong outputs are reported in
the JSON), 2 when the checkout holds no ``titan_spark`` package, 1 on
any other set-up failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.getcwd()


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(workdir: str) -> None:
    """Keep every file the run writes inside its work directory:
    Python temp files, Spark local dirs and the JVM's temp dir."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    tempfile.tempdir = os.path.join(workdir, "tmp")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import titan_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import titan_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import metrics
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 1

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(workdir)
    try:
        result = run(args, workdir, WORKLOADS[args.workload], metrics)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(args, workdir, workload_cls, metrics) -> dict:
    from perfbench import harness
    from perfbench.workloads import Bench

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = harness.start_session(workdir, trace)
    session_s = time.perf_counter() - t0
    try:
        print(json.dumps({"host": harness.host_block(spark, args.seed, args.workload)}))
        threads = harness.host_cores()
        tracer = harness.Tracer(spark, workdir, enabled=False)
        bench = Bench(spark, tracer, threads)
        wl = workload_cls(args.seed)

        # input generation is repeated and its median reported; the
        # inputs of the last repetition are loaded and used
        gen_s = []
        for rep in range(3):
            data_dir = os.path.join(workdir, f"input-{rep}")
            if rep:
                shutil.rmtree(os.path.join(workdir, f"input-{rep - 1}"), ignore_errors=True)
            t = time.perf_counter()
            wl.generate(data_dir, threads)
            gen_s.append(time.perf_counter() - t)
        print(json.dumps({"inputs": wl.inputs}))
        t = time.perf_counter()
        wl.load(spark, data_dir)
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare_oracle(bench, data_dir)
        log(f"session {session_s:.1f}s, inputs {gen_s}, load {load_s:.1f}s,"
            f" oracle {time.perf_counter() - t:.1f}s")

        t = time.perf_counter()
        wl.warm_up(bench)
        warmup_s = time.perf_counter() - t
        log("warm-up ops: " + ", ".join(f"{r.name} {r.seconds * 1000:.0f}ms" for r in bench.results))
        bench.results.clear()
        setup_s = session_s + harness.median(gen_s) + load_s + warmup_s
        log(f"warm-up {warmup_s:.1f}s, setup_s {setup_s:.1f}")

        # whole passes, the next one only if it should end within the
        # time (so the number of passes does not flip with small speed
        # changes); a traced pass is preceded by its untraced twin
        t = time.perf_counter()
        passes = 0
        while (plan := wl.next_pass()) is not None:
            t_pass = time.perf_counter()
            if trace:
                wl.run_pass(bench, wl.overhead_twin(plan))
                tracer.enabled = True
            wl.run_pass(bench, plan)
            tracer.enabled = False
            passes += 1
            now = time.perf_counter()
            if now - t + (now - t_pass) > args.seconds:
                break
        log(f"measured {passes} passes in {time.perf_counter() - t:.1f}s: "
            + ", ".join(f"{r.name} {r.seconds * 1000:.0f}ms" for r in bench.results))
        try:
            final_ok = wl.final_check(bench)
        except Exception:  # state the check cannot read is a failed check
            traceback.print_exc(file=sys.stderr)
            final_ok = False
        layer = wl.layer_metrics(bench)
        heap_mb = harness.live_heap_mb(spark)
    finally:
        harness.stop(spark)

    results = bench.results
    attempted = len(results)
    failed = sum(1 for r in results if not r.ok) + (0 if final_ok else 1)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if trace:
        spans_dir = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        counters = harness.exec_counters(os.path.join(workdir, "eventlog"))
        out["metrics"] = metrics.per_layer(
            results, tracer, counters, layer,
            session_s=session_s, load_s=load_s,
        )
    else:
        out["metrics"] = metrics.end_to_end(results, setup_s=setup_s, heap_mb=heap_mb, final_ok=final_ok)
    return out


if __name__ == "__main__":
    sys.exit(main())
