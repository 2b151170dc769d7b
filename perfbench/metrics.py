"""End-to-end and per-layer metrics from a run's op results and trace.

An op is the unit the client waits for: one query on traversal_mix; one
curation stage over the whole corpus or one ingest micro-batch on
curation_ingest. End-to-end metrics, every workload:

* ``setup_s`` — session start + median of three input generations +
  load + warm-up.
* ``correct_frac`` — ops whose outputs all matched the oracle, over ops
  attempted (an op that raised counts as wrong; a failed end-of-run
  state check removes one more).
* ``live_heap_mb`` — driver heap still in use after the run's last op,
  read after a forced full collection: the state the engine keeps
  alive across ops (query history, cached blocks, leaked frames).
* ``op_p50_ms``, ``op_p90_ms`` — median and 90th percentile of the
  latency of correct ops.
* ``throughput_per_s`` — items completed per second of op time: queries
  on traversal_mix; on curation_ingest, documents — the corpus once a
  pass plus each ingested batch.

Per-layer values are medians per op over the traced ops. A layer the
workload never calls reports 0.
"""

from __future__ import annotations

from perfbench.harness import median, percentile

PIPELINE_STAGES = (
    "minhash",
    "lsh_candidates",
    "jaccard_verify",
    "clusters",
    "doc_quality",
    "gopher",
    "decontam",
)


def _m(value, unit) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(results, setup_s: float, heap_mb: float, final_ok: bool) -> dict:
    ms = [r.seconds * 1000 for r in results if r.ok]
    busy = sum(r.seconds for r in results if r.ok)
    items = sum(r.items for r in results if r.ok)
    n_ok = sum(1 for r in results if r.ok) - (0 if final_ok else 1)
    return {
        "setup_s": _m(setup_s, "s"),
        "correct_frac": _m(max(n_ok, 0) / max(len(results), 1), "frac"),
        "live_heap_mb": _m(heap_mb, "MB"),
        "op_p50_ms": _m(median(ms), "ms"),
        "op_p90_ms": _m(percentile(ms, 90), "ms"),
        "throughput_per_s": _m(items / busy if busy else 0.0, "1/s"),
    }


def per_layer(results, tracer, counters, layer, session_s: float, load_s: float) -> dict:
    spans = tracer.spans
    roots = [s for s in spans if s.parent is None and s.op_id]
    op_ids = [s.op_id for s in roots]

    def span_ms(name):
        return median([(s.end - s.start) * 1000 for s in spans if s.name == name])

    def per_op(key):
        return median([counters.get(i, {}).get(key, 0) for i in op_ids])

    attrs = tracer.op_attrs
    cat = {
        p: median([attrs[i]["catalyst"][p] for i in op_ids if "catalyst" in attrs.get(i, {})])
        for p in ("analysis", "optimization", "planning")
    }
    state = [attrs[i]["state"] for i in op_ids if "state" in attrs.get(i, {})]

    out = {
        "session.start_s": _m(session_s, "s"),
        "sources.load_s": _m(load_s, "s"),
        "operators.build_ms": _m(span_ms("operators.build"), "ms"),
        "spark.catalyst.analysis_ms": _m(cat["analysis"], "ms"),
        "spark.catalyst.optimization_ms": _m(cat["optimization"], "ms"),
        "spark.catalyst.planning_ms": _m(cat["planning"], "ms"),
        "spark.exec.ms": _m(per_op("job_ms"), "ms"),
        "spark.exec.jobs": _m(per_op("jobs"), "count"),
        "spark.exec.tasks": _m(per_op("tasks"), "count"),
        "spark.exec.scheduler_delay_ms": _m(per_op("scheduler_delay_ms"), "ms"),
        "spark.exec.shuffle_read_bytes": _m(per_op("shuffle_read_bytes"), "bytes"),
        "spark.exec.shuffle_write_bytes": _m(per_op("shuffle_write_bytes"), "bytes"),
        "spark.exec.spill_bytes": _m(per_op("spill_bytes"), "bytes"),
        "spark.exec.gc_ms": _m(per_op("gc_ms"), "ms"),
    }
    out["compute.block_manager_mb_after"] = _m(
        median([s["block_manager_bytes"] for s in state]) / 2**20, "MB"
    )
    out["compute.local_dir_mb_after"] = _m(
        median([s["local_dir_bytes"] for s in state]) / 2**20, "MB"
    )
    for stage in PIPELINE_STAGES:
        out[f"pipeline.{stage}_s"] = _m(span_ms(f"pipeline.{stage}") / 1000, "s")
    out["pipeline.candidate_pairs"] = _m(layer.get("pipeline.candidate_pairs", 0), "count")
    out["pipeline.verified_pairs"] = _m(layer.get("pipeline.verified_pairs", 0), "count")
    out["pipeline.candidate_yield"] = _m(layer.get("pipeline.candidate_yield", 0), "frac")
    out["streaming.warmup_s"] = _m(layer.get("streaming.warmup_s", 0), "s")
    out["streaming.compaction_batch_ms"] = _m(layer.get("streaming.compaction_batch_ms", 0), "ms")
    out["streaming.store_mb"] = _m(layer.get("streaming.store_mb", 0), "MB")
    out["streaming.store_files"] = _m(layer.get("streaming.store_files", 0), "count")
    out["streaming.store_bytes_per_doc"] = _m(layer.get("streaming.store_bytes_per_doc", 0), "bytes")
    out["streaming.survivor_frac"] = _m(layer.get("streaming.survivor_frac", 0), "frac")

    # same key, same work: each traced op against its untraced twin, the
    # last op with its key before it
    twin: dict[str, float] = {}
    diffs = []
    for r in results:
        if not r.traced:
            twin[r.key] = r.seconds
        elif r.key in twin:
            diffs.append(1000 * (r.seconds - twin[r.key]))
    out["trace.overhead_ms"] = _m(sum(diffs) / len(diffs) if diffs else 0.0, "ms")
    return out
