#!/usr/bin/env python3
"""rulemorph-spark benchmark: one workload per run.

    python3 perfbench/run.py --workload doc_transform --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones from a run whose layers are wrapped in timing spans.
Progress and failures go to standard error.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402

WORKLOADS = {
    "doc_transform": "w_doc",
    "table_transform": "w_table",
    "endpoint_requests": "w_endpoint",
    "corpus_pipeline": "w_corpus",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


LLM_OPS = ("remove_dup_spans", "gopher_filter", "dedup_exact", "bm25_search",
           "semdedup", "topk")


def per_layer(tracer, wl, res, before: dict, after: dict) -> dict:
    """Per-layer metrics, each averaged over every operation of the run
    (``spark.analyze/plan/exec_s`` and ``plan.*`` summed over the
    DataFrames of one round, ``llm.*.exec_s`` per timed execution).  A
    layer the workload never reaches reads 0."""
    n = res.attempted
    tot, calls = tracer.total, tracer.calls
    extra = wl.layer_metrics() if hasattr(wl, "layer_metrics") else {}
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    put("model.parse_s", tot["model.parse"] / n, "s")
    put("validator.validate_s", tot["validator.validate"] / n, "s")
    put("engine.ingest_s", tot["engine.ingest"] / n, "s")
    put("engine.collect_s", tot["engine.collect"] / n, "s")
    put("engine.transform_self_s", tracer.self_time("engine.transform") / n,
        "s")
    fallbacks = tracer.counts["engine.variant_fallbacks"]
    put("engine.typed_rules", (calls["compiler.typed.compile"] - fallbacks)
        / n, "count")
    put("engine.variant_fallbacks", fallbacks / n, "count")
    put("compiler.rule.compile_s", tot["compiler.rule.compile"] / n, "s")
    put("compiler.rule.compiles", calls["compiler.rule.compile"] / n,
        "count")
    put("compiler.typed.compile_s", tot["compiler.typed.compile"] / n, "s")
    put("compiler.sqlfn.creates", (after["sqlfn"] - before["sqlfn"]) / n,
        "count")
    put("compiler.sqlfn.ensure_s", tot["compiler.sqlfn.ensure"] / n, "s")
    put("compiler.interp_bridge.hits", (after["bridge"] - before["bridge"])
        / n, "count")
    for k in ("analyze_s", "plan_s", "exec_s"):
        put(f"spark.{k}", extra.get(f"spark.{k}", 0.0), "s")
    put("spark.jobs", (after["jobs"] - before["jobs"]) / n, "count")
    put("spark.shuffle_bytes", (after["shuffle"] - before["shuffle"]) / n,
        "bytes")
    put("spark.spill_bytes", (after["spill"] - before["spill"]) / n, "bytes")
    for k in ("shuffle_exchanges", "python_udf_evals", "codegen_spans"):
        put(f"plan.{k}", extra.get(f"plan.{k}", 0), "count")
    put("service.http.request_ms", extra.get("service.http.request_ms", 0.0),
        "ms")
    handled = calls["service.endpoint.handle"]
    put("service.endpoint.handle_ms",
        tot["service.endpoint.handle"] * 1000.0 / handled if handled else 0.0,
        "ms")
    put("service.record.calls", calls["service.record.transform"] / n,
        "count")
    put("service.record.transform_ms",
        tot["service.record.transform"] * 1000.0 / n, "ms")
    put("interp.calls", calls["interp.call"] / n, "count")
    put("llm.pipeline.compile_s", tot["llm.pipeline.compile"] / n, "s")
    for op in LLM_OPS:
        put(f"llm.{op}.exec_s", extra.get(f"llm.{op}.exec_s", 0.0), "s")
    return m


def listed_metrics(workload: str, metrics: dict, key: str) -> dict:
    """For a workload that ``BENCHMARK.json`` lists, exactly the metrics
    it names under ``key`` (a name the run did not measure is an error);
    other workloads print everything they measure."""
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return metrics
    return {m["name"]: metrics[m["name"]] for m in spec[key]}


def snapshot(spark) -> dict:
    from rulemorph_spark.compiler import sqlfn
    from rulemorph_spark.functions.diag import interp_bridge_stats
    counters = harness.SparkCounters(spark)
    shuffle, spill = counters.stage_bytes()
    return {"jobs": counters.jobs(), "shuffle": shuffle, "spill": spill,
            "sqlfn": len(sqlfn.registered_names(spark)),
            "bridge": sum(interp_bridge_stats().values())}


def main(argv=None) -> int:
    args = parse_args(argv)
    proc_start = harness.process_start_time()
    import rulemorph_spark  # noqa: F401  (absent → fail before any work)

    wl_mod = importlib.import_module(WORKLOADS[args.workload])
    workdir = harness.make_workdir()
    spark = wl = None
    try:
        g0 = time.time()
        wl = wl_mod.Workload(args.seed, workdir)
        gen_s = time.time() - g0
        spark = harness.start_spark(workdir)
        tracer = None
        if args.trace:
            import tracing
            tracer = tracing.Tracer()
            tracing.install_program_spans(tracer)
        wl.setup(spark)
        setup_s = time.time() - proc_start - gen_s
        harness.log(f"{args.workload}: inputs {gen_s:.2f}s, "
                    f"setup {setup_s:.2f}s")
        ops = wl.ops()
        before = snapshot(spark) if tracer else None
        res = harness.run_rounds(
            ops, args.seconds, warmup_rounds=getattr(wl, "warmup_rounds", 0),
            first=getattr(wl, "first_op", None))
        # per-layer figures and peak memory cover the operations, not
        # the checks
        if tracer:
            after = snapshot(spark)
            tracer.uninstall()
        else:
            pid = harness.jvm_pid()
            rss = harness.peak_rss_mb() + (harness.peak_rss_mb(pid)
                                           if pid else 0.0)
        harness.run_checks(res)
        for f in res.failures:
            harness.log(f"FAILED {f}")
        if tracer:
            if hasattr(wl, "trace_layers"):
                wl.trace_layers()
            metrics = listed_metrics(
                args.workload, per_layer(tracer, wl, res, before, after),
                "per_layer")
        else:
            metrics = listed_metrics(
                args.workload, harness.end_to_end(res, setup_s, rss),
                "end_to_end")
        harness.log(f"{args.workload}: first {res.first_op_s:.2f}s, "
                    f"{len(res.warm_times)} timed ops, median "
                    f"{statistics.median(res.warm_times) * 1000:.0f}ms, "
                    f"{res.failed}/{res.attempted} failed")
    finally:
        if wl is not None:
            wl.teardown()
        if spark is not None:
            harness.stop_spark(spark)
        harness.remove_workdir(workdir)
    # a failed output check makes the run incorrect; an operation that
    # raised (or a 500 reply) is counted as failed but checks nothing
    print(json.dumps({"correct": res.check_failures == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
