"""Per-layer metrics of the traced run.

``install`` wraps the program's public entry points named in PER_LAYER (a
span per call, plus counts taken from arguments and return values);
``report`` turns spans, counts, the status tracker and the UI REST API into
the ``per_layer`` metrics of BENCHMARK.json. Every workload prints every
metric; a layer a workload does not use reads 0.
"""

from __future__ import annotations

import statistics

from graftbench.harness import dir_bytes, failed_ops, rest_metrics, tracker_counts

#: span name → (module, function names) wrapped in the traced run.
WRAPPED = {
    "plans.soql_to_df": ("salesforce_plugin_spark.plans", ["soql_to_df"]),
    "sources.load_table": ("salesforce_plugin_spark.sources.catalog", ["load_table"]),
    "sources.io.write": (
        "salesforce_plugin_spark.sources.io",
        ["write_csv", "write_ndjson", "write_json_array"],
    ),
    "operators.elt.reconcile_table": (
        "salesforce_plugin_spark.operators.schema_reconcile", ["reconcile_table"],
    ),
    "operators.merge.apply_changes": ("salesforce_plugin_spark.operators.merge", ["apply_changes"]),
    "streaming.upsert_batch": ("salesforce_plugin_spark.streaming.upsert", ["upsert_batch"]),
    "operators.pipeline.build_training_corpus": (
        "salesforce_plugin_spark.operators.pipeline", ["build_training_corpus"],
    ),
}
#: whole modules whose public functions are wrapped under one span name.
WRAPPED_MODULES = {
    "functions.dedup": "salesforce_plugin_spark.functions.dedup",
    "functions.text": "salesforce_plugin_spark.functions.text",
    "functions.vector": "salesforce_plugin_spark.functions.vector",
}

BUSY = [
    "plans.soql_to_df", "sources.load_table", "exec.action", "sources.io.write",
    "operators.elt.extract", "operators.elt.reconcile", "operators.merge.apply_changes",
    "streaming.upsert_batch", "functions.dedup", "functions.text", "functions.vector",
    "operators.pipeline.build_training_corpus",
]

#: name → unit, in print order; the list BENCHMARK.json's per_layer mirrors.
PER_LAYER = {
    "session.get_spark_s": "s",
    "warmup_s": "s",
    "plans.soql_to_df.calls": "count",
    "plans.soql_to_df.p50_ms": "ms",
    "sources.load_table.calls": "count",
    **{f"{b}.busy_s": "s" for b in BUSY},
    **{f"{b}.self_s": "s" for b in BUSY},
    "op.self_s": "s",
    "exec.jobs_per_op": "count",
    "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count",
    "exec.task_time_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.sched_overhead_s": "s",
    "exec.queue_wait_s": "s",
    "sources.io.bytes_written.csv": "bytes",
    "sources.io.bytes_written.ndjson": "bytes",
    "operators.elt.reconcile.ddl_statements": "count",
    "streaming.upsert_batch.bytes_written": "bytes",
    "streaming.upsert.rows_rewritten_per_changed_row": "ratio",
    "elt.write_amp": "ratio",
    "functions.dedup.candidate_pairs": "count",
    "functions.dedup.true_pair_share": "ratio",
    "fail_share": "ratio",
    "peak_rss_mb": "MB",
    "traced.ops_per_s": "op/s",
    "traced.latency_p50_s": "s",
}


def install(tracer) -> None:
    import importlib
    import inspect

    # import the whole program first so every alias is bound before wrapping
    importlib.import_module("salesforce_plugin_spark.conformance")
    importlib.import_module("salesforce_plugin_spark.operators.elt")

    def bytes_after(fmt):
        def after(_result, args, kwargs):
            path = args[1] if len(args) > 1 else kwargs["path"]
            tracer.count(f"sources.io.bytes_written.{fmt}", dir_bytes(path))
        return after

    def ddl_after(result, _args, _kwargs):
        tracer.count("operators.elt.reconcile.ddl_statements", len(result))

    for span, (modname, fns) in WRAPPED.items():
        mod = importlib.import_module(modname)
        for fn in fns:
            after = None
            if span == "sources.io.write":
                after = bytes_after({"write_csv": "csv"}.get(fn, "ndjson"))
            elif span == "operators.elt.reconcile_table":
                after = ddl_after
            tracer.wrap(mod, fn, span, after)
    for span, modname in WRAPPED_MODULES.items():
        mod = importlib.import_module(modname)
        for name, obj in list(vars(mod).items()):
            if (not name.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == modname):
                tracer.wrap(mod, name, span)


def report(ctx, results, lat, t_session) -> dict:
    tracer = ctx.tracer
    times = tracer.layer_times()
    out = {name: 0.0 for name in PER_LAYER}
    out["session.get_spark_s"] = t_session
    for b in BUSY:
        row = times.get(b, {})
        out[f"{b}.busy_s"] = row.get("busy_s", 0.0)
        out[f"{b}.self_s"] = row.get("self_s", 0.0)
    out["op.self_s"] = sum(v["self_s"] for k, v in times.items() if k.startswith("op."))
    out["plans.soql_to_df.calls"] = times.get("plans.soql_to_df", {}).get("calls", 0)
    soql = tracer.durations("plans.soql_to_df")
    out["plans.soql_to_df.p50_ms"] = 1000 * statistics.median(soql) if soql else 0.0
    out["sources.load_table.calls"] = times.get("sources.load_table", {}).get("calls", 0)
    for k, v in tracer.counts.items():
        if k in out:
            out[k] = v
    out.update(tracker_counts(ctx.spark, results))
    out.update(rest_metrics(ctx.spark, results, ctx.cores))
    out.update(ctx.layer)
    out["fail_share"] = len(failed_ops(results)) / len(results)
    out["traced.ops_per_s"] = lat["ops_per_s"]
    out["traced.latency_p50_s"] = lat["latency_p50_s"]
    return {k: (out[k], PER_LAYER[k]) for k in PER_LAYER}
