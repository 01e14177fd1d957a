"""Names and units of everything the benchmark reports.

``run.py`` emits exactly these metrics and ``BENCHMARK.json`` lists
them; ``tests/test_schema.py`` keeps the three in step.
"""

WORKLOADS = ("pipeline_csv", "headliners_cold")

#: End-to-end metrics, printed with ``--trace 0`` for every workload.
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "call_p50_s": "s",
    "call_tail_s": "s",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics, printed with ``--trace 1`` for every workload.
#: Values are per steady pass (median over the traced passes) unless
#: the name says otherwise; a layer a workload does not reach reads 0.
PER_LAYER = {
    "session.jvm_launch_s": "s",
    "session.get_spark_s": "s",
    "session.warm_get_spark_s": "s",
    "session.tune_calls": "count",
    "session.tune_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_job_s": "s",
    "registry.build_py_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.fresh_plan_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.idle_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "plans.run_pipeline_s": "s",
    "plans.run_pipeline.self_s": "s",
    "operators.quality.dq_profile_s": "s",
    "operators.quality.dq_profile_jobs": "count",
    "operators.cleaning.clean_transactions_s": "s",
    "operators.cleaning.rows_kept_frac": "ratio",
    "operators.analytics.build_s": "s",
    "sources.csv_scans": "count",
    "sources.csv_scan_task_s": "s",
    "sources.sinks.write_single_csv_s": "s",
    "sources.sinks.write_json_metrics_s": "s",
    "sources.sinks.bytes_written_mb": "MB",
    "sources.sinks.write_amp": "ratio",
    "cache.stored_mb": "MB",
    "control.duckdb_pass_s": "s",
    "control.duckdb_ratio": "ratio",
    "trace.overhead_frac": "ratio",
    "ops.failed_frac": "ratio",
}

_ALL = WORKLOADS
_PIPE = ("pipeline_csv",)
_COLD = ("headliners_cold",)

#: The workloads on which each per-layer metric measures something; on
#: the others it reads 0 by construction (e.g. ``run_pipeline`` builds
#: no registry query, so its ``registry.*`` values are 0).
REACHES = {
    "session.jvm_launch_s": _ALL,
    "session.get_spark_s": _ALL,
    "session.warm_get_spark_s": _ALL,
    "session.tune_calls": _ALL,
    "session.tune_s": _ALL,
    **{m: _COLD for m in PER_LAYER if m.startswith(("registry.", "catalyst."))},
    "exec.fresh_plan_s": _COLD,
    **{m: _ALL for m in PER_LAYER if m.startswith("exec.") and m != "exec.fresh_plan_s"},
    **{m: _PIPE for m in PER_LAYER
       if m.startswith(("plans.", "operators.", "sources.", "cache."))},
    "control.duckdb_pass_s": _ALL,
    "control.duckdb_ratio": _ALL,
    "trace.overhead_frac": _ALL,
    "ops.failed_frac": (),  # 0 on every workload while outputs are correct
}

#: Fields of one span record in the ``*.spans.json`` output.
SPAN_FIELDS = ("id", "name", "start", "end", "parent", "op")

#: Keys of the result line (the last line of standard output).
RESULT_KEYS = ("correct", "attempted", "failed", "metrics")
