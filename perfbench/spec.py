"""The benchmark's workloads and metrics: run.py reports exactly these,
and BENCHMARK.json at the repository root lists the same."""

WORKLOADS = [
    ("iiot_backfill",
     "closed-loop drain of a fleet backfill through the stream into the lake: decode, state, sink and lake writes"),
    ("analytics_registry",
     "registry queries in seeded order to a noop sink: construction, Catalyst, codegen and execution"),
]

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("latency_p50_ms", "ms", "lower", 0.25),
    ("latency_mean_ms", "ms", "lower", 0.25),
]

_STREAM = [
    ("batches", "count"), ("trigger_ms", "ms"), ("busy_frac", "ratio"),
    ("latest_offset_ms", "ms"), ("get_batch_ms", "ms"), ("planning_ms", "ms"),
    ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"), ("state_commit_ms", "ms"),
    ("state_rows", "rows"), ("state_bytes", "B"), ("rows_dropped_late", "rows"),
]

# name, unit, better
PER_LAYER = (
    [("gen.rows", "rows", "higher"), ("gen.files", "count", "higher")]
    + [(f"stream.{q}.{n}", u, "higher" if n == "batches" else "lower")
       for q in ("raw", "agg") for n, u in _STREAM]
    + [("io.sink_ms", "ms", "lower"), ("io.sink_calls", "count", "lower"),
       ("io.sink_files", "count", "lower"), ("io.sink_bytes", "B", "lower"),
       ("io.lake_files", "count", "lower"), ("io.lake_bytes", "B", "lower"),
       ("flow.raw_table_s", "s", "lower"), ("flow.agg_table_s", "s", "lower")]
    + [("queries.construct_s", "s", "lower"), ("queries.construct_jobs", "count", "lower"),
       ("queries.plan_s", "s", "lower"), ("queries.execute_s", "s", "lower"),
       ("queries.jobs_per_query_p50", "count", "lower"),
       ("queries.codegen_compiles", "count", "lower"),
       ("queries.codegen_compile_s", "s", "lower"),
       ("queries.parity_s", "s", "lower"), ("queries.bench_s", "s", "lower"),
       ("queries.ext_s", "s", "lower"), ("queries.analytics_s", "s", "lower")]
    + [("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
       ("spark.tasks", "count", "lower"), ("spark.task_run_s", "s", "lower"),
       ("spark.task_cpu_s", "s", "lower"), ("spark.core_busy_frac", "ratio", "higher"),
       ("spark.shuffle_write_bytes", "B", "lower"), ("spark.shuffle_read_bytes", "B", "lower"),
       ("spark.spill_bytes", "B", "lower"), ("spark.gc_s", "s", "lower"),
       ("spark.input_bytes", "B", "lower"), ("spark.output_bytes", "B", "lower"),
       ("spark.speedup_vs_1core", "x", "higher")]
    + [(f"self_s.{layer}", "s", "lower")
       for layer in ("run", "gen", "stream", "io", "flow", "queries")]
    + [("trace.overhead_s", "s", "lower"), ("trace.overhead_frac", "ratio", "lower"),
       ("run.failed_frac", "ratio", "lower")]
    + [("mem.peak_heap_mb", "MB", "lower"), ("mem.peak_rss_mb", "MB", "lower")]
)


def benchmark_json():
    """The BENCHMARK.json document these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 6,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
