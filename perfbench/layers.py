"""Every metric the benchmark reports: unit, direction, and for the per-layer
metrics the end-to-end metric each should move and on which workloads.
BENCHMARK.json lists the same names, units and directions; this file is the
per-layer -> end-to-end -> workload map.

The crawl-set layers (page kernel, checkpoint, flagship job, graph,
curate) are measured in every traced run on the seeded crawl set that run
feeds to ``jobs/flagship_job.main``; they move the flagship job's wall,
which no untraced workload times."""

from __future__ import annotations

FS, MX = "dict-fastscan", "dict-mixed"
ALL = (FS, MX)
JOB = "flagship job wall on the crawl set"

# name -> (unit, better).  peak_rss_mb is the Spark Python workers' summed
# RSS (the median over the timed jobs of each job's peak): the JVM's RSS
# follows its garbage collector's heap sizing and varies by a fifth between
# runs of the same job, so it is reported per layer (proc.driver_rss_mb).
# failed_frac (failed / attempted) is printed with these but is 0 on a
# correct run, so it is carried by the result's attempted/failed counts.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "core_s_per_kdoc": ("core-s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> (unit, better, moves, workloads)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", ALL),
    "kernel.docs_per_s": ("docs/s", "higher", "docs_per_s core_s_per_kdoc", (FS, MX)),
    "kernel.decode_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (FS, MX)),
    "kernel.detect_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (FS, MX)),
    "kernel.fastscan_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (FS,)),
    "kernel.dom_parse_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (MX,)),
    "kernel.slow_dom_calls": ("count", "lower", "docs_per_s core_s_per_kdoc", (MX,)),
    "kernel.textflat_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (MX,)),
    "kernel.fold_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (MX,)),
    "kernel.post_process_s": ("s", "lower", "docs_per_s core_s_per_kdoc", (FS, MX)),
    "kernel.path_fastscan": ("count", "higher", "docs_per_s core_s_per_kdoc", (FS, MX)),
    "kernel.path_dom": ("count", "lower", "docs_per_s core_s_per_kdoc", (MX,)),
    "kernel.fastscan_hit_ratio": ("ratio", "higher", "docs_per_s core_s_per_kdoc", (FS, MX)),
    "kernel.errors": ("count", "lower", "docs_per_s", (FS, MX)),
    "kernel.span_cover_frac": ("ratio", "higher", "none (trace quality)", ALL),
    "page_kernel.docs_per_s": ("docs/s", "higher", JOB, ALL),
    "page_kernel.parse_s": ("s", "lower", JOB, ALL),
    "page_kernel.main_walk_s": ("s", "lower", JOB, ALL),
    "page_kernel.meta_walk_s": ("s", "lower", JOB, ALL),
    "udf.python_total_s": ("s", "lower", "docs_per_s", (FS,)),
    "udf.python_init_s": ("s", "lower", "docs_per_s", (FS,)),
    "udf.python_boot_s": ("s", "lower", "docs_per_s setup_s", (FS,)),
    "udf.bytes_to_python": ("bytes", "lower", "docs_per_s peak_rss_mb", (FS, MX)),
    "udf.bytes_from_python": ("bytes", "lower", "docs_per_s peak_rss_mb", (FS, MX)),
    "udf.rows": ("count", "higher", "none (input size)", ALL),
    "udf.kernel_s": ("s", "lower", "docs_per_s", (FS,)),
    "udf.boundary_frac": ("ratio", "lower", "docs_per_s", (FS,)),
    "stage.wall_s_1core": ("s", "lower", "docs_per_s", (FS, MX)),
    "stage.wall_s_ncore": ("s", "lower", "docs_per_s", (FS, MX)),
    "stage.scaling_1toN": ("ratio", "higher", "docs_per_s", (FS, MX)),
    "stage.shuffle_bytes": ("bytes", "lower", "docs_per_s", (FS, MX)),
    "stage.shuffle_write_s": ("s", "lower", "docs_per_s", (FS, MX)),
    "stage.tasks": ("count", "lower", "docs_per_s", (FS, MX)),
    "stage.task_skew": ("ratio", "lower", "docs_per_s", (MX, FS)),
    "checkpoint.run_s": ("s", "lower", JOB, ALL),
    "checkpoint.bytes_written": ("bytes", "lower", JOB, ALL),
    "checkpoint.partition_skew": ("ratio", "lower", JOB, ALL),
    "job.extract_s": ("s", "lower", JOB, ALL),
    "job.graph_s": ("s", "lower", JOB, ALL),
    "job.curate_s": ("s", "lower", JOB, ALL),
    "graph.edges": ("count", "higher", JOB, ALL),
    "graph.hosts": ("count", "higher", JOB, ALL),
    "curate.docs_in": ("count", "higher", JOB, ALL),
    "curate.after_quality": ("count", "higher", JOB, ALL),
    "curate.after_dedup": ("count", "higher", JOB, ALL),
    "curate.dedup_ratio": ("ratio", "higher", JOB, ALL),
    "proc.driver_rss_mb": ("MB", "lower", "peak_rss_mb", ALL),
    "proc.worker_rss_mb": ("MB", "lower", "peak_rss_mb", ALL),
    "trace.overhead_frac": ("ratio", "lower", "none (trace cost)", ALL),
}
