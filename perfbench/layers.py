"""The benchmark's metrics: end-to-end ones, and per-layer ones with the
end-to-end metric and workload each should move. BENCHMARK.json lists
the same names (a test keeps the two in step)."""

from __future__ import annotations

# (name, unit, better, bound) — reported by every workload, untraced
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("latency_mean_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("index_bytes_per_text_byte", "ratio", "lower", 0.06),
)

# What one timed operation and one unit of throughput are per workload.
OPERATION = {
    "build": ("one cold build_index of the corpus", "docs indexed"),
    "query": ("one top-k query (single, not batched)", "queries answered, batched ones included"),
}

# (name, unit, better, moves, on which workload) — reported by the traced run
PER_LAYER = (
    ("session.start_s", "s", "lower", "setup_s", "all"),
    ("analysis.tokens_per_s", "1/s", "higher", "throughput_per_s", "build"),
    ("build.docs_s", "s", "lower", "throughput_per_s", "build"),
    ("build.segments_s", "s", "lower", "throughput_per_s", "build"),
    ("build.term_stats_s", "s", "lower", "throughput_per_s", "build"),
    ("build.corpus_stats_s", "s", "lower", "throughput_per_s", "build"),
    ("build.jobs", "count", "lower", "throughput_per_s", "build"),
    ("build.tasks", "count", "lower", "throughput_per_s", "build"),
    ("build.shuffle_write_bytes", "bytes", "lower", "throughput_per_s", "build"),
    ("build.cpu_busy_ratio", "ratio", "higher", "throughput_per_s", "build"),
    ("build.segments_task_skew", "ratio", "lower", "throughput_per_s", "build"),
    ("build.gc_s", "s", "lower", "rss.peak_mb", "build"),
    ("build.failed_tasks", "count", "lower", "throughput_per_s", "build"),
    ("codec.encode_mb_per_s", "MB/s", "higher", "throughput_per_s", "build"),
    ("codec.decode_mb_per_s", "MB/s", "higher", "latency_mean_s", "query"),
    ("codec.bytes_per_posting", "bytes", "lower", "index_bytes_per_text_byte", "all"),
    ("catalog.commits_per_build", "count", "lower", "throughput_per_s", "build"),
    ("catalog.manifest_read_s", "s", "lower", "latency_mean_s", "query"),
    ("parser.parse_us", "us", "lower", "latency_mean_s", "query"),
    ("parser.run_query_s", "s", "lower", "latency_mean_s", "query"),
    ("engine.reader_open_s", "s", "lower", "setup_s", "query"),
    ("engine.term_dfs_s", "s", "lower", "latency_mean_s", "query"),
    ("engine.search_s", "s", "lower", "latency_mean_s", "query"),
    ("engine.search_s.not", "s", "lower", "latency_mean_s", "query"),
    ("engine.search_s.prox", "s", "lower", "latency_mean_s", "query"),
    ("engine.jobs_per_query", "count", "lower", "latency_mean_s", "query"),
    ("engine.tasks_per_query", "count", "lower", "latency_mean_s", "query"),
    ("engine.sched_delay_s_per_query", "s", "lower", "latency_mean_s", "query"),
    ("engine.records_read_per_result", "count", "lower", "latency_mean_s", "query"),
    ("engine.search_many_s", "s", "lower", "throughput_per_s", "query"),
    ("wand.search_s", "s", "lower", "latency_mean_s", "query"),
    ("wand.search_s.or_head", "s", "lower", "latency_mean_s", "query"),
    ("wand.search_s.and", "s", "lower", "latency_mean_s", "query"),
    ("wand.search_s.term_tail", "s", "lower", "latency_mean_s", "query"),
    ("wand.blocks_decoded", "count", "lower", "latency_mean_s", "query"),
    ("wand.blocks_decoded_ratio", "ratio", "lower", "latency_mean_s", "query"),
    ("incremental.append_s", "s", "lower", "-", "traced build: append probe"),
    ("incremental.generations", "count", "lower", "-", "traced build: append probe"),
    ("incremental.shuffle_write_bytes", "bytes", "lower", "-", "traced build: append probe"),
    ("incremental.reader_open_s", "s", "lower", "-", "traced build: append probe"),
    ("incremental.query_s", "s", "lower", "-", "traced build: append probe"),
    ("catalog.commits_per_write", "count", "lower", "-", "traced build: append probe"),
    ("rss.peak_mb", "MB", "lower", "-", "all"),
    ("rss.jvm_mb", "MB", "lower", "rss.peak_mb", "all"),
    ("rss.workers_mb", "MB", "lower", "rss.peak_mb", "all"),
    ("rss.driver_mb", "MB", "lower", "rss.peak_mb", "all"),
    ("self_s.build", "s", "lower", "throughput_per_s", "build"),
    ("self_s.engine", "s", "lower", "latency_mean_s", "query"),
    ("self_s.wand", "s", "lower", "latency_mean_s", "query"),
    ("self_s.parser", "s", "lower", "latency_mean_s", "query"),
    ("trace.unattributed_s", "s", "lower", "latency_mean_s", "all"),
    ("trace.overhead_s_per_op", "s", "lower", "latency_mean_s", "all"),
    ("trace.latency_mean_s", "s", "lower", "latency_mean_s", "all"),
)
