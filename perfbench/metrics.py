"""Names and units of the per-layer metrics a traced run prints (the
``per_layer`` list of ``BENCHMARK.json``). A metric that does not apply
to a workload reads 0 there."""

from workloads import MIX

_OPERATOR = (("plan_s", "s"), ("exec_s", "s"), ("executor_cpu_s", "s"),
             ("shuffle_bytes", "bytes"), ("spark_jobs", "count"))

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("sources.rows_read", "rows"),
    ("sources.bytes_read", "bytes"),
    ("sources.rows_read_per_record_posted", "ratio"),
    ("plans.sync.run_sync_s", "s"),
    ("plans.sync.self_s", "s"),
    ("plans.sync.spark_jobs", "count"),
    ("plans.sync.max_bookmark_s", "s"),
    ("plans.state.io_s", "s"),
    ("sink.http_sink.task_s", "s"),
    ("sink.http_sink.tasks", "count"),
    ("sink.http_sink.post_window_s", "s"),
    ("sink.http_sink.posts", "count"),
    ("sink.http_sink.records_per_post", "count"),
    ("sink.http_sink.bytes_per_record", "bytes"),
    ("sink.http_sink.quarantined", "count"),
    ("sink.http_sink.replayed_posts", "count"),
    ("sink.http_sink.mock_api_s", "s"),
    *[(f"operators.{q}.{m}", u) for q in MIX for m, u in _OPERATOR],
    ("staging.bytes_written", "bytes"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("trace.span_coverage_min", "fraction"),
]
