"""The metrics the benchmark prints, with their units.

``BENCHMARK.json`` lists the same names (``test_stats.py`` checks it).
Every workload prints every metric: with ``--trace 0`` the end-to-end
set, with ``--trace 1`` the per-layer set, where a layer the workload
bypasses reads 0.
"""

from perfbench.batch import QUERIES

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "op_ms": "ms",
    "latency_ms": "ms",
}

PER_LAYER = {
    # session: Spark's status store, over the measured part of the run
    "session.jobs": "count",
    "session.tasks": "count",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "session.shuffle_read_mb": "MB",
    "session.shuffle_write_mb": "MB",
    "session.spill_mb": "MB",
    "session.task_skew": "ratio",
    "session.peak_rss_mb": "MB",
    # catalog
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    # queries
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    **{f"query.{q}_s": "s" for q in QUERIES},
    # functions: Spark's Python evaluation nodes
    "functions.python_rows": "count",
    "functions.python_sent_mb": "MB",
    "functions.python_received_mb": "MB",
    "functions.python_time_s": "s",
    # sources
    "sources.produce_ms": "ms",
    "sources.backlog_max_events": "events",
    "sources.latest_offset_ms": "ms",
    # streaming
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "streaming.drain_events_per_s": "events/s",
    "streaming.sustained_events_per_s": "events/s",
    "streaming.event_latency_p99_ms": "ms",
    # txlog
    "txlog.append_batch_ms_p50": "ms",
    "txlog.append_batch_ms_max": "ms",
    "txlog.append_batch_ms_first": "ms",
    "txlog.append_batch_ms_last": "ms",
    "txlog.versions": "count",
    "txlog.live_files": "count",
    "txlog.files_per_commit": "ratio",
    "txlog.read_ms": "ms",
    "txlog.live_files_ms": "ms",
    # loadgen: the benchmark's own generator
    "loadgen.events": "count",
    "loadgen.late_max_ms": "ms",
    # self time per span kind, and the cost of tracing itself
    **{
        f"self.{k}_s": "s"
        for k in ("pass", "query", "build", "plan", "execute", "load_table",
                  "phase", "trigger", "append_batch", "read", "txtable_read")
    },
    "trace.hook_s": "s",
    "trace.work_s": "s",
}
