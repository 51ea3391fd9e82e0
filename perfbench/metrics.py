"""Metric names and units, and the Spark-wide per-layer metrics every
workload derives the same way from its traced run.

Every workload reports every metric: an untraced run the end-to-end ones,
a traced run the per-layer ones. A layer a workload does not touch reports
0 for its metrics (no micro-batches, no merges, no chart reads, no dedup
calls), which is itself the prediction that a change to that layer does not
move that workload.
"""

from __future__ import annotations

import statistics

from . import trace

E2E = {
    # median of the run's warm set-ups
    "setup_s": "s",
    # the workload's user-facing operation: a chart read, a chunk's
    # freshness (due to committed) or a dedup pass
    "latency_p50_ms": "ms",
    "latency_p75_ms": "ms",
    # reads, burst tick rows ingested or corpus documents deduplicated,
    # per second
    "throughput_per_s": "1/s",
}
#: which way is better for each end-to-end metric
BETTER = {"setup_s": "lower", "latency_p50_ms": "lower", "latency_p75_ms": "lower",
          "throughput_per_s": "higher"}

STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")
READ_CLASSES = ("materialized", "raw_1m", "on_the_fly", "gap_fill")
DEDUP_STEPS = ("exact_dedup", "line_dedup", "minhash_pairs", "dedup_clusters",
               "pick_canonical")

PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.driver_self_ms_per_op": "ms",
    "spark.executor_run_ms_per_op": "ms",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "process.peak_rss_mb": "MB",
    **{f"plans.read_ms.{c}": "ms" for c in READ_CLASSES},
    "plans.build_ms": "ms",
    "plans.collect_ms": "ms",
    "sources.files_scanned_per_read": "count",
    "sources.bytes_scanned_per_read": "bytes",
    "sources.rows_scanned_per_row_returned": "ratio",
    "operators.materialize_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_ms": "ms",
    **{f"streaming.phase_ms.{p}": "ms" for p in STREAM_PHASES},
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.holdback_exec_ms": "ms",
    "streaming.queue_wait_s": "s",
    "streaming.backlog_max_files": "count",
    "streaming.gen_lag_ms": "ms",
    "sink.merge_ms": "ms",
    "sink.copy_stage_ms": "ms",
    "sink.merge_txn_ms": "ms",
    "sink.pg_sessions": "count",
    "sink.landed_per_emitted": "ratio",
    **{f"llmdata.call_ms.{c}": "ms" for c in DEDUP_STEPS},
    **{f"llmdata.shuffle_bytes.{c}": "bytes" for c in DEDUP_STEPS},
    "llmdata.python_ms": "ms",
    "llmdata.recall": "ratio",
    # a dedup pass as its user sees it: median pass time, documents per second
    "llmdata.pass_ms": "ms",
    "llmdata.docs_per_s": "1/s",
    # the end-to-end metrics as measured under tracing; against the
    # untraced runs' values they give the tracing overhead
    **{f"traced.{k}": v for k, v in E2E.items()},
}


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def spark_per_op(log: dict, ops: dict[str, tuple[float, float]], prop: str) -> dict:
    """Spark-wide metrics per operation. ``ops`` maps an operation id, the
    value of job property ``prop`` on its jobs, to its (start, end) wall
    interval in epoch seconds."""
    by_op = trace.jobs_by(log, prop)
    n = max(len(ops), 1)
    all_jobs = [j for op in ops for j in by_op.get(op, ())]
    tot = trace.job_totals(log, all_jobs)
    driver_self = [
        (end - start)
        - trace.covered(start, end, trace.job_intervals(log, by_op.get(op, ())))
        for op, (start, end) in ops.items()
    ]
    return {
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.driver_self_ms_per_op": 1e3 * mean(driver_self),
        "spark.executor_run_ms_per_op": tot["run_ms"] / n,
        "spark.executor_cpu_ms_per_op": tot["cpu_ms"] / n,
        "spark.shuffle_write_bytes_per_op": tot["shuffle_write"] / n,
    }


def spark_whole_run(log: dict) -> dict:
    """Spill and GC over every stage the session ran."""
    return {
        "spark.spill_bytes": sum(s["spill"] for s in log["stages"].values()),
        "spark.gc_ms": sum(s["gc_ms"] for s in log["stages"].values()),
    }


def complete(layer: dict) -> dict:
    """Every per-layer metric, 0 where the workload does not touch the
    layer; unknown names are a bug in the workload."""
    unknown = set(layer) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics not declared in PER_LAYER: {sorted(unknown)}")
    return {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
