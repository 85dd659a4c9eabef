"""The per-layer metric names, named by engine module, and their units.

Every traced run reports every name; a layer the workload does not reach
reads 0.
"""

from __future__ import annotations

#: Engine module of each operator the reference DAG builds.
QUERY_MODULE = {
    "master_join": "master",
    "b_sales_kpi": "business",
    "b_performance_metrics": "business",
    "b_customer_retention": "business",
    "b_profitability_kpi": "business",
    "b_product_performance": "business",
}
QUERY_FIELDS = {
    "build_s": "s",
    "py4j_calls": "count",
    "catalyst_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "executor_cpu_s": "s",
    "shuffle_bytes": "bytes",
}
OTHER = {
    "query.spill_bytes": "bytes",
    "query.gc_s": "s",
    "operators.master.master_join.rows_out": "count",
    "plans.runner.busy_s": "s",
    "plans.runner.concurrency": "ratio",
    "plans.runner.wait_s": "s",
    "plans.runner.critical_path_s": "s",
    "plans.runner.retries": "count",
    "sources.generators.write_landing_s": "s",
    "sources.generators.landing_bytes": "bytes",
    "sources.readers.sense_s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.analyze_s": "s",
    "sinks.archive_s": "s",
    "streaming.ingest.batches": "count",
    "streaming.ingest.batch_s": "s",
    "streaming.ingest.add_batch_s": "s",
    "streaming.ingest.latest_offset_s": "s",
    "streaming.ingest.commit_s": "s",
    "streaming.ingest.query_planning_s": "s",
    "streaming.ingest.archive_s": "s",
    "streaming.ingest.backlog_files_max": "count",
    "streaming.dedup.state_rows": "count",
    "streaming.dedup.state_memory_bytes": "bytes",
    "streaming.dedup.state_commit_s": "s",
    "streaming.dedup.dropped_duplicates": "count",
    "session.start_s": "s",
    "registry.load_s": "s",
    "trace.overhead_s": "s",
}


def query_prefix(query: str) -> str:
    return f"operators.{QUERY_MODULE[query]}.{query}"


def query_metric(query: str, field: str) -> str:
    return f"{query_prefix(query)}.{field}"


UNITS = {query_metric(q, f): u for q in QUERY_MODULE for f, u in QUERY_FIELDS.items()}
UNITS.update(OTHER)


def complete(values: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric with its unit, 0 where *values* lacks it."""
    unknown = set(values) - set(UNITS)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in UNITS.items()}
