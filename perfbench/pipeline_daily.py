"""Workload ``pipeline_daily``: the user's daily job.

Each op is one ``overwrite_run`` of the reference DAG for the same run
date, driven by ``plans.runner``: four generator batches land as CSV/TSV
files, are sensed and loaded into ``raw_layer``, the sales snapshot is
exported and loaded, landing is archived, ``master_layer`` is rebuilt and
the five ``business_layer`` KPIs and the master ANALYZE run concurrently.
An item's latency is a table's freshness: the time from the run's start
until the table's data is written. The generator seeds are fixed inside
``build_reference_pipeline``, so the workload seed only picks the run date.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import duckdb

from core import median, now, quantile
from layers import query_metric, query_prefix
from oracle import mismatch
from spans import catalyst_s

SIZES = {"campaigns": 2_500, "transactions": 2_500, "slots": 500}
#: Rows these sizes produce (CSV plus TSV batch per raw table).
EXPECTED_ROWS = {
    "raw_layer.r_campaigns": 5_000,
    "raw_layer.r_transactions": 5_000,
    "raw_layer.r_sales": 4_166,
    "master_layer.m_data_model": 77_090,
}
#: Landing files per run: campaigns and transactions as CSV and TSV, sales.
FILES_PER_RUN = 5
WARMUP_RUNS = 2
MIN_RUNS = 3


def run(bench) -> dict:
    from datapipeline_gcp_spark.operators import business as biz
    from datapipeline_gcp_spark.plans import reference_pipeline as rp

    spark = bench.spark
    run_date = (dt.date(2023, 6, 1) + dt.timedelta(days=bench.seed % 365)).strftime("%Y%m%d")
    landing, archive = f"{bench.work}/landing", f"{bench.work}/archive"
    warehouse = f"{bench.work}/warehouse"
    steps: dict[str, list[str]] = {}
    if bench.tracer is not None:
        _instrument(bench.tracer, steps)

    def dag():
        p = rp.build_reference_pipeline(landing, archive, mode="overwrite_run", sizes=SIZES)
        return p.run(spark, run_date=run_date)

    def problem(results, runs_done: int) -> str | None:
        bad = {n: r.error or r.status for n, r in (results or {}).items()
               if r.status != "success"}
        if bad or not results:
            return f"DAG run failed steps: {bad}"
        left = glob.glob(f"{landing}/*/*_{run_date}_*")
        archived = len(glob.glob(f"{archive}/*_{run_date}_*"))
        if left or archived != FILES_PER_RUN * runs_done:
            return f"landing not archived: {len(left)} left, {archived} archived"
        return None

    for i in range(WARMUP_RUNS):
        why = problem(dag(), i + 1)
        if why:
            raise RuntimeError(f"warm-up: {why}")

    ops: list[dict] = []
    window = now()
    while len(ops) < MIN_RUNS or bench.time_left(window):
        since = time.time()
        results, wall = bench.op(dag, count=False)
        why = problem(results, WARMUP_RUNS + len(ops) + 1)
        bench.count(why is None, why)
        ops.append({"results": results or {}, "wall": wall, "fresh": _freshness(warehouse, since),
                    "op": bench.tracer.op_id if bench.tracer else None,
                    "written": _written(warehouse, since) if bench.tracer else None})
    bench.close_window()

    rows, counts = _check(bench, biz)
    per_table: dict[str, list[float]] = {}
    for op in ops:
        for table, s in op["fresh"].items():
            per_table.setdefault(table, []).append(s)
    fresh_s = [median(v) for v in per_table.values()]
    return {
        "rows_per_s": rows / median(bench.op_wall),
        "latency_p50_s": quantile(fresh_s, 0.5),
        "latency_p90_s": quantile(fresh_s, 0.9),
        "details": {"run_date": run_date, "runs": len(ops), "rows_written_per_run": rows,
                    "op_wall_s": bench.op_wall},
        "ops": ops,
        "steps": steps,
        "master_rows": counts["master_layer.m_data_model"],
    }


def _check(bench, biz) -> tuple[int, dict[str, int]]:
    """Row counts of raw and master, and every business table against
    DuckDB running the reference SQL over the run's raw rows. Returns the
    rows one run writes and the raw and master tables' row counts."""
    spark = bench.spark
    counts = {t: spark.table(t).count() for t in EXPECTED_ROWS}
    bench.count(counts == EXPECTED_ROWS, f"row counts {counts} != {EXPECTED_ROWS}")
    con = duckdb.connect()
    for t in ("campaigns", "transactions", "sales"):
        raw = spark.table(f"raw_layer.r_{t}").drop("load_date", "src_format").toPandas()
        con.register(f"r_{t}", raw)
    written = sum(counts.values())
    for name in biz.BUILDERS:
        got = spark.table(f"business_layer.{name}").toPandas()
        want = con.execute(biz.oracle_for(name, biz.REFERENCE_MASTER_SQL)).df()
        why = mismatch(got, want)
        bench.count(why is None, f"business_layer.{name}: {why}")
        written += len(got)
    con.close()
    return written, counts


def _freshness(warehouse: str, since: float) -> dict[str, float]:
    """Seconds from the DAG run's start until each raw, master and business
    table's data was written, from the mtimes of its data files."""
    out = {}
    from datapipeline_gcp_spark.operators import business as biz

    for table in list(EXPECTED_ROWS) + [f"business_layer.{n}" for n in biz.BUILDERS]:
        db, name = table.split(".")
        newest = 0.0
        for dirpath, _dirs, names in os.walk(f"{warehouse}/{db}.db/{name}"):
            for n in names:
                if not n.startswith((".", "_")):
                    newest = max(newest, os.stat(os.path.join(dirpath, n)).st_mtime)
        if newest >= since:
            out[table] = newest - since
    return out


def _written(warehouse: str, since: float) -> tuple[int, int]:
    """Data files (and their bytes) written under the warehouse since *since*."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(warehouse):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, n))
            if st.st_mtime >= since:
                files += 1
                size += st.st_size
    return files, size


# -- tracing -----------------------------------------------------------------


def _instrument(tracer, steps: dict[str, list[str]]) -> None:
    from datapipeline_gcp_spark import sinks
    from datapipeline_gcp_spark.operators import business as biz
    from datapipeline_gcp_spark.plans import reference_pipeline as rp
    from datapipeline_gcp_spark.plans import runner
    from datapipeline_gcp_spark.sources import generators, readers

    step = runner.Pipeline.step

    def traced_step(self, name, fn=None, deps=(), *args, **kwargs):
        box = {}

        def traced_fn(ctx):
            with tracer.span("plans.runner.step", step=box["name"]):
                return fn(ctx)

        full = step(self, name, traced_fn if fn is not None else None, deps, *args, **kwargs)
        box["name"] = full
        steps[full] = list(deps)
        return full

    tracer.patch(runner.Pipeline, "step", traced_step)
    tracer.wrap(generators, "write_landing_file", "sources.generators.write_landing_file",
                on_result=lambda rec, path: rec.update(bytes=os.path.getsize(path)))
    tracer.wrap(readers, "sense_files", "sources.readers.sense_files")
    tracer.wrap(sinks, "overwrite_partitions", "sinks.write")
    tracer.wrap(sinks, "append_table", "sinks.write")
    tracer.wrap(sinks, "analyze_table", "sinks.analyze")
    tracer.wrap(sinks, "archive_files", "sinks.archive")
    for name in list(biz.BUILDERS):
        _wrap_builder(tracer, biz.BUILDERS, name, query_prefix(name))
    _wrap_builder(tracer, rp, "master_join", query_prefix("master_join"))


def _wrap_builder(tracer, owner, attr: str, prefix: str) -> None:
    """Time the plan build of an operator and, separately, its Catalyst
    planning, inside the runner step that then writes the result."""
    fn = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(f"{prefix}.build"):
            df = fn(*args, **kwargs)
        with tracer.span(f"{prefix}.catalyst") as rec:
            if rec is not None:
                rec["catalyst_s"] = catalyst_s(df)
        return df

    tracer.patch(owner, attr, traced)


def _critical_path(results: dict, deps: dict[str, list[str]]) -> float:
    done: dict[str, float] = {}

    def finish(name: str) -> float:
        if name not in done:
            done[name] = results[name].duration_s + max(
                (finish(d) for d in deps.get(name, [])), default=0.0)
        return done[name]

    return max(finish(n) for n in results)


def layer_metrics(bench, out: dict) -> dict[str, float]:
    from datapipeline_gcp_spark.operators import business as biz

    tracer = bench.tracer
    per_op: list[dict[str, float]] = []
    for op in out["ops"]:
        spans = [s for s in tracer.spans if s["op"] == op["op"]]
        if not spans or not op["results"]:
            continue
        m: dict[str, float] = {}

        def total(name: str, key: str = "dur") -> float:
            return sum((s["end"] - s["start"]) if key == "dur" else s.get(key, 0)
                       for s in spans if s["name"] == name)

        step_spans = {s["step"]: s for s in spans if s["name"] == "plans.runner.step"}
        results = op["results"]
        busy = sum(r.duration_s for r in results.values())
        m["plans.runner.busy_s"] = busy
        m["plans.runner.concurrency"] = busy / op["wall"]
        m["plans.runner.critical_path_s"] = _critical_path(results, out["steps"])
        m["plans.runner.retries"] = sum(r.attempts - 1 for r in results.values() if r.attempts)
        dag_start = min(s["start"] for s in step_spans.values())
        wait = 0.0
        for name, s in step_spans.items():
            ready = max((step_spans[d]["end"] for d in out["steps"].get(name, [])
                         if d in step_spans), default=dag_start)
            wait += max(0.0, s["start"] - ready)
        m["plans.runner.wait_s"] = wait
        m["sources.generators.write_landing_s"] = total("sources.generators.write_landing_file")
        m["sources.generators.landing_bytes"] = total("sources.generators.write_landing_file", "bytes")
        m["sources.readers.sense_s"] = total("sources.readers.sense_files")
        m["sinks.write_s"] = total("sinks.write")
        m["sinks.analyze_s"] = total("sinks.analyze")
        m["sinks.archive_s"] = total("sinks.archive")
        m["sinks.files_written"], m["sinks.bytes_written"] = op["written"]
        m["query.spill_bytes"] = sum(s.get("spill_bytes", 0) for s in step_spans.values())
        m["query.gc_s"] = sum(s.get("gc_s", 0) for s in step_spans.values())
        for query, step_name in [(n, f"business.{n}") for n in biz.BUILDERS] + [
                ("master_join", "build_master")]:
            st = step_spans.get(step_name)
            prefix = query_prefix(query)
            build = total(f"{prefix}.build")
            cat = total(f"{prefix}.catalyst")
            m[query_metric(query, "build_s")] = build
            m[query_metric(query, "py4j_calls")] = total(f"{prefix}.build", "py4j_calls")
            m[query_metric(query, "catalyst_s")] = total(f"{prefix}.catalyst", "catalyst_s")
            if st is not None:
                m[query_metric(query, "exec_s")] = st["end"] - st["start"] - build - cat
                for f in ("jobs", "executor_cpu_s", "shuffle_bytes"):
                    m[query_metric(query, f)] = st.get(f, 0)
        per_op.append(m)
    values = {k: median([m.get(k, 0.0) for m in per_op]) for k in per_op[0]} if per_op else {}
    values["operators.master.master_join.rows_out"] = out["master_rows"]
    return values

