"""Benchmark of the engine as its users run it, end to end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a source tree of the engine. Workloads:

- ``pipeline_daily``: repeated idempotent runs of the reference medallion
  DAG (generate landing files, sense, load raw, archive, master join, five
  business KPIs, ANALYZE) through ``plans.runner``. One op is one DAG run.
- ``stream_ingest``: ``streaming.ingest.stream_landing_table`` with the
  e2e gate's validity filter and exactly-once dedup over seeded landing
  CSV files with redeliveries. (a) one backlog drained with ``availableNow``
  again and again into fresh tables (one op is one micro-batch), then (b)
  a live stream fed at a fixed rate.

The headline queries are not a workload here: ``bench.py`` times them.

End-to-end metrics (``--trace 0``), for every workload:

- ``setup_s``: process start to the first timed op, warm-up included.
- ``op_s``: wall time of one op: the median DAG run; the median over the
  backlog drains of a drain's wall per micro-batch.
- ``rows_per_s``: rows delivered per second of op time (rows a DAG run
  writes, rows a backlog drain ingests, median over the drains). The
  checks pin these row counts and a drain's batch count is fixed, so on
  both workloads it is ``op_s`` rescaled, kept as the throughput a user
  reads.
- ``latency_p50_s`` / ``latency_p90_s``: per-item latency: each table's
  median time from DAG start until its data is written; each live stream
  file's time from due to the ``on_batch`` call of its batch.
- ``cpu_s``: JVM plus Python CPU seconds per op (median).
- ``peak_rss_mb``: peak resident memory of the JVM plus Python.
- ``success_rate``: share of attempted ops that neither failed nor missed
  a correctness check (1 - error rate).

``--trace 1`` repeats the run with every other op instrumented, prints the
per-layer metrics and writes the spans next to the result record under
``.perfbench/out/``. Outputs are checked against DuckDB or the generated
input on every run; a mismatch makes ``correct`` false and the exit code 1.
The last line of stdout is the JSON result; logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Local mode is one JVM; its heap is pinned to fit a small shared host.
DRIVER_MEM = "1536m"
#: A run must end within three minutes; leave room for shutdown.
DEADLINE_S = 165
WORKLOADS = ("pipeline_daily", "stream_ingest")


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


class _Deadline(BaseException):
    """Not an ``Exception``, so a timed op's error handling cannot swallow it."""


def _on_alarm(signum, frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


def _session(work: str, trace: bool):
    from datapipeline_gcp_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.local.dir": f"{work}/local",
        # a fixed heap size keeps heap growth out of the memory and time
        # figures. The JIT stops at its first tier: with the second, each
        # DAG run still spent 4-7 s of compiler CPU after ten runs, and op
        # times kept falling by a level that differed from JVM to JVM;
        # with the first alone they are level from the second run on. The
        # first tier alone defaults to a 48 MB code cache, which Spark's
        # generated classes filled within four runs; it gets the 240 MB
        # that the two tiers default to.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
                                         "-XX:TieredStopAtLevel=1 "
                                         "-XX:ReservedCodeCacheSize=240m "
                                         f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_session(app_name="perfbench", warehouse_dir=f"{work}/warehouse",
                        extra_conf=conf)
    # every raw load's glob read logs a FileNotFoundException stack at WARN
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _e2e(bench, out: dict) -> dict:
    from core import median, peak_rss_mb

    rss = peak_rss_mb(bench.jvm_pid) + peak_rss_mb()
    rate = 1.0 - bench.failed / bench.attempted if bench.attempted else 0.0
    values = {
        "setup_s": (bench.setup_s, "s"),
        "op_s": (out.get("op_s", median(bench.op_wall)), "s"),
        "rows_per_s": (out["rows_per_s"], "1/s"),
        "latency_p50_s": (out["latency_p50_s"], "s"),
        "latency_p90_s": (out["latency_p90_s"], "s"),
        "cpu_s": (out.get("cpu_s", median(bench.op_cpu)), "s"),
        "peak_rss_mb": (rss, "MB"),
        "success_rate": (rate, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main() -> int:
    args = _args()
    from core import Bench, fingerprint, now, process_start

    started = process_start()
    # stdout carries the result line only: everything else, the JVM's
    # output included, goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path.insert(1, ROOT)
    try:
        import datapipeline_gcp_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    for d in ("local", "tmp"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)

    layers: dict[str, float] = {}
    spark = None
    try:
        t = now()
        spark = _session(work, bool(args.trace))
        layers["session.start_s"] = now() - t
        t = now()
        from datapipeline_gcp_spark import registry

        registry.all_queries()
        layers["registry.load_s"] = now() - t

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        bench = Bench(spark=spark, root=ROOT, work=work, seed=args.seed,
                      seconds=args.seconds, started=started, tracer=tracer)
        module = __import__(args.workload)
        out = module.run(bench)
        if tracer is not None:
            tracer.restore()
            tracer.attach_job_metrics()
            layers.update(module.layer_metrics(bench, out))
            layers.setdefault("trace.overhead_s", bench.tracing_overhead_s())
        metrics = _e2e(bench, out)
        details = out.get("details", {})
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "e2e": metrics, "details": details,
                  "problems": bench.problems,
                  "fingerprint": fingerprint(bench, cpus, DRIVER_MEM)}
        if "generator_max_lateness_s" in details:
            record["fingerprint"]["open_loop_max_lateness_s"] = details["generator_max_lateness_s"]
    except _Deadline as ex:
        print(f"perfbench: {ex}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        tracer.write(stem + ".spans.jsonl")
        from layers import complete

        metrics = complete(layers)
        record["layers"] = metrics
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for p in bench.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    correct = bench.failed == 0
    line = {"correct": correct, "attempted": bench.attempted, "failed": bench.failed,
            "metrics": metrics}
    os.write(result_fd, (json.dumps(line) + "\n").encode())
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
