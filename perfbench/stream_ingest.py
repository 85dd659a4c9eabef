"""Workload ``stream_ingest``: event-driven ingest of landing files.

``streaming.ingest.stream_landing_table`` with the e2e gate's transform:
event-time validity filter, then exactly-once dedup on ``event_id``. Every
tenth file is redelivered under a new object name. Input files come from
``data.event_rows``; each lands by atomic rename.

(a) Capacity: a pre-landed backlog is drained with ``availableNow`` and
    ``maxFilesPerTrigger``, into a fresh table and checkpoint each time,
    until only the live phase's share of the run's seconds is left. One
    op is one micro-batch of a drain. Wall time, CPU and rows are all
    taken over a whole drain, as its user waits for it (stream start and
    planning, every batch, the final archive): ``op_s`` and ``cpu_s`` are
    a drain's wall and CPU divided by its batches, ``rows_per_s`` its
    delivered rows per second of wall, each the median over the drains.
    A drain of another backlog warms the session up first.
(b) Open loop: a live stream with the idempotent sink is fed on a fixed
    schedule of ``LIVE_FILES_PER_S`` deliveries of ``LIVE_ROWS`` rows,
    9k rows/s, about a quarter of the 33k-43k rows/s that (a) measures
    on a shared 4-vCPU host. Offered twice that, one run in five under
    0.25 CPUs of hypervisor steal read a p50 latency of 1.5 s against
    0.8 s: near saturation the latency follows the host, not the engine.
    The rate is a constant, so the load does not follow the engine's
    speed or the run's seconds. A file's latency runs from its due time
    to the ``on_batch`` call of the batch whose ``_ingest_batch`` holds
    its rows.
"""

from __future__ import annotations

import copy
import os
import time

import numpy as np
import pandas as pd

import data
from core import median, now, quantile

WARMUP_FILES = 16
BACKLOG_FILES = 24
BACKLOG_ROWS = 8_000
MAX_FILES_PER_TRIGGER = 4
#: Backlog drains per run at least; a traced run needs one instrumented
#: and one plain drain.
MIN_DRAINS = 3
#: Distinct live files; with redeliveries 176 deliveries, a 14.7 s feed,
#: so p90 has more than fifteen samples beyond it.
LIVE_FILES = 160
LIVE_ROWS = 750
#: 9k rows/s offered: about a quarter of the backlog drain's capacity.
LIVE_FILES_PER_S = 12.0
#: A live file not ingested this long after its due time has failed.
VISIBLE_WITHIN_S = 20.0
RUN_DATE = "20240301"


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])


def _transform(stream):
    from datapipeline_gcp_spark.streaming.dedup import streaming_ingest_dedup
    from datapipeline_gcp_spark.streaming.harness import valid_event_time

    return streaming_ingest_dedup(stream.filter(valid_event_time()), ["event_id"],
                                  project_keys=False)


class _Deliveries:
    """The landing objects of one stream: a delivery plan of file numbers
    (with redeliveries) rendered ahead of time, landed on request."""

    def __init__(self, root: str, seed: int, first_file: int, n_files: int, rows: int):
        self.plan = [first_file + f for f in data.delivery_plan(seed + first_file, n_files)]
        self.rows = {f: data.event_rows(seed, f, rows) for f in set(self.plan)}
        self.bodies = {f: data.render_csv(r) for f, r in self.rows.items()}
        self.delivered_rows = sum(len(self.rows[f]) for f in self.plan)
        self._dirs(root)

    def _dirs(self, root: str) -> None:
        self.landing, self.archive = f"{root}/landing", f"{root}/archive"
        self.checkpoint, self.staging = f"{root}/checkpoint", f"{root}/staging"
        for d in (f"{self.landing}/csv", self.staging):
            os.makedirs(d, exist_ok=True)

    def at(self, root: str) -> "_Deliveries":
        """The same deliveries for another stream, landed under *root*."""
        other = copy.copy(self)
        other._dirs(root)
        return other

    def land_all(self) -> None:
        for i in range(len(self.plan)):
            self.land(i)

    def land(self, i: int) -> None:
        data.land(f"{self.landing}/csv", f"events_{RUN_DATE}_{i:05d}.csv",
                  self.bodies[self.plan[i]], self.staging)

    def problem(self, spark, table: str) -> str | None:
        """The table must hold exactly the distinct delivered events, and
        every delivered object must have left landing for the archive."""
        left = os.listdir(f"{self.landing}/csv")
        archived = [f for f in os.listdir(self.archive) if f.endswith(".csv")] \
            if os.path.isdir(self.archive) else []
        if left or len(archived) != len(self.plan):
            return f"{table}: {len(left)} files left in landing, {len(archived)} archived"
        got = spark.table(table).select(*data.EVENT_HEADER).toPandas()
        want = pd.DataFrame([r for f in sorted(self.rows) for r in self.rows[f]],
                            columns=list(data.EVENT_HEADER))
        if len(got) != len(want):
            return f"{table}: {len(got)} rows, want {len(want)}"
        got = got.sort_values("event_id", kind="stable").reset_index(drop=True)
        ts = got["ts"].to_numpy(dtype="datetime64[s]")
        got["ts"] = np.char.replace(np.datetime_as_string(ts, unit="s"), "T", " ").astype(object)
        for col in data.EVENT_HEADER:
            if not np.array_equal(got[col].to_numpy(), want[col].to_numpy()):
                return f"{table}: column {col} differs from the delivered events"
        return None


def run(bench) -> dict:
    from datapipeline_gcp_spark.streaming import ingest

    spark, tracer = bench.spark, bench.tracer
    schema = _schema()
    if tracer is not None:
        _instrument(tracer)
    streams: list[_Deliveries] = []

    def deliveries(n_files: int, rows: int) -> _Deliveries:
        first = sum(len(set(d.plan)) for d in streams)
        d = _Deliveries(f"{bench.work}/s{len(streams)}", bench.seed, first, n_files, rows)
        streams.append(d)
        return d

    def drain(d: _Deliveries, table: str):
        stream = ingest.stream_landing_table(
            spark, d.landing, "events", "csv", schema, table, d.archive, d.checkpoint,
            max_files_per_trigger=MAX_FILES_PER_TRIGGER, transform=_transform,
            idempotent=True)
        ingest.drain(stream)
        return [p for p in stream.query.recentProgress if p.numInputRows > 0]

    warm = deliveries(WARMUP_FILES, BACKLOG_ROWS)
    backlog = deliveries(BACKLOG_FILES, BACKLOG_ROWS)
    live = deliveries(LIVE_FILES, LIVE_ROWS)
    live_s = len(live.plan) / LIVE_FILES_PER_S
    warm.land_all()
    drain(warm, "events_warmup")

    # (a) capacity: the same backlog drained into a fresh table and
    # checkpoint, again and again until the live phase's share of the
    # window is left; when traced, drains alternate instrumented and not
    drains = []
    window = now()
    while len(drains) < MIN_DRAINS or now() - window < bench.seconds - live_s:
        k = len(drains)
        d = backlog.at(f"{bench.work}/backlog{k}")
        d.land_all()
        progress, wall = bench.op(drain, d, f"events_backlog_{k}", count=False)
        why = d.problem(spark, f"events_backlog_{k}")
        bench.count(why is None, why)
        drains.append({"wall": wall, "cpu": bench.op_cpu[-1], "traced": bench.op_traced[-1],
                       "rows": d.delivered_rows, "batches": max(1, len(progress or []))})
    plain = [d for d in drains if not d["traced"]]

    # (b) open loop
    if tracer is not None:
        tracer.begin_op(True)
    result = _open_loop(bench, live, schema)
    if tracer is not None:
        tracer.end_op()
        result["op"] = tracer.op_id
    lat = result["latency_s"]
    return {
        "op_s": median([d["wall"] / d["batches"] for d in plain]),
        "cpu_s": median([d["cpu"] / d["batches"] for d in plain]),
        "rows_per_s": median([d["rows"] / d["wall"] for d in plain]),
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "details": {"backlog_drains": drains, "live_deliveries": len(live.plan),
                    "live_files_visible": len(lat),
                    "live_rate_files_per_s": LIVE_FILES_PER_S,
                    "generator_max_lateness_s": result["max_lateness_s"]},
        "live": result,
        "drains": drains,
    }


def _open_loop(bench, live: _Deliveries, schema) -> dict:
    from pyspark.sql import functions as F

    from datapipeline_gcp_spark.streaming import ingest

    spark = bench.spark
    table = "events_live"
    batch_at: dict[int, float] = {}

    def on_batch(_spark, batch_id: int) -> None:
        batch_at[batch_id] = now()

    stream = ingest.stream_landing_table(
        spark, live.landing, "events", "csv", schema, table, live.archive, live.checkpoint,
        available_now=False, on_batch=on_batch, transform=_transform, idempotent=True)
    query = stream.query
    ready = now() + 10
    while query.status.get("message") != "Waiting for data to arrive" and now() < ready:
        time.sleep(0.05)

    start = now() + 0.2
    due = [start + i / LIVE_FILES_PER_S for i in range(len(live.plan))]
    lateness = 0.0
    for i in range(len(live.plan)):
        wait = due[i] - now()
        if wait > 0:
            time.sleep(wait)
        live.land(i)
        lateness = max(lateness, now() - due[i])

    deadline = due[-1] + VISIBLE_WITHIN_S
    while now() < deadline:
        if sum(p.numInputRows for p in query.recentProgress) >= live.delivered_rows:
            break
        time.sleep(0.05)
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    query.stop()
    bench.close_window()
    stream.flush_archive()

    first_due = {}
    for i, f in enumerate(live.plan):
        first_due.setdefault(f, due[i])
    batch_of = {r["f"]: r["b"] for r in spark.table(table).groupBy(
        (F.col("event_id") / data.ID_STRIDE).cast("long").alias("f")).agg(
        F.min("_ingest_batch").alias("b")).collect()}
    latency = []
    for f, d in first_due.items():
        b = batch_of.get(f)
        ok = b is not None and b in batch_at and batch_at[b] - d <= VISIBLE_WITHIN_S
        bench.count(ok, None if ok else f"live file {f} not ingested within {VISIBLE_WITHIN_S} s")
        if ok:
            latency.append(batch_at[b] - d)
    why = live.problem(spark, table)
    bench.count(why is None, why)
    # files due but not yet handed to on_batch, at each on_batch call
    done_at = {f: batch_at.get(b, float("inf")) for f, b in batch_of.items()}
    backlog = max((sum(1 for f, d in first_due.items() if d <= t < done_at.get(f, float("inf")))
                   for t in batch_at.values()), default=0)
    return {"latency_s": latency, "max_lateness_s": lateness,
            "progress": progress, "backlog_files_max": backlog}


# -- tracing -----------------------------------------------------------------


def _instrument(tracer) -> None:
    from datapipeline_gcp_spark import sinks
    from datapipeline_gcp_spark.streaming import ingest

    tracer.wrap(ingest, "flush_pending", "streaming.ingest.flush_pending")
    tracer.wrap(sinks, "overwrite_partitions", "sinks.write")
    tracer.wrap(sinks, "archive_files", "sinks.archive")


def layer_metrics(bench, out: dict) -> dict[str, float]:
    live = out["live"]
    progress = live["progress"]
    spans = [s for s in bench.tracer.spans if s["op"] == live["op"]]
    flushes = [s for s in spans if s["name"] == "streaming.ingest.flush_pending"]

    def per_batch(key: str) -> float:
        return median([p.durationMs.get(key, 0) / 1e3 for p in progress])

    def per_flush(name: str) -> float:
        return median([sum(c["end"] - c["start"] for c in spans
                           if c["name"] == name and c["parent"] == f["id"]) for f in flushes])

    def per_batch_wall(traced: bool) -> float:
        return median([d["wall"] / d["batches"] for d in out["drains"] if d["traced"] == traced])

    state = [p.stateOperators[0] for p in progress if p.stateOperators]
    warehouse = f"{bench.work}/warehouse/events_live"
    files = [os.path.join(dp, n) for dp, _d, ns in os.walk(warehouse) for n in ns
             if not n.startswith((".", "_"))]
    batches = max(1, len(progress))
    return {
        "streaming.ingest.batches": len(progress),
        "streaming.ingest.batch_s": per_batch("triggerExecution"),
        "streaming.ingest.add_batch_s": per_batch("addBatch"),
        "streaming.ingest.latest_offset_s": per_batch("latestOffset"),
        "streaming.ingest.commit_s": median([
            (p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)) / 1e3
            for p in progress]),
        "streaming.ingest.query_planning_s": per_batch("queryPlanning"),
        "streaming.ingest.archive_s": median([f["end"] - f["start"] for f in flushes]),
        "streaming.ingest.backlog_files_max": live["backlog_files_max"],
        "streaming.dedup.state_rows": state[-1].numRowsTotal if state else 0,
        "streaming.dedup.state_memory_bytes": state[-1].memoryUsedBytes if state else 0,
        "streaming.dedup.state_commit_s": median([s.commitTimeMs / 1e3 for s in state]),
        "streaming.dedup.dropped_duplicates": sum(
            s.customMetrics.get("numDroppedDuplicateRows", 0) for s in state),
        "sinks.write_s": median([s["end"] - s["start"] for s in spans if s["name"] == "sinks.write"]),
        "sinks.archive_s": per_flush("sinks.archive"),
        "sinks.files_written": len(files) / batches,
        "sinks.bytes_written": sum(os.path.getsize(f) for f in files) / batches,
        "trace.overhead_s": per_batch_wall(True) - per_batch_wall(False),
    }
