"""In-memory spans around the engine's public calls, for ``--trace 1``.

A span records its name, start, end, parent span and op id. While a span
is open in a thread, Spark jobs submitted from that thread carry the
span's job tag, and py4j round trips from that thread are counted. After
the run, the Spark UI REST API supplies each tagged job's stages, whose
executor CPU, shuffle, spill and GC figures are summed per span.
Instrumentation is installed by replacing module attributes and is undone
by ``restore``; it adds no Spark job.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import urllib.request
from contextlib import contextmanager

from core import now

_TAG = "perfbench-span-"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._ops = itertools.count()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tls = self._tls

        def counted(*args, **kwargs):
            tls.py4j = getattr(tls, "py4j", 0) + 1
            return send(*args, **kwargs)

        self.patch(client, "send_command", counted)

    # -- ops ---------------------------------------------------------------

    def begin_op(self, traced: bool) -> None:
        self.active = traced
        self.op_id = next(self._ops)

    def end_op(self) -> None:
        self.active = False

    # -- spans -------------------------------------------------------------

    def py4j_calls(self) -> int:
        return getattr(self._tls, "py4j", 0)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span if the current op is traced; yields the span dict
        (or None), which the caller may add attributes to."""
        if not self.active:
            yield None
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": stack[-1]["id"] if stack else None,
               "op": self.op_id, "thread": threading.get_ident(), **attrs}
        sc = self.spark.sparkContext
        sc.addJobTag(f"{_TAG}{sid}")
        stack.append(rec)
        rec["start"] = now()
        py0 = self.py4j_calls()
        try:
            yield rec
        finally:
            rec["py4j_calls"] = self.py4j_calls() - py0
            rec["end"] = now()
            stack.pop()
            sc.removeJobTag(f"{_TAG}{sid}")
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a function that runs it in a span.
        ``on_result(span, result)`` may add attributes from the result."""
        fn = _get(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and on_result is not None:
                    on_result(rec, out)
                return out

        self.patch(owner, attr, traced)

    def patch(self, owner, attr: str, value) -> None:
        """Replace an attribute (or, for a dict, an entry) until ``restore``."""
        self._undo.append((owner, attr, _get(owner, attr)))
        _set(owner, attr, value)

    def restore(self) -> None:
        while self._undo:
            _set(*self._undo.pop())

    # -- Spark job and stage metrics ----------------------------------------

    def attach_job_metrics(self) -> None:
        """Add ``jobs``, ``executor_cpu_s``, ``shuffle_bytes``,
        ``spill_bytes`` and ``gc_s`` to every span from the jobs its tag
        (or a descendant's) marked. Call after the last op."""
        sc = self.spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def rest(path: str):
            with urllib.request.urlopen(base + path, timeout=60) as r:
                return json.load(r)

        stages = {}
        for s in rest("/stages"):
            m = stages.setdefault(s["stageId"], [0.0, 0, 0, 0.0])
            m[0] += s.get("executorCpuTime", 0) / 1e9
            m[1] += s.get("shuffleWriteBytes", 0)
            m[2] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            m[3] += s.get("jvmGcTime", 0) / 1e3
        by_span: dict[int, list[dict]] = {}
        for job in rest("/jobs"):
            for tag in job.get("jobTags", []):
                if tag.startswith(_TAG):
                    by_span.setdefault(int(tag[len(_TAG):]), []).append(job)
        for rec in self.spans:
            jobs = by_span.get(rec["id"], [])
            stage_ids = {sid for j in jobs for sid in j["stageIds"]}
            totals = [sum(stages[s][i] for s in stage_ids if s in stages) for i in range(4)]
            rec.update(jobs=len(jobs), executor_cpu_s=totals[0], shuffle_bytes=totals[1],
                       spill_bytes=totals[2], gc_s=totals[3])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                fh.write(json.dumps(rec, default=str) + "\n")


def _get(owner, attr: str):
    return owner[attr] if isinstance(owner, dict) else getattr(owner, attr)


def _set(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


def catalyst_s(df) -> float:
    """Plan *df* (analysis, optimization, physical planning) and return the
    Catalyst phase time its QueryExecution tracked. Executes nothing."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3
