"""What every workload shares: the run context, per-op timing with CPU
accounting, percentiles, and the host fingerprint."""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import statistics
import subprocess
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def now() -> float:
    return time.monotonic()


def process_start() -> float:
    """This process's start on the ``now()`` clock (from /proc, 10 ms
    resolution), so set-up time includes interpreter start and imports."""
    with open("/proc/self/stat") as fh:
        started = int(fh.read().rsplit(")", 1)[1].split()[19]) / _TICK
    return now() - (time.clock_gettime(time.CLOCK_BOOTTIME) - started)


def proc_cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU seconds of a process."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, *q* in [0, 1]; 0 for no values."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Bench:
    """One benchmark run: the session, its scratch space and the timed ops.

    ``op`` times one operation of the workload and the CPU that the JVM and
    this process spent on it. The first call ends set-up. With a tracer,
    every other op runs instrumented, so the traced and untraced medians of
    the same run give the tracing overhead.
    """

    spark: object
    root: str
    work: str
    seed: int
    seconds: float
    started: float
    tracer: object | None = None
    setup_s: float = 0.0
    op_wall: list[float] = field(default_factory=list)
    op_cpu: list[float] = field(default_factory=list)
    op_traced: list[bool] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    host_before: dict = field(default_factory=dict)
    host_after: dict = field(default_factory=dict)

    @property
    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def cpu_s(self) -> float:
        """CPU seconds of the JVM and this process so far."""
        return proc_cpu_s(self.jvm_pid) + proc_cpu_s()

    def op(self, fn, *args, count: bool = True, traced: bool | None = None):
        """Run one timed op; returns ``(result, wall_s)``. An exception
        counts as a failed op and is recorded, not raised. With a tracer,
        ops alternate between instrumented and not unless *traced* says."""
        if not self.op_wall:
            self.setup_s = now() - self.started
            self.host_before = host_pressure()
        if traced is None:
            traced = self.tracer is not None and len(self.op_wall) % 2 == 0
        if self.tracer is not None:
            self.tracer.begin_op(traced)
        c0, t0 = self.cpu_s(), now()
        result, ok = None, True
        try:
            result = fn(*args)
        except Exception as ex:  # a failed op is a measured outcome
            ok = False
            self.problems.append(f"{getattr(fn, '__name__', 'op')}: {ex!r}"[:500])
        wall = now() - t0
        self.op_wall.append(wall)
        self.op_cpu.append(self.cpu_s() - c0)
        self.op_traced.append(traced)
        if self.tracer is not None:
            self.tracer.end_op()
        if count:
            self.count(ok)
        return result, wall

    def count(self, ok: bool, problem: str | None = None) -> None:
        """Count one attempted op, or one output check made outside the
        timed window; a failed op or a mismatch counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if problem:
                self.problems.append(problem[:500])

    def close_window(self) -> None:
        """Mark the end of the timed phase, before the output checks."""
        self.host_after = host_pressure()

    def time_left(self, window_start: float) -> bool:
        return now() - window_start < self.seconds

    def tracing_overhead_s(self) -> float:
        on = [w for w, t in zip(self.op_wall, self.op_traced) if t]
        off = [w for w, t in zip(self.op_wall, self.op_traced) if not t]
        return median(on) - median(off) if on and off else 0.0


def host_pressure() -> dict:
    """Load average and cumulative CPU pressure stall time (µs)."""
    out = {"at": now(), "loadavg": list(os.getloadavg())}
    with open("/proc/stat") as fh:
        out["steal_s"] = int(fh.readline().split()[8]) / _TICK
    try:
        with open("/proc/pressure/cpu") as fh:
            some = fh.readline().split()
        out["cpu_some"] = {k: float(v) for k, v in (f.split("=") for f in some[1:])}
    except OSError:
        pass
    return out


def _engine_digest(root: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(f"{root}/datapipeline_gcp_spark/**/*.py", recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def fingerprint(bench: Bench, cpus: int, driver_mem: str) -> dict:
    """Host and session facts that a reader needs to compare two results."""
    import pyspark

    after = bench.host_after or host_pressure()
    before = bench.host_before or after
    stall = None
    elapsed = after["at"] - before["at"]
    if "cpu_some" in before and "cpu_some" in after:
        stall = (after["cpu_some"]["total"] - before["cpu_some"]["total"]) / 1e6
        stall = {"stall_s": stall, "share": stall / elapsed if elapsed else None}
    return {
        "nproc": cpus,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": driver_mem,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": _git_commit(bench.root),
        "engine_sha256_16": _engine_digest(bench.root),
        "host_before_timed": before,
        "host_after_timed": after,
        # share of the timed phase in which some runnable task waited for a CPU
        "cpu_pressure_during_timed": stall,
        # CPU time the hypervisor gave to other guests, per second of the timed phase
        "steal_cpus_during_timed": (after["steal_s"] - before["steal_s"]) / elapsed
        if elapsed else None,
    }
