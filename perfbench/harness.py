"""Session set-up, call timing and the process/host probes.

Every call into the engine goes through ``Recorder.phase``: it tags the
call's Spark jobs with a job group, times the call from outside the
program, records its wall-clock span and counts the jobs the group fired
with ``statusTracker().getJobIdsForGroup``. With tracing on, the spans
select the call's jobs in the event log (``eventlog.window``), so build and
exec CPU, tasks, GC, shuffle and spill land on the call that caused them.
"""

from __future__ import annotations

import ctypes
import gc
import itertools
import os
import resource
import signal
import time
from dataclasses import dataclass, field

from data_pipeline__s3_to_postgres_s3_spark.session import get_spark

MB = 1024 * 1024
PR_SET_CHILD_SUBREAPER = 36


def session_conf(work: str, trace: bool) -> dict:
    """Spark settings the benchmark adds to ``get_spark``: keep every file
    the JVM writes inside the work directory, and with ``trace`` write an
    uncompressed, unrolled event log there."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby "
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


@dataclass
class Setup:
    spark: object
    get_spark_s: float
    warmup_s: float

    @property
    def setup_s(self) -> float:
        return self.get_spark_s + self.warmup_s


def set_up(work: str, trace: bool, warmup) -> Setup:
    """Launch the JVM and the session with ``get_spark``, then run
    ``warmup(spark)``: the set-up every caller of the engine pays once per
    process."""
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work, trace))
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark)
    return Setup(spark, t1 - t0, time.perf_counter() - t1)


def settle(spark) -> None:
    """Collect the garbage the untimed phase left, in the JVM and here,
    so that collecting it does not land inside a timed call."""
    spark._jvm.System.gc()
    gc.collect()


@dataclass
class Call:
    """One timed call: a named op split into phases (build/exec, or the
    ELT stages), with the Spark jobs each phase fired."""

    op: str
    layer: str
    seconds: dict[str, float] = field(default_factory=dict)
    jobs: dict[str, int] = field(default_factory=dict)  # by its job groups
    spans: list[tuple[str, float, float]] = field(default_factory=list)
    ok: bool = True
    error: str = ""
    frame: object = None  # the DataFrame a query call built
    result: object = None  # what its sink returned

    @property
    def total_s(self) -> float:
        return sum(self.seconds.values())


class Recorder:
    """Runs and records calls; ``timed`` is the wall time of the timed
    phase, excluding the correctness checks run between calls."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.calls: list[Call] = []
        self.timed = 0.0
        self._ids = itertools.count()

    def phase(self, call: Call, name: str, fn):
        """Run ``fn()`` as phase ``name`` of ``call``; return its result."""
        group = f"{next(self._ids)}:{call.op}:{name}"
        self.sc.setJobGroup(group, group)
        start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            dt = time.perf_counter() - t0
            call.spans.append((name, start_ms, time.time() * 1000))
            self.sc.setJobGroup("", "")
            self.timed += dt
            call.seconds[name] = call.seconds.get(name, 0.0) + dt
            call.jobs[name] = call.jobs.get(name, 0) + len(
                self.sc.statusTracker().getJobIdsForGroup(group))

    def query(self, op: str, layer: str, build, sink) -> Call:
        """Build a DataFrame with ``build()``, then run it with
        ``sink(df)``; a raised error marks the call failed."""
        call = Call(op, layer)
        try:
            call.frame = self.phase(call, "build", build)
            call.result = self.phase(call, "exec", lambda: sink(call.frame))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            call.ok, call.error = False, f"{type(exc).__name__}: {exc}"[:300]
        self.calls.append(call)
        return call

    def storage(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / MB

    def jvm_hwm_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _status_kb(f"/proc/{pid}/status", "VmHWM") / 1024


def _status_kb(path: str, key: str) -> float:
    with open(path) as f:
        for line in f:
            if line.startswith(key + ":"):
                return float(line.split()[1])
    raise KeyError(key)


def driver_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the run's tail: the sample with k samples
    beyond it, k = min(10, n // 20). From 200 samples on that is the
    highest percentile with ten samples beyond it. A shorter run cannot
    have ten samples beyond a tail percentile; its tail is the
    nearest-rank 95th percentile, which below 20 samples is the maximum."""
    s = sorted(samples, reverse=True)
    k = min(10, len(s) // 20)
    return s[k], 100.0 * (len(s) - k) / len(s)


def adopt_orphans() -> None:
    """Make this process the parent of last resort for everything it
    starts: a process whose parent ends first (a Python worker the JVM
    leaves behind) is re-parented here, so ``stop_children`` can stop it
    and wait for it."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err))


def stop_children(grace_s: float = 10.0) -> None:
    """Stop every process still running under this one and wait until
    each has ended: first the multiprocessing resource tracker, which
    ends when its pipe closes; then SIGTERM to the rest, and SIGKILL to
    what outlives ``grace_s``."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left, and so no descendants
        if pid:
            continue
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for child in _children():
            try:
                os.kill(child, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    # The field after the parenthesised command is the state,
                    # then the parent pid.
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return kids
