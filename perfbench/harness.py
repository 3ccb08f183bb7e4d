"""Run plumbing shared by the workloads: session lifecycle, the
closed-loop timer, summary statistics and host/resource probes."""

from __future__ import annotations

import os
import resource
import statistics
import time


def cpus() -> int:
    """Spark task slots: ``$SPARK_GRAFT_CPUS``, defaulting to half the
    host's ``nproc``. The driver JVM's own threads (GC, JIT, the
    scheduler) and the Python client need the other half; with a slot
    per core, re-imports ran slower and spread wider on a shared
    4-core host."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(extra_conf: dict[str, str] | None = None):
    """The engine's session (``tms_etl_spark.session.get_spark``) on
    ``local[cpus()]`` with the console progress bar off."""
    from tms_etl_spark.session import get_spark

    n = cpus()
    conf = {"spark.ui.showConsoleProgress": "false"}
    conf.update(extra_conf or {})
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident memory of the Python driver plus the driver JVM
    (``VmHWM``); read before the JVM is stopped."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm is not None:
        with open(f"/proc/{jvm}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def shutdown_jvm() -> None:
    """Stop the active context and the gateway JVM, and wait for the
    JVM process to exit (PySpark's gateway exits when its stdin
    closes)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the host's processes asked for between two
    `cpu_ticks` readings that the hypervisor gave to other tenants:
    stolen ÷ (running + stolen). Running is user, nice, system, irq and
    softirq; an idle CPU is not stolen from, so idle ticks are left
    out of both."""
    d = [b - a for a, b in zip(before, after)]
    run = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / (run + d[7]) if run + d[7] else 0.0


def steal_adjusted(wall: float, share: float) -> float:
    """Wall time less the part the hypervisor stole: ``wall × (1 −
    share)``. On a shared host, other tenants take the CPUs away in
    bursts (half or more of the time for tens of seconds), and an
    operation's wall time grows with the share taken; the adjusted time
    is what it takes on CPUs the host does not take away."""
    return wall * (1.0 - share)


def host_context() -> dict:
    """What else was running: cores, load, other JVMs."""
    others = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    others.append(int(pid))
        except OSError:
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": list(os.getloadavg()),
        "other_java_pids": sorted(others),
    }


# -- statistics ---------------------------------------------------------

def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least 10 samples beyond it:
    ``(value, percentile, n)``; None below 11 samples. With ``n``
    sorted samples the value of rank ``n - 10`` (1-based) has exactly
    10 samples above it, so it sits at percentile ``(n - 10) / n``."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    r = n - 10
    return s[r - 1], 100.0 * r / n, n


class Timer:
    """Closed-loop clock: one client, each operation starts after the
    previous one ends. Records (kind, seconds, ok, traced) per
    operation, the seconds steal-adjusted (`steal_adjusted`), and the
    raw wall time and stolen share beside them; with a tracer, each
    operation is a root span ``op:<kind>``."""

    def __init__(self, seconds: float, tracer=None):
        self.seconds = seconds
        self.tracer = tracer
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()
        self.ops: list[tuple[str, float, bool, bool]] = []
        self.raw: list[tuple[float, float]] = []  # (wall s, stolen share) per op
        # first op after the loop's warm-up step; the end-to-end figures
        # and the traced/untraced comparison use the ops from here on
        self.warm_from = 0

    def warm_up_done(self) -> None:
        """End the warm-up: the measured ops start here, and so does
        the run-length clock."""
        self.warm_from = len(self.ops)
        self.t0 = time.perf_counter()
        self.ticks0 = cpu_ticks()

    def expired(self) -> bool:
        """Whether the run length has passed, in steal-adjusted time, so
        a run does the same work however much the host steals; capped
        at three times the length in wall time."""
        wall = time.perf_counter() - self.t0
        share = stolen_share(self.ticks0, cpu_ticks())
        return steal_adjusted(wall, share) >= self.seconds or wall >= 3 * self.seconds

    def run(self, kind: str, fn, *args):
        """Time ``fn(*args)``; a raised exception counts as a failed
        operation and the loop goes on."""
        tr = self.tracer
        traced = tr is not None and tr.enabled
        c = cpu_ticks()
        t = time.perf_counter()
        try:
            if traced:
                with tr.span(f"op:{kind}"):
                    out = fn(*args)
            else:
                out = fn(*args)
            ok = True
        except Exception as e:  # a failed op is a measured outcome
            out = None
            ok = False
            print(f"perfbench: {kind} failed: {e!r}", flush=True)
        wall = time.perf_counter() - t
        share = stolen_share(c, cpu_ticks())
        self.ops.append((kind, steal_adjusted(wall, share), ok, traced))
        self.raw.append((wall, share))
        return out

    def times(self, *kinds: str, warm: bool = False) -> list[float]:
        """Times of the completed ops of ``kinds`` (of all, if none are
        given); with ``warm``, only those after the warm-up step."""
        ops = self.ops[self.warm_from:] if warm else self.ops
        return [s for k, s, ok, _t in ops if ok and (not kinds or k in kinds)]

    def failed(self) -> int:
        return sum(1 for _k, _s, ok, _t in self.ops if not ok)
