"""Session set-up, measurement helpers and the result record shared by
the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer

#: Set-ups per run; ``setup_s`` is their median. The first pays the
#: JVM's launch, so the median is the slower of the two warm restarts.
SETUPS = 3


@dataclass
class Metric:
    value: float
    unit: str
    n: int = 1
    note: str = ""


@dataclass
class Outcome:
    """What a workload measured. ``e2e`` holds the end-to-end metrics
    of an untraced run and ``layers`` the per-layer metrics of a traced
    one (an operation, "op", is one query execution on ``query_mix`` and
    one trigger that carried rows on ``stream_live``; per-op values are
    means). ``detail`` holds the rest: the layer table named by module,
    which the traced run writes to its layers file."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, Metric] = field(default_factory=dict)
    layers: dict[str, Metric] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:400])


class Bench:
    """One benchmark run: arguments, scratch directory, tracer and the
    current Spark session."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.session_start_s: list[float] = []
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """One progress line on stderr, stamped with the run's age."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def dir(self, *parts: str) -> str:
        """A directory under this run's scratch directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self, event_log: str | None = None):
        """Stop the current session (if any) and start a fresh one:
        ``get_spark`` + ``load_all``. The JVM survives ``stop()``, so
        only the first start in a run pays its launch. Returns the
        session; the start time is appended to ``session_start_s``."""
        from streamclient_spark import cacheutil
        from streamclient_spark.plans.registry import load_all
        from streamclient_spark.session import get_spark

        self.stop_session()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # initial heap = maximum heap, touched at launch: with heap
            # pages touched on demand, the resident set followed how much
            # of the young generation the collector happened to use, and
            # moved by up to 20% between runs of the same code
            "spark.driver.extraJavaOptions":
                "-XX:+AlwaysPreTouch -Xms" + os.environ["SPARK_DRIVER_MEM"],
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            load_all()
            self.session_start_s.append(time.perf_counter() - t0)
        cacheutil.release_all()
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from streamclient_spark import cacheutil

        for q in self.spark.streams.active:
            q.stop()
        cacheutil.release_all()
        self.spark.stop()
        self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM itself, and wait for it."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM plus this Python
        process, from ``/proc/<pid>/status`` (VmHWM)."""
        jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def cached_mb(sc) -> float:
    """Storage held by persisted RDDs right now (memory + disk), MB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    ``/proc/stat``. Steal is time a virtual CPU was ready to run while
    the hypervisor ran something else."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(values: list[float]) -> float:
    return statistics.median(values)


def mean(values: list[float]) -> float:
    return statistics.fmean(values)
