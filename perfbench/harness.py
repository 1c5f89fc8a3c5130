"""Measurement window, summary statistics and machine state.

``measure`` runs whole passes of a :class:`Workload` until the window
has elapsed (at least the workload's ``min_passes``) and summarises them.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time
from dataclasses import dataclass

from .spans import union_length

OP_TIMEOUT_S = 60.0  # an operation running longer is cancelled and failed


@dataclass
class Op:
    name: str
    start: float
    end: float
    error: str | None = None
    result: object = None  # what the operation returned, checked after the window
    expect: object = None  # what the workload needs to check ``result``

    @property
    def latency_s(self) -> float:
        return self.end - self.start


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Workload:
    """What ``run.py`` drives.  Subclasses set up their inputs from the
    seed, run one pass of operations, and check the operations' results
    against references after the window."""

    setup_reps = 3  # set-ups per run; setup_s reports their median
    min_passes = 1  # passes per window, however long they take

    def __init__(self, spark, seed: int, work: str, watchdog: "Watchdog"):
        self.spark, self.seed, self.work, self.watchdog = spark, seed, work, watchdog
        self.n_setups = 0

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, tracer) -> list[Op]:
        raise NotImplementedError

    def verify(self, ops: list[Op]) -> list[str]:
        """Mark each wrong result as a failed op; one message per wrong op."""
        raise NotImplementedError

    def layer_metrics(self, tracer, ops: list[Op]) -> dict:
        raise NotImplementedError

    def traced(self, tracer):
        """Context in which the workload records spans inside the engine's
        calls (default: none beyond the operation spans)."""
        return contextlib.nullcontext()

    def teardown(self) -> None:
        pass


class Watchdog:
    """Cancels every running Spark job once an operation has run longer
    than ``OP_TIMEOUT_S``; the operation then raises and counts as failed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.inflight: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def begin(self) -> None:
        with self._lock:
            self.inflight[threading.get_ident()] = time.time()

    def end(self) -> None:
        with self._lock:
            self.inflight.pop(threading.get_ident(), None)

    def _loop(self) -> None:
        while not self._stop.wait(1.0):
            with self._lock:
                late = any(time.time() - t > OP_TIMEOUT_S for t in self.inflight.values())
            if late:
                self.sc.cancelAllJobs()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def run_op(name: str, tracer, watchdog, fn, expect=None) -> Op:
    """Time ``fn()`` in a span named ``name``; an exception fails the op."""
    watchdog.begin()
    start = time.time()
    result, error = None, None
    try:
        with tracer.span(name):
            result = fn()
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        error = f"{type(exc).__name__}: {str(exc)[:200]}"
    finally:
        watchdog.end()
    return Op(name, start, time.time(), error, result, expect)


def _ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process and by ``root_pid`` with
    every live descendant (the driver JVM and its Python workers)."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we looked
            children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _ticks(pid)
        except OSError:
            continue
        todo.extend(children.get(pid, []))
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def measure(workload, tracer, seconds: float) -> dict:
    """Run whole passes for ``seconds`` (at least ``min_passes``)."""
    passes, cpu, ops, idle, cost, cost_cpu = [], [], [], [], [], []
    jvm = jvm_pid(workload.spark)
    t0 = time.time()
    while len(passes) < workload.min_passes or time.time() - t0 < seconds:
        p0, c0 = time.time(), tree_cpu_s(jvm)
        k0, kc0 = tracer.cost_s, tracer.cost_cpu_s
        pass_ops = workload.run_pass(tracer)
        p1 = time.time()
        cpu.append(tree_cpu_s(jvm) - c0)
        cost.append(tracer.cost_s - k0)
        cost_cpu.append(tracer.cost_cpu_s - kc0)
        passes.append(p1 - p0)
        idle.append(p1 - p0 - union_length((o.start, o.end) for o in pass_ops))
        ops.extend(pass_ops)
    elapsed = time.time() - t0
    ok = [o.latency_s for o in ops if o.error is None]
    hi = p90(ok) if ok else 0.0
    return {
        "passes": passes,
        "ops": ops,
        "elapsed_s": elapsed,
        "pass_s": statistics.median(passes),
        "pass_cpu_s": statistics.median(cpu),
        "trace_s": statistics.median(cost),
        "trace_cpu_s": statistics.median(cost_cpu),
        "throughput_ops": len(ok) / elapsed,
        "latency_p50_ms": statistics.median(ok) * 1000 if ok else 0.0,
        "latency_p90_ms": hi * 1000,
        "pass_self_s": statistics.median(idle),
        "op_median_s": {
            name: statistics.median(o.latency_s for o in ops if o.name == name)
            for name in dict.fromkeys(o.name for o in ops)
        },
        "n_ok": len(ok),
        "n_beyond_p90": sum(1 for v in ok if v > hi),
    }


def machine_state(spark) -> dict:
    """What the run measured on: memory, heap setting, load, cores."""
    mem_total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {
        "mem_total_mb": round(mem_total / 2**20),
        "driver_heap": spark.sparkContext.getConf().get("spark.driver.memory", "unset"),
        "loadavg": os.getloadavg(),
        "nproc": os.cpu_count(),
        "spark_master": spark.sparkContext.master,
    }


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks from ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings: how much other tenants slowed the run down."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (``VmHWM``), in MiB."""
    with open(f"/proc/{jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
