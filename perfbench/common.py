"""Process set-up, statistics and resource readings shared by workloads."""

from __future__ import annotations

import os
import re
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = 0.01
HEAP = "1g"


def cpus() -> int:
    """Spark cores: $SPARK_GRAFT_CPUS, else nproc, at most 4."""
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    return max(1, min(n or len(os.sched_getaffinity(0)), 4))


def prepare_process(work: str) -> None:
    """Keep every file Spark, Python and the engine write inside ``work``,
    and quiet Spark's console. Must run before the first SparkSession."""
    if os.path.exists(work):
        shutil.rmtree(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # a pre-touched fixed-size heap: peak RSS then reads the heap plus
    # everything outside it, instead of how far GC let the heap grow;
    # JIT compiler threads that live as long as the JVM, so that
    # tree_cpu_s can leave their CPU out
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "20000",
        "spark.driver.extraJavaOptions": java_opts,
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.chdir(work)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def quiet(spark) -> None:
    spark.sparkContext.setLogLevel("ERROR")


def pct(values, q: float) -> float:
    """The q-quantile (0..1) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values) -> tuple[float, float]:
    """(quantile, value) of the highest percentile that has at least ten
    samples beyond it; the maximum when there are fewer than 20 samples,
    where that percentile would fall below the median."""
    n = len(values)
    if n < 20:
        return 1.0, max(values) if values else 0.0
    q = (n - 10) / n
    return q, pct(values, q)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads ("C1 CompilerThread0", "C2 Compiler...")
_JIT_THREAD = re.compile(r"C[12] Compiler")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return (stat[stat.index("(") + 1:stat.rfind(")")],
            stat[stat.rfind(")") + 2:].split())


def tree_cpu_s() -> float:
    """CPU seconds (user plus system) used so far by this process and
    every live descendant: the JVM, the Python worker daemon and its
    workers, and whatever children they have already reaped. The JVM's
    JIT compiler threads are left out.

    JIT compilation is a warm-up cost that a long-running server pays
    once. In a run of a minute it is still going on, and how much of it
    lands inside a given meter depends on timing: it was over half of
    the CPU of a timed read deck and of a store cycle."""
    procs: dict[int, tuple[int, str, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(f"/proc/{name}/stat")
            if st is not None:
                comm, f = st
                # after comm: state ppid ... utime(11) stime cutime cstime
                procs[int(name)] = (int(f[1]), comm,
                                    sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        _, comm, ticks = procs.get(pid, (0, "", 0))
        total += ticks
        if comm == "java":
            total -= _jit_ticks(pid)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads. They must live as
    long as the JVM (``-XX:-UseDynamicNumberOfCompilerThreads``): an
    exited thread's ticks stay in the process total, but could no
    longer be told apart."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the JVM has exited
        return 0
    ticks = 0
    for tid in tids:
        st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and _JIT_THREAD.match(st[0]):
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def peak_rss_mb(jvm_pid: int) -> float:
    """Highest resident set (VmHWM) of this Python process plus its JVM."""
    return (_hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)) / 1024.0


def jvm_pid(spark) -> int:
    """Process id of the JVM behind the py4j gateway."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(mx.getRuntimeMXBean().getName().split("@")[0])


class Clock:
    """Wall-clock stopwatch in seconds."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def s(self) -> float:
        return time.perf_counter() - self.t0


class Meter:
    """Wall and CPU time (:func:`tree_cpu_s`) of one stretch of work."""

    def __enter__(self):
        self.wall0, self.cpu0 = time.perf_counter(), tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall0
        self.cpu = tree_cpu_s() - self.cpu0
        return False
