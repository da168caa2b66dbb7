"""Process-level plumbing shared by the workloads: keeping every file the
run writes inside the checkout, starting and stopping Spark, reading
CPU and memory of the process tree from /proc, the host canary, and
percentile helpers.

Nothing here imports pyspark at module level: ``isolate()`` must run
before the JVM is launched so that its temp directories point into the
work directory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def isolate() -> str:
    """Point every temp and scratch directory of this process, the JVM
    and the Python workers at a fresh ``.perfbench-work/<pid>`` under the
    checkout.  Returns that directory."""
    work = os.path.join(WORK, str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file under /tmp: the JVM writes nothing outside
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                 "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK)  # only when no other run is using it
    except OSError:
        pass


# ------------------------------------------------------------------ spark


def start_spark(cpus: int | None = None):
    """The program's own session factory at ``local[nproc]``; returns
    (spark, seconds)."""
    from go_pulsar_elasticsearch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus or os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the Py4J gateway down and wait until the
    JVM and every process it started have exited."""
    from pyspark import SparkContext

    before = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    alive = [p for p in before if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return int(fields[1]), ticks / _CLK_TCK


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    out, frontier = [], {root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        out.extend(kids)
        frontier = kids
    return out


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv0 = fh.read().split(b"\0", 1)[0]
    except OSError:
        return "gone"
    return "jvm" if os.path.basename(argv0) == b"java" else "pyworker"


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_by_kind() -> dict[str, float]:
    """CPU seconds so far of this process ("bench": the generator and
    the broker and ES stand-ins), the JVM, and the Python workers."""
    me = os.getpid()
    with open(f"/proc/{me}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    out = {"bench": (int(fields[11]) + int(fields[12])) / _CLK_TCK,
           "jvm": 0.0, "pyworker": 0.0}
    for pid in descendants(me):
        st = _stat(pid)
        kind = _kind(pid)
        if st is not None and kind != "gone":
            out[kind] += st[1]
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak resident set (VmHWM) of the JVM, and the sum over the live
    Python workers."""
    out = {"jvm": 0.0, "pyworker": 0.0}
    for pid in descendants(os.getpid()):
        kind = _kind(pid)
        if kind in out:
            out[kind] += _hwm_mb(pid)
    return out


class CpuWindow:
    """CPU seconds per process kind between ``__enter__`` and
    ``__exit__``, plus the whole tree's utilisation of the host."""

    def __enter__(self):
        self._t0 = time.perf_counter()
        self._c0 = cpu_by_kind()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        c1 = cpu_by_kind()
        self.cpu_s = {k: max(0.0, c1[k] - self._c0.get(k, 0.0)) for k in c1}
        self.util = sum(self.cpu_s.values()) / (
            self.wall_s * (os.cpu_count() or 1))
        return False


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: the
    share of time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


# ------------------------------------------------------------------ stats


def canary_ms() -> float:
    """A fixed pure-Python loop, best of three: a host-speed reading
    taken before and after timing.  It flags host drift; it is never a
    gain."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1e3


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    xs = list(values)
    return float(statistics.median(xs)) if xs else 0.0
