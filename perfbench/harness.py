"""Process-level plumbing shared by every workload.

Sizing the Spark session to the machine, keeping every file the run makes
inside its own work directory, reading peak memory from ``/proc``, and
collecting the operation counts and samples each workload reports.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

MB = 1024 * 1024


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _meminfo_kb(field: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def driver_heap_mb() -> int:
    """A heap that fits the box: a quarter of physical memory, capped at
    1 GiB (the inputs here are tens of MB) and floored at 512 MiB. Fixed per
    machine, never derived from momentary free memory, so two runs on one
    machine always get the same heap."""
    total_mb = _meminfo_kb("MemTotal") // 1024
    return max(512, min(1024, total_mb // 4))


def free_mb(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize // MB


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation, in MiB: the heap the
    engine keeps alive across young collections (young-generation fill
    only tracks the collector's sizing, not the engine)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if "Old Gen" in p.getName()) / MB


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from ``/proc/stat``.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def proc_cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU seconds one process has run so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


class WorkDir:
    """Everything a run writes: tables, WAL segments, Spark scratch, JVM
    temp files. Lives inside the checkout and is removed on exit."""

    def __init__(self, root: str, name: str, min_free_mb: int = 2048):
        self.path = os.path.join(root, ".bench_work", f"{name}-{os.getpid()}")
        parent = os.path.dirname(self.path)
        os.makedirs(parent, exist_ok=True)
        avail = free_mb(parent)
        if avail < min_free_mb:
            raise RuntimeError(
                f"work dir {parent} has {avail} MiB free; need {min_free_mb}")
        self.free_mb_at_start = avail
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)  # only when no concurrent run still uses it
        except OSError:
            pass


def spark_conf(work: WorkDir, heap_mb: int, event_log: bool) -> dict:
    """Session overrides on top of the engine's own ``get_spark`` factory:
    sizing (heap), and keeping scratch, temp and warehouse files inside the
    work dir. The heap is fixed and pre-touched (``-Xms`` = max,
    ``AlwaysPreTouch``), so heap growth never page-faults inside a timed
    window and the JVM's resident size does not depend on when GC ran.
    The heap the engine actually keeps is reported apart from that, as the
    old generation's peak occupancy (``jvm_old_gen_peak_mb``).
    ``-XX:-UsePerfData`` stops the JVM writing /tmp/hsperfdata."""
    tmp = work.sub("tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        "spark.local.dir": work.sub("spark-local"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(work.sub("eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + work.sub("eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


def isolate_env(work: WorkDir) -> None:
    """Point every temp-file user (Python tempfile, the PySpark launcher,
    the JVM) at the work dir before anything starts."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ.pop("SPARK_GRAFT_EXISTING_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp


def become_subreaper() -> None:
    """Adopt every orphan of the processes this one starts: when the JVM
    exits, the Python workers it forked and the launcher processes it left
    as zombies are re-parented here, not to init, so ``stop_children`` can
    wait for them. Call it before anything starts."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> set[int]:
    """Every process below this one, however deep, zombies included."""
    ppids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppids[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # ended while the list was read
    found, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in ppids.items() if pp in frontier} - found
        found |= frontier
    return found


def stop_children(grace_s: float = 30.0, kill_after_s: float = 10.0) -> int:
    """End every process this one started and wait until each has ended.

    The PySpark JVM exits when its gateway's stdin closes, and stops its
    Python workers on the way out; whatever is still running ``grace_s``
    later gets SIGTERM, and SIGKILL ``kill_after_s`` after that. Done when
    the process tree below this one is empty, zombies included (each is
    reaped here once its parent has ended). Returns how many processes had
    to be signalled."""
    import signal

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()
    except Exception:  # the JVM is already gone; signals below cover it
        pass
    t0 = time.monotonic()
    signalled: set[int] = set()
    while True:
        while True:  # reap every child that has ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        pids = descendants()
        if not pids:
            return len(signalled)
        waited = time.monotonic() - t0
        if waited > grace_s + kill_after_s + 30:
            raise RuntimeError(f"processes {sorted(pids)} did not end")
        sig = (signal.SIGKILL if waited > grace_s + kill_after_s
               else signal.SIGTERM if waited > grace_s else None)
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            signalled |= pids
        time.sleep(0.05)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_quantile(pairs: list[tuple[float, int]], q: float) -> float:
    """Quantile over (value, weight) samples: each value counts ``weight``
    times (one freshness value per published segment, weighted by the
    events in it)."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    target = q * (total - 1)
    seen = 0
    for v, w in pairs:
        if seen + w > target:
            return v
        seen += w
    return pairs[-1][0]


class Counters:
    """Operations attempted and failed, by kind (batches, reads, queries,
    gates). A failed operation is recorded, never retried silently. The
    writer and the consumer thread of ``tail`` count concurrently."""

    def __init__(self):
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self._lock = threading.Lock()

    def ok(self, kind: str, n: int = 1) -> None:
        with self._lock:
            self.attempted[kind] = self.attempted.get(kind, 0) + n

    def fail(self, kind: str, n: int = 1) -> None:
        with self._lock:
            self.attempted[kind] = self.attempted.get(kind, 0) + n
            self.failed[kind] = self.failed.get(kind, 0) + n

    def total(self) -> tuple[int, int]:
        return sum(self.attempted.values()), sum(self.failed.values())


class Timer:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False


def emit(result: dict) -> None:
    """The one result line: always the last line of stdout."""
    print(json.dumps(result), flush=True)
