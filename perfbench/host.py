"""Host shape, CPU pinning, heap sizing and process-tree sampling.

Everything here reads the host as it is: CPUs from the process's
affinity mask (``os.sched_getaffinity``), memory from ``MemAvailable``,
and resident memory and CPU time from ``/proc`` for the benchmark
process and every descendant (the JVM and any Python workers).
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpus() -> list[int]:
    """The CPUs this process may run on, sorted."""
    return sorted(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("/proc/meminfo has no MemAvailable")


def driver_heap(avail_mb: int | None = None) -> str:
    """Driver heap from available memory: a quarter of MemAvailable,
    between 1 and 2 GiB (enough for the benchmark's input sizes; the
    rest of the host belongs to the page cache and other tenants)."""
    avail = mem_available_mb() if avail_mb is None else avail_mb
    mb = max(1024, min(2048, avail // 4))
    return f"{mb}m"


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def shape() -> dict:
    """Host shape recorded in every result."""
    import pyspark

    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return {
        "cpus": len(cpus()),
        "cpu_ids": cpus(),
        "ram_mb": total_kb // 1024,
        "mem_available_mb": mem_available_mb(),
        "java": _java_version(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": list(os.getloadavg()),
    }


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    cpu_times() readings: other tenants' load on a shared host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


# ------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _stat(path: str) -> tuple[int, float, float] | None:
    """(rss bytes, own cpu seconds, waited-for children's cpu seconds)
    from a /proc stat file, None if gone."""
    try:
        with open(path) as f:
            st = f.read()
    except OSError:
        return None
    fields = st[st.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): utime=14, stime=15, cutime=16,
    # cstime=17, rss=24
    cpu = (int(fields[11]) + int(fields[12])) / _CLK
    child_cpu = (int(fields[13]) + int(fields[14])) / _CLK
    rss = int(fields[21]) * _PAGE
    return rss, cpu, child_cpu


# HotSpot's JIT compiler threads ("C1 CompilerThre", "C2 CompilerThre"
# in /proc comm): they keep compiling in the background for minutes
# after start-up and were the largest CPU consumer of a flagship run.
# That is warm-up work, counted in setup_s while it runs during set-up,
# not the cost of a job.
_JIT_THREADS = ("C1 Compiler", "C2 Compiler")


def _work_cpu_s(pid: int, jit: bool) -> float:
    """CPU seconds of process ``pid`` and of its children it has waited
    for, less what its live JIT compiler threads used unless ``jit``.

    The process's own utime and stime include threads that have already
    exited, so a thread that ends between two readings is not lost.
    The JIT threads must live as long as the process (the benchmark's
    JVM runs with -XX:-UseDynamicNumberOfCompilerThreads), so that the
    subtracted share is theirs over the whole interval."""
    s = _stat(f"/proc/{pid}/stat")
    if s is None:
        return 0.0
    total = s[1] + s[2]
    if jit:
        return total
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return total
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
        except OSError:
            continue
        t = _stat(f"/proc/{pid}/task/{tid}/stat")
        if t is not None:
            total -= t[1]
    return total


class TreeSampler:
    """Samples resident memory of this process's tree every PERIOD_S
    seconds while active (``with`` block), and reads its CPU seconds on
    demand.

    CPU seconds are summed over the live processes of the tree, each
    with its exited threads and its waited-for children, less the JIT
    compiler threads unless asked for. A thread or worker process that
    ends between two readings therefore keeps all of its time in the
    difference."""

    PERIOD_S = 0.2

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self, jit: bool = False) -> float:
        """CPU seconds the tree has used, with the JIT compiler threads'
        share if ``jit``."""
        return sum(_work_cpu_s(pid, jit) for pid in tree_pids(self.root))

    def rss(self) -> int:
        total = 0
        for pid in tree_pids(self.root):
            s = _stat(f"/proc/{pid}/stat")
            if s is not None:
                total += s[0]
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, self.rss())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "TreeSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_rss = max(self.peak_rss, self.rss())

