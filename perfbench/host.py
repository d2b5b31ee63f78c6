"""Host sizing, the exclusive run lock, host-noise records and the
process-tree sampler (peak RSS, CPU of the JVM and Python workers)."""

from __future__ import annotations

import fcntl
import os
import threading
import time
from pathlib import Path

HEAP_SHARE = 0.2      # of the memory limit, leaving room for Python workers
HEAP_GB_PER_CORE = 3  # the engine's per-core heap rule, capped by the share
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def memory_limit_bytes() -> int:
    """min(MemTotal, cgroup memory limit)."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemTotal:"))
    for p in ("/sys/fs/cgroup/memory.max",
              "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            raw = Path(p).read_text().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def heap_gb(n_cores: int) -> int:
    share = int(memory_limit_bytes() * HEAP_SHARE / 2**30)
    return max(1, min(HEAP_GB_PER_CORE * n_cores, share))


class RunLock:
    """Exclusive, non-blocking lock: a second benchmark run refuses to
    start while one holds it."""

    def __init__(self, path: Path):
        self.path = path
        self._fd: int | None = None

    def acquire(self) -> bool:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        fd = os.open(self.path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            return False
        self._fd = fd
        return True

    def release(self) -> None:
        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None


def _cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _psi_cpu_some_us() -> int | None:
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
    except OSError:
        return None
    return int(some[-1].split("=")[1])


def speed_probe() -> dict:
    """Best of three: a fixed single-threaded Python loop, and a 64 MB
    memory copy.  Neighbours that share caches and memory bandwidth slow
    a run without any CPU steal; this shows it."""
    import numpy as np

    loops, copies = [], []
    src = np.ones(1 << 23)
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        t1 = time.perf_counter()
        src.copy()
        loops.append(t1 - t0)
        copies.append(time.perf_counter() - t1)
    return {"py_loop_ms": 1e3 * min(loops), "copy_gb_s": 2 * src.nbytes / min(copies) / 1e9}


def noise_snapshot() -> dict:
    steal, total = _cpu_stat()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"t": time.time(), "load1": load1, "steal": steal, "total": total,
            "psi_some_us": _psi_cpu_some_us(), "speed": speed_probe()}


def noise_between(a: dict, b: dict) -> dict:
    """Host noise over a run: load average and speed probe at both ends,
    CPU steal share and the share of wall time some task waited for a
    CPU (PSI)."""
    dt = b["t"] - a["t"]
    out = {
        "load1_start": a["load1"],
        "load1_end": b["load1"],
        "steal_pct": 100.0 * (b["steal"] - a["steal"]) / max(1, b["total"] - a["total"]),
        "wall_s": dt,
        "speed_start": a["speed"],
        "speed_end": b["speed"],
    }
    if a["psi_some_us"] is not None and b["psi_some_us"] is not None and dt > 0:
        out["cpu_pressure_some_pct"] = (b["psi_some_us"] - a["psi_some_us"]) / (1e4 * dt)
    return out


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu jiffies, rss bytes) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1: stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2:].split()
        if rest[0] == "Z":  # ended, not yet reaped
            continue
        # fields after comm: state ppid ... utime(12) stime(13) ... rss(22)
        table[int(name)] = (int(rest[1]), comm, int(rest[11]) + int(rest[12]),
                            int(rest[21]) * PAGE)
    return table


def _vfork_child(pid: int, table: dict) -> bool:
    """A child spawned with vfork shares its parent's memory until it
    execs (the JVM starts Python workers that way), and a forked child
    shares all of it until it first writes: the very same RSS as its
    parent, which must not be counted twice.  (The child's name is the
    spawning thread's, so only the RSS identifies it.)"""
    parent = table.get(table[pid][0])
    return parent is not None and parent[3] == table[pid][3]


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class TreeSampler:
    """Samples this process's tree every `period` s on a daemon thread:
    peak summed RSS, and the last CPU reading of every process seen (so
    workers that exit between samples keep the CPU they had used)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_rss = 0
        self.peak_procs: list[tuple[int, str, int]] = []  # (pid, comm, rss) at the peak
        self.cpu: dict[int, tuple[str, int, int]] = {}  # pid -> (comm, ppid, jiffies)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def sample(self) -> None:
        table = _proc_table()
        me = os.getpid()
        pids = [me] + descendants(me, table)
        live = [p for p in pids if p in table and not _vfork_child(p, table)]
        rss = sum(table[p][3] for p in live)
        if rss > self.peak_rss:
            self.peak_rss = rss
            self.peak_procs = [(p, table[p][1], table[p][3]) for p in live]
        for p in pids:
            if p in table:
                ppid, comm, jiffies, _ = table[p]
                self.cpu[p] = (comm, ppid, jiffies)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def cpu_s(self) -> dict[str, float]:
        """CPU seconds of the JVM (comm 'java') and of the Python
        processes below it (the Spark Python workers)."""
        java = {p for p, (comm, _, _) in self.cpu.items() if comm == "java"}
        jvm = sum(self.cpu[p][2] for p in java)
        workers = sum(j for p, (comm, ppid, j) in self.cpu.items()
                      if comm.startswith("python") and self._under(p, java))
        return {"jvm_cpu_s": jvm / CLK_TCK, "python_worker_cpu_s": workers / CLK_TCK}

    def _under(self, pid: int, ancestors: set[int]) -> bool:
        seen = set()
        while pid in self.cpu and pid not in seen:
            seen.add(pid)
            pid = self.cpu[pid][1]
            if pid in ancestors:
                return True
        return False


def _reap_zombies() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap_children(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant process to end; kill what outlives the
    timeout.  Returns the pids that had to be killed."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        _reap_zombies()
        alive = descendants(os.getpid())
        if not alive:
            return []
        time.sleep(0.2)
    killed = descendants(os.getpid())
    for pid in killed:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    time.sleep(0.5)
    _reap_zombies()
    return killed
