"""Process and host probes read from ``/proc``.

The benchmark's driver Python starts one JVM (the py4j gateway); in local
mode the JVM forks ``pyspark.daemon``, which forks the Python workers. The
sampler follows that tree, so no engine code is touched to measure it.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / CLK_TCK


def descendants(root: int) -> list[int]:
    """All live processes below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_mb(pid: int) -> float:
    raw = _read(f"/proc/{pid}/statm")
    return int(raw.split()[1]) * PAGE_MB if raw else 0.0


def hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` over its lifetime (VmHWM)."""
    for line in (_read(f"/proc/{pid}/status") or "").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1e3
    return 0.0


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) of ``pid`` itself."""
    f = _stat_fields(pid)
    return (int(f[11]) + int(f[12])) / CLK_TCK if f else 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds of every process below ``root``, including the
    children those processes have already reaped (a worker that exited
    is counted in the daemon's cutime/cstime)."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def host_state() -> dict:
    """Load average and cumulative CPU steal ticks, for diagnosis."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"loadavg_1m": os.getloadavg()[0], "steal_ticks": int(cpu[8]),
            "total_ticks": sum(int(x) for x in cpu[1:])}


class RssSampler:
    """Samples the resident memory of the driver, the JVM and the
    JVM's Python workers on a background thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.workers_peak = 0.0  # whole run
        self.window: dict[str, float] = {}  # since the last reset
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.reset_window()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():  # never started in an untraced run
            self._thread.join(timeout=10)

    def reset_window(self) -> dict[str, float]:
        with self._lock:
            old = self.window
            self.window = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        return old

    def sample(self) -> None:
        workers = sum(rss_mb(p) for p in descendants(self.jvm_pid))
        now = {"driver": rss_mb(os.getpid()), "jvm": rss_mb(self.jvm_pid),
               "workers": workers}
        with self._lock:
            self.workers_peak = max(self.workers_peak, workers)
            for k, v in now.items():
                self.window[k] = max(self.window[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def peak_total_mb(self) -> float:
        """Peak RSS of driver, JVM and Python workers, summed: the two
        long-lived processes by their kernel-kept peak, the workers by
        the largest sampled sum."""
        self.sample()
        return hwm_mb(os.getpid()) + hwm_mb(self.jvm_pid) + self.workers_peak


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and (_stat_fields(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive
