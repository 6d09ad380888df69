"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this Python process (the Spark driver's Python side), the JVM it
launched, and the JVM's Python worker daemons with their forked workers.
Executor CPU from Spark's status store misses the Python workers, so
Python-UDF time (``applyInPandas``) is only visible here.

CPU of a process is utime + stime + cutime + cstime: a child that exits and
is reaped moves its time into its parent's cutime, so the sum over the live
tree keeps counting it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_SAMPLE_S = 0.2      # peak sampler period
_GONE_WAIT_S = 30.0  # wait_gone's grace before SIGKILL


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return ppid, cpu


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    """Peak resident set of one process over its life (VmHWM), MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _is_python_worker(cmd: str) -> bool:
    return "pyspark.daemon" in cmd or "pyspark.worker" in cmd


class ProcessTree:
    """Snapshots of the tree rooted at this process."""

    def __init__(self) -> None:
        self.root = os.getpid()
        self.seen: set[int] = set()
        self.hwm: dict[int, float] = {}  # pid -> largest VmHWM read
        self._cmd: dict[int, str] = {}
        self._lock = threading.Lock()  # the peak sampler snapshots too

    def snapshot(self) -> dict[str, float]:
        """{"cpu_s", "python_cpu_s"} summed over the live tree; also
        records each process's peak resident set in ``hwm``."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        tree = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        out = {"cpu_s": 0.0, "python_cpu_s": 0.0}
        with self._lock:
            for pid in tree:
                if pid not in stats:
                    continue
                _, cpu = stats[pid]
                out["cpu_s"] += cpu
                self.hwm[pid] = max(self.hwm.get(pid, 0.0), _hwm_mb(pid))
                if pid not in self._cmd:
                    self._cmd[pid] = _cmdline(pid)
                if _is_python_worker(self._cmd[pid]):
                    out["python_cpu_s"] += cpu
            self.seen |= tree - {self.root}
        return out

    def alive_descendants(self) -> list[int]:
        """Processes ever seen in the tree that are still running."""
        with self._lock:
            return [p for p in self.seen if _running(p)]


class PeakSampler:
    """Peak memory of the tree between ``start`` and ``stop``: the sum of the
    peak resident sets (VmHWM) of every process alive in that interval.

    Per-process peaks are exact where a sampled sum of RSS misses short
    spikes, such as a Python worker holding one large group. The thread
    samples often enough to see workers that exit before ``stop``."""

    def __init__(self, tree: ProcessTree) -> None:
        self.tree = tree
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.wait(_SAMPLE_S):
            self.tree.snapshot()

    def start(self) -> None:
        with self.tree._lock:
            self.tree.hwm = {}
        self.tree.snapshot()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.tree.snapshot()
        with self.tree._lock:
            return sum(self.tree.hwm.values())


def wait_gone(pids: list[int]) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL what is left after
    ``_GONE_WAIT_S``. Returns the pids that were killed."""
    deadline = time.monotonic() + _GONE_WAIT_S
    while time.monotonic() < deadline:
        left = [p for p in pids if _running(p)]
        if not left:
            return []
        time.sleep(0.2)
    killed = []
    for p in pids:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
                killed.append(p)
            except OSError:
                pass
    return killed
