"""Process-tree readings from /proc, split by role.

The benchmark's Python process launches the Spark JVM, and the JVM launches
the Python UDF workers (through the pyspark daemon). Spark's own task
counters see only JVM time, so CPU is split here by process: `jvm` is the
JVM's own time, `python` is every descendant of the JVM (live, or reaped
into a parent's child counters).
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> (ppid, own jiffies, reaped-children jiffies, rss pages)."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                st = f.read()
        except OSError:  # exited while listing
            continue
        fields = st[st.rindex(")") + 2:].split()
        out[int(p)] = (
            int(fields[1]),
            int(fields[11]) + int(fields[12]),
            int(fields[13]) + int(fields[14]),
            int(fields[21]),
        )
    return out


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


class ProcessTree:
    """CPU and memory of the Spark JVM (`jvm_pid`) and its Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds of the JVM and of its Python workers."""
        t = _table()
        jvm = t.get(self.jvm_pid, (0, 0, 0, 0))
        py = jvm[2] + sum(
            t[p][1] + t[p][2] for p in _descendants(t, self.jvm_pid)
        )
        return {"jvm": jvm[1] / _TICK, "python": py / _TICK}

    def spark_rss_bytes(self) -> int:
        """Resident memory of the JVM and its Python workers. The benchmark
        process is left out: it holds the canary's fixed buffer."""
        t = _table()
        pids = [self.jvm_pid, *_descendants(t, self.jvm_pid)]
        return sum(t[p][3] for p in pids if p in t) * _PAGE

    def spark_pids(self) -> list[int]:
        t = _table()
        return [p for p in [self.jvm_pid, *_descendants(t, self.jvm_pid)] if p in t]


class PeakRss:
    """Samples `tree.spark_rss_bytes()` on a thread; `stop()` returns the
    largest sample in MB."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.tree: ProcessTree | None = None
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, tree: ProcessTree) -> None:
        self.tree = tree
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, self.tree.spark_rss_bytes())

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak / 1e6


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for `pids` to exit; SIGKILL what is left after `timeout_s`."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive:
        alive = [p for p in alive if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # a zombie child of ours: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
