"""Process-tree accounting from /proc: peak resident memory of this process
and everything it started (the JVM and its Python workers), and the
shutdown of that tree.

Memory is the sum of each process's proportional set size (PSS): Spark's
Python workers are forked from one daemon and share most of their pages,
which a plain RSS sum would count once per worker."""

from __future__ import annotations

import os
import signal
import threading
import time

def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; fields after ")" are fixed
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(name)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_pss() -> dict[str, int]:
    """PSS bytes of this process tree, summed per command name."""
    me = os.getpid()
    out: dict[str, int] = {}
    for p in [me, *descendants(me)]:
        c = _comm(p)
        out[c] = out.get(c, 0) + _pss_bytes(p)
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    CPUs: a rise during a run means the host, not the program, was slow."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Monitor:
    """Samples the process tree's summed PSS on a background thread, and
    the host's steal time over the ``with`` block."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        by_comm = tree_pss()
        total = sum(by_comm.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by_comm

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "Monitor":
        self.steal_s = steal_s()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        self.steal_s = steal_s() - self.steal_s


def _alive(pid: int) -> bool:
    """True while the process runs; an exited child awaiting its reaper
    (state Z) has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for every pid to end; SIGKILL what is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    left = list(pids)
    while True:
        left = [p for p in left if _alive(p)]
        if not left or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in left) and time.monotonic() < deadline + 10:
        time.sleep(0.1)
