"""Peak resident memory of the Spark JVM and its Python workers.

The Python daemon and workers descend from the JVM. A background thread
walks /proc for the JVM and its Python descendants and keeps, per process, the
largest ``VmHWM`` (the kernel's resident high-water mark) it has seen. Workers that exit between two
samples keep the last value read. The reported peak is the sum over
processes.
"""

from __future__ import annotations

import os
import threading


def _proc_table() -> tuple[dict[int, list[int]], dict[int, str]]:
    """(ppid -> child pids, pid -> command name) over /proc."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fd:
                stat = fd.read()
        except OSError:
            continue
        # the command name may contain spaces: ppid follows the last ')'
        head, tail = stat.rsplit(")", 1)
        ppid = int(tail.split()[1])
        children.setdefault(ppid, []).append(int(entry))
        names[int(entry)] = head.split("(", 1)[1]
    return children, names


def descendants(pid: int) -> list[int]:
    children, _names = _proc_table()
    return _walk(children, pid)


def _walk(children: dict[int, list[int]], pid: int) -> list[int]:
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fd:
            for line in fd:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    def __init__(self, root_pid: int, interval_s: float = 0.5):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        # Only the JVM and Python processes count: a command the JVM
        # forks shows the JVM's resident size until it execs.
        children, names = _proc_table()
        pids = [p for p in _walk(children, self.root_pid) if names[p].startswith("python")]
        for pid in [self.root_pid, *pids]:
            kb = vm_hwm_kb(pid)
            if kb is not None and kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
