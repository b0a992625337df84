"""Resident memory of the processes this one started, read from /proc.

The Spark driver JVM is a child of this Python process and the Python
workers are children of the JVM, so "JVM plus Python workers" is every
descendant process: the ``java`` ones count as JVM, the rest as workers.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1024 * 1024


def _stat(pid: str) -> tuple[int, str] | None:
    """(ppid, comm) of a process, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces; ppid is the 2nd field after it
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return int(raw[raw.rindex(")") + 2 :].split()[1]), comm


def descendants(root: int | None = None) -> dict[int, str]:
    """``{pid: comm}`` of every live descendant of ``root`` (default: self)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[tuple[int, str]]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            children.setdefault(st[0], []).append((int(pid), st[1]))
    out, todo = {}, [root]
    while todo:
        for pid, comm in children.get(todo.pop(), ()):
            out[pid] = comm
            todo.append(pid)
    return out


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / _MB
    except OSError:
        return 0.0


class RssSampler:
    """Samples the descendants' resident memory every ``interval`` seconds
    on a daemon thread and keeps the peaks."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = self.jvm_peak_mb = self.python_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        jvm = py = 0.0
        for pid, comm in descendants().items():
            if comm == "java":
                jvm += rss_mb(pid)
            else:
                py += rss_mb(pid)
        self.peak_mb = max(self.peak_mb, jvm + py)
        self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
        self.python_peak_mb = max(self.python_peak_mb, py)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
