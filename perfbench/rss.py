"""Peak summed resident set size of this process and all its descendants
(the Spark driver JVM and its Python workers), sampled from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, executable path) of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            exe = os.readlink(f"/proc/{name}/exe")
        except OSError:
            continue  # exited while listing, or a kernel thread
        # the command name may hold spaces and parentheses: split after the last ')'
        out[int(name)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), exe)
    return out


def descendants(pid: int, procs: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """``pid`` and its descendants, leaving out the JVM's transient forks:
    a child the JVM forks to start a command (the Python daemon, a shell)
    runs the JVM's executable and shares its memory until it execs, but
    reports the JVM's whole RSS as its own."""
    procs = _procs() if procs is None else procs
    children: dict[int, list[int]] = {}
    for child, (parent, exe) in procs.items():
        parent_exe = procs.get(parent, (0, ""))[1]
        if not (exe == parent_exe and os.path.basename(exe) == "java"):
            children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss_bytes(pid: int) -> list[int]:
    """RSS of ``pid`` and of each of its descendants."""
    return [rss_bytes(p) for p in descendants(pid)]


class PeakRss:
    """Background sampler; use as a context manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: list[int] = []  # per-process RSS at the peak, for the log
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss_bytes(pid)
            if sum(parts) > self.peak_bytes:
                self.peak_bytes, self.peak_parts = sum(parts), parts
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
