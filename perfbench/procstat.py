"""Process-tree CPU time and resident memory, read from /proc.

The benchmark's process starts the Spark JVM, which starts the PySpark
daemon, which forks the Python workers. Their CPU time and memory are
measured here from outside all of them:

- CPU time of the tree is the sum over live members of
  ``utime + stime + cutime + cstime``. A member's ``cutime``/``cstime``
  hold the CPU of children it has already reaped, so a Python worker that
  exited during a pass is still counted by the daemon that reaped it.
- RSS of the tree is the sum of the members' resident pages, less those
  of a child that shares its parent's address space. ``Sampler`` polls it
  on a thread and keeps the peak.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> dict:
    """Fields of one ``/proc/<pid>/stat`` line that the tree needs.

    The command name sits in parentheses and may itself hold spaces or
    parentheses, so the fields are split after its last ``)``.
    """
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); field n is rest[n - 3]
    return {
        "ppid": int(rest[1]),
        "cpu_ticks": int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
        "vsize": int(rest[20]),
        "rss_pages": int(rest[21]),
    }


def read_stats() -> dict[int, dict]:
    """pid -> parse_stat() for every process in /proc."""
    out: dict[int, dict] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError):
            continue  # exited between listdir and open
    return out


def tree_pids(stats: dict[int, dict], root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, s in stats.items():
        children.setdefault(s["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def shares_parent_memory(stats: dict[int, dict], pid: int) -> bool:
    """True for a child that still runs in its parent's address space: the
    JVM starts processes (the PySpark daemon, shell commands) through
    posix_spawn, whose child shares the JVM's memory until it execs. Its
    RSS is the JVM's, counted twice if summed. Such a child has its
    parent's virtual size, and an RSS that differs only by what changed
    between the two reads; its name is that of the JVM thread that
    spawned it."""
    s, parent = stats[pid], stats.get(stats[pid]["ppid"])
    return (parent is not None and s["vsize"] == parent["vsize"]
            and abs(s["rss_pages"] - parent["rss_pages"]) <= parent["rss_pages"] // 20)


def tree_usage() -> tuple[float, float]:
    """(CPU seconds, RSS MB) of this process's tree."""
    stats = read_stats()
    pids = tree_pids(stats, os.getpid())
    ticks = sum(stats[p]["cpu_ticks"] for p in pids)
    pages = sum(stats[p]["rss_pages"] for p in pids
                if not shares_parent_memory(stats, p))
    return ticks / CLK_TCK, pages * PAGE_BYTES / 2**20


def descendants() -> list[int]:
    """Live descendants of this process."""
    root = os.getpid()
    return [p for p in tree_pids(read_stats(), root) if p != root]


class Sampler:
    """Polls this process tree's RSS every ``interval`` seconds on a
    daemon thread and keeps the peak. Use as a context manager."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        _, rss = tree_usage()
        self.peak_mb = max(self.peak_mb, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "Sampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
