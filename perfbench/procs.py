"""Process-tree readings from /proc: members, resident memory, CPU time."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tree(pid: int) -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, /proc stat fields after it), for ``pid`` and
    every process below it."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:  # the process ended while we looked
                continue
            stats[int(d)] = (head.split("(", 1)[1], tail.split())
    found, frontier = {}, [pid]
    if pid in stats:
        found[pid] = stats[pid]
    while frontier:
        p = frontier.pop()
        for child, st in stats.items():
            if int(st[1][1]) == p and child not in found:
                found[child] = st
                frontier.append(child)
    return found


def rss_bytes(pid: int) -> int:
    """Summed resident memory of ``pid``, its JVM children and every Python
    process below it. Other processes are left out: a helper the JVM forks
    shows the JVM's whole resident set until it execs."""
    members = tree(pid)
    return _PAGE * sum(
        int(f[21]) for p, (comm, f) in members.items()
        if p == pid or comm.startswith("python")
        or (comm == "java" and int(f[1]) == pid))


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time of the tree under ``pid``, including
    children its members have reaped."""
    return sum(sum(int(x) for x in f[11:15]) for _, f in tree(pid).values()) / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor has withheld from the (virtual) machine,
    summed over its CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class RssSampler(threading.Thread):
    """Peak of ``rss_bytes`` for this process, which in a PySpark process
    covers itself, its JVM and the Python UDF workers; sampled every
    ``interval`` seconds until ``stop()``."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._done = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._done.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, rss_bytes(me))
            self.samples += 1

    def stop(self):
        self._done.set()
        self.join()
