"""Resident memory and CPU time of a process and all its descendants
(the driver JVM and the Python workers it forks), read from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tree_usage(root_pid: int) -> tuple[int, float]:
    """(RSS bytes, CPU seconds) summed over ``root_pid`` and its
    descendants. CPU counts user and system time, including that of
    children already reaped, so workers that exit keep counting."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[bytes]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                raw = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command name, from field 3 on
        fields = raw[raw.rindex(b")") + 2 :].split()
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    rss = ticks = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        fields = stats.get(pid)
        if fields is None:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
        rss += int(fields[21]) * _PAGE
    return rss, ticks / _TICK


class RssSampler(threading.Thread):
    """Samples the tree's RSS every ``interval_s`` until stopped."""

    def __init__(self, root_pid: int, interval_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval_s):
            self.samples.append(tree_usage(self.root_pid)[0])

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)
