"""Peak resident memory of a process tree, sampled from /proc at a fixed interval.

The tree is the benchmark process plus every descendant: the Spark driver JVM and
the Python workers it forks. A daemon thread sums their proportional set size
(PSS) every ``interval_s`` while sampling is switched on. PSS splits each shared
page among the processes mapping it, so the copy-on-write pages of forked Python
workers count once; summed plain RSS counts them once per worker.
"""

from __future__ import annotations

import os
import threading


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces and parentheses; ppid follows the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since the listing
    return total


class PeakRSS:
    """Samples while ``active`` is set; ``peak_bytes`` holds the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(self.root))

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
