"""Peak resident memory of this process and everything it started (the
JVM and Spark's Python workers), sampled from /proc.

Each process counts its proportional set size (PSS): a page shared by
several processes, such as the copy-on-write pages of a freshly forked
Python worker, is split between them instead of counted once per
process, so the sum is the memory the process tree really holds.
"""

from __future__ import annotations

import os
import threading


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may contain spaces and parentheses: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass  # exited while being read
    return 0


def tree_rss_mb() -> float:
    """Summed PSS of this process and its descendants."""
    kids = children_map()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class PeakSampler:
    """Samples :func:`tree_rss_mb` on a daemon thread until stopped."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
