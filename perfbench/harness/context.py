"""State shared by the phases of one benchmark run."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from harness.trace import Recorder


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    work: str  # scratch directory of this run
    seed: int
    cfg: dict  # the workload's sizes (workloads.py)
    layer: dict = field(default_factory=dict)  # raw per-layer measurements
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a failed or wrong one is kept
        with a short description for the run's summary."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(what)


def dir_files(path: str) -> dict[str, int]:
    """Parquet data files under ``path`` -> size in bytes."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out
