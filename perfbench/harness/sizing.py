"""Size Spark to the host before the JVM starts.

``pond_spark.session.get_spark`` defaults to ``local[32]`` and a 16 GiB
heap. On a smaller host that oversubscribes the cores and can exhaust
memory, so the benchmark sets the engine's own knobs from what the host
has, and keeps every file Spark, the JVM and Python write inside the
benchmark's directory.
"""

from __future__ import annotations

import os
import sys

#: the largest heap the benchmark asks for; its inputs are small
MAX_HEAP_MB = 1024


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_ram_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def apply(root: str, base: str) -> dict:
    """Set the environment the session and its workers start from;
    returns the sizing for the run's report."""
    cpus = host_cpus()
    heap_mb = min(MAX_HEAP_MB, host_ram_mb() // 4)
    tmp = os.path.join(base, "tmp")
    local = os.path.join(base, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "POND_SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # java.io.tmpdir for Spark's JVM; no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        # Spark's Python workers unpickle pond_spark functions by module
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    }
    os.environ.update(env)
    return {"cpus": cpus, "heap_mb": heap_mb}
