"""Host fitting and process-tree probes.

- ``fit_environment`` sizes the Spark session to the host through the
  program's own overrides (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``)
  and puts the checkout on ``PYTHONPATH`` so Python workers import the same
  ``ssp_spark`` as the driver.
- ``ProcTree`` reads /proc for this process's subtree (the driver, the
  Spark JVM it launched and the ``pyspark.daemon`` workers under it): CPU
  seconds of the whole tree and of the worker subtree, and the sum of
  each process's peak resident memory (``VmHWM``, kept by the kernel, so
  nothing samples it while the units run).
"""

from __future__ import annotations

import os

PAGE = os.sysconf("SC_PAGE_SIZE")
HZ = os.sysconf("SC_CLK_TCK")


def fit_environment(root: str, tmp: str, cores: int | None = None) -> dict:
    """Export the session sizing and import path for this host and return
    what was chosen. Heap: a quarter of physical memory, 1-4 GiB. Spark's
    local dirs and every temporary file go under ``tmp``."""
    cores = cores or len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PHYS_PAGES") * PAGE / 2**30
    heap_gib = int(min(4, max(1, phys_gib // 4)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gib}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher too); the perf-data file would go
    # to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the console progress bar is a polling thread that writes to stderr
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    return {"cores": cores, "heap_gib": heap_gib, "phys_gib": round(phys_gib, 1)}


def _peak_rss(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def _proc_table() -> dict[int, tuple[int, int, int, bool]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, peak rss bytes,
    is a pyspark.daemon process)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(") ", 1)[1].split()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                daemon = b"pyspark.daemon" in f.read()
            peak = _peak_rss(d)
        except OSError:
            continue
        cpu = sum(int(fields[i]) for i in (11, 12, 13, 14))
        table[int(d)] = (int(fields[1]), cpu, peak, daemon)
    return table


class ProcTree:
    """Snapshot of this process's subtree."""

    def __init__(self) -> None:
        me = os.getpid()
        table = _proc_table()
        self.cpu_s = 0.0
        self.worker_cpu_s = 0.0
        self.peak_rss = 0
        for pid, (_, cpu, rss, _) in table.items():
            in_tree = in_workers = False
            p = pid
            for _ in range(64):
                if p not in table:
                    break
                in_workers = in_workers or table[p][3]
                if p == me:
                    in_tree = True
                    break
                p = table[p][0]
            if in_tree:
                self.cpu_s += cpu / HZ
                self.peak_rss += rss
                if in_workers:
                    self.worker_cpu_s += cpu / HZ
