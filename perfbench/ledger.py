"""Measurement plumbing for the benchmark: process memory, Spark job groups
and the per-stage counters of the Spark status store.

Everything here observes the program from outside.  Job groups tag the
jobs a timed region starts; the status store is read only after the region
ends and the listener bus has drained, so reading it costs the region
nothing.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

# status-store counters summed per layer: name -> (StageData getter, scale)
STAGE_COUNTERS = {
    "tasks": ("numTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int) -> bool:
    """Reset a process's peak RSS to its current RSS (Linux clear_refs 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
        return True
    except OSError:
        return False


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of every cpu since boot, from /proc/stat.
    Steal is time a virtual machine's cpus waited for the host."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Ledger:
    """Tags each traced region with its own Spark job group and sums the
    status-store counters of the jobs in it."""

    def __init__(self, spark):
        self.spark = spark
        self._seq = 0

    @contextmanager
    def region(self, layer: str):
        """Run the body under a fresh job group; yields a dict that holds
        the region's wall seconds (``wall_s``) once the body has returned."""
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, layer)
        out = {"group": group}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["wall_s"] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def counters(self, group: str) -> dict[str, float]:
        """Status-store counters summed over every job of ``group``."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stage_ids = set()
        njobs = 0
        for job in _scala_iter(store.jobsList(None)):
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                njobs += 1
                stage_ids.update(int(s) for s in _scala_iter(job.stageIds()))
        out = {"jobs": float(njobs), **{k: 0.0 for k in STAGE_COUNTERS}}
        if not stage_ids:
            return out
        gateway = self.spark.sparkContext._gateway
        no_quantiles = gateway.new_array(gateway.jvm.double, 0)
        for st in _scala_iter(store.stageList(None, False, False, no_quantiles, None)):
            if int(st.stageId()) not in stage_ids:
                continue
            for name, (getter, scale) in STAGE_COUNTERS.items():
                out[name] += float(getattr(st, getter)()) * scale
        return out
