"""The timed loop: one iteration at a time, each with its wall time, the
CPU time and peak memory of the whole process tree, and the correctness
check of its output (outside the timed region).

Peak memory (``peak_rss_mb``) is the JVM's peak heap use during the
iteration (the sum of its heap pools' peak usage, reset before the
iteration) plus each Python process's peak resident size.  Before the
peaks are reset, a full collection empties the heap of the previous
iterations' garbage, so every iteration starts from the same heap.
"""

from __future__ import annotations

import time
import traceback

import proctree


def _heap_pools(spark) -> list:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]


class Loop:
    """Runs iterations until the deadline; keeps per-iteration samples."""

    def __init__(self):
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.rss: list[float] = []
        self.heap: list[float] = []  # the JVM's part of rss
        self.attempted = 0
        self.failed = 0
        self.outputs: list = []

    def one(self, spark, w, tracer=None):
        w.before_iteration()
        pools = _heap_pools(spark)
        spark.sparkContext._jvm.java.lang.System.gc()
        for pool in pools:
            pool.resetPeakUsage()
        pids = proctree.tree()
        py_pids = [p for p in pids if not proctree.is_jvm(p)]
        proctree.reset_peak_rss(py_pids)
        cpu0 = proctree.cpu_seconds(pids)
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.start(w.name)
        try:
            out = w.iteration(spark, tracer)
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - t0
        if tracer is not None:
            tracer.finish()
        pids = proctree.tree()
        self.cpu.append(proctree.cpu_seconds(pids) - cpu0)
        heap_mb = sum(pool.getPeakUsage().getUsed() for pool in pools) / 2**20
        py_pids = [p for p in pids if not proctree.is_jvm(p)]
        self.heap.append(heap_mb)
        self.rss.append(heap_mb + proctree.peak_rss_mb(py_pids))
        self.wall.append(wall)
        w.after_iteration()
        if out is None:
            self.attempted += 1
            self.failed += 1
        else:
            attempted, failed = w.check(out)
            self.attempted += attempted
            self.failed += failed
        self.outputs.append(out)
        return t0

    def run(self, spark, w, seconds: float) -> None:
        """Iterate until ``seconds`` have passed since the first one began."""
        deadline = None
        while deadline is None or time.perf_counter() < deadline:
            t0 = self.one(spark, w)
            deadline = deadline or t0 + seconds
