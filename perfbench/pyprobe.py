"""Python-boundary probe for the traced run.

In the traced run the benchmark wraps ``DataFrame.mapInArrow`` and
``DataFrame.mapInPandas``: the function a layer hands to Spark is replaced
by one that forwards every batch and, in the Python worker, measures

* ``run_s``  — time from the first call until the function's output ends
  (the worker's busy time, including waiting for input batches);
* ``arrow_mb`` — bytes of the batches sent to and returned from Python;
* ``init_s`` — for a worker process started after a given instant, the
  time from its process start to its first call (fork, imports and
  function unpickling).  Both ends are read on ``CLOCK_BOOTTIME``, the
  clock of the start time in ``/proc/self/stat``.

Each call appends one JSON line to a file of the run; the driver sums the
lines per layer tag.  (Spark's own per-node Python metrics are lost for the
plans the engine materializes through a lazy ``localCheckpoint``: the node
executes under a later SQL execution whose plan does not hold it.)
"""

from __future__ import annotations

import json
import os
import time

_first_call_done = False


def _process_start() -> float:
    """This process's start, in ``CLOCK_BOOTTIME`` seconds (clock ticks)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def _init_cost(since_boot: float) -> float:
    """Start-to-first-call time of this worker process, counted once, and
    only if the process started after ``since_boot``."""
    global _first_call_done
    if _first_call_done:
        return 0.0
    _first_call_done = True
    start = _process_start()
    now = time.clock_gettime(time.CLOCK_BOOTTIME)
    return now - start if start >= since_boot else 0.0


def _nbytes(batch) -> int:
    if hasattr(batch, "nbytes"):  # pyarrow RecordBatch
        return int(batch.nbytes)
    return int(batch.memory_usage(index=False).sum())  # pandas DataFrame


def wrap(fn, tag: str, path: str, since_boot: float):
    def probed(batches):
        init = _init_cost(since_boot)
        t0 = time.time()
        sizes = [0, 0]

        def counted():
            for b in batches:
                sizes[0] += _nbytes(b)
                yield b

        try:
            for out in fn(counted()):
                sizes[1] += _nbytes(out)
                yield out
        finally:
            line = json.dumps({
                "tag": tag,
                "init_s": init,
                "run_s": time.time() - t0,
                "arrow_mb": (sizes[0] + sizes[1]) / 1e6,
            })
            fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, (line + "\n").encode())
            finally:
                os.close(fd)

    return probed


def read(path: str) -> dict[str, dict]:
    """``{tag: {py_init_s, py_run_s, arrow_mb}}`` summed over the file."""
    out: dict[str, dict] = {}
    if not os.path.exists(path):
        return out
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            acc = out.setdefault(rec["tag"], {"py_init_s": 0.0, "py_run_s": 0.0, "arrow_mb": 0.0})
            acc["py_init_s"] += rec["init_s"]
            acc["py_run_s"] += rec["run_s"]
            acc["arrow_mb"] += rec["arrow_mb"]
    return out
