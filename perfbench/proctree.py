"""CPU time and peak resident memory of this process and its descendants,
read from ``/proc``.

The tree is the Python driver, the JVM it launched and the JVM's Python
workers.  CPU time counts each live process's own time plus the time of
children it has reaped, so work done by a worker that exited mid-interval
is still counted (in its parent's ``cutime``/``cstime``).  Peak memory of
the Python processes is the sum of each one's high-water mark (``VmHWM``)
after the marks were reset with ``clear_refs``; summing per-process peaks
bounds their simultaneous peak from above and counts pages shared between
a forked worker and its parent twice.  (The JVM's resident size follows
its heap reservation, not the work; ``measure`` reads the JVM's heap.)
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces and parentheses: split after the
    # last ')' so field 3 (state) is index 0
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user + system time of ``pids`` and of the children they reaped."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's ``VmHWM`` to its current resident size."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process ended; nothing to reset


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.index("(") + 1:raw.rindex(")")] == "java"


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
