"""/proc readers: CPU time and memory of a process tree, and host steal.

The benchmark's Spark run is a tree of processes: this interpreter, the
JVM it launches, the JVM's Python worker daemon and its workers. CPU and
memory are summed over that tree; processes are found by walking the
parent links in ``/proc/<pid>/stat``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we were walking
        return None
    # comm (field 2) may hold spaces and parentheses: split after the
    # last ')' and renumber so fields[0] is field 3 (state)
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name), proc)
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int], proc: str = "/proc") -> float:
    """User+system CPU of ``pids``, including their reaped children
    (a worker that exits mid-pass moves its time into its parent's
    cutime/cstime, so the tree total stays continuous)."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid, proc)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def pss_bytes(pids: list[int], proc: str = "/proc") -> int:
    """Summed proportional set size of ``pids``: a page shared by n of
    them counts 1/n in each, so the forked Python workers, which share
    most of their pages with the worker daemon, are not counted again
    and again as their plain RSS would be."""
    total = 0
    for pid in pids:
        try:
            with open(f"{proc}/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while we were walking
            pass
    return total


def cpu_times(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) jiffies of the host from the aggregate cpu line;
    total covers user..steal (guest time is already inside user)."""
    with open(f"{proc}/stat") as fh:
        line = fh.readline().split()
    vals = [int(x) for x in line[1:9]]
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


class TreeSampler:
    """Samples the tree's summed memory (PSS) on a thread while a pass
    runs.

    ``with TreeSampler(pid) as s: ...`` then ``s.peak_bytes``,
    ``s.cpu_s`` (tree CPU spent inside the block) and ``s.steal_frac``.
    """

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self.steal_frac = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> list[int]:
        pids = tree_pids(self.root)
        self.peak_bytes = max(self.peak_bytes, pss_bytes(pids))
        return pids

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = cpu_seconds(self._sample())
        self._steal0 = cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        # a worker reaped between the last sample and now has already
        # moved its CPU into its parent, so one final walk is exact
        self.cpu_s = cpu_seconds(self._sample()) - self._cpu0
        self.steal_frac = steal_frac(self._steal0, cpu_times())
