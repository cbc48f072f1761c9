"""Small numeric and accounting helpers shared by the workloads."""

from __future__ import annotations

import os


def percentile(values, q: float) -> float:
    """q-th percentile (0..100) with linear interpolation between the two
    nearest ranks — numpy's default method. Empty input gives 0.0, the
    value the per-layer report uses for a layer a workload never ran."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


class Ops:
    """Failure accounting: operations attempted and failed.

    An operation is one correlate pass, micro-batch, operator call or
    increment. Failures also count work the operation survived but had to
    redo or park: a Spark task retry or a journaled errored action adds to
    ``failed`` without an extra attempt."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, n: int = 1) -> None:
        self.failed += n

    def ok_share(self) -> float:
        """1 − failed ÷ attempted, clamped to [0, 1]; 0.0 when nothing was
        attempted (a run that did nothing did nothing right)."""
        if self.attempted <= 0:
            return 0.0
        return min(1.0, max(0.0, 1.0 - self.failed / self.attempted))


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings — a run with a high share ran on a slower
    machine than its neighbours."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process exited while we looked
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of a process tree (this process, the Spark
    JVM, the Python workers). Each ``sample()`` reads every live
    process's high-water mark (VmHWM); the peak is the sum over all
    processes ever seen of their largest mark — an upper bound on the
    tree's simultaneous peak that needs no sampling thread."""

    def __init__(self, root: "int | None" = None) -> None:
        self.root = os.getpid() if root is None else root
        self._hwm: dict[int, int] = {}

    def sample(self) -> None:
        for pid in process_tree(self.root):
            kb = _hwm_kb(pid)
            if kb > self._hwm.get(pid, 0):
                self._hwm[pid] = kb

    def peak_mb(self) -> float:
        return sum(self._hwm.values()) / 1024.0

    def by_process_mb(self) -> dict:
        """pid → peak MB, for the run's notes."""
        return {pid: round(kb / 1024.0, 1) for pid, kb in sorted(
            self._hwm.items(), key=lambda kv: -kv[1])}
