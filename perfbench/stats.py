"""Pure helpers: percentiles, self time, run drift, and the process-tree
counters (CPU time, peak RSS) read from /proc."""

from __future__ import annotations

import os
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile p with at least ``beyond`` of ``n``
    samples above it, i.e. the largest p with n·(100−p)/100 ≥ beyond.
    None when even the median lacks that many (n < 2·beyond)."""
    if n < 2 * beyond:
        return None
    return min(99, (100 * (n - beyond)) // n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))
    return float(ordered[int(rank) - 1])


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(children, start, end)


def drift(values: list[float]) -> float:
    """Least-squares slope of ``values`` over their run index, as a share
    of their mean per run (0.0 for fewer than two values)."""
    n = len(values)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(values)
    sxx = sum((i - mx) ** 2 for i in range(n))
    sxy = sum((i - mx) * (v - my) for i, v in enumerate(values))
    return (sxy / sxx) / my if my else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields restart after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+system, including reaped children) of this
    process tree: the driver JVM, its Python workers and this process."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in
    this tree, in MiB."""
    kib = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024
