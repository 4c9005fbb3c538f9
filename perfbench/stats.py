"""Small measurement helpers: percentiles, spreads and process CPU."""

from __future__ import annotations

import math
import os
import statistics

CLK_TCK = os.sysconf("SC_CLK_TCK")
MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples strictly beyond its rank, or None when even the median has
    fewer."""
    for p in candidates:
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            return p
    return None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def mix_median(samples: list[tuple[str, float]], weights: dict[str, int] | None = None) -> float:
    """Value of one operation drawn from a weighted mix of operation
    types (weight 1 unless given), each type's value being the median of
    its samples. With one type this is the plain median. Host contention
    that slows fewer than half of a type's samples does not move it."""
    by_type: dict[str, list[float]] = {}
    for name, value in samples:
        by_type.setdefault(name, []).append(value)
    w = weights or {}
    total = sum(w.get(name, 1) for name in by_type)
    return sum(w.get(name, 1) * statistics.median(v) for name, v in by_type.items()) / total


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, own + reaped children) of a process
    tree: this Python driver, the JVM it launched and any Python workers.
    A process that exits moves its time into its parent's reaped-children
    fields, so differences of this reading conserve it."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_pct(since: tuple[int, int]) -> float:
    """Share of machine CPU time stolen by the hypervisor since ``since``."""
    steal, total = cpu_ticks()
    return 100.0 * (steal - since[0]) / max(1, total - since[1])
