"""Summary statistics for one benchmark run (pure functions, no Spark)."""

from __future__ import annotations

import math
import os
import statistics
import time

# samples that must lie strictly above a reported tail percentile
TAIL_BEYOND = 10

# host_probe() on the 4-vCPU reference host while it was otherwise quiet
REF_PROBE_S = 0.0134


def host_probe() -> float:
    """Seconds for a fixed piece of pure-Python work (median of three).

    The engine never runs it, so a change to the engine cannot change it;
    on a shared host its time follows how fast the host runs right now."""

    def once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    return statistics.median([once(), once(), once()])


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """The highest whole percentile whose value has at least ``beyond``
    samples above it: returns (value, percentile, samples_beyond).

    With n samples sorted ascending, the p-th percentile is taken as the
    nearest-rank sample at index ceil(p/100 * n) - 1, so the samples beyond
    it are those at higher indices. The highest p keeping ``beyond`` of them
    is the one whose rank stops ``beyond`` short of the end. Raises
    ValueError below ``beyond + 1`` samples, where no percentile qualifies.
    """
    n = len(samples)
    if n < beyond + 1:
        raise ValueError(f"{n} samples: a tail needs at least {beyond + 1}")
    ordered = sorted(samples)
    for p in range(99, 0, -1):
        idx = max(math.ceil(p / 100 * n) - 1, 0)
        above = n - 1 - idx
        if above >= beyond:
            return ordered[idx], p, above
    return ordered[0], 0, n - 1


def per_op_geomean(op_samples: dict[str, list[float]]) -> float:
    """Geometric mean over ops of each op's median latency: every op weighs
    the same, so a light op's regression shows next to heavy ones."""
    return geomean([median(v) for v in op_samples.values()])


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc)."""
    children = _children()
    out: list[int] = []
    stack = list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and each live
    descendant. Summing per-process peaks bounds the tree's simultaneous
    peak from above."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
