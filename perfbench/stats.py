"""Percentiles with a sample-count rule, and process-tree peak memory."""

from __future__ import annotations

import math
import os
import statistics

# A percentile is supported only when at least this many samples lie
# beyond it, so one outlier cannot set it: p50 needs 20 samples, p90
# needs 100.
SAMPLES_BEYOND = 10


def min_samples(q: float) -> int:
    """Smallest sample count that supports the q-quantile (0 < q < 1)."""
    return math.ceil(SAMPLES_BEYOND / (1.0 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank q-quantile of ``values`` (which must be non-empty),
    except that the 0.5-quantile is the median: the mean of the two
    middle samples of an even count, so that it does not jump from one
    sample to the next when their order swaps."""
    if not values:
        raise ValueError("percentile of no samples")
    if q == 0.5:
        return statistics.median(values)
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs) - 1e-9))
    return xs[rank - 1]


def summarize(values: list[float], q: float) -> dict:
    """The q-quantile with its sample count and whether the count
    supports it. An unsupported value is still the nearest-rank order
    statistic; the flag tells a reader not to trust it as a tail."""
    return {
        "value": percentile(values, q),
        "samples": len(values),
        "supported": len(values) >= min_samples(q),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        # The command name sits in parentheses and may hold spaces.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int, exclude: frozenset[int] = frozenset()) -> float:
    """Sum of the VmHWM peaks of ``root`` and its live descendants,
    skipping the subtrees rooted at ``exclude``."""
    kids = _children_map()
    total_kb = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        total_kb += _hwm_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total_kb / 1024.0
