"""Pure metric arithmetic for the benchmark: no Spark, no I/O beyond
``os.stat``. Everything here is covered by ``test_metrics.py``."""

from __future__ import annotations

import math
import os
import statistics

# candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def nearest_rank(sorted_vals: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: the value at 1-based rank ceil(p/100·n).
    Returns (value, rank)."""
    n = len(sorted_vals)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_vals[rank - 1], rank


def timing_summary(samples: list[float]) -> dict:
    """Median plus the highest tail percentile that has at least
    ``MIN_BEYOND`` samples strictly beyond its rank, with the sample
    count. ``tail`` is None when no candidate qualifies."""
    if not samples:
        raise ValueError("timing_summary needs at least one sample")
    vals = sorted(samples)
    out = {"n": len(vals), "p50": statistics.median(vals), "tail": None}
    for p in TAIL_PERCENTILES:
        value, rank = nearest_rank(vals, p)
        if len(vals) - rank >= MIN_BEYOND:
            out["tail"] = {"p": p, "value": value}
            break
    return out


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("error_rate: nothing was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"error_rate: failed={failed} outside "
                         f"[0, attempted={attempted}]")
    return failed / attempted


def covered_length(intervals: list[tuple[float, float]],
                   lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(
                (s["start"], s["end"]))
    return [s["end"] - s["start"]
            - covered_length(children.get(i, []), s["start"], s["end"])
            for i, s in enumerate(spans)]


def tree_bytes(root: str) -> int:
    """Bytes on disk under ``root``, counting each inode once (the
    index hard-links unchanged partition files into new versions)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total


def storage_amplification(disk_bytes: int, live_vectors: int,
                          dim: int) -> float:
    """Bytes on disk per byte of live float32 vector payload."""
    if live_vectors < 1 or dim < 1:
        raise ValueError("storage_amplification: no live payload")
    return disk_bytes / (live_vectors * dim * 4)


def spread(values: list[float]) -> dict:
    """Median, quartiles and (q3 - q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else math.inf}
