"""Measurement helpers shared by every workload: the tail percentile,
windowed throughput, result comparison, process memory and host
diagnostics."""

from __future__ import annotations

import math
import os
import statistics
import time

TAIL_CANDIDATES = (99.9, 99.0, 90.0, 50.0)


def tail_percentile(n: int) -> float:
    """The highest of TAIL_CANDIDATES with at least ten of ``n`` samples
    beyond it; 50 (the median) when even that has fewer."""
    for pct in TAIL_CANDIDATES:
        if n * (100.0 - pct) / 100.0 >= 10 - 1e-9:  # 100 - 99.9 is not exact
            return pct
    return 50.0


def windowed_rate(
    intervals: list[tuple[float, float, float]], start: float, end: float, window_s: float
) -> float:
    """Median over the fixed windows of [start, end) of work per second.

    Each ``(t_begin, t_end, units)`` spreads its units evenly over its own
    interval, so a window is credited with the part of every op that ran
    inside it: no quantisation to whole ops, and never total / elapsed."""
    n = max(1, int((end - start) // window_s))
    work = [0.0] * n
    for b, e, units in intervals:
        rate = units / max(e - b, 1e-9)
        for k in range(n):
            lo, hi = start + k * window_s, start + (k + 1) * window_s
            overlap = min(e, hi) - max(b, lo)
            if overlap > 0:
                work[k] += rate * overlap
    return statistics.median([w / window_s for w in work])


# ------------------------------------------------------------ comparisons


def canon_rows(rows) -> list[tuple]:
    """Rows (tuples / Row objects) in a canonical order: numbers first as
    floats, None sorted first."""

    def key(r):
        return tuple(
            (v is None, "" if v is None else (float(v) if isinstance(v, (int, float)) else str(v)))
            for v in r
        )

    out = [tuple(r) for r in rows]
    out.sort(key=key)
    return out


def rows_match(got, want, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    """Multiset equality with a float tolerance; both sides are canonically
    sorted first, so group keys must make rows distinct."""
    a, b = canon_rows(got), canon_rows(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if x is None or y is None:
                if x is not y and not (x is None and y is None):
                    return False
                continue
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=rel, abs_tol=abs_):
                    return False
            elif x != y:
                return False
    return True


# ------------------------------------------------------------------ host


def _proc_children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if int(fields[1]) == pid:
                kids.append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pids() -> list[int]:
    """The driver JVM: java processes descended from this Python process."""
    out, stack = [], [os.getpid()]
    while stack:
        for k in _proc_children(stack.pop()):
            try:
                with open(f"/proc/{k}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if comm == "java":
                out.append(k)
            else:
                stack.append(k)
    return out


def peak_rss_mb(jvms: list[int]) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVMs."""
    kb = _vm_hwm_kb(os.getpid()) + sum(_vm_hwm_kb(p) for p in jvms)
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_ratio(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def control_s(spark, reps: int = 3) -> float:
    """Median time of a fixed pure-Spark shuffle + aggregate (no repo
    code).  A host diagnostic only: it is never used to scale a metric."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        spark.range(0, 2_000_000, 1, 4).selectExpr("id % 997 AS k", "id * 3 AS v").groupBy(
            "k"
        ).sum("v").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)
