"""Summary statistics and process memory for the benchmark."""

from __future__ import annotations

import glob
import os
import statistics


def summarize(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples. The
    quartiles use `statistics.quantiles(n=4)` (exclusive method), the
    same call the acceptance check uses; with one sample all three are
    that sample."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("no samples")
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


def _children(pid: int) -> list[int]:
    """Children of every thread of `pid` (the JVM starts the Python
    workers from a thread other than its main one)."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss(root: int | None = None) -> None:
    """Reset VmHWM to the current RSS for `root` and its descendants
    (Linux clear_refs code 5), so a later read covers only what runs
    after this call."""
    for p in process_tree(os.getpid() if root is None else root):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_mb(root: int | None = None) -> tuple[float, dict]:
    """Sum of VmHWM over `root` and all its descendants (the Python
    driver, the Spark JVM it launched and the JVM's Python workers), and
    the same sum per process name."""
    by_name: dict[str, float] = {}
    for p in process_tree(os.getpid() if root is None else root):
        n = _name(p)
        by_name[n] = by_name.get(n, 0.0) + vm_hwm_kb(p) / 1024.0
    return sum(by_name.values()), by_name
