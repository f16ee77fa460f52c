"""Helpers shared by the harness and the workloads."""

from __future__ import annotations

import statistics
import sys


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def latency_summary(ms: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples
    beyond it (the max when there are fewer than eleven samples)."""
    xs = sorted(ms)
    n = len(xs)
    if n == 0:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 0.0, "beyond": 0}
    if n >= 11:
        tail, pct, beyond = xs[n - 11], 100.0 * (n - 10) / n, 10
    else:
        tail, pct, beyond = xs[-1], 100.0, 0
    return {"n": n, "p50": statistics.median(xs), "tail": tail,
            "tail_pct": round(pct, 2), "beyond": beyond}


def vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0

