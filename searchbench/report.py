"""Metric naming, the percentile rule, and the result line."""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
MIN_BEYOND = 10


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank p-th percentile, or None when fewer than MIN_BEYOND
    samples lie beyond it.  The median (p=50) is always given."""
    if not samples:
        return None
    xs = sorted(samples)
    if p == 50:
        return statistics.median(xs)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def summary_lines(samples: dict[str, list[float]],
                  pcts=(50, 90, 99)) -> list[str]:
    """One line per sample set: every printable percentile and the count."""
    out = []
    for name, xs in sorted(samples.items()):
        parts = []
        for p in pcts:
            v = percentile(xs, p)
            parts.append(f"p{p}={v:.4f}" if v is not None
                         else f"p{p}=n/a(<{MIN_BEYOND} beyond)")
        out.append(f"{name}: {' '.join(parts)} n={len(xs)}")
    return out


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {check_name(k): {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })
