"""Summary arithmetic shared by the report and its tests."""

from __future__ import annotations

import math
import statistics


def tail_percentile(samples: list[float], beyond: int = 10, cap: float = 0.9) -> tuple[float, float] | None:
    """The highest percentile, at most ``cap``, that leaves at least
    ``beyond`` samples strictly above its rank, and its value: with n
    samples the rank is n - beyond, so p = (n - beyond) / n.  Returns
    (p, value), or None when there are not enough samples to leave
    ``beyond`` beyond any percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    p = min(cap, (n - beyond) / n)
    rank = max(1, math.floor(p * n))  # the value at this 1-based rank
    ordered = sorted(samples)
    return p, ordered[rank - 1]


def geomean_of_medians(samples_by_type: dict[str, list[float]]) -> float:
    """Geometric mean over op types of each type's median, so every type
    weighs the same however many times it ran."""
    meds = [statistics.median(v) for v in samples_by_type.values() if v]
    if not meds:
        raise ValueError("no samples")
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that
    its direct children cover (overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
