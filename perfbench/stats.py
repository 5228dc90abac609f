"""Pure helpers for the benchmark's summaries (no Spark imports)."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float], beyond: int = 10) -> dict | None:
    """The highest nearest-rank percentile with at least ``beyond``
    samples strictly above its rank, or None when that rank is not
    above the median (the sample is too small to say anything about
    the tail).

    With n sorted samples, rank r = n - beyond (1-based) leaves exactly
    ``beyond`` samples after it; its percentile is 100·r/n.
    """
    n = len(values)
    rank = n - beyond
    if rank < 1 or 2 * rank <= n:
        return None
    return {
        "value": sorted(values)[rank - 1],
        "percentile": round(100.0 * rank / n, 2),
        "n": n,
    }


def drift(values: list[float]) -> dict:
    """Median of the first and of the second half of a run's op walls,
    in run order (warm-up included); a large gap means the run was not
    yet warm when it started measuring."""
    half = len(values) // 2
    return {
        "first_half_p50_s": median(values[:half]),
        "second_half_p50_s": median(values[half:]),
    }


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its direct children (children may overlap each other, so their
    union is subtracted, clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s["end"] - s["start"] - covered)
    return out


def outermost(spans: list[dict], name: str) -> list[int]:
    """Indices of spans called ``name`` with no ancestor of that name,
    so recursive calls are counted once."""
    out = []
    for i, s in enumerate(spans):
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and spans[p]["name"] != name:
            p = spans[p]["parent"]
        if p is None:
            out.append(i)
    return out


def descendants(spans: list[dict], root: int) -> list[int]:
    """``root`` and every span below it (spans are recorded parent-first)."""
    keep = {root}
    for i in range(root + 1, len(spans)):
        if spans[i]["parent"] in keep:
            keep.add(i)
    return sorted(keep)
