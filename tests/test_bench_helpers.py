"""bench.py helper logic (no Spark needed).

ADVICE r13 (low): the best-of-2 fold must keep the streaming split
consistent with the kept wall — a faster second run whose listener
drain produced nothing previously left the FIRST run's split paired
with the SECOND run's wall, so sched_wall_s decomposed against a
wall that was no longer the reported one and the suite-level
stream_sched_wall_s/stream_exec_s no longer summed against
full_suite.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import json  # noqa: E402

from bench import (  # noqa: E402
    CORE_QUERIES,
    _LINE_BUDGET,
    _compact_line,
    _fold_best_of,
    _short_key,
)


def _split(exec_s, sched):
    return {"exec_s": exec_s, "sched_wall_s": sched, "batches": 3,
            "queries": 1}


def test_slower_second_run_keeps_first_wall_and_split():
    timings = {"q": 5.0}
    split = {"q": _split(4.0, 1.0)}
    _fold_best_of(timings, split, "q", 7.0, None)
    assert timings["q"] == 5.0
    assert split["q"]["sched_wall_s"] == 1.0  # untouched: wall unchanged


def test_faster_second_run_with_split_replaces_both():
    timings = {"q": 5.0}
    split = {"q": _split(4.0, 1.0)}
    _fold_best_of(timings, split, "q", 3.0, _split(2.5, 0.5))
    assert timings["q"] == 3.0
    assert split["q"] == _split(2.5, 0.5)


def test_faster_second_run_without_split_drops_stale_entry():
    """The ADVICE case: kept wall comes from a run with no drained
    split -> the first run's split must NOT survive against it."""
    timings = {"q": 5.0}
    split = {"q": _split(4.0, 1.0)}
    _fold_best_of(timings, split, "q", 3.0, None)
    assert timings["q"] == 3.0
    assert "q" not in split  # stale split dropped, not mismatched


def test_pure_batch_plan_untouched():
    timings = {"q": 5.0}
    split = {}
    _fold_best_of(timings, split, "q", 4.0, None)
    assert timings["q"] == 4.0
    assert split == {}


# --- compact-line per-core-query map (r14 verdict item 1) ----------------


def _payload(core_timings):
    return {
        "metric": "55-plan core wall-clock (noop sink; anchors "
        "BASELINE.md §14/§15; data-wall judging via *_sched_wall_s; "
        "core_key_map in detail)",
        "value": 102.862,
        "unit": "sec",
        "queries": {
            "n_core": 55,
            "n_recommended": 168,
            "n_new": 0,
            "n_exhibits": 3,
        },
        "_core_timings": core_timings,
        "value_full_suite": 353.965,
        "value_new": 0,
        "full_value": 359.586,
        "stream_sched_wall_s": 27.665,
        "stream_exec_s": 73.759,
        "core_sched_wall_s": 5.095,
        "core_data_wall_s": 97.767,
        "detail": "BENCH_DETAIL.json",
        "host_st_ms": 161.9,
        "host_mt_ms": 288.8,
        "sf": 0.1,
    }


def test_compact_line_carries_per_core_query_seconds():
    timings = {n: 1.234 for n in CORE_QUERIES}
    line = _compact_line(_payload(timings), CORE_QUERIES)
    assert len(line) <= _LINE_BUDGET
    parsed = json.loads(line)
    q = parsed["queries"]
    # Count keys are never removed (driver contract)...
    assert q["n_core"] == 55 and q["n_recommended"] == 168
    assert q["n_new"] == 0 and q["n_exhibits"] == 3
    # ...and every core query reports real seconds at 3 sig digits
    # under its abbreviated (collision-free) key.
    shorts = [_short_key(n) for n in CORE_QUERIES]
    assert len(set(shorts)) == len(CORE_QUERIES)
    for s in shorts:
        assert q[s] == 1.23
    assert "_core_timings" not in parsed


def test_compact_line_worst_case_values_degrade_not_drop():
    """Even with every core plan at a 3-digit wall (pathological: the
    whole core runs 0.3-13 s), the line must keep per-query values —
    degrading precision down to whole seconds — and fit the tail
    budget."""
    timings = {n: 123.456 for n in CORE_QUERIES}
    line = _compact_line(_payload(timings), CORE_QUERIES)
    assert len(line) <= _LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"][_short_key(CORE_QUERIES[0])] in (123, 123.0, 123.5)


def test_compact_line_degrades_to_counts_only_rather_than_bust():
    """Pathological walls (1e9) would overflow the budget at any
    rounding; the guard must then drop the per-query map (counts-only
    legacy shape) instead of emitting an unparseable-by-tail line."""
    timings = {n: 1.0e9 for n in CORE_QUERIES}
    payload = _payload(timings)
    payload["metric"] = "x" * 1600  # force even 1-decimal over budget
    line = _compact_line(payload, CORE_QUERIES)
    parsed = json.loads(line)
    assert parsed["queries"]["n_core"] == 55
    assert _short_key(CORE_QUERIES[0]) not in parsed["queries"]
