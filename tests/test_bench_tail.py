"""Byte-budget gate for bench.py's final-line protocol (r13 verdict #1a).

The external driver records only the last ~2.5 KB of bench stdout and
parses the FINAL line as the official artifact. These tests pin, with
real byte counts over the real 149-id registry:

1. a single compact per-query line can NEVER fit — the measurement the
   verdict asked for ("measure the byte count in a test"): key bytes
   alone exceed the tail, so the split protocol is load-bearing, not a
   style choice;
2. the final line produced by ``split_final_queries`` stays inside
   ``_FINAL_LINE_BUDGET`` for worst-case value widths;
3. the two parts partition the id set exactly (nothing dropped, nothing
   doubled), the final line carries the SLOWEST ids, and the penultimate
   line runs fastest first.
"""

from __future__ import annotations

import json

import bench
import __spark_entry__ as entrymod

QIDS = sorted(entrymod.queries().keys())


def _worst_case_summary() -> dict:
    # realistic-to-pessimistic summary skeleton: all optional fields
    # present, isolated meta for all four children, 2-decimal values
    return {
        "metric": "total_query_wall_sec",
        "value": 9999.999,
        "unit": "sec",
        "sf": 0.1,
        "cpus": 32,
        "n_queries": len(QIDS),
        "anchors": {a: 99.99 for a in bench._SUMMARY_ANCHORS},
        "isolated": {
            q: {"raw": 99.99, "anchor_sec": 99.99, "steal_pct": 99.99}
            for q in bench._ISOLATED_IDS
        },
        "fallback_ids": [],
        "steal_pct": 99.99,
    }


def test_single_line_cannot_fit_all_ids():
    """The measurement behind the split: even a bare compact dict (no
    summary fields at all) with 2-decimal values exceeds the driver's
    ~2.5 KB tail for the 149-id registry — keys alone are ~2.8 KB."""
    bare = json.dumps({q: 12.34 for q in QIDS}, separators=(",", ":"))
    key_bytes = sum(len(q) for q in QIDS)
    assert key_bytes > 2500, key_bytes
    assert len(bare) > 2400, len(bare)


def test_final_line_within_budget_worst_case():
    summary = _worst_case_summary()
    timings = {q: 99.99 for q in QIDS}  # worst-case uniform width
    part2, part1 = bench.split_final_queries(summary, timings)
    final = dict(summary)
    if part1:
        final["queries_part"] = "2/2"
    final["queries"] = part2
    line = json.dumps(final, separators=(",", ":"))
    assert len(line) <= bench._FINAL_LINE_BUDGET, len(line)
    # the final line must still carry a useful number of per-query ids
    assert len(part2) >= 40, len(part2)


def test_parts_partition_ids_and_slowest_go_final():
    summary = _worst_case_summary()
    # distinct, realistic spread of timings, registered in an order that
    # is neither ascending nor descending in cost
    timings = {q: 0.1 + 0.05 * ((i * 37) % len(QIDS)) for i, q in enumerate(QIDS)}
    part2, part1 = bench.split_final_queries(summary, timings)
    assert set(part2) | set(part1) == set(QIDS)
    assert not (set(part2) & set(part1))
    assert part1
    # every id in the final line is at least as slow as every id
    # relegated to the penultimate line
    assert min(timings[q] for q in part2) >= max(timings[q] for q in part1)
    # the penultimate line runs fastest first: tail truncation eats its
    # start, so the slower ids must sit at its end
    costs = [timings[q] for q in part1]
    assert costs == sorted(costs)


def test_small_runs_fit_one_line():
    """Child-mode runs (one or two ids) must not emit a part-1 line."""
    summary = _worst_case_summary()
    part2, part1 = bench.split_final_queries(summary, {"lookup_pk": 0.5})
    assert part1 == {}
    assert part2 == {"lookup_pk": 0.5}
