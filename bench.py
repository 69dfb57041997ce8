#!/usr/bin/env python
"""Benchmark harness — the driver runs this per-round and records BENCH_r{N}.json.

Runs every driver-contract query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output protocol (round-12 verdict #2): stdout carries exactly TWO JSON
lines. Line 1 is the FULL record — ``{"metric": ..., "value": total_sec,
"unit": "sec", "queries": {qid: sec}, ...}`` — for builder-side analysis
and BENCH_BUILDER archiving. The FINAL line is a SMALL complete summary
(total, sf, n_queries, plan-free anchor timings, fallback-tagged ids):
the driver keeps only the last ~2.5 KB of stdout, and the 149-entry
per-query dict alone overflows that, which made every official
``BENCH_r{N}.json`` parse to null. The final line is guaranteed to fit,
so the official artifact always ends in one parseable object.

Each query is consumed with a ``noop``-format write: the full plan executes
distributed (scan → transform → exchange) but nothing is serialized to the
driver, so timings measure the engine, not ``collect()`` transfer.

A leading cold pass runs every id once right after ``cache.clear()``, so
each id pays its own session-cache fills; line 1 carries those times as
``cold: {qid: sec}`` next to the warm minima. ``SPARK_GRAFT_BENCH_PASSES``
(default 3) counts the warm passes that follow.

The numpy-driver-tier graph ids (``_ISOLATED_IDS``) are measured in their
own subprocess each (fresh JVM + driver heap; startup excluded — timing is
per-query inside the child): round-11 established that their driver-side
numpy kernels are hypersensitive to driver memory pressure from ANY
co-scheduled query (label_prop read 22.6 s in-bench vs 1.8 s isolated,
reproducible by pairing it with even ``lookup_pk``), which made the
official artifact useless as a regression gate for them. Isolation gives
each id the same memory regime every round. Within a child the first pass
is cold (pays pair/component caches) and later passes are warm, so the
recorded minimum is the warm number — comparable round-over-round.

Round-12 verdict #3: even isolated, these ids swing up to ~3× with host
weather (the same isolated label_prop command read 1.64 s morning vs
4.15 s afternoon on an idle guest). Each isolated child therefore also
times ONE plan-free anchor (``lookup_pk``) inside its own session and
reports it alongside the raw number; the artifact carries both
(``isolated: {qid: {raw, anchor_sec}}``), so any round-over-round
comparison can normalize by the anchor ratio instead of guessing at host
drift. A failed child is logged to stderr and its id tagged in
``fallback_ids`` (round-12 ADVICE: a silent fallback recorded a
co-tenant-polluted number indistinguishable from an isolated one).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# ids whose fast path is a driver-side numpy kernel (graph vote/rank,
# connected components below DRIVER_CC_MAX_EDGES) — measured in an
# isolated subprocess each; see module docstring
_ISOLATED_IDS = (
    "ext_dedup_clusters",
    "ext_graph_label_prop",
    "ext_graph_pagerank",
    "ext_graph_survivor_rank",
)

# the plan-free anchor each isolated child times in its own session: a
# broadcast-free point lookup whose cost is dominated by fixed scan +
# scheduling overhead, i.e. a pure host-weather probe
_CHILD_ANCHOR = "lookup_pk"

# plan-free anchors surfaced in the final-line summary (untouched since
# round 7): the reference ruler for reading any drifted artifact
_SUMMARY_ANCHORS = ("lookup_pk", "scan_full_eventos", "order_page_keyset")


def _cpu_ticks() -> "tuple[int, int] | None":
    """(steal ticks, total ticks) from /proc/stat, or None off-Linux.
    Sampled around the measurement loop: hypervisor steal is the one
    weather component the in-session anchor demonstrably under-captures
    (round-13 finding: a steal burst inflated the numpy-driver-tier ids
    ~14-25x while the plan-free anchor moved <2.5x), so the artifact
    records it directly."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _measure_isolated(
    qid: str,
) -> "tuple[float, float | None, float | None, float | None] | None":
    """Run ``bench.py`` for one id in a fresh subprocess and return
    ``(recorded minimum, child's anchor seconds, child's steal %, child's
    cold seconds)``, or None if the child failed (caller falls back to
    in-process measurement — logged and tagged, never silent)."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_ONLY"] = qid
    env["SPARK_GRAFT_BENCH_ISOLATED"] = "1"
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            timeout=1800,
        )
        # line 1 of the child's stdout is the full record (the final line
        # is the driver-facing summary and omits the per-query dict)
        rec = None
        for line in out.stdout.strip().splitlines():
            try:
                cand = json.loads(line)
            except ValueError:
                continue
            if isinstance(cand, dict) and qid in cand.get("queries", {}):
                rec = cand
                break
        if rec is None:
            raise ValueError(
                f"no parseable record for {qid} in child stdout "
                f"(rc={out.returncode}, stderr tail: {out.stderr[-500:]!r})"
            )
        anchor = rec.get("anchor", {}).get("sec")
        cold = rec.get("cold", {}).get(qid)
        return float(rec["queries"][qid]), anchor, rec.get("steal_pct"), cold
    except Exception as exc:
        print(
            f"bench: isolated child for {qid} failed ({exc}); falling back "
            f"to in-process measurement — number is co-tenant-regime",
            file=sys.stderr,
        )
        return None


# byte ceiling for the FINAL stdout line: the driver's tail keeps ~2.5 KB,
# and the final line must sit ENTIRELY inside it to parse — 2300 leaves
# slack for the newline and tail-boundary fuzz
_FINAL_LINE_BUDGET = 2300


def split_final_queries(
    summary: dict, timings: "dict[str, float]"
) -> "tuple[dict[str, float], dict[str, float]]":
    """Split per-query timings into (final-line dict, penultimate-line
    dict): slowest ids go to the final line (2-decimal, packed greedily
    until the full final line would exceed ``_FINAL_LINE_BUDGET`` bytes),
    the rest to the penultimate, fastest first. Pure so the byte-budget
    test can pin it."""
    probe = dict(summary)
    by_cost = sorted(timings, key=lambda q: (-timings[q], q))
    part2: dict[str, float] = {}
    for qid in by_cost:
        cand = dict(part2)
        cand[qid] = round(timings[qid], 2)
        probe["queries"] = cand
        probe["queries_part"] = "2/2"
        if len(json.dumps(probe, separators=(",", ":"))) > _FINAL_LINE_BUDGET:
            break
        part2 = cand
    # fastest first: only the TAIL of stdout is kept, so truncation eats
    # the start of this line — the slower ids must sit at its end
    part1 = {
        q: round(timings[q], 2) for q in reversed(by_cost) if q not in part2
    }
    return part2, part1


def main() -> None:
    from boletia_kubernetes_kafka_mongodb_spark import cache
    from boletia_kubernetes_kafka_mongodb_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("boletia-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    all_queries = entrymod.queries()
    queries = all_queries
    only = os.environ.get("SPARK_GRAFT_ONLY")
    is_child = os.environ.get("SPARK_GRAFT_BENCH_ISOLATED") == "1"
    if only:
        keep = set(only.split(","))
        queries = {k: v for k, v in all_queries.items() if k in keep}
    timings: dict[str, float] = {}

    # isolate the driver-numpy-tier ids unless this IS the isolated child
    # or the caller pinned an explicit id set (they asked for exactly
    # that measurement regime)
    isolate = (
        [q for q in _ISOLATED_IDS if q in queries] if not only and not is_child else []
    )
    queries = {k: v for k, v in queries.items() if k not in isolate}

    # warm the JVM + parquet footers once so q1 doesn't pay session startup
    spark.read.parquet(f"{SF_DIR}/part.parquet").count()

    ticks0 = _cpu_ticks()

    # multiple warm passes, keep per-query minimum: the host is
    # co-tenant-noisy and a single pass conflates engine time with
    # neighbor interference
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))

    def _run(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _min_secs(fn) -> float:
        return min(_run(fn) for _ in range(passes))

    cold: dict[str, float] = {}
    for qid in sorted(queries):
        cache.clear()
        cold[qid] = round(_run(queries[qid]), 3)
    raw: dict[str, list[float]] = {qid: [] for qid in queries}
    for _ in range(passes):
        for qid in sorted(queries):
            raw[qid].append(_run(queries[qid]))
    total = 0.0
    for qid, times in raw.items():
        timings[qid] = round(min(times), 3)
        total += min(times)

    # an isolated child also times the plan-free anchor in ITS session —
    # the parent records it next to the raw number so round-over-round
    # comparisons can divide out host weather (round-12 verdict #3)
    child_anchor = None
    if is_child and _CHILD_ANCHOR in all_queries:
        child_anchor = round(_min_secs(all_queries[_CHILD_ANCHOR]), 3)

    isolated_meta: dict[str, dict] = {}
    fallback_ids: list[str] = []
    for qid in isolate:
        res = _measure_isolated(qid)
        if res is None:  # child failed: fall back, tagged not silent
            fallback_ids.append(qid)
            cache.clear()
            c = _run(all_queries[qid])
            t, anchor, steal = _min_secs(all_queries[qid]), None, None
        else:
            t, anchor, steal, c = res
        timings[qid] = round(t, 3)
        if c is not None:
            cold[qid] = round(c, 3)
        isolated_meta[qid] = {
            "raw": round(t, 3),
            "anchor_sec": anchor,
            "steal_pct": steal,
        }
        total += t

    steal_pct = None
    ticks1 = _cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        steal_pct = round(
            100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 2
        )

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    record = {
        "metric": "total_query_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "sf": sf,
        "cpus": int(CPUS),
        "n_queries": len(timings),
    }
    if child_anchor is not None:
        record["anchor"] = {"id": _CHILD_ANCHOR, "sec": child_anchor}
    if steal_pct is not None:
        record["steal_pct"] = steal_pct
    if isolated_meta:
        record["isolated"] = isolated_meta
    if fallback_ids:
        record["fallback_ids"] = fallback_ids
    # line 1: the full record (builder-side analysis, BENCH_BUILDER files)
    print(json.dumps(record))
    # FINAL lines (round-13 verdict #1a): the driver keeps only the last
    # ~2.5 KB of stdout, so the official artifact is whatever parses from
    # that tail. A compact 2-decimal no-space per-query dict for all 149
    # ids measures ~4.1 KB — the KEY bytes alone (2.8 KB) exceed the tail,
    # so one line can never carry everything (byte math pinned in
    # tests/test_bench_tail.py). Protocol: split the per-query dict across
    # TWO tagged final lines, slowest ids LAST so the guaranteed-parseable
    # FINAL line (summary + queries part 2/2, kept ≤ _FINAL_LINE_BUDGET
    # bytes) carries the perf-relevant ids; the penultimate line (part
    # 1/2) holds the remainder, its tail end recoverable by scraping.
    summary = {
        "metric": "total_query_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "cpus": int(CPUS),
        "n_queries": len(timings),
        "anchors": {a: timings[a] for a in _SUMMARY_ANCHORS if a in timings},
        "isolated": isolated_meta,
        "fallback_ids": fallback_ids,
    }
    if child_anchor is not None:
        summary["anchor"] = {"id": _CHILD_ANCHOR, "sec": child_anchor}
    if steal_pct is not None:
        summary["steal_pct"] = steal_pct
    part2, part1 = split_final_queries(summary, timings)
    if part1:
        print(
            json.dumps(
                {
                    "metric": "total_query_wall_sec",
                    "queries_part": "1/2",
                    "queries": part1,
                },
                separators=(",", ":"),
            )
        )
        summary["queries_part"] = "2/2"
    summary["queries"] = part2
    print(json.dumps(summary, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
