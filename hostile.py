#!/usr/bin/env python
"""Hostile-config driver simulation: the full ``__spark_entry__`` sweep
under Spark configs the external driver might plausibly set, each one a
proxy for a failure class that only shows up at cluster scale.

The DuckDB oracle is the ground truth for every config — it never sees
Spark's config, so any config-sensitive result is OUR bug, not drift.

Configs and the scale failure each one is a proxy for:

- ``noaqe7``    AQE off + 7 shuffle partitions: plans that only work
                because AQE coalesces/re-plans, or that depend on the
                default 32-partition layout.
- ``shuffle1``  a single shuffle partition: exposes accidental reliance
                on intra-partition ordering produced by hash spread.
- ``tz``        non-UTC session timezone: epoch/timestamp math that
                forgets ``tables.load`` pins UTC per-call.
- ``arrowtiny`` tiny Arrow batches (97 rows): every pandas_udf /
                mapInPandas / applyInPandas kernel sees MANY batches per
                partition — per-batch logic masquerading as per-partition
                logic (a top-k or dedup computed per batch) passes at
                default batch size and silently breaks at 100 TB where
                multi-batch partitions are the norm.
- ``splits``    64 KiB input splits: every file scan fans out to many
                input partitions — single-partition assumptions on the
                read side (exactly what a 1000-executor cluster does).
- ``novec``     vectorized parquet reader off: row-by-row decode path,
                catches reader-specific type handling.
- ``ansioff``   ANSI SQL mode off (Spark 4 defaults it ON): silent-null
                casts/overflow instead of errors — results must not
                depend on the mode either way.

Run ``python hostile.py`` for the standard set, ``--configs a,b`` /
``--only qid1,qid2`` to narrow, ``--sf DIR`` for another scale. Each
config runs in its OWN subprocess (fresh JVM) so session caches built
under one config can never mask sensitivity in the next. The subprocess
starts in an empty temp dir: only the driver puts the repo on
``sys.path``, so its Python workers cannot import the package, as on a
cluster without ``--py-files``. Exit code 0 only if every config's sweep
is fully green.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DEFAULT = "/root/testdata/sf0.01"

CONFIGS: dict[str, dict[str, str]] = {
    "noaqe7": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
    },
    "shuffle1": {
        "spark.sql.shuffle.partitions": "1",
    },
    "tz": {
        "spark.sql.session.timeZone": "Asia/Kathmandu",
    },
    "arrowtiny": {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "97",
    },
    "splits": {
        "spark.sql.files.maxPartitionBytes": "65536",
        "spark.sql.files.openCostInBytes": "0",
    },
    "novec": {
        "spark.sql.parquet.enableVectorizedReader": "false",
    },
    "ansioff": {
        "spark.sql.ansi.enabled": "false",
    },
}


def run_child(config_name: str, sf_dir: str, only: list[str] | None) -> dict:
    """Execute one full sweep under ``config_name`` in this process."""
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName(f"hostile-{config_name}")
    )
    for k, v in CONFIGS[config_name].items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    import duckdb

    from tests.conftest import canon

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    qids = sorted(queries) if not only else [q for q in sorted(queries) if q in only]
    unknown_only = sorted(set(only or []) - set(queries))
    result = {
        "config": config_name,
        "conf": CONFIGS[config_name],
        "n": len(qids),
        "ok": [],
        "rows_only": [],
        "mismatch": {},
        "err": {},
    }
    if unknown_only:
        # a typo'd --only must not produce a vacuous 0-query GREEN
        result["err"]["__only__"] = f"unknown query ids: {unknown_only}"
    t0 = time.time()
    for qid in qids:
        try:
            sdf = queries[qid](spark, sf_dir)
            s_cols = sorted(sdf.columns)
            s_rows = sorted(
                tuple(canon(r[c]) for c in s_cols) for r in sdf.collect()
            )
            sql = oracles.get(qid)
            if sql is None:
                result["rows_only"].append(qid)
                continue
            rel = con.execute(sql)
            d_colnames = [d[0] for d in rel.description]
            d_cols = sorted(d_colnames)
            fetched = rel.fetchall()
            d_rows = sorted(
                tuple(canon(row[d_colnames.index(c)], duck=True) for c in d_cols)
                for row in fetched
            )
            if s_cols != d_cols:
                result["mismatch"][qid] = f"columns spark={s_cols} duck={d_cols}"
            elif len(s_rows) != len(d_rows):
                result["mismatch"][qid] = (
                    f"rows spark={len(s_rows)} duck={len(d_rows)}"
                )
            elif s_rows != d_rows:
                first = next(
                    (a, b) for a, b in zip(s_rows, d_rows) if a != b
                )
                result["mismatch"][qid] = f"values first-diff {first}"
            else:
                result["ok"].append(qid)
        except Exception as exc:  # noqa: BLE001 — report, don't die mid-sweep
            result["err"][qid] = f"{type(exc).__name__}: {exc}"[:400]
    result["sec"] = round(time.time() - t0, 2)
    spark.stop()
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--configs", default=",".join(CONFIGS))
    ap.add_argument("--only", default="")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", SF_DEFAULT))
    ap.add_argument("--child", default="", help=argparse.SUPPRESS)
    args = ap.parse_args()
    only = [q for q in args.only.split(",") if q] or None

    if args.child:
        res = run_child(args.child, args.sf, only)
        print(json.dumps(res))
        return 0 if not res["mismatch"] and not res["err"] else 1

    names = [c for c in args.configs.split(",") if c]
    unknown = [c for c in names if c not in CONFIGS]
    if unknown:
        print(f"unknown configs: {unknown}; known: {sorted(CONFIGS)}", file=sys.stderr)
        return 2
    failed = []
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--child", name,
               "--sf", args.sf]
        if only:
            cmd += ["--only", ",".join(only)]
        try:
            with tempfile.TemporaryDirectory(prefix=f"hostile-{name}-") as cwd:
                proc = subprocess.run(
                    cmd, capture_output=True, text=True, cwd=cwd, timeout=3600
                )
        except subprocess.TimeoutExpired:
            # one slow config must not abort the rest of the sweep
            print(f"[{name}] CHILD TIMED OUT after 3600s", file=sys.stderr)
            failed.append(name)
            continue
        line = next(
            (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
            None,
        )
        if line is None:
            print(f"[{name}] CHILD DIED rc={proc.returncode}", file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            failed.append(name)
            continue
        try:
            res = json.loads(line)
        except json.JSONDecodeError:
            print(f"[{name}] CHILD OUTPUT UNPARSEABLE rc={proc.returncode}",
                  file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            failed.append(name)
            continue
        status = "GREEN" if not res["mismatch"] and not res["err"] else "RED"
        print(
            f"[{name}] {status}: {len(res['ok'])} ok, "
            f"{len(res['rows_only'])} rows-only, "
            f"{len(res['mismatch'])} mismatch, {len(res['err'])} err "
            f"({res['sec']}s)"
        )
        for qid, why in list(res["mismatch"].items()) + list(res["err"].items()):
            print(f"  {qid}: {why}")
        if status == "RED":
            failed.append(name)
    if failed:
        print(f"HOSTILE SWEEP RED: {failed}")
        return 1
    print("HOSTILE SWEEP GREEN: all configs hash-match the oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
