#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload booking_ops --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``, starts
the package's own session (``session.get_spark`` on ``local[nproc]``),
times its set-up (session start, input staging, warm-up), measures for about
``--seconds`` seconds, checks every output, and prints as its last stdout
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes spans and a per-layer table under
``.perfbench_runs/``). Exits nonzero on any wrong output or failed op, or
when the checkout holds no package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "boletia_kubernetes_kafka_mongodb_spark"


def _proc_stat() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _git_commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Harness:
    """Session, directories, tracer and host context shared by the workloads."""

    def __init__(self, args, root: str):
        self.args = args
        self.seed = args.seed
        self.root = root
        self.nproc = len(os.sched_getaffinity(0))
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(root, ".perfbench_work", tag)
        self.out_dir = os.path.join(root, ".perfbench_runs")
        self.spark = None
        self.jvm_pid = None
        from spans import Tracer

        self.tracer = Tracer(bool(args.trace), tag)

    def start_session(self):
        from boletia_kubernetes_kafka_mongodb_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", cpus=self.nproc)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop(self) -> None:
        """Stop the session and wait until its JVM has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=120)

    def dir(self, name: str) -> str:
        """A new directory under the run's scratch area."""
        d = os.path.join(self.work, name)
        os.makedirs(d, exist_ok=True)
        return d

    def peak_rss_mb(self) -> float:
        kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(self.jvm_pid) if self.jvm_pid else 0)
        return kb / 1024.0


def host_context(h: Harness, steal0, load0: tuple, t_start: float) -> dict:
    steal1 = _proc_stat()
    d_total = max(steal1[1] - steal0[1], 1)
    master = h.spark.sparkContext.master if h.spark is not None else None
    import duckdb
    import pyspark

    java = h.spark.sparkContext._jvm.java.lang.System.getProperty("java.version") if h.spark else None
    local_n = None
    if master and master.startswith("local[") and master[6:-1].isdigit():
        local_n = int(master[6:-1])
    return {
        "host": platform.node(), "nproc": h.nproc, "master": master, "local_n": local_n,
        "cpus_mismatch": local_n != h.nproc,
        "steal_pct": round(100.0 * (steal1[0] - steal0[0]) / d_total, 3),
        "loadavg_start": load0, "git_commit": _git_commit(h.root),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__, "java": java,
        "python": platform.python_version(), "wall_s": round(time.time() - t_start, 3),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, PACKAGE))):
        print(f"perfbench: no {PACKAGE} package and __spark_entry__.py in {root}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    t_start = time.time()
    steal0, load0 = _proc_stat(), os.getloadavg()
    h = Harness(args, root)
    # keep Spark's scratch and the JVM's temp files inside the checkout
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(h.work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(h.work, "local")
    os.environ["TMPDIR"] = os.path.join(h.work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(h.work, 'tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(h.nproc)

    wl = workloads.WORKLOADS[args.workload](h)
    try:
        phases = {}
        t0 = time.perf_counter()
        wl.generate()
        phases["generate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        h.start_session()
        session_start_s = time.perf_counter() - t0
        wl.setup("stage")
        setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        res = wl.measure(args.seconds)
        phases["measure_wall_s"] = time.perf_counter() - t0
        phases["setup_s"], phases["session_start_s"] = setup_s, session_start_s
        host = host_context(h, steal0, load0, t_start)
        peak = h.peak_rss_mb()
    finally:
        h.stop()
        shutil.rmtree(h.work, ignore_errors=True)

    if host["cpus_mismatch"]:
        print(f"perfbench: WARNING local[{host['local_n']}] != nproc {host['nproc']}", file=sys.stderr)
    res.end_to_end["setup_s"] = (setup_s, "s")
    res.per_layer.update({"session.start_s": (session_start_s, "s"),
                          "trace.overhead_s": (h.tracer.overhead_s, "s")})
    metrics = res.per_layer if args.trace else res.end_to_end
    os.makedirs(h.out_dir, exist_ok=True)
    stem = os.path.join(h.out_dir, h.tracer.run_id)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "phases": phases, "peak_rss_mb": peak,
              "attempted": res.attempted, "failed": res.failed, "failures": res.failures[:20],
              "end_to_end": res.end_to_end, "per_layer": res.per_layer, "layers": res.layers,
              "detail": res.detail}
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        h.tracer.write(stem + ".spans.jsonl")
        print("layer table:")
        for name, (value, unit) in sorted({**res.per_layer, **res.layers}.items()):
            print(f"  {name:<48} {value:>16.6g} {unit}")
    print(json.dumps({"host": host, "phases": phases}))
    for msg in res.failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": res.attempted, "failed": res.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
