"""Spans and Spark counters read from outside the package.

Every timed call runs under its own Spark job group. A traced run then
reads, for that group only, the jobs from the status tracker and each
job's stages from the status store (never the whole stage history), and
records them as child spans of the call. An untraced run sets the same
job groups but reads nothing from the status store.

Spans are kept in memory and written as JSON lines at the end of the run:
``{"run", "id", "parent", "name", "start", "end", ...counters}`` with times
in seconds since the epoch.
"""

from __future__ import annotations

import json
import time

STAGE_FIELDS = (
    "numCompleteTasks", "executorRunTime", "executorCpuTime", "inputBytes",
    "inputRecords", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "diskBytesSpilled",
)


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent reading counters and recording spans
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def group(self, name: str) -> None:
        """Tag the Spark jobs launched from here on with ``name``."""
        self._sc.setJobGroup(name, name)

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"run": self.run_id, "id": sid, "parent": parent,
                               "name": name, "start": start, "end": end, **attrs})
        return sid

    def spark_counters(self, groups: list[str], parent: int) -> dict:
        """Jobs, stages and their counters for the given job groups; each
        stage becomes a child span of ``parent``. Traced runs only."""
        t0 = time.perf_counter()
        sc = self._sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        tracker = sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "input_bytes": 0, "input_rows": 0, "output_bytes": 0,
               "shuffle_bytes": 0, "spill_bytes": 0, "jobs_by_group": {}}
        for g in groups:
            job_ids = list(tracker.getJobIdsForGroup(g))
            out["jobs"] += len(job_ids)
            out["jobs_by_group"][g] = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for stage_id in list(info.stageIds):
                    try:
                        attempts = store.stageData(int(stage_id), False, jvm.java.util.ArrayList(),
                                                   False, no_quantiles)
                    except Exception:  # noqa: BLE001 - a skipped stage has no data
                        continue
                    for i in range(attempts.size()):
                        sd = attempts.apply(i)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        v = {f: getattr(sd, f)() for f in STAGE_FIELDS}
                        out["stages"] += 1
                        out["tasks"] += v["numCompleteTasks"]
                        out["run_s"] += v["executorRunTime"] / 1e3
                        out["cpu_s"] += v["executorCpuTime"] / 1e9
                        out["input_bytes"] += v["inputBytes"]
                        out["input_rows"] += v["inputRecords"]
                        out["output_bytes"] += v["outputBytes"]
                        out["shuffle_bytes"] += v["shuffleWriteBytes"]
                        out["spill_bytes"] += v["diskBytesSpilled"]
                        sub, done = sd.submissionTime(), sd.completionTime()
                        if sub.isDefined() and done.isDefined():
                            self.span(f"stage {sd.stageId()}.{sd.attemptId()}",
                                      sub.get().getTime() / 1e3, done.get().getTime() / 1e3,
                                      parent, job=jid, group=g, **v)
        self.overhead_s += time.perf_counter() - t0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
