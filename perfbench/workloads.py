"""The benchmark's workloads.

Each workload generates its inputs from the seed (``generate``, untimed),
sets up on a fresh session (``setup``: stage the inputs, warm up; timed by
the caller), then measures complete rounds until about ``seconds`` of op
time have passed (``measure``). Every op's output is checked outside the
timed section; an op that raises or returns a wrong answer counts as
failed. See README.md for what each workload is for.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen

PKG_PREFIX = "boletia_kubernetes_kafka_mongodb_spark."
SF = 0.1

# closed-loop booking surface: point lookups, a range filter, the
# availability join, guarded decrement, cancel update, cascade, the CDC
# clone upsert, the top-N availability page, reservations by state and the
# per-minute reservation window. They run back to back in this cyclic
# order, reads between writes; the seed picks where the cycle starts. An
# id's latency depends on the id before it (by up to 25% in a round), so
# a fresh permutation per seed would move every run's figures; a rotation
# keeps each id's predecessor the same for every seed.
BOOKING_IDS = (
    "lookup_pk", "reserve_guarded_decrement", "filter_range_guard", "join_availability",
    "event_cancel_update", "lookup_point_unique", "join_cascade", "agg_time_window",
    "sink_upsert_clone", "order_topn_disponible", "agg_pivot_estado",
)

# one curation pipeline over dedup, text, similarity, search, sampling and
# multimodal operators
CORPUS_IDS = (
    "ext_dedup_exact", "ext_text_pii_mask", "ext_text_tokens", "ext_topk_similarity",
    "ext_ann_ivf_topk", "ext_bm25_search", "ext_sample_weighted", "ext_multimodal_dedup",
)

# the JVM keeps speeding up over the first passes of a query workload: after
# one warm pass the first measured round still ran 20-50% slower than the
# next, and runs differed more, so set-up makes two passes; a run then
# measures at least three rounds, and the median round skips the first
WARM_PASSES = 2
MIN_ROUNDS = 3

CDC_EVENTS = 200
CDC_RESERVATIONS = 8_000
CDC_TRIGGERS = 4

# admission stream: a 20,000-request backlog drained in two triggers, then an
# open loop that lands one file of ADM_RATE * ADM_INTERVAL_S requests every
# ADM_INTERVAL_S seconds
ADM_EVENTS = 500
ADM_ZIPF = 1.1
ADM_CANCEL_FRAC = 0.1
ADM_BACKLOG_FILES = 16
ADM_FILE_ROWS = 1_250
ADM_MAX_FILES = 8
ADM_RATE = 250.0
ADM_INTERVAL_S = 2.0
ADM_WARM_ROWS = 1_000
ADM_SCHEMA = ("evento STRING, seq BIGINT, _id STRING, email STRING, op STRING, "
              "cantidad INT, capacidad INT")
ADM_WAIT_S = 150.0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)  # module-level breakdown (traced)
    detail: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def _pct(values, q: float) -> float:
    """Percentile at rank (n + 1) * q / 100, the ``exclusive`` method of
    ``statistics.quantiles`` (clipped to the extremes): over 11 per-id
    medians, p90 lies between the two slowest ids instead of resting on
    the second slowest alone."""
    return float(np.percentile(np.asarray(values, dtype=float), q, method="weibull"))


def _mean(values) -> float:
    return float(np.mean(values)) if len(values) else 0.0


class _QueryWorkload:
    """Shared machinery for the batch-query workloads."""

    IDS: tuple = ()

    def __init__(self, h):
        self.h = h
        self.res = Result()
        self.stage_dir = None
        self.n_ops = 0
        import __spark_entry__ as entry

        registry = entry.queries()
        self.fns = {q: registry[q] for q in self.IDS}
        self.oracle = entry.oracle_sql()
        self.module = {q: f.__module__.removeprefix(PKG_PREFIX) for q, f in self.fns.items()}
        self.samples: list[dict] = []
        self.check_s = 0.0
        self.order = list(self.IDS)  # the warm passes' order

    def generate(self) -> None:
        self.tables = gen.base_tables(self.h.seed, SF)

    def stage(self, name: str) -> str:
        d = self.h.dir(name)
        for t, tbl in self.tables.items():
            pq.write_table(tbl, os.path.join(d, f"{t}.parquet"))
        return d

    def run_op(self, qid: str, sf_dir: str, parent: int | None):
        """Build and fetch one query. Returns (arrow table, sample) or
        (None, None) after recording a failure. Counters are read only for
        measured ops (``parent`` set), never for warm-up ones."""
        h, tr = self.h, self.h.tracer
        self.n_ops += 1
        key = f"op{self.n_ops}"
        self.res.attempted += 1
        w0 = time.time()
        try:
            tr.group(f"{key}:build")
            t0 = time.perf_counter()
            df = self.fns[qid](h.spark, sf_dir)
            t1 = time.perf_counter()
            tr.group(f"{key}:exec")
            table = df.toArrow()
            t2 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 - any error is a failed op
            self.res.fail(f"{qid}: {type(ex).__name__}: {str(ex)[:200]}")
            return None, None
        w2 = w0 + (t2 - t0)
        sample = {"id": qid, "build": t1 - t0, "exec": t2 - t1, "total": t2 - t0,
                  "rows_out": table.num_rows}
        if tr.enabled and parent is not None:
            op = tr.span(qid, w0, w2, parent, module=self.module[qid])
            b = tr.span("build", w0, w0 + (t1 - t0), op)
            e = tr.span("exec", w0 + (t1 - t0), w2, op)
            cb = tr.spark_counters([f"{key}:build"], b)
            ce = tr.spark_counters([f"{key}:exec"], e)
            sample["build_jobs"] = cb["jobs"]
            for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "input_bytes",
                      "input_rows", "shuffle_bytes", "spill_bytes"):
                sample[k] = cb[k] + ce[k]
        return table, sample

    def check(self, con, qid: str, table, cache: dict) -> None:
        t0 = time.perf_counter()
        try:
            ok = check.matches_oracle(con, table, self.oracle[qid], cache)
        except Exception as ex:  # noqa: BLE001
            self.res.fail(f"{qid}: check raised {type(ex).__name__}: {str(ex)[:200]}")
            return
        finally:
            self.check_s += time.perf_counter() - t0
        if not ok:
            self.res.fail(f"{qid}: result differs from oracle_sql")

    def checker(self):
        """A DuckDB connection over the staged inputs with every id's oracle
        already run, so no oracle query runs between timed ops."""
        con, cache = check.connect(self.stage_dir), {}
        for qid in self.IDS:
            check.expect(con, self.oracle[qid], cache)
        return con, cache

    def warm(self) -> None:
        """WARM_PASSES passes over the op set, the first on the cold JVM; the
        median over rounds absorbs what warming remains."""
        for _ in range(WARM_PASSES):
            for qid in self.order:
                self.run_op(qid, self.stage_dir, None)

    def setup(self, name: str) -> None:
        self.stage_dir = self.stage(name)
        self.warm()

    def summarize(self, rounds: list[float]) -> None:
        """Throughput is the ops of the median round over its time. Latency
        percentiles are taken over the per-id median latencies: every id
        weighs the same, as it does in a round, and a percentile
        interpolates between ids instead of jumping between them."""
        s = self.samples
        per_id = {q: statistics.median(x["total"] for x in s if x["id"] == q)
                  for q in self.IDS if any(x["id"] == q for x in s)}
        r = self.res
        r.end_to_end.update({
            "ops_per_s": (len(s) / len(rounds) / statistics.median(rounds), "1/s"),
            "latency_p50_s": (_pct(list(per_id.values()), 50), "s"),
            "latency_p90_s": (_pct(list(per_id.values()), 90), "s"),
            "pipeline_s": (statistics.median(rounds), "s"),
        })
        r.detail = {"ops": len(s), "rounds": rounds, "check_s": self.check_s,
                    "per_id_median_s": per_id}
        if not self.h.tracer.enabled:
            return
        n = len(s)
        tot = lambda k: sum(x.get(k, 0) for x in s)  # noqa: E731
        rows_out = max(tot("rows_out"), 1)
        r.per_layer.update({
            "query.build_s": (_mean([x["build"] for x in s]), "s"),
            "query.exec_s": (_mean([x["exec"] for x in s]), "s"),
            "spark.build_jobs": (tot("build_jobs") / n, "count"),
            "spark.jobs": (tot("jobs") / n, "count"),
            "spark.stages": (tot("stages") / n, "count"),
            "spark.tasks": (tot("tasks") / n, "count"),
            "spark.shuffle_bytes": (tot("shuffle_bytes") / n, "B"),
            "spark.spill_bytes": (tot("spill_bytes"), "B"),
            "spark.cpu_s": (tot("cpu_s") / n, "s"),
            "spark.wait_s": ((tot("run_s") - tot("cpu_s")) / n, "s"),
            "sources.input_rows": (tot("input_rows") / n, "count"),
            "sources.input_bytes": (tot("input_bytes") / n, "B"),
            "sources.rows_read_per_row_out": (tot("input_rows") / rows_out, "ratio"),
        })
        by_mod = defaultdict(list)
        for x in s:
            by_mod[self.module[x["id"]]].append(x)
        for mod, xs in sorted(by_mod.items()):
            m = len(xs)
            r.layers.update({
                f"{mod}.build_s": (sum(x["build"] for x in xs) / m, "s"),
                f"{mod}.exec_s": (sum(x["exec"] for x in xs) / m, "s"),
                f"{mod}.shuffle_bytes": (sum(x["shuffle_bytes"] for x in xs) / m, "B"),
                f"{mod}.cpu_s": (sum(x["cpu_s"] for x in xs) / m, "s"),
                f"{mod}.wait_s": (sum(x["run_s"] - x["cpu_s"] for x in xs) / m, "s"),
            })


class BookingOps(_QueryWorkload):
    """Closed loop, one client, warm: the booking ids in their cyclic order,
    from a seeded start, in warm-up and in every round."""

    IDS = BOOKING_IDS

    def __init__(self, h):
        super().__init__(h)
        start = int(np.random.default_rng([h.seed, 10]).integers(len(self.IDS)))
        self.order = list(self.IDS[start:] + self.IDS[:start])

    def measure(self, seconds: float) -> Result:
        h, tr = self.h, self.h.tracer
        con, cache = self.checker()
        root = tr.span("booking_ops", time.time(), 0.0)
        rounds, timed = [], 0.0
        while len(rounds) < MIN_ROUNDS or timed < seconds:
            rt = 0.0
            for qid in self.order:
                table, sample = self.run_op(qid, self.stage_dir, root)
                if sample is None:
                    continue
                self.samples.append(sample)
                rt += sample["total"]
                self.check(con, qid, table, cache)
            if rt == 0.0:  # every op failed; nothing left to measure
                break
            rounds.append(rt)
            timed += rt
        con.close()
        if tr.enabled:
            tr.spans[root]["end"] = time.time()
        self.summarize(rounds)
        return self.res


class CorpusCuration(_QueryWorkload):
    """The curation op set once per repetition, each on a fresh corpus path."""

    IDS = CORPUS_IDS

    def generate(self) -> None:
        self.tables = gen.corpus_tables(self.h.seed, SF)

    def warm(self) -> None:
        """One pass on the staged corpus, one on a fresh copy: the cold-path
        code runs warm, and nothing measured is cached."""
        for d in (self.stage_dir, self.fresh_corpus("warm")):
            for qid in self.IDS:
                self.run_op(qid, d, None)

    def fresh_corpus(self, name: str) -> str:
        d = self.h.dir(name)
        for f in os.listdir(self.stage_dir):
            shutil.copyfile(os.path.join(self.stage_dir, f), os.path.join(d, f))
        return d

    def measure(self, seconds: float) -> Result:
        h, tr = self.h, self.h.tracer
        rng = np.random.default_rng([h.seed, 11])
        con, cache = self.checker()
        root = tr.span("corpus_curation", time.time(), 0.0)
        rounds, timed, rep = [], 0.0, 0
        while len(rounds) < MIN_ROUNDS or timed < seconds:
            rep += 1
            corpus = self.fresh_corpus(f"corpus{rep}")
            order = [str(q) for q in rng.permutation(self.IDS)]
            rt = 0.0
            for qid in order:
                table, sample = self.run_op(qid, corpus, root)
                if sample is None:
                    continue
                self.samples.append(sample)
                rt += sample["total"]
                self.check(con, qid, table, cache)
            if rt == 0.0:
                break
            rounds.append(rt)
            timed += rt
        self.summarize(rounds)
        if tr.enabled:
            # cache fill: the last cold pass against a warm re-run on the same corpus
            warm = 0.0
            for qid in order:
                table, sample = self.run_op(qid, corpus, root)
                if sample is not None:
                    warm += sample["total"]
                    self.check(con, qid, table, cache)
            self.res.layers["sources.cache_fill_s"] = (rounds[-1] - warm, "s")
            tr.spans[root]["end"] = time.time()
        con.close()
        return self.res


class CdcConsume(_QueryWorkload):
    """The CDC lifecycle log drained through ``InventarioConsumer.apply_batch``
    in fixed-size triggers, with an availability read after each."""

    IDS = ()

    def generate(self) -> None:
        self.log = gen.cdc_lifecycle(self.h.seed, CDC_EVENTS, CDC_RESERVATIONS)
        msgs = self.log.messages
        cuts = np.linspace(0, msgs.num_rows, CDC_TRIGGERS + 1).astype(int)
        self.triggers = [msgs.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]
        seqs = msgs.column("seq").to_numpy()
        self.bounds = [int(seqs[b - 1]) for b in cuts[1:]]
        self.expected_avail: dict[int, tuple] = {}

    def stage(self, name: str) -> str:
        d = self.h.dir(name)
        for i, t in enumerate(self.triggers):
            pq.write_table(t, os.path.join(d, f"msgs-{i:03d}.parquet"))
        pq.write_table(self.log.eventos, os.path.join(d, "eventos.parquet"))
        return d

    def trigger(self, consumer, eventos, i: int, key: str):
        """Apply trigger ``i``, then build and fetch the availability read.
        Returns (apply s, read build s, read fetch s, availability table)."""
        from boletia_kubernetes_kafka_mongodb_spark.sources.catalog import MESSAGE_SCHEMA

        h, tr = self.h, self.h.tracer
        tr.group(f"{key}:apply")
        t0 = time.perf_counter()
        msgs = h.spark.read.schema(MESSAGE_SCHEMA).parquet(
            os.path.join(self.stage_dir, f"msgs-{i:03d}.parquet"))
        consumer.apply_batch(msgs, i)
        t1 = time.perf_counter()
        tr.group(f"{key}:build")
        df = consumer.availability(eventos)
        t2 = time.perf_counter()
        tr.group(f"{key}:read")
        avail = df.toArrow()
        t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t2, avail

    def warm(self) -> None:
        from boletia_kubernetes_kafka_mongodb_spark.streaming.consumer import InventarioConsumer

        consumer = InventarioConsumer(self.h.spark, os.path.join(self.stage_dir, "warm"))
        eventos = self.h.spark.read.parquet(os.path.join(self.stage_dir, "eventos.parquet"))
        for i in range(2):
            self.trigger(consumer, eventos, i, f"warm{i}")

    def measure(self, seconds: float) -> Result:
        from boletia_kubernetes_kafka_mongodb_spark.streaming.consumer import InventarioConsumer

        h, tr, r = self.h, self.h.tracer, self.res
        con = check.connect()
        eventos = h.spark.read.parquet(os.path.join(self.stage_dir, "eventos.parquet"))
        root = tr.span("cdc_consume", time.time(), 0.0)
        drains, timed, n = [], 0.0, 0
        trig, reads, msgs_done = [], [], 0
        counters, broken = [], False
        while not broken and (not drains or timed < seconds):
            n += 1
            consumer = InventarioConsumer(h.spark, h.dir(f"drain{n}"))
            dt = 0.0
            for i, t in enumerate(self.triggers):
                key = f"d{n}t{i}"
                r.attempted += t.num_rows
                w0 = time.time()
                try:
                    a, bb, bf, avail = self.trigger(consumer, eventos, i, key)
                except Exception as ex:  # noqa: BLE001 - the trigger's messages all fail
                    r.fail(f"trigger {i}: {type(ex).__name__}: {str(ex)[:200]}")
                    r.failed += t.num_rows - 1
                    broken = True
                    break
                b = bb + bf
                trig.append(a + b)
                reads.append(b)
                dt += a + b
                msgs_done += t.num_rows
                if tr.enabled:
                    sp = tr.span(f"trigger {i}", w0, w0 + a + b, root, messages=t.num_rows)
                    sa = tr.span("apply_batch", w0, w0 + a, sp)
                    sb = tr.span("build", w0 + a, w0 + a + bb, sp)
                    sr = tr.span("read", w0 + a + bb, w0 + a + b, sp)
                    ca = tr.spark_counters([f"{key}:apply"], sa)
                    cb = tr.spark_counters([f"{key}:build"], sb)
                    cr = tr.spark_counters([f"{key}:read"], sr)
                    counters.append({"messages": t.num_rows, "apply": a, "build": bb, "fetch": bf,
                                     "rows_out": avail.num_rows, "apply_c": ca, "build_c": cb,
                                     "read_c": cr})
                if not self.availability_ok(con, i, avail):
                    r.fail(f"trigger {i}: availability differs from the generator's expected table")
            if broken:
                break
            drains.append(dt)
            timed += dt
            self.check_final(con, consumer)
        if tr.enabled:
            tr.spans[root]["end"] = time.time()
            self.trace_layers(counters, h.dir(f"drain{n}"))
        per_trigger = [statistics.median(trig[i::CDC_TRIGGERS]) for i in range(CDC_TRIGGERS)]
        r.end_to_end.update({
            "ops_per_s": (msgs_done / sum(trig), "1/s"),
            "latency_p50_s": (_pct(per_trigger, 50), "s"),
            "latency_p90_s": (_pct(per_trigger, 90), "s"),
            "pipeline_s": (statistics.median(drains), "s"),
            "read_p50_s": (_pct(reads, 50), "s"),
        })
        r.detail = {"drains": drains, "triggers_s": trig, "messages": self.log.messages.num_rows}
        con.close()
        return r

    def availability_ok(self, con, i: int, avail) -> bool:
        if i not in self.expected_avail:
            exp = gen.cdc_availability(self.log, self.bounds[i])
            con.register("_exp", exp)
            self.expected_avail[i] = check.fingerprint(con, "_exp")
            con.unregister("_exp")
        con.register("_got", avail)
        try:
            return check.fingerprint(con, "_got") == self.expected_avail[i]
        finally:
            con.unregister("_got")

    def check_final(self, con, consumer) -> None:
        got = consumer.table.read().toArrow()
        con.register("_got", got)
        con.register("_exp", gen.cdc_final_table(self.log, self.bounds[-1]))
        try:
            if check.fingerprint(con, "_got") != check.fingerprint(con, "_exp"):
                self.res.fail("final reservas table differs from the generator's expected table")
        finally:
            con.unregister("_got")
            con.unregister("_exp")

    def trace_layers(self, counters: list[dict], drain_dir: str) -> None:
        r, n = self.res, len(counters)
        tot = lambda f: sum(f(c) for c in counters)  # noqa: E731
        spark = lambda k: tot(lambda c: c["apply_c"][k] + c["build_c"][k] + c["read_c"][k])  # noqa: E731
        # the sink keeps only its committed snapshot on disk after each commit
        files = [os.path.join(d, f) for d, _, fs in os.walk(drain_dir) for f in fs
                 if f.endswith(".parquet")]
        table_bytes = sum(os.path.getsize(f) for f in files)
        written = tot(lambda c: c["apply_c"]["output_bytes"])
        drains = max(1, n // CDC_TRIGGERS)
        r.per_layer.update({
            "query.build_s": (tot(lambda c: c["build"]) / n, "s"),
            "query.exec_s": (tot(lambda c: c["apply"] + c["fetch"]) / n, "s"),
            "spark.build_jobs": (tot(lambda c: c["build_c"]["jobs"]) / n, "count"),
            "spark.jobs": (spark("jobs") / n, "count"),
            "spark.stages": (spark("stages") / n, "count"),
            "spark.tasks": (spark("tasks") / n, "count"),
            "spark.shuffle_bytes": (spark("shuffle_bytes") / n, "B"),
            "spark.spill_bytes": (spark("spill_bytes"), "B"),
            "spark.cpu_s": (spark("cpu_s") / n, "s"),
            "spark.wait_s": ((spark("run_s") - spark("cpu_s")) / n, "s"),
            "sources.input_rows": (spark("input_rows") / n, "count"),
            "sources.input_bytes": (spark("input_bytes") / n, "B"),
            "sources.rows_read_per_row_out": (spark("input_rows") / max(tot(lambda c: c["rows_out"]), 1), "ratio"),
        })
        r.layers.update({
            "streaming.consumer.apply_batch_s": (statistics.median(c["apply"] for c in counters), "s"),
            "streaming.consumer.trigger_s": (statistics.median(c["apply"] + c["build"] + c["fetch"]
                                                               for c in counters), "s"),
            "streaming.consumer.messages_per_trigger": (tot(lambda c: c["messages"]) / n, "count"),
            "streaming.sinks.bytes_written": (written / n, "B"),
            "streaming.sinks.write_amp": (written / drains / max(table_bytes, 1), "ratio"),
            "streaming.sinks.table_bytes": (table_bytes, "B"),
            "streaming.sinks.files": (len(files), "count"),
        })


class AdmissionStream:
    """``admission_ledger_stream`` fed from a parquet file source: a backlog
    drain (capacity), then an open loop at a fixed offered rate (latency,
    each request timed from when it was due). One query, planned once."""

    def __init__(self, h):
        self.h = h
        self.res = Result()

    def generate(self) -> None:
        n_open_files = max(1, round(self.h.args.seconds / ADM_INTERVAL_S))
        self.per_open_file = int(ADM_RATE * ADM_INTERVAL_S)
        self.n_backlog = ADM_BACKLOG_FILES * ADM_FILE_ROWS
        n = self.n_backlog + n_open_files * self.per_open_file
        self.requests, self.ledger = gen.admission_requests(
            self.h.seed, ADM_EVENTS, n, ADM_ZIPF, ADM_CANCEL_FRAC)
        self.open_files = [self.requests.slice(a, self.per_open_file)
                           for a in range(self.n_backlog, n, self.per_open_file)]
        # the warm-up query folds a different stream of its own
        self.warm_requests, _ = gen.admission_requests(self.h.seed + 1_000_003, ADM_EVENTS,
                                                       ADM_WARM_ROWS)

    @staticmethod
    def _write(table, path: str, tmp_dir: str, mtime: float | None = None) -> None:
        """Land a file atomically; the file source orders files by mtime."""
        tmp = os.path.join(tmp_dir, os.path.basename(path))
        pq.write_table(table, tmp)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.replace(tmp, path)

    def setup(self, name: str) -> None:
        h = self.h
        self.tmp = h.dir("landing")
        self.src = h.dir("requests")
        t = time.time() - ADM_BACKLOG_FILES - 10
        for i in range(ADM_BACKLOG_FILES):
            self._write(self.requests.slice(i * ADM_FILE_ROWS, ADM_FILE_ROWS),
                        os.path.join(self.src, f"req-{i:05d}.parquet"), self.tmp, t + i)
        warm = h.dir("warm")
        half = ADM_WARM_ROWS // 2
        for i in range(2):
            self._write(self.warm_requests.slice(i * half, half),
                        os.path.join(warm, f"req-{i:05d}.parquet"), self.tmp, t + i)
        q, _ = self.start_query(warm, h.dir("warm_ckpt"), available_now=True)
        q.awaitTermination(ADM_WAIT_S)
        if q.exception() is not None:
            raise RuntimeError(f"warm-up query failed: {q.exception()}")

    def start_query(self, src: str, ckpt: str, available_now: bool = False):
        """Start the ledger stream over ``src``; returns (query, batches), where
        each batch is (arrow table, completion time) appended by the sink."""
        from boletia_kubernetes_kafka_mongodb_spark.streaming.admission import (
            admission_ledger_stream,
        )

        spark = self.h.spark
        batches: list = []
        lock = threading.Lock()

        def sink(df, batch_id):
            table = df.toArrow()
            with lock:
                batches.append((table, time.time()))

        reqs = (spark.readStream.schema(ADM_SCHEMA).option("maxFilesPerTrigger", ADM_MAX_FILES)
                .parquet(src))
        w = admission_ledger_stream(reqs).writeStream.foreachBatch(sink).option(
            "checkpointLocation", ckpt)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start(), batches

    @staticmethod
    def _rows_done(batches) -> int:
        return sum(t.num_rows for t, _ in list(batches))

    def _wait_rows(self, q, batches, n: int, deadline: float) -> bool:
        while self._rows_done(batches) < n:
            if q.exception() is not None or time.time() > deadline:
                return False
            time.sleep(0.02)
        return True

    def measure(self, seconds: float) -> Result:
        h, tr, r = self.h, self.h.tracer, self.res
        n_total = self.requests.num_rows
        r.attempted = n_total
        root = tr.span("admission_stream", time.time(), 0.0)
        t_start = time.time()
        q, batches = self.start_query(self.src, h.dir("ckpt"))
        drained = self._wait_rows(q, batches, self.n_backlog, t_start + ADM_WAIT_S)
        drain_end = batches[-1][1] if drained else time.time()
        # open loop: file k holds the requests due in [t0 + k*I, t0 + (k+1)*I)
        # and lands when its last request is due
        t0 = time.time()
        lags, backlog, file_last_seq = [], [], []
        due = np.full(n_total + 1, np.nan)  # by seq; NaN for backlog requests
        for k, tbl in enumerate(self.open_files if drained else []):
            base = t0 + k * ADM_INTERVAL_S
            file_seqs = tbl.column("seq").to_numpy()
            due[file_seqs] = base + np.arange(tbl.num_rows) / ADM_RATE
            land = base + ADM_INTERVAL_S
            time.sleep(max(0.0, land - time.time()))
            self._write(tbl, os.path.join(self.src, f"req-{ADM_BACKLOG_FILES + k:05d}.parquet"),
                        self.tmp)
            lags.append(time.time() - land)
            file_last_seq.append(int(file_seqs[-1]))
            done = self._rows_done(batches)
            backlog.append(sum(1 for s in file_last_seq if s > done))
        finished = drained and self._wait_rows(q, batches, n_total, time.time() + ADM_WAIT_S)
        exc = q.exception()
        q.stop()
        if tr.enabled:
            tr.spans[root]["end"] = time.time()
        if exc is not None:
            r.fail(f"query failed: {str(exc)[:300]}")
        elif not finished:
            r.fail(f"timed out with {self._rows_done(batches)} of {n_total} ledger rows")
        got = pa.concat_tables([t for t, _ in batches]) if batches else None
        self.check(got)
        lat = []
        for t, done_at in batches:
            d = due[t.column("seq").to_numpy()]
            lat.extend((done_at - d[~np.isnan(d)]).tolist())
        drain_s = drain_end - t_start
        r.end_to_end.update({
            "ops_per_s": (self.n_backlog / drain_s, "1/s"),
            "latency_p50_s": (_pct(lat, 50) if lat else float("nan"), "s"),
            "latency_p90_s": (_pct(lat, 90) if lat else float("nan"), "s"),
            "latency_p99_s": (_pct(lat, 99) if lat else float("nan"), "s"),
        })
        gen_layers = {"generator.lag_s": (max(lags, default=0.0), "s"),
                      "generator.backlog_files_max": (max(backlog, default=0), "count")}
        r.detail = {"drain_s": drain_s, "backlog_requests": self.n_backlog,
                    "open_loop_requests": n_total - self.n_backlog, "offered_rate": ADM_RATE,
                    "batches": len(batches), **{k: v for k, (v, _) in gen_layers.items()}}
        if tr.enabled:
            r.layers.update(gen_layers)
            self.trace_triggers(q, root)
        r.failed = min(r.failed, r.attempted)
        return r

    def check(self, got) -> None:
        """Every request's ledger row must equal the sequential fold's."""
        r = self.res
        con = check.connect()
        con.register("_exp", self.ledger)
        try:
            if got is None:
                r.failures.append("the query produced no ledger rows")
                r.failed = r.attempted
                return
            con.register("_got", got)
            exp_cols = self.ledger.column_names
            if sorted(got.column_names) != sorted(exp_cols):
                r.fail(f"ledger columns {sorted(got.column_names)} != {sorted(exp_cols)}")
                return
            cols = ", ".join(f'"{c}"' for c in exp_cols)
            missing, extra = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM _exp EXCEPT ALL "
                f"SELECT {cols} FROM _got)), (SELECT count(*) FROM (SELECT {cols} FROM _got "
                f"EXCEPT ALL SELECT {cols} FROM _exp))").fetchone()
            if missing or extra:
                r.fail(f"ledger: {missing} expected rows missing or wrong, {extra} unexpected")
                r.failed += min(max(missing, extra), r.attempted) - 1
        finally:
            con.close()

    def trace_triggers(self, q, root: int) -> None:
        """Per-trigger progress (``StreamingQueryProgress``) as spans and layers."""
        from datetime import datetime

        tr, r = self.h.tracer, self.res
        t0 = time.perf_counter()
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                 "commitOffsets")
        for p in prog:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            dur = p.durationMs
            sp = tr.span(f"trigger {p.batchId}", start, start + dur["triggerExecution"] / 1e3,
                         root, rows=p.numInputRows)
            at = start
            for part in order:
                if part in dur:
                    tr.span(part, at, at + dur[part] / 1e3, sp)
                    at += dur[part] / 1e3
        med = lambda f: statistics.median(f(p) for p in prog) if prog else 0.0  # noqa: E731
        ops = lambda p: p.stateOperators[0] if p.stateOperators else None  # noqa: E731
        last = ops(prog[-1]) if prog else None
        r.layers.update({
            "streaming.admission.trigger_s": (med(lambda p: p.durationMs["triggerExecution"]) / 1e3, "s"),
            "streaming.admission.add_batch_s": (med(lambda p: p.durationMs.get("addBatch", 0)) / 1e3, "s"),
            "streaming.admission.planning_s": (med(lambda p: p.durationMs.get("queryPlanning", 0)) / 1e3, "s"),
            "streaming.admission.wal_commit_s": (med(lambda p: p.durationMs.get("walCommit", 0)) / 1e3, "s"),
            "streaming.admission.state_update_s": (med(lambda p: ops(p).allUpdatesTimeMs if ops(p) else 0) / 1e3, "s"),
            "streaming.admission.state_commit_s": (med(lambda p: ops(p).commitTimeMs if ops(p) else 0) / 1e3, "s"),
            "streaming.admission.state_rows": (last.numRowsTotal if last else 0, "count"),
            "streaming.admission.state_bytes": (last.memoryUsedBytes if last else 0, "B"),
            "streaming.admission.rows_per_trigger": (_mean([p.numInputRows for p in prog]), "count"),
            "streaming.admission.keys_per_trigger": (_mean([ops(p).numRowsUpdated if ops(p) else 0
                                                            for p in prog]), "count"),
        })
        r.detail["triggers"] = [{"batch": p.batchId, "rows": p.numInputRows, **p.durationMs}
                                for p in prog]
        tr.overhead_s += time.perf_counter() - t0


WORKLOADS = {
    "booking_ops": BookingOps,
    "corpus_curation": CorpusCuration,
    "cdc_consume": CdcConsume,
    "admission_stream": AdmissionStream,
}
