"""Admission semantics: cancel lifecycle, property-based fold checks, and
smoke coverage of every driver query at the smallest SF."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
from boletia_kubernetes_kafka_mongodb_spark.streaming import admission
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# M1+M2 lifecycle: reserves then cancels, stream ≡ batch, ledger arithmetic
# ---------------------------------------------------------------------------

def test_admission_with_cancels_stream_equals_batch(spark, tmp_path):
    ops = admission.op_stream_with_cancels(spark, SF_SMOKE).where(
        F.col("evento") < "Evento 000040"
    )
    batch = {
        (r.evento, r.seq): (r.op, r.admitted, r.disponible_despues)
        for r in admission.fold_requests_batch(ops).collect()
    }
    path = str(tmp_path / "ops")
    cdc_stream.write_ordered_files(ops, path, n_files=4)
    stream_reqs = (
        spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        admission.admission_ledger_stream(stream_reqs)
        .writeStream.format("memory")
        .queryName("ledger_cancel_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.evento, r.seq): (r.op, r.admitted, r.disponible_despues)
        for r in spark.sql("select * from ledger_cancel_out").collect()
    }
    assert got == batch
    # every cancel op is admitted (M2 unguarded) and restores capacity
    assert all(adm for (op, adm, _) in got.values() if op == "cancel")


def test_admission_cancel_restores_capacity(spark):
    """For an event where every reserve was admitted, final availability =
    capacidad − Σ active + 0 (X rows net out: reserve then cancel)."""
    ops = admission.op_stream_with_cancels(spark, SF_SMOKE)
    ledger = admission.fold_requests_batch(ops)
    final = (
        ledger.groupBy("evento")
        .agg(
            F.min_by("disponible_despues", F.col("seq") * -1).alias("final_disp"),
            F.min("admitted").alias("all_admitted"),
        )
    )
    reqs = ops.groupBy("evento").agg(
        F.first("capacidad").alias("capacidad"),
        F.sum(F.when(F.col("op") == "reserve", F.col("cantidad")).otherwise(0)).alias("reserved"),
        F.sum(F.when(F.col("op") == "cancel", F.col("cantidad")).otherwise(0)).alias("cancelled"),
    )
    joined = final.join(reqs, "evento").where(F.col("all_admitted"))
    bad = joined.where(
        F.col("final_disp") != F.col("capacidad") - F.col("reserved") + F.col("cancelled")
    )
    assert bad.count() == 0


# ---------------------------------------------------------------------------
# property-based: the pandas fold == a trivially-correct python model
# ---------------------------------------------------------------------------

def _python_model(capacity, ops):
    avail = capacity
    out = []
    for op, qty in ops:
        if op == "reserve":
            ok = avail >= qty
            if ok:
                avail -= qty
        else:
            ok = True
            avail += qty
        out.append((ok, avail))
    return out


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    capacity=st.integers(min_value=0, max_value=50),
    ops=st.lists(
        st.tuples(st.sampled_from(["reserve", "cancel"]), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    ),
)
def test_fold_matches_python_model(capacity, ops):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "evento": ["E"] * len(ops),
            "seq": range(len(ops)),
            "_id": [f"id{i}" for i in range(len(ops))],
            "email": ["u@x"] * len(ops),
            "op": [o for o, _ in ops],
            "cantidad": [q for _, q in ops],
            "capacidad": [capacity] * len(ops),
        }
    )
    out = pd.concat(list(admission.fold_map_batches(iter([pdf]))))
    expect = _python_model(capacity, ops)
    got = list(zip(out["admitted"], out["disponible_despues"]))
    assert [(bool(a), int(d)) for a, d in got] == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    capacity=st.integers(min_value=0, max_value=50),
    ops=st.lists(
        st.tuples(st.sampled_from(["reserve", "cancel"]), st.integers(1, 20)),
        min_size=2,
        max_size=20,
    ),
    split=st.integers(min_value=1, max_value=19),
)
def test_fold_batch_boundary_invariant(capacity, ops, split):
    """Splitting the op sequence across Arrow batches must not change the fold
    (state carries across batches within a partition)."""
    import pandas as pd

    split = min(split, len(ops) - 1)

    def mk(op_slice, seq0):
        return pd.DataFrame(
            {
                "evento": ["E"] * len(op_slice),
                "seq": range(seq0, seq0 + len(op_slice)),
                "_id": [f"id{seq0+i}" for i in range(len(op_slice))],
                "email": ["u@x"] * len(op_slice),
                "op": [o for o, _ in op_slice],
                "cantidad": [q for _, q in op_slice],
                "capacidad": [capacity] * len(op_slice),
            }
        )

    whole = pd.concat(list(admission.fold_map_batches(iter([mk(ops, 0)]))))
    parts = pd.concat(
        list(
            admission.fold_map_batches(
                iter([mk(ops[:split], 0), mk(ops[split:], split)])
            )
        )
    )
    assert list(whole["admitted"]) == list(parts["admitted"])
    assert list(whole["disponible_despues"]) == list(parts["disponible_despues"])


# ---------------------------------------------------------------------------
# cross-micro-batch replay at arbitrary boundaries + hot-key skew
# (round-3 verdict #5: the one operator where a subtle state bug silently
# oversells)
# ---------------------------------------------------------------------------


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState: exists/get/update — lets the
    hypothesis property drive ``fold_with_state``'s cross-batch state carry
    without paying a full streaming query per example."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


import pandas as pd  # noqa: E402


def _ops_pdf(ops, seqs, capacity, evento="E"):
    return pd.DataFrame(
        {
            "evento": [evento] * len(ops),
            "seq": list(seqs),
            "_id": [f"id{s}" for s in seqs],
            "email": ["u@x"] * len(ops),
            "op": [o for o, _ in ops],
            "cantidad": [q for _, q in ops],
            "capacidad": [capacity] * len(ops),
        }
    )


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    capacity=st.integers(min_value=0, max_value=50),
    ops=st.lists(
        st.tuples(st.sampled_from(["reserve", "cancel"]), st.integers(1, 20)),
        min_size=1,
        max_size=30,
    ),
    cuts=st.lists(st.integers(0, 29), max_size=4),
    shuffle_seed=st.integers(0, 2**31 - 1),
)
def test_stream_fold_replay_split_any_boundary(capacity, ops, cuts, shuffle_seed):
    """Replaying the SAME op sequence split across micro-batches at ANY
    boundaries (including empty batches), with rows arbitrarily shuffled
    WITHIN each batch (the within-batch sort_values('seq') must restore
    order), yields the identical ledger as one batch — the
    applyInPandasWithState state-carry contract."""
    import random

    bounds = sorted({min(c, len(ops)) for c in cuts})
    slices = []
    prev = 0
    for b in bounds + [len(ops)]:
        slices.append((prev, b))
        prev = b
    state = _FakeGroupState()
    fold = admission.fold_with_state  # the PRODUCTION closure, not a copy
    rng = random.Random(shuffle_seed)
    outs = []
    for lo, hi in slices:
        batch_ops = ops[lo:hi]
        if not batch_ops:
            # empty micro-batch for the key: the state API never calls the
            # fold for absent keys; skip (state must be untouched)
            continue
        pdf = _ops_pdf(batch_ops, range(lo, hi), capacity)
        pdf = pdf.sample(frac=1.0, random_state=rng.randrange(2**31))
        outs.extend(list(fold(("E",), iter([pdf]), state)))
    got = pd.concat(outs).sort_values("seq") if outs else pd.DataFrame()
    expect = _python_model(capacity, ops)
    assert [(bool(a), int(d)) for a, d in zip(got["admitted"], got["disponible_despues"])] == expect


def test_admission_stream_hot_key_skew(spark, tmp_path):
    """Hot-key skew fixture: ONE evento carries ~50% of all ops while 19
    others share the rest. The streaming ledger (applyInPandasWithState,
    replayed one file per micro-batch, batch boundaries NOT aligned to key
    boundaries) must equal the batch fold row-for-row — per-key
    serialization with cross-key parallelism, never cross-key interference."""
    import random

    rng = random.Random(7)
    rows = []
    seq = 0
    eventos = [f"HOT"] + [f"E{i:02d}" for i in range(19)]
    caps = {e: rng.randint(5, 60) for e in eventos}
    for _ in range(400):
        e = "HOT" if rng.random() < 0.5 else rng.choice(eventos[1:])
        op = "reserve" if rng.random() < 0.8 else "cancel"
        rows.append((e, seq, f"id{seq}", "u@x", op, rng.randint(1, 8), caps[e]))
        seq += 1
    ops = spark.createDataFrame(
        rows, "evento string, seq long, _id string, email string, op string, cantidad int, capacidad int"
    )
    batch = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in admission.fold_requests_batch(ops).collect()
    }
    path = str(tmp_path / "skew_ops")
    cdc_stream.write_ordered_files(ops, path, n_files=7)
    stream_reqs = (
        spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = (
        admission.admission_ledger_stream(stream_reqs)
        .writeStream.format("memory")
        .queryName("ledger_skew_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "skew_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in spark.sql("select * from ledger_skew_out").collect()
    }
    assert got == batch


# ---------------------------------------------------------------------------
# every driver query runs at the smallest SF (schema/file robustness)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("qid", sorted(entrymod.queries().keys()))
def test_query_smoke_sf0001(spark, qid):
    df = entrymod.queries()[qid](spark, SF_SMOKE)
    assert df.count() >= 0


# ---------------------------------------------------------------------------
# out-of-order arrival: event-time variant (round-3 verdict #6)
# ---------------------------------------------------------------------------


class _FakeEventTimeState(_FakeGroupState):
    """_FakeGroupState + the event-time surface the out-of-order fold uses:
    a settable watermark and the timeout registration hook."""

    def __init__(self):
        super().__init__()
        self.wm_ms = 0
        self.timeout_ms = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ts_ms):
        assert ts_ms > self.wm_ms  # Spark rejects timeouts at/behind the wm
        self.timeout_ms = ts_ms


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    capacity=st.integers(min_value=0, max_value=50),
    ops=st.lists(
        st.tuples(st.sampled_from(["reserve", "cancel"]), st.integers(1, 20)),
        min_size=1,
        max_size=40,
    ),
    disorder=st.integers(0, 10),
    cuts=st.lists(st.integers(0, 39), max_size=5),
    seed=st.integers(0, 2**31 - 1),
)
def test_event_time_fold_bounded_reorder_matches_in_order_model(
    capacity, ops, disorder, cuts, seed
):
    """The event-time fold under RANDOM BOUNDED REORDER (displacement ≤ K
    positions, 1 op/sec event time, watermark delay K+2 s), split across
    micro-batches at arbitrary boundaries with the watermark advancing
    exactly as Spark does (from data seen in PRIOR batches), must produce
    the identical ledger as the in-order python model — the multi-partition
    Kafka semantics the seq-ordered fold cannot give."""
    import random

    rng = random.Random(seed)
    n = len(ops)
    arrival = sorted(range(n), key=lambda i: i + rng.uniform(0, disorder))
    max_disp = max((abs(p - i) for p, i in enumerate(arrival)), default=0)
    delay_sec = max_disp + 2
    ts_us = [s * 1_000_000 for s in range(n)]  # 1 op per second

    bounds = sorted({min(c, n) for c in cuts})
    slices, prev = [], 0
    for b in bounds + [n]:
        slices.append((prev, b))
        prev = b

    state = _FakeEventTimeState()
    fold = admission.fold_event_time  # the PRODUCTION closure
    outs = []
    seen_max_us = None
    for lo, hi in slices:
        batch = arrival[lo:hi]
        # Spark updates the watermark from data seen in PRIOR batches
        state.wm_ms = (
            0 if seen_max_us is None else max(0, seen_max_us // 1000 - delay_sec * 1000)
        )
        if not batch:
            continue
        pdf = pd.DataFrame(
            {
                "evento": ["E"] * len(batch),
                "seq": [i for i in batch],
                "_id": [f"id{i}" for i in batch],
                "email": ["u@x"] * len(batch),
                "op": [ops[i][0] for i in batch],
                "cantidad": [ops[i][1] for i in batch],
                "capacidad": [capacity] * len(batch),
                # ts_us arrives pre-computed JVM-side (unix_micros) — the
                # fold never touches pandas-localized timestamps
                "ts_us": [ts_us[i] for i in batch],
            }
        )
        outs.extend(list(fold(("E",), iter([pdf]), state)))
        batch_max = max(ts_us[i] for i in batch)
        seen_max_us = batch_max if seen_max_us is None else max(seen_max_us, batch_max)
    # final flush: watermark passes everything, timed-out invocation
    state.wm_ms = (seen_max_us // 1000) + 10_000_000
    outs.extend(list(fold(("E",), iter([]), state)))

    got = pd.concat(outs).sort_values("seq") if outs else pd.DataFrame()
    assert list(got["seq"]) == list(range(n)), "every op emitted exactly once"
    expect = _python_model(capacity, ops)
    assert [
        (bool(a), int(d)) for a, d in zip(got["admitted"], got["disponible_despues"])
    ] == expect
    # the state must be fully drained after the flush
    assert list(state.get[2]) == []


def test_event_time_fold_inversion_guard_fires():
    """A row whose event time says 'safe to emit' but whose seq is LOWER
    than an already-folded one (non-monotone ts-vs-seq, or later-than-delay
    data) must raise loudly, never fold out of order silently."""
    import pytest

    state = _FakeEventTimeState()
    fold = admission.fold_event_time

    def mk(seqs, ts_list):
        return pd.DataFrame(
            {
                "evento": ["E"] * len(seqs),
                "seq": seqs,
                "_id": [f"id{s}" for s in seqs],
                "email": ["u@x"] * len(seqs),
                "op": ["reserve"] * len(seqs),
                "cantidad": [1] * len(seqs),
                "capacidad": [10] * len(seqs),
                "ts_us": ts_list,
            }
        )

    # batch 1: seq 5 at t=100s arrives; watermark later passes it
    state.wm_ms = 0
    list(fold(("E",), iter([mk([5], [100_000_000])]), state))
    state.wm_ms = 200_000  # wm = 200s > 100s → seq 5 emitted
    out = list(fold(("E",), iter([]), state))
    assert out and list(out[0]["seq"]) == [5]
    # batch 2: seq 3 arrives with ts already behind the watermark →
    # emitting it would fold 3 after 5
    with pytest.raises(ValueError, match="order inversion"):
        list(fold(("E",), iter([mk([3], [150_000_000])]), state))


def test_admission_event_time_stream_out_of_order(spark, tmp_path):
    """End-to-end streaming form: multi-key op stream delivered in a
    bounded-reorder arrival order, one file per micro-batch; the
    event-time ledger must equal the batch fold of the SEQ-ORDERED input —
    i.e. the watermark buffer restores per-key order that the transport
    scrambled (the multi-partition Kafka deployment shape)."""
    import datetime
    import random

    rng = random.Random(11)
    eventos = {"EVA": 30, "EVB": 10, "EVC": 50}
    base = datetime.datetime(2024, 5, 1)
    rows = []
    for seq in range(150):
        e = rng.choice(sorted(eventos))
        op = "reserve" if rng.random() < 0.75 else "cancel"
        rows.append(
            (e, seq, f"id{seq}", "u@x", op, rng.randint(1, 6), eventos[e],
             base + datetime.timedelta(seconds=seq))
        )
    arrival = sorted(range(len(rows)), key=lambda i: i + rng.uniform(0, 8))
    max_disp = max(abs(p - i) for p, i in enumerate(arrival))
    delay = f"{max_disp + 2} seconds"

    schema = (
        "evento string, seq long, _id string, email string, op string, "
        "cantidad int, capacidad int, ts timestamp"
    )
    in_order = spark.createDataFrame(rows, schema)
    batch = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in admission.fold_requests_batch(in_order.drop("ts")).collect()
    }

    arr = spark.createDataFrame(
        [rows[i] + (p,) for p, i in enumerate(arrival)], schema + ", arrival long"
    )
    path = str(tmp_path / "ooo_ops")
    cdc_stream.write_ordered_files(arr, path, n_files=6, order_col="arrival")
    # the drain helper flushes the buffered tail: two trailing triggers of
    # __drain__ rows advance the watermark past all real rows and are
    # SWALLOWED by the fold — the ledger needs no sentinel filtering
    far = base + datetime.timedelta(days=30)
    for frame in admission.admission_drain_frames(spark, eventos, far):
        frame.withColumn("arrival", F.lit(9_999)).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = (
        spark.readStream.schema(arr.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .drop("arrival")
    )
    q = (
        admission.admission_ledger_stream_event_time(stream, delay=delay)
        .writeStream.format("memory")
        .queryName("ooo_ledger_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    ledger = spark.sql("select * from ooo_ledger_out").collect()
    # the whole ledger IS the real rows: drains never surface
    assert all(r.op != admission.DRAIN_OP and r.seq < 10_000 for r in ledger)
    got = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues) for r in ledger
    }
    assert got == batch
