"""Streaming layer tests: router/loop-breaker, admission state, MERGE sinks.

Mirrors the reference's implicit invariants (SURVEY.md §5.1):
(vi) replayed messages are no-ops; (vii) echo messages never loop; plus the
Phase-4 contract: streaming admission ≡ batch admission fold on one input.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import partial

import pytest

from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
from boletia_kubernetes_kafka_mongodb_spark.sources.catalog import (
    TOPIC_INVENTARIO,
    TOPIC_RESERVAS,
)
from boletia_kubernetes_kafka_mongodb_spark.streaming import admission, router, sinks
from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="boletia_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# router + loop-breaker (static frames; same Columns run on streams)
# ---------------------------------------------------------------------------

def test_router_routes_and_loop_breaker(spark):
    log = cdc_stream.build_message_log(spark, SF_SMOKE)
    routed = router.route_messages(log)
    counts = {r["route"]: r["n"] for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()}
    # reservas topic: only X passes, A/C are state-skips
    assert router.ROUTE_RESTITUTE in counts
    assert router.ROUTE_SKIP_STATE in counts
    # eventos-topic messages are not this consumer's
    assert counts.get(router.ROUTE_IGNORE, 0) > 0
    surviving = router.loop_breaker(routed)
    assert set(r["route"] for r in surviving.select("route").distinct().collect()) <= {
        router.ROUTE_MATERIALIZE,
        router.ROUTE_CASCADE,
        router.ROUTE_RESTITUTE,
    }


def test_router_breaks_sentinel_echo(spark):
    """A canres=-1 inventario echo must be dropped (README.md:518)."""
    rows = [
        # sentinel echo after restitution
        (1, TOPIC_INVENTARIO, "k1",
         '"{\\"_id\\": \\"a\\", \\"nombre\\": \\"E1\\", \\"capacidad\\": 10, '
         '\\"estado\\": \\"A\\", \\"canres\\": -1}"'),
        # clone echo (no canres)
        (2, TOPIC_INVENTARIO, "k2",
         '"{\\"_id\\": \\"b\\", \\"nombre\\": \\"E2\\", \\"capacidad\\": 5, '
         '\\"estado\\": \\"A\\"}"'),
        # genuine enriched reservation → materialize
        (3, TOPIC_INVENTARIO, "k3",
         '"{\\"_id\\": \\"c\\", \\"nombre\\": \\"E3\\", \\"capacidad\\": 7, '
         '\\"estado\\": \\"A\\", \\"idres\\": \\"r1\\", \\"email\\": \\"u@x\\", \\"canres\\": 2}"'),
        # user cancel on reservas topic → restitute
        (4, TOPIC_RESERVAS, "k4",
         '"{\\"_id\\": \\"r2\\", \\"evento\\": \\"E1\\", \\"estado\\": \\"X\\", '
         '\\"email\\": \\"u@x\\", \\"cantidad\\": 1}"'),
    ]
    msgs = spark.createDataFrame(rows, "seq long, topic string, key string, value string")
    routed = router.route_messages(msgs)
    got = {r.seq: r.route for r in routed.collect()}
    assert got == {
        1: router.ROUTE_SKIP_ECHO_SENTINEL,
        2: router.ROUTE_SKIP_ECHO_CLONE,
        3: router.ROUTE_MATERIALIZE,
        4: router.ROUTE_RESTITUTE,
    }
    alive = router.loop_breaker(routed)
    assert {r.seq for r in alive.collect()} == {3, 4}
    det = router.materialize_detreserva(alive)
    row = det.collect()[0]
    assert (row._id, row.evento, row.cantidad) == ("r1", "E3", 2)


# ---------------------------------------------------------------------------
# admission: streaming ≡ batch fold
# ---------------------------------------------------------------------------

def test_admission_stream_equals_batch(spark, tmpdir):
    reqs = admission.request_stream_batch(spark, SF_SMOKE)
    # limit to a subset of events to keep the stream run quick but multi-key
    some = reqs.where(F.col("evento") < "Evento 000050")
    cdc_stream.write_ordered_files(some, f"{tmpdir}/reqs", n_files=5)

    batch_ledger = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in admission.admission_ledger_batch(spark, SF_SMOKE)
        .where(F.col("evento") < "Evento 000050")
        .collect()
    }

    stream_reqs = (
        spark.readStream.schema(some.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{tmpdir}/reqs")
    )
    ledger_stream = admission.admission_ledger_stream(stream_reqs)
    q = (
        ledger_stream.writeStream.format("memory")
        .queryName("ledger_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in spark.sql("select * from ledger_out").collect()
    }
    assert got == batch_ledger
    # invariant (v): no oversell — availability never negative
    assert all(d >= 0 for _, d in got.values())


# ---------------------------------------------------------------------------
# sinks: idempotent MERGE under replay (invariant vi)
# ---------------------------------------------------------------------------

def _as_sorted_tuples(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_upsert_keep_last_replay_idempotent(spark, tmpdir):
    t = sinks.DurableTable(spark, f"{tmpdir}/t1")
    upsert = sinks.durable_handler(
        t, partial(sinks.upsert_keep_last, key="key", order_col="seq"), None
    )
    b1 = spark.createDataFrame(
        [("k1", 1, "v1"), ("k2", 2, "v2")], "key string, seq long, val string"
    )
    b2 = spark.createDataFrame(
        [("k1", 3, "v1b"), ("k3", 4, "v3")], "key string, seq long, val string"
    )
    upsert(b1)
    upsert(b2)
    state1 = _as_sorted_tuples(t.read())
    # replay both batches (at-least-once) → identical state
    upsert(b1)
    upsert(b2)
    assert _as_sorted_tuples(t.read()) == state1
    vals = {r.key: (r.seq, r.val) for r in t.read().collect()}
    assert vals == {"k1": (3, "v1b"), "k2": (2, "v2"), "k3": (4, "v3")}


def test_insert_if_absent_replay_idempotent(spark, tmpdir):
    t = sinks.DurableTable(spark, f"{tmpdir}/t2")
    insert = sinks.durable_handler(
        t, partial(sinks.insert_if_absent, key="_id", order_col="seq"), None
    )
    b1 = spark.createDataFrame(
        [("a", 1, 5), ("a", 2, 9), ("b", 3, 7)], "_id string, seq long, qty int"
    )
    insert(b1)
    first = {r._id: (r.seq, r.qty) for r in t.read().collect()}
    assert first == {"a": (1, 5), "b": (3, 7)}  # first occurrence wins
    # replay + a new key
    b2 = spark.createDataFrame(
        [("a", 9, 1), ("c", 4, 2)], "_id string, seq long, qty int"
    )
    insert(b2)
    insert(b2)
    got = {r._id: (r.seq, r.qty) for r in t.read().collect()}
    assert got == {"a": (1, 5), "b": (3, 7), "c": (4, 2)}


# ---------------------------------------------------------------------------
# end-to-end: CDC fixture → router → materialize → idempotent sink, twice
# ---------------------------------------------------------------------------

def test_pipeline_replay_twice_same_state(spark, tmpdir):
    log = cdc_stream.build_message_log(spark, SF_SMOKE)  # includes ~5% dups
    cdc_stream.write_stream_fixture(log.limit(2000), f"{tmpdir}/msgs", n_files=4)

    def run_once(run: int):
        table = sinks.DurableTable(spark, f"{tmpdir}/reservas_{run}")
        msgs = cdc_stream.read_message_stream(spark, f"{tmpdir}/msgs", max_files_per_trigger=2)
        routed = router.loop_breaker(router.route_messages(msgs))
        restitutions = routed.where(F.col("route") == router.ROUTE_RESTITUTE).select(
            F.col("doc_res._id").alias("_id"),
            F.col("doc_res.evento").alias("evento"),
            F.col("doc_res.estado").alias("estado"),
            F.col("doc_res.email").alias("email"),
            F.col("doc_res.cantidad").alias("cantidad"),
            F.col("seq"),
        )
        q = (
            restitutions.writeStream.foreachBatch(t_handler(table))
            .option("checkpointLocation", f"{tmpdir}/ckpt_{run}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return table

    def t_handler(table):
        return sinks.durable_handler(
            table, partial(sinks.insert_if_absent, key="_id", order_col="seq"), None
        )

    t_a = run_once("a")
    t_b = run_once("b")
    assert _as_sorted_tuples(t_a.read()) == _as_sorted_tuples(t_b.read())
    # duplicates collapsed: _id unique
    n = t_a.read().count()
    assert t_a.read().select("_id").distinct().count() == n


def test_router_malformed_and_unknown_topic(spark):
    """Garbage values and foreign topics must route out, never crash."""
    rows = [
        (1, "boletia.reservas", "k", '"not json'),
        (2, "boletia.reservas", "k", "no quotes at all"),
        (3, "some.other.topic", "k", '"{}"'),
        (4, "boletia.inventario", "k", '"[]"'),  # wrong JSON shape
        (5, "boletia.reservas", "k", '""'),
    ]
    msgs = spark.createDataFrame(rows, "seq long, topic string, key string, value string")
    routed = router.route_messages(msgs)
    got = {r.seq: r.route for r in routed.collect()}
    # malformed reservas docs parse to null estado -> not "X" -> state-skip;
    # unknown topic and malformed inventario -> ignore
    assert got[1] == router.ROUTE_SKIP_STATE
    assert got[2] == router.ROUTE_SKIP_STATE
    assert got[3] == router.ROUTE_IGNORE
    assert got[4] == router.ROUTE_IGNORE
    assert got[5] == router.ROUTE_SKIP_STATE
    assert router.loop_breaker(routed).count() == 0


def test_dedup_within_watermark_replay(spark, tmpdir):
    """A doubled (redelivered) event stream deduplicated by key equals the
    batch distinct — and the operator must be the bounded-state
    dropDuplicatesWithinWatermark, not unbounded dropDuplicates."""
    from boletia_kubernetes_kafka_mongodb_spark import tables
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
    from boletia_kubernetes_kafka_mongodb_spark.streaming.sinks import (
        dedup_within_watermark,
    )

    ev = tables.load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "event_type", "value"
    )
    doubled = ev.unionAll(ev)
    path = f"{tmpdir}/dups"
    cdc_stream.write_ordered_files(doubled, path, n_files=4, order_col="event_id")

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "2").parquet(path)
    )
    out = dedup_within_watermark(stream, ["event_id"])
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = sorted(
        tuple(r) for r in spark.sql("select event_id from dedup_out").collect()
    )
    expect = sorted(tuple(r) for r in ev.select("event_id").distinct().collect())
    assert got == expect and len(got) > 0


def test_kafka_frame_roundtrip_and_contract(spark):
    """to_kafka_frame produces the exact Spark-Kafka source schema; per-key
    ordering survives partition assignment; from_kafka_frame inverts it —
    including with seq stripped (real-broker shape, order from offsets)."""
    from boletia_kubernetes_kafka_mongodb_spark.sources import kafka as kafka_mod

    log = cdc_stream.build_message_log(spark, SF_SMOKE)
    frame = kafka_mod.to_kafka_frame(log)
    assert [c for c in frame.columns if c != "seq"] == kafka_mod.KAFKA_SOURCE_COLUMNS
    assert dict(frame.dtypes)["key"] == "binary"
    assert dict(frame.dtypes)["value"] == "binary"

    rows = frame.select("topic", "partition", "offset", "key", "seq").collect()
    # offsets: contiguous from 0 and monotone with seq within a partition
    by_part = {}
    for r in rows:
        by_part.setdefault((r.topic, r.partition), []).append((r.offset, r.seq))
    for offs in by_part.values():
        offs.sort()
        assert [o for o, _ in offs] == list(range(len(offs)))
        assert [s for _, s in offs] == sorted(s for _, s in offs)
    # one partition per key
    key_parts = {}
    for r in rows:
        key_parts.setdefault(bytes(r.key), set()).add(r.partition)
    assert all(len(ps) == 1 for ps in key_parts.values())

    # round-trip identity (emulated frame carries seq)
    back = sorted(map(tuple, kafka_mod.from_kafka_frame(frame).collect()))
    orig = sorted(
        map(tuple, log.select("topic", "key", "value", "seq").collect())
    )
    assert back == orig

    # real-broker shape: strip seq; derived seq must preserve PER-KEY order
    stripped = frame.drop("seq")
    derived = kafka_mod.from_kafka_frame(stripped)
    got = {}
    for r in sorted(derived.collect(), key=lambda r: r.seq):
        got.setdefault(r.key, []).append(r.value)
    want = {}
    for r in sorted(log.collect(), key=lambda r: r.seq):
        want.setdefault(r.key, []).append(r.value)
    assert got == want


def test_cdc_broker_metrics_redelivery_accounting(spark):
    """Redeliveries equal the seq%20==7 rule exactly; keys and frontier
    are consistent with the underlying log."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import cdc as cdc_ops
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream

    sf = "/root/testdata/sf0.001"
    out = {r.topic: r for r in cdc_ops.cdc_broker_metrics(spark, sf).collect()}
    log = cdc_stream.build_message_log(spark, sf)
    from pyspark.sql import functions as F

    want = {
        r.topic: r
        for r in log.groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("seq").alias("u"),
            F.sum(((F.col("seq") % 20) == 7).cast("long")).alias("dup_rows"),
        )
        .collect()
    }
    for topic, r in out.items():
        w = want[topic]
        assert r.n_messages == w.n
        assert r.n_redelivered == w.n - w.u
        # each seq%20==7 message appears exactly twice: dup_rows = 2×dups
        assert w.dup_rows == 2 * r.n_redelivered
        assert 0 < r.redelivery_rate < 0.2
        assert r.min_seq < r.max_seq


def test_scd2_intervals_contiguous_one_current_per_key(spark):
    """SCD2 invariants: versions dense from 1, valid_to of version v equals
    valid_from of v+1 (contiguous timeline), exactly one current row per
    key."""
    from boletia_kubernetes_kafka_mongodb_spark.operators import cdc as cdc_ops

    rows = cdc_ops.cdc_scd2_history(spark, "/root/testdata/sf0.001").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r.key, []).append(r)
    assert by_key
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r.version)
        assert [r.version for r in versions] == list(range(1, len(versions) + 1))
        assert sum(r.is_current for r in versions) == 1
        assert versions[-1].is_current and versions[-1].valid_to_us is None
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to_us == b.valid_from_us


def test_kafka_builders_construct_without_connector(spark):
    """No broker and no spark-sql-kafka package here: the S5 source and S3
    sink builders must still construct (they only fail at
    ``.load()``/``.start()``), and each reference consumer group subscribes
    to its reference topics (``inventario/main.go:52``,
    ``notificaciones/main.go:39``)."""
    from pyspark.sql.streaming import DataStreamReader, DataStreamWriter

    from boletia_kubernetes_kafka_mongodb_spark.sources import kafka as kafka_mod

    assert kafka_mod.GROUP_SUBSCRIPTIONS == {
        "inventario": ["boletia.inventario", "boletia.reservas"],
        "notificaciones": ["boletia.reservas"],
    }
    for group in kafka_mod.GROUP_SUBSCRIPTIONS:
        assert isinstance(kafka_mod.kafka_source(spark, group), DataStreamReader)
    out = spark.readStream.format("rate").load().selectExpr(
        "CAST(value AS STRING) AS key", "CAST(value AS STRING) AS value"
    )
    assert isinstance(kafka_mod.kafka_sink(out, "boletia.reservas"), DataStreamWriter)


def test_kafka_multipartition_delivery_event_time_admission(spark, tmpdir):
    """The real-broker deployment shape, end to end: admission ops publish
    through the Kafka wire-frame (key=evento → one partition per key,
    per-partition monotone offsets, broker timestamps), the consumer sees
    partitions interleaved with bounded scrambling (what a multi-partition
    subscription actually delivers), per-key order is recovered from
    (partition, offset) and the broker timestamp drives the event-time
    admission fold — whose ledger must equal the in-order batch fold.
    This composes S5's order-recovery contract with the out-of-order
    admission operator: the scaling story the reference's 1-partition
    topics cannot offer."""
    import json as jsonlib
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from boletia_kubernetes_kafka_mongodb_spark.sources import kafka as kafka_mod
    from boletia_kubernetes_kafka_mongodb_spark.streaming import admission

    rng = random.Random(23)
    eventos = {f"EV{i}": rng.randint(10, 60) for i in range(10)}
    names = sorted(eventos)
    payload_schema = StructType(
        [
            StructField("_id", StringType()),
            StructField("email", StringType()),
            StructField("op", StringType()),
            StructField("cantidad", IntegerType()),
            StructField("capacidad", IntegerType()),
        ]
    )
    log_rows = []
    for pub in range(240):
        e = rng.choice(names)
        op = "reserve" if rng.random() < 0.8 else "cancel"
        val = jsonlib.dumps(
            {"_id": f"id{pub}", "email": "u@x", "op": op,
             "cantidad": rng.randint(1, 6), "capacidad": eventos[e]}
        )
        # publish time = seq (to_kafka_frame stamps timestamp_millis(seq)),
        # spread 1 s apart, based at a realistic wall-clock epoch: Spark's
        # late-event filter drops rows at-or-before the watermark, and the
        # INITIAL watermark is epoch 0 — a pub-0 row stamped exactly 1970
        # would be "late" before the first batch (real brokers stamp wall
        # time, so only a synthetic fixture can hit this)
        log_rows.append(("reservas", e, val, 1_700_000_000_000 + pub * 1000))
    log = spark.createDataFrame(
        log_rows, "topic string, key string, value string, seq long"
    )
    # real-broker shape: seq stripped, order only via (partition, offset)
    wire = kafka_mod.to_kafka_frame(log).drop("seq")

    # consumer delivery: bounded cross-partition scrambling of publish order
    delivered = sorted(
        wire.collect(), key=lambda r: r.timestamp
    )
    arrival = sorted(
        range(len(delivered)), key=lambda i: i + rng.uniform(0, 7)
    )
    max_disp = max(abs(p - i) for p, i in enumerate(arrival))
    delay = f"{max_disp + 2} seconds"
    arr_rows = [
        tuple(delivered[i]) + (p,) for p, i in enumerate(arrival)
    ]
    # StructType.add mutates in place — build the arrival schema ONCE
    arr_schema = StructType(wire.schema.fields[:]).add("arrival", "long")
    arr = spark.createDataFrame(arr_rows, arr_schema)
    # NOTE: this file's tmpdir fixture yields a plain string — str.join
    # would interleave, not concatenate
    path = os.path.join(tmpdir, "kafka_ooo")
    from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream as cs

    cs.write_ordered_files(arr, path, n_files=6, order_col="arrival")
    # sentinel batches: far-future broker timestamps flush the watermark
    far_ms = 1_700_000_000_000 + 10_000_000_000
    for k in range(2):
        spark.createDataFrame(
            [
                (
                    bytearray(e.encode()), bytearray(jsonlib.dumps(
                        {"_id": f"s{k}{j}", "email": "u@x", "op": "cancel",
                         "cantidad": 0, "capacidad": eventos[e]}
                    ).encode()),
                    "reservas", kafka_mod.N_PARTITIONS + 1 + k, 1_000_000 + j,
                    __import__("datetime").datetime.utcfromtimestamp(
                        (far_ms + k * 1000) / 1000
                    ),
                    0, 9_999_999,
                )
                for j, e in enumerate(names)
            ],
            arr_schema,
        ).coalesce(1).write.mode("append").parquet(path)

    def to_requests(frame):
        parsed = kafka_mod.from_kafka_frame(frame, keep_timestamp=True).select(
            F.col("key").alias("evento"),
            "seq",
            F.from_json("value", payload_schema).alias("p"),
            F.col("timestamp").alias("ts"),
        )
        return parsed.select(
            "evento", "seq", "p._id", "p.email", "p.op", "p.cantidad",
            "p.capacidad", "ts",
        )

    stream = (
        spark.readStream.schema(arr.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .drop("arrival")
    )
    q = (
        admission.admission_ledger_stream_event_time(to_requests(stream), delay=delay)
        .writeStream.format("memory")
        .queryName("kafka_ooo_ledger")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "kafka_ooo_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # expected: batch fold over the SAME derived (partition,offset) seq —
    # the sentinel partitions are excluded on both sides
    requests_static = to_requests(
        spark.read.parquet(path).where(
            F.col("partition") < kafka_mod.N_PARTITIONS
        )
    ).drop("ts")
    batch = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in admission.fold_requests_batch(requests_static).collect()
    }
    got = {
        (r.evento, r.seq): (r.admitted, r.disponible_despues)
        for r in spark.sql(
            f"select * from kafka_ooo_ledger where seq < {(kafka_mod.N_PARTITIONS + 1) << 40}"
        ).collect()
    }
    assert len(got) == 240
    assert got == batch
