"""End-to-end saga: lifecycle CDC log → inventario consumer → invariants.

Asserts the reference's implicit invariants (SURVEY.md §5.1) over the
consumer-maintained reservas table:
(i/ii) final states and availability agree with the declarative expectation,
(iii) user cancels restore availability (X rows don't count as reserved),
(vi) full-stream replay from a fresh checkpoint converges to the same table,
(vii) echo messages (clone / sentinel / state-skip) change nothing.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from boletia_kubernetes_kafka_mongodb_spark import tables
from boletia_kubernetes_kafka_mongodb_spark.sources import cdc_stream
from boletia_kubernetes_kafka_mongodb_spark.streaming.consumer import InventarioConsumer
from tests.conftest import SF_SMOKE


def _expected_final(spark):
    """Declarative expectation: estado = X if user-cancelled, else C if the
    event is organizer-cancelled, else A (cascade preserves X history)."""
    res = tables.reservas(spark, SF_SMOKE)
    ev = tables.eventos(spark, SF_SMOKE).select(
        F.col("nombre"), F.col("estado").alias("ev_estado")
    )
    return res.join(F.broadcast(ev), res["evento"] == ev["nombre"], "inner").select(
        "_id",
        "evento",
        F.when(res["estado"] == "X", F.lit("X"))
        .when(F.col("ev_estado") == "C", F.lit("C"))
        .otherwise(F.lit("A"))
        .alias("estado"),
        "email",
        "cantidad",
    )


def _table_state(consumer):
    return sorted(
        (r._id, r.evento, r.estado, r.email, r.cantidad)
        for r in consumer.table.read().collect()
    )


def test_inventario_consumer_saga(spark, tmp_path):
    log = cdc_stream.build_lifecycle_message_log(spark, SF_SMOKE)
    path = str(tmp_path / "msgs")
    cdc_stream.write_ordered_files(log, path, n_files=6)

    consumer = InventarioConsumer(spark, str(tmp_path / "run1"))
    msgs = cdc_stream.read_message_stream(spark, path, max_files_per_trigger=2)
    consumer.run_available_now(msgs, str(tmp_path / "ckpt1"))

    got = _table_state(consumer)
    assert len(got) > 0

    # (i/ii): the maintained table equals the declarative expectation
    expected = sorted(
        (r._id, r.evento, r.estado, r.email, r.cantidad)
        for r in _expected_final(spark).collect()
    )
    assert got == expected

    # (iii): availability over the maintained table counts only final-A rows
    ev = tables.eventos(spark, SF_SMOKE)
    avail = {r.nombre: r.disponible for r in consumer.availability(ev).collect()}
    exp_reserved = {
        r.evento: r.s
        for r in _expected_final(spark)
        .where(F.col("estado") == "A")
        .groupBy("evento")
        .agg(F.sum("cantidad").alias("s"))
        .collect()
    }
    for r in ev.collect():
        assert avail[r.nombre] == r.capacidad - exp_reserved.get(r.nombre, 0)

    # (vi): replay the whole stream into a fresh consumer → identical table
    consumer2 = InventarioConsumer(spark, str(tmp_path / "run2"))
    msgs2 = cdc_stream.read_message_stream(spark, path, max_files_per_trigger=3)
    consumer2.run_available_now(msgs2, str(tmp_path / "ckpt2"))
    assert _table_state(consumer2) == got

    # (vii): feeding ONLY echo messages to a populated consumer is a no-op
    echo_only = (
        spark.read.schema(cdc_stream.MESSAGE_SCHEMA)
        .parquet(path)
        .where(F.col("topic") == "boletia.inventario")
    )
    # clone echoes + sentinel echoes are inventario-topic messages with
    # canres null or -1; re-applying the full inventario topic also re-plays
    # materializes, which must all dedup away
    consumer2.apply_batch(echo_only)
    assert _table_state(consumer2) == got


# ---------------------------------------------------------------------------
# SURVEY.md §5.1 invariants (i)–(vii), one explicit test each
# ---------------------------------------------------------------------------


def test_invariant_i_clone_preserves_id_and_fields(spark, tmp_path):
    """(i) the sink clone carries the same _id and all fields — pushing the
    eventos view through the upsert sink reproduces it exactly, and a replay
    of the same batch (keep-last) changes nothing."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import sinks

    src = tables.inventario(spark, SF_SMOKE)
    sink = sinks.DurableTable(spark, str(tmp_path / "clone"))
    upsert = sinks.durable_handler(
        sink, partial(sinks.upsert_keep_last, key="_id", order_col="_id"), None
    )
    upsert(src)
    want = sorted(map(tuple, src.collect()))
    assert sorted(map(tuple, sink.read().collect())) == want
    upsert(src)  # replayed clone: still byte-identical
    assert sorted(map(tuple, sink.read().collect())) == want


def test_invariant_ii_availability_is_capacity_minus_active(spark, tmp_path):
    """(ii) availability = capacity − Σ active reservations, over the
    consumer-maintained table itself."""
    log = cdc_stream.build_lifecycle_message_log(spark, SF_SMOKE)
    path = str(tmp_path / "msgs")
    cdc_stream.write_ordered_files(log, path, n_files=4)
    consumer = InventarioConsumer(spark, str(tmp_path / "run"))
    consumer.apply_batch(spark.read.schema(cdc_stream.MESSAGE_SCHEMA).parquet(path))

    ev = tables.eventos(spark, SF_SMOKE)
    active = {
        r.evento: r.s
        for r in consumer.table.read()
        .where(F.col("estado") == "A")
        .groupBy("evento")
        .agg(F.sum("cantidad").alias("s"))
        .collect()
    }
    for r in consumer.availability(ev).collect():
        assert r.disponible == r.capacidad - active.get(r.nombre, 0)
        assert r.reservado == active.get(r.nombre, 0)


def test_invariant_iii_cancel_restores_availability_exactly(spark):
    """(iii) a cancel restores exactly the cancelled quantity — and the
    restored capacity is immediately reservable."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import admission

    reqs = spark.createDataFrame(
        [
            ("E1", 1, "a", "u@x", "reserve", 6, 10),
            ("E1", 2, "b", "v@x", "cancel", 6, 10),
            ("E1", 3, "c", "w@x", "reserve", 10, 10),
        ],
        "evento string, seq long, _id string, email string, op string, cantidad long, capacidad long",
    )
    led = {r.seq: r for r in admission.fold_requests_batch(reqs).collect()}
    assert led[1].admitted and led[1].disponible_despues == 4
    assert led[2].disponible_despues == 10  # exact restitution
    assert led[3].admitted  # full house fits again post-cancel


def test_invariant_iv_duplicate_event_name_rejected(spark, tmp_path):
    """(iv) inserting a second event with an existing nombre is rejected —
    the unique-index insert keeps the first document unchanged."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import sinks

    t = sinks.DurableTable(spark, str(tmp_path / "ev"))
    insert = sinks.durable_handler(
        t, partial(sinks.insert_if_absent, key="nombre", order_col="seq"), None
    )
    insert(
        spark.createDataFrame(
            [("Evento 000001", 100, 1)], "nombre string, capacidad long, seq long"
        )
    )
    insert(
        spark.createDataFrame(
            [("Evento 000001", 999, 2), ("Evento 000002", 50, 3)],
            "nombre string, capacidad long, seq long",
        )
    )
    rows = {r.nombre: r.capacidad for r in t.read().collect()}
    assert rows == {"Evento 000001": 100, "Evento 000002": 50}


def test_invariant_v_oversell_rejected_consumes_nothing(spark):
    """(v) a reserve exceeding availability is rejected AND consumes no
    capacity — a later, fitting request still succeeds."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import admission

    reqs = spark.createDataFrame(
        [
            ("E1", 1, "a", "u@x", "reserve", 8, 10),
            ("E1", 2, "b", "v@x", "reserve", 5, 10),
            ("E1", 3, "c", "w@x", "reserve", 2, 10),
        ],
        "evento string, seq long, _id string, email string, op string, cantidad long, capacidad long",
    )
    led = {r.seq: r for r in admission.fold_requests_batch(reqs).collect()}
    assert led[1].admitted and led[1].disponible_despues == 2
    assert not led[2].admitted and led[2].disponible_despues == 2
    assert led[3].admitted and led[3].disponible_despues == 0


def test_invariant_vi_replay_twice_same_consumer_is_noop(spark, tmp_path):
    """(vi) redelivering the ENTIRE message stream to an already-caught-up
    consumer (at-least-once redelivery, not just a fresh checkpoint) leaves
    the table byte-identical."""
    log = cdc_stream.build_lifecycle_message_log(spark, SF_SMOKE)
    path = str(tmp_path / "msgs")
    cdc_stream.write_ordered_files(log, path, n_files=4)
    consumer = InventarioConsumer(spark, str(tmp_path / "run"))
    msgs = spark.read.schema(cdc_stream.MESSAGE_SCHEMA).parquet(path)
    consumer.apply_batch(msgs)
    first = _table_state(consumer)
    consumer.apply_batch(msgs)  # full redelivery
    assert _table_state(consumer) == first


def test_invariant_vii_echo_messages_never_loop(spark, tmp_path):
    """(vii) the loop-breaker drops every echo class — a consumer fed ONLY
    the echo feedback (clone messages, sentinels, state-skips) stays empty,
    so the topology cannot self-amplify."""
    from boletia_kubernetes_kafka_mongodb_spark.streaming import router

    log = cdc_stream.build_lifecycle_message_log(spark, SF_SMOKE)
    path = str(tmp_path / "msgs")
    cdc_stream.write_ordered_files(log, path, n_files=4)
    msgs = spark.read.schema(cdc_stream.MESSAGE_SCHEMA).parquet(path)
    routed = router.route_messages(msgs)
    echo_routes = [
        router.ROUTE_SKIP_ECHO_CLONE,
        router.ROUTE_SKIP_ECHO_SENTINEL,
        router.ROUTE_SKIP_STATE,
    ]
    echo_only = msgs.join(
        routed.where(F.col("route").isin(echo_routes)).select("seq").distinct(),
        "seq",
        "inner",
    )
    assert echo_only.count() > 0  # the fixture must actually carry echoes
    consumer = InventarioConsumer(spark, str(tmp_path / "fresh"))
    consumer.apply_batch(echo_only)
    t = consumer.table.read()
    assert t is None or t.count() == 0


def test_one_commit_per_trigger(spark, tmp_path):
    """Each apply_batch is one plan and one commit: the reservas table's
    pointer bid advances by exactly 1 per trigger, and a reservation
    admitted and cancelled inside one trigger ends as X."""
    from pyspark.sql import Window

    from boletia_kubernetes_kafka_mongodb_spark.streaming._snapshot import read_pointer

    log = cdc_stream.build_lifecycle_message_log(spark, SF_SMOKE)
    msgs = log.withColumn("trigger", F.ntile(3).over(Window.orderBy("seq")))
    msgs = msgs.localCheckpoint(eager=True)
    expected = sorted(
        (r._id, r.evento, r.estado, r.email, r.cantidad)
        for r in _expected_final(spark).collect()
    )
    assert any(r[2] == "X" for r in expected)

    # the whole log as one trigger: every user-cancelled reservation is
    # admitted and cancelled inside it
    whole = InventarioConsumer(spark, str(tmp_path / "whole"))
    whole.apply_batch(msgs.drop("trigger"), 0)
    assert read_pointer(whole.table.path)[1] == 0
    assert _table_state(whole) == expected

    # the same log over three triggers
    consumer = InventarioConsumer(spark, str(tmp_path / "run"))
    for i in range(3):
        consumer.apply_batch(msgs.where(F.col("trigger") == i + 1).drop("trigger"), i)
        assert read_pointer(consumer.table.path)[1] == i
    assert _table_state(consumer) == expected


def test_redelivered_trigger_commits_nothing(spark, tmp_path):
    """A trigger redelivered under its batch id is skipped by the durable
    gate: the pointer and the store's directory listing stay as they
    were, and the table equals the saga expectation."""
    import os

    msgs = cdc_stream.build_lifecycle_message_log(spark, SF_SMOKE)
    consumer = InventarioConsumer(spark, str(tmp_path / "run"))

    def snapshot():
        with open(os.path.join(consumer.table.path, "CURRENT")) as f:
            return f.read(), sorted(os.listdir(consumer.table.path))

    consumer.apply_batch(msgs, 0)
    before = snapshot()
    consumer.apply_batch(msgs, 0)
    assert snapshot() == before
    expected = sorted(
        (r._id, r.evento, r.estado, r.email, r.cantidad)
        for r in _expected_final(spark).collect()
    )
    assert _table_state(consumer) == expected
