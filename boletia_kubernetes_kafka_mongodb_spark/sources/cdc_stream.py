"""CDC message-log emulation (SURVEY.md §2.1 S1, §7 Phase 3a).

The reference's change feed is: MongoDB change stream → Connect source with
``publish.full.document.only=true`` → topic ``boletia.<collection>`` with the
document as a JSON-quoted string value (``kafka-mongodb-connect.yaml:9-21``).

Here the same feed is emulated deterministically from the domain views:
``build_message_log`` produces the interleaved, seq-ordered message history a
run of the reference would emit (event creates → inventory clones →
reservation admits → cancels), with the double-encoded values and ~5%
duplicate redeliveries (at-least-once). ``write_stream_fixture`` lands it as
seq-ordered parquet files so ``read_message_stream`` can replay it as a
Structured Streaming source with controllable batch boundaries
(``maxFilesPerTrigger``) — the stand-in for the Kafka source in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import cache, tables
from .catalog import (
    MESSAGE_SCHEMA,
    TOPIC_EVENTOS,
    TOPIC_INVENTARIO,
    TOPIC_RESERVAS,
)


def _double_encode(doc_json):
    """Value encoding F1: the document JSON, itself JSON-quoted (the
    schemas.enable=false JsonConverter artifact consumers must unquote)."""
    from ..functions.json_codec import json_quote_string

    return json_quote_string(doc_json)


def build_message_log(spark: SparkSession, sf_dir: str, dup_fraction_mod: int = 20) -> DataFrame:
    """Deterministic interleaved CDC history over the domain views.

    Message order (``seq`` column): all event-create messages first (the
    catalog exists before reservations — reference §3.1), then
    reservation-lifecycle messages in reservas.seq order. Every
    ``seq % dup_fraction_mod == 7`` message is emitted twice (redelivery).

    The built log is cached (see `cache`; it reads ``part`` and
    ``lineitem``) behind a lazy ``localCheckpoint``: the log is the INPUT
    every consumer-side query parses — in the reference it exists once on the broker, so re-encoding
    it per query both overstates the decode path's cost and re-does work no
    deployment repeats. First use pays the encode once; every later query
    over the same fixture starts from the materialized batch (at real scale
    the checkpoint is the broker/object-store itself).
    """
    return cache.cached(
        spark, sf_dir, ("part", "lineitem"), f"message-log-{dup_fraction_mod}",
        lambda: _build_message_log(spark, sf_dir, dup_fraction_mod).localCheckpoint(
            eager=False
        ),
    )


def _build_message_log(spark: SparkSession, sf_dir: str, dup_fraction_mod: int) -> DataFrame:
    ev = tables.eventos(spark, sf_dir)
    # the reservas side carries ~30× more rows than eventos and pays the
    # full JSON encode per row — fan the RAW scan out under the projection
    # so that work runs on all cores (no-op at real scale; tables.load)
    res = tables.reservas(spark, sf_dir, fan=True)

    ev_msgs = ev.select(
        F.col("_id").alias("key"),
        F.lit(TOPIC_EVENTOS).alias("topic"),
        _double_encode(F.to_json(F.struct("_id", "nombre", "capacidad", "categoria", "estado"))).alias("value"),
        # events come first: seq below any reservation seq (reservas seq ≥ 1e11)
        F.row_number().over(Window.orderBy("_id")).cast("long").alias("seq"),
    )

    res_msgs = res.select(
        F.col("_id").alias("key"),
        F.lit(TOPIC_RESERVAS).alias("topic"),
        _double_encode(F.to_json(F.struct("_id", "evento", "estado", "email", "cantidad"))).alias("value"),
        F.col("seq"),
    )

    log = ev_msgs.select("seq", "topic", "key", "value").unionAll(
        res_msgs.select("seq", "topic", "key", "value")
    )
    # redeliveries in the SAME pass: union-with-filtered-self would
    # re-execute the whole encode pipeline for the dup branch (no CSE
    # across union children) — explode a 1-or-2 element sequence instead
    n_copies = F.when(F.col("seq") % dup_fraction_mod == 7, F.lit(2)).otherwise(F.lit(1))
    return (
        log.withColumn("_copy", F.explode(F.sequence(F.lit(1), n_copies)))
        .drop("_copy")
    )


def build_lifecycle_message_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full per-transition CDC history — the saga replay fixture.

    Unlike :func:`build_message_log` (one message per final state, for the
    oracle-checked parse/route query), this emits every transition the
    reference topology would produce, in causal seq order:

    1. event clone echo on ``boletia.inventario`` (canres absent ⇒ echo-skip)
    2. per reservation: the *enriched inventario* message the guarded
       decrement produces (idres/email/canres set) ⇒ consumer materializes
       the reservation (``README.md:441-454``)
    3. reservas-topic estado="A" echo after materialize ⇒ state-skip
    4. per user-cancel (X): reservas-topic estado="X" ⇒ restitution, then the
       canres=−1 sentinel echo on inventario ⇒ sentinel-skip
    5. per organizer-cancelled event (estado "C"): the inventario-topic "C"
       clone ⇒ cascade flips its active reservations

    Offsets place phases after one another per seq-range while preserving
    per-reservation causality (reservas.seq < 1.6e18 ≪ long max).
    """
    ev = tables.eventos(spark, sf_dir)
    res = tables.reservas(spark, sf_dir)
    # per-reservation messages get seq*4+phase (admit=0, echoA=1, cancelX=2,
    # sentinel=3): globally unique, per-reservation causality preserved,
    # cancels interleave realistically after their own admit. Event clones
    # (rn ≤ |eventos|) come first; organizer cancels (OFF_C + rn) come last.
    # Ranges: 4·max(seq) ≈ 6.4e18 < OFF_C = 8e18 < long max.
    OFF_C = 8_000_000_000_000_000_000

    inv_clone_echo = ev.select(
        F.col("_id").alias("key"),
        F.lit(TOPIC_INVENTARIO).alias("topic"),
        _double_encode(
            F.to_json(F.struct("_id", "nombre", "capacidad", "categoria", "estado"))
        ).alias("value"),
        F.row_number().over(Window.orderBy("_id")).cast("long").alias("seq"),
    )

    # the enriched doc: event fields + idres/email/canres (reservas/main.go:154-157)
    enriched = (
        res.join(ev.select(F.col("nombre"), F.col("_id").alias("ev_id"), "capacidad", "categoria"),
                 res["evento"] == F.col("nombre"), "inner")
        .select(
            F.col("ev_id").alias("key"),
            F.lit(TOPIC_INVENTARIO).alias("topic"),
            _double_encode(
                F.to_json(
                    F.struct(
                        F.col("ev_id").alias("_id"),
                        F.col("nombre"),
                        F.col("capacidad"),
                        F.col("categoria"),
                        F.lit("A").alias("estado"),
                        F.col("_id").alias("idres"),
                        F.col("email"),
                        F.col("cantidad").alias("canres"),
                    )
                )
            ).alias("value"),
            (F.col("seq") * 4).alias("seq"),
        )
    )

    res_echo_a = res.select(
        F.col("_id").alias("key"),
        F.lit(TOPIC_RESERVAS).alias("topic"),
        _double_encode(
            F.to_json(
                F.struct("_id", "evento", F.lit("A").alias("estado"), "email", "cantidad")
            )
        ).alias("value"),
        (F.col("seq") * 4 + 1).alias("seq"),
    )

    cancels_x = res.where(F.col("estado") == "X")
    res_msg_x = cancels_x.select(
        F.col("_id").alias("key"),
        F.lit(TOPIC_RESERVAS).alias("topic"),
        _double_encode(
            F.to_json(F.struct("_id", "evento", F.lit("X").alias("estado"), "email", "cantidad"))
        ).alias("value"),
        (F.col("seq") * 4 + 2).alias("seq"),
    )
    sentinel_echo = (
        cancels_x.join(ev.select("nombre", F.col("_id").alias("ev_id"), "capacidad", "categoria"),
                       cancels_x["evento"] == F.col("nombre"), "inner")
        .select(
            F.col("ev_id").alias("key"),
            F.lit(TOPIC_INVENTARIO).alias("topic"),
            _double_encode(
                F.to_json(
                    F.struct(
                        F.col("ev_id").alias("_id"),
                        F.col("nombre"),
                        F.col("capacidad"),
                        F.col("categoria"),
                        F.lit("A").alias("estado"),
                        F.col("_id").alias("idres"),
                        F.col("email"),
                        F.lit(-1).alias("canres"),
                    )
                )
            ).alias("value"),
            (F.col("seq") * 4 + 3).alias("seq"),
        )
    )

    cancel_c_events = ev.where(F.col("estado") == "C").select(
        F.col("_id").alias("key"),
        F.lit(TOPIC_INVENTARIO).alias("topic"),
        _double_encode(
            F.to_json(F.struct("_id", "nombre", "capacidad", "categoria", "estado"))
        ).alias("value"),
        (F.row_number().over(Window.orderBy("_id")).cast("long") + F.lit(OFF_C)).alias("seq"),
    )

    parts = [inv_clone_echo, enriched, res_echo_a, res_msg_x, sentinel_echo, cancel_c_events]
    log = parts[0]
    for p in parts[1:]:
        log = log.unionAll(p.select("key", "topic", "value", "seq"))
    return log.select("seq", "topic", "key", "value")


def write_ordered_files(
    df: DataFrame, path: str, n_files: int = 8, order_col: str = "seq"
) -> None:
    """Land a frame as order-range-partitioned parquet files.

    Each file covers a contiguous ``order_col`` range (``ntile``), written
    sequentially so file modification times follow arrival order — a
    ``maxFilesPerTrigger=1`` replay then feeds micro-batches in that order,
    the 1-partition-per-topic Kafka FIFO analogue (FileStreamSource orders
    pending files by timestamp).
    """
    with_bucket = df.withColumn(
        "bucket", F.ntile(n_files).over(Window.orderBy(order_col))
    )
    for b in range(1, n_files + 1):
        (
            with_bucket.where(F.col("bucket") == b)
            .drop("bucket")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )


def write_stream_fixture(log: DataFrame, path: str, n_files: int = 8) -> None:
    """Land the message log as seq-range-partitioned parquet files."""
    write_ordered_files(log, path, n_files=n_files, order_col="seq")


def read_message_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Replay the fixture as a stream (schema-declared parquet source)."""
    reader = spark.readStream.schema(MESSAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)
