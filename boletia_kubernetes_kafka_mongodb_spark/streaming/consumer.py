"""The ``inventario`` consumer group as one streaming pipeline.

Reference (``inventario/main.go:69-137``): a single consumer subscribed to
``boletia.inventario`` + ``boletia.reservas`` that (a) materializes admitted
reservations from enriched inventory messages (M6 idempotent insert), (b)
flips a cancelled event's active reservations (M4 cascade), (c) restores
inventory on user cancels (M2) — while skipping every echo message the
topology feeds back to it (the loop-breaker gates).

Spark form: ``route_messages`` + ``loop_breaker`` classify each micro-batch;
``InventarioConsumer.update`` applies materialize → X-update → cascade to
the reservas table as ONE plan, and the package's durable gate
(``sinks.durable_handler``) commits it into a ``sinks.DurableTable`` as ONE
commit per trigger (the lifecycle log's phase encoding guarantees admits ≤
cancels ≤ cascades within any prefix, so a reservation admitted and
cancelled in one trigger ends ``X``). A redelivered trigger is skipped by
its batch id, and every step is value-idempotent, so a fresh checkpoint
re-reading old files converges to the same table too — the reference's
exactly-once *effect* contract (``README.md:148-155``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .router import (
    ROUTE_CASCADE,
    ROUTE_RESTITUTE,
    loop_breaker,
    materialize_detreserva,
    route_messages,
)
from .sinks import DurableTable, durable_handler, insert_if_absent


class InventarioConsumer:
    """Maintains the materialized ``reservas`` table from the CDC stream."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.table = DurableTable(spark, f"{workdir}/reservas")
        # apply_batch(msgs, batch_id=None): the foreachBatch body — one
        # trigger, one commit of ``update``; a redelivered id is skipped
        self.apply_batch = durable_handler(self.table, self.update, None)

    def update(self, standing: DataFrame | None, msgs: DataFrame) -> DataFrame:
        """The standing rows plus the first-occurrence inserts (M6
        insert-if-absent), then the M5-effect X flips and the M4 cascade C
        flips."""
        routed = loop_breaker(route_messages(msgs))
        x_set = (
            routed.where(F.col("route") == ROUTE_RESTITUTE)
            .select(F.col("doc_res._id").alias("_id"))
            .distinct()
            .withColumn("_flip_x", F.lit(True))
        )
        c_set = (
            routed.where(F.col("route") == ROUTE_CASCADE)
            .select(F.col("doc_inv.nombre").alias("evento"))
            .distinct()
            .withColumn("_flip_c", F.lit(True))
        )
        rows = insert_if_absent(standing, materialize_detreserva(routed), "_id", "seq")
        return (
            rows.join(F.broadcast(x_set), "_id", "left")
            .join(F.broadcast(c_set), "evento", "left")
            .select(
                "_id",
                "evento",
                F.when(F.col("_flip_x").isNotNull(), F.lit("X"))
                .when(
                    (F.col("_flip_c").isNotNull()) & (F.col("estado") == "A"),
                    F.lit("C"),
                )
                .otherwise(F.col("estado"))
                .alias("estado"),
                "email",
                "cantidad",
                "seq",
            )
        )

    # -- streaming wiring ---------------------------------------------------

    def run_available_now(self, msgs_stream: DataFrame, checkpoint: str) -> None:
        q = (
            msgs_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    # -- read side ----------------------------------------------------------

    def availability(self, eventos: DataFrame) -> DataFrame:
        """J4 over the *maintained* table: capacidad − Σ active."""
        res = self.table.read()
        reserved = (
            res.where(F.col("estado") == "A")
            .groupBy("evento")
            .agg(F.sum("cantidad").cast("long").alias("reservado"))
        )
        return (
            eventos.join(F.broadcast(reserved), eventos["nombre"] == reserved["evento"], "left")
            .select(
                eventos["nombre"],
                eventos["capacidad"],
                F.coalesce(F.col("reservado"), F.lit(0)).cast("long").alias("reservado"),
                (eventos["capacidad"] - F.coalesce(F.col("reservado"), F.lit(0)))
                .cast("long")
                .alias("disponible"),
            )
        )
