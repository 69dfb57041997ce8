"""The ``inventario`` consumer group as one streaming pipeline.

Reference (``inventario/main.go:69-137``): a single consumer subscribed to
``boletia.inventario`` + ``boletia.reservas`` that (a) materializes admitted
reservations from enriched inventory messages (M6 idempotent insert), (b)
flips a cancelled event's active reservations (M4 cascade), (c) restores
inventory on user cancels (M2) — while skipping every echo message the
topology feeds back to it (the loop-breaker gates).

Spark form: ``route_messages`` + ``loop_breaker`` classify each micro-batch;
one ``foreachBatch`` handler applies materialize → X-update → cascade to a
keyed reservas table as ONE plan and ONE commit per trigger (the lifecycle
log's phase encoding guarantees admits ≤ cancels ≤ cascades within any
prefix, so a reservation admitted and cancelled in one trigger ends ``X``).
Every step is value-idempotent, so at-least-once replay (redelivered files,
restarted checkpoints) converges to the same table — the reference's
exactly-once *effect* contract (``README.md:148-155``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .router import (
    ROUTE_CASCADE,
    ROUTE_MATERIALIZE,
    ROUTE_RESTITUTE,
    loop_breaker,
    materialize_detreserva,
    route_messages,
)
from .sinks import ParquetMergeTable


class InventarioConsumer:
    """Maintains the materialized ``reservas`` table from the CDC stream."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.table = ParquetMergeTable(
            spark, f"{workdir}/reservas", key="_id", order_col="seq"
        )

    # -- batch application (runs on the driver inside foreachBatch) ---------

    def apply_batch(self, msgs: DataFrame, batch_id: int | None = None) -> None:
        """One trigger, one commit: the table's rows plus the
        first-occurrence inserts (M6 insert-if-absent — replays are
        no-ops), then the M5-effect X flips and the M4 cascade C flips."""
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
        rows = self.table.with_absent(materialize_detreserva(routed))
        updated = (
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
        self.table._replace_with(updated)

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
