"""The ``notificaciones`` consumer group as a streaming pipeline (S8).

Reference (``notificaciones/main.go``): a second, independent consumer group
on ``boletia.reservas`` (``:39``) renders an email per reservation message —
estado selects the template (``:92-94``), ``fmt.Sprintf`` renders (``:96``),
SES sends (``:97-118``). Transport errors retry via non-commit; AWS-side
errors are tolerated (confirm anyway, ``:119-131``).

Spark form: the same message stream → parse → render → an idempotent
``notifications`` table keyed by (reserva_id, estado) — one notification
per lifecycle transition. ``notifications_update`` is its fold: a
``sinks.DurableTable`` under ``sinks.durable_handler`` skips a redelivered
batch, and the insert-if-absent drops re-rendered rows. Actual SMTP
delivery would be a ``foreach`` side effect reading this table; the
engine's contract is the rendered rows (FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.templates import render_notification
from ..sources.catalog import RESERVA_SCHEMA, TOPIC_RESERVAS
from ..functions.json_codec import unquote_json_string
from .sinks import insert_if_absent


def render_notifications_stream(msgs: DataFrame) -> DataFrame:
    """message stream → rendered notification rows.

    Narrow map end-to-end (parse + CASE + printf): no shuffle, codegen'd —
    per-message cost is what bounds this consumer, exactly as in the
    reference.
    """
    doc = F.from_json(unquote_json_string(F.col("value")), RESERVA_SCHEMA)
    return (
        msgs.where(F.col("topic") == TOPIC_RESERVAS)
        .select(F.col("seq"), doc.alias("doc"))
        .select(
            F.col("doc._id").alias("reserva_id"),
            F.col("doc.estado").alias("estado"),
            F.col("doc.email").alias("email"),
            F.when(F.col("doc.estado") == "A", F.lit("Confirmacion de reserva"))
            .otherwise(F.lit("Cancelacion de reserva"))
            .alias("subject"),
            render_notification("doc._id", "doc.cantidad", "doc.evento", "doc.estado").alias(
                "body"
            ),
            F.col("seq"),
        )
        # invalid estados render NULL — the reference logs-and-confirms;
        # the engine routes them out of the sink
        .where(F.col("body").isNotNull())
        # one notification per lifecycle transition; the merge key needs a
        # single column, so concatenate (reserva_id, estado)
        .withColumn("notif_key", F.concat_ws("|", "reserva_id", "estado"))
    )


def notifications_update(standing: DataFrame | None, rendered: DataFrame) -> DataFrame:
    """Insert-if-absent on ``notif_key``: replayed messages re-render
    identical rows and the MERGE drops them — exactly-once *effect*."""
    return insert_if_absent(standing, rendered, "notif_key", "seq")
