"""Mutations as dataflow — SURVEY.md §2.3 (M1-M6), batch oracle form.

The reference's writes are single-document atomic MongoDB ops. Their batch
re-expression is deterministic set algebra over the explicit ``seq`` arrival
order (which stands in for the 1-partition-per-topic Kafka FIFO the reference
relies on, ``clientes.yaml:151-152``):

- M1/M2 become per-key window ledgers,
- M3/M4/M5 become conditional column rewrites (MERGE semantics),
- M6 becomes dedup-by-key (union + distinct / anti-join).

The *true* sequential admission semantics of M1 (a rejected reservation
consumes no capacity) is not expressible as a non-recursive window — that
exact semantic lives in ``streaming/admission.py`` as a per-key stateful
processor; the window formulation here is the documented batch oracle
(prefix-sum admission), per SURVEY.md §7 Phase 2.

Scale notes: every window below partitions by ``evento`` — one shuffle on the
natural key (none for M1, whose input is bucketed on it), then per-partition
sort; no global sort, no driver collect.
Conditional rewrites are shuffle-free narrow maps (the dim-side membership
probe is a broadcast semi join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import tables
from ..oracle import with_domain

CANCEL_EVENT = "Evento 000042"   # M3 target
CANCEL_SENTINEL = -1             # M2: canres=-1 cycle-breaking sentinel


def reserve_guarded_decrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: guarded atomic decrement — the check-and-take admission.

    Reference: ``findAndModify`` on inventario with guard
    ``{nombre, estado:"A", capacidad: {$gt: n-1}}`` and update
    ``$inc capacidad:-n, $set {idres,email,canres:n}``
    (``reservas/main.go:151-165``; narrative ``README.md:413-441``).

    Batch oracle form: a reservation is admitted iff the prefix sum of
    requested quantities over its event (in ``seq`` arrival order, active
    requests only) stays within the event's capacity. Returns the admission
    ledger: one row per active reservation attempt with its running total,
    admitted flag, and post-decision availability.
    """
    # Keyed formulation over the keyed tree's reservas_keyed, bucketed by
    # l_partkey: the window's distribution on l_partkey is the bucket
    # layout itself, so there is no shuffle — each bucket sorts on
    # (l_partkey, seq) longs in its own task, the capacity dim joins by
    # broadcast, and the _id/evento/email strings render once per output row.
    from ..sources import layouts

    db = layouts.ensure_bucketed_tables(spark, sf_dir)
    res = spark.table(f"{db}.reservas_keyed").where(F.col("estado") == "A")
    cap = tables.eventos_keyed(spark, sf_dir).select("p_partkey", "capacidad")
    w = Window.partitionBy("l_partkey").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    ledger = (
        res.join(F.broadcast(cap), res["l_partkey"] == cap["p_partkey"], "inner")
        .withColumn("running_total", F.sum("cantidad").over(w).cast("long"))
        .withColumn("admitted", F.col("running_total") <= F.col("capacidad"))
        .withColumn(
            "disponible_despues",
            F.when(
                F.col("admitted"), F.col("capacidad") - F.col("running_total")
            ).cast("long"),
        )
    )
    return ledger.select(
        tables.hex24(F.col("seq")).alias("_id"),
        tables.evento_label(F.col("l_partkey")).alias("evento"),
        F.concat(
            F.lit("user"), F.col("l_suppkey").cast("string"), F.lit("@example.com")
        ).alias("email"),
        "cantidad", "seq",
        "capacidad", "running_total", "admitted", "disponible_despues",
    )


def reserve_guarded_decrement_oracle() -> str:
    return with_domain(
        """SELECT r._id, r.evento, r.email, r.cantidad, r.seq,
                  e.capacidad,
                  CAST(SUM(r.cantidad) OVER w AS BIGINT) AS running_total,
                  (SUM(r.cantidad) OVER w <= e.capacidad) AS admitted,
                  CASE WHEN SUM(r.cantidad) OVER w <= e.capacidad
                       THEN CAST(e.capacidad - SUM(r.cantidad) OVER w AS BIGINT)
                  END AS disponible_despues
           FROM reservas r
           JOIN eventos e ON r.evento = e.nombre
           WHERE r.estado = 'A'
           WINDOW w AS (PARTITION BY r.evento ORDER BY r.seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
    )


def cancel_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: unguarded increment + sentinel enrich — the restitution.

    Reference: on a user-cancel (estado "X") message, find the *active* event
    and ``$inc capacidad:+cantidad, $set canres:-1``
    (``inventario/main.go:116-133``); the −1 is the deliberate cycle-breaking
    sentinel (``README.md:518``). Not-found (event cancelled meanwhile) is a
    tolerated no-op — hence the inner join against active events only.
    Returns the restitution ledger with the sentinel column.
    """
    cancels = tables.reservas_keyed(spark, sf_dir, estado_eq="X")
    ev = (
        tables.eventos_keyed(spark, sf_dir)
        .where(F.col("estado") == "A")
        .select("p_partkey")
    )
    w = Window.partitionBy("l_partkey").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    return (
        cancels.join(F.broadcast(ev), cancels["l_partkey"] == ev["p_partkey"], "inner")
        .withColumn("restituido_acum", F.sum("cantidad").over(w).cast("long"))
        .select(
            tables.hex24(F.col("seq")).alias("idres"),
            tables.evento_label(F.col("l_partkey")).alias("evento"),
            F.concat(
                F.lit("user"), F.col("l_suppkey").cast("string"), F.lit("@example.com")
            ).alias("email"),
            "cantidad", "seq", "restituido_acum",
            F.lit(CANCEL_SENTINEL).alias("canres"),
        )
    )


def cancel_increment_oracle() -> str:
    return with_domain(
        f"""SELECT r._id AS idres, r.evento, r.email, r.cantidad, r.seq,
                   CAST(SUM(r.cantidad) OVER (PARTITION BY r.evento ORDER BY r.seq
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS restituido_acum,
                   {CANCEL_SENTINEL} AS canres
            FROM reservas r
            JOIN eventos e ON r.evento = e.nombre AND e.estado = 'A'
            WHERE r.estado = 'X'"""
    )


def event_cancel_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: single-row conditional update — cancel one event.

    Reference: ``Update({nombre: x}, {$set: {estado: "C"}})``
    (``eventos/main.go:45-59``); never deletes (``README.md:47``). Batch MERGE
    semantics: return the full post-update catalog.
    """
    ev = tables.eventos(spark, sf_dir)
    return ev.withColumn(
        "estado",
        F.when(F.col("nombre") == CANCEL_EVENT, F.lit("C")).otherwise(F.col("estado")),
    )


def event_cancel_update_oracle() -> str:
    return with_domain(
        f"""SELECT _id, nombre, capacidad, categoria,
                   CASE WHEN nombre = '{CANCEL_EVENT}' THEN 'C' ELSE estado END AS estado
            FROM eventos"""
    )


def cascade_cancel_updateall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: bulk filtered update — the organizer-cancel cascade.

    Reference: ``UpdateAll({evento: e, estado: "A"}, {$set: {estado: "C"}})``
    flips all *active* reservations of a cancelled event, preserving "X"
    history (``inventario/main.go:99-103``; ``README.md:503``). Batch form:
    post-update reservas table, with the flip applied for every event whose
    catalog state is "C". The membership probe is a broadcast left-semi join
    feeding a conditional rewrite — shuffle-free on the fact side.
    """
    res = tables.reservas_keyed(spark, sf_dir)
    cancelled = (
        tables.eventos_keyed(spark, sf_dir)
        .where(F.col("estado") == "C")
        .select("p_partkey", F.lit(True).alias("_cancelled"))
    )
    flagged = res.join(
        F.broadcast(cancelled), res["l_partkey"] == cancelled["p_partkey"], "left"
    )
    return flagged.select(
        tables.hex24(F.col("seq")).alias("_id"),
        tables.evento_label(F.col("l_partkey")).alias("evento"),
        F.when((res["estado"] == "A") & F.col("_cancelled").isNotNull(), F.lit("C"))
        .otherwise(res["estado"])
        .alias("estado"),
        F.concat(
            F.lit("user"), F.col("l_suppkey").cast("string"), F.lit("@example.com")
        ).alias("email"),
        "cantidad",
        "seq",
    )


def cascade_cancel_updateall_oracle() -> str:
    return with_domain(
        """SELECT r._id, r.evento,
                  CASE WHEN r.estado = 'A' AND e.nombre IS NOT NULL THEN 'C'
                       ELSE r.estado END AS estado,
                  r.email, r.cantidad, r.seq
           FROM reservas r
           LEFT JOIN (SELECT nombre FROM eventos WHERE estado = 'C') e
             ON r.evento = e.nombre"""
    )


def reserva_cancel_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: guarded single-row update with pre-image — user cancels by id.

    Reference: ``findAndModify {_id, estado:"A"} → $set estado:"X"`` returning
    the pre-image for the HTTP reply; not-found ⇒ "already cancelled"
    (``reservas/main.go:186-196``). Batch form: the affected row with
    pre/post states (empty result = the not-found branch). Target id: the
    minimum active reservation id — a deterministic existing key at every SF;
    the guarded probe is a 1-row broadcast semi join.
    """
    # min(_id) ≡ min(seq): hex24 is order-preserving on non-negative longs,
    # so the probe is a 1-row broadcast join on the 8-byte key and strings
    # render only for the surviving row.
    active = tables.reservas_keyed(spark, sf_dir, estado_eq="A")
    target = active.agg(F.min("seq").alias("seq"))
    return active.join(F.broadcast(target), "seq", "inner").select(
        tables.hex24(F.col("seq")).alias("_id"),
        tables.evento_label(F.col("l_partkey")).alias("evento"),
        F.concat(
            F.lit("user"), F.col("l_suppkey").cast("string"), F.lit("@example.com")
        ).alias("email"),
        "cantidad",
        F.col("estado").alias("estado_antes"),
        F.lit("X").alias("estado_despues"),
    )


def reserva_cancel_flag_oracle() -> str:
    return with_domain(
        """SELECT _id, evento, email, cantidad,
                  estado AS estado_antes,
                  'X' AS estado_despues
           FROM reservas
           WHERE estado = 'A'
             AND _id = (SELECT min(_id) FROM reservas WHERE estado = 'A')"""
    )


def insert_dedup_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: idempotent insert — dedup by unique key under redelivery.

    Reference: plain ``Insert`` with ``mgo.IsDup ⇒ treat as success``
    (``eventos/main.go:75-80``, ``inventario/main.go:88-95``) — exactly-once
    *effect* over at-least-once delivery (``README.md:148-155``). Batch form:
    a doubled (redelivered) stream deduplicated by ``_id``; duplicates are
    identical full rows so dropDuplicates on the key is value-deterministic.
    """
    # simulate at-least-once (every row delivered twice) with ONE pass:
    # union-with-self re-executes the scan+projection per branch. The dedup
    # shuffle carries ONLY (seq, l_returnflag) — every other Reserva column
    # is a pure function of the packed seq key, so the payload reconstructs
    # post-dedup from the key itself (integer DIV unpacking; `/` would go
    # through double and lose bits past 2^52). An 9-byte shuffle row versus
    # the ~60-byte full row is the difference between a dedup that fits in
    # the exchange and one that spills at 100 TB.
    li = tables.load(spark, sf_dir, "lineitem")
    msgs = li.select(tables.reserva_seq().alias("seq"), "l_returnflag")
    redelivered = msgs.withColumn(
        "_copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("_copy")
    unique = redelivered.groupBy("seq").agg(
        F.first("l_returnflag").alias("l_returnflag")
    )
    qty = F.col("seq") % 100
    sk = F.expr("(seq DIV 100) % 10000")
    pk = F.expr("(seq DIV 1000000) % 100000")
    return unique.select(
        tables.hex24(F.col("seq")).alias("_id"),
        tables.evento_label(pk).alias("evento"),
        F.when(F.col("l_returnflag") == "N", F.lit("A"))
        .when(F.col("l_returnflag") == "R", F.lit("X"))
        .otherwise(F.lit("C"))
        .alias("estado"),
        F.concat(F.lit("user"), sk.cast("string"), F.lit("@example.com")).alias("email"),
        qty.cast("int").alias("cantidad"),
        F.col("seq"),
    )


def insert_dedup_unique_oracle() -> str:
    return with_domain(
        """SELECT DISTINCT * FROM (
               SELECT * FROM reservas UNION ALL SELECT * FROM reservas
           )"""
    )
