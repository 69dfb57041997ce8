"""Joins — SURVEY.md §2.4 (J1-J4), including the flagship availability join.

The reference's joins are keyed lookups of a Kafka message against a MongoDB
collection; batch-equivalently they are equi joins where the collection side
is a small dimension — so every join here broadcasts the dim side and never
shuffles the fact table for the join itself. Catalyst/AQE would usually pick
this anyway; the explicit ``broadcast()`` pins the right plan at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..oracle import with_domain


def join_cancel_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: cancel-message × inventario — the restitution lookup.

    Reference: on a user-cancel message (estado "X"), find the inventory row
    by ``nombre = reserva.Evento`` with ``estado = "A"``
    (``inventario/main.go:125-129``); at most one match (unique index).
    Physical: broadcast inner equi-join, dim side = eventos.
    """
    # Keyed probe: the broadcast hash key is the 8-byte l_partkey and the
    # reserva/evento strings render only on join survivors.
    cancels = tables.reservas_keyed(spark, sf_dir, estado_eq="X")
    ev = tables.eventos_keyed(spark, sf_dir).where(F.col("estado") == "A")
    return cancels.join(
        F.broadcast(ev), cancels["l_partkey"] == ev["p_partkey"], "inner"
    ).select(
        tables.hex24(F.col("seq")).alias("reserva_id"),
        tables.evento_label(cancels["l_partkey"]).alias("evento"),
        F.concat(
            F.lit("user"), F.col("l_suppkey").cast("string"), F.lit("@example.com")
        ).alias("email"),
        F.col("cantidad").alias("cantidad"),
        ev["capacidad"].alias("capacidad"),
        ev["categoria"].alias("categoria"),
    )


def join_cancel_inventory_oracle() -> str:
    return with_domain(
        """SELECT r._id      AS reserva_id,
                  r.evento   AS evento,
                  r.email    AS email,
                  r.cantidad AS cantidad,
                  e.capacidad AS capacidad,
                  e.categoria AS categoria
           FROM reservas r
           JOIN eventos e ON r.evento = e.nombre AND e.estado = 'A'
           WHERE r.estado = 'X'"""
    )


def join_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: existence probe as a left-anti join — "insert if not exists".

    Reference: the idempotent materializer relies on the unique-``_id`` index
    violation to skip already-inserted reservations
    (``inventario/main.go:89-95``). Batch form: candidate messages LEFT ANTI
    JOIN the already-materialized target on ``_id``; survivors are the rows to
    append. Here: first-line reservations are "already materialized"; the
    anti join keeps the rest.
    """
    # Anti join on the 8-byte seq key (bijective with _id); the Reserva
    # strings render only for surviving rows, after the join.
    res = tables.reservas_keyed(spark, sf_dir)
    existing = res.where(F.col("seq") % 10 == 1).select("seq")
    return tables.reserva_render(res.join(existing, "seq", "left_anti"))


def join_exists_anti_oracle() -> str:
    return with_domain(
        """SELECT * FROM reservas r
           WHERE NOT EXISTS (
               SELECT 1 FROM reservas x WHERE x.seq % 10 = 1 AND x._id = r._id
           )"""
    )


def join_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: organizer-cancelled event × its active reservations (to flip).

    Reference: ``UpdateAll({evento: e, estado: "A"}, {$set: {estado: "C"}})``
    (``inventario/main.go:99-103``) — the join selects the update set; the
    flip itself is M4. One-to-many equi join + residual state predicate.
    """
    cancelled = (
        tables.eventos_keyed(spark, sf_dir)
        .where(F.col("estado") == "C")
        .select("p_partkey")
    )
    res = tables.reservas_keyed(spark, sf_dir, estado_eq="A")
    return tables.reserva_render(
        res.join(
            F.broadcast(cancelled), res["l_partkey"] == cancelled["p_partkey"], "inner"
        ).select("l_partkey", "l_suppkey", "estado", "cantidad", "seq")
    )


def join_cascade_oracle() -> str:
    return with_domain(
        """SELECT r._id, r.evento, r.estado, r.email, r.cantidad, r.seq
           FROM reservas r
           JOIN eventos e ON r.evento = e.nombre
           WHERE e.estado = 'C' AND r.estado = 'A'"""
    )


def join_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — FLAGSHIP: current availability per event.

    The implicit business query behind the whole reference pipeline
    (``README.md:266,441-454``): availability = capacity − Σ active
    reservations. Physical plan: the Σ is the keyed tree's maintained
    ``reservado`` (≤ one row per event), broadcast-joined against the
    event dim — no scan of ``lineitem``, no aggregate, no shuffle (see
    tables.inventario).
    """
    return tables.inventario(spark, sf_dir)


def join_availability_oracle() -> str:
    return with_domain("SELECT * FROM inventario")


def join_availability_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 over write-time bucketed tables — the flagship's 100 TB plan.

    Same semantics and oracle as :func:`join_availability`, but both join
    sides persist ``bucketBy(N, key).sortBy(key)`` so the equi-join matches
    buckets pairwise with NO Exchange on either side and the fact-side
    groupBy inherits the bucket distribution
    (``sources/layouts.write_bucketed_tables`` /
    ``availability_join_bucketed``; no-Exchange plan gate in
    tests/test_layouts.py). The one-time bucketed write amortizes the
    shuffle every daily run of the join would otherwise pay — exactly what
    a 1000-executor cluster wants for a recurring 100 TB join.
    """
    from ..sources import layouts

    db = layouts.ensure_bucketed_tables(spark, sf_dir)
    return layouts.availability_join_bucketed(spark, db)


def join_availability_bucketed_oracle() -> str:
    return join_availability_oracle()


def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each ``purchase`` event matched to the same user's latest
    ``view`` at-or-before it (the operator Spark's join menu lacks; DuckDB
    runs it natively as ``ASOF LEFT JOIN`` — the oracle).

    Spark-first formulation = the merge-join plan an ASOF operator would
    pick, built from primitives: tag both sides, union, ONE shuffle on
    ``user_id``, per-key sort on (time, side), carry the view side forward
    with ``last(..., ignorenulls)`` over an unbounded-preceding frame, keep
    purchase rows. Cost: a single exchange of the union — no range
    explosion, no nested-loop fallback, skew bounded by per-user event
    counts. Side order (view=0 < purchase=1) makes an equal-timestamp view
    visible to the purchase — inclusive ``<=``, matching the oracle.
    """
    from pyspark.sql.window import Window

    ev = tables.load(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        (F.col("event_type") == "purchase").cast("int").alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        # event_id tie-break: two views at the SAME timestamp would otherwise
        # resolve by partition-sort luck; with it, the highest event_id wins
        # deterministically (fixture has no such ties — 0 (user,ts) dups —
        # but the operator must not depend on that)
        .orderBy("tus", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("side") == 0
    enriched = base.select(
        "user_id",
        "event_id",
        "tus",
        "side",
        F.last(F.when(is_view, F.col("event_id")), ignorenulls=True).over(w).alias("view_id"),
        F.last(F.when(is_view, F.col("tus")), ignorenulls=True).over(w).alias("view_tus"),
    )
    return enriched.where(F.col("side") == 1).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("tus").alias("purchase_us"),
        "view_id",
        (F.col("tus") - F.col("view_tus")).alias("gap_us"),
    )


def ext_asof_join_oracle() -> str:
    """DuckDB native ASOF LEFT JOIN.

    Tie caveat: on equal (user_id, view_us) timestamps DuckDB's ASOF picks
    an arbitrary tied row, while the Spark operator deterministically takes
    max view_id — parity holds because the fixture has zero duplicate
    (user_id, ts) view pairs; if the fixture were regenerated with coarser
    timestamps, view_id could hash-mismatch while view_us/gap_us still
    agree (the Spark tie-break is the defensible one to keep).
    """
    return """
        WITH p AS (
            SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us
            FROM events WHERE event_type = 'purchase'
        ),
        v AS (
            SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_us
            FROM events WHERE event_type = 'view'
        )
        SELECT p.user_id, p.purchase_id, p.purchase_us,
               v.view_id, p.purchase_us - v.view_us AS gap_us
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.view_us <= p.purchase_us
        """


RANGE_US = 300_000_000  # ±5 minutes


def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi-key: per purchase, count error events within
    ±5 minutes anywhere in the system (incident-correlation shape).

    Naively this is a pure inequality join — Spark plans BroadcastNestedLoop
    and dies at scale. The scale path bucketizes time at the range width:
    the probe side keeps its one bucket, the build side replicates into the
    three covering buckets (`explode(sequence(b-1, b+1))`, bounded 3×
    duplication), the join becomes an equi hash join on bucket, and the
    exact range predicate filters residually inside the join. Every
    qualifying pair meets in exactly one bucket (the probe's), so no dedup
    is needed. DuckDB's native inequality join (IEJoin) is the oracle.
    """
    ev = tables.load(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        tus.alias("p_tus"),
        F.floor(tus / RANGE_US).alias("bucket"),
    )
    e = ev.where(F.col("event_type") == "error").select(
        tus.alias("e_tus"),
        F.explode(
            F.sequence(F.floor(tus / RANGE_US) - 1, F.floor(tus / RANGE_US) + 1)
        ).alias("bucket"),
    )
    joined = p.join(
        e,
        (p["bucket"] == e["bucket"])
        & (F.abs(F.col("p_tus") - F.col("e_tus")) <= RANGE_US),
        "left",
    )
    return joined.groupBy("purchase_id", "p_tus").agg(
        F.count(F.col("e_tus")).cast("long").alias("n_errors_nearby")
    ).select("purchase_id", F.col("p_tus").alias("purchase_us"), "n_errors_nearby")


def ext_range_join_oracle() -> str:
    return f"""
        WITH p AS (
            SELECT event_id AS purchase_id, epoch_us(ts) AS p_tus
            FROM events WHERE event_type = 'purchase'
        ),
        e AS (
            SELECT epoch_us(ts) AS e_tus FROM events WHERE event_type = 'error'
        )
        SELECT p.purchase_id,
               p.p_tus AS purchase_us,
               CAST(COUNT(e.e_tus) AS BIGINT) AS n_errors_nearby
        FROM p LEFT JOIN e
          ON e.e_tus BETWEEN p.p_tus - {RANGE_US} AND p.p_tus + {RANGE_US}
        GROUP BY p.purchase_id, p.p_tus
        """


ATTRIBUTION_WINDOW_SEC = 7200  # attribute a purchase to views ≤ 2h before it


def join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-attribution interval join: every (purchase, prior view ≤ 2h, same
    user) pair with the gap — the classic two-event-stream correlation
    (J-family extension; the streaming twin in ``streaming/windows.py`` is
    this repo's stream-STREAM join, where BOTH sides carry watermarks and
    the interval condition bounds the join state).

    Plan: both sides prune at the scan (event_type pushdown), ONE equi
    shuffle on user_id, residual range predicate evaluated in-join — the
    bounded-interval shape that never degenerates to a cartesian. Per-user
    fan-out is bounded by views-per-2h, not history length.
    """
    ev = tables.load(spark, sf_dir, "events", fan=True)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is
        # epoch-preserving (same move as agg_time_window)
        F.col("ts").cast("timestamp").alias("view_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )
    gap = F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts"))
    return (
        purchases.join(views, "user_id")
        .where((gap >= 0) & (gap <= ATTRIBUTION_WINDOW_SEC * 1_000_000))
        .select(
            "purchase_id",
            "view_id",
            "user_id",
            (gap / 1_000_000).cast("long").alias("gap_sec"),
        )
    )


def join_attribution_oracle() -> str:
    return f"""
        SELECT p.event_id AS purchase_id,
               v.event_id AS view_id,
               p.user_id,
               CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT) AS gap_sec
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON p.user_id = v.user_id
         AND epoch_us(p.ts) - epoch_us(v.ts) BETWEEN 0
             AND CAST({ATTRIBUTION_WINDOW_SEC} AS BIGINT) * 1000000
    """
