"""Scans, filters, predicates, projections — SURVEY.md §2.2 (P1-P10).

Each function mirrors one access path of the reference's MongoDB query
surface, re-expressed as a declarative DataFrame transform so Catalyst gives
index-like behavior (predicate pushdown + column pruning + min/max skipping)
for free — the reference hand-picks indexes instead
(``eventos/main.go:25-30``, ``reservas/main.go:26-43``).

All are pure narrow plans: no shuffle, fully pipelined in WholeStageCodegen,
and the parquet scan shows PushedFilters for every predicate below (asserted
in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..oracle import with_domain

# Deterministic lookup parameters (exist at every SF; equal-empty results at
# tiny SFs still hash-match the oracle since both sides use the same values).
LOOKUP_NOMBRE = "Evento 000042"      # P3: unique-key point lookup
COMPOUND_EVENTO = "Evento 000042"    # P5
COMPOUND_EMAIL = "user3@example.com"  # P5
GUARD_CANTIDAD = 120                 # P6: capacity guard threshold


# -- P1 ---------------------------------------------------------------------

def scan_full_eventos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: full scan of the event catalog.

    Reference: ``Find(nil).All`` over ``eventos`` (``eventos/main.go:105-120``).
    """
    return tables.eventos(spark, sf_dir)


def scan_full_eventos_oracle() -> str:
    return with_domain("SELECT * FROM eventos")


# -- P2 ---------------------------------------------------------------------

def scan_full_inventario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: full inventory scan with the renamed projection.

    The reference surfaces ``capacidad`` as ``Disponible`` via a bson struct
    tag (``contratos/contratos.go:18``; API sample ``README.md:115-121``) —
    i.e. a pure projection-with-rename view. Our inventory availability is the
    maintained counter, so ``disponible`` is the J4-derived value.
    """
    inv = tables.inventario(spark, sf_dir)
    return inv.select("_id", "nombre", "disponible", "categoria", "estado")


def scan_full_inventario_oracle() -> str:
    return with_domain(
        "SELECT _id, nombre, disponible, categoria, estado FROM inventario"
    )


# -- P3 ---------------------------------------------------------------------

def lookup_point_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: point lookup on the unique ``nombre`` key, at-most-one row.

    Reference: ``Find({nombre: x}).One`` (``eventos/main.go:87-103``).
    The nombre key is hand-translated to the base ``p_partkey`` equality
    (tables.partkey_of_nombre) so the predicate reaches the parquet scan as
    a PushedFilter (asserted in tests/test_plans.py); the residual nombre
    filter keeps the semantics literal.
    """
    return (
        tables.eventos(spark, sf_dir, nombre_eq=LOOKUP_NOMBRE)
        .where(F.col("nombre") == LOOKUP_NOMBRE)
        .limit(1)
    )


def lookup_point_unique_oracle() -> str:
    return with_domain(
        f"SELECT * FROM eventos WHERE nombre = '{LOOKUP_NOMBRE}' LIMIT 1"
    )


# -- P4 ---------------------------------------------------------------------

def lookup_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: primary-key lookup after 24-hex id validation.

    Reference: ``FindId(ObjectId(hex))`` with hex validation
    (``reservas/main.go:111-131``); validation is the F4 length/hex check,
    performed on the *request literal* before the query runs — so ours runs
    in plain Python on the id string, exactly where the reference validates
    the URL path id. The looked-up id is the minimum ``_id`` (a deterministic
    existing key at every SF) — the stand-in for the HTTP request's id
    parameter, not a data-plane collect. ``min(_id) ≡ min(seq)`` because the
    24-hex encoding of a non-negative long is order-preserving, and it is
    read from the row-group statistics in the keyed tree's parquet footers
    (``layouts.min_reserva_seq``): no Spark job, no row read.

    The true index access path: the probe ``l_partkey = pk AND seq = v``
    (``pk`` unpacked from the id by ``tables.seq_to_parts``) runs on the
    keyed tree's ``reservas_keyed``, bucketed by ``l_partkey`` and sorted
    by ``(l_partkey, seq)`` in small row groups. Bucket pruning reads one
    of the N bucket files, and the min/max statistics of that file's row
    groups (then parquet's page index) skip all but the rows near ``pk`` —
    at most one row group, one 20k-row page at sf0.1: the unique-``_id``
    index lookup of the reference. An earlier
    broadcast-join formulation lost this — Catalyst's constraint
    propagation inferred the build side's hex-validation filter onto the
    probe through the join key, running format_string+RLIKE over the
    whole corpus.
    """
    import re

    from ..sources import layouts

    db = layouts.ensure_bucketed_tables(spark, sf_dir)
    res = spark.table(f"{db}.reservas_keyed")
    v = layouts.min_reserva_seq(spark, sf_dir)
    id_hex = "" if v is None else format(v, "024x")
    if not (len(id_hex) == 24 and re.fullmatch(r"[0-9a-f]{24}", id_hex)):
        return tables.reserva_render(res.limit(0))  # invalid id → empty
    seq = int(id_hex, 16)
    pk = tables.seq_to_parts(seq)[2]
    hit = res.where((F.col("l_partkey") == pk) & (F.col("seq") == seq))
    return tables.reserva_render(hit)


def lookup_pk_oracle() -> str:
    return with_domain(
        """SELECT r.* FROM reservas r
           JOIN (SELECT min(_id) AS _id FROM reservas) t
             ON r._id = t._id
           WHERE length(t._id) = 24 AND regexp_matches(t._id, '^[0-9a-f]{24}$')"""
    )


# -- P5 ---------------------------------------------------------------------

def filter_compound_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: compound equality — all reservations of one client for one event.

    Reference: ``Find({evento: e, email: m}).All`` over the non-unique
    compound index (``reservas/main.go:92-109``).
    """
    return tables.reservas(spark, sf_dir).where(
        (F.col("evento") == COMPOUND_EVENTO) & (F.col("email") == COMPOUND_EMAIL)
    )


def filter_compound_eq_oracle() -> str:
    return with_domain(
        f"""SELECT * FROM reservas
            WHERE evento = '{COMPOUND_EVENTO}' AND email = '{COMPOUND_EMAIL}'"""
    )


# -- P6 ---------------------------------------------------------------------

def filter_range_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: the reservation guard predicate — active event with capacity ≥ n.

    Reference: ``{nombre: e, estado: "A", capacidad: {$gt: n-1}}``
    (``reservas/main.go:160-165``). Generalized over all events (the
    single-event form is P3∘P6) so the result is non-trivial at every SF.
    """
    return tables.eventos(spark, sf_dir).where(
        (F.col("estado") == "A") & (F.col("capacidad") >= GUARD_CANTIDAD)
    )


def filter_range_guard_oracle() -> str:
    return with_domain(
        f"SELECT * FROM eventos WHERE estado = 'A' AND capacidad >= {GUARD_CANTIDAD}"
    )


# -- P7 is the topic/state router — lives in operators/cdc.py ----------------


# -- P8 ---------------------------------------------------------------------

def project_rename_detreserva(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: the DetReserva re-read — projection + rename + prune.

    Reference: an *enriched inventario* message is re-parsed as a reservation
    (``contratos/contratos.go:31-37``): idres→_id, nombre→evento,
    canres→cantidad; keep estado/email; drop capacidad/categoria. We enrich
    inventario with its latest reservation (max-seq active) and apply the
    identical rename.
    """
    # Latest active reservation per event = the transient enrichment fields
    # (idres, email, canres) the guarded decrement $sets (reservas/main.go:154-157).
    # Aggregated over RAW lineitem: estado='A' becomes l_returnflag='N' (a
    # PushedFilter on the scan), the max_by aggregates carry longs instead
    # of rendered strings, and the _id/email/evento strings render once per
    # surviving group — max(seq) ≡ max_by(_id, seq) because hex24 is
    # order-preserving on non-negative longs.
    li = tables.load(spark, sf_dir, "lineitem")
    seq = tables.reserva_seq()
    latest = (
        li.where(F.col("l_returnflag") == "N")
        .groupBy("l_partkey")
        .agg(
            F.max(seq).alias("mseq"),
            F.max_by("l_suppkey", seq).alias("sk"),
            F.max_by("l_quantity", seq).alias("qty"),
        )
        .select(
            tables.evento_label(F.col("l_partkey")).alias("evento"),
            tables.hex24(F.col("mseq")).alias("idres"),
            F.concat(
                F.lit("user"), F.col("sk").cast("string"), F.lit("@example.com")
            ).alias("email"),
            F.col("qty").cast("int").alias("canres"),
        )
    )
    ev = tables.eventos(spark, sf_dir)
    enriched = ev.join(F.broadcast(latest), ev["nombre"] == latest["evento"], "inner")
    return enriched.select(
        F.col("idres").alias("_id"),
        F.col("nombre").alias("evento"),
        ev["estado"].alias("estado"),
        F.col("email").alias("email"),
        F.col("canres").alias("cantidad"),
    )


def project_rename_detreserva_oracle() -> str:
    return with_domain(
        """SELECT l.idres AS _id,
                  e.nombre AS evento,
                  e.estado AS estado,
                  l.email  AS email,
                  l.canres AS cantidad
           FROM eventos e
           JOIN (
               SELECT evento,
                      arg_max(_id, seq)      AS idres,
                      arg_max(email, seq)    AS email,
                      arg_max(cantidad, seq) AS canres
               FROM reservas WHERE estado = 'A' GROUP BY evento
           ) l ON e.nombre = l.evento"""
    )


# -- P9 ---------------------------------------------------------------------

def defaults_on_insert(df: DataFrame) -> DataFrame:
    """P9: insert-time defaults — fresh id + estado="A".

    Reference: ``bson.NewObjectId()`` + ``Estado="A"`` (``eventos/main.go:70-71``,
    ``reservas/main.go:146-147``). Non-deterministic id ⇒ exercised in unit
    tests (shape/uniqueness), not in the value-hash oracle.
    """
    return df.withColumn(
        "_id", F.lower(F.sha1(F.to_json(F.struct(*df.columns)))).substr(1, 24)
    ).withColumn("estado", F.lit("A"))


# -- P10 --------------------------------------------------------------------

def validate_positive_cantidad(df: DataFrame) -> DataFrame:
    """P10: input validation — reject cantidad <= 0 (``reservas/main.go:142-145``)."""
    return df.where(F.col("cantidad") > 0)


def sql_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship availability query through the OTHER front door:
    ``spark.sql`` over registered temp views — proving the SQL entry path
    produces the same Catalyst plan class as the DataFrame build (J4).

    Views register the *keyed* frames; the SQL text renders labels
    post-aggregation just like ``tables.inventario`` — same logical plan in,
    same broadcast + partial/final agg out. SQL vs DataFrame is a syntax
    choice, not a semantics or performance one; this query pins that.
    """
    tables.eventos_keyed(spark, sf_dir).createOrReplaceTempView("v_eventos_keyed")
    tables.reservas_keyed(spark, sf_dir).createOrReplaceTempView("v_reservas_keyed")
    return spark.sql(
        """
        SELECT lower(lpad(hex(e.p_partkey), 24, '0'))          AS _id,
               concat('Evento ', lpad(CAST(e.p_partkey AS STRING), 6, '0')) AS nombre,
               e.capacidad, e.categoria, e.estado,
               CAST(coalesce(r.reservado, 0) AS BIGINT)            AS reservado,
               CAST(e.capacidad - coalesce(r.reservado, 0) AS BIGINT) AS disponible
        FROM v_eventos_keyed e
        LEFT JOIN (
            SELECT l_partkey, CAST(SUM(cantidad) AS BIGINT) AS reservado
            FROM v_reservas_keyed WHERE estado = 'A' GROUP BY l_partkey
        ) r ON e.p_partkey = r.l_partkey
        """
    )
